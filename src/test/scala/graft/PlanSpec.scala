package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan lint (SURVEY.md §4, 100 TB posture): the properties
  * that make these queries scale are asserted, not assumed — predicate
  * pushdown into the parquet scan, column pruning, broadcast vs
  * sort-merge join selection, TakeOrdered for sort+limit, and map-side
  * partial aggregation.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("filter is pushed into the parquet scan") {
    val p = plan("q_scan_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), p)
  }

  test("projection prunes the scan schema to selected columns") {
    val p = plan("q_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_extendedprice>,"), readSchema)
    assert(!readSchema.contains("l_shipdate"), readSchema)
    assert(readSchema.contains("l_orderkey"), readSchema)
  }

  test("rank filter plans a WindowGroupLimit (per-partition top-k prune)") {
    // row_number() <= k must trigger Spark's WindowGroupLimit pushdown:
    // each map task keeps only its local top-k per group BEFORE the
    // window exchange, so the shuffle carries O(groups × k) rows, not
    // the whole fact — the optimizer-side version of what TopKAgg does
    // as an aggregate (queries/ScaleOpsQueries.scala).
    val p = plan("q_win_rownumber_topk")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("declared partitioned-fact query prunes at the partition level") {
    // the month equality must land in PartitionFilters (directory skip),
    // and the files the scan actually lists must ALL be in the matching
    // partition directory — i.e. pruning happened before IO, not as a
    // row filter after reading every partition
    val df = SparkEntry.queries("q_scan_partition_pruned")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // attribute ids suffix the column name in the printed plan
    // (o_month#39 = 1996-06), so match on the filter literal
    assert(p.linesIterator.exists(l => l.contains("PartitionFilters") &&
      l.contains("o_month") && l.contains("= 1996-06")), p)
    // the filter must NOT survive as a post-scan row filter: partition
    // columns are directory metadata, a Filter node on one means the
    // scan listed every partition and filtered rows after IO
    assert(!p.linesIterator.exists(l => l.trim.startsWith("+- Filter") &&
      l.contains("o_month")), p)
    // and the layout genuinely has many partitions to skip (the orders
    // date domain spans 1995-01..2001-08 — ~80 month directories)
    val dirs = new java.io.File(
      graft.queries.ScanQueries.ensurePartitionedOrders(spark, sf))
      .listFiles().filter(_.getName.startsWith("o_month="))
    assert(dirs.length > 12, s"expected many month partitions, got ${dirs.length}")
  }

  test("fact-dim joins broadcast the dim side") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
    val star = plan("q_join_star")
    assert(star.contains("BroadcastHashJoin"), star)
  }

  test("fact-fact join uses sort-merge") {
    assert(plan("q_join_sortmerge").contains("SortMergeJoin"))
  }

  test("sort+limit plans as TakeOrderedAndProject (no full sort)") {
    assert(plan("q_limit_topn").contains("TakeOrderedAndProject"))
  }

  test("flagship aggregation is partial+final (map-side combine)") {
    val p = plan("q_agg_pricing_summary")
    assert(p.contains("partial_"), p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
  }

  test("whole-stage codegen covers the flagship pipeline") {
    // AQE prints the final plan only after execution
    val df = SparkEntry.queries("q_agg_pricing_summary")(spark, sf)
    df.collect()
    // codegen'd operators carry the "*(stageId)" prefix in simple mode
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("*("), p)
  }

  test("near-dup LSH pipeline contains no cartesian/nested-loop join") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("serving surfaces carry the query vector through probe rows: " +
    "every join is keyed on cell or the output id — never a re-attach " +
    "of the query frame by probe id (stream-illegal and one extra " +
    "exchange)") {
    // the carried-vector invariant, as lint instead of by construction:
    // probes emit (id1, cell, e1, n1), so a plan that joins by id1 to
    // re-fetch the query vector has regressed to the pre-rework shape —
    // on a streaming source that join is an illegal stream-stream self
    // join, and in batch it is a needless exchange of the probe frame
    import graft.queries.{DedupQueries, KnnOpsQueries}
    import graft.engine.Tables
    val ci = DedupQueries.buildCellIndex(spark, sf)
    val incoming = Tables.t(spark, sf, "embeddings")
      .selectExpr("vec_id + 100000 AS vec_id", "embedding")
    val surfaces = Seq(
      "knnQueryOn" -> KnnOpsQueries.knnQueryOn(ci, incoming, 5),
      "embeddingDedupIncoming" ->
        DedupQueries.embeddingDedupIncoming(ci, incoming, 0.8),
      "dedupIncomingVec" -> graft.streaming.StreamTransforms
        .dedupIncomingVec(incoming, ci, 0.8))
    for ((name, df) <- surfaces) {
      val joinLines = df.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("Join")).toSeq
      assert(joinLines.exists(_.contains("cell#")),
        s"$name: expected a cell-keyed scoring join:\n" +
          joinLines.mkString("\n"))
      assert(!joinLines.exists(_.contains("id1#")),
        s"$name: a join references the probe id — the query frame is " +
          s"being re-attached by id:\n${joinLines.mkString("\n")}")
    }
    spark.catalog.clearCache()
  }

  test("containment-prefix verify join broadcasts the candidate list " +
    "under the count guard — the wide docArr sides stay bare scans " +
    "(no SMJ sort, no shuffle of the array rows; the three-way A/B " +
    "is in the query's comment)") {
    val p = plan("q_dedup_containment_prefix")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("building the exact n-gram and containment dedup queries runs " +
    "no more Spark jobs than reading the documents table alone") {
    // the lazy-builder gate: every stage of these two queries runs
    // inside the caller's action, so building them may pay only the
    // table read's own schema job
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    def buildJobs(build: => Any): Int = {
      val group = s"build-gate-${java.util.UUID.randomUUID}"
      val marker = s"$group-marker"
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val drained = new java.util.concurrent.CountDownLatch(1)
      val lst = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
            .foreach { g =>
              if (g == group) jobs.incrementAndGet()
              else if (g == marker) drained.countDown()
            }
      }
      sc.addSparkListener(lst)
      try {
        sc.setJobGroup(group, "build gate")
        try build finally sc.clearJobGroup()
        // the bus delivers in order: once the marker job's start
        // arrives, every job the build started has been counted
        sc.setJobGroup(marker, "build gate marker")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
        jobs.get()
      } finally sc.removeSparkListener(lst)
    }
    val read = buildJobs(graft.engine.Tables.t(spark, sf, "documents"))
    for (q <- Seq("q_dedup_near_ngram", "q_dedup_containment")) {
      val built = buildJobs(SparkEntry.queries(q)(spark, sf))
      assert(built <= read,
        s"$q ran $built jobs while it was built; the documents read " +
          s"alone runs $read")
    }
  }

  test("simhash and ANN banding joins are equi-joins, never all-pairs") {
    for (q <- Seq("q_dedup_simhash", "q_sim_ann_lsh")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("winnowing fingerprint window is per-doc partitioned (scales out)") {
    val p = plan("q_text_fingerprint")
    // a Window with no PARTITION BY would serialize the corpus through
    // one task; the plan must hash-partition by doc_id first
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("lang-ID scorer joins the pivoted profile as a broadcast") {
    val p = plan("q_text_langid")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("explode-heavy corpus scans are spread across partitions") {
    import org.apache.spark.sql.functions.col
    val docs = graft.engine.Tables.t(spark, sf, "documents")
    assert(docs.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
      s"documents loader left ${docs.rdd.getNumPartitions} partition(s)")
  }

  test("IVF candidate generation is an equi-join on cells, never all-pairs") {
    val p = plan("q_sim_ann_ivf")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sketch union is partial+final mergeable aggregation") {
    val p = plan("q_agg_sketch_union")
    assert(p.contains("partial_"), p)
  }

  test("range-frame window partitions by customer (scales out)") {
    val p = plan("q_win_range_frame")
    assert(p.contains("hashpartitioning(o_custkey"), p)
  }

  test("bucketed tables co-locate their join (no shuffle exchange)") {
    import org.apache.spark.sql.functions.col
    // bucketing pre-shuffles at WRITE time so every subsequent join or
    // aggregation on the bucket key runs exchange-free — the 100 TB
    // repeated-join layout. Both sides bucketed the same way ⇒ the join
    // plan must contain no Exchange above the scans.
    val o = graft.engine.Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val l = graft.engine.Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // a fresh session's in-memory catalog has no entry for tables a
    // PREVIOUS run wrote, so DROP alone leaves their warehouse
    // directories behind and the write fails LOCATION_ALREADY_EXISTS —
    // clear the locations on disk too.
    for (tbl <- Seq("b_orders", "b_lineitem")) {
      val dir = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
          .getPath, tbl)
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete()); dir.delete()
      }
    }
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // hint("merge") keeps the tiny fixture off the broadcast path so the
    // bucketed sort-merge shape (what a 100 TB join would pick) is what
    // gets asserted: no shuffle exchange anywhere in the plan.
    val joined = spark.table("b_orders").join(
      spark.table("b_lineitem").hint("merge"),
      col("o_orderkey") === col("l_orderkey"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(joined.count() ==
      o.join(l, col("o_orderkey") === col("l_orderkey")).count())
  }

  test("declared bucketed join runs join AND per-key agg with no hash exchange") {
    // q_join_bucketed: bucketBy(8, key) on both sides makes the scan
    // output a valid hash partitioning, so the sort-merge join and the
    // groupBy on the SAME key both plan exchange-free — the only
    // exchange left is the presentation sort's range partitioning.
    val p = plan("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Exchange rangepartitioning"), p)
  }

  test("decontamination broadcasts the holdout gram set (no shuffled semi join)") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sessionization reuses one user_id exchange for both windows and the aggregate") {
    val p = plan("q_sessionize")
    // exactly one hash exchange (the user_id window shuffle) — the
    // session aggregate must NOT re-shuffle (hash(user_id) already
    // clusters (user_id, session_id)); the only other exchange is the
    // final presentation range sort
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx\n$p")
  }

  test("vocabulary top-K plans as TakeOrdered, not a global window") {
    val p = plan("q_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
  }

  test("dim filter dynamically prunes the partitioned fact (DPP)") {
    import org.apache.spark.sql.functions._
    val out = "/tmp/graft_dpp_fact"
    val ev = graft.engine.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts_us")).cast("date"))
      .select("event_id", "user_id", "value", "day")
    graft.sources.Readers.writeParquet(ev, out, partitionBy = Seq("day"))
    // DPP triggers off a FILTER on the dim side of the join — build a
    // day-dim on disk where only 2 days carry the selective tag
    val dimPath = "/tmp/graft_dpp_dim"
    val days = ev.select("day").distinct().orderBy("day").limit(2)
      .collect().map(_.getDate(0).toString)
    graft.sources.Readers.writeParquet(
      ev.select("day").distinct()
        .withColumn("tag",
          when(col("day").cast("string").isin(days: _*), "keep")
            .otherwise("drop")),
      dimPath)
    val dim = graft.sources.Readers.parquet(spark, dimPath)
      .filter(col("tag") === "keep")
    val fact = graft.sources.Readers.parquet(spark, out)
    val joined = fact.join(dim, "day")
    val p = joined.queryExecution.executedPlan.toString
    // the fact scan must carry a dynamic pruning predicate on day,
    // so only the dim's partitions are read — not the whole fact
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"), p)
    val expected = ev.join(dim.select("day"), "day").count()
    assert(joined.count() == expected)
  }

  test("partitioned parquet write round-trips with partition pruning") {
    import org.apache.spark.sql.functions._
    val out = "/tmp/graft_part_test"
    val ev = graft.engine.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts_us")).cast("date"))
      .select("event_id", "user_id", "event_type", "value", "day")
    graft.sources.Readers.writeParquet(ev, out, partitionBy = Seq("day"))
    val firstDay = ev.agg(min(col("day"))).head.getDate(0)
    val back = graft.sources.Readers.parquet(spark, out)
      .filter(col("day") === lit(firstDay))
    // the day predicate must prune at the PARTITION level (directory
    // skip), not as a row filter after reading everything
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.linesIterator.exists(l => l.contains("PartitionFilters") &&
        l.contains("day")), scan)
    val expected = ev.filter(col("day") === lit(firstDay)).count()
    assert(back.count() == expected)
  }

  // The machine-checked all-pairs boundary: every declared query's
  // physical plan is free of CartesianProduct / BroadcastNestedLoopJoin
  // EXCEPT the explicitly declared exact baselines. A new query that
  // accidentally plans all-pairs (dropped equi key, non-equi-only
  // condition) fails this lint instead of shipping as a 100 TB
  // scale-killer.
  test("plan lint: no cartesian/BNLJ outside the declared all-pairs baselines") {
    val declared = Map(
      // explicit cross join of two bounded dimensions
      "q_join_cross" -> "declared cross join",
      // exact brute-force verification baselines, each row-count-guarded
      // (guardAllPairs) and each documenting its Ann.* banded swap
      "q_sim_cosine_topk" -> "exact brute-force baseline",
      "q_dedup_embedding" -> "exact brute-force baseline",
      // 1-row global-aggregate attaches: the BNLJ's build side is a
      // single-row count/summary frame by construction (n × 1, not n²)
      "q_text_tfidf" -> "broadcast of the 1-row corpus count",
      "q_quality_lm" -> "broadcast of the 1-row corpus token total",
      "q_quality_constraints" -> "cross of three 1-row audit summaries",
      "q_tpch_q22" -> "broadcast of the 1-row global-average threshold",
      "q_tpch_q20" -> "broadcast of the 1-row shipped-quantity threshold",
      "q_agg_countmin" -> "broadcast of the 1-row global sketch",
      "q_layout_zorder" -> "broadcast of the 1-row max-z frame",
      "q_stats_equidepth" -> "broadcast of the 1-row decile-bounds frame",
      "q_basket_lift" -> "broadcast of the 1-row order-count frame",
      "q_corpus_mix" -> "broadcast of the 1-row minority-count target",
      "q_ref_integrity" -> "cross of three 1-row audit count pairs",
      "q_text_keyword_extract" -> "broadcast of the 1-row corpus count",
      "q_orders_rfm" -> "broadcast of 1-row max-date and threshold frames",
      "q_stats_ks" -> "broadcast of the 1-row group-totals frame",
      "q_skew_diagnose" -> "broadcast of the 1-row totals frame",
      "q_text_bpe_train" -> "broadcast of the 1-row best-pair frame (×3 merge steps)",
      "q_text_bpe_encode" -> "broadcast of the 1-row best-pair frame (×3 merge steps)",
      "q_agg_theta_intersect" -> "cross of the 5-row per-type sketch frames",
      "q_revenue_concentration" -> "broadcast of the 1-row percentile-cuts frame",
      "q_text_bm25" -> "broadcast of the 1-row corpus-stats frame",
      "q_stats_psi" -> "broadcast of the 1-row decile-cuts frame",
      "q_ml_naive_bayes" -> "broadcast of the 5-row class-model frame (×2: class grid + priors attach)",
      "q_stats_bootstrap" -> "broadcast of the 1-row point-estimate frame",
      "q_ml_pr_curve" -> "broadcast of the 9-row decile-threshold frame",
      "q_ml_confusion" -> "broadcast of the 1-row median-threshold frame",
      "q_ml_lift_curve" -> "broadcast of the 1-row decile-cuts frame",
      "q_emb_norm_hist" -> "broadcast of the 1-row max-norm frame",
      "q_stats_cohens_d" -> "broadcast of the 1-row low-priority moment frame",
      "q_stats_js_divergence" -> "broadcast of the 1-row timeline-midpoint frame",
      "q_ts_drawdown" -> "broadcast of the 1-row trough/peak frames",
      "q_ts_spc" -> "broadcast of the 1-row moment frame",
      "q_privacy_tcloseness" -> "broadcast of the 1-row corpus-total frame",
      "q_ml_cohen_kappa" -> "broadcast of the 1-row median-threshold frame",
      "q_ml_knn_accuracy" -> "exact brute-force baseline (guarded; banded swap = q_ml_knn_accuracy_banded)",
      // the three banded operators are deliberately ABSENT: since the
      // round-10 buildCellIndex rework their centroid scoring runs
      // in-row against broadcast state (two linear mapPartitions
      // passes), so their plans contain NO cross/BNLJ at all — a
      // reappearing CartesianProduct there is a regression this lint
      // must catch, not an allowed baseline.
      "q_ts_freshness" -> "broadcast of the 1-row feed-head frame",
      "q_ts_pacf" -> "cross of two 1-row lag-moment frames",
      "q_text_term_burstiness" -> "broadcast of the 1-row source-count frame",
      "q_stats_runs_test" -> "broadcast of the 1-row median frame",
      "q_ml_fairness_dpr" -> "broadcast of the 1-row threshold frame")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val p = fn(spark, sf).queryExecution.executedPlan.toString
        val allPairs = p.contains("CartesianProduct") ||
          p.contains("BroadcastNestedLoopJoin")
        if (allPairs && !declared.contains(name)) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"undeclared all-pairs plan in: ${offenders.mkString(", ")}")
  }

  test("count-guarded broadcast hint: hints under the cap, leaves the " +
    "frame unhinted (shuffled join) past it") {
    // the round-9 dedup-verify-tier guard (VERDICT r8 #1): a broadcast
    // hint on a corpus-cardinality frame is a driver OOM at 100×, so
    // maybeBroadcast hints only while the caller-supplied count is
    // under the cap. Assert BOTH sides of the flip on a real join:
    // under the cap → BroadcastHashJoin; past it → no broadcast of
    // that frame (sort-merge / shuffled hash, AQE's choice at runtime).
    import org.apache.spark.sql.functions._
    val big = graft.engine.Tables.t(spark, sf, "orders")
      .select(col("o_custkey").as("k"), col("o_totalprice"))
    val small = graft.engine.Tables.t(spark, sf, "customer")
      .select(col("c_custkey").as("k"))
    val n = small.count()
    val hinted = big.join(
      graft.queries.DedupQueries.maybeBroadcast(small, n), "k")
    assert(hinted.queryExecution.sparkPlan.toString
      .contains("BroadcastHashJoin"),
      "under the cap the hint must produce a broadcast join")
    // past the cap: assert the HINT is gone from the plan (the static
    // planner may still pick a broadcast from the parquet size
    // estimate — and AQE from runtime sizes — which is exactly the
    // intent: strategy from sizes, never from an unconditional hint)
    val unhinted = big.join(
      graft.queries.DedupQueries.maybeBroadcast(small, n,
        maxRows = n - 1), "k")
    assert(!unhinted.queryExecution.analyzed.toString
      .contains("ResolvedHint"),
      "past the cap maybeBroadcast must not attach a broadcast hint")
    assert(hinted.queryExecution.analyzed.toString
      .contains("ResolvedHint"), "sanity: the under-cap twin carries it")
    // and the footprint-gated dim() twin: hints while the table's
    // on-disk bytes are under the gate, drops the hint past it (here
    // forced with a 1-byte gate — customer.parquet is always bigger)
    assert(graft.engine.Tables.dim(spark, sf, "customer")
      .queryExecution.analyzed.toString.contains("ResolvedHint"),
      "fixture dims sit far under the default 64 MB gate")
    assert(!graft.engine.Tables.dim(spark, sf, "customer", maxBytes = 1L)
      .queryExecution.analyzed.toString.contains("ResolvedHint"),
      "past the byte gate dim() must not attach a hint")
    assert(!graft.engine.Tables.underDimGate(spark, sf, "customer",
      maxBytes = 1L) &&
      graft.engine.Tables.underDimGate(spark, sf, "customer"),
      "underDimGate must agree with dim()'s flip")
  }

  test("plan lint: no sort feeding directly into an exchange (wasted work)") {
    // an exchange (broadcast hash table or hash/range repartition)
    // destroys its child's row order, so a SortExec sitting directly
    // beneath one — through order-preserving projections/filters only —
    // did pure wasted work (the round-8 bucketPairs find: a global
    // orderBy on an intermediate that every consumer re-sorted or
    // broadcast). Sorts DEEPER in the subtree stay legal: they feed
    // windows/sort-merge-joins and are semantic, not cosmetic. Checked
    // on the pre-AQE physical plan of every declared query.
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec,
      SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    @annotation.tailrec
    def throughOrderPreserving(p: SparkPlan): SparkPlan = p match {
      case pr: ProjectExec => throughOrderPreserving(pr.child)
      case f: FilterExec   => throughOrderPreserving(f.child)
      case _               => p
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.sparkPlan
        val wasted = plan.collect {
          case e: Exchange
              if throughOrderPreserving(e.child).isInstanceOf[SortExec] =>
            e.nodeName
        }
        if (wasted.nonEmpty) Some(s"$name (${wasted.mkString(",")})")
        else None
      }
    assert(offenders.isEmpty,
      s"sort output discarded by an exchange in: ${offenders.mkString("; ")}")
  }

  test("plan lint: every unpartitioned window rides a BOUNDED frame " +
    "(aggregate/limit below it), never raw data") {
    // Spark warns "No Partition Defined for Window operation" on every
    // unpartitioned window — a single-task sort. That is a real hazard
    // only when the window's input is DATA-sized (the round-8
    // q_stats_gini finding, fixed in round 9 by distributed ranking);
    // it is the standard, correct shape when the input is an aggregate
    // or top-k output whose cardinality is domain/config-bounded
    // (decile cuts, per-partition offsets, margin ledgers). This lint
    // machine-checks the distinction across the whole declared
    // surface: walking down from each empty-partitionSpec WindowExec,
    // an aggregate or limit must appear on EVERY path before a leaf
    // (scan or cached relation) — i.e. the single task ranks a
    // reduction, never the fact.
    import org.apache.spark.sql.execution.{SparkPlan, LocalLimitExec,
      GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      SortAggregateExec, ObjectHashAggregateExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def boundedBelow(p: SparkPlan): Boolean = p match {
      case _: HashAggregateExec | _: SortAggregateExec |
          _: ObjectHashAggregateExec | _: LocalLimitExec |
          _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
      // a cached relation's bound lives in ITS plan: recurse into it
      case im: InMemoryTableScanExec =>
        boundedBelow(im.relation.cachedPlan)
      case leaf if leaf.children.isEmpty => false
      // windows partition-bounded or not don't bound cardinality;
      // joins/unions: EVERY input must be bounded (a join of an
      // aggregate with a raw fact is fact-sized)
      case other => other.children.forall(boundedBelow)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.sparkPlan
        val bad = plan.collect {
          case w: WindowExec
              if w.partitionSpec.isEmpty && !boundedBelow(w.child) =>
            w.windowExpression.map(_.sql).mkString(",").take(60)
        }
        if (bad.nonEmpty) Some(s"$name (${bad.mkString(" | ")})")
        else None
      }
    assert(offenders.isEmpty,
      s"unpartitioned window over unbounded input in: " +
        offenders.mkString("; "))
  }

  test("AQE splits a skewed join partition at runtime (skew-join lever)") {
    import org.apache.spark.sql.functions.col
    // The runtime complement to q_join_salted's static salting: with
    // AQE skew handling on, a pathologically skewed sort-merge join is
    // split into subpartitions AT RUNTIME, no query rewrite needed.
    // The 256MB production threshold is shrunk so the fixture's skew
    // registers; assertions pin both the split marker in the final
    // adaptive plan and result-invariance with the feature off.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val dir = s"/tmp/graft_skew_${spark.sparkContext.applicationId}"
    // 75% of the probe side lands on key 0; the build side is uniform.
    spark.range(400000)
      .selectExpr("CASE WHEN id % 4 != 0 THEN 0L ELSE id END AS k",
        "id AS v")
      .write.mode("overwrite").parquet(s"$dir/probe")
    spark.range(1000).selectExpr("id AS k", "id AS w")
      .write.mode("overwrite").parquet(s"$dir/build")
    def joined = spark.read.parquet(s"$dir/probe")
      .join(spark.read.parquet(s"$dir/build"), "k")
    try {
      val j = joined
      // collect() executes THIS dataset's queryExecution — count() or
      // foreachPartition build separate plans and would leave j's
      // adaptive plan unfinalized
      val n = j.collect().length.toLong
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("AQEShuffleRead") && p.toLowerCase.contains("skew"),
        s"AQE did not split the skewed partition:\n$p")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      assert(n > 0 && n == joined.count())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("explicit bloom prefilter drops probe rows before any exchange") {
    // q_join_bloom_prefilter's whole point is that the might_contain
    // filter is map-side: it must sit in the lineitem scan's subtree
    // with NO exchange between them, so at 100 TB the ~70% row drop
    // happens before the semi-join shuffle pays for those rows.
    val lines = SparkEntry.queries("q_join_bloom_prefilter")(spark, sf)
      .queryExecution.executedPlan.toString.linesIterator.toSeq
    val at = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("might_contain"))
    assert(at >= 0, "no might_contain filter in the executed plan")
    // tree print: a node's subtree follows it immediately — the scan
    // must appear before any Exchange does. The filter prints its
    // scalar SUBQUERY (the bloom build, whose own SinglePartition
    // sketch-merge exchange is expected and build-side) inline with a
    // second ':' guide column — skip those lines, they are not on the
    // probe path.
    val below = lines.drop(at + 1).filterNot(_.matches(""".*:\s+:.*"""))
    val scanAt = below.indexWhere(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    val exchangeAt = below.indexWhere(_.contains("Exchange"))
    assert(scanAt >= 0, "lineitem scan not under the bloom prefilter")
    assert(exchangeAt < 0 || scanAt < exchangeAt,
      "an exchange sits between the bloom prefilter and the scan")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    import org.apache.spark.sql.functions._
    import graft.engine.Tables
    // the 100 TB shape: a selective dim filter should also prune the
    // FACT scan via a runtime bloom filter on the join key (Spark's
    // InjectRuntimeFilter). Size thresholds exist for production
    // (creation side must be ≤ 10MB, fact scan ≥ 10GB); relax both so
    // the tiny fixture plans the same shuffle-join shape a real fact
    // table would, and disable broadcast for the same reason.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    def joined = Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
      .join(Tables.t(spark, sf, "part")
          .filter(col("p_retailprice") > 915) // keeps ~25% of parts at this SF
          .select("p_partkey", "p_name"),
        col("l_partkey") === col("p_partkey"))
    try {
      val j = joined
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter did not inject:\n$p")
      // the bloom filter may only PRUNE non-matching rows, never change
      // the result: same count with the rule off
      val n = j.count()
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plain = joined
      assert(!plain.queryExecution.optimizedPlan.toString.contains("might_contain"))
      assert(n > 0 && n == plain.count())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("all-pairs baselines refuse oversized inputs before planning the join") {
    import graft.queries.DedupQueries
    val e1 = intercept[IllegalStateException] {
      DedupQueries.cosineTopK(spark, sf, 10, maxRows = 1L)
    }
    assert(e1.getMessage.contains("graft.functions.Ann"))
    val e2 = intercept[IllegalStateException] {
      DedupQueries.embeddingDedup(spark, sf, 0.40, maxRows = 1L)
    }
    assert(e2.getMessage.contains("all-pairs"))
    // at the declared cap the baselines still construct and plan
    assert(DedupQueries.cosineTopK(spark, sf, 10).columns.nonEmpty)
  }
}
