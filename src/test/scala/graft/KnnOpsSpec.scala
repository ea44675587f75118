package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the KnnOpsQueries batch (round-7 fifth
  * pass): full local kNN-vote replay, freshness recomputation, TOST
  * recomputation, suppression-count agreement.
  */
class KnnOpsSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  // fixture parquet dirs are deleted after the suite (they used to
  // accumulate one pair per test run)
  private val fixtureDirs =
    scala.collection.mutable.Buffer[java.nio.file.Path]()
  private def fixtureDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    fixtureDirs += p
    p.toString
  }
  override def afterAll(): Unit = {
    fixtureDirs.foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    super.afterAll()
  }

  test("knn accuracy: local brute-force vote replay matches") {
    val rows = SparkEntry.queries("q_ml_knn_accuracy")(spark, sf)
      .collect().map(r => (r.getAs[Int]("label"),
        (r.getAs[Long]("n"), r.getAs[Long]("n_correct")))).toMap
    val em = graft.engine.Tables.t(spark, sf, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val nrm = em.map(v => (v._1,
      math.sqrt(v._3.map(x => x * x).sum))).toMap
    val local = em.map { case (id, la, e) =>
      val scored = em.filter(_._1 != id).map { case (id2, lb, e2) =>
        val dot = (0 until 64).map(i => e(i) * e2(i)).sum
        (BigDecimal(dot / (nrm(id) * nrm(id2)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          id2, lb)
      }
      val top5 = scored.sortBy(s => (-s._1, s._2)).take(5)
      val vote = top5.groupBy(_._3).map { case (l, v) => (l, v.length) }
      val best = vote.values.max
      val pred = vote.filter(_._2 == best).keys.min
      (la, pred == la)
    }
    val perLabel = local.groupBy(_._1).map { case (l, v) =>
      (l, (v.length.toLong, v.count(_._2).toLong)) }
    assert(rows == perLabel)
  }

  test("banded knn accuracy: cell-pruned exact search equals the " +
    "brute-force baseline row for row") {
    // the pruning proof says the outputs are IDENTICAL (not merely
    // close): any cell skipped for q provably cannot hold a top-5
    // member even after 4-dp rounding and id tie-breaks
    val brute = SparkEntry.queries("q_ml_knn_accuracy")(spark, sf)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val banded = SparkEntry.queries("q_ml_knn_accuracy_banded")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(banded == brute,
      s"banded=${banded.take(3)} brute=${brute.take(3)}")
  }

  test("banded knn past the hint cap: the shuffled plan drops every " +
    "count-guarded broadcast and still matches the declared output") {
    // gate-flip pin (the maybeBroadcast/dim() pattern): wideHintCap=0
    // forces the shape a 100 TB corpus would run — every scoring join
    // SHUFFLED, no broadcast of the member/label/floor frames — and
    // the output must be byte-identical (the hints are physical-plan
    // accelerators, never semantics)
    val declared = SparkEntry.queries("q_ml_knn_accuracy_banded")(
      spark, sf).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val past = graft.queries.KnnOpsQueries
      .bandedKnnAccuracy(spark, sf, wideHintCap = 0L)
    // past the cap NO plan-level broadcast hint survives at all: since
    // the round-10 buildCellIndex rework the bounded centroid/radii
    // state rides sc.broadcast into the two linear in-row passes (it
    // never appears as a plan frame), and every remaining join input
    // is corpus-sized — count-guarded, so flipped off here. A
    // surviving ResolvedHint would mean an unbounded frame regained an
    // unconditional hint (the driver-OOM-at-100× shape this pin
    // exists to catch).
    val hints = past.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
        if h.hints.strategy.exists(
          _ == org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
    }
    assert(hints.isEmpty,
      s"corpus-sized frame still hinted past the cap:\n${hints.headOption}")
    assert(past.collect().map(_.toSeq).toSeq == declared)

    // same flip for the other two banded operators sharing the cell
    // index: past the cap, output stays byte-identical (the floor /
    // radii / centroid frames keep their bounded-by-construction hints)
    spark.catalog.clearCache()
    val dedupDecl = SparkEntry.queries("q_dedup_embedding_banded")(
      spark, sf).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val dedupPast = graft.queries.DedupQueries
      .embeddingDedupBanded(spark, sf, 0.40, wideHintCap = 0L)
      .collect().map(_.toSeq).toSeq
    assert(dedupPast == dedupDecl)
    spark.catalog.clearCache()
    val topkDecl = SparkEntry.queries("q_sim_cosine_topk_banded")(
      spark, sf).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val topkPast = graft.queries.DedupQueries
      .cosineTopKBanded(spark, sf, 10, wideHintCap = 0L)
      .collect().map(_.toSeq).toSeq
    assert(topkPast == topkDecl)
  }

  test("banded knn on a CLUSTERED corpus: the triangle-inequality " +
    "prune fires on most foreign cells and the output still equals " +
    "brute force") {
    // The graded fixture is isotropic — no exact method can prune it —
    // so the prune branch passes trivially there (nothing is ever
    // dropped). This fixture is the opposite regime: 3 tight clusters
    // around orthogonal axes, where most (vector, foreign-cell) probes
    // MUST prune. (a) replicates the pruning math locally to prove the
    // fixture exercises it (≥30% of probes prunable — in fact most);
    // (b) asserts banded == brute, i.e. the query never prunes a cell
    // that could hold a top-5 member even when it prunes aggressively.
    import spark.implicits._
    val dim = 64
    val rows = (0L until 600L).map { id =>
      val c = (id % 3).toInt
      val e = Array.tabulate(dim) { j =>
        val base = if (j == c * 21) 1.0f else 0.0f
        // deterministic small jitter, no RNG (SURVEY A.6)
        base + (((id * 31 + j * 17) % 7) - 3).toFloat * 0.02f
      }
      (id, e.toSeq, c)
    }
    val dir = fixtureDir("knn_clustered")
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) embedding",
        "cast(label as int) label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // (a) local replication of the pruning decision
    val em = rows.map { case (id, e, _) =>
      (id, e.map(_.toDouble).toArray) }
    val nrm = em.map { case (id, e) =>
      (id, math.sqrt(e.map(x => x * x).sum)) }.toMap
    def cosv(a: Array[Double], b: Array[Double], na: Double, nb: Double) =
      a.indices.map(i => a(i) * b(i)).sum / (na * nb)
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nCells = math.max(16, math.ceil(math.sqrt(600.0)).toInt)
    val centIds = spark.read
      .parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "xxhash64(vec_id) mix")
      .orderBy("mix").limit(nCells)
      .collect().map(_.getLong(0))
    val emMap = em.toMap
    val cents = centIds.map(cid => (cid, emMap(cid), nrm(cid)))
    val asg = em.map { case (id, e) =>
      val scored = cents.map { case (cid, ce, cn) =>
        (cid, cosv(e, ce, nrm(id), cn)) }
      val (own, ownCos) = scored.minBy { case (cid, c) => (-c, cid) }
      (id, own, math.acos(math.max(-1.0, math.min(1.0, ownCos))),
        scored.toMap)
    }
    val radius = asg.groupBy(_._2).map { case (cell, v) =>
      (cell, v.map(_._3).max) }
    val cellOf = asg.map(a => (a._1, a._2)).toMap
    val l5 = asg.map { case (id, own, _, _) =>
      val inCell = em.filter(o => o._1 != id && cellOf(o._1) == own)
        .map(o => (r4(cosv(emMap(id), o._2, nrm(id), nrm(o._1))), o._1))
        .sortBy { case (c, oid) => (-c, oid) }
      (id, if (inCell.length >= 5) Some(inCell(4)._1) else None)
    }.toMap
    var total = 0; var pruned = 0
    asg.foreach { case (id, own, _, scored) =>
      cents.foreach { case (cid, _, _) =>
        // cells nobody assigned to hold no members — the query's inner
        // join on radii drops those probes; skip them here too
        if (cid != own && radius.contains(cid)) {
          total += 1
          l5(id).foreach { floor =>
            val th = math.acos(math.max(-1.0,
              math.min(1.0, scored(cid))))
            val cap = math.cos(math.max(0.0, th - radius(cid)))
            if (cap < floor - 1e-3) pruned += 1
          }
        }
      }
    }
    assert(pruned.toDouble / total >= 0.3,
      s"fixture does not exercise pruning: $pruned/$total")

    // (b) exactness under real pruning
    val brute = graft.queries.KnnOpsQueries
      .bruteKnnAccuracy(spark, dir).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val banded = SparkEntry.queries("q_ml_knn_accuracy_banded")(
      spark, dir).collect().map(_.toSeq).toSeq
    assert(banded == brute, s"banded=$banded brute=$brute")
    // sanity: tight orthogonal clusters ⇒ perfect 5-NN accuracy
    assert(banded.forall(_.last == 1.0), banded.toString)
    spark.catalog.clearCache()
    // both sides of the size-adaptive vote-tail floor filter
    // (KnnFloorFilterMinRows): this 600-vector fixture takes the
    // plain branch naturally; force the filtered branch on and the
    // output must stay byte-identical (the l5 prune is provably
    // lossless — KEPT ties at exactly l5, dropped only strictly-below)
    val forcedFloor = graft.queries.KnnOpsQueries.bandedKnnAccuracyOn(
        graft.queries.DedupQueries.buildCellIndex(spark, dir),
        floorFilterMinRows = 0L)
      .collect().map(_.toSeq).toSeq
    assert(forcedFloor == brute, s"floor-filtered branch diverged")
    spark.catalog.clearCache()

    // same fixture pins the banded THRESHOLD dedup (its cross-cluster
    // cells must prune at τ=0.9 — within-cluster cosines are ~0.99,
    // cross ~0.0 — and the output must still equal the all-pairs
    // baseline; real duplicates exist here, unlike the isotropic
    // fixture where τ=0.40 pairs are sparse)
    val dedupBrute = graft.queries.DedupQueries
      .embeddingDedup(spark, dir, 0.9).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val dedupBanded = graft.queries.DedupQueries
      .embeddingDedupBanded(spark, dir, 0.9).collect().map(_.toSeq).toSeq
    assert(dedupBanded == dedupBrute)
    // sanity: the clusters actually produce duplicates
    assert(dedupBanded.count(_.last == 1L) > 400,
      s"only ${dedupBanded.count(_.last == 1L)} dups")
    spark.catalog.clearCache()

    // and the banded GLOBAL top-k (its floor comes from within-cell
    // pairs — 1.0 here via identical-jitter clones — so every
    // cross-cluster cell must prune)
    val topkBrute = graft.queries.DedupQueries
      .cosineTopK(spark, dir, 10).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val topkBanded = graft.queries.DedupQueries
      .cosineTopKBanded(spark, dir, 10).collect().map(_.toSeq).toSeq
    assert(topkBanded == topkBrute,
      s"banded=$topkBanded brute=$topkBrute")
    spark.catalog.clearCache()
  }

  test("banded operators on a TINY corpus (fewer vectors than cells): " +
    "singleton cells, void top-k floor, no within pairs — still exact") {
    // the degenerate regime: every vector is its own centroid/cell, so
    // within-cell pairs are empty (the kNN floor and the top-k floor
    // are both void) and EVERYTHING must flow through the cross tier's
    // fallback paths
    import spark.implicits._
    val rows = (0L until 6L).map { id =>
      val e = Array.tabulate(64) { j =>
        (((id * 13 + j * 7) % 11) - 5).toFloat * 0.1f }
      (id, e.toSeq, (id % 2).toInt)
    }
    val dir = fixtureDir("knn_tiny")
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) embedding",
        "cast(label as int) label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def rt(df: org.apache.spark.sql.DataFrame) =
      { val r = df.collect().map(_.toSeq).toSeq
        spark.catalog.clearCache(); r }
    assert(rt(graft.queries.KnnOpsQueries.bandedKnnAccuracy(spark, dir))
      == rt(graft.queries.KnnOpsQueries.bruteKnnAccuracy(spark, dir)))
    assert(rt(graft.queries.DedupQueries
        .embeddingDedupBanded(spark, dir, 0.40))
      == rt(graft.queries.DedupQueries.embeddingDedup(spark, dir, 0.40)))
    assert(rt(graft.queries.DedupQueries.cosineTopKBanded(spark, dir, 10))
      == rt(graft.queries.DedupQueries.cosineTopK(spark, dir, 10)))
  }

  test("banded family on a DETERMINISTIC pseudo-random corpus (mixed " +
    "cluster tightness, scattered vectors, ANTIPODAL members → " +
    "negative cosines): every operator equals its brute baseline") {
    // the graded fixture is isotropic, the clustered fixture is three
    // tight orthogonal clusters — this one sweeps the in-between:
    // 7 clusters of varying looseness, 20% high-noise scatter, and
    // every 11th vector NEGATED (cosine ≈ −1 to its cluster mates, so
    // cap/floor arithmetic runs through the negative-cosine regime the
    // other fixtures never reach). Hash-mix generator, no RNG
    // (SURVEY A.6 posture), norms provably nonzero.
    import spark.implicits._
    def mix(a: Long, b: Long): Long = {
      var x = a * 0x9E3779B97F4A7C15L + (b + 1L) * 0xC2B2AE3D27D4EB4FL
      x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^ (x >>> 29)
    }
    def u01(a: Long, b: Long): Float =
      ((mix(a, b) >>> 11).toDouble / (1L << 53).toDouble).toFloat
    val dim = 64
    val rows = (0L until 500L).map { id =>
      val cl = (id % 7).toInt
      val noiseAmp = if (id % 5 == 0) 1.5f else 0.3f
      val v = Array.tabulate(dim) { j =>
        val axis = if (j % 7 == cl) 0.8f + u01(cl.toLong, j.toLong)
                   else 0.0f
        axis + (u01(id, j.toLong) - 0.5f) * noiseAmp
      }
      val signed = if (id % 11 == 0) v.map(x => -x) else v
      (id, signed.toSeq, cl)
    }
    val dir = fixtureDir("knn_pseudo")
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) embedding",
        "cast(label as int) label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def rt(df: org.apache.spark.sql.DataFrame) =
      { val r = df.collect().map(_.toSeq).toSeq
        spark.catalog.clearCache(); r }
    import graft.queries.{DedupQueries, KnnOpsQueries}
    for (tau <- Seq(0.3, 0.8))
      assert(rt(DedupQueries.embeddingDedupBanded(spark, dir, tau)) ==
        rt(DedupQueries.embeddingDedup(spark, dir, tau)), s"tau=$tau")
    assert(rt(DedupQueries.cosineTopKBanded(spark, dir, 10)) ==
      rt(DedupQueries.cosineTopK(spark, dir, 10)))
    val brute = rt(KnnOpsQueries.bruteKnnAccuracy(spark, dir))
    assert(rt(KnnOpsQueries.bandedKnnAccuracy(spark, dir)) == brute)
    // and the floor-filtered vote-tail branch on the same geometry
    assert(rt(KnnOpsQueries.bandedKnnAccuracyOn(
      DedupQueries.buildCellIndex(spark, dir),
      floorFilterMinRows = 0L)) == brute)
  }

  /** Writes an embeddings table of (vec_id, 64-float vector) rows,
    * spread over 4 files, and returns its directory. */
  private def embeddingsDir(prefix: String,
      rows: Seq[(Long, Array[Float])]): String = {
    import org.apache.spark.sql.types._
    val dir = fixtureDir(prefix)
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding",
        ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, e) =>
          org.apache.spark.sql.Row(id, e.toSeq, (id % 2).toInt) }, 4),
        schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def hashVec(id: Long, salt: Long): Array[Float] =
    Array.tabulate(64) { j =>
      var x = id * 0x9E3779B97F4A7C15L + (j + salt) * 0xC2B2AE3D27D4EB4FL
      x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 29)
      ((x >>> 11).toDouble / (1L << 53).toDouble - 0.5).toFloat
    }

  test("banded top-k on 0, 1, 2 and 4 vectors (fewer than k pairs, " +
    "void floor) equals the brute-force top-k") {
    def rt(df: org.apache.spark.sql.DataFrame) =
      { val r = df.collect().map(_.toSeq).toSeq
        spark.catalog.clearCache(); r }
    import graft.queries.DedupQueries
    for (n <- Seq(0, 1, 2, 4)) {
      val dir = embeddingsDir(s"knn_n$n",
        (0L until n.toLong).map(id => (id * 7 + 3, hashVec(id, 1))))
      val brute = rt(DedupQueries.cosineTopK(spark, dir, 10))
      assert(brute.length == n * (n - 1) / 2)
      assert(rt(DedupQueries.cosineTopKBanded(spark, dir, 10)) == brute,
        s"n=$n")
      assert(rt(DedupQueries.cosineTopKBanded(spark, dir, 10,
        wideHintCap = 0L)) == brute, s"n=$n past the hint cap")
    }
  }

  test("banded top-k with every vector in ONE cell equals brute force") {
    // centroids are the 16 vectors with the smallest xxhash64(id) mix;
    // making all 16 the same vector ties every vector's centroid
    // cosines, so all 60 vectors assign to the smallest centroid id —
    // one cell, and every pair is scored through the own-cell probe.
    // k = 130 reaches past the C(16,2) = 120 identical-centroid pairs
    // (all 1.0) into distinct cosines, so the floor is a real one
    import graft.queries.DedupQueries
    import spark.implicits._
    val ids = (0L until 60L).map(_ * 5 + 1)
    val cents = ids.toDF("id").selectExpr("id", "xxhash64(id) mix")
      .orderBy("mix", "id").limit(16).as[(Long, Long)].collect()
      .map(_._1).toSet
    val dir = embeddingsDir("knn_onecell", ids.map { id =>
      (id, if (cents(id)) hashVec(0L, 9) else hashVec(id, 2)) })
    val ci = DedupQueries.buildCellIndex(spark, dir)
    assert(ci.cellSizes.size == 1 && ci.cellSizes.values.head == 60L,
      ci.cellSizes.toString)
    val banded = DedupQueries.cosineTopKBandedOn(ci, 130)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val brute = DedupQueries.cosineTopK(spark, dir, 130)
      .collect().map(_.toSeq).toSeq
    assert(brute.length == 130 && brute.last(2) != 1.0)
    spark.catalog.clearCache()
    assert(banded == brute, s"banded=$banded brute=$brute")
  }

  test("banded top-k on duplicated vectors: rounded cosines tie across " +
    "partitions and the tie order is id1, then id2") {
    // 5 distinct vectors, each repeated 8 times under scattered ids:
    // the 5·C(8,2) = 140 duplicate pairs all score exactly 1.0, so the
    // top-10 is decided by (id1, id2) alone across the 4 input files
    import graft.queries.DedupQueries
    val rows = (0L until 40L).map(i => (i * 37 % 101, hashVec(i % 5, 3)))
    val dir = embeddingsDir("knn_ties", rows)
    val brute = DedupQueries.cosineTopK(spark, dir, 10)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    assert(brute.forall(_(2) == 1.0), brute.toString)
    val want = rows.groupBy(_._2.toSeq).values.toSeq
      .flatMap(g => g.map(_._1).sorted.combinations(2)
        .map(p => (p(0), p(1))))
      .sorted.take(10)
    assert(brute.map(r => (r(0), r(1))) == want)
    for (cap <- Seq(DedupQueries.BroadcastHintMaxRows / 8, 0L)) {
      assert(DedupQueries.cosineTopKBanded(spark, dir, 10, cap)
        .collect().map(_.toSeq).toSeq == brute, s"cap=$cap")
      spark.catalog.clearCache()
    }
  }

  test("cell-index artifact: banded operators from a LOADED index are " +
    "byte-identical to the in-memory build") {
    // the repeated-query production shape: build once, persist, load
    // per query batch — no per-invocation centroid/assignment rebuild
    import graft.queries.{DedupQueries, KnnOpsQueries}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val ci = DedupQueries.buildCellIndex(spark, sf)
    val idx = fixtureDir("cell_index")
    DedupQueries.writeCellIndex(ci, idx)
    val knnMem = rows(KnnOpsQueries.bandedKnnAccuracyOn(ci))
    val dedupMem = rows(DedupQueries.embeddingDedupBandedOn(ci, 0.40))
    val topkMem = rows(DedupQueries.cosineTopKBandedOn(ci, 10))
    spark.catalog.clearCache()
    val li = DedupQueries.loadCellIndex(spark, idx)
    assert(rows(KnnOpsQueries.bandedKnnAccuracyOn(li)) == knnMem)
    assert(rows(DedupQueries.embeddingDedupBandedOn(li, 0.40)) == dedupMem)
    assert(rows(DedupQueries.cosineTopKBandedOn(li, 10)) == topkMem)
    spark.catalog.clearCache()
  }

  test("index serving: incoming-vs-index dedup and per-query exact " +
    "kNN both match the exhaustive brute scan") {
    // the query-time payoff of the persisted index: external vectors
    // (near-copies of corpus members + unrelated hash-random ones)
    // dedup and k-NN against the index without ever joining each
    // other or running all-pairs — outputs must equal the local
    // exhaustive scan exactly (4-dp HALF_UP rounding, id tie-breaks)
    import graft.queries.{DedupQueries, KnnOpsQueries}
    import spark.implicits._
    import graft.engine.Tables
    val ci = DedupQueries.buildCellIndex(spark, sf)
    val raw = Tables.t(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def mix(a: Long, b: Long): Long = {
      var x = a * 0x9E3779B97F4A7C15L + (b + 1L) * 0xC2B2AE3D27D4EB4FL
      x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^ (x >>> 29)
    }
    val qRows = (0L until 40L).map { i =>
      val e: Array[Float] =
        if (i < 20)
          raw(((i * 13L) % raw.length).toInt)._2
            .zipWithIndex.map { case (x, j) =>
              x + ((mix(i, j.toLong) % 5).toInt * 1e-4f) }
        else Array.tabulate(64)(j =>
          ((mix(i, j.toLong) % 9).toInt - 4).toFloat * 0.2f + 0.9f)
      (100000L + i, e)
    }
    val qDf = qRows.map { case (id, e) => (id, e.toSeq) }
      .toDF("vec_id", "embedding")
      .selectExpr("vec_id", "cast(embedding as array<float>) embedding")
    // local exhaustive oracle
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val corpus = raw.map { case (id, e) =>
      (id, e.map(_.toDouble)) }
    val cNrm = corpus.map { case (id, e) =>
      id -> math.sqrt(e.map(x => x * x).sum) }.toMap
    def scored(qe: Array[Double]): Array[(Long, Double)] = {
      val qn = math.sqrt(qe.map(x => x * x).sum)
      corpus.map { case (cid, ce) =>
        val dot = (0 until ce.length).map(j => qe(j) * ce(j)).sum
        (cid, r4(dot / (qn * cNrm(cid))))
      }
    }
    val qLocal = qRows.map { case (id, e) => (id, e.map(_.toDouble)) }

    // (a) incoming dedup at tau = 0.8
    val expDedup = qLocal.map { case (qid, qe) =>
      val ms = scored(qe).filter(_._2 >= 0.8).map(_._1)
      (qid, if (ms.isEmpty) None else Some(ms.min))
    }.toMap
    assert(expDedup.values.exists(_.isDefined) &&
      expDedup.values.exists(_.isEmpty),
      "fixture must exercise both matched and unmatched incoming rows")
    val gotDedup = DedupQueries.embeddingDedupIncoming(ci, qDf, 0.8)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]))).toMap
    assert(gotDedup == expDedup,
      s"diff=${(gotDedup.toSet diff expDedup.toSet).take(5)}")

    // (b) per-query exact 5-NN
    val expKnn = qLocal.flatMap { case (qid, qe) =>
      scored(qe).sortBy { case (cid, c) => (-c, cid) }.take(5)
        .zipWithIndex.map { case ((cid, c), r) =>
          (qid, (r + 1).toLong, cid, c) }
    }.toSet
    val gotKnn = KnnOpsQueries.knnQueryOn(ci, qDf, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(gotKnn == expKnn,
      s"diff=${(gotKnn diff expKnn).take(5)} / ${(expKnn diff gotKnn).take(5)}")
    spark.catalog.clearCache()
  }

  test("freshness: last-seen per type recomputes; ALL types present") {
    val rows = SparkEntry.queries("q_ts_freshness")(spark, sf).collect()
    val ev = graft.engine.Tables.events(spark, sf)
      .selectExpr("event_type", "unix_micros(ts_us) tu").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val head = ev.map(_._2).max
    val byType = ev.groupBy(_._1)
    assert(rows.map(_.getAs[String]("event_type")).toSet ==
      byType.keySet)
    rows.foreach { r =>
      val g = byType(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n") == g.length)
      val last = g.map(_._2).max
      assert(r.getAs[Long]("last_tu") == last)
      assert(r.getAs[Long]("hours_stale") == (head - last) / 3600000000L)
    }
  }

  test("tost: z statistics recompute from exact moments") {
    val r = SparkEntry.queries("q_stats_tost")(spark, sf).collect().head
    val ev = graft.engine.Tables.events(spark, sf)
      .selectExpr("user_id % 2 arm", "value").collect()
      .map(x => (x.getLong(0), BigDecimal(x.getDouble(1))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)))
    def stats(arm: Long) = {
      val g = ev.filter(_._1 == arm).map(_._2)
      val n = g.length
      val m = g.sum.toDouble / n
      (n, m, g.map(v => (v * v).toDouble).sum / n - m * m)
    }
    val (na, ma, va) = stats(0)
    val (nb, mb, vb) = stats(1)
    assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
    assert(math.abs(r.getAs[Double]("mean_a") - ma) < 1e-9)
    val se = math.sqrt(va / na + vb / nb)
    val zl = (ma - mb + 5.0) / se
    val zu = (5.0 - (ma - mb)) / se
    assert(math.abs(r.getAs[Double]("z_lower") - zl) < 1e-6)
    assert(math.abs(r.getAs[Double]("z_upper") - zu) < 1e-6)
    assert(r.getAs[Int]("equivalent") ==
      (if (math.min(zl, zu) > 1.644854) 1 else 0))
  }

  test("suppression: per-nation counts recompute") {
    val rows = SparkEntry.queries("q_privacy_suppress")(spark, sf)
      .collect()
    val cust = graft.engine.Tables.t(spark, sf, "customer")
      .selectExpr("c_nationkey",
        "CAST(floor(c_acctbal / 1000) AS LONG) bb", "c_mktsegment")
      .collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getString(2)))
    val sizes = cust.groupBy(identity).map { case (k, v) =>
      (k, v.length) }
    // regroup by QI (nation, bucket, segment)
    val byNation = cust.groupBy(_._1)
    rows.foreach { r =>
      val nk = r.getAs[Int]("c_nationkey")
      val members = byNation(nk)
      assert(r.getAs[Long]("n_rows") == members.length)
      val supp = members.count(m => sizes(m) < 5).toLong
      assert(r.getAs[Long]("n_suppressed") == supp, s"nation $nk")
    }
    assert(rows.map(_.getAs[Long]("n_rows")).sum == cust.length)
  }
}
