package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Round-13 optimization sweep helper: one summary line per named
  * query — Exchange count, join operators, codegen spans, scan columns
  * — so the expensive tail can be audited for structural levers
  * (guide §7.2) without reading 600-line plans one by one. Scratch
  * tool, not part of the driver contract.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // --windows (r14, VERDICT #5/#6): the global-window boundedness
    // sweep. Every partition-less Window moves ALL rows to one task
    // (the WindowExec warning); that is fine iff its input is provably
    // bounded — behind an aggregate (rows = groups of a domain-bounded
    // key) or a limit. Flag any partition-less Window with NEITHER
    // below it so each hit is fixed or documented.
    if (args.headOption.contains("--windows")) {
      import org.apache.spark.sql.catalyst.plans.logical._
      val names = if (args.length > 1) args.drop(1).toSeq
        else graft.SparkEntry.queries.keys.toSeq.sorted
      var flagged = 0
      names.foreach { k =>
        try {
          val lp = graft.SparkEntry.queries(k)(spark, sfDir)
            .queryExecution.optimizedPlan
          val wins = lp.collect {
            case w: Window if w.partitionSpec.isEmpty => w
          }
          wins.foreach { w =>
            val bounded = w.child.collectFirst {
              case a: Aggregate => s"Aggregate[${a.groupingExpressions
                .map(_.sql).mkString(",").take(60)}]"
              case l: GlobalLimit => s"GlobalLimit[${l.limitExpr.sql}]"
            }
            bounded match {
              case Some(b) => println(s"$k OK   global window over $b")
              case None =>
                flagged += 1
                println(s"$k FLAG global window over UNBOUNDED input: " +
                  w.windowExpressions.map(_.sql).mkString(";").take(100))
            }
          }
        } catch { case e: Throwable =>
          println(s"$k AUDIT FAILED: ${e.getMessage.take(80)}")
        }
      }
      println(s"window sweep: $flagged unexplained partition-less windows")
      spark.stop()
      return
    }
    // --rescans (r14 continuation): flag every query that scans the
    // SAME parquet table more than once with the same required columns
    // — the signature of a duplicated subtree (a multi-consumer frame
    // whose prefix re-derives per consumer, the phash/bm25 shape).
    // Candidates only: two independent aggregates over one table can
    // be the RIGHT shape (the adjudicated naive-Bayes fused-pass
    // lesson), so each hit needs a human verdict.
    if (args.headOption.contains("--rescans")) {
      // walk the OPTIMIZED LOGICAL plan: the physical plan hides its
      // tree behind AdaptiveSparkPlanExec (collect sees nothing), while
      // the logical tree carries every relation copy a duplicated
      // subtree will re-execute
      import org.apache.spark.sql.execution.datasources.{
        LogicalRelation, HadoopFsRelation}
      val names = if (args.length > 1) args.drop(1).toSeq
        else graft.SparkEntry.queries.keys.toSeq.sorted
      names.foreach { k =>
        try {
          // keyed on the FULL root path: two relations whose
          // directories share a basename are different tables
          val scans = graft.SparkEntry.queries(k)(spark, sfDir)
            .queryExecution.optimizedPlan.collect {
              case l @ LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
                h.location.rootPaths.headOption
                  .map(_.toString).getOrElse("?")
            }
          val dups = scans.groupBy(identity).filter(_._2.size > 1)
          if (dups.nonEmpty)
            println(s"$k RESCAN " + dups.toSeq.sortBy(_._1)
              .map { case (p, v) => s"${v.size}x $p" }.mkString(" | "))
        } catch { case e: Throwable =>
          println(s"$k AUDIT FAILED: ${e.getMessage.take(80)}")
        }
      }
      spark.stop()
      return
    }
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { k =>
      try {
        val plan = graft.SparkEntry.queries(k)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        // the formatted output lists the operator tree first, then a
        // numbered details section; counting "(n) Op" detail headers
        // counts each operator exactly once
        def n(op: String) =
          ("""\(\d+\) """ + op + """\b""").r.findAllIn(plan).length
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
          "ShuffledHashJoin", "BroadcastNestedLoopJoin",
          "CartesianProduct").map(j => j -> n(j))
          .filter(_._2 > 0)
          .map { case (j, c) => s"${j.replaceAll("[a-z]", "")}=$c" }
          .mkString(",")
        println(f"$k%-32s scan=${n("Scan parquet") + n("Scan ExistingRDD")}%2d ex=${n("Exchange")}%2d " +
          f"win=${n("Window")}%2d sort=${n("Sort")}%2d agg=${n("HashAggregate") + n("ObjectHashAggregate") + n("SortAggregate")}%2d " +
          s"joins[$joins]")
      } catch { case e: Throwable =>
        println(s"$k AUDIT FAILED: ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
