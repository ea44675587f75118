package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.Readers

/** One benchmark run inside one JVM.
  *
  *   perfbench.Main --workload NAME --data DIR --out DIR --seconds S
  *     --deadline S --trace 0|1 --min-rounds N --ingest-reps N
  *     --queries q1,q2,... --sinks noop,count|parquet
  *     --uncounted q1,q2,... --warmup DIR [--raw DIR]
  *
  * Order of work: the session set-up, timed from JVM start, one untimed
  * check pass that writes every result as parquet for the Python-side
  * checks, then whole timed rounds for `seconds`. A round ingests each
  * raw table `ingest-reps` times and runs every query into every sink,
  * except the `uncounted` queries under `count()`. With --trace 1 rounds
  * alternate untraced and traced, spans and listener metrics are kept
  * for the traced ones, and the `graft.functions` kernels are probed
  * after the last round. Everything is written to OUT/run.json; run.py
  * turns it into metrics and checks it.
  */
object Main {

  private val opts = mutable.Map[String, String]()
  private def opt(k: String): String =
    opts.getOrElse(k, sys.error(s"missing --$k"))

  def main(args: Array[String]): Unit = {
    args.grouped(2).foreach { case Array(k, v) => opts(k.stripPrefix("--")) = v }
    val out = opt("out")
    new File(out).mkdirs()
    val run = new Run(opt("workload"), opt("data"), opts.get("raw"),
      opt("warmup"), out, opt("seconds").toDouble, opt("deadline").toDouble,
      opt("trace") == "1",
      opt("min-rounds").toInt, opt("ingest-reps").toInt,
      opt("queries").split(",").toSeq.filter(_.nonEmpty),
      opt("sinks").split(",").toSeq,
      opts.getOrElse("uncounted", "").split(",").toSet.filter(_.nonEmpty))
    val record = run.execute()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(out, "run.json"), json.writeValueAsString(record))
  }
}

/** Raw ingest inputs: file name, reader, explicit schema. */
object RawInputs {
  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))
  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))
  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** (table, raw file, csv?, schema) in ingest order. */
  val all: Seq[(String, String, Boolean, StructType)] = Seq(
    ("lineitem", "lineitem.csv", true, lineitem),
    ("orders", "orders.csv", true, orders),
    ("documents", "documents.jsonl", false, documents))
}

final class Run(workload: String, data: String, raw: Option[String],
    warmup: String, out: String, seconds: Double, deadline: Double,
    trace: Boolean, minRounds: Int, ingestReps: Int, queries: Seq[String],
    sinks: Seq[String], uncounted: Set[String]) {

  private val ingest = raw.isDefined
  private var spark: SparkSession = _
  private val lastExec = new LastExecution
  private val stageListener = new StageListener
  private var tracer = new Tracer(false)

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.listenerManager.register(lastExec)
    s.sparkContext.addSparkListener(stageListener)
    s
  }

  /** Session, then the same warm-up Bench runs before timing, over the
    * workload's fixture (for `ingest_scaled`, the base fixture its raw
    * files were grown from). The workloads' queries need none of Bench's
    * layout or model preparation steps; `ingest_scaled` needs its
    * parquet tables laid out beside the ones it ingests. Returns the
    * seconds from JVM start. */
  private def setUp(): Double = {
    spark = newSession()
    SparkEntry.queries("q_agg_pricing_summary")(spark, warmup).count()
    if (ingest) {
      linkStaticTables(s"$out/check/tables")
      linkStaticTables(s"$out/round/tables")
    }
    jvmSeconds
  }

  private def jvmSeconds: Double = (System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private def sweepCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  private def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  private def drainBus(): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private def withTag[T](tag: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(StageListener.TagKey, tag)
    try body
    finally spark.sparkContext.setLocalProperty(StageListener.TagKey, null)
  }

  def execute(): Map[String, Any] = {
    val setupS = setUp()
    val tables = if (ingest) s"$out/check/tables" else data

    // untimed check pass: every result written as parquet for run.py
    val check = roundOf(-1, "check", traced = false, dir = s"$out/check")

    val rounds = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = now()
    var lastDur = 0L
    // at least minRounds rounds, after the check pass has warmed every
    // operation; a traced run (untraced, traced, untraced) has its traced
    // round between two untraced ones. On a host so slow that the next
    // round would end past `deadline` seconds from JVM start, the run
    // stops once it has one round (two when traced), to end in time.
    val least = if (trace) math.max(3, minRounds) else minRounds
    val floor = if (trace) 2 else 1
    def more: Boolean =
      rounds.size < floor ||
        (jvmSeconds + secs(lastDur) <= deadline &&
          (rounds.size < least || secs(now() - t0 + lastDur) <= seconds))
    while (more) {
      val traced = trace && rounds.size % 2 == 1
      val r0 = now()
      rounds += roundOf(rounds.size, "timed", traced, s"$out/round")
      lastDur = now() - r0
    }
    val measuredS = secs(now() - t0)
    val kernels = if (trace) functionsProbe(tables) else Map.empty
    val rss = peakRssMb()
    spark.stop()
    Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "check" -> check,
      "rounds" -> rounds,
      "measured_s" -> measuredS,
      "functions" -> kernels,
      "peak_rss_mb" -> rss,
      "oracle_sql" -> queries.flatMap(q =>
        SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }

  /** The parquet tables that are not ingested, linked beside the
    * ingested ones so graft.engine.Tables finds every table in one dir. */
  private def linkStaticTables(dir: String): Unit = {
    new File(dir).mkdirs()
    new File(data).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        val dst = Paths.get(dir, f.getName)
        if (!Files.exists(dst)) Files.createLink(dst, f.toPath)
      }
  }

  /** One whole round: (ingest, then) every query into every sink. The
    * check pass writes everything as parquet only. */
  private def roundOf(idx: Int, kind: String, traced: Boolean,
      dir: String): Map[String, Any] = {
    tracer = new Tracer(traced)
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val r0 = now()
    tracer.span(0, "workload") { root =>
      val reps = if (kind == "check") 1 else ingestReps
      if (ingest) RawInputs.all.foreach { case (table, file, isCsv, schema) =>
        for (_ <- 1 to reps)
          samples += ingestOne(idx, root, table, s"${raw.get}/$file", isCsv,
            schema, s"$dir/tables/$table.parquet")
      }
      val tables = if (ingest) s"$dir/tables" else data
      val qsinks = if (kind == "check") Seq("parquet") else sinks
      for (q <- queries; sink <- qsinks
           if sink != "count" || !uncounted(q))
        samples += sampleOf(idx, root, q, sink, tables, s"$dir/results/$q")
      if (kind == "check") samples.transform(s =>
        if (s("sink") != "parquet" || s.contains("error")) s
        else s ++ readBack(s("path").toString))
    }
    Map("round" -> idx, "kind" -> kind, "traced" -> traced,
      "wall_s" -> secs(now() - r0), "samples" -> samples)
  }

  private def ingestOne(idx: Int, root: Int, table: String, path: String,
      isCsv: Boolean, schema: StructType, dst: String): Map[String, Any] = {
    val tag = s"$idx/ingest:$table/parquet"
    val t0 = now()
    var qspan = -1
    val (readNs, act) = tracer.span(root, "query") { qs =>
      qspan = qs
      val r0 = now()
      val df = tracer.span(qs, "sources.read") { _ =>
        if (isCsv) Readers.csv(spark, path, Some(schema))
        else Readers.json(spark, path, Some(schema))
      }
      val readNs = now() - r0
      (readNs, action(qs, tag, "sources.write") {
        Readers.writeParquet(df, dst); -1L
      })
    }
    val totalNs = now() - t0
    Map("query" -> s"ingest:$table", "sink" -> "parquet", "ingest" -> true,
      "path" -> dst, "build_s" -> secs(readNs), "total_s" -> secs(totalNs),
      "self_s" -> selfTimes(qspan)) ++ act
  }

  private def sampleOf(idx: Int, root: Int, q: String, sink: String,
      tables: String, dst: String): Map[String, Any] = {
    val fn = SparkEntry.queries(q)
    val tag = s"$idx/$q/$sink"
    val t0 = now()
    try {
      var qspan = -1
      val sample = tracer.span(root, "query") { qs =>
        qspan = qs
        val b0 = now()
        val df = withTag(s"$tag/build") {
          tracer.span(qs, "queries.build") { bs =>
            val df = fn(spark, tables)
            addPhases(bs, df.queryExecution, Set("analysis"))
            df
          }
        }
        val buildNs = now() - b0
        drainBus()
        val (buildJobs, buildStages) = stageListener.drainTag(s"$tag/build")
        val cached = if (tracer.on) cachedMb() else 0.0
        val analysisS = phaseSeconds(df.queryExecution, "analysis")
        val act = action(qs, tag, "exec.action") {
          sink match {
            case "noop" =>
              CountingSink.take()
              df.write.format(CountingSink.format).mode("overwrite").save()
              CountingSink.take()
            case "count" => df.count()
            case "parquet" => Readers.writeParquet(df, dst); -1L
          }
        }
        val totalNs = now() - t0
        val cachedAfter = if (tracer.on) cachedMb() else 0.0
        // frames the query persisted are dropped outside the timing, as
        // Bench does, so caches never accumulate across operations
        sweepCaches()
        Map("query" -> q, "sink" -> sink, "path" -> dst,
          "build_s" -> secs(buildNs),
          "build_jobs" -> buildJobs.size,
          "build_scan_rows" -> buildStages.map(_.inRecords).sum,
          "cached_mb" -> math.max(cached, cachedAfter),
          "total_s" -> secs(totalNs)) ++ act ++
          Map("analysis_s" -> (analysisS +
            act.getOrElse("analysis_s", 0.0).asInstanceOf[Double]))
      }
      sample + ("self_s" -> selfTimes(qspan))
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: $q/$sink failed: $e")
        sweepCaches()
        Map("query" -> q, "sink" -> sink, "error" -> e.toString,
          "total_s" -> secs(now() - t0))
    }
  }

  /** Self seconds per span name within one sample's query span. */
  private def selfTimes(querySpan: Int): Map[String, Double] =
    if (!tracer.on) Map.empty
    else Tracer.selfSeconds(tracer.subtree(querySpan))

  /** Reads a written result back through `Readers.parquet`: the rows it
    * holds and the seconds the read took. */
  private def readBack(path: String): Map[String, Any] = {
    val t0 = now()
    val n = Readers.parquet(spark, path).count()
    Map("readback_rows" -> n, "readback_s" -> secs(now() - t0))
  }

  private def phaseSeconds(qe: org.apache.spark.sql.execution.QueryExecution,
      phase: String): Double =
    qe.tracker.phases.get(phase).map(p => (p.endTimeMs - p.startTimeMs) / 1e3)
      .getOrElse(0.0)

  private def addPhases(parent: Int,
      qe: org.apache.spark.sql.execution.QueryExecution,
      names: Set[String]): Unit =
    if (tracer.on) qe.tracker.phases.foreach { case (name, p) =>
      if (names(name)) tracer.add(parent, s"planner.$name",
        tracer.fromEpochMs(p.startTimeMs), tracer.fromEpochMs(p.endTimeMs))
    }

  /** Runs one action under `tag`; returns the rows it produced and, when
    * traced, the planner, plan and execution metrics of that action. */
  private def action(parent: Int, tag: String, span: String)(
      body: => Long): Map[String, Any] = {
    lastExec.last = null
    var actSpan = -1
    val a0 = now()
    val n = withTag(s"$tag/action") {
      tracer.span(parent, span) { as =>
        actSpan = as
        val n = body
        if (tracer.on) {
          drainBus()
          Option(lastExec.last).foreach(qe =>
            addPhases(as, qe, Set("analysis", "optimization", "planning")))
        }
        n
      }
    }
    val actionNs = now() - a0
    drainBus()
    val qe = lastExec.last
    val stats = Option(qe).map(q => PlanStats.of(q.executedPlan))
    val written = stats.map(_.written).getOrElse(Map.empty)
    val rows = if (n >= 0) n else written.getOrElse("numOutputRows", -1L)
    val (jobs, stages) = stageListener.drainTag(s"$tag/action")
    val base = Map[String, Any]("action_s" -> secs(actionNs), "rows" -> rows,
      "written_bytes" -> written.getOrElse("numOutputBytes", 0L),
      "written_files" -> written.getOrElse("numFiles", 0L),
      "scan_rows" -> stages.map(_.inRecords).sum)
    if (!tracer.on || qe == null) return base
    jobs.foreach { j =>
      val js = tracer.add(actSpan, "exec.job",
        tracer.fromEpochMs(j.startMs), tracer.fromEpochMs(j.endMs))
      stages.filter(_.jobId == j.jobId).foreach(s =>
        tracer.add(js, "exec.stage", tracer.fromEpochMs(s.submitMs),
          tracer.fromEpochMs(s.completeMs)))
    }
    val st = stats.get
    base ++ Map(
      "analysis_s" -> phaseSeconds(qe, "analysis"),
      "optimization_s" -> phaseSeconds(qe, "optimization"),
      "physical_s" -> phaseSeconds(qe, "planning"),
      "plan_nodes" -> st.nodes, "exchanges" -> st.exchanges,
      "sorts" -> st.sorts, "scans" -> st.scans,
      "join_rows_out" -> st.joinRowsOut,
      "jobs" -> jobs.size, "stages" -> stages.size,
      "tasks" -> stages.map(_.tasks).sum,
      "task_run_s" -> stages.map(_.runMs).sum / 1e3,
      "task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "critical_path_s" -> stages.map(_.maxTaskMs).sum / 1e3,
      "scan_mb" -> st.scanBytes / 1e6,
      "shuffle_write_mb" -> stages.map(_.shuffleBytes).sum / 1e6,
      "shuffle_records" -> stages.map(_.shuffleRecords).sum,
      "spill_mb" -> stages.map(_.spillBytes).sum / 1e6)
  }

  /** `graft.functions` kernels timed on the workload's own vectors and
    * documents: rows through each kernel per second, and one approximate
    * top-k. Each is run twice and the second timing kept. */
  private def functionsProbe(tables: String): Map[String, Any] = {
    import graft.functions.{Ann, Native, TextSim}
    val emb = spark.read.parquet(s"$tables/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).cache()
    val docs = spark.read.parquet(s"$tables/documents.parquet")
      .select(split(col("text"), " ").as("toks")).cache()
    val nVec = emb.count()
    val nDoc = docs.count()
    // 64 probe vectors against every vector: nVec * 64 dot products
    val probe = broadcast(emb.filter(col("vec_id") < 64)
      .select(col("embedding").as("q")))
    val copies = 16
    val rep = explode(sequence(lit(1), lit(copies)))
    def timed(body: => Any): Double = {
      body
      val t0 = now(); body; secs(now() - t0)
    }
    val dotS = timed(emb.crossJoin(probe)
      .agg(sum(Native.dotF(col("embedding"), col("q")))).collect())
    val lshS = timed(emb.select(col("embedding"), rep.as("c"))
      .agg(sum(size(Native.lshSignatures(col("embedding"), 64, 12, 16,
        42L)))).collect())
    val simS = timed(docs.limit(SimhashDocs)
      .agg(sum(TextSim.simhash(col("toks")) % 1024)).collect())
    val annS = timed(Ann.approxCosineTopK(emb, "vec_id", "embedding", 10)
      .collect())
    emb.unpersist(); docs.unpersist()
    Map("dot_rows_per_s" -> nVec * 64L / dotS,
      "lsh_rows_per_s" -> nVec * copies / lshS,
      "simhash_rows_per_s" -> math.min(nDoc, SimhashDocs) / simS,
      "ann_topk_s" -> annS)
  }

  private val SimhashDocs = 500

  private def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }
}
