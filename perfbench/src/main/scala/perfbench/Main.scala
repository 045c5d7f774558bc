package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{SaveMode, SparkSession}

/** The benchmark JVM: runs one workload, times it, checks what it can
  * check in-process and prints one `PERFBENCH_RESULT {...}` line that
  * `run.py` turns into the final record.
  *
  * {{{
  * perfbench.Main --workload etl_daily|sql_core --seed N
  *   --seconds S --trace 0|1 --work DIR --data DIR [--t0 EPOCH_MS]
  * }}}
  *
  * `--t0` is when the run started (the benchmark's set-up clock starts
  * there); `--data` holds the generated inputs: the school sources for
  * `etl_daily`, the query corpus for `sql_core`.
  */
object Main {
  /** Spark's task threads: half the host's four cores, so the driver
    * thread, the JIT and the GC have cores of their own and the timings do
    * not measure the scheduler. */
  val Cores = 2

  /** The query workload: a slice of the SURVEY §2 operator inventory (D1
    * dedup, watermark, star join, grade scale, the partitioned sink, two
    * streaming queries), then the graph family's triangle counts over the
    * memoized co-purchase pair table. Each group is its own layer. */
  val SqlCore: Seq[String] = Seq("q03", "q04", "q08", "q11", "q22", "q24", "q25")
  val GraphDedup: Seq[String] = Seq("q85")

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val runSeconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val (hostStart, probeS) = seconds(Host.probe())
    // set-up is timed from the start of the run, less the host probe's own time
    val t0 = opt.get("t0").map(_.toDouble).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble) +
      probeS * 1e3

    val spark = graft.core.Sessions.builder(s"local[$Cores]", Cores)
      .appName("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    val run = workload match {
      case "etl_daily" => etlDaily(spark, tracer, work, opt("data"), t0)
      case "sql_core" => queries(spark, tracer, work, opt("data"), runSeconds, t0)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val hostEnd = Host.probe()
    if (traced) tracer.finish(s"$work/trace.jsonl")
    val layers = if (traced) run.layers() else Nil
    val record = json.writeValueAsString(Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "attempted" -> run.attempted, "failed" -> run.failures.size,
      "failures" -> run.failures,
      "metrics" -> run.metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "layers" -> layers.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "host" -> Map("start" -> hostStart, "end" -> hostEnd),
      "spans" -> tracer.spanCount))
    println("PERFBENCH_RESULT " + record)
    spark.stop()
  }

  /** What a workload hands back: metrics, per-layer metrics (computed
    * lazily, traced runs only), operations attempted and failures. */
  final case class Run(metrics: Seq[(String, Double, String)], attempted: Long,
      failures: Seq[String], layers: () => Seq[(String, Double, String)])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def seconds[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** `readP50` is the median of the run's short read operations: the
    * report round after each day, or the SQL half of a pass. */
  private def endToEnd(setup: Double, first: Double, passP50: Double,
      readP50: Double, outBytes: Long): Seq[(String, Double, String)] = Seq(
    ("setup_s", setup, "s"),
    ("first_pass_s", first, "s"),
    ("pass_p50_s", passP50, "s"),
    ("read_p50_s", readP50, "s"),
    ("out_mb", outBytes / 1048576.0, "MB"))

  /** The span layers' counter sets, each divided by its number of units
    * (days, loads, reports, passes); a layer with no units reports 0. */
  private def spanLayers(tracer: Tracer, units: Map[String, Double]) =
    Seq("pipelines.day", "pipelines.backfill", "operators.report", "graft.sql", "graft.graph")
      .flatMap(l => tracer.countersOf(l).metrics(l, units.getOrElse(l, 0.0)))

  /** The ETL-only layers; 0 in `sql_core`. */
  private def etlLayers(values: Map[String, Double]): Seq[(String, Double, String)] =
    (Etl.PipelineNames.map(p => (s"pipelines.$p.wall_s", "s")) ++ Seq(
      ("pipelines.build_s", "s"), ("sources.wm_get_s", "s"), ("sources.wm_set_s", "s"),
      ("sources.files_written", "count"), ("sources.rows_written", "count"),
      ("sources.rows_read", "count"), ("sources.scan_useful_ratio", "ratio"),
      ("sources.mart_mb", "MB"))).map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }

  // ---- etl_daily ------------------------------------------------------------
  /** Rounds of the report queries after each day. */
  val ReportRounds = 3

  def etlDaily(spark: SparkSession, tracer: Tracer, work: String, sources: String,
      t0: Double): Run = {
    val etl = new Etl(spark, work, sources)
    val setup = (tracer.nowMs - t0) / 1e3
    val pipeWall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val reads = mutable.ArrayBuffer.empty[Double]
    val days = mutable.ArrayBuffer.empty[Double]
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def guarded(what: String)(f: => Unit): Unit = {
      attempted += 1
      try f catch { case e: Exception => failures += s"$what: ${e.getMessage}" }
    }
    def load(k: Int, layer: String): Double = {
      etl.publish(k)
      seconds {
        Etl.PipelineNames.foreach { p =>
          guarded(p) {
            val (_, s) = tracer.op(layer, p)(etl.runPipeline(p, etl.loadTime(k)))
            if (k > 0) pipeWall.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += s
          }
        }
      }._2
    }
    // after every day, ReportRounds rounds of each report, every report
    // reading one school in turn; a round's time is the sum of its
    // reports' medians, so one slow report in one round does not move it
    def readReports(k: Int): Double = tracer.phase("report") {
      val reportTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      (0 until ReportRounds).foreach { round =>
        Etl.ReportNames.zipWithIndex.foreach { case (r, i) =>
          guarded(s"report $r") {
            val school = etl.schools((k + i + round) % etl.schools.size)
            val (_, s) = tracer.op("operators.report", r)(etl.report(r, school))
            reportTimes.getOrElseUpdate(r, mutable.ArrayBuffer.empty) += s
          }
        }
      }
      Etl.ReportNames.map(r => median(reportTimes.getOrElse(r, Nil).toSeq)).sum
    }
    val backfill = tracer.phase("backfill")(load(0, "pipelines.backfill"))
    (1 to etl.manifest.days).foreach { k =>
      days += tracer.phase(s"day $k")(load(k, "pipelines.day"))
      reads += readReports(k)
    }
    val rssMb = Host.peakRssMb()
    failures ++= etl.check()
    val metrics = endToEnd(setup, backfill, median(days.toSeq), median(reads.toSeq),
      etl.martBytes)
    Run(metrics, attempted + etl.checksRun, failures.toSeq, () => {
      val loads = days.size + 1.0
      val day = tracer.countersOf("pipelines.day")
      val pipelines = tracer.countersOf("pipelines")
      spanLayers(tracer, Map("pipelines.day" -> days.size.toDouble, "pipelines.backfill" -> 1.0,
        "operators.report" -> (reads.size * ReportRounds * Etl.ReportNames.size).toDouble)) ++
        etlLayers(Etl.PipelineNames.map(p =>
          s"pipelines.$p.wall_s" -> median(pipeWall.getOrElse(p, Nil).toSeq)).toMap ++ Map(
          "pipelines.build_s" -> etl.buildNs / 1e9 / loads,
          "sources.wm_get_s" -> etl.watermarks.getNs / 1e9 / loads,
          "sources.wm_set_s" -> etl.watermarks.setNs / 1e9 / loads,
          "sources.files_written" -> etl.martFiles.toDouble,
          "sources.rows_written" -> pipelines.recordsWritten.toDouble,
          "sources.rows_read" ->
            (tracer.countersOf("operators.report").recordsRead + pipelines.recordsRead).toDouble,
          "sources.scan_useful_ratio" ->
            (if (day.recordsRead > 0) day.recordsWritten.toDouble / day.recordsRead else 0.0),
          "sources.mart_mb" -> etl.martBytes / 1048576.0)) ++
        common(spark, tracer, rssMb, Nil, median(days.toSeq))
    })
  }

  /** Layers shared by every workload, zero where idle. */
  private def common(spark: SparkSession, tracer: Tracer, rssMb: Double,
      cold: Seq[(String, Double)], passP50: Double): Seq[(String, Double, String)] = {
    val coldOf = cold.toMap
    Seq(("jvm.peak_rss_mb", rssMb, "MB"),
      ("core.memo_entries", graft.MemoProbe.entries(spark).toDouble, "count"),
      ("core.memo_mb", graft.MemoProbe.bytes(spark) / 1048576.0, "MB"),
      ("core.rdd_storage_mb", tracer.peakStorageBytes / 1048576.0, "MB")) ++
      GraphDedup.map(q => (s"graft.graph.$q.cold_s", coldOf.getOrElse(q, 0.0), "s")) ++
      Seq(("streaming.batches", tracer.streamBatches.toDouble, "count"),
        ("streaming.batch_s", tracer.streamBatchMs / 1e3, "s"),
        ("trace.pass_p50_s", passP50, "s"),
        ("trace.op_self_frac", tracer.opSelfFraction(), "ratio"),
        ("trace.spans", tracer.spanCount.toDouble, "count"))
  }

  // ---- sql_core -----------------------------------------------------------
  /** At least this many passes are timed, however short `--seconds` is. */
  val MinPasses = 3

  /** One untimed warm-up pass on a session of its own (JIT and codegen
    * caches; counted in set-up), then timed passes until `seconds` have
    * gone by and at least [[MinPasses]] ran. Every pass starts a fresh
    * session, so its memo is empty: it runs the SQL queries, then the graph
    * query cold (building its pair table) and once more warm (reading the
    * memoized table). Every execution writes its result as parquet; the
    * last pass's results are what run.py checks against DuckDB. */
  def queries(spark: SparkSession, tracer: Tracer, work: String, data: String,
      runSeconds: Double, t0: Double): Run = {
    val all = graft.SparkEntry.queries
    def named(ids: Seq[String]) = ids.map(id => all.keys.find(_.startsWith(id + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query $id")))
    val sql = named(SqlCore)
    val graph = named(GraphDedup)
    val results = s"$work/results"
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    // seconds of every execution, by (layer, name as traced)
    val times = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[Double]]
    def exec(session: SparkSession, layer: String, q: String, tag: String = ""): Unit = {
      attempted += 1
      try {
        val (_, s) = tracer.op(layer, q + tag) {
          all(q)(session, data).write.mode(SaveMode.Overwrite).parquet(s"$results/$q")
        }
        times.getOrElseUpdate((layer, q + tag), mutable.ArrayBuffer.empty) += s
      } catch { case e: Exception => failures += s"$q$tag: ${e.getMessage}" }
    }
    tracer.phase("warm-up") {
      val session = spark.newSession()
      (sql ++ graph).foreach(q => exec(session, "warmup", q))
    }
    val setup = (tracer.nowMs - t0) / 1e3
    val tStart = System.nanoTime()
    var session = spark
    var k = 0
    while (k < MinPasses || (System.nanoTime() - tStart) / 1e9 < runSeconds) {
      k += 1
      session = spark.newSession()
      tracer.attach(session)
      tracer.phase(s"pass $k") {
        sql.foreach(q => exec(session, "graft.sql", q))
        graph.foreach(q => exec(session, "graft.graph", q))
        graph.foreach(q => exec(session, "graft.graph", q, " warm"))
      }
    }
    // A pass's time is the sum of its operations' medians over the passes,
    // so one slow operation in one pass does not move it.
    def p50(layer: String, tag: String = "")(q: String) =
      median(times.getOrElse((layer, q + tag), Nil).toSeq)
    val readP50 = sql.map(p50("graft.sql")).sum
    val coldP50 = graph.map(p50("graft.graph")).sum
    val warmP50 = graph.map(p50("graft.graph", " warm")).sum
    val rssMb = Host.peakRssMb()
    val oracle = graft.SparkEntry.oracleSql.filter(e => (sql ++ graph).contains(e._1))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$results/oracle_sql.json"),
      json.writeValueAsString(oracle))
    val outBytes = (sql ++ graph).map(q => Host.bytesUnder(new java.io.File(s"$results/$q"))).sum
    val metrics = endToEnd(setup, readP50 + coldP50, readP50 + warmP50, readP50, outBytes)
    val last = session
    Run(metrics, attempted, failures.toSeq, () => {
      spanLayers(tracer, Map("graft.sql" -> k.toDouble, "graft.graph" -> k.toDouble)) ++
        etlLayers(Map.empty) ++
        common(last, tracer, rssMb,
          graph.map(q => q.takeWhile(_ != '_') -> p50("graft.graph")(q)), readP50 + warmP50)
    })
  }
}

/** Host facts: a health probe like `graft.Bench`'s calibration loops, and
  * the JVM's peak resident set. */
object Host {
  private def spin(iters: Long): Long = {
    var s = 0L
    var i = 0L
    while (i < iters) { s += i * i; i += 1 }
    s
  }

  /** Seconds for one single-thread loop and for one loop per core at once
    * (each core runs half as many iterations); on a healthy host
    * `par / st` is about 0.5, and it rises when cores are taken away. */
  def probe(): Map[String, Double] = {
    spin(50000000L) // compile the loop before timing it
    val t0 = System.nanoTime()
    if (spin(200000000L) == 42) print("")
    val st = (System.nanoTime() - t0) / 1e9
    val sink = new java.util.concurrent.atomic.AtomicLong
    val t1 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val threads = (0 until cores).map(_ => new Thread(() => sink.addAndGet(spin(100000000L))))
    threads.foreach(_.start()); threads.foreach(_.join())
    val par = (System.nanoTime() - t1) / 1e9
    Map("st_s" -> st, "par_s" -> par, "par_ratio" -> par / st)
  }

  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def bytesUnder(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytesUnder).sum else f.length
}
