package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One node of the run's span tree: run → phase → operation → Spark job →
  * stage. Times are epoch milliseconds, the clock Spark's events carry. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    trace: String, t0: Double, t1: Double) {
  def dur: Double = t1 - t0
}

/** Per-span counters summed from task ends and planning phases. */
final class Counters {
  var jobs, tasks, taskRetries = 0L
  var planMs, runMs, gcMs, schedMs, fetchWaitMs = 0.0
  var cpuNs, shuffleWrite, input, output, spill = 0L
  var recordsRead, recordsWritten = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskRetries += o.taskRetries
    planMs += o.planMs; runMs += o.runMs; gcMs += o.gcMs; schedMs += o.schedMs
    fetchWaitMs += o.fetchWaitMs; cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite
    input += o.input; output += o.output; spill += o.spill
    recordsRead += o.recordsRead; recordsWritten += o.recordsWritten
  }

  /** The counter set C of the layer table, scaled by `1 / per`. */
  def metrics(prefix: String, per: Double): Seq[(String, Double, String)] = {
    val mb = 1048576.0
    Seq(
      ("jobs", jobs.toDouble, "count"), ("tasks", tasks.toDouble, "count"),
      ("task_retries", taskRetries.toDouble, "count"),
      ("plan_s", planMs / 1e3, "s"), ("exec_run_s", runMs / 1e3, "s"),
      ("exec_cpu_s", cpuNs / 1e9, "s"), ("gc_s", gcMs / 1e3, "s"),
      ("sched_delay_s", schedMs / 1e3, "s"),
      ("shuffle_write_mb", shuffleWrite / mb, "MB"),
      ("fetch_wait_s", fetchWaitMs / 1e3, "s"), ("input_mb", input / mb, "MB"),
      ("output_mb", output / mb, "MB"), ("spill_mb", spill / mb, "MB"))
      .map { case (n, v, u) => (s"$prefix.$n", if (per > 0) v / per else 0.0, u) }
  }
}

/** The benchmark's own tracer. Operations are timed on the client thread
  * in every run; with `enabled` the tracer also registers a SparkListener,
  * a QueryExecutionListener and a StreamingQueryListener, tags every
  * operation with its own job group (the trace id), and keeps all spans in
  * memory until [[finish]] writes them as JSONL. Nothing inside the engine
  * is instrumented. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private var nextTrace = 0

  private val groupOf = mutable.Map.empty[Int, (String, Double)] // stage → (group, job start)
  private val jobGroup = mutable.Map.empty[Int, (String, Double)]
  private val stageCounters = mutable.Map.empty[Int, Counters]
  private val planned = mutable.ArrayBuffer.empty[(Double, Double)] // (start, ms)
  private val stageJob = mutable.Map.empty[Int, Int]
  // (kind, id, job, group, start, end): id is the job or stage id, job its job
  private val sparkSpans = mutable.ArrayBuffer.empty[(String, Int, Int, String, Double, Double)]
  var streamBatches = 0L
  var streamBatchMs = 0.0
  var peakStorageBytes = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobGroup(e.jobId) = (g, e.time.toDouble)
      e.stageIds.foreach { st =>
        groupOf(st) = (g, e.time.toDouble)
        stageJob(st) = e.jobId
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobGroup.get(e.jobId).foreach { case (g, t0) =>
        sparkSpans += (("job", e.jobId, e.jobId, g, t0, e.time.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      for (t0 <- i.submissionTime; t1 <- i.completionTime)
        sparkSpans += (("stage", i.stageId, stageJob.getOrElse(i.stageId, -1),
          groupOf.get(i.stageId).map(_._1).getOrElse(""), t0.toDouble, t1.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = stageCounters.getOrElseUpdate(e.stageId, new Counters)
      c.tasks += 1
      if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful) c.taskRetries += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
        c.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.input += m.inputMetrics.bytesRead; c.recordsRead += m.inputMetrics.recordsRead
        c.output += m.outputMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      val parts = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (parts.nonEmpty)
        planned += ((parts.map(_.startTimeMs).min.toDouble, parts.map(_.durationMs).sum.toDouble))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        streamBatches += 1
        streamBatchMs += e.progress.batchDuration
      }
  }
  // the session whose queries and streams are traced: one at a time
  private var attached: Option[SparkSession] = None
  if (enabled) sc.addSparkListener(listener)
  attach(spark)

  /** Trace the queries and streams of `session` from now on, and stop
    * tracing those of the session attached before. Job, stage and task
    * events are the context's and are traced for every session. */
  def attach(session: SparkSession): Unit = if (enabled) {
    detach()
    session.listenerManager.register(qeListener)
    session.streams.addListener(streamListener)
    attached = Some(session)
  }

  private def detach(): Unit = attached.foreach { s =>
    s.listenerManager.unregister(qeListener)
    s.streams.removeListener(streamListener)
    attached = None
  }

  private def open(kind: String, name: String, trace: String): Span = synchronized {
    nextId += 1
    val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0), kind, name, trace, nowMs, 0)
    stack = s :: stack
    s
  }
  private def close(s: Span): Span = synchronized {
    val done = s.copy(t1 = nowMs)
    spans += done
    stack = stack.tail
    done
  }

  /** A phase span: backfill, day k, report, warm-up, pass k. */
  def phase[T](name: String)(f: => T): T = {
    val s = open("phase", name, "")
    try f finally close(s)
  }

  /** One timed operation — one pipeline or one query — under its own
    * trace id and job group. Returns the result and the seconds it took. */
  def op[T](layer: String, name: String)(f: => T): (T, Double) = {
    nextTrace += 1
    val trace = f"op-$nextTrace%05d"
    val s = open("op", s"$layer:$name", trace)
    if (enabled) sc.setJobGroup(trace, s.name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      close(s)
      if (enabled) {
        sc.clearJobGroup()
        val used = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        peakStorageBytes = math.max(peakStorageBytes, used)
      }
    }
  }

  /** The operation a job belongs to: its job group when that is one of
    * ours, else the operation running when it started (streaming queries
    * run their batches under a job group of their own). */
  private def owner(group: String, start: Double, ops: Seq[Span]): Option[Span] =
    ops.find(_.trace == group).orElse(ops.find(o => o.t0 <= start && start <= o.t1))

  /** Counters of every operation in `layer` or below it, summed. */
  def countersOf(layer: String): Counters = {
    drain()
    val total = new Counters
    synchronized {
      val ops = spans.filter(_.kind == "op").toSeq
      def mine(o: Option[Span]) = o.exists { s =>
        val l = s.name.takeWhile(_ != ':')
        l == layer || l.startsWith(layer + ".")
      }
      stageCounters.foreach { case (st, c) =>
        groupOf.get(st).foreach { case (g, t) => if (mine(owner(g, t, ops))) total.add(c) }
      }
      total.jobs += jobGroup.values.count { case (g, t) => mine(owner(g, t, ops)) }
      planned.foreach { case (start, ms) =>
        if (mine(ops.find(o => o.t0 <= start && start <= o.t1))) total.planMs += ms
      }
    }
    total
  }

  /** Share of operation wall time during which no Spark job of the
    * operation was running: the self time of the op spans, spent planning
    * and waiting on the client thread. */
  def opSelfFraction(): Double = {
    drain()
    synchronized {
      val ops = spans.filter(_.kind == "op")
      val jobsByTrace = sparkSpans.filter(_._1 == "job").toSeq
        .groupBy(j => owner(j._4, j._5, ops.toSeq).map(_.trace).getOrElse(""))
      val total = ops.map(_.dur).sum
      val self = ops.map { o =>
        o.dur - union(jobsByTrace.getOrElse(o.trace, Nil).map(j =>
          (math.max(j._5, o.t0), math.min(j._6, o.t1))))
      }.sum
      if (total > 0) self / total else 0.0
    }
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var end = Double.NegativeInfinity
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }

  private def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def spanCount: Int = synchronized(spans.size + sparkSpans.size)

  /** Write every span as one JSON line, with its self time (duration not
    * covered by its children). Job spans hang under the operation that
    * owns them, stage spans under their job. */
  def finish(path: String): Unit = {
    drain()
    if (enabled) {
      sc.removeSparkListener(listener)
      detach()
    }
    val all = synchronized {
      val ops = spans.filter(_.kind == "op").toSeq
      var id = spans.map(_.id).maxOption.getOrElse(0)
      val jobs = sparkSpans.filter(_._1 == "job").map { case (_, job, _, g, t0, t1) =>
        id += 1
        val op = owner(g, t0, ops)
        job -> Span(id, op.map(_.id).getOrElse(0), "job", s"job $job",
          op.map(_.trace).getOrElse(g), t0, t1)
      }.toMap
      val stages = sparkSpans.filter(_._1 == "stage").map { case (_, st, job, g, t0, t1) =>
        id += 1
        val parent = jobs.get(job)
        Span(id, parent.map(_.id).getOrElse(0), "stage", s"stage $st",
          parent.map(_.trace).getOrElse(g), t0, t1)
      }
      spans.toSeq ++ jobs.values ++ stages
    }
    val children = all.groupBy(_.parent)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.t0).foreach { s =>
      val self = s.dur - union(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.t0, s.t0), math.min(c.t1, s.t1))))
      w.println(Main.json.writeValueAsString(ListMap("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "trace" -> s.trace, "start_ms" -> s.t0,
        "end_ms" -> s.t1, "self_ms" -> self)))
    } finally w.close()
  }
}
