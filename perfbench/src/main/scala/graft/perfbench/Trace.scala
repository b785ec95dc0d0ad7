package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `trace` groups the
  * spans of one op, gate or store build (the benchmark's "request").
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    layer: String, start: Long, end: Long)

/** In-memory span recorder plus the listeners that turn Spark's job,
  * stage, task, query-planning and streaming-progress events into child
  * spans and per-layer counters. Nothing is written until the run ends.
  *
  * Attribution is by "current request": the harness opens a span for each
  * op, gate or store build, and every Spark event that arrives while it is
  * open is counted against it. [[close]] drains the listener bus before
  * reading the counters, on every exit path, so a request's late stage
  * events can never land in the next request's counters.
  */
final class Tracer(spark: SparkSession) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000L
  def nowMicros: Long = epoch0 + (System.nanoTime() - nano0) / 1000L

  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }
  private def record(s: Span): Unit = synchronized { spans += s }

  @volatile private var current: Span = _
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val stageWindows = mutable.ArrayBuffer[(Long, Long)]()
  private val jobSpan = mutable.Map[Int, (Long, Long)]() // job -> (span id, start)
  private val stageJob = mutable.Map[Int, Long]() // stage -> job span id
  private var attached = false

  private def add(k: String, v: Double): Unit = counters.synchronized {
    counters(k) += v
  }
  private def max(k: String, v: Double): Unit = counters.synchronized {
    counters(k) = math.max(counters(k), v)
  }

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val cur = current
      if (cur != null) {
        add("exec.jobs", 1)
        val id = newId()
        jobSpan.synchronized { jobSpan(e.jobId) = (id, e.time * 1000L) }
        e.stageIds.foreach(s => stageJob.synchronized { stageJob(s) = id })
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val cur = current
      jobSpan.synchronized(jobSpan.remove(e.jobId)).foreach { case (id, start) =>
        if (cur != null)
          record(Span(id, cur.id, cur.trace, s"job ${e.jobId}", "spark.job", start, e.time * 1000L))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val cur = current
      val info = e.stageInfo
      if (cur != null) {
        add("exec.stages", 1)
        val start = info.submissionTime.getOrElse(0L) * 1000L
        val end = info.completionTime.getOrElse(0L) * 1000L
        stageWindows.synchronized { stageWindows += ((start, end)) }
        val parent = stageJob.synchronized(stageJob.remove(info.stageId)).getOrElse(cur.id)
        record(Span(newId(), parent, cur.trace, s"stage ${info.stageId}", "spark.stage",
          start, end))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (current != null && m != null) {
        add("exec.tasks", 1)
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        max("exec.peak_mem_mb", Fs.mb(m.peakExecutionMemory.toDouble))
        add("Tables.scan_rows", m.inputMetrics.recordsRead.toDouble)
        add("Tables.scan_mb", Fs.mb(m.inputMetrics.bytesRead.toDouble))
        add("shuffle.write_mb", Fs.mb(m.shuffleWriteMetrics.bytesWritten.toDouble))
        add("shuffle.read_records", m.shuffleReadMetrics.recordsRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_mb", Fs.mb((m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
      }
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (current != null) {
        val phases = qe.tracker.phases
        def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        add("plan.analysis_s", ms("analysis") / 1e3)
        add("plan.optimize_s", ms("optimization") / 1e3)
        add("plan.physical_s", ms("planning") / 1e3)
        add("plan.exchanges", graft.Bench.exchangeCount(qe.executedPlan.toString).toDouble)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val cur = current
      if (cur != null) {
        val d = e.progress.durationMs
        def s(k: String): Double = Option(d.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        add("stream.trigger_s", s("triggerExecution"))
        add("stream.add_batch_s", s("addBatch"))
        add("stream.commit_s", s("commitOffsets") + s("walCommit"))
        val start = java.time.Instant.parse(e.progress.timestamp).toEpochMilli * 1000L
        record(Span(newId(), cur.id, cur.trace, s"progress ${e.progress.batchId}",
          "stream.progress", start, start + (s("triggerExecution") * 1e6).toLong))
      }
    }
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Plans)
    spark.streams.removeListener(Streams)
    attached = false
  }

  /** Flush the async listener bus (public in bytecode, private[spark] in
    * source), so every event of the request that just returned is seen.
    */
  def drain(): Unit = Tracer.drain(spark)

  /** Open a request span; events are attributed to it until [[close]]. */
  def open(name: String, layer: String): Span = {
    val id = newId()
    val s = Span(id, 0L, id, name, layer, nowMicros, 0L)
    counters.synchronized { counters.clear() }
    stageWindows.synchronized { stageWindows.clear() }
    current = s
    s
  }

  /** Close the current request span. Returns its counters, including
    * `driver.self_s`: the request's wall time not covered by any running
    * stage (Spark driver-side loops, planning, result handling).
    */
  def close(s: Span): Map[String, Double] = {
    val end = nowMicros
    try drain()
    finally current = null
    record(s.copy(end = end))
    val covered = Tracer.covered(s.start, end, stageWindows.synchronized(stageWindows.toList))
    val out = counters.synchronized(counters.toMap)
    counters.synchronized { counters.clear() }
    out + ("driver.self_s" -> (end - s.start - covered) / 1e6)
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover, summed by layer.
    */
  def selfTimeByLayer: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
        (s.end - s.start - Tracer.covered(s.start, s.end, cs)) / 1e6
      }.sum
    }
  }
}

object Tracer {
  /** Length of the part of [from, to) that the union of `intervals` covers. */
  def covered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) total += b - math.max(a, reach)
        reach = math.max(reach, b)
      }
    total
  }

  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(100) }
}
