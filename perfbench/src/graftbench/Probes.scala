package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock milliseconds with sub-millisecond digits. */
object Clock {
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (epochNs + System.nanoTime()) / 1e6
}

/** One micro-batch as the engine reported it. `endMs` is the trigger start
  * plus `triggerExecution`: the moment the batch's rows are at the sink.
  */
final case class Trigger(queryName: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], numInputRows: Long,
    sources: Seq[(String, String, String)], // description, start, end offset
    state: Seq[org.apache.spark.sql.streaming.StateOperatorProgress]) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Collects `StreamingQueryProgress` reports: the per-trigger layer
  * boundary of the micro-batch engine.
  */
final class StreamProbe extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p: StreamingQueryProgress = e.progress
    triggers.add(Trigger(Option(p.name).getOrElse(""), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      p.sources.toSeq.map(s => (s.description, s.startOffset, s.endOffset)),
      p.stateOperators.toSeq))
  }
  def all: Seq[Trigger] = triggers.asScala.toSeq.sortBy(t => (t.startMs, t.batchId))
}

/** Executor-side totals and job intervals from the scheduler bus. */
final class SparkProbe extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  /** jobId -> (start, end) wall ms; end 0 while running */
  val jobTimes = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  /** stageId -> (jobId, submitted, completed) */
  val stageTimes = mutable.LinkedHashMap.empty[Int, (Int, Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    jobTimes(e.jobId) = (e.time, 0L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageTimes(si.stageId) = (stageJob.getOrElse(si.stageId, -1),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def openJobs: Int = synchronized(jobTimes.values.count(_._2 == 0L))

  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.executorRun_ms" -> runMs.get.toDouble,
    "spark.executorCpu_ms" -> cpuNs.get / 1e6,
    "spark.gc_ms" -> gcMs.get.toDouble,
    "spark.shuffleRead_bytes" -> shuffleRead.get.toDouble,
    "spark.shuffleWrite_bytes" -> shuffleWrite.get.toDouble,
    "spark.spill_bytes" -> spill.get.toDouble)

  /** Union length of the job intervals that overlap [from, to]. */
  def jobWallWithin(from: Long, to: Long): (Int, Long) = synchronized {
    val iv = jobTimes.values.filter { case (s, e) => e != 0L && s >= from && s <= to }
      .toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (iv.size, covered)
  }
}

/** Catalyst phase times of every action, from `QueryExecution.tracker`. */
final class CatalystProbe extends QueryExecutionListener {
  /** (callback wall ms, analysis, optimization, planning) */
  val actions = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    actions.add((System.currentTimeMillis(), ms("analysis"),
      ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
  def within(from: Long, to: Long): Seq[(Long, Long, Long, Long)] =
    actions.asScala.toSeq.filter(a => a._1 >= from && a._1 <= to)
}

/** Counts whole-stage-codegen fallbacks, which Spark reports only as a
  * log line of `WholeStageCodegenExec`.
  */
object CodegenFallbacks {
  val count = new AtomicLong
  private var installed = false
  def install(): Unit = synchronized {
    if (!installed) {
      import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.Property
      val appender = new AbstractAppender("graftbench-codegen-fallbacks", null,
          null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getMessage.getFormattedMessage.contains("Whole-stage codegen disabled"))
            count.incrementAndGet()
      }
      appender.start()
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[LoggerContext]
      ctx.getRootLogger.asInstanceOf[org.apache.logging.log4j.core.Logger]
        .addAppender(appender)
      installed = true
    }
  }
  def compileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
}

/** Spans at the benchmark's own call boundaries, kept in memory and
  * written when the run ends.
  */
final class Spans {
  final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def add(name: String, parent: Int, startMs: Double, endMs: Double): Int = synchronized {
    val id = spans.size
    spans += Span(id, name, parent, startMs, endMs)
    id
  }
  /** Time `body` as a child of the innermost open span. */
  def apply[T](name: String)(body: => T): T = {
    val parent = synchronized(stack.headOption.getOrElse(-1))
    val id = add(name, parent, Clock.nowMs, 0)
    synchronized { stack = id :: stack }
    try body
    finally synchronized {
      spans(id) = spans(id).copy(endMs = Clock.nowMs)
      stack = stack.tail
    }
  }
  def all: Seq[Span] = synchronized(spans.toList)

  /** Per span name: count, total and self time (duration minus the union
    * of its children's intervals).
    */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val (tot, self) = group.foldLeft((0.0, 0.0)) { case ((t, s), sp) =>
        val d = sp.endMs - sp.startMs
        val iv = kids.getOrElse(sp.id, Nil)
          .map(c => (math.max(c.startMs, sp.startMs), math.min(c.endMs, sp.endMs)))
          .filter(x => x._2 > x._1).sortBy(_._1)
        var covered = 0.0
        var cs = Double.NegativeInfinity
        var ce = Double.NegativeInfinity
        iv.foreach { case (a, b) =>
          if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
          else ce = math.max(ce, b)
        }
        if (ce > cs) covered += ce - cs
        (t + d, s + d - covered)
      }
      name -> (group.size, tot, self)
    }
  }
}

object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb: Double = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
    lines.asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** The listener bus is asynchronous: wait until every started job has
    * reported its end (or a short timeout).
    */
  def settle(probe: SparkProbe, timeoutMs: Long = 3000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (probe.openJobs > 0 && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(50)
  }
}
