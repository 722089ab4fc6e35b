package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.json.Js
import graft.op.Env
import graft.streaming.{AppRunner, FileStreamIo, Io}

/** One written input file: where it went, when it was due and when it
  * became visible to the engine.
  */
final case class Written(topic: String, name: String, messages: Int,
    scheduledMs: Double, visibleMs: Double)

/** Writes message files into `<root>/<topic>/` the way a producer hands
  * them to the file source: each file is written under a temporary name
  * and renamed into the topic directory, so the engine never lists half a
  * file. Names are `m<digits>.json` in one global sequence (the engine
  * derives arrival order `__ord` from the digits) and modification times
  * strictly increase with the sequence, so the file source, which admits
  * files oldest first, reads them in sequence order.
  */
final class TopicWriter(root: Path) {
  private var fileNo = 0L
  private var lastMtime = 0L
  private val tmp = root.resolve(".tmp")
  private val staged = root.resolve(".staged")
  private val pending = mutable.ArrayBuffer.empty[(FileBatch, Path, String)]
  Files.createDirectories(tmp)
  Files.createDirectories(staged)

  def prepareTopics(topics: Seq[String]): Unit =
    topics.foreach(t => Files.createDirectories(root.resolve(t)))

  private def nextMtime(): Long = synchronized {
    lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
    lastMtime
  }
  private def content(b: FileBatch, st: Double, ct: Double): String = {
    val stamp = s"""{"_st":${st.toLong},"_ct":${ct.toLong},"""
    val sb = new StringBuilder
    b.lines.foreach(l => sb.append(stamp).append(l.substring(1)).append('\n'))
    sb.toString
  }
  private def publish(src: Path, b: FileBatch, name: String): Unit = {
    Files.setLastModifiedTime(src, FileTime.fromMillis(nextMtime()))
    Files.move(src, root.resolve(b.topic).resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Write the files of one tick, stamped as scheduled at `st`. */
  def write(batches: Seq[FileBatch], st: Double): Seq[Written] = batches.map { b =>
    val name = f"m$fileNo%010d.json"
    fileNo += 1
    val ct = Clock.nowMs
    val p = tmp.resolve(name)
    Files.writeString(p, content(b, st, ct))
    publish(p, b, name)
    Written(b.topic, name, b.lines.size, st, Clock.nowMs)
  }

  /** Write files aside now; `release` moves them in later, in order. */
  def stage(batches: Seq[FileBatch]): Unit = {
    val ct = Clock.nowMs
    batches.foreach { b =>
      val name = f"m$fileNo%010d.json"
      fileNo += 1
      val p = staged.resolve(name)
      Files.writeString(p, content(b, ct, ct))
      pending += ((b, p, name))
    }
  }
  def release(): Seq[Written] = {
    val out = pending.toSeq.map { case (b, p, name) =>
      val t = Clock.nowMs
      publish(p, b, name)
      Written(b.topic, name, b.lines.size, t, Clock.nowMs)
    }
    pending.clear()
    out
  }
}

/** The open-loop generator: one thread that writes each tick's files at
  * its scheduled time, whether or not the engine has kept up. The ticks'
  * messages are made beforehand from the workload's seeded feed; the
  * thread only stamps and writes them, and records how late each write
  * ran behind its schedule.
  */
final class OpenLoopGenerator(seed: Long, ticks: IndexedSeq[Seq[FileBatch]],
    tickMs: Long, writer: TopicWriter)
    extends Thread(s"graftbench-open-loop-$seed") {
  @volatile var t0Ms: Double = 0
  val written = mutable.ArrayBuffer.empty[Written]
  @volatile var endMs: Double = 0
  setDaemon(true)

  def startAt(t0: Double): Unit = { t0Ms = t0; start() }

  override def run(): Unit = {
    ticks.indices.foreach { k =>
      val st = t0Ms + k * tickMs
      var wait = st - Clock.nowMs
      while (wait > 0) {
        java.util.concurrent.locks.LockSupport.parkNanos((wait * 1e6).toLong)
        wait = st - Clock.nowMs
      }
      written ++= writer.write(ticks(k), st)
    }
    endMs = Clock.nowMs
  }
  def lateMs: Seq[Double] = written.toSeq.map(w => w.visibleMs - w.scheduledMs)
}

/** Maps input files to the micro-batch that read them, from the file
  * source's own metadata log (`<checkpoint>/sources/<n>/`) and the
  * per-trigger progress reports.
  */
final class BatchMap(ckpt: Path) {
  private val fileOffset = mutable.Map.empty[String, (String, Long)] // name -> (topic, logOffset)
  private val readLogs = mutable.Set.empty[String]
  private val Offset = "\"logOffset\"\\s*:\\s*(\\d+)".r

  /** Read log files not read before. */
  def refresh(): Unit = {
    def list(p: Path): Seq[Path] =
      Option(p.toFile.listFiles()).toSeq.flatten.map(_.toPath)
    list(ckpt.resolve("sources")).foreach { dir =>
        list(dir)
          .filterNot(p => p.getFileName.toString.startsWith("."))
          .filterNot(p => readLogs(p.toString))
          .foreach { p =>
            val lines =
              try Files.readAllLines(p).asScala.toSeq
              catch { case _: java.io.IOException => Nil }
            if (lines.nonEmpty) {
              lines.drop(1).filter(_.startsWith("{")).foreach { l =>
                val n = Js.parse(l)
                val path = n.get("path").asText()
                val parts = path.split('/')
                fileOffset(parts.last) = (parts(parts.length - 2), n.get("batchId").asLong())
              }
              readLogs += p.toString
            }
          }
      }
  }

  def offsetOf(name: String): Option[(String, Long)] = fileOffset.get(name)

  private def offset(s: String): Long =
    Option(s).flatMap(x => Offset.findFirstMatchIn(x)).map(_.group(1).toLong).getOrElse(-1L)
  private def topicOf(description: String): String =
    description.stripSuffix("]").split('/').last

  /** The trigger that read `name`, if it has completed. */
  def triggerOf(name: String, triggers: Seq[Trigger]): Option[Trigger] =
    offsetOf(name).flatMap { case (topic, off) =>
      triggers.find(t => t.sources.exists { case (d, s, e) =>
        topicOf(d) == topic && offset(s) < off && off <= offset(e)
      })
    }
}

/** Runs one streaming workload: set-up, backlog drains, open loop, output
  * check; with tracing, also a traced drain, the per-layer probes and a
  * drain at `local[1]`.
  */
final class StreamBench(wl: StreamWorkload, seed: Long, seconds: Int,
    trace: Boolean, work: Path, cpus: Int, out: Result) {

  private val spans = out.spans

  private final class Rig(val spark: SparkSession, val io: FileStreamIo,
      val writer: TopicWriter, val ckpt: Path, val probe: StreamProbe,
      val tableName: String) {
    val batches = new BatchMap(ckpt)
    def triggers: Seq[Trigger] = probe.all.filter(_.queryName == tableName)
    def query: StreamingQuery = io.queries(tableName)
    def stop(): Unit = {
      io.stopAll()
      spark.streams.removeListener(probe)
    }
  }

  /** Io that times the engine's calls into the file-stream transport. */
  private final class TimedIo(inner: FileStreamIo) extends Io {
    def source(spark: SparkSession, kind: String, name: String,
        options: Map[String, String]): DataFrame =
      spans("streaming.FileStreamIo.source")(inner.source(spark, kind, name, options))
    def sink(kind: String, name: String, df: DataFrame, asString: Boolean,
        partId: String, options: Map[String, String]): Unit =
      spans("streaming.FileStreamIo.start")(inner.sink(kind, name, df, asString, partId, options))
  }

  private var feed: Feed = _
  private var warmup: Seq[FileBatch] = Nil
  private var backlogs: Seq[Seq[FileBatch]] = Nil
  private var tracedBacklog: Seq[FileBatch] = Nil
  private var openTicks: IndexedSeq[Seq[FileBatch]] = IndexedSeq.empty

  import StreamBench._

  private def perTick(rate: Double) = math.max(1, math.round(rate * TickMs / 1000.0).toInt)

  /** All inputs, made from the seed before anything is timed. */
  private def makeInputs(): Unit = {
    feed = wl.newFeed(seed)
    val n = perTick(wl.openRate)
    warmup = (1 to WarmupTicks).flatMap(_ => feed.tick(n))
    def backlogFiles() = (1 to math.max(1, wl.backlogMsgs / n)).flatMap(_ => feed.tick(n))
    backlogs = (1 to wl.drains).map(_ => backlogFiles())
    if (trace) tracedBacklog = backlogFiles()
    val ticks = math.round(seconds * 1000.0 / TickMs).toInt
    openTicks = (1 to ticks).map(_ => feed.tick(n))
  }

  private def setup(no: Int, master: String): Rig = {
    val dir = work.resolve(s"session$no")
    val ckptRoot = dir.resolve("ckpt")
    val topics = dir.resolve("topics")
    val spark = spans("session.start")(Session.start(master, cpus, dir))
    val probe = new StreamProbe
    spark.streams.addListener(probe)
    val io = new FileStreamIo(topics.toString, wl.schemas, tableSuffix = s"_s$no",
      maxFilesPerTrigger = MaxFilesPerTrigger)
    val writer = new TopicWriter(topics)
    writer.prepareTopics(feed.topics)
    val env = Env(spark, scripts = name => wl.scripts.getOrElse(name,
      throw new IllegalArgumentException(s"no script $name")))
    val streams = spans("streaming.AppRunner.run")(
      new AppRunner(spark, new TimedIo(io), env).run(wl.spec))
    if (!wl.startsOwnSink)
      spans("streaming.FileStreamIo.start")(io.start(wl.outName, streams(wl.outName)))
    val table = io.tables(wl.outName).head
    val rig = new Rig(spark, io, writer, ckptRoot.resolve(table), probe, table)
    spans("warmup") {
      val w = writer.write(warmup, Clock.nowMs)
      awaitRead(rig, w, 120000)
    }
    rig
  }

  /** Wait until every file in `files` was read by a completed trigger;
    * returns those triggers.
    */
  private def awaitRead(rig: Rig, files: Seq[Written], timeoutMs: Long): Seq[Trigger] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var done = Option.empty[Seq[Trigger]]
    while (done.isEmpty) {
      require(rig.query.isActive, s"query stopped: ${rig.query.exception.map(_.getMessage)}")
      require(System.currentTimeMillis() < deadline,
        s"timed out waiting for ${files.size} files to be read")
      rig.batches.refresh()
      val ts = rig.triggers
      val found = files.map(f => rig.batches.triggerOf(f.name, ts))
      if (found.forall(_.isDefined)) done = Some(found.flatten)
      else Thread.sleep(10)
    }
    done.get
  }

  private final case class Drain(msgs: Long, startMs: Long, endMs: Long, triggers: Seq[Trigger]) {
    def wallMs: Long = endMs - startMs
    def rate: Double = msgs * 1000.0 / wallMs.max(1)
  }

  private def drain(rig: Rig, files: Seq[FileBatch]): Drain = {
    rig.writer.stage(files)
    val released = rig.writer.release()
    val ts = awaitRead(rig, released, 150000)
    val start = ts.map(_.startMs).min
    val end = ts.map(_.endMs).max
    Drain(released.map(_.messages.toLong).sum, start, end,
      rig.triggers.filter(t => t.startMs >= start && t.endMs <= end))
  }

  def run(): Unit = {
    spans("inputs")(makeInputs())
    // one set-up per run, in a fresh JVM: the cold start a deployed app pays
    val t0 = Clock.nowMs
    val rig = spans("setup")(setup(0, s"local[$cpus]"))
    out.setupS = (Clock.nowMs - t0) / 1000.0
    // several equal drains; the best rate is the one a stall of the shared
    // host did not slow (the best-of-passes rule of graft.Bench)
    val drains = backlogs.map(b => spans("drain")(drain(rig, b)))
    out.metric("throughput_ops_s", drains.map(_.rate).max, "1/s")
    out.info("drain_msgs", drains.head.msgs.toDouble)
    out.info("drains", drains.size.toDouble)

    var traced: Drain = null
    var sparkSnap = Map.empty[String, Double]
    var gcDrain = 0L
    if (trace) {
      val sparkProbe = new SparkProbe
      val gc0 = Jvm.gcMs
      // tracing overhead compares this drain with the untraced drain run
      // just before it, equally warm
      rig.spark.sparkContext.addSparkListener(sparkProbe)
      traced = spans("drain.traced")(drain(rig, tracedBacklog))
      Jvm.settle(sparkProbe)
      sparkSnap = sparkProbe.snapshot
      rig.spark.sparkContext.removeSparkListener(sparkProbe)
      gcDrain = Jvm.gcMs - gc0
    }

    // open loop at a fixed rate
    val gen = new OpenLoopGenerator(seed, openTicks, TickMs, rig.writer)
    spans("open_loop") {
      gen.startAt(Clock.nowMs + 200)
      gen.join()
    }
    val openFiles = gen.written.toSeq
    spans("open_loop.drain")(awaitRead(rig, openFiles, 150000))
    val trig = rig.triggers
    // (scheduled time, latency) per message
    val lat = mutable.ArrayBuffer.empty[(Double, Double)]
    var backlogAtEnd = 0L
    out.fileLatencies = openFiles.map { f =>
      val t = rig.batches.triggerOf(f.name, trig).get
      (1 to f.messages).foreach(_ => lat += ((f.scheduledMs, t.endMs - f.scheduledMs)))
      if (t.endMs > gen.endMs) backlogAtEnd += f.messages
      (f.scheduledMs - gen.t0Ms, t.endMs - f.scheduledMs)
    }
    // Latency percentiles per window of the open loop, then the median
    // over the windows: a stall of the shared host that hits one window
    // does not move the figure. Messages of one file share a latency, so
    // files are the samples; a window holds about a hundred, and p90 is
    // the highest percentile with ten or more of them beyond it.
    val span = openTicks.size * TickMs.toDouble
    val windows = lat.groupBy { case (st, _) =>
      math.min(LatencyWindows - 1, ((st - gen.t0Ms) / span * LatencyWindows).toInt)
    }.values.map(_.map(_._2).toSeq).toSeq
    out.metric("latency_p50_ms", Stats.median(windows.map(Stats.quantile(_, 0.50))), "ms")
    out.metric("latency_p90_ms", Stats.median(windows.map(Stats.quantile(_, 0.90))), "ms")
    out.info("open_loop_files", openFiles.size.toDouble)
    out.info("open_loop_rate_msgs_s", wl.openRate)
    out.info("open_loop_msgs", lat.size.toDouble)

    out.triggers = rig.triggers
    // output check, outside every timed region
    val rows = spans("check.collect")(rig.spark.table(rig.tableName).collect().toSeq)
    val check = spans("check.oracle")(wl.check(feed, rows))
    out.check(check)

    if (trace) {
      val layers = out.layers
      layers ++= sparkSnap
      layers ++= out.setupLayers(Seq("session.start", "streaming.AppRunner.run",
        "streaming.FileStreamIo.start", "warmup"))
      layers("jvm.gc_ms") = gcDrain.toDouble
      layers("streaming.trigger.count") = traced.triggers.size.toDouble
      layers("streaming.trigger.rows_mean") =
        traced.msgs.toDouble / traced.triggers.count(_.numInputRows > 0).max(1)
      Seq("queryPlanning", "getBatch", "latestOffset", "addBatch", "walCommit",
          "commitOffsets", "triggerExecution").foreach { k =>
        layers(s"streaming.trigger.${k}_ms") =
          traced.triggers.map(_.durations.getOrElse(k, 0L)).sum.toDouble
      }
      layers("streaming.trigger.coverage") =
        layers("streaming.trigger.triggerExecution_ms") / traced.wallMs.max(1)
      val last = rig.triggers.lastOption.toSeq.flatMap(_.state)
      layers("streaming.state.rows_total") = last.map(_.numRowsTotal).sum.toDouble
      layers("streaming.state.memory_bytes") = last.map(_.memoryUsedBytes).sum.toDouble
      val st = traced.triggers.flatMap(_.state)
      layers("streaming.state.commit_ms") = st.map(_.commitTimeMs).sum.toDouble
      layers("streaming.state.rows_updated") = st.map(_.numRowsUpdated).sum.toDouble
      layers("streaming.state.rows_removed") = st.map(_.numRowsRemoved).sum.toDouble
      val allState = rig.triggers.flatMap(_.state)
      if (wl == StreamWorkload.MergeJoin)
        layers("streaming.join.evicted_ratio") =
          allState.map(_.numRowsRemoved).sum.toDouble / allState.map(_.numRowsUpdated).sum.max(1L)
      layers("streaming.FileStreamIo.backlog_msgs") = backlogAtEnd.toDouble
      layers("gen.late_p99_ms") = Stats.quantile(gen.lateMs, 0.99)
      out.traceOverheadMs = traced.wallMs - drains.last.wallMs
      // trigger spans, with their reported phases as children laid end to end
      traced.triggers.foreach { t =>
        val id = spans.add("trigger", -1, t.startMs.toDouble, t.endMs.toDouble)
        var at = t.startMs.toDouble
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
            "commitOffsets").foreach { k =>
          val dur = t.durations.getOrElse(k, 0L).toDouble
          spans.add(s"trigger.$k", id, at, at + dur)
          at += dur
        }
      }
      Layers.perMessage(wl, feed, layers)
      Layers.compile(wl, rig.spark, work, layers)
    }
    rig.stop()
    Session.stop(rig.spark)

    if (trace) {
      // the same drain on one core: the scaling baseline
      feed = wl.newFeed(seed)
      val n = perTick(wl.openRate)
      warmup = (1 to WarmupTicks).flatMap(_ => feed.tick(n))
      val one = (1 to math.max(1, wl.backlogMsgs / n)).flatMap(_ => feed.tick(n))
      val r1 = spans("setup.local1")(setup(1, "local[1]"))
      val b = spans("drain.local1")(drain(r1, one))
      out.layers("baseline.local1_msgs_s") = b.rate
      r1.stop()
      Session.stop(r1.spark)
    }
  }
}

object StreamBench {
  /** The generator writes one tick of files every 50 ms: the reference's
    * producer flush interval.
    */
  val TickMs = 50L
  /** Large enough that a drain's whole backlog is one micro-batch: a
    * partial last batch would add a whole trigger's fixed cost to the drain
    * and make its rate depend on how the seed's files divide.
    */
  val MaxFilesPerTrigger = 10000
  /** ticks of input the set-up pushes through its fresh query */
  val WarmupTicks = 3
  /** open-loop windows whose latency percentiles are combined by median */
  val LatencyWindows = 3
}
