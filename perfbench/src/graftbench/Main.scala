package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Session {
  /** A local session whose every file (checkpoints, warehouse, shuffle and
    * spill files) lands under `dir`.
    */
  def start(master: String, cpus: Int, dir: Path): SparkSession = {
    Files.createDirectories(dir)
    SparkSession.builder()
      .master(master)
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", dir.resolve("ckpt").toString)
      .getOrCreate()
  }
  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** What one run measured and checked. */
final class Result {
  val spans = new Spans
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val infoMap = mutable.LinkedHashMap.empty[String, Double]
  var setupS = 0.0
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  var traceOverheadMs = 0.0
  var gateBreakdown: Seq[Map[String, Any]] = Nil
  var triggers: Seq[Trigger] = Nil
  var gateWalls: Map[String, Seq[Double]] = Map.empty
  /** per open-loop file: (scheduled ms after the loop's start, latency ms) */
  var fileLatencies: Seq[(Double, Double)] = Nil

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  /** The summed time of each named span inside the run's set-up, as the
    * layer metric `<name>_ms`.
    */
  def setupLayers(names: Seq[String]): Map[String, Double] = {
    val all = spans.all
    val setup = all.find(_.name == "setup").get
    names.map { n =>
      s"${n}_ms" -> all.filter(s => s.name == n && s.startMs >= setup.startMs &&
        s.endMs <= setup.endMs).map(s => s.endMs - s.startMs).sum
    }.toMap
  }
  def info(name: String, v: Double): Unit = infoMap(name) = v
  def check(c: Check): Unit = {
    attempted += c.attempted
    failed += c.failed
    notes ++= c.notes
    layers ++= c.ratios
  }

  private def js(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => js(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => Json.str(s)
    case m: Map[_, _] => m.map { case (k, x) => Json.str(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case null => "null"
    case other => Json.str(other.toString)
  }

  def toJson(env: Map[String, Any]): String = {
    val ss = spans.all
    val self = spans.selfTimes.map { case (k, (n, tot, s)) =>
      k -> Map("count" -> n, "total_ms" -> tot, "self_ms" -> s) }
    js(Map(
      "attempted" -> attempted, "failed" -> failed, "notes" -> notes.toList,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layers" -> layers.toMap,
      "info" -> infoMap.toMap,
      "trace_overhead_ms" -> traceOverheadMs,
      "env" -> env,
      "span_self_times" -> self,
      "spans" -> ss.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "gates" -> gateBreakdown,
      "gate_walls_ms" -> gateWalls,
      "open_loop_files" -> fileLatencies.map { case (st, l) => Seq(st, l) },
      "triggers" -> triggers.map(t => Map("batch" -> t.batchId, "start_ms" -> t.startMs,
        "rows" -> t.numInputRows, "durations_ms" -> t.durations))))
  }
}

/** Entry point: `graftbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <cpus> <work dir> <result file>`. Runs the workload at `local[cpus]`
  * and writes one JSON result file; the launcher reads it, runs the batch
  * oracle checks and prints the benchmark's result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, cpusS, workS, resultPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val trace = traceS == "1"
    val cpus = cpusS.toInt
    val work = Paths.get(workS).toAbsolutePath
    val out = new Result
    CodegenFallbacks.install()
    val t0 = Clock.nowMs
    var status = 0
    try {
      if (workload == "batch_gates")
        new BatchBench(seconds, trace, work, cpus, out).run()
      else
        new StreamBench(StreamWorkload(workload), seed, seconds, trace, work, cpus, out).run()
      out.metric("setup_s", out.setupS, "s")
      out.layers("jvm.rss_peak_mb") = Jvm.rssPeakMb
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.notes += s"run failed: $e"
        status = 1
    }
    val env = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "spark_master" -> s"local[$cpus]",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "run_wall_s" -> (Clock.nowMs - t0) / 1000.0)
    Files.writeString(Paths.get(resultPath), out.toJson(env))
    System.out.flush()
    // hard exit: no lingering non-daemon threads keep the JVM alive
    Runtime.getRuntime.halt(status)
  }
}
