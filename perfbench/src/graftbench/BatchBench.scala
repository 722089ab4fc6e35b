package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The batch gates: a fixed list of `SparkEntry.queries` over seeded
  * tables. Each gate action is timed on its own after
  * `CacheLifecycle.releaseAll()`; passes repeat until the run's seconds
  * are used, and each gate reports its best pass.
  */
final class BatchBench(seconds: Int, trace: Boolean, work: Path, cpus: Int, out: Result) {
  import BatchBench._

  private val spans = out.spans
  private val tables = work.resolve("tables").toString
  private val gates = Gates

  private def timeGate(spark: SparkSession, fn: (SparkSession, String) => DataFrame)
      : (Double, Double) = {
    graft.ml.CacheLifecycle.releaseAll()
    val t0 = System.nanoTime()
    val df = fn(spark, tables)
    val t1 = System.nanoTime()
    df.count()
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }

  def run(): Unit = {
    // one set-up per run, in a fresh JVM: the cold start a deployed app pays
    val t0 = Clock.nowMs
    val (spark, queries) = spans("setup") {
      val spark = spans("session.start")(Session.start(s"local[$cpus]", cpus, work.resolve("session")))
      val queries = spans("queries.register") {
        graft.queries.Q.session(spark)
        SparkEntry.queries
      }
      val unknown = gates.filterNot(queries.contains)
      require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(",")}")
      // one cold pass over the gates: their first plan compiles, codegen
      // (and its fallbacks) and class loading count as set-up
      spans("warmup")(gates.foreach(g => timeGate(spark, queries(g))))
      (spark, queries)
    }
    out.setupS = (Clock.nowMs - t0) / 1000.0

    // timed passes
    val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val failedGates = mutable.Set.empty[String]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val gc0 = Jvm.gcMs
    val deadline = System.nanoTime() + seconds * 1000000000L
    var passes = 0
    spans("passes") {
      while (passes < MinPasses || System.nanoTime() < deadline) {
        val pt = System.nanoTime()
        gates.foreach { g =>
          try {
            val (b, a) = timeGate(spark, queries(g))
            walls.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += b + a
          } catch {
            case e: Throwable =>
              failedGates += g
              out.notes += s"gate $g threw: ${e.toString.take(300)}"
          }
        }
        passWalls += (System.nanoTime() - pt) / 1e6
        passes += 1
      }
    }
    val gcPasses = Jvm.gcMs - gc0
    out.gateWalls = walls.map { case (g, ws) => g -> ws.toSeq }.toMap
    // best of the passes per gate, as graft.Bench's value_min: host stalls
    // only ever slow a pass down
    val perGate = walls.map { case (g, ws) => g -> ws.min }.toMap
    val ms = perGate.values.toSeq
    out.metric("throughput_ops_s", ms.size * 1000.0 / ms.sum.max(1e-9), "1/s")
    out.metric("latency_p50_ms", Stats.median(ms), "ms")
    out.metric("latency_p90_ms", Stats.quantile(ms, 0.90), "ms")
    out.info("batch_wall_s", ms.sum / 1000.0)
    out.info("gate_p50_s", Stats.median(ms) / 1000.0)
    out.info("passes", passes.toDouble)
    out.info("gates", gates.size.toDouble)

    if (trace) tracedPass(spark, queries, Stats.median(passWalls.toSeq), gcPasses)

    // output dump for the oracle check, outside every timed region
    spans("check.dump") {
      val dump = work.resolve("gate_out")
      Files.createDirectories(dump)
      gates.filterNot(failedGates).foreach { g =>
        try {
          queries(g)(spark, tables).coalesce(1).write.mode("overwrite")
            .parquet(dump.resolve(g).toString)
        } catch {
          case e: Throwable =>
            failedGates += g
            out.notes += s"gate $g threw while dumping: ${e.toString.take(300)}"
        }
        graft.ml.CacheLifecycle.releaseAll()
      }
      // gate -> oracle SQL (null: no oracle) and the gates that threw
      val oracle = SparkEntry.oracleSql
      Files.writeString(dump.resolve("gates.json"),
        gates.map(g => Json.str(g) + ":" + oracle.get(g).map(Json.str).getOrElse("null"))
          .mkString("{\"oracle\":{", ",", "},\"failed\":") +
          failedGates.toSeq.sorted.map(Json.str).mkString("[", ",", "]}"))
    }
    out.attempted += gates.size
    out.failed += failedGates.size
    Session.stop(spark)
  }

  /** One more pass with the scheduler, Catalyst and codegen probes on:
    * the per-gate breakdown and the batch layers.
    */
  private def tracedPass(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      untracedPassMs: Double, gcMs: Long): Unit = {
    val sp = new SparkProbe
    val cp = new CatalystProbe
    spark.sparkContext.addSparkListener(sp)
    spark.listenerManager.register(cp)
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    spans("pass.traced") {
      gates.foreach { g =>
        val fn = queries(g)
        spans("gate") {
          graft.ml.CacheLifecycle.releaseAll()
          val cg0 = CodegenFallbacks.compileMs
          val fb0 = CodegenFallbacks.count.get
          val startMs = System.currentTimeMillis()
          val w0 = System.nanoTime()
          val df = spans("gate.build")(fn(spark, tables))
          val w1 = System.nanoTime()
          spans("gate.action")(df.count())
          val w2 = System.nanoTime()
          val endMs = System.currentTimeMillis()
          val pinned = spark.sparkContext.getPersistentRDDs.size
          Jvm.settle(sp)
          val (nJobs, jobWall) = sp.jobWallWithin(startMs, endMs)
          val cat = cp.within(startMs, endMs + 50)
          val wall = (w2 - w0) / 1e6
          rows += Map("gate" -> g, "wall_ms" -> wall, "build_ms" -> (w1 - w0) / 1e6,
            "action_ms" -> (w2 - w1) / 1e6, "jobs" -> nJobs, "job_wall_ms" -> jobWall,
            "driver_gap_ms" -> (wall - jobWall), "analysis_ms" -> cat.map(_._2).sum,
            "optimization_ms" -> cat.map(_._3).sum, "planning_ms" -> cat.map(_._4).sum,
            "codegen_compile_ms" -> (CodegenFallbacks.compileMs - cg0),
            "codegen_fallbacks" -> (CodegenFallbacks.count.get - fb0),
            "pinned_after" -> pinned)
        }
      }
    }
    val tracedMs = (System.nanoTime() - t0) / 1e6
    spark.listenerManager.unregister(cp)
    spark.sparkContext.removeSparkListener(sp)
    // the scheduler's job/stage intervals become child spans of each gate
    val gateSpans = spans.all.filter(_.name == "gate")
    sp.synchronized {
      sp.jobTimes.foreach { case (jid, (s, e)) =>
        gateSpans.find(gs => s >= gs.startMs && s <= gs.endMs).foreach { gs =>
          val parent = spans.all.filter(x => x.parent == gs.id && s >= x.startMs && s <= x.endMs)
            .headOption.map(_.id).getOrElse(gs.id)
          val jobSpan = spans.add("job", parent, s.toDouble, e.toDouble)
          sp.stageTimes.foreach { case (_, (j, ss, se)) =>
            if (j == jid) spans.add("stage", jobSpan, ss.toDouble, se.toDouble)
          }
        }
      }
    }
    out.gateBreakdown = rows.toSeq
    def sum(k: String) = rows.map(_(k) match {
      case d: Double => d
      case n: Int => n.toDouble
      case n: Long => n.toDouble
      case _ => 0.0
    }).sum
    val l = out.layers
    l ++= sp.snapshot
    l ++= out.setupLayers(Seq("session.start", "queries.register", "warmup"))
    l("jvm.gc_ms") = gcMs.toDouble
    l("queries.build_ms") = sum("build_ms")
    l("queries.action_ms") = sum("action_ms")
    l("queries.driver_gap_ms") = sum("driver_gap_ms")
    l("queries.jobs_per_gate") = sum("jobs") / rows.size.max(1)
    l("queries.wall_ms") = sum("wall_ms")
    l("catalyst.analysis_ms") = sum("analysis_ms")
    l("catalyst.optimization_ms") = sum("optimization_ms")
    l("catalyst.planning_ms") = sum("planning_ms")
    l("catalyst.codegen_compile_ms") = sum("codegen_compile_ms")
    // a plan falls back at its first compile in a session, which is in the
    // set-up or the first pass, not the traced pass: count the whole run
    l("catalyst.codegen_fallbacks") = CodegenFallbacks.count.get.toDouble
    l("ml.CacheLifecycle.pinned_after") = sum("pinned_after")
    out.traceOverheadMs = tracedMs - untracedPassMs
  }
}

object BatchBench {
  /** The gates at the 1/12, 3/12, ... 11/12 quantiles of per-gate wall
    * time among the gates under one second on the seeded tables.
    */
  val Gates: Seq[String] = Seq("q_text_quality", "q_group_collect", "q_multimodal_frames",
    "q_authority_psl", "q_dedup_ngram", "q_select_budget")
  /** timed passes run until the run's seconds are used, and at least this many */
  val MinPasses = 5
}
