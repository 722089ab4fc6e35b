package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.json.Js
import graft.op.{Env, Stages}
import graft.streaming.{AggregateLogic, MessagePipeline}

/** Per-layer probes that call the engine's public functions on the
  * workload's own messages, outside the Spark job: per-message cost of
  * each JVM-side layer, and the compile cost of the workload's stages.
  */
object Layers {
  private val reps = 5

  /** Median over `reps` timings of `body`, in microseconds per item. */
  private def perItemUs(items: Int)(body: => Unit): Double = {
    body // warm
    Stats.median((1 to reps).map { _ =>
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e3 / items.max(1)
    })
  }
  private def medianMs(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e6
    })

  def perMessage(wl: StreamWorkload, feed: Feed,
      layers: mutable.Map[String, Double]): Unit = {
    val bodies = wl.sampleBodies(feed, 2000)
    var sink = 0L
    layers("json.Js.parse_us") = perItemUs(bodies.size)(bodies.foreach(b => sink += Js.parse(b).size()))
    val parsed = bodies.map(Js.parse)
    layers("json.Js.render_us") = perItemUs(parsed.size)(parsed.foreach(n => sink += Js.render(n).length))
    layers("jq.MiniJq.apply_us") = 0.0
    layers("jq.MiniJslt.apply_us") = 0.0
    def reducerInputs = parsed.map { c =>
      val in = Js.obj()
      in.set[JsonNode]("command", c)
      in.set[JsonNode]("state", Js.parse(
        """{"_id":"k1","_type":"plusminus2-counter","value":3,"_seq":7}"""))
      in
    }
    layers("streaming.AggregateLogic.step_us") = 0.0
    wl match {
      case StreamWorkload.Counter =>
        val scripts = StreamWorkload.Counter.scripts
        val plus = graft.jq.MiniJslt.compile(scripts("reducers/plus.jslt"), scripts, "reducers/plus.jslt")
        val put = graft.jq.MiniJq.compile(StreamWorkload.Counter.putReducer)
        val inputs = reducerInputs
        layers("jq.MiniJslt.apply_us") = perItemUs(inputs.size)(inputs.foreach(i => sink += plus(i).size()))
        layers("jq.MiniJq.apply_us") = perItemUs(inputs.size)(inputs.foreach(i => sink += put(i).size()))
        val conf = counterConfig()
        val cmds = parsed.map(_.asInstanceOf[ObjectNode])
        layers("streaming.AggregateLogic.step_us") = perItemUs(cmds.size) {
          val state = mutable.Map.empty[String, ObjectNode]
          cmds.foreach { c =>
            val k = c.get("_id").asText()
            val (next, emitted) = AggregateLogic.step(state.get(k), c.deepCopy[ObjectNode](), conf, 0L)
            next.foreach(state(k) = _)
            sink += emitted.size
          }
        }
      case _ =>
    }
    if (sink == 42) println() // keeps the probed work observable
  }

  /** The counter's validators and reducers, built the way an aggregate
    * part declares them.
    */
  private def counterConfig(): AggregateLogic.Config = {
    val scripts = StreamWorkload.Counter.scripts
    def jslt(path: String): (ObjectNode, ObjectNode) => ObjectNode = {
      val f = graft.jq.MiniJslt.compile(scripts(path), scripts, path)
      (command, state) => {
        val in = Js.obj()
        in.set[JsonNode]("command", command)
        in.set[JsonNode]("state", state)
        f(in).asInstanceOf[ObjectNode]
      }
    }
    val put = graft.jq.MiniJq.compile(StreamWorkload.Counter.putReducer)
    AggregateLogic.Config(appName = "", aggType = StreamWorkload.Counter.aggType,
      validators = Seq("plus", "minus", "put").map(c => c -> graft.op.Validate.resolve(
        Js.parse("\"validators/validate_" + c + ".yaml\""), scripts)).toMap,
      reducers = Map(
        "plus" -> jslt("reducers/plus.jslt"),
        "minus" -> jslt("reducers/minus.jslt"),
        "put" -> ((command: ObjectNode, state: ObjectNode) => {
          val in = Js.obj()
          in.set[JsonNode]("command", command)
          in.set[JsonNode]("state", state)
          put(in).asInstanceOf[ObjectNode]
        })))
  }

  /** Compile time of the workload's stages over a source of its own
    * shape (plan building only; nothing runs).
    */
  def compile(wl: StreamWorkload, spark: SparkSession, work: Path,
      layers: mutable.Map[String, Double]): Unit = {
    val dir = work.resolve("compile-probe")
    Files.createDirectories(dir)
    val env = Env(spark, scripts = wl.scripts)
    layers("expr.compile_ms") = wl match {
      case StreamWorkload.Counter =>
        val src = spark.readStream.text(dir.toString)
          .selectExpr("get_json_object(value, '$._id') AS key", "value")
        val dedup = Js.parseYaml(wl.scripts("duplicates.yaml"))
        medianMs {
          MessagePipeline.compile(dedup, env)(src).schema
          counterConfig()
        }
      case StreamWorkload.MergeJoin =>
        val src = spark.readStream.schema(wl.schemas("orders")).json(dir.toString)
        medianMs {
          src.select(Stages.expr(src, Js.parse("\"$corr\"")),
            Stages.expr(src, Js.parse("\"$ts\"")).cast("timestamp")).schema
        }
    }
  }
}
