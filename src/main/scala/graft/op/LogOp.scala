package graft.op

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.TextNode
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.json.Js
import graft.expr.{Ctx, ExprCompiler}

/** Where `$log`/`$trace` entries (and the custom JSLT `trace` function) go.
  * Implementations run on EXECUTORS — they must be Serializable and cheap
  * to call per message. The reference writes through java.util.logging with
  * OpenTelemetry attributes (LogStage.java:36-110); here the contract is a
  * sink so tests can capture entries and production can bind SLF4J/OTel.
  */
trait LogSink extends Serializable {
  /** @param traceId `_corr` with the dashes removed (docs/aggregation_stages.md:325)
    * @param spanId  the first half of the trace id — the root span id
    * @param attributesJson evaluated `attributes` object as JSON, or null
    */
  def apply(logger: String, level: String, message: String,
      traceId: String, spanId: String, attributesJson: String): Unit
}

object LogSink {

  /** Default sink: SLF4J, the logging backbone Spark already ships. Java
    * levels (SEVERE..FINEST, reference getLogLevel) map onto the SLF4J
    * ladder.
    */
  object Slf4j extends LogSink {
    def apply(logger: String, level: String, message: String,
        traceId: String, spanId: String, attributesJson: String): Unit = {
      val l = org.slf4j.LoggerFactory.getLogger(logger)
      val ctx = Seq(
        Option(traceId).map("traceId=" + _),
        Option(spanId).map("spanId=" + _),
        Option(attributesJson).map("attributes=" + _)).flatten
      val line =
        if (ctx.isEmpty) message else s"$message [${ctx.mkString(" ")}]"
      Option(level).map(_.toUpperCase).getOrElse("INFO") match {
        case "SEVERE" | "ERROR"           => l.error(line)
        case "WARNING" | "WARN"           => l.warn(line)
        case "CONFIG" | "FINE" | "DEBUG"  => l.debug(line)
        case "FINER" | "FINEST" | "TRACE" => l.trace(line)
        case _                            => l.info(line)
      }
    }
  }

  final case class Entry(logger: String, level: String, message: String,
      traceId: String, spanId: String, attributesJson: String)

  /** Test sink: JVM-global capture. At local[*] executors share the JVM, so
    * specs can assert on what executors emitted.
    */
  object Capture extends LogSink {
    private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Entry]()
    def apply(logger: String, level: String, message: String,
        traceId: String, spanId: String, attributesJson: String): Unit =
      buf.add(Entry(logger, level, message, traceId, spanId, attributesJson))
    def entries: Seq[Entry] = buf.toArray(Array.empty[Entry]).toSeq
    def clear(): Unit = buf.clear()
  }

  /** The sink the JSLT `trace` builtin uses (it has no Env to thread — the
    * reference binds it at Context creation, Context.java:75). Swap for
    * Capture in tests; executors outside local mode keep the default.
    */
  @volatile var jslt: LogSink = Slf4j
}

/** `$log` and `$trace` as real side effects with identity dataflow
  * (docs/aggregation_stages.md:319-344, 804-824; LogStage.java:36-110).
  * The expressions (level / message / attributes) are evaluated COLUMNAR,
  * packed into one struct column, and emitted from a mapPartitions pass so
  * the write happens on executors exactly once per message flowing through.
  */
object LogOp {

  /** `$log`. Non-object spec: the stage object itself is logged once
    * (reference logStageObject) and the stage is a passthrough; an object
    * without `message` is a passthrough too.
    */
  def log(df: DataFrame, spec: JsonNode, env: Env): DataFrame =
    if (!spec.isObject) {
      env.logger(env.application, "INFO", quote(Js.render(spec)),
        null, null, null)
      df
    } else if (!spec.has("message")) df
    else {
      val ctx = Stages.ctxOf(df, env)
      def compile(n: JsonNode) = ExprCompiler.compile(n, ctx)
      val level =
        if (spec.has("level")) compile(spec.get("level")).cast(StringType)
        else lit(null).cast(StringType)
      val attributes = Option(spec.get("attributes"))
        .map(a => stringize(df, compile(a)))
      emit(df, env.logger, env.application, level,
        stringize(df, compile(spec.get("message"))), attributes, corr(ctx))
    }

  /** `$trace`: every message (or the expression's value) at INFO to the
    * engine logger (docs/aggregation_stages.md:804-824).
    */
  def trace(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val ctx = Stages.ctxOf(df, env)
    val message =
      if (spec == null || spec.isNull || spec.isBoolean)
        Stages.messageJson(df)
      else stringize(df, ExprCompiler.compile(spec, ctx))
    emit(df, env.logger, traceLogger, lit("INFO"), message, None, corr(ctx))
  }

  val traceLogger = "graft.streams"

  /** The message's `_corr` as a string (null when it has none). */
  private def corr(ctx: Ctx): Column =
    (if (ctx.doc.has("_corr"))
      ctx.doc.pathAs("_corr", TextNode.valueOf(""))
    else lit(null)).cast(StringType)

  /** The reference converts the evaluated message to a string and wraps it
    * in quotes to defuse java.util.logging formatting (escapeFormatting).
    */
  private def stringize(df: DataFrame, c: Column): Column = {
    val dt =
      try df.select(c).schema.head.dataType
      catch { case _: Exception => StringType }
    dt match {
      case StringType                               => c
      case _: StructType | _: ArrayType | _: MapType => to_json(c)
      case VariantType => // a variant STRING logs raw (reference
        // stringValue preference); structures fall back to JSON text
        coalesce(
          call_function("try_variant_get", c, lit("$"), lit("string")),
          to_json(c))
      case _                                        => c.cast(StringType)
    }
  }

  private def quote(s: String): String = "'" + s + "'"

  private def emit(df: DataFrame, sink: LogSink, logger: String,
      level: Column, message: Column, attributes: Option[Column],
      corr: Column): DataFrame = {
    val tagged = df.withColumn("__log", struct(
      level.as("level"), message.as("message"),
      attributes.getOrElse(lit(null).cast(StringType)).as("attributes"),
      corr.as("corr")))
    val schema = tagged.schema
    val idx = schema.fieldIndex("__log")
    tagged.mapPartitions { it =>
      it.map { r =>
        val lg = r.getStruct(idx)
        val traceId =
          if (lg.isNullAt(3)) null else lg.getString(3).replace("-", "")
        val spanId =
          if (traceId == null) null
          else traceId.substring(0, traceId.length / 2)
        sink(logger,
          if (lg.isNullAt(0)) "INFO" else lg.getString(0),
          if (lg.isNullAt(1)) "'null'" else quote(lg.getString(1)),
          traceId, spanId,
          if (lg.isNullAt(2)) null else lg.getString(2))
        r
      }
    }(Encoders.row(schema)).drop("__log")
  }
}
