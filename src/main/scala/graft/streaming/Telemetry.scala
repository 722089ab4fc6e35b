package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.op.{HttpTransport, LogSink}

/** OpenTelemetry-shaped telemetry (docs/telemetry.md) without binding a
  * vendor SDK:
  *
  *  - `OtlpLogSink` renders each engine-logger entry as an OTLP/HTTP
  *    `/v1/logs` export request (resourceLogs → scopeLogs → logRecords,
  *    the JSON encoding of the public OTLP protobuf) and posts it through
  *    the SAME pluggable HttpTransport `$http` uses. Activated by the
  *    `otlp.http` config entry, tee'd with the default SLF4J sink.
  *  - `eventTraces` builds the reference's flat event-trace messages
  *    (docs/telemetry.md:46-67): one JSON message per input message that
  *    carries a UUID `_corr`, emitted onto the `tracesTopic` config
  *    topic. Spans are flat — the trace id IS `_corr` (dashes removed by
  *    the downstream trace-assembly app, not here), and `timestampNanos`
  *    records the moment. A pure columnar projection: no state, no
  *    shuffle, scale-free.
  */
object Telemetry {

  /** Both sinks see every entry (SLF4J default + OTLP export). */
  def tee(a: LogSink, b: LogSink): LogSink = new LogSink {
    def apply(logger: String, level: String, message: String,
        traceId: String, spanId: String, attributesJson: String): Unit = {
      a(logger, level, message, traceId, spanId, attributesJson)
      b(logger, level, message, traceId, spanId, attributesJson)
    }
  }

  /** OTLP severityNumber brackets for the java-ish level names the
    * engine uses (SEVERE..FINEST plus the SLF4J ladder).
    */
  private[streaming] def severity(level: String): (Int, String) =
    Option(level).map(_.toUpperCase).getOrElse("INFO") match {
      case "SEVERE" | "ERROR"           => (17, "ERROR")
      case "WARNING" | "WARN"           => (13, "WARN")
      case "CONFIG" | "FINE" | "DEBUG"  => (5, "DEBUG")
      case "FINER" | "FINEST" | "TRACE" => (1, "TRACE")
      case _                            => (9, "INFO")
    }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One OTLP/HTTP JSON logs export request per entry. Executors post
    * directly (the transport is serializable, like `$http`): logs are a
    * side effect exactly where they happen, no driver funnel.
    */
  final class OtlpLogSink(endpoint: String, serviceName: String,
      http: HttpTransport) extends LogSink {
    def apply(logger: String, level: String, message: String,
        traceId: String, spanId: String, attributesJson: String): Unit = {
      val (num, text) = severity(level)
      val attrs =
        Option(attributesJson).map(a =>
          s""",{"key":"attributes","value":{"stringValue":${jstr(a)}}}""")
          .getOrElse("")
      val trace = Option(traceId)
        .map(t => s""","traceId":${jstr(t)},"spanId":${jstr(
            Option(spanId).getOrElse(t.substring(0, t.length / 2)))}""")
        .getOrElse("")
      val body =
        s"""{"resourceLogs":[{"resource":{"attributes":[
           |{"key":"service.name","value":{"stringValue":${jstr(serviceName)}}}]},
           |"scopeLogs":[{"scope":{"name":${jstr(logger)}},
           |"logRecords":[{"timeUnixNano":"${System.currentTimeMillis() * 1000000L}",
           |"severityNumber":$num,"severityText":${jstr(text)},
           |"body":{"stringValue":${jstr(message)}},
           |"attributes":[{"key":"logger","value":{"stringValue":${jstr(logger)}}}$attrs]
           |$trace}]}]}]}""".stripMargin.replace("\n", "")
      http("POST", endpoint.stripSuffix("/") + "/v1/logs",
        """{"Content-Type":"application/json"}""", body)
    }
  }

  /** Observed-metric name prefix the engine stamps on part streams
    * (`AppRunner`): `jsm__<part>.<sub>` → the reference's `part`
    * attribute value `<part>.<sub>` (docs/telemetry.md:33-44).
    */
  private[streaming] val MetricPrefix = "jsm__"

  /** OTLP/HTTP metrics export (docs/telemetry.md:31-44): observable
    * counters `json_streams.messages` (one data point per part subpart),
    * `json_streams.starts` and `json_streams.stops`, all CUMULATIVE
    * monotonic sums. Counts accumulate here (driver-side listener feed —
    * a few longs per part, not per-row traffic) and `flush()` posts one
    * `/v1/metrics` request, on the reference's once-a-minute cadence.
    */
  final class OtlpMetricSink(endpoint: String, application: String,
      instance: String, version: String, http: HttpTransport) {
    private val messages =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private val starts = new java.util.concurrent.atomic.AtomicLong
    private val stops = new java.util.concurrent.atomic.AtomicLong
    private val startNanos = System.currentTimeMillis() * 1000000L

    def addMessages(partSub: String, n: Long): Unit =
      messages.merge(partSub, n, (a, b) => a + b)
    def addStart(): Unit = { starts.incrementAndGet(); () }
    def addStop(): Unit = { stops.incrementAndGet(); () }

    /** Point-in-time state-store size per stateful operator (GAUGES, not
      * sums): makes unbounded-state regressions visible in the same feed
      * as the message counters.
      */
    private val state =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    def setState(operator: String, rows: Long, bytes: Long): Unit = {
      state.put(operator, (rows, bytes)); ()
    }

    /** Each query's last micro-batch phase durations (GAUGES, ms): the
      * per-trigger floor a deployed app pays, by phase.
      */
    private val triggers =
      new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
    def setTrigger(query: String, phase: String, ms: Long): Unit = {
      triggers.put((query, phase), ms); ()
    }

    private def attr(key: String, value: String): String =
      s"""{"key":${jstr(key)},"value":{"stringValue":${jstr(value)}}}"""

    private def base: String = Seq(
      attr("application", application), attr("instance", instance),
      attr("profile.frame.type", "json-streams"),
      attr("profile.frame.version", version)).mkString(",")

    private def point(value: Long, extra: String): String =
      s"""{"asInt":"$value","startTimeUnixNano":"$startNanos",
         |"timeUnixNano":"${System.currentTimeMillis() * 1000000L}",
         |"attributes":[$base$extra]}""".stripMargin.replace("\n", "")

    private def counter(name: String, points: Seq[String]): String =
      s"""{"name":${jstr(name)},"unit":"1","sum":{
         |"aggregationTemporality":2,"isMonotonic":true,
         |"dataPoints":[${points.mkString(",")}]}}""".stripMargin
        .replace("\n", "")

    private def gauge(name: String, points: Seq[String],
        unit: String = "1"): String =
      s"""{"name":${jstr(name)},"unit":${jstr(unit)},"gauge":{
         |"dataPoints":[${points.mkString(",")}]}}""".stripMargin
        .replace("\n", "")

    /** One cumulative export request carrying every counter. */
    def flush(): Unit = {
      import scala.jdk.CollectionConverters._
      val msgPoints = messages.asScala.toSeq.sortBy(_._1).map {
        case (partSub, n) => point(n, "," + attr("part", partSub))
      }
      val stateSnap = state.asScala.toSeq.sortBy(_._1)
      val stateMetrics =
        if (stateSnap.isEmpty) Nil
        else Seq(
          gauge("json_streams.state_rows", stateSnap.map { case (op, s) =>
            point(s._1, "," + attr("operator", op)) }),
          gauge("json_streams.state_bytes", stateSnap.map { case (op, s) =>
            point(s._2, "," + attr("operator", op)) }))
      val triggerSnap = triggers.asScala.toSeq.sortBy(_._1)
      val triggerMetrics =
        if (triggerSnap.isEmpty) Nil
        else Seq(gauge("json_streams.trigger_ms", triggerSnap.map {
          case ((q, phase), ms) =>
            point(ms, "," + attr("query", q) + "," + attr("phase", phase))
        }, unit = "ms"))
      val metrics = (Seq(
        counter("json_streams.messages", msgPoints),
        counter("json_streams.starts", Seq(point(starts.get(), ""))),
        counter("json_streams.stops", Seq(point(stops.get(), "")))) ++
        stateMetrics ++ triggerMetrics)
        .filter(_.contains("asInt")) // drop the messages counter pre-traffic
      val body =
        s"""{"resourceMetrics":[{"resource":{"attributes":[
           |{"key":"service.name","value":{"stringValue":${jstr(application)}}}]},
           |"scopeMetrics":[{"scope":{"name":"graft"},
           |"metrics":[${metrics.mkString(",")}]}]}]}""".stripMargin
          .replace("\n", "")
      http("POST", endpoint.stripSuffix("/") + "/v1/metrics",
        """{"Content-Type":"application/json"}""", body)
      ()
    }
  }

  /** One observed-metrics row into the sink. The field protocol: a
    * field named `count` counts the subpart itself
    * (`jsm__p.out` + `count` → part attribute `p.out`); any OTHER field
    * name is a finer split appended to the subpart (`jsm__t.command` +
    * `put` → `t.command.put` — the reference's per-command aggregate
    * counters, docs/telemetry.md:38).
    */
  private[streaming] def points(name: String,
      row: org.apache.spark.sql.Row): Seq[(String, Long)] =
    if (!name.startsWith(MetricPrefix)) Nil
    else {
      val sub = name.substring(MetricPrefix.length)
      row.schema.fields.zipWithIndex.toSeq.collect {
        case (f, i)
            if f.dataType == org.apache.spark.sql.types.LongType &&
              !row.isNullAt(i) =>
          (if (f.name == "count") sub else s"$sub.${f.name}") ->
            row.getLong(i)
      }
    }

  private[streaming] def feed(sink: OtlpMetricSink, name: String,
      row: org.apache.spark.sql.Row): Unit =
    points(name, row).foreach { case (k, n) => sink.addMessages(k, n) }

  /** The `durationMs` phases of a micro-batch that `json_streams.trigger_ms`
    * exports.
    */
  val TriggerPhases: Seq[String] = Seq("latestOffset", "getBatch",
    "queryPlanning", "addBatch", "walCommit", "commitOffsets",
    "triggerExecution")

  /** Streaming-query listener feeding the metric sink: each micro-batch's
    * `jsm__`-prefixed observed counts accumulate into the cumulative
    * counters; query starts/stops tick their counters; state sizes and
    * trigger phases set their gauges. Flushes at most
    * once per `intervalMillis` (reference cadence: a minute) plus once on
    * every termination, so a short-lived run still exports.
    */
  final class MetricsListener(sink: OtlpMetricSink,
      intervalMillis: Long = 60000L)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    @volatile private var lastFlush = System.currentTimeMillis()

    /** A part's observe nodes are embedded in EVERY consumer query's
      * freshly-compiled plan (its own sink, a downstream `fromStream`
      * part, the tracesTopic side query) and each query independently
      * processes the part's whole stream — so each observation name is
      * counted from exactly ONE query: the first to report it owns it
      * (released on termination, so a restart re-claims and the
      * cumulative counter keeps growing from one owner at a time).
      * Approximation at handoff: a successor claims from its OWN stream
      * position, so the owner-death gap can over- or under-count the
      * in-flight range — exact while an owner lives, which is the
      * steady state.
      */
    private val owners =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.UUID]()

    override def onQueryStarted(event: QueryStartedEvent): Unit =
      sink.addStart()

    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val rid = event.progress.runId
      event.progress.observedMetrics.asScala.foreach { case (name, row) =>
        if (owners.computeIfAbsent(name, _ => rid) == rid) {
          feed(sink, name, row)
          // `$probe` observes use the probe's own name (no jsm__ prefix):
          // bridge them into the counter export too, under `probe.<name>`,
          // so one OTLP feed carries the whole message-flow picture
          if (!name.startsWith(MetricPrefix)) {
            val idx = row.schema.fieldNames.indexOf("count")
            if (idx >= 0 && !row.isNullAt(idx))
              sink.addMessages(s"probe.$name", row.getLong(idx))
          }
        }
      }
      // watermark-dropped rows (late event-time data — e.g. a $delay
      // deliverAt behind the watermark) are silent loss unless exported:
      // surface them as a counter, per batch. Several consumer queries
      // embed the same part's plan and each drops its own copy of a late
      // row — the same ownership rule keeps the counter 1x (the logical
      // message was lost once).
      val lateDropped = event.progress.stateOperators
        .map(_.numRowsDroppedByWatermark).sum
      if (lateDropped > 0 &&
          owners.computeIfAbsent("late.dropped", _ => rid) == rid)
        sink.addMessages("late.dropped", lateDropped)
      // state-store size per operator, summed over the queries holding
      // that operator (each query's state is real, distinct state — no
      // ownership here) and over same-named operators within one query
      // (a join fed by a `$deduplicate` holds two transformWithState
      // operators) — the unbounded-state early-warning gauge
      val ops = event.progress.stateOperators.toSeq.groupBy(_.operatorName)
        .map { case (op, sos) =>
          op -> (sos.map(_.numRowsTotal).sum, sos.map(_.memoryUsedBytes).sum)
        }
      if (ops.nonEmpty) { stateByQuery.put(rid, ops); publishState() }
      // the trigger floor: this query's last batch, phase by phase
      val query =
        Option(event.progress.name).getOrElse(event.progress.id.toString)
      triggerQuery.put(rid, query)
      TriggerPhases.foreach(ph => sink.setTrigger(query, ph,
        Option(event.progress.durationMs.get(ph)).fold(0L)(_.longValue)))
      val now = System.currentTimeMillis()
      if (now - lastFlush >= intervalMillis) { lastFlush = now; sink.flush() }
    }

    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
      owners.values.removeIf(_ == event.runId)
      if (stateByQuery.remove(event.runId) != null) publishState()
      // a terminated query's phases zero out, like its state gauges
      Option(triggerQuery.remove(event.runId)).foreach(q =>
        TriggerPhases.foreach(sink.setTrigger(q, _, 0)))
      sink.addStop()
      sink.flush()
    }

    /** run id → the `query` attribute its trigger gauges carry */
    private val triggerQuery =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()

    private val stateByQuery = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, Map[String, (Long, Long)]]()
    @volatile private var publishedOps = Set.empty[String]

    private def publishState(): Unit = {
      import scala.jdk.CollectionConverters._
      val current = stateByQuery.values.asScala.toSeq.flatten
        .groupBy(_._1).map { case (op, kvs) =>
          op -> (kvs.map(_._2._1).sum, kvs.map(_._2._2).sum)
        }
      current.foreach { case (op, (rows, bytes)) =>
        sink.setState(op, rows, bytes)
      }
      // a terminated query's operators zero out rather than lingering at
      // their last value
      (publishedOps -- current.keySet).foreach(sink.setState(_, 0, 0))
      publishedOps = current.keySet
    }
  }

  /** Batch runs surface their observed metrics through the
    * QueryExecutionListener bus instead of streaming progress — same
    * counters, flushed per completed action (batch cadence is coarse).
    */
  final class BatchMetricsListener(sink: OtlpMetricSink)
      extends org.apache.spark.sql.util.QueryExecutionListener {
    /** Batch parts memoize their plans, so the SAME observe node re-fires
      * on every action that recomputes the shared subtree (each purpose
      * stream's action re-runs the command stream), and a short-circuit
      * action (`isEmpty`, `limit` probes) reports a PARTIAL count. Feed
      * the max-so-far per counter: a full recompute tops the counter up
      * to the true total once, re-executions and partial scans add 0.
      * Consequence: observation names must be unique per run (they are —
      * part names are unique, and one aggregate type = one part); two
      * distinct plans sharing a name would have the smaller count
      * swallowed by the max.
      */
    private val seen =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = {
      val metrics = qe.observedMetrics
      if (metrics.exists(_._1.startsWith(MetricPrefix))) {
        metrics.foreach { case (name, row) =>
          points(name, row).foreach { case (k, n) =>
            var added = 0L
            seen.compute(k, (_, p) => {
              val prev = if (p == null) 0L else p.longValue()
              added = math.max(n - prev, 0L)
              java.lang.Long.valueOf(math.max(prev, n))
            })
            if (added > 0) sink.addMessages(k, added)
          }
        }
        sink.flush()
      }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  private val UuidRe =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
      "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"

  /** A message field, whatever the frame shape: JSON extraction on
    * schemaless (key, value) frames, the typed column when declared,
    * null otherwise.
    */
  private def field(df: DataFrame, typed: String, jsonPath: String): Column =
    if (df.columns.contains("value") &&
      df.schema("value").dataType == StringType &&
      !df.columns.contains(typed.split("\\.").head))
      get_json_object(col("value"), jsonPath)
    else if (df.columns.contains(typed.split("\\.").head))
      col(typed).cast(StringType)
    else lit(null).cast(StringType)

  /** Event-trace messages for every input message with a UUID `_corr`
    * (docs/telemetry.md:46-67). `sub` is the subpart name (`<part>.in`,
    * `<part>.out`, `<part>.merged`, ...).
    */
  def eventTraces(df: DataFrame, application: String, part: String,
      sub: String, namespace: String, version: String): DataFrame = {
    val corr = field(df, "_corr", "$._corr")
    val user = field(df, "_jwt.sub", "$._jwt.sub")
    df.where(corr.rlike(UuidRe))
      .select(lit(null).cast(StringType).as("key"),
        to_json(struct(
          struct(
            lit(application).as("application"),
            lit(part).as("part"),
            lit("json-streams").as("profile.frame.type"),
            lit(version).as("profile.frame.version")).as("attributes"),
          lit(sub).as("name"),
          lit(namespace).as("serviceNamespace"),
          lit(application).as("serviceName"),
          lit(version).as("serviceVersion"),
          (unix_micros(current_timestamp()) * 1000).as("timestampNanos"),
          corr.as("traceId"),
          user.as("username"))).as("value"))
  }
}
