package graft.streaming

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.json.Js
import graft.op.{Env, Pipeline, Scripts, Stages}

/** How an application's edges bind to the world. Production: Kafka topics
  * (`fromTopic` → readStream.format("kafka"), docs/streams.md:47) and
  * collection CDC. Tests: file-stream sources + memory sinks — the same
  * golden-file convention as the reference's harness (docs/testing.md).
  */
trait Io {
  /** Resolve a source by kind ("topic" | "collection") and name.
    * `options` carries part-level admission hints — today
    * `maxPerSecond` from a `$throttle` stage, which sources map to their
    * native rate controls (maxOffsetsPerTrigger / maxFilesPerTrigger).
    */
  def source(spark: SparkSession, kind: String, name: String,
      options: Map[String, String] = Map.empty): DataFrame
  /** Bind a part output to a sink; returns a handle name. `partId` is the
    * stable identity of the producing part — checkpoint locations must be
    * derived from it (NOT from start order), or adding/reordering parts
    * silently reassigns checkpoint dirs across restarts. `options` sees
    * the same admission hints as the source (a throttled part needs a
    * paced trigger for the offsets-per-trigger cap to be a rate).
    */
  def sink(kind: String, name: String, df: DataFrame,
      asString: Boolean, partId: String = "",
      options: Map[String, String] = Map.empty): Unit
}

/** Compiles a declarative application (YAML/JSON, docs/application.md) —
  * parts of type stream / merge / join / aggregate — into a DAG of
  * DataFrames, one per named part, mirroring Common.build + App.createParts
  * (reference App.java:758-777) but emitting Spark plans instead of
  * reactive processor chains. Named streams are shared DataFrames (no
  * re-serialization between parts).
  */
final class AppRunner(spark: SparkSession, io: Io, env0: Env,
    config: Map[String, String] = Map.empty,
    /** streaming `{href}` resolution hook (reference app36): aggregate
      * reducers resolve refs through this at reduce time — HrefStore
      * locally, an external serving store on a real cluster. Batch mode
      * keeps its two-pass final-state collect.
      */
    hrefResolver: Option[String => Option[String]] = None) {

  /** `config("href.store") = <shared dir>`: a filesystem-backed serving
    * store every JVM can reach — the multi-JVM default between the
    * local-mode singleton and a fully external `hrefResolver`. Batch
    * runs SELF-FEED it (pass-1 final states publish here, pass 2
    * resolves through it), so self-referential batch datasets work on a
    * real cluster; states published by other runs remain resolvable.
    */
  private val fileHrefStore: Option[HrefStore.FileStore] =
    config.get("href.store").map(HrefStore.FileStore)

  /** Self-feed of the shared-dir href store: with `config("href.store")`
    * set, the `<type>-aggregate` purpose stream publishes every state it
    * carries into the store AS IT IS DRAINED — the Spark analog of the
    * reference keeping its Mongo aggregate collection current by writing
    * it (app36 resolves refs against the collection its own sinks
    * maintain). Executor-side and pass-through (rows unchanged);
    * `FileStore.put` is highest-`_seq`-wins, so several consumers of the
    * same purpose stream, a replayed micro-batch, or another engine
    * instance all converge on the latest state. Publication is as lazy as
    * the stream itself: an aggregate purpose stream nobody sinks
    * publishes nothing — route it to its purpose topic (as the reference
    * always does) and the store stays current.
    */
  private def hrefSelfFeed(df: DataFrame): DataFrame = fileHrefStore match {
    case None => df
    case Some(fs) =>
      import org.apache.spark.sql.{Encoders, Row}
      df.mapPartitions { (it: Iterator[Row]) =>
        it.map { r =>
          val v = r.getString(1)
          if (r.getString(0) != null && v != null) {
            val seq = Option(Js.parse(v).get("_seq"))
              .filter(_.isNumber).map(_.asLong()).getOrElse(-1L)
            fs.put(r.getString(0), seq, v)
          }
          r
        }
      }(Encoders.row(df.schema))
  }

  /** `$log` writes to a logger named after the application
    * (docs/aggregation_stages.md:321) — rebound per run() from the spec.
    */
  private var env: Env = env0

  /** `json_streams.messages`/`starts`/`stops` counter export
    * (docs/telemetry.md:33-44), populated by run() when `otlp.http` is
    * configured. The caller registers `metricsListener` on
    * `spark.streams` for the counts to flow (same contract as
    * `ProbeListener`) and removes it when done.
    */
  private var metricSink: Option[Telemetry.OtlpMetricSink] = None
  def metrics: Option[Telemetry.OtlpMetricSink] = metricSink
  def metricsListener: Option[Telemetry.MetricsListener] =
    metricSink.map(new Telemetry.MetricsListener(_,
      config.getOrElse("otlp.metricsIntervalMillis", "60000").toLong))
  /** Register on `spark.listenerManager` for BATCH runs (their observed
    * metrics ride the QueryExecutionListener bus, not streaming progress).
    */
  def batchMetricsListener: Option[Telemetry.BatchMetricsListener] =
    metricSink.map(new Telemetry.BatchMetricsListener(_))

  def run(yamlOrJson: String): Map[String, DataFrame] = {
    // one state-store provider for the WHOLE run, fixed before any part
    // compiles — not flipped mid-run by the first timer-using part
    // (see StatefulOps.ensureRocksDb)
    StatefulOps.ensureRocksDb(spark)
    // the reference's `plugins` config entry (docs/plugins.md): a directory
    // of per-plugin subdirectories/jars, each its own classloader
    config.get("plugins").foreach(p =>
      graft.plugin.Plugins.loadDirectory(java.nio.file.Paths.get(p)))
    val spec = Parameters.build(
      if (yamlOrJson.trim.startsWith("{")) Js.parse(yamlOrJson)
      else Js.parseYaml(yamlOrJson),
      config, env0.scripts)
    env = Option(spec.get("application")).filter(_.isTextual)
      .map(a => env0.copy(application = a.asText())).getOrElse(env0)
    // otlp.http (docs/telemetry.md): every engine-logger entry also
    // exports as an OTLP/HTTP logs request through the pluggable
    // transport, tee'd with the configured sink
    config.get("otlp.http").foreach { endpoint =>
      env = env.copy(logger = Telemetry.tee(env.logger,
        new Telemetry.OtlpLogSink(endpoint, env.application, env.http)))
    }
    val appVersion = Option(spec.get("version")).map(_.asText()).getOrElse("")
    // otlp.http also activates the message counters: every part's streams
    // get an `observe()` count (a CollectMetrics node — no shuffle, no
    // extra pass; Spark folds it into the existing stages) named
    // `jsm__<part>.<sub>`, surfaced per micro-batch to `metricsListener`
    metricSink = config.get("otlp.http").map(endpoint =>
      new Telemetry.OtlpMetricSink(endpoint, env.application,
        config.getOrElse("instance", java.util.UUID.randomUUID().toString),
        appVersion, env.http))
    def instr(sub: String)(df: DataFrame): DataFrame =
      if (metricSink.isEmpty) df
      else df.observe(Telemetry.MetricPrefix + sub,
        count(lit(1)).as("count"))
    val parts = Js.elems(spec.get("parts"))
    // STREAMING parts are stored as THUNKS: every consumer (each sink, each
    // downstream part, each harness query) gets a freshly-compiled plan.
    // Two concurrently-starting queries must never share one plan instance
    // — a transformWithState stage carries its StatefulProcessor object,
    // and Spark's per-start setHandle/init on a shared instance races
    // (STATEFUL_PROCESSOR_DUPLICATE_STATE_VARIABLE_DEFINED). Batch parts
    // memoize: reuse is safe and the aggregate href two-pass is eager.
    var streams = Map.empty[String, () => DataFrame]

    // $throttle (docs/aggregation_stages.md $throttle: maxPerSecond) is
    // admission control, not a row transform: the rate cap is applied at
    // the part's SOURCE (offsets/files per trigger) and paces the sink
    // trigger — the Spark-native equivalent of the reference's
    // upstream backpressure.
    val partByName: Map[String, JsonNode] =
      parts.flatMap(p => Option(p.get("name")).map(_.asText() -> p)).toMap

    // event-time $delay: `lateness` (ms) bounds deliverAt disorder and
    // `deadLetterTopic` reroutes rows beyond that bound — the SINK that
    // finally sees the `_deliver_at` frame sizes the watermark / router
    // with them, and that sink can be a DOWNSTREAM part's (fromStream
    // pass-through keeps the routing columns), so walk the upstream chain
    // to the part whose $delay stamped it. The walk resolves the WHOLE
    // stage spec (a later $delay replaces an earlier one, matching the
    // stage compiler) and both fields are read from that one node —
    // resolving them independently could combine a lateness from one
    // stage with a deadLetterTopic another stage declared.
    def delaySpec(part: JsonNode,
        seen: Set[String] = Set.empty): Option[JsonNode] = {
      val own = Option(part.get("pipeline")).toSeq.flatMap(Js.elems)
        .flatMap(st => Option(st.get("$delay")))
        .filter(_.has("deliverAt"))
        .lastOption
      own.orElse {
        val ups = Seq("fromStream").flatMap(f =>
          Option(part.get(f)).map(_.asText())) ++
          Seq("left", "right").flatMap(s =>
            Option(part.get(s)).flatMap(side =>
              Option(side.get("fromStream")).map(_.asText()))) ++
          (if (part.has("fromStreams"))
            Js.elems(part.get("fromStreams")).map(_.asText())
          else Nil)
        val found = ups.filterNot(seen).flatMap(n => partByName.get(n)
          .flatMap(p => delaySpec(p, seen + n)))
        // a merge of several delayed upstreams has ONE edelay sink: it
        // cannot honor two different (lateness, deadLetterTopic)
        // configurations — refuse rather than silently applying one
        // leg's bounds to the other leg's rows
        val configs = found.map(d =>
          (Option(d.get("lateness")).map(_.asLong()),
            Option(d.get("deadLetterTopic")).map(_.asText()))).distinct
        require(configs.size <= 1,
          s"part '${Option(part.get("name")).map(_.asText())
            .getOrElse("<unnamed>")}' merges streams whose $$delay " +
            "specs disagree on lateness/deadLetterTopic " +
            s"($configs) — align them or split the sink")
        found.headOption
      }
    }

    def admission(part: JsonNode): Map[String, String] = {
      val throttle = Option(part.get("pipeline")).toSeq.flatMap(Js.elems)
        .flatMap(st => Option(st.get("$throttle")))
        .flatMap(t => Option(t.get("maxPerSecond")))
        .map(_.asLong()).headOption
        .map(r => Map("maxPerSecond" -> r.toString)).getOrElse(Map.empty)
      val delay = delaySpec(part)
      val lateness = delay.flatMap(d => Option(d.get("lateness")))
        .map(l => Map("delayLateness" -> l.asLong().toString))
        .getOrElse(Map.empty)
      val deadLetter = delay.flatMap(d => Option(d.get("deadLetterTopic")))
        .map(d => Map("delayDeadLetter" -> d.asText()))
        .getOrElse(Map.empty)
      throttle ++ lateness ++ deadLetter
    }

    def resolveFrom(part: JsonNode): DataFrame =
      if (part.has("fromTopic"))
        io.source(spark, "topic", part.get("fromTopic").asText(),
          admission(part))
      else if (part.has("fromCollection"))
        io.source(spark, "collection", part.get("fromCollection").asText(),
          admission(part))
      else if (part.has("fromStream")) {
        val name = part.get("fromStream").asText()
        streams.getOrElse(name,
          throw new IllegalArgumentException(s"unresolved stream $name"))()
      } else
        throw new IllegalArgumentException(
          s"part needs fromTopic/fromStream/fromCollection")

    def sinks(part: JsonNode, df: () => DataFrame): Unit = {
      val asString =
        part.has("toString") && part.get("toString").asBoolean()
      val partId = Option(part.get("name")).map(_.asText()).getOrElse("")
      // each sink applies the thunk itself: toTopic + toCollection on one
      // part are two queries and must not share a plan instance
      if (part.has("toTopic")) {
        val topic = part.get("toTopic").asText()
        val probe = df()
        if (probe.isStreaming && DelayedDelivery.hasDelay(probe)) {
          // $delay splits the sink into 2-3 queries (immediate + the
          // delay kinds present); each gets a FRESH compile — starting
          // them from one shared plan would race any transformWithState
          // stage the pipeline also carries (one processor instance,
          // several per-start inits)
          val branches = Seq("immediate") ++
            (if (probe.columns.contains("_delay_ms")) Seq("delay")
            else Nil) ++
            (if (probe.columns.contains("_deliver_at")) Seq("edelay")
            else Nil)
          branches.foreach(b => io.sink("topic", topic, df(), asString,
            partId, admission(part) + ("delayBranch" -> b)))
        } else
          io.sink("topic", topic, probe, asString, partId, admission(part))
      }
      if (part.has("toCollection"))
        io.sink("collection", part.get("toCollection").asText(), df(),
          asString, partId, admission(part))
    }

    // parts can reference later parts' streams; resolve iteratively
    var pending = parts
    var progress = true
    while (pending.nonEmpty && progress) {
      progress = false
      val (ready, rest) = pending.partition { p =>
        val needs = Seq("fromStream").flatMap(f =>
          Option(p.get(f)).map(_.asText())) ++
          Seq("left", "right").flatMap(s =>
            Option(p.get(s)).flatMap(side =>
              Option(side.get("fromStream")).map(_.asText()))) ++
          (if (p.get("type").asText() == "merge" && p.has("fromStreams"))
            Js.elems(p.get("fromStreams")).map(_.asText())
          else Nil)
        needs.forall(streams.contains)
      }
      ready.foreach { part =>
        val produced = compilePart(part, resolveFrom, streams, instr)
        val isStream = produced.exists(_._2.isStreaming)
        produced.foreach { case (n, df) =>
          streams += n -> (
            if (isStream) () =>
              compilePart(part, resolveFrom, streams, instr)
                .collectFirst { case (`n`, d) => d }.get
            else () => df)
        }
        part.get("type").asText() match {
          case "aggregate" => // aggregate sinks are its purpose topics
          case _ =>
            val pname = part.get("name").asText()
            sinks(part, streams(pname))
            // tracesTopic (docs/telemetry.md:46-67): each part also emits
            // flat event traces for messages carrying a UUID _corr — a
            // pure projection side sink, one per part output
            config.get("tracesTopic").foreach { t =>
              // the traces query shares the part's admission options: a
              // $throttle'd part needs the paced trigger HERE too, or the
              // source offsets cap stops being a rate on this query
              io.sink("topic", t,
                Telemetry.eventTraces(streams(pname)(), env.application,
                  pname, s"$pname.out",
                  config.getOrElse("namespace", "json-streams"), appVersion),
                asString = false, s"$pname-traces", admission(part))
            }
        }
        progress = true
      }
      pending = rest
    }
    if (pending.nonEmpty)
      throw new IllegalArgumentException(
        s"unresolvable parts: ${pending.map(p => p.get("name")).mkString(",")}")
    // one fresh instance per name for the caller's own queries (harnesses
    // start these; the sink queries above each compiled their own)
    streams.map { case (n, f) => n -> f() }
  }

  private def compilePart(part: JsonNode, resolveFrom: JsonNode => DataFrame,
      streams: Map[String, () => DataFrame],
      instr: String => DataFrame => DataFrame = _ => identity)
      : Seq[(String, DataFrame)] = {
    val name =
      Option(part.get("name")).map(_.asText())
        .orElse(Option(part.get("aggregateType")).map(_.asText()))
        .getOrElse("")
    part.get("type").asText() match {
      case "stream" =>
        // metric subparts per docs/telemetry.md:38: `<part>.in`/`<part>.out`
        val src = instr(s"$name.in")(resolveFrom(part))
        val out =
          if (!part.has("pipeline")) src
          else Pipeline.compile(part.get("pipeline"), env)(src)
        Seq(name -> instr(s"$name.out")(out))

      case "merge" => // docs/merge.md: n-ary union
        val srcs: Seq[DataFrame] =
          if (part.has("fromTopics"))
            Js.elems(part.get("fromTopics"))
              .map(t => io.source(spark, "topic", t.asText()))
          else if (part.has("fromCollections"))
            Js.elems(part.get("fromCollections"))
              .map(t => io.source(spark, "collection", t.asText()))
          else Js.elems(part.get("fromStreams")).map(s => streams(s.asText())())
        Seq(name -> instr(s"$name.merged")(
          srcs.reduce(_.unionByName(_, allowMissingColumns = true))))

      case "join" =>
        Seq(name -> instr(s"$name.out")(joinPart(part, resolveFrom, instr)))

      case "aggregate" =>
        // environment suffixes topic names: <type>-<purpose>[-<env>]
        // (docs/state.md:118)
        val baseType = part.get("aggregateType").asText()
        val envSuffix = Option(part.get("environment"))
          .map(e => "-" + e.asText()).getOrElse("")
        val aggType = baseType
        // Stamp arrival order on the SOURCE: per-command preprocessors below
        // split the stream and union it back, and a union re-numbers
        // monotonically_increasing_id leg by leg, destroying interleaved
        // order. A pre-split __ord survives the round trip so the stateful
        // reduce still sees commands in arrival order.
        val commands0 =
          io.source(spark, "topic", s"$aggType-command$envSuffix")
        val commands =
          if (commands0.columns.contains("__ord") || commands0.isStreaming)
            commands0 // streaming: arrival order IS the iterator order
          else commands0.withColumn("__ord", monotonically_increasing_id())
        // preprocessors may be inline pipelines or file references
        // (reference app8/app35: `preprocessor: "duplicates.yaml"`)
        def preprocessor(node: JsonNode): DataFrame => DataFrame =
          Pipeline.compile(node, env)
        def commandName(df: DataFrame): Column =
          if (df.columns.contains("_command")) col("_command")
          else get_json_object(col("value"), "$._command")
        val aggPre =
          if (part.has("preprocessor"))
            preprocessor(part.get("preprocessor"))(commands)
          else commands
        // command-level preprocessors (docs/state.md:61): the pipeline
        // applies only to commands with that name; others pass through
        val pre = Option(part.get("commands")).map { cmds =>
          Js.fields(cmds).foldLeft(aggPre) {
            case (df, (cmdName, cmdSpec)) if cmdSpec.has("preprocessor") =>
              val cn = commandName(df)
              val matching = df.where(cn === cmdName)
              val others = df.where(cn =!= cmdName || cn.isNull)
              preprocessor(cmdSpec.get("preprocessor"))(matching)
                .unionByName(others, allowMissingColumns = true)
            case (df, _) => df
          }
        }.getOrElse(aggPre)
        val keyOverride = Option(part.get("uniqueExpression"))
          .map(e => Stages.expr(pre, e, env))
        val conf = AggregateLogic.Config(
          appName = "", aggType = aggType,
          validators = readValidators(part),
          reducers = readReducers(part),
          // refs resolve live against the pluggable store when one is
          // provided (explicit resolver first, then the shared-dir file
          // store); otherwise batch mode self-feeds below
          resolver = hrefResolver
            .orElse(fileHrefStore).getOrElse((_: String) => None))
        // `stateExpiry` (ms): snapshot TTL for ephemeral aggregate types —
        // see AggregatePart.apply
        val stateExpiry = Option(part.get("stateExpiry")).map(_.asLong())
        // per-command metric split (docs/telemetry.md:38): commands the
        // part DECLARES get their own counters — `<type>.command.<c>`,
        // `<type>.event.<c>`, `<type>.invalid-command.<c>` — as extra
        // count_if fields on one observe node (still zero-shuffle)
        val declaredCmds: Seq[String] = Option(part.get("commands"))
          .map(c => Js.fields(c).map(_._1)).getOrElse(Nil)
        def multiObs(sub: String, fields: Seq[org.apache.spark.sql.Column])(
            df: DataFrame): DataFrame =
          if (metricSink.isEmpty || fields.isEmpty) df
          else df.observe(Telemetry.MetricPrefix + sub,
            fields.head, fields.tail: _*)
        val preObs = multiObs(s"$baseType.command",
          count(lit(1)).as("count") +: declaredCmds.map(c =>
            count_if(commandName(pre) === c).as(c)))(pre)
        val out0 = AggregatePart(preObs, conf, keyOverride, stateExpiry)
        // batch href resolution (reference app36): pass 1 materializes the
        // final state per instance, pass 2 reduces with those states
        // available to `{href}` refs — but ONLY when refs actually occur
        // (the second pass re-runs the whole part, which would double any
        // side-effecting preprocessor). The final states are reduced
        // DISTRIBUTED (arg-max on _seq per instance) and published into
        // the href store FROM THE EXECUTORS (foreachPartition) — no row
        // ever reaches the driver. Locally the store is the JVM-wide
        // HrefStore singleton; a multi-JVM cluster plugs an external
        // serving store via `hrefResolver` (which skips this self-feed
        // pass entirely, in batch and streaming alike) or a shared
        // directory via config("href.store") (self-feed runs, but into
        // the shared files — cluster-safe).
    // batch materialization: ONE execution of the stateful pass serves
    // every purpose sink (each batch sink action would otherwise replay
    // the whole reduction — 4x the work — and stamp divergent
    // `_timestamp` values on copies of the same event). persist, NOT
    // checkpoint: a checkpoint replaces the plan with a LogicalRDD,
    // silently dropping every observe node upstream of it (command
    // metrics would never fire); the cache keeps the plan — the first
    // sink action materializes and fires the observes exactly once, and
    // run() itself stays build-only.
        def materialized(d: org.apache.spark.sql.Dataset[AggregatePart.Out])
            : org.apache.spark.sql.Dataset[AggregatePart.Out] =
          d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out =
          if (pre.isStreaming) out0
          else if (hrefResolver.isDefined) materialized(out0)
          else {
            val sess = pre.sparkSession
            import sess.implicits._
            // persist the WHOLE pass, not just the aggregate rows: the
            // href probe below is then the single execution — persisting
            // only `states` made the probe an EXTRA run of the stateful
            // pass, firing side-effecting preprocessors and the command
            // observes twice even when no hrefs occur
            val mat0 = materialized(out0)
            val states = mat0.filter(o => o.dest == "aggregate")
            val anyHref = !states
              .filter(_.value.contains("\"href\"")).isEmpty
            if (!anyHref) mat0
            else {
              // pass-1 final state per instance, reduced DISTRIBUTED
              // (arg-max on _seq per id)
              val finals = states
                .map(o => (o.key,
                  Option(graft.json.Js.parse(o.value).get("_seq"))
                    .map(_.asLong()).getOrElse(-1L),
                  o.value))
                .groupByKey(_._1)
                .reduceGroups((a, b) => if (a._2 >= b._2) a else b)
                .map { case (_, t) => t }
              val resolver: String => Option[String] = fileHrefStore match {
                case Some(fs) =>
                  // shared-dir store: every JVM reads the same files, so
                  // the self-feed is cluster-safe; highest-_seq-wins makes
                  // republish idempotent and keeps other runs' states
                  finals.foreachPartition {
                    (it: Iterator[(String, Long, String)]) =>
                      it.foreach { case (k, s, v) => fs.put(k, s, v) }
                  }
                  fs
                case None =>
                  // the JVM-local HrefStore only works when every task
                  // runs in THIS JVM: on a multi-JVM cluster each
                  // executor's store would hold only the partitions it
                  // happened to publish and {href} refs would silently
                  // resolve to None — refuse loudly and demand a store
                  require(sess.sparkContext.isLocal,
                    "batch {href} self-feed needs a single-JVM (local) " +
                      "master; on a cluster set config(\"href.store\") to " +
                      "a shared directory or provide " +
                      "AppRunner(hrefResolver = ...) backed by a serving " +
                      "store")
                  val run = "batch-" + java.util.UUID.randomUUID()
                  finals.foreachPartition {
                    (it: Iterator[(String, Long, String)]) =>
                      it.foreach { case (k, s, v) =>
                        HrefStore.put(run, k, s, v)
                      }
                  }
                  HrefStore.Resolver(run)
              }
              // pass 1's cache served the probe + final-state publish;
              // pass 2 recomputes from `pre` with the resolver wired
              mat0.unpersist()
              val pass2 = AggregatePart(pre,
                conf.copy(resolver = resolver), keyOverride, stateExpiry)
              // materialize pass 2 NOW (eager localCheckpoint severs the
              // lineage, so downstream actions replay blocks, not the
              // resolver), then release the run's store — a long-lived JVM
              // must not accumulate one state map per batch run (the file
              // store is durable and shared; nothing to release)
              val mat = pass2.toDF().localCheckpoint(true)
              resolver match {
                case HrefStore.Resolver(run) => HrefStore.clear(run)
                case _ => ()
              }
              import org.apache.spark.sql.Encoders
              mat.as(Encoders.product[AggregatePart.Out])
            }
          }
        // uniqueExpression re-keys commands THROUGH the `unique` purpose
        // topic (docs/state.md:125,176-197): expose the re-keyed command
        // stream under <type>-unique
        val uniqueStream = keyOverride.map { k =>
          s"$aggType-unique$envSuffix" -> pre.select(
            k.cast("string").as("key"), Stages.messageJson(pre).as("value"))
        }
        // metric subparts `<type>.<purpose>`; declared commands also get
        // the reference's per-command split on the event and reply
        // (invalid-command) streams
        AggregatePart.streams(out, aggType).toSeq.map {
          case (n, sdf) =>
            val purpose = n.stripPrefix(s"$aggType-")
            val evCmd = get_json_object(col("value"), "$._command")
            val obs: DataFrame => DataFrame = purpose match {
              case "event" if declaredCmds.nonEmpty =>
                multiObs(s"$baseType.event",
                  count(lit(1)).as("count") +: declaredCmds.map(c =>
                    count_if(evCmd === c).as(c)))
              case "reply" if declaredCmds.nonEmpty =>
                df => multiObs(s"$baseType.invalid-command",
                  declaredCmds.map(c => count_if(evCmd === c &&
                    get_json_object(col("value"), "$._error") === "true")
                    .as(c)))(instr(s"$baseType.reply")(df))
              case p => instr(s"$baseType.$p")
            }
            // the aggregate purpose stream self-feeds the shared-dir
            // href store (streaming analog of the batch publish above)
            val fed = if (purpose == "aggregate") hrefSelfFeed(sdf) else sdf
            (n + envSuffix) -> obs(fed)
        } ++ uniqueStream.map {
          case (n, sdf) => n -> instr(s"$baseType.unique")(sdf)
        }

      case other =>
        throw new IllegalArgumentException(s"unknown part type $other")
    }
  }

  /** Windowed two-sided join (docs/join.md): `on` expressions as keys,
    * ingestion-time window, output {_id, left, right}. Streaming inputs get
    * a watermark so the state store evicts rows outside the window.
    */
  private def joinPart(part: JsonNode, resolveFrom: JsonNode => DataFrame,
      instr: String => DataFrame => DataFrame = _ => identity)
      : DataFrame = {
    val window = Option(part.get("window")).map(_.asLong())
    val jname = Option(part.get("name")).map(_.asText()).getOrElse("")
    // metric subparts `<part>.left.in`/`<part>.right.in`
    // (docs/telemetry.md:38)
    val inputs = Seq("left", "right").map(tag =>
      instr(s"$jname.$tag.in")(resolveFrom(part.get(tag))))
    // a schemaless side makes the output a message frame: both sides then
    // join as their message JSON
    val message = inputs.exists(Stages.isMessageShaped)
    def side(df0: DataFrame, tag: String): (DataFrame, Column) = {
      val n = part.get(tag)
      val onCol = Stages.expr(df0, n.get("on"), env).cast("string")
      // __ord/__raw are transport metadata: keeping them in the payload
      // would defeat the value-keyed duplicate suppression below
      val payload =
        if (message) Stages.messageJson(df0)
        else struct(df0.columns.filterNot(Set("__ord", "__raw")).map(col): _*)
      // null keys never join (filtered), and the coalesce makes the key
      // STATICALLY non-nullable: the join state schema must not depend
      // on when the optimizer infers non-nullability, or a restart can
      // compute a different schema than the checkpoint recorded
      // (STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE on resume — JoinRestartSpec)
      // event-time extension (beyond the reference's arrival-time
      // window): a side with `timestamp` joins on the DATA's clock —
      // watermark eviction and the window become replay-deterministic
      // (re-running the topic yields the identical join), where
      // arrival time depends on when the job happened to read the row
      val jts = Option(n.get("timestamp"))
        .map(e => Stages.expr(df0, e, env).cast("timestamp"))
        .getOrElse(current_timestamp())
      val packed = df0.where(onCol.isNotNull && jts.isNotNull).select(
        coalesce(onCol, lit("")).as(s"__key_$tag"),
        payload.as(tag),
        // statically non-nullable for the same restart-schema reason as
        // the key (the coalesce arm is unreachable after the filter)
        coalesce(jts, to_timestamp(lit("1970-01-01")))
          .as(s"__jts_$tag"))
      val withWm =
        if (packed.isStreaming && window.isDefined)
          packed.withWatermark(s"__jts_$tag", s"${window.get} milliseconds")
        else packed
      (withWm, col(s"__key_$tag"))
    }
    val (l, lk) = side(inputs(0), "left")
    val (r, rk) = side(inputs(1), "right")
    // Reference semantics default the window to INFINITE (App.java:693).
    // On a stream that means both join buffers grow forever — the one
    // silent unbounded-state path left in the engine — so the faithful
    // behavior is available only behind an explicit opt-in, and noisily.
    // stream-STATIC joins hold no join state (the static side re-reads
    // per micro-batch) — only a stream-stream join buffers both sides
    if (window.isEmpty && l.isStreaming && r.isStreaming) {
      val pname = Option(part.get("name")).map(_.asText()).getOrElse("<unnamed>")
      // opt-in is per part, or engine-wide via runner config (the golden
      // harness replays verbatim reference apps under the latter)
      require(Option(part.get("allowUnboundedJoinState"))
          .exists(_.asBoolean()) ||
          config.get("allowUnboundedJoinState").contains("true"),
        s"streaming join part '$pname' has no `window`: the reference " +
          "default is an infinite window, which buffers BOTH sides in the " +
          "state store forever. Set `window` (milliseconds), or opt in to " +
          "reference-faithful unbounded state with " +
          "`allowUnboundedJoinState: true`.")
      org.slf4j.LoggerFactory.getLogger(classOf[AppRunner]).warn(
        s"streaming join part '$pname' runs with UNBOUNDED join state " +
          "(allowUnboundedJoinState): no watermark eviction will occur")
    }
    // Two-sided range, NOT abs(l−r) <= w: StreamingJoinHelper can only
    // derive state-value watermarks (→ state eviction) from range
    // predicates directly on the watermarked timestamp columns. An abs()
    // wrapper defeats the extraction and both join buffers grow forever.
    val timeCond = window match {
      case Some(w) =>
        col("__jts_right") >= col("__jts_left") -
          expr(s"INTERVAL $w MILLISECOND") &&
        col("__jts_right") <= col("__jts_left") +
          expr(s"INTERVAL $w MILLISECOND")
      case None => lit(true)
    }
    val joined = l.join(r, lk === rk && timeCond, "inner")
    // duplicate-emission suppression (reference App.java:706-708: identical
    // join outputs within 1 s are dropped — replay and simultaneous-arrival
    // both produce them). Streaming: value-keyed dedup riding the join's
    // own ingestion-time watermark (a fresh watermark downstream of a
    // stream-stream join is disallowed); batch: distinct on the output.
    // a message join emits {_id, left, right} as one keyed message
    val output =
      if (!message) Seq(col("__key_left").as("_id"), col("left"), col("right"))
      else Seq(col("__key_left").as("key"), to_json(struct(
        col("__key_left").as("_id"),
        call_function("parse_json", col("left")).as("left"),
        call_function("parse_json", col("right")).as("right"))).as("value"))
    if (joined.isStreaming && window.isDefined)
      joined
        .withColumn("__jv",
          sha2(to_json(struct(col("__key_left"), col("left"), col("right"))), 256))
        // keep exactly one event-time column for the dedup state eviction
        .drop("__jts_right")
        .dropDuplicatesWithinWatermark("__jv")
        .select(output: _*)
    else {
      val out = joined.select(output: _*)
      if (joined.isStreaming) out else out.dropDuplicates()
    }
  }

  /** Command reducers (docs/state.md:62): a JQ script (inline or file), a
    * JSLT script (`.jslt` file, reference app8/app35), or an aggregation
    * pipeline interpreted in JSON land (reference app35/app37 `put`). All
    * receive {command, state} and return the new state.
    */
  private def readReducers(part: JsonNode)
      : Map[String, (com.fasterxml.jackson.databind.node.ObjectNode,
        com.fasterxml.jackson.databind.node.ObjectNode) =>
        com.fasterxml.jackson.databind.node.ObjectNode] =
    Option(part.get("commands")).map { cmds =>
      Js.fields(cmds).flatMap { case (cmdName, cmdSpec) =>
        Option(cmdSpec.get("reducer")).map { r =>
          val program: JsonNode => JsonNode =
            if (r.isArray) {
              val p = JsonPipeline.compile(r, env.scripts)
              in => p(in.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
            } else {
              val (script, base) = Scripts.resolve(r.asText(), env.scripts)
              if (base.endsWith(".jslt"))
                graft.jq.MiniJslt.compile(script, env.scripts, base)
              else graft.jq.MiniJq.compile(script, env.scripts, base)
            }
          cmdName -> { (command: com.fasterxml.jackson.databind.node.ObjectNode,
              state: com.fasterxml.jackson.databind.node.ObjectNode) =>
            val input = Js.obj()
            input.set[JsonNode]("command", command)
            input.set[JsonNode]("state", state)
            program(input) match {
              case o: com.fasterxml.jackson.databind.node.ObjectNode => o
              case other => throw new IllegalStateException(
                s"reducer for $cmdName returned non-object: $other")
            }
          }
        }
      }.toMap
    }.getOrElse(Map.empty)

  private def readValidators(part: JsonNode): Map[String, JsonNode] =
    Option(part.get("commands")).map { cmds =>
      Js.fields(cmds).flatMap { case (cmdName, cmdSpec) =>
        Option(cmdSpec.get("validator"))
          .map(v => cmdName -> graft.op.Validate.resolve(v, env.scripts))
      }.toMap
    }.getOrElse(Map.empty)
}
