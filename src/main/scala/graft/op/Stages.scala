package graft.op

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.json.Js
import graft.expr.{Ctx, ExprCompiler, QueryCompiler, RelationalDoc, VariantDoc}
import graft.streaming.{MessagePipeline => Msg}

/** Environment a pipeline compiles against: how to resolve `$lookup` /
  * `$merge` collections, and where side-effect stages route.
  */
final case class Env(
    spark: SparkSession,
    collection: String => DataFrame = n =>
      throw new IllegalArgumentException(s"no collection $n"),
    /** topic-shaped side outputs ($probe's counts topic). */
    sink: (String, DataFrame) => Unit = (_, _) => (),
    /** collection-shaped side outputs: $merge/$out write COLLECTIONS in
      * the reference (docs/aggregation_stages.md:378-392 — $out is $merge
      * with on:_id/replace/insert).
      */
    collectionSink: (String, DataFrame) => Unit = (_, _) => (),
    /** `$delete`: remove docs from a collection whose `on` fields equal
      * the incoming messages' values (docs/aggregation_stages.md:161-178).
      */
    delete: (String, DataFrame, Seq[String]) => Unit = (_, _, _) => (),
    http: HttpTransport = (_, _, _, _) =>
      throw new IllegalArgumentException("no HTTP transport configured"),
    scripts: String => String = name =>
      throw new IllegalArgumentException(s"no script loader for $name"),
    lag: () => String = () => "{}",
    /** `$log` logger name — the application's name once an AppRunner has
      * parsed the spec (docs/aggregation_stages.md:321).
      */
    application: String = "graft",
    /** `$log`/`$trace` destination (reference LogStage.java writes through
      * java.util.logging + OTel; tests capture, production binds SLF4J).
      */
    logger: LogSink = LogSink.Slf4j,
    store: ObjectStore = new ObjectStore {
      def get(bucket: String, key: String): String =
        throw new IllegalArgumentException("no object store configured")
      def put(bucket: String, key: String, content: String): Unit =
        throw new IllegalArgumentException("no object store configured")
    })

/** Compiles MongoDB aggregation pipeline stages
  * (/root/reference/docs/aggregation_stages.md, SURVEY §2) to DataFrame
  * transforms — the one stage compiler for both document models. Typed
  * frames keep their documents in top-level columns; schemaless message
  * frames — `(key, value string-JSON)`, the reference's native model —
  * keep them in `value`. `ctxOf` decides which, and every stage argument
  * compiles through it. Stages whose bodies differ between the models
  * (JSON splicing, grouping, joins) take their message-model body from
  * graft.streaming.MessagePipeline; streaming-specific semantics (state
  * stores, timers) live in graft.streaming.
  */
object Stages {
  type Stage = DataFrame => DataFrame

  /** Whether `df` is a schemaless message frame: `key` and a string
    * `value`, plus nothing but transport and routing columns.
    */
  def isMessageShaped(df: DataFrame): Boolean = {
    val cols = df.columns.toSet
    cols.contains("value") && cols.contains("key") &&
      cols.subsetOf(Set("key", "value", "__ord", "_topic", "_delay_ms",
        "_deliver_at")) &&
      df.schema("value").dataType == StringType
  }

  /** The document model of `df`, the one place it is decided: the
    * variant parse of `value` for a message frame, the typed columns
    * otherwise. Each stage asks for its input frame, and a message-model
    * body returns a message frame, so a pipeline keeps the model its input
    * picked — until a stage turns typed rows into messages (`$per` on a
    * stream), when the stages after it see messages.
    */
  def ctxOf(df: DataFrame, env: Env = null): Ctx =
    Ctx(
      if (isMessageShaped(df))
        new VariantDoc(call_function("parse_json", col("value")))
      else new RelationalDoc(df.columns.toSeq),
      typeOf = c =>
        try df.select(c).schema.head.dataType
        catch { case _: Exception => NullType },
      scripts =
        if (env == null)
          name => throw new IllegalArgumentException(s"no script loader for $name")
        else env.scripts)

  def expr(df: DataFrame, n: JsonNode, env: Env = null): Column =
    ExprCompiler.compile(n, ctxOf(df, env))

  /** The message's own JSON text: `value` of a message frame, else the
    * typed row without its transport columns (`__ord`, `__raw`).
    */
  def messageJson(df: DataFrame): Column =
    if (isMessageShaped(df)) col("value")
    else to_json(struct(df.columns
      .filterNot(Set("__ord", "__raw")).map(col): _*))

  /** The stage body for the frame's document model. */
  private def byModel(typed: Stage, message: Stage): Stage =
    df => if (isMessageShaped(df)) message(df) else typed(df)

  def compile(name: String, spec: JsonNode, env: Env): Stage = name match {
    case "$match" =>
      df => df.filter(QueryCompiler.compile(spec, ctxOf(df, env)))
    case "$addFields" | "$set" =>
      byModel(addFields(_, spec, env), Msg.addFields(_, spec, env))
    case "$unset"       => byModel(unset(_, spec), Msg.unset(_, spec))
    case "$project" =>
      byModel(project(_, spec, env), Msg.project(_, spec, env))
    case "$replaceRoot" | "$replaceWith" =>
      val newRoot = if (name == "$replaceRoot") spec.get("newRoot") else spec
      byModel(replaceRoot(_, newRoot, env), Msg.replaceRoot(_, newRoot, env))
    case "$unwind"      => byModel(unwind(_, spec), Msg.unwind(_, spec))
    case "$group"       => byModel(group(_, spec, env), Msg.group(_, spec, env))
    case "$bucket"      => byModel(bucket(_, spec, env), Msg.bucket(_, spec, env))
    case "$count" =>
      byModel(_.agg(count(lit(1)).as(spec.asText())),
        Msg.countAs(_, spec.asText()))
    case "$lookup"      => byModel(lookup(_, spec, env), Msg.lookup(_, spec, env))
    case "$deduplicate" => df => deduplicate(df, spec, env)
    case "$deduplicateNear" => df => deduplicateNear(df, spec, env)
    case "$per" => df =>
      if (df.isStreaming || isMessageShaped(df))
        graft.streaming.PerStage(df, spec)
      else per(df, spec)
    case "$setKey" => df =>
      df.withColumn(if (isMessageShaped(df)) "key" else "_key",
        expr(df, spec, env).cast(StringType))
    case "$send" => // dynamic topic routing: sink honors per-row `_topic`
      df => df.withColumn("_topic",
        expr(df, spec.get("topic"), env).cast(StringType))
    case "$redact"   => byModel(Redact(_, spec), Msg.redact(_, spec))
    case "$validate" =>
      val resolved = Validate.resolve(spec, env.scripts)
      byModel(Validate(_, resolved), Msg.validate(_, resolved))
    case "$merge"    => df => merge(df, spec, env)
    case "$out" => // $merge with on:_id/replace/insert — a COLLECTION
      df => { env.collectionSink(spec.asText(), df); df }
    // observability: identity dataflow, real log side effect
    case "$log"   => df => LogOp.log(df, spec, env)
    case "$trace" => df => LogOp.trace(df, spec, env)
    case "$delete" =>
      val on =
        if (spec.get("on").isArray) Js.elems(spec.get("on")).map(_.asText())
        else Seq(spec.get("on").asText())
      df => {
        env.delete(spec.get("from").asText(),
          if (isMessageShaped(df)) Msg.fields(df, on) else df, on)
        df
      }
    case "$http" => byModel(Http(_, spec, env), Msg.http(_, spec, env))
    // $jq (docs/aggregation_stages.md:245-260) and $jslt (:262-277):
    // whole-message transform in either language. A message frame stays
    // one; a typed frame's output is (key, value-as-JSON-string), or,
    // with the extension object form {script, schema}, typed columns for
    // downstream stages.
    case "$jq" | "$jslt" =>
      val (text, schema) =
        if (spec.isTextual) (spec.asText(), None)
        else (spec.get("script").asText(),
          Option(spec.get("schema")).map(_.asText()))
      // base = the script file itself, so its relative imports resolve
      val (script, base) = Scripts.resolve(text, env.scripts)
      val program =
        if (name == "$jq") graft.jq.MiniJq.compile(script, env.scripts, base)
        else graft.jq.MiniJslt.compile(script, env.scripts, base)
      // null-safe: a Kafka tombstone (null value) passes through — a
      // thrown parse would be a poison pill the checkpoint replays
      val apply = udf((json: String) =>
        if (json == null) null else Js.render(program(Js.parse(json))))
      byModel(df => {
        val keyCol =
          if (df.columns.contains("_id")) col("_id").cast(StringType)
          else lit(null).cast(StringType)
        val transformed = df.select(keyCol.as("__oldkey"),
          apply(messageJson(df)).as("value"))
        schema match {
          case Some(ddl) =>
            transformed
              .select(from_json(col("value"), StructType.fromDDL(ddl)).as("v"))
              .select("v.*")
          case None => // changed _id re-keys the message (docs:248)
            transformed.select(
              coalesce(get_json_object(col("value"), "$._id"),
                col("__oldkey")).as("_key"),
              col("value"))
        }
      }, Msg.jq(_, apply(_)))
    // $lag (docs/aggregation_stages.md:279-318): forward at most one
    // message per `interval` (default 30 s, reference
    // LagStage.filterMessages) with the consumer-lag snapshot attached
    // under `as`. Provider: Env.lag — graft.streaming.KafkaLag.provider
    // wires the AdminClient in production; tests inject a fake.
    case "$lag" =>
      val intervalMs =
        if (spec.has("interval")) spec.get("interval").asLong() else 30000L
      val stageId = java.util.UUID.randomUUID().toString
      val lagFn = env.lag
      val as = spec.get("as").asText()
      df => {
        val sampled =
          if (intervalMs <= 0) df
          else {
            // nondeterministic: the sampler consumes an interval token per
            // call — Catalyst must not merge, reorder, or re-evaluate it
            val pass = udf(() => graft.streaming.KafkaLag.sample(
              stageId, intervalMs, System.currentTimeMillis()))
              .asNondeterministic()
            df.filter(pass())
          }
        val fetch = udf(() => lagFn()).asNondeterministic()
        if (isMessageShaped(df))
          Msg.splice(sampled, as, call_function("parse_json", fetch()))
        else sampled.withColumn(as, fetch())
      }
    case "$s3Transfer" =>
      byModel(S3Transfer(_, spec, env), Msg.s3Transfer(_, spec, env))
    case "$s3Attachments" =>
      byModel(S3Attachments(_, spec, env), Msg.s3Attachments(_, spec, env))
    case "$signJwt" =>
      val as = spec.get("as").asText()
      byModel(SignJwt(_, spec, env),
        df => Msg.splice(SignJwt(df, spec, env), as, col(as)).drop(as))
    case "$s3Csv" => byModel(S3Csv(_, spec, env),
      // line-messages keep the message-frame shape
      S3Csv(_, spec, env).withColumnRenamed("_key", "key"))
    case "$s3Out"   => df => S3Out(df, spec, env)
    // $delay re-delivers to a topic after `duration` ms
    // (docs/aggregation_stages.md:118-159). Micro-batch engines delay at
    // trigger granularity: route to the topic; the sink applies the delay.
    // Engine extension beyond the reference: `deliverAt` (an expression
    // over the MESSAGE) instead of `duration` — delivery time comes from
    // the data and the sink drives it with event-time (watermark) timers,
    // so a replay redelivers identically (wall-clock delays drift between
    // runs). Optional `lateness` (ms) bounds how far out-of-order
    // deliverAt values may arrive (event-time late-data semantics).
    case "$delay" =>
      if (spec.has("deliverAt"))
        df => {
          val ctx = ctxOf(df, env)
          val c = ExprCompiler.compile(spec.get("deliverAt"), ctx)
          // numeric deliverAt = epoch MILLIS (a bare long cast would read
          // it as seconds); anything else casts (timestamp, ISO string)
          val at = ctx.typeOf(c) match {
            case _: NumericType => timestamp_millis(c.cast("long"))
            case _ => c.cast("timestamp")
          }
          // a later $delay REPLACES an earlier one — both kinds armed
          // would redeliver every row twice
          df.drop("_delay_ms", "_deliver_at")
            .withColumn("_topic", lit(spec.get("topic").asText()))
            .withColumn("_deliver_at", at)
        }
      else
        df => df.drop("_delay_ms", "_deliver_at")
          .withColumn("_topic", lit(spec.get("topic").asText()))
          .withColumn("_delay_ms", lit(spec.get("duration").asLong()))
    // $throttle (docs/aggregation_stages.md:787-802): rate control maps to
    // source admission (maxOffsetsPerTrigger/trigger sizing), not a row
    // transform — identity here.
    case "$throttle" => df => df
    // $probe (docs/aggregation_stages.md:413-466): per-minute counts to a
    // topic; passthrough output.
    case "$probe" => df =>
      if (df.isStreaming)
        // observed metrics surface per micro-batch through
        // StreamingQueryListener, which forwards them to the probe topic
        df.observe(spec.get("name").asText(), count(lit(1)).as("count"))
      else {
        val minute = (unix_millis(current_timestamp()) / 60000L).cast(LongType)
        env.sink(spec.get("topic").asText(),
          df.groupBy(minute.as("minute"))
            .agg(count(lit(1)).as("count"))
            .withColumn("name", lit(spec.get("name").asText())))
        df
      }
    case other => // plugin-provided stages (docs/plugins.md)
      graft.plugin.Plugins.stage(other)
        .map(f => f(spec, env))
        .getOrElse(
          throw new IllegalArgumentException(s"unsupported stage $other"))
  }

  // -- field update stages ---------------------------------------------------

  /** Dotted paths update nested struct fields via Column.withField. */
  private def addFields(df: DataFrame, spec: JsonNode, env: Env): DataFrame =
    Js.fields(spec).foldLeft(df) { case (d, (path, v)) =>
      val c = expr(d, v, env)
      if (!path.contains('.')) d.withColumn(path, c)
      else {
        val parts = path.split("\\.")
        d.withColumn(parts.head,
          col(parts.head).withField(parts.tail.mkString("."), c))
      }
    }

  private def unset(df: DataFrame, spec: JsonNode): DataFrame = {
    val paths =
      if (spec.isArray) Js.elems(spec).map(_.asText()) else Seq(spec.asText())
    paths.foldLeft(df) { (d, p) =>
      if (!p.contains('.')) d.drop(p)
      else {
        val parts = p.split("\\.")
        d.withColumn(parts.head,
          col(parts.head).dropFields(parts.tail.mkString(".")))
      }
    }
  }

  /** Mongo $project: inclusion mode (1/true or computed expressions; `_id`
    * kept by default when present) or exclusion mode (all 0/false).
    */
  private def project(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val entries = Js.fields(spec)
    def flag(n: JsonNode, v: Boolean) =
      (n.isBoolean && n.asBoolean() == v) ||
        (n.isNumber && (n.asDouble() != 0) == v)
    val exclusion = entries.forall { case (k, v) =>
      flag(v, false) || (k == "_id" && flag(v, true))
    }
    if (exclusion && entries.exists { case (_, v) => flag(v, false) }) {
      val dropped = entries.collect { case (k, v) if flag(v, false) => k }
      dropped.foldLeft(df)((d, p) => unset(d, Js.parse("\"" + p + "\"")))
    } else {
      // dotted inclusions under ONE root must merge into one struct
      // ({"a.b":1,"a.c":1} → a:{b,c}) — emitting a column per path would
      // produce duplicate output names (AMBIGUOUS_REFERENCE downstream)
      val keepTails = scala.collection.mutable.LinkedHashMap
        .empty[String, Vector[Vector[String]]]
      entries.foreach {
        case (k, v) if flag(v, true) =>
          val parts = k.split("\\.").toVector
          keepTails.updateWith(parts.head)(t =>
            Some(t.getOrElse(Vector.empty) :+ parts.tail))
        case _ => ()
      }
      val emitted = scala.collection.mutable.Set.empty[String]
      val cols = entries.flatMap {
        case (k, v) if flag(v, false) => None
        case (k, v) if flag(v, true) =>
          val root = k.split("\\.").head
          if (emitted.add(root))
            Some(nestedKeep(root, keepTails(root)).as(root))
          else None // merged into the root's struct already
        case (k, v) => Some(expr(df, v, env).as(k))
      }
      val withId =
        if (df.columns.contains("_id") && !entries.exists(_._1 == "_id"))
          col("_id") +: cols
        else cols
      df.select(withId: _*)
    }
  }

  /** Merged inclusion tree for one root: each tail is a kept path under
    * it; an empty tail keeps the whole subtree (plain `a:1` wins over any
    * `a.b:1`). Field order = first-mention order.
    */
  private def nestedKeep(root: String,
      tails: Seq[Seq[String]]): Column = {
    def build(prefix: Vector[String], ts: Seq[Seq[String]]): Column =
      if (ts.exists(_.isEmpty)) col((root +: prefix).mkString("."))
      else {
        val heads = ts.map(_.head).distinct
        struct(heads.map(h =>
          build(prefix :+ h, ts.filter(_.head == h).map(_.tail)).as(h)): _*)
      }
    build(Vector.empty, tails.map(_.toSeq))
  }

  private def replaceRoot(df: DataFrame, newRoot: JsonNode, env: Env)
      : DataFrame =
    df.select(expr(df, newRoot, env).as("__root")).select("__root.*")

  /** One message per array element; element replaces the field. Reference
    * drops messages whose array is absent or empty (explode, not
    * explode_outer) — docs/aggregation_stages.md:840-855.
    */
  private def unwind(df: DataFrame, spec: JsonNode): DataFrame = {
    val (path, newIds) =
      if (spec.isTextual) (spec.asText().stripPrefix("$"), false)
      else (spec.get("path").asText().stripPrefix("$"),
        spec.has("newIds") && spec.get("newIds").asBoolean())
    val exploded =
      if (!path.contains('.')) df.withColumn(path, explode(col(path)))
      else {
        // withColumn on a dotted name mints a LITERAL "a.b" column and
        // leaves the nested array untouched — explode through a temp
        // column, then withField (which takes a nested path) makes the
        // element REPLACE the field inside its struct
        val parts = path.split("\\.")
        df.withColumn("__unwound", explode(col(path)))
          .withColumn(parts.head, col(parts.head)
            .withField(parts.tail.mkString("."), col("__unwound")))
          .drop("__unwound")
      }
    if (newIds) exploded.withColumn("_id", org.apache.spark.sql.functions.expr("uuid()"))
    else exploded
  }

  // -- grouping --------------------------------------------------------------

  /** Accumulator set per docs/aggregation_stages.md:35. `$addToSet` is
    * sorted for determinism (Mongo set order is unspecified).
    */
  private def accumulator(df: DataFrame, op: String, arg: JsonNode,
      env: Env): Column = {
    lazy val c = expr(df, arg, env)
    // Arrival-order accumulators ($first/$last/$mergeObjects) are
    // nondeterministic across partition orders; when the frame carries the
    // streaming layer's __ord stamp, rank by it instead (max_by/min_by).
    // NOTE max_by/min_by rank a SQL-null ordering key SMALLEST, not
    // skipped — conditioning the key on the value's non-nullness makes
    // null-valued rows lose, which is exactly Mongo's ignore-null merge.
    val ord: Option[Column] =
      if (df.columns.contains("__ord")) Some(col("__ord")) else None
    op match {
      case "$sum"       => sum(c)
      case "$avg"       => avg(c)
      case "$min"       => min(c)
      case "$max"       => max(c)
      case "$count"     => count(lit(1))
      case "$last"      => ord.map(o => max_by(c, o)).getOrElse(last(c))
      case "$first"     => ord.map(o => min_by(c, o)).getOrElse(first(c))
      case "$push"      => collect_list(c)
      case "$addToSet"  => array_sort(collect_set(c))
      case "$stdDevPop" => stddev_pop(c)
      case "$mergeObjects" =>
        // Mongo merges documents field-wise, ignoring null/missing fields
        // — for a struct, that is last-non-null per field
        ctxOf(df).typeOf(c) match {
          case st: StructType =>
            struct(st.fields.map { f =>
              val v = c.getField(f.name)
              ord.map(o => max_by(v, when(v.isNotNull, o)))
                .getOrElse(last(v, ignoreNulls = true)).as(f.name)
            }.toIndexedSeq: _*)
          case _ =>
            ord.map(o => max_by(c, when(c.isNotNull, o)))
              .getOrElse(last(c, ignoreNulls = true))
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported accumulator $other")
    }
  }

  private def aggColumns(df: DataFrame, spec: JsonNode, env: Env)
      : Seq[Column] =
    Js.fields(spec).collect {
      case (field, v) if field != "_id" =>
        val (op, arg) = Js.asOp(v).getOrElse(
          throw new IllegalArgumentException(s"accumulator expected for $field"))
        accumulator(df, op, arg, env).as(field)
    }

  private def group(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val idNode = spec.get("_id")
    val id =
      if (idNode == null || idNode.isNull) lit(null) else expr(df, idNode, env)
    val aggs = aggColumns(df, spec, env)
    if (aggs.isEmpty) df.select(id.as("_id")).distinct()
    else df.groupBy(id.as("_id")).agg(aggs.head, aggs.tail: _*)
  }

  private def bucket(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val groupBy = expr(df, spec.get("groupBy"), env)
    val bounds = Js.elems(spec.get("boundaries")).map(QueryCompiler.litNode)
    val default =
      if (spec.has("default")) QueryCompiler.litNode(spec.get("default"))
      else lit(null)
    // _id = inclusive lower bound of the matching bucket, else `default`
    val inRange = groupBy >= bounds.head && groupBy < bounds.last
    val bucketId = bounds.init.zip(bounds.tail).foldLeft(when(!inRange, default)) {
      case (c, (lo, hi)) => c.when(groupBy >= lo && groupBy < hi, lo)
    }
    val out = spec.get("output")
    val aggs =
      if (out == null) Seq(count(lit(1)).as("count")) else aggColumns(df, out, env)
    df.groupBy(bucketId.as("_id")).agg(aggs.head, aggs.tail: _*)
  }

  // -- joins -----------------------------------------------------------------

  /** Stream/batch-to-table join. The foreign side is pre-aggregated per key
    * and broadcast when small — the scalable plan for a 100 TB probe side:
    * no row explosion, no regrouping of the big side.
    */
  private def lookup(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val from = env.collection(spec.get("from").asText())
    val as = spec.get("as").asText()
    val inner = spec.has("inner") && spec.get("inner").asBoolean()
    val unwindAs = spec.has("unwind") && spec.get("unwind").asBoolean()

    // uncorrelated pipeline form (no localField, no let — reference
    // app40): run the pipeline over the foreign collection once and
    // attach the result array to every message; the one-row build side
    // broadcasts.
    if (!spec.has("localField") && !spec.has("let")) {
      val sub = Pipeline.compile(spec.get("pipeline"), env)(from)
      val arr = sub.agg(
        collect_list(struct(sub.columns.map(sub.col): _*)).as(as))
      val joined = df.crossJoin(broadcast(arr))
      return if (unwindAs)
        joined.withColumn(as, explode(col(as)))
      else if (inner) joined.where(size(col(as)) > 0)
      else joined
    }

    val (probeKey, buildKey, foreign): (Column, Column, DataFrame) =
      if (spec.has("localField"))
        (col(spec.get("localField").asText()),
          from.col(spec.get("foreignField").asText()), from)
      else {
        // correlated form: let + pipeline whose FIRST stage is a $match.
        // $$var equalities become join keys; the $match's OTHER
        // predicates are uncorrelated and filter the foreign side;
        // trailing stages must be row-local transforms (they commute
        // with the per-document grouping) and apply to the foreign side.
        // Anything else fails LOUDLY — silently dropping a predicate or
        // stage would join wrong rows (house rule: no silent spec cuts).
        val let = Js.fields(spec.get("let"))
        val stages = Js.elems(spec.get("pipeline"))
        require(stages.nonEmpty && stages.head.has("$match"),
          "correlated $lookup pipeline must start with a $match")
        val matchSpec = stages.head.get("$match")
        val (corr, static) = Js.fields(matchSpec).partition {
          case (_, v) => v.isTextual && v.asText().startsWith("$$")
        }
        require(corr.nonEmpty,
          "correlated $lookup $match has no $$variable equality")
        // deep $$ references outside the direct-equality form are not
        // compilable to an equi-join — refuse rather than mis-join
        static.foreach { case (f, v) =>
          require(!Js.render(v).contains("\"$$"),
            s"correlated $$lookup: unsupported nested $$$$-reference " +
              s"under '$f'")
        }
        val keyFields = corr.map { case (foreignField, v) =>
          val varName = v.asText().drop(2)
          val local = let.collectFirst {
            case (n, e) if n == varName => e.asText().stripPrefix("$")
          }.getOrElse(throw new IllegalArgumentException(s"let $varName"))
          (local, foreignField)
        }
        val filtered =
          if (static.isEmpty) from
          else {
            val staticMatch = graft.json.Js.obj()
            static.foreach { case (k, v) =>
              staticMatch.set[JsonNode](k, v)
            }
            from.where(QueryCompiler.compile(staticMatch,
              ctxOf(from, env)))
          }
        val rowLocal = Set("$project", "$addFields", "$set", "$unset",
          "$replaceRoot", "$replaceWith")
        val shaped = stages.tail.foldLeft(filtered) { (d, st) =>
          val op = Js.fields(st).head._1
          require(rowLocal.contains(op),
            s"correlated $$lookup: stage '$op' after the $$match is not " +
              "a row-local transform; apply it after the lookup instead")
          compile(op, Js.fields(st).head._2, env)(d)
        }
        // the join keys must survive the shaping (a $project that drops
        // the correlated field leaves nothing to join on) — refuse
        // loudly instead of a MISSING_ATTRIBUTES analysis error later
        keyFields.foreach { case (_, f) =>
          require(shaped.columns.contains(f.split("\\.").head),
            s"correlated $$lookup: the pipeline removed join field '$f' " +
              "— keep it in the $$project (it joins the documents)")
        }
        (struct(keyFields.map(kf => col(kf._1)): _*),
          struct(keyFields.map(kf => shaped.col(kf._2)): _*), shaped)
      }

    // No forced broadcast hint: Catalyst broadcasts automatically when the
    // foreign side fits under autoBroadcastJoinThreshold (parquet size
    // stats), and falls back to a shuffled join for big dimensions — the
    // probe side is never regrouped either way.
    if (unwindAs) {
      val matched = foreign.select(buildKey.as("__k"),
        struct(foreign.columns.map(foreign.col): _*).as(as))
      df.join(matched, probeKey === col("__k"), "inner").drop("__k")
    } else {
      val grouped = foreign
        .groupBy(buildKey.as("__k"))
        .agg(collect_list(struct(foreign.columns.map(foreign.col): _*)).as(as))
      val joined =
        df.join(grouped, probeKey === col("__k"),
          if (inner) "inner" else "left_outer").drop("__k")
      if (inner) joined
      else {
        val elemType = grouped.schema(as).dataType
        joined.withColumn(as,
          coalesce(col(as), lit(null).cast(elemType), array().cast(elemType)))
      }
    }
  }

  // -- stateful-ish stages in batch form ------------------------------------

  /** Engine extension: NEAR-dedup by SimHash Hamming distance on an
    * expression (the reference's $deduplicate is exact) — streaming via
    * the banded transformWithState hops, batch via the banded join
    * analog (StatefulOps scaladoc has the semantics).
    */
  private def deduplicateNear(df: DataFrame, spec: JsonNode, env: Env)
      : DataFrame = {
    val e = expr(df, spec.get("expression"), env)
    val maxDist =
      if (spec.has("maxDistance")) spec.get("maxDistance").asInt() else 3
    val dupTopic =
      if (spec.has("dupTopic")) Some(spec.get("dupTopic").asText()) else None
    if (df.isStreaming)
      graft.streaming.StatefulOps.deduplicateNear(df, e, maxDist,
        if (spec.has("cacheWindow")) Some(spec.get("cacheWindow").asLong())
        else None, dupTopic,
        if (spec.has("maxPerBand")) spec.get("maxPerBand").asInt()
        else graft.streaming.StatefulOps.DefaultMaxPerBand)
    else graft.streaming.StatefulOps.deduplicateNearBatch(df, e, maxDist,
      dupTopic)
  }

  private def deduplicate(df: DataFrame, spec: JsonNode, env: Env)
      : DataFrame = {
    val ctx = ctxOf(df, env)
    val e = ExprCompiler.compile(spec.get("expression"), ctx)
    if (df.isStreaming)
      // transformWithState dedup with cacheWindow as real state TTL
      // (docs/aggregation_stages.md:97-104), wall-clock expiry like the
      // reference's cache — plain dropDuplicates on a stream grows its
      // state forever AND silently ignores cacheWindow
      graft.streaming.StatefulOps.deduplicate(df, e,
        if (spec.has("cacheWindow")) Some(spec.get("cacheWindow").asLong())
        else None)
    else {
      // a variant (schemaless) key cannot be grouped on: use its text
      val k = if (ctx.typeOf(e) == VariantType) e.cast(StringType) else e
      df.withColumn("__dedup", k).dropDuplicates("__dedup").drop("__dedup")
    }
  }

  /** Batch analog of the $per batching stage (streaming impl batches arrival
    * order). Batch ids are partition-local: monotonically_increasing_id
    * encodes (partitionId << 33 | rowInPartition), so the id is a pure
    * projection — no global sort, no single-task Window, and batches never
    * span input partitions (the reference likewise batches per consumer).
    * The only shuffle is the groupBy that assembles each batch array.
    */
  private def per(df: DataFrame, spec: JsonNode): DataFrame = {
    val amount = spec.get("amount").asInt()
    val as = spec.get("as").asText()
    val mid = monotonically_increasing_id()
    val rowInPart = mid.bitwiseAND(lit((1L << 33) - 1))
    val batch = shiftright(mid, 33) * lit(1L << 30) +
      (rowInPart / amount).cast(LongType)
    df.withColumn("__batch", batch)
      .groupBy("__batch")
      .agg(collect_list(struct(df.columns
        .filterNot(Set("__ord", "__raw")).map(col): _*)).as(as))
      .drop("__batch")
  }

  private def merge(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val into = spec.get("into").asText()
    val (wm, wnm) = mergeModes(spec)
    val keyed =
      if (!spec.has("key")) df
      else {
        val k = expr(df, spec.get("key"), env)
        if (isMessageShaped(df)) Msg.rekey(df, k) else df.withColumn("_id", k)
      }
    // non-default Mongo modes ride in-band as literal metadata columns
    // (the $send/_topic pattern); the collection sink peels them off
    val stamped =
      if (wm == "replace" && wnm == "insert") keyed
      else keyed.withColumn("__when_matched", lit(wm))
        .withColumn("__when_not_matched", lit(wnm))
    env.collectionSink(into, stamped)
    keyed
  }

  /** `$merge`'s whenMatched/whenNotMatched (docs/aggregation_stages.md:
    * 378-384): Mongo's string modes; pipeline values are unsupported in
    * the reference too — fail loudly rather than silently replacing.
    */
  private[graft] def mergeModes(spec: JsonNode): (String, String) = {
    val wm = Option(spec.get("whenMatched")).map { n =>
      require(n.isTextual,
        "$merge whenMatched: pipeline values are not supported " +
          "(reference parity) — use replace|keepExisting|merge|fail")
      n.asText()
    }.getOrElse("replace")
    val wnm = Option(spec.get("whenNotMatched")).map(_.asText())
      .getOrElse("insert")
    require(Set("replace", "keepExisting", "merge", "fail")(wm),
      s"$$merge whenMatched: $wm")
    require(Set("insert", "discard", "fail")(wnm),
      s"$$merge whenNotMatched: $wnm")
    (wm, wnm)
  }
}
