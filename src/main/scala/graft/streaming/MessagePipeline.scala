package graft.streaming

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.json.Js
import graft.expr.{Ctx, ExprCompiler}
import graft.op.{Env, Http, Pipeline, S3Attachments, S3Transfer, Stages}

/** Message-model bodies of the stages whose schemaless form really
  * differs from the typed one. A message frame is `(key string, value
  * string-JSON)`, the reference's native model; `graft.op.Stages.compile`
  * is the one stage dispatch and calls these for message frames. Fields
  * are reached through the variant parse of the value (`Stages.ctxOf`),
  * so predicates and computed values stay columnar; structural edits
  * splice the computed JSON back into the value text, and grouping
  * stages emit `{_id, <accumulators>}` messages keyed by `_id`.
  */
object MessagePipeline {

  /** `Pipeline.compile`, which picks the message model for message frames
    * by itself; kept as the name the benchmark harness compiles with.
    */
  def compile(pipeline: JsonNode, env: Env): DataFrame => DataFrame =
    Pipeline.compile(pipeline, env)

  /** `$jq`/`$jslt`: schema-free whole-message transform; a changed `_id`
    * re-keys the message.
    */
  def jq(df: DataFrame, apply: Column => Column): DataFrame =
    df.withColumn("value", apply(col("value")))
      .withColumn("key",
        coalesce(get_json_object(col("value"), "$._id"), col("key")))

  def unwind(df: DataFrame, spec: JsonNode): DataFrame = {
    // array path → one message per element, the element replacing the
    // array (docs/aggregation_stages.md:840-855, which defers to the
    // full Mongo option set): preserveNullAndEmptyArrays keeps docs
    // whose path is null/missing (unchanged) or an empty array (field
    // removed); includeArrayIndex adds the element index (null for
    // preserved docs); a non-array value unwinds as its own singleton.
    val (path, newIds) =
      if (spec.isTextual) (spec.asText().stripPrefix("$"), false)
      else (spec.get("path").asText().stripPrefix("$"),
        spec.has("newIds") && spec.get("newIds").asBoolean())
    val preserve = !spec.isTextual &&
      spec.has("preserveNullAndEmptyArrays") &&
      spec.get("preserveNullAndEmptyArrays").asBoolean()
    val idxField = Option(spec)
      .filterNot(_.isTextual)
      .flatMap(sp => Option(sp.get("includeArrayIndex")))
      .map(_.asText())
    val split = udf((json: String) => {
      if (json == null) Seq(json) // tombstone: pass through
      else {
      val root = Js.parse(json)
      val parts = path.split("\\.").toList
      val arr = parts.foldLeft(Option(root)) {
        (cur, p) => cur.flatMap(n => Option(n.get(p)))
      }
      def emit(e: Option[JsonNode], idx: Option[Long],
          dropField: Boolean): String = {
        val copy = Js.parse(Js.render(root))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        var cur = copy
        parts.init.foreach(p =>
          cur = cur.get(p)
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
        e.foreach(v => cur.set[JsonNode](parts.last, v))
        if (dropField) cur.remove(parts.last)
        idxField.foreach { f =>
          idx match {
            case Some(i) => copy.put(f, i)
            case None => copy.putNull(f)
          }
        }
        if (newIds && e.isDefined)
          copy.put("_id", java.util.UUID.randomUUID().toString)
        Js.render(copy)
      }
      arr match {
        case Some(a) if a.isArray && a.size() > 0 =>
          Js.elems(a).zipWithIndex.map { case (e, i) =>
            emit(Some(e), Some(i.toLong), dropField = false)
          }
        case Some(a) if a.isArray => // empty array
          if (preserve) Seq(emit(None, None, dropField = true))
          else Seq.empty[String]
        case Some(a) if a.isNull =>
          if (preserve) Seq(emit(None, None, dropField = false))
          else Seq.empty[String]
        case Some(v) => // non-array value: its own singleton (Mongo)
          Seq(emit(Some(v), None, dropField = false))
        case None => // missing path
          if (preserve) Seq(emit(None, None, dropField = false))
          else Seq.empty[String]
      }
      }
    })
    df.withColumn("value", explode(split(col("value"))))
      .withColumn("key",
        coalesce(get_json_object(col("value"), "$._id"), col("key")))
  }

  def countAs(df: DataFrame, as: String): DataFrame =
    df.agg(count(lit(1)).as("__n"))
      .select(lit(null).cast(StringType).as("key"),
        to_json(struct(col("__n").as(as))).as("value"))

  def validate(df: DataFrame, resolved: JsonNode): DataFrame = {
    // JSON-land validation (docs/aggregation_stages.md:857-879): failing
    // messages annotated _error:true + errors[]
    val check = udf((json: String) => {
      if (json == null) null else { // tombstone passes through
      val root = Js.parse(json)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val errors = JsonValidator.validate(resolved, root, None)
      if (errors.isEmpty) json
      else {
        root.put("_error", true)
        root.set[JsonNode]("errors", errors)
        Js.render(root)
      }
    }})
    df.withColumn("value", check(col("value")))
  }

  /** `$http`: the response splices INTO the message (`as` / `httpError`
    * paths) — schemaless messages carry everything in the value.
    */
  def http(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val as = Option(spec.get("as")).map(_.asText())
    Http.call(df, spec, env)
      .withColumn("value",
        when(col("__call.httpError").isNotNull,
          setField(col("value"), lit("httpError"),
            to_json(struct(col("__call.httpError").as("v")))))
          .otherwise(as.map { a =>
            // a 2xx body that isn't valid JSON must poison only ITS
            // message: try_parse_json degrades to attaching the raw
            // body as a string instead of failing the whole micro-batch
            val parsed =
              call_function("try_parse_json", col("__call.response"))
            when(col("__call.response").isNotNull,
              setField(col("value"), lit(a),
                when(parsed.isNotNull, to_json(struct(parsed.as("v"))))
                  .otherwise(
                    to_json(struct(col("__call.response").as("v"))))))
              .otherwise(col("value"))
          }.getOrElse(col("value"))))
      .drop("__call")
  }

  // structural edits: the new value is computed columnar (variant
  // expressions), then spliced into the JSON text

  def addFields(df: DataFrame, spec: JsonNode, env: Env): DataFrame =
    Js.fields(spec).foldLeft(df) { case (d, (path, v)) =>
      splice(d, path, Stages.expr(d, v, env))
    }

  def unset(df: DataFrame, spec: JsonNode): DataFrame = {
    val paths =
      if (spec.isArray) Js.elems(spec).map(_.asText())
      else Seq(spec.asText())
    val rm = udf((json: String, path: String) => {
      if (json == null) null else { // tombstone passes through
      val root = Js.parse(json)
      removeAt(root, path.split("\\.").toList)
      Js.render(root)
      }
    })
    paths.foldLeft(df)((d, p) =>
      d.withColumn("value", rm(col("value"), lit(p))))
  }

  def replaceRoot(df: DataFrame, newRoot: JsonNode, env: Env): DataFrame =
    // a variant subtree serializes straight back to JSON text
    df.withColumn("value", to_json(Stages.expr(df, newRoot, env)))

  def project(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val ctx = Stages.ctxOf(df, env)
    val entries = Js.fields(spec)
    def flag(n: JsonNode, v: Boolean) =
      (n.isBoolean && n.asBoolean() == v) ||
        (n.isNumber && (n.asDouble() != 0) == v)
    if (entries.exists(e => flag(e._2, false)) &&
      entries.forall { case (k, v) =>
        flag(v, false) || (k == "_id" && flag(v, true))
      }) // exclusion mode → repeated $unset (a lone {_id:1} is inclusion)
      entries.filter(e => flag(e._2, false)).map(_._1).foldLeft(df) {
        (d, p) => unset(d, Js.parse("\"" + p + "\""))
      }
    else {
      val keep = entries.filter { case (k, v) => !flag(v, false) }
      val build = keep.foldLeft(
        lit("""{}""").as("value"): org.apache.spark.sql.Column) {
        case (acc, (path, v)) =>
          val computed =
            if (flag(v, true)) ExprCompiler.compile(
              Js.parse("\"$" + path + "\""), ctx)
            else ExprCompiler.compile(v, ctx)
          setField(acc, lit(path), wrapJson(computed))
      }
      val withId =
        if (entries.exists(_._1 == "_id")) build
        else setField(build, lit("_id"),
          wrapJson(ExprCompiler.compile(Js.parse("\"$_id\""), ctx)))
      df.withColumn("value", withId)
    }
  }

  /** `$lookup`: the probe key extracts from the variant typed to the
    * foreign key's column type; matches splice into the message as a
    * JSON array (left outer) or replace per match (unwind → inner).
    */
  def lookup(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val from = env.collection(spec.get("from").asText())
    val as = spec.get("as").asText()
    val unwindAs = spec.has("unwind") && spec.get("unwind").asBoolean()
    val inner =
      unwindAs || (spec.has("inner") && spec.get("inner").asBoolean())
    val foreignField = spec.get("foreignField").asText()
    val localPath = spec.get("localField").asText()
    val keyType = from.schema(foreignField).dataType.typeName
    val probeKey = call_function("try_variant_get",
      call_function("parse_json", col("value")),
      lit("$." + localPath), lit(keyType))
    val matches = from
      .groupBy(from.col(foreignField).as("__k"))
      .agg(collect_list(to_json(struct(from.columns.map(from.col): _*)))
        .as("__docs"))
    val joined = df.withColumn("__k", probeKey)
      .join(matches, Seq("__k"), if (inner) "inner" else "left_outer")
    val spliceArr = udf((json: String, docs: Seq[String]) => {
      if (json == null) null else { // tombstone passes through
      val root = Js.parse(json)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val arr = Js.arr()
      Option(docs).getOrElse(Seq.empty).foreach(d => arr.add(Js.parse(d)))
      root.set[JsonNode](as, arr)
      Js.render(root)
      }
    })
    val spliceOne = udf((json: String, doc: String) => {
      if (json == null) null else { // tombstone passes through
      val root = Js.parse(json)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      root.set[JsonNode](as, Js.parse(doc))
      Js.render(root)
      }
    })
    val out =
      if (unwindAs)
        joined.withColumn("__doc", explode(col("__docs")))
          .select(col("key"), spliceOne(col("value"), col("__doc")).as("value"))
      else
        joined.select(col("key"),
          spliceArr(col("value"), col("__docs")).as("value"))
    out
  }

  /** `$redact`: the document prunes ITSELF level by level in JSON land
    * (docs/aggregation_stages.md:491-513) — the condition evaluates per
    * subdocument via JsonPipeline's expression subset; $$DESCEND recurses,
    * $$PRUNE drops the subtree, $$KEEP keeps it.
    */
  def redact(df: DataFrame, spec: JsonNode): DataFrame = {
    val redact = udf((json: String) => {
      def walk(node: JsonNode): Option[JsonNode] = node match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode =>
          JsonPipeline.eval(spec, o).asText() match {
            case "$PRUNE" => None
            case "$KEEP"  => Some(o)
            case _ => // $$DESCEND: children decide for themselves
              val out = Js.obj()
              Js.fields(o).foreach { case (k, v) =>
                v match {
                  case child: com.fasterxml.jackson.databind.node.ObjectNode =>
                    walk(child).foreach(out.set[JsonNode](k, _))
                  case a if a.isArray =>
                    val arr = Js.arr()
                    Js.elems(a).foreach {
                      case e: com.fasterxml.jackson.databind.node.ObjectNode =>
                        walk(e).foreach(arr.add)
                      case e => arr.add(e)
                    }
                    out.set[JsonNode](k, arr)
                  case other => out.set[JsonNode](k, other)
                }
              }
              Some(out)
          }
        case other => Some(other)
      }
      if (json == null) null // tombstone passes through
      else walk(Js.parse(json)).map(Js.render).orNull
    })
    // root-pruned docs drop, but an input that was ALREADY null (a
    // tombstone) is not a pruning verdict — keep it
    df.withColumn("__in_null", col("value").isNull)
      .withColumn("value", redact(col("value")))
      .where(col("value").isNotNull || col("__in_null"))
      .drop("__in_null")
  }

  /** `$bucket`: the boundary when-chain computes the bucket id, then the
    * same accumulator machinery as $group aggregates per bucket
    * (docs/aggregation_stages.md:29-71; default output = count).
    */
  def bucket(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val ctx = Stages.ctxOf(df, env)
    val groupBy =
      ExprCompiler.compile(spec.get("groupBy"), ctx).cast("double")
    val boundNodes = Js.elems(spec.get("boundaries"))
    val bounds = boundNodes.map(_.asDouble())
    val defaultId: Column =
      if (spec.has("default")) lit(spec.get("default").asText())
      else lit(null).cast(StringType)
    // the bucket id is the lower boundary AS WRITTEN in the spec
    // ("0", "10", "0.5") — lit(lo).cast(string) would render the
    // double form ("0.0") and break consumers matching on bucket ids
    val id = bounds.zip(boundNodes).sliding(2).toSeq.foldLeft(defaultId) {
      case (acc, Seq((lo, loNode), (hi, _))) =>
        when(groupBy >= lo && groupBy < hi,
          lit(loNode.asText())).otherwise(acc)
      case (acc, _) => acc
    }
    val output = Option(spec.get("output"))
      .map(o => Js.fields(o)).getOrElse {
        Seq("count" -> Js.parse("""{"$count":{}}"""))
      }
    val aggs = accumulators(output, ctx, ordOf(df))
    // explicit empty output {} = distinct bucket ids, like $group
    val grouped =
      if (aggs.isEmpty) df.select(id.as("_id")).distinct()
      else df.groupBy(id.as("_id")).agg(aggs.head, aggs.tail: _*)
    grouped.select(col("_id").as("key"),
      to_json(struct(grouped.columns.map(col): _*)).as("value"))
  }

  /** `$group`: group key and accumulator inputs extract from the variant;
    * output messages are {_id, <accumulators>} JSON.
    */
  def group(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val ctx = Stages.ctxOf(df, env)
    val idNode = spec.get("_id")
    val id =
      if (idNode == null || idNode.isNull) lit(null).cast(StringType)
      else ExprCompiler.compile(idNode, ctx).cast(StringType)
    val aggs = accumulators(
      Js.fields(spec).filter(_._1 != "_id"), ctx, ordOf(df))
    // {$group: {_id: "$x"}} with no accumulators is the Mongo distinct
    // idiom — aggs.head on the empty seq would throw
    val grouped =
      if (aggs.isEmpty) df.select(id.as("_id")).distinct()
      else df.groupBy(id.as("_id")).agg(aggs.head, aggs.tail: _*)
    grouped.select(col("_id").as("key"),
      to_json(struct(grouped.columns.map(col): _*)).as("value"))
  }

  /** `$merge` with a `key`: the key column first — the splice rewrites
    * `value`, and `k` must evaluate against the ORIGINAL document both
    * times. whenMatched:merge on a message frame is a JSON document merge
    * performed IN the collection sink (ParquetCollectionIo.upsert).
    */
  def rekey(df: DataFrame, k: Column): DataFrame =
    splice(df.withColumn("key", k.cast(StringType)), "_id", k)

  /** `$delete`'s `on` fields, extracted from each message. */
  def fields(df: DataFrame, on: Seq[String]): DataFrame = {
    val v = call_function("parse_json", col("value"))
    df.select(on.map(f =>
      call_function("try_variant_get", v, lit("$." + f), lit("string"))
        .as(f)): _*)
  }

  def s3Transfer(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val as = spec.get("as").asText()
    S3Transfer(df, spec, env)
      .withColumn("value",
        when(col("httpError").isNotNull,
          setField(col("value"), lit("httpError"),
            wrapJson(col("httpError"))))
          .otherwise(
            setField(col("value"), lit(as), wrapJson(col(as)))))
      .drop(as, "httpError")
  }

  def s3Attachments(df: DataFrame, spec: JsonNode, env: Env): DataFrame =
    S3Attachments(df, spec, env)
      .withColumn("value",
        when(col("httpError").isNotNull,
          setField(col("value"), lit("httpError"),
            wrapJson(col("httpError"))))
          .otherwise(col("value")))
      .drop("httpError")

  /** Set the message field at the dotted `path` to the value of `c`. */
  def splice(df: DataFrame, path: String, c: Column): DataFrame =
    df.withColumn("value", setField(col("value"), lit(path), wrapJson(c)))

  /** Arrival-order rank for order-sensitive accumulators: the transport's
    * __ord stamp when the frame carries one (same contract as the typed
    * path, Stages.accumulator).
    */
  private def ordOf(df: DataFrame): Option[Column] =
    if (df.columns.contains("__ord")) Some(col("__ord")) else None

  /** Accumulators over variant inputs ($group and $bucket). The double
    * hop is only right for numeric accumulators: casting a string-valued
    * variant to double nulls it out. $min/$max order variants by the full
    * Mongo cross-type total order (mongo_sort_key collation key) via
    * min_by/max_by; $push/$addToSet keep the value's own string rendering.
    */
  private def accumulators(fields: Seq[(String, JsonNode)], ctx: Ctx,
      ord: Option[Column]): Seq[Column] =
    fields.map { case (field, v) =>
      val (op, arg) = Js.asOp(v).getOrElse(
        throw new IllegalArgumentException(s"accumulator for $field"))
      val c = ExprCompiler.compile(arg, ctx)
      val isVariant = ctx.typeOf(c).typeName == "variant"
      // Mongo total order (Null < Number < String < Object < Array <
      // Boolean) as an order-preserving collation key: min_by/max_by
      // partial-aggregate on it — no comparator crosses the shuffle.
      // Mongo $min/$max IGNORE null/missing values, but Spark's
      // min_by/max_by rank a SQL-null ordering smallest — so nulls get a
      // sentinel key at the LOSING end (every real key starts with a
      // rank char '1'-'6'); when all values are null the null row still
      // wins, which is Mongo's "all null → null" result.
      def variantOrd(v: Column, losing: String): Column = {
        val k = call_function("mongo_sort_key", to_json(v))
        // both SQL null (missing field) and the JSON-null bracket ("1")
        // are ignored values
        when(k.isNull || k === lit("1"), lit(losing)).otherwise(k)
      }
      (op match {
        case "$sum"   => sum(if (isVariant) c.cast("double") else c)
        case "$avg"   => avg(if (isVariant) c.cast("double") else c)
        case "$min" =>
          if (isVariant) min_by(c, variantOrd(c, "\u007f")) else min(c)
        case "$max" =>
          if (isVariant) max_by(c, variantOrd(c, "")) else max(c)
        case "$count" => count(lit(1))
        case "$push"  => collect_list(c.cast(StringType))
        case "$addToSet" =>
          array_sort(collect_set(c.cast(StringType)))
        // arrival order: rank by the transport's __ord stamp when the
        // frame carries one (min_by/max_by partial-aggregate, so the
        // rank crosses the shuffle) — bare first()/last() depend on
        // partition order and silently break on a multi-partition group
        case "$first" => ord.map(o => min_by(c, o)).getOrElse(first(c))
        case "$last"  => ord.map(o => max_by(c, o)).getOrElse(last(c))
        case "$stdDevPop" =>
          stddev_pop(if (isVariant) c.cast("double") else c)
        case "$mergeObjects" =>
          // field-wise merge over the group's JSON objects, later
          // non-null fields win (Mongo's ignore-null merge). The fold is
          // order-sensitive, so collect (__ord, json) pairs and sort by
          // __ord before merging — collect_list order is partition-order
          // nondeterministic on its own.
          val mergeFn = udf((objs: Seq[String]) => {
            val out = Js.obj()
            objs.filter(_ != null).foreach { s =>
              val n = Js.parse(s)
              if (n.isObject) Js.fields(n).foreach { case (k, v) =>
                if (!v.isNull) out.set[JsonNode](k, v)
              }
            }
            Js.render(out)
          })
          val ordered = ord match {
            case Some(o) =>
              transform(
                array_sort(collect_list(struct(o.as("o"),
                  to_json(c).as("j")))),
                x => x.getField("j"))
            case None => collect_list(to_json(c))
          }
          call_function("parse_json", mergeFn(ordered))
        case other =>
          throw new IllegalArgumentException(
            s"accumulator $other in schemaless mode")
      }).as(field)
    }

  /** JSON text of a computed column, whatever its type: to_json needs a
    * container, so wrap in a single-field struct and unwrap in the splice.
    * `ignoreNullFields=false` keeps a null result as `{"v":null}` — the
    * default would drop it and the splice would REMOVE the field, where
    * Mongo's $set/$addFields with a null value sets an explicit null.
    */
  private def wrapJson(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    to_json(struct(c.as("v")), Map("ignoreNullFields" -> "false"))

  /** Splice `{"v": <json>}`-wrapped values into the message at a dotted
    * path (missing intermediate objects are created).
    */
  private val setField =
    udf((json: String, path: String, wrapped: String) => {
      if (json == null) null else { // tombstone passes through
      val root = Js.parse(json) match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
        case _ => Js.obj()
      }
      val value = Js.parse(wrapped).get("v")
      val parts = path.split("\\.")
      var cur = root
      parts.init.foreach { p =>
        cur = Option(cur.get(p)) match {
          case Some(o: com.fasterxml.jackson.databind.node.ObjectNode) => o
          case _ =>
            val o = Js.obj()
            cur.set[com.fasterxml.jackson.databind.JsonNode](p, o)
            o
        }
      }
      if (value == null) cur.remove(parts.last)
      else cur.set[com.fasterxml.jackson.databind.JsonNode](parts.last, value)
      Js.render(root)
      }
    })

  private def removeAt(n: JsonNode, path: List[String]): Unit = n match {
    case o: com.fasterxml.jackson.databind.node.ObjectNode =>
      path match {
        case last :: Nil => o.remove(last)
        case head :: tail =>
          Option(o.get(head)).foreach(removeAt(_, tail))
        case Nil =>
      }
    case _ =>
  }
}

