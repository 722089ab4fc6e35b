package graft.expr

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.json.Js

/** Resolves document field paths to Columns.
  *
  * The reference engine evaluates MongoDB aggregation expressions over
  * schemaless JSON documents (/root/reference/docs/aggregation_operators.md,
  * implemented in the pincette-mongo library per SURVEY §2.7). We compile the
  * same expression language to Catalyst Columns instead, so Spark codegen /
  * pushdown / pruning apply. Two document models exist: relational (top-level
  * typed columns, used for parquet tables) and — for streaming JSON messages —
  * a variant/JSON-string model (see graft.streaming).
  */
trait DocModel {
  def path(p: String): Column
  def root: Column
  /** Resolve a path with a type hint taken from the literal it will be
    * compared against — lets dynamically-typed models (variant) extract a
    * typed value. Typed models ignore the hint.
    */
  def pathAs(p: String, hint: JsonNode): Column = path(p)
  /** Whether the path can resolve at all. Typed models answer from the
    * schema so `$match` on a field no document has (reference app3) can
    * compile to the Mongo missing-field semantics instead of failing
    * analysis; dynamic models always say yes (absent → null at runtime).
    */
  def has(p: String): Boolean = true
}

final class RelationalDoc(columns: Seq[String]) extends DocModel {
  def path(p: String): Column = {
    val parts = p.split("\\.")
    parts.tail.foldLeft(col(parts.head))((c, f) => c.getField(f))
  }
  def root: Column = struct(columns.map(col): _*)
  override def has(p: String): Boolean = columns.contains(p.split("\\.").head)
}

/** Schemaless message model: the document is one VariantType column
  * (Spark 4 parse_json), field paths extract typed values directed by the
  * comparison literal (SURVEY §1.4 — the reference is fully dynamic; this
  * is the Spark-native equivalent of its JsonObject model).
  */
final class VariantDoc(v: Column) extends DocModel {
  def path(p: String): Column =
    call_function("variant_get", v, lit("$." + p))
  override def pathAs(p: String, hint: JsonNode): Column = {
    val t =
      if (hint == null) null
      else if (hint.isTextual) "string"
      // all numerics extract as double: Mongo compares int/double within
      // one numeric bracket (exact for |n| <= 2^53)
      else if (hint.isNumber) "double"
      else if (hint.isBoolean) "boolean"
      else null
    if (t == null) path(p)
    // try_variant_get: a type mismatch is "no match" (null), Mongo-style,
    // not an error
    else call_function("try_variant_get", v, lit("$." + p), lit(t))
  }
  def root: Column = v
}

/** Compilation context: document model, `$$var` scope, and an on-demand type
  * resolver (the analyzer is consulted once per compile — types are needed to
  * pick semantics for dynamically-typed operators like `$toEpochMillis` which
  * accept ISO strings or native timestamps).
  */
final case class Ctx(
    doc: DocModel,
    vars: Map[String, Column] = Map.empty,
    typeOf: Column => DataType = _ => NullType,
    scripts: String => String = name =>
      throw new IllegalArgumentException(s"no script loader for $name")) {
  def withVar(name: String, c: Column): Ctx = copy(vars = vars + (name -> c))

  /** Bind a variable whose type the analyzer cannot resolve (a lambda
    * variable over a variant array: elements are variants, but an
    * unresolved lambda var has no schema). The type is answered by
    * REFERENCE identity — `compileString` hands back the stored Column
    * instance, so operator coercions (numeric/string/array) see the
    * declared type and apply the same variant rules as for field paths.
    */
  def withTypedVar(name: String, c: Column, t: DataType): Ctx = {
    val outer = typeOf
    copy(vars = vars + (name -> c),
      typeOf = col => if (col eq c) t else outer(col))
  }
}

object ExprCompiler {

  def compile(n: JsonNode, ctx: Ctx): Column = {
    if (n.isTextual) compileString(n.asText(), ctx)
    else if (n.isInt || n.isLong) lit(n.asLong())
    else if (n.isNumber) lit(n.asDouble())
    else if (n.isBoolean) lit(n.asBoolean())
    else if (n.isNull) lit(null)
    else if (n.isArray) heteroLiteral(n, ctx)
      .getOrElse {
        val cols = Js.elems(n).map(compile(_, ctx))
        // schemaless model: an array mixing compiled element TYPES (a
        // field reference next to a number literal, a variant next to a
        // string) cannot build through array() — analysis rejects
        // long-vs-variant, and scalar mixes would silently coerce.
        // Lift every element to VARIANT instead (same bracket-preserving
        // array the pure-literal hetero path produces). Homogeneous and
        // all-numeric arrays keep their natural Spark type.
        val ts = if (ctx.doc.isInstanceOf[VariantDoc])
          cols.map(ctx.typeOf).filter(_ != NullType) else Nil
        if (ts.map(_.typeName).distinct.size <= 1 ||
            ts.forall(_.isInstanceOf[NumericType]))
          array(cols: _*)
        else
          array(cols.map(c =>
            if (ctx.typeOf(c).typeName == "variant") c
            else call_function("parse_json", to_json(array(c)))
              .cast("array<variant>").getItem(0)): _*)
      }
    else
      Js.asOp(n) match {
        case Some((op, args)) => compileOp(op, args, ctx)
        case None             => // document literal: {field: expr, ...}
          struct(Js.fields(n).map { case (k, v) => compile(v, ctx).as(k) }: _*)
      }
  }

  private def compileString(s: String, ctx: Ctx): Column =
    if (s.startsWith("$$")) {
      val path = s.drop(2)
      val (name, rest) = path.span(_ != '.')
      val base = name match {
        case "ROOT"  => ctx.doc.root
        case "NOW"   => current_timestamp()
        case "TODAY" => current_date()
        // $redact verdict markers (docs/system_variables.md:3)
        case "DESCEND" | "KEEP" | "PRUNE" => lit("$$" + name)
        case v =>
          ctx.vars.getOrElse(
            v,
            throw new IllegalArgumentException(s"unbound variable $$$$$v"))
      }
      if (rest.isEmpty) base
      else rest.drop(1).split("\\.").foldLeft(base)((c, f) => c.getField(f))
    } else if (s.startsWith("$")) ctx.doc.path(s.drop(1))
    else lit(s)

  /** Arguments that may be a bare expression or an array of expressions. */
  private def argList(n: JsonNode, ctx: Ctx): Seq[Column] =
    if (n.isArray) Js.elems(n).map(compile(_, ctx)) else Seq(compile(n, ctx))

  private def numericTrunc(x: Column, place: Column): Column = {
    val f = pow(lit(10.0), place)
    (x * f).cast(LongType) / f
  }

  // Mongo regex options ("i", "m", "s", "x") → Java embedded flags.
  private[graft] def regexWithOptions(re: String, opts: String): String =
    if (opts.isEmpty) re else s"(?$opts)$re"

  /** `/pattern/opts` literal syntax (docs/query.md:190-194) or plain string. */
  private[graft] def regexLiteral(n: JsonNode): String = {
    val s = n.asText()
    if (s.length >= 2 && s.startsWith("/") && s.lastIndexOf('/') > 0) {
      val i = s.lastIndexOf('/')
      regexWithOptions(s.substring(1, i), s.substring(i + 1))
    } else s
  }

  private def isTimestampLike(c: Column, ctx: Ctx): Boolean =
    ctx.typeOf(c) match {
      case TimestampType | DateType | TimestampNTZType => true
      case _                                           => false
    }

  /** ISO-8601 string or native timestamp → TimestampType. */
  private def asTimestamp(c: Column, ctx: Ctx): Column =
    if (isTimestampLike(c, ctx)) c.cast(TimestampType)
    else to_timestamp(c)

  private val numericOps = Set(
    "$abs", "$add", "$ceil", "$divide", "$exp", "$floor", "$ln", "$log",
    "$log10", "$mod", "$multiply", "$pow", "$round", "$sqrt", "$subtract",
    "$trunc", "$acos", "$acosh", "$asin", "$asinh", "$atan", "$atan2",
    "$atanh", "$cos", "$cosh", "$degreesToRadians", "$radiansToDegrees",
    "$sin", "$sinh", "$tan", "$tanh", "$toDouble")
  private val stringOps = Set(
    "$concat", "$toLower", "$toUpper", "$strLenCP", "$substrCP",
    "$indexOfCP", "$split", "$strcasecmp", "$base64Encode", "$toString",
    "$uriDecode", "$uriEncode")
  private val comparisonOps =
    Set("$cmp", "$eq", "$gt", "$gte", "$lt", "$lte", "$ne")

  /** Variant (schemaless) operands coerce to the type the operator
    * family expects; for comparisons, to the other operand's type.
    */
  private def compileOp(op: String, n: JsonNode, ctx: Ctx): Column = {
    def isVariant(c: Column): Boolean =
      ctx.typeOf(c).typeName == "variant"
    def isNullLit(c: Column): Boolean = ctx.typeOf(c) == NullType
    lazy val rawArgs = argList(n, ctx)
    // both sides dynamically typed → Mongo's cross-type total order
    // (Null < Number < String < Object < Array < Boolean) via the native
    // mongo_cmp comparator over the JSON texts. A `null` literal against
    // a variant goes the same way: it has no type to cast the variant to
    lazy val variantCmp: Option[Column] =
      if (comparisonOps(op) && rawArgs.size == 2 &&
          rawArgs.exists(isVariant) &&
          rawArgs.forall(c => isVariant(c) || isNullLit(c)))
        // a MISSING field (SQL-null variant) sits in Mongo's Null
        // bracket, same as an explicit JSON null — don't let the null
        // propagate and silently drop the comparison
        Some(call_function("mongo_cmp", rawArgs.map(c =>
          if (isNullLit(c)) lit("null")
          else coalesce(to_json(c), lit("null"))): _*))
      else None
    lazy val as = {
      val raw = rawArgs
      if (numericOps(op))
        raw.map(c => if (isVariant(c)) c.cast(DoubleType) else c)
      else if (stringOps(op))
        raw.map(c => if (isVariant(c)) c.cast(StringType) else c)
      else if (comparisonOps(op) && raw.size == 2) {
        val Seq(l, r) = raw
        if (isVariant(l) && !isVariant(r)) Seq(l.cast(ctx.typeOf(r)), r)
        else if (!isVariant(l) && isVariant(r)) Seq(l, r.cast(ctx.typeOf(l)))
        else raw
      } else raw
    }
    lazy val a0 = as.head
    lazy val a1 = as(1)
    // array-family operand: a variant argument is a dynamically-typed
    // array — cast it to array<variant> so the array functions apply.
    // Without this, Spark's implicit variant→string cast silently turns
    // $concatArrays into string concatenation and $reverseArray into
    // string reversal, and every other array function fails analysis.
    // Elements stay variants; downstream operators coerce them like any
    // other schemaless value.
    def asArr(c: Column): Column =
      if (isVariant(c)) c.cast("array<variant>") else c

    op match {
      // ---- arithmetic (docs/aggregation_operators.md:5-153) ----
      case "$abs"      => abs(a0)
      case "$add"      => as.reduce(_ + _)
      case "$ceil"     => ceil(a0)
      case "$divide"   => a0 / a1
      case "$exp"      => exp(a0)
      case "$floor"    => floor(a0)
      case "$ln"       => log(a0)
      case "$log"      => log(a0) / log(a1) // Mongo [x, base]
      case "$log10"    => log10(a0)
      case "$mod"      => a0 % a1
      case "$multiply" => as.reduce(_ * _)
      case "$pow"      => pow(a0, a1)
      case "$round" => // Mongo rounds half-to-even
        if (as.size > 1) bround(a0, a1) else bround(a0)
      case "$sqrt"     => sqrt(a0)
      case "$subtract" => a0 - a1
      case "$trunc" =>
        if (as.size > 1) numericTrunc(a0, a1) else a0.cast(LongType)

      // ---- array (docs/aggregation_operators.md:155-352) ----
      // get() (not element_at) → out-of-bounds is null, Mongo-style, even
      // under ANSI mode
      case "$arrayElemAt" =>
        val arr = asArr(a0)
        when(a1 >= 0, get(arr, a1.cast(IntegerType)))
          .otherwise(get(arr, size(arr) + a1.cast(IntegerType)))
      case "$arrayToObject" => // [[k,v]...] or [{k:..,v:..}...] → map
        ctx.typeOf(a0) match {
          case ArrayType(ArrayType(_, _), _) =>
            map_from_entries(
              transform(a0, e => struct(element_at(e, 1).cast(StringType),
                element_at(e, 2))))
          case _ =>
            map_from_entries(
              transform(a0, e => struct(e.getField("k"), e.getField("v"))))
        }
      case "$concatArrays" => concat(as.map(asArr): _*)
      case "$elemMatch" => // first element matching the query (custom op)
        val raw = compile(n.get(0), ctx)
        get(
          filter(asArr(raw), x => QueryCompiler.compileValuePredicate(
            n.get(1), x,
            if (isVariant(raw)) ctx.withTypedVar("__e", x, VariantType)
            else ctx)),
          lit(0))
      case "$filter" =>
        val raw = compile(n.get("input"), ctx)
        val v = if (n.has("as")) n.get("as").asText() else "this"
        filter(asArr(raw), x => compile(n.get("cond"),
          if (isVariant(raw)) ctx.withTypedVar(v, x, VariantType)
          else ctx.withVar(v, x)))
      case "$first" => get(asArr(a0), lit(0))
      case "$last"  => get(asArr(a0), size(asArr(a0)) - 1)
      case "$in" if isVariant(rawArgs(1)) =>
        // schemaless haystack: elements are variants. A variant needle
        // (field vs field) compares in Mongo's cross-type total order
        // via mongo_cmp — the same comparator the $cmp family rides; a
        // typed literal needle casts each element to its type, matching
        // the variant-vs-literal coercion the comparison machinery uses.
        // Explicit JSON nulls and missing fields share the null bracket.
        val arr = rawArgs(1).cast("array<variant>")
        val needle = rawArgs(0)
        val hit =
          if (ctx.typeOf(needle) == NullType)
            exists(arr, e =>
              e.isNull || call_function("is_variant_null", e))
          else {
            // a TYPED needle lifts into a variant through JSON so it
            // compares in Mongo's total order with its OWN type bracket
            // — try_variant_get/cast would coerce (the number 1 would
            // match the string "1", which Mongo never does)
            val nv =
              if (isVariant(needle)) needle
              else call_function("parse_json", to_json(array(needle)))
                .cast("array<variant>").getItem(0)
            exists(arr, e => call_function("mongo_cmp",
              coalesce(to_json(e), lit("null")),
              coalesce(to_json(nv), lit("null"))) === 0)
          }
        coalesce(hit, lit(false))
      case "$in" =>
        // Mongo equality semantics, never SQL 3VL: a null needle matches
        // a null ELEMENT (array_contains answers SQL-null), and a
        // non-null needle absent from an array that contains nulls is
        // false, not null. A statically-null needle ($literal: null)
        // compiles straight to the null-element scan — array_contains
        // rejects a NullType argument at analysis even in a dead branch
        if (ctx.typeOf(a0) == NullType) exists(a1, _.isNull)
        else when(a0.isNull, exists(a1, _.isNull))
          .otherwise(coalesce(array_contains(a1, a0), lit(false)))
      case "$indexOfArray" if ctx.typeOf(a0) == NullType =>
        // a null/missing array yields null (Mongo); array_position would
        // reject the NullType argument at analysis
        lit(null).cast(LongType)
      case "$indexOfArray" if isVariant(rawArgs.head) =>
        // schemaless: match elements in Mongo's total order — compare
        // order-preserving collation keys (equality under mongo_cmp is
        // exactly key equality), so 2 matches 2.0 and nulls bracket
        def msk(c: Column) = call_function("mongo_sort_key",
          coalesce(to_json(c), lit("null")))
        val keys = transform(rawArgs.head.cast("array<variant>"),
          e => msk(e))
        val needleKey =
          if (isVariant(rawArgs(1))) msk(rawArgs(1))
          else msk(call_function("parse_json", to_json(array(rawArgs(1))))
            .cast("array<variant>").getItem(0))
        // same [start, end) clamp as the typed branch — the collation-key
        // array slices identically (silently searching the whole array
        // would return indexes outside the requested range)
        indexOfIn(keys, needleKey, as)
      case "$indexOfArray" =>
        indexOfIn(a0, a1, as)
      case "$isArray" =>
        ctx.typeOf(a0) match {
          case _: ArrayType => lit(true)
          case t if t.typeName == "variant" =>
            // per-row: variant columns carry their type in the value
            coalesce(
              call_function("schema_of_variant", a0).startsWith("ARRAY"),
              lit(false))
          case _ => lit(false)
        }
      case "$map" =>
        val raw = compile(n.get("input"), ctx)
        val v = if (n.has("as")) n.get("as").asText() else "this"
        transform(asArr(raw), x => compile(n.get("in"),
          if (isVariant(raw)) ctx.withTypedVar(v, x, VariantType)
          else ctx.withVar(v, x)))
      case "$objectToArray" => // object → [{k, v}...]
        val target = if (n.isObject && Js.asOp(n).isEmpty) compile(n, ctx) else a0
        ctx.typeOf(target) match {
          case st: StructType =>
            // a NULL struct row yields null, not an array of the schema's
            // keys with null values (Mongo: null/missing input → null)
            when(target.isNull, lit(null))
              .otherwise(array(st.fields.map(f =>
                struct(lit(f.name).as("k"),
                  target.getField(f.name).as("v"))): _*))
          case _: MapType =>
            transform(map_entries(target),
              e => struct(e.getField("key").as("k"), e.getField("value").as("v")))
          case NullType => lit(null) // statically null/missing input
          case t if t.typeName == "variant" =>
            // schemaless object → [{k, v}…]. DEVIATION: entries come out
            // in KEY-SORTED order, not document order — the variant
            // binary encoding sorts object keys at parse_json time, so
            // insertion order is unrecoverable here (the typed/struct
            // path above does preserve field order). JSON-null and
            // missing inputs both yield null.
            transform(map_entries(target.cast("map<string,variant>")),
              e => struct(e.getField("key").as("k"),
                e.getField("value").as("v")))
          case t => throw new IllegalArgumentException(s"$$objectToArray on $t")
        }
      case "$range" =>
        val step = if (as.size > 2) as(2) else lit(1L)
        val l0 = a0.cast(LongType); val l1 = a1.cast(LongType)
        val sl = step.cast(LongType)
        // empty whenever the step does not move start TOWARD end — the
        // `===` formulation sent start==end with a negative step into
        // sequence(x, x+1, -1), a runtime crash where Mongo returns []
        when(((l1 > l0) && (sl > 0)) || ((l1 < l0) && (sl < 0)),
          sequence(l0, l1 - signum(sl).cast(LongType), sl))
          .otherwise(array().cast(ArrayType(LongType)))
      case "$reduce" =>
        val raw = compile(n.get("input"), ctx)
        val init = compile(n.get("initialValue"), ctx)
        if (isVariant(raw))
          // schemaless: the accumulator threads as a VARIANT (zero and
          // merge-result types must agree for `aggregate`, and the body's
          // type depends on the data) — the body coerces $$value like any
          // other variant operand and the result casts back
          aggregate(asArr(raw), init.cast(VariantType), (acc, x) =>
            compile(n.get("in"), ctx
              .withTypedVar("this", x, VariantType)
              .withTypedVar("value", acc, VariantType))
              .cast(VariantType))
        else
          aggregate(raw, init, (acc, x) =>
            compile(n.get("in"),
              ctx.withVar("value", acc).withVar("this", x)))
      case "$reverseArray" => reverse(asArr(a0))
      case "$size"         => size(asArr(a0))
      case "$slice" =>
        // negative positions clamp at the array start (Mongo semantics;
        // Spark's slice returns empty when |start| exceeds the length)
        val arr = asArr(a0)
        if (as.size == 2) {
          // [arr, n]: first n (n>0) or last n (n<0)
          val cnt = a1.cast(IntegerType)
          when(cnt >= 0, slice(arr, lit(1), cnt))
            .otherwise(slice(arr, greatest(cnt, -size(arr)), -cnt))
        } else {
          // [arr, pos, n]: pos may be negative (from end), n > 0
          val pos = a1.cast(IntegerType); val cnt = as(2).cast(IntegerType)
          when(pos >= 0, slice(arr, pos + 1, cnt))
            .otherwise(slice(arr, greatest(pos, -size(arr)), cnt))
        }
      case "$zip" => // two-input form; arrays of arrays out
        val (inputs, useLongest, defaults) =
          if (n.isArray) (Js.elems(n), false, Option.empty[JsonNode])
          else (Js.elems(n.get("inputs")),
            n.has("useLongestLength") &&
              n.get("useLongestLength").asBoolean(),
            Option(n.get("defaults")))
        val cols = inputs.map(compile(_, ctx))
        require(cols.size == 2, "$zip: two inputs supported")
        // Mongo errors on a malformed spec at parse time, not per row:
        // defaults are only legal under useLongestLength (the shortest-
        // length default never pads) and must pair up with the inputs —
        // a short defaults array would otherwise NPE on d.get(i)
        defaults.foreach { d =>
          require(useLongest,
            "$zip: defaults requires useLongestLength: true")
          require(d.isArray && d.size == cols.size,
            s"$$zip: defaults must be an array with one entry per input " +
              s"(${cols.size} inputs, got ${if (d.isArray) d.size else d})")
        }
        // index-built, NOT zip_with: zip_with pads the shorter input to
        // the longest with nulls, but Mongo's default is the SHORTEST
        // length, and under useLongestLength only positions past an
        // input's end take its default (a genuine null element must
        // never be replaced)
        val n0 = size(cols(0)); val n1 = size(cols(1))
        val len = if (useLongest) greatest(n0, n1) else least(n0, n1)
        def pad(i: Int) = defaults
          .map(d => compile(d.get(i), ctx)).getOrElse(lit(null))
        // a statically-null input ($literal: null) would fail analysis in
        // size/get below; Mongo answers null, so short-circuit (same
        // pattern as the $indexOfArray null-typed case above)
        if (cols.exists(c => ctx.typeOf(c) == NullType)) lit(null)
        else {
          // sequence(0, -1) counts DOWN (see Fns.shingles): build at
          // least one index and slice back to len so the empty case
          // stays typed
          val zipped = slice(
            transform(sequence(lit(0), greatest(len, lit(1)) - 1), i =>
              array(
                when(i < n0, get(cols(0), i)).otherwise(pad(0)),
                when(i < n1, get(cols(1), i)).otherwise(pad(1)))),
            lit(1), len)
          // any null/missing INPUT makes the whole result null (Mongo);
          // least/greatest skip SQL nulls, so without this gate a null
          // input would silently act like an empty/absent array
          when(cols(0).isNull || cols(1).isNull, lit(null))
            .otherwise(zipped)
        }

      // ---- boolean (:354-393) ----
      // Mongo truthiness, not SQL three-valued logic: null and 0 are
      // falsy, every other value (including "" and []) is truthy — so
      // $and over a null operand is false, never SQL-null
      case "$and" => as.map(truthy(_, ctx)).reduce(_ && _)
      case "$or"  => as.map(truthy(_, ctx)).reduce(_ || _)
      case "$not" => !truthy(a0, ctx)

      // ---- comparison (:395-465) ----
      // Ordered comparisons follow Mongo's total order on the null
      // bracket: null/missing sorts BELOW every value, and comparing two
      // nulls is equality — never SQL-null. The coalesce fallback fires
      // exactly when a side is null (the plain comparison answers null),
      // so fully-non-null data keeps the bare codegen'd predicate.
      case "$cmp" =>
        variantCmp.getOrElse(
          when(a0.isNull && a1.isNull, 0).when(a0.isNull, -1)
            .when(a1.isNull, 1)
            .otherwise(when(a0 < a1, -1).when(a0 > a1, 1).otherwise(0)))
      // $eq/$ne are null-SAFE (<=>): Mongo's null bracket makes
      // $eq:[null,null] true and $ne:[null,5] true — plain ===/=!= would
      // answer SQL null (false in a filter, null in a projection)
      case "$eq"  => variantCmp.map(_ === 0).getOrElse(a0 <=> a1)
      case "$gt" =>
        variantCmp.map(_ > 0)
          .getOrElse(coalesce(a0 > a1, a0.isNotNull && a1.isNull))
      case "$gte" =>
        variantCmp.map(_ >= 0).getOrElse(coalesce(a0 >= a1, a1.isNull))
      case "$lt" =>
        variantCmp.map(_ < 0)
          .getOrElse(coalesce(a0 < a1, a0.isNull && a1.isNotNull))
      case "$lte" =>
        variantCmp.map(_ <= 0).getOrElse(coalesce(a0 <= a1, a0.isNull))
      case "$ne"  => variantCmp.map(_ =!= 0).getOrElse(!(a0 <=> a1))

      // ---- conditional (:467-512) ----
      case "$cond" =>
        val (i, t, e) =
          if (n.isArray) (as(0), as(1), as(2))
          else (compile(n.get("if"), ctx), compile(n.get("then"), ctx),
            compile(n.get("else"), ctx))
        // truthy: Mongo accepts any expression as the condition (0/null
        // falsy); a bare numeric would otherwise fail analysis
        when(truthy(i, ctx), t).otherwise(e)
      case "$ifNull" => coalesce(as: _*)
      case "$switch" =>
        val branches = Js.elems(n.get("branches")).map(b =>
          (truthy(compile(b.get("case"), ctx), ctx),
            compile(b.get("then"), ctx)))
        val base = when(branches.head._1, branches.head._2)
        val chained = branches.tail.foldLeft(base) { case (c, (cond, v)) =>
          c.when(cond, v)
        }
        if (n.has("default")) chained.otherwise(compile(n.get("default"), ctx))
        else chained

      // ---- ISO-8601 (custom family, :514-614) ----
      case "$fromEpochMillis" =>
        date_format(timestamp_millis(a0.cast(LongType)),
          "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      case "$fromEpochNanos" =>
        date_format(timestamp_micros((a0.cast(LongType) / 1000).cast(LongType)),
          "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      case "$fromEpochSeconds" =>
        date_format(timestamp_seconds(a0.cast(LongType)),
          "yyyy-MM-dd'T'HH:mm:ss'Z'")
      case "$toDate" =>
        if (isTimestampLike(a0, ctx)) date_format(a0, "yyyy-MM-dd")
        else substring(a0, 1, 10)
      case "$toDay"   => dayofmonth(asTimestamp(a0, ctx))
      case "$toMonth" => month(asTimestamp(a0, ctx))
      case "$toYear"  => year(asTimestamp(a0, ctx))
      case "$toEpochMillis" => unix_millis(asTimestamp(a0, ctx))
      case "$toEpochNanos"  => unix_micros(asTimestamp(a0, ctx)) * 1000L
      case "$toEpochSeconds" => unix_seconds(asTimestamp(a0, ctx))

      // ---- literal (:616-627) ----
      case "$literal" =>
        if (n.isArray) heteroLiteral(n, ctx, underLiteral = true)
          .getOrElse(literal(n))
        else literal(n)

      // ---- object (:629-644) ----
      case "$mergeObjects" => mergeObjects(as, ctx)

      // ---- set, over arrays (:646-722) ----
      case "$allElementsTrue" if isVariant(rawArgs.head) =>
        forall(asArr(rawArgs.head),
          x => truthy(x, ctx.withTypedVar("__e", x, VariantType)))
      case "$allElementsTrue" => forall(a0, x => x)
      case "$anyElementTrue" if isVariant(rawArgs.head) =>
        exists(asArr(rawArgs.head),
          x => truthy(x, ctx.withTypedVar("__e", x, VariantType)))
      case "$anyElementTrue"  => exists(a0, x => x)
      // Set operators over VARIANT arrays: membership/dedup/sorting run
      // on mongo_sort_key collation keys (equality under Mongo's total
      // order IS key equality, so 2 matches 2.0 and nulls bracket), and
      // value-producing ops rebuild the elements through a key→value map
      // (LAST_WIN dedups equal-keyed representatives deterministically).
      // Variants themselves are not orderable, so none of the typed
      // array_* set functions apply directly.
      case "$setDifference" | "$setEquals" | "$setIntersection" |
          "$setIsSubset" | "$setUnion" if rawArgs.exists(isVariant) =>
        def msk(c: Column) = call_function("mongo_sort_key",
          coalesce(to_json(c), lit("null")))
        // a TYPED operand mixed in (an array literal) round-trips through
        // JSON into the variant model so its elements key the same way
        def toVarArr(c: Column) =
          if (isVariant(c)) c.cast("array<variant>")
          else call_function("parse_json", to_json(c))
            .cast("array<variant>")
        val arrs = rawArgs.map(toVarArr)
        val keys = arrs.map(a => transform(a, e => msk(e)))
        def values(sortedKeys: Column) = {
          val all = concat(arrs: _*)
          val m = map_from_arrays(transform(all, e => msk(e)), all)
          transform(sortedKeys, k => element_at(m, k))
        }
        op match {
          case "$setUnion" =>
            values(array_sort(array_distinct(concat(keys: _*))))
          case "$setIntersection" =>
            values(array_sort(array_distinct(keys.reduce(array_intersect))))
          case "$setDifference" =>
            require(keys.size == 2,
              s"$$setDifference takes 2 arrays, got ${keys.size}")
            values(array_sort(array_distinct(
              array_except(keys(0), keys(1)))))
          case "$setEquals" =>
            keys.tail.map(b =>
              size(array_except(keys.head, b)) === 0 &&
                size(array_except(b, keys.head)) === 0).reduce(_ && _)
          case "$setIsSubset" =>
            require(keys.size == 2,
              s"$$setIsSubset takes 2 arrays, got ${keys.size}")
            size(array_except(keys(0), keys(1))) === 0
        }
      case "$setDifference" =>
        require(as.size == 2, s"$$setDifference takes 2 arrays, got ${as.size}")
        array_sort(array_distinct(array_except(a0, a1)))
      case "$setEquals" => // n-ary in Mongo: all operands are equal as sets
        as.tail.map(b =>
          size(array_except(a0, b)) === 0 && size(array_except(b, a0)) === 0)
          .reduce(_ && _)
      case "$setIntersection" => // n-ary in Mongo
        array_sort(array_distinct(as.reduce(array_intersect)))
      case "$setIsSubset" =>
        require(as.size == 2, s"$$setIsSubset takes 2 arrays, got ${as.size}")
        size(array_except(a0, a1)) === 0
      case "$setUnion" =>
        array_sort(array_distinct(concat(as: _*)))

      // ---- string (:724-949) ----
      case "$base64Decode" => unbase64(a0).cast(StringType)
      case "$base64Encode" => base64(a0.cast(BinaryType))
      case "$concat"       => concat(as: _*)
      case "$indexOfCP" =>
        if (as.size <= 2) locate_col(a1, a0) - 1
        else {
          val start = as(2).cast(IntegerType)
          val found = locate_col(a1, a0, start + 1) - 1
          if (as.size > 3) when(found >= 0 && found + length(a1) <= as(3), found)
            .otherwise(-1)
          else found
        }
      case "$jsonToString" => to_json(a0)
      case "$ltrim" => ltrimOp(n, ctx)
      case "$rtrim" => rtrimOp(n, ctx)
      case "$trim"  => trimOp(n, ctx)
      case "$regexFind"    => regexFind(n, ctx, all = false)
      case "$regexFindAll" => regexFind(n, ctx, all = true)
      case "$regexMatch" =>
        val (input, re) = regexArgs(n, ctx)
        input.rlike(re)
      case "$replaceAll" =>
        replace(compile(n.get("input"), ctx), compile(n.get("find"), ctx),
          compile(n.get("replacement"), ctx))
      case "$replaceOne" =>
        val input = compile(n.get("input"), ctx)
        val find = compile(n.get("find"), ctx)
        val repl = compile(n.get("replacement"), ctx)
        val pos = locate_col(find, input)
        when(pos === 0, input).otherwise(
          concat(substring_col(input, lit(1), pos - 1), repl,
            substring_col(input, pos + length(find),
              length(input) - pos - length(find) + 1)))
      case "$split" =>
        // the delimiter is any expression in Mongo; the old `asText()`
        // turned a field path "$d" into the literal "$d" and an operator
        // object into "" (Jackson), silently splitting wrong — quote
        // string literals at compile time, everything else at runtime
        // (\Q...\E)
        val delim = n.get(1)
        if (delim.isTextual && !delim.asText().startsWith("$"))
          split(a0, litQuote(delim.asText()))
        else {
          // Pattern.quote's trick for a delimiter that itself contains
          // \E (which would close the \Q quote and leak regex): replace
          // each literal `\E` with `\E\\E\Q` before wrapping
          val quoted = regexp_replace(a1.cast(StringType),
            lit("\\\\E"), lit("\\\\E\\\\\\\\E\\\\Q"))
          // Mongo errors on a null delimiter (it is not "split by nothing")
          when(a1.isNull && !a0.isNull, raise_error(
            lit("$split requires a non-null string delimiter")))
            .otherwise(call_function("split", a0,
              concat(lit("\\Q"), quoted, lit("\\E"))))
        }
      case "$strcasecmp" =>
        val l = lower(a0); val r = lower(a1)
        when(l < r, -1).when(l > r, 1).otherwise(0)
      case "$stringToJson" => from_json_dynamic(a0)
      case "$strLenCP"     => length(a0)
      case "$substrCP" => substring_col(a0, a1.cast(IntegerType) + 1,
        as(2).cast(IntegerType))
      case "$toLower" => lower(a0)
      case "$toUpper" => upper(a0)
      case "$uriDecode" => url_decode(a0)
      case "$uriEncode" => url_encode(a0)

      // ---- trigonometry (:951-1090) ----
      case "$acos"  => acos(a0)
      case "$acosh" => acosh(a0)
      case "$asin"  => asin(a0)
      case "$asinh" => asinh(a0)
      case "$atan"  => atan(a0)
      case "$atan2" => atan2(a0, a1)
      case "$atanh" => atanh(a0)
      case "$cos"   => cos(a0)
      case "$cosh"  => cosh(a0)
      case "$degreesToRadians" => radians(a0)
      case "$radiansToDegrees" => degrees(a0)
      case "$sin"  => sin(a0)
      case "$sinh" => sinh(a0)
      case "$tan"  => tan(a0)
      case "$tanh" => tanh(a0)

      // ---- type (:1092-1159) ----
      case "$convert" =>
        // onNull fires for null input; onError for a failed conversion
        // (non-ANSI cast → null) — distinct fallbacks in Mongo
        val input = compile(n.get("input"), ctx)
        val to = n.get("to").asText()
        val converted = convertTo(input, to, ctx)
        val onError =
          if (n.has("onError")) coalesce(converted, compile(n.get("onError"), ctx))
          else converted
        if (n.has("onNull"))
          when(input.isNull, compile(n.get("onNull"), ctx)).otherwise(onError)
        else onError
      case "$toBool"    => toBool(a0, ctx)
      case "$toDecimal" => a0.cast(DecimalType(38, 18))
      case "$toDouble"  => a0.cast(DoubleType)
      case "$toInt"     => a0.cast(IntegerType)
      case "$toLong"    => a0.cast(LongType)
      case "$toString"  => a0.cast(StringType)
      case "$type" => mongoTypeOf(a0, ctx)

      // ---- misc (:1161-1337) ----
      case "$let" =>
        val inner = Js.fields(n.get("vars")).foldLeft(ctx) {
          case (c, (name, v)) => c.withVar(name, compile(v, c))
        }
        compile(n.get("in"), inner)
      case "$sort" => sortOp(n, ctx)
      case "$trace" => // value passes through unchanged, logged per row
        // (reference pincette-mongo trace()). Routed through the global
        // LogSink hook like the JSLT `trace` builtin — the compiler has
        // no Env to thread (same constraint, Context.java:75).
        // Deliberately DETERMINISTIC: value-wise the expression is the
        // identity, so it is legal in sort/group/join-key positions like
        // the reference's trace() (an asNondeterministic marker makes
        // those positions an AnalysisException). The trade: the optimizer
        // may duplicate or collapse evaluations, so the NUMBER of log
        // entries is best-effort — the reference pins no count either
        // ("logged per evaluation" is engine-defined).
        val v = compile(n, ctx)
        val logged = udf { (json: String) =>
          // to_json needs a container, so the value rides in a 1-element
          // array; log the VALUE, not the wrapper
          val m = if (json != null && json.length >= 2 &&
            json.charAt(0) == '[' && json.charAt(json.length - 1) == ']')
            json.substring(1, json.length - 1) else json
          graft.op.LogSink.jslt(
            graft.op.LogOp.traceLogger, "INFO", m, null, null, null)
          true
        }
        when(logged(to_json(array(v))), v)
      // embedded script operators (docs/aggregation_operators.md:1163-1187):
      // {input?, script} → JSON-string result ($$ROOT input by default)
      case "$jq" | "$jslt" =>
        val input =
          if (n.has("input")) compile(n.get("input"), ctx) else ctx.doc.root
        // base = the script file itself, so its relative imports resolve
        val (script, base) =
          graft.op.Scripts.resolve(n.get("script").asText(), ctx.scripts)
        val program =
          if (op == "$jq") graft.jq.MiniJq.compile(script, ctx.scripts, base)
          else graft.jq.MiniJslt.compile(script, ctx.scripts, base)
        val run = udf((json: String) =>
          Js.render(program(Js.parse(json))))
        run(to_json(input))

      // state-management extensions (docs/aggregation_operators.md:1231-1337)
      case "$jes-uuid" => expr("uuid()")
      case "$jes-href" => // {app, type, id?} → /app/type[/id]
        val app = compile(n.get("app"), ctx)
        val typ = compile(n.get("type"), ctx)
        val base = concat(lit("/"), app, lit("/"), typ)
        if (n.has("id")) concat(base, lit("/"), compile(n.get("id"), ctx))
        else base
      case "$jes-added" => // pointer added by the event's JSON-Patch _ops
        jesOps(n, ctx, Seq("add"))
      case "$jes-removed" =>
        jesOps(n, ctx, Seq("remove"))
      case "$jes-changed" => jesChanged(n, ctx)
      case "$jes-name-uuid" => // RFC-4122 name-based UUID from {scope, key}
        val scope = compile(n.get("scope"), ctx).cast(StringType)
        val key = compile(n.get("key"), ctx).cast(StringType)
        val nameUuid = udf((s: String, k: String) =>
          java.util.UUID
            .nameUUIDFromBytes(s"$s:$k".getBytes("UTF-8")).toString)
        nameUuid(scope, key)

      case other => // plugin-provided operators (docs/plugins.md)
        graft.plugin.Plugins.expression(other)
          .map(f => f(n, ctx))
          .getOrElse(
            throw new IllegalArgumentException(s"unsupported operator $other"))
    }
  }

  // -- helpers ---------------------------------------------------------------

  /** True when the event's `_ops` JSON-Patch array contains one of `ops`
    * at the given pointer (docs/aggregation_operators.md:1240-1254).
    */
  private def jesOps(n: JsonNode, ctx: Ctx, ops: Seq[String]): Column = {
    val pointer =
      compile(if (n.isObject && n.has("pointer")) n.get("pointer") else n, ctx)
        .cast(StringType)
    exists(ctx.doc.path("_ops"), o =>
      o.getField("path") === pointer &&
        ops.map(op => o.getField("op") === op).reduce(_ || _))
  }

  /** `$jes-changed {pointer, from?, to?}`: pointed field changed in the
    * event; with from/to, the transition is checked against the full
    * event's `_before`/`_after` (docs/aggregation_operators.md:1256-1262).
    */
  private def jesChanged(n: JsonNode, ctx: Ctx): Column = {
    val pointerNode = n.get("pointer")
    val changed = jesOps(
      Js.obj().set[JsonNode]("pointer", pointerNode),
      ctx, Seq("add", "replace", "remove"))
    if (n.has("from") && n.has("to")) {
      val path = pointerNode.asText().stripPrefix("/").replace("/", ".")
      def field(root: String): Column =
        path.split("\\.").foldLeft(ctx.doc.path(root))(_.getField(_))
      changed &&
        field("_before") === compile(n.get("from"), ctx) &&
        field("_after") === compile(n.get("to"), ctx)
    } else changed
  }

  private def locate_col(substr: Column, str: Column, pos: Column = lit(1)) =
    call_function("locate", substr, str, pos)

  private def substring_col(str: Column, pos: Column, len: Column) =
    call_function("substring", str, pos, len)

  /** Mongo's $split delimiter is a literal string, but Spark's split() takes
    * a regex — quote it so "." or "|" split on the character, not on any.
    */
  private def litQuote(s: String): String = java.util.regex.Pattern.quote(s)

  /** Dynamic from_json is not possible without a schema; messages parse into
    * a map<string,string>-ish variant in the streaming model. Here: variant.
    */
  private def from_json_dynamic(c: Column): Column = parse_json(c)

  /** `$literal` returns the operand unevaluated. */
  /** `$indexOfArray` core shared by the typed and variant (collation-key)
    * branches: position of `needle` in `arr`, restricted to Mongo's
    * optional [start, end) window with the index re-offset to the whole
    * array; -1 when absent.
    */
  private def indexOfIn(arr: Column, needle: Column,
      as: Seq[Column]): Column = {
    val base = array_position(arr, needle).cast(LongType) - 1
    if (as.size <= 2) base
    else {
      // search restricted to [start, end): index within slice, re-offset
      val start = as(2)
      val len =
        if (as.size > 3) as(3) - start else size(arr).cast(LongType) - start
      val sub = slice(arr, (start + 1).cast(IntegerType),
        len.cast(IntegerType))
      val pos = array_position(sub, needle).cast(LongType)
      when(pos > 0, pos - 1 + start).otherwise(lit(-1L))
    }
  }

  /** A pure-literal array mixing Mongo type brackets (numbers, strings,
    * booleans) has no Spark element type — `array()` would silently
    * coerce 1 to "1", corrupting the data. In the schemaless model it
    * compiles to the equivalent VARIANT array (elements keep their
    * types); the typed model rejects it loudly. Arrays with expression
    * or object elements fall through to the normal path (None).
    *
    * On the plain (non-`$literal`) path a textual element starting with
    * `$` is a FIELD/VARIABLE REFERENCE, not a string literal — `[1,
    * "$price"]` must resolve the path per element, so it counts as an
    * expression ("x") and falls through. Under `$literal`
    * (`underLiteral = true`) path resolution is suppressed by contract
    * and `"$price"` stays the literal string.
    */
  private def heteroLiteral(n: JsonNode, ctx: Ctx,
      underLiteral: Boolean = false): Option[Column] = {
    def kind(e: JsonNode): String =
      if (e.isNumber) "n"
      else if (e.isTextual)
        if (!underLiteral && e.asText().startsWith("$")) "x" else "s"
      else if (e.isBoolean) "b" else if (e.isNull) "z" else "x"
    val ks = Js.elems(n).map(kind)
    val scalarKinds = ks.filter(_ != "z").distinct
    if (ks.contains("x") || scalarKinds.size <= 1) None
    else ctx.doc match {
      case _: VariantDoc =>
        Some(call_function("parse_json", lit(n.toString)))
      case _ => throw new IllegalArgumentException(
        s"array literal $n mixes Mongo type brackets (numbers/strings/" +
          "booleans); the typed model has no element type for it — " +
          "restructure the literal or run the schemaless path")
    }
  }

  private def literal(n: JsonNode): Column =
    if (n.isTextual) lit(n.asText())
    else if (n.isInt || n.isLong) lit(n.asLong())
    else if (n.isNumber) lit(n.asDouble())
    else if (n.isBoolean) lit(n.asBoolean())
    else if (n.isNull) lit(null)
    else if (n.isArray) array(Js.elems(n).map(literal): _*)
    else struct(Js.fields(n).map { case (k, v) => literal(v).as(k) }: _*)

  /** Struct-merge with last-wins field semantics (schema known at compile). */
  private def mergeObjects(cols: Seq[Column], ctx: Ctx): Column = {
    val fieldLists = cols.map(c =>
      ctx.typeOf(c) match {
        case st: StructType => st.fieldNames.toSeq
        case t => throw new IllegalArgumentException(s"$$mergeObjects on $t")
      })
    val ordered = fieldLists.flatten.distinct
    val picks = ordered.map { f =>
      // last object having the field wins; missing → earlier object's value
      val owners = cols.zip(fieldLists).filter(_._2.contains(f)).map(_._1)
      coalesce(owners.reverse.map(_.getField(f)): _*).as(f)
    }
    struct(picks: _*)
  }

  private def regexArgs(n: JsonNode, ctx: Ctx): (Column, String) = {
    val input = compile(n.get("input"), ctx)
    val opts = if (n.has("options")) n.get("options").asText() else ""
    val re = regexWithOptions(regexLiteral(n.get("regex")), opts)
    (input, re)
  }

  /** $regexFind → {match, idx, captures}; $regexFindAll → array of those.
    * Capture groups require java.util.regex — a rare non-hot-path UDF.
    */
  private def regexFind(n: JsonNode, ctx: Ctx, all: Boolean): Column = {
    val (input, re) = regexArgs(n, ctx)
    val schema = ArrayType(StructType(Seq(
      StructField("match", StringType),
      StructField("idx", IntegerType),
      StructField("captures", ArrayType(StringType)))))
    // compile once at plan build (Pattern is Serializable) — a per-row
    // Pattern.compile would dominate the scan on long documents
    val pat = java.util.regex.Pattern.compile(re)
    val finder = udf((s: String) =>
      if (s == null) null
      else {
        val m = pat.matcher(s)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Int, Seq[String])]
        while (m.find()) out += ((m.group(), m.start(),
          (1 to m.groupCount()).map(m.group)))
        out.toSeq
      })
    val found = finder(input).cast(schema)
    if (all) found else element_at(found, 1)
  }

  private def trimChars(n: JsonNode): String =
    if (n.has("chars")) n.get("chars").asText() else " \t\n\r"

  private def ltrimOp(n: JsonNode, ctx: Ctx): Column =
    ltrim(compile(n.get("input"), ctx), trimChars(n))
  private def rtrimOp(n: JsonNode, ctx: Ctx): Column =
    rtrim(compile(n.get("input"), ctx), trimChars(n))
  private def trimOp(n: JsonNode, ctx: Ctx): Column = {
    val c = compile(n.get("input"), ctx)
    ltrim(rtrim(c, trimChars(n)), trimChars(n))
  }

  /** Array `$sort` (docs/aggregation_operators.md:1204-1218): sorts an array
    * of scalars (direction) or of objects (by `paths`).
    */
  private def sortOp(n: JsonNode, ctx: Ctx): Column = {
    val input = compile(n.get("input"), ctx)
    val dir = if (n.has("direction")) n.get("direction").asText() else "asc"
    val sorted = array_sort(input)
    if (n.has("paths")) {
      // sort objects by field paths: build comparator on first path only when
      // single path; multi-path via tuple comparison
      val paths = Js.elems(n.get("paths")).map(_.asText())
      val cmp = (l: Column, r: Column) => {
        def fieldOf(c: Column, p: String) =
          p.split("\\.").foldLeft(c)((x, f) => x.getField(f))
        paths.foldRight(lit(0)) { (p, tail) =>
          val lf = fieldOf(l, p); val rf = fieldOf(r, p)
          when(lf < rf, -1).when(lf > rf, 1).otherwise(tail)
        }
      }
      val base = array_sort(input, (l, r) => cmp(l, r))
      if (dir == "desc") reverse(base) else base
    } else if (dir == "desc") reverse(sorted)
    else sorted
  }

  private def convertTo(c: Column, to: String, ctx: Ctx): Column = to match {
    case "double" | "1"  => c.cast(DoubleType)
    case "string" | "2"  => c.cast(StringType)
    case "bool" | "8"    => toBool(c, ctx)
    case "date" | "9"    => asTimestamp(c, ctx)
    case "int" | "16"    => c.cast(IntegerType)
    case "long" | "18"   => c.cast(LongType)
    case "decimal" | "19" => c.cast(DecimalType(38, 18))
    case other => throw new IllegalArgumentException(s"$$convert to $other")
  }

  /** Mongo truthiness (docs link $and/$or/$not straight to MongoDB):
    * null, missing, false, and 0 are falsy; EVERYTHING else — "" and []
    * included — is truthy. Known scalar types compile to a non-null
    * boolean; an unresolvable type (lambda-scoped variable → the typeOf
    * probe fails and answers NullType) keeps the raw column, preserving
    * SQL semantics rather than guessing wrong.
    */
  private def truthy(c: Column, ctx: Ctx): Column = ctx.typeOf(c) match {
    case BooleanType    => coalesce(c, lit(false))
    case _: NumericType => coalesce(c =!= 0, lit(false))
    case StringType | BinaryType | TimestampType | DateType |
        TimestampNTZType | _: ArrayType | _: StructType | _: MapType =>
      c.isNotNull
    case t if t.typeName == "variant" =>
      // type-dispatch BEFORE casting: a variant string like "false" or "0"
      // would cast to boolean/double and read falsy, but in Mongo every
      // string (and array/object) is truthy — only bool false and
      // numeric 0 are falsy among present values
      val s = call_function("schema_of_variant", c)
      when(c.isNull || call_function("is_variant_null", c), lit(false))
        .when(s === "BOOLEAN", coalesce(
          call_function("try_variant_get", c, lit("$"), lit("boolean")),
          lit(true)))
        .when(s === "DOUBLE" || s === "FLOAT" || s.startsWith("DECIMAL") ||
          s === "BIGINT" || s === "INT" || s === "SMALLINT" ||
          s === "TINYINT", coalesce(
          call_function("try_variant_get", c, lit("$"), lit("double")) =!= 0,
          lit(true)))
        .otherwise(lit(true))
    case _ => c // unknown (NullType ambiguity): keep current semantics
  }

  /** Mongo $toBool: numbers → x != 0, strings → always true, bool → identity. */
  private def toBool(c: Column, ctx: Ctx): Column = ctx.typeOf(c) match {
    case BooleanType => c
    case StringType  => when(c.isNull, lit(null)).otherwise(lit(true))
    case _: NumericType => c =!= 0
    case _ => c.cast(BooleanType)
  }

  /** Mongo type name of a column — compile-time for typed models,
    * per-row for variants (shared by the `$type` expression operator and
    * the `$type` query operator, which must not answer a static "object"
    * for every schemaless field).
    */
  private[graft] def mongoTypeOf(c: Column, ctx: Ctx): Column =
    ctx.typeOf(c) match {
      case t if t.typeName == "variant" =>
        // per-row for variants: map Spark's runtime schema string to
        // the Mongo type name (schema_of_variant → e.g. "BIGINT")
        val s = call_function("schema_of_variant", c)
        when(c.isNull, "missing") // Mongo: absent field
          .when(s.startsWith("ARRAY"), "array")
          .when(s.startsWith("OBJECT") || s.startsWith("STRUCT") ||
            s.startsWith("MAP"), "object")
          .when(s === "STRING", "string")
          .when(s === "BOOLEAN", "bool")
          .when(s === "BIGINT" || s === "INT" || s === "SMALLINT" ||
            s === "TINYINT", "long")
          .when(s === "DOUBLE" || s === "FLOAT" ||
            s.startsWith("DECIMAL"), "double")
          .when(s === "VOID" || s === "NULL", "null")
          .otherwise("object")
      case t => lit(mongoTypeName(t))
    }

  private[graft] def mongoTypeName(t: DataType): String = t match {
    case StringType                    => "string"
    case BooleanType                   => "bool"
    case IntegerType | ShortType | ByteType => "int"
    case LongType                      => "long"
    case FloatType | DoubleType        => "double"
    case _: DecimalType                => "decimal"
    case TimestampType | DateType | TimestampNTZType => "date"
    case _: ArrayType                  => "array"
    case _: StructType | _: MapType    => "object"
    case NullType                      => "null"
    case BinaryType                    => "binData"
    case _                             => "object"
  }
}
