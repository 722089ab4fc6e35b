package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.json.Js
import graft.op.{Env, HttpResult, HttpTransport, Pipeline}

/** The message-mode stages added in round 2: $jslt, $unwind, $count,
  * $validate, $delay, $http — all over schemaless (key, value) frames.
  */
object MsgEchoHttp extends HttpTransport {
  def apply(m: String, u: String, h: String, b: String): HttpResult =
    if (u.endsWith("/boom")) HttpResult(500, """{"err":1}""")
    else if (u.endsWith("/text")) HttpResult(200, "plain, not json")
    else HttpResult(200, s"""{"echo":"$u"}""")
}

class MessagePipelineSpec2 extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def msgs(docs: String*) =
    docs.toSeq.toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))

  private def run(pipeline: String, df: org.apache.spark.sql.DataFrame,
      env: Env = Env(spark)) =
    Pipeline.compile(Js.parse(pipeline), env)(df)

  test("$jslt transforms the whole message") {
    val out = run(
      """[{"$jslt":{"script":"{ \"_id\": ._id, \"v2\": .v * 3, * : . }"}}]""",
      msgs("""{"_id":"a","v":7,"w":1}""")).collect().head
    val v = Js.parse(out.getAs[String]("value"))
    assert(v.get("v2").asLong() == 21 && v.get("w").asInt() == 1)
  }

  test("$unwind explodes an array path; empty/missing drops") {
    val out = run("""[{"$unwind":"$items"}]""",
      msgs("""{"_id":"a","items":[1,2],"t":"x"}""",
        """{"_id":"b","items":[]}""", """{"_id":"c"}"""))
      .select("value").as[String].collect().map(Js.parse)
    assert(out.length == 2)
    assert(out.map(_.get("items").asInt()).sorted.toSeq == Seq(1, 2))
    assert(out.forall(_.get("t").asText() == "x"))
  }

  test("$count emits one counting message") {
    val out = run("""[{"$count":"n"}]""",
      msgs("""{"_id":"a"}""", """{"_id":"b"}""")).collect()
    assert(out.length == 1)
    assert(Js.parse(out.head.getAs[String]("value")).get("n").asLong() == 2)
  }

  test("$validate annotates failing messages in place") {
    val out = run(
      """[{"$validate":{"conditions":[{"v":{"$gte":0},"$code":"NEG"}]}}]""",
      msgs("""{"_id":"a","v":1}""", """{"_id":"b","v":-4}"""))
      .select("value").as[String].collect().map(Js.parse)
    val bad = out.find(_.get("_id").asText() == "b").get
    assert(bad.get("_error").asBoolean())
    assert(bad.get("errors").get(0).get("code").asText() == "NEG")
    assert(!out.find(_.get("_id").asText() == "a").get.has("_error"))
  }

  test("$delay stamps routing columns on message frames") {
    val out = run("""[{"$delay":{"duration":250,"topic":"later"}}]""",
      msgs("""{"_id":"a"}""")).collect().head
    assert(out.getAs[String]("_topic") == "later")
    assert(out.getAs[Long]("_delay_ms") == 250L)
  }

  test("$http splices the response (or httpError) into the message") {
    val env = Env(spark, http = MsgEchoHttp)
    val out = run(
      """[{"$http":{"url":{"$concat":["http://h/","$p"]},
                    "method":"GET","as":"resp"}}]""",
      msgs("""{"_id":"a","p":"ok"}""", """{"_id":"b","p":"boom"}"""), env)
      .select("value").as[String].collect().map(Js.parse)
    val good = out.find(_.get("_id").asText() == "a").get
    assert(good.get("resp").get("echo").asText() == "http://h/ok")
    val bad = out.find(_.get("_id").asText() == "b").get
    assert(bad.get("httpError").get("statusCode").asInt() == 500)
    assert(!bad.has("resp"))
  }

  test("$first/$last/$mergeObjects rank by __ord, not partition order") {
    // The frame's row order deliberately disagrees with __ord (the
    // transport arrival stamp) and the rows are scattered across
    // partitions: bare first()/last()/unsorted-merge would pick the
    // sequence head / tail instead of the __ord winner.
    val docs = (63 to 0 by -1).map { i =>
      val extra =
        if (i == 0) ""","b":"x"""" else if (i == 63) ""","c":"z"""" else ""
      (i.toLong,
        s"""{"_id":"d$i","g":"k","v":"v$i","m":{"a":$i$extra}}""")
    }
    val df = docs.toDF("__ord", "value").repartition(8)
      .select(get_json_object(col("value"), "$._id").as("key"),
        col("value"), col("__ord"))
    val out = run(
      """[{"$group":{"_id":"$g",
                     "f":{"$first":"$v"},
                     "l":{"$last":"$v"},
                     "m":{"$mergeObjects":"$m"}}}]""", df)
      .select("value").as[String].collect().map(Js.parse)
    assert(out.length == 1)
    val v = out.head
    assert(v.get("f").asText() == "v0")
    assert(v.get("l").asText() == "v63")
    assert(v.get("m").get("a").asInt() == 63) // highest __ord wins
    assert(v.get("m").get("b").asText() == "x") // earliest-only field kept
    assert(v.get("m").get("c").asText() == "z")
  }

  test("$http non-JSON 2xx body degrades to a string, not a batch failure") {
    val env = Env(spark, http = MsgEchoHttp)
    val out = run(
      """[{"$http":{"url":{"$concat":["http://h/","$p"]},
                    "method":"GET","as":"resp"}}]""",
      msgs("""{"_id":"a","p":"text"}""", """{"_id":"b","p":"ok"}"""), env)
      .select("value").as[String].collect().map(Js.parse)
    val textual = out.find(_.get("_id").asText() == "a").get
    assert(textual.get("resp").asText() == "plain, not json")
    val good = out.find(_.get("_id").asText() == "b").get
    assert(good.get("resp").get("echo").asText() == "http://h/ok")
  }
}

/** Message-mode $redact and $bucket (round-2 additions). */
class MessagePipelineSpec3 extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def msgs(docs: String*) =
    docs.toSeq.toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))

  private def run(pipeline: String, df: org.apache.spark.sql.DataFrame) =
    Pipeline.compile(Js.parse(pipeline), Env(spark))(df)

  test("$redact prunes subtrees by per-level condition") {
    val out = run(
      """[{"$redact":{"$cond":{"if":{"$eq":["$level","public"]},
                               "then":"$$DESCEND","else":"$$PRUNE"}}}]""",
      msgs(
        """{"_id":"a","level":"public","x":1,
            "sub":{"level":"secret","y":2},
            "open":{"level":"public","z":3}}""",
        """{"_id":"b","level":"secret","x":9}"""))
      .select("value").as[String].collect().map(Js.parse)
    assert(out.length == 1) // doc b pruned at the root
    val a = out.head
    assert(a.get("x").asInt() == 1)
    assert(!a.has("sub")) // secret subtree pruned
    assert(a.get("open").get("z").asInt() == 3)
  }

  test("$bucket groups by boundaries with accumulators") {
    val out = run(
      """[{"$bucket":{"groupBy":"$v","boundaries":[0,10,100],
                      "default":"other",
                      "output":{"n":{"$count":{}},"s":{"$sum":"$v"}}}}]""",
      msgs("""{"_id":"a","v":3}""", """{"_id":"b","v":7}""",
        """{"_id":"c","v":55}""", """{"_id":"d","v":-1}"""))
      .select("value").as[String].collect().map(Js.parse)
      .map(n => n.get("_id").asText() -> n).toMap
    // bucket ids are the boundaries AS WRITTEN in the spec (0, 10), the
    // Mongo shape — not their double renderings ("0.0")
    assert(out("0").get("n").asLong() == 2)
    assert(out("0").get("s").asDouble() == 10.0)
    assert(out("10").get("n").asLong() == 1)
    assert(out("other").get("n").asLong() == 1)
  }

  test("a null (tombstone) value passes through transform stages") {
    // a compacted-topic tombstone must not be a poison pill: every
    // whole-message UDF stage passes null through unchanged
    val df = Seq(("k1", """{"_id":"k1","a":1}"""), ("k2", null))
      .toDF("key", "value")
    for (stage <- Seq(
        """[{"$addFields":{"b":2}}]""",
        """[{"$unset":"a"}]""",
        """[{"$jslt":{"script":"{ * : . }"}}]""",
        """[{"$unwind":"$a"}]""",
        """[{"$validate":{"conditions":[]}}]""",
        """[{"$redact":"$$KEEP"}]""")) {
      val out = run(stage, df).collect()
      val nulls = out.count(_.getAs[String]("value") == null)
      assert(nulls == 1, s"$stage: tombstone lost or multiplied ($nulls)")
    }
  }

  test("$group with only _id is the distinct idiom") {
    val out = run("""[{"$group":{"_id":"$u"}}]""",
      msgs("""{"_id":"a","u":"x"}""", """{"_id":"b","u":"x"}""",
        """{"_id":"c","u":"y"}"""))
      .select("value").as[String].collect()
      .map(j => Js.parse(j).get("_id").asText()).toSet
    assert(out == Set("x", "y"))
  }

  test("$unwind Mongo options: preserve, index, singleton") {
    val docs = msgs(
      """{"_id":"a","items":[10,20]}""",
      """{"_id":"b","items":[]}""",
      """{"_id":"c"}""",
      """{"_id":"d","items":7}""")
    val out = run(
      """[{"$unwind":{"path":"$items","preserveNullAndEmptyArrays":true,
                      "includeArrayIndex":"i"}}]""", docs)
      .select("value").as[String].collect().map(Js.parse)
    val byId = out.groupBy(_.get("_id").asText())
    // array: one per element with its index
    assert(byId("a").map(n =>
      (n.get("items").asInt(), n.get("i").asLong())).toSet ==
      Set((10, 0L), (20, 1L)))
    // empty array preserved WITHOUT the field, index null
    assert(byId("b").size == 1 && !byId("b").head.has("items") &&
      byId("b").head.get("i").isNull)
    // missing path preserved unchanged, index null
    assert(byId("c").size == 1 && byId("c").head.get("i").isNull)
    // non-array value unwinds as its own singleton, index null
    assert(byId("d").size == 1 && byId("d").head.get("items").asInt() == 7 &&
      byId("d").head.get("i").isNull)
    // and WITHOUT preserve, empty/missing still drop
    val dropped = run("""[{"$unwind":"$items"}]""", docs)
      .select("value").as[String].collect().map(Js.parse)
      .map(_.get("_id").asText()).toSet
    assert(dropped == Set("a", "d"))
  }

  test("$set with a null value sets JSON null, not field removal") {
    val out = run("""[{"$set":{"a":null,"b":{"$literal":null}}}]""",
      msgs("""{"_id":"x","a":1}"""))
      .select("value").as[String].collect().head
    val n = Js.parse(out)
    assert(n.has("a") && n.get("a").isNull, out)
    assert(n.has("b") && n.get("b").isNull, out)
  }

  test("one-line scripts not starting with . or { compile inline") {
    val out = run("""[{"$jq":"del(.secret)"}]""",
      msgs("""{"_id":"a","secret":1,"keep":2}"""))
      .select("value").as[String].collect().head
    val n = Js.parse(out)
    assert(!n.has("secret") && n.get("keep").asInt() == 2, out)
  }
}

/** $type/$isArray are per-row over variant (schemaless) values. */
class VariantTypeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  test("variant $type and $isArray resolve at runtime") {
    val df = Seq(
      """{"_id":"a","v":[1,2]}""",
      """{"_id":"b","v":"text"}""",
      """{"_id":"c","v":5}""",
      """{"_id":"d","v":{"x":1}}""")
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val out = Pipeline.compile(Js.parse(
      """[{"$addFields":{"t":{"$type":"$v"},"ia":{"$isArray":"$v"}}}]"""),
      Env(spark))(df)
      .select("value").as[String].collect().map(Js.parse)
      .map(n => n.get("_id").asText() -> n).toMap
    assert(out("a").get("t").asText() == "array" && out("a").get("ia").asBoolean())
    assert(out("b").get("t").asText() == "string" && !out("b").get("ia").asBoolean())
    assert(out("c").get("t").asText() == "long")
    assert(out("d").get("t").asText() == "object")
  }

  test("schemaless comparison with a null literal answers as on typed frames") {
    // the variant side used to be cast to the literal's NullType, which
    // failed analysis (CAST_WITHOUT_SUGGESTION: VARIANT to VOID)
    val pipeline = Js.parse(
      """[{"$set":{"eq":{"$eq":["$n",null]},"ne":{"$ne":["$n",null]},
           "gt":{"$gt":["$n",null]}}}]""")
    val message = Seq("""{"_id":"a","n":5}""").toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val m = Pipeline.compile(pipeline, Env(spark))(message)
      .select("value").as[String].collect().map(Js.parse).head
    val typed = Pipeline.compile(pipeline, Env(spark))(
      Seq(("a", 5L)).toDF("_id", "n")).select("eq", "ne", "gt").head()
    assert(Seq(typed.getBoolean(0), typed.getBoolean(1), typed.getBoolean(2))
      == Seq(false, true, true))
    assert(Seq("eq", "ne", "gt").map(f => m.get(f).asBoolean()) ==
      Seq(false, true, true))
  }

  test("schemaless $in: Mongo equality over variant arrays, null bracket") {
    val df = Seq(
      """{"_id":"a","arr":[1,2,"b"],"withNull":[1,null],"x":2}""")
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val out = Pipeline.compile(Js.parse(
      """[{"$addFields":{
           "hitNum":{"$in":[2,"$arr"]},
           "missNum":{"$in":[9,"$arr"]},
           "hitStr":{"$in":["b","$arr"]},
           "fieldNeedle":{"$in":["$x","$arr"]},
           "nullLit":{"$in":[{"$literal":null},"$withNull"]},
           "nullMiss":{"$in":[{"$literal":null},"$arr"]},
           "missingField":{"$in":["$nope","$withNull"]}}}]"""),
      Env(spark))(df)
      .select("value").as[String].collect().map(Js.parse).head
    assert(out.get("hitNum").asBoolean())
    assert(!out.get("missNum").asBoolean())
    assert(out.get("hitStr").asBoolean())
    assert(out.get("fieldNeedle").asBoolean(),
      "a variant needle compares in Mongo total order (mongo_cmp)")
    assert(out.get("nullLit").asBoolean(),
      "an explicit JSON null element matches a null needle")
    assert(!out.get("nullMiss").asBoolean())
    assert(out.get("missingField").asBoolean(),
      "a missing field sits in the null bracket, like Mongo")
  }

  test("schemaless $objectToArray: document order, null/missing is null") {
    val df = Seq("""{"_id":"a","o":{"z":1,"a":"two"},"n":null}""")
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val out = Pipeline.compile(Js.parse(
      """[{"$addFields":{
           "kv":{"$objectToArray":"$o"},
           "nul":{"$objectToArray":"$n"},
           "missing":{"$objectToArray":"$nope"}}}]"""),
      Env(spark))(df)
      .select("value").as[String].collect().map(Js.parse).head
    val kv = out.get("kv")
    assert(kv.size() == 2)
    // KEY-SORTED order, not document order: the variant binary encoding
    // sorts object keys at parse_json time, so insertion order is
    // unrecoverable in the schemaless path (known deviation; the typed
    // struct path preserves field order)
    assert(kv.get(0).get("k").asText() == "a" &&
      kv.get(0).get("v").asText() == "two")
    assert(kv.get(1).get("k").asText() == "z" &&
      kv.get(1).get("v").asLong() == 1L)
    assert(out.get("nul").isNull, "explicit JSON null input yields null")
    assert(out.get("missing") == null || out.get("missing").isNull,
      "missing field input yields null")
  }

  test("schemaless array operators work on variant arrays, as arrays") {
    // regression shield: before round 10, $concatArrays/$reverseArray
    // silently coerced the variant to STRING (concat "[3,1,2][3,1,2]",
    // reverse "]2,1,3[") and the rest failed analysis
    val df = Seq("""{"_id":"a","arr":[3,1,2]}""").toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val out = Pipeline.compile(Js.parse(
      """[{"$addFields":{
           "m":{"$map":{"input":"$arr","in":{"$add":["$$this",1]}}},
           "f":{"$filter":{"input":"$arr","cond":{"$gt":["$$this",1]}}},
           "c":{"$concatArrays":["$arr","$arr"]},
           "r":{"$reverseArray":"$arr"},
           "sl":{"$slice":["$arr",2]},
           "n":{"$size":"$arr"},
           "f1":{"$first":"$arr"},
           "e":{"$arrayElemAt":["$arr",1]},
           "rd":{"$reduce":{"input":"$arr","initialValue":0,
                            "in":{"$add":["$$value","$$this"]}}},
           "ix":{"$indexOfArray":["$arr",2]}}}]"""),
      Env(spark))(df)
      .select("value").as[String].collect().map(Js.parse).head
    def longs(f: String) =
      (0 until out.get(f).size()).map(i => out.get(f).get(i).asLong())
    assert(out.get("m").get(0).asDouble() == 4.0)
    assert(longs("f") == Seq(3L, 2L))
    assert(longs("c") == Seq(3L, 1L, 2L, 3L, 1L, 2L),
      "$concatArrays must concatenate ARRAYS, not their JSON texts")
    assert(longs("r") == Seq(2L, 1L, 3L),
      "$reverseArray must reverse ELEMENTS, not the JSON text")
    assert(longs("sl") == Seq(3L, 1L))
    assert(out.get("n").asLong() == 3L)
    assert(out.get("f1").asLong() == 3L)
    assert(out.get("e").asLong() == 1L)
    assert(out.get("rd").asDouble() == 6.0,
      "$reduce threads the accumulator as a variant")
    assert(out.get("ix").asLong() == 2L,
      "$indexOfArray matches in Mongo total order via collation keys")
  }

  test("schemaless set operators: Mongo-order membership over variants") {
    val df = Seq("""{"_id":"a","x":[2,1,2,"b"],"y":[1,"b","c"],
                     "t":[1,"s",true],"ft":[1,0]}""".replace("\n", ""))
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val out = Pipeline.compile(Js.parse(
      """[{"$addFields":{
           "u":{"$setUnion":["$x","$y"]},
           "i":{"$setIntersection":["$x","$y"]},
           "d":{"$setDifference":["$x","$y"]},
           "sub":{"$setIsSubset":["$y","$x"]},
           "sub2":{"$setIsSubset":[{"$literal":[1,2]},"$x"]},
           "eq":{"$setEquals":["$x","$x"]},
           "neq":{"$setEquals":["$x","$y"]},
           "all":{"$allElementsTrue":["$t"]},
           "all0":{"$allElementsTrue":["$ft"]},
           "any0":{"$anyElementTrue":["$ft"]}}}]"""),
      Env(spark))(df)
      .select("value").as[String].collect().map(Js.parse).head
    def vals(f: String) = (0 until out.get(f).size())
      .map(i => out.get(f).get(i)).map(n =>
        if (n.isNumber) n.asLong().toString else n.asText())
    // mongo order: numbers before strings; dedup by Mongo equality
    assert(vals("u") == Seq("1", "2", "b", "c"))
    assert(vals("i") == Seq("1", "b"))
    assert(vals("d") == Seq("2"))
    assert(!out.get("sub").asBoolean(), "y has 'c', x does not")
    assert(out.get("sub2").asBoolean(),
      "a typed numeric literal keys like the variant 1 and 2")
    assert(out.get("eq").asBoolean(), "sets dedup before comparing")
    assert(!out.get("neq").asBoolean())
    assert(out.get("all").asBoolean(),
      "strings and true are truthy in Mongo")
    assert(!out.get("all0").asBoolean(), "0 is falsy")
    assert(out.get("any0").asBoolean())
  }

  test("schemaless $elemMatch: query predicates over variant elements") {
    val df = Seq(
      """{"_id":"a","arr":[{"v":1},{"v":9}],"nums":[1,5,9]}""")
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val out = Pipeline.compile(Js.parse(
      """[{"$addFields":{
           "obj":{"$elemMatch":["$arr",{"v":{"$gt":5}}]},
           "objMiss":{"$elemMatch":["$arr",{"v":{"$gt":50}}]},
           "scalar":{"$elemMatch":["$nums",{"$gt":4}]}}}]"""),
      Env(spark))(df)
      .select("value").as[String].collect().map(Js.parse).head
    assert(out.get("obj").get("v").asLong() == 9L,
      "field predicates extract hint-typed values from variant elements")
    assert(out.get("objMiss").isNull)
    assert(out.get("scalar").asLong() == 5L,
      "operator-object predicates apply to the variant element itself")
  }

  test("schemaless $match: Mongo array-field semantics over variant arrays") {
    // the query language treats an array-holding field as "matches if the
    // value OR any element matches" (reference docs/query.md:5-28); the
    // variant model must probe a per-row array view — these all either
    // failed analysis (exists/size/array_contains on VARIANT) or silently
    // matched nothing (typed extraction of an array answers null)
    val df = Seq(
      """{"_id":"a","items":[{"name":"a","qty":3},{"name":"b","qty":1}],"tags":["x","y"],"nums":[1,5,9]}""",
      """{"_id":"b","items":[{"name":"a","qty":1}],"tags":["x"],"nums":[2]}""")
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    def run(m: String): Seq[String] =
      Pipeline.compile(Js.parse(s"""[{"$$match":$m}]"""), Env(spark))(df)
        .select("value").as[String].collect().toSeq
        .map(v => Js.parse(v).get("_id").asText()).sorted
    assert(run("""{"items":{"$elemMatch":{"name":"a","qty":{"$gte":2}}}}""")
      == Seq("a"), "$elemMatch with a field sub-query")
    assert(run("""{"nums":{"$elemMatch":{"$gt":4}}}""") == Seq("a"),
      "$elemMatch with an operator object over scalar elements")
    assert(run("""{"tags":{"$size":2}}""") == Seq("a"), "$size")
    assert(run("""{"_id":{"$size":1}}""") == Nil,
      "$size on a non-array field matches nothing, no error")
    assert(run("""{"tags":{"$all":["x","y"]}}""") == Seq("a"), "$all")
    assert(run("""{"nums":5}""") == Seq("a"),
      "implicit equality matches any array element")
    assert(run("""{"items":{"name":"a","qty":1}}""") == Seq("b"),
      "object-literal equality matches an array element (Mongo order)")
    assert(run("""{"nums":{"$in":[5,7]}}""") == Seq("a"), "$in over array")
    assert(run("""{"nums":{"$nin":[5]}}""") == Seq("b"), "$nin over array")
    assert(run("""{"tags":{"$ne":"y"}}""") == Seq("b"),
      "$ne excludes any-element matches")
    // range/regex/mod are any-element too (type-bracketed)
    assert(run("""{"nums":{"$gt":8}}""") == Seq("a"), "$gt over array")
    assert(run("""{"nums":{"$lte":2}}""") == Seq("a", "b"))
    assert(run("""{"tags":{"$regex":"^y"}}""") == Seq("a"),
      "$regex over array elements")
    assert(run("""{"nums":{"$mod":[2,0]}}""") == Seq("b"),
      "$mod over array elements")
  }

  test("schemaless $match: $type accepts an array of type names") {
    val df = Seq(
      """{"_id":"a","v":5}""",
      """{"_id":"b","v":"text"}""",
      """{"_id":"c","v":[1]}""")
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    def run(m: String): Seq[String] =
      Pipeline.compile(Js.parse(s"""[{"$$match":$m}]"""), Env(spark))(df)
        .select("value").as[String].collect().toSeq
        .map(v => Js.parse(v).get("_id").asText()).sorted
    assert(run("""{"v":{"$type":["long","string"]}}""") == Seq("a", "b"))
    assert(run("""{"v":{"$type":"array"}}""") == Seq("c"))
    assert(run("""{"v":{"$type":[]}}""") == Nil)
  }

  test("schemaless $match: dotted paths traverse intermediate arrays") {
    val df = Seq(
      """{"_id":"a","items":[{"name":"a","qty":3},{"name":"b","qty":1}],"deep":[{"b":[{"c":5}]}],"obj":{"k":7}}""",
      """{"_id":"b","items":[{"name":"a","qty":1}],"deep":[{"b":[{"c":6}]}],"obj":{"k":8}}""",
      """{"_id":"c","nested":[[{"b":1}]]}""")
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    def run(m: String): Seq[String] =
      Pipeline.compile(Js.parse(s"""[{"$$match":$m}]"""), Env(spark))(df)
        .select("value").as[String].collect().toSeq
        .map(v => Js.parse(v).get("_id").asText()).sorted
    // {"items.qty": v}: items is an array of documents — Mongo resolves
    // qty against each element
    assert(run("""{"items.qty":1}""") == Seq("a", "b"))
    assert(run("""{"items.qty":{"$gte":2}}""") == Seq("a"))
    assert(run("""{"items.name":"b"}""") == Seq("a"))
    // plain object paths still resolve directly
    assert(run("""{"obj.k":7}""") == Seq("a"))
    assert(run("""{"obj.k":{"$gt":7}}""") == Seq("b"))
    // traversal composes per segment (array under array-element field)
    assert(run("""{"deep.b.c":5}""") == Seq("a"))
    // Mongo does NOT descend nested arrays ([[{b:1}]] never matches)
    assert(run("""{"nested.b":1}""") == Nil)
    // missing paths match null, like Mongo
    assert(run("""{"items.qty":null}""") == Seq("c"))
    // Mongo's $all + $elemMatch composition: each member needs its own
    // matching element (an object-literal reading would match nothing)
    assert(run(
      """{"items":{"$all":[{"$elemMatch":{"name":"a","qty":{"$gte":2}}},
                           {"$elemMatch":{"name":"b"}}]}}""") == Seq("a"))
    assert(run(
      """{"items":{"$all":[{"$elemMatch":{"name":"a"}}]}}""")
      == Seq("a", "b"))
  }

  test("schemaless $match: negated operators hoist outside array traversal") {
    val df = Seq(
      """{"_id":"a","items":[{"name":"a","qty":3},{"name":"b","qty":1}]}""",
      """{"_id":"b","items":[{"name":"a","qty":1}]}""",
      """{"_id":"c","other":1}""")
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    def run(m: String): Seq[String] =
      Pipeline.compile(Js.parse(s"""[{"$$match":$m}]"""), Env(spark))(df)
        .select("value").as[String].collect().toSeq
        .map(v => Js.parse(v).get("_id").asText()).sorted
    // Mongo: {$ne: v} through an array path holds only when NO traversed
    // value equals v (one matching element used to satisfy $ne per-element)
    assert(run("""{"items.qty":{"$ne":1}}""") == Seq("c"))
    assert(run("""{"items.qty":{"$ne":2}}""") == Seq("a", "b", "c"))
    assert(run("""{"items.qty":{"$nin":[1,3]}}""") == Seq("c"))
    assert(run("""{"items.qty":{"$not":{"$gte":2}}}""") == Seq("b", "c"))
    assert(run("""{"items.qty":{"$exists":false}}""") == Seq("c"))
    assert(run("""{"items.qty":{"$exists":true}}""") == Seq("a", "b"))
    // positive operators stay independent per element (Mongo: different
    // elements may satisfy different operators; $elemMatch pins one)
    assert(run("""{"items.qty":{"$gte":3,"$lte":1}}""") == Seq("a"))
    // mixed positive + negative: any element ≥1 AND no element = 3
    assert(run("""{"items.qty":{"$gte":1,"$ne":3}}""") == Seq("b"))
    // double negation resolves back to the positive disjunction
    assert(run("""{"items.qty":{"$not":{"$ne":1}}}""") == Seq("a", "b"))
  }

  test("plain hetero array resolves $-prefixed elements as references") {
    // [1, "$x"] on the PLAIN path must resolve the field reference —
    // it used to compile to the constant [1, "$x"]; under $literal the
    // string stays a literal by contract
    val df = Seq("""{"_id":"a","x":7,"s":"t"}""").toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val out = Pipeline.compile(Js.parse(
      """[{"$addFields":{
           "resolved":{"$arrayElemAt":[[1,"$x"],1]},
           "lit":{"$arrayElemAt":[{"$literal":[1,"$x"]},1]}}}]"""),
      Env(spark))(df)
      .select("value").as[String].collect().map(Js.parse).head
    assert(out.get("resolved").asLong() == 7L,
      "\"$x\" in a plain mixed array is a field reference")
    assert(out.get("lit").asText() == "$x",
      "$literal suppresses path resolution")
  }

  test("variant $indexOfArray honors start/end bounds") {
    val df = Seq("""{"_id":"a","xs":[5,3,5,"5",5]}""").toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val out = Pipeline.compile(Js.parse(
      """[{"$addFields":{
           "whole":{"$indexOfArray":["$xs",5]},
           "from1":{"$indexOfArray":["$xs",5,1]},
           "window":{"$indexOfArray":["$xs",5,3,4]},
           "missed":{"$indexOfArray":["$xs",3,2]}}}]"""),
      Env(spark))(df)
      .select("value").as[String].collect().map(Js.parse).head
    assert(out.get("whole").asLong() == 0L)
    assert(out.get("from1").asLong() == 2L,
      "search starts at index 1, re-offset to the whole array")
    assert(out.get("missed").asLong() == -1L)
    assert(out.get("window").asLong() == -1L,
      "index 3 is the STRING \"5\" — Mongo type brackets exclude it; " +
        "the number at index 4 sits outside [3,4)")
  }

  test("schemaless heterogeneous array literal keeps element types") {
    // [1, "b"] used to silently compile to ["1", "b"] (Spark's array()
    // type coercion); in the variant model it now parses as a variant
    // array and each element keeps its Mongo type bracket
    val df = Seq("""{"_id":"a","x":[2,1,"b"]}""").toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val out = Pipeline.compile(Js.parse(
      """[{"$addFields":{
           "inNum":{"$in":[1,{"$literal":[1,"b"]}]},
           "inStrMiss":{"$in":["1",{"$literal":[1,"b"]}]},
           "sub":{"$setIsSubset":[{"$literal":[1,"b"]},"$x"]}}}]"""),
      Env(spark))(df)
      .select("value").as[String].collect().map(Js.parse).head
    assert(out.get("inNum").asBoolean())
    assert(!out.get("inStrMiss").asBoolean(),
      "the string \"1\" must NOT match the number 1 — the literal's " +
        "elements keep their types")
    assert(out.get("sub").asBoolean())
  }
}