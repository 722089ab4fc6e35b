package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.json.Js
import graft.op.Env
import graft.streaming.AppRunner

/** End-to-end aggregate applications: JQ reducers (the reference's
  * preferred reducer language, docs/state.md:62), command validators, and
  * uniqueExpression re-keying — a counter app in the shape of the
  * reference's app38 fixture family.
  */
class AggregateAppSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  test("counter aggregate with JQ plus/minus reducers and a validator") {
    val cmds = Seq(
      ("c1", "put", 1L, 0),
      ("c1", "plus", 2L, 0),
      ("c1", "plus", 3L, 0),
      ("c1", "minus", 4L, 0),
      ("c2", "plus", 5L, 0)) // plus on fresh state: value null + 1
      .toDF("_id", "_command", "__ord", "value")
      .withColumn("_jwt", struct(lit("system").as("sub")))
      .withColumn("value",
        when(col("_command") === "put", lit(0)).otherwise(lit(null)))
      .withColumn("_corr", concat(lit("corr"), col("__ord")))
    val io = new TestIo(Map("capp-counter-command" -> cmds))
    val scripts = Map(
      "plus.jq" ->
        """import "op.jq" as op;
          |.state + { "value": .state.value | op::incr }""".stripMargin,
      "minus.jq" ->
        """import "op.jq" as op;
          |.state + { "value": .state.value | op::decr }""".stripMargin,
      "op.jq" -> "def incr: . + 1;\ndef decr: . - 1;")
    val env = Env(spark, scripts = scripts)
    val streams = new AppRunner(spark, io, env).run(
      """{"application":"capp","version":"1.0","parts":[
           {"type":"aggregate","aggregateType":"capp-counter",
            "commands":{
              "plus":{"reducer":"plus.jq"},
              "minus":{"reducer":"minus.jq"},
              "put":{"reducer":".command | del(._command)",
                     "validator":{"conditions":[
                       {"value":{"$exists":true},"$code":"REQUIRED"}]}}}}]}""")
    val aggs = streams("capp-counter-aggregate")
      .select("key", "value").as[(String, String)].collect()
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(v => Js.parse(v._2)) }
    // c1: put(0) → plus → plus → minus = 1, _seq 3
    val c1 = aggs("c1").maxBy(_.get("_seq").asLong())
    assert(c1.get("value").asLong() == 1)
    assert(c1.get("_seq").asLong() == 3)
    // c2: plus on empty state → null + 1 = 1 (JQ null identity)
    val c2 = aggs("c2").head
    assert(c2.get("value").asLong() == 1)
    val events = streams("capp-counter-event")
      .select("value").as[String].collect().map(Js.parse)
    assert(events.length == 5)
    assert(events.forall(_.get("_ops").isArray))
  }

  test("validator failure goes to reply with _error") {
    val cmds = Seq(("c9", "put", 1L)).toDF("_id", "_command", "__ord")
      .withColumn("_jwt", struct(lit("system").as("sub")))
    val io = new TestIo(Map("vapp-item-command" -> cmds))
    val streams = new AppRunner(spark, io, Env(spark)).run(
      """{"application":"vapp","version":"1.0","parts":[
           {"type":"aggregate","aggregateType":"vapp-item",
            "commands":{"put":{"reducer":".command | del(._command)",
              "validator":{"conditions":[
                {"name":{"$exists":true},"$code":"NAME_REQUIRED"}]}}}}]}""")
    val replies = streams("vapp-item-reply")
      .select("value").as[String].collect().map(Js.parse)
    assert(replies.length == 1)
    assert(replies.head.get("_error").asBoolean())
    assert(replies.head.get("errors").get(0).get("code").asText()
      == "NAME_REQUIRED")
    assert(streams("vapp-item-event").count() == 0)
  }

  test("environment suffixes the aggregate topics and streams") {
    val cmds = Seq(("e1", "put", 1L, 5)).toDF("_id", "_command", "__ord", "v")
      .withColumn("_jwt", struct(lit("system").as("sub")))
    val io = new TestIo(Map("eapp-doc-command-tst" -> cmds))
    val streams = new AppRunner(spark, io, Env(spark)).run(
      """{"application":"eapp","version":"1.0","parts":[
           {"type":"aggregate","aggregateType":"eapp-doc",
            "environment":"tst"}]}""")
    assert(streams.contains("eapp-doc-aggregate-tst"))
    assert(streams("eapp-doc-aggregate-tst").count() == 1)
  }

  test("uniqueExpression re-keys commands to one instance") {
    val cmds = Seq(
      ("a1", "put", "k-7", 1L),
      ("a2", "put", "k-7", 2L), // same unique key → same instance
      ("a3", "put", "k-8", 3L))
      .toDF("_id", "_command", "ukey", "__ord")
      .withColumn("_jwt", struct(lit("system").as("sub")))
    val io = new TestIo(Map("uapp-thing-command" -> cmds))
    val streams = new AppRunner(spark, io, Env(spark)).run(
      """{"application":"uapp","version":"1.0","parts":[
           {"type":"aggregate","aggregateType":"uapp-thing",
            "uniqueExpression":"$ukey"}]}""")
    val byKey = streams("uapp-thing-aggregate")
      .select("key", "value").as[(String, String)].collect()
      .groupBy(_._1)
    assert(byKey.keySet == Set("k-7", "k-8"))
    // both k-7 commands hit the same instance: _seq reaches 1
    val k7 = byKey("k-7").map(v => Js.parse(v._2))
    assert(k7.map(_.get("_seq").asLong()).max == 1)
    // the re-keyed command stream flows through the `unique` purpose topic
    val unique = streams("uapp-thing-unique")
      .select("key", "value").as[(String, String)].collect()
    assert(unique.length == 3)
    assert(unique.map(_._1).toSet == Set("k-7", "k-8"))
  }

  /** Schemaless commands: (key, value-JSON) messages with an arrival stamp. */
  private def messages(docs: String*) =
    docs.zipWithIndex.toDF("value", "__ord")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"),
        col("__ord").cast("long").as("__ord"))

  test("schemaless uniqueExpression re-keys commands; unique carries the commands") {
    val docs = Seq(
      """{"_id":"a1","_command":"put","ukey":"k-7","_jwt":{"sub":"system"}}""",
      """{"_id":"a2","_command":"put","ukey":"k-7","_jwt":{"sub":"system"}}""",
      """{"_id":"a3","_command":"put","ukey":"k-8","_jwt":{"sub":"system"}}""")
    val io = new TestIo(Map("sapp-thing-command" -> messages(docs: _*)))
    val streams = new AppRunner(spark, io, Env(spark)).run(
      """{"application":"sapp","version":"1.0","parts":[
           {"type":"aggregate","aggregateType":"sapp-thing",
            "uniqueExpression":"$ukey"}]}""")
    val byKey = streams("sapp-thing-aggregate")
      .select("key", "value").as[(String, String)].collect()
      .groupBy(_._1)
    assert(byKey.keySet == Set("k-7", "k-8"))
    assert(byKey("k-7").map(v => Js.parse(v._2).get("_seq").asLong()).max == 1)
    // the unique purpose stream carries each command itself, re-keyed
    val unique = streams("sapp-thing-unique")
      .select("key", "value").as[(String, String)].collect()
    assert(unique.map { case (k, v) => (k, Js.parse(v)) }.toSet ==
      docs.map(d => (Js.parse(d).get("ukey").asText(), Js.parse(d))).toSet)
  }

  test("schemaless preprocessor file inlines its file-reference entries") {
    val docs = Seq(
      """{"_id":"p1","_command":"put","v":1,"_jwt":{"sub":"system"}}""",
      """{"_id":"p1","_command":"put","v":1,"_jwt":{"sub":"system"}}""",
      """{"_id":"p2","_command":"put","v":2,"_jwt":{"sub":"system"}}""")
    val io = new TestIo(Map("papp-doc-command" -> messages(docs: _*)))
    val scripts = Map(
      "pre.yaml" -> "- dedup.yaml\n",
      "dedup.yaml" -> "$deduplicate:\n  expression: $_id\n")
    val streams = new AppRunner(spark, io, Env(spark, scripts = scripts)).run(
      """{"application":"papp","version":"1.0","parts":[
           {"type":"aggregate","aggregateType":"papp-doc",
            "preprocessor":"pre.yaml"}]}""")
    val events = streams("papp-doc-event")
      .select("key").as[String].collect().sorted.toSeq
    assert(events == Seq("p1", "p2"))
  }

  test("a one-line reducer that starts with neither '.' nor '{' is inline") {
    val cmds = Seq(("r1", "put", 1L, 3)).toDF("_id", "_command", "__ord", "v")
      .withColumn("_jwt", struct(lit("system").as("sub")))
    val io = new TestIo(Map("rapp-doc-command" -> cmds))
    val streams = new AppRunner(spark, io, Env(spark)).run(
      """{"application":"rapp","version":"1.0","parts":[
           {"type":"aggregate","aggregateType":"rapp-doc",
            "commands":{"put":{
              "reducer":"del(.state) | .command | del(._command)"}}}]}""")
    val states = streams("rapp-doc-aggregate")
      .select("value").as[String].collect().map(Js.parse)
    assert(states.length == 1)
    assert(states.head.get("v").asInt() == 3)
    assert(states.head.get("_command") == null)
  }

  test("a typed preprocessor's edit reaches the reducer, not the stale __raw") {
    // GoldenTest and StreamIo sources carry the message's original text
    // as __raw; a stage that rewrites the document must not leave it
    val raw = """{"_id":"t1","_command":"put","v":5,"_jwt":{"sub":"system"}}"""
    val cmds = Seq(("t1", "put", 1L, 5, raw))
      .toDF("_id", "_command", "__ord", "v", "__raw")
      .withColumn("_jwt", struct(lit("system").as("sub")))
    val io = new TestIo(Map("tapp-doc-command" -> cmds))
    val streams = new AppRunner(spark, io, Env(spark)).run(
      """{"application":"tapp","version":"1.0","parts":[
           {"type":"aggregate","aggregateType":"tapp-doc",
            "preprocessor":[{"$set":{"v":99}}]}]}""")
    val states = streams("tapp-doc-aggregate")
      .select("value").as[String].collect().map(Js.parse)
    assert(states.map(_.get("v").asInt()).toSeq == Seq(99))
  }
}
