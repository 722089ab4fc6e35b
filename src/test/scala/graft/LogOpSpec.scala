package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.jq.MiniJslt
import graft.json.Js
import graft.op.{Env, LogSink, Pipeline}

/** `$log`/`$trace` must EMIT (reference LogStage.java:36-110), not just
  * pass data through: the Capture sink records what executors wrote.
  */
class LogOpSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def env = Env(spark, logger = LogSink.Capture,
    application = "logapp")

  test("$log emits one entry per message with level/trace/span from _corr") {
    LogSink.Capture.clear()
    val corr = "123e4567-e89b-12d3-a456-426614174000"
    val df = Seq(("a", 1L, corr), ("b", 2L, corr)).toDF("_id", "v", "_corr")
    val out = Pipeline.run(df,
      """[{"$log":{"level":"SEVERE",
           "message":{"$concat":["v=",{"$toString":"$v"}]},
           "attributes":{"k":"$_id"}}}]""", env)
    assert(out.count() == 2) // identity dataflow
    assert(out.columns.toSeq == Seq("_id", "v", "_corr"))
    val entries = LogSink.Capture.entries
    assert(entries.size == 2)
    assert(entries.forall(_.logger == "logapp"))
    assert(entries.forall(_.level == "SEVERE"))
    assert(entries.map(_.message).toSet == Set("'v=1'", "'v=2'"))
    assert(entries.forall(_.traceId == corr.replace("-", "")))
    assert(entries.forall(e => e.spanId == e.traceId.substring(0, 16)))
    assert(entries.exists(_.attributesJson.contains("\"k\":\"a\"")))
  }

  test("$log without message / non-object spec") {
    LogSink.Capture.clear()
    val df = Seq(("a", 1L)).toDF("_id", "v")
    // object without message: passthrough, nothing logged per message
    assert(Pipeline.run(df, """[{"$log":{"level":"INFO"}}]""", env)
      .count() == 1)
    assert(LogSink.Capture.entries.isEmpty)
    // non-object: the stage object itself is logged once (compile time)
    Pipeline.run(df, """[{"$log":"hello"}]""", env).count()
    assert(LogSink.Capture.entries.map(_.message) == Seq("'\"hello\"'"))
  }

  test("$trace logs every message at INFO to the engine logger") {
    LogSink.Capture.clear()
    val df = Seq(("a", 1L)).toDF("_id", "v")
    Pipeline.run(df, """[{"$trace":true}]""", env).count()
    val e = LogSink.Capture.entries
    assert(e.size == 1)
    assert(e.head.logger == graft.op.LogOp.traceLogger)
    assert(e.head.level == "INFO")
    assert(e.head.message.contains("\"_id\":\"a\""))
  }

  test("$trace operator is legal in a group key and logs the bare value") {
    // the reference's trace() is the identity value-wise, so users put it
    // anywhere an expression goes — a nondeterministic UDF marker made
    // group/sort/join-key positions an AnalysisException
    val prev = LogSink.jslt
    LogSink.jslt = LogSink.Capture
    LogSink.Capture.clear()
    try {
      val df = Seq(("a", 1L), ("b", 1L), ("c", 2L)).toDF("_id", "v")
      val out = Pipeline.run(df,
        """[{"$group":{"_id":{"$trace":"$v"},"n":{"$count":{}}}}]""",
        Env(spark))
      val rows = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows == Map(1L -> 2L, 2L -> 1L))
      val msgs = LogSink.Capture.entries
        .filter(_.logger == graft.op.LogOp.traceLogger).map(_.message)
      assert(msgs.nonEmpty)
      // the VALUE is logged, not its [value] serialization wrapper
      // (entries arrive quoted by escapeFormatting — strip and parse)
      msgs.foreach { m0 =>
        val m = if (m0.startsWith("'") && m0.endsWith("'"))
          m0.substring(1, m0.length - 1) else m0
        assert(!m.startsWith("["), s"array-wrapped trace entry: $m0")
        assert(Set("1", "2").contains(m), s"unexpected trace entry: $m0")
      }
    } finally LogSink.jslt = prev
  }

  test("message-mode $log reads _corr out of the JSON text") {
    LogSink.Capture.clear()
    val df = Seq(("k1",
      """{"_id":"k1","_corr":"ab-cd","note":"n1"}"""))
      .toDF("key", "value")
    val out = Pipeline.compile(
      Js.parse("""[{"$log":{"message":"$note","level":"WARNING"}}]"""),
      env)(df)
    assert(out.select("value").as[String].collect().head.contains("n1"))
    val e = LogSink.Capture.entries
    assert(e.map(_.message) == Seq("'n1'"))
    assert(e.head.traceId == "abcd")
    assert(e.head.level == "WARNING")
  }

  // ---- the custom JSLT function set (docs/custom_jslt.md) ----

  private def jslt(script: String, in: String): String =
    Js.render(MiniJslt.compile(script)(Js.parse(in)))

  test("custom JSLT: base64 / uri / substr / parse-iso-instant") {
    assert(jslt("""base64-encode(.s)""", """{"s":"ab"}""") == "\"YWI=\"")
    assert(jslt("""base64-decode("YWI=")""", "{}") == "\"ab\"")
    assert(jslt("""uri-encode(.s)""", """{"s":"a b&c"}""")
      == "\"a%20b%26c\"")
    assert(jslt("""uri-decode("a%20b%26c")""", "{}") == "\"a b&c\"")
    assert(jslt("""substr(.s, 1, 3)""", """{"s":"abcd"}""") == "\"bc\"")
    assert(jslt("""substr(.s, 2)""", """{"s":"abcd"}""") == "\"cd\"")
    assert(jslt("""parse-iso-instant("1970-01-01T00:01:00Z")""", "{}")
      == "60")
  }

  test("custom JSLT: pointer family") {
    assert(jslt("""pointer("a", "b/c", "d~e")""", "{}")
      == "\"/a/b~1c/d~0e\"")
    assert(jslt("""pointer("a", 3)""", "{}") == "\"/a/3\"")
    assert(jslt("""get-pointer(., "/a/1/b")""",
      """{"a":[{"b":1},{"b":2}]}""") == "2")
    assert(jslt("""get-pointer(., "/a/9", "dflt")""", """{"a":[]}""")
      == "\"dflt\"")
    assert(jslt("""get-pointer(., "/missing")""", "{}") == "null")
    assert(jslt("""set-pointer(., "/a/b", 7)""", """{"a":{"c":1}}""")
      == """{"a":{"c":1,"b":7}}""")
    assert(jslt("""set-pointer(., "/x/y", 1)""", "{}")
      == """{"x":{"y":1}}""") // intermediate objects created
    assert(jslt("""set-pointer(., "/a/-", 9)""", """{"a":[1]}""")
      == """{"a":[1,9]}""")
  }

  test("custom JSLT: uuid shape and trace side effect") {
    val u = jslt("uuid()", "{}")
    assert(u.matches(
      "\"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\""))
    val prev = LogSink.jslt
    LogSink.jslt = LogSink.Capture
    try {
      LogSink.Capture.clear()
      assert(jslt("""trace(.v)""", """{"v":41}""") == "41")
      assert(LogSink.Capture.entries.map(_.message) == Seq("'41'"))
    } finally LogSink.jslt = prev
  }
}
