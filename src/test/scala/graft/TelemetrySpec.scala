package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.json.Js
import graft.op.{Env, HttpResult, HttpTransport}
import graft.streaming.{AppRunner, Telemetry}

/** OTel-shaped telemetry (docs/telemetry.md): OTLP/HTTP log export
  * through the pluggable HttpTransport, and the reference's flat
  * event-trace messages onto a traces topic.
  */
class TelemetrySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("OtlpLogSink posts an OTLP/HTTP logs request per entry") {
    var posts = Seq.empty[(String, String, String)]
    val http: HttpTransport = (method, url, _, body) => {
      posts :+= ((method, url, body)); HttpResult(200, "{}")
    }
    val sink = new Telemetry.OtlpLogSink("http://collector:4318", "app1", http)
    sink("graft.streams", "WARNING", "'boom'",
      "aaaaaaaabbbbccccddddeeeeeeeeeeee", "aaaaaaaabbbbcccc",
      """{"k":"v"}""")
    assert(posts.length == 1)
    val (method, url, body) = posts.head
    assert(method == "POST" && url == "http://collector:4318/v1/logs")
    val n = Js.parse(body)
    val rec = n.get("resourceLogs").get(0)
    assert(rec.get("resource").get("attributes").get(0)
      .get("value").get("stringValue").asText() == "app1")
    val lr = rec.get("scopeLogs").get(0).get("logRecords").get(0)
    assert(lr.get("severityNumber").asInt() == 13)
    assert(lr.get("severityText").asText() == "WARN")
    assert(lr.get("body").get("stringValue").asText() == "'boom'")
    assert(lr.get("traceId").asText() == "aaaaaaaabbbbccccddddeeeeeeeeeeee")
    assert(lr.get("spanId").asText() == "aaaaaaaabbbbcccc")
    assert(lr.get("timeUnixNano").asText().toLong > 0)
  }

  test("eventTraces emits one trace message per UUID-_corr message") {
    import spark.implicits._
    val msgs = Seq(
      """{"_id":"a","_corr":"0f8fad5b-d9cb-469f-a165-70867728950e","_jwt":{"sub":"u1"},"v":1}""",
      """{"_id":"b","v":2}""", // no _corr: no trace
      """{"_id":"c","_corr":"not-a-uuid","v":3}""").toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val traces = Telemetry.eventTraces(msgs, "app2", "p1", "p1.out",
      "ns", "1.2").collect()
    assert(traces.length == 1)
    val t = Js.parse(traces.head.getAs[String]("value"))
    assert(t.get("attributes").get("application").asText() == "app2")
    assert(t.get("attributes").get("part").asText() == "p1")
    assert(t.get("attributes").get("profile.frame.type").asText()
      == "json-streams")
    assert(t.get("name").asText() == "p1.out")
    assert(t.get("serviceNamespace").asText() == "ns")
    assert(t.get("serviceName").asText() == "app2")
    assert(t.get("serviceVersion").asText() == "1.2")
    assert(t.get("traceId").asText()
      == "0f8fad5b-d9cb-469f-a165-70867728950e")
    assert(t.get("username").asText() == "u1")
    assert(t.get("timestampNanos").asLong() > 0)
  }

  test("tracesTopic config wires a per-part event-trace side sink") {
    import spark.implicits._
    val in = Seq(
      """{"_id":"a","_corr":"0f8fad5b-d9cb-469f-a165-70867728950e","v":1}""")
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val io = new TestIo(Map("tin" -> in))
    new AppRunner(spark, io, Env(spark),
      config = Map("tracesTopic" -> "traces", "namespace" -> "prod")).run(
      """{"application":"tr","version":"2.0","parts":[
           {"type":"stream","name":"s","fromTopic":"tin",
            "toTopic":"tout"}]}""")
    val traces = io.sinks("traces").collect()
    assert(traces.length == 1)
    val t = Js.parse(traces.head.getAs[String]("value"))
    assert(t.get("name").asText() == "s.out")
    assert(t.get("serviceNamespace").asText() == "prod")
    assert(t.get("serviceVersion").asText() == "2.0")
    assert(io.sinks.contains("tout"))
  }

  test("OtlpMetricSink posts cumulative json_streams counters") {
    var posts = Seq.empty[(String, String)]
    val http: HttpTransport = (_, url, _, body) => {
      posts :+= ((url, body)); HttpResult(200, "{}")
    }
    val sink = new Telemetry.OtlpMetricSink(
      "http://collector:4318", "app3", "inst-1", "1.3", http)
    sink.addStart()
    sink.addMessages("p.in", 5)
    sink.addMessages("p.out", 3)
    sink.addMessages("p.in", 2) // accumulates: counters are cumulative
    sink.flush()
    assert(posts.length == 1)
    val (url, body) = posts.head
    assert(url == "http://collector:4318/v1/metrics")
    val rm = Js.parse(body).get("resourceMetrics").get(0)
    assert(rm.get("resource").get("attributes").get(0)
      .get("value").get("stringValue").asText() == "app3")
    val byName = Js.elems(rm.get("scopeMetrics").get(0).get("metrics"))
      .map(m => m.get("name").asText() -> m).toMap
    val sum = byName("json_streams.messages").get("sum")
    assert(sum.get("aggregationTemporality").asInt() == 2)
    assert(sum.get("isMonotonic").asBoolean())
    def attrs(dp: com.fasterxml.jackson.databind.JsonNode) =
      Js.elems(dp.get("attributes")).map(a =>
        a.get("key").asText() ->
          a.get("value").get("stringValue").asText()).toMap
    val points = Js.elems(sum.get("dataPoints"))
      .map(dp => attrs(dp)("part") -> dp.get("asInt").asText().toLong).toMap
    assert(points == Map("p.in" -> 7L, "p.out" -> 3L))
    val a = attrs(Js.elems(sum.get("dataPoints")).head)
    assert(a("application") == "app3" && a("instance") == "inst-1" &&
      a("profile.frame.type") == "json-streams" &&
      a("profile.frame.version") == "1.3")
    assert(Js.elems(byName("json_streams.starts").get("sum")
      .get("dataPoints")).head.get("asInt").asText() == "1")
    assert(Js.elems(byName("json_streams.stops").get("sum")
      .get("dataPoints")).head.get("asInt").asText() == "0")
  }

  test("otlp.http wires json_streams.messages counts per part subpart") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-otlpm").toString
    Files.createDirectories(Paths.get(s"$dir/min"))
    val posts =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val http: HttpTransport = (_, url, _, body) => {
      posts.add((url, body)); HttpResult(200, "{}")
    }
    val io = new graft.streaming.FileStreamIo(dir, Map.empty)
    val runner = new AppRunner(spark, io,
      graft.op.Env(spark).copy(http = http),
      config = Map("otlp.http" -> "http://collector:4318",
        "instance" -> "i-1", "otlp.metricsIntervalMillis" -> "0"))
    runner.run(
      """{"application":"mt","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"min",
            "toTopic":"mout","pipeline":[
              {"$probe":{"name":"flow","topic":"probe-t"}}]}]}""")
    val listener = runner.metricsListener.get
    spark.streams.addListener(listener)
    try {
      // data arrives only now — every counted micro-batch happens with
      // the listener registered
      Files.writeString(Paths.get(s"$dir/min/m1.json"),
        """{"_id":"a","v":1}""")
      Files.writeString(Paths.get(s"$dir/min/m2.json"),
        """{"_id":"b","v":2}""")
      io.processAll()
      io.stopAll() // termination → final flush
      val deadline = System.currentTimeMillis() + 10000
      def metricBodies = {
        import scala.jdk.CollectionConverters._
        posts.iterator().asScala.toSeq
          .filter(_._1.endsWith("/v1/metrics")).map(_._2)
      }
      def partCounts: Map[String, Long] = metricBodies.lastOption.map { b =>
        val ms = Js.elems(Js.parse(b).get("resourceMetrics").get(0)
          .get("scopeMetrics").get(0).get("metrics"))
        val sum = ms.find(_.get("name").asText() == "json_streams.messages")
          .map(_.get("sum")).get
        Js.elems(sum.get("dataPoints")).map { dp =>
          val attrs = Js.elems(dp.get("attributes")).map(a =>
            a.get("key").asText() ->
              a.get("value").get("stringValue").asText()).toMap
          attrs("part") -> dp.get("asInt").asText().toLong
        }.toMap
      }.getOrElse(Map.empty)
      while (partCounts.getOrElse("s.out", 0L) < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      // the $probe's own counts ride the same export under probe.<name>
      assert(partCounts == Map("s.in" -> 2L, "s.out" -> 2L,
        "probe.flow" -> 2L), s"bodies: $metricBodies")
    } finally spark.streams.removeListener(listener)
  }

  test("a second consumer query (tracesTopic) does not double-count") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-otlpd").toString
    Files.createDirectories(Paths.get(s"$dir/din"))
    val posts =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val http: HttpTransport = (_, url, _, body) => {
      posts.add((url, body)); HttpResult(200, "{}")
    }
    val io = new graft.streaming.FileStreamIo(dir, Map.empty)
    val runner = new AppRunner(spark, io,
      graft.op.Env(spark).copy(http = http),
      // tracesTopic starts a SECOND query over the part's stream whose
      // freshly-compiled plan embeds the same jsm__ observe nodes — the
      // listener must count each observation name from ONE query only
      config = Map("otlp.http" -> "http://collector:4318",
        "instance" -> "i-1", "otlp.metricsIntervalMillis" -> "0",
        "tracesTopic" -> "traces"))
    runner.run(
      """{"application":"md","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"din",
            "toTopic":"dout","pipeline":[]}]}""")
    val listener = runner.metricsListener.get
    spark.streams.addListener(listener)
    try {
      Files.writeString(Paths.get(s"$dir/din/m1.json"),
        """{"_id":"a","v":1}""")
      Files.writeString(Paths.get(s"$dir/din/m2.json"),
        """{"_id":"b","v":2}""")
      io.processAll()
      io.stopAll()
      val deadline = System.currentTimeMillis() + 10000
      def partCounts: Map[String, Long] = {
        import scala.jdk.CollectionConverters._
        posts.iterator().asScala.toSeq
          .filter(_._1.endsWith("/v1/metrics")).lastOption.map { case (_, b) =>
            val ms = Js.elems(Js.parse(b).get("resourceMetrics").get(0)
              .get("scopeMetrics").get(0).get("metrics"))
            ms.find(_.get("name").asText() == "json_streams.messages")
              .map(m => Js.elems(m.get("sum").get("dataPoints")).map { dp =>
                val attrs = Js.elems(dp.get("attributes")).map(a =>
                  a.get("key").asText() ->
                    a.get("value").get("stringValue").asText()).toMap
                attrs("part") -> dp.get("asInt").asText().toLong
              }.toMap).getOrElse(Map.empty)
          }.getOrElse(Map.empty)
      }
      while (partCounts.getOrElse("s.out", 0L) < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      // two messages, two consumer queries — the counters must say 2,
      // not 2 × consumers
      assert(partCounts.get("s.in").contains(2L), partCounts)
      assert(partCounts.get("s.out").contains(2L), partCounts)
    } finally spark.streams.removeListener(listener)
  }

  test("stateful operators export state_rows gauges") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-otlpg").toString
    Files.createDirectories(Paths.get(s"$dir/gin"))
    val posts =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val http: HttpTransport = (_, url, _, body) => {
      posts.add((url, body)); HttpResult(200, "{}")
    }
    val io = new graft.streaming.FileStreamIo(dir, Map.empty)
    val runner = new AppRunner(spark, io,
      graft.op.Env(spark).copy(http = http),
      config = Map("otlp.http" -> "http://collector:4318",
        "instance" -> "i-1", "otlp.metricsIntervalMillis" -> "0"))
    runner.run(
      """{"application":"gx","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"gin",
            "toTopic":"gout","pipeline":[
              {"$deduplicate":{"expression":"$corr"}}]}]}""")
    val listener = runner.metricsListener.get
    spark.streams.addListener(listener)
    try {
      Files.writeString(Paths.get(s"$dir/gin/m1.json"),
        """{"_id":"a","corr":"c1"}""")
      Files.writeString(Paths.get(s"$dir/gin/m2.json"),
        """{"_id":"b","corr":"c2"}""")
      io.processAll()
      io.stopAll()
      def gaugeRows: Long = gaugePoints(posts, "json_streams.state_rows")
        .map(_._2).maxOption.getOrElse(-1L)
      val deadline = System.currentTimeMillis() + 10000
      while (gaugeRows < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      // two distinct dedup keys live in the state store
      assert(gaugeRows == 2, s"state gauge: $gaugeRows")
    } finally spark.streams.removeListener(listener)
  }

  /** The data points of every `name` gauge posted so far, oldest first:
    * (attributes, value).
    */
  private def gaugePoints(posts: java.util.Collection[(String, String)],
      name: String): Seq[(Map[String, String], Long)] = {
    import scala.jdk.CollectionConverters._
    posts.iterator().asScala.toSeq
      .filter(_._1.endsWith("/v1/metrics")).map(_._2)
      .flatMap { b =>
        Js.elems(Js.parse(b).get("resourceMetrics").get(0)
          .get("scopeMetrics").get(0).get("metrics"))
          .filter(_.get("name").asText() == name)
          .flatMap(m => Js.elems(m.get("gauge").get("dataPoints")))
          .map(dp => Js.elems(dp.get("attributes")).map(a =>
            a.get("key").asText() ->
              a.get("value").get("stringValue").asText()).toMap ->
            dp.get("asInt").asText().toLong)
      }
  }

  test("state gauges sum same-named operators within one query") {
    // a join fed by a `$deduplicate` part: one query, two
    // transformWithState operators — the gauge is their sum, not
    // whichever reported last
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-otlpsum").toString
    Seq("sl", "sr").foreach(t => Files.createDirectories(Paths.get(s"$dir/$t")))
    val posts =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val http: HttpTransport = (_, url, _, body) => {
      posts.add((url, body)); HttpResult(200, "{}")
    }
    val io = new graft.streaming.FileStreamIo(dir, Map.empty,
      maxFilesPerTrigger = 10)
    val runner = new AppRunner(spark, io,
      graft.op.Env(spark).copy(http = http),
      config = Map("otlp.http" -> "http://collector:4318",
        "instance" -> "i-1", "otlp.metricsIntervalMillis" -> "0"))
    runner.run(
      """{"application":"gsum","version":"1.0","parts":[
           {"type":"stream","name":"d","fromTopic":"sl","pipeline":[
              {"$deduplicate":{"expression":"$_id"}}]},
           {"type":"join","name":"j","window":60000,"toTopic":"sout",
            "left":{"fromStream":"d","on":"$corr","timestamp":"$ts"},
            "right":{"fromTopic":"sr","on":"$corr","timestamp":"$ts"}}]}""")
    val listener = runner.metricsListener.get
    spark.streams.addListener(listener)
    try {
      def msg(id: String, corr: String) =
        s"""{"_id":"$id","corr":"$corr","ts":"2024-01-01T10:00:00Z"}"""
      Files.writeString(Paths.get(s"$dir/sl/m1.json"), msg("a", "c1"))
      Files.writeString(Paths.get(s"$dir/sl/m2.json"), msg("b", "c2"))
      Files.writeString(Paths.get(s"$dir/sr/m3.json"), msg("r", "c1"))
      io.processAll()
      val tws = io.queries("sout").lastProgress.stateOperators
        .filter(_.operatorName.startsWith("transformWithState"))
      assert(tws.length == 2, tws.map(_.operatorName).mkString(","))
      val op = tws.head.operatorName
      val want = tws.map(_.numRowsTotal).sum
      def gauge = gaugePoints(posts, "json_streams.state_rows")
        .filter(_._1.get("operator").contains(op)).lastOption.map(_._2)
      val deadline = System.currentTimeMillis() + 10000
      while (!gauge.contains(want) && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(tws.forall(_.numRowsTotal > 0))
      assert(gauge.contains(want), s"gauge $gauge, operators sum to $want")
      io.stopAll()
    } finally spark.streams.removeListener(listener)
  }

  test("trigger phases export as json_streams.trigger_ms gauges") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-otlpt").toString
    Files.createDirectories(Paths.get(s"$dir/tin"))
    val posts =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val http: HttpTransport = (_, url, _, body) => {
      posts.add((url, body)); HttpResult(200, "{}")
    }
    val io = new graft.streaming.FileStreamIo(dir, Map.empty)
    val runner = new AppRunner(spark, io,
      graft.op.Env(spark).copy(http = http),
      config = Map("otlp.http" -> "http://collector:4318",
        "instance" -> "i-1", "otlp.metricsIntervalMillis" -> "0"))
    runner.run(
      """{"application":"gt","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"tin","toTopic":"tout"}]}""")
    val listener = runner.metricsListener.get
    spark.streams.addListener(listener)
    try {
      Files.writeString(Paths.get(s"$dir/tin/m1.json"), """{"_id":"a"}""")
      io.processAll()
      def points = gaugePoints(posts, "json_streams.trigger_ms")
        .filter(_._1.get("query").contains("tout"))
      def phases = points.map(_._1("phase")).toSet
      val deadline = System.currentTimeMillis() + 10000
      while (phases.size < 7 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(phases == Telemetry.TriggerPhases.toSet, s"phases $phases")
      assert(points.exists(p => p._1("phase") == "triggerExecution" &&
        p._2 > 0))
      // a terminated query's points zero out
      io.stopAll()
      def last = points.takeRight(7)
      val stopBy = System.currentTimeMillis() + 10000
      while (!last.forall(_._2 == 0) && System.currentTimeMillis() < stopBy)
        Thread.sleep(100)
      assert(last.map(_._1("phase")).toSet == phases && last.forall(_._2 == 0),
        s"after stop: $last")
    } finally spark.streams.removeListener(listener)
  }

  test("aggregate parts split counters per declared command (batch bus)") {
    import spark.implicits._
    val posts =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val http: HttpTransport = (_, url, _, body) => {
      posts.add((url, body)); HttpResult(200, "{}")
    }
    val cmds = Seq(
      """{"_id":"a","_command":"put","_jwt":{"sub":"t"},"v":1}""",
      """{"_id":"b","_command":"put","_jwt":{"sub":"t"},"v":2}""",
      """{"_id":"a","_command":"zap","_jwt":{"sub":"t"}}""") // undeclared
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val io = new TestIo(Map("t-command" -> cmds))
    val runner = new AppRunner(spark, io,
      graft.op.Env(spark).copy(http = http),
      config = Map("otlp.http" -> "http://collector:4318"))
    val streams = runner.run(
      """{"application":"pc","version":"1.0","parts":[
           {"type":"aggregate","aggregateType":"t",
            "commands":{"put":{}}}]}""")
    val batchListener = runner.batchMetricsListener.get
    spark.listenerManager.register(batchListener)
    try {
      // acting on the event stream executes the whole DAG (command
      // observe included); the listener bus is async — poll the export
      assert(streams("t-event").count() == 2) // two puts reduced
      val deadline = System.currentTimeMillis() + 15000
      def counts: Map[String, Long] = {
        import scala.jdk.CollectionConverters._
        posts.iterator().asScala.toSeq
          .filter(_._1.endsWith("/v1/metrics")).lastOption.map { case (_, b) =>
            val ms = Js.elems(Js.parse(b).get("resourceMetrics").get(0)
              .get("scopeMetrics").get(0).get("metrics"))
            ms.find(_.get("name").asText() == "json_streams.messages")
              .map(m => Js.elems(m.get("sum").get("dataPoints")).map { dp =>
                val attrs = Js.elems(dp.get("attributes")).map(a =>
                  a.get("key").asText() ->
                    a.get("value").get("stringValue").asText()).toMap
                attrs("part") -> dp.get("asInt").asText().toLong
              }.toMap).getOrElse(Map.empty)
          }.getOrElse(Map.empty)
      }
      while (!counts.contains("t.command.put") &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val got = counts
      assert(got.getOrElse("t.command", 0L) == 3L, got) // all commands
      assert(got.getOrElse("t.command.put", 0L) == 2L, got) // declared only
      assert(got.getOrElse("t.event.put", 0L) == 2L, got)
      assert(got.getOrElse("t.invalid-command.put", 0L) == 0L, got)
      // batch plans memoize: a SECOND action recomputes the shared
      // subtree and re-fires its observe — the counter must not re-add
      assert(streams("t-event").count() == 2)
      Thread.sleep(2000) // let the async listener bus drain
      val after = counts
      assert(after.getOrElse("t.command", 0L) == 3L,
        s"re-execution re-added: $after")
      assert(after.getOrElse("t.event.put", 0L) == 2L, after)
    } finally spark.listenerManager.unregister(batchListener)
  }
}
