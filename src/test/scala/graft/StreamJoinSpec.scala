package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.op.Env
import graft.streaming.{AppRunner, FileStreamIo}

/** Stream-stream join part under Structured Streaming: both sides
  * watermarked on ingestion time, equi-join on the `on` expressions,
  * {_id, left, right} output (docs/join.md).
  */
class StreamJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("streaming join joins within the window") {
    val dir = Files.createTempDirectory("graft-sjoin").toString
    def write(topic: String, name: String, json: String): Unit = {
      Files.createDirectories(Paths.get(s"$dir/$topic"))
      Files.writeString(Paths.get(s"$dir/$topic/$name.json"), json)
    }
    write("lt", "l1", """{"_id":"l1","corr":"c1","lv":10}""")
    write("lt", "l2", """{"_id":"l2","corr":"c2","lv":20}""")
    write("rt", "r1", """{"_id":"r1","corr":"c1","rv":99}""")
    val s1 = DataType.fromDDL("_id string, corr string, lv int")
      .asInstanceOf[StructType]
    val s2 = DataType.fromDDL("_id string, corr string, rv int")
      .asInstanceOf[StructType]
    val io = new FileStreamIo(dir, Map("lt" -> s1, "rt" -> s2))
    new AppRunner(spark, io, Env(spark)).run(
      """{"application":"sj","version":"1.0","parts":[
           {"type":"join","name":"j","window":60000,
            "left":{"fromTopic":"lt","on":"$corr"},
            "right":{"fromTopic":"rt","on":"$corr"},
            "toTopic":"out_sj"}]}""")
    io.processAll()
    val rows = spark.table("out_sj").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("_id") == "c1")
    assert(r.getAs[org.apache.spark.sql.Row]("left").getAs[Int]("lv") == 10)
    assert(r.getAs[org.apache.spark.sql.Row]("right").getAs[Int]("rv") == 99)

    // at-least-once replay: the same left message arrives again (new file,
    // same content) — the duplicate join emission must be suppressed
    // (reference App.java:706-708)
    write("lt", "l1b", """{"_id":"l1","corr":"c1","lv":10}""")
    io.processAll()
    assert(spark.table("out_sj").collect().length == 1)
    io.stopAll()
  }

  test("streaming join evicts state once the window has passed") {
    // Guards the two-sided range form of the window condition: with
    // abs(l - r) <= w StreamingJoinHelper cannot derive state-value
    // watermarks and both buffers grow without bound. Feed three
    // well-separated micro-batch rounds through a 1 s window and assert
    // the state store sheds the old rows instead of accumulating all 9
    // (6 join-side + 3 dedup) entries.
    val dir = Files.createTempDirectory("graft-sjevict").toString
    def write(topic: String, name: String, json: String): Unit = {
      Files.createDirectories(Paths.get(s"$dir/$topic"))
      Files.writeString(Paths.get(s"$dir/$topic/$name.json"), json)
    }
    val s1 = DataType.fromDDL("_id string, corr string, lv int")
      .asInstanceOf[StructType]
    val s2 = DataType.fromDDL("_id string, corr string, rv int")
      .asInstanceOf[StructType]
    Files.createDirectories(Paths.get(s"$dir/lt"))
    Files.createDirectories(Paths.get(s"$dir/rt"))
    val io = new FileStreamIo(dir, Map("lt" -> s1, "rt" -> s2))
    new AppRunner(spark, io, Env(spark)).run(
      """{"application":"sje","version":"1.0","parts":[
           {"type":"join","name":"j","window":8000,
            "left":{"fromTopic":"lt","on":"$corr"},
            "right":{"fromTopic":"rt","on":"$corr"},
            "toTopic":"out_sje"}]}""")
    def round(n: Int): Unit = {
      write("lt", s"l$n", s"""{"_id":"l$n","corr":"c$n","lv":$n}""")
      write("rt", s"r$n", s"""{"_id":"r$n","corr":"c$n","rv":$n}""")
      io.processAll()
    }
    // 8 s window: a round's two sides may land in separate micro-batches
    // (maxFilesPerTrigger=1) and a GC pause under full-suite load can
    // put seconds between them — the window must absorb that (a 2 s
    // window flaked exactly once in ~10 full-suite runs); the 12 s gaps
    // still outrun window + delay, so eviction stays observable
    round(1)
    Thread.sleep(12000)
    round(2)
    Thread.sleep(12000)
    round(3)
    assert(spark.table("out_sje").collect().length == 3)
    val joinQ = io.queries("out_sje")
    val stateRows = joinQ.lastProgress.stateOperators.map(_.numRowsTotal).sum
    // unbounded growth keeps all 9; eviction leaves at most the last two
    // rounds (the 12 s gap exceeds the 8 s window, so round 1 clears
    // during round 3)
    assert(stateRows <= 6, s"join state not evicted: $stateRows rows buffered")
    io.stopAll()
  }

  test("merge + event-time join over schemaless sources pairs like typed ones") {
    // the merge_join app shape: two click topics merged, then joined with
    // orders on `corr` within an event-time window — once with declared
    // schemas, once over raw (key, value) messages
    val dir = Files.createTempDirectory("graft-sjmsg").toString
    def write(topic: String, name: String, json: String): Unit = {
      Files.createDirectories(Paths.get(s"$dir/$topic"))
      Files.writeString(Paths.get(s"$dir/$topic/$name.json"), json)
    }
    def msg(id: String, corr: String, ts: String) =
      s"""{"_id":"$id","corr":"$corr","ts":"2024-01-01T$ts"}"""
    write("cweb", "m1", msg("w1", "c1", "10:00:00Z"))
    write("cweb", "m2", msg("w2", "c2", "10:00:05Z"))
    write("cweb", "m3", msg("w3", "c3", "10:00:00Z")) // no order
    write("capp", "m4", msg("a1", "c1", "10:00:20Z"))
    write("capp", "m5", msg("a2", "c4", "10:05:00Z")) // outside the window
    write("ord", "m6", msg("o1", "c1", "10:00:10Z"))
    write("ord", "m7", msg("o2", "c2", "10:00:30Z"))
    write("ord", "m8", msg("o4", "c4", "10:00:00Z"))
    def app(out: String) =
      s"""{"application":"sjmsg","version":"1.0","parts":[
           {"type":"merge","name":"clicks","fromTopics":["cweb","capp"]},
           {"type":"join","name":"checkout","window":60000,"toTopic":"$out",
            "left":{"fromStream":"clicks","on":"$$corr","timestamp":"$$ts"},
            "right":{"fromTopic":"ord","on":"$$corr","timestamp":"$$ts"}}]}"""
    val schema = DataType.fromDDL("_id string, corr string, ts string")
      .asInstanceOf[StructType]
    val typedIo = new FileStreamIo(dir,
      Map("cweb" -> schema, "capp" -> schema, "ord" -> schema))
    new AppRunner(spark, typedIo, Env(spark)).run(app("out_sj_typed"))
    typedIo.processAll()
    val typed = spark.table("out_sj_typed").collect().map { r =>
      (r.getAs[String]("_id"),
        r.getAs[org.apache.spark.sql.Row]("left").getAs[String]("_id"),
        r.getAs[org.apache.spark.sql.Row]("right").getAs[String]("_id"))
    }.toSet
    typedIo.stopAll()
    val msgIo = new FileStreamIo(dir, Map.empty)
    new AppRunner(spark, msgIo, Env(spark)).run(app("out_sj_msg"))
    msgIo.processAll()
    val rows = spark.table("out_sj_msg").collect()
    msgIo.stopAll()
    val schemaless = rows.map { r =>
      val v = graft.json.Js.parse(r.getAs[String]("value"))
      assert(r.getAs[String]("key") == v.get("_id").asText())
      (v.get("_id").asText(), v.get("left").get("_id").asText(),
        v.get("right").get("_id").asText())
    }.toSet
    assert(typed == Set(("c1", "w1", "o1"), ("c1", "a1", "o1"),
      ("c2", "w2", "o2")))
    assert(schemaless == typed)
    // each side is the message itself, not a {key, value} envelope
    val left = graft.json.Js.parse(rows.head.getAs[String]("value")).get("left")
    assert(left.get("corr") != null && left.get("value") == null)
  }

  test("event-time join windows on the data's clock, not arrival") {
    // Both sides carry a `timestamp` expression: rows minutes apart in
    // EVENT time never join even though they arrive seconds apart, and
    // rows inside the event-time window join regardless of arrival lag.
    val dir = Files.createTempDirectory("graft-sjet").toString
    def write(topic: String, name: String, json: String): Unit = {
      Files.createDirectories(Paths.get(s"$dir/$topic"))
      Files.writeString(Paths.get(s"$dir/$topic/$name.json"), json)
    }
    // c1: left/right 10 s apart in event time (inside the 60 s window);
    // c2: 10 MINUTES apart (outside) — arrival order is all-at-once
    write("lte", "l1",
      """{"_id":"l1","corr":"c1","ets":"2024-01-01T10:00:00Z","lv":1}""")
    write("rte", "r1",
      """{"_id":"r1","corr":"c1","ets":"2024-01-01T10:00:10Z","rv":2}""")
    write("lte", "l2",
      """{"_id":"l2","corr":"c2","ets":"2024-01-01T10:00:00Z","lv":3}""")
    write("rte", "r2",
      """{"_id":"r2","corr":"c2","ets":"2024-01-01T10:10:00Z","rv":4}""")
    val s1 = DataType.fromDDL("_id string, corr string, ets string, lv int")
      .asInstanceOf[StructType]
    val s2 = DataType.fromDDL("_id string, corr string, ets string, rv int")
      .asInstanceOf[StructType]
    val io = new FileStreamIo(dir, Map("lte" -> s1, "rte" -> s2),
      maxFilesPerTrigger = 10)
    new AppRunner(spark, io, Env(spark)).run(
      """{"application":"sjet","version":"1.0","parts":[
           {"type":"join","name":"je","window":60000,
            "left":{"fromTopic":"lte","on":"$corr","timestamp":"$ets"},
            "right":{"fromTopic":"rte","on":"$corr","timestamp":"$ets"},
            "toTopic":"out_sjet"}]}""")
    io.processAll()
    val rows = spark.table("out_sjet").collect()
    assert(rows.map(_.getAs[String]("_id")).toSeq == Seq("c1"),
      s"event-time window violated: ${rows.mkString(",")}")
    io.stopAll()
  }

  test("windowless streaming join requires the explicit unbounded opt-in") {
    // Reference semantics default the join window to infinite
    // (App.java:693) — on a stream that is unbounded state-store growth,
    // so the engine refuses it unless the part opts in explicitly.
    val dir = Files.createTempDirectory("graft-sjnowin").toString
    Files.createDirectories(Paths.get(s"$dir/lt2"))
    Files.createDirectories(Paths.get(s"$dir/rt2"))
    Files.writeString(Paths.get(s"$dir/lt2/l1.json"),
      """{"_id":"l1","corr":"c1","lv":1}""")
    Files.writeString(Paths.get(s"$dir/rt2/r1.json"),
      """{"_id":"r1","corr":"c1","rv":2}""")
    val s1 = DataType.fromDDL("_id string, corr string, lv int")
      .asInstanceOf[StructType]
    val s2 = DataType.fromDDL("_id string, corr string, rv int")
      .asInstanceOf[StructType]
    def spec(extra: String) =
      s"""{"application":"sjnw","version":"1.0","parts":[
           {"type":"join","name":"jnw"$extra,
            "left":{"fromTopic":"lt2","on":"$$corr"},
            "right":{"fromTopic":"rt2","on":"$$corr"},
            "toTopic":"out_sjnw"}]}"""
    val io = new FileStreamIo(dir, Map("lt2" -> s1, "rt2" -> s2))
    val e = intercept[IllegalArgumentException] {
      new AppRunner(spark, io, Env(spark)).run(spec(""))
    }
    assert(e.getMessage.contains("jnw") &&
      e.getMessage.contains("allowUnboundedJoinState"))
    // the reference-faithful infinite window stays available behind the flag
    new AppRunner(spark, io, Env(spark))
      .run(spec(""","allowUnboundedJoinState":true"""))
    io.processAll()
    assert(spark.table("out_sjnw").collect().length == 1)
    io.stopAll()
  }

  test("$delay redelivers onto the target topic after the duration") {
    val dir = Files.createTempDirectory("graft-delay").toString
    Files.createDirectories(Paths.get(s"$dir/din"))
    Files.createDirectories(Paths.get(s"$dir/retryt"))
    Files.writeString(Paths.get(s"$dir/din/m1.json"),
      """{"_id":"d1","v":5}""")
    val s = DataType.fromDDL("_id string, v int").asInstanceOf[StructType]
    val io = new FileStreamIo(dir, Map("din" -> s, "retryt" -> s))
    val t0 = System.currentTimeMillis()
    new AppRunner(spark, io, Env(spark)).run(
      """{"application":"dl","version":"1.0","parts":[
           {"type":"stream","name":"delayer","fromTopic":"din",
            "toTopic":"out_dl","pipeline":[
              {"$delay":{"duration":5000,"topic":"retryt"}}]},
           {"type":"stream","name":"receiver","fromTopic":"retryt",
            "toTopic":"out_retry"}]}""")
    io.processAll()
    // nothing EVER goes to the part's own sink (the delayed copy routes
    // to the retry topic)
    assert(spark.table("out_dl").collect().isEmpty)
    // the delayed copy is still pending — but ONLY assert that when this
    // point was reached before the 5 s duration expired: under a loaded
    // full-suite run processAll's quiescent wait alone can exceed the
    // duration, and the copy legitimately redelivers before we look
    // (exactly the wall-clock flake that broke the round-17 full-suite
    // run once); the margin keeps the assert meaningful on normal runs
    if (System.currentTimeMillis() - t0 < 4000)
      assert(spark.table("out_retry").collect().isEmpty)
    // after the duration the message surfaces on the retry topic
    // (poll: timer fire + file pickup are asynchronous under load)
    val deadline = System.currentTimeMillis() + 20000
    var redelivered = Array.empty[org.apache.spark.sql.Row]
    while (redelivered.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(300)
      io.processAll()
      redelivered = spark.table("out_retry").collect()
    }
    assert(redelivered.length == 1)
    assert(redelivered.head.getAs[String]("_id") == "d1")
    assert(redelivered.head.getAs[Int]("v") == 5)
    io.stopAll()
  }
}
