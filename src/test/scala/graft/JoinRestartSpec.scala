package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.json.Js
import graft.op.Env
import graft.streaming.AppRunner

/** Crash/resume for the JOIN part: the stream-stream join buffers an
  * unmatched left row in the state store; after stopping every query
  * (the crash) a brand-new runner over the same checkpoints must
  * (a) NOT re-emit the pair already joined in phase 1, and (b) join the
  * phase-2 right row against the phase-1 LEFT ROW RESTORED FROM STATE —
  * the part that only works if join state survives the restart. The
  * 10-minute window keeps ingestion-time matching deterministic across
  * the restart gap.
  */
class JoinRestartSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val appYaml =
    """---
      |application: "r4join-restart"
      |version: "1.0"
      |parts:
      |  - type: "join"
      |    name: "joined"
      |    toTopic: "jout"
      |    window: 600000
      |    left:
      |      fromTopic: "lt"
      |      on: "$corr"
      |    right:
      |      fromTopic: "rt"
      |      on: "$corr"
      |""".stripMargin

  private def put(dir: Path, name: String, json: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), json)
  }

  private val schemas = {
    import org.apache.spark.sql.types._
    val lt = StructType(Seq(StructField("_id", StringType),
      StructField("corr", StringType), StructField("lv", LongType)))
    val rt = StructType(Seq(StructField("_id", StringType),
      StructField("corr", StringType), StructField("rv", LongType)))
    Map("lt" -> lt, "rt" -> rt)
  }

  private def runPhase(io: ResumableIo): Unit = {
    val streams = new AppRunner(spark, io, Env(spark)).run(appYaml)
    streams.get("jout").foreach(io.start("jout", _))
    io.drainAndStop()
  }

  test("join part resumes: buffered left row joins after the restart") {
    val work = Files.createTempDirectory("graft-join-restart")
    val (srcRoot, outRoot, ckptRoot) =
      (work.resolve("in"), work.resolve("out"), work.resolve("ckpt"))

    // phase 1: c1 joins immediately; c3's left side stays buffered
    put(srcRoot.resolve("lt"), "m0001.json",
      """{"_id":"L1","corr":"c1","lv":1}""")
    put(srcRoot.resolve("rt"), "m0002.json",
      """{"_id":"R1","corr":"c1","rv":2}""")
    put(srcRoot.resolve("lt"), "m0003.json",
      """{"_id":"L3","corr":"c3","lv":3}""")
    runPhase(new ResumableIo(srcRoot, outRoot, ckptRoot, schemas))

    // the crash: everything stopped; state lives only in checkpoints.
    // phase 2: only c3's right partner arrives
    put(srcRoot.resolve("rt"), "m0004.json",
      """{"_id":"R3","corr":"c3","rv":4}""")
    runPhase(new ResumableIo(srcRoot, outRoot, ckptRoot, schemas))

    val out = spark.read
      .schema("_id string, left struct<key:string,_id:string,corr:string,lv:bigint>, " +
        "right struct<key:string,_id:string,corr:string,rv:bigint>")
      .json(outRoot.resolve("jout").toString)
      .collect()
    val byId = out.groupBy(_.getString(0))
    assert(byId.keySet == Set("c1", "c3"),
      s"expected pairs c1+c3, got ${byId.keySet}")
    // no duplicate emission of the phase-1 pair after the resume
    assert(byId.values.forall(_.length == 1),
      s"duplicate join output after resume: ${out.toSeq}")
    val c3 = byId("c3").head
    assert(c3.getStruct(1).getAs[Long]("lv") == 3L)
    assert(c3.getStruct(2).getAs[Long]("rv") == 4L)
  }

  test("a checkpoint of the symmetric-hash-join layout is refused loudly") {
    // Join checkpoints written before the join became one stateful
    // operator hold a symmetric hash join plus a
    // dropDuplicatesWithinWatermark: phase 1 builds that plan shape
    // directly, phase 2 resumes it under the runner, which must fail at
    // its first batch instead of reading the old state as new.
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory("graft-join-oldckpt")
    val (srcRoot, outRoot, ckptRoot) =
      (work.resolve("in"), work.resolve("out"), work.resolve("ckpt"))
    put(srcRoot.resolve("lt"), "m0001.json",
      """{"_id":"L1","corr":"c1","lv":1}""")
    put(srcRoot.resolve("rt"), "m0002.json",
      """{"_id":"R1","corr":"c1","rv":2}""")
    val old = new ResumableIo(srcRoot, outRoot, ckptRoot, schemas)
    def side(tag: String) = {
      val df = old.source(spark, "topic", tag.head + "t")
      df.select(col("corr").as(s"__key_$tag"),
        struct(df.columns.filterNot(_ == "__ord").map(col): _*).as(tag),
        current_timestamp().as(s"__jts_$tag"))
        .withWatermark(s"__jts_$tag", "600000 milliseconds")
    }
    val joined = side("left").join(side("right"),
      col("__key_left") === col("__key_right") &&
        col("__jts_right") >= col("__jts_left") -
          expr("INTERVAL 600000 MILLISECOND") &&
        col("__jts_right") <= col("__jts_left") +
          expr("INTERVAL 600000 MILLISECOND"))
    old.start("jout", joined
      .withColumn("__jv", sha2(to_json(struct(col("__key_left"),
        col("left"), col("right"))), 256))
      .drop("__jts_right")
      .dropDuplicatesWithinWatermark("__jv")
      .select(col("__key_left").as("_id"), col("left"), col("right")))
    old.drainAndStop()

    put(srcRoot.resolve("rt"), "m0003.json",
      """{"_id":"R2","corr":"c1","rv":3}""")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      runPhase(new ResumableIo(srcRoot, outRoot, ckptRoot, schemas)))
    assert(e.getMessage.contains(
      "STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"), e.getMessage)
  }
}
