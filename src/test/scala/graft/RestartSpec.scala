package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.json.Js
import graft.op.Env
import graft.streaming.{AppRunner, GoldenTest, Io, NioLocalFs}
import scala.jdk.CollectionConverters._

/** Crash/resume soak (reference resume tokens, App.java:1056-1081 →
  * Spark checkpoints): run the app35 aggregate over HALF its command
  * stream, stop every query (the crash — all state survives only in the
  * checkpoints), then start a brand-new AppRunner over the same
  * checkpoint/sink dirs with the remaining commands staged. The resumed
  * run must NOT reprocess phase-1 files (file-source offset log), must
  * restore per-key state (`_seq` continues — a reset state store would
  * re-emit _seq 0/1 and break the golden), and the union of both runs'
  * outputs must match the fixture goldens exactly.
  */
/** File sources (schemaless messages, FileStreamIo's convention) with
  * durable FILE sinks + per-topic checkpoints — memory sinks cannot
  * resume, so the golden-harness Io doesn't fit crash/resume tests.
  * Shared by RestartSpec (aggregate) and JoinRestartSpec (join state).
  */
final class ResumableIo(srcRoot: Path, outRoot: Path, ckptRoot: Path,
    /** topics with a declared schema yield TYPED frames (the join part
      * needs them); others stay schemaless (key, value) messages
      */
    schemas: Map[String, org.apache.spark.sql.types.StructType] = Map.empty)
    extends Io {
  def source(spark: SparkSession, kind: String, name: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val raw = spark.readStream
      .option("maxFilesPerTrigger", "10000")
      .text(s"$srcRoot/$name")
      .select(
        get_json_object(col("value"), "$._id").as("key"),
        col("value"),
        coalesce(regexp_extract(input_file_name(),
          "(\\d+)\\.json$", 1).cast("long"), lit(0L)).as("__ord"))
    schemas.get(name) match {
      case Some(schema) =>
        raw.select(col("key"), from_json(col("value"), schema).as("v"),
          col("__ord"))
          .select(col("key"), col("v.*"), col("__ord"))
      case None => raw
    }
  }

  def sink(kind: String, name: String, df: DataFrame,
      asString: Boolean, partId: String = "",
      options: Map[String, String] = Map.empty): Unit = start(name, df)

  /** Only THIS Io's queries, tagged timer-driven or not: the shared
    * session may carry other suites' queries, and `processAllAvailable`
    * never returns on a processing-time transformWithState query —
    * those drain via StatefulOps.awaitQuiesced.
    */
  var started =
    Seq.empty[(org.apache.spark.sql.streaming.StreamingQuery, Boolean)]

  def start(name: String, df: DataFrame): Unit =
    started :+= (df.writeStream.format("json")
      .option("path", s"$outRoot/$name")
      .option("checkpointLocation", s"$ckptRoot/$name")
      .start() -> graft.streaming.StatefulOps.usesProcessingTimers(df))

  def drainAndStop(): Unit = {
    started.foreach { case (q, timers) =>
      if (timers) graft.streaming.StatefulOps.awaitQuiesced(q)
      else q.processAllAvailable()
    }
    started.foreach(_._1.stop())
  }
}

class RestartSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val appDir = Paths.get("src/test/resources/goldapps/app35")
  private val commandTopic = "plusminus2-counter-command"

  private def stage(files: Seq[Path], srcDir: Path, from: Int): Unit = {
    Files.createDirectories(srcDir)
    files.zipWithIndex.foreach { case (f, i) =>
      Files.writeString(srcDir.resolve(f"m${from + i}%04d.json"),
        Js.render(Js.parse(Files.readString(f))))
    }
  }

  private def runPhase(io: ResumableIo, expectedTopics: Seq[String]): Unit = {
    val env = Env(spark,
      scripts = name => Files.readString(appDir.resolve(name).normalize()))
    val streams = new AppRunner(spark, io, env)
      .run(Files.readString(appDir.resolve("application.yaml")))
    expectedTopics.foreach(t => streams.get(t).foreach(io.start(t, _)))
    io.drainAndStop()
  }

  private lazy val inputs = Files.list(
    appDir.resolve(s"test/topics/from/$commandTopic"))
    .iterator().asScala.toSeq.sortBy(_.getFileName.toString)
  private lazy val expectedTopics = Files.list(appDir.resolve("test/topics/to"))
    .iterator().asScala.toSeq.filter(Files.isDirectory(_))
    .map(_.getFileName.toString)

  /** Every message a run wrote to `topic` under `outRoot`. */
  private def written(outRoot: Path, topic: String) = {
    val outDir = outRoot.resolve(topic)
    if (!Files.exists(outDir)) Nil
    else spark.read.schema("key string, value string").json(outDir.toString)
      .select("value").collect().map(r => Js.parse(r.getString(0))).toSeq
  }

  /** Half the command stream, the "crash" (all queries stopped; state
    * lives only in the checkpoints), then a NEW runner over the same
    * dirs with the rest; `beforePhase(n, checkpointRoot)` runs ahead of
    * phase n. Returns the work dir (`out/`, `ckpt/`).
    */
  private def splitRun(name: String,
      beforePhase: (Int, Path) => Unit = (_, _) => ()): Path = {
    val work = Files.createTempDirectory(name)
    val (srcRoot, outRoot, ckptRoot) =
      (work.resolve("in"), work.resolve("out"), work.resolve("ckpt"))
    val srcDir = srcRoot.resolve(commandTopic)
    assert(inputs.size >= 4, "fixture must have enough commands to split")
    val (phase1, phase2) = inputs.splitAt(inputs.size / 2)
    beforePhase(1, ckptRoot)
    stage(phase1, srcDir, from = 0)
    runPhase(new ResumableIo(srcRoot, outRoot, ckptRoot), expectedTopics)
    beforePhase(2, ckptRoot)
    stage(phase2, srcDir, from = phase1.size)
    runPhase(new ResumableIo(srcRoot, outRoot, ckptRoot), expectedTopics)
    work
  }

  private def changelogs(ckptRoot: Path): Long = Files.walk(ckptRoot)
    .filter(_.getFileName.toString.endsWith(".changelog")).count()

  test("app35 aggregate resumes mid-stream from checkpoints") {
    val outRoot = splitRun("graft-restart").resolve("out")

    // union of both phases must equal the golden expectations exactly
    val results = expectedTopics.map { t =>
      val expected = Files.list(appDir.resolve(s"test/topics/to/$t"))
        .iterator().asScala.toSeq.sortBy(_.getFileName.toString)
        .map(Files.readString(_))
      GoldenTest.compare(t, expected, written(outRoot, t), strict = false)
    }
    results.foreach(r => assert(r.ok, s"${r.topic}: ${r.detail}"))

    // resume really resumed: phase-1 files were not reprocessed (no
    // duplicate replies) and _seq continued across the restart
    val replies = written(outRoot, "plusminus2-counter-reply")
    val seqs = replies.flatMap(v => Option(v.get("_seq")).map(_.asLong()))
    assert(seqs.distinct.length == seqs.length,
      s"duplicate _seq after resume: ${seqs.mkString(",")}")
  }

  test("a checkpoint written under stock settings resumes under the " +
      "streaming defaults") {
    val fsKey = "fs.AbstractFileSystem.file.impl"
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    // phase 1: Hadoop's forking LocalFs and snapshot-per-commit state, as
    // a checkpoint written before the defaults; phase 2: the defaults
    val work =
      try {
        val w = splitRun("graft-restart-compat", {
          case (1, _) =>
            spark.conf.set(fsKey, NioLocalFs.StockImpl)
            spark.conf.set(changelogKey, "false")
          case (_, ckptRoot) =>
            assert(changelogs(ckptRoot) == 0, "phase 1 ran with changelogs")
            spark.conf.unset(fsKey)
            spark.conf.unset(changelogKey)
        })
        assert(spark.conf.get(fsKey) == classOf[NioLocalFs].getName)
        assert(spark.conf.get(changelogKey) == "true")
        w
      } finally { // the session is shared: never leave phase 1's values
        spark.conf.unset(fsKey)
        spark.conf.unset(changelogKey)
      }
    assert(changelogs(work.resolve("ckpt")) > 0, "phase 2 wrote no changelog")
    val whole = Files.createTempDirectory("graft-restart-whole")
    val srcDir = whole.resolve("in").resolve(commandTopic)
    stage(inputs, srcDir, from = 0)
    runPhase(new ResumableIo(whole.resolve("in"), whole.resolve("out"),
      whole.resolve("ckpt")), expectedTopics)
    expectedTopics.foreach { t =>
      val r = GoldenTest.compare(t,
        written(whole.resolve("out"), t).map(Js.render),
        written(work.resolve("out"), t), strict = true)
      assert(r.ok, s"${r.topic}: ${r.detail}")
    }
  }
}
