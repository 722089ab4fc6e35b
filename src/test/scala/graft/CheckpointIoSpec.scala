package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.op.Env
import graft.streaming.{AppRunner, FileStreamIo, NioLocalFs, NioRawLocalFileSystem, StatefulOps}

/** Checkpoint I/O on a local path: the streaming defaults install
  * [[NioLocalFs]] for FileContext, which must answer as Hadoop's stock
  * local file system does without forking a `chmod` or `readlink` per
  * checkpoint file.
  */
class CheckpointIoSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val fsKey = "fs.AbstractFileSystem.file.impl"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val changelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  private def local(fs: RawLocalFileSystem, umask: String) = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mask", umask)
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  test("NioRawLocalFileSystem sets the permission bits the stock one sets") {
    val dir = Files.createTempDirectory("graft-nio-perm")
    for (umask <- Seq("022", "077", "002")) {
      val (stock, nio) = (local(new RawLocalFileSystem, umask),
        local(new NioRawLocalFileSystem, umask))
      def made(fs: RawLocalFileSystem, tag: String) = {
        val conf = fs.getConf
        val file = new Path(dir.resolve(s"$tag-$umask.f").toUri)
        fs.create(file, FsPermission.getFileDefault.applyUMask(
          FsPermission.getUMask(conf)), true, 4096, 1.toShort, 1 << 20,
          null).close()
        val sub = new Path(dir.resolve(s"$tag-$umask.d").toUri)
        assert(fs.mkdirs(sub, FsPermission.getDirDefault.applyUMask(
          FsPermission.getUMask(conf))))
        Seq(file, sub).map(p => Files.getPosixFilePermissions(
          fs.pathToFile(p).toPath).asScala.toSet)
      }
      assert(made(nio, "nio") == made(stock, "stock"), s"umask $umask")
    }
  }

  test("NioRawLocalFileSystem's link status matches the stock one") {
    val dir = Files.createTempDirectory("graft-nio-link")
    val file = Files.writeString(dir.resolve("f"), "x")
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val (stock, nio) = (local(new RawLocalFileSystem, "022"),
      local(new NioRawLocalFileSystem, "022"))
    def seen(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory,
      s.isSymlink, s.getLen, s.getPermission, s.getModificationTime,
      if (s.isSymlink) s.getSymlink else null)
    // both path forms: FileContext hands over qualified `file:` paths
    for (p <- Seq(file, sub, link);
         hp <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(seen(nio.getFileLinkStatus(hp)) ==
        seen(stock.getFileLinkStatus(hp)), hp.toString)
    val missing = new Path(dir.resolve("nope").toUri)
    intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("streaming defaults keep an explicit provider, file system and " +
      "changelog setting") {
    val keys = Seq(providerKey, changelogKey, fsKey)
    val before = keys.map(k => k -> spark.conf.getAll.get(k)).toMap
    try {
      keys.foreach(spark.conf.unset)
      StatefulOps.streamingDefaults(spark)
      assert(spark.conf.get(providerKey).endsWith("RocksDBStateStoreProvider"))
      assert(spark.conf.get(changelogKey) == "true")
      assert(spark.conf.get(fsKey) == classOf[NioLocalFs].getName)
      val mine = Map(providerKey -> "my.Provider", changelogKey -> "false",
        fsKey -> NioLocalFs.StockImpl)
      mine.foreach { case (k, v) => spark.conf.set(k, v) }
      StatefulOps.streamingDefaults(spark)
      mine.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
      // a file system chosen on the context (spark.hadoop.*) is kept too
      spark.conf.unset(fsKey)
      val hadoop = spark.sparkContext.hadoopConfiguration
      hadoop.set(fsKey, "my.LocalFs")
      try {
        StatefulOps.streamingDefaults(spark)
        assert(spark.conf.getOption(fsKey).isEmpty)
      } finally hadoop.set(fsKey, NioLocalFs.StockImpl, "core-default.xml")
    } finally {
      keys.foreach(spark.conf.unset)
      before.foreach { case (k, v) => v.foreach(spark.conf.set(k, _)) }
    }
  }

  /** (command, thread and call stack) of every process the JVM starts
    * during `body`.
    */
  private def processStarts(body: => Unit): Seq[(String, String)] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq
            .flatMap(_.getFrames.asScala).map(f =>
              s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          (e.getString("command"), (Option(e.getThread)
            .map(_.getJavaName).toSeq ++ frames).mkString("\n  at "))
        }
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  private val appYaml =
    """---
      |application: "ckio"
      |version: "1.0"
      |parts:
      |  - type: "aggregate"
      |    aggregateType: "ckio-counter"
      |    commands:
      |      put:
      |        preprocessor: "dedup.yaml"
      |        reducer: ".command | del(._command)"
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

  test("stateful triggers on a local checkpoint fork no chmod or readlink") {
    val root = Files.createTempDirectory("graft-ckio")
    def put(topic: String, i: Int, json: String): Unit = {
      val d = Files.createDirectories(root.resolve(topic))
      Files.writeString(d.resolve(f"m$i%04d.json"), json)
    }
    // command 1 repeats command 0, which the $deduplicate drops
    def stage(i: Int): Unit = {
      val id = if (i == 1) "c0" else s"c$i"
      put("ckio-counter-command", i,
        s"""{"_id":"$id","_command":"put","_corr":"k$i",""" +
          """"_jwt":{"sub":"system"},"value":0}""")
      put("lt", i, s"""{"_id":"L$i","corr":"c$i","lv":$i}""")
      put("rt", i, s"""{"_id":"R$i","corr":"c$i","rv":$i}""")
    }
    val side = (v: String) => StructType(Seq(StructField("_id", StringType),
      StructField("corr", StringType), StructField(v, LongType)))
    val io = new FileStreamIo(root.toString,
      Map("lt" -> side("lv"), "rt" -> side("rv")), tableSuffix = "_ckio")
    val env = Env(spark, scripts = Map("dedup.yaml" ->
      "- $deduplicate:\n    expression: \"$_id\"\n    cacheWindow: 60000\n"))
    val forks =
      try {
        // the first data batch of a transformWithState store forces a
        // state snapshot (its column families are new), uploaded through
        // the FileSystem API; the census covers the triggers after it
        stage(0)
        val streams = new AppRunner(spark, io, env).run(appYaml)
        io.start("ckio-counter-reply", streams("ckio-counter-reply"))
        io.processAll()
        processStarts {
          // one file per topic and trigger (maxFilesPerTrigger 1)
          (1 to 3).foreach(stage)
          io.processAll()
        }
      } finally io.stopAll()
    val replies = spark.table("ckio_counter_reply_ckio").count()
    assert(replies == 3, s"replies $replies: c0 once (deduplicated), c2, c3")
    assert(spark.table("jout_ckio").count() == 4)
    io.queries.values.foreach { q =>
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4, q.name)
    }
    // the state store's background maintenance (snapshot uploads through
    // the FileSystem API, for any store in this JVM) runs on its own
    // schedule, not in a trigger
    val forking = forks.filter { case (cmd, on) =>
      val exe = cmd.trim.split("\\s+").head
      Set("chmod", "readlink")(exe.substring(exe.lastIndexOf('/') + 1)) &&
        !on.contains("state-store-maintenance") &&
        !on.contains(".doMaintenance")
    }
    assert(forking.isEmpty, s"${forking.size} chmod/readlink starts, " +
      forking.take(1).map { case (c, on) => s"the first: $c\n  on $on" })
  }
}
