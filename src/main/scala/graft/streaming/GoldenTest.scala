package graft.streaming

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.json.Js
import graft.op.Env
import scala.jdk.CollectionConverters._

/** The reference's golden-file test harness rebuilt on Spark
  * (docs/testing.md, Test.java:429-512): an application directory holds
  * `application.yaml` plus a `test/` tree —
  *
  * {{{
  * test/topics/from/<topic>/        input messages (filename order)
  * test/topics/to/<topic>/          expected output messages
  * test/collections/from/<coll>/    CDC-source collection inserts
  * test/collections/to/<coll>/      expected sink-collection docs
  * test/preload/<coll>/             $lookup target seeds
  * }}}
  *
  * Comparison strips `_timestamp` (Test.java:264-276), sorts both sides by
  * (_id, zero-padded _seq, _corr, hash) (Test.java:212-217) and asserts
  * lenient (expected subset-of actual, TestAsserters.java:20-40) or strict
  * list equality.
  */
object GoldenTest {

  final case class Result(topic: String, ok: Boolean, detail: String)

  /** File-backed fixture object store for the s3* apps: GETs read
    * `objects/<bucket>/<key>` under the app dir; PUTs are accepted and
    * dropped (goldens assert topic outputs, not store contents).
    */
  final case class DirObjectStore(base: String) extends graft.op.ObjectStore {
    def get(bucket: String, key: String): String =
      Files.readString(Paths.get(base, bucket, key))
    def put(bucket: String, key: String, content: String): Unit = ()
  }

  /** 200-stub transport for fixture apps that POST (s3attachments). */
  object OkHttp extends graft.op.HttpTransport {
    def apply(m: String, u: String, h: String,
        b: String): graft.op.HttpResult = graft.op.HttpResult(200, "{}")
  }

  def run(spark: SparkSession, appDir: String, strict: Boolean = false,
      config: Map[String, String] = Map.empty): Seq[Result] = {
    val dir = Paths.get(appDir)
    val appFile = Seq("application.yaml", "application.yml",
      "application.json")
      .map(dir.resolve).find(Files.exists(_))
      .getOrElse(throw new IllegalArgumentException(s"no application in $appDir"))

    val scripts: String => String = name => {
      val p = dir.resolve(name).normalize()
      Files.readString(p)
    }

    // sources: topic + collection feeds as schemaless (key, value) frames
    def readDir(p: Path): Seq[String] =
      if (!Files.exists(p)) Nil
      else Files.list(p).iterator().asScala.toSeq
        .sortBy(_.getFileName.toString)
        .map(f => Js.render(Js.parse(Files.readString(f))))

    // typed inference over the fixture docs: the full relational stage set
    // applies; the schemaless (key, value) mode is exercised separately.
    // The original text rides along as __raw: schema inference sorts
    // fields alphabetically, but aggregate reducers/diffs must see the
    // document's own field order (AggregatePart prefers __raw).
    def messageDf(docs: Seq[String]): DataFrame = {
      import spark.implicits._
      val schema = spark.read.json(docs.toDS).schema
      docs.toDF("__raw")
        .select(from_json(col("__raw"), schema).as("__v"), col("__raw"))
        .select(col("__v.*"), col("__raw"))
    }

    val topicSources = subdirs(dir.resolve("test/topics/from"))
      .map(t => t -> readDir(dir.resolve(s"test/topics/from/$t"))).toMap
    val collSources = subdirs(dir.resolve("test/collections/from"))
      .map(t => t -> readDir(dir.resolve(s"test/collections/from/$t"))).toMap
    val preloads = subdirs(dir.resolve("test/preload"))
      .map(t => t -> readDir(dir.resolve(s"test/preload/$t"))).toMap

    // multiple parts may write the same topic/collection (reference
    // app3/app11): sink frames accumulate and union at collect time
    var sinks = Map.empty[String, Seq[DataFrame]]
    val io = new Io {
      def source(spark: SparkSession, kind: String, name: String,
          options: Map[String, String] = Map.empty): DataFrame =
        kind match {
          case "topic" => messageDf(topicSources.getOrElse(name, Nil))
          case _       => messageDf(collSources.getOrElse(name, Nil))
        }
      def sink(kind: String, name: String, df: DataFrame,
          asString: Boolean, partId: String = "",
          options: Map[String, String] = Map.empty): Unit =
        sinks += name -> (sinks.getOrElse(name, Nil) :+ df)
    }
    // fixture eTags repeat across harness runs in one JVM — resumable
    // $s3Csv state must not leak between runs
    graft.op.S3Csv.resume.clear()
    val env = Env(spark,
      collection = name => {
        // preloaded $lookup targets get a typed frame inferred from the docs
        import spark.implicits._
        spark.read.json(preloads(name).toDS)
      },
      scripts = scripts,
      store = DirObjectStore(dir.resolve("objects").toString),
      http = OkHttp)

    val streams =
      new AppRunner(spark, io, env, config).run(Files.readString(appFile))

    // The reference's test harness watches the collection CHANGE STREAM
    // (Test.java:514-519), so collection actuals are every written doc,
    // exactly like topic actuals — no final-state dedupe here.
    def collectOut(name: String): Seq[JsonNode] = {
      val frames = sinks.get(name)
        .orElse(streams.get(name).map(Seq(_)))
        .getOrElse(return Nil)
      frames.flatMap { df =>
        if (df.columns.toSet == Set("key", "value") ||
          df.columns.toSet == Set("_key", "value"))
          df.select("value").collect().map(r => Js.parse(r.getString(0))).toSeq
        else df.toJSON.collect().map(Js.parse).toSeq
      }
    }

    val expectations =
      subdirs(dir.resolve("test/topics/to")).map(t =>
        t -> readDir(dir.resolve(s"test/topics/to/$t"))) ++
        subdirs(dir.resolve("test/collections/to")).map(t =>
          t -> readDir(dir.resolve(s"test/collections/to/$t")))

    expectations.map { case (topic, expectedRaw) =>
      compare(topic, expectedRaw, collectOut(topic), strict)
    }
  }

  /** Run an application under REAL Structured Streaming: inputs feed
    * through file-stream sources one file per micro-batch (arrival order),
    * sinks are memory tables — the engine path a Kafka deployment
    * exercises, minus the broker. Topic-shaped apps only (collection
    * sources are file-backed CDC stand-ins tested in batch mode).
    */
  def runStreaming(spark: SparkSession, appDir: String,
      config: Map[String, String] = Map.empty,
      /** feed raw (key, value) messages instead of schema-inferred typed
        * frames — the reference's native model; aggregates need it so
        * reducers/diffs see document field order
        */
      schemaless: Boolean = false): Seq[Result] = {
    val dir = Paths.get(appDir)
    val appFile = Seq("application.yaml", "application.yml",
      "application.json")
      .map(dir.resolve).find(Files.exists(_))
      .getOrElse(throw new IllegalArgumentException(s"no application in $appDir"))
    val scripts: String => String = name =>
      Files.readString(dir.resolve(name).normalize())

    def readDir(p: Path): Seq[String] =
      if (!Files.exists(p)) Nil
      else Files.list(p).iterator().asScala.toSeq
        .sortBy(_.getFileName.toString)
        .map(f => Js.render(Js.parse(Files.readString(f))))

    // collections feed through the same file-stream transport (the CDC
    // bridge is the production path; change-stream compare semantics are
    // identical either way)
    val sources =
      subdirs(dir.resolve("test/topics/from"))
        .map(t => t -> s"test/topics/from/$t") ++
        subdirs(dir.resolve("test/collections/from"))
          .map(c => c -> s"test/collections/from/$c")
    val root = Files.createTempDirectory("graft-golden-stream").toString
    import spark.implicits._
    val ioSchemas = sources.flatMap { case (t, path) =>
      val docs = readDir(dir.resolve(path))
      docs.zipWithIndex.foreach { case (d, i) =>
        Files.createDirectories(Paths.get(s"$root/$t"))
        Files.writeString(Paths.get(f"$root/$t/m$i%04d.json"), d)
      }
      // schemaless mode skips inference entirely (only the files matter)
      if (schemaless) None else Some(t -> spark.read.json(docs.toDS).schema)
    }.toMap
    val preloads = subdirs(dir.resolve("test/preload"))
      .map(t => t -> readDir(dir.resolve(s"test/preload/$t"))).toMap

    val io = new FileStreamIo(root, ioSchemas,
      tableSuffix = "_g" + java.util.UUID.randomUUID().toString.take(8),
      maxFilesPerTrigger = 10000)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    try {
      graft.op.S3Csv.resume.clear()
      val env = graft.op.Env(spark,
        collection = name => spark.read.json(preloads(name).toDS),
        scripts = scripts,
        store = DirObjectStore(dir.resolve("objects").toString),
        http = OkHttp)
      val streams =
        // verbatim reference apps rely on the reference's infinite default
        // join window (App.java:693) — the harness opts in engine-wide so
        // fixtures stay byte-identical; production specs must say it
        new AppRunner(spark, io, env,
          Map("allowUnboundedJoinState" -> "true") ++ config,
          hrefResolver = Some(HrefStore.Resolver(runId)))
          .run(Files.readString(appFile))
      // streaming {href} resolution (app36): when any fixture script uses
      // refs, drain the aggregate purpose streams into the run's
      // HrefStore FIRST — the streaming analog of the batch harness's
      // pass-1 final-state collect; the assertion queries then reduce
      // with every referenced state resolvable
      def anyFileContains(base: Path, needle: String): Boolean = {
        val walk = Files.walk(base)
        try walk.iterator().asScala.exists(p =>
          Files.isRegularFile(p) && Files.readString(p).contains(needle))
        finally walk.close()
      }
      // refs can come from input DATA or be CONSTRUCTED by reducer
      // scripts — scan both the staged inputs and the app directory
      val usesHrefs = anyFileContains(Paths.get(root), "\"href\"") ||
        anyFileContains(dir, "href")
      if (usesHrefs) {
        val updaters = streams.toSeq.collect {
          // contains, not endsWith: purpose streams of a part with an
          // `environment` carry a suffix (<type>-aggregate-<env>)
          case (n, df) if n.contains("-aggregate") =>
            (df.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
              // publish from the executors, like AppRunner's batch path
              batch.select("key", "value").foreachPartition {
                (it: Iterator[org.apache.spark.sql.Row]) =>
                  it.foreach { r =>
                    val v = r.getString(1)
                    HrefStore.put(runId, r.getString(0),
                      HrefStore.seqOf(v), v)
                  }
              }
            }.queryName(s"href-updater-$runId-$n").start(),
              StatefulOps.usesProcessingTimers(df))
        }
        updaters.foreach { case (q, timers) =>
          if (timers) StatefulOps.awaitQuiesced(q)
          else q.processAllAvailable()
        }
        updaters.foreach(_._1.stop())
      }
      // aggregate purpose streams are exposed as named streams rather
      // than part sinks — start a query for each expected one
      (subdirs(dir.resolve("test/topics/to")) ++
        subdirs(dir.resolve("test/collections/to"))).foreach { t =>
        if (!io.tables.contains(t))
          streams.get(t).foreach(df => io.start(t, df))
      }
      io.processAll()
      val expected =
        subdirs(dir.resolve("test/topics/to"))
          .map(t => t -> s"test/topics/to/$t") ++
          subdirs(dir.resolve("test/collections/to"))
            .map(c => c -> s"test/collections/to/$c")
      expected.map { case (t, path) =>
        val actual = io.tables.getOrElse(t, Nil)
          .flatMap { tbl =>
            val df = spark.table(tbl)
            if (df.columns.toSet == Set("key", "value") ||
              df.columns.toSet == Set("_key", "value"))
              df.select("value").collect().map(_.getString(0)).toSeq
            else df.toJSON.collect().toSeq
          }
          .map(Js.parse)
        compare(t, readDir(dir.resolve(path)), actual, strict = false)
      }
    } finally { io.stopAll(); HrefStore.clear(runId) }
  }

  private[graft] def compare(topic: String, expectedRaw: Seq[String],
      actualRaw: Seq[JsonNode], strict: Boolean): Result = {
    val expected = expectedRaw.map(s => normalize(Js.parse(s)))
    val actual = actualRaw.map(normalize)
    val sortedE = expected.sortBy(sortKey)
    val sortedA = actual.sortBy(sortKey)
    val ok =
      if (strict) sortedE == sortedA
      else sortedE.forall(e => sortedA.exists(a => matches(e, a)))
    Result(topic, ok,
      if (ok) s"${actual.size} messages"
      else s"expected ${Js.render(toArr(sortedE))} got ${Js.render(toArr(sortedA))}")
  }

  private def subdirs(p: Path): Seq[String] =
    if (!Files.exists(p)) Nil
    else Files.list(p).iterator().asScala.toSeq
      .filter(Files.isDirectory(_)).map(_.getFileName.toString)

  /** Strip volatile fields recursively (Test.java:264-276); `__raw` is
    * this harness's order-preserving carrier, never part of the payload.
    */
  private def normalize(n: JsonNode): JsonNode = n match {
    case o: ObjectNode =>
      val c = o.deepCopy[ObjectNode]()
      c.remove("_timestamp")
      c.remove("__raw")
      c.remove("__ord")
      Js.fields(c).foreach { case (k, v) => c.set[JsonNode](k, normalize(v)) }
      c
    case other => other
  }

  /** The reference's lenient element match (TestAsserters.java:53-93):
    * expected null matches anything; objects match when every expected
    * field recursively matches the actual one (extra actual fields are
    * fine); arrays match index-wise with actual allowed to be longer.
    */
  private def matches(expected: JsonNode, actual: JsonNode): Boolean =
    if (expected == null || expected.isNull) true
    else if (actual == null || actual.isNull) false
    else if (expected.isValueNode) expected == actual
    else if (expected.isObject)
      actual.isObject && Js.fields(expected).forall { case (k, v) =>
        actual.has(k) && matches(v, actual.get(k))
      }
    else if (expected.isArray)
      actual.isArray && expected.size() <= actual.size() &&
        (0 until expected.size()).forall(i =>
          matches(expected.get(i), actual.get(i)))
    else true

  private def sortKey(n: JsonNode): String = {
    def f(name: String) =
      Option(n.get(name)).map(_.asText()).getOrElse("")
    val seq = Option(n.get("_seq")).map(s => f"${s.asLong()}%020d").getOrElse("")
    s"${f("_id")}|$seq|${f("_corr")}|${n.hashCode()}"
  }

  private def toArr(ns: Seq[JsonNode]) = {
    val a = Js.arr(); ns.foreach(a.add); a
  }
}
