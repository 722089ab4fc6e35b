package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Kafka-backed Io (docs/streams.md:47-52): messages are (key, value)
  * pairs; `parse` optionally turns the JSON value into typed columns when
  * the application declares a schema for the topic. Mirrors the
  * reference's JsonDeserializer transport (KafkaProvider.java:74-77).
  */
final class KafkaIo(bootstrap: String,
    schemas: Map[String, StructType] = Map.empty,
    checkpointRoot: String = "/tmp/graft-checkpoints",
    /** `fromCollection` sources read `<prefix><collection>` CDC topics
      * (Debezium envelopes) and unwrap them — see Cdc.unwrap. Kafka
      * offsets + the checkpoint replace Mongo resume tokens.
      */
    cdcTopicPrefix: String = "cdc.") extends Io {

  def source(spark: SparkSession, kind: String, name: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val topic = if (kind == "collection") s"$cdcTopicPrefix$name" else name
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
    // $throttle admission: cap the rows admitted per micro-batch; the
    // sink's 1 s trigger turns the cap into a rate (maxPerSecond)
    val raw = options.get("maxPerSecond")
      .fold(reader)(r => reader.option("maxOffsetsPerTrigger", r))
      .load()
      // wire decode (docs/serialisation.md:3): gunzip → CBOR → JSON,
      // falling back to the UTF-8 string reading — a topic written by
      // an existing json-streams deployment (gzip-CBOR values) and one
      // written as plain JSON strings both read row by row
      .select(col("key").cast("string"),
        KafkaIo.wireDecode(col("value")).as("__raw"),
        // per-partition offset = the arrival order guarantee aggregates
        // reduce in (survives the groupByKey shuffle as __ord)
        col("offset").as("__ord"))
    val messages =
      if (kind == "collection")
        Cdc.unwrap(raw.withColumnRenamed("__raw", "value"))
          .withColumnRenamed("value", "__raw")
      else raw
    schemas.get(name) match {
      case Some(schema) =>
        val typed = messages
          .select(col("key"), from_json(col("__raw"), schema).as("v"),
            col("__ord"), col("__raw"))
        // CDC sources must not lose delete markers: the user schema has
        // no `_deleted` column, so from_json silently drops it and a
        // delete envelope would become a phantom all-null document that
        // UPSERTS over the real one downstream — carry the marker as an
        // explicit nullable column
        if (kind == "collection")
          typed.select(col("key"), col("v.*"),
            get_json_object(col("__raw"), "$._deleted").cast("boolean")
              .as("_deleted"),
            col("__ord"))
        else typed.select(col("key"), col("v.*"), col("__ord"))
      case None => messages.withColumnRenamed("__raw", "value")
    }
  }

  // several parts may sink one topic (reference app3/app11): each query
  // needs its own checkpoint directory or the offset logs collide. The
  // directory is derived from the STABLE (part, sink) identity — never
  // from start order, which would reassign offset logs across restarts
  // when a part is added/removed/reordered (silent loss or duplication).
  // The counter is only a fallback for callers with no part identity.
  private val sinkSeq = new java.util.concurrent.atomic.AtomicInteger

  def sink(kind: String, name: String, df: DataFrame,
      asString: Boolean, partId: String = "",
      options: Map[String, String] = Map.empty): Unit = {
    val sanitize = (s: String) => s.replaceAll("[^A-Za-z0-9._-]", "_")
    val ckpt =
      if (partId.nonEmpty)
        s"$checkpointRoot/${sanitize(partId)}-$kind-${sanitize(name)}"
      else s"$checkpointRoot/${sanitize(name)}-${sinkSeq.incrementAndGet()}"
    // rows stamped by $delay redeliver onto their _topic after the
    // duration (or at their event-time deliverAt) instead of going to
    // the part's sink topic. `delayBranch` (AppRunner) narrows this call
    // to ONE of the queries: a part whose pipeline also has a
    // transformWithState stage must not start several queries over one
    // compiled plan (the embedded StatefulProcessor instance races its
    // per-start init) — the runner calls once per branch with a fresh
    // compile. Absent (direct Io users), all branches start from this df.
    val branch = options.get("delayBranch")
    if (branch.forall(_ == "immediate")) {
      val now =
        if (DelayedDelivery.hasDelay(df)) DelayedDelivery.immediate(df)
        else df
      // the value leaves as gzip-CBOR (the reference wire format)
      // unless the part set `toString` — then the JSON text goes as-is
      val shaped = toKafkaShape(now, asString)
      val out =
        if (asString) shaped
        else shaped.withColumn("value",
          KafkaIo.wireEncode(col("value")))
      val writer = out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", name)
        .option("checkpointLocation", ckpt)
      // paced trigger: with maxOffsetsPerTrigger at the source this makes
      // the admission cap an actual msgs/second rate
      options.get("maxPerSecond")
        .fold(writer)(_ => writer.trigger(
          org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second")))
        .start()
    }
    // engine-native delay: state + timers in the checkpoint (crash-safe),
    // expiry emits the row and the writer produces it immediately
    if (branch.forall(_ == "delay"))
      DelayedDelivery.packedDelayed(df).foreach(d =>
        StatefulOps.delayViaTimers(d).writeStream
          .foreach(new DelayedDelivery.ImmediateWriter(
            new DelayedDelivery.KafkaTransport(bootstrap)))
          .option("checkpointLocation", s"$ckpt-delay")
          .start())
    // event-time deliverAt rows ride watermark timers (replay-
    // deterministic); lateness comes from the stage spec via options
    if (branch.forall(_ == "edelay"))
      DelayedDelivery.packedEventDelayed(df).foreach(d =>
        StatefulOps.delayViaEventTimers(d,
          options.getOrElse("delayLateness", "0").toLong,
          options.get("delayDeadLetter")).writeStream
          .foreach(new DelayedDelivery.ImmediateWriter(
            new DelayedDelivery.KafkaTransport(bootstrap)))
          .option("checkpointLocation", s"$ckpt-edelay")
          .start())
  }

  /** Kafka sink shape: key from `_key`/`key`/`_id`, value = JSON of the
    * rest; `$send`'s per-row `_topic` column is honored natively by the
    * sink. Schemaless message frames (the value IS the JSON text already)
    * pass their value through — re-serializing would double-encode.
    */
  private[graft] def toKafkaShape(df: DataFrame,
      asString: Boolean): DataFrame = {
    val routing =
      Set("key", "_key", "_topic", "_delay_ms", "_deliver_at", "__ord")
    val isMessage = df.columns.contains("value") &&
      df.schema("value").dataType == org.apache.spark.sql.types.StringType &&
      df.columns.forall(c => c == "value" || routing.contains(c))
    val keyCol =
      if (df.columns.contains("_key")) col("_key")
      else if (df.columns.contains("key")) col("key")
      else if (df.columns.contains("_id")) col("_id").cast("string")
      else lit(null).cast("string")
    // `key` on a typed frame is the TRANSPORT key this source
    // materialized (a declared schema with its own `key` field would
    // already collide at the source select) — routing metadata, not a
    // document field: serializing it into the value JSON would pollute
    // every output document
    val payloadCols = df.columns.filterNot(
      Set("_key", "key", "_topic", "_delay_ms", "_deliver_at", "__ord"))
    val value =
      if (isMessage) col("value")
      else to_json(struct(payloadCols.map(col): _*))
    val cols = Seq(keyCol.as("key"), value.as("value")) ++
      (if (df.columns.contains("_topic")) Seq(col("_topic").as("topic"))
      else Nil)
    df.select(cols: _*)
  }
}

object KafkaIo {
  import org.apache.spark.sql.functions.udf

  /** Wire codec boundary (like the PPM/WAV codecs): per-row byte work no
    * built-in expresses, so a Scala UDF is the honest shape — one narrow
    * map at the transport edge, never in a relational hot path.
    */
  private[graft] val wireDecode =
    udf((b: Array[Byte]) => graft.json.Wire.consume(b))
  private[graft] val wireEncode =
    udf((s: String) => graft.json.Wire.produce(s, asString = false))
}

/** Test Io over file streams + memory sinks: the golden-folder convention
  * (docs/testing.md:12) — feed messages as JSON files per topic dir,
  * observe outputs in named in-memory tables.
  *
  * Each micro-batch re-lists the files it reads, and above 32 paths that
  * listing is a Spark job with one task per file by default, so `source`
  * caps its parallelism at the session's core count (unless the user set
  * it): a catch-up batch of hundreds of files then schedules one listing
  * task per core, not per file, and still lists in parallel at scale.
  */
final class FileStreamIo(root: String, schemas: Map[String, StructType],
    /** appended to memory-table names: lets several harness runs (and
      * several parts writing one topic) coexist in one SparkSession
      */
    tableSuffix: String = "",
    /** 1 = one file per micro-batch (arrival-order simulation). Join-app
      * harness runs raise it so all fixture messages share one batch —
      * ingestion timestamps then land inside the join window regardless
      * of machine load.
      */
    maxFilesPerTrigger: Int = 1) extends Io {
  var queries = Map.empty[String, StreamingQuery]
  /** memory tables per sink name, in start order */
  var tables = Map.empty[String, Seq[String]]

  def source(spark: SparkSession, kind: String, name: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    capListingParallelism(spark)
    // $throttle admission in the file harness: files stand in for
    // messages, so the per-second cap maps to maxFilesPerTrigger
    val filesPerTrigger = options.get("maxPerSecond")
      .map(_.toLong.max(1L).toString)
      .getOrElse(maxFilesPerTrigger.toString)
    // arrival order must survive the groupByKey shuffle (files may land in
    // separate partitions): derive __ord from the file name's digits —
    // the harness writes m0000.json, m0001.json, ... (KafkaIo uses the
    // partition offset for the same purpose)
    // null-safe: a file without a digit suffix still needs a Long __ord
    // (AggregatePart's encoder is non-nullable)
    val ord = coalesce(
      regexp_extract(input_file_name(), "(\\d+)\\.json$", 1).cast("long"),
      lit(0L)).as("__ord")
    schemas.get(name) match {
      case Some(schema) =>
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger)
          .json(s"$root/$name")
          .withColumn("__ord", ord)
      case None => // schemaless: (key, value) JSON-string messages
        spark.readStream
          .option("maxFilesPerTrigger", filesPerTrigger)
          .text(s"$root/$name")
          .select(
            get_json_object(col("value"), "$._id").as("key"),
            col("value"), ord)
    }
  }

  /** `FileStreamSource.getBatch` re-lists with `min(files, parallelism)`
    * tasks past the 32-path threshold (default parallelism 10000). Set
    * before each query starts, so the query's cloned session copies it;
    * a user's value is kept, as `StatefulOps.streamingDefaults` keeps an
    * explicit state store.
    */
  private def capListingParallelism(spark: SparkSession): Unit = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    // getAll holds the explicitly set entries only; get(key, "") would
    // throw a type mismatch on this int entry
    if (!spark.conf.getAll.contains(key))
      spark.conf.set(key, spark.sparkContext.defaultParallelism.toLong)
  }

  def sink(kind: String, name: String, df: DataFrame,
      asString: Boolean, partId: String = "",
      options: Map[String, String] = Map.empty): Unit =
    if (df.isStreaming && DelayedDelivery.hasDelay(df)) {
      // `delayBranch` narrows to one query per call (fresh plan per
      // branch — see the Kafka sink's note on the shared-processor race)
      val branch = options.get("delayBranch")
      if (branch.forall(_ == "immediate"))
        start(name, DelayedDelivery.immediate(df))
      // redelivery loops through the topic's source directory: the
      // delayed message becomes a new input file after its duration
      if (branch.forall(_ == "delay"))
        DelayedDelivery.packedDelayed(df).foreach { packed =>
          val delayed = StatefulOps.delayViaTimers(packed)
          val q = delayed.writeStream
            .foreach(new DelayedDelivery.ImmediateWriter(
              new DelayedDelivery.FileTransport(root)))
            .start()
          track(delayed, q)
          queries += s"$name#delay" -> q
        }
      // event-time deliverAt rows: watermark timers, data-driven delivery
      if (branch.forall(_ == "edelay"))
        DelayedDelivery.packedEventDelayed(df).foreach { packed =>
          val delayed = StatefulOps.delayViaEventTimers(packed,
            options.getOrElse("delayLateness", "0").toLong,
            options.get("delayDeadLetter"))
          val q = delayed.writeStream
            .foreach(new DelayedDelivery.ImmediateWriter(
              new DelayedDelivery.FileTransport(root)))
            .start()
          track(delayed, q)
          queries += s"$name#edelay" -> q
        }
    } else start(name, df)

  /** Queries with processing-time timers/TTL never latch
    * `processAllAvailable` — drain them with StatefulOps.awaitQuiesced.
    */
  private var timerQueries = Set.empty[java.util.UUID]

  private def track(df: DataFrame, q: StreamingQuery): StreamingQuery = {
    if (StatefulOps.usesProcessingTimers(df)) timerQueries += q.id
    q
  }

  def start(name: String, df: DataFrame): StreamingQuery = {
    val prior = tables.getOrElse(name, Nil)
    val table = name.replaceAll("[^A-Za-z0-9_]", "_") + tableSuffix +
      (if (prior.isEmpty) "" else s"_${prior.size + 1}")
    // aggregating parts ($group/$bucket/$count) need update mode — the
    // reference emits INCREMENTAL aggregation results per message
    // (docs/aggregation_stages.md:37); update-per-micro-batch is the Spark
    // equivalent (golden asserts are lenient-subset for this reason)
    def startWith(mode: String) = df.writeStream
      .format("memory")
      .queryName(table)
      .outputMode(mode)
      .start()
    val q =
      try startWith("append")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("streaming aggregations") =>
          startWith("update")
      }
    track(df, q)
    queries += table -> q
    tables += name -> (prior :+ table)
    q
  }

  def processAll(): Unit = queries.values.foreach { q =>
    if (timerQueries.contains(q.id)) StatefulOps.awaitQuiesced(q)
    else q.processAllAvailable()
  }
  def stopAll(): Unit = queries.values.foreach(_.stop())
}
