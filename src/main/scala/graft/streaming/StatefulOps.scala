package graft.streaming

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import graft.json.Js

/** Arbitrary-state streaming operators on Spark 4's `transformWithState`:
  * native per-key processing-time timers and TTL state in the RocksDB
  * state store, replacing the `flatMapGroupsWithState` timeouts and the
  * in-JVM timer pool the round-5 engine used.
  *
  *  - `$deduplicate` keeps one TTL'd value per dedup key — `cacheWindow`
  *    (docs/aggregation_stages.md:104) becomes real state TTL, so the
  *    store expires entries by wall clock exactly like the reference's
  *    cache, instead of riding an ingestion-time watermark.
  *  - `$per` buffers the partial batch in `ListState` and flushes it from
  *    a native timer.
  *  - `$delay` parks each stamped row in keyed state with a timer at
  *    now+delay: the delayed redelivery now lives in the CHECKPOINT, so a
  *    crash mid-delay redelivers after restart — operationally stronger
  *    than the reference's in-memory scheduled re-produce, which its docs
  *    flag as lossy (docs/aggregation_stages.md:118-159).
  */
object StatefulOps {

  /** The `$deduplicateNear` per-band signature-log cap's single source
    * of truth — referenced by the stage parser (`op.Stages`) and both
    * parameter defaults (`deduplicateNear`, `NearBandProcessor`) so a
    * spec default and a processor default can never silently drift apart.
    */
  val DefaultMaxPerBand: Int = 4096

  /** The streaming session defaults, each set only where the user has
    * not set the key EXPLICITLY — an explicit choice is respected (an
    * incompatible one fails with Spark's own error, rather than us
    * silently flipping a setting under checkpoints written with it):
    *
    *  - state store provider: RocksDB. `transformWithState` needs a
    *    multi-column-family store (also the right call at 100 TB:
    *    off-heap state, incremental checkpoints);
    *  - RocksDB changelog checkpointing: a state commit uploads one
    *    changelog file instead of the store's new SST files, which a
    *    background snapshot uploads later;
    *  - `fs.AbstractFileSystem.file.impl`: [[NioLocalFs]], but only in
    *    place of Hadoop's stock `LocalFs`. A `file:` checkpoint's offset,
    *    commit and source logs and state commits then create and rename
    *    without forking a `chmod` or `readlink` per file. A value in the
    *    session or in the context's Hadoop configuration (`spark.hadoop.*`)
    *    is the user's and is kept.
    *
    * `AppRunner.run` calls this once at entry, so every query of a run
    * uses ONE provider regardless of which parts use timers and in what
    * order they compile — a mid-run flip would strand earlier queries'
    * checkpoints on a different state format than a restart would pick.
    */
  def streamingDefaults(spark: SparkSession): Unit = {
    // getAll holds the explicitly set entries only
    val explicit = spark.conf.getAll
    def setUnlessExplicit(key: String, value: String): Unit =
      if (!explicit.contains(key)) spark.conf.set(key, value)
    setUnlessExplicit("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    setUnlessExplicit(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // the context's value counts as unset only while it is Hadoop's own
    // default, read from core-default.xml
    val fsKey = "fs.AbstractFileSystem.file.impl"
    val hadoop = spark.sparkContext.hadoopConfiguration
    if (hadoop.get(fsKey) == NioLocalFs.StockImpl &&
        Option(hadoop.getPropertySources(fsKey))
          .forall(_.forall(_ == "core-default.xml")))
      setUnlessExplicit(fsKey, classOf[NioLocalFs].getName)
  }

  /** Does this plan contain a processing-time transformWithState stage?
    * Such queries NEVER latch `processAllAvailable`'s no-new-data flag —
    * the engine keeps running micro-batches to evaluate timers/TTL — so
    * drain-style callers must use `awaitQuiesced` on them instead.
    */
  def usesProcessingTimers(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case t: org.apache.spark.sql.catalyst.plans.logical.TransformWithState
          if t.timeMode == TimeMode.ProcessingTime() => t
      // an aggregate part with `stateExpiry` (snapshot TTL) keeps
      // triggering batches for its group timeouts the same way
      case f: org.apache.spark.sql.catalyst.plans.logical
          .FlatMapGroupsWithState
          if f.timeout == org.apache.spark.sql.streaming.GroupStateTimeout
            .ProcessingTimeTimeout => f
    }.isDefined

  /** Drain a timer-driven query: two consecutive empty micro-batches ⇒
    * the sources are caught up (batches run continuously, so this
    * converges within a couple of batch intervals).
    */
  def awaitQuiesced(q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long = 60000): Unit = {
    var empties = 0
    var lastBatch = -1L
    val deadline = System.currentTimeMillis() + timeoutMs
    while (empties < 2 && q.isActive &&
        System.currentTimeMillis() < deadline) {
      val p = q.lastProgress
      if (p != null && p.batchId != lastBatch) {
        lastBatch = p.batchId
        if (p.numInputRows == 0) empties += 1 else empties = 0
      }
      Thread.sleep(25)
    }
  }

  /** Streaming `$deduplicate`: first row per key passes, the rest drop
    * while the key's state entry lives. "First" is by arrival: the
    * transport `__ord` when the frame carries one (copies sharing an
    * `__ord` keep any one of them). Schema-preserving: rows ride
    * through a JSON pack/unpack around the stateful shuffle.
    */
  def deduplicate(df: DataFrame, key: Column,
      cacheWindowMs: Option[Long]): DataFrame = {
    val spark = df.sparkSession
    streamingDefaults(spark)
    import spark.implicits._
    val schema = df.schema
    val ord =
      if (df.columns.contains("__ord"))
        coalesce(col("__ord").cast("long"), lit(0L))
      else lit(0L)
    val out = df
      .select(key.cast("string").as("__k"), ord.as("__o"),
        to_json(struct(df.columns.map(col): _*)).as("__row"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new DedupProcessor(cacheWindowMs),
        // TTL state is wall-clock based and needs ProcessingTime mode
        if (cacheWindowMs.isDefined) TimeMode.ProcessingTime()
        else TimeMode.None(),
        OutputMode.Append())
    out.toDF("__row")
      .select(from_json(col("__row"), schema).as("__r"))
      .select("__r.*")
  }

  /** Stream–stream `join` part as ONE keyed `transformWithState`
    * operator (see [[JoinProcessor]]). Each side is `(key: string,
    * payload, event time)` — the payload any type (a document struct, or
    * message JSON text). With a `windowMs` each side gets its own watermark
    * before the union, so the query's watermark stays the min of the
    * two, and rows behind it drop on input like any event-time operator;
    * without one (the `allowUnboundedJoinState` opt-in) both buffers
    * grow forever and nothing is suppressed. Output: the left key, then
    * both payloads, under the sides' own column names and types.
    *
    * One operator instead of Spark's symmetric hash join plus a
    * `dropDuplicatesWithinWatermark` behind it: one multi-column-family
    * store per partition instead of five, one shuffle instead of two,
    * and no per-plan-copy broadcast in the join exec's constructor — a
    * micro-batch's fixed cost, which is what bounds join latency.
    */
  def windowJoin(left: DataFrame, right: DataFrame,
      windowMs: Option[Long]): DataFrame = {
    val spark = left.sparkSession
    streamingDefaults(spark)
    val types = Seq(left, right).map(_.schema(1).dataType)
    def packed(df: DataFrame, side: Int): DataFrame = {
      val Array(k, p, ts) = df.columns
      val wm = windowMs.fold(df)(w => df.withWatermark(ts, s"$w milliseconds"))
      // the pair identity of the duplicate suppression: a side's payload
      // hash, computed once per input row (transport metadata is not in
      // the payload, so a replayed message hashes alike)
      val h =
        if (windowMs.isEmpty) lit("")
        else sha2(to_json(struct(col(p).as("p"))), 256)
      wm.select(col(k).as("k"), lit(side).as("side"),
        (if (side == 0) col(p) else lit(null).cast(types(0))).as("l"),
        (if (side == 1) col(p) else lit(null).cast(types(1))).as("r"),
        unix_micros(col(ts)).as("us"), h.as("h"), col(ts).as("ts"))
    }
    val out = StructType(Seq(StructField(left.columns(0), StringType, false),
      StructField(left.columns(1), types(0)),
      StructField(right.columns(1), types(1))))
    packed(left, 0).union(packed(right, 1))
      .groupByKey((r: Row) => r.getString(0))(Encoders.STRING)
      .transformWithState(new JoinProcessor(windowMs, types(0), types(1)),
        if (windowMs.isDefined) TimeMode.EventTime() else TimeMode.None(),
        OutputMode.Append())(Encoders.row(out))
  }

  /** 64-bit SimHash of a text column, per row (the same majority formula
    * and md5-two-halves bit layout as `graft.ml.Dedup.simhash`, which
    * aggregates over exploded tokens; here the tokens stay in-row —
    * messages are small). Null/empty text hashes to 0, so two empty
    * messages count as near (distance 0).
    *
    * Interpreted-HOF shape matters here (HOFs never codegen): the token
    * hashes accumulate into a 65-slot count array in ONE `aggregate`
    * pass (md5 runs twice per token, for the two 32-bit halves), and the
    * count array binds once through the `transform(array(x), v => ...)`
    * let-idiom — re-referencing an expression re-evaluates it in the
    * interpreted evaluator, so the old per-bit `filter` formulation paid
    * the md5 work once per OUTPUT bit, not once per token.
    */
  private[graft] def simhash64(text: Column): Column = {
    val toks = split(lower(text.cast("string")), " ")
    // slots 0..63: per-bit majority counts; slot 64: token count
    val counts = aggregate(toks, array_repeat(lit(0L), 65), (acc, t) => {
      val lo = conv(substring(md5(t), 1, 8), 16, 10).cast("long")
      val hi = conv(substring(md5(t), 9, 8), 16, 10).cast("long")
      zip_with(acc, sequence(lit(0), lit(64)), (c, j) =>
        c + when(j === 64, lit(1L))
          .when(j < 32, call_function("shiftright", lo, j) % 2)
          .otherwise(call_function("shiftright", hi, j - 32) % 2))
    })
    // bind counts ONCE; bit 63 is the sign bit and Java shiftleft wraps
    // mod 64, so shiftleft(1, 63) is exactly Long.MinValue — summing
    // distinct powers of two never carries, the sum IS the bit-OR
    val sig = element_at(transform(array(counts), cs =>
      aggregate(zip_with(slice(cs, 1, 64), sequence(lit(0), lit(63)),
        (c, j) => when(c * 2 > element_at(cs, 65),
          call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
        lit(0L), (a, x) => a + x)), 1)
    coalesce(sig, lit(0L))
  }

  /** Streaming NEAR-dedup (`$deduplicateNear` — an engine extension; the
    * reference's `$deduplicate` is exact-by-expression): a message drops
    * when an EARLIER message (transport `__ord` within a batch, batch
    * succession across batches) is within `maxDist` Hamming bits on the
    * 64-bit SimHash of `text`. Store-always banding: every message's
    * signature enters its maxDist+1 band states whether or not the
    * message itself survived — a message's fate depends only on its
    * predecessors, chains resolve deterministically (b near a drops; c
    * near only b still drops), and the batch analog
    * (`Dedup.simhashKeepFirst`, id order standing in for arrival order)
    * is a plain join, oracled as `q_dedup_simhash_keepfirst`.
    *
    * Two stateful hops: (1) rows fan out to their maxDist+1
    * (band index : band value) groups — by pigeonhole any pair within
    * maxDist agrees exactly on one band — where a TTL'd `ListState` of
    * full signatures answers the near test; (2) the per-band verdicts
    * regroup on the row's unique id (all copies travel in the same
    * micro-batch — no cross-batch wait) and the row emits iff no band
    * flagged it. `cacheWindow` is the band-state TTL; without it state
    * grows with the stream (like `$deduplicate`, faithful to an
    * unbounded cache). A task retry may re-append signatures to band
    * state — duplicate signatures change no near verdict, only state
    * volume.
    */
  def deduplicateNear(df: DataFrame, text: Column, maxDist: Int,
      cacheWindowMs: Option[Long],
      /** route dropped near-duplicates to this topic (`_topic` column,
        * honored natively by the sinks like `$send`) instead of losing
        * them — the same dead-letter ethos as late-`$delay` routing
        */
      dupTopic: Option[String] = None,
      /** per-band signature-log cap: each (band index : band value) key
        * keeps at most this many of its MOST RECENT signatures, so a hot
        * band (a flood of exact/near duplicates all landing on one key)
        * cannot grow an unbounded ListState whose linear scan every new
        * arrival pays — the same ethos as `lshCandidates`' hot-band cap.
        * Recall trade: a message can no longer be flagged against a
        * predecessor evicted from the band's window (it is still flagged
        * if ANY of its maxDist+1 bands retains a near predecessor).
        * ≤ 0 disables the cap (faithful unbounded cache).
        */
      maxPerBand: Int = DefaultMaxPerBand): DataFrame = {
    require(maxDist >= 0 && maxDist < 64,
      s"deduplicateNear: maxDist must be in [0, 64), got $maxDist")
    val spark = df.sparkSession
    streamingDefaults(spark)
    import spark.implicits._
    val schema = df.schema
    val ord =
      if (df.columns.contains("__ord")) col("__ord").cast("long")
      else lit(0L)
    // stamp a unique deterministic id per row (same contract as the
    // $delay stamping pass: sorted partition position, so the id is a
    // pure function of the data, not of shuffle-fetch arrival order)
    val stamped = df
      .select(to_json(struct(df.columns.map(col): _*)).as("__row"),
        ord.as("__o"), simhash64(text).as("__sig"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.toVector.sortBy(t => (t._2, t._1)).iterator.zipWithIndex.map {
          case ((row, o, s), i) => (uidOf(Seq(row), pid, i, 0L), row, o, s)
        }
      }.toDF("__id", "__row", "__o", "__sig")
    val flagged = stamped
      .select(col("__id"), col("__row"), col("__o"), col("__sig"),
        explode(array(bandCols(maxDist): _*)).as("__band"))
      .as[(String, String, Long, Long, String)]
      .groupByKey(_._5)
      .transformWithState(
        new NearBandProcessor(maxDist, cacheWindowMs, maxPerBand),
        if (cacheWindowMs.isDefined) TimeMode.ProcessingTime()
        else TimeMode.None(),
        OutputMode.Append())
    val voted = flagged
      .groupByKey(_._1)
      .transformWithState(new NearVoteProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("__row", "__flagged")
      .select(col("__flagged"), from_json(col("__row"), schema).as("__r"))
    routeDups(voted, schema, dupTopic)
  }

  /** The near-dedup band keys of `__sig`: `maxDist + 1` contiguous bit
    * ranges of the 64-bit simhash, each tagged with its band index (two
    * signatures within `maxDist` bits agree on at least one band).
    */
  private def bandCols(maxDist: Int): Seq[Column] = {
    val nBands = maxDist + 1
    val bounds = (0 to nBands).map(i => i * 64 / nBands)
    (0 until nBands).map { i =>
      val off = bounds(i)
      val width = bounds(i + 1) - bounds(i)
      val mask = if (width >= 64) -1L else (1L << width) - 1
      concat_ws(":", lit(i),
        call_function("shiftright", col("__sig"), lit(off))
          .bitwiseAND(lit(mask)))
    }
  }

  /** Shared verdict routing for the near-dedup paths: without a dup
    * topic, flagged rows drop; with one, they survive re-routed via the
    * `_topic` column (an existing `_topic` value is preserved on
    * unflagged rows).
    */
  private def routeDups(voted: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      dupTopic: Option[String]): DataFrame = {
    val unpacked = voted.select(
      col("__flagged") +: schema.fieldNames.map(f => col(s"__r.$f")): _*)
    dupTopic match {
      case None => unpacked.where(!col("__flagged")).drop("__flagged")
      case Some(t) =>
        val existing =
          if (schema.fieldNames.contains("_topic")) col("_topic")
          else lit(null).cast("string")
        unpacked
          .withColumn("_topic",
            when(col("__flagged"), lit(t)).otherwise(existing))
          .drop("__flagged")
    }
  }

  /** Batch analog of [[deduplicateNear]]: the same store-always
    * keep-first rule with (`__ord`, row content) standing in for arrival
    * order. Banded self-join (strictly-earlier near neighbor) plus a
    * per-content window for exact ties (identical rows at the same ord
    * cannot order each other in a join; the window partitions by the
    * row CONTENT, so its partitions are the duplicate-copy counts,
    * never the corpus) — then one anti-join. No serial scan.
    */
  def deduplicateNearBatch(df: DataFrame, text: Column,
      maxDist: Int, dupTopic: Option[String] = None): DataFrame = {
    require(maxDist >= 0 && maxDist < 64,
      s"deduplicateNear: maxDist must be in [0, 64), got $maxDist")
    val schema = df.schema
    val ord =
      if (df.columns.contains("__ord")) col("__ord").cast("long")
      else lit(0L)
    val base = df.select(
      to_json(struct(df.columns.map(col): _*)).as("__row"),
      ord.as("__o"), simhash64(text).as("__sig"))
    import org.apache.spark.sql.expressions.Window
    val copies = base.withColumn("__copy",
      row_number().over(Window.partitionBy("__row").orderBy("__o")))
    val banded = copies
      .select(col("__row"), col("__o"), col("__sig"), col("__copy"),
        explode(array(bandCols(maxDist): _*)).as("__band"))
    val a = banded.select(col("__band"), col("__o").as("__oa"),
      col("__row").as("__ra"), col("__sig").as("__sa"))
    val b = banded.select(col("__band"), col("__o").as("__ob"),
      col("__row").as("__rb"), col("__sig").as("__sb"),
      col("__copy").as("__cb"))
    val nearLater = a.join(b, "__band")
      .where((col("__oa") < col("__ob")) ||
        (col("__oa") === col("__ob") && col("__ra") < col("__rb")))
      .where(bit_count(col("__sa").bitwiseXOR(col("__sb"))) <= maxDist)
      .select(col("__rb").as("__row"), col("__ob").as("__o"),
        col("__cb").as("__copy")).distinct()
    val tieDups = copies.where(col("__copy") > 1)
      .select(col("__row"), col("__o"), col("__copy"))
    val flaggedSet = nearLater.unionByName(tieDups).distinct()
      .withColumn("__flagged", lit(true))
    val voted = copies
      .join(flaggedSet, Seq("__row", "__o", "__copy"), "left")
      .select(coalesce(col("__flagged"), lit(false)).as("__flagged"),
        from_json(col("__row"), schema).as("__r"))
    routeDups(voted, schema, dupTopic)
  }

  /** Streaming `$per` over (key, value) message payloads: emit one message
    * per `amount` buffered values; `timeoutMs` flushes the remainder via a
    * native per-key timer.
    */
  def per(payload: DataFrame, amount: Int, as: String,
      timeoutMs: Option[Long]): DataFrame = {
    val spark = payload.sparkSession
    streamingDefaults(spark)
    import spark.implicits._
    payload.as[String]
      .groupByKey(_ => 0)
      .transformWithState(new PerProcessor(amount, as, timeoutMs),
        if (timeoutMs.isDefined) TimeMode.ProcessingTime()
        else TimeMode.None(),
        OutputMode.Append())
      .toDF("value")
      .select(lit(null).cast("string").as("key"), col("value"))
  }

  /** Deterministic per-row state key for the `$delay` parking stages. A
    * task retry must recompute the SAME key — `uuid()` mints fresh ones on
    * recompute, so a retried task re-parks every row under new keys and
    * each is redelivered twice. Components:
    *  - the content fields separate distinct messages (the 0x01 separator
    *    keeps field boundaries — plain concat would collide ("ab","c")
    *    with ("a","bc"); 0x00 stands in for a null field);
    *  - (partition id, row position) separates identical payloads within
    *    a batch, and is stable on recompute: the stamping pass sorts each
    *    partition by content first, so the position depends only on the
    *    partition's MEMBERSHIP (deterministic for replayable sources and
    *    hash shuffles alike), never on shuffle-fetch arrival order;
    *  - the batch timestamp separates identical payloads at identical
    *    positions in DIFFERENT micro-batches (which would otherwise
    *    coalesce onto one state slot and deliver once). In streaming,
    *    `current_timestamp()` is pinned per micro-batch and recorded in
    *    the offset log, so replays and retries see the same value.
    * (`monotonically_increasing_id` would express the position
    * declaratively but is rejected in streaming plans; the mapPartitions
    * stamp at the call sites is the streaming-legal equivalent.)
    */
  private[graft] def uidOf(fields: Seq[String], pid: Int, idx: Long,
      batchMs: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = (fields.map(f => Option(f).getOrElse("\u0000")) ++
      Seq(pid.toString, idx.toString, batchMs.toString))
      .mkString("\u0001")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** `$delay` rows (topic, delayMs, key, json) → (topic, key, json)
    * emitted once their delay elapses. Each row gets its own state key, a
    * parked payload, and a timer; the caller's sink delivers immediately.
    */
  def delayViaTimers(packed: DataFrame): DataFrame = {
    val spark = packed.sparkSession
    streamingDefaults(spark)
    import spark.implicits._
    packed
      .select(col("topic"), col("delayMs"), col("key"), col("json"),
        unix_millis(current_timestamp()).as("__bts"))
      .as[(String, Long, String, String, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        // a shuffle-fed partition has deterministic MEMBERSHIP but not
        // row order (block fetch order varies across task retries, and a
        // $delay can sit behind a $group/join): sort the buffered
        // partition by content so idx is a pure function of the data.
        // Buffering is bounded by design — the delay frame is
        // retry/control traffic, not the data plane.
        it.toVector
          .sortBy(t => (t._1, t._2, Option(t._3).getOrElse(""), t._4))
          .iterator.zipWithIndex
          .map { case ((topic, delayMs, key, json, bts), i) =>
            (uidOf(Seq(topic, delayMs.toString, key, json), pid, i, bts),
              topic, delayMs, key, json)
          }
      }
      .groupByKey(_._1)
      .transformWithState(new DelayProcessor,
        TimeMode.ProcessingTime(), OutputMode.Append())
      .toDF("topic", "key", "json")
  }

  /** Event-time `$delay` (`deliverAt` comes from the DATA): timers fire
    * when the WATERMARK passes each row's deliverAt, so a replay of the
    * same input redelivers identically — processing-time delay is
    * wall-clock and drifts between runs. The watermark rides the
    * deliverAt column itself; rows whose deliverAt lags the max seen by
    * more than `latenessMs` are late data (event-time semantics, dropped
    * like any event-time operator would).
    *
    * With `deadLetterTopic` set, late rows are not lost: a router stage
    * ahead of the watermark (see [[LateRouter]]) rewrites them onto the
    * dead-letter topic with the payload preserved, and they deliver
    * through the same timer machinery as soon as the watermark allows.
    */
  def delayViaEventTimers(packed: DataFrame, latenessMs: Long,
      deadLetterTopic: Option[String] = None): DataFrame = {
    val spark = packed.sparkSession
    streamingDefaults(spark)
    import spark.implicits._
    val stamped = packed
      .select(col("topic"),
        col("deliverAt").cast("timestamp").as("deliverAt"),
        col("key"), col("json"),
        unix_millis(current_timestamp()).as("__bts"))
      .as[(String, java.sql.Timestamp, String, String, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        // content-sorted for retry-stable idx — see delayViaTimers
        it.toVector
          .sortBy(t =>
            (t._1, t._2.getTime, Option(t._3).getOrElse(""), t._4))
          .iterator.zipWithIndex
          .map { case ((topic, at, key, json, bts), i) =>
            (uidOf(Seq(topic, at.getTime.toString, key, json), pid, i, bts),
              topic, at, key, json)
          }
      }
    val routed = deadLetterTopic match {
      case Some(dlq) =>
        stamped
          .groupByKey(_ => 0)
          .transformWithState(new LateRouter(latenessMs, dlq),
            TimeMode.None(), OutputMode.Append())
          .toDF("__uid", "topic", "deliverAt", "key", "json")
      case None => stamped.toDF("__uid", "topic", "deliverAt", "key", "json")
    }
    routed
      .withWatermark("deliverAt", s"$latenessMs milliseconds")
      .as[(String, String, java.sql.Timestamp, String, String)]
      .groupByKey(_._1)
      .transformWithState(new EventDelayProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("topic", "key", "json")
  }

  /** Batch analog of the dead-letter router, for oracle replay and batch
    * diagnostics: `ord` plays arrival order, and the running max of
    * deliverAt over that order plays the watermark's max-seen — a row is
    * late exactly when the streaming router (at batch-of-one granularity)
    * would call it late. Only the (ord, deliverAt) timeline — two narrow
    * columns — passes through the serial running-max window; the payload
    * stays partitioned and rejoins by an equi-join on ord, so the wide
    * columns never funnel through the single-partition sort. The
    * streaming path is the scale path; this is its replayable mirror.
    * Output: the input columns with `topic` rewritten for late rows, plus
    * a `late` boolean.
    *
    * CONTRACT: `ord` must be unique per row (it is the join-back key) —
    * duplicate ords multiply rows through the payload rejoin and make
    * the running max ambiguous.
    */
  /** Serial-replay cap: the running max over arrival order is inherently
    * sequential (a single-partition two-column window), so this batch
    * mirror is only for bounded diagnostic/oracle replays — the streaming
    * `LateRouter` is the scale path. `maxRows` makes feeding it a corpus
    * fail fast instead of funneling the corpus timeline through one task.
    */
  def routeLateBatch(packed: DataFrame, latenessMs: Long, dlqTopic: String,
      ord: Column, maxRows: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bounded limit-probe, NOT a full count: the guard must not scan a
    // 10B-row lineage before rejecting it (and must not charge every
    // legitimate call a full extra pass)
    val probeCap = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
    val n = packed.select(lit(1)).limit(probeCap).count()
    require(n <= maxRows,
      s"routeLateBatch replays the stream's SERIAL late-judgment (a " +
        s"single-partition running-max over arrival order) and is bounded " +
        s"to $maxRows rows; ~$n exceed that. Use the streaming LateRouter " +
        s"($$delay dead-lettering) at scale, or raise maxRows explicitly " +
        s"for a bounded diagnostic replay.")
    val w = Window.orderBy("__ord").rowsBetween(Window.unboundedPreceding, -1)
    val wide = packed.withColumn("__ord", ord)
    val timeline = wide
      .select(col("__ord"),
        unix_millis(col("deliverAt").cast("timestamp")).as("__at"))
      .withColumn("__mx", max(col("__at")).over(w))
      .select(col("__ord").as("__ord2"), col("__mx"))
    wide.join(timeline, col("__ord") === col("__ord2"))
      .withColumn("late", col("__mx").isNotNull &&
        unix_millis(col("deliverAt").cast("timestamp")) <=
          col("__mx") - latenessMs)
      .withColumn("topic",
        when(col("late"), lit(dlqTopic)).otherwise(col("topic")))
      .drop("__ord", "__ord2", "__mx")
  }
}

/** One boolean per dedup key; `cacheWindow` becomes state TTL (entries
  * expire from insert time — duplicates within the window are suppressed
  * WITHOUT refreshing it, like a cache entry's fixed lifetime).
  */
final class DedupProcessor(ttlMs: Option[Long])
    extends StatefulProcessor[String, (String, Long, String), String] {
  @transient private var seen: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val ttl = ttlMs.map(ms => TTLConfig(java.time.Duration.ofMillis(ms)))
      .getOrElse(TTLConfig.NONE)
    seen = getHandle.getValueState("seen", Encoders.scalaBoolean, ttl)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, String)],
      tv: TimerValues): Iterator[String] =
    if (seen.exists()) Iterator.empty
    else {
      seen.update(true)
      Iterator(rows.minBy(_._2)._3)
    }
}

/** The stream–stream join's state, per join key: one buffer per side of
  * (payload, event time µs, payload hash) and — windowed — a map of the
  * pairs already emitted (left hash ++ right hash → expiry ms), which
  * suppresses the duplicate a replayed message would pair into
  * (reference App.java:706-708).
  *
  * Per micro-batch: new-left × (buffered-right ∪ new-right), plus
  * buffered-left × new-right, matching when |l − r| ≤ window, inclusive
  * at both ends. A row is useless once ts + window ≤ watermark: later
  * rows are newer than the watermark, so none can be within the window.
  * One event-time timer per key, at the earliest such expiry, evicts
  * the expired rows and pairs and re-arms for the next one. Windowless:
  * no timers, no suppression — every pairing is emitted.
  */
final class JoinProcessor(windowMs: Option[Long], leftType: DataType,
    rightType: DataType) extends StatefulProcessor[String, Row, Row] {
  @transient private var buffers: Array[ListState[Row]] = _
  @transient private var emitted: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    def buffer(name: String, t: DataType) = getHandle.getListState(name,
      Encoders.row(StructType(Seq(StructField("p", t),
        StructField("us", LongType, false), StructField("h", StringType)))),
      TTLConfig.NONE)
    buffers = Array(buffer("left", leftType), buffer("right", rightType))
    if (windowMs.isDefined)
      emitted = getHandle.getMapState("emitted", Encoders.STRING,
        Encoders.scalaLong, TTLConfig.NONE)
  }

  /** The first watermark (ms) at which a row of this event time can no
    * longer pair: ts + window, rounded UP so the µs comparison is exact.
    */
  private def expiry(us: Long): Long =
    Math.floorDiv(us + windowMs.get * 1000 + 999, 1000)

  private def pairs(l: Row, r: Row): Boolean = windowMs.forall(w =>
    math.abs(l.getLong(1) - r.getLong(1)) <= w * 1000)

  override def handleInputRows(key: String, rows: Iterator[Row],
      tv: TimerValues): Iterator[Row] = {
    val in = rows.toVector
    def arrived(side: Int) = in.filter(_.getInt(1) == side)
      .map(r => Row(r.get(2 + side), r.getLong(4), r.getString(5)))
    val (newL, newR) = (arrived(0), arrived(1))
    def buffered(side: Int, needed: Boolean) =
      if (needed) buffers(side).get().toVector else Vector.empty
    val bufR = buffered(1, newL.nonEmpty)
    val bufL = buffered(0, newR.nonEmpty)
    val candidates = newL.flatMap(l => (bufR ++ newR).map(l -> _)) ++
      bufL.flatMap(l => newR.map(l -> _))
    val out = candidates.filter { case (l, r) =>
      pairs(l, r) && (windowMs.isEmpty || {
        val id = l.getString(2) + r.getString(2)
        val fresh = !emitted.containsKey(id)
        if (fresh) emitted.updateValue(id, expiry(l.getLong(1)))
        fresh
      })
    }.map { case (l, r) => Row(key, l.get(0), r.get(0)) }
    if (newL.nonEmpty) buffers(0).appendList(newL.toArray)
    if (newR.nonEmpty) buffers(1).appendList(newR.toArray)
    if (windowMs.isDefined) {
      // one live timer per key, at the earliest expiry it holds
      val next = (newL ++ newR).map(e => expiry(e.getLong(1))).min
      val armed = getHandle.listTimers().map(_.asInstanceOf[Long]).toVector
      if (armed.forall(_ > next)) {
        armed.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(next)
      }
    }
    out.iterator
  }

  override def handleExpiredTimer(key: String, tv: TimerValues,
      info: ExpiredTimerInfo): Iterator[Row] = {
    val wm = tv.getCurrentWatermarkInMs()
    val kept = buffers.toVector.flatMap { b =>
      val all = b.get().toVector
      val live = all.filter(e => expiry(e.getLong(1)) > wm)
      if (live.isEmpty) b.clear()
      else if (live.size < all.size) b.put(live.toArray)
      live.map(e => expiry(e.getLong(1)))
    }
    val (dead, alive) = emitted.iterator().toVector.partition(_._2 <= wm)
    dead.foreach(p => emitted.removeKey(p._1))
    (kept ++ alive.map(_._2)).minOption.foreach(getHandle.registerTimer)
    Iterator.empty
  }
}

/** One band's signature log for `$deduplicateNear`: a TTL'd ListState of
  * the full 64-bit signatures whose band value hashed here. Rows process
  * in (ord, content) order — the same total order the stamping pass
  * used — so the near verdict is deterministic; every row's signature is
  * stored (store-always) whether or not the row survives.
  */
final class NearBandProcessor(maxDist: Int, ttlMs: Option[Long],
    maxPerBand: Int = StatefulOps.DefaultMaxPerBand)
    extends StatefulProcessor[String, (String, String, Long, Long, String),
      (String, String, Boolean)] {
  @transient private var sigs: ListState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val ttl = ttlMs.map(ms => TTLConfig(java.time.Duration.ofMillis(ms)))
      .getOrElse(TTLConfig.NONE)
    sigs = getHandle.getListState("sigs", Encoders.scalaLong, ttl)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, String, Long, Long, String)],
      tv: TimerValues): Iterator[(String, String, Boolean)] = {
    val local = scala.collection.mutable.ArrayBuffer[Long]()
    sigs.get().foreach(local += _)
    val sorted = rows.toVector.sortBy(t => (t._3, t._2))
    val out = sorted.map { case (id, row, _, sig, _) =>
      val hit =
        local.exists(s => java.lang.Long.bitCount(s ^ sig) <= maxDist)
      local += sig
      (id, row, hit)
    }
    if (maxPerBand > 0 && local.size > maxPerBand)
      // the cap trims to the MOST RECENT maxPerBand signatures; the
      // rewrite restamps the survivors' TTLs — acceptable, a band only
      // trims when hot, where the recent window dominates the verdicts
      sigs.put(local.takeRight(maxPerBand).toArray)
    else
      // appendValue keeps the stored entries' TTLs; put() would restamp
      // every old signature's expiry on each batch
      sorted.foreach(t => sigs.appendValue(t._4))
    out.iterator
  }
}

/** The per-row verdict merge for `$deduplicateNear`: all of a row's band
  * copies travel in one micro-batch, so the vote is stateless — one
  * (row, flagged) verdict per row; the caller drops or re-routes flagged
  * rows.
  */
final class NearVoteProcessor
    extends StatefulProcessor[String, (String, String, Boolean),
      (String, Boolean)] {
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()

  override def handleInputRows(key: String,
      rows: Iterator[(String, String, Boolean)],
      tv: TimerValues): Iterator[(String, Boolean)] = {
    val copies = rows.toVector
    copies.headOption.map(c => (c._2, copies.exists(_._3))).iterator
  }
}

/** The `$per` accumulator: ListState buffer, native flush timer. One
  * logical key (batching is a serial point, like the reference's single
  * consumer) — the stage is for request-coalescing, not bulk throughput.
  */
final class PerProcessor(amount: Int, as: String, timeoutMs: Option[Long])
    extends StatefulProcessor[Int, String, String] {
  @transient private var buf: ListState[String] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    buf = getHandle.getListState("buf", Encoders.STRING, TTLConfig.NONE)

  private def render(batch: Seq[String]): String = {
    val o = Js.obj()
    val arr = Js.arr()
    batch.foreach(b => arr.add(Js.parse(b)))
    o.set[JsonNode](as, arr)
    Js.render(o)
  }

  override def handleInputRows(key: Int, rows: Iterator[String],
      tv: TimerValues): Iterator[String] = {
    val all = buf.get().toSeq ++ rows
    val batches = all.grouped(amount).toSeq
    val (full, rest) =
      if (batches.nonEmpty && batches.last.size < amount)
        (batches.init, batches.last)
      else (batches, Seq.empty[String])
    buf.clear()
    if (rest.nonEmpty) buf.put(rest.toArray)
    timeoutMs.foreach { t =>
      // one live flush timer per key: re-arm on every batch that leaves a
      // remainder, disarm when the buffer emptied
      getHandle.listTimers()
        .foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
      if (rest.nonEmpty)
        getHandle.registerTimer(tv.getCurrentProcessingTimeInMs() + t)
    }
    full.map(render).iterator
  }

  override def handleExpiredTimer(key: Int, tv: TimerValues,
      info: ExpiredTimerInfo): Iterator[String] = {
    val rest = buf.get().toSeq
    buf.clear()
    if (rest.nonEmpty) Iterator.single(render(rest)) else Iterator.empty
  }
}

/** `$delay` parking state: payload per unique row key, one timer at
  * now+delay, emit-and-clear on expiry. State and timers are in the
  * checkpoint — redelivery survives restarts.
  */
final class DelayProcessor extends StatefulProcessor[
  String, (String, String, Long, String, String), (String, String, String)] {
  @transient private var pending: ValueState[(String, String, String)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    pending = getHandle.getValueState("pending",
      Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING),
      TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[(String, String, Long, String, String)],
      tv: TimerValues): Iterator[(String, String, String)] = {
    rows.foreach { case (_, topic, delayMs, k, json) =>
      pending.update((topic, k, json))
      getHandle.registerTimer(tv.getCurrentProcessingTimeInMs() + delayMs)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: String, tv: TimerValues,
      info: ExpiredTimerInfo): Iterator[(String, String, String)] = {
    val out =
      if (pending.exists()) Iterator.single(pending.get())
      else Iterator.empty
    pending.clear()
    out
  }
}

/** Event-time `$delay` parking state: payload per unique row key, one
  * EVENT-TIME timer at the row's own deliverAt — it fires when the
  * watermark passes that instant, which depends only on the DATA.
  */
final class EventDelayProcessor extends StatefulProcessor[
  String, (String, String, java.sql.Timestamp, String, String),
  (String, String, String)] {
  @transient private var pending: ValueState[(String, String, String)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    pending = getHandle.getValueState("pending",
      Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING),
      TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[(String, String, java.sql.Timestamp, String, String)],
      tv: TimerValues): Iterator[(String, String, String)] = {
    rows.foreach { case (_, topic, at, k, json) =>
      pending.update((topic, k, json))
      getHandle.registerTimer(at.getTime)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: String, tv: TimerValues,
      info: ExpiredTimerInfo): Iterator[(String, String, String)] = {
    val out =
      if (pending.exists()) Iterator.single(pending.get())
      else Iterator.empty
    pending.clear()
    out
  }
}

/** Dead-letter router for event-time `$delay` (opt-in via the stage's
  * `deadLetterTopic`): mirrors the downstream watermark's late-data
  * judgment AHEAD of the watermark node and rewrites would-be-dropped rows
  * onto the dead-letter topic instead of losing the payload.
  *
  * The judgment must match Spark's exactly: the watermark a micro-batch
  * filters with is (max event time through the PREVIOUS batch) − lateness,
  * and a row drops when its event time is ≤ that. The router keeps the
  * same max in a ValueState[Long], judges the batch's rows against the
  * PRIOR value, then folds the batch in — so a row the router passes is
  * never dropped downstream, and a row it reroutes is exactly one the
  * watermark would have discarded.
  *
  * A global watermark is a single scalar, so the router is a single-key
  * stage — a serial pass. That is acceptable where `$delay` lives:
  * retry/re-delivery control flow, not the 100 TB data plane; state is
  * one long and rows transit once, only when dead-lettering is enabled.
  *
  * Rewritten rows get deliverAt = maxSeen + 1 ms: above the real
  * watermark (maxSeen − lateness), so they survive the filter, and their
  * timer fires the moment the watermark passes maxSeen — the earliest
  * instant the machinery can honor. The JSON payload gains a `_dlq`
  * object {topic, deliverAtMs} recording the original routing; non-object
  * payloads pass byte-identical.
  */
final class LateRouter(latenessMs: Long, dlqTopic: String)
    extends StatefulProcessor[Int,
      (String, String, java.sql.Timestamp, String, String),
      (String, String, java.sql.Timestamp, String, String)] {
  @transient private var maxSeen: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    maxSeen = getHandle.getValueState("maxSeen", Encoders.scalaLong,
      TTLConfig.NONE)

  override def handleInputRows(key: Int,
      rows: Iterator[(String, String, java.sql.Timestamp, String, String)],
      tv: TimerValues)
      : Iterator[(String, String, java.sql.Timestamp, String, String)] = {
    // buffer before updating state: the output iterator is consumed after
    // this call returns, and the judgment must use the PRIOR batch max
    val batch = rows.toVector
    val prior = if (maxSeen.exists()) Some(maxSeen.get()) else None
    val out = batch.map { case row @ (uid, topic, at, k, json) =>
      prior match {
        case Some(m) if at.getTime <= m - latenessMs =>
          (uid, dlqTopic, new java.sql.Timestamp(m + 1), k,
            LateRouter.annotate(json, topic, at.getTime))
        case _ => row
      }
    }
    // track the max over what we EMIT, not what arrived: the downstream
    // watermark node computes its max from the router's output, and a
    // rewritten row's maxSeen+1 exceeds the inputs' max — updating from
    // inputs would let the two maxes diverge by 1 ms, and a future row
    // at exactly the boundary would pass the router's late test yet be
    // dropped by the watermark filter (payload lost, the one thing this
    // stage promises cannot happen)
    val outMax = out.iterator.map(_._3.getTime) ++ prior.iterator
    if (out.nonEmpty || prior.nonEmpty) maxSeen.update(outMax.max)
    out.iterator
  }
}

object LateRouter {
  /** Record the original routing inside the payload so the dead-letter
    * consumer can replay it; a non-object payload has nowhere to put the
    * annotation and passes unchanged.
    */
  private[streaming] def annotate(json: String, topic: String,
      atMs: Long): String = {
    val n = try Js.parse(json) catch { case _: Exception => null }
    n match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        val d = Js.obj()
        d.put("topic", topic)
        d.put("deliverAtMs", atMs)
        o.set[JsonNode]("_dlq", d)
        Js.render(o)
      case _ => json
    }
  }
}
