package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Collections as parquet directories with upsert-by-`_id` writes — the
  * file-backed stand-in for the reference's MongoDB collections
  * (docs/streams.md:45-50): `toCollection` upserts each message by `_id`,
  * `fromCollection`/`$lookup` read the current state. Streaming writers go
  * through foreachBatch (the idempotent-upsert sink pattern).
  *
  * Layout: a collection is the parquet files its newest generation
  * manifest (`__manifest-<gen>`) lists, hash-BUCKETED on `_id` into
  * `__bucket=N/` directories. The manifest is the only record of what
  * the collection holds: a directory is never listed for data, so a
  * collection with no committed generation reads as an error and is
  * written from an empty snapshot, whatever files its directory holds.
  * Every write ($out/$merge upserts and $delete) commits through one
  * path, `swapBuckets`, and rewrites only the buckets it touches —
  * cost is O(touched buckets), not O(collection) — which is the poor
  * man's MERGE (a real lakehouse format with MERGE INTO replaces the
  * bucket rewrite one-for-one; the layout, pruning, and latest-row-wins
  * logic are the same). Topics delegate to the wrapped transport Io.
  */
final class ParquetCollectionIo(spark: SparkSession, root: String, inner: Io,
    /** a lock file older than this is presumed abandoned (writer crash)
      * and stolen; must exceed the longest single upsert batch
      */
    lockStaleMs: Long = 60000,
    /** how long an upsert waits for a LIVE peer's lock before failing */
    lockWaitMs: Long = 120000) extends Io {

  private def dir(name: String) = s"$root/$name"

  /** Cross-JVM writer coordination (ROADMAP round-7 #2): the JVM-local
    * `synchronized` only serializes THIS process's writers, but several
    * engine instances can share one collection root. A per-collection
    * lock FILE (atomic CREATE_NEW on the shared filesystem — the
    * pessimistic cousin of a lakehouse format's optimistic commit
    * protocol) serializes the read-merge-swap across processes:
    *
    *  - acquire: create `<collection>.__lock` with a unique token;
    *    already-exists ⇒ poll (the peer's swap is file moves — fast)
    *  - crash safety: a lock whose mtime is older than `lockStaleMs` is
    *    deleted and re-contended, so a dead writer never wedges the
    *    collection; the writer that then wins the lock removes the dead
    *    token's staging directory, which nobody else would
    *  - steal detection: before the final swap the writer re-reads the
    *    lock; a foreign token means a peer declared us stale mid-write
    *    (e.g. a long GC pause) — abort THIS batch's swap and retry the
    *    whole upsert against the peer's result rather than clobber it
    */
  private val lockToken = java.util.UUID.randomUUID().toString

  private def lockPath(name: String) =
    Paths.get(dir(name) + ".__lock")

  private def acquireLock(name: String): Unit = {
    val p = lockPath(name)
    Files.createDirectories(p.getParent)
    val deadline = System.currentTimeMillis() + lockWaitMs
    var held = false
    var stolen = Set.empty[String]
    while (!held) {
      try {
        Files.write(p, lockToken.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        held = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val stale =
            try Files.getLastModifiedTime(p).toMillis <
              System.currentTimeMillis() - lockStaleMs
            catch { case _: java.io.IOException => false } // gone: recontend
          if (stale) { // steal; CREATE_NEW re-races
            try stolen += new String(Files.readAllBytes(p), "UTF-8")
            catch { case _: java.io.IOException => () } // gone: recontend
            Files.deleteIfExists(p)
          } else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"collection $name: writer lock held past ${lockWaitMs}ms " +
                s"by a live peer (${p})")
          else Thread.sleep(50)
      }
    }
    // a stale lock's writer is dead or will find its lock gone before it
    // commits, so its staged batch is debris only the stealer knows of
    (stolen - lockToken).foreach(t => deleteRecursively(stagingPath(name, t)))
  }

  /** A writer's per-token staging directory (see `swapBuckets`). */
  private def stagingPath(name: String, token: String) =
    Paths.get(dir(name) + s".__tmp-$token")

  // ---- snapshot manifest -------------------------------------------------
  //
  // Readers must never glimpse a bucket mid-swap. The collection's
  // current snapshot is the file list in its newest `__manifest-<gen>`
  // (the miniature of a lakehouse format's commit log): writers move NEW
  // files into the bucket dirs additively, publish the next generation,
  // and only DELETE a replaced file one generation later — so any reader
  // whose plan resolved the previous manifest still finds its files on
  // disk. Contract: a reader is safe while at most one writer generation
  // lands between resolving the manifest and finishing the scan. Files
  // no manifest lists (retired ones, a crashed writer's moves) are on
  // disk but never read — exactly Delta/Iceberg semantics.

  /** live: bucket → collection-relative parquet paths of the CURRENT
    * snapshot; retired: files replaced by the LAST write, deleted at the
    * next one; schema: the stored frame's Spark schema (JSON) — a
    * delete-all leaves live empty while the retired files are still on
    * disk for their grace generation, and readers must get an EMPTY
    * frame of this schema. Every committed manifest carries it; only
    * the empty snapshot (gen 0, nothing committed) has none.
    */
  private[graft] case class Manifest(gen: Long, live: Map[Int, Seq[String]],
      retired: Seq[String], schema: Option[String] = None)

  /** One manifest FILE per generation, zero-padded so lexical max ==
    * numeric max. The file is the commit token: it is published with an
    * atomic-exclusive hard link (link(2) fails EEXIST), so creating
    * generation N is a compare-and-swap — exactly one writer can ever
    * own it, however stale its view of the world.
    */
  private def genManifestPath(name: String, gen: Long) =
    Paths.get(dir(name), f"__manifest-$gen%012d")

  /** All generation files present, ascending by generation. */
  private[graft] def genManifests(name: String): Seq[(Long, java.nio.file.Path)] = {
    import scala.jdk.CollectionConverters._
    val target = Paths.get(dir(name))
    if (!Files.exists(target)) Nil
    else {
      // this runs on EVERY collection read — close the directory stream
      // eagerly instead of leaking an fd until GC
      val stream = Files.list(target)
      val names =
        try stream.iterator().asScala.toVector
        finally stream.close()
      names
        .filter(_.getFileName.toString.startsWith("__manifest-"))
        .flatMap { f =>
          val suffix = f.getFileName.toString.stripPrefix("__manifest-")
          suffix.toLongOption.map(_ -> f)
        }
        .sortBy(_._1)
    }
  }

  private def parseManifest(text: String): Manifest = {
    val n = graft.json.Js.parse(text)
    Manifest(
      n.get("gen").asLong(),
      graft.json.Js.fields(n.get("live")).map { case (b, files) =>
        b.toInt -> graft.json.Js.elems(files).map(_.asText())
      }.toMap,
      graft.json.Js.elems(n.get("retired")).map(_.asText()),
      Option(n.get("schema")).filter(_.isTextual).map(_.asText()))
  }

  /** The newest committed generation; None = never committed. Once a
    * generation exists one always does (a commit publishes N before it
    * GCs N−2), so an empty listing is never a race.
    */
  private def loadManifest(name: String): Option[Manifest] = {
    // a concurrent GC can delete a file between the listing and the read
    // (kept generations: N and N-1, so only a reader two commits behind
    // races it) — re-list and retry
    var attempts = 0
    while (attempts < 6) {
      attempts += 1
      genManifests(name).lastOption match {
        case None => return None
        case Some((_, f)) =>
          try return Some(parseManifest(Files.readString(f)))
          catch { case _: java.io.IOException => () } // deleted: re-list
      }
    }
    throw new IllegalStateException(
      s"collection $name: manifest generations churned 6 reads in a row")
  }

  /** Publish `m` as generation file `__manifest-<gen>` via an
    * atomic-EXCLUSIVE hard link: link(2) fails EEXIST if the slot is
    * taken, unlike rename(2), which silently replaces (so ATOMIC_MOVE is
    * NOT a CAS on POSIX). Returns false when a peer owns the generation —
    * the caller's merge was computed against a superseded snapshot and
    * must retry; nothing destructive may happen before this succeeds.
    * On success, generations ≤ gen−2 are garbage-collected (gen−1 stays
    * so an in-flight reader that resolved the previous listing still
    * finds its file).
    */
  private[graft] def casManifest(name: String, m: Manifest): Boolean = {
    val o = graft.json.Js.obj()
    o.put("gen", m.gen)
    val live = graft.json.Js.obj()
    m.live.toSeq.sortBy(_._1).foreach { case (b, files) =>
      val a = graft.json.Js.arr()
      files.foreach(a.add)
      live.set[com.fasterxml.jackson.databind.JsonNode](b.toString, a)
    }
    o.set[com.fasterxml.jackson.databind.JsonNode]("live", live)
    val retired = graft.json.Js.arr()
    m.retired.foreach(retired.add)
    o.set[com.fasterxml.jackson.databind.JsonNode]("retired", retired)
    m.schema.foreach(s => o.put("schema", s))
    val tmp = Paths.get(dir(name), s"__manifest.tmp-$lockToken")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, graft.json.Js.render(o))
    val won =
      try { Files.createLink(genManifestPath(name, m.gen), tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally Files.deleteIfExists(tmp)
    if (won) {
      genManifests(name).foreach { case (g, f) =>
        if (g <= m.gen - 2) Files.deleteIfExists(f)
      }
    }
    won
  }

  /** Snapshot `m` as a DataFrame (with the `__bucket` partition column),
    * pruned to the buckets `only` admits at the FILE level. An empty live
    * set (e.g. delete-all) is an empty frame of the recorded schema: the
    * retired files are STILL on disk for their grace generation and must
    * never be read. None = nothing committed (the empty snapshot).
    */
  private def read(name: String, m: Manifest,
      only: Int => Boolean = _ => true): Option[DataFrame] = {
    val files = m.live.toSeq.collect { case (b, fs) if only(b) => fs }
      .flatten.map(f => s"${dir(name)}/$f")
    if (files.nonEmpty)
      Some(spark.read.option("basePath", dir(name)).parquet(files: _*))
    else m.schema.map(s => spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType]))
  }

  /** Still ours? False means a peer stole it (we looked stale). */
  private def ownsLock(name: String): Boolean =
    try new String(Files.readAllBytes(lockPath(name)), "UTF-8") == lockToken
    catch { case _: java.io.IOException => false }

  /** Steal-safe release: claim the lock file exclusively with an
    * ATOMIC_MOVE before deleting, so the read-then-delete pair can never
    * remove a PEER's freshly-stolen lock. If the claimed file turns out
    * to be the peer's (they stole between our last ownsLock and the
    * move), put it back; if putting back collides with a third writer's
    * new lock, drop the claim — the peer's own pre-commit ownsLock check
    * sees its lock gone and aborts-retries (fail-safe: a spurious retry,
    * never a double commit).
    */
  private def releaseLock(name: String): Unit = {
    val p = lockPath(name)
    val claim = Paths.get(p.toString + s".rel-$lockToken")
    try {
      Files.move(p, claim, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      if (new String(Files.readAllBytes(claim), "UTF-8") == lockToken)
        Files.deleteIfExists(claim)
      else
        try Files.move(claim, p,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException =>
          Files.deleteIfExists(claim); ()
        }
    } catch { case _: java.io.IOException => () } // already gone
  }

  /** Refresh the held lock's mtime so a LIVE writer's long batch never
    * crosses `lockStaleMs` and gets stolen mid-write — staleness then
    * only ever fires on a genuinely dead (crashed) writer. One shared
    * daemon scheduler; each hold registers its own refresh task.
    */
  private def heartbeat(name: String)
      : java.util.concurrent.ScheduledFuture[_] =
    ParquetCollectionIo.scheduler.scheduleAtFixedRate(
      () => try {
        val p = lockPath(name)
        // only touch OUR lock — after a (pathological) steal the peer's
        // mtime is theirs to maintain
        if (ownsLock(name)) Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis()))
      } catch { case _: java.io.IOException => () },
      lockStaleMs / 4, lockStaleMs / 4,
      java.util.concurrent.TimeUnit.MILLISECONDS)

  /** Run `f` under the collection's cross-process writer lock; if the
    * lock was stolen mid-write (`f` returns false = "don't commit"),
    * retry — each attempt re-reads the stored state, so the peer's
    * writes are never clobbered.
    */
  private def withWriterLock(name: String)(f: () => Boolean): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 5,
        s"collection $name: writer lock stolen $attempts times in a row " +
          "(raise lockStaleMs above the longest batch write)")
      acquireLock(name)
      val beat = heartbeat(name)
      try done = f()
      finally { beat.cancel(false); releaseLock(name) }
    }
  }

  /** Test seam: crash injection between the commit protocol's steps
    * (CollectionLockSpec's kill-point loop). Points: 1 = staging written,
    * 2 = files moved into live bucket dirs, 3 = generation CAS published
    * but cleanup not run. Production leaves this a no-op.
    */
  private[graft] var killPoint: Int => Unit = _ => ()

  private def bucketOf(id: org.apache.spark.sql.Column) =
    pmod(xxhash64(id.cast("string")), lit(ParquetCollectionIo.Buckets))
      .cast("int")

  def source(spark: SparkSession, kind: String, name: String,
      options: Map[String, String] = Map.empty): DataFrame =
    kind match {
      case "collection" =>
        // snapshot read via the manifest; an EMPTIED collection reads as
        // an empty frame of the recorded schema
        val df = loadManifest(name).flatMap(read(name, _))
          .getOrElse(throw new IllegalStateException(
            s"collection $name has no committed generation under $root"))
          .drop("__bucket")
        // schemaless layout: _id was derived from the key on write —
        // hide it so the read-back frame stays message-shaped
        if (df.columns.sorted.toSeq == Seq("_id", "key", "value"))
          df.drop("_id")
        else df
      case _ => inner.source(spark, kind, name, options)
    }

  /** Queries this Io started (collection upsert loops): callers wait on /
    * stop exactly these — the session may carry other components' queries,
    * some timer-driven (which never report "all available processed").
    */
  var started = Seq.empty[org.apache.spark.sql.streaming.StreamingQuery]

  def sink(kind: String, name: String, df: DataFrame,
      asString: Boolean, partId: String = "",
      options: Map[String, String] = Map.empty): Unit = kind match {
    case "collection" =>
      if (df.isStreaming) {
        val writer = df.writeStream
          // stable identity: several parts may upsert one collection
          .option("checkpointLocation",
            s"$root/.checkpoints/$name${if (partId.isEmpty) "" else s"-$partId"}")
          .foreachBatch((batch: DataFrame, _: Long) => upsert(name, batch))
        // throttled part: pace the trigger so the source's admission cap
        // is an actual rate (see KafkaIo.sink)
        started :+= options.get("maxPerSecond")
          .fold(writer)(_ => writer.trigger(
            org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second")))
          .start()
      } else upsert(name, df)
    case _ => inner.sink(kind, name, df, asString, partId, options)
  }

  /** Per-collection JVM monitors: in-process writers to the SAME
    * collection serialize here; writers to different collections must
    * not queue behind a peer instance's cross-process lock wait on an
    * unrelated collection (acquireLock can poll up to lockWaitMs).
    */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def monitor(name: String): Object =
    monitors.computeIfAbsent(name, _ => new Object)

  /** Bucket-local upsert: by default incoming rows win over stored rows
    * with the same `_id` (whenMatched: replace / whenNotMatched: insert —
    * the reference's `$out` shape); within one batch the last row wins.
    * Only the buckets the batch touches are read (partition-pruned) and
    * rewritten.
    *
    * `$merge`'s Mongo modes ride IN-BAND as literal metadata columns
    * (`__when_matched` ∈ replace|keepExisting|merge|fail,
    * `__when_not_matched` ∈ insert|discard|fail — the same pattern as
    * `$send`'s `_topic`), peeled off here:
    *  - keepExisting: the stored row wins on a match
    *  - merge: field-wise — the latest non-null value per column wins
    *    (incoming null/missing keeps the stored field), Mongo's
    *    ignore-null document merge
    *  - fail / discard: matched-set policies via semi/anti joins on `_id`
    */
  def upsert(name: String, batch0: DataFrame): Unit =
    monitor(name).synchronized {
      withWriterLock(name)(() => upsertLocked(name, batch0))
    }

  /** One locked attempt; false = the lock was stolen after staging, the
    * swap was NOT performed and the caller must retry from the stored
    * state.
    */
  private def upsertLocked(name: String, batch0: DataFrame): Boolean = {
    val (wm, wnm) =
      if (!batch0.columns.contains("__when_matched")) ("replace", "insert")
      else batch0.select("__when_matched", "__when_not_matched")
        // the modes are planted as literals ($merge), so the whole batch
        // must agree — PROVE it (capped 2-row probe) rather than silently
        // trusting row 0 with mixed modes aboard
        .distinct().limit(2).collect() match {
          case Array(r) => (r.getString(0), r.getString(1))
          case Array()  => ("replace", "insert")
          case _ => throw new IllegalArgumentException(
            s"collection $name upsert: mixed $$merge modes in one batch " +
              "(__when_matched/__when_not_matched must be constant per batch)")
        }
    // transport metadata never belongs in the stored document
    val batchClean = batch0.drop("__when_matched", "__when_not_matched",
      "__ord", "__raw", "_topic", "_delay_ms", "_deliver_at")
    // schemaless (key, value) frames: the message key IS the document id
    // (the reference keys Mongo _id by the Kafka key); null keys fall
    // back to the value's _id field
    val batch =
      if (batchClean.columns.contains("_id")) batchClean
      else if (Set("key", "value").subsetOf(batchClean.columns.toSet))
        batchClean.withColumn("_id",
          coalesce(col("key"), get_json_object(col("value"), "$._id")))
      else throw new IllegalArgumentException(
        s"collection $name upsert needs an _id (or key/value) column")
    val incoming = batch
      .withColumn("__gen", lit(1))
      .withColumn("__ord", monotonically_increasing_id())
      // xxhash64(null) is the SEED, not null — bucket null ids as null
      // explicitly so the `touched` collect below rejects them with the
      // cause (otherwise distinct null-_id docs silently collapse into
      // one stored row)
      .withColumn("__bucket",
        when(col("_id").isNotNull, bucketOf(col("_id"))))
    val touched = incoming.select("__bucket").distinct()
      .collect().map { r => // ≤ Buckets values
        // a null bucket means a null _id (null message key and no _id in
        // the value) — fail the batch with the cause, not an NPE
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          s"collection $name upsert: row with null _id (null message key " +
            "and no _id field in the value)")
        r.getInt(0)
      }.toSet
    // the snapshot this write merges against and commits over; no
    // committed generation = the empty snapshot, whatever files the
    // directory holds
    val m = loadManifest(name).getOrElse(Manifest(0, Map.empty, Nil))
    val bucketed = read(name, m, touched) // file-level pruned snapshot
      .map(_.where(col("__bucket").isin(touched.toSeq: _*)))
    require(Set("replace", "keepExisting", "merge", "fail")(wm),
      s"whenMatched $wm")
    val existingIds = bucketed.map(_.select("_id"))
    val admitted = wnm match {
      case "insert" => incoming
      case "discard" => existingIds match {
        case Some(ids) => incoming.join(ids, Seq("_id"), "left_semi")
        case None      => incoming.limit(0)
      }
      case "fail" =>
        val unmatched = existingIds
          .map(ids => incoming.join(ids, Seq("_id"), "left_anti"))
          .getOrElse(incoming)
        require(unmatched.isEmpty,
          s"$$merge whenNotMatched: fail — unmatched _id for $name")
        incoming
      case other =>
        throw new IllegalArgumentException(s"whenNotMatched $other")
    }
    if (wm == "fail")
      existingIds.foreach(ids => require(
        admitted.join(ids, Seq("_id"), "left_semi").isEmpty,
        s"$$merge whenMatched: fail — matched _id for $name"))
    val merged = bucketed match {
      case Some(df) =>
        val existing = df
          .withColumn("__gen", lit(0)).withColumn("__ord", lit(0L))
        existing.unionByName(admitted, allowMissingColumns = true)
      case None => admitted
    }
    val schemaless = merged.columns.toSet
      .diff(Set("_id", "__gen", "__ord", "__bucket")) == Set("key", "value")
    val latest = wm match {
      case "merge" if schemaless =>
        // the document lives in ONE opaque JSON column: merge at the JSON
        // level — fold the (stored, incoming…) values in (gen, ord) order,
        // later non-null fields win (Mongo's ignore-null document merge,
        // the same fold the $mergeObjects accumulator uses)
        val mergeFn = udf((objs: Seq[String]) => {
          val out = graft.json.Js.obj()
          objs.filter(_ != null).foreach { s =>
            val n = graft.json.Js.parse(s)
            if (n.isObject) graft.json.Js.fields(n).foreach { case (k, v) =>
              if (!v.isNull)
                out.set[com.fasterxml.jackson.databind.JsonNode](k, v)
            }
          }
          graft.json.Js.render(out)
        })
        merged.groupBy(col("_id"))
          .agg(
            max_by(col("key"), struct(col("__gen"), col("__ord"))).as("key"),
            mergeFn(transform(
              array_sort(collect_list(struct(
                struct(col("__gen"), col("__ord")).as("o"),
                col("value").as("j")))),
              x => x.getField("j"))).as("value"))
          .select(col("key"), col("value"), col("_id"))
          .withColumn("__bucket", bucketOf(col("_id")))
      case "merge" =>
        // latest-non-null per column: max_by over a (gen, ord) struct
        // key conditioned on the value's non-nullness, so null/missing
        // incoming fields keep the stored value (Mongo's document merge)
        val aggs = merged.columns
          .filterNot(Set("_id", "__gen", "__ord", "__bucket"))
          .map(c => max_by(col(c),
            when(col(c).isNotNull,
              struct(col("__gen"), col("__ord")))).as(c))
        merged.groupBy(col("_id")).agg(aggs.head, aggs.tail: _*)
          .withColumn("__bucket", bucketOf(col("_id")))
      case _ =>
        // replace (+fail, which proved no matches): incoming wins;
        // keepExisting: the stored row wins, latest incoming otherwise.
        // argmax as a max_by PARTIAL aggregate (like the merge branches
        // above), not a per-_id row_number window: the aggregate combines
        // map-side so the exchange carries one row per (_id, mapper)
        // instead of every generation's full row, and skips the
        // per-partition sort entirely
        val pick =
          if (wm == "keepExisting") // min gen, then max ord within it
            struct((lit(0) - col("__gen")).as("g"), col("__ord").as("o"))
          else struct(col("__gen").as("g"), col("__ord").as("o"))
        val outCols = merged.columns.filterNot(Set("__gen", "__ord"))
        merged.groupBy(col("_id"))
          .agg(max_by(struct(outCols.map(col): _*), pick).as("__row"))
          .select(outCols.map(c =>
            if (c == "_id") col("_id")
            else col("__row").getField(c).as(c)): _*)
    }
    swapBuckets(name, m, latest, touched)
  }

  /** `$delete` support (docs/aggregation_stages.md:161-178): drop stored
    * docs whose `on` fields equal any incoming message's values
    * (left-anti join on the key columns), then rewrite. Delete keys are
    * arbitrary fields (not `_id`), so every bucket is scanned and every
    * live bucket is rewritten — the lakehouse-format DELETE is the
    * real-scale version of this one.
    */
  def delete(name: String, matches: DataFrame, on: Seq[String]): Unit =
    monitor(name).synchronized {
      withWriterLock(name) { () =>
        loadManifest(name) match {
          case Some(m) =>
            val keys = matches.select(on.map(col): _*).distinct()
            swapBuckets(name, m,
              read(name, m).get.join(keys, on, "left_anti"), m.live.keySet)
          case None => true
        }
      }
    }

  /** Write `latest` (already bucketed) to a staging dir, then COMMIT
    * generation `m.gen + 1` over `m`: ONLY the touched `__bucket=N`
    * subdirectories change — untouched buckets keep their files, no
    * read, no write, no move. New files move into the live bucket dirs
    * additively (Spark part-file names carry a job UUID — no
    * collisions), the manifest CAS is the atomic commit point, and the
    * files the PREVIOUS write retired are deleted now that a full
    * generation has passed.
    */
  private def swapBuckets(name: String, m: Manifest, latest: DataFrame,
      touched: Set[Int]): Boolean = {
    // per-instance staging dir: a peer that stole the lock must never
    // overwrite OUR staging output mid-write
    val tmp = stagingPath(name, lockToken)
    // the staging write is the long pole: if a peer declared us stale
    // during it, the stored state is no longer what we merged against —
    // abandon the staging output and let the caller retry. The peer
    // removes our staging dir, so the write itself may fail then: that
    // is the same lost lock, not an error
    try latest.write.mode(SaveMode.Overwrite)
      .partitionBy("__bucket").parquet(tmp.toString)
    catch {
      case _: Exception if !ownsLock(name) =>
        deleteRecursively(tmp); return false
    }
    killPoint(1)
    if (!ownsLock(name)) { deleteRecursively(tmp); return false }
    val target = Paths.get(dir(name))
    Files.createDirectories(target)
    val moved: Map[Int, Seq[String]] = touched.toSeq.map { b =>
      val src = tmp.resolve(s"__bucket=$b")
      // a touched bucket can end empty (all its rows were later deleted
      // upstream) — no staged dir just empties its live list
      if (!Files.exists(src)) b -> Seq.empty[String]
      else {
        import scala.jdk.CollectionConverters._
        val dstDir = target.resolve(s"__bucket=$b")
        Files.createDirectories(dstDir)
        b -> Files.list(src).iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map { f =>
            Files.move(f, dstDir.resolve(f.getFileName.toString))
            s"__bucket=$b/${f.getFileName}"
          }
      }
    }.toMap
    killPoint(2)
    // last look before the commit point: the moves + debris GC +
    // manifest swap below assume exclusive ownership — if a peer stole
    // the lock during the moves, abandon (our moved files are unreferenced
    // debris the peer's next commit GCs) and retry against their result
    if (!ownsLock(name)) { deleteRecursively(tmp); return false }
    // the generation CAS inside commit() is the real fence: even a writer
    // that passes the ownsLock look above but is beaten to the manifest
    // slot backs off with nothing destroyed (its moved files are
    // unreferenced debris the winning side's next commit GCs)
    val committed = commit(name, m,
      live = (m.live -- touched) ++ moved.filter(_._2.nonEmpty),
      nowRetired = touched.toSeq.flatMap(b => m.live.getOrElse(b, Nil)),
      schemaJson = storedSchemaJson(latest))
    deleteRecursively(tmp)
    committed
  }

  /** The read-back schema of a staged frame: partition columns come LAST
    * on a parquet read, so the recorded schema (used for empty-collection
    * reads) moves `__bucket` to the tail to match.
    */
  private def storedSchemaJson(df: DataFrame): String = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    StructType(df.schema.fields.filterNot(_.name == "__bucket") :+
      StructField("__bucket", IntegerType)).json
  }

  /** The commit point. ORDER MATTERS: the generation CAS comes FIRST —
    * only the writer that owns generation prev.gen+1 may run the
    * destructive steps (deleting the previous generation's retired files,
    * GC'ing orphan debris). A writer whose CAS loses — e.g. one that
    * stalled past `lockStaleMs` in a GC/NFS pause and woke after a peer
    * stole the lock and committed — returns false having touched NOTHING:
    * the old ownsLock()-then-commit sequence was a TOCTOU (the peer could
    * land between the check and the swap, and the zombie's debris GC
    * would then delete the peer's live files). False propagates to
    * `withWriterLock`, which re-reads and retries the whole merge.
    * A crash between the CAS and the cleanup strands the previous
    * retired set as unreferenced debris — the next commit's GC removes
    * anything in ANY bucket dir outside (live ∪ retired): a dead writer
    * may have moved files into a bucket no manifest lists.
    */
  private def commit(name: String, prev: Manifest,
      live: Map[Int, Seq[String]], nowRetired: Seq[String],
      schemaJson: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val target = Paths.get(dir(name))
    val retired = nowRetired.distinct.filterNot(live.values.flatten.toSet)
    if (!casManifest(name, Manifest(prev.gen + 1, live, retired,
        Some(schemaJson))))
      return false
    killPoint(3)
    prev.retired.foreach(f => Files.deleteIfExists(target.resolve(f)))
    val known = (live.values.flatten ++ retired).toSet
    (0 until ParquetCollectionIo.Buckets).foreach { b =>
      val bdir = target.resolve(s"__bucket=$b")
      if (Files.exists(bdir))
        Files.list(bdir).iterator().asScala.toSeq
          .filter(f => f.getFileName.toString.endsWith(".parquet") &&
            !known.contains(s"__bucket=$b/${f.getFileName}"))
          .foreach(Files.deleteIfExists(_))
    }
    true
  }

  /** Tolerates a peer deleting the same tree concurrently. */
  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(p)) {
      val children =
        try {
          val stream = Files.list(p)
          try stream.iterator().asScala.toVector finally stream.close()
        } catch { case _: java.nio.file.NoSuchFileException => Vector.empty }
      children.foreach(deleteRecursively)
    }
    try Files.deleteIfExists(p)
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }
}

object ParquetCollectionIo {
  /** Hash buckets per collection (`pmod(xxhash64(_id), Buckets)`). */
  private val Buckets = 16

  /** Lock-heartbeat scheduler: one daemon thread for the JVM (a refresh
    * is a single utimes call; even many concurrent holds are cheap).
    */
  private val scheduler = {
    val s = new java.util.concurrent.ScheduledThreadPoolExecutor(1, r => {
      val t = new Thread(r, "graft-collection-lock-heartbeat")
      t.setDaemon(true)
      t
    })
    s.setRemoveOnCancelPolicy(true)
    s
  }
}
