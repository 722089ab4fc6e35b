package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.json.Js
import graft.streaming.ParquetCollectionIo
import org.apache.spark.sql.functions.col

/** Cross-JVM writer coordination on bucketed collections (ROADMAP
  * round-7 #2): a per-collection lock file serializes the
  * read-merge-swap across engine instances. Two Io INSTANCES stand in
  * for two JVMs — the JVM-local `synchronized` is per instance, so only
  * the file lock orders them.
  */
class CollectionLockSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import scala.concurrent.{Await, Future}
  import scala.concurrent.duration._
  import scala.concurrent.ExecutionContext.Implicits.global

  /** Staging directories (`c.__tmp-<writer token>`) under `root`. */
  private def stagingDirs(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val stream = Files.list(Paths.get(root))
    try stream.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("c.__tmp-")).toVector
    finally stream.close()
  }

  /** A thrown kill point releases the victim's lock on its way out; a
    * killed process would leave it behind. Put it back under the
    * victim's token (its staging dir's suffix), aged past lockStaleMs,
    * so the successor steals it as it would in production.
    */
  private def leaveDeadLock(root: String): Unit = {
    val staged = stagingDirs(root)
    assert(staged.size == 1, s"the victim's staging dir: $staged")
    val lock = Paths.get(s"$root/c.__lock")
    Files.writeString(lock, staged.head.stripPrefix("c.__tmp-"))
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600_000))
  }

  test("two writer instances interleave without losing updates") {
    val root = Files.createTempDirectory("graft-lock").toString
    val a = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
    val b = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
    import spark.implicits._
    def ups(io: ParquetCollectionIo, ids: Seq[Int]): Future[Unit] =
      Future {
        ids.foreach(i =>
          io.upsert("c", Seq((s"id$i", i)).toDF("_id", "v")))
      }
    // interleaved read-merge-swap cycles from both instances: without
    // the lock, a swap can clobber the other writer's just-written
    // buckets (both merged against the same stored generation)
    Await.result(
      Future.sequence(Seq(ups(a, 0 to 4), ups(b, 5 to 9))), 5.minutes)
    val got = a.source(spark, "collection", "c")
      .select("_id").as[String].collect().toSet
    assert(got == (0 to 9).map(i => s"id$i").toSet)
    assert(!Files.exists(Paths.get(s"$root/c.__lock")), "lock released")
  }

  test("a stale lock (dead writer) is stolen, not waited out") {
    val root = Files.createTempDirectory("graft-stale").toString
    val lock = Paths.get(s"$root/c.__lock")
    Files.createDirectories(lock.getParent)
    Files.writeString(lock, "dead-writer-token")
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600_000))
    val io = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
    import spark.implicits._
    io.upsert("c", Seq(("a", 1)).toDF("_id", "v")) // must not block
    assert(io.source(spark, "collection", "c").where(col("_id") === "a")
      .count() == 1)
    assert(!Files.exists(lock))
  }

  test("a long batch refreshes the held lock's mtime (no mid-write steal)") {
    val root = Files.createTempDirectory("graft-beat").toString
    // lockStaleMs far below the batch duration: without the heartbeat the
    // lock goes stale mid-write and a peer would steal it
    val a = new ParquetCollectionIo(spark, root, new TestIo(Map.empty),
      lockStaleMs = 800)
    val b = new ParquetCollectionIo(spark, root, new TestIo(Map.empty),
      lockStaleMs = 800)
    import spark.implicits._
    import org.apache.spark.sql.functions.udf
    val slow = udf((i: Int) => { Thread.sleep(50); i })
    val af = Future {
      a.upsert("c", spark.range(80)
        .select(col("id").cast("string").as("_id"),
          slow(col("id").cast("int")).as("v"))
        .repartition(1)) // one partition: ~4 s inside the writer lock
    }
    val lock = Paths.get(s"$root/c.__lock")
    val deadline = System.currentTimeMillis() + 10000
    while (!Files.exists(lock) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(Files.exists(lock), "writer never took the lock")
    val first = Files.getLastModifiedTime(lock).toMillis
    // sample across 2.5 s (> 3 heartbeat periods); the mtime must move
    var refreshed = false
    (1 to 50).foreach { _ =>
      if (!refreshed && Files.exists(lock)) {
        if (Files.getLastModifiedTime(lock).toMillis > first) refreshed = true
        else Thread.sleep(50)
      }
    }
    assert(refreshed, "lock mtime never refreshed during a long batch")
    // a live peer waits out the (refreshed) lock instead of stealing
    val bf = Future { b.upsert("c", Seq(("x", 1)).toDF("_id", "v")) }
    Await.result(Future.sequence(Seq(af, bf)), 5.minutes)
    assert(a.source(spark, "collection", "c").count() == 81)
    assert(!Files.exists(lock))
  }

  test("a staging write that fails after a steal backs off and retries") {
    val root = Files.createTempDirectory("graft-preempt").toString
    val io = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
    import spark.implicits._
    import org.apache.spark.sql.functions.udf
    io.upsert("c", Seq(("a", 1)).toDF("_id", "v"))
    // inside the staging write a peer steals the lock (and would remove
    // the staging dir), so the write fails; the peer's lock is aged so
    // the retry may steal it back at once
    CollectionLockSpec.stealOnce(Paths.get(s"$root/c.__lock").toString)
    val stealing = udf((i: Int) => { CollectionLockSpec.stealIfArmed(); i })
    // a range, not a local relation: the optimizer folds a UDF over
    // local rows at planning time, before the staging write
    io.upsert("c", spark.range(1).select(org.apache.spark.sql.functions
      .lit("b").as("_id"), stealing(col("id").cast("int") + 2).as("v")))
    assert(!CollectionLockSpec.armed.get, "the staging write never ran")
    assert(io.source(spark, "collection", "c").select("_id").as[String]
      .collect().toSet == Set("a", "b"))
    assert(stagingDirs(root).isEmpty, stagingDirs(root).toString)
  }

  test("a live peer's lock is honored until lockWaitMs, then fails loudly") {
    val root = Files.createTempDirectory("graft-held").toString
    val lock = Paths.get(s"$root/c.__lock")
    Files.createDirectories(lock.getParent)
    Files.writeString(lock, "live-peer-token") // fresh mtime = live
    val io = new ParquetCollectionIo(spark, root, new TestIo(Map.empty),
      lockWaitMs = 500)
    import spark.implicits._
    val e = intercept[IllegalStateException](
      io.upsert("c", Seq(("a", 1)).toDF("_id", "v")))
    assert(e.getMessage.contains("writer lock held"))
    assert(Files.readString(lock) == "live-peer-token",
      "the peer's lock must survive")
  }

  test("generation publish is a true CAS: one winner per slot") {
    // rename(2) silently replaces on POSIX, so an ATOMIC_MOVE "commit" is
    // a TOCTOU — a stalled writer waking past lockStaleMs could clobber
    // the stealing peer's manifest. The link(2)-based publish must admit
    // exactly one writer per generation however the lock behaved.
    val root = Files.createTempDirectory("graft-cas").toString
    val a = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
    val b = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
    import spark.implicits._
    a.upsert("c", Seq(("seed", 0)).toDF("_id", "v")) // gen 1 exists
    val base = a.genManifests("c").last._1
    val ma = a.casManifest("c",
      a.Manifest(base + 1, Map.empty, Nil, None))
    val mb = b.casManifest("c",
      b.Manifest(base + 1, Map.empty, Nil, None))
    assert(ma != mb, "exactly one writer may own a generation slot")
    // the loser retrying against the NEXT generation succeeds
    assert(b.casManifest("c", b.Manifest(base + 2, Map.empty, Nil, None)))
  }

  test("kill-point loop through commit: readers stay consistent, " +
      "a successor recovers every row") {
    import spark.implicits._
    for (kill <- 1 to 3) {
      val root = Files.createTempDirectory(s"graft-kill$kill").toString
      val w0 = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
      w0.upsert("c", Seq(("base", 0)).toDF("_id", "v"))
      val victim = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
      final class Boom extends RuntimeException(s"kill@$kill")
      victim.killPoint = p => if (p == kill) throw new Boom
      intercept[Boom] {
        victim.upsert("c", Seq(("mid", 1)).toDF("_id", "v"))
      }
      leaveDeadLock(root)
      // a concurrent reader sees EXACTLY one committed generation:
      // before the CAS (kill 1, 2) the old snapshot, after it (kill 3)
      // the new one — never an error, never a mix
      val reader = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
      val seen = reader.source(spark, "collection", "c")
        .select("_id").as[String].collect().toSet
      if (kill < 3) assert(seen == Set("base"), s"kill@$kill read $seen")
      else assert(seen == Set("base", "mid"), s"kill@$kill read $seen")
      // a successor writer recovers: its commit GCs the debris and lands
      val w2 = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
      w2.upsert("c", Seq(("after", 2)).toDF("_id", "v"))
      val fin = w2.source(spark, "collection", "c")
        .select("_id").as[String].collect().toSet
      assert(fin.contains("base") && fin.contains("after"),
        s"kill@$kill final $fin")
      // at most two generation files survive (N and N-1): unbounded
      // growth would re-introduce the listing cost the manifest avoids
      assert(w2.genManifests("c").size <= 2)
      // the stealer removed the dead victim's staged batch
      assert(stagingDirs(root).isEmpty, s"kill@$kill: ${stagingDirs(root)}")
    }
  }

  test("kill-point loop through a first write: no generation, no rows") {
    // the collection has no committed generation before the victim's
    // write: until its CAS lands (kill 1, 2) readers are refused and the
    // moved files are never adopted; after it (kill 3) they are the
    // collection
    import spark.implicits._
    def ids(io: ParquetCollectionIo) = io.source(spark, "collection", "c")
      .select("_id").as[String].collect().toSet
    for (kill <- 1 to 3) {
      val root = Files.createTempDirectory(s"graft-first$kill").toString
      val victim = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
      final class Boom extends RuntimeException(s"kill@$kill")
      victim.killPoint = p => if (p == kill) throw new Boom
      intercept[Boom] {
        victim.upsert("c", Seq(("mid", 1)).toDF("_id", "v"))
      }
      leaveDeadLock(root)
      val reader = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
      if (kill < 3) {
        val e = intercept[IllegalStateException](ids(reader))
        assert(e.getMessage.contains("collection c "), s"kill@$kill: $e")
      } else assert(ids(reader) == Set("mid"), s"kill@$kill")
      val w2 = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
      w2.upsert("c", Seq(("after", 2)).toDF("_id", "v"))
      val fin = ids(w2)
      if (kill < 3) assert(fin == Set("after"), s"kill@$kill final $fin")
      else assert(fin == Set("mid", "after"), s"kill@$kill final $fin")
      // the successor's commit GCs every bucket dir, not only its live
      // ones: the dead writer's moved file may sit in a bucket the new
      // generation does not list
      val m = Js.parse(Files.readString(w2.genManifests("c").last._2))
      val listed = (Js.fields(m.get("live")).flatMap(f => Js.elems(f._2)) ++
        Js.elems(m.get("retired"))).map(_.asText()).toSet
      val onDisk = {
        import scala.jdk.CollectionConverters._
        val c = Paths.get(s"$root/c")
        Files.walk(c).iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(c.relativize(_).toString).toSet
      }
      assert(onDisk.subsetOf(listed),
        s"kill@$kill unlisted files: ${onDisk -- listed}")
      assert(stagingDirs(root).isEmpty, s"kill@$kill: ${stagingDirs(root)}")
    }
  }
}

object CollectionLockSpec {
  /** The lock a staging-write task steals once, from inside the task. */
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var lock = ""
  def stealOnce(lockFile: String): Unit = { lock = lockFile; armed.set(true) }
  def stealIfArmed(): Unit =
    if (armed.compareAndSet(true, false)) {
      val p = Paths.get(lock)
      Files.writeString(p, "peer-token")
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - 3600_000))
      throw new IllegalStateException("staging dir removed by the stealer")
    }
}
