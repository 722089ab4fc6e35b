package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.ParquetCollectionIo
import org.apache.spark.sql.functions.col

/** Snapshot isolation for collection readers (manifest commit protocol):
  * a write moves new files in additively, publishes the next
  * `__manifest-<gen>`, and deletes a replaced file only one generation LATER —
  * so a plan resolved against generation k still scans cleanly after
  * k+1 lands, and concurrent readers never glimpse a half-swapped
  * bucket.
  */
class CollectionSnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("a reader plan survives the next write generation") {
    val root = Files.createTempDirectory("graft-snap").toString
    val io = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
    import spark.implicits._
    io.upsert("c", (0 until 50).map(i => (s"id$i", 1)).toDF("_id", "v"))
    // resolve a plan against generation 1 (file list fixed at planning)
    val genOne = io.source(spark, "collection", "c").where(col("v") >= 1)
    assert(genOne.count() == 50)
    // generation 2 replaces every id: the gen-1 files are retired but
    // MUST still be on disk for the already-resolved plan
    io.upsert("c", (0 until 50).map(i => (s"id$i", 2)).toDF("_id", "v"))
    assert(genOne.count() == 50, "gen-1 snapshot broke after one write")
    // a FRESH read sees generation 2
    assert(io.source(spark, "collection", "c")
      .where(col("v") === 2).count() == 50)
    // generation 3 deletes the gen-1 files (grace passed) — only now may
    // the old plan fail; the new snapshot stays exact
    io.upsert("c", (0 until 50).map(i => (s"id$i", 3)).toDF("_id", "v"))
    assert(io.source(spark, "collection", "c")
      .where(col("v") === 3).count() == 50)
  }

  test("deleting every row reads back empty, not resurrected files") {
    val root = Files.createTempDirectory("graft-snap3").toString
    val io = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
    import spark.implicits._
    io.upsert("c", (0 until 20).map(i => (s"id$i", i)).toDF("_id", "v"))
    io.delete("c", (0 until 20).map(i => Tuple1(s"id$i")).toDF("_id"),
      Seq("_id"))
    // the replaced files are STILL on disk (one grace generation) — a
    // read of them would resurrect all 20 deleted rows here
    val read = io.source(spark, "collection", "c")
    assert(read.count() == 0, "deleted rows resurrected from retired files")
    // and the schema survives the emptying (an upsert/lookup against the
    // empty collection must still see the columns)
    assert(read.columns.toSet == Set("_id", "v"))
    io.upsert("c", Seq(("id0", 99)).toDF("_id", "v"))
    assert(io.source(spark, "collection", "c").count() == 1)
  }

  test("stray bucket files without a generation manifest are never read") {
    // parquet under `__bucket=0/` but no `__manifest-<gen>`: what a first
    // write leaves when it crashes after moving its files. Only a
    // committed generation says what a collection holds.
    val root = Files.createTempDirectory("graft-stray").toString
    import spark.implicits._
    Seq(("stray", 1)).toDF("_id", "v").write.parquet(s"$root/c/__bucket=0")
    val io = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
    val e = intercept[IllegalStateException](
      io.source(spark, "collection", "c"))
    assert(e.getMessage.contains("collection c "), e.getMessage)
    // the first commit starts from the empty snapshot: only its own rows
    io.upsert("c", Seq(("a", 1), ("b", 2)).toDF("_id", "v"))
    assert(io.source(spark, "collection", "c").select("_id").as[String]
      .collect().toSet == Set("a", "b"))
  }

  test("concurrent reads during continuous writes never fail or tear") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = Files.createTempDirectory("graft-snap2").toString
    val io = new ParquetCollectionIo(spark, root, new TestIo(Map.empty))
    import spark.implicits._
    io.upsert("c", (0 until 100).map(i => (s"id$i", 0)).toDF("_id", "v"))
    @volatile var writing = true
    val writer = Future {
      (1 to 8).foreach { gen =>
        io.upsert("c", (0 until 100).map(i => (s"id$i", gen))
          .toDF("_id", "v"))
      }
      writing = false
    }
    // every read must see EXACTLY one full generation: 100 rows, all of
    // one value (the manifest is the atomic commit point; bucket moves
    // are invisible)
    var reads = 0
    while (writing) {
      val vals = io.source(spark, "collection", "c")
        .select("v").as[Int].collect()
      assert(vals.length == 100,
        s"torn read: ${vals.length} rows at read $reads")
      assert(vals.toSet.size == 1,
        s"mixed generations in one read: ${vals.toSet} at read $reads")
      reads += 1
    }
    Await.result(writer, 5.minutes)
    assert(reads > 0)
    assert(!Files.exists(Paths.get(s"$root/c.__lock")))
  }
}
