package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{CacheLifecycle, Dedup, Graphs}

/** The ml operators pin internal caches their returned plans depend on
  * (band tables, signatures, codebooks, the components label
  * checkpoint). `CacheLifecycle.releaseAll()` is the deterministic
  * reclaim once a pass's output is written — this spec pins that the
  * pins are actually registered, actually released, and that
  * persist()-backed results stay correct (recompute) afterwards.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val sfDir = "/root/testdata/sf0.001"

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("releaseAll drops the band-table caches a dedup pass pinned") {
    CacheLifecycle.releaseAll() // drain pins earlier suites left behind
    val docs = Tables.load(spark, sfDir, "documents")
      .where(col("doc_id") < 300)
    val before = persistedIds
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxDist = 3)
    val r1 = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pinned = persistedIds -- before
    assert(pinned.nonEmpty,
      "simhashPairs must cache its banded signature table")
    val released = CacheLifecycle.releaseAll()
    assert(released >= 1)
    assert((persistedIds & pinned).isEmpty,
      "releaseAll must drop every cache the pass pinned")
    // a persist()-backed result recomputes after release — same answer
    val r2 = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r1 == r2)
    CacheLifecycle.releaseAll() // the recompute re-ran pin()
  }

  test("releaseAll reclaims the components label checkpoint") {
    CacheLifecycle.releaseAll()
    val edges = {
      import spark.implicits._
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    }
    val before = persistedIds
    val comp = Dedup.components(edges)
    assert(comp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
    val pinned = persistedIds -- before
    assert(pinned.nonEmpty,
      "the final labels localCheckpoint must be registered")
    CacheLifecycle.releaseAll()
    assert((persistedIds & pinned).isEmpty,
      "the checkpointed label blocks must be reclaimable after the " +
        "clusters are consumed")
  }

  test("a pageRank iteration that throws leaves nothing pinned") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    import org.apache.spark.sql.execution.LogicalRDD
    import spark.implicits._
    CacheLifecycle.releaseAll()
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "d")
    final class Injected extends RuntimeException("injected failure")
    // the first plan that reads a checkpointed iterate (a LogicalRDD
    // carrying pr_rank) is iteration 2's: fail it before it runs
    object FailSecondIteration extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if (plan.exists {
            case r: LogicalRDD => r.output.exists(_.name == "pr_rank")
            case _ => false
          }) throw new Injected
        plan
      }
    }
    val before = persistedIds
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved :+ FailSecondIteration
    val e =
      try intercept[Exception](Graphs.pageRank(edges, "s", "d", iters = 3))
      finally spark.experimental.extraOptimizations = saved
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[Injected]), e.toString)
    CacheLifecycle.releaseAll()
    assert((persistedIds -- before).isEmpty,
      "iteration 1's checkpoint must be released with the other pins")
  }

  test("releaseAll is empty-safe and returns the pin count") {
    CacheLifecycle.releaseAll()
    assert(CacheLifecycle.releaseAll() == 0)
  }

  test("dedupAgainstNear pins the reference band table across calls") {
    import spark.implicits._
    CacheLifecycle.releaseAll()
    val docs = Tables.load(spark, sfDir, "documents")
      .where(col("doc_id") < 200).select("doc_id", "text")
    val ref = docs.where(col("doc_id") < 150)
    val batch = docs.where(col("doc_id") >= 150)
    val before = persistedIds
    val r1 = Dedup.dedupAgainstNear(batch, ref, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val pinned = persistedIds -- before
    assert(pinned.nonEmpty,
      "the live near-dedup must cache the reference band table")
    // a second call against the SAME reference frame builds the same
    // band plan — the CacheManager resolves it to the cached table, so
    // the corpus-wide shingle+minhash pass is not repeated
    val again = Dedup.dedupAgainstNear(batch, ref, "text", "doc_id")
    assert(again.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"),
      "second call must read the pinned reference bands from cache")
    assert(again.select("doc_id").as[Long].collect().toSet == r1)
    val released = CacheLifecycle.releaseAll()
    assert(released >= 1)
    assert((persistedIds & pinned).isEmpty)
  }
}
