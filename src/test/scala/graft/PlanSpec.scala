package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan-shape regression guards: the properties that keep the engine
  * 100 TB-shaped must survive refactors — filters reach the parquet scan,
  * small lookup sides broadcast, pair search never degrades to a
  * nested-loop product, and nothing funnels through a single-partition
  * exchange on the batch path.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def q(name: String): DataFrame = {
    graft.queries.Q.session(spark)
    SparkEntry.queries(name)(spark, sf)
  }

  test("$match predicates push into the parquet scan") {
    val p = plan(q("q_match_basic"))
    // at least one scan carries a NON-empty pushed-filter list
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      "no filter reached the scan:\n" + p.take(800))
  }

  test("$lookup broadcasts the small dimension side") {
    val p = plan(q("q_lookup_unwind"))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("celled embedding pairs never plan a nested-loop product") {
    val p = plan(q("q_dedup_embedding_multiprobe"))
    // the centroid assignment broadcasts (nested-loop against a tiny
    // broadcast side is the intended crossJoin); the PAIR join must be a
    // hash equi-join on cell, never a product of the corpus with itself
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("banded simhash pairs join by equi-key, not all-pairs") {
    val p = plan(q("q_dedup_simhash_pairs"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("batch $per has no single-partition exchange") {
    graft.queries.Q.session(spark)
    val df = Tables.load(spark, sf, "region")
    val out = graft.op.Pipeline.run(df,
      """[{"$per":{"amount":2,"as":"batch"}}]""",
      graft.op.Env(spark))
    assert(!plan(out).contains("SinglePartition"), plan(out).take(1200))
  }

  test("LSH pair search is an equi-join on band keys") {
    val p = plan(q("q_dedup_lsh"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("bm25 joins terms and stats by broadcast, no product") {
    val p = plan(q("q_text_bm25"))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("interval join stays non-vacuous (was empty once in round 2)") {
    assert(q("q_interval_join").limit(1).count() == 1,
      "q_interval_join returned no rows — the signup→purchase window " +
        "predicate or the ns-epoch arithmetic regressed")
  }

  test("IVF+PQ composed search joins by equi-key, no corpus product") {
    val p = plan(q("q_knn_ivfpq"))
    // the only nested-loop allowed is the broadcast of the tiny coarse
    // centroid / codebook sides; the candidate and ADC joins must be
    // hash equi-joins, never a corpus×corpus product
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(1200))
  }

  test("hyperplane LSH candidates join on band keys, no corpus product") {
    val p = plan(q("q_dedup_hyperplane"))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(1200))
  }

  test("char entropy joins histogram to totals by equi-key") {
    val p = plan(q("q_text_entropy"))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("surprisal joins tokens to counts by token key, no product") {
    val p = plan(q("q_text_surprisal"))
    // the only broadcast is the single-row corpus total; the token join
    // must be a hash/sort-merge equi-join (no vocabulary broadcast
    // assumption, no product)
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(1200))
  }

  test("centroid assignment partial-aggregates before the exchange") {
    // The nearest-centroid ranking must be a map-side aggregate (min_by /
    // top_k_min), never a window row_number: a window shuffles the whole
    // corpus×centroids expansion (n×nlist rows) keyed by vector id, an
    // nlist× amplification of the hottest ANN/dedup path at 100 TB. Walk
    // the physical tree: no shuffle Exchange may reach the broadcast
    // nested-loop expansion without an Aggregate in between, and no
    // Window may appear at all.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def expansionLeaksIntoShuffle(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => false
      case _: BroadcastNestedLoopJoinExec => true
      case other => other.children.exists(expansionLeaksIntoShuffle)
    }
    graft.queries.Q.session(spark)
    val emb = Tables.load(spark, sf, "embeddings")
    val cents = emb.orderBy(col("vec_id")).limit(8)
    // exchanges are inserted by EnsureRequirements: inspect the executed
    // plan, with AQE off so it isn't wrapped in an opaque adaptive root
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for (np <- Seq(1, 2)) {
      val df = graft.ml.Similarity.assignCellsMulti(
        emb, cents, "embedding", "vec_id", np)
      val p = df.queryExecution.executedPlan
      assert(!p.toString.contains("Window"),
        s"nprobe=$np assignment plans a window:\n" + p.toString.take(1500))
      val shuffles = p.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.nonEmpty)
      shuffles.foreach { e =>
        assert(!expansionLeaksIntoShuffle(e.children.head),
          s"nprobe=$np: a shuffle carries the corpus×centroids expansion " +
            "without a partial aggregate below it:\n" + p.toString.take(1500))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ANN search top-k is a bounded aggregate, never a query window") {
    // a row_number window keyed by query_id shuffles EVERY candidate to
    // the query's partition and sorts there — a hot probed cell becomes a
    // hot partition at 100×; top_k_min combines map-side to k rows per
    // query. pqTrain's tiny seed window (over a limit(ksub) frame) is the
    // one window allowed: assert no window is KEYED on query_id.
    for (name <- Seq("q_knn_ivf", "q_knn_ivf_kmeans", "q_knn_pq",
        "q_knn_ivfpq", "q_knn_ivf_persisted", "q_knn_projected_ivf",
        "q_knn_projected_ivf_persisted", "q_margin_mine_ivf")) {
      val p = plan(q(name))
      assert(!"windowspecdefinition\\(query_id".r.findFirstIn(p).isDefined,
        s"$name ranks candidates with a query-keyed window:\n" +
          p.take(1500))
    }
  }

  test("contamination is an equi-join on the shingle key, no product") {
    val p = plan(q("q_contamination"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("packChunks never windows the whole corpus in one partition") {
    // the global prefix sum is the two-level bucket scan: the per-row
    // window is keyed by __bkt (hash-partitioned); only the bucket-TOTALS
    // window (N/bucketSize rows) may run single-partition
    graft.queries.Q.session(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ml.Curation.packChunks(
        Tables.load(spark, sf, "documents"), "text", "doc_id",
        chunkTokens = 64, bucketSize = 50)
      val p = df.queryExecution.executedPlan
      val windows = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, p.toString.take(1500))
      val rowLevel = windows.filter(
        _.partitionSpec.exists(_.toString.contains("__bkt")))
      assert(rowLevel.nonEmpty,
        "per-row cumsum window lost its bucket key:\n" +
          p.toString.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("packTokenIds: per-doc flatten + bucketed placement, no " +
    "corpus-wide window, no product") {
    // the id-stream flatten is a per-doc hash aggregate (collect_list
    // keyed by doc), the placement is the two-level bucket scan, and
    // the id stream joins its offset by doc equi-key — the only
    // single-partition window is the N/bucketSize bucket-totals pass
    graft.queries.Q.session(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.load(spark, sf, "documents")
        .where(col("doc_id") < 50)
        .select(col("doc_id"), col("text"))
      import spark.implicits._
      val enc = docs
        .select(col("doc_id"),
          posexplode(split(col("text"), " "))
            .as(Seq("tok_pos", "__w")))
        .select(col("doc_id"), col("tok_pos").cast("long").as("tok_pos"),
          array(length(col("__w")).cast("long")).as("piece_ids"))
      val df = graft.ml.Curation.packTokenIds(enc, "doc_id", 64, 50)
      val p = df.queryExecution.executedPlan
      assert(!p.toString.contains("CartesianProduct"),
        p.toString.take(1500))
      val windows = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      val rowLevel = windows.filter(
        _.partitionSpec.exists(_.toString.contains("__bkt")))
      assert(rowLevel.nonEmpty,
        "per-row cumsum window lost its bucket key:\n" +
          p.toString.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("placeDocs offsets: no unpartitioned window over the bucket " +
    "table (10^11-doc hardening)") {
    // the bucket-offset level is itself bucketed (exclusiveOffsets):
    // buckets cumsum inside their super-bucket (__sbkt-partitioned
    // window) and ONLY the super totals — n_buckets / 2^16 rows —
    // pass through an unpartitioned window. Before round 16 the whole
    // n_docs/bucketSize bucket table ran through one task + a forced
    // broadcast: the verdict's scale escape hatch at 10^11+ docs.
    graft.queries.Q.session(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ml.Curation.packChunks(
        Tables.load(spark, sf, "documents"), "text", "doc_id",
        chunkTokens = 64, bucketSize = 50)
      val p = df.queryExecution.executedPlan
      val windows = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.exists(
        _.partitionSpec.exists(_.toString.contains("__sbkt"))),
        "bucket-level cumsum window lost its super-bucket key:\n" +
          p.toString.take(1500))
      val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
      assert(unpartitioned.size == 1,
        s"exactly ONE unpartitioned window (the super-totals level, " +
          s"n_buckets/2^16 rows) may exist, found ${
            unpartitioned.size}:\n" + p.toString.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("curriculumOrder keeps the bucketed-window discipline: every " +
    "window but the super-totals level is partitioned") {
    graft.queries.Q.session(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = q("q_curriculum_order")
      val p = df.queryExecution.executedPlan
      val windows = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty)
      val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
      assert(unpartitioned.size <= 1,
        "only the exclusiveOffsets super-totals window may be " +
          s"unpartitioned, found ${unpartitioned.size}:\n" +
          p.toString.take(1500))
      assert(!p.toString.contains("CartesianProduct"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("corpusDiff plans one full-outer id equi-join of fingerprint " +
    "projections — no window, no product") {
    val p = plan(q("q_corpus_diff"))
    assert(p.contains("FullOuter"), p.take(1200))
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("exclusiveOffsets: exact exclusive prefix sums across super " +
    "buckets; placement invariant to bucketSize") {
    graft.queries.Q.session(spark)
    import spark.implicits._
    // 100 keys, superFan 8 → 13 super buckets: the three-level path
    // engages and must still produce the plain exclusive scan
    val totals = (0L until 100L).map(k => (k, k % 7 + 1)).toDF("k", "t")
    val got = graft.ml.Curation
      .exclusiveOffsets(totals, "k", "t", "off", superFan = 8)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = (0L until 100L).map(k =>
      (k, (0L until k).map(_ % 7 + 1).sum))
    assert(got.toSeq === expect)
    // placement is a pure function of the id order — bucketSize (and
    // with it the bucket/super-bucket structure) must not change it
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), (col("n_chars") % 50 + 1).as("sz"))
    def place(b: Long) = graft.ml.Curation
      .packChunksBySize(docs, "doc_id", "sz", chunkTokens = 64,
        bucketSize = b)
      .orderBy("doc_id", "chunk_id").collect().map(_.toString).toSeq
    assert(place(7L) === place(1000L))
  }

  test("q_corpus_report_sketched: every leg reads a pinned scan — no " +
    "direct corpus re-scan") {
    // one pinned documents aggregate feeds n_docs + the length
    // histogram; one pinned counted-register aggregate of the token
    // explode feeds n_tokens + the HLL estimate. The joined plan must
    // read ONLY InMemoryTableScans of those two pins — a FileScan of
    // documents in the visible plan means a leg escaped its pin and
    // re-buys a corpus pass per report column at 100 TB.
    // structural check: InMemoryTableScan is a LEAF, so a FileSource
    // scan collected from the tree is one OUTSIDE the pins (the scan
    // feeding a pin sits inside the InMemoryRelation's cached plan and
    // is paid once) — disable AQE so the tree is concrete
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = q("q_corpus_report_sketched")
      val exec = df.queryExecution.executedPlan
      val pins = exec.collect {
        case s: org.apache.spark.sql.execution.columnar
            .InMemoryTableScanExec => s
      }
      assert(pins.size >= 4,
        "expected all four legs on the two pins:\n" +
          exec.toString.take(1500))
      val escaped = exec.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(escaped.isEmpty,
        "a leg escaped its pin and re-scans the corpus:\n" +
          exec.toString.take(1500))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.ml.CacheLifecycle.releaseAll()
    }
  }

  test("q_corpus_report_incremental: card folds from the standing " +
    "states alone — no documents FileScan") {
    // the read-time card is two folds over the config-scale delta
    // tables (docbuckets, tokregs); the corpus was paid once, at
    // append time, per batch. A FileScan whose path is NOT under the
    // state directory means a leg reached back to the corpus and the
    // "incremental" card re-buys the 100 TB scan it exists to avoid.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = q("q_corpus_report_incremental")
      val stateDir = graft.queries.Round17Queries.cardStateFor(spark, sf)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, "expected the two state-dir scans:\n" +
        df.queryExecution.executedPlan.toString.take(1500))
      val outside = scans.flatMap(_.relation.location.rootPaths)
        .filterNot(_.toString.contains(
          new java.io.File(stateDir).getName))
      assert(outside.isEmpty,
        s"a leg escaped the standing state and re-scans the corpus: " +
          s"$outside")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_sketch_quantile_signed: hash-aggregate sketch, config-scale " +
    "window only") {
    // the signed sketch keeps the histogram discipline: bucket table
    // via hash aggregate, extraction windows over ≤ 2·63·2^b+1 rows
    // per group — never a corpus-scale window, never a product
    val p = plan(q("q_sketch_quantile_signed"))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    val df = q("q_sketch_quantile_signed")
    val windows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(
      _.partitionSpec.exists(_.toString.contains("event_type"))),
      "a window lost its group key:\n" + p.take(1500))
  }

  test("packBins rides the same bucketed scan — no corpus-wide window") {
    graft.queries.Q.session(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ml.Curation.packBins(
        Tables.load(spark, sf, "documents"), "text", "doc_id",
        binTokens = 512, bucketSize = 50)
      val p = df.queryExecution.executedPlan
      val windows = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, p.toString.take(1500))
      assert(windows.exists(
        _.partitionSpec.exists(_.toString.contains("__bkt"))),
        "per-row cumsum window lost its bucket key:\n" +
          p.toString.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("selectByBudget windows by quality bucket, not the whole corpus") {
    graft.queries.Q.session(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ml.Curation.selectByBudget(
        Tables.load(spark, sf, "documents"), "text", "doc_id", 5000)
      val p = df.queryExecution.executedPlan
      val windows = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.exists(
        _.partitionSpec.exists(_.toString.contains("__bkt"))),
        "running sum lost its quality-bucket key:\n" + p.toString.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("shuffleOrder ranks inside hash-range buckets, never globally") {
    // the per-row rank window must be keyed by __bkt (each bucket is
    // ~n/buckets rows); an unkeyed window may only run over the bucket
    // COUNT frame (<= buckets rows — an Aggregate sits below it)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    def hasAggBelow(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => true
      case other                => other.children.exists(hasAggBelow)
    }
    graft.queries.Q.session(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ml.Curation.shuffleOrder(
        Tables.load(spark, sf, "documents").select("doc_id"), "doc_id")
      val p = df.queryExecution.executedPlan
      val windows = p.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, p.toString.take(1500))
      windows.foreach { w =>
        val bucketed = w.partitionSpec.exists(_.toString.contains("__bkt"))
        assert(bucketed || hasAggBelow(w),
          "a raw-row window ranks the whole corpus in one task:\n" +
            p.toString.take(1500))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("domainMix ranks inside hash buckets, never one task per domain") {
    // the per-row ranking window must be keyed by (source, __hbkt) so a
    // 30%-of-corpus domain is ~buckets parallel sorts; a window keyed on
    // the source alone may only run over the AGGREGATED counts frame
    // (|sources|×|buckets| rows — an Aggregate sits below it)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    def hasAggBelow(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => true
      case other                => other.children.exists(hasAggBelow)
    }
    graft.queries.Q.session(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ml.Curation.domainMix(
        Tables.load(spark, sf, "documents"), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      val p = df.queryExecution.executedPlan
      val windows = p.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, p.toString.take(1500))
      windows.foreach { w =>
        val keys = w.partitionSpec.map(_.toString)
        val bucketed = keys.exists(_.contains("__hbkt"))
        assert(bucketed || hasAggBelow(w),
          "a raw-row window is keyed per-domain only (hot-domain " +
            "funnel):\n" + p.toString.take(1500))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("incremental dedup Bloom-prefilters the reference side") {
    val p = plan(q("q_dedup_incremental"))
    // the reference corpus must pass through the codegen'd Bloom probe
    // BEFORE the anti-join shuffle — at 100 TB that filter is what keeps
    // the shuffle at ~|new batch| rows instead of |reference|
    assert(p.contains("might_contain"),
      "no Bloom prefilter on the reference scan:\n" + p.take(1200))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("segment dedup aggregates and anti-joins, never windows") {
    val p = plan(q("q_dedup_segments"))
    // document-frequency threshold = partial aggregate + tiny broadcast
    // (the 1-row corpus count); reassembly = aggregation by doc id. A
    // Window here would mean a per-document (or worse, corpus-wide) sort
    // funnel that the collect_list/array_sort formulation avoids
    assert(!p.contains("Window"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("random projection is a narrow map — no exchange, no join") {
    val p = plan(q("q_embed_project"))
    // the sign matrix is a driver-built literal: the projection must be
    // pure per-row arithmetic (scan -> project -> explode), because at
    // 100 TB any shuffle or matrix join here would dwarf the savings the
    // narrower vectors buy downstream
    assert(!p.contains("Exchange"), p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("content-defined chunking is a narrow explode; dup score joins by hash") {
    val p1 = plan(q("q_chunk_content"))
    assert(!p1.contains("Exchange") && !p1.contains("Join"), p1.take(1200))
    val p2 = plan(q("q_chunk_dedup"))
    // chunk + hash + distinct-doc count + equi-join back: aggregates and
    // a hash-keyed join only — never a window, never a product, and the
    // join key is the 8-byte hash, not the chunk text
    assert(!p2.contains("Window"), p2.take(1200))
    assert(!p2.contains("CartesianProduct"), p2.take(1200))
  }

  test("chunk keep-list joins by hash and aggregates, never windows") {
    val p = plan(q("q_chunk_keeplist"))
    // min-owner per chunk hash = partial aggregate; membership = equi-join
    // on the 8-byte hash; reassembly = collect_list/array_sort per doc. A
    // Window would funnel a hot boilerplate chunk's occurrences through
    // one sorted partition
    assert(!p.contains("Window"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("near-dedup broadcasts the batch bands; reference never products") {
    val p = plan(q("q_dedup_near_incremental"))
    // the batch side of the band join must BROADCAST: at 100 TB the
    // reference corpus streams through the probe — a shuffle join here
    // would move the whole reference's band table
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("persisted projected IVF search equi-joins the narrow index") {
    val p = plan(q("q_knn_projected_ivf_persisted"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("perceptual pair searches join by band key, never by product") {
    // image aHash, audio envelope, video shared-frame: all ride the
    // 64-bit pigeonhole band equi-join — a CartesianProduct here would
    // be the quadratic frame/clip/image scan the banding exists to avoid
    for (q <- Seq("q_multimodal_ahash", "q_multimodal_audio_pairs",
        "q_multimodal_video_pairs")) {
      val p = plan(this.q(q))
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$q:\n" + p.take(1200))
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(1200))
    }
  }

  test("quality funnel is a narrow map — no exchange, no join") {
    val p = plan(q("q_quality_funnel"))
    assert(!p.contains("Exchange"), p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("domain stats: narrow extraction map + partial hash aggregate") {
    val p = plan(q("q_domain_stats"))
    // host/domain extraction must stay a projection feeding a partial
    // (map-side) aggregate — a window or a product here would serialize
    // the corpus; the only exchange is the hash-partitioned aggregate
    // shuffle on the domain key
    assert(p.contains("HashAggregate"), p.take(1200))
    assert(!p.contains("Window"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("SinglePartition"), p.take(1200))
  }

  test("PSL domain resolution is broadcast-join only — corpus never shuffles") {
    val p = plan(q("q_domain_psl"))
    // the suffix table joins as ≤ label-count broadcast classes against
    // computed tail keys: every join must be a map-side
    // BroadcastHashJoin and the corpus must reach the output without a
    // single hash-partition exchange (the naive explode+groupBy+join-
    // back form costs two corpus shuffles)
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("Exchange hashpartitioning"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("link extraction is a narrow map + explode — no exchange") {
    val p = plan(q("q_extract_links"))
    assert(!p.contains("Exchange"), p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
    assert(p.contains("Generate"), p.take(1500)) // the explode
  }

  test("pagerank iterations are equi-joins over checkpointed ranks") {
    val p = plan(q("q_pagerank"))
    // the returned frame is the final checkpointed ranks — iterations
    // already ran as equi-join + partial-agg rounds; nothing in the
    // final plan may be a product or a window
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("winnowing selects via partial min_by, never a corpus window") {
    val p = plan(q("q_winnow_fingerprints"))
    // the per-window argmin is a partial aggregate keyed on (id, q) —
    // map-side combined; a row_number window here would sort the w×
    // fanned gram stream per document
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val pp = plan(q("q_winnow_pairs"))
    assert(!pp.contains("Window"), pp.take(1500))
    assert(!pp.contains("CartesianProduct"), pp.take(1500))
  }

  test("html extraction is a narrow map — no exchange, no join") {
    val p = plan(q("q_html_text"))
    assert(!p.contains("Exchange"), p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("domain blocklist is broadcast-join only — corpus never shuffles") {
    val p = plan(q("q_domain_blocklist"))
    // the blocklist joins as per-label-count broadcast classes on
    // computed tail keys, exactly the PSL shape: map-side
    // BroadcastHashJoins, zero corpus exchange
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("Exchange hashpartitioning"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("full-PSL registrable domain is broadcast-join only — the real " +
    "9.6k-rule list never shuffles the corpus") {
    import spark.implicits._
    val psl = graft.ml.Curation.publicSuffixList(spark)
    val hosts = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("concat('h', doc_id % 50, '.example.co.uk') AS host")
    val p = plan(
      graft.ml.Curation.registrableDomainPsl(hosts, "host", psl))
    // every (kind, label-count) class joins as a map-side broadcast on
    // a computed tail key; the corpus is scanned once, never exchanged
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("Exchange hashpartitioning"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("PSL-threaded compositions stay broadcast-only: domainStats and " +
    "the authority rollup add no corpus exchange for the keying") {
    // q_domain_stats_psl: the ONLY hash exchange is the stats
    // aggregate itself; every PSL class joins map-side
    val p = plan(q("q_domain_stats_psl"))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    // only the stats aggregation exchanges: (domain, __host) partial-
    // distinct then domain — Spark's standard two-phase distinct
    // rewrite. The PSL keying itself must not add a third.
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(p).size
    assert(exchanges <= 2, s"$exchanges corpus exchanges:\n${p.take(1500)}")
  }

  test("incremental URL dedup probes the index by broadcast, no product") {
    val p = plan(q("q_url_dedup_incremental"))
    // the persisted index must stream against broadcast batch keys —
    // billions of indexed urls never shuffle; batch-sized aggregations
    // are the only hash exchanges
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("domain mix from urls is a narrow hash-threshold filter") {
    val p = plan(q("q_domain_mix_urls"))
    // quotas are computed at call time from one bounded aggregate; the
    // RETURNED plan must be scan + extraction + literal-map threshold
    // compare — no join, no window, no exchange at all
    assert(!p.contains("Exchange"), p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("aHash index dedup joins stored signatures by band key") {
    val p = plan(q("q_multimodal_ahash_index"))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("large-merge BPE encode: distinct-word equi-join, no window, " +
    "no product, no corpus collect") {
    val p = plan(q("q_bpe_encode_large"))
    // vocabulary encodes once (mapPartitions over the distinct word
    // table with broadcast ranks) and joins back by word — shuffles
    // are the distinct/join/agg hash exchanges only
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("domain link quality: two hash aggregates + broadcast-able " +
    "authority join, no window, no product") {
    val p = plan(q("q_domain_link_quality"))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("gopher rules are a narrow per-row map — no exchange, no join") {
    val p = plan(q("q_gopher_rules"))
    assert(!p.contains("Exchange"), p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("DSIR models broadcast; weights never window or product") {
    // DSIR's point at 100 TB: the bucket models are fixed-size
    // aggregates that broadcast regardless of corpus size (the 1-row
    // totals ride the intended tiny-side nested-loop crossJoin)
    val p = plan(q("q_dsir_weights"))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("DSIR selection is a global top-k, not a sort or a window") {
    val p = plan(q("q_dsir_select"))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("gopher repetition = hash aggregates + equi-joins, no mode loop") {
    // the n-gram stats must NOT plan as a window or product — they are
    // partial-aggregate counts and distinct-position coverage joins
    val p = plan(q("q_gopher_repetition"))
    assert(p.contains("HashAggregate"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("vocabulary is a global top-k over one hash aggregate") {
    val p = plan(q("q_vocabulary"))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(p.contains("HashAggregate"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("tfidf model sides broadcast; no product, no window") {
    // the per-bucket df table (<= dim rows) and the 1-row corpus count
    // must broadcast — the corpus side never re-shuffles for the model
    val p = plan(q("q_tfidf"))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("perplexity buckets: window only over the bounded histogram") {
    // the corpus-side assignment is a broadcast join of per-group
    // boundaries; the only Window runs on the aggregated histogram
    val p = plan(q("q_ppl_buckets"))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, "the histogram cumulative sum should plan as " +
      "one Window over the aggregated frame")
  }

  test("exact-substring dedup: 16-byte-key aggregates, no product") {
    // the duplicated-window detection must stay equi-joined on the
    // two md5 halves — never a window, never a nested loop
    val p = plan(q("q_exact_substring"))
    assert(p.contains("HashAggregate"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("domain quality stats and token histogram are map + aggregate") {
    Seq("q_domain_quality", "q_token_histogram").foreach { name =>
      val p = plan(q(name))
      assert(p.contains("HashAggregate"), name + "\n" + p.take(1200))
      assert(!p.contains("Join"), name + "\n" + p.take(1200))
      assert(!p.contains("Window"), name + "\n" + p.take(1200))
    }
  }

  test("bpe encode is per-row merge replay + one id aggregate") {
    val p = plan(q("q_bpe_encode"))
    assert(p.contains("HashAggregate"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("quality pipeline composes without new shuffles or products") {
    val p = plan(q("q_quality_pipeline"))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("C4 rules are a narrow per-row map — no exchange, no join") {
    val p = plan(q("q_c4_rules"))
    assert(!p.contains("Exchange"), p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("post-fold index probes keep the index stream-side, no product") {
    // the loop queries probe an index that an update appended to: the
    // probe after the fold must keep the exact shape of the probe
    // before it — broadcast batch side, no product, no window funnel
    for (name <- Seq("q_url_index_loop", "q_dedup_near_loop",
        "q_multimodal_ahash_loop", "q_multimodal_audio_index")) {
      val p = plan(q(name))
      assert(p.contains("BroadcastHashJoin"), s"$name:\n" + p.take(1500))
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(1500))
      assert(!p.contains("Window"), s"$name:\n" + p.take(1500))
    }
  }

  test("embedding dedup resolution joins the corpus by equi-key only") {
    val p = plan(q("q_dedup_embeddings"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("classifier scoring is a narrow map — no exchange, no join") {
    val p = plan(q("q_quality_clf"))
    // the model is a literal map folded per row: the 100 TB scoring
    // pass must be scan + projection only — no exchange, no join, no
    // window, no aggregate
    assert(!p.contains("Exchange"), p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("HashAggregate"), p.take(1500))
    // the margin must stay the native codegen expression — a HOF fold
    // here interprets every token's md5 on the corpus-sized pass
    assert(p.contains("hashed_margin"), p.take(1500))
  }

  test("classifier domain report: narrow score map + one hash aggregate") {
    val p = plan(q("q_quality_clf_domains"))
    // url→domain extraction and the native margin live in one codegen'd
    // projection feeding a partial hash aggregate on the domain key —
    // no window, no join, no product on the corpus path
    assert(p.contains("hashed_margin"), p.take(1500))
    assert(p.contains("HashAggregate"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("prototype pruning: one per-cell window, centroid joins broadcast") {
    val p = plan(q("q_prototype_prune"))
    // the rank is the one intended window (partitioned BY CELL — sorts
    // run cell-parallel and spill); the nlist-row centroid and quota
    // frames must broadcast, and nothing may funnel to one partition
    // except the bounded quota aggregate
    assert(p.contains("Window"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("unigram encode: distinct-word viterbi joins back by word key") {
    // the corpus-sized legs are the token explode and the word
    // equi-join back; the Viterbi pass runs once per DISTINCT word
    // against the broadcast vocabulary — never a product, never a
    // corpus window, never a sort of the token stream
    for (name <- Seq("q_unigram_encode", "q_tokenizer_fertility")) {
      val p = plan(q(name))
      assert(p.contains("HashAggregate"), s"$name:\n" + p.take(1500))
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(1500))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n" + p.take(1500))
      assert(!p.contains("Window"), s"$name:\n" + p.take(1500))
    }
  }

  test("semantic decontamination: broadcast bench, one corpus aggregate") {
    // the nested-loop is against the require-bounded BROADCAST eval
    // set (the codebook precedent); the only exchange is the
    // map-side-combined per-id max — never a corpus sort or window
    val p = plan(q("q_decontaminate_semantic"))
    assert(p.contains("HashAggregate"), p.take(1500))
    assert(p.contains("Broadcast"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("wordpiece encode: distinct-word MaxMatch joins back by word key") {
    // same contract as the unigram/BPE encoders: greedy MaxMatch runs
    // once per DISTINCT word against the broadcast vocabulary set and
    // equi-joins back to token occurrences — never a product, never a
    // corpus window, never a sort of the token stream
    for (name <- Seq("q_wordpiece_encode", "q_wordpiece_encode_ids")) {
      val p = plan(q(name))
      assert(p.contains("HashAggregate"), s"$name:\n" + p.take(1500))
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(1500))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n" + p.take(1500))
      assert(!p.contains("Window"), s"$name:\n" + p.take(1500))
    }
  }

  test("sketches: pure hash-aggregates, bounded exchanges, no window") {
    // HLL is two hash-aggregates (the post-combine exchange carries at
    // most m rows per group whatever the corpus size); KMV rides the
    // bounded top_k_min partial aggregate (<= k per group per map
    // task) — never a window sort of the corpus, never a product
    for (name <- Seq("q_sketch_hll", "q_sketch_hll_merge",
        "q_sketch_hll_loop", "q_sketch_hll_small", "q_sketch_hll_daily",
        "q_sketch_kmv", "q_sketch_kmv_loop")) {
      val p = plan(q(name))
      assert(p.contains("HashAggregate"), s"$name:\n" + p.take(1500))
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(1500))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n" + p.take(1500))
      assert(!p.contains("Window"), s"$name:\n" + p.take(1500))
      assert(!p.contains("SortMergeJoin"), s"$name:\n" + p.take(1500))
    }
    // frequency quantiles: one corpus hash-aggregate; the Window is
    // ALLOWED here because it runs over the (group, value, freq)
    // table — partition size is the value domain, never the corpus
    val pq = plan(q("q_quantile_freq"))
    assert(pq.contains("HashAggregate"), pq.take(1500))
    assert(!pq.contains("CartesianProduct"), pq.take(1500))
    assert(!pq.contains("BroadcastNestedLoopJoin"), pq.take(1500))
    // Count-Min probes join the config-scale d*w grid broadcast
    for (name <- Seq("q_sketch_cms", "q_sketch_cms_loop")) {
      val p = plan(q(name))
      assert(p.contains("BroadcastHashJoin"), s"$name:\n" + p.take(1500))
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(1500))
      assert(!p.contains("Window"), s"$name:\n" + p.take(1500))
    }
  }

  test("quantile histogram: hash-aggregates + config-scale window only") {
    // the corpus pass is ONE hash-aggregate to <= 63*2^b+1 buckets per
    // group; the Window is allowed because it runs over that folded
    // bucket table (config-scale partitions), never the corpus
    for (name <- Seq("q_sketch_quantile", "q_sketch_quantile_loop",
        "q_sketch_quantile_scores")) {
      val p = plan(q(name))
      assert(p.contains("HashAggregate"), s"$name:\n" + p.take(1500))
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(1500))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n" + p.take(1500))
      assert(!p.contains("SortMergeJoin"), s"$name:\n" + p.take(1500))
    }
  }

  test("kmv overlap: two bounded bottom-k aggregates + sketch-scale window") {
    // both corpus passes are top_k_min partial aggregates (<= k rows
    // per group per side); the window runs over the <= 2k-per-group
    // merged sketch — config-scale, never the corpus. No products.
    val p = plan(q("q_kmv_overlap"))
    val pl = plan(q("q_kmv_overlap_loop"))
    assert(!pl.contains("CartesianProduct") &&
      !pl.contains("SortMergeJoin"), pl.take(1500))
    assert(p.contains("HashAggregate"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("byte-fallback encode keeps the distinct-word equi-join shape") {
    // same scale shape as the plain encode-ids gates: encode once per
    // DISTINCT word against broadcast state, equi-join back — the
    // fallback must not introduce a window or product
    for (name <- Seq("q_unigram_bytes", "q_wordpiece_bytes")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(1500))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n" + p.take(1500))
      assert(!p.contains("Window"), s"$name:\n" + p.take(1500))
    }
  }

  test("domain-stats KMV composition scans the corpus ONCE (pinned)") {
    // the r14 weak plan: an un-pinned keyed frame re-ran the documents
    // scan AND the URL-derivation tree per consumer leg. The pin is
    // the fix — both legs must read the InMemoryRelation, and the
    // domain filter must sit above it (not substituted into the url
    // expression tree)
    val p = plan(q("q_domain_stats_kmv"))
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      "keyed projection is no longer pinned:\n" + p.take(1500))
    graft.ml.CacheLifecycle.releaseAll()
    val p2 = plan(q("q_assign_splits_grouped"))
    assert(p2.contains("InMemoryTableScan") || p2.contains("TableCacheQueryStage"),
      "splits keyed projection is no longer pinned:\n" + p2.take(1500))
    graft.ml.CacheLifecycle.releaseAll()
  }

  test("batch href resolution never collects state to the driver") {
    // The pass-1 final states must reach reducers via an executor-side
    // store publish (foreachPartition → HrefStore) or an external
    // resolver — a driver-side collect().toMap is O(#aggregate
    // instances) driver heap and OOMs at millions of entities.
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get(
        "src/main/scala/graft/streaming/AppRunner.scala"))
    assert(!src.contains(".collect()"),
      "AppRunner gained a driver-side collect — route batch href " +
        "state through HrefStore/foreachPartition instead")
  }
}
