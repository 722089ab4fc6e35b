package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ml.Similarity
import graft.ml.Similarity.{IvfIndex, Projection}

/** ANN quality guard for the trained IVF codebook (farthest-first seeding +
  * Lloyd iterations, Similarity.scala). Two data regimes:
  *
  *  - skewed corpus (a dominant near-duplicate cluster, the shape web-scale
  *    training data actually has): training must BEAT the id-prefix
  *    codebook's recall — near-identical id-prefix centroids shred the
  *    cluster across cells on 6th-decimal cosine noise, losing neighbors.
  *  - uniform corpus (the synthetic embeddings table, no cluster
  *    structure): there is nothing to learn, so parity within tolerance is
  *    the correct expectation, not a win.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val sfDir = "/root/testdata/sf0.001"
  private val K = 5
  private val Nprobe = 2
  private val Nlist = 8

  private def recallOf(corpus: DataFrame, queries: DataFrame,
      cents: DataFrame): Double = {
    val exact = Similarity
      .bruteForceTopK(corpus, queries, "embedding", "vec_id", K)
      .select("query_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = IvfIndex
      .build(corpus, "embedding", "vec_id", centroids = Some(cents))
      .search(queries, K, Nprobe)
      .select("query_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.intersect(exact).size.toDouble / exact.size
  }

  private def trainedOn(corpus: DataFrame): DataFrame =
    Similarity.kmeansCentroids(corpus, "embedding", "vec_id", Nlist,
      iters = 2,
      init = Some(Similarity.seedFarthestFirst(corpus, "embedding",
        "vec_id", Nlist, rounds = 4)))

  private def idPrefixOn(corpus: DataFrame): DataFrame =
    corpus.orderBy(col("vec_id")).limit(Nlist)
      .select(col("vec_id"), col("embedding"))

  test("farthest-first seeding is round-bounded in Spark jobs") {
    // the seeding loop is driver-coordinated: each round = one admission
    // job + one count, plus the initial lowest-id job. Unbounded job
    // growth (or a cache regression re-scanning the corpus per job) is
    // what made the kmeans bench swing 3× with ambient load — pin the
    // job count per (rounds) so it can't creep.
    graft.queries.Q.session(spark)
    val corpus = Tables.load(spark, sfDir, "embeddings")
      .where(col("vec_id") < 300)
    val counter = new org.apache.spark.scheduler.SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val seeds = Similarity.seedFarthestFirst(corpus, "embedding",
        "vec_id", Nlist, rounds = 1)
      assert(seeds.count() == Nlist)
      // listener events are async; give the bus a beat to drain
      Thread.sleep(500)
      // rounds=1: initial seed job + 1 admission round (its count
      // materializes the union) + the assertion count above; AQE splits
      // each action into a few stage-jobs, so the bound carries slack —
      // what it forbids is O(nlist) growth (one job per admitted seed
      // would be 8+ admission jobs alone before AQE multiplication)
      assert(counter.jobs.get() <= 12,
        s"seeding launched ${counter.jobs.get()} jobs for 1 round")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("tuneIvf derives nlist≈√n and probes until the recall floor") {
    graft.queries.Q.session(spark)
    val corpus = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val t = Similarity.tuneIvf(corpus, "embedding", "vec_id",
      k = K, target = 0.8, sampleQueries = 16)
    // 500 vectors → √500 ≈ 22
    assert(t.nlist == 22, s"nlist ${t.nlist}")
    assert(t.recall >= 0.8, s"tuning stopped below the floor: $t")
    assert(t.nprobe >= 1 && t.nprobe <= t.nlist, t.toString)
    // the returned parameters really deliver that recall end-to-end
    val sample = corpus.orderBy(col("vec_id")).limit(16)
    val exact = Similarity
      .bruteForceTopK(corpus, sample, "embedding", "vec_id", K)
      .select("query_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = IvfIndex.build(corpus, "embedding", "vec_id", t.nlist)
      .search(sample, K, t.nprobe)
      .select("query_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6,
      s"tuned parameters collapsed on a fresh query set: $recall")
  }

  test("skewed corpus: trained codebook recall beats id-prefix") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    // 200 deterministic jitters of vector 0 at low ids + 100 distinct
    // vectors: the id-prefix codebook becomes 8 near-identical centroids
    val cluster = emb.where(col("vec_id") === 0)
      .select(col("embedding")).crossJoin(spark.range(0, 200).toDF("j"))
      .select(col("j").as("vec_id"),
        expr("""transform(embedding,
                 (x, p) -> CAST(x + 0.001*((j*31+p)%7-3) AS FLOAT))""")
          .as("embedding"))
    val others = emb.where(col("vec_id") >= 100 && col("vec_id") < 200)
      .select((col("vec_id") + 100).as("vec_id"), col("embedding"))
    val corpus = cluster.unionByName(others).cache()
    val queries = corpus.where(col("vec_id") % 17 === 3)

    val rTrained = recallOf(corpus, queries, trainedOn(corpus))
    val rPrefix = recallOf(corpus, queries, idPrefixOn(corpus))
    info(f"skewed recall@$K trained=$rTrained%.3f id-prefix=$rPrefix%.3f")
    assert(rTrained > rPrefix,
      s"training must beat id-prefix under skew: $rTrained <= $rPrefix")
    corpus.unpersist()
  }

  test("uniform corpus: trained codebook holds recall parity") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val corpus = emb.where(col("vec_id") < 300).cache()
    val queries = emb.where(col("vec_id") < 30)

    val rTrained = recallOf(corpus, queries, trainedOn(corpus))
    val rPrefix = recallOf(corpus, queries, idPrefixOn(corpus))
    info(f"uniform recall@$K trained=$rTrained%.3f id-prefix=$rPrefix%.3f")
    assert(rTrained >= rPrefix - 0.1,
      s"trained codebook recall $rTrained fell >0.1 below id-prefix $rPrefix")
    corpus.unpersist()
  }

  test("PQ: codes are complete, ADC ranks clusters correctly") {
    import spark.implicits._
    // two tight clusters in 8 dims (m=2 subspaces of 4)
    def v(base: Float, jitter: Float) =
      Array(base, base, base, base, base + jitter, base, base, base)
    val rows = (0 until 10).map(i => (i.toLong, v(1f, i * 0.01f))) ++
      (10 until 20).map(i => (i.toLong, v(-1f, (i - 10) * 0.01f)))
    val df = rows.toDF("vec_id", "embedding")

    val cb = graft.ml.Similarity.pqTrain(df, "embedding", "vec_id",
      m = 2, ksub = 4, dim = 8, iters = 1)
    val codes = graft.ml.Similarity.pqEncode(df, cb, "embedding",
      "vec_id", m = 2, dim = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2))
      .toMap
    // every (vector, subspace) got exactly one code in range
    assert(codes.size == 20 * 2)
    assert(codes.values.forall(c => c >= 0 && c < 4))

    val top = graft.ml.Similarity.pqAdcTopK(df, df.where(col("vec_id")
      .isin(0L, 15L)), cb, "embedding", "vec_id", k = 3, m = 2, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    // neighbors come from the query's own cluster
    assert(top(0L).forall { case (_, nb) => nb < 10 }, top(0L).toSeq)
    assert(top(15L).forall { case (_, nb) => nb >= 10 }, top(15L).toSeq)
  }

  test("IVF+PQ equals full ADC restricted to the probed candidates") {
    import graft.ml.Similarity
    val emb = Tables.load(spark, sfDir, "embeddings")
      .where(col("vec_id") < 150).cache()
    val queries = emb.where(col("vec_id") < 4)
    val coarse = emb.orderBy(col("vec_id")).limit(8)
    val cb = Similarity.pqTrain(emb, "embedding", "vec_id",
      m = 4, ksub = 8, dim = 64)

    val ivfpq = Similarity.ivfPqTopK(emb, queries, coarse, cb,
      "embedding", "vec_id", k = 5, m = 4, dim = 64, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val full = Similarity.pqAdcTopK(emb, queries, cb,
      "embedding", "vec_id", k = 150, m = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    // every IVF+PQ hit carries exactly its full-ADC distance
    assert(ivfpq.nonEmpty)
    ivfpq.foreach { case (q, nb, d) =>
      assert(full((q, nb)) == d, s"ADC distance mismatch for ($q,$nb)")
    }
    emb.unpersist()
  }

  test("PQ is deterministic across runs") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .where(col("vec_id") < 100)
    def run() = graft.ml.Similarity.pqAdcTopK(emb,
      emb.where(col("vec_id") < 3),
      graft.ml.Similarity.pqTrain(emb, "embedding", "vec_id",
        m = 4, ksub = 8, dim = 64),
      "embedding", "vec_id", k = 3, m = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(run() == run())
  }

  test("persisted IVF index answers exactly what the in-memory search does") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.where(col("vec_id") < 4)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    def search(ix: IvfIndex) = rows(ix.search(queries, k = 3, nprobe = 2))
    def reloaded(ix: IvfIndex, partitionByCell: Boolean = false) = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ivf-idx").toString
      ix.save(dir, partitionByCell)
      (dir, IvfIndex.load(spark, dir))
    }
    // id-prefix codebook
    val idPrefix = IvfIndex.build(emb, "embedding", "vec_id", nlist = 8)
    assert(search(reloaded(idPrefix)._2) == search(idPrefix))
    // trained codebook: save a kmeansIters > 0 build, compare against the
    // same trained centroids searched in memory
    val cents = Similarity.kmeansCentroids(emb, "embedding", "vec_id",
      nlist = 8, iters = 1)
    assert(search(reloaded(IvfIndex.build(emb, "embedding", "vec_id",
        nlist = 8, kmeansIters = 1))._2) ==
      search(IvfIndex.build(emb, "embedding", "vec_id",
        centroids = Some(cents))))
    // cell-partitioned layout: same answers, prunable directories
    val (dir3, byCell) = reloaded(idPrefix, partitionByCell = true)
    assert(search(byCell) == search(idPrefix))
    assert(new java.io.File(s"$dir3/cells").listFiles()
      .exists(_.getName.startsWith("cell=")),
      "cells must be laid out one directory per cell")
  }

  test("persisted projected IVF index: narrow on disk, full-dim answers") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.where(col("vec_id") < 4)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft-proj-ivf-idx").toString
    val index = IvfIndex.build(emb, "embedding", "vec_id", nlist = 8,
      projection = Some(Projection(inDim = 64, outDim = 16)))
    index.save(dir)
    def search(ix: IvfIndex) = rows(ix.search(queries, k = 3, nprobe = 2,
      corpus = Some(emb), candidates = 10))
    // byte-identical to the in-memory filter-then-refine composition
    assert(search(IvfIndex.load(spark, dir)) == search(index))
    // the point of the composition: the index stores PROJECTED vectors —
    // 16 doubles per row in the cells frame, not the full 64
    val cellVec = spark.read.parquet(s"$dir/cells")
      .select("v").limit(1).collect()(0).getSeq[Double](0)
    assert(cellVec.size == 16,
      s"index must store the narrow projection, got ${cellVec.size} dims")
    // the meta frame carries the projection parameters for later sessions
    val m = spark.read.parquet(s"$dir/meta").collect()(0)
    assert(m.getAs[Int]("in_dim") == 64 && m.getAs[Int]("out_dim") == 16)
  }

  test("randomProjection preserves geometry and is deterministic") {
    import spark.implicits._
    // near-duplicate pair (base + small deterministic noise) vs an
    // unrelated vector: after 64 -> 16 projection the near-dup cosine
    // must stay high and the unrelated cosine low (JL distortion bound)
    def vec(f: Int => Double) = (0 until 64).map(i => f(i).toFloat)
    val base = vec(i => math.sin(i * 0.7))
    val near = vec(i => math.sin(i * 0.7) + 0.01 * math.cos(i * 1.3))
    val other = vec(i => math.cos(i * 2.1) + 0.5 * math.sin(i * 0.3))
    val df = Seq((0L, base), (1L, near), (2L, other))
      .toDF("vec_id", "embedding")
    def run() = Similarity
      .randomProjection(df, "embedding", "vec_id", inDim = 64, outDim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val p = run()
    assert(p == run(), "projection must be bit-deterministic across runs")
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    assert(cos(p(0L), p(1L)) > 0.9,
      s"near-dup cosine collapsed to ${cos(p(0L), p(1L))}")
    assert(math.abs(cos(p(0L), p(2L))) < 0.6,
      s"unrelated cosine inflated to ${cos(p(0L), p(2L))}")
    // expected squared length: E||y||^2 = outDim * ||x||^2 (unscaled
    // +-1 signs); the ratio concentrates within JL distortion
    val nx = base.map(x => x.toDouble * x).sum
    val ny = p(0L).map(x => x * x).sum
    assert(ny / (16 * nx) > 0.5 && ny / (16 * nx) < 1.5,
      s"length ratio ${ny / (16 * nx)} outside the JL band")
  }

  test("projectedTopK: wider candidate stage buys back JL distortion") {
    // clustered data, like real near-dup corpora: JL preserves the BIG
    // margins between a query's cluster-mates and the background, so
    // filter-then-refine recalls the true neighbors. (On the uniform
    // synthetic embeddings the true top-k margins are ~1e-2 — below JL
    // distortion at 16 dims — and recall is honestly near-random; that
    // regime needs the full-dim paths, which is exactly why projection
    // is a candidate PRE-filter, never the final ranking.)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cluster = emb.where(col("vec_id") === 0)
      .select(col("embedding")).crossJoin(spark.range(0, 60).toDF("j"))
      .select(col("j").as("vec_id"),
        expr("""transform(embedding,
                 (x, p) -> CAST(x + 0.001*((j*31+p)%7-3) AS FLOAT))""")
          .as("embedding"))
    val others = emb.where(col("vec_id") >= 100 && col("vec_id") < 200)
      .select((col("vec_id") + 100).as("vec_id"), col("embedding"))
    val corpus = cluster.unionByName(others).cache()
    val queries = corpus.where(col("vec_id") % 17 === 3)
    val exact = Similarity
      .bruteForceTopK(corpus, queries, "embedding", "vec_id", K)
      .select("query_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(cand: Int): Double = {
      val got = Similarity.projectedTopK(corpus, queries, "embedding",
        "vec_id", k = K, inDim = 64, outDim = 16, candidates = cand)
        .select("query_id", "nb_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val narrow = recallAt(K)
    val wide = recallAt(4 * K)
    info(f"projected recall@$K candidates=$K: $narrow%.3f, " +
      f"candidates=${4 * K}: $wide%.3f")
    assert(wide >= narrow,
      s"recall must not fall as candidates grow ($narrow -> $wide)")
    assert(wide >= 0.6,
      s"projected candidates + full-dim re-rank recalled only $wide " +
        "of the exact top-k on clustered data")
    // the corpus-scale composition: IVF candidate generation in the
    // projected space compounds probe miss with JL distortion — with a
    // generous probe it must stay within reach of the exact-candidate
    // variant on the same data
    val ivfGot = IvfIndex.build(corpus, "embedding", "vec_id", nlist = 8,
        projection = Some(Projection(inDim = 64, outDim = 16)))
      .search(queries, k = K, nprobe = 4, corpus = Some(corpus),
        candidates = 4 * K)
      .select("query_id", "nb_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = ivfGot.intersect(exact).size.toDouble / exact.size
    info(f"projected+IVF recall@$K: $ivfRecall%.3f")
    assert(ivfRecall >= 0.5,
      s"projected IVF composition recalled only $ivfRecall")
    corpus.unpersist()
  }

  test("cell-partitioned index search dynamically prunes unprobed cells") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-dpp").toString
    IvfIndex.build(emb, "embedding", "vec_id", nlist = 8)
      .save(dir, partitionByCell = true)
    val out = IvfIndex.load(spark, dir)
      .search(emb.where(col("vec_id") < 3), k = 3, nprobe = 2)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    // Spark's dynamic partition pruning must reach the cells scan: the
    // probed cell ids broadcast into a partition filter, so a search
    // reads nprobe/nlist of the index instead of all of it — the whole
    // point of the partitionByCell layout at large nlist
    assert(p.contains(" IN dynamicpruning#"),
      "no dynamic partition pruning on the cells scan:\n" + p.take(1500))
  }

  test("IvfIndex.save releases the trained codebook cache") {
    // a corpus plan no other test caches: Spark's CacheManager dedups
    // persist() by plan, so an identical corpus would share (and this
    // test's unpersist would drop) another test's cached codebook
    val emb = Tables.load(spark, sfDir, "embeddings")
      .where(col("vec_id") % 7 =!= 3)
    val before = spark.sparkContext.getPersistentRDDs.size
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-unpersist").toString
    IvfIndex.build(emb, "embedding", "vec_id", nlist = 8, kmeansIters = 1)
      .save(dir)
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "the kmeansCentroids codebook persist must be released once the " +
        "centroids and cells parquet writes have materialized it")
  }

  test("prunePrototypes keeps the least-prototypical per-cell half") {
    import spark.implicits._
    // two orthogonal clusters with explicit centroids; prototypicality =
    // cosine to OWN centroid, so the keep set is the boundary half
    val cents = Seq(
      (0L, Seq(1f, 0f)),
      (1L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f)), // cell 0, most prototypical
      (11L, Seq(0.9f, 0.1f)),
      (12L, Seq(0.8f, 0.2f)),
      (13L, Seq(0.6f, 0.4f)), // cell 0, least prototypical
      (20L, Seq(0.0f, 1.0f)), // cell 1, most prototypical
      (21L, Seq(0.1f, 0.9f)),
      (22L, Seq(0.3f, 0.7f))  // cell 1, least prototypical (odd-size cell)
    ).toDF("vec_id", "embedding")
    val out = Similarity
      .prunePrototypes(corpus, cents, "embedding", "vec_id", 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out.size == 7, "every vector gets a verdict")
    // cell 0: quota ceil(4*0.5)=2 → keep the two least prototypical
    assert(out(13L) && out(12L) && !out(11L) && !out(10L))
    // cell 1: quota ceil(3*0.5)=2 → keep 22 and 21, prune the centroid hit
    assert(out(22L) && out(21L) && !out(20L))
  }

  test("semDeDup: duplicate groups keep their LEAST prototypical " +
    "member; singletons keep; groups never span cells") {
    import spark.implicits._
    val cents = Seq(
      (0L, Seq(1f, 0f)),
      (1L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      // cell 0: a tight 3-member semantic-duplicate group — the paper's
      // rule keeps the one FARTHEST from the centroid (id 3)
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.995f, 0.0998f)),
      (3L, Seq(0.980f, 0.199f)),
      // cell 1: a singleton
      (4L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = graft.ml.Similarity
      .semDeDup(corpus, cents, "embedding", "vec_id", threshold = 0.9)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(out(1L) == ((1L, false)) && out(2L) == ((1L, false)),
      s"prototypical duplicates drop: $out")
    assert(out(3L) == ((1L, true)),
      "the least prototypical member represents the group")
    assert(out(4L) == ((4L, true)), "singletons keep themselves")
    graft.ml.CacheLifecycle.releaseAll()
  }

  test("decontaminateSemantic: cosine proximity to ANY bench vector drops") {
    import spark.implicits._
    // corpus: 1 = scaled copy of bench (cos 1.0 — the paraphrase case),
    // 2 = orthogonal (cos 0), 3 = oblique (cos ~0.7071), 4 = negated
    val corpus = Seq(
      (1L, Seq(2.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(1.0, 1.0)), (4L, Seq(-1.0, 0.0)))
      .toDF("id", "embedding")
    val bench = Seq((100L, Seq(1.0, 0.0))).toDF("id", "embedding")
    val out = Similarity
      .decontaminateSemantic(corpus, bench, "embedding", "id", 0.8)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2)))
      .toMap
    assert(out(1L) === ((1.0, false)), "exact-direction copy drops")
    assert(out(2L) === ((0.0, true)))
    assert(out(3L) === ((0.707107, true)), "below threshold keeps")
    assert(out(4L) === ((-1.0, true)))
    // a second benchmark vector catches doc 3 (max over ALL bench rows)
    val bench2 = bench.union(
      Seq((101L, Seq(1.0, 1.0))).toDF("id", "embedding"))
    val out2 = Similarity
      .decontaminateSemantic(corpus, bench2, "embedding", "id", 0.8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out2(3L) === false)
    // the benchmark must be the config-scale side
    intercept[IllegalArgumentException] {
      Similarity.decontaminateSemantic(corpus, corpus, "embedding",
        "id", 0.8, maxBenchRows = 2)
    }
  }

  // every gate that keeps `Q.stateDir` state between its executions
  Seq("q_knn_ivf_persisted" -> "index",
    "q_knn_projected_ivf_persisted" -> "index",
    "q_dedup_near_indexed" -> "index",
    "q_dedup_near_loop" -> "index",
    "q_url_dedup_incremental" -> "index",
    "q_url_index_loop" -> "index",
    "q_multimodal_ahash_index" -> "index",
    "q_multimodal_ahash_loop" -> "index",
    "q_multimodal_audio_index" -> "index",
    "q_unigram_persisted" -> "vocabulary",
    "q_wordpiece_persisted" -> "vocabulary",
    "q_bpe_persisted" -> "merge table",
    "q_sketch_hll_loop" -> "state",
    "q_sketch_kmv_loop" -> "state",
    "q_sketch_cms_loop" -> "state",
    "q_sketch_quantile_loop" -> "state",
    "q_sketch_quantile_signed_loop" -> "state",
    "q_kmv_overlap_loop" -> "state",
    "q_corpus_report_incremental" -> "state",
    "q_lm_backoff_loop" -> "state",
    "q_corpus_diff_loop" -> "state").foreach { case (name, what) =>
    test(s"$name builds its $what once per source dir") {
      val q = SparkEntry.queries(name)
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      def stateDirs = tmp.listFiles().count(_.getName.startsWith("graft-"))
      val r1 = q(spark, sfDir).collect()
      val after1 = stateDirs
      val r2 = q(spark, sfDir).collect()
      assert(stateDirs == after1,
        "a repeated execution (Bench warmup+timed, Verify) must reuse the " +
          s"JVM-cached $what directory, not rebuild a fresh one")
      assert(r1.length == r2.length)
      assert(r1.toSet == r2.toSet)
    }
  }

  test("marginMine: mutual argmax, neighborhood-scaled margins, " +
    "ties to the lowest partner, threshold splits") {
    import spark.implicits._
    val r2 = math.sqrt(2).toFloat / 2
    // hand geometry, k=2: a1∥b1 and a2∥b2 are mutual argmaxes with
    // margin 1/((0.8535535+0.5)/2); b3 sits diagonally between — both
    // a's rank it second (tie → bwdBest(b3)=a1), but a1's argmax is
    // b1, so (a1,b3) is never mutual
    val a = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val b = Seq((11L, Seq(2f, 0f)), (12L, Seq(0f, 3f)),
      (13L, Seq(r2, r2))).toDF("vec_id", "embedding")
    val mined = Similarity.marginMine(a, b, "embedding", "vec_id",
      k = 2, threshold = 1.2)
      .select("src_id", "dst_id", "cos", "margin")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(mined.map(t => (t._1, t._2)).toSeq === Seq((1L, 11L), (2L, 12L)))
    assert(mined.forall(_._3 === 1.0))
    val expected = 1.0 / ((0.8535535 + 0.5) / 2)
    mined.foreach(t => assert((t._4 - expected).abs < 1e-6,
      s"margin ${t._4} != $expected"))
    // the same mutual pairs fall below a higher threshold
    assert(Similarity.marginMine(a, b, "embedding", "vec_id",
      k = 2, threshold = 1.5).count() === 0)
  }

  test("marginMineFrom plans aggregates + equi-joins only — no " +
    "window, no product beyond the candidate stage it was handed") {
    import spark.implicits._
    val ab = Seq((1L, 1, 11L, 0.9), (1L, 2, 12L, 0.5),
      (2L, 1, 12L, 0.8), (2L, 2, 11L, 0.1))
      .toDF("query_id", "rank", "nb_id", "cos")
    val ba = Seq((11L, 1, 1L, 0.9), (11L, 2, 2L, 0.1),
      (12L, 1, 2L, 0.8), (12L, 2, 1L, 0.5))
      .toDF("query_id", "rank", "nb_id", "cos")
    val out = Similarity.marginMineFrom(ab, ba, threshold = 1.0)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    val rows = out.select("src_id", "dst_id")
      .as[(Long, Long)].collect().toSet
    assert(rows === Set((1L, 11L), (2L, 12L)))
  }

  test("hardNegatives: labeled positive anti-joined out, " +
    "false-negative ceiling applied, re-ranked top-n") {
    import spark.implicits._
    // candidates for one query: its labeled positive (cos .95), an
    // unlabeled near-perfect match (.92 — presumed missing label,
    // ceiling-dropped), then four genuine negatives
    val cand = Seq(
      (1L, 1, 101L, 0.95), (1L, 2, 102L, 0.92), (1L, 3, 103L, 0.60),
      (1L, 4, 104L, 0.40), (1L, 5, 105L, 0.40), (1L, 6, 106L, 0.10))
      .toDF("query_id", "rank", "nb_id", "cos")
    val pos = Seq((1L, 101L)).toDF("qid", "pid")
    val out = Similarity.hardNegatives(cand, pos, "qid", "pid",
      n = 3, maxCos = 0.9)
      .select("rank", "nb_id", "cos")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    // 101 (positive) and 102 (ceiling) gone; the .40 tie re-ranks to
    // the lowest id; only n=3 survive so 106 is cut
    assert(out.toSeq === Seq((1, 103L, 0.60), (2, 104L, 0.40),
      (3, 105L, 0.40)))
    val p = Similarity.hardNegatives(cand, pos, "qid", "pid", 3, 0.9)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      p.take(1200))
  }
}
