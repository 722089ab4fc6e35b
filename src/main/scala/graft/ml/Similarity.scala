package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fns._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - `bruteForceTopK` is the exact baseline: query×corpus join, bounded
  *    `top_k_min` partial aggregate per query. Fine when |queries| is
  *    small; the corpus side stays partitioned and the exchange carries at
  *    most k rows per query.
  *  - `IvfIndex` is the scale path, one index built once and queried:
  *    `build` assigns vectors to their nearest centroid cell (codebook =
  *    a deterministic id-prefix sample, a trained `kmeansCentroids`, or
  *    an explicit one), `search` probes only the best `nprobe` cells per
  *    query, `save`/`load` keep it on disk between sessions. Search
  *    cost drops by ~nlist/nprobe; everything stays an equi-join on
  *    cell id (shuffle by cell), never an all-pairs product.
  */
object Similarity {

  /** Exact top-k neighbors for each query row (excluding self). Rank by
    * rounded cosine desc then id asc — fully deterministic.
    *
    * GUARDED exact baseline: |queries| × |corpus| above `maxExactWork`
    * fails fast (two metadata-cheap counts) instead of launching a
    * nested-loop job that can't finish at scale — `IvfIndex` is the scale
    * path. Raise the cap explicitly only for a bounded evaluation set
    * (e.g. measuring IVF recall on a sample, see MlQueries.q_knn_recall).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, embCol: String,
      idCol: String, k: Int, maxExactWork: Long = 1000000000L): DataFrame = {
    // capped probes: if either side hits its cap the product certainly
    // exceeds the budget, so the exact counts are never needed
    val (nq, nc) = (graft.ml.Fns.atMost(queries, maxExactWork),
      graft.ml.Fns.atMost(corpus, maxExactWork))
    require(nq * nc <= maxExactWork,
      s"bruteForceTopK is the EXACT baseline: ~$nq queries x ~$nc corpus " +
        "rows of dot products exceed maxExactWork. Use IvfIndex at this " +
        "size, or raise maxExactWork for a bounded evaluation set.")
    val c = normalized(corpus, embCol, idCol, "vc")
      .withColumnRenamed(idCol, "nb_id")
    val q = normalized(queries, embCol, idCol, "vq")
      .withColumnRenamed(idCol, "query_id")
    val scored = q.join(c, col("query_id") =!= col("nb_id"))
      .withColumn("cos", ndot6(col("vq"), col("vc")))
    // same bounded partial-aggregate top-k as the IVF/PQ search side: the
    // exchange carries at most k rows per query (a per-query row_number
    // window would shuffle the whole query x corpus expansion)
    searchTopKDesc(k)(scored)
  }

  /** Deterministic sparse random projection (Achlioptas ±1 /
    * Johnson-Lindenstrauss): project `inDim`-dim vectors to `outDim`
    * dims, y_j = Σ_i x_i · s(i,j) with s(i,j) ∈ {+1,−1} derived from the
    * md5-based h32 of "seed_i_j" — the same formula the SQL oracle
    * replays. The sign matrix is computed ONCE on the driver
    * (inDim×outDim md5s, config-sized) and embedded as a literal, so
    * per-row work is pure codegen'd arithmetic — no per-row hashing, no
    * join, no shuffle: a narrow map over the corpus.
    *
    * Scale lever: at 100 TB a 64→16 projection cuts every downstream
    * ANN shuffle's vector payload 4×; JL keeps pairwise geometry within
    * ~1/√outDim distortion, so use it to pre-filter (search projected,
    * re-rank survivors full-dim) rather than as the final ranking.
    * The JL 1/√outDim normalization is deliberately OMITTED: cosine is
    * scale-invariant, and skipping it keeps every output value exact —
    * the inner sum runs on 1e-6 fixed-point quanta (same trick as
    * `kmeansCentroids`; integer addition is order-independent) and the
    * single /1e6 division of a < 2^53 integer is one IEEE operation,
    * so the result is bit-replayable by the DuckDB oracle with no
    * rounding step to tie-break differently.
    */
  def randomProjection(df: DataFrame, embCol: String, idCol: String,
      inDim: Int, outDim: Int, seed: String = "proj"): DataFrame = {
    require(inDim > 0 && outDim > 0 && outDim <= inDim,
      s"randomProjection: need 0 < outDim <= inDim, got $inDim -> $outDim")
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Long = {
      val hex = md.digest(s"${seed}_${i}_${j}".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
    }
    // one interpreted HOF pass quantizes the vector (round() yields a
    // double that IS an integer; |Σ xi·s| < 2^53, and double addition of
    // integers is exact and order-independent — same arithmetic as long
    // sums, so the SQL oracle's integer group-sum replays bit-for-bit);
    // each output dim is then the CODEGEN'D dot_product against its ±1
    // literal sign row. A transform×aggregate HOF formulation computes
    // the same thing interpreted per (i, j) element — measured 20×
    // slower at sf0.1.
    val signRows = (0 until outDim).map(j =>
      typedLit((0 until inDim).map(i => sign(i, j).toDouble)))
    df.withColumn("__xi",
        transform(col(embCol).cast("array<double>"), v => round(v * 1e6)))
      .select(col(idCol),
        array(signRows.map(sj =>
          Fns.dot(col("__xi"), sj) / 1e6): _*).as("proj"))
  }

  /** Two-stage ANN through the projection: candidate generation ranks by
    * projected cosine in the `outDim`-narrow space (1/4 of the flops and
    * shuffle bytes at 64→16), then the `candidates`-per-query survivors
    * are re-ranked by FULL-dimension cosine — the standard
    * filter-then-refine layout. `candidates > k` buys back the JL
    * distortion (recall → 1 as candidates grows; `SimilaritySpec`
    * measures it). Candidate generation here is the guarded exact pass
    * (query × corpus, bounded by `maxExactWork`); at corpus scale search
    * an `IvfIndex` built with the same `Projection` instead.
    */
  def projectedTopK(corpus: DataFrame, queries: DataFrame, embCol: String,
      idCol: String, k: Int, inDim: Int, outDim: Int, candidates: Int,
      seed: String = "proj", maxExactWork: Long = 1000000000L): DataFrame = {
    require(candidates >= k,
      s"projectedTopK: candidates ($candidates) must be >= k ($k)")
    val (nq, nc) = (graft.ml.Fns.atMost(queries, maxExactWork),
      graft.ml.Fns.atMost(corpus, maxExactWork))
    require(nq * nc <= maxExactWork,
      s"projectedTopK's candidate stage is exact over ~$nq x ~$nc " +
        "projected rows, exceeding maxExactWork. Search an IvfIndex " +
        "built with this Projection at this size.")
    val pc = normalized(
      randomProjection(corpus, embCol, idCol, inDim, outDim, seed),
      "proj", idCol, "pv").withColumnRenamed(idCol, "nb_id")
    val pq = normalized(
      randomProjection(queries, embCol, idCol, inDim, outDim, seed),
      "proj", idCol, "qv").withColumnRenamed(idCol, "query_id")
    val cand = pq.join(pc, col("query_id") =!= col("nb_id"))
      .withColumn("cos", ndot6(col("qv"), col("pv")))
      .select(col("query_id"), col("nb_id"), col("cos"))
      .transform(searchTopKDesc(candidates))
    rerankFullDim(cand, corpus, queries, embCol, idCol, k)
  }

  /** Exact full-dimension re-rank of a (query_id, nb_id) candidate
    * frame: join the candidates back to both embedding sides — equi-keyed
    * on the ids, so only the ~candidates-per-query survivors carry
    * full-width vectors — and keep the bounded top-k.
    */
  private def rerankFullDim(cand: DataFrame, corpus: DataFrame,
      queries: DataFrame, embCol: String, idCol: String,
      k: Int): DataFrame = {
    val cf = normalized(corpus, embCol, idCol, "vc")
      .withColumnRenamed(idCol, "nb_id")
    val qf = normalized(queries, embCol, idCol, "vq")
      .withColumnRenamed(idCol, "query_id")
    cand.select(col("query_id"), col("nb_id"))
      .join(cf, "nb_id").join(qf, "query_id")
      .withColumn("cos", ndot6(col("vq"), col("vc")))
      .select(col("query_id"), col("nb_id"), col("cos"))
      .transform(searchTopKDesc(k))
  }

  /** Ascending == preferred for nearest-centroid ranking: cosine
    * descending (`0.0 - cos` rather than `-cos` so a rounded `-0.0`
    * normalizes to `+0.0`), ties to the lowest cell id.
    */
  private def probeKey(ccos: Column, cell: Column): Column =
    struct((lit(0.0) - ccos).as("nc"), cell.as("cell"))

  /** Deterministic cell assignment: nearest centroid by rounded cosine,
    * ties to the lowest centroid id.
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame, embCol: String,
      idCol: String): DataFrame =
    assignCellsMulti(corpus, centroids, embCol, idCol, nprobe = 1)

  /** Multi-probe assignment: each vector lands in its `nprobe` nearest
    * cells. Costs `nprobe`× the storage/join fan-out and recovers the
    * pairs that straddle a single-probe cell boundary (the IVF recall
    * trade-off) — the standard multi-probe recall/cost dial.
    *
    * Ranking is a PARTIAL AGGREGATE, not a window: `min_by` (nprobe = 1)
    * or the bounded `top_k_min` aggregate (nprobe > 1) combine map-side,
    * so the exchange carries one row per vector — the window formulation
    * (`row_number` over id) would shuffle the whole corpus×centroids
    * expansion, an nlist× amplification of the hottest ANN/dedup path.
    */
  def assignCellsMulti(corpus: DataFrame, centroids: DataFrame,
      embCol: String, idCol: String, nprobe: Int): DataFrame = {
    val c = normalized(centroids, embCol, idCol, "vcent")
      .withColumnRenamed(idCol, "cell")
    val v = normalized(corpus, embCol, idCol, "v")
    val scored = v.crossJoin(broadcast(c))
      .withColumn("ccos", ndot6(col("v"), col("vcent")))
    if (nprobe == 1)
      scored.groupBy(col(idCol))
        .agg(min_by(struct(col("cell"), col("v")),
          probeKey(col("ccos"), col("cell"))).as("b"))
        .select(col(idCol), col("b.cell").as("cell"), col("b.v").as("v"))
    else
      scored.groupBy(col(idCol))
        .agg(call_function("top_k_min",
            probeKey(col("ccos"), col("cell")), lit(nprobe)).as("cands"),
          // v is functionally dependent on the group key — any element is
          // THE element, and first() keeps it out of the top-k buffer
          first(col("v")).as("v"))
        .select(col(idCol), explode(col("cands.cell")).as("cell"), col("v"))
        .select(col(idCol), col("cell"), col("v"))
  }

  /** Prototypicality of each vector — its rounded cosine to its OWN cell
    * centroid (Sorscher et al., "Beyond neural scaling laws": a point
    * deep inside a cluster is prototypical/redundant; a point near the
    * boundary is informative). Returns (idCol, cell, proto). Plan: the
    * assignment's broadcast crossJoin + per-id partial min_by, then one
    * broadcast join back to the nlist-row centroid frame — no shuffle of
    * the corpus beyond the assignment's single per-id aggregate.
    */
  def prototypicality(corpus: DataFrame, centroids: DataFrame,
      embCol: String, idCol: String): DataFrame = {
    val c = normalized(centroids, embCol, idCol, "vcent")
      .withColumnRenamed(idCol, "cell")
    assignCells(corpus, centroids, embCol, idCol)
      .join(broadcast(c), "cell")
      .select(col(idCol), col("cell"), ndot6(col("v"), col("vcent")).as("proto"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): within each
    * k-means cluster, vectors whose pairwise cosine clears `threshold`
    * form semantic-duplicate groups, and each group keeps ONE
    * representative — the paper keeps the member with the LOWEST
    * cosine to its cluster centroid (the least prototypical survives,
    * consistent with the SSL-prototypes finding that deep-in-cluster
    * examples are the redundant ones); ties break to the lowest id.
    * Singletons keep themselves. Returns (idCol, cell, proto,
    * component, keep).
    *
    * Scale shape — the parts compose with no new exchange classes:
    * within-cell equi-join pair generation (never a product; the
    * clustering exists precisely to bound the pair search, so groups
    * cannot span cells by construction), O(log diameter) component
    * propagation over the duplicate-pair graph (small by
    * construction), one per-component argmin aggregate (a struct-min,
    * so the proto-then-id tie-break is one partial aggregate, not a
    * window), and an equi-join back.
    */
  def semDeDup(corpus: DataFrame, centroids: DataFrame, embCol: String,
      idCol: String, threshold: Double): DataFrame = {
    // two consumers (the component join and the keeper argmin) — pin
    // so the assignment crossJoin runs once
    val proto = CacheLifecycle.pin(
      prototypicality(corpus, centroids, embCol, idCol))
    val pairs = Dedup.embeddingPairsCelled(corpus, embCol, idCol,
      threshold, centroids = Some(centroids))
    val comps = Dedup.components(pairs)
    val withComp = proto
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val keepers = withComp.groupBy("component")
      .agg(min(struct(col("proto"), col(idCol))).as("__k"))
      .select(col("component"), col(s"__k.$idCol").as("__kid"))
    withComp.join(keepers, Seq("component"))
      .select(col(idCol), col("cell"), col("proto"), col("component"),
        (col(idCol) === col("__kid")).as("keep"))
  }

  /** SSL-prototypes data pruning: per cell, KEEP the `keepFraction`
    * LEAST prototypical vectors (ties to the lowest id) and mark the
    * prototypical core for removal — the Sorscher et al. rule that beat
    * random pruning and per-example loss at scale. Returns
    * (idCol, cell, proto, keep).
    *
    * Plan: prototypicality (one per-id aggregate), then a per-cell
    * rank — a sort-based window partitioned BY CELL, so the corpus
    * shuffles once on cell and each cell sorts (externally, spilling)
    * in parallel; the per-cell quota is a broadcast nlist-row count
    * join, not a second window. At extreme per-cell cardinality the
    * two-pass histogram-threshold form (bounded per-cell score
    * histogram → per-cell cutoff → narrow filter) replaces the rank at
    * the cost of quota exactness at the cutoff score; the window form
    * is exact, which is what the oracle checks.
    */
  def prunePrototypes(corpus: DataFrame, centroids: DataFrame,
      embCol: String, idCol: String, keepFraction: Double): DataFrame = {
    require(keepFraction >= 0 && keepFraction <= 1,
      s"prunePrototypes: keepFraction must be in [0, 1], got $keepFraction")
    // two consumers (quota aggregate + rank window) — pin so the
    // assignment crossJoin runs once
    val proto = CacheLifecycle.pin(
      prototypicality(corpus, centroids, embCol, idCol))
    val quota = proto.groupBy("cell")
      .agg(ceil(count(lit(1)) * lit(keepFraction)).as("__quota"))
    val rn = row_number().over(
      Window.partitionBy(col("cell"))
        .orderBy(col("proto").asc, col(idCol).asc))
    proto.withColumn("__rn", rn)
      .join(broadcast(quota), "cell")
      .select(col(idCol), col("cell"), col("proto"),
        (col("__rn") <= col("__quota")).as("keep"))
  }

  /** Deterministic batched farthest-first seeding (the k-means++ idea in
    * k-means‖-style rounds, so it's O(rounds) broadcast passes instead of
    * O(nlist) sequential ones): start from the lowest-id vector; each
    * round scores every vector by its best cosine to any current seed
    * (broadcast crossJoin + partial max) and admits the `nlist/rounds`
    * farthest vectors, ties to the lowest id. Spread-out seeds beat the
    * id-prefix codebook on cluster balance, which is what bounds the
    * worst cell's O(cell²) pair cost.
    */
  def seedFarthestFirst(corpus: DataFrame, embCol: String, idCol: String,
      nlist: Int, rounds: Int = 4): DataFrame = {
    // persist the normalized corpus for the loop's lifetime: every round
    // launches a small driver-coordinated job over it, and re-running the
    // scan + normalization per round makes the whole seeding pass swing
    // with ambient load (each round's wall time is dominated by the
    // re-read, not the math)
    val v = normalized(corpus, embCol, idCol, "v").persist()
    try {
    var seeds = v.orderBy(col(idCol)).limit(1)
      .select(col(idCol), col("v"))
    val perRound = math.max(1, math.ceil((nlist - 1).toDouble /
      math.max(1, rounds)).toInt)
    var have = 1L
    var exhausted = false
    var prior: Option[DataFrame] = None
    while (have < nlist && !exhausted) {
      val take = math.min(perRound.toLong, nlist - have).toInt
      val s = seeds.select(col(idCol).as("sid"), col("v").as("vs"))
      val far = v.crossJoin(broadcast(s))
        .withColumn("c", ndot6(col("v"), col("vs")))
        .groupBy(col(idCol))
        .agg(max(col("c")).as("best"), first(col("v")).as("v"))
        .join(broadcast(s.select(col("sid").as(idCol))), Seq(idCol),
          "left_anti")
        .orderBy(col("best").asc, col(idCol).asc) // farthest = lowest cos
        .limit(take)
        .select(col(idCol), col("v"))
      val next = seeds.unionByName(far).persist()
      // count the seeds actually ADMITTED: a corpus smaller than nlist
      // runs dry, and advancing by `take` would silently under-seed
      val total = next.count()
      exhausted = total == have
      have = total
      prior.foreach(_.unpersist())
      prior = Some(next)
      seeds = next
    }
    // the final seeds frame stays persisted (the returned plan reads it
    // twice per consumer round); register it for deterministic reclaim
    prior.foreach(CacheLifecycle.pin(_))
    seeds.select(col(idCol), col("v").as(embCol))
    // the final seeds frame is persisted + materialized (count above), so
    // dropping the corpus cache cannot trigger a recompute through it;
    // the finally also covers a mid-loop failure, which would otherwise
    // leave the whole normalized corpus pinned for the session
    } finally v.unpersist()
  }

  /** Trained IVF codebook: Lloyd iterations as DataFrame aggregations.
    * Init = the `nlist` lowest-id vectors; each round assigns every vector
    * to its nearest centroid (broadcast), then element-wise-averages per
    * cell (posexplode → partial-agg mean per (cell, pos) → re-assemble)
    * and re-normalizes. Every step is a narrow pass or a partial
    * aggregation — no all-pairs anything, 100 TB-shaped. Returns a
    * (idCol = cell id, embCol = centroid) frame for `IvfIndex.build`.
    */
  def kmeansCentroids(corpus: DataFrame, embCol: String, idCol: String,
      nlist: Int, iters: Int = 2,
      init: Option[DataFrame] = None): DataFrame = {
    var centroids = init.getOrElse(idPrefixCodebook(corpus, idCol, nlist))
      .select(col(idCol), col(embCol))
    (0 until iters).foreach { _ =>
      val assigned = assignCells(corpus, centroids, embCol, idCol)
      // exact fixed-point mean (1e-6 quanta): integer sums are partition-
      // order-INDEPENDENT (double avg is not) and replayable bit-for-bit
      // by the DuckDB oracle; the quantization error is below the 6-decimal
      // rounding the assignment cosines use anyway
      val means = assigned
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(round(col("col") * 1e6).cast("long")).cast("double") /
          (count(lit(1)) * lit(1e6))).as("m"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c"))
      centroids = means.select(col("cell").as(idCol),
        col("c").cast("array<float>").as(embCol))
    }
    // the codebook is read by every downstream assignment pass; pinned so
    // CacheLifecycle.releaseAll() (or an owning caller's unpersist, e.g.
    // IvfIndex.save) can reclaim it once the consumer is done
    CacheLifecycle.pin(centroids)
  }

  // -- product quantization ------------------------------------------------
  // PQ compresses each vector to m sub-codes (u8-scale codebooks): memory
  // drops from 4·d bytes to m bytes per vector, and search becomes an
  // asymmetric-distance scan — per query a tiny (m × ksub) lookup table,
  // per candidate m table lookups instead of a d-dim dot product. The
  // table join below is equi-keyed on (sub, code), so the scan is shuffle-
  // bounded; IVF cells compose in front of it for candidate pruning.

  /** Squared L2 over equal-length arrays, rounded to 6 decimals —
    * deterministic ranking, replayable by the oracle (left-to-right sum
    * order matches DuckDB's list_sum).
    */
  private def l2d6(a: Column, b: Column): Column =
    round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x), 6)

  /** (id, sub, sv): each vector sliced into `m` equal subvectors. */
  private def subvectors(df: DataFrame, embCol: String, idCol: String,
      m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val d = dim / m
    val e = col(embCol).cast("array<double>")
    df.select(col(idCol),
      posexplode(array((0 until m).map(j => slice(e, j * d + 1, d)): _*)))
      .withColumnRenamed("pos", "sub")
      .withColumnRenamed("col", "sv")
  }

  /** Per-subspace k-means codebooks: seeds are the `ksub` lowest-id rows'
    * subvectors, then `iters` Lloyd rounds with the fixed-point mean (the
    * same partition-order-independent trick as `kmeansCentroids`).
    * Returns (sub, code, cent) — codes may thin out if a cell empties.
    */
  def pqTrain(df: DataFrame, embCol: String, idCol: String, m: Int,
      ksub: Int, dim: Int, iters: Int = 1): DataFrame = {
    val sub = subvectors(df, embCol, idCol, m, dim).persist()
    // seeds = the ksub lowest-id rows' subvectors: a distributed
    // TakeOrdered over ids (the per-sub ranking is the same for every sub)
    // joined back to the sub frame — NOT a window over the full n×m sub
    // frame, which would funnel each subspace through one partition
    val seedIds = df.orderBy(col(idCol)).limit(ksub)
      .select(col(idCol))
      .withColumn("code",
        row_number().over(Window.orderBy(col(idCol))) - 1)
    var codebook: DataFrame = sub.join(broadcast(seedIds), idCol)
      .select(col("sub"), col("code"), col("sv").as("cent"))
    (0 until iters).foreach { _ =>
      // nearest code per (vector, sub) as a map-side min_by partial
      // aggregate — the window row_number formulation would shuffle the
      // n×m×ksub expansion (see assignCellsMulti)
      val assigned = sub.join(broadcast(codebook), "sub")
        .withColumn("d", l2d6(col("sv"), col("cent")))
        .groupBy(col(idCol), col("sub"))
        .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"),
          first(col("sv")).as("sv"))
      codebook = assigned
        .select(col("sub"), col("code"), posexplode(col("sv")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg((sum(round(col("col") * 1e6).cast("long")).cast("double") /
          (count(lit(1)) * lit(1e6))).as("mean"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mean")))),
          s => s.getField("mean")).as("cent"))
    }
    sub.unpersist()
    // no persist: the codebook is tiny and every consumer broadcasts it
    codebook
  }

  /** Encode every vector as its nearest code per subspace:
    * (id, sub, code) — the m-byte compressed representation, exploded for
    * the ADC join.
    */
  def pqEncode(df: DataFrame, codebook: DataFrame, embCol: String,
      idCol: String, m: Int, dim: Int): DataFrame =
    subvectors(df, embCol, idCol, m, dim)
      .join(broadcast(codebook), "sub")
      .withColumn("d", l2d6(col("sv"), col("cent")))
      .groupBy(col(idCol), col("sub"))
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))
      .select(col(idCol), col("sub"), col("code"))

  /** Asymmetric-distance top-k: per query build the (sub, code) → d²
    * lookup table against the codebook (broadcast), join the encoded
    * corpus on (sub, code), sum the m lookups per (query, candidate) and
    * rank ascending. This is the PQ linear scan — compose with IVF cells
    * to prune candidates first at very large corpus sizes.
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
      embCol: String, idCol: String, k: Int, m: Int, dim: Int): DataFrame = {
    val enc = pqEncode(corpus, codebook, embCol, idCol, m, dim)
      .withColumnRenamed(idCol, "nb_id")
    val table = subvectors(queries, embCol, idCol, m, dim)
      .withColumnRenamed(idCol, "query_id")
      .join(broadcast(codebook), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        l2d6(col("sv"), col("cent")).as("d"))
    enc.join(table, Seq("sub", "code"))
      .groupBy(col("query_id"), col("nb_id"))
      .agg(round(sum(col("d")), 6).as("dist"))
      .where(col("query_id") =!= col("nb_id"))
      .transform(searchTopKAsc(k))
  }

  /** IVF + PQ composed: the coarse codebook prunes candidates to the
    * query's `nprobe` nearest cells (equi-join on cell), then the ADC
    * table refines WITHIN the candidates — the standard billion-scale
    * layout (IVF bounds the scan, PQ bounds memory and per-candidate
    * cost). Ranking is by rounded ADC distance, ties by id.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      coarseCentroids: DataFrame, codebook: DataFrame, embCol: String,
      idCol: String, k: Int, m: Int, dim: Int, nprobe: Int): DataFrame = {
    val candidates = IvfIndex
      .build(corpus, embCol, idCol, centroids = Some(coarseCentroids))
      .probe(queries, nprobe)
      .select(col("query_id"), col("nb_id"))
    val enc = pqEncode(corpus, codebook, embCol, idCol, m, dim)
      .withColumnRenamed(idCol, "nb_id")
    val table = subvectors(queries, embCol, idCol, m, dim)
      .withColumnRenamed(idCol, "query_id")
      .join(broadcast(codebook), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        l2d6(col("sv"), col("cent")).as("d"))
    candidates
      .join(enc, "nb_id")
      .join(table, Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("nb_id"))
      .agg(round(sum(col("d")), 6).as("dist"))
      .transform(searchTopKAsc(k))
  }

  /** Search-side top-k as a bounded partial aggregate: `top_k_min` keeps
    * k candidates per query on the MAP side, so the exchange carries at
    * most k rows per query — the window formulation
    * (`row_number().over(partitionBy(query_id))`) shuffles every candidate
    * to the query's partition and sorts there, which makes a hot probed
    * cell a hot partition at 100× (same argument as `assignCellsMulti`).
    * Input: (query_id, nb_id, dist); output: (query_id, rank, nb_id, dist)
    * ranked by distance ascending, ties to the lowest id — identical to
    * the window ranking it replaces.
    */
  private def searchTopKAsc(k: Int)(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(call_function("top_k_min",
        struct(col("dist"), col("nb_id")), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.nb_id").as("nb_id"), col("col.dist").as("dist"))

  /** Semantic decontamination — the embedding-space complement of
    * [[Curation.decontaminate]]'s n-gram overlap: drop corpus documents
    * whose embedding lands within cosine `threshold` of ANY benchmark
    * vector (the paraphrased-eval-leak case n-grams miss). The
    * benchmark is an EVAL SET — config-scale by nature — so it is
    * `require`-bounded and BROADCAST; the corpus streams ONCE through
    * |bench| codegen'd dot products per row and a map-side-combined
    * per-id max — the only exchange carries one row per corpus id.
    * Returns (idCol, max_bench_cos, keep) so the report shows HOW
    * close each document came, not just the verdict.
    */
  def decontaminateSemantic(corpus: DataFrame, bench: DataFrame,
      embCol: String, idCol: String, threshold: Double,
      maxBenchRows: Long = 65536): DataFrame = {
    val nb = atMost(bench, maxBenchRows)
    require(nb >= 1, "decontaminateSemantic: empty benchmark")
    require(nb <= maxBenchRows,
      s"decontaminateSemantic: benchmark exceeds $maxBenchRows rows — " +
        "it must be the config-scale eval set, not a second corpus " +
        "(dedup two corpora with embeddingPairsCelled/dedupEmbeddings)")
    val c = normalized(corpus, embCol, idCol, "__vc")
    val b = broadcast(
      normalized(bench, embCol, idCol, "__vb").select(col("__vb")))
    c.join(b)
      .groupBy(col(idCol))
      .agg(max(ndot6(col("__vc"), col("__vb"))).as("max_bench_cos"))
      .withColumn("keep", col("max_bench_cos") < threshold)
  }

  /** As `searchTopKAsc` but ranking cosine DESCENDING (ties to the lowest
    * id): the sort key negates the cosine (`0.0 -` so a rounded `-0.0`
    * normalizes, see `probeKey`) and the original cosine rides along as a
    * trailing struct field — (dist, nb_id) is already a total order, so
    * the extra field never affects ranking.
    */
  private def searchTopKDesc(k: Int)(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(call_function("top_k_min",
        struct((lit(0.0) - col("cos")).as("nc"), col("nb_id"),
          col("cos")), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.nb_id").as("nb_id"), col("col.cos").as("cos"))

  /** Top-k cosine neighbors of each `queries` row within `corpus` when
    * the two sides are DIFFERENT tables (cross-lingual / cross-modal
    * retrieval): the same bounded partial-aggregate top-k as
    * [[bruteForceTopK]] but WITHOUT the self-id exclusion — the sides
    * own separate id spaces, and dropping cos(x₅, y₅) because both rows
    * happen to carry id 5 would silently lose a valid candidate.
    */
  def crossTopK(queries: DataFrame, corpus: DataFrame, embCol: String,
      idCol: String, k: Int,
      maxExactWork: Long = 1000000000L): DataFrame = {
    val (nq, nc) = (Fns.atMost(queries, maxExactWork),
      Fns.atMost(corpus, maxExactWork))
    require(nq * nc <= maxExactWork,
      s"crossTopK is the EXACT baseline: ~$nq queries x ~$nc corpus " +
        "rows of dot products exceed maxExactWork. Feed marginMineFrom " +
        "from IvfIndex.search at this size, or raise maxExactWork for a " +
        "bounded evaluation set.")
    val c = normalized(corpus, embCol, idCol, "vc")
      .withColumnRenamed(idCol, "nb_id")
    val q = normalized(queries, embCol, idCol, "vq")
      .withColumnRenamed(idCol, "query_id")
    searchTopKDesc(k)(q.join(c)
      .withColumn("cos", ndot6(col("vq"), col("vc"))))
  }

  /** Margin-criterion parallel-pair mining (Artetxe & Schwenk 2019,
    * "Margin-based parallel corpus mining with multilingual sentence
    * embeddings" — the CCMatrix / LASER bitext miner, equally the
    * standard image↔caption pair miner): a raw cosine threshold
    * over-selects in dense neighborhoods and under-selects in sparse
    * ones, so each candidate cosine is RATIO-scaled by the mean cosine
    * of both endpoints' k-neighborhoods,
    * `margin(x,y) = cos(x,y) / ((avgₖ(x) + avgₖ(y)) / 2)`, and a pair
    * is mined only when it is the mutual margin-argmax of both
    * endpoints (the paper's "intersection" strategy) and clears
    * `threshold`.
    *
    * `ab`/`ba` are the two directions' candidate lists in the
    * (query_id, nb_id, cos) shape that [[crossTopK]] and
    * [[IvfIndex.search]] both emit — brute-force for bounded sides, IVF
    * at corpus scale; the miner itself never touches the vectors again.
    * Neighborhood means use the 1e-6 fixed-point integer-sum form
    * (partition-order-independent, bit-replayable by the oracle — the
    * `kmeansCentroids` discipline); the per-side argmaxes are
    * struct-min PARTIAL aggregates (highest margin, ties to the lowest
    * partner id), never windows, so the only exchanges are the
    * config-per-id aggregates and the final equi-join of the two
    * argmax sets — nothing here re-expands the candidate product.
    */
  def marginMineFrom(ab: DataFrame, ba: DataFrame,
      threshold: Double): DataFrame = {
    def microAvg = (sum(round(col("cos") * 1e6).cast("long"))
      .cast("double") / (count(lit(1)) * lit(1e6)))
    val avgA = ab.groupBy(col("query_id").as("__aid"))
      .agg(microAvg.as("avg_a"))
    val avgB = ba.groupBy(col("query_id").as("__bid"))
      .agg(microAvg.as("avg_b"))
    // orient both candidate lists as (src ∈ A, dst ∈ B)
    val fwd = ab.select(col("query_id").as("src_id"),
      col("nb_id").as("dst_id"), col("cos"))
    val bwd = ba.select(col("nb_id").as("src_id"),
      col("query_id").as("dst_id"), col("cos"))
    // a non-positive neighborhood mean means the endpoint has NO
    // coherent neighborhood — the ratio is meaningless there, and both
    // engines drop the candidate identically
    def scored(cand: DataFrame) = cand
      .join(avgA, col("src_id") === col("__aid"))
      .join(avgB, col("dst_id") === col("__bid"))
      .where((col("avg_a") + col("avg_b")) / 2 > 0)
      .withColumn("margin",
        round(col("cos") / ((col("avg_a") + col("avg_b")) / 2), 6))
      .select(col("src_id"), col("dst_id"), col("cos"), col("margin"))
    val fwdBest = scored(fwd)
      .groupBy(col("src_id"))
      .agg(min(struct((lit(0.0) - col("margin")).as("nm"),
        col("dst_id"), col("cos"), col("margin"))).as("b"))
      .select(col("src_id"), col("b.dst_id").as("dst_id"),
        col("b.cos").as("cos"), col("b.margin").as("margin"))
    val bwdBest = scored(bwd)
      .groupBy(col("dst_id"))
      .agg(min(struct((lit(0.0) - col("margin")).as("nm"),
        col("src_id"))).as("b"))
      .select(col("b.src_id").as("__bs"), col("dst_id").as("__bd"))
    fwdBest.join(bwdBest,
      col("src_id") === col("__bs") && col("dst_id") === col("__bd"))
      .where(col("margin") >= threshold)
      .select("src_id", "dst_id", "cos", "margin")
  }

  /** [[marginMineFrom]] over exact [[crossTopK]] candidates in both
    * directions — the bounded-sides form the gate exercises.
    */
  def marginMine(a: DataFrame, b: DataFrame, embCol: String,
      idCol: String, k: Int, threshold: Double,
      maxExactWork: Long = 1000000000L): DataFrame =
    marginMineFrom(
      crossTopK(a, b, embCol, idCol, k, maxExactWork),
      crossTopK(b, a, embCol, idCol, k, maxExactWork), threshold)

  /** Hard-negative mining for retrieval/embedding training (Karpukhin
    * et al. 2020, DPR; the score ceiling is the ANCE / RocketQA
    * false-negative denoising rule): from each query's candidate list
    * drop its LABELED positives (anti equi-join on (query, passage))
    * and any candidate scoring ≥ `maxCos` — a near-perfect cosine on
    * an UNLABELED candidate is far more likely a missing positive
    * label than a useful negative — then keep the top `n` remaining
    * by cosine (ties to the lowest id). Output is the familiar
    * (query_id, rank, nb_id, cos) shape, triplet-ready once the
    * caller joins its positives back on query_id.
    *
    * `cand` is a (query_id, nb_id, cos) candidate list from
    * [[crossTopK]] / [[IvfIndex.search]] — mine from IVF candidates at
    * corpus scale. The anti-join is equi-keyed, the ceiling is a narrow
    * filter, and the final top-n is the same bounded partial aggregate
    * as the searchers — at most n rows per
    * query cross the exchange, never a window.
    */
  def hardNegatives(cand: DataFrame, positives: DataFrame,
      queryCol: String, posCol: String, n: Int,
      maxCos: Double = 1.0): DataFrame = {
    val pos = positives.select(col(queryCol).as("__pq"),
      col(posCol).as("__pp"))
    val filtered = cand
      .join(pos, col("query_id") === col("__pq") &&
        col("nb_id") === col("__pp"), "left_anti")
      .where(col("cos") < maxCos)
      .select("query_id", "nb_id", "cos")
    searchTopKDesc(n)(filtered)
  }

  /** [[hardNegatives]] over exact [[crossTopK]] candidates — the
    * bounded-sides form the gate exercises. `kCand` is the candidate
    * depth mined from (wider than `n` so positives and
    * ceiling-dropped rows don't starve the negative list).
    */
  def hardNegativesBrute(queries: DataFrame, corpus: DataFrame,
      positives: DataFrame, embCol: String, idCol: String,
      queryCol: String, posCol: String, kCand: Int, n: Int,
      maxCos: Double = 1.0,
      maxExactWork: Long = 1000000000L): DataFrame =
    hardNegatives(
      crossTopK(queries, corpus, embCol, idCol, kCand, maxExactWork),
      positives, queryCol, posCol, n, maxCos)

  /** The outcome of `tuneIvf`: parameters a caller can feed straight into
    * `IvfIndex.build`/`search`, plus the sampled recall that justified
    * them.
    */
  final case class IvfTuning(nlist: Int, nprobe: Int, recall: Double)

  /** Data-driven IVF parameters — at scale a user should not hand-pick
    * `nlist`/`nprobe`:
    *
    *  - `nlist ≈ √n` (the standard IVF sizing: cell scan cost ~n/nlist
    *    balances the nlist-sized codebook broadcast), clamped to
    *    [8, 65536];
    *  - `nprobe` doubles from 1 until recall@k on a SAMPLED query set
    *    reaches `target` (or nprobe hits nlist — exhaustive probing).
    *
    * Recall estimation stays 100 TB-shaped: the ground truth is
    * brute-force over sample×corpus — LINEAR in n for a fixed sample (the
    * `maxExactWork` guard is raised exactly to that budget), and each
    * probe trial is the normal celled equi-join search. Only sample×k
    * (id, id) pairs ever reach the driver. The sample is a deterministic
    * hash-order TakeOrdered, not a full sort.
    */
  def tuneIvf(corpus: DataFrame, embCol: String, idCol: String,
      k: Int = 10, target: Double = 0.9, sampleQueries: Int = 32,
      centroids: Option[DataFrame] = None): IvfTuning = {
    val n = corpus.count()
    require(n > 1, "tuneIvf needs a non-trivial corpus")
    val nlist = math.min(65536L,
      math.max(8L, math.round(math.sqrt(n.toDouble)))).toInt
    // md5-derived hash order (not xxhash64): the SAME deterministic
    // sample replays in any engine — the gate oracle re-derives it
    val sample = corpus
      .orderBy(Fns.h32(concat(lit("tune"), col(idCol).cast("string"))),
        col(idCol))
      .limit(sampleQueries)
      .select(col(idCol), col(embCol))
      .persist()
    // the corpus->cell assignment does not depend on nprobe: compute it
    // ONCE and persist for the trial loop — re-running it per doubling
    // would repeat up to log2(nlist) full corpus scans for identical
    // results (only the tiny query-side probing varies between trials)
    val index = IvfIndex.build(corpus, embCol, idCol, nlist,
      centroids = centroids)
    index.cells.persist()
    try {
      val exact = bruteForceTopK(corpus, sample, embCol, idCol, k,
          maxExactWork = 2L * sampleQueries * n)
        .select("query_id", "nb_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      var nprobe = 1
      var recall = 0.0
      var done = false
      while (!done) {
        val got = index.search(sample, k, nprobe)
          .select("query_id", "nb_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        recall =
          if (exact.isEmpty) 1.0
          else got.intersect(exact).size.toDouble / exact.size
        if (recall >= target || nprobe >= nlist) done = true
        else nprobe = math.min(nprobe * 2, nlist)
      }
      IvfTuning(nlist, nprobe, recall)
    } finally {
      index.cells.unpersist()
      sample.unpersist()
    }
  }

  // -- IVF index -----------------------------------------------------------

  /** The JL projection a projected [[IvfIndex]] searches through:
    * `randomProjection`'s `inDim` → `outDim` sign matrix from `seed`.
    */
  final case class Projection(inDim: Int, outDim: Int, seed: String = "proj")

  /** The `nlist` lowest-id vectors: the deterministic IVF codebook the
    * oracles replay, and the init `kmeansCentroids` trains from.
    */
  private[ml] def idPrefixCodebook(corpus: DataFrame, idCol: String,
      nlist: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(nlist)

  /** An IVF index over an embedding column: a codebook `centroids`
    * (idCol = cell id, centroid vector) and the corpus cell assignment
    * `cells` (nb_id, cell, v — v the normalized f64 vector the search
    * ranks with). `search` probes the best `nprobe` cells per query and
    * ranks exactly within them, so search cost drops by ~nlist/nprobe and
    * everything stays an equi-join on cell id (shuffle by cell), never an
    * all-pairs product.
    *
    * A `projection` index holds the JL-projected corpus, `outDim/inDim`
    * of the bytes in memory, on disk and through every probe-side shuffle
    * (a quarter at 64→16). Its search projects the queries with the same
    * sign matrix, takes `candidates` per query from the narrow probe, and
    * re-ranks them by FULL-dimension cosine against the caller's corpus —
    * the filter-then-refine layout. Recall compounds the probe miss and
    * the JL distortion; widen `nprobe` and `candidates` to buy it back
    * (`SimilaritySpec` measures it on clustered data).
    *
    * `embCol`/`idCol` name the caller's columns: the queries carry them,
    * and so does the re-rank corpus of a projected index.
    */
  final class IvfIndex private (val centroids: DataFrame,
      val cells: DataFrame, embCol: String, idCol: String,
      val projection: Option[Projection], trainedCodebook: Boolean) {

    /** the vector column of `centroids`, and of the probing queries */
    private def vecCol = if (projection.isDefined) "proj" else embCol

    /** Top-k neighbors per query row (excluding self), ranked by rounded
      * cosine desc then id asc: (query_id, rank, nb_id, cos). Only a
      * projected index reads `corpus` (the full-dimension frame it was
      * built from) and `candidates` (>= k).
      */
    def search(queries: DataFrame, k: Int, nprobe: Int,
        corpus: Option[DataFrame] = None, candidates: Int = 0): DataFrame =
      projection match {
        case None => nearest(queries, k, nprobe)
        case Some(p) =>
          require(corpus.isDefined, "IvfIndex.search: a projected index " +
            "re-ranks against the full-dimension corpus; pass corpus")
          require(candidates >= k,
            s"IvfIndex.search: candidates ($candidates) must be >= k ($k)")
          val pq = randomProjection(queries, embCol, idCol, p.inDim,
            p.outDim, p.seed)
          rerankFullDim(nearest(pq, candidates, nprobe), corpus.get,
            queries, embCol, idCol, k)
      }

    private def nearest(queries: DataFrame, k: Int,
        nprobe: Int): DataFrame =
      probe(queries, nprobe)
        .withColumn("cos", ndot6(col("vq"), col("v")))
        .select(col("query_id"), col("nb_id"), col("cos"))
        .transform(searchTopKDesc(k))

    /** Query-side probing — the same partial-aggregate assignment as the
      * corpus side, whose "v" IS the normalized query vector — then the
      * cell equi-join: (cell, query_id, vq, nb_id, v), self excluded.
      */
    private[Similarity] def probe(queries: DataFrame,
        nprobe: Int): DataFrame =
      assignCellsMulti(queries, centroids, vecCol, idCol, nprobe)
        .select(col(idCol).as("query_id"), col("v").as("vq"), col("cell"))
        .join(cells, "cell")
        .where(col("query_id") =!= col("nb_id"))

    /** Write the index to `dir`: `centroids`, `cells` and, for a
      * projected index, `meta` (in_dim, out_dim, seed, emb_col — a later
      * session must project its queries with the identical sign matrix,
      * or it silently probes garbage cells). The build is the expensive
      * corpus pass; saving it splits index-build from query-serve, so
      * repeated searches of the `load`-ed index read two parquet frames
      * instead of re-running codebook training and the corpus×centroids
      * assignment. `partitionByCell` lays the cells out one directory per
      * cell: the probe-side join then PRUNES unprobed cells at the scan
      * (nprobe/nlist of the index read per query batch) at the price of
      * nlist directories — worth it once the index dwarfs a batch's
      * probed slice. A trained codebook's persist is released once both
      * writes have materialized it.
      */
    def save(dir: String, partitionByCell: Boolean = false): Unit =
      try {
        centroids.select(col(idCol), col(vecCol))
          .write.mode("overwrite").parquet(s"$dir/centroids")
        val w = cells.write.mode("overwrite")
        (if (partitionByCell) w.partitionBy("cell") else w)
          .parquet(s"$dir/cells")
        projection.foreach { p =>
          cells.sparkSession.range(1)
            .select(lit(p.inDim).as("in_dim"), lit(p.outDim).as("out_dim"),
              lit(p.seed).as("seed"), lit(embCol).as("emb_col"))
            .write.mode("overwrite").parquet(s"$dir/meta")
        }
      } finally if (trainedCodebook) centroids.unpersist()
  }

  object IvfIndex {

    /** Build an index over `corpus`, lazily (no write, action or cache
      * beyond a trained codebook's own persist). The codebook is
      * `centroids` when given, else the `nlist` lowest ids (deterministic
      * — the oracles replay it); `kmeansIters > 0` trains it from that
      * init (`kmeansCentroids`). With a `projection`, codebook and cells
      * live in the projected space.
      */
    def build(corpus: DataFrame, embCol: String, idCol: String,
        nlist: Int = 0, kmeansIters: Int = 0,
        centroids: Option[DataFrame] = None,
        projection: Option[Projection] = None): IvfIndex = {
      require(nlist > 0 || centroids.isDefined,
        "IvfIndex.build: needs nlist > 0 or an explicit codebook")
      val (src, vecCol) = projection.fold((corpus, embCol)) { p =>
        (randomProjection(corpus, embCol, idCol, p.inDim, p.outDim,
          p.seed), "proj")
      }
      val cents =
        if (kmeansIters > 0)
          kmeansCentroids(src, vecCol, idCol, nlist, kmeansIters, centroids)
        else centroids.getOrElse(idPrefixCodebook(src, idCol, nlist))
      val cells = assignCells(src, cents, vecCol, idCol)
        .withColumnRenamed(idCol, "nb_id")
      new IvfIndex(cents, cells, embCol, idCol, projection, kmeansIters > 0)
    }

    /** Read an index `save`d to `dir`. */
    def load(spark: SparkSession, dir: String): IvfIndex = {
      val centroids = spark.read.parquet(s"$dir/centroids")
      val Array(idCol, vecCol) = centroids.columns
      val metaDir = new org.apache.hadoop.fs.Path(s"$dir/meta")
      val meta = Option.when(metaDir.getFileSystem(
          spark.sparkContext.hadoopConfiguration).exists(metaDir))(
        spark.read.parquet(s"$dir/meta").collect()(0))
      new IvfIndex(centroids, spark.read.parquet(s"$dir/cells"),
        meta.fold(vecCol)(_.getAs[String]("emb_col")), idCol,
        meta.map(m => Projection(m.getAs[Int]("in_dim"),
          m.getAs[Int]("out_dim"), m.getAs[String]("seed"))),
        trainedCodebook = false)
    }
  }
}
