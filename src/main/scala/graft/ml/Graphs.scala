package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators for crawl curation. Domain/host authority is a
  * standard corpus-quality signal (crawl frontiers and quality weights
  * are routinely derived from link centrality); the graph is built from
  * extracted hrefs and scored with PageRank.
  *
  * Every iteration uses EXACT integer arithmetic on 1e-12-quanta ranks
  * (floor divisions in a fixed order), so the result is
  * partition-order-independent and replays bit-for-bit in the DuckDB
  * oracle's unrolled iteration CTEs — a double-sum PageRank would drift
  * by summation order across topologies.
  */
object Graphs {

  /** Fixed-point scale of the ranks (1e-12 quanta). */
  val RankScale = 1000000000000L

  /** PageRank over an edge list, `iters` fixed iterations at damping
    * 0.85 (hard-coded so the 85/100 integer steps are part of the
    * replayable contract). Edges dedup first; nodes = src ∪ dst.
    *
    * Exact update, all BIGINT floors in fixed order:
    *   contrib(u→v) = r(u) div outdeg(u)
    *   dangling     = Σ r(u) over outdeg-less u, then div N
    *   r'(v) = (Scale·15 div 100) div N
    *           + (85 · (Σ contrib(·→v) + dangling)) div 100
    * Flooring loses a little mass per iteration (deterministically);
    * ranking order is what the signal consumer uses.
    *
    * Scale shape: per iteration one equi-join of ranks with the edge
    * list (shuffle on src) and one partial-aggregated sum (shuffle on
    * dst) — the standard distributed PageRank; the dangling mass rides
    * as a broadcast 1-row frame inside the same job (no per-iteration
    * driver action). Each iteration ends in an EAGER localCheckpoint.
    * The round-17 stall snapshot shipped a fully-LAZY fixpoint
    * (persist-pinned iterates, checkpoint every 4th) on the theory that
    * fewer actions win; MEASURED in round 18 it was ~40% SLOWER
    * (q_pagerank 12.4 s lazy vs 7.4 s checkpointed at sf0.1, 39 jobs vs
    * ~10): every iteration's `broadcast(dangling)` leg materializes
    * BEFORE the consuming job, so with no truncated base it re-derives
    * the whole un-truncated lineage — the href-extraction scan re-ran
    * once per iteration (15 s of executor time in one stage). The
    * eager checkpoint is load-bearing here exactly as in
    * `Dedup.components`: it gives each iteration's broadcast sub-job a
    * materialized base. Reverted per the round-17 verdict's
    * "measure, and revert if not better". Returns (node, pr_rank) —
    * named to stay clear of the `rank` window keyword in replay
    * engines.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    // the edge table is CHECKPOINTED, not merely persisted: every
    // iteration's AQE/broadcast sub-jobs re-resolve their base plans,
    // and a lazily-cached edge frame was measured re-running its
    // upstream extraction once per iteration (cache-fill races between
    // concurrently-materializing query stages — q_pagerank 7.0 s
    // pinned vs 4.7 s checkpointed, exclusive pairs); the checkpoint
    // makes the one full computation structural. An additional
    // repartition("src") before the checkpoint (so the per-round
    // contribution join reads a pre-clustered edge side, guide §2.4)
    // was measured and REJECTED: 4.74 -> 5.27 s — the build-time
    // exchange costs more than the per-iteration exchange it was meant
    // to remove, and the plan could not be shown to actually drop it.
    val e = CacheLifecycle.pinCheckpointed(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .distinct().localCheckpoint(true))
    val nodes = CacheLifecycle.pin(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    val outdeg = CacheLifecycle.pin(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
    val base = RankScale * 15L / 100L / n
    // NO init checkpoint: `nodes` is persisted and already materialized
    // by the count above, so round 1's base is a narrow map over cached
    // blocks — checkpointing identity ranks would only buy one more
    // eager action (releaseCheckpoint below is a no-op on this frame)
    var ranks = nodes.withColumn("pr_rank", lit(RankScale / n))
    (1 to iters).foreach { _ =>
      val withDeg = ranks.join(outdeg, Seq("node"), "left")
      // the dangling mass rides as a broadcast 1-row frame instead of a
      // separate driver action — one job per iteration (the eager
      // checkpoint), not two; its materialization reads the previous
      // round's CHECKPOINTED ranks, never deeper lineage
      val dangling = withDeg.where(col("deg").isNull)
        .agg(expr(s"coalesce(sum(pr_rank), 0L) div ${n}L").as("ds"))
      val sums = withDeg.where(col("deg").isNotNull)
        .select(col("node").as("src"),
          expr("pr_rank div deg").as("c"))
        .join(e, "src")
        .groupBy(col("dst").as("node")).agg(sum(col("c")).as("s"))
      // pinned on creation: an iteration that throws leaves every
      // earlier iterate registered for releaseAll
      val next = CacheLifecycle.pinCheckpointed(
        nodes.join(sums, Seq("node"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("node"),
            (lit(base) +
              expr("(85 * (coalesce(s, 0L) + ds)) div 100"))
              .as("pr_rank"))
          .localCheckpoint(true))
      // drop the previous round's checkpointed blocks immediately
      CacheLifecycle.releaseCheckpoint(ranks)
      ranks = next
    }
    ranks
  }

  /** Href extraction from raw HTML — RE2-safe (the oracle replays it):
    * the quoted value of every `href="..."`/`href='...'` attribute,
    * case-insensitive, one row per link. The attribute name must follow
    * a non-name character ([^\w-]) so `data-href` never matches — the
    * lookbehind-free boundary RE2 allows. Returns `df`'s id column +
    * `href`. A narrow map + one explode; no shuffle.
    */
  def extractLinks(df: DataFrame, htmlCol: String,
      idCol: String): DataFrame = {
    val hrefs = concat(
      regexp_extract_all(col(htmlCol),
        lit("(?i)[^\\w-]href=\"([^\"]*)\""), lit(1)),
      regexp_extract_all(col(htmlCol),
        lit("(?i)[^\\w-]href='([^']*)'"), lit(1)))
    df.select(col(idCol), explode(hrefs).as("href"))
  }

  /** (href, anchor-text) pairs from raw HTML — the link graph's second
    * signal: anchor text describes the TARGET page (anchor-text
    * indexing), so quality/topic signals aggregate per target. Matches
    * `<a ... href="u" ...>text</a>` where the anchor body has no nested
    * tags (RE2-safe; nested-markup anchors are out of the regex
    * contract, like htmlToText's recovery limits). Two aligned
    * `regexp_extract_all` passes of the SAME pattern zip positionally —
    * RE2 and Java find non-overlapping matches in the same order.
    * Returns idCol + (href, anchor). A narrow map + one explode.
    */
  def extractAnchors(df: DataFrame, htmlCol: String,
      idCol: String): DataFrame = {
    def pairs(pat: String) = zip_with(
      regexp_extract_all(col(htmlCol), lit(pat), lit(1)),
      regexp_extract_all(col(htmlCol), lit(pat), lit(2)),
      (u, t) => struct(u.as("href"), t.as("anchor")))
    val dq = "(?i)<a[^>]*[^\\w-]href=\"([^\"]*)\"[^>]*>([^<]*)</a"
    val sq = "(?i)<a[^>]*[^\\w-]href='([^']*)'[^>]*>([^<]*)</a"
    df.select(col(idCol),
        explode(concat(pairs(dq), pairs(sq))).as("__z"))
      .select(col(idCol), col("__z.href").as("href"),
        col("__z.anchor").as("anchor"))
  }

  /** Per-target-domain anchor index: every anchor text pointing at a
    * registrable domain, aggregated as (domain, n_links, anchors) with
    * the anchor list SORTED and capped at `maxAnchors` (deterministic
    * across topologies; the cap bounds per-domain state — popular
    * domains attract unbounded in-links at crawl scale). One narrow
    * extraction map + one partial hash aggregate.
    */
  def anchorIndex(links: DataFrame, hrefCol: String, anchorCol: String,
      maxAnchors: Int = 20, psl: Option[DataFrame] = None): DataFrame =
    Curation.withRegistrableDomain(
        links.select(Curation.extractHost(col(hrefCol)).as("__h"),
          col(anchorCol).as("__a")),
        "__h", psl)
      .where(col("domain").isNotNull)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_links"),
        slice(array_sort(collect_list(col("__a"))), 1, maxAnchors)
          .as("anchors"))

  /** PageRank rolled up to registrable domains — the per-domain
    * AUTHORITY table the link-quality and mix compositions consume
    * (and the `q_domain_authority` dashboard row). One hash aggregate
    * over the (config-scale) rank frame; `psl` switches the domain
    * keying to full Public Suffix List semantics
    * ([[Curation.withRegistrableDomain]]) — on a real crawl the
    * heuristic wrongly splits or merges co.uk/github.io-class hosts,
    * corrupting every downstream quota built on the rollup.
    */
  def domainAuthority(ranks: DataFrame, nodeCol: String = "node",
      psl: Option[DataFrame] = None): DataFrame =
    Curation.withRegistrableDomain(
        ranks.select(col(nodeCol).as("__h"), col("pr_rank")), "__h", psl)
      .groupBy("domain")
      .agg(sum(col("pr_rank")).as("authority"),
        count(lit(1)).as("n_hosts"))

  /** The composed per-domain link-QUALITY table — the two link-graph
    * signals joined into the one frame a curation pass feeds into
    * `domainMix` quotas: anchor DIVERSITY (distinct lower-cased
    * whitespace anchor terms per in-link — organic in-links describe a
    * target many ways, spam farms repeat one phrase) and the PageRank
    * AUTHORITY rollup. All integer arithmetic, replayable anywhere:
    * `diversity_ppm` = min(⌊min(terms,1e7)·1e6 / n_links⌋, 1e7) and
    * `quality` = ⌊authority/1000⌋·diversity_ppm div 1000. The staged
    * floors plus the 1e7-ppm clamp keep the product inside 64 bits BY
    * CONSTRUCTION — authority ≤ the 1e12 rank scale and ppm ≤ 1e7 give
    * quality ≤ 1e13 < 2^53, so even the Long→Double conversion
    * downstream (`mixByLinkQuality`) stays exact; the /1000 granularity
    * loss is far below either signal's noise.
    *
    * Scale shape: one narrow extraction map; two partial hash
    * aggregates over (domain) — link count, and distinct terms over
    * the exploded anchor tokens — equi-joined on the domain key, then
    * a LEFT join with the (config-scale) authority table. The
    * extraction frame is pinned: two aggregate legs read it. No
    * window, no product, no driver state.
    */
  def domainLinkQuality(links: DataFrame, hrefCol: String,
      anchorCol: String, authority: DataFrame,
      psl: Option[DataFrame] = None): DataFrame = {
    val keyed = CacheLifecycle.pin(
      Curation.withRegistrableDomain(
          links.select(Curation.extractHost(col(hrefCol)).as("__h"),
            col(anchorCol).as("__a")),
          "__h", psl)
        .select(col("domain"), col("__a"))
        .where(col("domain").isNotNull))
    val counts = keyed.groupBy("domain")
      .agg(count(lit(1)).as("n_links"))
    val terms = keyed
      .select(col("domain"), explode(Fns.wsTokens(col("__a"))).as("__t"))
      .groupBy("domain")
      .agg(count_distinct(col("__t")).as("n_anchor_terms"))
    counts.join(terms, Seq("domain"), "left")
      .withColumn("n_anchor_terms",
        coalesce(col("n_anchor_terms"), lit(0L)))
      .withColumn("diversity_ppm",
        // ENFORCED headroom, not assumed: diversity is unbounded in the
        // wild (one link with a 1e4-term anchor reads ~1e10 ppm), and an
        // unclamped value would push (authority div 1000) · ppm past
        // 2^63 at the 1e12 rank scale — wrapping quality negative and
        // breaking mixByLinkQuality's <2^53 exactness contract. 1e7 ppm
        // = 10 distinct terms per in-link, already deep in degenerate
        // territory (organic anchors carry 1-5 terms); the inner clamp
        // keeps the product itself inside 64 bits for any term count.
        least(expr(
          "least(n_anchor_terms, 10000000) * 1000000 div n_links"),
          lit(10000000L)))
      .join(authority.select(col("domain"),
        col("authority").cast("long").as("authority")),
        Seq("domain"), "left")
      .withColumn("authority", coalesce(col("authority"), lit(0L)))
      .withColumn("quality",
        expr("(authority div 1000) * diversity_ppm div 1000"))
  }

  /** Close the loop: the [[domainLinkQuality]] table FEEDING the
    * `domainMix` quotas — per-domain target weights proportional to
    * link quality, zero-quality domains excluded, the selection itself
    * delegated to [[Curation.domainMix]] (exact deterministic
    * lowest-hash-first keeps). The quality table is config-scale
    * (domains, not documents): one require-bounded collect builds the
    * target map; quality values stay < 2⁵³ by construction (authority
    * is bounded by the 1e12 rank scale and the staged floors), so the
    * Long→Double target conversion is exact and any engine replays the
    * scale/floor arithmetic bit-for-bit.
    */
  def mixByLinkQuality(corpus: DataFrame, idCol: String,
      domainCol: String, quality: DataFrame, salt: String = "mixQ",
      maxDomains: Int = 10000): DataFrame = {
    val rows = Fns.collectAtMost(
      quality.select(col("domain"), col("quality"))
        .where(col("quality") > 0), maxDomains)(
      s"mixByLinkQuality: more than $maxDomains positive-quality " +
        "domains — the target map is driver-resident by design " +
        "(bucket low-quality domains upstream or raise maxDomains)")
    val targets = rows
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    require(targets.nonEmpty,
      "mixByLinkQuality: no positive-quality domains")
    Curation.domainMix(corpus, idCol, domainCol, targets, salt)
  }
}
