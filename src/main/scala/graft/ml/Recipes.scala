package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The standard crawl-curation recipe composed END TO END from the
  * operator families — the one-call proof that the pieces fit: raw HTML
  * pages with URLs in, a deduplicated quality-filtered corpus out, plus
  * the per-stage funnel report every curation run ships with.
  *
  * Stage order is the one production pipelines use and the scaladocs of
  * the parts assume: markup strips FIRST (dedup shingles over raw
  * markup are markup shingles), domain kill-switches apply before
  * paying any text analysis, rule filters (cheap, narrow) run before
  * the learned classifier, and dedup runs LAST over the surviving
  * high-quality text (URL-level exact before near-dup, so canonical
  * twins never reach the band join).
  *
  * Orchestration notes: each stage's output is an EAGER localCheckpoint
  * (registered with `CacheLifecycle`) — a plain persist does NOT
  * truncate the analyzed plan, and because every stage joins two reads
  * of its input the un-truncated lineage doubles per stage until plan
  * STRINGIFICATION alone OOMs (the `components` lesson at pipeline
  * scale). Per-stage counts are bounded scalar actions; every data
  * pass is the underlying operator's documented distributed shape, and
  * the composition itself adds only id-equi-joins. Call
  * `CacheLifecycle.releaseAll()` when done with the returned frames
  * (checkpointed lineage cannot recompute after release). NOTE: the
  * funnel / funnelByDomain report frames returned by [[curate]],
  * [[curateBatch]] and the `curate*Reports` entry points are LAZY plans
  * over the checkpointed stage frames — materialize them
  * (collect/write) BEFORE `releaseAll()`, same rule as the kept frame.
  */
object Recipes {

  /** Everything a curation run publishes, from ONE staged pass: the
    * kept corpus, the global per-stage funnel (step, stage, docs) and
    * its per-registrable-domain attribution (step, stage, domain,
    * docs). Production wants all three of every run — computing them
    * via separate [[curate]] / [[curateFunnelByDomain]] calls re-runs
    * the whole staged chain per report; this is the one-pass form
    * (the stage frames are eager checkpoints, so each report is one
    * bounded aggregate over already-materialized frames).
    */
  final case class CurationReports(kept: DataFrame, funnel: DataFrame,
      funnelByDomain: DataFrame)

  /** One staged pass, all reports — see [[CurationReports]]. Same
    * parameters and stage semantics as [[curate]] +
    * [[curateFunnelByDomain]].
    */
  def curateReports(df: DataFrame, idCol: String, htmlCol: String,
      urlCol: String, blocklist: DataFrame, seed: DataFrame,
      seedLabelCol: String, minJaccard: Double = 0.8,
      badWords: Seq[String] = Seq.empty,
      psl: Option[DataFrame] = None): CurationReports =
    reportsOf(curateStaged(df, idCol, htmlCol, urlCol, blocklist,
      seed, seedLabelCol, minJaccard, badWords), urlCol, psl,
      df.sparkSession)

  /** One staged pass, all reports, for the INCREMENTAL path — the
    * [[curateBatch]] machinery with [[CurationReports]] output.
    */
  def curateBatchReports(df: DataFrame, idCol: String, htmlCol: String,
      urlCol: String, blocklist: DataFrame,
      model: Classifier.QualityModel, cutBucket: Int,
      urlIndexDir: String, bandIndexDir: String, refText: DataFrame,
      minJaccard: Double = 0.8, badWords: Seq[String] = Seq.empty,
      psl: Option[DataFrame] = None): CurationReports =
    reportsOf(curateBatchStaged(df, idCol, htmlCol, urlCol, blocklist,
      model, cutBucket, urlIndexDir, bandIndexDir, refText, minJaccard,
      badWords), urlCol, psl, df.sparkSession)

  private def reportsOf(stages: Seq[(String, DataFrame)],
      urlCol: String, psl: Option[DataFrame],
      spark: org.apache.spark.sql.SparkSession): CurationReports =
    CurationReports(stages.last._2, funnelOf(stages, spark),
      domainRollup(stages, urlCol, psl))

  /** The global per-stage funnel over already-checkpointed stage
    * frames — the ONE definition behind [[curate]], [[curateBatch]]
    * and [[curateReports]] (the q_recipe_reports gate asserts their
    * equality, so they must not be three copies that can diverge).
    */
  private def funnelOf(stages: Seq[(String, DataFrame)],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    // LAZY: one single-row aggregate per stage, unioned — the consumer's
    // one action computes every stage count in ONE Spark job instead of
    // one blocking driver action per stage (per-action fixed overhead
    // is ~0.4-0.9s in local mode and pure scheduling at cluster scale).
    // The stage frames are eager checkpoints, so each leg is a scan of
    // already-materialized blocks; an empty stage still yields its row
    // (a global aggregate over an empty frame returns count=0).
    // LIFECYCLE: because the funnel is now a lazy plan over CHECKPOINTED
    // stage frames, it must be materialized (collected/written) BEFORE
    // CacheLifecycle.releaseAll() — truncated lineage cannot recompute.
    require(stages.nonEmpty, "funnelOf: no stages recorded")
    stages.zipWithIndex.map { case ((name, frame), i) =>
      frame.agg(count(lit(1)).as("docs"))
        .select(lit(i).as("step"), lit(name).as("stage"), col("docs"))
    }.reduce(_ unionByName _)
  }

  /** The per-domain attribution over already-checkpointed stage
    * frames: one hash aggregate per stage, config-scale output.
    */
  private def domainRollup(stages: Seq[(String, DataFrame)],
      urlCol: String, psl: Option[DataFrame]): DataFrame =
    stages.zipWithIndex.map { case ((name, frame), i) =>
      Curation.withRegistrableDomain(
          frame.withColumn("__host", Curation.extractHost(col(urlCol))),
          "__host", psl)
        .groupBy("domain").agg(count(lit(1)).as("docs"))
        .select(lit(i).as("step"), lit(name).as("stage"),
          col("domain"), col("docs"))
    }.reduce(_ unionByName _)

  /** Run the full recipe. `seed` is the labeled seed set
    * (`idCol`, `seedLabelCol` ∈ {0,1}) for the quality classifier —
    * labels join against the post-markup text, so seed docs need not
    * survive the later filters. Returns (kept corpus, funnel) where
    * funnel = (step, stage, docs) after each stage.
    */
  def curate(df: DataFrame, idCol: String, htmlCol: String,
      urlCol: String, blocklist: DataFrame, seed: DataFrame,
      seedLabelCol: String, minJaccard: Double = 0.8,
      badWords: Seq[String] = Seq.empty): (DataFrame, DataFrame) = {
    val stages = curateStaged(df, idCol, htmlCol, urlCol, blocklist,
      seed, seedLabelCol, minJaccard, badWords)
    (stages.last._2, funnelOf(stages, df.sparkSession))
  }

  /** Per-domain funnel ATTRIBUTION — the production question the global
    * funnel can't answer: WHERE do the losses concentrate? One hash
    * aggregate per stage over the already-checkpointed stage frames
    * (config-scale output: stages × domains), keyed by registrable
    * domain — full Public Suffix List semantics when `psl` is supplied
    * ([[Curation.withRegistrableDomain]]; heuristic otherwise). A
    * domain whose docs vanish at `quality_rules` is template spam; one
    * that collapses at `near_dedup` is a mirror farm — the report that
    * drives blocklist and quota updates. Returns
    * (step, stage, domain, docs).
    */
  def curateFunnelByDomain(df: DataFrame, idCol: String, htmlCol: String,
      urlCol: String, blocklist: DataFrame, seed: DataFrame,
      seedLabelCol: String, minJaccard: Double = 0.8,
      badWords: Seq[String] = Seq.empty,
      psl: Option[DataFrame] = None): DataFrame =
    domainRollup(curateStaged(df, idCol, htmlCol, urlCol, blocklist,
      seed, seedLabelCol, minJaccard, badWords), urlCol, psl)

  /** The incremental (rolling-crawl) form of [[curate]]: clean and
    * filter a NEW batch with a FROZEN classifier operating point, then
    * dedup it against the STANDING indexes built from prior batches —
    * the canonical-URL index ([[Curation.buildUrlIndex]]) and the
    * MinHash band index ([[Dedup.buildBandIndex]]) — instead of
    * re-curating the union. This is the production shape: per batch the
    * corpus-sized state is only PROBED (the indexes stream against the
    * broadcast batch keys; no index shuffle, no corpus re-shingle), so
    * batch cost is O(batch), not O(corpus ∪ batch).
    *
    * Stages and funnel order match [[curate]] exactly; the two dedup
    * stages differ:
    *   - `url_dedup` keeps a row iff its canonical url is unseen in the
    *     index AND it is the batch-first among batch-internal twins
    *     ([[Curation.dedupUrlsAgainstIndex]] semantics);
    *   - `near_dedup` first drops batch rows with a verified
    *     near-neighbor in the index ([[Dedup.dedupAgainstNearIndexed]]
    *     against `refText`, the (idCol, text_clean) frame the band
    *     index was built from), then resolves batch-INTERNAL
    *     near-duplicates among the survivors with [[Dedup.dedupNear]].
    *
    * The frozen `model`/`cutBucket` come from the initial [[curate]]
    * run's training (a rolling pipeline re-trains on its own cadence,
    * not per batch). Call [[foldBatch]] with the kept frame to close
    * the loop — this method never mutates the indexes, so a probe is
    * repeatable.
    */
  def curateBatch(df: DataFrame, idCol: String, htmlCol: String,
      urlCol: String, blocklist: DataFrame,
      model: Classifier.QualityModel, cutBucket: Int,
      urlIndexDir: String, bandIndexDir: String, refText: DataFrame,
      minJaccard: Double = 0.8,
      badWords: Seq[String] = Seq.empty): (DataFrame, DataFrame) = {
    val stages = curateBatchStaged(df, idCol, htmlCol, urlCol,
      blocklist, model, cutBucket, urlIndexDir, bandIndexDir, refText,
      minJaccard, badWords)
    (stages.last._2, funnelOf(stages, df.sparkSession))
  }

  /** Per-domain funnel attribution for the INCREMENTAL path — the
    * [[curateFunnelByDomain]] report from the [[curateBatch]] state
    * machinery: per rolling-crawl batch, (step, stage, domain, docs)
    * keyed by registrable domain (full PSL semantics when `psl` is
    * supplied), one hash aggregate per already-checkpointed stage
    * frame. The report that tells a standing ingestion WHICH domains a
    * batch lost where — a domain collapsing at `url_dedup` is
    * re-crawled inventory, one collapsing at `near_dedup` is a mirror
    * of already-admitted content.
    */
  def curateBatchFunnelByDomain(df: DataFrame, idCol: String,
      htmlCol: String, urlCol: String, blocklist: DataFrame,
      model: Classifier.QualityModel, cutBucket: Int,
      urlIndexDir: String, bandIndexDir: String, refText: DataFrame,
      minJaccard: Double = 0.8, badWords: Seq[String] = Seq.empty,
      psl: Option[DataFrame] = None): DataFrame =
    domainRollup(curateBatchStaged(df, idCol, htmlCol, urlCol,
      blocklist, model, cutBucket, urlIndexDir, bandIndexDir, refText,
      minJaccard, badWords), urlCol, psl)

  /** The staged incremental-batch body shared by [[curateBatch]] and
    * [[curateBatchFunnelByDomain]] — the frozen-operating-point clean
    * + standing-index probes, stage frames in funnel order (last = the
    * kept batch). Every frame retains the input's url column.
    */
  private def curateBatchStaged(df: DataFrame, idCol: String,
      htmlCol: String, urlCol: String, blocklist: DataFrame,
      model: Classifier.QualityModel, cutBucket: Int,
      urlIndexDir: String, bandIndexDir: String, refText: DataFrame,
      minJaccard: Double,
      badWords: Seq[String]): Seq[(String, DataFrame)] = {
    val spark = df.sparkSession
    val (funnel, stage, record) = stageRecorder()
    val ruled = frontStages(stage, record, df, idCol, htmlCol, urlCol,
      blocklist, badWords)
    val scored = stage("classifier")(
      ruled.join(
        Classifier.score(ruled, "text_clean", idCol, model)
          .where(floor(col("score") * 1000).cast("int") >=
            lit(cutBucket))
          .select(col(idCol)),
        Seq(idCol)))
    val urlKept = stage("url_dedup")(
      scored.join(
        Curation.dedupUrlsAgainstIndex(spark, urlIndexDir, scored,
            urlCol, idCol)
          .where(col("keep")).select(col(idCol)),
        Seq(idCol)))
    val vsIndex = Dedup.dedupAgainstNearIndexed(spark, bandIndexDir,
      urlKept, refText, "text_clean", idCol, minJaccard)
    stage("near_dedup")(
      vsIndex.join(
        Dedup.dedupNear(vsIndex, "text_clean", idCol, minJaccard)
          .where(col("keep")).select(col(idCol)),
        Seq(idCol)))
    funnel.toSeq
  }

  /** Close the standing-ingestion loop: fold a [[curateBatch]] kept
    * frame into both indexes (append-only, first-write-wins — the
    * [[Curation.updateUrlIndex]]/[[Dedup.updateBandIndex]] contracts).
    * The caller persists the kept rows' TEXT alongside (the next
    * probe's `refText` must grow by the same rows; the band index
    * alone carries only signatures).
    */
  def foldBatch(spark: org.apache.spark.sql.SparkSession,
      kept: DataFrame, urlCol: String, idCol: String,
      urlIndexDir: String, bandIndexDir: String): Unit = {
    Curation.updateUrlIndex(spark, urlIndexDir, kept, urlCol, idCol)
    Dedup.updateBandIndex(spark, bandIndexDir, kept, "text_clean", idCol)
  }

  /** The staged recipe body shared by [[curate]] and
    * [[curateFunnelByDomain]]: runs every stage, eager-checkpointing
    * each boundary, and returns the named stage frames in funnel order
    * (last = the kept corpus). Every frame retains the input's url
    * column, so attribution rollups need no re-join.
    */
  private def curateStaged(df: DataFrame, idCol: String, htmlCol: String,
      urlCol: String, blocklist: DataFrame, seed: DataFrame,
      seedLabelCol: String, minJaccard: Double,
      badWords: Seq[String]): Seq[(String, DataFrame)] = {
    val (funnel, stage, record) = stageRecorder()
    val ruled = frontStages(stage, record, df, idCol, htmlCol, urlCol,
      blocklist, badWords)
    // the classifier trains on the POST-MARKUP text of the seed ids
    val texted = funnel(1)._2
    val labeled = texted.select(col(idCol), col("text_clean"))
      .join(seed.select(col(idCol), col(seedLabelCol)), Seq(idCol))
    val model = Classifier.train(labeled, "text_clean", seedLabelCol,
      idCol)
    val cut = Classifier.tuneThreshold(labeled, "text_clean",
      seedLabelCol, idCol, model)
    val scored = stage("classifier")(
      ruled.join(
        Classifier.score(ruled, "text_clean", idCol, model)
          .where(floor(col("score") * 1000).cast("int") >=
            lit(cut.cutBucket))
          .select(col(idCol)),
        Seq(idCol)))
    val urlKept = stage("url_dedup")(
      scored.join(
        Curation.dedupUrls(scored, urlCol, idCol)
          .where(col("keep")).select(col(idCol)),
        Seq(idCol)))
    stage("near_dedup")(
      urlKept.join(
        Dedup.dedupNear(urlKept, "text_clean", idCol, minJaccard)
          .where(col("keep")).select(col(idCol)),
        Seq(idCol)))
    funnel.toSeq
  }

  private def stageRecorder(): (
      scala.collection.mutable.ArrayBuffer[(String, DataFrame)],
      String => DataFrame => DataFrame,
      (String, DataFrame) => DataFrame) = {
    val funnel =
      scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    def stage(name: String)(d: DataFrame): DataFrame = {
      // label the checkpoint job (guide §1.5) so profiles attribute the
      // staged chain's cost stage by stage instead of one opaque callsite
      val sc = d.sparkSession.sparkContext
      sc.setJobDescription(s"recipe stage: $name")
      val cp =
        try d.localCheckpoint(true) finally sc.setJobDescription(null)
      CacheLifecycle.pinCheckpointed(cp)
      funnel += name -> cp
      cp
    }
    // record WITHOUT a checkpoint: for stage frames that are already
    // narrow views over checkpointed blocks (the fused front), where an
    // extra eager materialization would buy nothing but an action
    def record(name: String, d: DataFrame): DataFrame = {
      funnel += name -> d
      d
    }
    (funnel, stage, record)
  }

  /** input → html_to_text → blocklist → quality_rules — the cleaning
    * front shared by the one-shot and incremental recipes. Returns the
    * ruled frame; the recorder accumulates the stage frames.
    *
    * The three LINEAR stages (input, html_to_text, blocklist) share ONE
    * eager checkpoint: none of them joins two reads of its input (the
    * reason the join stages checkpoint per stage), so the front is one
    * flagged pass — html_to_text's survival and the blocklist verdict
    * ride as columns on every input row — and the three recorded stage
    * frames are narrow FILTERS over the same checkpointed blocks.
    * Counts and columns are bit-identical to the three-checkpoint form
    * (the blocklist join is per-row and text-independent, so flagging
    * empty-text rows it never used to see changes nothing the filtered
    * views expose); what changes is the action count — one
    * materialization barrier instead of three (guide §1: each eager
    * checkpoint is a full scheduler round-trip at any scale).
    */
  private def frontStages(stage: String => DataFrame => DataFrame,
      record: (String, DataFrame) => DataFrame,
      df: DataFrame, idCol: String, htmlCol: String, urlCol: String,
      blocklist: DataFrame, badWords: Seq[String]): DataFrame = {
    val reserved = Seq("blocked", "blocked_by", "text_clean",
      "__kept_text", "__host").filter(df.columns.contains)
    require(reserved.isEmpty, "recipe input must not carry the front " +
      s"stage's working columns: ${reserved.mkString(", ")}")
    val inCols = df.columns.map(col).toSeq
    val sc = df.sparkSession.sparkContext
    sc.setJobDescription("recipe front: input+html_to_text+blocklist")
    val front =
      try Curation.applyDomainBlocklist(
          df.withColumn("text_clean", Curation.htmlToText(col(htmlCol)))
            .withColumn("__kept_text",
              col("text_clean").isNotNull && col("text_clean") =!= "")
            .withColumn("__host", Curation.extractHost(col(urlCol))),
          "__host", blocklist)
        .localCheckpoint(true)
      finally sc.setJobDescription(null)
    CacheLifecycle.pinCheckpointed(front)
    record("input", front.select(inCols: _*))
    record("html_to_text",
      front.where(col("__kept_text"))
        .select(inCols :+ col("text_clean"): _*))
    val unblocked = record("blocklist",
      front.where(col("__kept_text") && !col("blocked"))
        .select(inCols :+ col("text_clean"): _*))
    stage("quality_rules")(
      unblocked.drop("text_clean").join(
        Curation.qualityPipeline(unblocked, "text_clean", idCol, badWords)
          .where(col("keep")).select(col(idCol), col("text_clean")),
        Seq(idCol)))
  }
}
