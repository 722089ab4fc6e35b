package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-16 gates: byte-level BPE, the one-pass recipe reports, the
  * signed quantile sketch, and the all-sketch corpus report.
  */
object Round16Queries {

  // --------------------------------------------------------------------
  // One-pass recipe reports. Production publishes kept + funnel +
  // funnel-by-domain from ONE staged pass (Recipes.curateReports /
  // curateBatchReports); the four recipe gates previously re-ran the
  // same staged chain each (~80 s of the ~220 s sf0.1 bench and the
  // locus of two consecutive two-run-variance violations). The gates
  // now share one engine pass per scale factor through `Q.once`, like
  // the vocabulary carriers: the REAL operators run once (all values
  // still computed by the engine), the collected config-scale report
  // rows (7 funnel rows; stages × domains) are re-served to the
  // sibling gates. q_recipe_reports drives the combined entry point
  // LIVE and carries the family's honest bench cost.
  // --------------------------------------------------------------------

  private final case class RecipeReports(
      funnel: Seq[(Int, String, Long)],
      domains: Seq[(Int, String, Option[String], Long)])

  private def collectReports(
      r: graft.ml.Recipes.CurationReports): RecipeReports = {
    // require-bounded driver state (the vocabulary-cache discipline):
    // both reports are config-scale by construction (stages and
    // stages × fixture domains); a fixture change that breaks that
    // fails loudly instead of ballooning the driver
    val funnel = graft.ml.Fns.collectAtMost(r.funnel, 1 << 10)(
      s"recipe report cache: funnel unexpectedly large")
    val domains = graft.ml.Fns.collectAtMost(r.funnelByDomain, 1 << 20)(
      s"recipe report cache: by-domain report unexpectedly large")
    RecipeReports(
      funnel
        .map(x => (x.getInt(0), x.getString(1), x.getLong(2))).toSeq,
      domains
        .map(x => (x.getInt(0), x.getString(1),
          Option(x.getString(2)), x.getLong(3))).toSeq)
  }

  /** The q_recipe_funnel fixture chain (Round13's gate input): funnel
    * pages wrapped in light html, synthetic urls, the `short line`
    * seed labels.
    */
  private def oneShotInput(spark: SparkSession,
      sf: String): (DataFrame, DataFrame) = {
    val pages = Round13Queries.withFunnelPage(
      Tables.load(spark, sf, "documents"))
    val input = Round11Queries.withUrl(pages
      .select(col("doc_id"), col("page").as("text"))
      .withColumn("html", Round14Queries.wrapHtml(col("text"))))
    val seed = pages.where(col("doc_id") < 300)
      .select(col("doc_id"),
        col("page").contains("short line").cast("int").as("__y"))
    (input, seed)
  }

  private def oneShotReportsFor(spark: SparkSession,
      sf: String): RecipeReports =
    Q.once("oneShotReports", sf) {
      import spark.implicits._
      val (input, seed) = oneShotInput(spark, sf)
      collectReports(graft.ml.Recipes.curateReports(input, "doc_id",
        "html", "url", Round12Queries.BlockEntries.toDF("entry"), seed,
        "__y", minJaccard = 0.8, badWords = Seq("offer"),
        psl = Some(Round13Queries.PslFullRules.toDF("suffix", "kind"))))
    }

  private def incrReportsFor(spark: SparkSession,
      sf: String): RecipeReports =
    Q.once("incrReports", sf) {
      import spark.implicits._
      val docs = Tables.load(spark, sf, "documents")
      val blocklist = Round12Queries.BlockEntries.toDF("entry")
      val st = Round14Queries.incrStateFor(spark, sf, docs, blocklist)
      val kept1 = spark.read.parquet(s"${st.dir}/admitted")
      collectReports(graft.ml.Recipes.curateBatchReports(
        Round14Queries.incrBatch2(docs, kept1), "doc_id", "html",
        "url", blocklist, st.model, st.cut, s"${st.dir}/url",
        s"${st.dir}/band", kept1.select("doc_id", "text_clean"),
        minJaccard = 0.8, badWords = Seq("offer")))
    }

  private[queries] def oneShotFunnelDf(spark: SparkSession,
      sf: String): DataFrame = {
    import spark.implicits._
    oneShotReportsFor(spark, sf).funnel.toDF("step", "stage", "docs")
  }

  private[queries] def oneShotDomainsDf(spark: SparkSession,
      sf: String): DataFrame = {
    import spark.implicits._
    oneShotReportsFor(spark, sf).domains
      .toDF("step", "stage", "domain", "docs")
  }

  private[queries] def incrFunnelDf(spark: SparkSession,
      sf: String): DataFrame = {
    import spark.implicits._
    incrReportsFor(spark, sf).funnel.toDF("step", "stage", "docs")
  }

  private[queries] def incrDomainsDf(spark: SparkSession,
      sf: String): DataFrame = {
    import spark.implicits._
    incrReportsFor(spark, sf).domains
      .toDF("step", "stage", "domain", "docs")
  }

  /** The combined one-pass report replayed: the incremental funnel
    * counts (domain `(all)`) plus the per-domain rollups, both from
    * the SAME batch-2 stage CTEs — literally the union of the two
    * sibling oracles' bodies, which is the equality the gate asserts
    * (one staged pass must reproduce what the separate entry points
    * report).
    */
  private lazy val recipeReportsOracle = {
    import Round14Queries.{incrStageCtes, recipeIncrementalPrefix}
    import Round11Queries.{hostSql, domainSql}
    val counts = incrStageCtes.map { case (i, name, cte) =>
      s"SELECT CAST($i AS INT) AS step, '$name' AS stage, " +
        s"'(all)' AS domain, (SELECT count(*) FROM $cte) AS docs"
    }.mkString("\n        UNION ALL ")
    val rollups = incrStageCtes.map { case (i, name, cte) =>
      s"""SELECT CAST($i AS INT) AS step, '$name' AS stage, d.domain,
            count(*) AS docs
          FROM $cte s JOIN rrdom d USING (doc_id)
          GROUP BY 1, 2, 3"""
    }.mkString("\n      UNION ALL ")
    s"""$recipeIncrementalPrefix,
       rrdom AS MATERIALIZED (
         SELECT doc_id, ${domainSql(hostSql("url"))} AS domain
         FROM b2src)
      SELECT * FROM (
        $counts)
      UNION ALL $rollups"""
  }

  /** `bpeEncodeIdsBytes` replayed end to end: the bait corpus appends
    * a per-doc ` v<digit>#q` token (digits and `#` sit outside the
    * merge alphabet, so they stay raw single bytes — totality without
    * a sentinel); the replay is the SAME chained-replace ground truth
    * as the char-level encoder (the corpus is pure ASCII, where the
    * char rendering IS the byte rendering — guarded by the error()
    * branch below, the unicode()-equals-byte assumption can never
    * silently rot), with the byte-level id layout: a single-byte
    * piece's id is its byte value, a merged piece's id is 256 + the
    * first producing rank.
    */
  private lazy val bpeBytesOracle = {
    import Round13Queries.largeMerges
    val groups = largeMerges.grouped(20).toSeq
    val ctes = groups.zipWithIndex.map { case (g, gi) =>
      val inner = g.foldLeft("s") { case (acc, (l, r)) =>
        s"replace($acc, ' $l  $r ', ' $l$r ')"
      }
      s"bb${gi + 1} AS (SELECT doc_id, tok_pos, $inner AS s FROM bb$gi)"
    }
    val last = s"bb${groups.size}"
    val mergeVals = largeMerges.zipWithIndex.map { case ((l, r), i) =>
      s"('${l + r}', ${i + 1})"
    }.mkString(", ")
    s"""WITH bbait AS (
         SELECT doc_id,
           text || ' v' || CAST(doc_id % 10 AS VARCHAR) || '#q' AS text
         FROM documents),
       bb0 AS (
         SELECT doc_id, ord - 1 AS tok_pos,
           array_to_string(list_transform(range(1, len(word) + 1),
             i -> ' '||word[i]||' '), '') AS s
         FROM (SELECT doc_id,
                 unnest(range(1, len(tl) + 1)) AS ord,
                 unnest(tl) AS word
               FROM (SELECT doc_id, list_filter(
                       string_split(lower(text), ' '), t -> t <> '')
                       AS tl
                     FROM bbait))),
       ${ctes.mkString(",\n       ")},
       bbm(piece, rnk) AS (VALUES $mergeVals),
       bbmid AS (SELECT piece, 256 + min(rnk) AS pid
                 FROM bbm GROUP BY 1),
       bbpcs AS (SELECT doc_id, tok_pos,
                   unnest(range(1, len(pl) + 1)) AS ord2,
                   unnest(pl) AS piece
                 FROM (SELECT doc_id, tok_pos, list_filter(
                         string_split(s, ' '), x -> x <> '') AS pl
                       FROM $last)),
       bbids AS (SELECT p.doc_id, p.tok_pos, p.ord2,
                   CASE WHEN len(p.piece) = 1 THEN
                     CASE WHEN unicode(p.piece) < 128
                       THEN unicode(p.piece)
                       ELSE error('bpeBytesOracle: non-ASCII char — ' ||
                         'unicode() equals the UTF-8 byte only below ' ||
                         '128; replay real byte expansion before ' ||
                         'widening the corpus')
                       END
                   ELSE m.pid END AS pid
                 FROM bbpcs p LEFT JOIN bbmid m USING (piece))
      SELECT doc_id, CAST(tok_pos AS BIGINT) AS tok_pos,
        CAST(ord2 - 1 AS BIGINT) AS piece_pos,
        CAST(pid AS BIGINT) AS piece_id
      FROM bbids"""
  }

  /** Sub-bucket bits / HLL precision of the round-16 sketch gates —
    * the SAME constants SketchQueries' shared DuckDB helpers bake in
    * (referenced, not copied, so a retuning cannot desync the engine
    * side from its oracle).
    */
  private val HistB = SketchQueries.HistB
  private val ReportP = SketchQueries.P

  /** The SIGNED quantile sketch replayed: the two-sided bucket CASE,
    * the same cumulative rank rule, and the sign-aware decode
    * (negative bucket −k → −lo(k+1)+1). The fixture centers
    * events.value at 0 (micros of value − 0.5), so both sides carry
    * real mass; the |v| < 2^62 domain filter replays in lockstep even
    * though these micros can never reach it.
    */
  private lazy val histSignedOracle = {
    import SketchQueries.{histBucketDuck, histLoDuck}
    val bkt = s"""CASE WHEN v >= 0 THEN (${histBucketDuck("v")})
                  ELSE -(${histBucketDuck("(-(v))")}) END"""
    val lo = s"""CASE WHEN b0 >= 0 THEN (${histLoDuck("b0")})
                 ELSE -(${histLoDuck("((-(b0)) + 1)")}) + 1 END"""
    s"""WITH vals AS (SELECT event_type,
             CAST(trunc((value - 0.5) * 1000000) AS BIGINT) AS v
           FROM events
           WHERE value IS NOT NULL AND isfinite(value)
             AND CAST(trunc((value - 0.5) * 1000000) AS BIGINT)
                 > ${-(1L << 62)}
             AND CAST(trunc((value - 0.5) * 1000000) AS BIGINT)
                 < ${1L << 62}),
         hfold AS (SELECT event_type, $bkt AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
           FROM vals GROUP BY 1, 2),
         hcum AS (SELECT event_type, bucket,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
               AS c,
             sum(cnt) OVER (PARTITION BY event_type) AS n
           FROM hfold),
         hpr AS (SELECT event_type, bucket, c, n,
                   unnest([100, 500, 900]) AS q
                 FROM hcum),
         hqb AS (SELECT event_type, CAST(q AS INT) AS q_permille,
                   min(bucket) AS b0
                 FROM hpr WHERE c * 1000 >= q * n GROUP BY 1, 2)
        SELECT event_type, q_permille,
          CAST($lo AS BIGINT) AS quantile_lo
        FROM hqb"""
  }

  /** The ALL-SKETCH corpus report replayed: exact doc/token counts
    * (aggregates, not sketches — they cost nothing extra from the same
    * scans), the full corrected HLL chain for distinct tokens, and the
    * histogram-sketch quantiles for length percentiles.
    */
  private[queries] lazy val corpusReportSketchedOracle = {
    import SketchQueries.{histBucketDuck, histLoDuck,
      hllCorrectedGroupedOracle}
    val hllInner = hllCorrectedGroupedOracle("lang",
      """SELECT lang, unnest(list_filter(
           string_split(lower(text), ' '), t -> t <> '')) AS v
         FROM documents""")
    s"""WITH base AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         ts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens
                FROM (SELECT lang, unnest(list_filter(
                        string_split(lower(text), ' '), t -> t <> ''))
                        AS tok
                      FROM documents)
                GROUP BY 1),
         hll AS ($hllInner),
         vals AS (SELECT lang, CAST(n_chars AS BIGINT) AS v
           FROM documents
           WHERE n_chars IS NOT NULL AND n_chars >= 0),
         hfold AS (SELECT lang, ${histBucketDuck("v")} AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
           FROM vals GROUP BY 1, 2),
         hcum AS (SELECT lang, bucket,
             sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS c,
             sum(cnt) OVER (PARTITION BY lang) AS n
           FROM hfold),
         hpr AS (SELECT lang, bucket, c, n, unnest([500, 900]) AS q
                 FROM hcum),
         hqb AS (SELECT lang, CAST(q AS INT) AS q_permille,
                   min(bucket) AS b0
                 FROM hpr WHERE c * 1000 >= q * n GROUP BY 1, 2),
         qp AS (SELECT lang,
                  max(CASE WHEN q_permille = 500
                    THEN CAST(${histLoDuck("b0")} AS BIGINT) END)
                    AS p50_chars_lo,
                  max(CASE WHEN q_permille = 900
                    THEN CAST(${histLoDuck("b0")} AS BIGINT) END)
                    AS p90_chars_lo
                FROM hqb GROUP BY 1)
        SELECT base.lang, base.n_docs, ts.n_tokens,
          hll.hll_est AS hll_tokens, qp.p50_chars_lo, qp.p90_chars_lo
        FROM base JOIN ts USING (lang) JOIN hll USING (lang)
        JOIN qp USING (lang)"""
  }

  // --------------------------------------------------------------------
  // Shared pagerank fixture. Five gates chain off the IDENTICAL
  // 3-iteration integer PageRank over the synthetic link fixture
  // (q_pagerank, q_domain_authority, q_authority_psl,
  // q_domain_link_quality, q_mix_link_quality — ~49 s of bench re-runs
  // of one ~8 s fixpoint). Same discipline as the recipe/vocabulary
  // caches: q_pagerank drives the LIVE loop (the honest carrier), the
  // downstream rollup gates consume the collected config-scale
  // (node, pr_rank) rows — every oracle still replays the full chain
  // from scratch, so correctness coverage is unchanged.
  // --------------------------------------------------------------------

  /** The q_pagerank synthetic edge fixture (Round12's gate input). */
  private[queries] def fixtureEdges(spark: SparkSession,
      sf: String): DataFrame = {
    import Round11Queries.{withUrl, pick}
    val u = withUrl(Tables.load(spark, sf, "documents"))
      .withColumn("src", graft.ml.Curation.extractHost(col("url")))
    val e1 = u.select(col("src"),
      concat(lit("www.site"), pick("-l1", 40).cast("string"),
        lit(".com")).as("dst"))
    val e2 = u.select(col("src"),
      concat(lit("site"), pick("-l2", 40).cast("string"),
        lit(".org")).as("dst"))
    e1.union(e2)
  }

  /** The fixture PageRank, run once per scale factor and re-served as
    * a (node, pr_rank) frame to the rollup gates.
    */
  private[queries] def fixtureRanks(spark: SparkSession,
      sf: String): DataFrame = {
    import spark.implicits._
    Q.once("fixtureRanks", sf) {
      graft.ml.Fns.collectAtMost(graft.ml.Graphs.pageRank(
          fixtureEdges(spark, sf), "src", "dst", iters = 3), 1 << 20)(
        "pagerank cache: fixture node set unexpectedly large")
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    }.toDF("node", "pr_rank")
  }

  /** The in-band document-separator id of the q_pack_token_ids_sep
    * gate — deliberately outside the gate vocabulary's rank space.
    */
  private val SepId = 999999L

  /** `packTokenIds(sepId = …)` replayed: the q_pack_token_ids chain
    * with every document's stream one piece longer (the trailing
    * separator at per-doc index n_pieces) and the placement sizes
    * grown in lockstep.
    */
  private lazy val packTokenIdsSepOracle = {
    import Round14Queries.{unigramTrainChain, unigramEncodeChain,
      UniEmRounds}
    val er = UniEmRounds + 1
    s"""WITH RECURSIVE
       $unigramTrainChain,
       $unigramEncodeChain,
       vid AS (SELECT piece,
                 CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT)
                   AS pid
               FROM uv$UniEmRounds),
       wseq AS (SELECT word,
                  unnest(range(1, len(string_split(path, ' ')) + 1))
                    AS ord,
                  unnest(string_split(path, ' ')) AS piece
                FROM r${er}best),
       uti AS (SELECT doc_id,
                 unnest(range(1, len(tl) + 1)) - 1 AS tok_pos,
                 unnest(tl) AS word
               FROM (SELECT doc_id, list_filter(
                       string_split(lower(text), ' '), t -> t <> '')
                       AS tl
                     FROM ucorp)
               WHERE doc_id < 300),
       pidx AS MATERIALIZED (
         SELECT t.doc_id,
           row_number() OVER (PARTITION BY t.doc_id
             ORDER BY t.tok_pos, s.ord) - 1 AS pidx,
           v.pid
         FROM uti t JOIN wseq s USING (word) JOIN vid v USING (piece)),
       ppd AS (SELECT d.doc_id,
                 CAST(CASE WHEN coalesce(u.n_pieces, 0) > 0
                      THEN u.n_pieces + 1 ELSE 0 END AS BIGINT) AS n
               FROM documents d LEFT JOIN udoc u USING (doc_id)
               WHERE d.doc_id < 300),
       ppc AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS e
               FROM ppd WHERE n > 0),
       pall AS (SELECT doc_id, pidx, pid FROM pidx
                UNION ALL
                SELECT doc_id, n - 1 AS pidx, $SepId AS pid FROM ppc)
      SELECT p.doc_id,
        CAST((c.e - c.n + p.pidx) // 64 AS BIGINT) AS chunk_id,
        CAST((c.e - c.n + p.pidx) % 64 AS BIGINT) AS pos,
        CAST(p.pid AS BIGINT) AS piece_id
      FROM pall p JOIN ppc c USING (doc_id)"""
  }

  /** The signed centered-micros projection shared by the one-shot and
    * standing-state signed quantile gates.
    */
  private def centeredMicros(spark: SparkSession,
      sf: String): DataFrame =
    Tables.load(spark, sf, "events")
      // non-finite values excluded on BOTH sides (oracle: isfinite):
      // Spark casts ±Inf micros to ±Long.Max/MinValue, which the 2^62
      // domain filter then drops — but DuckDB's CAST in the same
      // filter ERRORS on ±Inf instead of filtering, so both engines
      // must drop non-finite rows before any cast is reached
      .where(col("value").isNotNull && !isnan(col("value")) &&
        col("value") < Double.PositiveInfinity &&
        col("value") > Double.NegativeInfinity)
      .select(col("event_id"), col("event_type"),
        ((col("value") - 0.5) * 1000000).cast("long").as("__cmicros"))

  val all: Seq[Q] = Seq(
    // SIGNED quantile sketch: the two-sided log-bucketed store
    // (DDSketch negative-store idea) over a CENTERED metric — micros
    // of events.value − 0.5 — so classifier logits and centered scores
    // sketch without per-caller shifts; each side keeps ≤ 2^-b
    // relative error where an offset transform would collapse every
    // centered value into one bucket
    Q.fn("q_sketch_quantile_signed", histSignedOracle) { (spark, sf) =>
      graft.ml.Sketches.histQuantilesSignedOf(
        centeredMicros(spark, sf),
        col("__cmicros"), Seq("event_type"), HistB, Seq(100, 500, 900))
    },

    // ... and its STANDING STATE: three batches append signed bucket
    // deltas (meta pins b AND signedness — a signed/unsigned mix-up
    // fails loudly), the read-time per-bucket-sum fold extracts; the
    // merge law makes the one-shot replay the oracle
    Q.fn("q_sketch_quantile_signed_loop", histSignedOracle) { (spark, sf) =>
      import graft.ml.Sketches
      val src = centeredMicros(spark, sf)
      val dir = Q.stateDir("graft-hist-signed-state", sf) { d =>
        (0L to 2L).foreach { r =>
          Sketches.appendHistStateSigned(
            src.where(pmod(col("event_id"), lit(3L)) === r),
            col("__cmicros"), Seq("event_type"), HistB, d)
        }
      }
      Sketches.histQuantilesSignedFromState(spark, dir,
        Seq("event_type"), HistB, Seq(100, 500, 900))
    },

    // BPE persisted artifact: the merge table saved in rank order and
    // re-loaded for encoding (train once, encode every batch — the
    // saveVocab discipline for the BPE family); ids reproduce from the
    // artifact alone, so the oracle is the live encoder's replay
    Q.fn("q_bpe_persisted", Round14Queries.bpeEncodeIdsOracle) {
        (spark, sf) =>
      import spark.implicits._
      val dir = Q.stateDir("graft-bpe-merges", sf) { d =>
        graft.ml.Bpe.saveMerges(
          Round13Queries.largeMerges.zipWithIndex
            .map { case ((l, r), i) => (i + 1, l, r) }
            .toDF("rank", "lhs", "rhs"), d)
      }
      Q.explodePieceIds(graft.ml.Bpe.encodeIdsWithMergesDir(spark, dir,
        Tables.load(spark, sf, "documents"), "text", "doc_id"))
    },

    // the 100 TB DATA CARD: per-language docs, tokens, HLL-sketched
    // distinct tokens and histogram-sketched length percentiles — ONE
    // pinned scan of documents feeds n_docs + the length histogram,
    // ONE pinned counted-register aggregate of the token explode feeds
    // n_tokens + the HLL estimate (every output is config-scale; the
    // exact-countDistinct/exact-quantile q_corpus_report is the
    // small-corpus sibling)
    Q.fn("q_corpus_report_sketched",
        corpusReportSketchedOracle) { (spark, sf) =>
      import graft.ml.{CacheLifecycle, Fns, Sketches}
      val docs = Tables.load(spark, sf, "documents")
      val db = CacheLifecycle.pin(
        docs.select(col("lang"), col("n_chars").cast("long").as("__v"))
          .groupBy(col("lang"),
            when(col("__v").isNotNull && col("__v") >= 0,
              expr(Sketches.histBucketSql("__v", HistB))).as("bucket"))
          .agg(count(lit(1)).as("cnt")))
      val base = db.groupBy("lang").agg(sum("cnt").as("n_docs"))
      val qx = Sketches.histQuantiles(db.where(col("bucket").isNotNull),
          Seq("lang"), HistB, Seq(500, 900))
        .groupBy("lang").agg(
          max(when(col("q_permille") === 500, col("quantile_lo")))
            .as("p50_chars_lo"),
          max(when(col("q_permille") === 900, col("quantile_lo")))
            .as("p90_chars_lo"))
      val regs = CacheLifecycle.pin(
        Sketches.hllRegistersCounted(
          docs.select(col("lang"),
            explode(filter(Fns.tokens(col("text")), t => t =!= ""))
              .as("tok")),
          col("tok"), Seq("lang"), ReportP))
      val nTok = regs.groupBy("lang").agg(sum("rows").as("n_tokens"))
      val hll = Sketches.hllEstimate(
          regs.select("lang", "bucket", "register"), Seq("lang"),
          ReportP)
        .select(col("lang"), col("hll_est").as("hll_tokens"))
      base.join(nTok, Seq("lang")).join(hll, Seq("lang"))
        .join(qx, Seq("lang"))
    },

    // the ONE-PASS recipe reports: kept + funnel + funnel-by-domain
    // from a single staged chain (Recipes.curateBatchReports on the
    // standing-ingestion fixtures) — the oracle is the union of the
    // two sibling gates' replays, so a green row IS the proof that one
    // pass reproduces the separate entry points' outputs
    Q.fn("q_recipe_reports", recipeReportsOracle) { (spark, sf) =>
      import spark.implicits._
      val docs = Tables.load(spark, sf, "documents")
      val blocklist = Round12Queries.BlockEntries.toDF("entry")
      val st = Round14Queries.incrStateFor(spark, sf, docs, blocklist)
      val kept1 = spark.read.parquet(s"${st.dir}/admitted")
      val r = graft.ml.Recipes.curateBatchReports(
        Round14Queries.incrBatch2(docs, kept1), "doc_id", "html",
        "url", blocklist, st.model, st.cut, s"${st.dir}/url",
        s"${st.dir}/band", kept1.select("doc_id", "text_clean"),
        minJaccard = 0.8, badWords = Seq("offer"))
      r.funnel.withColumn("domain", lit("(all)"))
        .select("step", "stage", "domain", "docs")
        .unionByName(r.funnelByDomain)
    },

    // the packed layout WITH in-band document boundaries — the
    // GPT-2-style <|endoftext|> separator: every doc's id stream gains
    // one trailing separator piece, placement sizes grow in lockstep,
    // and a reader of (chunk_id, pos, piece_id) sees where documents
    // end without a side table
    Q.fn("q_pack_token_ids_sep", packTokenIdsSepOracle) { (spark, sf) =>
      val corp = Round14Queries.unigramCorpus(
        Tables.load(spark, sf, "documents"))
      val vocab = Round14Queries.unigramVocabFor(sf, corp)
      graft.ml.Curation.packTokenIds(
        graft.ml.Unigram.unigramEncodeIds(
          corp.where(col("doc_id") < 300), "text", "doc_id", vocab,
          Round14Queries.UniMaxPieceLen),
        "doc_id", chunkTokens = 64, bucketSize = 50,
        sepId = Some(SepId))
    },

    // BYTE-LEVEL BPE (the GPT-2 layout): bytes are the base alphabet,
    // so no token is ever <unk> by construction — ids 0..255 are raw
    // UTF-8 bytes, merged pieces are 256 + first-producing rank; the
    // planted ` v<digit>#q` bait stays split into its raw bytes
    Q.fn("q_bpe_bytes", bpeBytesOracle) { (spark, sf) =>
      val bait = Tables.load(spark, sf, "documents")
        .withColumn("text", concat(col("text"), lit(" v"),
          pmod(col("doc_id"), lit(10)).cast("string"), lit("#q")))
      Q.explodePieceIds(graft.ml.Bpe.bpeEncodeIdsBytes(
        bait, "text", "doc_id", Round13Queries.largeMerges))
    }
  )
}
