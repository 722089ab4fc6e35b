package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-17 gates: order-n stupid-backoff LM scoring (+ persisted
  * n-gram count state), training-shard manifests over the packed
  * layout, the incremental all-sketch data card, and the cross-modal
  * caption-embedding consistency filter.
  */
object Round17Queries {

  // --------------------------------------------------------------------
  // Margin-criterion pair mining. k-NN neighborhood size and the mined
  // margin threshold — chosen so both the mined and rejected branches
  // are populated on the fixture at every scale factor.
  // --------------------------------------------------------------------

  private val MarginK = 4
  private val MarginThreshold = 1.2

  private val marginMineOracle =
    s"""WITH v AS (SELECT vec_id, ${MlQueries.normSql} AS e
                   FROM embeddings),
            sa AS (SELECT vec_id AS id, e FROM v WHERE vec_id < 250),
            sb AS (SELECT vec_id AS id, e FROM v WHERE vec_id >= 250),
            ab AS MATERIALIZED (
              SELECT sa.id AS src, sb.id AS dst,
                     ${MlQueries.cosSql("sa.e", "sb.e")} AS c
              FROM sa CROSS JOIN sb),
            fk AS MATERIALIZED (SELECT src, dst, c FROM (
              SELECT src, dst, c, row_number() OVER (
                PARTITION BY src ORDER BY c DESC, dst) AS rk FROM ab)
              WHERE rk <= $MarginK),
            bk AS MATERIALIZED (SELECT src, dst, c FROM (
              SELECT src, dst, c, row_number() OVER (
                PARTITION BY dst ORDER BY c DESC, src) AS rk FROM ab)
              WHERE rk <= $MarginK),
            ava AS MATERIALIZED (SELECT src,
                CAST(sum(CAST(round(c * 1e6) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1e6) AS avg_a
              FROM fk GROUP BY 1),
            avb AS MATERIALIZED (SELECT dst,
                CAST(sum(CAST(round(c * 1e6) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1e6) AS avg_b
              FROM bk GROUP BY 1),
            fm AS (SELECT f.src, f.dst, f.c,
                     round(f.c / ((avg_a + avg_b) / 2), 6) AS margin
                   FROM fk f JOIN ava USING (src) JOIN avb USING (dst)
                   WHERE (avg_a + avg_b) / 2 > 0),
            bm AS (SELECT k.src, k.dst, k.c,
                     round(k.c / ((avg_a + avg_b) / 2), 6) AS margin
                   FROM bk k JOIN ava USING (src) JOIN avb USING (dst)
                   WHERE (avg_a + avg_b) / 2 > 0),
            fb AS (SELECT src, dst, c, margin FROM (
              SELECT *, row_number() OVER (
                PARTITION BY src ORDER BY margin DESC, dst) AS r
              FROM fm) WHERE r = 1),
            bb AS (SELECT src, dst FROM (
              SELECT *, row_number() OVER (
                PARTITION BY dst ORDER BY margin DESC, src) AS r
              FROM bm) WHERE r = 1)
        SELECT fb.src AS src_id, fb.dst AS dst_id, fb.c AS cos,
               fb.margin
        FROM fb JOIN bb ON fb.src = bb.src AND fb.dst = bb.dst
        WHERE fb.margin >= $MarginThreshold"""

  /** The IVF-fed miner replayed end-to-end: per side, id-prefix
    * centroids → cell assignment → nprobe=2 probing → within-cell
    * top-k candidates; then the identical margin suffix (fixed-point
    * neighborhood means over the CANDIDATE lists, both argmaxes,
    * mutual + threshold).
    */
  private val marginIvfOracle =
    s"""WITH v AS (SELECT vec_id, ${MlQueries.normSql} AS e
                   FROM embeddings),
            sa AS (SELECT vec_id AS id, e FROM v WHERE vec_id < 250),
            sb AS (SELECT vec_id AS id, e FROM v WHERE vec_id >= 250),
            cb AS (SELECT id AS cell, e AS vcent FROM sb
                   WHERE id < 258),
            ab_asg AS (SELECT id, cell, e, row_number() OVER (
                PARTITION BY id
                ORDER BY ${MlQueries.cosSql("e", "vcent")} DESC, cell)
                AS r
              FROM sb CROSS JOIN cb),
            ab_cells AS (SELECT id AS nb, cell, e FROM ab_asg
                         WHERE r = 1),
            ab_pr AS (SELECT a.id AS qid, a.e AS vq, c.cell,
                row_number() OVER (PARTITION BY a.id
                  ORDER BY ${MlQueries.cosSql("a.e", "c.vcent")} DESC,
                    c.cell) AS pr
              FROM sa a CROSS JOIN cb c),
            fk AS MATERIALIZED (SELECT src, dst, c FROM (
              SELECT p.qid AS src, l.nb AS dst,
                ${MlQueries.cosSql("p.vq", "l.e")} AS c,
                row_number() OVER (PARTITION BY p.qid
                  ORDER BY ${MlQueries.cosSql("p.vq", "l.e")} DESC,
                    l.nb) AS rk
              FROM (SELECT * FROM ab_pr WHERE pr <= 2) p
              JOIN ab_cells l USING (cell) WHERE p.qid <> l.nb)
              WHERE rk <= $MarginK),
            ca AS (SELECT id AS cell, e AS vcent FROM sa WHERE id < 8),
            ba_asg AS (SELECT id, cell, e, row_number() OVER (
                PARTITION BY id
                ORDER BY ${MlQueries.cosSql("e", "vcent")} DESC, cell)
                AS r
              FROM sa CROSS JOIN ca),
            ba_cells AS (SELECT id AS nb, cell, e FROM ba_asg
                         WHERE r = 1),
            ba_pr AS (SELECT b.id AS qid, b.e AS vq, c.cell,
                row_number() OVER (PARTITION BY b.id
                  ORDER BY ${MlQueries.cosSql("b.e", "c.vcent")} DESC,
                    c.cell) AS pr
              FROM sb b CROSS JOIN ca c),
            bk AS MATERIALIZED (SELECT bq, ba_nb, c FROM (
              SELECT p.qid AS bq, l.nb AS ba_nb,
                ${MlQueries.cosSql("p.vq", "l.e")} AS c,
                row_number() OVER (PARTITION BY p.qid
                  ORDER BY ${MlQueries.cosSql("p.vq", "l.e")} DESC,
                    l.nb) AS rk
              FROM (SELECT * FROM ba_pr WHERE pr <= 2) p
              JOIN ba_cells l USING (cell) WHERE p.qid <> l.nb)
              WHERE rk <= $MarginK),
            ava AS MATERIALIZED (SELECT src,
                CAST(sum(CAST(round(c * 1e6) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1e6) AS avg_a
              FROM fk GROUP BY 1),
            avb AS MATERIALIZED (SELECT bq,
                CAST(sum(CAST(round(c * 1e6) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1e6) AS avg_b
              FROM bk GROUP BY 1),
            fm AS (SELECT f.src, f.dst, f.c,
                     round(f.c / ((avg_a + avg_b) / 2), 6) AS margin
                   FROM fk f JOIN ava USING (src)
                             JOIN avb ON f.dst = avb.bq
                   WHERE (avg_a + avg_b) / 2 > 0),
            bm AS (SELECT k.ba_nb AS src, k.bq AS dst, k.c,
                     round(k.c / ((avg_a + avg_b) / 2), 6) AS margin
                   FROM bk k JOIN ava ON k.ba_nb = ava.src
                             JOIN avb ON k.bq = avb.bq
                   WHERE (avg_a + avg_b) / 2 > 0),
            fb AS (SELECT src, dst, c, margin FROM (
              SELECT *, row_number() OVER (
                PARTITION BY src ORDER BY margin DESC, dst) AS r
              FROM fm) WHERE r = 1),
            bb AS (SELECT src, dst FROM (
              SELECT *, row_number() OVER (
                PARTITION BY dst ORDER BY margin DESC, src) AS r
              FROM bm) WHERE r = 1)
        SELECT fb.src AS src_id, fb.dst AS dst_id, fb.c AS cos,
               fb.margin
        FROM fb JOIN bb ON fb.src = bb.src AND fb.dst = bb.dst
        WHERE fb.margin >= $MarginThreshold"""

  // --------------------------------------------------------------------
  // Hard-negative mining. Candidate depth, negatives kept per query,
  // and the false-negative cosine ceiling (candidates at or above it
  // are presumed unlabeled positives and dropped).
  // --------------------------------------------------------------------

  private val HnKCand = 8
  private val HnN = 3
  // 0.4 keeps BOTH branches populated at every scale factor: it clips
  // 24/800 candidates at sf0.001 and 84/800 at sf0.1 (a 0.3 ceiling
  // degenerates at sf0.1, where the denser corpus pushes nearly every
  // top-8 candidate above it and the mined set collapses to 1 row)
  private val HnMaxCos = 0.4

  private val hardNegOracle =
    s"""WITH v AS (SELECT vec_id, ${MlQueries.normSql} AS e
                   FROM embeddings),
            q AS (SELECT vec_id AS id, e FROM v WHERE vec_id < 100),
            c AS (SELECT vec_id AS id, e FROM v WHERE vec_id >= 100),
            p AS (SELECT vec_id AS qid, vec_id + 100 AS pid
                  FROM embeddings WHERE vec_id < 100),
            sc AS (SELECT q.id AS query_id, c.id AS nb_id,
                     ${MlQueries.cosSql("q.e", "c.e")} AS cos
                   FROM q CROSS JOIN c),
            ck AS MATERIALIZED (SELECT query_id, nb_id, cos FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, nb_id) AS rk FROM sc)
              WHERE rk <= $HnKCand),
            fl AS (SELECT * FROM ck
                   WHERE cos < $HnMaxCos AND NOT EXISTS (
                     SELECT 1 FROM p
                     WHERE p.qid = ck.query_id AND p.pid = ck.nb_id))
        SELECT query_id, rank, nb_id, cos FROM (
          SELECT query_id, nb_id, cos, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, nb_id) AS rank
          FROM fl) WHERE rank <= $HnN"""


  /** The `next` snapshot fixture: window shifted by 30 ids, every 7th
    * doc's text re-rendered.
    */
  private def diffNext(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") >= 30 && col("doc_id") < 430)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))

  // --------------------------------------------------------------------
  // Interleaved multimodal packing. Marker/placeholder/separator ids
  // sit far outside any trained vocabulary range.
  // --------------------------------------------------------------------

  private val MmBoi = 100000L
  private val MmImg = 100001L
  private val MmEoi = 100002L
  private val MmSep = 100003L

  /** Synthetic image slots over the pack fixture docs: every 3rd doc
    * carries one slot after token 2 (3 + doc_id % 4 placeholder
    * tokens), every 9th doc an additional slot before token 0.
    */
  private def mmMedia(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") < 300 && col("doc_id") % 3 === 0)
      .select(col("doc_id"), lit(2L).as("media_pos"),
        (lit(3L) + col("doc_id") % 4).as("n_media_tokens"))
      .unionByName(
        docs.where(col("doc_id") < 300 && col("doc_id") % 9 === 0)
          .select(col("doc_id"), lit(0L).as("media_pos"),
            lit(2L).as("n_media_tokens")))

  private lazy val packMultimodalOracle = {
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
       utm AS (SELECT t.doc_id, t.tok_pos * 2 AS k, s.ord AS o, v.pid
               FROM uti t JOIN wseq s USING (word)
                          JOIN vid v USING (piece)),
       mfx AS (SELECT doc_id, 5 AS k, 3 + doc_id % 4 AS n
               FROM documents WHERE doc_id < 300 AND doc_id % 3 = 0
               UNION ALL
               SELECT doc_id, 1 AS k, 2 AS n
               FROM documents WHERE doc_id < 300 AND doc_id % 9 = 0),
       med AS (SELECT doc_id, k, j AS o,
                 CASE WHEN j = 0 THEN $MmBoi
                      WHEN j = n + 1 THEN $MmEoi
                      ELSE $MmImg END AS pid
               FROM (SELECT doc_id, k, n,
                       unnest(range(0, n + 2)) AS j
                     FROM mfx)),
       allp AS MATERIALIZED (
         SELECT doc_id, k, o, pid FROM utm
         UNION ALL SELECT doc_id, k, o, pid FROM med),
       pidx AS MATERIALIZED (
         SELECT doc_id, row_number() OVER (PARTITION BY doc_id
             ORDER BY k, o) - 1 AS pidx, pid
         FROM allp),
       cnt AS (SELECT doc_id, count(*) AS cnt FROM allp GROUP BY 1),
       ppd AS (SELECT d.doc_id,
                 CAST(CASE WHEN coalesce(c.cnt, 0) > 0
                      THEN c.cnt + 1 ELSE 0 END AS BIGINT) AS n
               FROM documents d LEFT JOIN cnt c USING (doc_id)
               WHERE d.doc_id < 300),
       ppc AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS e
               FROM ppd WHERE n > 0),
       pall AS (SELECT doc_id, pidx, pid FROM pidx
                UNION ALL
                SELECT doc_id, n - 1 AS pidx, $MmSep AS pid FROM ppc)
      SELECT p.doc_id,
        CAST((c.e - c.n + p.pidx) // 64 AS BIGINT) AS chunk_id,
        CAST((c.e - c.n + p.pidx) % 64 AS BIGINT) AS pos,
        CAST(p.pid AS BIGINT) AS piece_id
      FROM pall p JOIN ppc c USING (doc_id)"""
  }

  /** The second-generation render the incremental probe batch
    * carries: every 5th doc re-rendered again.
    */
  private def diffProbe(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") >= 350 && col("doc_id") < 470)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v3")))
          .otherwise(col("text")))

  /** Replays the standing state after build(docs<400) +
    * update(diffNext): per id the LATEST fingerprint is the ' v2'
    * render exactly for the 7-multiples the update touched; the probe
    * batch then classifies against that fold.
    */
  private val corpusDiffLoopOracle =
    """WITH st AS (SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 AND doc_id >= 30
                       THEN md5(text || ' v2') ELSE md5(text) END AS pfp
                   FROM documents WHERE doc_id < 430),
            pb AS (SELECT doc_id,
                     md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v3'
                         ELSE text END) AS nfp
                   FROM documents
                   WHERE doc_id >= 350 AND doc_id < 470)
       SELECT pb.doc_id, st.pfp AS prev_fp, pb.nfp AS next_fp,
              CASE WHEN st.pfp IS NULL THEN 'added'
                   WHEN st.pfp = pb.nfp THEN 'unchanged'
                   ELSE 'changed' END AS status
       FROM pb LEFT JOIN st ON pb.doc_id = st.doc_id"""

  private val corpusDiffOracle =
    """WITH prev AS (SELECT doc_id, md5(text) AS fp FROM documents
                     WHERE doc_id < 400),
            nxt AS (SELECT doc_id,
                      md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                          ELSE text END) AS fp
                    FROM documents WHERE doc_id >= 30 AND doc_id < 430)
       SELECT coalesce(prev.doc_id, nxt.doc_id) AS doc_id,
              prev.fp AS prev_fp, nxt.fp AS next_fp,
              CASE WHEN prev.fp IS NULL THEN 'added'
                   WHEN nxt.fp IS NULL THEN 'removed'
                   WHEN prev.fp = nxt.fp THEN 'unchanged'
                   ELSE 'changed' END AS status
       FROM prev FULL OUTER JOIN nxt ON prev.doc_id = nxt.doc_id"""

  // --------------------------------------------------------------------
  // Stupid-backoff LM scoring (Brants et al. 2007): trigram model on
  // docs < 250, scored on docs >= 250 — the same real train/score
  // split as q_lm_score, so OOV smoothing and every backoff branch
  // are exercised. The oracle replays the count joins and the
  // backoff CASE in full.
  // --------------------------------------------------------------------

  private val LmN = 3
  private val LmAlpha = 0.4
  /** α^j for j = 0..n−1, computed ONCE on the driver and interpolated
    * into the oracle — both engines must see bit-identical penalty
    * factors (math.pow(0.4, 2) is 0.16000000000000002, not 0.16).
    */
  private val LmPows = (0 until LmN).map(j => math.pow(LmAlpha, j))

  private val lmBackoffOracle = {
    val p0 = LmPows(0); val p1 = LmPows(1); val p2 = LmPows(2)
    s"""WITH ref AS (SELECT lower(text) AS text FROM documents
                     WHERE doc_id < 250),
            sc AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                   FROM documents WHERE doc_id >= 250),
            rt AS (SELECT string_split(text, ' ') AS t FROM ref),
            rg AS (SELECT g, CAST(count(*) AS DOUBLE) AS c FROM (
               SELECT unnest(flatten(list_transform(range(1, len(t)+1),
                 p -> list_transform(range(1, least(p, $LmN)+1), k ->
                   array_to_string(t[p-k+1:p], ' '))))) AS g
               FROM rt) GROUP BY 1),
            nv AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
                     CAST(count(DISTINCT w) AS DOUBLE) AS vv
                   FROM (SELECT unnest(t) AS w FROM rt)),
            pos AS (SELECT doc_id, unnest(range(2, len(t)+1)) AS p, t
                    FROM sc WHERE len(t) >= 2),
            gr AS (SELECT doc_id, p, least(p, $LmN) AS top,
                     t[p] AS g1,
                     t[p-1] || ' ' || t[p] AS g2,
                     CASE WHEN p >= 3
                       THEN array_to_string(t[p-2:p], ' ') END AS g3,
                     t[p-1] AS c2,
                     CASE WHEN p >= 3
                       THEN t[p-2] || ' ' || t[p-1] END AS c3
                   FROM pos),
            jj AS (SELECT g.doc_id, g.top,
                     u1.c AS cg1, u2.c AS cg2, u3.c AS cg3,
                     v2.c AS cc2, v3.c AS cc3
                   FROM gr g
                   LEFT JOIN rg u1 ON u1.g = g.g1
                   LEFT JOIN rg u2 ON u2.g = g.g2
                   LEFT JOIN rg u3 ON u3.g = g.g3
                   LEFT JOIN rg v2 ON v2.g = g.c2
                   LEFT JOIN rg v3 ON v3.g = g.c3),
            ps AS (SELECT doc_id,
                     CASE
                       WHEN cg3 > 0 THEN $p0 * (cg3 / cc3)
                       WHEN cg2 > 0 THEN
                         (CASE WHEN top = 2 THEN $p0 ELSE $p1 END)
                           * (cg2 / cc2)
                       ELSE
                         (CASE WHEN top = 2 THEN $p1 ELSE $p2 END)
                           * ((coalesce(cg1, 0) + 1) / (nn + vv))
                     END AS s
                   FROM jj CROSS JOIN nv),
            agg AS (SELECT doc_id, count(*) AS n_scored,
                      CAST(trunc(avg(-ln(s)) * 1000000) AS BIGINT)
                        / 1000000.0 AS lm_backoff
                    FROM ps GROUP BY 1)
       SELECT d.doc_id, coalesce(a.n_scored, 0) AS n_scored,
              a.lm_backoff
       FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
       LEFT JOIN agg a USING (doc_id)"""
  }

  // --------------------------------------------------------------------
  // Training-shard manifests over the packed layout: chunks group into
  // shards by chunk_id div chunksPerShard; each shard's manifest row
  // carries counts, the doc-id range, and an order-independent content
  // hash. The fixture encodes docs < 300 with a deterministic
  // one-piece-per-token id stream (h32 of the token mod 2^16) plus the
  // in-band separator, so the oracle replays the whole chain — encode,
  // placement cumsum, div/mod windows, shard aggregation, hash —
  // without the unigram training CTEs.
  // --------------------------------------------------------------------

  /** The standing data-card state dir per scale factor (`Q.stateDir`):
    * three batches by doc_id mod 3, appended once.
    */

  private[graft] def cardStateFor(spark: SparkSession,
      sf: String): String =
    Q.stateDir("graft-card-state", sf) { d =>
      val docs = Tables.load(spark, sf, "documents")
      (0L to 2L).foreach { r =>
        graft.ml.Sketches.appendCorpusCardState(
          docs.where(pmod(col("doc_id"), lit(3L)) === r),
          "text", "lang", col("n_chars"),
          p = SketchQueries.P, b = SketchQueries.HistB, dir = d)
      }
    }

  private val ShardChunkTokens = 64L
  private val ShardChunksPer = 4L
  private val ShardSepId = 65536L

  private[queries] def shardEncoded(spark: SparkSession,
      sf: String): DataFrame = {
    Tables.load(spark, sf, "documents")
      .where(col("doc_id") < 300)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " "))
          .as(Seq("tok_pos", "__w")))
      .select(col("doc_id"), col("tok_pos").cast("long").as("tok_pos"),
        array(pmod(graft.ml.Fns.h32(col("__w")), lit(65536L)))
          .as("piece_ids"))
  }

  private val packShardsOracle = {
    val pid = "('0x'||substr(md5(w),1,8))::BIGINT % 65536"
    s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                   FROM documents WHERE doc_id < 300),
            sz AS (SELECT doc_id, CAST(len(t) + 1 AS BIGINT) AS n
                   FROM d),
            cum AS (SELECT doc_id, n,
                      CAST(sum(n) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS e
                    FROM sz),
            pid AS (SELECT doc_id, i - 1 AS pidx,
                      $pid AS piece_id
                    FROM (SELECT doc_id,
                            unnest(range(1, len(t)+1)) AS i,
                            unnest(t) AS w
                          FROM d)
                    UNION ALL
                    SELECT doc_id, CAST(len(t) AS BIGINT) AS pidx,
                      $ShardSepId AS piece_id
                    FROM d),
            gp AS (SELECT p.doc_id,
                     (c.e - c.n + p.pidx) // $ShardChunkTokens
                       AS chunk_id,
                     (c.e - c.n + p.pidx) % $ShardChunkTokens AS pos,
                     p.piece_id
                   FROM pid p JOIN cum c USING (doc_id)),
            hh AS (SELECT doc_id,
                     chunk_id // $ShardChunksPer AS shard_id, chunk_id,
                     ('0x'||substr(md5(chunk_id::VARCHAR || ':' ||
                       pos::VARCHAR || ':' || piece_id::VARCHAR),
                       1, 15))::BIGINT AS h
                   FROM gp)
       SELECT shard_id, CAST(count(DISTINCT chunk_id) AS BIGINT)
                AS n_chunks,
              CAST(count(*) AS BIGINT) AS n_pieces,
              min(doc_id) AS doc_lo, max(doc_id) AS doc_hi,
              bit_xor(h) AS content_hash
       FROM hh GROUP BY 1"""
  }

  val all: Seq[Q] = Seq(
    // order-n stupid backoff: the higher-order form of q_lm_score's
    // CCNet-style signal (the production perplexity filter uses a
    // 5-gram model; this gate pins n=3 so the oracle CASE stays
    // readable while every branch — full trigram hit, bigram backoff,
    // doc-start top=2 positions, OOV unigram floor — carries mass)
    Q.fn("q_lm_backoff", lmBackoffOracle) { (spark, sf) =>
      val d = Tables.load(spark, sf, "documents")
      graft.ml.TextAnalysis.lmBackoffScore(
        d.where(col("doc_id") >= 250).select("doc_id", "text"),
        d.where(col("doc_id") < 250), "text", "doc_id",
        n = LmN, alpha = LmAlpha)
    },

    // ... and its STANDING STATE: three reference batches append their
    // n-gram count deltas (meta pins n), the read-time per-gram fold
    // scores — identical to the one-shot model by the merge law
    // (counts are additive), so the same oracle checks it
    Q.fn("q_lm_backoff_loop", lmBackoffOracle) { (spark, sf) =>
      val d = Tables.load(spark, sf, "documents")
      val dir = Q.stateDir("graft-ngram-state", sf) { dd =>
        (0L to 2L).foreach { r =>
          graft.ml.TextAnalysis.appendNgramState(
            d.where(col("doc_id") < 250 &&
              pmod(col("doc_id"), lit(3L)) === r),
            "text", LmN, dd)
        }
      }
      graft.ml.TextAnalysis.lmBackoffScoreFromState(spark, dir,
        d.where(col("doc_id") >= 250).select("doc_id", "text"),
        "text", "doc_id", n = LmN, alpha = LmAlpha)
    },

    // the INCREMENTAL data card: three corpus batches append their
    // card deltas (doc-bucket counts with the out-of-domain null
    // bucket, counted token registers; meta pins p AND b), and the
    // card folds from the states ALONE — no corpus scan (PlanSpec pins
    // no documents FileScan). The one-shot sketched report is the
    // oracle: the merge laws (additive counts, max-mergeable
    // registers) make the two EQUAL, so a green row is the proof
    Q.fn("q_corpus_report_incremental",
        Round16Queries.corpusReportSketchedOracle) { (spark, sf) =>
      graft.ml.Sketches.corpusReportFromStates(spark,
        cardStateFor(spark, sf), "lang",
        p = SketchQueries.P, b = SketchQueries.HistB)
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          col("hll_tokens"), col("p50_lo").as("p50_chars_lo"),
          col("p90_lo").as("p90_chars_lo"))
    },

    // training-shard manifests over packTokenIds: the oracle replays
    // the full placement (cumsum, div/mod windows) and re-derives
    // every manifest column — counts, doc-id range, content hash —
    // from first principles, so a manifest total that drifted from
    // the placement totals fails the gate
    Q.fn("q_pack_shards", packShardsOracle) { (spark, sf) =>
      graft.ml.Curation.shardManifest(
        graft.ml.Curation.packTokenIds(
          shardEncoded(spark, sf), "doc_id",
          chunkTokens = ShardChunkTokens, bucketSize = 50,
          sepId = Some(ShardSepId)),
        "doc_id", chunksPerShard = ShardChunksPer)
    },

    // cross-modal consistency: CLIP-score-style curation of caption↔
    // image pairs — the fixture splits the embeddings table into a
    // "text" half (vec_id < 250) and an "image" half (vec_id ≥ 250)
    // paired one-to-one, and drops pairs whose sides' cosine falls
    // below 0.05 (the sf0.001 pair median is ~0, so both branches of
    // keep are exercised). The oracle replays normalize + the two
    // id joins + the rounded dot product
    Q.fn("q_multimodal_consistency",
      s"""WITH v AS (SELECT vec_id, ${MlQueries.normSql} AS e
                     FROM embeddings),
              p AS (SELECT vec_id AS text_id, vec_id + 250 AS image_id
                    FROM embeddings WHERE vec_id < 250)
          SELECT text_id, image_id,
                 ${MlQueries.cosSql("t.e", "i.e")} AS clip_score,
                 ${MlQueries.cosSql("t.e", "i.e")} >= 0.05 AS keep
          FROM p
          JOIN v t ON p.text_id = t.vec_id
          JOIN v i ON p.image_id = i.vec_id""") { (spark, sf) =>
      val emb = Tables.load(spark, sf, "embeddings")
      val pairs = emb.where(col("vec_id") < 250)
        .select(col("vec_id").as("text_id"),
          (col("vec_id") + 250).as("image_id"))
      graft.ml.Multimodal.consistencyFilter(pairs,
        emb.where(col("vec_id") < 250),
        emb.where(col("vec_id") >= 250),
        "embedding", "vec_id", "text_id", "image_id",
        threshold = 0.05)
    },

    // margin-criterion pair mining (Artetxe & Schwenk 2019 — the
    // CCMatrix bitext miner): candidate cosines ratio-scaled by both
    // endpoints' k-NN mean cosine, mutual-argmax ("intersection")
    // pairs above the margin threshold survive. Same two-sided
    // embeddings fixture as the consistency gate; the oracle replays
    // the full cross product, both directions' top-k, the fixed-point
    // neighborhood means, and both argmaxes
    Q.fn("q_margin_mine", marginMineOracle) { (spark, sf) =>
      val emb = Tables.load(spark, sf, "embeddings")
      graft.ml.Similarity.marginMine(
        emb.where(col("vec_id") < 250),
        emb.where(col("vec_id") >= 250),
        "embedding", "vec_id", k = MarginK,
        threshold = MarginThreshold)
    },

    // ... and the CORPUS-SCALE candidate path: the same miner fed from
    // IVF searches in both directions (marginMineFrom is
    // candidate-agnostic — this gate proves the composition, not a new
    // miner). Disjoint side id ranges make the IVF search's self-id
    // exclusion a no-op here
    Q.fn("q_margin_mine_ivf", marginIvfOracle) { (spark, sf) =>
      val emb = Tables.load(spark, sf, "embeddings")
      val a = emb.where(col("vec_id") < 250)
      val b = emb.where(col("vec_id") >= 250)
      import graft.ml.Similarity.{IvfIndex, marginMineFrom}
      marginMineFrom(
        IvfIndex.build(b, "embedding", "vec_id", nlist = 8)
          .search(a, k = MarginK, nprobe = 2),
        IvfIndex.build(a, "embedding", "vec_id", nlist = 8)
          .search(b, k = MarginK, nprobe = 2),
        threshold = MarginThreshold)
    },

    // hard-negative mining for retrieval training: per query the top
    // negatives from its candidate list, with the labeled positive
    // (qid → qid+100) anti-joined out and the ANCE/RocketQA
    // false-negative ceiling applied. The oracle replays the cross
    // product, candidate top-k, NOT EXISTS anti-join, ceiling, and
    // the re-rank
    Q.fn("q_hard_negatives", hardNegOracle) { (spark, sf) =>
      val emb = Tables.load(spark, sf, "embeddings")
      graft.ml.Similarity.hardNegativesBrute(
        emb.where(col("vec_id") < 100),
        emb.where(col("vec_id") >= 100),
        emb.where(col("vec_id") < 100)
          .select(col("vec_id").as("qid"),
            (col("vec_id") + 100).as("pid")),
        "embedding", "vec_id", "qid", "pid",
        kCand = HnKCand, n = HnN, maxCos = HnMaxCos)
    },

    // corpus snapshot diff: prev = docs < 400, next = docs 30..429
    // with every 7th doc's text re-rendered — all four statuses
    // (added / removed / changed / unchanged) are populated at every
    // scale factor. The oracle replays fingerprints + the full-outer
    // join + the status CASE
    Q.fn("q_corpus_diff", corpusDiffOracle) { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
      graft.ml.Curation.corpusDiff(
        docs.where(col("doc_id") < 400),
        diffNext(docs), "doc_id", "text")
    },

    Q.fn("q_corpus_diff_summary",
      s"""WITH d AS ($corpusDiffOracle)
          SELECT status, CAST(count(*) AS BIGINT) AS n_docs
          FROM d GROUP BY 1""") { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
      graft.ml.Curation.corpusDiffSummary(
        docs.where(col("doc_id") < 400),
        diffNext(docs), "doc_id", "text")
    },

    // ... and the standing-state loop: fingerprint state built from
    // the prev snapshot, the ' v2' batch folded in as an append-only
    // delta (changed rows REPLACE by latest-batch-wins fold at read),
    // then a ' v3' probe batch classified against the folded state —
    // added / changed / unchanged only (removal is undecidable from a
    // partial batch)
    Q.fn("q_corpus_diff_loop", corpusDiffLoopOracle) { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
      val dir = Q.stateDir("graft-fp-loop", sf) { d =>
        graft.ml.Curation.buildFpIndex(
          docs.where(col("doc_id") < 400), "doc_id", "text", d)
        graft.ml.Curation.updateFpIndex(spark, d, diffNext(docs),
          "doc_id", "text")
      }
      graft.ml.Curation.diffAgainstFpIndex(spark, dir,
        diffProbe(docs), "doc_id", "text")
    },

    // curriculum ordering: length-class phases (shortest docs first),
    // uniform hash shuffle within each phase. The oracle is the
    // closed form of the bucketed machinery — one global sort by
    // (phase, md5, id)
    Q.fn("q_curriculum_order",
      """SELECT doc_id,
                CAST(least(3, length(text) // 100) AS BIGINT) AS phase,
                CAST(row_number() OVER (
                  ORDER BY least(3, length(text) // 100),
                           md5('curriculum' || CAST(doc_id AS VARCHAR)),
                           doc_id) - 1 AS BIGINT) AS pos
         FROM documents""") { (spark, sf) =>
      graft.ml.Curation.curriculumOrder(
        Tables.load(spark, sf, "documents")
          .withColumn("phase",
            least(lit(3), floor(length(col("text")) / 100))),
        "doc_id", "phase")
    },

    // interleaved multimodal packing: image slots spliced into the
    // packed token stream as boi/img×n/eoi runs, document separators
    // and placement unchanged — the oracle replays the Viterbi
    // encode, the interleave under the doubled sort key, and the
    // placement cumsum
    Q.fn("q_pack_multimodal", packMultimodalOracle) { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
      val corp = Round14Queries.unigramCorpus(docs)
      val vocab = Round14Queries.unigramVocabFor(sf, corp)
      graft.ml.Curation.packMultimodalIds(
        graft.ml.Unigram.unigramEncodeIds(
          corp.where(col("doc_id") < 300), "text", "doc_id", vocab,
          Round14Queries.UniMaxPieceLen),
        mmMedia(docs), "doc_id", chunkTokens = 64, imgId = MmImg,
        boiId = MmBoi, eoiId = MmEoi, bucketSize = 50,
        sepId = Some(MmSep))
    }
  )
}
