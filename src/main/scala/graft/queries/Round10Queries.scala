package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.Dedup

/** Round-10 corpus-curation additions: segment-level boilerplate removal
  * and incremental (cross-corpus) dedup with a Bloom-prefiltered
  * reference scan. Both are exact and DuckDB-replayable; the Bloom
  * filter only prunes the reference side of an anti-join, never changes
  * the result.
  */
object Round10Queries {

  /** dedupSegments over the documents table at token granularity
    * (the synthetic text has no newlines, so the separator is a space:
    * "segments" = tokens, and the >50 %-document-frequency drops are the
    * corpus's stopword-like boilerplate). The oracle replays the same
    * document-frequency threshold and order-preserving reassembly.
    */
  private val segmentsOracle =
    """WITH segs AS (SELECT doc_id, unnest(string_split(text,' ')) AS seg,
                            generate_subscripts(string_split(text,' '),1)
                              AS pos
                     FROM documents),
            tot AS (SELECT count(DISTINCT doc_id) AS t FROM documents),
            hot AS (SELECT seg FROM segs CROSS JOIN tot
                    GROUP BY seg, t
                    HAVING count(DISTINCT doc_id) > t * 0.5),
            kept AS (SELECT s.doc_id, s.seg, s.pos FROM segs s
                     ANTI JOIN hot h ON s.seg = h.seg),
            agg AS (SELECT doc_id,
                           string_agg(seg, ' ' ORDER BY pos) AS text_clean,
                           count(*) AS kept_n
                    FROM kept GROUP BY doc_id)
       SELECT d.doc_id,
              coalesce(a.text_clean, '') AS text_clean,
              CAST(len(string_split(d.text,' ')) - coalesce(a.kept_n, 0)
                   AS BIGINT) AS n_dropped
       FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** Incremental-ingest scenario built from the documents table: the
    * "new batch" is one third exact copies of reference docs (re-keyed)
    * and one third genuinely new texts; dedupAgainst must keep exactly
    * the new texts. The Spark side runs the Bloom-prefiltered path; the
    * oracle is the plain anti-join (same result by construction).
    */
  private val incrementalOracle =
    """WITH newb AS (
         SELECT doc_id + 1000000 AS doc_id, text
           FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT doc_id + 2000000 AS doc_id, text || ' v2' AS text
           FROM documents WHERE doc_id % 3 = 1)
       SELECT n.doc_id, n.text
         FROM newb n ANTI JOIN documents r ON n.text = r.text"""

  /** randomProjection 64 → 16 over the embeddings table, exploded to
    * (vec_id, j, y) rows. The oracle regenerates the identical ±1 sign
    * matrix from the md5-derived h32 of "proj_i_j" and replays the
    * fixed-point (1e-6 quanta) inner sum — integer addition is
    * order-independent, so Spark's sequential fold and DuckDB's group
    * sum agree bit-for-bit before the final rounded division.
    */
  private val projectOracle =
    """WITH m AS (SELECT i, j,
                    CASE WHEN ('0x'||substr(md5('proj_'||i||'_'||j),1,8))::BIGINT
                              % 2 = 0
                         THEN 1 ELSE -1 END AS s
                  FROM range(64) t1(i) CROSS JOIN range(16) t2(j)),
            x AS (SELECT vec_id,
                    generate_subscripts(embedding, 1) - 1 AS i,
                    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                         AS BIGINT) AS xi
                  FROM embeddings)
       SELECT x.vec_id, CAST(m.j AS INT) AS j,
              CAST(sum(x.xi * m.s) AS DOUBLE) / 1000000.0 AS y
       FROM x JOIN m USING (i) GROUP BY x.vec_id, m.j"""

  private def dot16(a: String, b: String) =
    s"list_reduce(list_transform(range(1,17), i -> $a[i]*$b[i]), (x,y)->x+y)"

  /** Shared CTE prefix: the projection (m, x, yj, py) and its L2
    * normalization (pn) — the 16-dim space both projected searches
    * rank candidates in.
    */
  private val projCte =
    s"""m AS (SELECT i, j,
              CASE WHEN ('0x'||substr(md5('proj_'||i||'_'||j),1,8))::BIGINT
                        % 2 = 0
                   THEN 1 ELSE -1 END AS s
            FROM range(64) t1(i) CROSS JOIN range(16) t2(j)),
        x AS (SELECT vec_id,
                generate_subscripts(embedding, 1) - 1 AS i,
                CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                     AS BIGINT) AS xi
              FROM embeddings),
        yj AS (SELECT x.vec_id, m.j,
                      CAST(sum(x.xi * m.s) AS DOUBLE) / 1000000.0 AS y
               FROM x JOIN m USING (i) GROUP BY x.vec_id, m.j),
        py AS (SELECT vec_id, list(y ORDER BY j) AS p
               FROM yj GROUP BY vec_id),
        pn AS (SELECT vec_id,
                      list_transform(p, z -> z / sqrt(${dot16("p", "p")}))
                        AS pv
               FROM py)"""

  /** projectedTopK replayed end-to-end: the identical sign matrix and
    * fixed-point projection, L2 normalization in the 16-dim space,
    * candidate top-10 by projected cosine (ties to the lowest id, like
    * top_k_min), then full-dimension re-rank to top-3.
    */
  private val projectedKnnOracle = {
    import MlQueries.normSql
    s"""WITH $projCte,
            v AS (SELECT vec_id, $normSql AS e FROM embeddings),
            cand AS (SELECT q.vec_id AS query_id, c.vec_id AS nb_id,
                            row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round(${dot16("q.pv", "c.pv")}, 6)
                                         DESC, c.vec_id) AS cr
                     FROM (SELECT * FROM pn WHERE vec_id < 5) q
                     CROSS JOIN pn c WHERE q.vec_id <> c.vec_id),
            rr AS (SELECT cand.query_id, cand.nb_id,
                          round(${MlQueries.cosSql("qv.e", "nv.e")}, 6) AS cos,
                          row_number() OVER (PARTITION BY cand.query_id
                            ORDER BY round(${MlQueries.cosSql("qv.e", "nv.e")}, 6)
                                       DESC, cand.nb_id) AS rn
                   FROM (SELECT * FROM cand WHERE cr <= 10) cand
                   JOIN v qv ON qv.vec_id = cand.query_id
                   JOIN v nv ON nv.vec_id = cand.nb_id)
       SELECT query_id, CAST(rn AS INT) AS rank, nb_id, cos
       FROM rr WHERE rn <= 3"""
  }

  /** A projected `IvfIndex` search replayed: id-prefix codebook IN THE
    * PROJECTED space (8 cells), nearest-cell assignment and 2-cell
    * probing by rounded projected cosine (ties to the lowest cell),
    * candidate top-10 within the probed cells, then full-dimension
    * re-rank to top-3 — every stage mirroring `IvfIndex.search` +
    * rerankFullDim.
    */
  private val projectedIvfOracle = {
    import MlQueries.normSql
    s"""WITH $projCte,
            cent AS (SELECT vec_id AS cell, pv AS vcent
                     FROM pn WHERE vec_id < 8),
            asg AS (SELECT pn.vec_id, cell, pv, row_number() OVER
                      (PARTITION BY pn.vec_id
                       ORDER BY round(${dot16("pv", "vcent")}, 6) DESC,
                                cell) AS r
                    FROM pn CROSS JOIN cent),
            cells AS (SELECT vec_id AS nb_id, cell, pv AS pe
                      FROM asg WHERE r = 1),
            probed AS (SELECT q.vec_id AS query_id, cell, pv AS pq,
                              row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY round(${dot16("pv", "vcent")}, 6)
                                           DESC, cell) AS pr
                       FROM (SELECT * FROM pn WHERE vec_id < 5) q
                       CROSS JOIN cent),
            cand AS (SELECT query_id, nb_id,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY round(${dot16("pq", "pe")}, 6) DESC,
                                       nb_id) AS cr
                     FROM (SELECT * FROM probed WHERE pr <= 2) p
                     JOIN cells USING (cell) WHERE query_id <> nb_id),
            v AS (SELECT vec_id, $normSql AS e FROM embeddings),
            rr AS (SELECT cand.query_id, cand.nb_id,
                          round(${MlQueries.cosSql("qv.e", "nv.e")}, 6) AS cos,
                          row_number() OVER (PARTITION BY cand.query_id
                            ORDER BY round(${MlQueries.cosSql("qv.e", "nv.e")}, 6)
                                       DESC, cand.nb_id) AS rn
                   FROM (SELECT * FROM cand WHERE cr <= 10) cand
                   JOIN v qv ON qv.vec_id = cand.query_id
                   JOIN v nv ON nv.vec_id = cand.nb_id)
       SELECT query_id, CAST(rn AS INT) AS rank, nb_id, cos
       FROM rr WHERE rn <= 3"""
  }

  /** filterCascade funnel over documents: four deterministic quality
    * gates in order, every comparison in integer arithmetic so both
    * engines agree exactly (mean-word-length <= 6 is expressed as
    * total-word-chars <= 6*nwords; dup-word ratio >= 0.5 as
    * 2*distinct >= ntokens).
    */
  private val funnelOracle = {
    val n = "len(string_split(text,' '))"
    s"""WITH f AS (SELECT doc_id,
              CASE WHEN NOT (length(text) >= 200) THEN 'too_short'
                   WHEN NOT ($n >= 40) THEN 'few_words'
                   WHEN NOT ((length(text) - ($n - 1)) <= $n * 6)
                     THEN 'long_words'
                   WHEN NOT (len(list_distinct(string_split(text,' '))) * 2
                             >= $n) THEN 'dup_words'
              END AS first_fail
            FROM documents)
       SELECT doc_id, first_fail IS NULL AS keep, first_fail FROM f"""
  }

  /** chunkByContent over documents (2-gram rolling-hash boundaries,
    * expected chunk ≈ 16 tokens). The oracle replays the identical
    * boundary test and slicing, 1-based in DuckDB.
    */
  private val chunkOracle =
    """WITH t0 AS (SELECT doc_id, string_split(lower(text),' ') AS t
                   FROM documents),
            b AS (SELECT doc_id, t,
                    list_concat(list_concat(
                      [0]::BIGINT[],
                      CASE WHEN len(t) <= 1 THEN []::BIGINT[]
                           ELSE list_filter(range(1, len(t)), i ->
                             ('0x'||substr(md5(t[i]||' '||t[i+1]),1,8))::BIGINT
                               % 16 = 0)
                      END),
                      [len(t)]::BIGINT[]) AS bounds
                  FROM t0),
            c AS (SELECT doc_id, t, bounds, unnest(range(1, len(bounds)))
                    AS j
                  FROM b)
       SELECT doc_id, CAST(j - 1 AS INT) AS chunk_idx,
              bounds[CAST(j AS INT)] AS tok_start,
              array_to_string(
                t[CAST(bounds[CAST(j AS INT)] + 1 AS INT):
                  CAST(bounds[CAST(j + 1 AS INT)] AS INT)], ' ') AS chunk
       FROM c"""

  /** chunkDupScore over a corpus where every document has an
    * edited twin (a prefix insertion, re-keyed): CDC boundaries
    * re-align after the edit, so the twins share their tail chunks and
    * the duplication signal is non-vacuous — exactly what the operator
    * exists to surface. The oracle replays chunking, hashing,
    * distinct-doc frequency, and the per-doc fractions.
    */
  private val chunkDupOracle =
    """WITH corpus AS (
         SELECT doc_id, lower(text) AS text FROM documents
         UNION ALL
         SELECT doc_id + 500000 AS doc_id,
                'edited intro ' || lower(text) AS text FROM documents),
            t0 AS (SELECT doc_id, string_split(text,' ') AS t FROM corpus),
            b AS (SELECT doc_id, t,
                    list_concat(list_concat(
                      [0]::BIGINT[],
                      CASE WHEN len(t) <= 1 THEN []::BIGINT[]
                           ELSE list_filter(range(1, len(t)), i ->
                             ('0x'||substr(md5(t[i]||' '||t[i+1]),1,8))::BIGINT
                               % 16 = 0)
                      END),
                      [len(t)]::BIGINT[]) AS bounds
                  FROM t0),
            c AS (SELECT doc_id, t, bounds,
                         unnest(range(1, len(bounds))) AS j
                  FROM b),
            h AS (SELECT doc_id,
                    ('0x'||substr(md5(array_to_string(
                      t[CAST(bounds[CAST(j AS INT)] + 1 AS INT):
                        CAST(bounds[CAST(j + 1 AS INT)] AS INT)], ' ')
                      ),1,8))::BIGINT AS hh
                  FROM c),
            f AS (SELECT hh, count(DISTINCT doc_id) AS df
                  FROM h GROUP BY 1)
       SELECT h.doc_id, count(*) AS n_chunks,
              CAST(sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_dup,
              round(CAST(sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END)
                         AS DOUBLE) / count(*), 9) AS dup_frac
       FROM h JOIN f USING (hh) GROUP BY 1"""

  /** dedupChunks over the same twin corpus as q_chunk_dedup: each
    * duplicated chunk survives only in its min-doc_id owner, survivors
    * reassemble in order. The oracle replays chunking + hashing + the
    * min-owner keep-list; `string_agg(... ORDER BY j)` mirrors the
    * array_sort reassembly and coalesces to '' for fully-owned docs.
    */
  private val chunkKeeplistOracle =
    """WITH corpus AS (
         SELECT doc_id, lower(text) AS text FROM documents
         UNION ALL
         SELECT doc_id + 500000 AS doc_id,
                'edited intro ' || lower(text) AS text FROM documents),
            t0 AS (SELECT doc_id, string_split(text,' ') AS t FROM corpus),
            b AS (SELECT doc_id, t,
                    list_concat(list_concat(
                      [0]::BIGINT[],
                      CASE WHEN len(t) <= 1 THEN []::BIGINT[]
                           ELSE list_filter(range(1, len(t)), i ->
                             ('0x'||substr(md5(t[i]||' '||t[i+1]),1,8))::BIGINT
                               % 16 = 0)
                      END),
                      [len(t)]::BIGINT[]) AS bounds
                  FROM t0),
            c AS (SELECT doc_id, t, bounds,
                         unnest(range(1, len(bounds))) AS j
                  FROM b),
            h0 AS (SELECT doc_id, j,
                     array_to_string(
                       t[CAST(bounds[CAST(j AS INT)] + 1 AS INT):
                         CAST(bounds[CAST(j + 1 AS INT)] AS INT)], ' ')
                       AS chunk
                   FROM c),
            h AS (SELECT doc_id, j, chunk,
                    ('0x'||substr(md5(chunk),1,8))::BIGINT AS hh
                  FROM h0),
            own AS (SELECT hh, min(doc_id) AS owner FROM h GROUP BY 1)
       SELECT h.doc_id,
              coalesce(string_agg(
                CASE WHEN own.owner = h.doc_id THEN h.chunk END,
                ' ' ORDER BY h.j), '') AS text_clean,
              count(h.chunk) AS n_chunks,
              CAST(sum(CASE WHEN own.owner <> h.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped
       FROM h LEFT JOIN own USING (hh)
       GROUP BY 1"""

  /** dedupAgainstNear over a batch of 30 near-dup twins (prefix edit of
    * a reference doc — high shingle Jaccard, must DROP) and 10 novel
    * docs (no shared shingles — must survive even if a band ever
    * collided, because candidates verify by exact Jaccard). The oracle
    * replays minhash banding, the band join, the candidate-restricted
    * shingle intersection and the Jaccard gate.
    */
  private val nearIncOracle = {
    import MlQueries.{toksSql, shinglesSql, minhashSql, bandsSql}
    s"""WITH batch AS (
          SELECT doc_id + 500000 AS doc_id, 'edited intro ' || text AS text
          FROM documents WHERE doc_id < 30
          UNION ALL
          SELECT doc_id + 600000 AS doc_id,
                 'novel document number ' || (doc_id + 600000) ||
                 ' entirely unlike anything else in this corpus' AS text
          FROM documents WHERE doc_id < 10),
        ntok AS (SELECT doc_id, $toksSql AS t FROM batch),
        rtok AS (SELECT doc_id, $toksSql AS t FROM documents),
        nsh0 AS (SELECT doc_id, $shinglesSql AS sh FROM ntok),
        rsh0 AS (SELECT doc_id, $shinglesSql AS sh FROM rtok),
        nsig AS (SELECT doc_id, $minhashSql AS sig FROM nsh0),
        rsig AS (SELECT doc_id, $minhashSql AS sig FROM rsh0),
        nband AS (SELECT doc_id, unnest($bandsSql) AS band FROM nsig),
        rband AS (SELECT doc_id, unnest($bandsSql) AS band FROM rsig),
        cand AS (SELECT DISTINCT n.doc_id AS nid, r.doc_id AS rid
                 FROM nband n JOIN rband r USING (band)),
        nsh AS (SELECT doc_id, unnest(sh) AS s FROM nsh0
                WHERE doc_id IN (SELECT nid FROM cand)),
        rsh AS (SELECT doc_id, unnest(sh) AS s FROM rsh0
                WHERE doc_id IN (SELECT rid FROM cand)),
        shared AS (SELECT n.doc_id AS nid, r.doc_id AS rid,
                          count(*) AS sc
                   FROM nsh n JOIN rsh r ON n.s = r.s
                   JOIN cand c ON c.nid = n.doc_id AND c.rid = r.doc_id
                   GROUP BY 1, 2),
        nsz AS (SELECT doc_id, len(sh) AS sz FROM nsh0),
        rsz AS (SELECT doc_id, len(sh) AS sz FROM rsh0),
        dropped AS (SELECT DISTINCT s.nid FROM shared s
                    JOIN nsz ON nsz.doc_id = s.nid
                    JOIN rsz ON rsz.doc_id = s.rid
                    WHERE round(CAST(s.sc AS DOUBLE)
                            / (nsz.sz + rsz.sz - s.sc), 6) >= 0.5)
        SELECT b.doc_id, b.text FROM batch b
        WHERE b.doc_id NOT IN (SELECT nid FROM dropped)"""
  }

  /** Deterministic training-shuffle order: pos = rank in md5(salt||id)
    * order. The engine computes it with the two-level bucket scan (no
    * corpus-wide window); the oracle replays it as the global
    * row_number it is equivalent to.
    */
  private val shuffleOracle =
    """SELECT doc_id,
              CAST(row_number() OVER (
                ORDER BY md5('shuffle' || CAST(doc_id AS VARCHAR)),
                         doc_id) - 1 AS BIGINT) AS pos
       FROM documents"""

  /** Hash-interval split assignment replay: the same h32 fraction and
    * the same cumulative bounds (0.9, 0.95).
    */
  private val splitsOracle = {
    val frac =
      "(('0x'||substr(md5('split' || CAST(doc_id AS VARCHAR)),1,8))" +
        "::BIGINT / 4294967296.0)"
    s"""SELECT doc_id,
               CASE WHEN $frac < 0.9 THEN 'train'
                    WHEN $frac < 0.95 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents"""
  }

  /** Cross-corpus bigram LM scoring: docs >= 250 scored under a
    * Laplace-smoothed bigram model of docs < 250 (a real train/score
    * split, so OOV smoothing is exercised). Full replay.
    */
  private val lmOracle =
    """WITH ref AS (SELECT text FROM documents WHERE doc_id < 250),
            sc AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250),
            rt AS (SELECT unnest(string_split(lower(text),' ')) AS w
                   FROM ref),
            uni AS (SELECT w, CAST(count(*) AS DOUBLE) AS u
                    FROM rt GROUP BY 1),
            voc AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM rt),
            rbt AS (SELECT string_split(lower(text),' ') AS t FROM ref),
            rb AS (SELECT unnest(list_transform(range(1, len(t)),
                     i -> t[i] || ' ' || t[i+1])) AS bg
                   FROM rbt WHERE len(t) >= 2),
            bi AS (SELECT bg, CAST(count(*) AS DOUBLE) AS b
                   FROM rb GROUP BY 1),
            sbt AS (SELECT doc_id, string_split(lower(text),' ') AS t
                    FROM sc),
            sb AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                     i -> t[i] || ' ' || t[i+1])) AS bg
                   FROM sbt WHERE len(t) >= 2),
            j AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w
                  FROM sb),
            p AS (SELECT j.doc_id,
                    (coalesce(bi.b, 0) + 1) / (coalesce(uni.u, 0) + voc.v)
                      AS p
                  FROM j LEFT JOIN bi USING (bg) LEFT JOIN uni USING (w)
                  CROSS JOIN voc),
            agg AS (SELECT doc_id, count(*) AS n_bigrams,
                      CAST(trunc(avg(-ln(p)) * 1000000) AS BIGINT)
                        / 1000000.0 AS lm_score
                    FROM p GROUP BY 1)
       SELECT s.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.lm_score
       FROM sc s LEFT JOIN agg a USING (doc_id)"""

  /** decontaminate over the same corpus split as q_contamination: the
    * survivors are exactly the non-benchmark docs NOT in the
    * contamination report.
    */
  private val decontaminateOracle = {
    val toks = "string_split(lower(text),' ')"
    val sh3 = "list_distinct(list_transform(range(0, len(t)-2), " +
      "i -> t[i+1]||' '||t[i+2]||' '||t[i+3]))"
    s"""WITH tokd AS (SELECT doc_id, $toks AS t FROM documents
                      WHERE doc_id % 10 <> 0),
             tokb AS (SELECT $toks AS t FROM documents
                      WHERE doc_id % 10 = 0),
             ds AS (SELECT doc_id, unnest($sh3) AS sh FROM tokd),
             bs AS (SELECT DISTINCT unnest($sh3) AS sh FROM tokb),
             bad AS (SELECT doc_id FROM ds JOIN bs USING (sh)
                     GROUP BY 1 HAVING count(*) >= 2)
        SELECT d.doc_id, d.text FROM documents d
        WHERE d.doc_id % 10 <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM bad)"""
  }

  /** dedupLines at token granularity (the synthetic text has no
    * newlines): every repeated token keeps its first occurrence. The
    * oracle replays first-position selection and ordered reassembly.
    */
  private val dedupLinesOracle =
    """WITH lines AS (SELECT doc_id,
                             unnest(string_split(text,' ')) AS line,
                             generate_subscripts(string_split(text,' '),1)
                               AS pos
                      FROM documents),
            firsts AS (SELECT doc_id, line, min(pos) AS f, count(*) AS n
                       FROM lines GROUP BY 1, 2),
            agg AS (SELECT doc_id,
                           string_agg(line, ' ' ORDER BY f) AS text_clean,
                           CAST(sum(n - 1) AS BIGINT) AS n_dropped
                    FROM firsts GROUP BY 1)
       SELECT doc_id, coalesce(text_clean, '') AS text_clean, n_dropped
       FROM agg"""

  /** simhashKeepFirst over the q_dedup_simhash_pairs corpus: survivors
    * are the docs with no near predecessor.
    */
  private val keepFirstOracle = {
    import MlQueries.{toksSql, simhash64Sql}
    s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents
                     WHERE doc_id < 200),
             sh AS (SELECT doc_id, $simhash64Sql AS simhash
               FROM tok),
             bad AS (SELECT DISTINCT b.doc_id
                     FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                     WHERE bit_count(xor(a.simhash, b.simhash)) <= 8)
        SELECT d.doc_id, d.text FROM documents d
        WHERE d.doc_id < 200
          AND d.doc_id NOT IN (SELECT doc_id FROM bad)"""
  }

  /** imageAHashPairs over deterministic 8×8 PPM images (md5-derived
    * cell lumas; each doc gets a twin with cell 0 bumped, so twin pairs
    * sit within a few Hamming bits and cross pairs ~32). Spark REALLY
    * round-trips PPM encode → decode → thumbnail (gray luma v → v and
    * 8×8→8×8 resize is identity); the oracle replays the feature math
    * directly from the same cell formula.
    */
  private val ahashOracle = {
    val lum = "('0x'||substr(md5(doc_id || '-' || c),1,2))::BIGINT"
    s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 1000),
         base AS (SELECT doc_id,
                    list_transform(range(0,64), c -> $lum) AS lum
                  FROM ids),
         twin AS (SELECT doc_id + 500000 AS tid,
                    list_transform(range(0,64), c ->
                      CASE WHEN c = 0 THEN ($lum + 16) % 256
                           ELSE $lum END) AS lum
                  FROM ids),
         lums AS (SELECT doc_id, lum FROM base
                  UNION ALL SELECT tid AS doc_id, lum FROM twin),
         m AS (SELECT doc_id, lum, list_sum(lum)::DOUBLE / 64 AS mean
               FROM lums),
         ah AS (SELECT doc_id,
                  -- DuckDB rejects 1 << 63 as overflow; bit 63 is the
                  -- Long sign bit, spelled as its value
                  CAST(list_sum(list_transform(range(0,64), c ->
                    CASE WHEN lum[CAST(c+1 AS INT)] <= mean THEN 0::BIGINT
                         WHEN c = 63 THEN -9223372036854775807 - 1
                         ELSE (1::BIGINT << CAST(c AS INT)) END))
                    AS BIGINT) AS ahash
                FROM m),
         bands AS (SELECT doc_id, ahash,
                     unnest(list_transform(range(0,7), i ->
                       i::VARCHAR || ':' ||
                       ((ahash >> CAST(i*64//7 AS INT)) &
                        ((1::BIGINT <<
                          CAST((i+1)*64//7 - i*64//7 AS INT)) - 1))
                         ::VARCHAR)) AS band
                   FROM ah)
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS dist
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ahash, b.ahash)) <= 6"""
  }

  /** audioEnvelopePairs over deterministic PCM (md5-derived samples;
    * each event gets a twin with its first window's samples shifted).
    * Spark really round-trips WAV encode → decode → envelope; the
    * oracle replays the integer window sums and the hash directly.
    */
  private val audioPairsOracle = {
    val s = "('0x'||substr(md5(id || '-' || i),1,2))::BIGINT - 128"
    s"""WITH ids AS (SELECT event_id AS id FROM events
                     WHERE event_id < 300),
         smp AS (SELECT id, i, $s AS s
                 FROM ids CROSS JOIN range(0,256) t(i)),
         twin AS (SELECT id + 500000 AS id, i,
                         CASE WHEN i < 4 THEN s + 64 ELSE s END AS s
                  FROM smp),
         allsmp AS (SELECT * FROM smp UNION ALL SELECT * FROM twin),
         env AS (SELECT id, CAST(i * 64 // 256 AS INT) AS w,
                        sum(abs(s)) AS e
                 FROM allsmp GROUP BY 1, 2),
         tot AS (SELECT id, sum(e) AS t FROM env GROUP BY 1),
         ah AS (SELECT env.id,
                  CAST(sum(CASE WHEN e * 64 <= t THEN 0::BIGINT
                           WHEN w = 63 THEN -9223372036854775807 - 1
                           ELSE (1::BIGINT << w) END) AS BIGINT) AS ahash
                FROM env JOIN tot USING (id) GROUP BY 1),
         bands AS (SELECT id, ahash,
                     unnest(list_transform(range(0,7), i ->
                       i::VARCHAR || ':' ||
                       ((ahash >> CAST(i*64//7 AS INT)) &
                        ((1::BIGINT <<
                          CAST((i+1)*64//7 - i*64//7 AS INT)) - 1))
                         ::VARCHAR)) AS band
                   FROM ah)
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS dist
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.id < b.id
        WHERE bit_count(xor(a.ahash, b.ahash)) <= 6"""
  }

  /** videoNearPairs over 3-frame synthetic videos (md5-derived 8×8 gray
    * P6 frames, values < 128 so the gray byte is a single ASCII chr;
    * each video gets a twin with frame 0's first cell bumped). Twins
    * share all three frames as near; unrelated videos share none. Full
    * replay of the per-frame aHash, banding and the shared-frame count.
    */
  private val videoPairsOracle = {
    val v = "('0x'||substr(md5(id||'-'||f||'-'||c),1,2))::BIGINT % 128"
    s"""WITH ids AS (SELECT event_id AS id FROM events
                     WHERE event_id < 200),
         cell AS (SELECT id, f, c, $v AS v
                  FROM ids CROSS JOIN range(0,3) tf(f)
                           CROSS JOIN range(0,64) tc(c)),
         twin AS (SELECT id + 500000 AS id, f, c,
                         CASE WHEN f = 0 AND c = 0 THEN (v + 16) % 128
                              ELSE v END AS v
                  FROM cell),
         allc AS (SELECT * FROM cell UNION ALL SELECT * FROM twin),
         m AS (SELECT id, f, sum(v)::DOUBLE / 64 AS mean
               FROM allc GROUP BY 1, 2),
         ah AS (SELECT allc.id, allc.f,
                  CAST(sum(CASE WHEN v <= mean THEN 0::BIGINT
                           WHEN c = 63 THEN -9223372036854775807 - 1
                           ELSE (1::BIGINT << CAST(c AS INT)) END)
                    AS BIGINT) AS ahash
                FROM allc JOIN m USING (id, f) GROUP BY 1, 2),
         bands AS (SELECT id, f, ahash,
                     unnest(list_transform(range(0,7), i ->
                       i::VARCHAR || ':' ||
                       ((ahash >> CAST(i*64//7 AS INT)) &
                        ((1::BIGINT <<
                          CAST((i+1)*64//7 - i*64//7 AS INT)) - 1))
                         ::VARCHAR)) AS band
                   FROM ah),
         near AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.f AS fa
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.id < b.id
                  WHERE bit_count(xor(a.ahash, b.ahash)) <= 6)
        SELECT id_a, id_b, count(*) AS shared_frames
        FROM near GROUP BY 1, 2 HAVING count(*) >= 2"""
  }

  /** packBins over documents < 300 (same slice as q_pack_chunks): each
    * doc lands whole in the bin its global start offset falls into. The
    * oracle replays the running-sum placement as the global window it is
    * equivalent to.
    */
  private val packBinsOracle =
    """WITH d AS (SELECT doc_id,
                    CAST(len(string_split(lower(text),' ')) AS BIGINT) AS n
                  FROM documents WHERE doc_id < 300),
            c AS (SELECT doc_id, n,
                    CAST(sum(n) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) - n AS s
                  FROM d WHERE n > 0)
       SELECT doc_id, CAST(s // 512 AS BIGINT) AS bin,
              s AS start_tok, n AS n_tokens
       FROM c"""

  /** noveltyScore: docs >= 250 scored against the < 250 reference (the
    * lmScore split). Distinct-shingle membership replayed exactly.
    */
  private val noveltyOracle = {
    val sh3 = "list_distinct(list_transform(range(0, len(t)-2), " +
      "i -> t[i+1]||' '||t[i+2]||' '||t[i+3]))"
    s"""WITH sc AS (SELECT doc_id, string_split(lower(text),' ') AS t
                    FROM documents WHERE doc_id >= 250),
            rf AS (SELECT string_split(lower(text),' ') AS t
                   FROM documents WHERE doc_id < 250),
            ds AS (SELECT doc_id, unnest($sh3) AS sh FROM sc),
            rs AS (SELECT DISTINCT unnest($sh3) AS sh FROM rf),
            j AS (SELECT ds.doc_id, ds.sh,
                         CASE WHEN rs.sh IS NULL THEN 1 ELSE 0 END AS nov
                  FROM ds LEFT JOIN rs USING (sh)),
            agg AS (SELECT doc_id, count(*) AS n_shingles,
                           CAST(sum(nov) AS BIGINT) AS n_novel,
                           round(CAST(sum(nov) AS DOUBLE) / count(*), 9)
                             AS novelty
                    FROM j GROUP BY 1)
        SELECT s.doc_id,
               coalesce(a.n_shingles, 0) AS n_shingles,
               coalesce(a.n_novel, 0) AS n_novel, a.novelty
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) s
        LEFT JOIN agg a USING (doc_id)"""
  }

  val all: Seq[Q] = Seq(
    Q.fn("q_text_novelty", noveltyOracle) { (spark, sf) =>
      val d = Tables.load(spark, sf, "documents")
      graft.ml.TextAnalysis.noveltyScore(
        d.where(col("doc_id") >= 250).select("doc_id", "text"),
        d.where(col("doc_id") < 250), "text", "doc_id")
    },
    Q.fn("q_pack_bins", packBinsOracle) { (spark, sf) =>
      graft.ml.Curation.packBins(
        Tables.load(spark, sf, "documents").where(col("doc_id") < 300),
        "text", "doc_id", binTokens = 512)
    },
    Q.fn("q_multimodal_video_pairs", videoPairsOracle) { (spark, sf) =>
      import spark.implicits._
      import graft.ml.Multimodal
      def md5hex(s: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      def lum(vid: Long, f: Int, c: Int): Int =
        Integer.parseInt(md5hex(s"$vid-$f-$c").take(2), 16) % 128
      def frame(vid: Long, f: Int, bump: Boolean): Array[Byte] = {
        val px = new Array[Byte](192)
        (0 until 64).foreach { c =>
          val v0 = lum(vid, f, c)
          val v = if (bump && f == 0 && c == 0) (v0 + 16) % 128 else v0
          px(3 * c) = v.toByte; px(3 * c + 1) = v.toByte
          px(3 * c + 2) = v.toByte
        }
        "P6\n8 8\n255\n".getBytes("US-ASCII") ++ px
      }
      def video(hashId: Long, bump: Boolean): Array[Byte] =
        (0 until 3).map(f => frame(hashId, f, bump)).reduce(_ ++ _)
      val packed = Tables.load(spark, sf, "events")
        .where(col("event_id") < 200)
        .select(col("event_id")).as[Long]
        .flatMap { id =>
          Seq((id, video(id, bump = false)),
            (id + 500000L, video(id, bump = true)))
        }.toDF("event_id", "payload")
        .withColumn("media_meta", struct(lit("frames").as("format"),
          octet_length(col("payload")).as("n_bytes")))
      Multimodal.videoNearPairs(packed, "event_id", frameBytes = 203,
        everyNth = 1, maxDist = 6, minSharedFrames = 2)
    },
    Q.fn("q_multimodal_audio_pairs", audioPairsOracle) { (spark, sf) =>
      import spark.implicits._
      import graft.ml.Multimodal
      def md5hex(s: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val packed = Tables.load(spark, sf, "events")
        .where(col("event_id") < 300)
        .select(col("event_id")).as[Long]
        .flatMap { id =>
          def s(i: Int): Int =
            Integer.parseInt(md5hex(s"$id-$i").take(2), 16) - 128
          val base = Array.tabulate[Short](256)(i => s(i).toShort)
          val twin = Array.tabulate[Short](256)(i =>
            (if (i < 4) s(i) + 64 else s(i)).toShort)
          Seq(
            (id, Multimodal.Wav.encode(
              Multimodal.Wav.Audio(8000, 1, base))),
            (id + 500000L, Multimodal.Wav.encode(
              Multimodal.Wav.Audio(8000, 1, twin))))
        }.toDF("event_id", "payload")
        .withColumn("media_meta", struct(lit("wav").as("format"),
          octet_length(col("payload")).as("n_bytes")))
      Multimodal.audioEnvelopePairs(packed, "event_id", maxDist = 6)
    },
    Q.fn("q_multimodal_ahash", ahashOracle) { (spark, sf) =>
      import spark.implicits._
      import graft.ml.Multimodal
      // typed-map corpus like the audio/video twins (doc_id < 1000 caps
      // it like their event_id filters), so the bench row measures the
      // pair-search operator, not fixture construction: the
      // expression-tree version was 567 expression nodes per row, and a
      // naive Scala md5hex (getInstance + %02x per CELL) is worse still
      // — the oracle only reads md5's first two hex chars, i.e. the
      // first digest byte
      def ppm(id: Long, bump: Boolean): String = {
        val md = java.security.MessageDigest.getInstance("MD5")
        "P3\n8 8\n255\n" + (0 until 64).map { c =>
          md.reset()
          md.update(s"$id-$c".getBytes("US-ASCII"))
          val v0 = md.digest()(0) & 0xff
          val v = if (bump && c == 0) (v0 + 16) % 256 else v0
          s"$v $v $v"
        }.mkString(" ")
      }
      val corpus = Tables.load(spark, sf, "documents")
        .where(col("doc_id") < 1000)
        .select(col("doc_id")).as[Long]
        .flatMap(id => Seq((id, ppm(id, bump = false)),
          (id + 500000L, ppm(id, bump = true))))
        .toDF("doc_id", "img")
        .withColumn("fmt", lit("ppm"))
      Multimodal.imageAHashPairs(
        Multimodal.pack(corpus, "img", "fmt"), "doc_id", maxDist = 6)
    },
    Q.fn("q_dedup_simhash_keepfirst", keepFirstOracle) { (spark, sf) =>
      Dedup.simhashKeepFirst(
        Tables.load(spark, sf, "documents").where(col("doc_id") < 200)
          .select("doc_id", "text"),
        "text", "doc_id", maxDist = 8)
    },
    Q.fn("q_dedup_lines", dedupLinesOracle) { (spark, sf) =>
      Dedup.dedupLines(
        Tables.load(spark, sf, "documents").select("doc_id", "text"),
        "text", "doc_id", sep = " ")
    },
    // typed-array any-element matching: Mongo range and $in operators on
    // an ARRAY column match when any element satisfies them (the scalar
    // comparison would not even analyze against an array)
    Q.pipe("q_match_array_ops", "documents",
      """[{"$addFields":{"tokens":{"$split":["$text"," "]}}},
          {"$match":{"tokens":{"$gte":"win","$in":["scan","sort"]}}},
          {"$project":{"doc_id":1,"n":{"$size":"$tokens"}}}]""",
      """SELECT doc_id, CAST(len(string_split(text,' ')) AS INT) AS n
         FROM documents
         WHERE len(list_filter(string_split(text,' '), x -> x >= 'win'))
                 > 0
           AND len(list_filter(string_split(text,' '),
                 x -> x IN ('scan','sort'))) > 0"""),
    Q.fn("q_decontaminate", decontaminateOracle) { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
        .select("doc_id", "text")
      graft.ml.Curation.decontaminate(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "text", "doc_id", k = 3, minShared = 2)
    },
    Q.fn("q_lm_score", lmOracle) { (spark, sf) =>
      val d = Tables.load(spark, sf, "documents")
      graft.ml.TextAnalysis.lmScore(
        d.where(col("doc_id") >= 250).select("doc_id", "text"),
        d.where(col("doc_id") < 250), "text", "doc_id")
    },
    Q.fn("q_assign_splits", splitsOracle) { (spark, sf) =>
      graft.ml.Curation.assignSplits(
        Tables.load(spark, sf, "documents").select("doc_id"), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    },
    Q.fn("q_shuffle_order", shuffleOracle) { (spark, sf) =>
      graft.ml.Curation.shuffleOrder(
        Tables.load(spark, sf, "documents").select("doc_id"),
        "doc_id", buckets = 64)
    },
    Q.fn("q_dedup_near_indexed", nearIncOracle) { (spark, sf) =>
      // same batch and same answer as q_dedup_near_incremental, but the
      // reference corpus is shingled ONCE into a persisted band index —
      // the per-batch cost at 100 TB is the batch's own minhash plus a
      // probe of the saved bands, not a corpus pass
      val d = Tables.load(spark, sf, "documents").select("doc_id", "text")
      val dir = Q.stateDir("graft-band-index", sf) { idx =>
        Dedup.buildBandIndex(d, "text", "doc_id", idx)
      }
      val twins = d.where(col("doc_id") < 30).select(
        (col("doc_id") + 500000L).as("doc_id"),
        concat(lit("edited intro "), col("text")).as("text"))
      val novel = d.where(col("doc_id") < 10).select(
        (col("doc_id") + 600000L).as("doc_id"),
        concat(lit("novel document number "), col("doc_id") + 600000L,
          lit(" entirely unlike anything else in this corpus")).as("text"))
      Dedup.dedupAgainstNearIndexed(spark, dir, twins.unionByName(novel),
        d, "text", "doc_id", minJaccard = 0.5)
    },
    Q.fn("q_dedup_near_incremental", nearIncOracle) { (spark, sf) =>
      val d = Tables.load(spark, sf, "documents").select("doc_id", "text")
      val twins = d.where(col("doc_id") < 30).select(
        (col("doc_id") + 500000L).as("doc_id"),
        concat(lit("edited intro "), col("text")).as("text"))
      val novel = d.where(col("doc_id") < 10).select(
        (col("doc_id") + 600000L).as("doc_id"),
        concat(lit("novel document number "), col("doc_id") + 600000L,
          lit(" entirely unlike anything else in this corpus")).as("text"))
      Dedup.dedupAgainstNear(twins.unionByName(novel), d,
        "text", "doc_id", minJaccard = 0.5)
    },
    Q.fn("q_knn_projected_ivf_persisted", projectedIvfOracle) {
      (spark, sf) =>
        import graft.ml.Similarity.{IvfIndex, Projection}
        // the disk-resident q_knn_projected_ivf: the narrow (16-dim) index
        // persists once per source dir; searches must answer byte-for-byte
        // what the in-memory composition answers — same oracle
        val emb = Tables.load(spark, sf, "embeddings")
        val dir = Q.stateDir("graft-proj-ivf-index", sf) { d =>
          IvfIndex.build(emb, "embedding", "vec_id", nlist = 8,
            projection = Some(Projection(inDim = 64, outDim = 16)))
            .save(d)
        }
        IvfIndex.load(spark, dir).search(emb.where(col("vec_id") < 5),
          k = 3, nprobe = 2, corpus = Some(emb), candidates = 10)
    },
    Q.fn("q_chunk_keeplist", chunkKeeplistOracle) { (spark, sf) =>
      val d = Tables.load(spark, sf, "documents").select("doc_id", "text")
      val corpus = d.unionByName(d.select(
        (col("doc_id") + 500000L).as("doc_id"),
        concat(lit("edited intro "), col("text")).as("text")))
      graft.ml.Curation.dedupChunks(corpus, "text", "doc_id",
        targetTokens = 16)
    },
    Q.fn("q_chunk_dedup", chunkDupOracle) { (spark, sf) =>
      val d = Tables.load(spark, sf, "documents").select("doc_id", "text")
      val corpus = d.unionByName(d.select(
        (col("doc_id") + 500000L).as("doc_id"),
        concat(lit("edited intro "), col("text")).as("text")))
      graft.ml.Curation.chunkDupScore(corpus, "text", "doc_id",
        targetTokens = 16)
    },
    Q.fn("q_chunk_content", chunkOracle) { (spark, sf) =>
      graft.ml.Curation.chunkByContent(
        Tables.load(spark, sf, "documents").select("doc_id", "text"),
        "text", "doc_id", targetTokens = 16)
    },
    Q.fn("q_quality_funnel", funnelOracle) { (spark, sf) =>
      val d = Tables.load(spark, sf, "documents")
      val toks = split(col("text"), " ")
      graft.ml.Curation.filterCascade(d, "doc_id", Seq(
        "too_short" -> (length(col("text")) >= 200),
        "few_words" -> (size(toks) >= 40),
        "long_words" ->
          ((length(col("text")) - (size(toks) - 1)) <= size(toks) * 6),
        "dup_words" -> (size(array_distinct(toks)) * 2 >= size(toks))))
    },
    Q.fn("q_embed_project", projectOracle) { (spark, sf) =>
      import graft.ml.Similarity
      Similarity.randomProjection(
        Tables.load(spark, sf, "embeddings"), "embedding", "vec_id",
        inDim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "y")))
    },
    Q.fn("q_knn_projected_ivf", projectedIvfOracle) { (spark, sf) =>
      import graft.ml.Similarity.{IvfIndex, Projection}
      val emb = Tables.load(spark, sf, "embeddings")
      IvfIndex.build(emb, "embedding", "vec_id", nlist = 8,
          projection = Some(Projection(inDim = 64, outDim = 16)))
        .search(emb.where(col("vec_id") < 5), k = 3, nprobe = 2,
          corpus = Some(emb), candidates = 10)
    },
    Q.fn("q_knn_projected", projectedKnnOracle) { (spark, sf) =>
      import graft.ml.Similarity
      val emb = Tables.load(spark, sf, "embeddings")
      Similarity.projectedTopK(emb, emb.where(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, inDim = 64, outDim = 16,
        candidates = 10)
    },
    Q.fn("q_dedup_segments", segmentsOracle) { (spark, sf) =>
      Dedup.dedupSegments(
        Tables.load(spark, sf, "documents").select("doc_id", "text"),
        "text", "doc_id", sep = " ", maxDocFrac = 0.5)
    },
    Q.fn("q_dedup_incremental", incrementalOracle) { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
        .select("doc_id", "text")
      val newBatch = docs.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" v2")).as("text")))
      Dedup.dedupAgainst(newBatch, docs, "text",
        bloomExpectedItems = Some(100000L))
    })
}
