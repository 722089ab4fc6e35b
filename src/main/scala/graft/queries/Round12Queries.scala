package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.{Classifier, Curation, Dedup, Multimodal}

/** Round-12 driver-gate queries: the Public Suffix List as broadcast
  * DATA, the persisted canonical-url index (crawl-incremental URL
  * dedup), the stats→quotas→mix URL composition, and the persisted
  * aHash signature index (crawl-incremental perceptual dedup). All
  * fixtures reuse Round11's md5-derived URL column / Round10's
  * md5-derived PPM corpus so the oracles replay bit-for-bit.
  */
object Round12Queries {
  import Round11Queries.{withUrl, urlCte, hostSql, domainSql, canonCte, pick}

  /** `registrableDomainFromTable` replayed in DuckDB: the same
    * candidate-tail-vs-suffix-table join (value-equivalent to the
    * engine's per-length broadcast joins — a host has exactly one tail
    * per label count, so "longest matched suffix" is the max label
    * count over matched tails), the same +1-label resolution and
    * last-two-labels fallback.
    */
  private val pslOracle = {
    val sfx = Curation.fixtureSuffixStrings
      .map(s => s"'$s'").mkString("[", ",", "]")
    s"""WITH $urlCte,
         h AS (SELECT doc_id, ${hostSql("url")} AS host FROM urls),
         hp AS (SELECT doc_id, host,
                       string_split(host, '.') AS parts FROM h),
         sfxl AS (SELECT suffix, len(string_split(suffix, '.')) AS slen
                  FROM (SELECT unnest($sfx) AS suffix)),
         cand AS (SELECT hp.doc_id, s.slen FROM hp JOIN sfxl s
                    ON len(hp.parts) >= s.slen
                   AND array_to_string(hp.parts[-s.slen:], '.') = s.suffix),
         best AS (SELECT doc_id, max(slen) AS slen FROM cand GROUP BY 1)
        SELECT hp.doc_id, hp.host,
          CASE WHEN hp.host IS NULL OR len(hp.parts) <= 1 THEN hp.host
               WHEN b.slen IS NULL
                 THEN hp.parts[-2] || '.' || hp.parts[-1]
               WHEN b.slen >= len(hp.parts) THEN hp.host
               ELSE array_to_string(hp.parts[-(b.slen+1):], '.') END
            AS domain
        FROM hp LEFT JOIN best b USING (doc_id)"""
  }

  /** `dedupUrlsAgainstIndex` with the prior crawl = doc_id < 250: the
    * oracle replays the persisted index as a CTE (the canonical firsts
    * of the prior slice) and the batch keep rule — keep iff canonical
    * null, or unseen in BOTH the index and the earlier batch rows.
    */
  private val urlIncrOracle =
    s"""WITH $urlCte, $canonCte,
         prior AS (SELECT canonical_url FROM canon
                   WHERE doc_id < 250 AND canonical_url IS NOT NULL
                   GROUP BY 1),
         batch AS (SELECT doc_id, canonical_url FROM canon
                   WHERE doc_id >= 250),
         firsts AS (SELECT canonical_url, min(doc_id) AS f FROM batch
                    WHERE canonical_url IS NOT NULL GROUP BY 1)
        SELECT b.doc_id, b.canonical_url,
               (b.canonical_url IS NULL OR
                (p.canonical_url IS NULL AND b.doc_id = f.f)) AS keep
        FROM batch b
        LEFT JOIN prior p USING (canonical_url)
        LEFT JOIN firsts f USING (canonical_url)"""

  /** `domainMixFromUrls` (τ=0.5, half the corpus): the q_domain_stats
    * extraction feeding the q_domain_temperature math — counts per
    * registrable domain, weights n^τ, keep rates rounded to 9 decimals
    * and clamped at 1, per-row md5-h32 threshold keep.
    */
  private val mixUrlsOracle =
    s"""WITH $urlCte,
         h AS (SELECT doc_id, ${hostSql("url")} AS host FROM urls),
         d AS (SELECT doc_id, ${domainSql("host")} AS domain FROM h
               WHERE ${domainSql("host")} IS NOT NULL),
         cnt AS (SELECT domain, CAST(count(*) AS DOUBLE) AS n
                 FROM d GROUP BY 1),
         w AS (SELECT domain, n, pow(n, 0.5) AS wt FROM cnt),
         tot AS (SELECT sum(n) AS total, sum(wt) AS wsum FROM w),
         rate AS (SELECT domain,
                    round(least(1.0, 0.5 * total * (wt / wsum) / n), 9)
                      AS r
                  FROM w CROSS JOIN tot)
        SELECT d.doc_id, d.domain
        FROM d JOIN rate USING (domain)
        WHERE ('0x'||substr(md5('mixT'||CAST(d.doc_id AS VARCHAR)),1,8))
                ::BIGINT
              < CAST(round(r * 4294967296.0) AS BIGINT)"""

  /** `dedupImagesAgainstAHashIndex` with the index = the base images of
    * the Round10 aHash corpus and the batch = their bumped twins (near,
    * must drop) plus fresh unrelated images (must keep). The oracle
    * replays the STORED signatures as a CTE — the same md5-cell aHash,
    * 7-band pigeonhole and ≤6-bit verify as q_multimodal_ahash.
    */
  private val ahashIndexOracle = {
    val lum = "('0x'||substr(md5(doc_id || '-' || c),1,2))::BIGINT"
    val lumN = "('0x'||substr(md5(doc_id || '-n-' || c),1,2))::BIGINT"
    s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 1000),
         ref AS (SELECT doc_id,
                   list_transform(range(0,64), c -> $lum) AS lum
                 FROM ids),
         twin AS (SELECT doc_id + 500000 AS doc_id,
                    list_transform(range(0,64), c ->
                      CASE WHEN c = 0 THEN ($lum + 16) % 256
                           ELSE $lum END) AS lum
                  FROM ids),
         fresh AS (SELECT doc_id + 700000 AS doc_id,
                     list_transform(range(0,64), c -> $lumN) AS lum
                   FROM ids),
         batch AS (SELECT * FROM twin UNION ALL SELECT * FROM fresh),
         lums AS (SELECT doc_id, lum, 'r' AS side FROM ref
                  UNION ALL SELECT doc_id, lum, 'b' AS side FROM batch),
         m AS (SELECT doc_id, side, lum,
                      list_sum(lum)::DOUBLE / 64 AS mean FROM lums),
         ah AS (SELECT doc_id, side,
                  CAST(list_sum(list_transform(range(0,64), c ->
                    CASE WHEN lum[CAST(c+1 AS INT)] <= mean THEN 0::BIGINT
                         WHEN c = 63 THEN -9223372036854775807 - 1
                         ELSE (1::BIGINT << CAST(c AS INT)) END))
                    AS BIGINT) AS ahash
                FROM m),
         bands AS (SELECT doc_id, side, ahash,
                     unnest(list_transform(range(0,7), i ->
                       i::VARCHAR || ':' ||
                       ((ahash >> CAST(i*64//7 AS INT)) &
                        ((1::BIGINT <<
                          CAST((i+1)*64//7 - i*64//7 AS INT)) - 1))
                         ::VARCHAR)) AS band
                   FROM ah),
         hit AS (SELECT DISTINCT nb.doc_id
                 FROM (SELECT * FROM bands WHERE side = 'b') nb
                 JOIN (SELECT * FROM bands WHERE side = 'r') rb
                   ON nb.band = rb.band
                 WHERE bit_count(xor(nb.ahash, rb.ahash)) <= 6)
        SELECT b.doc_id FROM batch b
        LEFT JOIN hit USING (doc_id) WHERE hit.doc_id IS NULL"""
  }

  /** `dedupUrlsAgainstIndex` AFTER an `updateUrlIndex` fold — the
    * standing-crawl loop driven through the gate: index built over
    * doc_id < 200, the [200, 350) batch folded in, the query probes
    * doc_id ≥ 350. The oracle replays the folded index as it must end
    * up: first-write-wins append over disjoint build/update slices ≡
    * every canonical url seen below 350.
    */
  private val urlLoopOracle =
    s"""WITH $urlCte, $canonCte,
         prior AS (SELECT canonical_url FROM canon
                   WHERE doc_id < 350 AND canonical_url IS NOT NULL
                   GROUP BY 1),
         batch AS (SELECT doc_id, canonical_url FROM canon
                   WHERE doc_id >= 350),
         firsts AS (SELECT canonical_url, min(doc_id) AS f FROM batch
                    WHERE canonical_url IS NOT NULL GROUP BY 1)
        SELECT b.doc_id, b.canonical_url,
               (b.canonical_url IS NULL OR
                (p.canonical_url IS NULL AND b.doc_id = f.f)) AS keep
        FROM batch b
        LEFT JOIN prior p USING (canonical_url)
        LEFT JOIN firsts f USING (canonical_url)"""

  /** `dedupAudioAgainstIndex`: clips dedup against a prior corpus's
    * STORED envelope-hash signatures (`buildAudioIndex` over
    * event_id < 300); the batch carries near twins (first 4 samples
    * bumped — window 0 energy shifts, hash within Hamming 6) and a
    * fresh md5 family. The oracle replays the stored signatures as a
    * CTE — the same integer window sums, strict-majority bit rule,
    * 7-band pigeonhole and ≤6-bit verify as q_multimodal_audio_pairs.
    */
  private val audioIndexOracle = {
    val s = "('0x'||substr(md5(id || '-' || i),1,2))::BIGINT - 128"
    val sN = "('0x'||substr(md5(id || '-n-' || i),1,2))::BIGINT - 128"
    s"""WITH ids AS (SELECT event_id AS id FROM events
                     WHERE event_id < 300),
         ref AS (SELECT id, i, $s AS s, 'r' AS side
                 FROM ids CROSS JOIN range(0,256) t(i)),
         twin AS (SELECT id + 500000 AS id, i,
                         CASE WHEN i < 4 THEN $s + 64 ELSE $s END AS s,
                         'b' AS side
                  FROM ids CROSS JOIN range(0,256) t(i)),
         fresh AS (SELECT id + 700000 AS id, i, $sN AS s, 'b' AS side
                   FROM ids CROSS JOIN range(0,256) t(i)),
         allsmp AS (SELECT * FROM ref UNION ALL SELECT * FROM twin
                    UNION ALL SELECT * FROM fresh),
         env AS (SELECT id, side, CAST(i * 64 // 256 AS INT) AS w,
                        sum(abs(s)) AS e
                 FROM allsmp GROUP BY 1, 2, 3),
         tot AS (SELECT id, sum(e) AS t FROM env GROUP BY 1),
         ah AS (SELECT env.id, side,
                  CAST(sum(CASE WHEN e * 64 <= t THEN 0::BIGINT
                           WHEN w = 63 THEN -9223372036854775807 - 1
                           ELSE (1::BIGINT << w) END) AS BIGINT) AS ahash
                FROM env JOIN tot USING (id) GROUP BY 1, 2),
         bands AS (SELECT id, side, ahash,
                     unnest(list_transform(range(0,7), i ->
                       i::VARCHAR || ':' ||
                       ((ahash >> CAST(i*64//7 AS INT)) &
                        ((1::BIGINT <<
                          CAST((i+1)*64//7 - i*64//7 AS INT)) - 1))
                         ::VARCHAR)) AS band
                   FROM ah),
         hit AS (SELECT DISTINCT nb.id
                 FROM (SELECT * FROM bands WHERE side = 'b') nb
                 JOIN (SELECT * FROM bands WHERE side = 'r') rb
                   ON nb.band = rb.band
                 WHERE bit_count(xor(nb.ahash, rb.ahash)) <= 6)
        SELECT b.id AS event_id
        FROM (SELECT DISTINCT id FROM allsmp WHERE side = 'b') b
        LEFT JOIN hit USING (id) WHERE hit.id IS NULL"""
  }

  /** The image-index LOOP driven through the gate: base index over the
    * md5-cell corpus, generation-1 batch (bumped twins + a fresh `-n`
    * family) probed and its ADMITTED survivors folded in with
    * `updateAHashIndex`, then the query probes generation 2 — bumped
    * twins of the `-n` family (they can only drop against the APPENDED
    * signatures) plus a new `-m` family. The oracle replays both
    * generations: gen-1 survivors are COMPUTED (not assumed), and the
    * gen-2 reference signature set is base ∪ survivors.
    */
  private val ahashLoopOracle = {
    def lum(key: String) =
      s"('0x'||substr(md5(doc_id || '$key' || c),1,2))::BIGINT"
    def fam(name: String, offset: Long, expr: String) =
      s"""$name AS (SELECT doc_id + $offset AS doc_id,
            list_transform(range(0,64), c -> $expr) AS lum FROM ids)"""
    val base = lum("-")
    val freshN = lum("-n-")
    val newM = lum("-m-")
    s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 1000),
         ${fam("r", 0L, base)},
         ${fam("b1t", 500000L,
      s"CASE WHEN c = 0 THEN ($base + 16) % 256 ELSE $base END")},
         ${fam("b1f", 700000L, freshN)},
         ${fam("b2t", 800000L,
      s"CASE WHEN c = 0 THEN ($freshN + 16) % 256 ELSE $freshN END")},
         ${fam("b2m", 900000L, newM)},
         lums AS (SELECT doc_id, lum, 'r' AS fam FROM r
                  UNION ALL SELECT doc_id, lum, 'b1' AS fam FROM b1t
                  UNION ALL SELECT doc_id, lum, 'b1' AS fam FROM b1f
                  UNION ALL SELECT doc_id, lum, 'b2' AS fam FROM b2t
                  UNION ALL SELECT doc_id, lum, 'b2' AS fam FROM b2m),
         m AS (SELECT doc_id, fam, lum,
                      list_sum(lum)::DOUBLE / 64 AS mean FROM lums),
         ah AS (SELECT doc_id, fam,
                  CAST(list_sum(list_transform(range(0,64), c ->
                    CASE WHEN lum[CAST(c+1 AS INT)] <= mean THEN 0::BIGINT
                         WHEN c = 63 THEN -9223372036854775807 - 1
                         ELSE (1::BIGINT << CAST(c AS INT)) END))
                    AS BIGINT) AS ahash
                FROM m),
         bands AS (SELECT doc_id, fam, ahash,
                     unnest(list_transform(range(0,7), i ->
                       i::VARCHAR || ':' ||
                       ((ahash >> CAST(i*64//7 AS INT)) &
                        ((1::BIGINT <<
                          CAST((i+1)*64//7 - i*64//7 AS INT)) - 1))
                         ::VARCHAR)) AS band
                   FROM ah),
         g1hit AS (SELECT DISTINCT nb.doc_id
                   FROM (SELECT * FROM bands WHERE fam = 'b1') nb
                   JOIN (SELECT * FROM bands WHERE fam = 'r') rb
                     ON nb.band = rb.band
                   WHERE bit_count(xor(nb.ahash, rb.ahash)) <= 6),
         ref2 AS (SELECT * FROM bands WHERE fam = 'r'
                  UNION ALL
                  SELECT * FROM bands WHERE fam = 'b1'
                    AND doc_id NOT IN (SELECT doc_id FROM g1hit)),
         g2hit AS (SELECT DISTINCT nb.doc_id
                   FROM (SELECT * FROM bands WHERE fam = 'b2') nb
                   JOIN ref2 rb ON nb.band = rb.band
                   WHERE bit_count(xor(nb.ahash, rb.ahash)) <= 6)
        SELECT b.doc_id
        FROM (SELECT DISTINCT doc_id FROM ah WHERE fam = 'b2') b
        LEFT JOIN g2hit USING (doc_id) WHERE g2hit.doc_id IS NULL"""
  }

  /** `TextAnalysis.gopherRules` replayed in DuckDB: the same
    * integer-cross-multiplied thresholds over the same token/line
    * splits — the point of spelling every ratio as an integer compare
    * is that this replay is bit-for-bit, no float in sight.
    */
  private val gopherOracle =
    """WITH t0 AS (SELECT doc_id, text,
                     list_filter(regexp_split_to_array(lower(text),
                       '\s+'), x -> x <> '') AS t,
                     string_split(text, chr(10)) AS l
                   FROM documents),
        m AS (SELECT doc_id,
                len(t) AS nw,
                len(l) AS nl,
                coalesce(list_sum(list_transform(t, x -> len(x))), 0)
                  AS wchars,
                len(text) - len(replace(text, '#', '')) AS hashes,
                (len(text) - len(replace(text, '...', ''))) // 3 AS ells,
                len(list_filter(l, x -> starts_with(ltrim(x), '•')
                   OR starts_with(ltrim(x), '-')
                   OR starts_with(ltrim(x), '*'))) AS bullets,
                len(list_filter(l, x -> ends_with(rtrim(x), '...')
                   OR ends_with(rtrim(x), '…'))) AS elllines,
                len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]')))
                  AS alphaw,
                len(list_filter(
                  ['the','be','to','of','and','that','have','with'],
                  s -> list_contains(t, s))) AS stops
              FROM t0)
       SELECT doc_id,
         (nw >= 50 AND nw <= 100000) AS word_count_ok,
         (wchars >= nw*3 AND wchars <= nw*10) AS mean_word_len_ok,
         (hashes * 10 <= nw AND ells * 10 <= nw) AS symbol_ratio_ok,
         (bullets * 10 <= nl * 9) AS bullet_lines_ok,
         (elllines * 10 <= nl * 3) AS ellipsis_lines_ok,
         (alphaw * 5 >= nw * 4) AS alpha_words_ok,
         (stops >= 2) AS stopword_ok,
         ((nw >= 50 AND nw <= 100000)
          AND (wchars >= nw*3 AND wchars <= nw*10)
          AND (hashes * 10 <= nw AND ells * 10 <= nw)
          AND (bullets * 10 <= nl * 9)
          AND (elllines * 10 <= nl * 3)
          AND (alphaw * 5 >= nw * 4)
          AND (stops >= 2)) AS gopher_keep
       FROM m"""

  /** The DSIR weight CTE chain (shared by the weights and select
    * oracles): hashed unigram+bigram instances, Laplace-smoothed
    * 1024-bucket models (target = doc_id % 7 = 0 slice, source = the
    * whole corpus), per-doc instance-weighted log-ratio sum, trunc6.
    */
  private val dsirCtes =
    """grams AS (
         SELECT doc_id, unnest(list_concat(t,
           list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])))
             AS g
         FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
               FROM documents)),
       gb AS (SELECT doc_id,
                ('0x'||substr(md5(g),1,8))::BIGINT % 1024 AS b
              FROM grams),
       tc AS (SELECT b, CAST(count(*) AS DOUBLE) AS tc FROM gb
              WHERE doc_id % 7 = 0 GROUP BY 1),
       sc AS (SELECT b, CAST(count(*) AS DOUBLE) AS sc FROM gb
              GROUP BY 1),
       tt AS (SELECT coalesce(sum(tc), 0) AS tT FROM tc),
       st AS (SELECT coalesce(sum(sc), 0) AS sT FROM sc),
       db AS (SELECT doc_id, b, count(*) AS n FROM gb GROUP BY 1, 2),
       wgt AS (SELECT db.doc_id,
                 CAST(sum(n) AS BIGINT) AS n_grams,
                 CAST(trunc(sum(n *
                     (ln((coalesce(tc,0)+1)/(tT+1024))
                      - ln((coalesce(sc,0)+1)/(sT+1024)))) * 1000000)
                   AS BIGINT) / 1000000.0 AS dsir_logw
               FROM db LEFT JOIN tc USING (b) LEFT JOIN sc USING (b)
               CROSS JOIN tt CROSS JOIN st GROUP BY 1)"""

  private val dsirWeightsOracle =
    s"""WITH $dsirCtes
        SELECT d.doc_id, coalesce(w.n_grams, 0) AS n_grams, w.dsir_logw
        FROM documents d LEFT JOIN wgt w USING (doc_id)"""

  private val dsirSelectOracle =
    s"""WITH $dsirCtes,
         sel AS (SELECT doc_id,
                   CAST(trunc((dsir_logw - ln(-ln(
                     ((('0x'||substr(md5('dsir' ||
                         CAST(doc_id AS VARCHAR)),1,8))::BIGINT + 0.5)
                       / 4294967296.0)))) * 1000000) AS BIGINT)
                     / 1000000.0 AS dsir_key
                 FROM wgt WHERE dsir_logw IS NOT NULL)
        SELECT doc_id, dsir_key FROM sel
        ORDER BY dsir_key DESC, doc_id LIMIT 100"""

  /** Deterministic multi-line PAGE fixture for the quality-filter
    * families: documents are single-line and punctuation-free, so the
    * line/paragraph/sentence rules would all fire vacuously on them.
    * Each doc gets 8-15 md5-picked template lines (good prose, a
    * too-short line, a JavaScript notice, clickbait, 5×-repeated
    * spam, a question, an identical boilerplate footer, a `{`-laden
    * config line), a paragraph break after every 3rd line, and a
    * 1-in-12 trailing "lorem ipsum" line — every branch of both the
    * Gopher repetition rules and the C4 rules fires on some docs.
    */
  private[queries] def withPage(df: DataFrame): DataFrame = {
    val id = col("doc_id")
    def pickI(i: Column, salt: String, n: Int): Column =
      conv(substring(md5(concat(id.cast("string"), lit(salt),
        i.cast("string"))), 1, 4), 16, 10).cast("long") % n
    def lineOf(i: Column): Column = {
      val t = pickI(i, "-l", 8)
      val j = pickI(i, "-j", 90).cast("string")
      when(t === 0, concat(
        lit("The quick brown fox jumps over the lazy dog number "), j,
        lit(".")))
        .when(t === 1, lit("short line"))
        .when(t === 2,
          lit("Please enable JavaScript to view this content today."))
        .when(t === 3, concat(
          lit("click here to read all about special offer "), j,
          lit("!")))
        .when(t === 4, concat(
          lit("buy now buy now buy now buy now item "), j, lit(".")))
        .when(t === 5, concat(
          lit("is this the sample text number "), j,
          lit(" you wanted to see today?")))
        .when(t === 6,
          lit("repeated boilerplate footer line for every page here."))
        .otherwise(concat(
          lit("var config = { \"mode\": full, \"page\": "), j,
          lit(" };")))
    }
    val nLines = (lit(8) + Round11Queries.pick("-L", 8)).cast("int")
    val lines = transform(sequence(lit(0), nLines - 1), i =>
      when(i % 3 === 2, concat(lineOf(i), lit("\n")))
        .otherwise(lineOf(i)))
    val page0 = array_join(lines, "\n")
    val page = when(Round11Queries.pick("-lo", 12) === 0,
      concat(page0, lit("\nlorem ipsum dolor sit amet.")))
      .otherwise(page0)
    df.select(id, page.as("page"))
  }

  /** DuckDB replay of [[withPage]] — same md5 picks, templates,
    * paragraph breaks, and lorem tail, bit-for-bit.
    */
  private[queries] val pageCte: String = {
    def pickSql(salt: String, n: Int) =
      s"(('0x'||substr(md5(doc_id::VARCHAR || '$salt'),1,4))" +
        s"::BIGINT % $n)"
    def pickISql(salt: String, n: Int) =
      s"(('0x'||substr(md5(doc_id::VARCHAR || '$salt' || i::VARCHAR)" +
        s",1,4))::BIGINT % $n)"
    val j = s"${pickISql("-j", 90)}::VARCHAR"
    val line =
      s"""CASE ${pickISql("-l", 8)}
           WHEN 0 THEN 'The quick brown fox jumps over the lazy dog number ' || $j || '.'
           WHEN 1 THEN 'short line'
           WHEN 2 THEN 'Please enable JavaScript to view this content today.'
           WHEN 3 THEN 'click here to read all about special offer ' || $j || '!'
           WHEN 4 THEN 'buy now buy now buy now buy now item ' || $j || '.'
           WHEN 5 THEN 'is this the sample text number ' || $j || ' you wanted to see today?'
           WHEN 6 THEN 'repeated boilerplate footer line for every page here.'
           ELSE 'var config = { "mode": full, "page": ' || $j || ' };'
         END"""
    s"""pages AS (
         SELECT doc_id,
           CASE WHEN ${pickSql("-lo", 12)} = 0
                THEN p0 || chr(10) || 'lorem ipsum dolor sit amet.'
                ELSE p0 END AS page
         FROM (
           SELECT doc_id,
             array_to_string(
               list_transform(range(0, 8 + ${pickSql("-L", 8)}),
                 i -> CASE WHEN i % 3 = 2 THEN ($line) || chr(10)
                           ELSE ($line) END), chr(10)) AS p0
           FROM documents))"""
  }

  /** `TextAnalysis.gopherRepetitionRules` replayed in DuckDB: the same
    * non-empty line/paragraph duplicate stats, the same exploded
    * (doc, n, gram) counts for the top-gram chars, and the same
    * distinct-position coverage for the overlap-safe duplicate n-gram
    * chars — all integer cross-multiplications.
    */
  private val repConds = Seq(
    "dup_line_frac_ok" -> "(nl - dl) * 10 <= nl * 3",
    "dup_line_char_ok" -> "(lchars - dlchars) * 5 <= lchars",
    "dup_para_frac_ok" -> "(np - dp) * 10 <= np * 3",
    "dup_para_char_ok" -> "(pchars - dpchars) * 5 <= pchars") ++
    Seq(2 -> 20, 3 -> 18, 4 -> 16).map { case (n, thr) =>
      s"top_${n}gram_ok" ->
        s"coalesce(top$n, 0) * 100 <= wchars * $thr"
    } ++
    Seq(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
      .map { case (n, thr) =>
        s"dup_${n}gram_ok" ->
          s"coalesce(dup$n, 0) * 100 <= wchars * $thr"
      }

  /** The repetition-rule CTE chain over `src(doc_id, <textCol>)`, CTE
    * names prefixed with `p` so two chains can coexist in one oracle;
    * ends with `${p}rep` exposing doc_id, the 13 per-rule flags, and
    * rep_keep.
    */
  private[queries] def repChain(src: String, textCol: String, p: String)
      : String = {
    val flags = repConds.map { case (nm, c) => s"$c AS $nm" }
      .mkString(",\n          ")
    val keep = repConds.map(c => s"(${c._2})")
      .mkString("\n           AND ")
    s"""${p}t0 AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(lower($textCol),
                    '\\s+'), x -> x <> '') AS w,
                  list_filter(string_split($textCol, chr(10)),
                    x -> x <> '') AS l,
                  list_filter(string_split($textCol, chr(10)||chr(10)),
                    x -> x <> '') AS p
                FROM $src),
         ${p}pr AS (SELECT doc_id,
                  coalesce(list_sum(list_transform(w, x -> len(x))), 0)
                    AS wchars,
                  len(l) AS nl, len(list_distinct(l)) AS dl,
                  coalesce(list_sum(list_transform(l, x -> len(x))), 0)
                    AS lchars,
                  coalesce(list_sum(list_transform(list_distinct(l),
                    x -> len(x))), 0) AS dlchars,
                  len(p) AS np, len(list_distinct(p)) AS dp,
                  coalesce(list_sum(list_transform(p, x -> len(x))), 0)
                    AS pchars,
                  coalesce(list_sum(list_transform(list_distinct(p),
                    x -> len(x))), 0) AS dpchars
                FROM ${p}t0),
         ${p}ns AS (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n),
         ${p}occ0 AS (SELECT doc_id, n, w,
                    unnest(range(1, len(w) - n + 2)) AS s
                  FROM ${p}t0, ${p}ns WHERE len(w) >= n),
         ${p}occ AS (SELECT doc_id, n, s,
                   array_to_string(w[s:s+n-1], ' ') AS g
                 FROM ${p}occ0),
         ${p}cnt AS (SELECT doc_id, n, g, count(*) AS c FROM ${p}occ
                 GROUP BY 1, 2, 3),
         -- argmax by count (ties: lexicographically greatest gram),
         -- THEN that winner's char coverage — matches the Spark
         -- struct-max (count, gram) ordering exactly
         ${p}mx AS (SELECT doc_id, n, max(c) AS mc FROM ${p}cnt
                  WHERE n <= 4 GROUP BY 1, 2),
         ${p}tg AS (SELECT c.doc_id, c.n, m.mc, max(c.g) AS g
                  FROM ${p}cnt c JOIN ${p}mx m
                    ON c.doc_id = m.doc_id AND c.n = m.n AND c.c = m.mc
                  GROUP BY 1, 2, 3),
         ${p}tops AS (SELECT doc_id,
                    max(CASE WHEN n = 2 THEN mc * (len(g)-1) END) AS top2,
                    max(CASE WHEN n = 3 THEN mc * (len(g)-2) END) AS top3,
                    max(CASE WHEN n = 4 THEN mc * (len(g)-3) END) AS top4
                  FROM ${p}tg GROUP BY 1),
         ${p}cov0 AS (SELECT doc_id, n, unnest(range(s, s + n)) AS pos
                  FROM ${p}occ JOIN ${p}cnt USING (doc_id, n, g)
                  WHERE n >= 5 AND c > 1),
         ${p}cov AS (SELECT DISTINCT doc_id, n, pos FROM ${p}cov0),
         ${p}dup AS (SELECT ${p}cov.doc_id,
                   sum(CASE WHEN ${p}cov.n = 5
                       THEN len(${p}t0.w[${p}cov.pos]) END) AS dup5,
                   sum(CASE WHEN ${p}cov.n = 6
                       THEN len(${p}t0.w[${p}cov.pos]) END) AS dup6,
                   sum(CASE WHEN ${p}cov.n = 7
                       THEN len(${p}t0.w[${p}cov.pos]) END) AS dup7,
                   sum(CASE WHEN ${p}cov.n = 8
                       THEN len(${p}t0.w[${p}cov.pos]) END) AS dup8,
                   sum(CASE WHEN ${p}cov.n = 9
                       THEN len(${p}t0.w[${p}cov.pos]) END) AS dup9,
                   sum(CASE WHEN ${p}cov.n = 10
                       THEN len(${p}t0.w[${p}cov.pos]) END) AS dup10
                 FROM ${p}cov JOIN ${p}t0 USING (doc_id) GROUP BY 1),
         ${p}rep AS (SELECT doc_id,
          $flags,
          ($keep) AS rep_keep
        FROM ${p}pr LEFT JOIN ${p}tops USING (doc_id)
                LEFT JOIN ${p}dup USING (doc_id))"""
  }

  private val repOracle = {
    val flagCols = repConds.map(_._1).mkString(", ")
    s"""WITH $pageCte, ${repChain("pages", "page", "")}
        SELECT doc_id, $flagCols, rep_keep FROM rep"""
  }

  /** `TextAnalysis.c4Rules` replayed in DuckDB: the same line filter
    * (terminal punctuation, ≥ 3 words, no "javascript"), the rejoined
    * cleaned text compared as a STRING (the strongest possible check),
    * and the same page verdicts with ['offer'] as the fixture
    * blocklist.
    */
  private[queries] val c4Sentences =
    "len(c4_text) - len(translate(c4_text, '.!?', ''))"
  private[queries] val c4KeepParts = Seq(
    s"($c4Sentences) >= 5",
    "NOT contains(lower(page), 'lorem ipsum')",
    "NOT contains(page, '{')",
    "NOT list_has_any(string_split(lower(page), ' '), ['offer'])")

  /** The C4 line-filter CTE chain over `pages`: ends with `c` exposing
    * (doc_id, page, c4_text, n_kept_lines).
    */
  private[queries] def c4CtesOver(src: String): String =
    s"""k AS (SELECT doc_id, page,
                 list_filter(string_split(page, chr(10)), l ->
                   regexp_matches(trim(l), '[.!?"]$$')
                   AND len(list_filter(string_split(trim(l), ' '),
                     t -> t <> '')) >= 3
                   AND NOT contains(lower(l), 'javascript')) AS kept
               FROM $src),
         c AS (SELECT doc_id, page,
                 -- DuckDB's array_to_string is NULL on an empty list;
                 -- Spark's array_join is '' — align on ''
                 coalesce(array_to_string(kept, chr(10)), '') AS c4_text,
                 len(kept) AS n_kept_lines
               FROM k)"""

  private val c4Ctes = c4CtesOver("pages")

  private val c4Oracle =
    s"""WITH $pageCte, $c4Ctes
        SELECT doc_id, c4_text, n_kept_lines,
          $c4Sentences AS n_sentences,
          ${c4KeepParts(0)} AS sentence_count_ok,
          ${c4KeepParts(1)} AS lorem_ok,
          ${c4KeepParts(2)} AS brace_ok,
          ${c4KeepParts(3)} AS badwords_ok,
          (${c4KeepParts.map(p => s"($p)").mkString(" AND ")}) AS c4_keep
        FROM c"""

  /** The Gopher quality-rule keep over `src(doc_id, <textCol>)` — the
    * q_gopher_rules conjunction, CTE-prefixed; ends with `${p}gk`
    * exposing (doc_id, gopher_keep).
    */
  private[queries] def gopherKeepChain(src: String, textCol: String, p: String)
      : String =
    s"""${p}g0 AS (SELECT doc_id, $textCol AS text,
            list_filter(regexp_split_to_array(lower($textCol),
              '\\s+'), x -> x <> '') AS t,
            string_split($textCol, chr(10)) AS l
          FROM $src),
        ${p}gm AS (SELECT doc_id,
            len(t) AS nw, len(l) AS nl,
            coalesce(list_sum(list_transform(t, x -> len(x))), 0)
              AS wchars,
            len(text) - len(replace(text, '#', '')) AS hashes,
            (len(text) - len(replace(text, '...', ''))) // 3 AS ells,
            len(list_filter(l, x -> starts_with(ltrim(x), '•')
               OR starts_with(ltrim(x), '-')
               OR starts_with(ltrim(x), '*'))) AS bullets,
            len(list_filter(l, x -> ends_with(rtrim(x), '...')
               OR ends_with(rtrim(x), '…'))) AS elllines,
            len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]')))
              AS alphaw,
            len(list_filter(
              ['the','be','to','of','and','that','have','with'],
              s -> list_contains(t, s))) AS stops
          FROM ${p}g0),
        ${p}gk AS (SELECT doc_id,
            ((nw >= 50 AND nw <= 100000)
             AND (wchars >= nw*3 AND wchars <= nw*10)
             AND ((hashes + ells) * 10 <= nw)
             AND (bullets * 10 <= nl * 9)
             AND (elllines * 10 <= nl * 3)
             AND (alphaw * 5 >= nw * 4)
             AND (stops >= 2)) AS gopher_keep
          FROM ${p}gm)"""

  /** `Curation.qualityPipeline` replayed end-to-end: the C4 clean
    * feeds BOTH Gopher rule families over the CLEANED text, and the
    * final keep is the three-way conjunction — the full
    * RefinedWeb-style cascade in one deterministic replay.
    */
  private val pipelineOracle =
    s"""WITH $pageCte, $c4Ctes,
         cleaned AS (SELECT doc_id, c4_text,
             (${c4KeepParts.map(p => s"($p)").mkString(" AND ")})
               AS c4_keep
           FROM c),
         ${gopherKeepChain("cleaned", "c4_text", "q_")},
         ${repChain("cleaned", "c4_text", "r_")}
        SELECT cl.doc_id, cl.c4_text AS text_clean, cl.c4_keep,
          g.gopher_keep, r.rep_keep,
          (cl.c4_keep AND g.gopher_keep AND r.rep_keep) AS keep
        FROM cleaned cl JOIN q_gk g USING (doc_id)
             JOIN r_rep r USING (doc_id)"""

  /** `TextAnalysis.vocabulary` replayed in DuckDB — same tokenization,
    * same (tf DESC, term) tie-break at the cut so the top-k SET is
    * deterministic.
    */
  private val vocabOracle =
    """WITH tk AS (SELECT doc_id,
           unnest(list_filter(string_split(lower(text), ' '),
             t -> t <> '')) AS term
         FROM documents)
       SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
       FROM tk GROUP BY 1 ORDER BY tf DESC, term LIMIT 150"""

  /** Shared CTE chain: hashed-TF-IDF sparse rows over `documents`
    * (h32 mod 256 buckets, tf · ln((N+1)/(df+1)) trunc6) — the exact
    * mirror of `TextAnalysis.tfidfSparse(dim = 256)`.
    */
  private val tfidfCtes =
    """tk AS (SELECT doc_id,
          unnest(list_filter(string_split(lower(text), ' '),
            t -> t <> '')) AS term
        FROM documents),
       tb AS (SELECT doc_id,
                ('0x'||substr(md5(term),1,8))::BIGINT % 256 AS bucket
              FROM tk),
       tfq AS (SELECT doc_id, bucket, count(*) AS tf FROM tb
               GROUP BY 1, 2),
       nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
              FROM documents),
       dfr AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS df FROM tfq
               GROUP BY 1),
       sp AS (SELECT tfq.doc_id, tfq.bucket,
                CAST(trunc(tfq.tf * ln((n+1)/(df+1)) * 1000000)
                  AS BIGINT) / 1000000.0 AS tfidf
              FROM tfq JOIN dfr USING (bucket) CROSS JOIN nn)"""

  private val tfidfOracle =
    s"""WITH $tfidfCtes
        SELECT doc_id, bucket, tfidf FROM sp"""

  /** The tfidf → dense-float-vector → brute cosine top-k composition
    * replayed end-to-end: the dense vector quantizes each tfidf
    * through FLOAT (mirroring the engine's Array[Float] embedding
    * column), and the dot products run the same sequential i = 1…256
    * double sum as the engine's dot_product expression, so the cosine
    * replays bit-for-bit before its 6-decimal round.
    */
  private val tfidfAnnOracle = {
    def dot256(a: String, b: String) =
      s"list_reduce(list_transform(range(1,257), i -> $a[i]*$b[i]), " +
        "(x,y) -> x+y)"
    s"""WITH $tfidfCtes,
         dm AS (SELECT doc_id, map_from_entries(
                  list(struct_pack(k := bucket, v := tfidf))) AS m
                FROM sp GROUP BY 1),
         dv AS (SELECT doc_id,
                  list_transform(range(0, 256), b ->
                    coalesce(map_extract(m, b)[1], 0)::FLOAT::DOUBLE)
                    AS e0
                FROM dm),
         v AS (SELECT doc_id,
                 list_transform(e0, x ->
                   x / sqrt(${dot256("e0", "e0")})) AS e
               FROM dv),
         q AS (SELECT doc_id AS query_id, e AS vq FROM v
               WHERE doc_id < 10),
         scored AS (SELECT query_id, v.doc_id AS nb_id,
                      round(${dot256("vq", "v.e")}, 6) AS cos
                    FROM q JOIN v ON query_id <> v.doc_id),
         ranked AS (SELECT *, row_number() OVER
                      (PARTITION BY query_id
                       ORDER BY cos DESC, nb_id) AS rank
                    FROM scored)
        SELECT query_id, CAST(rank AS INT) AS rank, nb_id, cos
        FROM ranked WHERE rank <= 5"""
  }

  /** `Curation.perplexityBuckets` replayed: the q_lm_score CTE chain
    * (ref = doc_id < 250, scored = the rest) feeding the quantized
    * histogram, the cumulative-count tercile boundaries (integer
    * `cum·3 ≥ tot` math) and the head/middle/tail assignment, with a
    * synthetic 3-way group standing in for the language column.
    */
  private val pplOracle =
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
                    FROM p GROUP BY 1),
            s AS (SELECT sc.doc_id,
                    'g' || (sc.doc_id % 3)::VARCHAR AS grp,
                    coalesce(a.n_bigrams, 0) AS n_bigrams, a.lm_score,
                    CASE WHEN a.lm_score IS NOT NULL
                         THEN trunc(a.lm_score / 0.01)::BIGINT END AS qb
                  FROM sc LEFT JOIN agg a USING (doc_id)),
            hist AS (SELECT grp, qb, count(*) AS c FROM s
                     WHERE qb IS NOT NULL GROUP BY 1, 2),
            cum AS (SELECT grp, qb,
                      sum(c) OVER (PARTITION BY grp ORDER BY qb) AS cum
                    FROM hist),
            tot AS (SELECT grp, sum(c) AS tot FROM hist GROUP BY 1),
            b AS (SELECT cum.grp,
                    min(CASE WHEN cum*3 >= tot THEN qb END) AS headmax,
                    min(CASE WHEN cum*3 >= tot*2 THEN qb END) AS midmax
                  FROM cum JOIN tot USING (grp) GROUP BY 1)
       SELECT s.doc_id, s.grp, s.n_bigrams, s.lm_score,
         CASE WHEN s.lm_score IS NULL THEN 'tail'
              WHEN s.qb <= b.headmax THEN 'head'
              WHEN s.qb <= b.midmax THEN 'middle'
              ELSE 'tail' END AS ppl_bucket
       FROM s LEFT JOIN b USING (grp)"""

  /** `Dedup.exactSubstringDedup(minTokens = 8)` over the page fixture,
    * replayed: same md5-two-halves window keys, same duplicated-key
    * set, same distinct-position coverage, same single-space token
    * reassembly. The repeated template lines across pages are exactly
    * the cross-document duplication the operator exists to strip.
    */
  private val exactSubstrOracle =
    s"""WITH $pageCte,
         t0 AS (SELECT doc_id,
                  list_filter(string_split(page, ' '), t -> t <> '')
                    AS w
                FROM pages),
         occ0 AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS s
                  FROM t0 WHERE len(w) >= 8),
         och AS (SELECT doc_id, s,
                   ('0x'||substr(m,1,8))::BIGINT AS hlo,
                   ('0x'||substr(m,9,8))::BIGINT AS hhi
                 FROM (SELECT doc_id, s,
                         md5(array_to_string(w[s:s+7], ' ')) AS m
                       FROM occ0)),
         dup AS (SELECT hlo, hhi FROM och GROUP BY 1, 2
                 HAVING count(*) > 1),
         cov AS (SELECT DISTINCT doc_id, pos FROM
                   (SELECT och.doc_id, unnest(range(s, s + 8)) AS pos
                    FROM och JOIN dup USING (hlo, hhi))),
         tp AS (SELECT doc_id, pos, w[pos] AS tok FROM
                  (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos
                   FROM t0)),
         mk AS (SELECT tp.doc_id, tp.pos, tp.tok,
                  cov.pos IS NOT NULL AS dup
                FROM tp LEFT JOIN cov USING (doc_id, pos)),
         res AS (SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dropped_tokens,
                   coalesce(array_to_string(
                     list(tok ORDER BY pos) FILTER (WHERE NOT dup),
                     ' '), '') AS text_clean
                 FROM mk GROUP BY 1)
        SELECT p.doc_id, coalesce(r.n_tokens, 0) AS n_tokens,
          coalesce(r.n_dropped_tokens, 0) AS n_dropped_tokens,
          coalesce(r.text_clean, '') AS text_clean
        FROM pages p LEFT JOIN res r USING (doc_id)"""

  /** `Bpe.bpeTrain` replayed step by step: the iterative merge loop
    * unrolls into one CTE block per merge — pair counts from the
    * current spaced rendering, the (count DESC, l, r) winner, and the
    * replace-all merge application whose left-to-right non-overlap
    * contract is identical in both engines. `bpeSteps` merges.
    */
  private val bpeSteps = 6

  private def bpeStepCtes(n: Int): String =
    (1 to n).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (SELECT pr.l AS l, pr.r AS r, sum(freq) AS c
              FROM (SELECT freq,
                      unnest(list_transform(range(1, len(sym)),
                        j -> {'l': sym[j], 'r': sym[j+1]})) AS pr
                    FROM (SELECT freq,
                            list_filter(string_split(s, ' '),
                              x -> x <> '') AS sym
                          FROM $prev)
                    WHERE len(sym) >= 2)
              GROUP BY 1, 2),
         b$i AS (SELECT l, r FROM p$i ORDER BY c DESC, l, r LIMIT 1),
         w$i AS (SELECT replace($prev.s,
                    ' '||b$i.l||'  '||b$i.r||' ',
                    ' '||b$i.l||b$i.r||' ') AS s, freq
                 FROM $prev CROSS JOIN b$i)"""
    }.mkString(",\n         ")

  private val bpeBaseCte =
    """w0 AS (SELECT array_to_string(list_transform(
               range(1, len(word) + 1), i -> ' '||word[i]||' '), '')
               AS s,
             freq
           FROM (SELECT word, count(*) AS freq FROM
                  (SELECT unnest(list_filter(
                     string_split(lower(text), ' '), t -> t <> ''))
                     AS word
                   FROM documents)
                 GROUP BY 1))"""

  private val bpeTrainOracle =
    s"""WITH $bpeBaseCte,
         ${bpeStepCtes(bpeSteps)}
        ${(1 to bpeSteps).map(i =>
           s"SELECT $i AS rank, l AS lhs, r AS rhs FROM b$i")
          .mkString("\n        UNION ALL ")}"""

  private val bpeEncodeOracle = {
    val chain = (1 to bpeSteps).map { i =>
      s"""e$i AS (SELECT doc_id, replace(e${i - 1}.s,
              ' '||b$i.l||'  '||b$i.r||' ',
              ' '||b$i.l||b$i.r||' ') AS s
            FROM e${i - 1} CROSS JOIN b$i)"""
    }.mkString(",\n         ")
    s"""WITH $bpeBaseCte,
         ${bpeStepCtes(bpeSteps)},
         e0 AS (SELECT doc_id, array_to_string(list_transform(
                  range(1, len(word) + 1), i -> ' '||word[i]||' '), '')
                  AS s
                FROM (SELECT doc_id, unnest(list_filter(
                        string_split(lower(text), ' '), t -> t <> ''))
                        AS word
                      FROM documents)),
         $chain,
         enc AS (SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(len(list_filter(string_split(s, ' '),
                     x -> x <> ''))) AS BIGINT) AS n_bpe_pieces
                 FROM e$bpeSteps GROUP BY 1)
        SELECT d.doc_id, coalesce(enc.n_tokens, 0) AS n_tokens,
          coalesce(enc.n_bpe_pieces, 0) AS n_bpe_pieces
        FROM documents d LEFT JOIN enc USING (doc_id)"""
  }

  /** `Curation.domainQualityStats` replayed: the url→domain chain and
    * the Gopher keep chain over the SAME fixture rows, one aggregate.
    * Null domains group too — junk provenance is a dashboard signal.
    */
  private val domainQualityOracle =
    s"""WITH $urlCte,
         ${gopherKeepChain("urls", "text", "dq_")},
         dom AS (SELECT doc_id, ${domainSql("host")} AS domain
                 FROM (SELECT doc_id, ${hostSql("url")} AS host
                       FROM urls))
        SELECT d.domain, count(*) AS docs,
          CAST(sum(CASE WHEN gk.gopher_keep THEN 1 ELSE 0 END)
            AS BIGINT) AS gopher_kept
        FROM dom d JOIN dq_gk gk USING (doc_id) GROUP BY 1"""

  /** `Curation.tokenHistogram` replayed: the exact binary-digit-count
    * bucket (`len(bin(n)) - 1` — no floating log anywhere, so powers
    * of two bucket identically in every engine).
    */
  private val tokenHistOracle =
    """WITH t AS (SELECT coalesce(len(list_filter(
             string_split(lower(text), ' '), x -> x <> '')), 0) AS n
           FROM documents)
       SELECT CASE WHEN n <= 0 THEN -1 ELSE len(bin(n)) - 1 END
                AS bucket,
         count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
       FROM t GROUP BY 1"""

  /** tokens → shingles → MinHash sig → band CTE chain for one side of
    * the near-dedup loop replay, name-prefixed so the chain can run
    * once per side (`src` must expose doc_id, text).
    */
  private[queries] def sigCtes(name: String, src: String) = {
    import MlQueries.{toksSql, shinglesSql, minhashSql, bandsSql}
    s"""${name}tok AS (SELECT doc_id, $toksSql AS t FROM $src),
        ${name}sh0 AS (SELECT doc_id, $shinglesSql AS sh FROM ${name}tok),
        ${name}sig AS (SELECT doc_id, $minhashSql AS sig FROM ${name}sh0),
        ${name}band AS (SELECT doc_id, unnest($bandsSql) AS band
                        FROM ${name}sig)"""
  }

  /** Band-candidate → shared-shingle → Jaccard ≥ 0.5 drop set of batch
    * `n` against reference `r` (both previously emitted by `sigCtes`)
    * — the `q_dedup_near_incremental` verification replayed with
    * prefixed names so it can run once per generation.
    */
  private def dropCtes(pfx: String, n: String, r: String) =
    s"""${pfx}cand AS (SELECT DISTINCT a.doc_id AS nid, b.doc_id AS rid
                       FROM ${n}band a JOIN ${r}band b USING (band)),
        ${pfx}nsh AS (SELECT doc_id, unnest(sh) AS s FROM ${n}sh0
                      WHERE doc_id IN (SELECT nid FROM ${pfx}cand)),
        ${pfx}rsh AS (SELECT doc_id, unnest(sh) AS s FROM ${r}sh0
                      WHERE doc_id IN (SELECT rid FROM ${pfx}cand)),
        ${pfx}shared AS (SELECT a.doc_id AS nid, b.doc_id AS rid,
                                count(*) AS sc
                         FROM ${pfx}nsh a JOIN ${pfx}rsh b ON a.s = b.s
                         JOIN ${pfx}cand c
                           ON c.nid = a.doc_id AND c.rid = b.doc_id
                         GROUP BY 1, 2),
        ${pfx}drop AS (SELECT DISTINCT s.nid FROM ${pfx}shared s
                       JOIN (SELECT doc_id, len(sh) AS sz
                             FROM ${n}sh0) nz ON nz.doc_id = s.nid
                       JOIN (SELECT doc_id, len(sh) AS sz
                             FROM ${r}sh0) rz ON rz.doc_id = s.rid
                       WHERE round(CAST(s.sc AS DOUBLE)
                               / (nz.sz + rz.sz - s.sc), 6) >= 0.5)"""

  /** The MinHash band-index LOOP driven through the gate: index built
    * over the corpus, generation-1 batch (edited twins + novel docs)
    * probed and its ADMITTED survivors folded in with
    * `updateBandIndex` (their text persisted as the grown reference),
    * then the query probes generation 2 — edited twins of the gen-1
    * NOVEL docs (they can only drop against the appended bands) plus
    * fresh novel docs. The oracle replays BOTH generations: gen-1
    * survivors are computed, and gen 2 runs against corpus ∪
    * survivors.
    */
  private val nearLoopOracle =
    s"""WITH b1src AS (
          SELECT doc_id + 500000 AS doc_id,
                 'edited intro ' || text AS text
          FROM documents WHERE doc_id < 30
          UNION ALL
          SELECT doc_id + 600000 AS doc_id,
                 'novel document number ' || (doc_id + 600000) ||
                 ' entirely unlike anything else in this corpus' AS text
          FROM documents WHERE doc_id < 10),
        b2src AS (
          SELECT doc_id + 700000 AS doc_id,
                 'edited intro novel document number ' ||
                 (doc_id + 600000) ||
                 ' entirely unlike anything else in this corpus' AS text
          FROM documents WHERE doc_id < 10
          UNION ALL
          SELECT doc_id + 800000 AS doc_id,
                 'second wave novel document number ' ||
                 (doc_id + 800000) ||
                 ' sharing nothing with the corpus or the first wave'
                   AS text
          FROM documents WHERE doc_id < 10),
        ${sigCtes("r", "documents")},
        ${sigCtes("b1", "b1src")},
        ${dropCtes("g1", "b1", "r")},
        r2src AS (SELECT doc_id, text FROM documents
                  UNION ALL
                  SELECT doc_id, text FROM b1src
                  WHERE doc_id NOT IN (SELECT nid FROM g1drop)),
        ${sigCtes("r2", "r2src")},
        ${sigCtes("b2", "b2src")},
        ${dropCtes("g2", "b2", "r2")}
        SELECT doc_id, text FROM b2src
        WHERE doc_id NOT IN (SELECT nid FROM g2drop)"""

  /** The Round10 md5-cell PPM image: cell c's gray value is the first
    * digest byte of `{key}-{c}` (with `-n-` for the fresh family), cell
    * 0 bumped by +16 for the twin.
    */
  private def ppm(key: String, bump: Boolean): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    "P3\n8 8\n255\n" + (0 until 64).map { c =>
      md.reset()
      md.update(s"$key-$c".getBytes("US-ASCII"))
      val v0 = md.digest()(0) & 0xff
      val v = if (bump && c == 0) (v0 + 16) % 256 else v0
      s"$v $v $v"
    }.mkString(" ")
  }

  private def packedImages(spark: SparkSession, df: DataFrame): DataFrame =
    Multimodal.pack(df.withColumn("fmt", lit("ppm")), "img", "fmt")

  val all: Seq[Q] = Seq(
    Q.fn("q_domain_psl", pslOracle) { (spark, sf) =>
      Curation.registrableDomainFromTable(
        withUrl(Tables.load(spark, sf, "documents"))
          .withColumn("host", Curation.extractHost(col("url")))
          .select("doc_id", "host"),
        "host", Curation.fixtureSuffixes(spark))
        .select("doc_id", "host", "domain")
    },

    Q.fn("q_url_dedup_incremental", urlIncrOracle) { (spark, sf) =>
      val docs = withUrl(Tables.load(spark, sf, "documents"))
      val dir = Q.stateDir("graft-url-index", sf) { d =>
        Curation.buildUrlIndex(docs.where(col("doc_id") < 250),
          "url", "doc_id", d)
      }
      Curation.dedupUrlsAgainstIndex(spark, dir,
        docs.where(col("doc_id") >= 250), "url", "doc_id")
    },

    Q.fn("q_domain_mix_urls", mixUrlsOracle) { (spark, sf) =>
      Curation.domainMixFromUrls(
        withUrl(Tables.load(spark, sf, "documents"))
          .select("doc_id", "url"),
        "url", "doc_id", temperature = 0.5, outputFraction = 0.5)
        .select("doc_id", "domain")
    },

    Q.fn("q_multimodal_ahash_index", ahashIndexOracle) { (spark, sf) =>
      import spark.implicits._
      val ids = Tables.load(spark, sf, "documents")
        .where(col("doc_id") < 1000)
        .select(col("doc_id")).as[Long]
      val dir = Q.stateDir("graft-ahash-index", sf) { d =>
        val ref = ids.map(id => (id, ppm(s"$id", bump = false)))
          .toDF("doc_id", "img")
        Multimodal.buildAHashIndex(packedImages(spark, ref), "doc_id", d)
      }
      val batch = ids.flatMap { id =>
        Seq((id + 500000L, ppm(s"$id", bump = true)),
          (id + 700000L, ppm(s"$id-n", bump = false)))
      }.toDF("doc_id", "img")
      Multimodal.dedupImagesAgainstAHashIndex(spark, dir,
        packedImages(spark, batch), "doc_id")
        .select("doc_id")
    },

    Q.fn("q_url_index_loop", urlLoopOracle) { (spark, sf) =>
      val docs = withUrl(Tables.load(spark, sf, "documents"))
      val dir = Q.stateDir("graft-url-loop", sf) { d =>
        Curation.buildUrlIndex(docs.where(col("doc_id") < 200),
          "url", "doc_id", d)
        Curation.updateUrlIndex(spark, d,
          docs.where(col("doc_id") >= 200 && col("doc_id") < 350),
          "url", "doc_id")
      }
      Curation.dedupUrlsAgainstIndex(spark, dir,
        docs.where(col("doc_id") >= 350), "url", "doc_id")
    },

    Q.fn("q_multimodal_audio_index", audioIndexOracle) { (spark, sf) =>
      import spark.implicits._
      def md5hex(s: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      def clip(key: String, bumpFirst4: Boolean): Array[Byte] = {
        def s(i: Int): Int =
          Integer.parseInt(md5hex(s"$key-$i").take(2), 16) - 128
        Multimodal.Wav.encode(Multimodal.Wav.Audio(8000, 1,
          Array.tabulate[Short](256)(i =>
            (if (bumpFirst4 && i < 4) s(i) + 64 else s(i)).toShort)))
      }
      def packed(df: DataFrame): DataFrame =
        df.withColumn("media_meta", struct(lit("wav").as("format"),
          octet_length(col("payload")).as("n_bytes")))
      val ids = Tables.load(spark, sf, "events")
        .where(col("event_id") < 300)
        .select(col("event_id")).as[Long]
      val dir = Q.stateDir("graft-audio-index", sf) { d =>
        val ref = ids.map(id => (id, clip(s"$id", bumpFirst4 = false)))
          .toDF("event_id", "payload")
        Multimodal.buildAudioIndex(packed(ref), "event_id", d)
      }
      val batch = ids.flatMap(id => Seq(
        (id + 500000L, clip(s"$id", bumpFirst4 = true)),
        (id + 700000L, clip(s"$id-n", bumpFirst4 = false))))
        .toDF("event_id", "payload")
      Multimodal.dedupAudioAgainstIndex(spark, dir, packed(batch),
        "event_id").select("event_id")
    },

    Q.fn("q_multimodal_ahash_loop", ahashLoopOracle) { (spark, sf) =>
      import spark.implicits._
      val ids = Tables.load(spark, sf, "documents")
        .where(col("doc_id") < 1000)
        .select(col("doc_id")).as[Long]
      val dir = Q.stateDir("graft-ahash-loop", sf) { d =>
        val ref = ids.map(id => (id, ppm(s"$id", bump = false)))
          .toDF("doc_id", "img")
        Multimodal.buildAHashIndex(packedImages(spark, ref), "doc_id", d)
        val b1 = ids.flatMap { id =>
          Seq((id + 500000L, ppm(s"$id", bump = true)),
            (id + 700000L, ppm(s"$id-n", bump = false)))
        }.toDF("doc_id", "img")
        val kept1 = Multimodal.dedupImagesAgainstAHashIndex(spark,
          d, packedImages(spark, b1), "doc_id")
        Multimodal.updateAHashIndex(spark, d, kept1, "doc_id")
      }
      val b2 = ids.flatMap { id =>
        Seq((id + 800000L, ppm(s"$id-n", bump = true)),
          (id + 900000L, ppm(s"$id-m", bump = false)))
      }.toDF("doc_id", "img")
      Multimodal.dedupImagesAgainstAHashIndex(spark, dir,
        packedImages(spark, b2), "doc_id")
        .select("doc_id")
    },

    Q.fn("q_dedup_near_loop", nearLoopOracle) { (spark, sf) =>
      val d = Tables.load(spark, sf, "documents").select("doc_id", "text")
      val twins1 = d.where(col("doc_id") < 30).select(
        (col("doc_id") + 500000L).as("doc_id"),
        concat(lit("edited intro "), col("text")).as("text"))
      val novel1 = d.where(col("doc_id") < 10).select(
        (col("doc_id") + 600000L).as("doc_id"),
        concat(lit("novel document number "), col("doc_id") + 600000L,
          lit(" entirely unlike anything else in this corpus"))
          .as("text"))
      val batch1 = twins1.unionByName(novel1)
      val dir = Q.stateDir("graft-band-loop", sf) { idx =>
        Dedup.buildBandIndex(d, "text", "doc_id", idx)
        val kept1 = Dedup.dedupAgainstNearIndexed(spark, idx,
          batch1, d, "text", "doc_id", minJaccard = 0.5)
        // the grown corpus: a standing pipeline persists admitted rows
        // anyway — the next probe needs their TEXT for verification,
        // the index append alone carries only their bands
        kept1.write.mode("overwrite").parquet(s"$idx/admitted")
        Dedup.updateBandIndex(spark, idx, kept1, "text",
          "doc_id")
      }
      val ref2 = d.unionByName(
        spark.read.parquet(s"$dir/admitted").select("doc_id", "text"))
      val twins2 = novel1.select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("edited intro "), col("text")).as("text"))
      val novel2 = d.where(col("doc_id") < 10).select(
        (col("doc_id") + 800000L).as("doc_id"),
        concat(lit("second wave novel document number "),
          col("doc_id") + 800000L,
          lit(" sharing nothing with the corpus or the first wave"))
          .as("text"))
      Dedup.dedupAgainstNearIndexed(spark, dir,
        twins2.unionByName(novel2), ref2, "text", "doc_id",
        minJaccard = 0.5)
    },

    Q.fn("q_gopher_rules", gopherOracle) { (spark, sf) =>
      graft.ml.TextAnalysis.gopherRules(
        Tables.load(spark, sf, "documents").select("doc_id", "text"),
        "text")
        .select("doc_id", "word_count_ok", "mean_word_len_ok",
          "symbol_ratio_ok", "bullet_lines_ok", "ellipsis_lines_ok",
          "alpha_words_ok", "stopword_ok", "gopher_keep")
    },

    Q.fn("q_dsir_weights", dsirWeightsOracle) { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
        .select("doc_id", "text")
      Curation.dsirWeights(docs, docs.where(col("doc_id") % 7 === 0),
        "text", "doc_id", buckets = 1024)
    },

    Q.fn("q_dsir_select", dsirSelectOracle) { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
        .select("doc_id", "text")
      Curation.dsirSelect(docs, docs.where(col("doc_id") % 7 === 0),
        "text", "doc_id", k = 100, buckets = 1024)
    },

    Q.fn("q_gopher_repetition", repOracle) { (spark, sf) =>
      graft.ml.TextAnalysis.gopherRepetitionRules(
        withPage(Tables.load(spark, sf, "documents")), "page", "doc_id")
        .select((Seq("doc_id", "dup_line_frac_ok", "dup_line_char_ok",
          "dup_para_frac_ok", "dup_para_char_ok") ++
          (2 to 4).map(n => s"top_${n}gram_ok") ++
          (5 to 10).map(n => s"dup_${n}gram_ok") :+ "rep_keep")
          .map(col): _*)
    },

    Q.fn("q_c4_rules", c4Oracle) { (spark, sf) =>
      graft.ml.TextAnalysis.c4Rules(
        withPage(Tables.load(spark, sf, "documents")), "page",
        badWords = Seq("offer"))
        .select("doc_id", "c4_text", "n_kept_lines", "n_sentences",
          "sentence_count_ok", "lorem_ok", "brace_ok", "badwords_ok",
          "c4_keep")
    },

    Q.fn("q_vocabulary", vocabOracle) { (spark, sf) =>
      graft.ml.TextAnalysis.vocabulary(
        Tables.load(spark, sf, "documents").select("doc_id", "text"),
        "text", "doc_id", k = 150)
    },

    Q.fn("q_tfidf", tfidfOracle) { (spark, sf) =>
      graft.ml.TextAnalysis.tfidfSparse(
        Tables.load(spark, sf, "documents").select("doc_id", "text"),
        "text", "doc_id", dim = 256)
    },

    Q.fn("q_tfidf_ann", tfidfAnnOracle) { (spark, sf) =>
      // pinned: the vector frame feeds the corpus leg, the query leg
      // AND bruteForceTopK's two guard count-probes — unpinned, the
      // whole explode+aggregate featurization re-ran four times
      val vecs = graft.ml.CacheLifecycle.pin(
        graft.ml.TextAnalysis.tfidfVectors(
          Tables.load(spark, sf, "documents").select("doc_id", "text"),
          "text", "doc_id", dim = 256))
      graft.ml.Similarity.bruteForceTopK(vecs,
        vecs.where(col("doc_id") < 10), "emb", "doc_id", k = 5)
    },

    Q.fn("q_ppl_buckets", pplOracle) { (spark, sf) =>
      val d = Tables.load(spark, sf, "documents")
      val docs = d.where(col("doc_id") >= 250)
        .select(col("doc_id"), col("text"),
          concat(lit("g"), (col("doc_id") % 3).cast("string"))
            .as("grp"))
      Curation.perplexityBuckets(docs, d.where(col("doc_id") < 250),
        "text", "doc_id", "grp")
        .select("doc_id", "grp", "n_bigrams", "lm_score", "ppl_bucket")
    },

    Q.fn("q_exact_substring", exactSubstrOracle) { (spark, sf) =>
      Dedup.exactSubstringDedup(
        withPage(Tables.load(spark, sf, "documents")), "page",
        "doc_id", minTokens = 8)
        .select("doc_id", "n_tokens", "n_dropped_tokens", "text_clean")
    },

    Q.fn("q_quality_pipeline", pipelineOracle) { (spark, sf) =>
      Curation.qualityPipeline(
        withPage(Tables.load(spark, sf, "documents")), "page",
        "doc_id", badWords = Seq("offer"))
        .select("doc_id", "text_clean", "c4_keep", "gopher_keep",
          "rep_keep", "keep")
    },

    Q.fn("q_bpe_train", bpeTrainOracle) { (spark, sf) =>
      graft.ml.Bpe.bpeTrain(
        Tables.load(spark, sf, "documents").select("text"),
        "text", numMerges = bpeSteps)
    },

    Q.fn("q_bpe_encode", bpeEncodeOracle) { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
        .select("doc_id", "text")
      val merges = graft.ml.Bpe.bpeTrain(docs, "text",
        numMerges = bpeSteps)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ml.Bpe.bpeEncode(docs, "text", "doc_id", merges)
    },

    Q.fn("q_domain_quality", domainQualityOracle) { (spark, sf) =>
      Curation.domainQualityStats(
        withUrl(Tables.load(spark, sf, "documents")), "url", "text")
    },

    Q.fn("q_token_histogram", tokenHistOracle) { (spark, sf) =>
      Curation.tokenHistogram(
        Tables.load(spark, sf, "documents"), "text")
    },

    Q.fn("q_lsh_tuned", lshTunedOracle) { (spark, sf) =>
      Dedup.lshCandidatesTuned(Tables.load(spark, sf, "documents"),
        "text", "doc_id", threshold = LshThreshold)
    },

    Q.fn("q_extract_links", linksOracle) { (spark, sf) =>
      graft.ml.Graphs.extractLinks(
        withLinkHtml(Tables.load(spark, sf, "documents")),
        "html_links", "doc_id")
    },

    Q.fn("q_extract_anchors", anchorsOracle) { (spark, sf) =>
      graft.ml.Graphs.extractAnchors(
        withLinkHtml(Tables.load(spark, sf, "documents")),
        "html_links", "doc_id")
    },

    Q.fn("q_anchor_index", anchorIndexOracle) { (spark, sf) =>
      graft.ml.Graphs.anchorIndex(
        graft.ml.Graphs.extractAnchors(
          withLinkHtml(Tables.load(spark, sf, "documents")),
          "html_links", "doc_id"),
        "href", "anchor")
        .select(col("domain"), col("n_links"),
          to_json(col("anchors")).as("anchors"))
    },

    // the LIVE fixpoint carrier for the pagerank family: the other
    // four gates chain rollups off Round16Queries.fixtureRanks — the
    // SAME fixture pagerank run once per scale factor (their oracles
    // still replay the full chain from scratch)
    Q.fn("q_pagerank", pageRankOracle) { (spark, sf) =>
      graft.ml.Graphs.pageRank(
        Round16Queries.fixtureEdges(spark, sf), "src", "dst", iters = 3)
    },

    Q.fn("q_domain_authority", domainAuthorityOracle) { (spark, sf) =>
      graft.ml.Graphs.domainAuthority(
        Round16Queries.fixtureRanks(spark, sf))
    },

    Q.fn("q_epoch_plan", epochPlanOracle) { (spark, sf) =>
      Curation.epochPlan(Tables.load(spark, sf, "documents"),
        "source", "text", budgetTokens = EpochBudget,
        maxEpochs = EpochCap)
    },

    Q.fn("q_winnow_fingerprints", winnowOracle) { (spark, sf) =>
      Dedup.winnowing(
        Tables.load(spark, sf, "documents").where(col("doc_id") < 100),
        "text", "doc_id")
    },

    Q.fn("q_winnow_pairs", winnowPairsOracle) { (spark, sf) =>
      Dedup.winnowingPairs(Tables.load(spark, sf, "documents"),
        "text", "doc_id", minShared = 2, maxDocFreq = Some(50))
    },

    Q.fn("q_html_text", htmlTextOracle) { (spark, sf) =>
      withHtml(Tables.load(spark, sf, "documents"))
        .select(col("doc_id"),
          Curation.htmlToText(col("html")).as("text_clean"))
    },

    Q.fn("q_dedup_near_resolved", nearResolvedOracle) { (spark, sf) =>
      Dedup.dedupNear(Tables.load(spark, sf, "documents"),
        "text", "doc_id", minJaccard = 0.5)
    },

    Q.fn("q_domain_blocklist", blocklistOracle) { (spark, sf) =>
      import spark.implicits._
      Curation.applyDomainBlocklist(
        withUrl(Tables.load(spark, sf, "documents"))
          .withColumn("host", Curation.extractHost(col("url")))
          .select("doc_id", "host"),
        "host", BlockEntries.toDF("entry"))
    },

    Q.fn("q_quality_clf_model", clfModelOracle) { (spark, sf) =>
      val m = trainClf(spark, sf)
      import spark.implicits._
      (m.weights.zipWithIndex.map { case (w, b) => (b, w) }.toSeq :+
        ((-1, m.bias))).toDF("bucket", "weight")
    },

    Q.fn("q_quality_clf", clfScoreOracle) { (spark, sf) =>
      Classifier.score(Tables.load(spark, sf, "documents"),
        "text", "doc_id", trainClf(spark, sf))
    },

    Q.fn("q_quality_threshold", thresholdOracle) { (spark, sf) =>
      val pick = Classifier.tuneThreshold(clfTrainSet(spark, sf),
        "text", "__y", "doc_id", trainClf(spark, sf))
      import spark.implicits._
      Seq((pick.cutBucket, pick.correct, pick.n))
        .toDF("cut_bucket", "correct", "n")
    },

    Q.fn("q_quality_clf_domains", clfDomainsOracle) { (spark, sf) =>
      val m = trainClf(spark, sf)
      val cut = Classifier.tuneThreshold(clfTrainSet(spark, sf),
        "text", "__y", "doc_id", m).cutBucket
      Classifier.domainQualityReport(
        withUrl(Tables.load(spark, sf, "documents")), "url", "text", m, cut)
    }
  )

  /** `tuneLsh`'s pick for the tuned-LSH gate query — computed once at
    * registry build (pure deterministic driver math) and INLINED into the
    * oracle SQL, so the gate checks the tuning itself: a different
    * (bands, rows) choice changes the band keys and the pair set.
    */
  private lazy val LshThreshold = 0.75
  private lazy val lshTuning = Dedup.tuneLsh(LshThreshold)

  private lazy val lshTunedOracle = {
    val b = lshTuning.bands
    val r = lshTuning.rows
    val mhSql =
      s"""list_transform(range(0,${b * r}), i ->
            list_min(list_transform(sh, s ->
              ((1+2*i)*${MlQueries.h32("s")} + 7919*i) % 4294967311)))"""
    val bandsSql =
      s"""list_transform(range(0,$b), bb -> bb::VARCHAR || ':' || ${(0 until r)
          .map(j => s"sig[$r*bb+${j + 1}]::VARCHAR")
          .mkString(" || ',' || ")})"""
    s"""WITH tok AS (SELECT doc_id, ${MlQueries.toksSql} AS t FROM documents),
         s AS (SELECT doc_id, ${MlQueries.shinglesSql} AS sh FROM tok),
         sigs AS (SELECT doc_id, $mhSql AS sig FROM s),
         bands AS (SELECT doc_id, unnest($bandsSql) AS band FROM sigs)
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b USING(band)
        WHERE a.doc_id < b.doc_id"""
  }

  private def pickSqlOf(salt: String, n: Int) =
    s"(('0x'||substr(md5(doc_id::VARCHAR || '$salt'),1,4))::BIGINT % $n)"

  /** Link fixture: two anchors per doc — one double-quoted lowercase,
    * one single-quoted uppercase HREF — so both quoting forms and the
    * case-insensitive attribute match are exercised.
    */
  private[queries] def withLinkHtml(df: DataFrame): DataFrame =
    df.withColumn("html_links", concat(
      lit("<p>see <a href=\"https://www.site"),
      pick("-l1", 40).cast("string"),
      lit(".com/a\">a"),
      pick("-a1", 30).cast("string"),
      lit("</a> and <A HREF='http://site"),
      pick("-l2", 40).cast("string"),
      lit(".org/b?x=1'>b"),
      pick("-a2", 30).cast("string"),
      lit("</A></p>")))

  private[queries] lazy val linkHtmlCte =
    s"""h AS (SELECT doc_id,
           '<p>see <a href="https://www.site' ||
             ${pickSqlOf("-l1", 40)}::VARCHAR ||
             '.com/a">a' || ${pickSqlOf("-a1", 30)}::VARCHAR ||
             '</a> and <A HREF=''http://site' ||
             ${pickSqlOf("-l2", 40)}::VARCHAR ||
             '.org/b?x=1''>b' || ${pickSqlOf("-a2", 30)}::VARCHAR ||
             '</A></p>' AS html_links
         FROM documents)"""

  private lazy val linksOracle =
    s"""WITH $linkHtmlCte
        SELECT doc_id, unnest(
          regexp_extract_all(html_links, '(?i)[^\\w-]href="([^"]*)"', 1) ||
          regexp_extract_all(html_links, '(?i)[^\\w-]href=''([^'']*)''', 1))
          AS href
        FROM h"""

  private lazy val anchorsOracle = {
    val dq = """(?i)<a[^>]*[^\w-]href="([^"]*)"[^>]*>([^<]*)</a"""
    val sq = """(?i)<a[^>]*[^\w-]href=''([^'']*)''[^>]*>([^<]*)</a"""
    s"""WITH $linkHtmlCte,
         z AS (SELECT doc_id, unnest(
                 list_zip(regexp_extract_all(html_links, '$dq', 1),
                          regexp_extract_all(html_links, '$dq', 2)) ||
                 list_zip(regexp_extract_all(html_links, '$sq', 1),
                          regexp_extract_all(html_links, '$sq', 2)))
                 AS z
               FROM h)
        SELECT doc_id, z[1] AS href, z[2] AS anchor FROM z"""
  }

  private lazy val anchorIndexOracle =
    s"""WITH $linkHtmlCte,
         z AS (SELECT doc_id, unnest(
                 list_zip(
                   regexp_extract_all(html_links,
                     '(?i)<a[^>]*[^\\w-]href="([^"]*)"[^>]*>([^<]*)</a', 1),
                   regexp_extract_all(html_links,
                     '(?i)<a[^>]*[^\\w-]href="([^"]*)"[^>]*>([^<]*)</a', 2)) ||
                 list_zip(
                   regexp_extract_all(html_links,
                     '(?i)<a[^>]*[^\\w-]href=''([^'']*)''[^>]*>([^<]*)</a', 1),
                   regexp_extract_all(html_links,
                     '(?i)<a[^>]*[^\\w-]href=''([^'']*)''[^>]*>([^<]*)</a', 2)))
                 AS z
               FROM h),
         lk AS (SELECT z[1] AS href, z[2] AS anchor FROM z),
         dh AS (SELECT ${hostSql("href")} AS hh, anchor FROM lk),
         d AS (SELECT ${domainSql("hh")} AS domain, anchor FROM dh),
         agg AS (SELECT domain, count(*) AS n_links,
                        (list(anchor ORDER BY anchor))[1:20] AS an
                 FROM d WHERE domain IS NOT NULL GROUP BY 1)
        SELECT domain, n_links, to_json(an)::VARCHAR AS anchors
        FROM agg"""

  /** `pageRank` replayed: the host graph from the md5-url fixture (two
    * picked outlinks per doc), then three unrolled integer iterations —
    * contrib floor-div, dangling mass share, 85/100 damping — every
    * round CTE MATERIALIZED.
    */
  private lazy val pageRankOracle = {
    val iters = 3
    val scale = "1000000000000"
    val sb = new StringBuilder
    sb ++=
      s"""WITH $urlCte,
          hh AS (SELECT doc_id, ${hostSql("url")} AS host FROM urls),
          e0 AS (SELECT host AS src,
                   'www.site' || ${pickSqlOf("-l1", 40)}::VARCHAR ||
                     '.com' AS dst
                 FROM hh
                 UNION ALL
                 SELECT host,
                   'site' || ${pickSqlOf("-l2", 40)}::VARCHAR || '.org'
                 FROM hh),
          e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0
                             WHERE src IS NOT NULL AND dst IS NOT NULL),
          nodes AS MATERIALIZED (SELECT src AS node FROM e
                                 UNION SELECT dst FROM e),
          nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
          deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg
                               FROM e GROUP BY 1),
          r0 AS MATERIALIZED (SELECT node,
                 $scale // (SELECT n FROM nn) AS pr_rank FROM nodes)"""
    (1 to iters).foreach { i =>
      val pr = s"r${i - 1}"
      sb ++=
        s""",
          d$i AS MATERIALIZED (
            SELECT CAST(COALESCE(sum(pr_rank), 0) // (SELECT n FROM nn)
                   AS BIGINT) AS ds
            FROM $pr ANTI JOIN deg USING (node)),
          s$i AS MATERIALIZED (
            SELECT e.dst AS node,
                   CAST(sum((r.pr_rank // deg.deg)) AS BIGINT) AS s
            FROM $pr r JOIN deg USING (node) JOIN e ON e.src = r.node
            GROUP BY 1),
          r$i AS MATERIALIZED (
            SELECT n.node,
              CAST((($scale * 15) // 100) // (SELECT n FROM nn)
                + (85 * (COALESCE(s.s, 0) + (SELECT ds FROM d$i))) // 100
                AS BIGINT) AS pr_rank
            FROM nodes n LEFT JOIN s$i s USING (node))"""
    }
    sb ++= s"""
        SELECT node, pr_rank FROM r$iters"""
    sb.toString
  }

  /** Host authority rolled up to registrable domains: the pageRank CTE
    * chain (exact integer iterations) + the domain grouping with the
    * cast integer rank sum — the "quality weight per domain" table a
    * curation pass joins against.
    */
  private lazy val domainAuthorityOracle =
    s"""$pageRankOracle0,
         rolled AS (SELECT ${domainSql("node")} AS domain,
                 CAST(sum(pr_rank) AS BIGINT) AS authority,
                 count(*) AS n_hosts
               FROM r3 GROUP BY 1)
        SELECT domain, authority, n_hosts FROM rolled"""

  /** The pageRank CTE chain WITHOUT the final select — shared by the
    * rank query and the domain rollup.
    */
  private[queries] lazy val pageRankOracle0 =
    pageRankOracle.stripSuffix(pageRankSelect)

  private lazy val pageRankSelect = """
        SELECT node, pr_rank FROM r3"""

  /** `epochPlan` replayed: per-source token totals, 1e6-quanta sqrt
    * weights (IEEE sqrt — bit-exact), and the water-filling loop
    * unrolled one CTE pair per round (cumulative capped set + fresh
    * integer shares for the uncapped remainder). 21 rounds cover the
    * worst case (one new cap per round over the 20 fixture sources);
    * converged rounds are idempotent. Budget 54000 at cap 2 epochs
    * forces 2-3 redistribution rounds at the gate scales.
    */
  private lazy val EpochBudget = 54000L
  private lazy val EpochCap = 2

  /** The water-filling replay as a reusable builder (CTEs + final
    * select, WITHOUT the leading `WITH`): `src` must expose
    * (`sourceCol`, text). Callers compose it after their own fixture
    * CTEs — the language plan chains it behind the langid chain.
    */
  private[queries] def epochPlanReplay(src: String, sourceCol: String,
      budget: Long, cap: Int, rounds: Int = 21): String = {
    val sb = new StringBuilder
    sb ++=
      s"""w AS MATERIALIZED (
            SELECT $sourceCol, CAST(sum(len(${MlQueries.toksSql})) AS BIGINT) AS n,
                   CAST(round(sqrt(CAST(sum(len(${MlQueries.toksSql}))
                     AS BIGINT)) * 1000000.0) AS BIGINT) AS w6,
                   CAST($cap AS BIGINT) *
                     CAST(sum(len(${MlQueries.toksSql})) AS BIGINT) AS cap
            FROM $src GROUP BY 1),
          c0 AS (SELECT $sourceCol, CAST(0 AS BIGINT) AS take FROM w
                 WHERE 1 = 0)"""
    // a{j} = fresh integer shares for the still-uncapped sources given
    // the capped set after round j-1; c{j} adds the newly over-cap
    // sources. a{rounds+1} is the FINAL share pass the select reads.
    (1 to (rounds + 1)).foreach { j =>
      val pc = s"c${j - 1}"
      sb ++=
        s""",
          a$j AS MATERIALIZED (SELECT w.$sourceCol, w.cap,
                    -- budget×weight widens to HUGEINT before the floor
                    -- division, mirroring the engine's BigInt share
                    -- numerator (a 64-bit product wraps at ~1e19)
                    CAST((CAST(($budget -
                           CAST((SELECT COALESCE(sum(take), 0) FROM $pc)
                                AS BIGINT)) AS HUGEINT) * w.w6)
                      // CAST((SELECT sum(w2.w6) FROM w w2
                               ANTI JOIN $pc USING ($sourceCol)) AS BIGINT)
                      AS BIGINT) AS a
                  FROM w ANTI JOIN $pc USING ($sourceCol)),
          c$j AS MATERIALIZED (SELECT * FROM $pc UNION ALL
                  SELECT $sourceCol, cap AS take FROM a$j WHERE a > cap)"""
    }
    sb ++=
      s"""
        SELECT w.$sourceCol, w.n AS n_tokens,
               CAST(COALESCE(c.take, LEAST(f.a, w.cap)) AS BIGINT)
                 AS take_tokens,
               CAST(CAST(COALESCE(c.take, LEAST(f.a, w.cap)) AS HUGEINT)
                 * 1000000 // w.n AS BIGINT) AS epochs_ppm
        FROM w
        LEFT JOIN c$rounds c USING ($sourceCol)
        LEFT JOIN a${rounds + 1} f USING ($sourceCol)"""
    sb.toString
  }

  private lazy val epochPlanOracle =
    "WITH " + epochPlanReplay("documents", "source", EpochBudget,
      EpochCap)

  /** `winnowing` (k=5, w=4) replayed: positional 5-gram hashes, each
    * position fanned into its ≤ w windows, per-window argmin with the
    * paper's rightmost-tie rule (h ASC, pos DESC), truncated trailing
    * windows dropped by the exactly-w member count.
    */
  private def winnowCtes(where: String) =
    s"""tok AS (SELECT doc_id, ${MlQueries.toksSql} AS t
                FROM documents $where),
        g AS (SELECT doc_id, CAST(s - 1 AS INT) AS pos,
                ('0x'||substr(md5(array_to_string(t[s:s+4], ' ')),1,8))::BIGINT
                  AS h
              FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS s
                    FROM tok WHERE len(t) >= 5)),
        fan AS (SELECT doc_id, pos, h,
                       unnest(range(greatest(pos - 3, 0), pos + 1)) AS q
                FROM g),
        win AS (SELECT doc_id, q, pos, h,
                  count(*) OVER (PARTITION BY doc_id, q) AS n,
                  row_number() OVER (PARTITION BY doc_id, q
                    ORDER BY h ASC, pos DESC) AS rn
                FROM fan),
        wfp AS (SELECT DISTINCT doc_id, pos, h AS fp
                FROM win WHERE rn = 1 AND n = 4)"""

  private lazy val winnowOracle =
    s"""WITH ${winnowCtes("WHERE doc_id < 100")}
        SELECT doc_id, pos, fp FROM wfp"""

  private lazy val winnowPairsOracle =
    s"""WITH ${winnowCtes("")},
         fpd AS (SELECT DISTINCT doc_id, fp FROM wfp),
         hot AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) > 50),
         cool AS (SELECT fpd.* FROM fpd ANTI JOIN hot USING (fp))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        FROM cool a JOIN cool b USING (fp)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2"""

  /** HTML fixture: each doc's text wrapped in deterministic markup —
    * md5-picked script block (lower/UPPER/absent, with `<`/`&&`/`>`
    * inside its body), style block, comment, cased open tag, and an
    * entity gauntlet including the double-encoded `&amp;lt;` (must
    * decode to the literal "&lt;", never resurrect a tag).
    */
  private[queries] def withHtml(df: DataFrame): DataFrame = {
    val script = when(pick("-js", 3) === 0,
        lit("<script type=\"text/javascript\">var x = 1 < 2 && y > 0;</script>"))
      .when(pick("-js", 3) === 1, lit("<SCRIPT>var z = 3;</SCRIPT>"))
      .otherwise(lit(""))
    val style = when(pick("-cs", 2) === 0,
      lit("<style>p { color: red; }</style>")).otherwise(lit(""))
    val openTag = when(pick("-h", 3) === 0, lit("<P CLASS=\"big\">"))
      .otherwise(lit("<p>"))
    df.withColumn("html", concat(
      lit("<html><head>"), script, style,
      lit("</head><body><!-- nav\nbar -->"), openTag, col("text"),
      lit("</p><div>&amp;lt; &lt;b&gt; &quot;q&quot; &#39;s&#39; " +
        "a&nbsp;b</div></body></html>")))
  }

  /** The [[withHtml]] markup fixture replayed over any source exposing
    * (doc_id, text) — shared by the html_to_text gate and the recipe
    * funnel replay.
    */
  private[queries] def htmlFixtureCte(src: String): String = {
    val pickSql = (salt: String, n: Int) =>
      s"(('0x'||substr(md5(doc_id::VARCHAR || '$salt'),1,4))::BIGINT % $n)"
    s"""h AS (SELECT doc_id, '<html><head>' ||
           (CASE WHEN ${pickSql("-js", 3)} = 0
                 THEN '<script type="text/javascript">var x = 1 < 2 && y > 0;</script>'
                 WHEN ${pickSql("-js", 3)} = 1
                 THEN '<SCRIPT>var z = 3;</SCRIPT>'
                 ELSE '' END) ||
           (CASE WHEN ${pickSql("-cs", 2)} = 0
                 THEN '<style>p { color: red; }</style>' ELSE '' END) ||
           '</head><body><!-- nav
bar -->' ||
           (CASE WHEN ${pickSql("-h", 3)} = 0
                 THEN '<P CLASS="big">' ELSE '<p>' END) ||
           text ||
           '</p><div>&amp;lt; &lt;b&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b</div></body></html>'
             AS html
         FROM $src)"""
  }

  private lazy val htmlTextOracle =
    s"""WITH ${htmlFixtureCte("documents")}
        SELECT doc_id, trim($htmlChainSql) AS text_clean
        FROM h"""

  /** The htmlToText regex chain as nested DuckDB regexp_replace calls —
    * built by folding so the parenthesization can never drift from the
    * rule list.
    */
  private[queries] lazy val htmlChainSql: String =
    (Seq(
      "(?is)<script[^>]*>.*?</script>" -> "' '",
      "(?is)<style[^>]*>.*?</style>" -> "' '",
      "(?s)<!--.*?-->" -> "' '",
      "(?s)<[^>]*>" -> "' '",
      "&lt;" -> "'<'",
      "&gt;" -> "'>'",
      "&quot;" -> "'\"'",
      "&#39;" -> "''''",
      "&nbsp;" -> "' '",
      "&amp;" -> "'&'",
      "[ \\t\\n\\r]+" -> "' '")
      .foldLeft("h.html") { case (inner, (pat, rep)) =>
        s"regexp_replace($inner, '$pat', $rep, 'g')"
      })

  /** `dedupNear` replayed: the q_dedup_lsh candidate chain, exact-Jaccard
    * verification over candidate ids only, recursive reachability
    * closure, corpus-wide keep-list. At sf0.001 the candidate set is
    * cleanly bimodal (28 true near-dups at j ≥ 0.889, 15 band collisions
    * at j ≤ 0.034), so the 0.5 threshold demonstrates the verification
    * stage actually discarding LSH false positives.
    */
  private lazy val nearResolvedOracle =
    s"""WITH RECURSIVE
         tok AS (SELECT doc_id, ${MlQueries.toksSql} AS t FROM documents),
         s AS MATERIALIZED (SELECT doc_id, ${MlQueries.shinglesSql} AS sh
                            FROM tok),
         sigs AS (SELECT doc_id, ${MlQueries.minhashSql} AS sig FROM s),
         bands AS (SELECT doc_id, unnest(${MlQueries.bandsSql}) AS band
                   FROM sigs),
         cand AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b USING(band)
           WHERE a.doc_id < b.doc_id),
         csh AS MATERIALIZED (
           SELECT doc_id, unnest(sh) AS g FROM s
           WHERE doc_id IN (SELECT id_a FROM cand
                            UNION SELECT id_b FROM cand)),
         szs AS MATERIALIZED (SELECT doc_id, count(*) AS sz
                              FROM csh GROUP BY 1),
         shared AS (SELECT c.id_a, c.id_b, count(*) AS n
                    FROM cand c
                    JOIN csh a ON a.doc_id = c.id_a
                    JOIN csh b ON b.doc_id = c.id_b AND b.g = a.g
                    GROUP BY 1, 2),
         pairs AS MATERIALIZED (
           SELECT sh.id_a, sh.id_b
           FROM shared sh
           JOIN szs za ON za.doc_id = sh.id_a
           JOIN szs zb ON zb.doc_id = sh.id_b
           WHERE round(sh.n / (za.sz + zb.sz - sh.n), 6) >= 0.5),
         edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (SELECT s, d FROM edges
                          UNION SELECT reach.id, edges.d
                          FROM reach JOIN edges ON reach.r = edges.s),
         comp AS (SELECT id AS doc_id, least(id, min(r)) AS component
                  FROM reach GROUP BY id)
        SELECT d.doc_id,
               coalesce(comp.component, d.doc_id) AS canonical_id,
               d.doc_id = coalesce(comp.component, d.doc_id) AS keep
        FROM (SELECT doc_id FROM documents) d LEFT JOIN comp USING (doc_id)"""

  /** Blocklist fixture: registrable-domain entries (subdomain-inclusive)
    * plus one host-specific entry, so both the any-tail rule and the
    * longest-match provenance are exercised against the md5-url corpus.
    */
  private[queries] lazy val BlockEntries = Seq(
    "site1.com", "site3.co.uk", "blog.site4.net", "site5.com.au",
    "site2.org")

  /** `applyDomainBlocklist` replayed in DuckDB: candidate label tails
    * joined against the entry list, most specific match wins.
    */
  private lazy val blocklistOracle = {
    val entries = BlockEntries.map(e => s"'$e'").mkString("[", ",", "]")
    s"""WITH $urlCte,
         h AS (SELECT doc_id, ${hostSql("url")} AS host FROM urls),
         hp AS (SELECT doc_id, host,
                       string_split(host, '.') AS parts FROM h),
         ble AS (SELECT entry, len(string_split(entry, '.')) AS elen
                 FROM (SELECT unnest($entries) AS entry)),
         cand AS (SELECT hp.doc_id, b.entry, b.elen FROM hp JOIN ble b
                    ON len(hp.parts) >= b.elen
                   AND array_to_string(hp.parts[-b.elen:], '.') = b.entry),
         best AS (SELECT doc_id, arg_max(entry, elen) AS entry
                  FROM cand GROUP BY 1)
        SELECT hp.doc_id, hp.host, b.entry AS blocked_by,
               (b.entry IS NOT NULL) AS blocked
        FROM hp LEFT JOIN best b USING (doc_id)"""
  }

  /** Quality-classifier fixture: distant-supervision seed labels —
    * positive iff the doc mentions the seed token "line" (≈73 % of the
    * doc_id < 300 training slice; the synthetic corpus has a single
    * 31-word vocabulary shared by every lang/source, so no OTHER
    * doc-level column is recoverable from bag-of-words). 16 steps at
    * lr 4.0 fully separate the seed rule (train accuracy 1.0) — the
    * smoke proof that the gradient loop actually learns, not just runs.
    */
  private def clfTrainSet(spark: SparkSession, sf: String) =
    Tables.load(spark, sf, "documents").where(col("doc_id") < 300)
      .withColumn("__y",
        array_contains(split(lower(col("text")), " "), "line")
          .cast("int"))

  /** Deterministic model per source dir — both gate queries (model dump
    * + corpus scoring) share one training run through `Q.once`.
    */
  private def trainClf(spark: SparkSession, sf: String) =
    Q.once("qualityClassifier", sf) {
      Classifier.train(clfTrainSet(spark, sf),
        "text", "__y", "doc_id", buckets = ClfBuckets, steps = ClfSteps,
        lr = 4.0)
    }

  private[queries] lazy val ClfBuckets = 64
  private lazy val ClfLrK = "4000.0"
  private lazy val ClfSteps = 16

  /** The training loop UNROLLED as chained CTEs, one (w_k, bias_k) pair
    * per gradient step — every arithmetic step mirrors
    * `Classifier.train` exactly (fixed-point sums, fast-sigmoid link,
    * round-half-away updates; lr·1000 inlined as a literal), so the oracle re-derives
    * the same weights DuckDB-side rather than trusting the engine's.
    */
  /** The training loop unrolled over ANY (doc_id, text) feature source
    * and label rule — `featSrc` supplies the hashed bag-of-words,
    * `labelFrom`/`labelExpr` the supervision (both over the doc_id < 300
    * training slice), `steps`/`lrK` the loop shape (lrK = lr·1000 as a
    * SQL double literal). The gate oracles train on raw documents; the
    * recipe funnel trains on the post-markup text with page-rule labels.
    */
  private[queries] def clfCtesOver(featSrc: String, labelFrom: String,
      labelExpr: String, steps: Int, lrK: String): String = {
    val sb = new StringBuilder
    sb ++=
      s"""tr AS MATERIALIZED (SELECT doc_id,
                        CASE WHEN $labelExpr
                             THEN 1 ELSE 0 END AS y
                 FROM $labelFrom WHERE doc_id < 300),
          tok AS (SELECT doc_id,
                         unnest(string_split(lower(text), ' ')) AS tk
                  FROM $featSrc WHERE doc_id < 300),
          f AS MATERIALIZED (SELECT DISTINCT doc_id,
                       ${MlQueries.h32("tk")} % $ClfBuckets AS b FROM tok),
          nn AS MATERIALIZED (SELECT count(*) AS n FROM tr),
          w0 AS MATERIALIZED (SELECT range AS b, 0::BIGINT AS w FROM range($ClfBuckets)),
          bias0 AS MATERIALIZED (SELECT 0::BIGINT AS bv)"""
    (1 to steps).foreach { k =>
      val pw = s"w${k - 1}"
      val pb = s"bias${k - 1}"
      sb ++=
        s""",
          mi$k AS MATERIALIZED (SELECT f.doc_id, sum(w.w) AS mi
                   FROM f JOIN $pw w USING (b) GROUP BY 1),
          p$k AS MATERIALIZED (SELECT doc_id, y, 0.5 + 0.5 * (m / (1.0 + abs(m))) AS p
                  FROM (SELECT t.doc_id, t.y,
                               CAST(COALESCE(mi.mi, 0) +
                                    (SELECT bv FROM $pb) AS DOUBLE)
                                 / 1000000000000.0 AS m
                        FROM tr t LEFT JOIN mi$k mi USING (doc_id))),
          c$k AS MATERIALIZED (SELECT doc_id,
                         CAST(round((p - y) * 1000000000.0) AS BIGINT) AS c
                  FROM p$k),
          g$k AS MATERIALIZED (SELECT f.b, sum(c.c) AS g
                  FROM f JOIN c$k c USING (doc_id) GROUP BY 1),
          w$k AS MATERIALIZED (SELECT w.b, w.w - CAST(round(COALESCE(g.g, 0) * $lrK
                           / (SELECT n FROM nn)) AS BIGINT) AS w
                  FROM $pw w LEFT JOIN g$k g USING (b)),
          bias$k AS MATERIALIZED (SELECT (SELECT bv FROM $pb) -
                            CAST(round((SELECT sum(c) FROM c$k) * $lrK
                              / (SELECT n FROM nn)) AS BIGINT) AS bv)"""
    }
    sb.toString
  }

  private lazy val clfTrainCtes = clfCtesOver("documents", "documents",
    "list_contains(string_split(lower(text), ' '), 'line')",
    ClfSteps, ClfLrK)

  private lazy val clfModelOracle =
    s"""WITH $clfTrainCtes
        SELECT CAST(b AS INT) AS bucket, w AS weight FROM w$ClfSteps
        UNION ALL
        SELECT CAST(-1 AS INT), (SELECT bv FROM bias$ClfSteps)"""

  /** `tuneThreshold` replayed: score the training slice with the final
    * weights, per-mil histogram, sweep all 1002 cuts, max correct with
    * ties to the lowest cut.
    */
  private[queries] def clfThresholdCtesOver(steps: Int): String =
    s"""mtr AS MATERIALIZED (SELECT f.doc_id, sum(w.w) AS mi
                FROM f JOIN w$steps w USING (b) GROUP BY 1),
         ptr AS MATERIALIZED (SELECT doc_id, y,
                  round(0.5 + 0.5 * (m / (1.0 + abs(m))), 6) AS s
                FROM (SELECT t.doc_id, t.y,
                             CAST(COALESCE(mi.mi, 0) +
                                  (SELECT bv FROM bias$steps) AS DOUBLE)
                               / 1000000000000.0 AS m
                      FROM tr t LEFT JOIN mtr mi USING (doc_id))),
         hist AS MATERIALIZED (SELECT CAST(floor(s * 1000) AS INT) AS hb,
                  CAST(sum(y) AS BIGINT) AS pos, count(*) AS tot
                FROM ptr GROUP BY 1),
         tots AS MATERIALIZED (SELECT CAST(sum(pos) AS BIGINT) AS tp,
                  CAST(sum(tot) AS BIGINT) AS tt FROM hist),
         corr AS MATERIALIZED (SELECT cuts.range AS cut,
                    CAST((SELECT COALESCE(sum(tot - pos), 0) FROM hist
                          WHERE hb < cuts.range) +
                         ((SELECT tp FROM tots) -
                          (SELECT COALESCE(sum(pos), 0) FROM hist
                           WHERE hb < cuts.range)) AS BIGINT) AS correct
                  FROM range(0, 1002) cuts)"""

  private lazy val clfThresholdCtes = clfThresholdCtesOver(ClfSteps)

  private lazy val thresholdOracle =
    s"""WITH $clfTrainCtes,
         $clfThresholdCtes
        SELECT CAST(cut AS INT) AS cut_bucket, correct,
               (SELECT tt FROM tots) AS n
        FROM corr ORDER BY correct DESC, cut ASC LIMIT 1"""

  /** `domainQualityReport` replayed: the tuned cut re-derived from the
    * threshold CTEs, every doc scored with the final weights, grouped by
    * the md5-url fixture's registrable domain.
    */
  private lazy val clfDomainsOracle =
    s"""WITH $clfTrainCtes,
         $clfThresholdCtes,
         cutq AS MATERIALIZED (SELECT CAST(cut AS INT) AS cut FROM corr
                               ORDER BY correct DESC, cut ASC LIMIT 1),
         $urlCte,
         hu AS (SELECT doc_id, ${hostSql("url")} AS host FROM urls),
         du AS (SELECT doc_id, ${domainSql("host")} AS domain FROM hu),
         tokall AS (SELECT doc_id,
                           unnest(string_split(lower(text), ' ')) AS tk
                    FROM urls),
         fall AS MATERIALIZED (SELECT DISTINCT doc_id,
                         ${MlQueries.h32("tk")} % $ClfBuckets AS b
                  FROM tokall),
         miall AS (SELECT fall.doc_id, sum(w.w) AS mi
                   FROM fall JOIN w$ClfSteps w USING (b) GROUP BY 1),
         pall AS MATERIALIZED (
           SELECT doc_id, round(0.5 + 0.5 * (m / (1.0 + abs(m))), 6) AS s
           FROM (SELECT d.doc_id,
                        CAST(COALESCE(mi.mi, 0) +
                             (SELECT bv FROM bias$ClfSteps) AS DOUBLE)
                          / 1000000000000.0 AS m
                 FROM documents d LEFT JOIN miall mi USING (doc_id)))
        SELECT du.domain, count(*) AS n_docs,
               CAST(sum(CASE WHEN CAST(floor(s * 1000) AS INT) >=
                                  (SELECT cut FROM cutq)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CAST(round(s * 1000000.0) AS BIGINT)) AS BIGINT)
                 AS sum_score6
        FROM du JOIN pall USING (doc_id) GROUP BY 1"""

  private lazy val clfScoreOracle =
    s"""WITH $clfTrainCtes,
         tokall AS (SELECT doc_id,
                           unnest(string_split(lower(text), ' ')) AS tk
                    FROM documents),
         fall AS MATERIALIZED (SELECT DISTINCT doc_id,
                         ${MlQueries.h32("tk")} % $ClfBuckets AS b
                  FROM tokall),
         miall AS (SELECT fall.doc_id, sum(w.w) AS mi
                   FROM fall JOIN w$ClfSteps w USING (b) GROUP BY 1),
         pall AS (SELECT doc_id, 0.5 + 0.5 * (m / (1.0 + abs(m))) AS p
                  FROM (SELECT d.doc_id,
                               CAST(COALESCE(mi.mi, 0) +
                                    (SELECT bv FROM bias$ClfSteps) AS DOUBLE)
                                 / 1000000000000.0 AS m
                        FROM documents d LEFT JOIN miall mi USING (doc_id)))
        SELECT doc_id, round(p, 6) AS score, p >= 0.5 AS pred FROM pall"""
}

