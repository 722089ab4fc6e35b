package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Training-data-pipeline operators (deduplication, similarity search,
  * text analysis, multimodal plumbing) with DuckDB oracles that replay the
  * exact same deterministic formulas (md5-derived 32-bit hashes, rounded
  * f64 cosines).
  */
object MlQueries {

  // SQL fragments shared by the oracles (DuckDB dialect)
  private[queries] val toksSql = "string_split(lower(text),' ')"
  private[queries] def h32(s: String) = s"('0x'||substr(md5($s),1,8))::BIGINT"
  /** Per-document 64-bit SimHash over a token-list column `t` — full
    * replay of `Dedup.simhash`'s bit layout: bits 0-31 from md5 hex
    * chars 1-8, bits 32-63 from chars 9-16 (each half non-negative, so
    * the per-bit shift never meets the sign bit); bit 63 spelled as its
    * value because DuckDB rejects `1 << 63` as overflow.
    */
  private[queries] val simhash64Sql =
    """CAST(list_sum(list_transform(range(0,64), j ->
         CASE WHEN 2*len(list_filter(t, x ->
                ((CASE WHEN j < 32
                       THEN (('0x'||substr(md5(x),1,8))::BIGINT
                             >> CAST(j AS INT))
                       ELSE (('0x'||substr(md5(x),9,8))::BIGINT
                             >> CAST(j-32 AS INT)) END) & 1) = 1))
                > len(t)
              THEN CASE WHEN j = 63 THEN -9223372036854775807 - 1
                        ELSE (1::BIGINT << CAST(j AS INT)) END
              ELSE 0::BIGINT END)) AS BIGINT)"""
  private[queries] val shinglesSql =
    s"list_distinct(list_transform(range(0, len(t)-2), i -> t[i+1]||' '||t[i+2]||' '||t[i+3]))"
  private[queries] val minhashSql =
    s"""list_transform(range(0,12), i ->
          list_min(list_transform(sh, s -> ((1+2*i)*${h32("s")} + 7919*i) % 4294967311)))"""
  private[queries] val bandsSql =
    """list_transform(range(0,4), b ->
         b::VARCHAR || ':' || sig[3*b+1]::VARCHAR || ',' || sig[3*b+2]::VARCHAR || ',' || sig[3*b+3]::VARCHAR)"""
  private[queries] def dotSql(a: String, b: String) =
    s"list_reduce(list_transform(range(1,65), i -> $a[i]*$b[i]), (x,y)->x+y)"
  private[queries] def cosSql(a: String, b: String) =
    s"round(${dotSql(a, b)}, 6)" // over pre-normalized vectors
  /** L2-normalized f64 embedding CTE column (mirrors Fns.normalized:
    * norm materialized once per row, then element-wise divide).
    */
  private[queries] val normSql =
    s"""list_transform(
          list_transform(embedding, x -> x::DOUBLE),
          x -> x / sqrt(${dotSql(
      "list_transform(embedding, x -> x::DOUBLE)",
      "list_transform(embedding, x -> x::DOUBLE)")}))"""
  /** Re-normalize an f64 list expression (mirrors Fns.normalized applied to
    * a centroid frame; lambda var `y` avoids capture when `x` nests inside).
    */
  private def renormSql(x: String) =
    s"list_transform($x, y -> y / sqrt(${dotSql(x, x)}))"

  /** The trained-IVF CTE chain replayed in DuckDB, mirroring
    * `Similarity.seedFarthestFirst(nlist=8, rounds=1)` +
    * `kmeansCentroids(iters=1)` (exact fixed-point means) + the final cell
    * assignment over the emb<300 corpus. Ends with:
    * `v` (normalized corpus), `cn2` (cell → normalized trained centroid),
    * `cells` (vec_id, cell, e).
    */
  private[queries] val kmeansCellsCte =
    s"""v AS (SELECT vec_id, $normSql AS e FROM embeddings WHERE vec_id<300),
        s0 AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 1),
        far AS (SELECT v.vec_id, v.e FROM v, s0 WHERE v.vec_id <> s0.vec_id
                ORDER BY ${cosSql("v.e", "s0.e")} ASC, v.vec_id ASC LIMIT 7),
        seeds AS (SELECT vec_id, e FROM s0
                  UNION ALL SELECT vec_id, e FROM far),
        cn AS (SELECT vec_id AS cell, ${renormSql("e")} AS vcent FROM seeds),
        asg0 AS (SELECT v.vec_id, cell, e, row_number() OVER
                   (PARTITION BY v.vec_id
                    ORDER BY ${cosSql("e", "vcent")} DESC, cell) AS r
                 FROM v CROSS JOIN cn),
        cells0 AS (SELECT vec_id, cell, e FROM asg0 WHERE r=1),
        comp AS (SELECT cell, t.range AS pos, e[t.range+1] AS val
                 FROM cells0, range(64) t),
        means AS (SELECT cell, pos,
                    CAST(sum(CAST(round(val*1000000) AS BIGINT)) AS DOUBLE)
                      / (count(*)*1000000.0) AS m
                  FROM comp GROUP BY 1,2),
        cent AS (SELECT cell,
                   list_transform(list(m ORDER BY pos), x -> x::FLOAT) AS cf
                 FROM means GROUP BY cell),
        cn2 AS (SELECT cell,
                  ${renormSql("list_transform(cf, x -> x::DOUBLE)")} AS vcent
                FROM cent),
        asg2 AS (SELECT v.vec_id, cell, e, row_number() OVER
                   (PARTITION BY v.vec_id
                    ORDER BY ${cosSql("e", "vcent")} DESC, cell) AS r
                 FROM v CROSS JOIN cn2),
        cells AS (SELECT vec_id, cell, e FROM asg2 WHERE r=1)"""

  /** The Spark side of `kmeansCellsCte`: trained codebook over the emb<300
    * corpus.
    */
  private[queries] def trainedCodebook(spark: org.apache.spark.sql.SparkSession,
      sf: String) = {
    val corpus = Tables.load(spark, sf, "embeddings")
      .where(col("vec_id") < 300)
    val seeds = Similarity.seedFarthestFirst(corpus, "embedding", "vec_id",
      nlist = 8, rounds = 1)
    (corpus, Similarity.kmeansCentroids(corpus, "embedding", "vec_id",
      nlist = 8, iters = 1, init = Some(seeds)))
  }

  val all: Seq[Q] = Seq(
    // -- semantic decontamination: drop corpus rows within cosine 0.8
    // of ANY benchmark embedding (vec_id < 5 standing in for the eval
    // set) — the paraphrased-leak case n-gram overlap misses; the
    // benchmark broadcasts, the corpus streams once
    Q.fn("q_decontaminate_semantic",
      s"""WITH v AS (SELECT vec_id, $normSql AS e FROM embeddings),
               b AS (SELECT e AS vb FROM v WHERE vec_id < 5)
          SELECT v.vec_id,
            max(${cosSql("v.e", "vb")}) AS max_bench_cos,
            max(${cosSql("v.e", "vb")}) < 0.8 AS keep
          FROM v CROSS JOIN b GROUP BY 1""") { (spark, sf) =>
      val emb = Tables.load(spark, sf, "embeddings")
      Similarity.decontaminateSemantic(emb,
        emb.where(col("vec_id") < 5), "embedding", "vec_id",
        threshold = 0.8)
    },

    // -- exact deduplication: hash-groupBy, deterministic winner
    Q.fn("q_dedup_exact",
      """SELECT md5(lower(text)) AS fp, min(doc_id) AS keep_id,
                count(*) AS n_copies
         FROM documents GROUP BY 1""") { (spark, sf) =>
      Dedup.exact(Tables.load(spark, sf, "documents"), "text", "doc_id")
    },

    // -- MinHash signatures (12 perms over 3-word shingles)
    Q.fn("q_dedup_minhash",
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id<100),
               s AS (SELECT doc_id, $shinglesSql AS sh FROM tok)
          SELECT doc_id, to_json($minhashSql)::VARCHAR AS sig FROM s""") { (spark, sf) =>
      Dedup.minhash(
        Tables.load(spark, sf, "documents").where(col("doc_id") < 100),
        "text", "doc_id")
        .select(col("doc_id"), to_json(col("sig")).as("sig"))
    },

    // -- MinHash-LSH candidate pairs (4 bands x 3 rows, band-key equi-join)
    Q.fn("q_dedup_lsh",
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
               s AS (SELECT doc_id, $shinglesSql AS sh FROM tok),
               sigs AS (SELECT doc_id, $minhashSql AS sig FROM s),
               bands AS (SELECT doc_id, unnest($bandsSql) AS band FROM sigs)
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b USING(band)
          WHERE a.doc_id < b.doc_id""") { (spark, sf) =>
      Dedup.lshCandidates(Tables.load(spark, sf, "documents"), "text", "doc_id")
    },

    // -- 64-bit SimHash signatures
    Q.fn("q_dedup_simhash",
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id<200)
          SELECT doc_id, $simhash64Sql AS simhash
          FROM tok""") { (spark, sf) =>
      Dedup.simhash(
        Tables.load(spark, sf, "documents").where(col("doc_id") < 200),
        "text", "doc_id")
    },

    // -- banded SimHash near-dup pairs (pigeonhole band equi-join; the
    // oracle replays the quadratic definition — the band join is exact)
    Q.fn("q_dedup_simhash_pairs",
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id<200),
               sh AS (SELECT doc_id, $simhash64Sql AS simhash
                 FROM tok)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 8""") { (spark, sf) =>
      Dedup.simhashPairs(
        Tables.load(spark, sf, "documents").where(col("doc_id") < 200),
        "text", "doc_id", maxDist = 8)
    },

    // -- celled embedding near-dup pairs (IVF cells, within-cell equi-join)
    Q.fn("q_dedup_embedding_celled",
      s"""WITH v AS (SELECT vec_id, $normSql AS e
                     FROM embeddings WHERE vec_id<300),
               cent AS (SELECT vec_id AS cell, e AS vcent FROM v WHERE vec_id<8),
               asg AS (SELECT vec_id, cell, e, row_number() OVER
                         (PARTITION BY vec_id
                          ORDER BY ${cosSql("e", "vcent")} DESC, cell) AS r
                       FROM v CROSS JOIN cent),
               cells AS (SELECT vec_id, cell, e FROM asg WHERE r=1)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ${cosSql("a.e", "b.e")} AS cos
          FROM cells a JOIN cells b ON a.cell=b.cell AND a.vec_id < b.vec_id
          WHERE ${cosSql("a.e", "b.e")} >= 0.35""") { (spark, sf) =>
      Dedup.embeddingPairsCelled(
        Tables.load(spark, sf, "embeddings").where(col("vec_id") < 300),
        "embedding", "vec_id", threshold = 0.35, nlist = 8)
    },

    // -- multi-probe IVF near-dup: each vector in its 2 nearest cells
    // (recovers cell-boundary pairs); DISTINCT collapses pairs that
    // co-occur in both probed cells
    Q.fn("q_dedup_embedding_multiprobe",
      s"""WITH v AS (SELECT vec_id, $normSql AS e
                     FROM embeddings WHERE vec_id<300),
               cent AS (SELECT vec_id AS cell, e AS vcent FROM v WHERE vec_id<8),
               asg AS (SELECT vec_id, cell, e, row_number() OVER
                         (PARTITION BY vec_id
                          ORDER BY ${cosSql("e", "vcent")} DESC, cell) AS r
                       FROM v CROSS JOIN cent),
               cells AS (SELECT vec_id, cell, e FROM asg WHERE r<=2)
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                 ${cosSql("a.e", "b.e")} AS cos
          FROM cells a JOIN cells b ON a.cell=b.cell AND a.vec_id < b.vec_id
          WHERE ${cosSql("a.e", "b.e")} >= 0.35""") { (spark, sf) =>
      Dedup.embeddingPairsCelled(
        Tables.load(spark, sf, "embeddings").where(col("vec_id") < 300),
        "embedding", "vec_id", threshold = 0.35, nlist = 8, nprobe = 2)
    },

    // -- exact n-gram Jaccard near-dup pairs (shingle inverted index)
    Q.fn("q_dedup_ngram",
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id<200),
               s AS (SELECT doc_id, unnest($shinglesSql) AS sh FROM tok),
               sizes AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY 1),
               shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                          FROM s a JOIN s b USING(sh)
                          WHERE a.doc_id < b.doc_id GROUP BY 1,2)
          SELECT id_a, id_b, shared,
                 round(shared / (sa.sz + sb.sz - shared), 6) AS jaccard
          FROM shared JOIN sizes sa ON sa.doc_id=id_a
                      JOIN sizes sb ON sb.doc_id=id_b
          WHERE round(shared / (sa.sz + sb.sz - shared), 6) >= 0.05""") {
      (spark, sf) =>
        Dedup.ngramJaccardPairs(
          Tables.load(spark, sf, "documents").where(col("doc_id") < 200),
          "text", "doc_id", k = 3, threshold = 0.05)
    },

    // -- embedding-cosine near-dup pairs
    Q.fn("q_dedup_embedding",
      s"""WITH v AS (SELECT vec_id, $normSql AS e
                     FROM embeddings WHERE vec_id<300)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ${cosSql("a.e", "b.e")} AS cos
          FROM v a JOIN v b ON a.vec_id < b.vec_id
          WHERE ${cosSql("a.e", "b.e")} >= 0.35""") { (spark, sf) =>
      Dedup.embeddingPairs(
        Tables.load(spark, sf, "embeddings").where(col("vec_id") < 300),
        "embedding", "vec_id", threshold = 0.35)
    },

    // -- brute-force cosine top-k (exact ANN baseline)
    Q.fn("q_knn_brute",
      s"""WITH v AS (SELECT vec_id, $normSql AS e
                     FROM embeddings),
               q AS (SELECT vec_id AS query_id, e AS vq FROM v WHERE vec_id<10),
               scored AS (SELECT query_id, v.vec_id AS nb_id,
                                 ${cosSql("vq", "v.e")} AS cos
                          FROM q JOIN v ON query_id <> v.vec_id),
               ranked AS (SELECT *, row_number() OVER
                            (PARTITION BY query_id ORDER BY cos DESC, nb_id) AS rank
                          FROM scored)
          SELECT query_id, CAST(rank AS INT) AS rank, nb_id, cos
          FROM ranked WHERE rank <= 5""") { (spark, sf) =>
      val emb = Tables.load(spark, sf, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
        "embedding", "vec_id", k = 5)
    },

    // -- IVF ANN: 8 deterministic centroids, probe 2 cells, top-3 within
    Q.fn("q_knn_ivf",
      s"""WITH v AS (SELECT vec_id, $normSql AS e
                     FROM embeddings),
               cent AS (SELECT vec_id AS cell, e AS vcent FROM v WHERE vec_id<8),
               asg AS (SELECT vec_id, cell, e, row_number() OVER
                         (PARTITION BY vec_id
                          ORDER BY ${cosSql("e", "vcent")} DESC, cell) AS r
                       FROM v CROSS JOIN cent),
               cells AS (SELECT vec_id AS nb_id, cell, e FROM asg WHERE r=1),
               q AS (SELECT vec_id AS query_id, e AS vq FROM v WHERE vec_id<5),
               probed AS (SELECT query_id, vq, cell, row_number() OVER
                            (PARTITION BY query_id
                             ORDER BY ${cosSql("vq", "vcent")} DESC, cell) AS pr
                          FROM q CROSS JOIN cent),
               cand AS (SELECT query_id, vq, nb_id, cells.e
                        FROM (SELECT * FROM probed WHERE pr<=2) p
                        JOIN cells USING(cell) WHERE query_id <> nb_id),
               ranked AS (SELECT query_id, nb_id, ${cosSql("vq", "e")} AS cos,
                                 row_number() OVER (PARTITION BY query_id
                                   ORDER BY ${cosSql("vq", "e")} DESC, nb_id) AS rank
                          FROM cand)
          SELECT query_id, CAST(rank AS INT) AS rank, nb_id, cos
          FROM ranked WHERE rank <= 3""") { (spark, sf) =>
      val emb = Tables.load(spark, sf, "embeddings")
      Similarity.IvfIndex.build(emb, "embedding", "vec_id", nlist = 8)
        .search(emb.where(col("vec_id") < 5), k = 3, nprobe = 2)
    },

    // -- IVF ANN over the TRAINED codebook (farthest-first seeds + one
    // Lloyd iteration with exact fixed-point means); the oracle replays
    // the whole training loop
    Q.fn("q_knn_ivf_kmeans",
      s"""WITH $kmeansCellsCte,
               q AS (SELECT vec_id AS query_id, e AS vq FROM v WHERE vec_id<5),
               probed AS (SELECT query_id, vq, cell, row_number() OVER
                            (PARTITION BY query_id
                             ORDER BY ${cosSql("vq", "vcent")} DESC, cell) AS pr
                          FROM q CROSS JOIN cn2),
               cand AS (SELECT query_id, vq, vec_id AS nb_id, cells.e
                        FROM (SELECT * FROM probed WHERE pr<=2) p
                        JOIN cells USING(cell) WHERE query_id <> vec_id),
               ranked AS (SELECT query_id, nb_id, ${cosSql("vq", "e")} AS cos,
                                 row_number() OVER (PARTITION BY query_id
                                   ORDER BY ${cosSql("vq", "e")} DESC, nb_id) AS rank
                          FROM cand)
          SELECT query_id, CAST(rank AS INT) AS rank, nb_id, cos
          FROM ranked WHERE rank <= 3""") { (spark, sf) =>
      val (corpus, cents) = trainedCodebook(spark, sf)
      Similarity.IvfIndex.build(corpus, "embedding", "vec_id",
          centroids = Some(cents))
        .search(Tables.load(spark, sf, "embeddings").where(col("vec_id") < 5),
          k = 3, nprobe = 2)
    },

    // -- celled near-dup pairs over the trained codebook
    Q.fn("q_dedup_embedding_celled_kmeans",
      s"""WITH $kmeansCellsCte
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ${cosSql("a.e", "b.e")} AS cos
          FROM cells a JOIN cells b ON a.cell=b.cell AND a.vec_id < b.vec_id
          WHERE ${cosSql("a.e", "b.e")} >= 0.35""") { (spark, sf) =>
      val (corpus, cents) = trainedCodebook(spark, sf)
      Dedup.embeddingPairsCelled(corpus, "embedding", "vec_id",
        threshold = 0.35, centroids = Some(cents))
    },

    // -- SSL-prototypes pruning over the trained codebook: per-cell keep
    // the LEAST prototypical half (cos to own centroid asc, ties to the
    // lowest id) — Sorscher et al.'s data-pruning rule
    Q.fn("q_prototype_prune",
      s"""WITH $kmeansCellsCte,
               pr AS (SELECT c.vec_id, c.cell,
                             ${cosSql("c.e", "cn2.vcent")} AS proto
                      FROM cells c JOIN cn2 USING (cell)),
               q AS (SELECT cell, ceil(count(*) * 0.5) AS quota
                     FROM pr GROUP BY 1),
               r AS (SELECT pr.*, row_number() OVER (PARTITION BY cell
                       ORDER BY proto ASC, vec_id ASC) AS rn FROM pr)
          SELECT r.vec_id, r.cell, r.proto, (rn <= quota) AS keep
          FROM r JOIN q USING (cell)""") { (spark, sf) =>
      val (corpus, cents) = trainedCodebook(spark, sf)
      Similarity.prunePrototypes(corpus, cents, "embedding", "vec_id",
        keepFraction = 0.5)
    },

    // -- recall@3 of the trained-codebook IVF against exact brute force,
    // per query — the quality metric for the ANN scale path
    Q.fn("q_knn_recall",
      s"""WITH $kmeansCellsCte,
               q AS (SELECT vec_id AS query_id, e AS vq FROM v WHERE vec_id<5),
               probed AS (SELECT query_id, vq, cell, row_number() OVER
                            (PARTITION BY query_id
                             ORDER BY ${cosSql("vq", "vcent")} DESC, cell) AS pr
                          FROM q CROSS JOIN cn2),
               cand AS (SELECT query_id, vq, vec_id AS nb_id, cells.e
                        FROM (SELECT * FROM probed WHERE pr<=2) p
                        JOIN cells USING(cell) WHERE query_id <> vec_id),
               iranked AS (SELECT query_id, nb_id,
                                  row_number() OVER (PARTITION BY query_id
                                    ORDER BY ${cosSql("vq", "e")} DESC, nb_id) AS rank
                           FROM cand),
               itop AS (SELECT query_id, nb_id FROM iranked WHERE rank<=3),
               bscored AS (SELECT query_id, v.vec_id AS nb_id, vq, v.e
                           FROM q JOIN v ON query_id <> v.vec_id),
               branked AS (SELECT query_id, nb_id,
                                  row_number() OVER (PARTITION BY query_id
                                    ORDER BY ${cosSql("vq", "e")} DESC, nb_id) AS rank
                           FROM bscored),
               btop AS (SELECT query_id, nb_id FROM branked WHERE rank<=3),
               hits AS (SELECT b.query_id, count(*) AS n_hit
                        FROM btop b JOIN itop i
                          ON b.query_id=i.query_id AND b.nb_id=i.nb_id
                        GROUP BY 1)
          SELECT q.query_id, coalesce(n_hit, 0) AS n_hit,
                 round(coalesce(n_hit, 0)/3.0, 6) AS recall
          FROM q LEFT JOIN hits USING(query_id)""") { (spark, sf) =>
      val (corpus, cents) = trainedCodebook(spark, sf)
      val queries = Tables.load(spark, sf, "embeddings")
        .where(col("vec_id") < 5)
      val ivf = Similarity.IvfIndex.build(corpus, "embedding", "vec_id",
          centroids = Some(cents))
        .search(queries, k = 3, nprobe = 2)
      val exact = Similarity.bruteForceTopK(corpus, queries,
        "embedding", "vec_id", k = 3)
      val hits = exact.select("query_id", "nb_id")
        .join(ivf.select("query_id", "nb_id"), Seq("query_id", "nb_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)) / 3.0, 6).as("recall"))
    },

    // -- token counting (whitespace + BPE-ish regex)
    Q.fn("q_text_tokens",
      """SELECT doc_id, text, lang, source, n_chars,
                CAST(len(regexp_split_to_array(text,'\s+')) AS INT) AS n_ws_tokens,
                CAST(len(regexp_extract_all(text,'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS n_bpe_tokens
         FROM documents""") { (spark, sf) =>
      TextAnalysis.tokenCounts(Tables.load(spark, sf, "documents"), "text")
    },

    // -- quality scoring (length/punct/stopword heuristics)
    Q.fn("q_text_quality",
      """WITH t AS (SELECT *, string_split(lower(text),' ') AS toks FROM documents),
              m AS (SELECT *,
                trunc((length(text) / len(toks))*1000000.0)/1000000.0 AS cpt,
                trunc(((length(text) - length(regexp_replace(text,'[^a-zA-Z0-9 ]','','g'))) / length(text))*1000000.0)/1000000.0 AS pr,
                trunc((len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) / len(toks))*1000000.0)/1000000.0 AS sr
              FROM t)
         SELECT doc_id, text, lang, source, n_chars,
            CAST(len(toks) AS INT) AS n_tokens,
            cpt AS chars_per_token,
            pr AS punct_ratio,
            sr AS stopword_ratio,
            trunc((1.0 - abs(cpt - 5.0)/10.0 - pr + sr)*1000000.0)/1000000.0 AS quality
         FROM m""") { (spark, sf) =>
      TextAnalysis.qualityScore(Tables.load(spark, sf, "documents"), "text")
    },

    // -- language-ID stopword heuristic (argmax, ties in list order)
    Q.fn("q_text_langid",
      """WITH t AS (SELECT *, string_split(lower(text),' ') AS toks FROM documents),
              s AS (SELECT *,
                CAST(len(list_filter(toks, x -> list_contains(['the','of','and','to','in','is','that','it'], x))) AS INT) AS score_en,
                CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], x))) AS INT) AS score_de,
                CAST(len(list_filter(toks, x -> list_contains(['le','la','les','et','est','un','une','dans'], x))) AS INT) AS score_fr,
                CAST(len(list_filter(toks, x -> list_contains(['el','la','los','y','es','un','una','en'], x))) AS INT) AS score_es
              FROM t)
         SELECT doc_id, text, lang, source, n_chars,
                score_en, score_de, score_fr, score_es,
                CASE WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'unknown'
                     WHEN score_en >= greatest(score_de, score_fr, score_es) THEN 'en'
                     WHEN score_de >= greatest(score_fr, score_es) THEN 'de'
                     WHEN score_fr >= score_es THEN 'fr'
                     ELSE 'es' END AS lang_pred
         FROM s""") { (spark, sf) =>
      TextAnalysis.langId(Tables.load(spark, sf, "documents"), "text")
    },

    // -- document fingerprinting (md5 of normalized text + rolling hash)
    Q.fn("q_text_fingerprint",
      s"""SELECT doc_id, text, lang, source, n_chars,
                 md5(regexp_replace(lower(text),'[^a-z0-9 ]','','g')) AS fp_md5,
                 list_reduce(list_prepend(0::BIGINT,
                   list_transform($toksSql, s -> ${h32("s")})),
                   (acc, h) -> (acc*31 + h) % 1000000000000007) AS fp_roll
          FROM documents""") { (spark, sf) =>
      TextAnalysis.fingerprint(Tables.load(spark, sf, "documents"), "text")
    },

    // -- real image decode (pure-JVM PPM codec): constant-color P3 images
    // synthesized from n_chars; luma of (c,c,c) is exactly c, so the
    // oracle derives every feature in SQL
    Q.fn("q_multimodal_image",
      """SELECT doc_id, 'ppm' AS format, 2 AS width, 1 AS height,
                CAST(2 AS BIGINT) AS n_pixels,
                CAST(n_chars % 256 AS DOUBLE) AS mean_luma,
                to_json([n_chars % 256, n_chars % 256])::VARCHAR AS thumb_luma,
                true AS decoded
         FROM documents""") { (spark, sf) =>
      val c = (col("n_chars") % 256).cast("string")
      val ppm = concat(lit("P3\n2 1\n255\n"),
        c, lit(" "), c, lit(" "), c, lit(" "),
        c, lit(" "), c, lit(" "), c)
      val packed = Multimodal.pack(
        Tables.load(spark, sf, "documents").withColumn("img", ppm)
          .withColumn("fmt", lit("ppm")),
        "img", "fmt")
      Multimodal.decodeImages(packed, "doc_id", thumbW = 2, thumbH = 1)
        .withColumn("thumb_luma", to_json(col("thumb_luma")))
    },

    // -- multimodal plumbing: binary payload + metadata + per-partition decode
    Q.fn("q_multimodal",
      """SELECT doc_id, source AS format,
                CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
                ascii(substr(text,1,1)) AS width,
                ascii(substr(text,2,1)) AS height,
                CAST(ascii(substr(text,1,1)) * ascii(substr(text,2,1)) AS BIGINT) AS n_pixels,
                to_json([ascii(substr(text,1,1)), ascii(substr(text,2,1)),
                         ascii(substr(text,3,1)), ascii(substr(text,4,1))])::VARCHAR AS frame_sample
         FROM documents""") { (spark, sf) =>
      Multimodal.decode(
        Multimodal.pack(Tables.load(spark, sf, "documents"), "text", "source"),
        "doc_id")
        .withColumn("frame_sample", to_json(col("frame_sample")))
    }
  )
}
