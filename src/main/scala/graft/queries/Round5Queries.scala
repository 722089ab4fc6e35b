package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.TextAnalysis
import graft.queries.MlQueries.{cosSql, normSql}

/** Round-5 oracle coverage: the IVF+PQ composed search (the billion-scale
  * ANN layout — previously spec-only), and deterministic oracles for the
  * `$probe` and `$lag` observability stages.
  */
object Round5Queries {

  val all: Seq[Q] = Seq(
    // -- IVF + PQ composed: coarse cells prune candidates to the query's
    // 2 nearest cells, then the PQ ADC table ranks within them. The
    // oracle replays BOTH halves in SQL: the q_knn_pq codebook chain
    // (train → encode → ADC tables, raw f64 subvectors) plus the
    // q_knn_ivf coarse assignment (normalized cosine, lowest-id
    // centroids), composed exactly like Similarity.ivfPqTopK.
    Q.fn("q_knn_ivfpq",
      s"""WITH v AS (SELECT vec_id,
                            list_transform(embedding, x -> x::DOUBLE) AS e
                     FROM embeddings WHERE vec_id < 200),
          sub AS (SELECT vec_id, t.range AS sub,
                         e[t.range*32+1 : (t.range+1)*32] AS sv
                  FROM v, range(2) t),
          seeds AS (SELECT sub,
                           row_number() OVER (PARTITION BY sub
                                              ORDER BY vec_id) - 1 AS code,
                           sv AS cent
                    FROM sub
                    QUALIFY row_number() OVER (PARTITION BY sub
                                               ORDER BY vec_id) <= 8),
          asg0 AS (SELECT s.vec_id, s.sub, s.sv, c.code
                   FROM sub s JOIN seeds c USING(sub)
                   QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.sub
                     ORDER BY round(list_sum(list_transform(
                       generate_series(1, 32),
                       i -> (s.sv[i]-c.cent[i])*(s.sv[i]-c.cent[i]))), 6)
                       ASC, c.code ASC) = 1),
          comp AS (SELECT sub, code, t.range AS pos, sv[t.range+1] AS val
                   FROM asg0, range(32) t),
          mn AS (SELECT sub, code, pos,
                        CAST(sum(CAST(round(val*1000000) AS BIGINT)) AS DOUBLE)
                          / (count(*)*1000000.0) AS m
                 FROM comp GROUP BY 1, 2, 3),
          cb AS (SELECT sub, code, list(m ORDER BY pos) AS cent
                 FROM mn GROUP BY 1, 2),
          enc AS (SELECT s.vec_id, s.sub, c.code
                  FROM sub s JOIN cb c USING(sub)
                  QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.sub
                    ORDER BY round(list_sum(list_transform(
                      generate_series(1, 32),
                      i -> (s.sv[i]-c.cent[i])*(s.sv[i]-c.cent[i]))), 6)
                      ASC, c.code ASC) = 1),
          qt AS (SELECT q.vec_id AS query_id, q.sub, c.code,
                        round(list_sum(list_transform(
                          generate_series(1, 32),
                          i -> (q.sv[i]-c.cent[i])*(q.sv[i]-c.cent[i]))), 6)
                          AS d
                 FROM sub q JOIN cb c USING(sub) WHERE q.vec_id < 5),
          nv AS (SELECT vec_id, $normSql AS ne
                 FROM embeddings WHERE vec_id < 200),
          coarse AS (SELECT vec_id AS cell, ne AS vcent
                     FROM nv WHERE vec_id < 8),
          casg AS (SELECT nv.vec_id, cell, row_number() OVER
                     (PARTITION BY nv.vec_id
                      ORDER BY ${cosSql("ne", "vcent")} DESC, cell) AS r
                   FROM nv CROSS JOIN coarse),
          ccells AS (SELECT vec_id AS nb_id, cell FROM casg WHERE r = 1),
          cprobe AS (SELECT nv.vec_id AS query_id, cell, row_number() OVER
                       (PARTITION BY nv.vec_id
                        ORDER BY ${cosSql("ne", "vcent")} DESC, cell) AS pr
                     FROM nv CROSS JOIN coarse WHERE nv.vec_id < 5),
          cand AS (SELECT query_id, nb_id
                   FROM (SELECT * FROM cprobe WHERE pr <= 2) p
                   JOIN ccells USING(cell) WHERE query_id <> nb_id),
          scored AS (SELECT qt.query_id, e.vec_id AS nb_id,
                            round(sum(d), 6) AS dist
                     FROM enc e JOIN qt USING(sub, code)
                     JOIN cand ON cand.query_id = qt.query_id
                              AND cand.nb_id = e.vec_id
                     GROUP BY 1, 2)
          SELECT query_id, CAST(rank AS INT) AS rank, nb_id, dist
          FROM (SELECT query_id, nb_id, dist,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dist, nb_id) AS rank
                FROM scored)
          WHERE rank <= 3""") { (spark, sf) =>
      import graft.ml.Similarity
      val emb = Tables.load(spark, sf, "embeddings")
        .where(col("vec_id") < 200)
      val cb = Similarity.pqTrain(emb, "embedding", "vec_id",
        m = 2, ksub = 8, dim = 64, iters = 1)
      Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < 5),
        emb.where(col("vec_id") < 8), cb,
        "embedding", "vec_id", k = 3, m = 2, dim = 64, nprobe = 2)
    },

    // -- $probe: the stage's OWN counts (not just the downstream
    // grouping pattern of q_probe_group) captured through the counts
    // topic sink. current_timestamp() is query-constant, so the batch
    // per-minute grouping yields exactly one row; the wall-clock minute
    // column is projected away for determinism.
    Q.fn("q_probe",
      """SELECT 'nation_probe' AS name, count(*) AS count FROM nation""") {
      (spark, sf) =>
        var captured: Option[org.apache.spark.sql.DataFrame] = None
        val env = Tables.env(spark, sf).copy(
          sink = (t, d) => if (t == "probe_counts") captured = Some(d))
        graft.op.Pipeline.run(Tables.load(spark, sf, "nation"),
          """[{"$probe":{"name":"nation_probe","topic":"probe_counts"}}]""",
          env)
        captured.get.select(col("name"), col("count"))
    },

    // -- $lag: a stub AdminClient with fixed offsets; the documented
    // end-minus-committed shape {group: {topic: {"<partition>": lag}}}
    // (reference LagStage.java:36-110) attaches under `as` on every
    // message (interval 0 disables sampling so the output is stable)
    Q.fn("q_lag",
      """SELECT r_regionkey, '{"g1":{"t":{"0":5,"1":0}}}' AS lag
         FROM region""") { (spark, sf) =>
      val admin = new graft.streaming.KafkaLag.Admin with Serializable {
        def groups(): Seq[String] = Seq("g1")
        def committed(group: String): Map[(String, Int), Long] =
          Map(("t", 0) -> 10L, ("t", 1) -> 20L)
        def endOffsets(tps: Seq[(String, Int)]): Map[(String, Int), Long] =
          Map(("t", 0) -> 15L, ("t", 1) -> 20L)
      }
      val env = Tables.env(spark, sf).copy(
        lag = () => graft.streaming.KafkaLag.snapshot(admin))
      graft.op.Pipeline.run(Tables.load(spark, sf, "region"),
        """[{"$lag":{"as":"lag","interval":0}}]""", env)
        .select(col("r_regionkey"), col("lag"))
    },

    // -- fromStream part chaining through the REAL AppRunner batch DAG:
    // part 1 filters, part 2 reads the named stream and projects —
    // the driver gate now sees the part-resolution machinery itself
    Q.fn("q_stream_chain",
      """SELECT n_nationkey, n_name, n_regionkey * 10 AS rk10
         FROM nation WHERE n_regionkey < 3""") { (spark, sf) =>
      var captured: Option[org.apache.spark.sql.DataFrame] = None
      val io = new graft.streaming.Io {
        def source(s: org.apache.spark.sql.SparkSession, kind: String,
            name: String, options: Map[String, String]) =
          Tables.load(s, sf, "nation")
        def sink(kind: String, name: String,
            df: org.apache.spark.sql.DataFrame, asString: Boolean,
            partId: String, options: Map[String, String]): Unit =
          captured = Some(df)
      }
      new graft.streaming.AppRunner(spark, io, Tables.env(spark, sf)).run(
        """{"application":"chain","version":"1.0","parts":[
             {"type":"stream","name":"base","fromTopic":"nation_t",
              "pipeline":[{"$match":{"n_regionkey":{"$lt":3}}}]},
             {"type":"stream","name":"final","fromStream":"base",
              "toTopic":"out_chain","pipeline":[
                {"$addFields":{"rk10":{"$multiply":["$n_regionkey",10]}}},
                {"$project":{"n_nationkey":1,"n_name":1,"rk10":1}}]}]}""")
      captured.get
    },

    // -- the plugin SPI end to end: an embedded GraftPlugin contributes
    // a stage, an expression operator, a $match operator and a JSLT
    // function, and one pipeline exercises all four against the oracle
    Q.fn("q_plugin_stage",
      """SELECT r_regionkey AS rk, r_regionkey * 2 AS doubled,
                'p-' || r_name AS tagged, r_name || '!' AS shout
         FROM region WHERE r_regionkey % 2 = 0""") { (spark, sf) =>
      Round5Queries.ensurePluginRegistered()
      graft.op.Pipeline.run(Tables.load(spark, sf, "region"),
        """[{"$match":{"r_regionkey":{"$evenKey":true}}},
            {"$doubleKey":{}},
            {"$addFields":{"tagged":{"$tagName":"$r_name"}}},
            {"$jslt":{"script":
              "{ \"rk\": .r_regionkey, \"doubled\": .doubled, \"tagged\": .tagged, \"shout\": shout(.r_name) }",
              "schema":"rk long, doubled long, tagged string, shout string"}}]""",
        Tables.env(spark, sf))
    },

    // -- PII scrubbing over documents (emails/phones/IPv4 → tokens, with
    // per-kind counts); deterministic PII is spliced in so the scrubber
    // has known work on every row, and the oracle replays the same
    // regexes under RE2
    Q.fn("q_text_pii",
      s"""WITH t AS (SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-'
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-1234 from 10.2.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.7' AS pii_text
              FROM documents WHERE doc_id < 400)
          SELECT doc_id,
            len(regexp_extract_all(pii_text, '${TextAnalysis.EmailPattern}'))
              AS n_emails,
            len(regexp_extract_all(pii_text, '${TextAnalysis.PhonePattern}'))
              AS n_phones,
            len(regexp_extract_all(pii_text, '${TextAnalysis.Ipv4Pattern}'))
              AS n_ips,
            regexp_replace(regexp_replace(regexp_replace(pii_text,
              '${TextAnalysis.EmailPattern}', '[EMAIL]', 'g'),
              '${TextAnalysis.PhonePattern}', '[PHONE]', 'g'),
              '${TextAnalysis.Ipv4Pattern}', '[IP]', 'g') AS scrubbed
          FROM t""") { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
        .where(col("doc_id") < 400)
        .withColumn("pii_text", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-1234 from 10.2."), (col("doc_id") % 256).cast("string"),
          lit(".7")))
      TextAnalysis.piiScrub(docs, "pii_text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ips"), col("scrubbed"))
    },

    // -- $merge Mongo modes (whenMatched: merge / whenNotMatched:
    // discard) through the REAL stage + collection sink: generation 2
    // carries null totals (must keep the stored value — Mongo's
    // ignore-null document merge) and out-of-range ids (must be
    // discarded)
    Q.fn("q_merge_modes",
      """SELECT o_orderkey AS _id,
                CAST(trunc(o_totalprice) AS BIGINT) AS total,
                CASE WHEN o_orderkey <= 1000 THEN 'X'
                     ELSE o_orderstatus END AS status
         FROM orders WHERE o_orderkey <= 2000""") { (spark, sf) =>
      val root = Q.tempDir("graft-q-modes").toString
      val io = new graft.streaming.ParquetCollectionIo(spark, root,
        Round4Queries.NoIo)
      val orders = Tables.load(spark, sf, "orders")
      io.upsert("mm",
        orders.where(col("o_orderkey") <= 2000)
          .select(col("o_orderkey").as("_id"),
            col("o_totalprice").cast("long").as("total"),
            col("o_orderstatus").as("status")))
      // generation 2 through the $merge STAGE (mode parsing included):
      // ids <= 1000 match (total null -> kept, status -> X); ids > 2000
      // don't match and are discarded
      val env = Tables.env(spark, sf)
        .copy(collectionSink = (n, df) => io.upsert(n, df))
      graft.op.Pipeline.run(
        orders.where(col("o_orderkey") <= 1000 ||
            col("o_orderkey") > 2000)
          .select(col("o_orderkey").as("_id"),
            lit(null).cast("long").as("total"), lit("X").as("status")),
        """[{"$merge":{"into":"mm","whenMatched":"merge",
                       "whenNotMatched":"discard"}}]""", env)
      io.source(spark, "collection", "mm")
    },

    // -- random-hyperplane LSH (cosine SimHash) near-dup pairs: sign
    // bits against the 16 lowest-id vectors as planes, 4-bit bands,
    // equi-join candidates, exact-cosine verify — the third ANN bucket
    // family next to IVF cells and PQ codes
    Q.fn("q_dedup_hyperplane",
      s"""WITH v AS (SELECT vec_id, $normSql AS e
                     FROM embeddings WHERE vec_id < 300),
          pl AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pi,
                        e AS pe
                 FROM v WHERE vec_id < 16),
          bits AS (SELECT v.vec_id, CAST(pi // 4 AS INT) AS band,
                          CAST(CASE WHEN ${cosSql("v.e", "pe")} >= 0
                               THEN 1 ELSE 0 END AS BIGINT)
                            * CAST(pow(2, pi % 4) AS BIGINT) AS bit
                   FROM v CROSS JOIN pl),
          sig AS (SELECT vec_id, band, sum(bit) AS bv
                  FROM bits GROUP BY 1, 2),
          cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                   FROM sig a JOIN sig b USING (band, bv)
                   WHERE a.vec_id < b.vec_id)
          SELECT id_a, id_b, ${cosSql("va.e", "vb.e")} AS cos
          FROM cand
          JOIN v va ON va.vec_id = id_a
          JOIN v vb ON vb.vec_id = id_b
          WHERE ${cosSql("va.e", "vb.e")} >= 0.35""") { (spark, sf) =>
      val emb = Tables.load(spark, sf, "embeddings")
        .where(col("vec_id") < 300)
      graft.ml.Dedup.hyperplanePairs(emb, emb.where(col("vec_id") < 16),
        "embedding", "vec_id", threshold = 0.35, bandBits = 4)
    },

    // -- deterministic stratified subsampling by language: the same
    // md5-derived hash rule on both engines picks the identical sample
    Q.fn("q_sample_stratified",
      """SELECT doc_id, lang, source FROM documents
         WHERE ('0x' || substr(md5('smpl' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 1000000
             < CAST((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                     ELSE 0.1 END) * 1000000.0 AS BIGINT)""") {
      (spark, sf) =>
        graft.ml.TextAnalysis.sampleStratified(
          Tables.load(spark, sf, "documents"), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
          .select(col("doc_id"), col("lang"), col("source"))
    },

    // -- unigram surprisal (corpus-LM quality signal): mean -ln p(token)
    // under the corpus's own unigram distribution; counts joined by
    // token key (no vocabulary broadcast — it wouldn't fit at scale)
    Q.fn("q_text_surprisal",
      """WITH tok AS (SELECT doc_id,
                             unnest(string_split(lower(text), ' ')) AS w
                      FROM documents WHERE doc_id < 400),
          cnt AS (SELECT w, CAST(count(*) AS DOUBLE) AS c
                  FROM tok GROUP BY w),
          tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok)
          SELECT doc_id, count(*) AS n_tokens,
                 CAST(trunc(avg(-ln(c/n)) * 1000000) AS BIGINT)
                   / 1000000.0 AS surprisal
          FROM tok JOIN cnt USING (w) CROSS JOIN tot
          GROUP BY doc_id""") { (spark, sf) =>
      TextAnalysis.unigramSurprisal(
        Tables.load(spark, sf, "documents").where(col("doc_id") < 400),
        "text", "doc_id")
    },

    // -- character-distribution entropy (gibberish/boilerplate signal):
    // explode → two-stage agg, shuffle bounded by distinct chars per doc
    Q.fn("q_text_entropy",
      """WITH hist AS (
           SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS cnt
           FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
                 FROM documents WHERE doc_id < 400)
           GROUP BY 1, 2),
         tot AS (SELECT doc_id, CAST(len(text) AS DOUBLE) AS n
                 FROM documents WHERE doc_id < 400)
         SELECT doc_id, count(*) AS distinct_chars,
                CAST(max(n) AS BIGINT) AS n_chars,
                CAST(trunc(-sum(cnt/n * ln(cnt/n)) * 1000000) AS BIGINT)
                  / 1000000.0 AS entropy
         FROM hist JOIN tot USING (doc_id) GROUP BY doc_id""") {
      (spark, sf) =>
        TextAnalysis.charEntropy(
          Tables.load(spark, sf, "documents").where(col("doc_id") < 400),
          "text", "doc_id")
    }
  )

  /** Embedded plugin registration for q_plugin_stage — registered only
    * while absent (Verify/Bench re-run queries, and test suites may
    * Plugins.clear() between them; a plain lazy val would stay stranded
    * after a clear).
    */
  def ensurePluginRegistered(): Unit = synchronized {
    if (graft.plugin.Plugins.stage("$doubleKey").isEmpty)
      graft.plugin.Plugins.register(queryPlugin)
  }

  private lazy val queryPlugin: graft.plugin.GraftPlugin =
    new graft.plugin.GraftPlugin {
      override def stageExtensions
          : Map[String, (com.fasterxml.jackson.databind.JsonNode,
            graft.op.Env) => org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.DataFrame] =
        Map("$doubleKey" -> ((_, _) => df =>
          df.withColumn("doubled", col("r_regionkey") * 2)))
      override def expressionExtensions
          : Map[String, (com.fasterxml.jackson.databind.JsonNode,
            graft.expr.Ctx) => org.apache.spark.sql.Column] =
        Map("$tagName" -> ((node, ctx) =>
          concat(lit("p-"), graft.expr.ExprCompiler.compile(node, ctx))))
      override def matchExtensions
          : Map[String, (org.apache.spark.sql.Column,
            com.fasterxml.jackson.databind.JsonNode,
            graft.expr.Ctx) => org.apache.spark.sql.Column] =
        Map("$evenKey" -> ((target, _, _) => target % 2 === 0))
      override def jsltFunctions
          : Map[String, Seq[com.fasterxml.jackson.databind.JsonNode] =>
            com.fasterxml.jackson.databind.JsonNode] =
        Map("shout" -> (args =>
          com.fasterxml.jackson.databind.node.TextNode.valueOf(
            args.head.asText() + "!")))
    }
}
