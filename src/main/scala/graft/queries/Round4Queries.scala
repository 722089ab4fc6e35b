package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{Cdc, Io, ParquetCollectionIo}

/** Round-4 coverage: DuckDB oracles for surfaces that were previously
  * golden/ScalaTest-only — the collection sink's upsert/delete fold
  * (docs/streams.md:45-50), CDC envelope unwrapping (App.java:650-683),
  * and the expanded jq/JSLT language surface running as `$jq`/`$jslt`
  * stages.
  */
object Round4Queries {

  /** Collections live in throwaway temp dirs; topics are never touched. */
  private[queries] object NoIo extends Io {
    def source(spark: SparkSession, kind: String, name: String,
        options: Map[String, String]): DataFrame =
      throw new IllegalArgumentException(s"no source $kind/$name")
    def sink(kind: String, name: String, df: DataFrame, asString: Boolean,
        partId: String, options: Map[String, String]): Unit =
      throw new IllegalArgumentException(s"no sink $kind/$name")
  }

  val all: Seq[Q] = Seq(
    // -- toCollection upsert fold: two generations through the REAL
    // bucketed parquet sink; the second batch overwrites a key range
    Q.fn("q_collection_upsert",
      """SELECT o_orderkey AS _id,
                CASE WHEN o_orderkey <= 1000
                     THEN CAST(0 AS BIGINT)
                     ELSE CAST(trunc(o_totalprice) AS BIGINT) END AS total,
                CASE WHEN o_orderkey <= 1000 THEN 'X'
                     ELSE o_orderstatus END AS status
         FROM orders WHERE o_orderkey <= 3000""") { (spark, sf) =>
      val root = Q.tempDir("graft-q-coll").toString
      val io = new ParquetCollectionIo(spark, root, NoIo)
      val orders = Tables.load(spark, sf, "orders")
        .where(col("o_orderkey") <= 3000)
      io.upsert("st",
        orders.select(col("o_orderkey").as("_id"),
          col("o_totalprice").cast("long").as("total"),
          col("o_orderstatus").as("status")))
      io.upsert("st",
        orders.where(col("o_orderkey") <= 1000)
          .select(col("o_orderkey").as("_id"),
            lit(0L).as("total"), lit("X").as("status")))
      io.source(spark, "collection", "st")
    },

    // -- $delete semantics: seed a collection, delete a keyed subset via
    // the collection io's delete, read the survivors back
    Q.fn("q_collection_delete",
      """SELECT n_nationkey AS _id, n_name AS name
         FROM nation WHERE n_regionkey <> 1""") { (spark, sf) =>
      val root = Q.tempDir("graft-q-del").toString
      val io = new ParquetCollectionIo(spark, root, NoIo)
      val nation = Tables.load(spark, sf, "nation")
      io.upsert("n",
        nation.select(col("n_nationkey").as("_id"),
          col("n_name").as("name")))
      io.delete("n",
        nation.where(col("n_regionkey") === 1)
          .select(col("n_nationkey").as("_id")), Seq("_id"))
      io.source(spark, "collection", "n")
    },

    // -- CDC envelope unwrap: Debezium-style create + delete envelopes
    // (payload-wrapped for even ids, flattened for odd) → document stream
    Q.fn("q_cdc_unwrap",
      """WITH src AS (SELECT * FROM events WHERE event_id < 1000),
            creates AS (
              SELECT CAST(event_id AS VARCHAR) AS k, event_id AS id,
                     event_type AS t, FALSE AS deleted FROM src),
            deletes AS (
              SELECT CAST(event_id AS VARCHAR) AS k, event_id AS id,
                     CAST(NULL AS VARCHAR) AS t, TRUE AS deleted
              FROM src WHERE event_id % 10 = 0)
         SELECT * FROM creates UNION ALL SELECT * FROM deletes""") {
      (spark, sf) =>
        val ev = Tables.load(spark, sf, "events")
          .where(col("event_id") < 1000)
        val afterJson = to_json(struct(col("event_id").as("_id"),
          col("event_type").as("t")))
        val createBody = to_json(struct(lit("c").as("op"),
          afterJson.as("after")))
        val creates = ev.select(
          col("event_id").cast("string").as("key"),
          // even ids: payload-wrapped (Debezium), odd ids: flattened
          when(col("event_id") % 2 === 0,
            concat(lit("""{"payload":"""), createBody, lit("}")))
            .otherwise(createBody).as("value"))
        val deletes = ev.where(col("event_id") % 10 === 0).select(
          col("event_id").cast("string").as("key"),
          to_json(struct(lit("d").as("op"),
            to_json(struct(col("event_id").as("_id"))).as("before")))
            .as("value"))
        Cdc.unwrap(creates.unionByName(deletes)).select(
          col("key").as("k"),
          get_json_object(col("value"), "$._id").cast("long").as("id"),
          get_json_object(col("value"), "$.t").as("t"),
          coalesce(get_json_object(col("value"), "$._deleted")
            .cast("boolean"), lit(false)).as("deleted"))
    },

    // -- connected components over a candidate-pair edge list: the
    // dup-cluster step after LSH/SimHash pair generation. The synthetic
    // path graph (consecutive ids inside blocks of 7) has diameter 6, so
    // the label propagation genuinely iterates; the closed-form oracle is
    // component = id - id % 7.
    Q.fn("q_dedup_components",
      """SELECT doc_id AS id, CAST(doc_id - doc_id % 7 AS BIGINT) AS component
         FROM documents WHERE doc_id < 350""") { (spark, sf) =>
      val ids = Tables.load(spark, sf, "documents")
        .where(col("doc_id") < 350).select(col("doc_id"))
      val edges = ids
        .where(col("doc_id") % 7 =!= 6 && col("doc_id") < 349)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b"))
      graft.ml.Dedup.components(edges)
    },

    // -- the dedup prune plan: pairs → clusters → canonical keeper per
    // doc (same block-of-7 edge graph as q_dedup_components; docs ≥ 350
    // have no edges and keep themselves)
    Q.fn("q_dedup_keeplist",
      """SELECT doc_id,
                CAST(CASE WHEN doc_id < 350 THEN doc_id - doc_id % 7
                          ELSE doc_id END AS BIGINT) AS canonical_id,
                (doc_id >= 350 OR doc_id % 7 = 0) AS keep
         FROM documents""") { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
      val ids = docs.where(col("doc_id") < 350).select(col("doc_id"))
      val edges = ids
        .where(col("doc_id") % 7 =!= 6 && col("doc_id") < 349)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      graft.ml.Dedup.keepList(docs, "doc_id", edges)
    },

    // -- repetition / quality signals (Gopher-style corpus filters)
    Q.fn("q_text_repetition",
      """WITH t AS (
           SELECT doc_id, string_split(lower(text), ' ') AS w
           FROM documents WHERE doc_id < 300),
         s AS (SELECT doc_id, w, len(w) AS n, list_distinct(w) AS dw FROM t)
         SELECT doc_id,
           CAST(n AS INT) AS n_words,
           trunc((n - len(dw)) / n * 1000000) / 1000000.0 AS dup_word_frac,
           trunc(list_max(list_transform(dw,
             x -> len(list_filter(w, y -> y = x)))) / n * 1000000)
             / 1000000.0 AS top_word_frac,
           CASE WHEN n < 2 THEN 0.0 ELSE
             trunc(((n-1) - len(list_distinct(list_transform(
               generate_series(1, CAST(n-1 AS INT)),
               i -> w[i] || ' ' || w[i+1])))) / (n-1) * 1000000)
               / 1000000.0 END AS dup_bigram_frac,
           trunc(list_sum(list_transform(w, x -> len(x))) / n * 1000000)
             / 1000000.0 AS mean_word_len
         FROM s""") { (spark, sf) =>
      graft.ml.TextAnalysis.repetition(
        Tables.load(spark, sf, "documents").where(col("doc_id") < 300),
        "text")
        .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
          col("top_word_frac"), col("dup_bigram_frac"),
          col("mean_word_len"))
    },

    // -- REAL audio decode: synthesize PCM WAV bytes per row, decode
    // through the RIFF codec, derive duration/RMS/peak; the closed-form
    // oracle checks the whole encode→parse→feature path
    Q.fn("q_multimodal_audio",
      """SELECT event_id AS id, 'wav' AS format,
                8000 AS sample_rate, 1 AS channels, 8 AS n_samples,
                CAST(1 AS BIGINT) AS duration_ms,
                trunc(sqrt(17.5) * (event_id % 32) * 1000000) / 1000000.0
                  AS rms,
                CAST(7 * (event_id % 32) AS INT) AS peak,
                true AS decoded
         FROM events WHERE event_id < 500""") { (spark, sf) =>
      import spark.implicits._
      import graft.ml.Multimodal
      val packed = Tables.load(spark, sf, "events")
        .where(col("event_id") < 500)
        .select(col("event_id")).as[Long]
        .map { id =>
          val k = (id % 32).toInt
          val samples = Array.tabulate[Short](8)(i => (i * k).toShort)
          (id, Multimodal.Wav.encode(Multimodal.Wav.Audio(8000, 1, samples)))
        }.toDF("event_id", "payload")
        .withColumn("media_meta", struct(lit("wav").as("format"),
          octet_length(col("payload")).as("n_bytes")))
      Multimodal.decodeAudio(packed, "event_id")
    },

    // -- video-analog frame sampling: 6 fixed-size P6 frames per
    // payload, keep every 2nd, decode each through the real PPM codec
    Q.fn("q_multimodal_frames",
      """SELECT event_id * 10 + j AS doc_id, 'frames' AS format,
                1 AS width, 1 AS height, CAST(1 AS BIGINT) AS n_pixels,
                CAST((event_id + j) % 100 AS DOUBLE) AS mean_luma,
                true AS decoded
         FROM events, (VALUES (0), (2), (4)) AS f(j)
         WHERE event_id < 300""") { (spark, sf) =>
      import graft.ml.Multimodal
      // frame = 11-byte P6 header + 3 gray bytes (k<100 → single-byte chr)
      def frame(j: Int) = {
        val k = chr((col("event_id") + j) % 100)
        concat(lit("P6\n1 1\n255\n").cast("binary"),
          k.cast("binary"), k.cast("binary"), k.cast("binary"))
      }
      val packed = Tables.load(spark, sf, "events")
        .where(col("event_id") < 300)
        .select(col("event_id"),
          concat((0 until 6).map(frame): _*).as("payload"))
        .withColumn("media_meta", struct(lit("frames").as("format"),
          octet_length(col("payload")).as("n_bytes")))
      val frames = Multimodal.frameSample(packed, "event_id",
        frameBytes = 14, everyNth = 2)
        .withColumn("fid", col("event_id") * 10 + col("frame_idx"))
      Multimodal.decodeImages(frames, "fid", thumbW = 1, thumbH = 1)
        .drop("thumb_luma")
    },

    // -- BM25 keyword scoring over inverted-index candidates
    Q.fn("q_text_bm25",
      """WITH toks AS (
           SELECT doc_id, string_split(lower(text), ' ') AS w
           FROM documents),
         st AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM toks),
         q(term) AS (VALUES ('spark'), ('vector'), ('hash')),
         hits AS (
           SELECT doc_id, term, len(w) AS dl,
                  len(list_filter(w, x -> x = term)) AS tf
           FROM toks, q WHERE list_contains(w, term)),
         dfreq AS (SELECT term, count(*) AS df FROM hits GROUP BY term)
         SELECT doc_id,
           trunc(sum(
             ln(1 + (n - df + 0.5) / (df + 0.5))
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
           ) * 1000000) / 1000000.0 AS score
         FROM hits JOIN dfreq USING (term) CROSS JOIN st
         GROUP BY doc_id""") { (spark, sf) =>
      graft.ml.TextAnalysis.bm25(
        Tables.load(spark, sf, "documents"), "text", "doc_id",
        Seq("spark", "vector", "hash"))
    },

    // -- product quantization ADC search: per-subspace k-means codebooks
    // (seeded by lowest ids, one fixed-point Lloyd round), u8-scale
    // codes, asymmetric-distance top-3 — the oracle replays the ENTIRE
    // pipeline (train → encode → ADC) in SQL
    Q.fn("q_knn_pq",
      """WITH v AS (SELECT vec_id,
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
         scored AS (SELECT query_id, e.vec_id AS nb_id,
                           round(sum(d), 6) AS dist
                    FROM enc e JOIN qt USING(sub, code)
                    WHERE query_id <> e.vec_id
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
      Similarity.pqAdcTopK(emb, emb.where(col("vec_id") < 5), cb,
        "embedding", "vec_id", k = 3, m = 2, dim = 64)
    },

    // -- compound $group _id (document expression) + dotted extraction
    Q.pipe("q_group_compound", "orders",
      """[{"$group":{"_id":{"st":"$o_orderstatus",
                           "pr":"$o_orderpriority"},
                     "n":{"$count":{}},
                     "total_cents":{"$sum":{"$toLong":{"$round":
                       {"$multiply":["$o_totalprice",100]}}}}}},
          {"$project":{"st":"$_id.st","pr":"$_id.pr","n":1,
                       "total_cents":1,"_id":0}}]""",
      """SELECT o_orderstatus AS st, o_orderpriority AS pr,
                count(*) AS n,
                CAST(sum(CAST(round_even(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM orders GROUP BY 1, 2"""),

    // -- toTopic packing through the REAL Kafka sink shape: typed frames
    // get key-from-_id + JSON value, schemaless message frames pass
    // their value through untouched (no double-encoding)
    Q.fn("q_totopic_shape",
      """SELECT CAST(n_nationkey AS VARCHAR) AS key,
                to_json(struct_pack(
                  _id := CAST(n_nationkey AS VARCHAR),
                  n_name := n_name,
                  n_regionkey := n_regionkey))::VARCHAR AS value
         FROM nation
         UNION ALL
         SELECT 'r' || CAST(r_regionkey AS VARCHAR) AS key,
                '{"raw":' || CAST(r_regionkey AS VARCHAR) || '}' AS value
         FROM region""") { (spark, sf) =>
      val io = new graft.streaming.KafkaIo("none:9092")
      val typed = io.toKafkaShape(
        Tables.load(spark, sf, "nation").select(
          col("n_nationkey").cast("string").as("_id"),
          col("n_name"), col("n_regionkey")),
        asString = false)
      val message = io.toKafkaShape(
        Tables.load(spark, sf, "region").select(
          concat(lit("r"), col("r_regionkey")).as("key"),
          concat(lit("""{"raw":"""), col("r_regionkey"), lit("}"))
            .as("value")),
        asString = true)
      typed.unionByName(message)
    },

    // -- the round-4 jq surface as a $jq stage: split/sort/slice/join
    // pipelines, assignment, string functions
    Q.pipe("q_jq_builtins", "documents",
      """[{"$match":{"doc_id":{"$lt":200}}},
          {"$jq":{"script":
           "{ id: .doc_id, first2: (.text | split(\" \") | sort | .[0:2] | join(\"_\")), low: (.lang | ascii_downcase), n: (.text | split(\" \") | length) }",
           "schema":"id long, first2 string, low string, n long"}}]""",
      """SELECT doc_id AS id,
                array_to_string(list_sort(string_split(text, ' '))[1:2], '_') AS first2,
                lower(lang) AS low,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         FROM documents WHERE doc_id < 200"""),

    // -- the round-4 JSLT surface as a $jslt stage: sha256-hex,
    // starts-with, slices, sum, and/or
    Q.pipe("q_jslt_builtins", "region",
      """[{"$jslt":{"script":
           "{ \"rid\": .r_regionkey, \"sha\": sha256-hex(.r_name), \"sw\": starts-with(.r_name, \"A\"), \"head\": .r_name[0:2], \"both\": .r_regionkey >= 0 and .r_regionkey < 3 }",
           "schema":"rid long, sha string, sw boolean, head string, both boolean"}}]""",
      """SELECT r_regionkey AS rid,
                lower(sha256(r_name)) AS sha,
                r_name LIKE 'A%' AS sw,
                substr(r_name, 1, 2) AS head,
                r_regionkey >= 0 AND r_regionkey < 3 AS both
         FROM region""")
  )
}
