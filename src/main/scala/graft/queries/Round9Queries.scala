package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables

/** Round-9 representation benchmark (SURVEY §1.4): the same raw-topic
  * `$match`+`$project` shape over a JSON-string message column, once
  * through Spark 4 `parse_json`/`variant_get` (parse once into a variant,
  * extract typed fields) and once through `get_json_object` JSON-path
  * extraction (re-tokenizes the string per path). Identical results —
  * the DuckDB oracle reads the parquet directly — so the bench pair
  * isolates the representation cost. Numbers live in SCALING.md §variant.
  *
  * The raw frame mirrors what a topic carries (reference app1-style raw
  * messages): one JSON text per row, built here with `to_json(struct(*))`
  * over the events table so both engines agree on the payload bytes.
  */
object Round9Queries {

  /** Same replay as q_knn_ivf (MlQueries): the persisted-index path must
    * answer byte-for-byte what the in-memory IVF search answers — the
    * index directory only amortizes the build, never changes results.
    */
  private val ivfPersistedOracle = {
    import MlQueries.{normSql, cosSql}
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
        FROM ranked WHERE rank <= 3"""
  }

  private val oracle =
    """SELECT event_id, event_type, value
         FROM events WHERE value > 150.0 AND event_type <> 'error'"""

  /** events → one raw JSON string per row (the topic payload). */
  private def raw(spark: org.apache.spark.sql.SparkSession, sf: String) = {
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    ev.select(to_json(struct(ev.columns.map(col): _*)).as("msg"))
  }

  val all: Seq[Q] = Seq(
    Q.fn("q_raw_variant", oracle) { (spark, sf) =>
      // parse ONCE into a variant column, then typed extractions — the
      // engine's schemaless path (VariantDoc); casts via try_variant_get
      // so a malformed field is Mongo-style "no match", not an error
      raw(spark, sf)
        .select(call_function("parse_json", col("msg")).as("doc"))
        .select(
          call_function("try_variant_get", col("doc"), lit("$.event_id"),
            lit("long")).as("event_id"),
          call_function("try_variant_get", col("doc"), lit("$.event_type"),
            lit("string")).as("event_type"),
          call_function("try_variant_get", col("doc"), lit("$.value"),
            lit("double")).as("value"))
        .where(col("value") > 150.0 && col("event_type") =!= "error")
    },
    Q.fn("q_knn_ivf_persisted", ivfPersistedOracle) { (spark, sf) =>
      import graft.ml.Similarity.IvfIndex
      // index-build/query-serve split: train+assign ONCE to parquet, then
      // search the directory — results must equal the in-memory search.
      // `Q.stateDir` builds it once per source dir for the JVM's lifetime
      // (deleted on exit): Bench runs each query warmup+timed and Verify
      // again, and rebuilding the index per execution both litters /tmp
      // and times the build in a query meant to showcase amortized search
      val emb = Tables.load(spark, sf, "embeddings")
      val dir = Q.stateDir("graft-ivf-index", sf) { d =>
        IvfIndex.build(emb, "embedding", "vec_id", nlist = 8).save(d)
      }
      IvfIndex.load(spark, dir)
        .search(emb.where(col("vec_id") < 5), k = 3, nprobe = 2)
    },
    Q.fn("q_domain_temperature",
      """WITH d AS (SELECT doc_id,
                CASE WHEN source LIKE 'src1%' THEN 'big' ELSE source END
                  AS dom
              FROM documents WHERE source IS NOT NULL),
         cnt AS (SELECT dom, CAST(count(*) AS DOUBLE) AS n
                 FROM d GROUP BY 1),
         w AS (SELECT dom, n, pow(n, 0.5) AS wt FROM cnt),
         tot AS (SELECT sum(n) AS total, sum(wt) AS wsum FROM w),
         rate AS (SELECT dom,
                round(least(1.0, 0.5 * total * (wt / wsum) / n), 9) AS r
              FROM w CROSS JOIN tot)
         SELECT d.doc_id, d.dom
           FROM d JOIN rate USING (dom)
          WHERE ('0x'||substr(md5('mixT'||CAST(d.doc_id AS VARCHAR)),1,8))::BIGINT
                < CAST(round(r * 4294967296.0) AS BIGINT)""") {
      (spark, sf) =>
        // the testdata's sources are uniform; fold the src1x family into
        // one hot domain so the τ=0.5 flattening is non-vacuous
        val d = Tables.load(spark, sf, "documents")
          .withColumn("dom", when(col("source").startsWith("src1"),
            lit("big")).otherwise(col("source")))
        graft.ml.Curation.domainMixTemperature(
          d, "doc_id", "dom", temperature = 0.5, outputFraction = 0.5)
          .select(col("doc_id"), col("dom"))
    },
    Q.fn("q_raw_jsonpath", oracle) { (spark, sf) =>
      // JSON-path extraction straight off the string: each path walks the
      // text again (three tokenizations per row here)
      raw(spark, sf)
        .select(
          get_json_object(col("msg"), "$.event_id").cast(LongType)
            .as("event_id"),
          get_json_object(col("msg"), "$.event_type").as("event_type"),
          get_json_object(col("msg"), "$.value").cast(DoubleType)
            .as("value"))
        .where(col("value") > 150.0 && col("event_type") =!= "error")
    })
}
