package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.op.Pipeline

/** One driver-checked query: a pipeline (or arbitrary function) over the
  * TESTDATA tables plus an optional DuckDB oracle (see Verify.scala and the
  * builder contract). Oracle-less entries get a rows-only check.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  /** Lenient Mongo semantics need non-ANSI evaluation (invalid cast → null,
    * division by zero → null) — matches the reference's JSON-land behavior.
    */
  def session(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.caseSensitive", "true")
    // Mongo's $arrayToObject / map semantics: a later duplicate key WINS
    // (Spark's default policy throws on duplicates)
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // If events.ts is parquet TIMESTAMP(NANOS), read it as epoch-nanos
    // long instead of failing; a micros file is unaffected and arrives as
    // TIMESTAMP. Queries never assume either shape — they normalize via
    // Tables.tsNanos / Tables.tsTimestamp.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.expr.catalyst.GraftFunctions.register(spark)
  }

  def pipe(name: String, table: String, pipelineJson: String,
      oracle: String): Q =
    Q(name,
      (spark, sfDir) => {
        session(spark)
        Pipeline.run(Tables.load(spark, sfDir, table), pipelineJson,
          Tables.env(spark, sfDir))
      },
      Option(oracle).filter(_.nonEmpty))

  /** A fresh temp directory under `prefix`, deleted (recursively) when
    * the JVM exits — for gate-built indexes and state a gate keeps
    * between its own executions.
    */
  private[queries] def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      import java.nio.file.{Files => F}
      import scala.jdk.CollectionConverters._
      F.walk(d).iterator.asScala.toSeq.reverse.foreach(F.deleteIfExists)
    }
    d
  }

  def fn(name: String, oracle: String)(
      f: (SparkSession, String) => DataFrame): Q =
    Q(name, (spark, sfDir) => { session(spark); f(spark, sfDir) },
      Option(oracle).filter(_.nonEmpty))

  /** Scalar-ize an id-sequence frame for a driver gate: the driver's
    * pandas-based checker cannot sort a top-level `array<bigint>`
    * column (it threw `unhashable type` on the r14 `*_encode_ids`
    * gates before comparing anything), so gates posexplode
    * `(id, tok_pos, piece_ids)` to one row per piece —
    * `(id, tok_pos, piece_pos, piece_id)`. The array-returning
    * OPERATORS keep their production contract; only the gate
    * projection flattens.
    */
  def explodePieceIds(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(col(idCol), col("tok_pos"),
        posexplode(col("piece_ids")).as(Seq("piece_pos", "piece_id")))
      .withColumn("piece_pos", col("piece_pos").cast("long"))
  }
}
