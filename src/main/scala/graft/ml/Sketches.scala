package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import Fns._

/** Mergeable cardinality / frequency / quantile sketches — the
  * approximate-counting layer a 100 TB pipeline runs where exact
  * `count(distinct)` is a full-corpus shuffle of the DISTINCT KEYS
  * themselves: daily unique users, per-shard distinct URLs,
  * heavy-hitter tokens, score-distribution percentiles. Four
  * structures, each as plain hash-aggregates (map-side combinable, no
  * custom state), each with its register/counter/bucket table exposed
  * so sketches PERSIST and MERGE across batches like the URL/band
  * standing indexes:
  *
  *  - HyperLogLog (Flajolet et al. 2007): per-bucket max of the
  *    leading-zero rank of a 32-bit hash; registers are `m = 2^p` rows
  *    per group, merge = per-bucket MAX (associative, idempotent —
  *    sketch(A ∪ B) ≡ merge(sketch(A), sketch(B)), spec-pinned).
  *  - KMV / bottom-k (Bar-Yossef et al. 2002): the k smallest distinct
  *    hash values per group via the bounded [[graft.expr.catalyst.TopKMin]]
  *    partial aggregate — each map task ships ≤ k entries per group.
  *    Exact below k (the estimator RETURNS the distinct count when the
  *    group holds fewer than k hashes), (k−1)·2^32/h₍k₎ above. Set
  *    OPERATIONS ride the same sketches ([[kmvOverlap]], Beyer et al.
  *    2007): per-side/union/intersection estimates and jaccard from
  *    two bottom-k aggregates, one-shot or from standing states.
  *  - Count-Min (Cormode & Muthukrishnan 2005): d×w counter grid over
  *    salted 32-bit hashes; point estimate = min over the d rows, an
  *    upper bound on the true count (never under, spec-pinned).
  *  - Log-bucketed quantile histogram ([[histBuckets]]): base-2
  *    octaves × 2^b sub-buckets from a pure-integer bucket function —
  *    the quantile sketch for UNBOUNDED value domains where
  *    [[Quantiles.frequencyQuantiles]]' exact table would approach
  *    corpus scale; merge = per-bucket SUM, ≤ 2^-b relative error,
  *    exact below 2^b.
  *
  * Bit-exactness contract (the tokenizer discipline): hashes are
  * [[Fns.h32]] (first 8 hex chars of md5) and its second-half sibling,
  * rank arithmetic is integer (`33 − length(bin(h))`), and the HLL
  * estimate is an EXACT INTEGER division — α_m is carried as a rational
  * (673/1000, 697/1000, 709/1000 for p = 4/5/6, else
  * 7213·1000m / (10000·(1000m + 1079))), the indicator sum is the
  * scaled integer `Σ 2^(33−M_j)` (≤ m·2^33, inside BIGINT), and the raw
  * estimate is one DECIMAL(38,0) integral division — so DuckDB replays
  * it with HUGEINT `//`. The small-range (linear counting,
  * `m·ln(m/V)`) and large-range (`−2^32·ln(1 − E/2^32)`) corrections
  * are doubles by nature; their BRANCH CONDITIONS are exact integer
  * comparisons, and the oracle corpora sit in the raw band (the
  * corrections are spec-tested against the same JVM `Math.log`).
  *
  * Scale shape: HLL is two hash-aggregates — (group, bucket) MAX then a
  * group SUM — so the exchange after the map-side combine carries at
  * most m rows per group whatever the corpus size; KMV ships ≤ k; the
  * CMS grid is d·w rows TOTAL (config-scale, broadcast back for
  * probes); and every input first collapses to the distinct-value
  * table where the operator allows (CMS counts need frequencies, so
  * the corpus pass is its one aggregate).
  */
object Sketches {

  /** Second 32-bit hash (hex chars 9-16 of md5) — independent of
    * [[Fns.h32]]'s first half; DuckDB:
    * `('0x'||substr(md5(s),9,8))::BIGINT`.
    */
  private def h32b(c: Column): Column =
    conv(substring(md5(c), 9, 8), 16, 10).cast(LongType)

  /** Pin the sketch parameters to a standing state directory — the
    * [[Similarity.IvfIndex.save]] meta discipline: the first
    * append writes `dir/meta`, every later append AND every read
    * validates against it, because a parameter mismatch (different p,
    * k, d or w) does not ERROR — it silently yields garbage estimates
    * (wrong buckets, inflated h₍k₎, probes landing on absent cells).
    */
  /** Pin fields added AFTER the state format shipped — the only ones
    * allowed to read as legacy 0 when absent from an existing meta.
    * Every field in the original format stays a hard error if missing.
    */
  private val metaLegacyZeroFields = Set("signed")

  private def metaValidate(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      fields: Seq[(String, Int)]): Unit = {
    val row = spark.read.parquet(s"$dir/meta").collect()(0)
    fields.foreach { case (name, v) =>
      // a pin field ABSENT from an existing meta is a state written
      // before that field existed: it reads as the legacy value 0 —
      // the compatibility contract for ADDING pin fields is that 0
      // must mean "what every pre-existing state was" (e.g.
      // signed=0 ⇔ the unsigned sketch, the only kind that existed
      // before the field). The fallback is restricted to the explicit
      // allowlist of LATER-ADDED fields: an original field missing
      // from the meta is not legacy state, it is a foreign or
      // truncated parquet — that must stay a hard error, or a
      // malformed meta could validate against a requested 0.
      // A mismatch still fails with the designed loud message, never
      // an opaque schema error.
      val stored =
        if (row.schema.fieldNames.contains(name)) row.getAs[Int](name)
        else {
          require(metaLegacyZeroFields.contains(name),
            s"sketch state at $dir has a meta pin missing required " +
              s"field '$name' — not a valid sketch state directory")
          0
        }
      require(stored == v,
        s"sketch state at $dir was built with $name=$stored, " +
          s"got $name=$v — estimates would be silently wrong")
    }
  }

  /** READ-path pin check: the meta MUST already exist. A read must
    * never write the pin — otherwise a mistyped or pre-meta state dir
    * gets permanently pinned to whatever parameters the FIRST READER
    * happened to pass, and every later (correct) appender fails
    * against the reader's typo instead of the other way round.
    */
  private[ml] def metaCheck(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      fields: Seq[(String, Int)]): Unit = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(metaPath),
      s"sketch state at $dir has no meta pin — not a sketch state " +
        "directory (or no batch was ever appended); refusing to read")
    metaValidate(spark, dir, fields)
  }

  /** APPEND-path pin: validate against an existing meta, or write it
    * via temp-dir + rename. Hadoop `rename` is NOT fail-if-exists
    * (renaming onto an existing directory can "succeed" by moving the
    * source INSIDE it, and LocalFileSystem's copy fallback also
    * returns true), so the rename result is deliberately ignored and
    * EVERY appender — winner or loser of a first-append race —
    * validates the surviving pin afterwards. A loser's temp that
    * landed inside `meta` is dot-prefixed, so Hadoop input listing
    * hides it from the parquet read; we best-effort delete it anyway.
    */
  private[ml] def metaCheckOrWrite(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      fields: Seq[(String, Int)]): Unit = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(metaPath)) {
      val tmp = new org.apache.hadoop.fs.Path(
        s"$dir/.meta-tmp-${java.util.UUID.randomUUID()}")
      spark.range(1)
        .select(fields.map { case (n, v) => lit(v).as(n) }: _*)
        .write.mode("overwrite").parquet(tmp.toString)
      try fs.rename(tmp, metaPath)
      catch { case _: java.io.IOException => () }
      if (fs.exists(tmp)) fs.delete(tmp, true)
      // a copy-fallback loser can leave its temp INSIDE meta
      try fs.listStatus(metaPath)
        .filter(_.getPath.getName.startsWith(".meta-tmp-"))
        .foreach(s => fs.delete(s.getPath, true))
      catch { case _: java.io.IOException => () }
      // single-writer case with a genuinely failed rename (e.g. an
      // IOException swallowed above with no surviving meta): fail HERE
      // with the designed loud pin message instead of surfacing later
      // as an opaque path-not-found from metaValidate's parquet read
      require(fs.exists(metaPath),
        s"failed to write sketch meta pin at $dir/meta")
    }
    metaValidate(spark, dir, fields)
  }

  private def checkP(p: Int): Unit =
    require(p >= 4 && p <= 16, s"hll: p must be in [4, 16], got $p")

  /** α_m as an exact rational (numerator, denominator), scaled so the
    * raw-estimate division stays integral.
    */
  private def alpha(m: Int): (BigInt, BigInt) = m match {
    case 16 => (BigInt(673), BigInt(1000))
    case 32 => (BigInt(697), BigInt(1000))
    case 64 => (BigInt(709), BigInt(1000))
    case _ =>
      (BigInt(7213) * 1000 * m, BigInt(10000) * (1000L * m + 1079))
  }

  /** The HLL register table of `df[valueCol]` per `groupCols`:
    * (group..., bucket INT, register INT) — bucket = h32 mod 2^p,
    * register = max over the bucket's values of the leading-zero rank
    * of the second 32-bit hash (1..33; absent buckets are implicit
    * zeros). ≤ 2^p rows per group; this is the PERSISTABLE, MERGEABLE
    * sketch state.
    */
  def hllRegisters(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], p: Int): DataFrame =
    // one register law, one implementation: the counted variant's
    // extra per-cell count is map-side-combined (effectively free)
    hllRegistersCounted(df, valueCol, groupCols, p).drop("rows")

  /** Fold a (possibly multi-batch) register table to one register per
    * (group, bucket): per-bucket MAX — associative and idempotent, so
    * deltas fold across batches, shards and days in any order.
    */
  def hllFold(registers: DataFrame, groupCols: Seq[String]): DataFrame =
    registers
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("register")).as("register"))

  /** Merge two register tables (same p, same group columns). */
  def hllMerge(a: DataFrame, b: DataFrame,
      groupCols: Seq[String]): DataFrame =
    hllFold(a.unionByName(b), groupCols)

  /** Append a batch's register DELTA to a standing sketch state
    * directory — the sketch mirror of the URL/band standing indexes,
    * but APPEND-ONLY BY CONSTRUCTION: because merge is a per-bucket
    * max, a batch contributes its own ≤ m-rows-per-group register
    * table and the fold happens at READ time ([[hllEstimateFromState]]),
    * so no batch ever rewrites another's rows (no read-modify-write
    * cycle, no overwrite-while-reading hazard). A rolling crawl calls
    * this once per batch; the state stays config-scale per batch
    * (m rows per group seen in that batch).
    */
  def appendHllState(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], p: Int, dir: String): Unit = {
    metaCheckOrWrite(df.sparkSession, dir, Seq("p" -> p))
    hllRegisters(df, valueCol, groupCols, p)
      .write.mode("append").parquet(s"$dir/registers")
  }

  /** Estimate from a standing state directory: fold all appended
    * deltas (one hash-aggregate over config-scale-per-batch rows),
    * then estimate — identical to the sketch of every batch's union,
    * by the merge law.
    */
  def hllEstimateFromState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      groupCols: Seq[String], p: Int): DataFrame = {
    metaCheck(spark, dir, Seq("p" -> p))
    hllEstimate(hllFold(spark.read.parquet(s"$dir/registers"),
      groupCols), groupCols, p)
  }

  /** Fixed-point natural log ln(x)·10⁹ for an integer column x ≥ 1 —
    * the atanh series made EXACT-REPLAYABLE: range-reduce by the bit
    * length (x = 2^(len−1)·y, y ∈ [1, 2)), z = (x − 2^(len−1))/(x +
    * 2^(len−1)) in 10⁹ fixed point, ln y ≈ 2·(z + z³/3 + z⁵/5 + z⁷/7 +
    * z⁹/9) with integral `div` at every step, plus (len−1)·⌊ln2·10⁹⌋.
    * Every intermediate is a non-negative BIGINT (x ≤ 2^16 keeps
    * z·10⁹ ≤ 3.4e8, squares ≤ 1.2e17), so DuckDB replays it with the
    * same `//` divisions bit for bit. Truncated-series error ≤ ~1e-6
    * relative (z ≤ 1/3) — far below linear counting's own noise, and
    * irrelevant to determinism since both engines run the SAME steps.
    */
  /** ⌊ln2·10⁹⌋ — the fixed-point scale [[hllEstimate]]'s linear
    * counting runs at. */
  private[graft] val Ln2Ppb = 693147180L

  /** The fixed-point linear-counting steps as (name, SQL) pairs over a
    * column `v`: range-reduce by bit length (v = 2^(len−1)·y,
    * y ∈ [1, 2)), z = (v − 2^(len−1))/(v + 2^(len−1)) in 10⁹ fixed
    * point, ln y ≈ 2·(z + z³/3 + z⁵/5 + z⁷/7 + z⁹/9) with integral
    * division at every step. `v` is clamped to `greatest(v, 1)` in
    * EVERY reference, so the columns are total and non-negative for
    * v ≥ 0 (a bare v = 0 would make __z1 = −10⁹ and the later
    * divisions inexact-negative, where Spark's truncating `div` and
    * DuckDB's flooring `//` differ by 1 — a trap for any consumer even
    * though the V = 0 rows never take the linear-counting branch).
    * With the clamp every intermediate is a non-negative BIGINT
    * (v ≤ 2^16 ⇒ z·10⁹ ≤ 3.4e8, squares ≤ 1.2e17), so truncating
    * `div` and flooring `//` agree bit for bit and the whole branch
    * replays in an oracle. Truncated-series error ≤ ~1e-6 relative
    * (z ≤ 1/3) — far below linear counting's own noise, and
    * irrelevant to determinism: both engines run the SAME steps.
    * Shared verbatim (modulo div/`<<` spelling) with the DuckDB
    * builder in SketchQueries.
    */
  private[graft] def lnSteps(v: String, div: String,
      shl: (String, String) => String): Seq[(String, String)] = {
    val g = s"greatest($v, CAST(1 AS BIGINT))"
    Seq(
      "__lh" -> shl("CAST(1 AS BIGINT)", s"length(bin($g)) - 1"),
      "__z1" -> s"(($g - __lh) * 1000000000) $div ($g + __lh)",
      "__zq" -> s"(__z1 * __z1) $div 1000000000",
      "__z3" -> s"(__z1 * __zq) $div 1000000000",
      "__z5" -> s"(__z3 * __zq) $div 1000000000",
      "__z7" -> s"(__z5 * __zq) $div 1000000000",
      "__z9" -> s"(__z7 * __zq) $div 1000000000",
      "__lnv" -> (s"2 * (__z1 + __z3 $div 3 + __z5 $div 5 + " +
        s"__z7 $div 7 + __z9 $div 9) + " +
        s"(CAST(length(bin($g)) AS BIGINT) - 1) * $Ln2Ppb"))
  }

  /** The Scala replay of [[lnSteps]] (spec cross-check): ln(v)·10⁹. */
  private[graft] def lnPpbScala(v: Long): Long = {
    require(v >= 1)
    val len = java.lang.Long.toBinaryString(v).length
    val h = 1L << (len - 1)
    val z1 = (v - h) * 1000000000L / (v + h)
    val zq = z1 * z1 / 1000000000L
    val z3 = z1 * zq / 1000000000L
    val z5 = z3 * zq / 1000000000L
    val z7 = z5 * zq / 1000000000L
    val z9 = z7 * zq / 1000000000L
    2 * (z1 + z3 / 3 + z5 / 5 + z7 / 7 + z9 / 9) +
      (len - 1).toLong * Ln2Ppb
  }

  /** Cardinality estimate from a register table:
    * (group..., hll_est BIGINT, zero_registers BIGINT). The raw
    * estimate is the exact integer
    * `⌊α_num·m²·2^33 / (α_den·Σ2^(33−M_j))⌋` (absent buckets contribute
    * 2^33); Flajolet's corrections apply on exact integer branch
    * conditions, and the SMALL-RANGE branch (linear counting,
    * `round(m·ln(m/V))`) is itself integer-exact via [[lnPpb]] —
    * `(m·(p·⌊ln2·10⁹⌋ − lnPpb(V)) + 5·10⁸) div 10⁹` — so per-group
    * estimates over small groups replay in DuckDB too. Only the
    * large-range branch (unreachable by real counts below ~143M
    * distinct; saturated-register states only) keeps the published
    * double form.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String],
      p: Int): DataFrame = {
    checkP(p)
    val m = 1 << p
    val (aNum, aDen) = alpha(m)
    val eNum = aNum * BigInt(m) * BigInt(m) * (BigInt(1) << 33)
    // fold first: an UNFOLDED multi-batch register table (duplicate
    // (group, bucket) rows) would otherwise inflate __nb past m and
    // double-count indicator terms — silently wrong, not an error.
    // Idempotent and config-scale on already-folded input.
    // coalesce: a zero-row global aggregate must estimate 0 (via the
    // V = m linear-counting branch), not propagate NULL.
    val agg = hllFold(registers, groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(coalesce(
          sum(expr("shiftleft(CAST(1 AS BIGINT), 33 - register)")),
          lit(0L)).as("__sp"),
        count(lit(1)).as("__nb"))
      .withColumn("zero_registers", lit(m.toLong) - col("__nb"))
      .withColumn("__s",
        col("__sp") + col("zero_registers") * lit(1L << 33))
      .withColumn("__raw", expr(
        s"CAST('$eNum' AS DECIMAL(38,0)) div " +
          s"(CAST('$aDen' AS DECIMAL(38,0)) * CAST(__s AS DECIMAL(38,0)))"))
    val twoP32 = 4294967296d
    // linear counting, integer-exact: round(m·ln(m/V)) =
    // (m·(p·ln2ppb − lnPpb(V)) + 5·10⁸) div 10⁹. The interim columns
    // are computed unconditionally (all total for V ≥ 0 — bin(0) is
    // "0", shifts and divisions stay in range) and consumed only on
    // the branch, exactly like the oracle's CASE.
    val withLn = lnSteps("zero_registers", "div",
      (a, b) => s"shiftleft($a, $b)")
      .foldLeft(agg) { case (d, (name, sql)) =>
        d.withColumn(name, expr(sql))
      }
      .withColumn("__lc", expr(
        // ln(m)·10⁹ precomputed in Scala: p·Ln2Ppb as INT literals
        // would overflow-wrap (8·693147180 > 2^31) under non-ANSI
        s"(CAST($m AS BIGINT) * (${p.toLong * Ln2Ppb} - __lnv) " +
          "+ 500000000) div 1000000000"))
    withLn
      .withColumn("hll_est",
        when(col("zero_registers") > 0 && col("__raw") <= lit(5L * m / 2),
          col("__lc"))
          .when(col("__raw") > lit((1L << 32) / 30) &&
              col("__raw") < lit(1L << 32),
            round(lit(-twoP32) *
              log(lit(1d) - col("__raw").cast("double") / lit(twoP32)))
              .cast("long"))
          .otherwise(col("__raw")))
      .select(groupCols.map(col) ++
        Seq(col("hll_est"), col("zero_registers")): _*)
  }

  /** One-call distinct estimate: registers → estimate. */
  def hllDistinct(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], p: Int): DataFrame =
    hllEstimate(hllRegisters(df, valueCol, groupCols, p), groupCols, p)

  /** KMV / bottom-k distinct estimate per group:
    * (group..., kmv_est BIGINT, kmv_kept BIGINT). Keeps the k smallest
    * DISTINCT h32 values via the bounded `top_k_min` partial aggregate;
    * a group with fewer than k distinct hashes reports its EXACT count
    * (kmv_kept < k flags the exact path), else ⌊(k−1)·2^32 / h₍k₎⌋.
    */
  def kmvDistinct(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], k: Int): DataFrame = {
    checkK(k)
    kmvEstimate(kmvHashes(df, valueCol, groupCols), groupCols, k)
  }

  private def checkK(k: Int): Unit =
    require(k >= 2 && k <= 65536, s"kmv: k must be in [2, 65536], got $k")

  /** The distinct (group..., __h) hash table every KMV path starts
    * from — ONE definition so the standing-state estimates can never
    * diverge from the one-shot [[kmvDistinct]].
    */
  private def kmvHashes(df: DataFrame, valueCol: Column,
      groupCols: Seq[String]): DataFrame =
    df.select(groupCols.map(col) :+ valueCol.cast("string").as("__v"): _*)
      .where(col("__v").isNotNull)
      .select(groupCols.map(col) :+ h32(col("__v")).as("__h"): _*)
      .distinct()

  /** Per-group bottom-k of a hash table: (group..., __arr). */
  private def kmvBottomK(hashes: DataFrame, groupCols: Seq[String],
      k: Int): DataFrame =
    hashes
      .groupBy(groupCols.map(col): _*)
      .agg(call_function("top_k_min", struct(col("__h")), lit(k))
        .as("__arr"))

  /** The estimate tail shared by [[kmvDistinct]] and [[kmvFromState]]:
    * per-group bottom-k over a distinct (group..., __h) hash table.
    */
  private def kmvEstimate(hashes: DataFrame, groupCols: Seq[String],
      k: Int): DataFrame =
    kmvBottomK(hashes, groupCols, k)
      .withColumn("kmv_kept", size(col("__arr")).cast("long"))
      // the k-th smallest hash is read only on the estimate branch
      // (CaseWhen evaluates lazily, so ANSI sessions never see an
      // out-of-bounds element_at on the exact path)
      .withColumn("kmv_est",
        when(col("kmv_kept") < k, col("kmv_kept"))
          .otherwise(expr(
            s"CAST(${(k - 1).toLong} * 4294967296 AS BIGINT) " +
              s"div greatest(element_at(__arr, $k).__h, " +
              "CAST(1 AS BIGINT))")))
      .select(groupCols.map(col) ++
        Seq(col("kmv_est"), col("kmv_kept")): _*)

  /** Append a batch's bottom-k DELTA to a standing KMV state directory:
    * the batch's own k smallest distinct hashes per group (≤ k rows per
    * group per batch). Append-only like [[appendHllState]] — the
    * bottom-k of a union is the bottom-k of the per-batch bottom-ks,
    * so the read-time fold ([[kmvFromState]]) re-takes k smallest over
    * all appended deltas.
    */
  def appendKmvState(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], k: Int, dir: String): Unit = {
    checkK(k)
    metaCheckOrWrite(df.sparkSession, dir, Seq("k" -> k))
    kmvBottomK(kmvHashes(df, valueCol, groupCols), groupCols, k)
      .select(groupCols.map(col) :+
        explode(col("__arr")).as("__s"): _*)
      .select(groupCols.map(col) :+ col("__s.__h").as("__h"): _*)
      .write.mode("append").parquet(s"$dir/hashes")
  }

  /** Distinct estimate from a standing KMV state directory: distinct
    * the appended hash deltas (duplicates across batches collapse),
    * re-take the per-group bottom-k, estimate — identical to
    * [[kmvDistinct]] over every batch's union.
    */
  def kmvFromState(spark: org.apache.spark.sql.SparkSession,
      dir: String, groupCols: Seq[String], k: Int): DataFrame = {
    checkK(k)
    metaCheck(spark, dir, Seq("k" -> k))
    kmvEstimate(
      spark.read.parquet(s"$dir/hashes")
        .select(groupCols.map(col) :+ col("__h"): _*).distinct(),
      groupCols, k)
  }

  /** KMV set-operation estimates between two keyed corpora — the
    * corpus-OVERLAP report (how much of crawl B is already in crawl A;
    * eval-set contamination at the id level; shard dedup planning)
    * without ever shuffling the distinct keys: per group,
    * (group..., a_est, b_est, union_est, inter_est, jaccard_ppm,
    * union_kept BIGINT).
    *
    * The classic KMV composition (Beyer et al. 2007, "On synopses for
    * distinct value estimation"): K(A∪B), the k smallest hashes of the
    * union, equals the k smallest of K(A) ∪ K(B) — and an x ∈ K(A∪B)
    * that belongs to A is necessarily in K(A) (fewer than k union
    * hashes sit below it, so fewer than k of A's do). So with
    * ρ = |{x ∈ K(A∪B) : x ∈ K(A) ∧ x ∈ K(B)}| / k,
    * |A∩B| ≈ ρ·|A∪B|̂ — here the integer `(matches·union_est) div k`.
    * When the union holds fewer than k distinct hashes everything is
    * EXACT: both sketches contain every element, so `matches` IS
    * |A∩B| and the estimates are the true counts.
    *
    * Scale shape: two bounded `top_k_min` corpus aggregates (≤ k rows
    * per group each side); everything after runs on the ≤ 2k-per-group
    * sketch union — the window is config-scale, never corpus-scale.
    * All arithmetic is integer, so the report replays in an oracle.
    */
  def kmvOverlap(a: DataFrame, aCol: Column, b: DataFrame, bCol: Column,
      groupCols: Seq[String], k: Int): DataFrame = {
    checkK(k)
    def side(df: DataFrame, c: Column, ina: Int): DataFrame =
      sideFromBottomK(kmvBottomK(kmvHashes(df, c, groupCols),
        groupCols, k), groupCols, ina)
    overlapFromSides(side(a, aCol, 1), side(b, bCol, 0), groupCols, k)
  }

  /** [[kmvOverlap]] from two STANDING state directories
    * ([[appendKmvState]]) — the production form: the overlap report of
    * two rolling crawls from their sketches alone, no corpus access.
    * Both states must have been built with this `k` (meta-pinned;
    * reads never write the pin).
    */
  def kmvOverlapFromStates(spark: org.apache.spark.sql.SparkSession,
      dirA: String, dirB: String, groupCols: Seq[String],
      k: Int): DataFrame = {
    checkK(k)
    metaCheck(spark, dirA, Seq("k" -> k))
    metaCheck(spark, dirB, Seq("k" -> k))
    def side(dir: String, ina: Int): DataFrame =
      sideFromBottomK(kmvBottomK(
        spark.read.parquet(s"$dir/hashes")
          .select(groupCols.map(col) :+ col("__h"): _*).distinct(),
        groupCols, k), groupCols, ina)
    overlapFromSides(side(dirA, 1), side(dirB, 0), groupCols, k)
  }

  private def sideFromBottomK(bk: DataFrame, groupCols: Seq[String],
      ina: Int): DataFrame =
    bk.select(groupCols.map(col) :+ explode(col("__arr")).as("__s"): _*)
      .select(groupCols.map(col) ++ Seq(col("__s.__h").as("__h"),
        lit(ina).as("__ina"), lit(1 - ina).as("__inb")): _*)

  /** The overlap estimator tail shared by the one-shot and
    * standing-state forms: flagged per-side sketches → merged union →
    * ranks → integer estimate CASEs.
    */
  private def overlapFromSides(sa: DataFrame, sb: DataFrame,
      groupCols: Seq[String], k: Int): DataFrame = {
    val merged = sa.unionByName(sb)
      .groupBy(groupCols.map(col) :+ col("__h"): _*)
      .agg(max(col("__ina")).as("__ina"), max(col("__inb")).as("__inb"))
    // <= 2k rows per group from here on: every window and aggregate is
    // config-scale. __rn ranks the union hashes; __rna/__rnb are each
    // side's rank (running count of that side's hashes in hash order).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy("__h")
    val ranked = merged
      .withColumn("__rn", row_number().over(w))
      .withColumn("__rna", sum(col("__ina")).over(w))
      .withColumn("__rnb", sum(col("__inb")).over(w))
    val agg = ranked
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(when(col("__rn") <= k, 1L).otherwise(0L)).as("union_kept"),
        max(when(col("__rn") === k, col("__h"))).as("__kthu"),
        sum(when(col("__rn") <= k && col("__ina") === 1 &&
          col("__inb") === 1, 1L).otherwise(0L)).as("__matches"),
        sum(col("__ina").cast("long")).as("__akept"),
        max(when(col("__ina") === 1 && col("__rna") === k, col("__h")))
          .as("__ktha"),
        sum(col("__inb").cast("long")).as("__bkept"),
        max(when(col("__inb") === 1 && col("__rnb") === k, col("__h")))
          .as("__kthb"))
    def est(kept: String, kth: String): String =
      s"CASE WHEN $kept < $k THEN $kept ELSE " +
        s"CAST(${(k - 1).toLong} * 4294967296 AS BIGINT) div " +
        s"greatest($kth, CAST(1 AS BIGINT)) END"
    agg
      .withColumn("a_est", expr(est("__akept", "__ktha")))
      .withColumn("b_est", expr(est("__bkept", "__kthb")))
      .withColumn("union_est", expr(est("union_kept", "__kthu")))
      .withColumn("inter_est", expr(
        s"CASE WHEN union_kept < $k THEN __matches " +
          s"ELSE (__matches * union_est) div $k END"))
      .withColumn("jaccard_ppm", expr(
        "__matches * 1000000 div greatest(union_kept, CAST(1 AS BIGINT))"))
      .select(groupCols.map(col) ++ Seq(col("a_est"), col("b_est"),
        col("union_est"), col("inter_est"), col("jaccard_ppm"),
        col("union_kept")): _*)
  }

  private def checkDw(d: Int, w: Int): Unit = {
    require(d >= 1 && d <= 16, s"cms: d must be in [1, 16], got $d")
    require(w >= 2 && w <= (1 << 20),
      s"cms: w must be in [2, 2^20], got $w")
  }

  /** The Count-Min counter grid of `df[valueCol]`: (row INT, col INT,
    * counter BIGINT), d·w cells total (absent cells are implicit
    * zeros). counter(i, j) = Σ count(v) over values with
    * h32(i||':'||v) mod w = j. Mergeable by cell-wise SUM. The corpus
    * collapses to the distinct-value frequency table first, so the
    * d-way expansion is distinct-value-scale, not corpus-scale.
    */
  /** The distinct-value frequency table a CMS build starts from — the
    * ONE corpus pass. */
  private def cmsFreq(df: DataFrame, valueCol: Column): DataFrame =
    df.select(valueCol.cast("string").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy(col("__v")).agg(count(lit(1)).as("__c"))

  /** Counter grid from an existing (__v, __c) frequency table —
    * distinct-value-scale work, no corpus pass. */
  private def cmsCountersFromFreq(freq: DataFrame, d: Int,
      w: Int): DataFrame =
    freq
      .select(col("__v"), col("__c"),
        explode(sequence(lit(0), lit(d - 1))).as("row"))
      .select(col("row").cast("int").as("row"),
        pmod(h32(concat(col("row").cast("string"), lit(":"), col("__v"))),
          lit(w.toLong)).cast("int").as("col"),
        col("__c"))
      .groupBy(col("row"), col("col"))
      .agg(sum(col("__c")).as("counter"))

  def cmsCounters(df: DataFrame, valueCol: Column, d: Int,
      w: Int): DataFrame = {
    checkDw(d, w)
    cmsCountersFromFreq(cmsFreq(df, valueCol), d, w)
  }

  /** Fold a (possibly multi-batch) counter table: cell-wise SUM —
    * associative, so grids fold across batches and shards.
    */
  def cmsFold(counters: DataFrame): DataFrame =
    counters.groupBy(col("row"), col("col"))
      .agg(sum(col("counter")).as("counter"))

  /** Append a batch's counter DELTA to a standing CMS state directory
    * (d·w rows per batch); the read-time fold ([[cmsFromState]]) is
    * the cell-wise sum — append-only like [[appendHllState]], counts
    * accumulate across batches without any read-modify-write.
    */
  def appendCmsState(df: DataFrame, valueCol: Column, d: Int, w: Int,
      dir: String): Unit = {
    checkDw(d, w)
    metaCheckOrWrite(df.sparkSession, dir, Seq("d" -> d, "w" -> w))
    cmsCounters(df, valueCol, d, w)
      .write.mode("append").parquet(s"$dir/counters")
  }

  /** The folded counter grid of a standing state directory; `d`/`w`
    * are validated against the state's pinned parameters (a mismatch
    * would probe absent cells and UNDERestimate — the one direction
    * Count-Min promises never to err in).
    */
  def cmsFromState(spark: org.apache.spark.sql.SparkSession,
      dir: String, d: Int, w: Int): DataFrame = {
    checkDw(d, w)
    metaCheck(spark, dir, Seq("d" -> d, "w" -> w))
    cmsFold(spark.read.parquet(s"$dir/counters"))
  }

  /** Point estimates from a counter grid for the probe values in
    * `probes[probeCol]`: adds `cms_est` = min over the d rows of the
    * value's cell — an UPPER BOUND on the true count (Count-Min never
    * underestimates). The grid broadcasts (d·w rows, config-scale);
    * the probe expansion is d rows per probe.
    */
  def cmsEstimate(counters: DataFrame, probes: DataFrame,
      probeCol: String, d: Int, w: Int): DataFrame = {
    checkDw(d, w)
    probes
      .select(probes.columns.map(col) :+
        explode(sequence(lit(0), lit(d - 1))).as("__i"): _*)
      .withColumn("__j",
        pmod(h32(concat(col("__i").cast("string"), lit(":"),
          col(probeCol).cast("string"))), lit(w.toLong)).cast("int"))
      .join(broadcast(counters),
        col("__i") === col("row") && col("__j") === col("col"), "left")
      .groupBy(probes.columns.map(col): _*)
      .agg(min(coalesce(col("counter"), lit(0L))).as("cms_est"))
  }

  /** Heavy hitters with sketch-estimated counts: the values whose EXACT
    * frequency reaches `minCount` (the gate's ground truth), each with
    * its Count-Min estimate — (value STRING, exact_count BIGINT,
    * cms_est BIGINT), est ≥ exact always.
    */
  def cmsHeavyHitters(df: DataFrame, valueCol: Column, d: Int, w: Int,
      minCount: Long): DataFrame = {
    checkDw(d, w)
    // ONE corpus aggregate feeds both the grid and the probe set (the
    // pin keeps physical planning from re-running the corpus pass per
    // consumer leg — the dedupUrlsAgainstIndex lesson)
    val freq = CacheLifecycle.pin(cmsFreq(df, valueCol))
    val probes = freq.where(col("__c") >= minCount)
      .select(col("__v").as("value"), col("__c").as("exact_count"))
    cmsEstimate(cmsCountersFromFreq(freq, d, w), probes, "value", d, w)
  }

  // --------------------------------------------------------------------
  // Log-bucketed quantile histogram — the mergeable quantile sketch for
  // UNBOUNDED value domains. [[Quantiles.frequencyQuantiles]] is exact
  // and right when the value domain is bounded (lengths, token counts),
  // but its frequency table IS the distinct-value table: for
  // continuous-ish metrics a 100 TB pipeline needs (classifier scores,
  // perplexities, embedding norms — fixed-point-scaled to integers, the
  // repo-wide convention) that table approaches corpus scale. This
  // sketch caps the state at ≤ 63·2^b + 1 buckets per group whatever
  // the domain: HDR-histogram-style base-2 buckets with `b` sub-bucket
  // bits (Gray et al.'s "HdrHistogram" layout; also DDSketch's
  // log-bucket idea, Masson et al. 2019, with an exactly-replayable
  // integer bucket function instead of a double log).
  //
  // Bucket function (v ≥ 1; v = 0 gets the reserved bucket 0):
  //   len  = bit length of v            -- length(bin(v)), both engines
  //   shift = max(len − 1 − b, 0)
  //   sub  = (v − 2^(len−1)) >> shift   -- the b bits below the MSB
  //   bucket = len·2^b + sub
  // Every step is integer (bin/shift/greatest — identical in Spark and
  // DuckDB), so sketches and quantile reads replay bit for bit in an
  // oracle. Relative bucket width ≤ 2^−b (sub-buckets split [2^(len−1),
  // 2^len) into 2^b equal integer ranges; below 2^b every value has its
  // own bucket — EXACT). The reported quantile is the containing
  // bucket's LOWER BOUND: a deterministic under-estimate within
  // 2^−b·q_true, decodable from the bucket id alone.
  //
  // Merge = per-bucket SUM of counts (associative, commutative), so the
  // state appends per batch and folds at read time like the other three
  // sketches; `dir/meta` pins `b` (a mismatch re-buckets into the wrong
  // grid and silently mis-reports — the same loud-failure discipline).
  // --------------------------------------------------------------------

  private def checkB(b: Int): Unit =
    require(b >= 0 && b <= 12,
      s"hist: b (sub-bucket bits) must be in [0, 12], got $b")

  /** The bucket-id SQL over a non-negative BIGINT column `v` (see the
    * layout note above) — an expr string so the variable-distance
    * shifts stay column-typed (the Scala `shiftleft` helper only takes
    * an Int literal) and so the DuckDB oracle can replay the SAME
    * spelling modulo the shift operators.
    */
  private[graft] def histBucketSql(v: String, b: Int): String =
    s"""CASE WHEN $v = 0 THEN CAST(0 AS BIGINT)
        ELSE CAST(length(bin($v)) AS BIGINT) * ${1L << b} +
          shiftright($v - shiftleft(CAST(1 AS BIGINT),
              length(bin($v)) - 1),
            greatest(length(bin($v)) - 1 - $b, 0))
        END"""

  /** Decode a bucket id back to its lower bound (the reported
    * quantile value).
    */
  private[graft] def histLowerBoundSql(bucket: String, b: Int): String =
    s"""CASE WHEN $bucket = 0 THEN CAST(0 AS BIGINT)
        ELSE shiftleft(CAST(1 AS BIGINT),
            CAST($bucket div ${1L << b} AS INT) - 1) +
          shiftleft($bucket % ${1L << b},
            greatest(CAST($bucket div ${1L << b} AS INT) - 1 - $b, 0))
        END"""

  /** The histogram bucket table of `df[valueCol]` per `groupCols`:
    * (group..., bucket BIGINT, cnt BIGINT) — ≤ 63·2^b + 1 rows per
    * group whatever the value domain. Null and NEGATIVE values are
    * excluded (the sketch is defined over non-negative integers —
    * fixed-point-scale signed metrics before sketching). This is the
    * PERSISTABLE, MERGEABLE sketch state.
    */
  def histBuckets(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], b: Int): DataFrame = {
    checkB(b)
    df.select(groupCols.map(col) :+ valueCol.cast("long").as("__v"): _*)
      .where(col("__v").isNotNull && col("__v") >= 0)
      .select(groupCols.map(col) :+
        expr(histBucketSql("__v", b)).as("bucket"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Fold a (possibly multi-batch) bucket table: per-bucket SUM —
    * associative, so histograms fold across batches, shards and days.
    */
  def histFold(buckets: DataFrame, groupCols: Seq[String]): DataFrame =
    buckets
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Per-group quantiles from a bucket table:
    * (group..., q_permille INT, quantile_lo BIGINT) — quantile_lo is
    * the LOWER BOUND of the bucket holding the q-th value (the
    * [[Quantiles.frequencyQuantiles]] rank rule, `cum·1000 ≥ q·n`,
    * applied to buckets). Folds first, so multi-batch tables are
    * safe; the window runs over the ≤ 63·2^b + 1 folded buckets per
    * group — config-scale, NEVER corpus- or domain-scale.
    */
  def histQuantiles(buckets: DataFrame, groupCols: Seq[String], b: Int,
      qPermille: Seq[Int]): DataFrame =
    histQuantilesWith(buckets, groupCols, qPermille,
      histLowerBoundSql(_, b), b)

  /** The extraction shared by the non-negative and signed forms —
    * identical cumulative rank rule, parameterized decode.
    */
  private def histQuantilesWith(buckets: DataFrame,
      groupCols: Seq[String], qPermille: Seq[Int],
      decode: String => String, b: Int): DataFrame = {
    checkB(b)
    require(qPermille.nonEmpty, "histQuantiles: no quantiles")
    require(qPermille.forall(q => q >= 0 && q <= 1000),
      "histQuantiles: per-mille points must be in [0, 1000]")
    val folded = histFold(buckets, groupCols)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy("bucket")
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    folded
      .withColumn("__cum", sum(col("cnt")).over(w))
      .withColumn("__n", sum(col("cnt")).over(wg))
      .select(groupCols.map(col) ++ Seq(col("bucket"), col("__cum"),
        col("__n"),
        explode(array(qPermille.distinct.sorted.map(q => lit(q)): _*))
          .as("q_permille")): _*)
      .where(col("__cum") * 1000 >= col("q_permille") * col("__n"))
      .groupBy(groupCols.map(col) :+ col("q_permille"): _*)
      .agg(min(col("bucket")).as("__b"))
      .select(groupCols.map(col) ++ Seq(col("q_permille"),
        expr(decode("__b")).as("quantile_lo")): _*)
  }

  /** One-call sketched quantiles: corpus → buckets → quantiles. */
  def histQuantilesOf(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], b: Int, qPermille: Seq[Int]): DataFrame =
    histQuantiles(histBuckets(df, valueCol, groupCols, b), groupCols,
      b, qPermille)

  /** Append a batch's bucket DELTA to a standing histogram state
    * directory (≤ 63·2^b + 1 rows per group per batch); the read-time
    * fold is the per-bucket sum — append-only like the other three
    * sketch states, no read-modify-write.
    */
  def appendHistState(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], b: Int, dir: String): Unit = {
    checkB(b)
    // signedness is part of the pin: folding signed deltas into an
    // unsigned state (or vice versa) would silently mis-decode
    metaCheckOrWrite(df.sparkSession, dir, Seq("b" -> b, "signed" -> 0))
    histBuckets(df, valueCol, groupCols, b)
      .write.mode("append").parquet(s"$dir/buckets")
  }

  /** Quantiles from a standing histogram state directory: fold all
    * appended deltas, then extract — identical to the sketch of every
    * batch's union, by the merge law. Requires the meta pin (read
    * paths never write it).
    */
  def histQuantilesFromState(spark: org.apache.spark.sql.SparkSession,
      dir: String, groupCols: Seq[String], b: Int,
      qPermille: Seq[Int]): DataFrame = {
    checkB(b)
    metaCheck(spark, dir, Seq("b" -> b, "signed" -> 0))
    histQuantiles(spark.read.parquet(s"$dir/buckets"), groupCols, b,
      qPermille)
  }

  // --------------------------------------------------------------------
  // SIGNED-metric quantile sketch — the two-sided store (the DDSketch
  // negative-store idea): bucket(v) = histBucket(v) for v ≥ 0 and
  // −histBucket(−v) for v < 0. The map is ORDER-PRESERVING (more
  // negative → smaller bucket id), so quantile extraction is the same
  // cumulative rank rule, and each SIDE keeps the ≤ 2^-b RELATIVE
  // error — which is why this beats the obvious "offset everything to
  // non-negative" transform: an offset of 2^62 would log-bucket the
  // SHIFTED magnitudes, quantizing every realistic centered metric
  // (logits, centered scores) into a single bucket. Fold/merge is the
  // same per-bucket sum, so multi-batch tables stay safe. Domain:
  // |v| < 2^62 (values beyond are excluded like nulls — fixed-point-
  // scale down before sketching; the bound keeps the negative-side
  // upper-bound decode `−lo(|bucket|+1)+1` inside BIGINT).
  // --------------------------------------------------------------------

  private[graft] def histBucketSignedSql(v: String, b: Int): String =
    s"""CASE WHEN $v >= 0 THEN (${histBucketSql(v, b)})
        ELSE -(${histBucketSql(s"(-($v))", b)}) END"""

  /** Decode a signed bucket id to the bucket's lower bound: for a
    * negative bucket −k covering v ∈ [−hi(k)+1, −lo(k)] the lower
    * bound is −hi(k)+1, where hi(k) = lo(k+1) (bucket ids are dense).
    */
  private[graft] def histLowerBoundSignedSql(bucket: String,
      b: Int): String =
    s"""CASE WHEN $bucket >= 0 THEN (${histLowerBoundSql(bucket, b)})
        ELSE -(${histLowerBoundSql(s"((-($bucket)) + 1)", b)}) + 1
        END"""

  /** The signed histogram bucket table: (group..., bucket BIGINT —
    * possibly negative, cnt BIGINT), ≤ 2·(63·2^b) + 1 rows per group.
    * Null values and |v| ≥ 2^62 are excluded (see the domain note
    * above). Mergeable with [[histFold]] like the non-negative form.
    */
  def histBucketsSigned(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], b: Int): DataFrame = {
    checkB(b)
    df.select(groupCols.map(col) :+ valueCol.cast("long").as("__v"): _*)
      .where(col("__v").isNotNull &&
        col("__v") > lit(-(1L << 62)) && col("__v") < lit(1L << 62))
      .select(groupCols.map(col) :+
        expr(histBucketSignedSql("__v", b)).as("bucket"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-group quantiles from a SIGNED bucket table — same rank rule
    * and output shape as [[histQuantiles]]; quantile_lo can be
    * negative.
    */
  def histQuantilesSigned(buckets: DataFrame, groupCols: Seq[String],
      b: Int, qPermille: Seq[Int]): DataFrame =
    histQuantilesWith(buckets, groupCols, qPermille,
      histLowerBoundSignedSql(_, b), b)

  /** One-call signed sketched quantiles. */
  def histQuantilesSignedOf(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], b: Int, qPermille: Seq[Int]): DataFrame =
    histQuantilesSigned(histBucketsSigned(df, valueCol, groupCols, b),
      groupCols, b, qPermille)

  /** Append a batch's SIGNED bucket delta to a standing state
    * directory — [[appendHistState]]'s two-sided form; the meta pins
    * `b` AND signedness, so a signed/unsigned mix-up fails loudly
    * instead of silently mis-decoding.
    */
  def appendHistStateSigned(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], b: Int, dir: String): Unit = {
    checkB(b)
    metaCheckOrWrite(df.sparkSession, dir, Seq("b" -> b, "signed" -> 1))
    histBucketsSigned(df, valueCol, groupCols, b)
      .write.mode("append").parquet(s"$dir/buckets")
  }

  /** Signed quantiles from a standing state directory — fold all
    * appended deltas, then extract with the sign-aware decode.
    * Requires the signed meta pin (read paths never write it).
    */
  def histQuantilesSignedFromState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      groupCols: Seq[String], b: Int, qPermille: Seq[Int]): DataFrame = {
    checkB(b)
    metaCheck(spark, dir, Seq("b" -> b, "signed" -> 1))
    histQuantilesSigned(spark.read.parquet(s"$dir/buckets"), groupCols,
      b, qPermille)
  }

  /** [[hllRegisters]] WITH per-(group, bucket) row counts — the
    * one-aggregate form of "exact row total + HLL registers from the
    * same scan" the sketched corpus report uses: every non-null input
    * row lands in exactly one (group, bucket) cell, so per group
    * `sum(rows)` is the EXACT row count while `max` builds the
    * registers — one scan, one map-side-combinable shuffle, ≤ m rows
    * per group.
    */
  def hllRegistersCounted(df: DataFrame, valueCol: Column,
      groupCols: Seq[String], p: Int): DataFrame = {
    checkP(p)
    val m = 1 << p
    val h2 = h32b(col("__v"))
    df.select(groupCols.map(col) :+ valueCol.cast("string").as("__v"): _*)
      .where(col("__v").isNotNull)
      .select(groupCols.map(col) ++ Seq(
        pmod(h32(col("__v")), lit(m.toLong)).cast("int").as("bucket"),
        when(h2 === 0, 33)
          .otherwise(lit(33) - length(bin(h2))).cast("int")
          .as("__r")): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("__r")).as("register"), count(lit(1)).as("rows"))
  }

  // --------------------------------------------------------------------
  // Incremental corpus data card — the standing-state form of the
  // all-sketch report (q_corpus_report_sketched): a rolling crawl
  // appends each batch's two config-scale deltas, and the card is
  // produced at READ time by folding the states only — NO corpus scan.
  // Both deltas are mergeable by the established laws (doc-bucket
  // counts and register row-counts are additive; registers fold by
  // per-bucket max), so the incremental card EQUALS the one-shot card
  // over the batches' union — which is what lets the one-shot report's
  // oracle gate this path.
  // --------------------------------------------------------------------

  /** Append one corpus batch's data-card deltas to a standing state
    * directory: `docbuckets` — the per-(group, length-bucket) doc
    * counts INCLUDING a null bucket for out-of-domain lengths (so
    * n_docs stays the full batch count, unlike [[histBuckets]] which
    * defines the sketch domain only), and `tokregs` — the
    * counted-register token HLL delta. The meta pins p AND b: folding
    * deltas built on a different register count or bucket grid would
    * silently mis-estimate, never error.
    */
  def appendCorpusCardState(batch: DataFrame, textCol: String,
      langCol: String, lenCol: Column, p: Int, b: Int,
      dir: String): Unit = {
    checkP(p); checkB(b)
    metaCheckOrWrite(batch.sparkSession, dir, Seq("p" -> p, "b" -> b))
    batch.select(col(langCol), lenCol.cast(LongType).as("__v"))
      .groupBy(col(langCol),
        when(col("__v").isNotNull && col("__v") >= 0,
          expr(histBucketSql("__v", b))).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .write.mode("append").parquet(s"$dir/docbuckets")
    hllRegistersCounted(
      batch.select(col(langCol),
        explode(filter(tokens(col(textCol)), t => t =!= ""))
          .as("__tok")),
      col("__tok"), Seq(langCol), p)
      .write.mode("append").parquet(s"$dir/tokregs")
  }

  /** The data card folded purely from a standing card state — per
    * group: n_docs, n_tokens (exact, from the counted registers),
    * hll_est distinct tokens, and histogram length quantiles
    * (p50_lo / p90_lo lower bounds). Read-time cost is two folds over
    * config-scale delta tables; the corpus is never touched (the
    * PlanSpec pin asserts no documents FileScan).
    */
  def corpusReportFromStates(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      langCol: String, p: Int, b: Int): DataFrame = {
    checkP(p); checkB(b)
    metaCheck(spark, dir, Seq("p" -> p, "b" -> b))
    val db = spark.read.parquet(s"$dir/docbuckets")
      .groupBy(col(langCol), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    val base = db.groupBy(col(langCol)).agg(sum("cnt").as("n_docs"))
    val qx = histQuantiles(db.where(col("bucket").isNotNull),
        Seq(langCol), b, Seq(500, 900))
      .groupBy(col(langCol)).agg(
        max(when(col("q_permille") === 500, col("quantile_lo")))
          .as("p50_lo"),
        max(when(col("q_permille") === 900, col("quantile_lo")))
          .as("p90_lo"))
    val regs = spark.read.parquet(s"$dir/tokregs")
      .groupBy(col(langCol), col("bucket"))
      .agg(max(col("register")).as("register"),
        sum(col("rows")).as("rows"))
    val nTok = regs.groupBy(col(langCol))
      .agg(sum("rows").as("n_tokens"))
    val hll = hllEstimate(
        regs.select(col(langCol), col("bucket"), col("register")),
        Seq(langCol), p)
      .select(col(langCol), col("hll_est").as("hll_tokens"))
    base.join(nTok, Seq(langCol)).join(hll, Seq(langCol))
      .join(qx, Seq(langCol))
  }
}
