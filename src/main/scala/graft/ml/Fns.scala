package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared columnar building blocks for the training-data-pipeline operators
  * (dedup, similarity, text analysis). Everything here is a deterministic
  * Catalyst expression — no UDFs, no RNG — so results are reproducible
  * across engines (the DuckDB oracles replay the same formulas) and across
  * cluster topologies (no partition-order dependence).
  */
object Fns {

  /** Deterministic unsigned-32-bit string hash: first 8 hex chars of md5.
    * Codegen'd; identical in DuckDB as ('0x'||substr(md5(s),1,8))::BIGINT.
    */
  def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  /** UTF-8 byte (== Unicode code point) ordering for DRIVER-side string
    * sorts and tie-breaks whose result a Spark `orderBy` or a DuckDB
    * `ORDER BY` must reproduce: Java's natural String order compares
    * UTF-16 code units, which diverges for supplementary-plane
    * characters (a surrogate pair's lead unit 0xD800-0xDBFF sorts
    * BELOW the 0xE000-0xFFFF BMP range, while its UTF-8 bytes 0xF0..
    * sort ABOVE every BMP char's bytes). Spark's UTF8String and DuckDB
    * both compare raw UTF-8 bytes, so driver-side vocabulary id
    * assignment and merge tie-breaks must too, or non-BMP corpora get
    * silently different ids/merges than the oracle.
    */
  val utf8BytesOrdering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b)

  /** The precomputed sort key for [[utf8BytesOrdering]]. */
  def utf8Key(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** One-off comparison form of the same order. Vocabulary-sized
    * driver sorts should precompute the key instead —
    * `.sortBy(utf8Key)(utf8BytesOrdering)` — one encode per element
    * rather than two per comparison (n vs ~2·n·log n encodes at the
    * 2^22 vocabulary cap).
    */
  val utf8Ordering: Ordering[String] = Ordering.by(utf8Key)(utf8BytesOrdering)

  /** Lower-cased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Lower-cased WHITESPACE-RUN tokens with empties dropped — the
    * Gopher/C4 "word" definition (Rae et al. 2021 count whitespace
    * words, so a token never spans a newline and runs of spaces never
    * mint empty words). Distinct from [[tokens]] (single-space split),
    * which the shingle/DSIR/BPE families keep for replay stability.
    */
  def wsTokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Distinct k-word shingles of the token array. O(1) `get` accesses per
    * shingle. IMPORTANT: pass a *materialized column* (projected in a prior
    * select), not an inline `split(...)` expression — Catalyst inlines
    * sub-expressions into each lambda access, re-splitting the text per
    * shingle (measured 3-7x slower).
    */
  def shingles(toks: Column, k: Int): Column =
    // guard: sequence(0, negative) counts DOWN in Spark — docs shorter
    // than k words have no shingles
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", (0 until k).map(j => get(toks, i + j)): _*))))

  /** Smallest prime > 2^32: modulus for the MinHash permutations. */
  val MinhashPrime = 4294967311L

  /** LSH band keys: `b:mh[3b],mh[3b+1],mh[3b+2]` per band of r rows. */
  def bandKeys(sig: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b =>
        concat_ws(":", b.cast(StringType),
          concat_ws(",", (0 until r).map(j => get(sig, b * r + j)): _*)))

  /** Polynomial rolling fingerprint of the token sequence (order-sensitive,
    * unlike SimHash): acc = (acc*31 + h32(tok)) mod 1e15+7.
    */
  def rollingFingerprint(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => (acc * 31 + h32(t)) % 1000000000000007L)

  /** Cast a float embedding to double (all similarity math in f64 so the
    * oracle's arithmetic matches bit-for-bit).
    */
  def f64(emb: Column): Column = transform(emb, x => x.cast(DoubleType))

  /** Sequential-order dot product: a native codegen'd Expression
    * (graft.expr.catalyst.DotProduct, registered per session by
    * Q.session/GraftFunctions) — Spark's HOF chain (zip_with+aggregate)
    * is CodegenFallback and interprets per element. Same summation order,
    * bit-identical results.
    */
  def dot(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  /** Project (id, nv) where nv is the L2-normalized f64 embedding. Norms
    * are computed ONCE per row (materialized column between selects), so
    * pairwise similarity downstream is a plain dot product — at 100 TB the
    * normalize pass is linear and the quadratic pair stage does 1/3 of the
    * flops of cosine-per-pair.
    */
  def normalized(df: org.apache.spark.sql.DataFrame, embCol: String,
      idCol: String, as: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), f64(col(embCol)).as("__e"))
      .select(col(idCol), col("__e"), sqrt(dot(col("__e"), col("__e"))).as("__n"))
      .select(col(idCol), transform(col("__e"), x => x / col("__n")).as(as))

  /** Rounded dot product of pre-normalized vectors. */
  def ndot6(a: Column, b: Column): Column = round(dot(a, b), 6)

  /** Cardinality probe capped at `cap`: min(count, cap+1). Small caps use
    * a limit probe (short-circuits; the GlobalLimit single-partition
    * funnel is harmless at ≤1M ints); large caps use the distributed
    * count (a GlobalLimit of 10⁹ rows would funnel them all through ONE
    * task — strictly worse than counting).
    */
  def atMost(df: org.apache.spark.sql.DataFrame, cap: Long): Long = {
    val capped = math.min(cap + 1, Int.MaxValue.toLong)
    if (capped <= 1000000) df.select(lit(1)).limit(capped.toInt).count()
    else math.min(df.count(), capped)
  }

  /** Collect a driver-resident frame (config-scale data: vocabularies,
    * suffix lists, per-source plans) of at most `cap` rows, refusing a
    * larger one with `msg`. `limit(cap + 1)` makes an exactly-cap-sized
    * input legal and a larger one provably truncated.
    */
  def collectAtMost(df: org.apache.spark.sql.DataFrame, cap: Int)(
      msg: => String): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(cap + 1).collect()
    require(rows.length <= cap, msg)
    rows
  }
}
