package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Fns._

/** Unigram-LM (SentencePiece-style) tokenizer training and encoding —
  * the other half of the tokenizer story next to [[Bpe]] (Kudo 2018,
  * "Subword Regularization: Improving Neural Network Translation Models
  * with Multiple Subword Candidates", and the public SentencePiece
  * design): a vocabulary of pieces with unigram probabilities, trained
  * by EM over the corpus, segmenting each word with Viterbi under the
  * product-of-probabilities objective.
  *
  * This implementation is the HARD-EM (Viterbi-EM) variant: the E-step
  * assigns each word its single best segmentation under the current
  * probabilities and the M-step re-estimates piece probabilities from
  * the (word-frequency-weighted) piece counts along those paths. Soft
  * EM's forward-backward marginals need transcendental-free arithmetic
  * nowhere — hard EM's argmax + integer counts do, which is what makes
  * every round REPLAYABLE bit-for-bit in any SQL engine.
  *
  * Bit-exactness contract (the same discipline as
  * [[Classifier]]'s fixed-point training):
  *   - probabilities are FIXED-POINT parts-per-million integers,
  *     `p_ppm = floor(count * 10^6 / total)` — integer division, no
  *     floats anywhere;
  *   - a segmentation's score is the exact rational
  *     `prod(p_ppm) / 10^6^k` (k pieces), compared by integer
  *     cross-multiplication `a * 10^6^kb <=> b * 10^6^ka` — no logs,
  *     no rounding, so ties are EXACT and broken deterministically by
  *     (fewer pieces, then the lexicographically smaller space-joined
  *     piece sequence). The order is extension-invariant away from
  *     zeros (appending a common suffix multiplies both scores by the
  *     same factor, adds the same k, and appends the same string — a
  *     path is never a string-prefix of a different same-position
  *     path because both concatenate to the same character prefix);
  *     a 0-probability extension collapses strict score orders into
  *     ties, so [[viterbi]] runs TWO DP chains (positive-only full
  *     order + all-paths (k, path)) and still reproduces the
  *     brute-force argmax exactly — see its scaladoc.
  *
  * Scale shape (the [[Bpe.bpeTrain]] argument): tokenizer state is a
  * function of the word DISTRIBUTION, not the token stream — the corpus
  * collapses ONCE to the distinct (word, freq) table, each EM round is
  * one `mapPartitions` Viterbi pass over that table against the
  * broadcast vocabulary (config-scale, `require`-bounded) plus one
  * partial-aggregated piece count, and encoding joins the per-word
  * results back to token occurrences by word equi-key. 100 TB of text
  * costs one vocabulary aggregation up front; every round after is
  * vocabulary-sized.
  */
object Unigram {

  /** One vocabulary entry: the piece, its last-E-step count, and its
    * fixed-point probability in parts per million.
    */
  final case class Piece(piece: String, cnt: Long, pPpm: Long)

  private val P = BigInt(1000000)

  /** All substring pieces of a word up to length `maxLen`, one entry
    * per OCCURRENCE (the standard seed-vocabulary statistic).
    */
  private def substrPieces(w: Column, maxLen: Int): Column =
    flatten(transform(sequence(lit(1), length(w)),
      i => transform(sequence(lit(0), least(lit(maxLen - 1), length(w) - i)),
        l => w.substr(i, l + lit(1)))))

  /** Train a unigram-LM vocabulary: seed with every single character
    * plus the `seedSize` most frequent multi-character substrings
    * (length ≤ `maxPieceLen`, occurrence count ≥ `minCount`, ties on
    * (count DESC, piece ASC)), then run `emRounds` hard-EM rounds.
    * Returns (piece, cnt, p_ppm) — config-scale output; `cnt` is the
    * final E-step's weighted count (the seed occurrence count when
    * `emRounds == 0`). Single-character pieces always stay in the
    * vocabulary, so every word segments.
    */
  def unigramTrain(df: DataFrame, textCol: String, maxPieceLen: Int = 3,
      seedSize: Int = 40, minCount: Long = 2, emRounds: Int = 2,
      /** SentencePiece's SHRINK loop (hard-EM flavor): after each
        * round's E-step, keep only the `pruneTo` highest-count
        * multi-character pieces (ties (count DESC, piece ASC)) plus
        * every single character, and renormalize over the survivors —
        * the vocabulary converges toward the target size as rounds
        * proceed instead of carrying dead seed pieces forever.
        */
      pruneTo: Option[Int] = None): DataFrame =
    trainLoop(df, textCol, maxPieceLen, seedSize, minCount, emRounds,
      pruneTo, soft = false)

  private def trainLoop(df: DataFrame, textCol: String,
      maxPieceLen: Int, seedSize: Int, minCount: Long, emRounds: Int,
      pruneTo: Option[Int], soft: Boolean): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"unigramTrain: maxPieceLen must be in [1, 16], got $maxPieceLen")
    require(seedSize >= 1 && seedSize <= 65536,
      s"unigramTrain: seedSize must be in [1, 65536], got $seedSize")
    require(emRounds >= 0 && emRounds <= 64,
      s"unigramTrain: emRounds must be in [0, 64], got $emRounds")
    pruneTo.foreach(v => require(v >= 1 && v <= 65536,
      s"unigramTrain: pruneTo must be in [1, 65536], got $v"))
    val spark = df.sparkSession
    import spark.implicits._
    val words = wordTable(df, textCol)
    val sub = words
      .select(explode(substrPieces(col("__w"), maxPieceLen)).as("__p"),
        col("__f"))
      .groupBy("__p").agg(sum("__f").as("__c"))
    val chars = sub.where(length(col("__p")) === 1)
    val multi = sub
      .where(length(col("__p")) >= 2 && col("__c") >= minCount)
      .orderBy(col("__c").desc, col("__p")).limit(seedSize)
    val seeded = chars.unionByName(multi).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(seeded.length <= 65536 + seedSize,
      s"unigramTrain: alphabet too large (${seeded.length} seed pieces); " +
        "restrict the corpus or raise the bound deliberately")
    var vocab: Seq[Piece] = normalize(seeded.toSeq)
    (1 to emRounds).foreach { _ =>
      val vm = vocab.map(p => p.piece -> p.pPpm).toMap
      val bc = spark.sparkContext.broadcast(vm)
      val maxLen = maxPieceLen
      val counts = words.as[(String, Long)]
        .mapPartitions { it =>
          if (soft)
            it.flatMap { case (w, f) =>
              // c ≤ len(w)·10⁶ — multiplyExact fails LOUDLY instead
              // of wrapping on a pathological megaword × megafrequency
              expectedCounts(w, bc.value, maxLen)
                .iterator.map { case (p, c) =>
                  (p, Math.multiplyExact(c, f))
                }
            }
          else
            it.flatMap { case (w, f) =>
              viterbi(w, bc.value, maxLen).map(p => (p, f))
            }
        }
        .toDF("__p", "__f").groupBy("__p").agg(sum("__f").as("__c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val counted = vocab.map(p => (p.piece, counts.getOrElse(p.piece, 0L)))
      vocab = normalize(pruneTo match {
        case None => counted
        case Some(v) =>
          counted.filter(_._1.length == 1) ++
            counted.filter(_._1.length >= 2)
              .sortBy { case (piece, c) => (-c, Fns.utf8Key(piece)) }(
                Ordering.Tuple2(Ordering.Long, Fns.utf8BytesOrdering))
              .take(v)
      })
    }
    vocab.map(p => (p.piece, p.cnt, p.pPpm))
      .toDF("piece", "cnt", "p_ppm")
  }

  /** Viterbi-encode the corpus against a trained vocabulary: per
    * document, the segmentable-token count, the total piece count, and
    * a replayable path checksum (the sum over token occurrences of
    * `h32(word || ':' || space-joined pieces)`) — the checksum pins the
    * exact segmentations, not just their lengths. `vocab` maps piece →
    * p_ppm ([[unigramTrain]]'s output); single characters missing from
    * it segment as probability-0 fallback pieces, so encoding is total.
    * Returns (idCol, n_tokens, n_pieces, path_hash).
    */
  def unigramEncode(df: DataFrame, textCol: String, idCol: String,
      vocab: Seq[(String, Long)], maxPieceLen: Int = 3): DataFrame = {
    require(vocab.nonEmpty, "unigramEncode: empty vocabulary")
    require(vocab.size <= (1 << 22),
      s"unigramEncode: vocabulary too large (${vocab.size})")
    val spark = df.sparkSession
    import spark.implicits._
    val vm = vocab.toMap
    val bc = spark.sparkContext.broadcast(vm)
    val maxLen = maxPieceLen
    val toks = df.select(col(idCol),
      explode_outer(filter(tokens(col(textCol)), t => t =!= ""))
        .as("__word"))
    val enc = toks.where(col("__word").isNotNull)
      .select(col("__word")).distinct().as[String]
      .mapPartitions { it =>
        it.map { w =>
          val pieces = viterbi(w, bc.value, maxLen)
          (w, pieces.length.toLong, h32s(w + ":" + pieces.mkString(" ")))
        }
      }.toDF("__word", "__np", "__ph")
    toks.join(enc, Seq("__word"), "left")
      .groupBy(col(idCol))
      .agg(sum(when(col("__word").isNull, 0L).otherwise(1L))
          .as("n_tokens"),
        sum(coalesce(col("__np"), lit(0L))).as("n_pieces"),
        sum(coalesce(col("__ph"), lit(0L))).as("path_hash"))
  }

  /** SOFT-EM training — the real SentencePiece E-step (Kudo 2018 §3.2:
    * expected piece counts over ALL segmentations, not just the Viterbi
    * one) in the same bit-exact integer discipline as [[unigramTrain]]:
    * per word, the forward-backward marginals are EXACT BigInt sums of
    * common-power-normalized path scores (`prod(p_ppm) ·
    * 10⁶^(len−k)` — every full path of a length-n word shares the
    * denominator 10⁶ⁿ, so scores ADD as integers), and the expected
    * count of a piece is the exact rational `num/den` floored to
    * parts-per-million. Counts are therefore in 1e-6-occurrence QUANTA
    * (the `cnt` column; renormalization is scale-invariant, so `p_ppm`
    * is comparable with the hard-EM form). A word whose every
    * segmentation scores 0 contributes nothing (den = 0 — no mass to
    * distribute). Same seeding, same optional [[unigramTrain]]
    * `pruneTo` shrink step, same scale shape: one `mapPartitions`
    * forward-backward pass per round over the pinned distinct-word
    * table against the broadcast vocabulary.
    */
  def unigramTrainSoft(df: DataFrame, textCol: String,
      maxPieceLen: Int = 3, seedSize: Int = 40, minCount: Long = 2,
      emRounds: Int = 2, pruneTo: Option[Int] = None): DataFrame =
    trainLoop(df, textCol, maxPieceLen, seedSize, minCount, emRounds,
      pruneTo, soft = true)

  /** Per-word expected piece counts in ppm quanta: forward scores
    * `A(j) = Σ_{segs of w[0,j)} prod(p)·P^(j−k)`, backward scores
    * `B(i)` symmetric, `den = A(n)`, and for every vocab span (i, j)
    * the occupancy `A(i)·p·P^(L−1)·B(j)` adds to the span's piece.
    * Returns (piece → floor(num·10⁶/den)); empty when den = 0.
    */
  private[graft] def expectedCounts(w: String, vocab: Map[String, Long],
      maxPieceLen: Int): Map[String, Long] = {
    val n = w.length
    if (n == 0) return Map.empty
    val P6 = BigInt(1000000)
    def pOf(piece: String): Option[BigInt] =
      if (piece.length == 1) Some(BigInt(vocab.getOrElse(piece, 0L)))
      else vocab.get(piece).map(BigInt(_))
    val a = new Array[BigInt](n + 1)
    val b = new Array[BigInt](n + 1)
    var i = 0
    while (i <= n) { a(i) = BigInt(0); b(i) = BigInt(0); i += 1 }
    a(0) = BigInt(1); b(n) = BigInt(1)
    var j = 1
    while (j <= n) {
      var s = math.max(0, j - maxPieceLen)
      while (s < j) {
        pOf(w.substring(s, j)).foreach { p =>
          a(j) += a(s) * p * P6.pow(j - s - 1)
        }
        s += 1
      }
      j += 1
    }
    i = n - 1
    while (i >= 0) {
      var e = math.min(n, i + maxPieceLen)
      while (e > i) {
        pOf(w.substring(i, e)).foreach { p =>
          b(i) += p * P6.pow(e - i - 1) * b(e)
        }
        e -= 1
      }
      i -= 1
    }
    val den = a(n)
    if (den.signum == 0) return Map.empty
    val num = scala.collection.mutable.Map.empty[String, BigInt]
    i = 0
    while (i < n) {
      var e = math.min(n, i + maxPieceLen)
      while (e > i) {
        val piece = w.substring(i, e)
        pOf(piece).foreach { p =>
          val occ = a(i) * p * P6.pow(e - i - 1) * b(e)
          if (occ.signum != 0)
            num(piece) = num.getOrElse(piece, BigInt(0)) + occ
        }
        e -= 1
      }
      i += 1
    }
    num.iterator
      .map { case (p, nm) => p -> ((nm * P6) / den).toLong }
      .filter(_._2 != 0L).toMap
  }

  /** Render a run of unknown pieces as UTF-8 byte ids (0..255). Runs
    * are concatenated BEFORE encoding so a supplementary-plane
    * character whose surrogate halves the UTF-16-indexed DP split into
    * two adjacent unknown "chars" re-unites into its real 4-byte UTF-8
    * sequence instead of two replacement bytes.
    */
  private[ml] def utf8ByteIds(run: String): Seq[Long] =
    run.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => (b & 0xff).toLong).toSeq

  /** Production id-sequence encoding: one row per token occurrence,
    * `(idCol, tok_pos, piece_ids)` — the array a training pipeline
    * actually ingests. Piece ids are the 0-based LEXICOGRAPHIC
    * (UTF-8-byte-order) rank of the piece within `vocab`
    * (deterministic across runs and engines; persist the (piece, id)
    * table next to the vocabulary). Unknown single-character fallback
    * pieces encode as id −1 (the caller's <unk>). Tokens sit at their
    * position within the FILTERED token array; docs with no tokens
    * emit no rows.
    *
    * With `byteFallback = true` (the SentencePiece `--byte_fallback`
    * contract: no token is ever <unk>), ids 0..255 are reserved for
    * raw UTF-8 bytes and vocabulary ranks shift by 256; a maximal run
    * of adjacent unknown pieces emits the UTF-8 bytes of the
    * concatenated run (see [[utf8ByteIds]] for why runs, not pieces).
    *
    * Same scale shape as [[unigramEncode]]: Viterbi once per DISTINCT
    * word against the broadcast vocabulary, ids equi-joined back to
    * the (id, pos, word) occurrences.
    */
  def unigramEncodeIds(df: DataFrame, textCol: String, idCol: String,
      vocab: Seq[(String, Long)], maxPieceLen: Int = 3,
      byteFallback: Boolean = false): DataFrame = {
    require(vocab.nonEmpty, "unigramEncodeIds: empty vocabulary")
    require(vocab.size <= (1 << 22),
      s"unigramEncodeIds: vocabulary too large (${vocab.size})")
    val spark = df.sparkSession
    import spark.implicits._
    val vm = vocab.toMap
    val ids = vocab.map(_._1).distinct
      .sortBy(Fns.utf8Key)(Fns.utf8BytesOrdering).zipWithIndex
      .map { case (p, i) => p -> i.toLong }.toMap
    val bcV = spark.sparkContext.broadcast(vm)
    val bcI = spark.sparkContext.broadcast(ids)
    val maxLen = maxPieceLen
    val fallback = byteFallback
    val toks = df.select(col(idCol),
      posexplode(filter(tokens(col(textCol)), t => t =!= "")))
      .toDF(idCol, "tok_pos", "__word")
    val enc = toks.select(col("__word")).distinct().as[String]
      .mapPartitions { it =>
        val idOf = bcI.value
        it.map { w =>
          val pieces = viterbi(w, bcV.value, maxLen)
          val out: Seq[Long] =
            if (!fallback) pieces.map(p => idOf.getOrElse(p, -1L))
            else {
              val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
              val run = new java.lang.StringBuilder
              def flush(): Unit = if (run.length > 0) {
                buf ++= utf8ByteIds(run.toString); run.setLength(0)
              }
              pieces.foreach { p =>
                idOf.get(p) match {
                  case Some(r) => flush(); buf += 256L + r
                  case None => run.append(p)
                }
              }
              flush()
              buf.toSeq
            }
          (w, out)
        }
      }.toDF("__word", "piece_ids")
    toks.join(enc, Seq("__word"))
      .select(col(idCol), col("tok_pos").cast("long").as("tok_pos"),
        col("piece_ids"))
  }

  /** Tokenizer fertility report per registrable domain — the
    * evaluation a tokenizer team ships with a trained vocabulary:
    * WHERE does the tokenizer fragment badly? Per domain (heuristic
    * keying by default, full publicsuffix.org semantics when a rules
    * table is supplied — [[Curation.withRegistrableDomain]]), the
    * document count, exact token and piece sums, and the fixed-point
    * fertility `fert_ppm = floor(pieces * 10^6 / tokens)` (pieces per
    * token in parts per million — integer division, so the report
    * replays bit-for-bit; 0 when a domain has no tokens). Docs with no
    * parseable host report under the null domain.
    *
    * Plan shape: [[unigramEncode]]'s distinct-word pass + one id
    * equi-join to the narrow url→domain map + one hash aggregate on
    * the domain key — config-scale output, no window, no product.
    */
  def fertilityByDomain(df: DataFrame, textCol: String, idCol: String,
      urlCol: String, vocab: Seq[(String, Long)], maxPieceLen: Int = 3,
      psl: Option[DataFrame] = None): DataFrame =
    fertilityOver(df, textCol, idCol,
      Curation.withRegistrableDomain(
        df.select(col(idCol), col(urlCol))
          .withColumn("__host", Curation.extractHost(col(urlCol))),
        "__host", psl)
        .select(col(idCol), col("domain")),
      "domain", vocab, maxPieceLen)

  /** [[fertilityByDomain]] generalized to ANY provenance column
    * already on the frame — the multilingual form groups by language
    * (pieces-per-token by language is THE standard multilingual
    * tokenizer-health metric: a vocabulary trained mostly on one
    * language fragments the others, and this report shows where).
    */
  def fertilityByKey(df: DataFrame, textCol: String, idCol: String,
      keyCol: String, vocab: Seq[(String, Long)],
      maxPieceLen: Int = 3): DataFrame =
    fertilityOver(df, textCol, idCol,
      df.select(col(idCol), col(keyCol)), keyCol, vocab, maxPieceLen)

  /** Shared fertility rollup: encode, join the (id → key) provenance
    * frame, one hash-aggregate per key.
    */
  private def fertilityOver(df: DataFrame, textCol: String,
      idCol: String, keys: DataFrame, keyName: String,
      vocab: Seq[(String, Long)], maxPieceLen: Int): DataFrame = {
    val enc = unigramEncode(df, textCol, idCol, vocab, maxPieceLen)
    enc.join(keys, Seq(idCol))
      .groupBy(keyName)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_pieces").as("n_pieces"))
      // staged base-1000 floor split: floor(np·10⁶/nt) = q·10⁶ +
      // a1·10³ + floor(r1·10³/nt) with r = np mod nt, a1 =
      // floor(r·10³/nt), r1 = r·10³ mod nt — a naive np·10⁶ wraps
      // 64 bits past ~9.2e12 pieces in one domain (well inside a
      // 100 TB corpus); every staged intermediate stays ≤ nt·10³
      // (the domainLinkQuality staged-floor family)
      .withColumn("fert_ppm", when(col("n_tokens") === 0, lit(0L))
        .otherwise(expr(
          """(n_pieces div n_tokens) * CAST(1000000 AS BIGINT)
             + ((n_pieces % n_tokens) * 1000 div n_tokens) * 1000
             + ((n_pieces % n_tokens) * 1000 % n_tokens) * 1000
               div n_tokens""")))
  }

  /** Persist a trained vocabulary ([[unigramTrain]]'s output frame) as
    * the deployable tokenizer ARTIFACT: the piece table plus a meta
    * file pinning `maxPieceLen` — encoding with a different span limit
    * than training silently changes segmentations, so the artifact
    * carries it (the [[Dedup.buildBandIndex]] meta discipline).
    */
  def saveVocab(spark: org.apache.spark.sql.SparkSession,
      vocab: DataFrame, maxPieceLen: Int, dir: String): Unit = {
    vocab.select("piece", "cnt", "p_ppm")
      .write.mode("overwrite").parquet(s"$dir/pieces")
    spark.range(1)
      .select(lit(maxPieceLen).as("max_piece_len"))
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a [[saveVocab]] artifact: the (piece → p_ppm) list in
    * lexicographic order (so downstream id assignment is reproducible
    * from the artifact alone) and the pinned `maxPieceLen`.
    */
  def loadVocab(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Seq[(String, Long)], Int) = {
    val m = spark.read.parquet(s"$dir/meta").collect()(0)
      .getAs[Int]("max_piece_len")
    val rows = collectAtMost(
      spark.read.parquet(s"$dir/pieces").select("piece", "p_ppm"),
      1 << 22)(s"loadVocab: vocabulary too large (${(1 << 22) + 1})")
    (rows.map(r => r.getString(0) -> r.getLong(1)).toSeq
      .sortBy(r => Fns.utf8Key(r._1))(Fns.utf8BytesOrdering), m)
  }

  /** [[unigramEncode]] against a persisted [[saveVocab]] artifact —
    * the standing-pipeline form (train once, encode every batch).
    */
  def encodeWithVocabDir(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val (vocab, maxLen) = loadVocab(spark, dir)
    unigramEncode(df, textCol, idCol, vocab, maxLen)
  }

  /** [[unigramEncodeIds]] against a persisted [[saveVocab]] artifact —
    * the standing-pipeline id-sequence form (train once, encode every
    * batch), byte-fallback capable. Ids are reproducible from the
    * artifact alone (load re-sorts by UTF-8 bytes).
    */
  def encodeIdsWithVocabDir(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, textCol: String, idCol: String,
      byteFallback: Boolean = false): DataFrame = {
    val (vocab, maxLen) = loadVocab(spark, dir)
    unigramEncodeIds(df, textCol, idCol, vocab, maxLen, byteFallback)
  }

  /** The pinned distinct (word, freq) table. */
  private def wordTable(df: DataFrame, textCol: String): DataFrame =
    CacheLifecycle.pin(df
      .select(explode(filter(tokens(col(textCol)), t => t =!= ""))
        .as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__f")))

  /** Fixed-point renormalization: `p_ppm = floor(cnt * 10^6 / total)`
    * over the vocabulary's counts (exact integer division — BigInt
    * product so corpus-scale counts cannot overflow).
    */
  private def normalize(pieces: Seq[(String, Long)]): Seq[Piece] = {
    val total = pieces.iterator.map(p => BigInt(p._2)).sum
    pieces.map { case (piece, c) =>
      val p = if (total <= 0) 0L else (BigInt(c) * P / total).toLong
      Piece(piece, c, p)
    }
  }

  /** `Fns.h32` replayed driver/executor-side: the first 4 md5 bytes as
    * an unsigned 32-bit value (identical to DuckDB's
    * `('0x'||substr(md5(s),1,8))::BIGINT`).
    */
  private[graft] def h32s(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** The exact-argmax Viterbi segmentation of one word under the
    * fixed-point vocabulary: maximize `prod(p_ppm) / 10^6^k`, ties to
    * fewer pieces then the lexicographically smaller space-joined
    * sequence. Multi-character pieces must be IN the vocabulary;
    * single characters fall back to probability 0 when absent, so
    * every word has a segmentation.
    *
    * TWO DP chains, because the full order is extension-invariant
    * only away from zeros (multiplying two strictly-ordered positive
    * scores by a 0-probability piece collapses them into a tie that
    * the (k, path) tie-break may resolve the OTHER way — a single
    * best-prefix DP diverges from the brute-force order there, which
    * the UnigramSpec property sweep caught):
    *   - the POSITIVE chain keeps the best all-positive prefix under
    *     the full (score, k, path) order — positive paths only extend
    *     positive prefixes, strict order and ties are both preserved
    *     under a common positive extension, and any positive full
    *     path beats every zero-score one;
    *   - the ALL-PATHS chain keeps the best prefix under (k, path)
    *     alone — exactly the order that decides among zero-score
    *     paths, where the score is identically 0.
    * The answer is the positive chain's terminal when one exists
    * (some all-positive segmentation reached the end), else the
    * all-paths terminal — precisely the brute-force argmax.
    */
  private[graft] def viterbi(w: String, vocab: Map[String, Long],
      maxPieceLen: Int): Seq[String] = {
    val n = w.length
    if (n == 0) return Seq.empty
    // positive chain: (score = prod p_ppm > 0, k, path); null when no
    // all-positive segmentation of w[0, j) exists
    val bp = new Array[(BigInt, Int, String)](n + 1)
    // all-paths chain: (k, path) — total for every j (single chars
    // are always admissible)
    val ba = new Array[(Int, String)](n + 1)
    bp(0) = (BigInt(1), 0, "")
    ba(0) = (0, "")
    var j = 1
    while (j <= n) {
      var curP: (BigInt, Int, String) = null
      var curA: (Int, String) = null
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        val piece = w.substring(i, j)
        val pp: Long =
          if (piece.length == 1) vocab.getOrElse(piece, 0L)
          else vocab.getOrElse(piece, -1L)
        if (pp >= 0L) {
          val pa = ba(i)
          val candA = (pa._1 + 1,
            if (pa._2.isEmpty) piece else pa._2 + " " + piece)
          if (curA == null || candA._1 < curA._1 ||
            (candA._1 == curA._1 &&
              Fns.utf8Ordering.lt(candA._2, curA._2))) curA = candA
          val prev = bp(i)
          if (pp > 0L && prev != null) {
            val candP = (prev._1 * pp, prev._2 + 1,
              if (prev._3.isEmpty) piece else prev._3 + " " + piece)
            if (curP == null || betterThan(candP, curP)) curP = candP
          }
        }
        i += 1
      }
      bp(j) = curP
      ba(j) = curA
      j += 1
    }
    val path = if (bp(n) != null) bp(n)._3 else ba(n)._2
    path.split(" ", -1).toSeq
  }

  /** `a` strictly precedes `b` in the total segmentation order:
    * `a.score / P^a.k > b.score / P^b.k` by exact cross-multiplication,
    * then fewer pieces, then the smaller path string.
    */
  private def betterThan(a: (BigInt, Int, String),
      b: (BigInt, Int, String)): Boolean = {
    val l = a._1 * P.pow(b._2)
    val r = b._1 * P.pow(a._2)
    if (l != r) l > r
    else if (a._2 != b._2) a._2 < b._2
    else Fns.utf8Ordering.lt(a._3, b._3)
  }
}
