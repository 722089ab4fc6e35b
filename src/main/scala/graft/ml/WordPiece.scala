package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Fns._

/** WordPiece tokenizer training and encoding (Schuster & Nakajima 2012,
  * "Japanese and Korean Voice Search"; the BERT tokenizer, Devlin et
  * al. 2019) — the third tokenizer family next to [[Bpe]] (merge by
  * pair FREQUENCY) and [[Unigram]] (prune by LIKELIHOOD loss):
  * WordPiece merges the pair that maximizes the LIKELIHOOD RATIO
  * `score(l, r) = count(lr) / (count(l) · count(r))` over the current
  * segmentation, and encodes with greedy longest-match-first
  * ("MaxMatch"), continuation pieces carrying the `##` prefix and
  * unsegmentable words collapsing to a single `[UNK]` piece (no
  * backtracking — the published MaxMatch contract).
  *
  * Bit-exactness contract (the [[Unigram]] discipline): scores are
  * EXACT RATIONALS compared by integer cross-multiplication —
  * `c₁/(l₁·r₁) > c₂/(l₂·r₂)  ⟺  c₁·l₂·r₂ > c₂·l₁·r₁` in BigInt — no
  * division, no floats, so the selected merge is deterministic across
  * runs, partitionings and engines; ties break on (lhs, rhs)
  * ascending. The DuckDB oracle replays the same argmax with HUGEINT
  * cross-products and the same replace-all merge application. Ties
  * (and every other driver-side string sort here) compare UTF-8 BYTES
  * ([[Fns.utf8Ordering]]), matching the oracle's binary collation on
  * supplementary-plane characters where Java's UTF-16 order diverges.
  *
  * Symbol sequences ride [[Bpe]]'s canonical spaced STRING rendering
  * with WordPiece's position-marked alphabet: the word "abc" renders
  * as `" a  ##b  ##c "` (word-initial symbol bare, continuations
  * `##`-prefixed), and one merge application is one literal
  * `regexp_replace` of `" l  r "` with `" l+strip##(r) "` — the same
  * left-to-right non-overlapping sweep every SQL `replace()` performs.
  *
  * Scale shape (the [[Bpe.bpeTrain]] argument): tokenizer state is a
  * function of the word DISTRIBUTION — the corpus collapses ONCE to
  * the distinct (word, freq) table; each merge round is two
  * partial-aggregated counts (symbols, adjacent pairs) over that
  * table plus a per-partition argmax reduced to ≤ one candidate per
  * partition before a config-scale driver pick; encoding runs greedy
  * MaxMatch once per DISTINCT word against the broadcast vocabulary
  * and equi-joins back to token occurrences.
  */
object WordPiece {

  /** The canonical spaced rendering of a word's initial WordPiece
    * symbols: first char bare, continuations `##`-prefixed, every
    * symbol wrapped in single spaces.
    */
  private def wpRender(word: Column): Column =
    concat_ws("", transform(split(word, ""),
      (c, i) => concat(lit(" "),
        when(i === 0, c).otherwise(concat(lit("##"), c)), lit(" "))))

  private def pairPattern(l: String, r: String): String =
    java.util.regex.Pattern.quote(s" $l  $r ")

  private def mergedSymbol(l: String, r: String): String =
    l + (if (r.startsWith("##")) r.substring(2) else r)

  private def mergedReplacement(l: String, r: String): String =
    s" ${mergedSymbol(l, r)} ".replace("\\", "\\\\").replace("$", "\\$")

  /** `a` strictly precedes `b` in the merge-selection order:
    * `a.c/(a.lc·a.rc) > b.c/(b.lc·b.rc)` by exact cross-multiplication,
    * then (lhs, rhs) ascending.
    */
  private def better(a: (String, String, Long, Long, Long),
      b: (String, String, Long, Long, Long)): Boolean = {
    val x = BigInt(a._3) * BigInt(b._4) * BigInt(b._5)
    val y = BigInt(b._3) * BigInt(a._4) * BigInt(a._5)
    if (x != y) x > y
    else if (a._1 != b._1) Fns.utf8Ordering.lt(a._1, b._1)
    else Fns.utf8Ordering.lt(a._2, b._2)
  }

  /** Learn `numMerges` WordPiece merges from the corpus; returns the
    * merge table (rank, lhs, rhs, piece) in learned order — `piece` is
    * the vocabulary entry the merge mints (`lhs` + `rhs` without its
    * `##`). Config-scale output. Stops early when no adjacent pair
    * remains (every word fused to one symbol).
    */
  def wordpieceTrain(df: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1 && numMerges <= 256,
      s"wordpieceTrain: numMerges must be in [1, 256], got $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    val words = CacheLifecycle.pin(df
      .select(explode(filter(tokens(col(textCol)), t => t =!= ""))
        .as("__word"))
      .groupBy(col("__word")).agg(count(lit(1)).as("__freq"))
      .select(wpRender(col("__word")).as("__s"), col("__freq")))
    var current = words.select(col("__s"), col("__freq"))
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    (1 to numMerges).foreach { _ =>
      if (!exhausted) {
        val sym = filter(split(col("__s"), " "), x => x =!= "")
        val symCnt = current
          .select(explode(sym).as("__sym"), col("__freq"))
          .groupBy("__sym").agg(sum("__freq").as("__sc"))
        val pairCnt = current
          .select(col("__freq"), explode(
            when(size(sym) < 2,
              array().cast("array<struct<l:string,r:string>>"))
              .otherwise(transform(sequence(lit(0), size(sym) - 2),
                i => struct(get(sym, i).as("l"),
                  get(sym, i + 1).as("r")))))
            .as("__p"))
          .groupBy(col("__p.l").as("__l"), col("__p.r").as("__r"))
          .agg(sum(col("__freq")).as("__c"))
        val cand = pairCnt
          .join(symCnt.select(col("__sym").as("__l"),
            col("__sc").as("__lc")), Seq("__l"))
          .join(symCnt.select(col("__sym").as("__r"),
            col("__sc").as("__rc")), Seq("__r"))
          .select(col("__l"), col("__r"), col("__c"), col("__lc"),
            col("__rc"))
          .as[(String, String, Long, Long, Long)]
        // per-partition argmax → ≤ one survivor per partition → exact
        // driver pick over a config-scale set (no orderBy on a rational
        // — the cross-multiplied comparison is not a sort key)
        val best = cand.mapPartitions { it =>
          var b: (String, String, Long, Long, Long) = null
          it.foreach { c => if (b == null || better(c, b)) b = c }
          Option(b).iterator
        }.collect().reduceOption((a, b) => if (better(a, b)) a else b)
        best match {
          case Some((l, r, _, _, _)) =>
            merges += ((l, r))
            current = current.withColumn("__s",
              regexp_replace(col("__s"), pairPattern(l, r),
                mergedReplacement(l, r)))
          case None => exhausted = true
        }
      }
    }
    merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1, l, r, mergedSymbol(l, r)) }
      .toSeq.toDF("rank", "lhs", "rhs", "piece")
  }

  /** The position-marked alphabet of the corpus: every symbol of the
    * initial rendering (bare word-initial chars plus `##`-prefixed
    * continuation chars), distinct — the vocabulary floor every merge
    * builds on. Config-scale output (≤ 2 · |alphabet|).
    */
  def wordpieceAlphabet(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(filter(tokens(col(textCol)), t => t =!= ""))
        .as("__word"))
      .select(explode(filter(split(wpRender(col("__word")), " "),
        x => x =!= "")).as("piece"))
      .distinct()

  /** The deployable vocabulary: the corpus alphabet ∪ the merge table's
    * minted pieces, collected (config-scale, `require`-bounded) and
    * lexicographically sorted — the id assignment
    * [[wordpieceEncodeIds]] uses.
    */
  def wordpieceVocabulary(df: DataFrame, textCol: String,
      merges: DataFrame): Seq[String] = {
    val cap = 1 << 20
    val alpha = Fns.collectAtMost(wordpieceAlphabet(df, textCol), cap)(
      s"wordpieceVocabulary: alphabet too large (> $cap)")
      .map(_.getString(0))
    val minted = Fns.collectAtMost(merges.select("piece"), cap)(
      s"wordpieceVocabulary: merge table too large (> $cap)")
      .map(_.getString(0))
    (alpha ++ minted).distinct
      .sortBy(Fns.utf8Key)(Fns.utf8BytesOrdering).toSeq
  }

  /** Persist a trained vocabulary ([[wordpieceVocabulary]]) — the
    * [[Unigram.saveVocab]] contract for the WordPiece family: one
    * parquet of pieces; order is NOT trusted on load (ids must be
    * reproducible from the artifact alone, so [[loadVocab]] re-sorts).
    */
  def saveVocab(spark: org.apache.spark.sql.SparkSession,
      vocab: Seq[String], dir: String): Unit = {
    import spark.implicits._
    vocab.toDF("piece").write.mode("overwrite").parquet(s"$dir/pieces")
  }

  /** Load a [[saveVocab]] artifact: the pieces in lexicographic order
    * (the id assignment [[wordpieceEncodeIds]] uses).
    */
  def loadVocab(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    val rows = Fns.collectAtMost(
      spark.read.parquet(s"$dir/pieces").select("piece"), 1 << 22)(
      s"loadVocab: vocabulary too large (${(1 << 22) + 1})")
    rows.map(_.getString(0)).toSeq.distinct
      .sortBy(Fns.utf8Key)(Fns.utf8BytesOrdering)
  }

  /** [[wordpieceEncode]] against a persisted [[saveVocab]] artifact —
    * the standing-pipeline form (train once, encode every batch).
    */
  def encodeWithVocabDir(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    wordpieceEncode(df, textCol, idCol, loadVocab(spark, dir))

  /** [[wordpieceEncodeIds]] against a persisted [[saveVocab]] artifact
    * — the standing-pipeline id-sequence form, byte-fallback capable.
    * Ids are reproducible from the artifact alone (load re-sorts by
    * UTF-8 bytes).
    */
  def encodeIdsWithVocabDir(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, textCol: String, idCol: String,
      byteFallback: Boolean = false): DataFrame =
    wordpieceEncodeIds(df, textCol, idCol, loadVocab(spark, dir),
      byteFallback)

  private def coreLen(piece: String): Int =
    if (piece.startsWith("##")) piece.length - 2 else piece.length

  /** Greedy longest-match-first ("MaxMatch") segmentation of one word:
    * at each position take the LONGEST vocabulary piece matching the
    * remaining suffix (bare form at position 0, `##` form after); a
    * position with no match makes the whole word `[UNK]` — NO
    * backtracking, per the published algorithm (a word can be [UNK]
    * even when some non-greedy segmentation exists).
    */
  private[graft] def maxMatch(w: String, vocab: Set[String],
      maxCore: Int): Option[Seq[String]] = {
    val n = w.length
    if (n == 0) return Some(Seq.empty)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < n) {
      var l = math.min(maxCore, n - pos)
      var found: String = null
      while (l >= 1 && found == null) {
        val core = w.substring(pos, pos + l)
        val piece = if (pos == 0) core else "##" + core
        // a word-initial lookup must not land on a continuation piece
        // (a corpus word could literally start with "##")
        if (!(pos == 0 && core.startsWith("##")) && vocab.contains(piece))
          found = piece
        l -= 1
      }
      if (found == null) return None
      out += found
      pos += coreLen(found)
    }
    Some(out.toSeq)
  }

  /** Encode the corpus with greedy MaxMatch under a trained vocabulary
    * ([[wordpieceVocabulary]]): per document, the token count, total
    * piece count ([UNK] words count 1 piece), the [UNK] word count,
    * and a replayable path checksum (sum over token occurrences of
    * `h32(word || ':' || space-joined pieces)`, [UNK] spelled
    * `[UNK]`) — the checksum pins the exact segmentations. Returns
    * (idCol, n_tokens, n_pieces, n_unk, path_hash).
    *
    * Scale shape: MaxMatch once per DISTINCT word against the
    * broadcast vocabulary set, results equi-joined back to the token
    * occurrences ([[Bpe.bpeEncodeLarge]]'s shape).
    */
  def wordpieceEncode(df: DataFrame, textCol: String, idCol: String,
      vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "wordpieceEncode: empty vocabulary")
    require(vocab.size <= (1 << 22),
      s"wordpieceEncode: vocabulary too large (${vocab.size})")
    val spark = df.sparkSession
    import spark.implicits._
    val vs = vocab.toSet
    val maxCore = vocab.iterator.map(coreLen).max
    val bc = spark.sparkContext.broadcast(vs)
    val toks = df.select(col(idCol),
      explode_outer(filter(tokens(col(textCol)), t => t =!= ""))
        .as("__word"))
    val enc = toks.where(col("__word").isNotNull)
      .select(col("__word")).distinct().as[String]
      .mapPartitions { it =>
        it.map { w =>
          maxMatch(w, bc.value, maxCore) match {
            case Some(ps) =>
              (w, ps.length.toLong, 0L,
                Unigram.h32s(w + ":" + ps.mkString(" ")))
            case None => (w, 1L, 1L, Unigram.h32s(w + ":[UNK]"))
          }
        }
      }.toDF("__word", "__np", "__unk", "__ph")
    toks.join(enc, Seq("__word"), "left")
      .groupBy(col(idCol))
      .agg(sum(when(col("__word").isNull, 0L).otherwise(1L))
          .as("n_tokens"),
        sum(coalesce(col("__np"), lit(0L))).as("n_pieces"),
        sum(coalesce(col("__unk"), lit(0L))).as("n_unk"),
        sum(coalesce(col("__ph"), lit(0L))).as("path_hash"))
  }

  /** Production id-sequence encoding — [[Unigram.unigramEncodeIds]]'s
    * contract for the WordPiece family: one row per token occurrence,
    * (idCol, tok_pos, piece_ids), ids the 0-based LEXICOGRAPHIC
    * (UTF-8-byte-order) rank of the piece within `vocab`; an [UNK]
    * word encodes as the single id −1 (the caller's [UNK] slot).
    *
    * With `byteFallback = true`, ids 0..255 are reserved for raw
    * UTF-8 bytes and vocabulary ranks shift by 256; a MaxMatch
    * dead-end word emits the UTF-8 bytes of the WHOLE word instead of
    * [UNK] — no token is ever unknown (the published no-backtracking
    * contract makes the dead-end word-scoped, so the fallback is too).
    * Same distinct-word scale shape as [[wordpieceEncode]].
    */
  def wordpieceEncodeIds(df: DataFrame, textCol: String, idCol: String,
      vocab: Seq[String], byteFallback: Boolean = false): DataFrame = {
    require(vocab.nonEmpty, "wordpieceEncodeIds: empty vocabulary")
    require(vocab.size <= (1 << 22),
      s"wordpieceEncodeIds: vocabulary too large (${vocab.size})")
    val spark = df.sparkSession
    import spark.implicits._
    val vs = vocab.toSet
    val maxCore = vocab.iterator.map(coreLen).max
    val ids = vocab.distinct
      .sortBy(Fns.utf8Key)(Fns.utf8BytesOrdering).zipWithIndex
      .map { case (p, i) => p -> i.toLong }.toMap
    val bcV = spark.sparkContext.broadcast(vs)
    val bcI = spark.sparkContext.broadcast(ids)
    val offset = if (byteFallback) 256L else 0L
    val fallback = byteFallback
    val toks = df.select(col(idCol),
      posexplode(filter(tokens(col(textCol)), t => t =!= "")))
      .toDF(idCol, "tok_pos", "__word")
    val enc = toks.select(col("__word")).distinct().as[String]
      .mapPartitions { it =>
        val idOf = bcI.value
        it.map { w =>
          maxMatch(w, bcV.value, maxCore) match {
            case Some(ps) => (w, ps.map(p => offset + idOf(p)))
            case None =>
              if (fallback) (w, Unigram.utf8ByteIds(w))
              else (w, Seq(-1L))
          }
        }
      }.toDF("__word", "piece_ids")
    toks.join(enc, Seq("__word"))
      .select(col(idCol), col("tok_pos").cast("long").as("tok_pos"),
        col("piece_ids"))
  }
}
