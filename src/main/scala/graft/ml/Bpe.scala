package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Fns._

/** Byte-pair-encoding vocabulary learning and encoding (Sennrich et
  * al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units") — the tokenizer-training step of a training-data pipeline,
  * run over the corpus the other operators just curated.
  *
  * Merge learning iterates: count adjacent symbol pairs weighted by
  * word frequency, merge the most frequent pair everywhere, repeat.
  * The distributed shape keeps the iteration cheap no matter the
  * corpus size: the corpus is aggregated ONCE into a (word, freq)
  * table — pair statistics are a function of the word DISTRIBUTION,
  * not the token stream, so 100 TB of text collapses to the distinct
  * vocabulary before any iteration starts. Each round is then one
  * partial-aggregated pair count over that table plus a 1-row driver
  * collect of the winning pair (the same config-scale driver action as
  * `Similarity.kmeansCentroids`' per-iteration centroid collect).
  *
  * Symbol sequences are carried in a canonical STRING rendering —
  * every symbol wrapped in single spaces (`"ab c" → " a  b  c "` for
  * the word "abc") — so one merge application is one literal
  * `regexp_replace` of `" l  r "` with `" lr "`: replace-all scans
  * left-to-right over non-overlapping matches, which is EXACTLY BPE's
  * single-pass greedy merge, and any SQL engine's `replace()` follows
  * the same contract — the oracle replays training bit-for-bit. Ties
  * for the most frequent pair break on (count DESC, left, right), so
  * the learned merge TABLE is deterministic across runs, engines and
  * partitionings.
  */
object Bpe {

  /** The canonical spaced rendering of a word's initial character
    * symbols: each char wrapped in its own spaces.
    */
  private def charRender(word: Column): Column =
    concat_ws("", transform(split(word, ""),
      c => concat(lit(" "), c, lit(" "))))

  private def pairPattern(l: String, r: String): String =
    java.util.regex.Pattern.quote(s" $l  $r ")

  private def pairReplacement(l: String, r: String): String =
    s" $l$r ".replace("\\", "\\\\").replace("$", "\\$")

  /** Learn `numMerges` BPE merges from the corpus; returns the merge
    * table (rank, lhs, rhs) in learned order — config-scale output
    * (`numMerges` rows). The (word, freq) aggregation happens once;
    * each iteration re-derives pair counts from the current spaced
    * rendering (a few-thousand-row vocabulary table at any corpus
    * size — the re-computation of the chained replaces is bounded by
    * vocabulary size × numMerges, never by the corpus).
    */
  def bpeTrain(df: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1 && numMerges <= 256,
      s"bpeTrain: numMerges must be in [1, 256], got $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    val words0 = df
      .select(explode(filter(tokens(col(textCol)), t => t =!= ""))
        .as("__word"))
      .groupBy(col("__word")).agg(count(lit(1)).as("__freq"))
      .select(charRender(col("__word")).as("__s"), col("__freq"))
    val words = CacheLifecycle.pin(words0)
    var current = words.select(col("__s"), col("__freq"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    (1 to numMerges).foreach { _ =>
      val sym = filter(split(col("__s"), " "), x => x =!= "")
      val best = current
        .select(col("__freq"), explode(
          when(size(sym) < 2, array().cast("array<struct<l:string,r:string>>"))
            .otherwise(transform(sequence(lit(0), size(sym) - 2),
              i => struct(get(sym, i).as("l"), get(sym, i + 1).as("r")))))
          .as("__p"))
        .groupBy(col("__p.l").as("__l"), col("__p.r").as("__r"))
        .agg(sum(col("__freq")).as("__c"))
        .orderBy(col("__c").desc, col("__l"), col("__r"))
        .limit(1)
        .collect()
      if (best.nonEmpty) {
        val (l, r) = (best.head.getString(0), best.head.getString(1))
        merges += ((l, r))
        current = current.withColumn("__s",
          regexp_replace(col("__s"), pairPattern(l, r),
            pairReplacement(l, r)))
      }
    }
    merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1, l, r) }.toSeq
      .toDF("rank", "lhs", "rhs")
  }

  /** Apply a learned merge list to the corpus: every token re-renders
    * to its spaced character symbols and replays the merges in rank
    * order (the merge list is config-scale — it folds into one
    * per-row expression chain, a narrow codegen-free but bounded map;
    * a trie-based `mapPartitions` encoder is the constant-factor
    * optimization when `numMerges` reaches real-tokenizer size).
    * Returns (idCol, n_tokens, n_bpe_pieces): the compression the
    * learned vocabulary achieves per document.
    */
  def bpeEncode(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.size <= 256,
      s"bpeEncode: merge chain too long (${merges.size}); " +
        "use bpeEncodeLarge beyond 256 merges")
    val toks = df.select(col(idCol),
      explode_outer(filter(tokens(col(textCol)), t => t =!= ""))
        .as("__word"))
    val encoded = merges.foldLeft(charRender(col("__word"))) {
      case (s, (l, r)) =>
        regexp_replace(s, pairPattern(l, r), pairReplacement(l, r))
    }
    toks
      .select(col(idCol),
        when(col("__word").isNull, lit(0))
          .otherwise(lit(1)).as("__one"),
        when(col("__word").isNull, lit(0))
          .otherwise(size(filter(split(encoded, " "), x => x =!= "")))
          .as("__pieces"))
      .groupBy(col(idCol))
      .agg(sum(col("__one")).as("n_tokens"),
        sum(col("__pieces")).as("n_bpe_pieces"))
  }

  /** The production encoder for REAL-tokenizer merge tables (30k+
    * merges), where [[bpeEncode]]'s one-`regexp_replace`-per-merge
    * expression chain cannot go (it caps at 256). Same contract and
    * output as [[bpeEncode]] — (idCol, n_tokens, n_bpe_pieces) — and
    * bit-identical results for ANY merge list, because the per-word
    * loop simulates the pass-by-rank semantics exactly rather than the
    * common min-rank-first heuristic: rank k fires only at its turn in
    * ascending rank order, newly created pair occurrences only arm
    * ranks LATER than the pass that created them, and each firing is
    * one left-to-right non-overlapping sweep (the `replace`-all
    * contract). Min-rank-first is equivalent only for "layered" tables
    * where no later merge re-produces an earlier pair's side; learned
    * tables can violate that (two different pairs may concatenate to
    * the same symbol string), so the simulation does not assume it.
    *
    * Scale shape: the corpus collapses to the DISTINCT word table
    * before any per-word work (the same argument as [[bpeTrain]] —
    * encoding is a function of the vocabulary), each distinct word is
    * encoded once in a `mapPartitions` loop over the broadcast
    * rank table (config-scale: ~1 MB for 30k merges), and the piece
    * counts equi-join back to the token occurrences (shuffle on the
    * word — the honest price; no corpus-size driver state, no window).
    * Per-word cost is O(fired-merges × word length + pairs·log) —
    * words are short; a pathological unbroken megabyte "word" costs
    * O(len²) like any BPE encoder would.
    */
  def bpeEncodeLarge(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeLarge: empty merge list")
    val spark = df.sparkSession
    import spark.implicits._
    val bcMerges = spark.sparkContext.broadcast(merges.toArray)
    val bcRanks = spark.sparkContext.broadcast(rankIndex(merges))
    val toks = df.select(col(idCol),
      explode_outer(filter(tokens(col(textCol)), t => t =!= ""))
        .as("__word"))
    val pieces = toks.where(col("__word").isNotNull)
      .select(col("__word")).distinct().as[String]
      .mapPartitions { it =>
        val m = bcMerges.value
        val r = bcRanks.value
        it.map(w => (w, encodePieces(w, m, r)))
      }.toDF("__word", "__pieces")
    toks.join(pieces, Seq("__word"), "left")
      .groupBy(col(idCol))
      .agg(sum(when(col("__word").isNull, 0).otherwise(1))
          .as("n_tokens"),
        sum(coalesce(col("__pieces"), lit(0))).as("n_bpe_pieces"))
  }

  /** Production id-sequence BPE encoding — [[bpeEncodeLarge]]'s
    * pass-exact simulation emitting the PIECE-ID ARRAYS a training
    * pipeline ingests, one row per token occurrence:
    * (idCol, tok_pos, piece_ids). The id contract is the GPT-2-style
    * layout made engine-replayable: a single-character piece's id is
    * its Unicode code point; a multi-character piece's id is
    * `0x110000 + (the smallest rank whose merge CONCATENATES to it)`
    * (0x110000 sits past the last code point, so the ranges never
    * collide; duplicate-output merges share the first producer's id).
    * Every multi-character piece the encoder can emit is some merge's
    * concatenation, and unknown characters fall back to their code
    * point — encoding is total.
    */
  def bpeEncodeIdsLarge(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeIdsLarge: empty merge list")
    encodeIds(df, textCol, idCol, merges, _.toCharArray.map(_.toString),
      0x110000L, _.codePointAt(0).toLong)
  }

  /** BYTE-LEVEL id-sequence BPE encoding — the GPT-2-family layout
    * (see also SentencePiece `--byte_fallback`): the base alphabet is
    * the 256 UTF-8 BYTE values, so encoding is TOTAL BY CONSTRUCTION —
    * no `<unk>` exists and no sentinel can survive. Contract:
    *   - a single-byte piece's id IS its byte value (0..255);
    *   - a merged piece's id is `256 + (the smallest rank whose merge
    *     concatenates to it)` (duplicate-output merges share the first
    *     producer's id; the ranges never collide).
    * Each word becomes its UTF-8 byte sequence before any merge fires
    * (bytes carried as latin-1 chars so the pass-exact rank simulation
    * of [[bpeEncodeIdsLarge]] runs unchanged); a character outside the
    * merge alphabet — a digit, an emoji — simply stays split into its
    * raw bytes. The merge table must be byte-representable (every char
    * of every side < U+0100): for the ASCII tables real BPE tokenizers
    * ship, the char-level table IS the byte-level table, and merges
    * never fire across a non-ASCII byte (multi-byte UTF-8 lead/cont
    * bytes are ≥ 0x80, outside any ASCII pair).
    *
    * Output contract and scale shape match [[bpeEncodeIdsLarge]]: one
    * row per token occurrence, (idCol, tok_pos, piece_ids); the corpus
    * collapses to the distinct word table, each distinct word encodes
    * once against the broadcast rank table, ids equi-join back.
    */
  def bpeEncodeIdsBytes(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeIdsBytes: empty merge list")
    require(merges.forall { case (l, r) =>
        l.nonEmpty && r.nonEmpty && (l + r).forall(_ < 0x100) },
      "bpeEncodeIdsBytes: merge table must be byte-representable " +
        "(every char of every side < U+0100) and have non-empty sides")
    encodeIds(df, textCol, idCol, merges, utf8ByteSyms, 256L,
      _.charAt(0).toLong)
  }

  /** The id encoders' one body: each distinct word splits into its
    * initial symbols (`syms`), runs the pass-by-rank simulation, and maps
    * each piece to an id — `symId` for a single symbol, `mergedBase +
    * (the smallest rank whose merge concatenates to it)` for a merged
    * piece. One row per token occurrence: (idCol, tok_pos, piece_ids).
    */
  private def encodeIds(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)], syms: String => Array[String],
      mergedBase: Long, symId: String => Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val outIds: Map[String, Long] = merges.zipWithIndex
      .groupBy { case ((l, r), _) => l + r }
      .map { case (piece, xs) =>
        piece -> (mergedBase + xs.map(_._2 + 1).min)
      }
    val bcMerges = spark.sparkContext.broadcast(merges.toArray)
    val bcRanks = spark.sparkContext.broadcast(rankIndex(merges))
    val bcIds = spark.sparkContext.broadcast(outIds)
    val toks = df.select(col(idCol),
      posexplode(filter(tokens(col(textCol)), t => t =!= "")))
      .toDF(idCol, "tok_pos", "__word")
    val enc = toks.select(col("__word")).distinct().as[String]
      .mapPartitions { it =>
        val idOf = bcIds.value
        it.map { w =>
          val pieces = encodePieceStringsFrom(syms(w),
            bcMerges.value, bcRanks.value)
          (w, pieces.map(p => if (p.length == 1) symId(p) else idOf(p)))
        }
      }.toDF("__word", "piece_ids")
    toks.join(enc, Seq("__word"))
      .select(col(idCol), col("tok_pos").cast("long").as("tok_pos"),
        col("piece_ids"))
  }

  /** Every rank of every pair, ascending (a learned table CAN repeat a
    * pair; each occurrence is its own pass).
    */
  private def rankIndex(merges: Seq[(String, String)])
      : Map[(String, String), Array[Int]] =
    merges.zipWithIndex.groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2 + 1).sorted.toArray }

  /** A word's UTF-8 bytes as latin-1 single-char symbol strings — the
    * byte-level base alphabet in the representation the pass-by-rank
    * simulation already speaks.
    */
  private[ml] def utf8ByteSyms(word: String): Array[String] =
    word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => String.valueOf((b & 0xff).toChar))

  /** Persist a learned merge table ([[bpeTrain]]'s output frame, or
    * any (rank, lhs, rhs) frame) as the deployable tokenizer
    * ARTIFACT — the [[Unigram.saveVocab]] discipline for the BPE
    * family (rank order IS the tokenizer; the parquet carries it
    * explicitly, so ids reproduce from the artifact alone).
    */
  def saveMerges(merges: DataFrame, dir: String): Unit =
    merges.select("rank", "lhs", "rhs")
      .write.mode("overwrite").parquet(s"$dir/merges")

  /** Load a [[saveMerges]] artifact in rank order. Bounded driver
    * collect (real tables are ~30k-100k merges; the cap is far above
    * any shipped tokenizer).
    */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] = {
    val rows = collectAtMost(
      spark.read.parquet(s"$dir/merges").orderBy("rank"), 1 << 22)(
      s"loadMerges: merge table too large (${(1 << 22) + 1})")
    // ranks must be EXACTLY 1..N: the encoders re-derive ranks
    // positionally from this sequence, and a hand-authored artifact
    // with gapped or duplicated ranks (1,3,5) would silently produce
    // merged-piece ids that contradict the ranks recorded in the
    // artifact — fail loudly instead of re-ranking
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      val stored = r.getAs[Number]("rank").intValue()
      require(stored == i + 1,
        s"loadMerges: ranks must be contiguous 1..N — position ${
          i + 1} carries rank $stored in $dir/merges")
    }
    // by NAME, not position: a hand-authored merges parquet with a
    // different column order must not silently swap the merge sides
    rows.map(r =>
      (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
  }

  /** [[bpeEncodeIdsLarge]] / [[bpeEncodeIdsBytes]] against a persisted
    * [[saveMerges]] artifact — the standing-pipeline id-sequence form
    * (train once, encode every batch); `byteLevel = true` selects the
    * byte-level id layout.
    */
  def encodeIdsWithMergesDir(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, textCol: String, idCol: String,
      byteLevel: Boolean = false): DataFrame = {
    val merges = loadMerges(spark, dir)
    if (byteLevel) bpeEncodeIdsBytes(df, textCol, idCol, merges)
    else bpeEncodeIdsLarge(df, textCol, idCol, merges)
  }

  /** Exact pass-by-rank encode of one word; returns the piece count.
    * A TreeSet of armed ranks stands in for scanning all N passes:
    * initially every adjacent pair arms all its ranks; popping the
    * minimum visits passes in ascending order; a sweep that fires
    * re-arms only ranks GREATER than the current pass (an occurrence
    * created during pass k missed every pass ≤ k — exactly the chained
    * `regexp_replace` semantics). Stale armed ranks (pair destroyed by
    * an earlier pass) sweep zero matches, matching the no-op pass.
    */
  private[ml] def encodePieces(word: String,
      merges: Array[(String, String)],
      ranks: Map[(String, String), Array[Int]]): Int =
    encodePieceStrings(word, merges, ranks).length

  /** The pass-by-rank simulation returning the PIECE STRINGS (the
    * count form above is its length).
    */
  private[graft] def encodePieceStrings(word: String,
      merges: Array[(String, String)],
      ranks: Map[(String, String), Array[Int]]): Array[String] =
    encodePieceStringsFrom(word.toCharArray.map(_.toString), merges,
      ranks)

  /** The simulation over CALLER-SUPPLIED initial symbols — chars for
    * the char-level encoders, UTF-8 bytes for [[bpeEncodeIdsBytes]].
    */
  private[graft] def encodePieceStringsFrom(syms0: Array[String],
      merges: Array[(String, String)],
      ranks: Map[(String, String), Array[Int]]): Array[String] = {
    var syms = syms0
    if (syms.length < 2) return syms
    val armed = new java.util.TreeSet[Integer]()
    def arm(l: String, r: String, after: Int): Unit =
      ranks.get((l, r)).foreach { rs =>
        var i = 0
        while (i < rs.length) {
          if (rs(i) > after) armed.add(rs(i))
          i += 1
        }
      }
    var i = 0
    while (i < syms.length - 1) { arm(syms(i), syms(i + 1), 0); i += 1 }
    while (!armed.isEmpty) {
      val k = armed.pollFirst()
      val (l, r) = merges(k - 1)
      // one left-to-right non-overlapping sweep (replace-all contract)
      var changed = false
      val out = new scala.collection.mutable.ArrayBuffer[String](
        syms.length)
      var j = 0
      while (j < syms.length) {
        if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
          out += l + r; j += 2; changed = true
        } else { out += syms(j); j += 1 }
      }
      if (changed) {
        syms = out.toArray
        var p = 0
        while (p < syms.length - 1) {
          arm(syms(p), syms(p + 1), k); p += 1
        }
      }
    }
    syms
  }
}
