package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.Dedup

/** Dedup operators' scale guards: the LSH hot-band cap (a cluster of exact
  * duplicates puts its whole size into one band bucket) and the banded
  * simhashPairs join (must equal the quadratic definition).
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  test("lshCandidates maxBandFreq drops hot-band pairs, keeps cool pairs") {
    // 10 identical docs (one hot bucket per band) + 2 identical docs
    val docs =
      (1 to 10).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog again and again")) ++
        Seq((21L, "an entirely different second document about spark plans and shuffles"),
          (22L, "an entirely different second document about spark plans and shuffles"))
    val df = docs.toDF("doc_id", "text")

    val uncapped = Dedup.lshCandidates(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 45 + 1) // C(10,2) hot-cluster pairs + the cool pair

    val capped = Dedup.lshCandidates(df, "text", "doc_id",
      maxBandFreq = Some(5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((21L, 22L))) // hot buckets dropped, cool pair kept
  }

  test("banded simhashPairs equals the quadratic definition") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (4L, "one two three four five six seven eight nine ten"),
      (5L, "completely unrelated words nothing shared here at all"))
    val df = docs.toDF("doc_id", "text")
    val maxDist = 10

    val banded = Dedup.simhashPairs(df, "text", "doc_id", maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // quadratic reference: all-pairs over the same signatures
    val sigs = Dedup.simhash(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val quad = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= maxDist
    } yield (ia, ib, d)).toSet

    assert(banded == quad)
    assert(banded.exists { case (a, b, d) => a == 1L && b == 3L && d == 0 })
  }

  test("hyperplane pairs are exact-verified and recall the clustered dups") {
    val sfDir = "/root/testdata/sf0.001"
    graft.queries.Q.session(spark)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .where(col("vec_id") < 150)
    val planes = emb.where(col("vec_id") < 16)
    val lsh = Dedup.hyperplanePairs(emb, planes, "embedding", "vec_id",
      threshold = 0.35, bandBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // ground truth: the exact all-pairs scan at the same threshold
    val exact = Dedup.embeddingPairs(emb, "embedding", "vec_id",
      threshold = 0.35, maxExactRows = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // every LSH pair is a REAL pair with the exact cosine (no false
    // positives survive the verify step)...
    assert(lsh.nonEmpty)
    lsh.foreach { case (pair, cos) =>
      assert(exact.get(pair).contains(cos), s"false positive $pair") }
    // ...and bucket recall is in the theoretical band: P(bit agree) =
    // 1 − θ/π ≈ 0.62 at cos 0.35, so a 4-bit band matches with ≈0.15
    // and 4 bands give ≈ 1−(1−0.15)⁴ ≈ 47% for pairs AT the threshold
    // (higher-cosine pairs recall higher — the standard LSH dial)
    assert(lsh.size * 3 >= exact.size,
      s"recall ${lsh.size}/${exact.size} below the theoretical band")
  }

  test("hash sampling is deterministic and respects per-stratum rates") {
    val sfDir = "/root/testdata/sf0.001"
    graft.queries.Q.session(spark)
    val docs = Tables.load(spark, sfDir, "documents")
    import graft.ml.TextAnalysis.{sampleByHash, sampleStratified}
    val s1 = sampleByHash(docs, "doc_id", 0.3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val s2 = sampleByHash(docs, "doc_id", 0.3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2) // same sample every run
    // a different salt decorrelates
    val s3 = sampleByHash(docs, "doc_id", 0.3, salt = "other")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s3 != s1)
    val n = docs.count().toDouble
    assert(math.abs(s1.size / n - 0.3) < 0.1, s"rate off: ${s1.size / n}")
    // rate 0 strata drop entirely; rate 1 strata keep everything
    val strat = sampleStratified(docs, "doc_id", "lang",
      Map("en" -> 1.0), defaultRate = 0.0)
    assert(strat.where(col("lang") =!= "en").count() == 0)
    assert(strat.count() == docs.where(col("lang") === "en").count())
    // FP-inexact rates (0.7*1e6 = 699999.99…) must round like
    // sampleByHash (and DuckDB's BIGINT cast), not truncate: a single
    // stratum at rate r selects exactly sampleByHash(r)'s rows
    val uni = sampleStratified(docs.withColumn("one", lit("x")),
      "doc_id", "one", Map("x" -> 0.7)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val byHash = sampleByHash(docs, "doc_id", 0.7).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(uni == byHash)
  }

  test("components label every cluster with its minimum id") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "one two three four five six seven eight nine ten"),
      (5L, "completely unrelated words nothing shared here at all"))
    val pairs = Dedup.simhashPairs(docs.toDF("doc_id", "text"),
      "text", "doc_id", maxDist = 10)
    val got = Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1,2,3 are mutual near-dups; 4 and 5 have no edges (absent)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("components propagate across a long chain") {
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.components(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("dedupSegments drops boilerplate paragraphs, preserves order") {
    // 4 docs; "FOOTER" appears in 3/4 (> 50% document frequency) and
    // must be dropped everywhere; "intro" appears in 2/4 (= 50%, not
    // strictly above) and stays; doc 4 is all boilerplate
    val docs = Seq(
      (1L, "intro\n\nbody one\n\nFOOTER"),
      (2L, "intro\n\nbody two\n\nFOOTER"),
      (3L, "unique head\n\nFOOTER\n\nbody three"),
      (4L, "FOOTER"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.dedupSegments(docs, "text", "doc_id", sep = "\n\n")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out(1L) == ("intro\n\nbody one", 1L))
    assert(out(2L) == ("intro\n\nbody two", 1L))
    assert(out(3L) == ("unique head\n\nbody three", 1L),
      "reassembly must keep the original segment order across a drop")
    assert(out(4L) == ("", 1L),
      "an all-boilerplate document stays, with empty text")
    assert(out.contains(5L) && out(5L) == ("", 0L),
      "a null-text document must survive the explode (a curation stage " +
        "never loses rows), with empty text and nothing counted dropped")
  }

  test("dedupAgainst: Bloom-prefiltered path equals the exact anti-join") {
    val ref = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "same"))
      .toDF("id", "text")
    val newB = Seq((10L, "alpha beta"), (11L, "fresh one"), (12L, "same"),
      (13L, "fresh two"), (14L, null.asInstanceOf[String]))
      .toDF("id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    val exact = ids(Dedup.dedupAgainst(newB, ref, "text"))
    val bloom = ids(Dedup.dedupAgainst(newB, ref, "text",
      bloomExpectedItems = Some(1000L)))
    assert(exact == Set(11L, 13L, 14L),
      "duplicates of ref texts drop; fresh and null-text rows stay")
    assert(bloom == exact,
      "the Bloom filter is a prefilter only — it must never change the " +
        "anti-join's result")
  }

  test("dedupAgainstNear: LSH candidates, Jaccard-verified drops") {
    // a long shared body so the near-dup keeps most shingles
    val body = (0 until 60).map(i => s"w$i").mkString(" ")
    val ref = Seq((1L, body), (2L, "another reference text entirely"))
      .toDF("id", "text")
    val newB = Seq(
      (10L, "edited intro " + body),            // near-dup -> drop
      (11L, body),                              // exact copy -> drop
      (12L, "a wholly different new document"), // novel -> keep
      (13L, "so hi"),                           // < k tokens: no bands -> keep
      (14L, null.asInstanceOf[String]))         // null text -> keep
      .toDF("id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(Dedup.dedupAgainstNear(newB, ref, "text", "id",
      minJaccard = 0.5)) == Set(12L, 13L, 14L))
    // a threshold above the twin's Jaccard keeps it (verification
    // gates candidates — banding alone never drops)
    assert(ids(Dedup.dedupAgainstNear(newB, ref, "text", "id",
      minJaccard = 0.999)) == Set(10L, 12L, 13L, 14L))
    // capping reference band buckets only prunes candidates
    assert(ids(Dedup.dedupAgainstNear(newB, ref, "text", "id",
      minJaccard = 0.5, maxBandFreq = Some(0))) == Set(10L, 11L, 12L, 13L, 14L))
    intercept[IllegalArgumentException](
      Dedup.dedupAgainstNear(newB, ref, "text", "id", minJaccard = 0.0))
  }

  test("dedupAgainstNearIndexed equals the live path; meta pins params") {
    val body = (0 until 60).map(i => s"w$i").mkString(" ")
    val ref = Seq((1L, body), (2L, "another reference text entirely"))
      .toDF("id", "text")
    val newB = Seq(
      (10L, "edited intro " + body),
      (11L, body),
      (12L, "a wholly different new document"),
      (14L, null.asInstanceOf[String]))
      .toDF("id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft-band-idx").toString
    Dedup.buildBandIndex(ref, "text", "id", dir)
    assert(ids(Dedup.dedupAgainstNearIndexed(spark, dir, newB, ref,
      "text", "id", minJaccard = 0.5)) ==
      ids(Dedup.dedupAgainstNear(newB, ref, "text", "id",
        minJaccard = 0.5)),
      "the band index only amortizes the corpus pass, never the result")
    val m = spark.read.parquet(s"$dir/meta").collect()(0)
    assert(m.getAs[Int]("k") == 3 && m.getAs[Int]("p") == 12 &&
      m.getAs[Int]("bands") == 4)
  }

  test("updateBandIndex folds survivors in; next batch dedups against them") {
    val body = (0 until 60).map(i => s"w$i").mkString(" ")
    val fresh = (0 until 60).map(i => s"v$i").mkString(" ")
    val ref = Seq((1L, body)).toDF("id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft-band-idx-upd").toString
    Dedup.buildBandIndex(ref, "text", "id", dir)
    // batch 1: 10 is near the indexed 1 (drops); 12 is new (keeps)
    val b1 = Seq((10L, "edited intro " + body), (12L, fresh))
      .toDF("id", "text")
    val kept1 = Dedup.dedupAgainstNearIndexed(spark, dir, b1, ref,
      "text", "id", minJaccard = 0.5)
    assert(ids(kept1) == Set(12L))
    // fold the survivors (and an already-indexed id, which must skip)
    Dedup.updateBandIndex(spark, dir,
      kept1.union(Seq((1L, body)).toDF("id", "text")), "text", "id")
    val bandsPerId = spark.read.parquet(s"$dir/bands")
      .groupBy("__ref_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bandsPerId.keySet == Set(1L, 12L), s"$bandsPerId")
    assert(bandsPerId(1L) == bandsPerId(12L),
      "append must skip already-indexed ids, never duplicate bands: " +
        s"$bandsPerId")
    // batch 2: a near-edit of 12 now drops; the reference frame grows
    // by the same admitted rows (it supplies verification text)
    val ref2 = ref.union(b1.where(col("id") === 12L))
    val b2 = Seq((20L, "edited intro " + fresh), (21L, "wholly new thing"))
      .toDF("id", "text")
    assert(ids(Dedup.dedupAgainstNearIndexed(spark, dir, b2, ref2,
      "text", "id", minJaccard = 0.5)) == Set(21L))
  }

  test("dedupLines keeps first occurrences in order, never loses rows") {
    val docs = Seq(
      (1L, "intro\nbody\nintro\ntail\nbody"),
      (2L, "unique\nlines\nonly"),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out(1L) == (("intro\nbody\ntail", 2L)),
      "repeats drop, first occurrences keep their order")
    assert(out(2L) == (("unique\nlines\nonly", 0L)))
    assert(out(3L) == (("", 0L)),
      "a null-text document survives with empty text")
  }

  test("noveltyScore: copied text scores 0, new text 1, rows never lost") {
    import graft.ml.TextAnalysis
    val ref = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // all seen
      (11L, "completely novel words never seen before anywhere"),
      (12L, "the quick brown fox visits entirely novel territory today"),
      (13L, "so hi"),                       // < k tokens: no shingles
      (14L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val out = TextAnalysis.noveltyScore(docs, ref, "text", "id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L, 14L))
    assert(out(10L)._3 == Some(0.0), s"verbatim copy: ${out(10L)}")
    assert(out(11L)._3 == Some(1.0), s"fully novel: ${out(11L)}")
    val mixed = out(12L)._3.get.toString.toDouble
    assert(mixed > 0.0 && mixed < 1.0, s"mixed: $mixed")
    assert(out(13L) == ((0L, 0L, None)) && out(14L) == ((0L, 0L, None)),
      "shingle-less documents keep a row with a null score")
  }

  test("lmScore: in-distribution text scores low, OOV smooths finitely") {
    import graft.ml.TextAnalysis
    // reference corpus: repetitive in-domain phrasing
    val ref = (0L until 50L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog number $i"))
      .toDF("id", "text")
    val docs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog number 7"),
      (101L, "zzz qqq entirely unseen vocabulary xxx yyy www vvv"),
      (102L, "one"),                       // a single token: no bigrams
      (103L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val out = TextAnalysis.lmScore(docs, ref, "text", "id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.toString.toDouble))))
      .toMap
    assert(out.keySet == Set(100L, 101L, 102L, 103L), "no row may be lost")
    val inDist = out(100L)._2.get
    val oov = out(101L)._2.get
    assert(inDist < oov,
      s"in-distribution must score lower: $inDist vs $oov")
    assert(oov.isFinite, "Laplace smoothing must never produce -log 0")
    assert(out(102L) == ((0L, None)) && out(103L) == ((0L, None)),
      "documents without bigrams keep a row with a null score")
  }

  test("lmBackoffScore: hand-computed backoff chain, OOV floor, " +
    "standing count state equals one-shot") {
    import graft.ml.TextAnalysis
    val ref = Seq((1L, "a b c"), (2L, "a b d")).toDF("id", "text")
    // counts: N=6, V=4; 'a b'=2, 'b c'=1; 'a b c'=1; unigram a=2, b=2
    val docs = Seq(
      (10L, "a b c"), // p2: g2 'a b' fires s=2/2; p3: g3 fires s=1/2
      (11L, "b z"),   // OOV floor: α^1 · (0+1)/(N+V) = 0.4/10
      (12L, "x"))     // single token: null over 0
      .toDF("id", "text")
    def scoresOf(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.toString.toDouble))))
      .toMap
    val out = scoresOf(TextAnalysis.lmBackoffScore(docs, ref, "text",
      "id", n = 3, alpha = 0.4))
    def t6(d: Double) = math.floor(d * 1e6) / 1e6
    assert(out(10L)._1 == 2L)
    assert(out(10L)._2.get ==
      t6((-math.log(1.0) - math.log(0.5)) / 2), s"got ${out(10L)}")
    assert(out(11L) == ((1L,
      Some(t6(-math.log(0.4 * 1.0 / 10.0))))), s"got ${out(11L)}")
    assert(out(12L) == ((0L, None)))
    // the standing state folds to the identical scores
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lm-spec").toString
    TextAnalysis.appendNgramState(
      ref.where(col("id") === 1), "text", 3, dir)
    TextAnalysis.appendNgramState(
      ref.where(col("id") === 2), "text", 3, dir)
    val folded = scoresOf(TextAnalysis.lmBackoffScoreFromState(spark,
      dir, docs, "text", "id", n = 3, alpha = 0.4))
    assert(folded == out, "state fold must equal the one-shot score")
    // a mismatched order refuses loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.lmBackoffScoreFromState(spark, dir, docs, "text",
        "id", n = 4, alpha = 0.4).collect()
    }
  }

  test("gopherRules: each published rule fires on its own violation") {
    import graft.ml.TextAnalysis
    val good = Seq.fill(5)(
      "the quick brown fox jumps over the lazy dog with energy and joy")
      .mkString(" ")                                    // 65 plain words
    val rows = Seq(
      (1L, good),
      (2L, "too short to pass"),                        // < 50 words
      (3L, Seq.fill(60)("supercalifragilisticexpialidocious")
        .mkString(" ")),                                // mean len > 10
      (4L, good + " " + Seq.fill(10)("#").mkString(" ")), // symbols
      (5L, (1 to 10).map(i => s"- bullet item $i").mkString("\n")),
      (6L, (1 to 10).map(i =>
        if (i <= 4) s"line $i trails off..." else s"line $i is fine")
        .mkString("\n")),                               // 40 % ellipsis
      (7L, (1 to 60).map(_.toString).mkString(" ")),    // digits only
      (8L, Seq.fill(60)("orbit").mkString(" ")))        // no stop words
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(rows, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("gopher_keep"), "the good doc keeps")
    assert(!out(2L).getAs[Boolean]("word_count_ok"))
    assert(!out(3L).getAs[Boolean]("mean_word_len_ok"))
    assert(!out(4L).getAs[Boolean]("symbol_ratio_ok"))
    assert(!out(5L).getAs[Boolean]("bullet_lines_ok"))
    assert(!out(6L).getAs[Boolean]("ellipsis_lines_ok"))
    assert(!out(7L).getAs[Boolean]("alpha_words_ok"))
    assert(!out(8L).getAs[Boolean]("stopword_ok"))
    assert((2L to 8L).forall(i => !out(i).getAs[Boolean]("gopher_keep")),
      "any failed rule fails the conjunction")
  }

  test("gopherRepetitionRules: each repetition rule fires; overlaps " +
    "count once") {
    import graft.ml.TextAnalysis
    val filler = (1 to 30).map(i => f"f$i%02d").mkString(" ")
    val rows = Seq(
      (1L, (1 to 10).map(i =>
        s"alpha$i bravo$i charlie$i delta$i echo$i")
        .mkString("\n")),                               // all-distinct doc
      (2L, (Seq.fill(5)("same line") ++
        (1 to 5).map(i => s"other line $i")).mkString("\n")), // dup lines
      (3L, (Seq.fill(4)("para one here") ++
        (1 to 4).map(i => s"unique para $i")).mkString("\n\n")), // dup paras
      (4L, Seq.fill(30)("buy now").mkString(" ")),      // top 2-gram
      // 7×"p" → dup 5-grams cover 7 union chars (15 if double-counted);
      // filler makes 97 total chars: 700 ≤ 97·15 only under union math
      (5L, "p p p p p p p " + filler),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetitionRules(rows, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("rep_keep"), "clean doc keeps")
    assert(!out(2L).getAs[Boolean]("dup_line_frac_ok"))
    assert(!out(2L).getAs[Boolean]("dup_line_char_ok"))
    assert(!out(3L).getAs[Boolean]("dup_para_frac_ok"))
    assert(!out(3L).getAs[Boolean]("dup_para_char_ok"))
    assert(!out(4L).getAs[Boolean]("top_2gram_ok"))
    assert(!out(4L).getAs[Boolean]("rep_keep"))
    assert(out(5L).getAs[Boolean]("dup_5gram_ok"),
      "overlapping duplicated 5-grams must count each character once " +
        "(naive double-counting would fail this doc)")
    assert((2 to 10).forall(n =>
      out(1L).getAs[Boolean](
        if (n <= 4) s"top_${n}gram_ok" else s"dup_${n}gram_ok")))
    assert(out(6L).getAs[Boolean]("rep_keep"),
      "null text passes every rule vacuously")
  }

  test("c4Rules: line filter and page verdicts") {
    import graft.ml.TextAnalysis
    val rows = Seq(
      (1L, "This is a good first sentence. Plus a second one here!\n" +
        "no terminal punctuation line\n" +
        "ok.\n" +                             // < 3 words → dropped
        "Please enable JavaScript to proceed now.\n" +
        "Another fine sentence ends here. Repeat? Yes. More! Sure."),
      (2L, "Lorem Ipsum dolor sit amet today. And more. And more. " +
        "And more. And more. And more."),
      (3L, "A config block { appears here today. More. More. More. " +
        "More. More."),
      (4L, "The word casino appears right here. More. More. More. " +
        "More. More."),
      (5L, "Only two sentences here. Not enough at all."))
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4Rules(rows, "text",
      badWords = Seq("casino")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("c4_text") ==
      "This is a good first sentence. Plus a second one here!\n" +
        "Another fine sentence ends here. Repeat? Yes. More! Sure.",
      "short, punctuation-less and javascript lines are dropped")
    assert(out(1L).getAs[Int]("n_kept_lines") == 2)
    assert(out(1L).getAs[Boolean]("c4_keep"))
    assert(!out(2L).getAs[Boolean]("lorem_ok"))
    assert(!out(3L).getAs[Boolean]("brace_ok"))
    assert(!out(4L).getAs[Boolean]("badwords_ok"))
    assert(!out(5L).getAs[Boolean]("sentence_count_ok"))
    assert((2L to 5L).forall(i => !out(i).getAs[Boolean]("c4_keep")))
  }

  test("vocabulary: tf/df exact, deterministic tie-break at the cut") {
    import graft.ml.TextAnalysis
    val rows = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple date date cherry"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabulary(rows, "text", "doc_id", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // apple tf=3; banana tf=2 df=2; cherry tf=2 df=2; date tf=2 df=1 —
    // the tf=2 three-way tie cuts alphabetically: banana, cherry
    assert(out.toSeq == Seq(("apple", 3L, 2L), ("banana", 2L, 2L),
      ("cherry", 2L, 2L)), out.toSeq.toString)
  }

  test("tfidfSparse/tfidfVectors: idf math and dense placement") {
    import graft.ml.TextAnalysis
    val rows = Seq(
      (1L, "common rare"),
      (2L, "common"),
      (3L, "common common"))
      .toDF("doc_id", "text")
    val sp = TextAnalysis.tfidfSparse(rows, "text", "doc_id", dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // N=3; 'common' df=3 → idf ln(4/4)=0; 'rare' df=1 → idf ln(2)
    val rare = sp.collect { case ((1L, _), v) if v != 0.0 => v }
    assert(rare.size == 1 &&
      math.abs(rare.head - math.floor(math.log(2.0) * 1e6) / 1e6) < 1e-9,
      sp.toString)
    assert(sp.count(_._2 == 0.0) == 3,
      "the corpus-wide term scores 0 in every doc: " + sp.toString)
    val dense = TextAnalysis.tfidfVectors(rows, "text", "doc_id", 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(dense.values.forall(_.size == 64))
    val rareBucket = sp.collect { case ((1L, b), v) if v != 0.0 => b }.head
    assert(math.abs(dense(1L)(rareBucket.toInt) - rare.head.toFloat)
      < 1e-9, "dense vector must place tfidf at its hash bucket")
    assert(dense(2L).forall(_ == 0f), "all-common doc is the zero vector")
  }

  test("exactSubstringDedup: cross-doc and within-doc windows, " +
    "overlap-safe") {
    val rows = Seq(
      (1L, "a b c d e f"),                 // unique — untouched
      (2L, "x y z p q r"),                 // shares "x y z" with doc 3
      (3L, "x y z w v u"),
      (4L, "m n o m n o m n o"),           // self-repeating — all covered
      (5L, null.asInstanceOf[String]),
      (6L, "s t"))                         // shorter than the window
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(rows, "text", "doc_id",
      minTokens = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dropped_tokens"),
          r.getAs[String]("text_clean")))).toMap
    assert(out(1L) == ((6L, 0L, "a b c d e f")))
    assert(out(2L) == ((6L, 3L, "p q r")),
      "the shared window is stripped from BOTH documents: " + out)
    assert(out(3L) == ((6L, 3L, "w v u")))
    assert(out(4L) == ((9L, 9L, "")),
      "overlapping duplicated windows cover each position once")
    assert(out(5L) == ((0L, 0L, "")), "null text keeps a zero row")
    assert(out(6L) == ((2L, 0L, "s t")),
      "docs shorter than the window have no windows to match")
  }

  test("tuneLsh: budget respected, threshold steers rows, deterministic") {
    val lo = Dedup.tuneLsh(0.2, p = 12)
    val hi = Dedup.tuneLsh(0.8, p = 12)
    Seq(lo, hi).foreach { t =>
      assert(t.bands >= 1 && t.rows >= 1 && t.bands * t.rows <= 12,
        t.toString)
      assert(t.error > 0 && t.error < 0.5, t.toString)
    }
    // a low threshold wants a shallow curve (few rows, many bands);
    // a high threshold wants a steep one (more rows per band)
    assert(lo.rows < hi.rows, s"$lo vs $hi")
    assert(Dedup.tuneLsh(0.5, p = 12) == Dedup.tuneLsh(0.5, p = 12))
    // the default engine layout (4 bands x 3 rows) must never beat the
    // tuned pick at its own threshold
    val default = {
      val n = 1000
      (0 until n).map { i =>
        val s = (i + 0.5) / n
        val pr = 1.0 - math.pow(1.0 - math.pow(s, 3), 4)
        if (s < 0.5) pr else 1.0 - pr
      }.sum / n
    }
    assert(Dedup.tuneLsh(0.5, p = 12).error <= default + 1e-12)
  }

  test("lshCandidatesTuned applies exactly the tuned layout") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val t = Dedup.tuneLsh(0.75)
    assert(t.bands * t.rows <= 12)
    val tuned = Dedup.lshCandidatesTuned(docs, "text", "doc_id", 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the tuned call must equal the explicit-layout call with tuneLsh's
    // own picks (p chosen so lshCandidates derives the same rows/band)
    val explicit = Dedup.lshCandidates(docs, "text", "doc_id",
        p = t.bands * t.rows, bands = t.bands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tuned == explicit)
    assert(tuned.contains((1L, 4L)), "exact dups always collide")
  }

  test("dedupNear resolves verified clusters; collisions don't merge") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "one two three four five six seven eight nine ten"),
      (5L, "completely different words sharing nothing with the others"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupNear(docs, "text", "doc_id", minJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out.size == 5, "every doc gets a verdict")
    assert(out(1L) == (1L, true))
    assert(out(2L) == (1L, false), "exact dup joins the cluster minimum")
    assert(out(3L) == (1L, false), "near dup joins via the verified pair")
    assert(out(4L) == (4L, true) && out(5L) == (5L, true))
    // the pair stage must report the verified jaccard, not raw candidates
    val pairs = Dedup.nearPairs(docs, "text", "doc_id", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("winnowing: shared-run guarantee, sparsity, pair detection") {
    val run = "q w e r t y u i" // 8 shared tokens = w + k - 1
    val docs = Seq(
      (1L, s"a b c d e f $run"),
      (2L, s"$run z x c v b n"),
      (3L, "totally different words with no common run here at all"))
      .toDF("doc_id", "text")
    val by = Dedup.winnowing(docs, "text", "doc_id") // k=5, w=4
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(by(1L).intersect(by(2L)).nonEmpty,
      "a shared run of w+k-1 tokens must share at least one fingerprint")
    assert(by(3L).intersect(by(1L)).isEmpty)
    // sparsity: selections are a strict subset of the 10 grams
    assert(by(1L).size < 10, by(1L).toString)
    // fewer than w grams → no full window → no fingerprints
    val tiny = Seq((9L, "a b c d e f g")).toDF("doc_id", "text")
    assert(Dedup.winnowing(tiny, "text", "doc_id").count() == 0)
    val pairs = Dedup
      .winnowingPairs(docs, "text", "doc_id", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("exact all-pairs baselines refuse oversized inputs") {
    val big = spark.range(50).select(col("id").as("doc_id"),
      array(lit(1f), lit(0f)).as("emb"))
    val e = intercept[IllegalArgumentException](
      Dedup.embeddingPairs(big, "emb", "doc_id", 0.9, maxExactRows = 10))
    assert(e.getMessage.contains("embeddingPairsCelled"))
    val e2 = intercept[IllegalArgumentException](
      graft.ml.Similarity.bruteForceTopK(big, big, "emb", "doc_id", 3,
        maxExactWork = 100))
    assert(e2.getMessage.contains("IvfIndex"))
  }

  test("gopherRules: words are whitespace words — newlines split, " +
    "space runs mint no empties, symbol thresholds apply per symbol") {
    import graft.ml.TextAnalysis
    // 60 words joined by NEWLINES: under a space-only split this would
    // be one giant fused token (word count 1, no stopword hit)
    val newlined = ((1 to 52).map(i => s"word$i") ++
      Seq("the", "of", "and", "that", "have", "with", "dog.", "cat"))
      .mkString("\n")
    // 60 words with double-space runs: empties must not count as words
    val doubled = (1 to 60).map(i => s"word$i").mkString("  ")
    // 5 '#' and 5 '...' over 60 words: combined (10·10 > 60) would
    // reject; the published PER-SYMBOL rule keeps (50 ≤ 60 twice)
    val good = Seq.fill(12)("the quick brown fox jumps").mkString(" ")
    val perSym = good + " " + (Seq.fill(5)("#") ++ Seq.fill(5)("..."))
      .mkString(" ")
    val oneSym = good + " " + Seq.fill(7)("#").mkString(" ")
    val rows = Seq((1L, newlined), (2L, doubled), (3L, perSym),
      (4L, oneSym)).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(rows, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("word_count_ok"),
      "newline-separated words must each count")
    assert(out(1L).getAs[Boolean]("stopword_ok"),
      "a stopword after a newline must still hit")
    assert(out(2L).getAs[Boolean]("word_count_ok"),
      "space runs must not mint empty words")
    assert(out(2L).getAs[Boolean]("mean_word_len_ok"),
      "empty words must not drag the mean word length down")
    assert(out(3L).getAs[Boolean]("symbol_ratio_ok"),
      "each symbol under 10% separately must keep (combined-ratio " +
        "math would reject this doc)")
    assert(!out(4L).getAs[Boolean]("symbol_ratio_ok"),
      "one symbol over 10% alone must reject")
  }

  test("gopherRepetitionRules: top n-gram is the MOST FREQUENT gram's " +
    "coverage, not an upper bound over count x chars") {
    import graft.ml.TextAnalysis
    // (aa bb) x3 covers 12 chars; the once-only long gram
    // (cccccccc dddddddd) covers 16. wchars = 64, threshold 20% ->
    // argmax-by-count passes (1200 <= 1280) where the old
    // max-over-all-grams formulation rejected (1600 > 1280).
    val text = ("aa bb f1 aa bb f2 aa bb f3 cccccccc dddddddd " +
      (1 to 10).map(i => f"g$i%02d").mkString(" "))
    val out = TextAnalysis.gopherRepetitionRules(
      Seq((1L, text)).toDF("doc_id", "text"), "text", "doc_id")
      .collect().head
    assert(out.getAs[Boolean]("top_2gram_ok"),
      "coverage must come from the argmax-by-count gram (the paper's " +
        "most-frequent n-gram), not a longer rarer one")
  }
}
