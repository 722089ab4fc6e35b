package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.Recipes

/** The end-to-end curation recipe: every stage must drop exactly the
  * rows its operator is responsible for, the funnel must be
  * nonincreasing, and the whole run must be partition-order
  * deterministic.
  */
class RecipeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  // three DISTINCT long pages (near-dedup must not cluster them) that
  // all pass C4 (terminal punctuation, >= 3 words per line) and Gopher
  // (>= 50 words, stopwords present, varied vocabulary)
  private val page1 =
    "The harbour town wakes early when the fishing boats return. " +
      "Crates of silver herring slide across the wet stone pier. " +
      "Merchants call their prices while gulls argue over the scraps. " +
      "By noon the market square smells of salt and fresh bread. " +
      "Children chase hoops between the stalls until the bells ring. " +
      "In the evening the lighthouse sweeps its beam across the bay."
  private val page2 =
    "A mountain railway climbs through larch forest above the valley. " +
      "Each switchback reveals another view of the glacier below. " +
      "Engineers carved these tunnels by hand more than a century ago. " +
      "Passengers lean toward the windows as marmots scatter from the track. " +
      "At the summit station the air is thin and astonishingly clear. " +
      "Hikers refill their bottles from a spring beside the platform."
  private val page6 =
    "The observatory sits alone on a plateau far from city light. " +
      "Astronomers sleep through the day and work beneath the dome at night. " +
      "Their instruments measure the faint breathing of distant stars. " +
      "A log book records every exposure with patient careful handwriting. " +
      "When storms roll in they seal the shutters and process old data. " +
      "Morning finds the telescope parked and the coffee pot empty."

  // corpus: good docs, a blocked-domain doc, a markup-only doc, a junk
  // page (fails the rules), an exact URL twin, and a near-dup text twin
  private def corpus = Seq(
    (1L, s"<p>$page1</p>", "https://good.com/a"),
    (2L, s"<p>$page2</p>", "https://fine.org/b"),
    (3L, s"<p>$page1</p>", "https://spam.bad.com/x"), // blocked
    (4L, "<script>var x;</script><style>p{}</style>", "https://good.com/e"), // empty after strip
    (5L, "<p>buy buy buy buy buy buy buy buy buy buy buy buy.</p>",
      "https://fine.org/j"), // junk: passes C4, fails the Gopher rules
    (6L, s"<p>$page6</p>", "https://good.com/a?utm_source=x"), // url twin of 1
    (7L, s"<p>$page1 Some extra tail words sit here.</p>",
      "https://fine.org/n")) // near-dup of 1
    .toDF("id", "html", "url")

  private def seed = Seq(
    (1L, 1), (2L, 1), (5L, 0)).toDF("id", "y")

  test("funnel drops the right rows at the right stages") {
    val bl = Seq("bad.com").toDF("entry")
    val (kept, funnel) = Recipes.curate(corpus, "id", "html", "url",
      bl, seed, "y", minJaccard = 0.5)
    val f = funnel.collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(f("input") == 7)
    assert(f("html_to_text") == 6, "the markup-only doc dies here")
    assert(f("blocklist") == 5, "spam.bad.com dies here")
    assert(f("quality_rules") == 4, "the repetition page dies here")
    assert(f("classifier") == 4, "seeded positives pass the tuned cut")
    assert(f("url_dedup") == 3, "the canonical url twin dies here")
    assert(f("near_dedup") == 2, "the near-dup text twin dies here")
    val ids = kept.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L), ids.toString)
    // funnel is nonincreasing
    val counts = funnel.orderBy("step").collect().map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a })
    graft.ml.CacheLifecycle.releaseAll()
  }

  test("an input column named like a front-stage working column is refused") {
    val bl = Seq("bad.com").toDF("entry")
    val e = intercept[IllegalArgumentException] {
      Recipes.curate(corpus.withColumn("blocked", lit(false)), "id",
        "html", "url", bl, seed, "y")
    }
    assert(e.getMessage.contains("blocked"))
  }

  test("curateFunnelByDomain: per-domain docs sum to the funnel per " +
    "stage, and losses attribute to the right domains") {
    val bl = Seq("bad.com").toDF("entry")
    val byDomain = Recipes.curateFunnelByDomain(corpus, "id", "html",
      "url", bl, seed, "y", minJaccard = 0.5)
    val rows = byDomain.collect().map(r =>
      (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    // stage sums == the global funnel (7,6,5,4,4,3,2)
    val sums = byDomain.groupBy("step").agg(sum("docs").as("s"))
      .orderBy("step").collect().map(_.getLong(1)).toSeq
    assert(sums == Seq(7L, 6L, 5L, 4L, 4L, 3L, 2L), sums.toString)
    // the blocklist loss lands on spam.bad.com's registrable domain
    assert(rows(("html_to_text", "bad.com")) == 1L)
    assert(!rows.contains(("blocklist", "bad.com")),
      "the blocked domain must vanish AT the blocklist stage")
    // the url twin dies on good.com, the near-dup on fine.org
    assert(rows(("classifier", "good.com")) == 2L)
    assert(rows(("url_dedup", "good.com")) == 1L)
    assert(rows(("url_dedup", "fine.org")) == 2L)
    assert(rows(("near_dedup", "fine.org")) == 1L)
    graft.ml.CacheLifecycle.releaseAll()
  }

  private val page8 =
    "Vineyards terrace the southern slope in narrow green ribbons. " +
      "Workers prune the rows before the first warm week of spring. " +
      "Old cellars beneath the farmhouse hold oak barrels and quiet dust. " +
      "A cooper repairs staves while swallows nest under the eaves. " +
      "Harvest wagons roll at dawn when the sugar finally peaks. " +
      "Neighbours gather in October to press the late fruit together."
  private val page9 =
    "The printing works occupies a brick hall beside the canal. " +
      "Compositors once set metal type under tall north windows. " +
      "Now a restored press runs posters for the weekend market. " +
      "Rollers spread ink with a smell of linseed and solvents. " +
      "Apprentices learn to mind their fingers near the flywheel. " +
      "Finished sheets dry on lines strung across the warm ceiling."

  test("curateBatch probes the standing indexes; foldBatch closes the loop") {
    import graft.ml.{Classifier, Curation, Dedup}
    val bl = Seq("bad.com").toDF("entry")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-recipe-incr").toString
    // batch 1 state: curate the base corpus, persist its indexes
    val (kept1, _) = Recipes.curate(corpus, "id", "html", "url", bl,
      seed, "y", minJaccard = 0.5)
    kept1.select("id", "text_clean", "url")
      .write.mode("overwrite").parquet(s"$dir/admitted")
    Curation.buildUrlIndex(kept1, "url", "id", s"$dir/url")
    Dedup.buildBandIndex(spark.read.parquet(s"$dir/admitted"),
      "text_clean", "id", s"$dir/band")
    // frozen operating point: an all-positive seed tunes the cut to 0
    // (keep everything), isolating the index-probe semantics
    val texted = corpus
      .withColumn("text_clean", Curation.htmlToText(col("html")))
      .where(col("text_clean").isNotNull && col("text_clean") =!= "")
    val labeled = texted.select(col("id"), col("text_clean"))
      .join(Seq((1L, 1), (2L, 1)).toDF("id", "y"), Seq("id"))
    val model = Classifier.train(labeled, "text_clean", "y", "id")
    val cut = Classifier
      .tuneThreshold(labeled, "text_clean", "y", "id", model).cutBucket
    assert(cut == 0, s"all-positive seed must tune the cut to 0, got $cut")
    def refText = spark.read.parquet(s"$dir/admitted")
      .select(col("id"), col("text_clean"))
    def probe(batch: org.apache.spark.sql.DataFrame) = {
      val (kept, funnel) = Recipes.curateBatch(batch, "id", "html",
        "url", bl, model, cut, s"$dir/url", s"$dir/band", refText,
        minJaccard = 0.5)
      (kept, funnel.collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap)
    }
    // batch 2: a near twin of kept doc 1 (band-index drop), a url
    // collision with kept doc 1 (url-index drop), an internal exact
    // twin pair (one survivor), and a fresh novel doc
    val batch2 = Seq(
      (11L, s"<p>edited intro $page1</p>", "https://good.com/t11"),
      (12L, s"<p>$page8</p>", "https://good.com/a?utm_source=y"),
      (13L, s"<p>$page9</p>", "https://fine.org/t13"),
      (14L, s"<p>$page9</p>", "https://fine.org/t14"),
      (15L, s"<p>$page8</p>", "https://good.com/t15"))
      .toDF("id", "html", "url")
    val (kept2, f2) = probe(batch2)
    assert(kept2.select("id").collect().map(_.getLong(0)).toSet ==
      Set(13L, 15L), "index probes must drop 11 (near) and 12 (url); " +
        "the internal pass must drop 14")
    assert(f2("url_dedup") == 4 && f2("near_dedup") == 2, f2.toString)
    assert(f2("quality_rules") == 5,
      "every batch-2 page must survive the cleaning front")
    // batch 3 BEFORE the fold: twins of batch-2 SURVIVORS pass — the
    // un-folded indexes cannot know them
    val batch3 = Seq(
      (21L, s"<p>edited intro $page9</p>", "https://good.com/t21"),
      (22L, s"<p>$page8</p>", "https://fine.org/t13?utm_source=z"),
      (23L, s"<p>$page6</p>", "https://good.com/t23"))
      .toDF("id", "html", "url")
    val (pre, _) = probe(batch3)
    assert(pre.select("id").collect().map(_.getLong(0)).toSet ==
      Set(21L, 22L, 23L),
      "before the fold nothing in batch 3 is a known duplicate")
    // fold batch 2's survivors, grow the reference text, probe again
    kept2.select("id", "text_clean", "url")
      .write.mode("append").parquet(s"$dir/admitted")
    Recipes.foldBatch(spark, kept2, "url", "id", s"$dir/url",
      s"$dir/band")
    val (post, f3) = probe(batch3)
    assert(post.select("id").collect().map(_.getLong(0)).toSet ==
      Set(23L),
      "after the fold 21 is a near-dup of folded 13 and 22 collides " +
        "with folded 13's canonical url")
    assert(f3("url_dedup") == 2 && f3("near_dedup") == 1, f3.toString)
    graft.ml.CacheLifecycle.releaseAll()
  }

  test("the incremental recipe runs as a streaming foreachBatch loop") {
    import graft.ml.{Classifier, Curation, Dedup}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val bl = Seq("bad.com").toDF("entry")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-recipe-stream").toString
    val (kept1, _) = Recipes.curate(corpus, "id", "html", "url", bl,
      seed, "y", minJaccard = 0.5)
    kept1.select("id", "text_clean", "url")
      .write.mode("overwrite").parquet(s"$dir/admitted")
    Curation.buildUrlIndex(kept1, "url", "id", s"$dir/url")
    Dedup.buildBandIndex(spark.read.parquet(s"$dir/admitted"),
      "text_clean", "id", s"$dir/band")
    val texted = corpus
      .withColumn("text_clean", Curation.htmlToText(col("html")))
      .where(col("text_clean").isNotNull && col("text_clean") =!= "")
    val labeled = texted.select(col("id"), col("text_clean"))
      .join(Seq((1L, 1), (2L, 1)).toDF("id", "y"), Seq("id"))
    val model = Classifier.train(labeled, "text_clean", "y", "id")
    val cut = Classifier
      .tuneThreshold(labeled, "text_clean", "y", "id", model).cutBucket
    val keptLog =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = in.toDF().toDF("id", "html", "url")
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
          batchId: Long) =>
        if (!batch.isEmpty) {
          val (kept, _) = Recipes.curateBatch(batch, "id", "html",
            "url", bl, model, cut, s"$dir/url", s"$dir/band",
            spark.read.parquet(s"$dir/admitted")
              .select(col("id"), col("text_clean")),
            minJaccard = 0.5)
          kept.select("id", "text_clean", "url")
            .write.mode("append").parquet(s"$dir/admitted")
          Recipes.foldBatch(spark, kept, "url", "id", s"$dir/url",
            s"$dir/band")
          keptLog.synchronized {
            keptLog += batchId ->
              kept.select("id").collect().map(_.getLong(0)).toSet
          }
        }
        ()
      }
      .start()
    try {
      in.addData((31L, s"<p>$page8</p>", "https://good.com/s31"))
      q.processAllAvailable()
      // batch B: a near twin of the JUST-FOLDED 31 and a fresh doc
      in.addData(
        (32L, s"<p>edited intro $page8</p>", "https://fine.org/s32"),
        (33L, s"<p>$page6</p>", "https://good.com/s33"))
      q.processAllAvailable()
    } finally q.stop()
    assert(keptLog.map(_._2).toSeq == Seq(Set(31L), Set(33L)),
      s"the fold inside the loop must drop 32 against 31: $keptLog")
    graft.ml.CacheLifecycle.releaseAll()
  }

  test("curateReports: one staged pass equals the separate entry points") {
    val bl = Seq("bad.com").toDF("entry")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val r = Recipes.curateReports(corpus, "id", "html", "url", bl,
      seed, "y", minJaccard = 0.5)
    val oneKept = rows(r.kept.select("id"))
    val oneFunnel = rows(r.funnel)
    val oneDomains = rows(r.funnelByDomain)
    graft.ml.CacheLifecycle.releaseAll()
    val (kept, funnel) = Recipes.curate(corpus, "id", "html", "url",
      bl, seed, "y", minJaccard = 0.5)
    assert(oneKept === rows(kept.select("id")))
    assert(oneFunnel === rows(funnel))
    graft.ml.CacheLifecycle.releaseAll()
    val byDomain = Recipes.curateFunnelByDomain(corpus, "id", "html",
      "url", bl, seed, "y", minJaccard = 0.5)
    assert(oneDomains === rows(byDomain))
    graft.ml.CacheLifecycle.releaseAll()
  }

  test("the recipe is partition-order deterministic") {
    val bl = Seq("bad.com").toDF("entry")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val (kept, _) = Recipes.curate(df, "id", "html", "url", bl,
        seed, "y", minJaccard = 0.5)
      val ids = kept.select("id").collect().map(_.getLong(0)).toSet
      graft.ml.CacheLifecycle.releaseAll()
      ids
    }
    assert(run(corpus.repartition(5)) == run(corpus.coalesce(1)))
  }
}
