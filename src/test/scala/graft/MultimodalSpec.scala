package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Multimodal, Similarity}

/** Real PPM decode through the multimodal seam, and the trained k-means
  * IVF codebook.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def ppmP6(w: Int, h: Int, rgb: (Int, Int, Int)): Array[Byte] = {
    val header = s"P6\n# test\n$w $h\n255\n".getBytes("US-ASCII")
    val body = Array.fill(w * h)(
      Array(rgb._1.toByte, rgb._2.toByte, rgb._3.toByte)).flatten
    header ++ body
  }

  test("Ppm decodes P6 and P3, features and resize work") {
    val img = Multimodal.Ppm.decode(ppmP6(4, 2, (255, 0, 0))).get
    assert(img.width == 4 && img.height == 2)
    assert(img.rgb.forall(_ == 0xff0000))
    assert(math.abs(Multimodal.Ppm.meanLuma(img) - 76.0) < 1.0) // .299*255
    val small = Multimodal.Ppm.resizeNearest(img, 2, 1)
    assert(small.width == 2 && small.height == 1 && small.rgb.forall(_ == 0xff0000))

    val p3 = "P3\n2 1\n255\n0 255 0  0 0 255\n".getBytes("US-ASCII")
    val g = Multimodal.Ppm.decode(p3).get
    assert(g.rgb.toSeq == Seq(0x00ff00, 0x0000ff))

    assert(Multimodal.Ppm.decode("not an image".getBytes).isEmpty)
  }

  test("decodeImages: real decode, features, and quarantine predicate") {
    val rows = Seq(
      (1L, ppmP6(3, 3, (10, 20, 30)), "ppm"),
      (2L, "P3\n1 1\n255\n255 255 255\n".getBytes("US-ASCII"), "ppm"),
      (3L, "corrupted-bytes".getBytes, "jpeg"))
    val packed = rows.toDF("doc_id", "payload", "fmt")
      .withColumn("media_meta", struct(col("fmt").as("format"),
        octet_length(col("payload")).as("n_bytes")))
    val out = Multimodal.decodeImages(packed, "doc_id", thumbW = 2, thumbH = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("width") == 3 && out(1L).getAs[Boolean]("decoded"))
    assert(out(1L).getAs[scala.collection.Seq[Int]]("thumb_luma").length == 4)
    assert(out(2L).getAs[Double]("mean_luma") == 255.0)
    assert(!out(3L).getAs[Boolean]("decoded")) // quarantined, job survives
  }

  test("k-means codebook: nlist centroids, search beats garbage") {
    graft.queries.Q.session(spark)
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val centroids = Similarity.kmeansCentroids(emb, "embedding", "vec_id",
      nlist = 8, iters = 2)
    assert(centroids.count() == 8)
    val queries = emb.where(col("vec_id") < 5)
    val got = Similarity.IvfIndex.build(emb, "embedding", "vec_id",
        centroids = Some(centroids))
      .search(queries, k = 3, nprobe = 2)
      .collect()
    assert(got.length == 15) // 5 queries x top-3
    // sanity: every reported cosine is within [-1, 1] and ranks are 1..3
    assert(got.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.000001))
    assert(got.map(_.getAs[Int]("rank")).toSet == Set(1, 2, 3))
  }

  test("farthest-first seeding: nlist distinct spread seeds, trains k-means") {
    graft.queries.Q.session(spark)
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val seeds = Similarity.seedFarthestFirst(emb, "embedding", "vec_id",
      nlist = 8, rounds = 3)
    val ids = seeds.select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == 8 && ids.toSet.size == 8)
    val trained = Similarity.kmeansCentroids(emb, "embedding", "vec_id",
      nlist = 8, iters = 1, init = Some(seeds))
    assert(trained.count() == 8)
  }

  test("multi-probe celled pairs are a superset of single-probe pairs") {
    graft.queries.Q.session(spark)
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .where(col("vec_id") < 300)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairSet(graft.ml.Dedup.embeddingPairsCelled(
      emb, "embedding", "vec_id", threshold = 0.35, nlist = 8))
    val multi = pairSet(graft.ml.Dedup.embeddingPairsCelled(
      emb, "embedding", "vec_id", threshold = 0.35, nlist = 8, nprobe = 2))
    assert(single.subsetOf(multi))
    // the fixture has boundary pairs: multi-probe must recover some
    assert(multi.size > single.size)
  }

  test("Wav round-trips PCM and walks extra chunks") {
    import Multimodal.Wav
    val a = Wav.Audio(44100, 2, Array[Short](0, 100, -100, 32767, -32768, 7))
    val back = Wav.decode(Wav.encode(a)).get
    assert(back.sampleRate == 44100 && back.channels == 2)
    assert(back.samples.toSeq == a.samples.toSeq)
    assert(Wav.durationMs(Wav.Audio(1000, 1, new Array[Short](500))) == 500)
    assert(Wav.peak(back) == 32768)
    // a LIST chunk between fmt and data must be skipped
    val enc = Wav.encode(a)
    val (head, data) = enc.splitAt(36) // RIFF..fmt chunk end
    val list = "LIST".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes
    val withList = head ++ list ++ data
    // patch the RIFF size (not validated, but keep it honest)
    assert(Wav.decode(withList).get.samples.toSeq == a.samples.toSeq)
  }

  test("Wav rejects non-PCM and truncated payloads") {
    import Multimodal.Wav
    assert(Wav.decode(Array.fill[Byte](10)(1)).isEmpty)
    assert(Wav.decode("RIFFxxxxWAVE".getBytes ++
      new Array[Byte](40)).isEmpty)
    val good = Wav.encode(Wav.Audio(8000, 1, Array[Short](1, 2, 3)))
    val nonPcm = good.clone
    nonPcm(20) = 3 // fmt code: IEEE float
    assert(Wav.decode(nonPcm).isEmpty)
  }

  test("Wav returns None (never throws) on corrupt chunk structure") {
    import Multimodal.Wav
    // fmt chunk claims len=4 with only 4 bytes left: would underflow
    val shortFmt = "RIFF".getBytes ++ Array[Byte](36, 0, 0, 0) ++
      "WAVE".getBytes ++ "LIST".getBytes ++ Array[Byte](24, 0, 0, 0) ++
      new Array[Byte](24) ++ "fmt ".getBytes ++ Array[Byte](4, 0, 0, 0) ++
      new Array[Byte](4)
    assert(Wav.decode(shortFmt).isEmpty)
    // undersized fmt (len < 16) must not rewind and re-parse garbage
    val tiny = "RIFF".getBytes ++ Array[Byte](40, 0, 0, 0) ++
      "WAVE".getBytes ++ "fmt ".getBytes ++ Array[Byte](8, 0, 0, 0) ++
      new Array[Byte](32)
    assert(Wav.decode(tiny).isEmpty)
    // odd-length final chunk: word-aligned skip past the buffer end
    val oddTail = "RIFF".getBytes ++ Array[Byte](37, 0, 0, 0) ++
      "WAVE".getBytes ++ "LIST".getBytes ++ Array[Byte](33, 0, 0, 0) ++
      new Array[Byte](33)
    assert(Wav.decode(oddTail).isEmpty)
  }

  test("decodeAudio handles good and bad payloads in one partition") {
    import Multimodal.Wav
    val rows = Seq(
      (1L, Wav.encode(Wav.Audio(8000, 1, Array[Short](3, 4)))),
      (2L, Array[Byte](1, 2, 3)))
    val packed = rows.toDF("id", "payload")
      .withColumn("media_meta",
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.lit("wav").as("format"),
          org.apache.spark.sql.functions.lit(0).as("n_bytes")))
    val out = Multimodal.decodeAudio(packed, "id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(8)).toMap
    assert(out == Map(1L -> true, 2L -> false))
  }

  test("imageAHashPairs: near twins pair, unrelated images do not") {
    import spark.implicits._
    // deterministic 8x8 gray PPMs: per-cell md5-derived luma; the twin
    // bumps ONE cell, the stranger re-hashes every cell
    def ppmOf(seed: String, bump: Boolean): String = {
      def lum(c: Int): Int = {
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed-$c".getBytes("UTF-8"))
          .take(1).map("%02x".format(_)).mkString
        val v = Integer.parseInt(h, 16)
        if (bump && c == 0) (v + 16) % 256 else v
      }
      "P3\n8 8\n255\n" +
        (0 until 64).map(c => s"${lum(c)} ${lum(c)} ${lum(c)}").mkString(" ")
    }
    val df = Seq(
      (1L, ppmOf("a", bump = false)),
      (2L, ppmOf("a", bump = true)),   // near twin of 1
      (3L, ppmOf("zzz", bump = false)), // unrelated
      (4L, "not a ppm"))                // undecodable: pairs with nothing
      .toDF("id", "img").withColumn("fmt", lit("ppm"))
    val pairs = Multimodal.imageAHashPairs(
      Multimodal.pack(df, "img", "fmt"), "id", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"expected only the twin pair, got $pairs")
    intercept[IllegalArgumentException](
      Multimodal.imageAHashPairs(Multimodal.pack(df, "img", "fmt"), "id",
        maxDist = 64))
  }

  test("audioEnvelopePairs: near twins pair, unrelated audio does not") {
    import spark.implicits._
    def pcm(seed: Int, bump: Boolean): Array[Short] =
      Array.tabulate[Short](256) { i =>
        val v = ((seed * 31 + i * 17) % 199) - 99
        (if (bump && i < 4) v + 64 else v).toShort
      }
    val df = Seq(
      (1L, Multimodal.Wav.encode(Multimodal.Wav.Audio(8000, 1, pcm(5, bump = false)))),
      (2L, Multimodal.Wav.encode(Multimodal.Wav.Audio(8000, 1, pcm(5, bump = true)))),
      (3L, Multimodal.Wav.encode(Multimodal.Wav.Audio(8000, 1, pcm(77, bump = false)))),
      (4L, Array[Byte](1, 2, 3))) // undecodable
      .toDF("id", "payload")
      .withColumn("media_meta", struct(lit("wav").as("format"),
        octet_length(col("payload")).as("n_bytes")))
    val pairs = Multimodal.audioEnvelopePairs(df, "id", maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"expected only the twin pair, got $pairs")
  }

  test("videoNearPairs: shared-frame threshold gates video pairs") {
    import spark.implicits._
    // 2-frame videos of 8x8 gray P6 (203 bytes/frame); video 2 shares
    // frame patterns with video 1 (one bumped cell), video 3 is unrelated
    def frame(seed: Int, bump: Boolean): Array[Byte] = {
      val px = new Array[Byte](192)
      (0 until 64).foreach { c =>
        // md5-derived lumas: linear ramps would make DIFFERENT seeds
        // share above-mean bit patterns and collide in aHash space
        val v0 = Integer.parseInt(java.security.MessageDigest
          .getInstance("MD5").digest(s"$seed-$c".getBytes("UTF-8"))
          .take(1).map("%02x".format(_)).mkString, 16) % 127
        val v = if (bump && c == 0) (v0 + 16) % 127 else v0
        px(3 * c) = v.toByte; px(3 * c + 1) = v.toByte; px(3 * c + 2) = v.toByte
      }
      "P6\n8 8\n255\n".getBytes("US-ASCII") ++ px
    }
    def video(frames: Array[Byte]*): Array[Byte] = frames.reduce(_ ++ _)
    val df = Seq(
      (1L, video(frame(5, false), frame(9, false))),
      (2L, video(frame(5, true), frame(9, true))),   // near twin
      (3L, video(frame(70, false), frame(81, false))), // unrelated
      (4L, video(frame(5, false), frame(70, false)))) // shares ONE frame with 1 and 3
      .toDF("id", "payload")
      .withColumn("media_meta", struct(lit("frames").as("format"),
        octet_length(col("payload")).as("n_bytes")))
    def pairs(minShared: Int) =
      Multimodal.videoNearPairs(df, "id", frameBytes = 203, everyNth = 1,
        maxDist = 6, minSharedFrames = minShared)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(2) == Set((1L, 2L)),
      "only the twin shares BOTH frames")
    assert(pairs(1) == Set((1L, 2L), (1L, 4L), (2L, 4L), (3L, 4L)),
      "single-frame overlaps appear at minShared = 1")
  }

  test("aHash index: build, probe drops near twins, rebuild overwrites") {
    def ppmOf(seed: String, bump: Boolean): String = {
      def lum(c: Int): Int = {
        val v = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed-$c".getBytes("UTF-8"))(0) & 0xff
        if (bump && c == 0) (v + 16) % 256 else v
      }
      "P3\n8 8\n255\n" +
        (0 until 64).map(c => s"${lum(c)} ${lum(c)} ${lum(c)}").mkString(" ")
    }
    def packed(rows: Seq[(Long, String)]) =
      Multimodal.pack(rows.toDF("id", "img")
        .withColumn("fmt", lit("ppm")), "img", "fmt")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ahash-index-spec").toString
    Multimodal.buildAHashIndex(
      packed(Seq(1L -> ppmOf("a", bump = false),
        2L -> ppmOf("b", bump = false))), "id", dir)
    val batch = Seq(
      10L -> ppmOf("a", bump = true),   // near twin of indexed 1 -> drop
      11L -> ppmOf("zzz", bump = false), // unrelated -> keep
      12L -> "not a ppm")                // undecodable -> keep
    val kept = Multimodal.dedupImagesAgainstAHashIndex(spark, dir,
      packed(batch), "id").select("id").as[Long].collect().toSet
    assert(kept == Set(11L, 12L), s"$kept")
    // one signature index serves any probe distance: at maxDist 0 the
    // bumped twin is no longer an exact hash match and survives
    val keptExact = Multimodal.dedupImagesAgainstAHashIndex(spark, dir,
      packed(batch), "id", maxDist = 0)
      .select("id").as[Long].collect().toSet
    assert(keptExact == Set(10L, 11L, 12L), s"$keptExact")
    // rebuild overwrites: an index of only 'zzz' now drops 11, keeps 10
    Multimodal.buildAHashIndex(
      packed(Seq(5L -> ppmOf("zzz", bump = false))), "id", dir)
    val kept2 = Multimodal.dedupImagesAgainstAHashIndex(spark, dir,
      packed(batch), "id").select("id").as[Long].collect().toSet
    assert(kept2 == Set(10L, 12L), s"$kept2")
    // fold the admitted image in (already-indexed 5 skips; undecodable
    // 12 never indexes): a near twin of 10 now drops against the
    // appended signature
    Multimodal.updateAHashIndex(spark, dir,
      packed(Seq(5L -> ppmOf("zzz", bump = false),
        10L -> ppmOf("a", bump = true),
        12L -> "not a ppm")), "id")
    val sigIds = spark.read.parquet(s"$dir/sigs")
      .select("__ref_id").as[Long].collect().toSeq
    assert(sigIds.sorted == Seq(5L, 10L),
      s"append must skip indexed ids and undecodables: $sigIds")
    val kept3 = Multimodal.dedupImagesAgainstAHashIndex(spark, dir,
      packed(Seq(30L -> ppmOf("a", bump = false))), "id")
      .select("id").as[Long].collect().toSet
    assert(kept3.isEmpty,
      "the appended twin signature must catch the next batch's near-dup")
  }

  test("audio index: build, probe, fold survivors, next batch drops") {
    import spark.implicits._
    def pcm(seed: Int, bump: Boolean): Array[Short] =
      Array.tabulate[Short](256) { i =>
        val v = ((seed * 31 + i * 17) % 199) - 99
        (if (bump && i < 4) v + 64 else v).toShort
      }
    def wav(seed: Int, bump: Boolean): Array[Byte] =
      Multimodal.Wav.encode(Multimodal.Wav.Audio(8000, 1, pcm(seed, bump)))
    def packed(rows: Seq[(Long, Array[Byte])]) =
      rows.toDF("id", "payload")
        .withColumn("media_meta", struct(lit("wav").as("format"),
          octet_length(col("payload")).as("n_bytes")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-audio-idx").toString
    Multimodal.buildAudioIndex(
      packed(Seq(5L -> wav(5, bump = false), 6L -> wav(77, bump = false))),
      "id", dir)
    // near twin of 5 drops; unrelated 12 keeps; undecodable 13 keeps
    val batch = packed(Seq(10L -> wav(5, bump = true),
      12L -> wav(33, bump = false), 13L -> Array[Byte](1, 2, 3)))
    val kept = Multimodal.dedupAudioAgainstIndex(spark, dir, batch, "id",
      maxDist = 8)
    assert(kept.select("id").as[Long].collect().toSet == Set(12L, 13L))
    // fold the survivors: 12 indexes, undecodable 13 never does, the
    // already-indexed 5 skips (no duplicate signature rows)
    Multimodal.updateAudioIndex(spark, dir,
      kept.union(packed(Seq(5L -> wav(5, bump = false)))), "id")
    val sigIds = spark.read.parquet(s"$dir/sigs")
      .select("__ref_id").as[Long].collect().toSeq
    assert(sigIds.sorted == Seq(5L, 6L, 12L),
      s"append must skip indexed ids and undecodables: $sigIds")
    val kept2 = Multimodal.dedupAudioAgainstIndex(spark, dir,
      packed(Seq(30L -> wav(33, bump = true))), "id", maxDist = 8)
      .select("id").as[Long].collect().toSet
    assert(kept2.isEmpty,
      "the appended signature must catch the next batch's near-dup")
  }

  test("consistencyFilter: keep splits on cosine, unembedded pairs " +
    "drop, plan is equi-joins only") {
    // hand-built geometry: pair 1 parallel (cos 1), pair 2 orthogonal
    // (cos 0), pair 3 antiparallel (cos −1), pair 4 has no image
    // embedding and must vanish — an unembedded pair is unusable at
    // curation time either way
    def emb(id: Long, v: Seq[Float]) = (id, v)
    val texts = Seq(emb(1, Seq(2f, 0f)), emb(2, Seq(0f, 3f)),
      emb(3, Seq(1f, 1f)), emb(4, Seq(1f, 0f)))
      .toDF("vec_id", "embedding")
    val images = Seq(emb(11, Seq(5f, 0f)), emb(12, Seq(4f, 0f)),
      emb(13, Seq(-2f, -2f))).toDF("vec_id", "embedding")
    val pairs = Seq((1L, 11L), (2L, 12L), (3L, 13L), (4L, 14L))
      .toDF("text_id", "image_id")
    val out = Multimodal.consistencyFilter(pairs, texts, images,
      "embedding", "vec_id", "text_id", "image_id", threshold = 0.5)
    val rows = out.select("text_id", "clip_score", "keep")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_._2).toSeq === Seq(1.0, 0.0, -1.0))
    assert(rows.map(_._3).toSeq === Seq(true, false, false))
    // both joins are id equi-joins: a product here would be
    // pairs × corpus at scale
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }
}
