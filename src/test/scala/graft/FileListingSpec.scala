package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.FileStreamIo

/** `FileStreamIo` caps the parallelism of the file listing each
  * micro-batch repeats: a catch-up batch of many small files must not
  * schedule one Spark task per file. Counts tasks, never time.
  */
class FileListingSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"

  private def topicDir(files: Int): String = {
    val dir = Files.createTempDirectory("graft-listing").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    (0 until files).foreach { i =>
      Files.writeString(Paths.get(f"$dir/in/m$i%04d.json"),
        s"""{"_id":"k$i","v":$i}""")
    }
    dir
  }

  /** Task counts of the `Listing leaf files` jobs `body` ran. A marker
    * job after `body` reaching the listener proves every earlier event
    * was delivered (one listener sees its events in order).
    */
  private def listingTasks(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val tasks = new ConcurrentLinkedQueue[Int]()
    val marker = "FileListingSpec marker"
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (desc.startsWith("Listing leaf files"))
          tasks.add(e.stageInfos.map(_.numTasks).sum)
        if (desc == marker) markerSeen.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(markerSeen.await(60, TimeUnit.SECONDS),
        "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    tasks.asScala.toSeq
  }

  test("a 200-file catch-up batch lists with one task per core, not per file") {
    spark.conf.unset(key)
    val dir = topicDir(200)
    val io = new FileStreamIo(dir,
      Map("in" -> DataType.fromDDL("_id string, v int")
        .asInstanceOf[StructType]),
      tableSuffix = "_listing", maxFilesPerTrigger = 10000)
    try {
      val tasks = listingTasks {
        io.start("in", io.source(spark, "topic", "in"))
        io.processAll()
      }
      val q = io.queries("in_listing")
      assert(q.recentProgress.count(_.numInputRows > 0) == 1,
        "the backlog must drain in one micro-batch")
      assert(tasks.nonEmpty,
        "200 paths must reach the parallel listing path")
      assert(tasks.forall(_ <= spark.sparkContext.defaultParallelism),
        s"listing tasks $tasks exceed ${spark.sparkContext.defaultParallelism}")
      assert(spark.table("in_listing").count() == 200)
    } finally {
      io.stopAll()
      spark.conf.unset(key)
    }
  }

  test("an explicit listing parallelism is left as the user set it") {
    spark.conf.set(key, 7L)
    try {
      new FileStreamIo(topicDir(1), Map.empty)
        .source(spark, "topic", "in")
      assert(spark.conf.get(key) == "7")
    } finally spark.conf.unset(key)
  }
}
