package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Dev tool (not part of the driver contract): run ONE named query the
  * way Bench does and print per-job and per-stage wall timings, so
  * optimization targets the jobs that actually cost, not the ones that
  * look expensive in source. Usage:
  *   runMain graft.Profile <query> [sfDir] [passes]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_recipe_reports")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    final case class J(id: Int, var desc: String, var start: Long,
      var end: Long, stages: mutable.Buffer[(Int, String, Long, Int)])
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val stageToJob = mutable.Map.empty[Int, Int]
    // barrier: a marker job in its own group; the listener bus delivers in
    // order, so once the marker's end event arrives every event of the
    // jobs before it has been delivered too
    val barrierGroup = "graft-profile-barrier"
    val markers = mutable.Set.empty[Int]
    val markerEnded = new java.util.concurrent.Semaphore(0)
    def barrier(): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup(barrierGroup, "listener barrier")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      markerEnded.acquire()
    }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.synchronized {
          if (prop("spark.jobGroup.id").contains(barrierGroup))
            markers += e.jobId
          else {
            val d = prop("spark.job.description")
              .orElse(prop("callSite.short")).getOrElse("")
            jobs(e.jobId) = J(e.jobId, d, e.time, 0L, mutable.Buffer.empty)
            e.stageIds.foreach(s => stageToJob(s) = e.jobId)
          }
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          if (markers.remove(e.jobId)) markerEnded.release()
          else jobs.get(e.jobId).foreach(_.end = e.time)
        }
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        val run = Option(si.taskMetrics)
          .map(_.executorRunTime).getOrElse(0L)
        for {
          jid <- stageToJob.get(si.stageId)
          j <- jobs.get(jid)
        } j.stages += ((si.stageId,
          s"run=${run}ms " + si.name.takeWhile(_ != '\n'),
          si.completionTime.getOrElse(0L) -
            si.submissionTime.getOrElse(0L), si.numTasks))
      }
    })
    val fn = SparkEntry.queries(name)
    // warmup (codegen/JIT) exactly like Bench
    fn(spark, sfDir).count()
    barrier()
    (1 to passes).foreach { p =>
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      graft.ml.CacheLifecycle.releaseAll()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      barrier()
      println(f"==== pass $p: $name total ${total}%.3f s, " +
        s"${jobs.size} jobs ====")
      jobs.synchronized {
        // a job still running after the pass (none, barring jobs the
        // query leaves behind) has no end time: drop it from the timings
        val js = jobs.values.toSeq.filter(_.end != 0L)
        val sumJ = js.map(j => (j.end - j.start) / 1e3).sum
        println(f"  sum of job wall times: $sumJ%.3f s " +
          "(gaps to total = driver-side work)")
        // group by the job DESCRIPTION when one is set (operators label
        // their jobs per guide §1.5), falling back to the dominant
        // stage's callsite: where do the jobs go?
        js.groupBy(j => if (j.desc.nonEmpty) j.desc
          else j.stages.sortBy(-_._3).headOption
            .map(_._2.replaceFirst("run=\\d+ms ", "")).getOrElse("?"))
          .map { case (site, g) =>
            (site, g.size, g.map(j => (j.end - j.start) / 1e3).sum) }
          .toSeq.sortBy(-_._3).take(20).foreach { case (site, n, s) =>
            println(f"  $s%7.3f s  n=$n%-3d  ${site.take(90)}") }
        js.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
          val stg = j.stages.sortBy(-_._3).take(3).map { case (sid, n, ms, nt) =>
            f"s$sid:${ms}ms/${nt}t ${n.take(55)}" }.mkString(" | ")
          println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s  $stg")
        }
      }
    }
    spark.stop()
    System.exit(0)
  }
}
