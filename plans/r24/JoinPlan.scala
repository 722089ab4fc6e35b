package graftbench

import java.nio.file.Files

import graft.op.Env
import graft.streaming.{AppRunner, FileStreamIo}

/** Prints the formatted physical plan of the benchmark `merge_join` app's
  * join stream, built over empty typed topics and never started (the
  * app's own sink query starts over the empty topics and is stopped).
  * Compile it against the engine and the benchmark harness and run
  * `graftbench.JoinPlan <work dir>`; README.md has the commands.
  */
object JoinPlan {
  def main(args: Array[String]): Unit = {
    val dir = Files.createDirectories(java.nio.file.Paths.get(args(0)))
    val spark = Session.start("local[2]", 2, dir)
    spark.sparkContext.setLogLevel("ERROR")
    val wl = StreamWorkload("merge_join")
    val topics = dir.resolve("topics")
    wl.schemas.keys.foreach(t => Files.createDirectories(topics.resolve(t)))
    val io = new FileStreamIo(topics.toString, wl.schemas)
    val join = new AppRunner(spark, io, Env(spark)).run(wl.spec)("checkout")
    println("========== checkout ==========")
    join.explain("formatted")
    io.stopAll()
    spark.stop()
  }
}
