package graftbench

import java.nio.file.Files

import graft.op.Env
import graft.streaming.{AppRunner, FileStreamIo}

/** Prints the formatted physical plan of the benchmark counter app's
  * reply stream, built over an empty schemaless topic and never started.
  * Compile it with the engine and the benchmark harness
  * (`src/main/scala`, `perfbench/src`) and run
  * `graftbench.CounterPlan <work dir>`; README.md has the commands.
  */
object CounterPlan {
  def main(args: Array[String]): Unit = {
    val dir = Files.createDirectories(java.nio.file.Paths.get(args(0)))
    val spark = Session.start("local[2]", 2, dir)
    spark.sparkContext.setLogLevel("ERROR")
    val wl = StreamWorkload("aggregate_counter")
    val topics = dir.resolve("topics")
    Files.createDirectories(
      topics.resolve(s"${StreamWorkload.Counter.aggType}-command"))
    val io = new FileStreamIo(topics.toString, wl.schemas)
    val env = Env(spark, scripts = name => wl.scripts.getOrElse(name,
      throw new IllegalArgumentException(s"no script $name")))
    val reply = new AppRunner(spark, io, env).run(wl.spec)(wl.outName)
    println(s"========== ${wl.outName} ==========")
    reply.explain("formatted")
    spark.stop()
  }
}
