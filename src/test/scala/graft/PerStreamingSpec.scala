package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.json.Js
import graft.op.Env
import graft.streaming.{AppRunner, FileStreamIo}

/** Streaming $per batches messages with state carried across
  * micro-batches (docs/aggregation_stages.md:393-411).
  */
class PerStreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("$per emits full batches and buffers the remainder across batches") {
    val dir = Files.createTempDirectory("graft-per").toString
    def write(name: String, json: String): Unit = {
      Files.createDirectories(Paths.get(s"$dir/pin"))
      Files.writeString(Paths.get(s"$dir/pin/$name.json"), json)
    }
    write("m1", """{"_id":"a","v":1}""")
    write("m2", """{"_id":"b","v":2}""")
    write("m3", """{"_id":"c","v":3}""")
    val io = new FileStreamIo(dir, Map.empty)
    new AppRunner(spark, io, Env(spark)).run(
      """{"application":"per","version":"1.0","parts":[
           {"type":"stream","name":"p","fromTopic":"pin","toTopic":"out_per",
            "pipeline":[{"$per":{"amount":2,"as":"batch"}}]}]}""")
    io.processAll()
    val after3 = spark.table("out_per").collect()
      .map(r => Js.parse(r.getAs[String]("value")))
    assert(after3.length == 1)
    assert(after3.head.get("batch").size() == 2)
    // the buffered remainder completes a batch when a 4th message arrives
    write("m4", """{"_id":"d","v":4}""")
    io.processAll()
    val after4 = spark.table("out_per").collect()
      .map(r => Js.parse(r.getAs[String]("value")))
    assert(after4.length == 2)
    assert(after4.forall(_.get("batch").size() == 2))
    io.stopAll()
  }

  test("each $per batch element is its input message, schemaless or typed") {
    val dir = Files.createTempDirectory("graft-per-doc").toString
    val docs = Seq("""{"_id":"a","v":1}""", """{"_id":"b","v":2}""")
    Files.createDirectories(Paths.get(s"$dir/pdoc"))
    docs.zipWithIndex.foreach { case (d, i) =>
      Files.writeString(Paths.get(s"$dir/pdoc/m$i.json"), d)
    }
    val schema = org.apache.spark.sql.types.DataType
      .fromDDL("_id string, v int")
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    Seq("msg" -> Map.empty[String, org.apache.spark.sql.types.StructType],
      "typed" -> Map("pdoc" -> schema)).foreach { case (mode, schemas) =>
      val io = new FileStreamIo(dir, schemas)
      new AppRunner(spark, io, Env(spark)).run(
        s"""{"application":"perdoc","version":"1.0","parts":[
             {"type":"stream","name":"p","fromTopic":"pdoc",
              "toTopic":"out_perdoc_$mode",
              "pipeline":[{"$$per":{"amount":2,"as":"batch"}}]}]}""")
      io.processAll()
      val batches = spark.table(s"out_perdoc_$mode").collect()
        .map(r => Js.parse(r.getAs[String]("value")))
      io.stopAll()
      assert(batches.length == 1, mode)
      assert(Js.elems(batches.head.get("batch")).toSet ==
        docs.map(Js.parse).toSet, mode)
    }
  }
}
