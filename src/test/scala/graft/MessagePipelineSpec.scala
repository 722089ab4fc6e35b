package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.json.Js
import graft.op.Env
import graft.streaming.{AppRunner, FileStreamIo}

/** Schemaless streaming: raw JSON messages flow as (key, value) with
  * variant-typed `$match` predicates and `$jq` transforms — no declared
  * schema anywhere (the reference's native mode, app1-style).
  */
class MessagePipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def write(dir: String, topic: String, name: String,
      json: String): Unit = {
    Files.createDirectories(Paths.get(s"$dir/$topic"))
    Files.writeString(Paths.get(s"$dir/$topic/$name.json"), json)
  }

  test("schemaless $match + $jq + $setKey end to end") {
    val dir = Files.createTempDirectory("graft-msg").toString
    write(dir, "raw", "m1", """{"_id":"a","value":5,"deep":{"x":"keep"}}""")
    write(dir, "raw", "m2", """{"_id":"b","value":50,"deep":{"x":"keep"}}""")
    write(dir, "raw", "m3", """{"_id":"c","other":true}""")
    val io = new FileStreamIo(dir, Map.empty) // no schemas at all
    new AppRunner(spark, io, Env(spark)).run(
      """{"application":"m1","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"raw","toTopic":"out_msg",
            "pipeline":[
              {"$match":{"value":{"$gt":10},"deep.x":"keep"}},
              {"$jq":"{ \"_id\": ._id, \"v10\": .value * 10 }"},
              {"$setKey":{"$concat":["k-","$_id"]}}]}]}""")
    io.processAll()
    val rows = spark.table("out_msg").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("key") == "k-b")
    val v = Js.parse(rows.head.getAs[String]("value"))
    assert(v.get("v10").asLong() == 500)
    io.stopAll()
  }

  test("variant numeric match crosses int/double representations") {
    val dir = Files.createTempDirectory("graft-msg3").toString
    write(dir, "n", "m1", """{"_id":"a","v":10.5}""")
    write(dir, "n", "m2", """{"_id":"b","v":3}""")
    write(dir, "n", "m3", """{"_id":"c","v":"not-a-number"}""")
    val io = new FileStreamIo(dir, Map.empty)
    new AppRunner(spark, io, Env(spark)).run(
      """{"application":"m3","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"n","toTopic":"out_msg3",
            "pipeline":[{"$match":{"v":{"$gt":5}}}]}]}""")
    io.processAll()
    // 10.5 (double) matches the int literal 5; the string is excluded
    val rows = spark.table("out_msg3").collect()
    assert(rows.map(_.getAs[String]("key")).toSeq == Seq("a"))
    io.stopAll()
  }

  test("schemaless $addFields/$unset/$project/$replaceRoot") {
    val dir = Files.createTempDirectory("graft-msg4").toString
    write(dir, "e", "m1",
      """{"_id":"a","v":4,"drop":true,"sub":{"x":1,"keep":"yes"}}""")
    val io = new FileStreamIo(dir, Map.empty)
    new AppRunner(spark, io, Env(spark)).run(
      """{"application":"m4","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"e","toTopic":"out_m4",
            "pipeline":[
              {"$addFields":{"v10":{"$multiply":["$v",10]},
                             "sub.y":2}},
              {"$unset":["drop","sub.x"]},
              {"$project":{"v10":1,"sub":1,
                           "tag":{"$concat":["t-","$_id"]}}}]}]}""")
    io.processAll()
    val v = Js.parse(spark.table("out_m4").collect().head.getAs[String]("value"))
    assert(v.get("v10").asLong() == 40)
    assert(v.get("tag").asText() == "t-a")
    assert(v.get("_id").asText() == "a") // kept by default
    assert(!v.has("v") && !v.has("drop"))
    assert(v.get("sub").get("y").asInt() == 2)
    assert(!v.get("sub").has("x"))
    assert(v.get("sub").get("keep").asText() == "yes")
    io.stopAll()

    val dir2 = Files.createTempDirectory("graft-msg5").toString
    write(dir2, "r", "m1", """{"_id":"b","sub":{"p":7}}""")
    val io2 = new FileStreamIo(dir2, Map.empty)
    new AppRunner(spark, io2, Env(spark)).run(
      """{"application":"m5","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"r","toTopic":"out_m5",
            "pipeline":[{"$replaceWith":"$sub"}]}]}""")
    io2.processAll()
    val v2 = Js.parse(spark.table("out_m5").collect().head.getAs[String]("value"))
    assert(v2.get("p").asInt() == 7 && !v2.has("_id"))
    io2.stopAll()
  }

  test("schemaless $group emits incremental aggregates") {
    val dir = Files.createTempDirectory("graft-msg6").toString
    write(dir, "g", "m1", """{"_id":"a","item":"x","qty":2}""")
    write(dir, "g", "m2", """{"_id":"b","item":"x","qty":3}""")
    write(dir, "g", "m3", """{"_id":"c","item":"y","qty":5}""")
    val io = new FileStreamIo(dir, Map.empty)
    new AppRunner(spark, io, Env(spark)).run(
      """{"application":"m6","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"g","toTopic":"out_m6",
            "pipeline":[{"$group":{"_id":"$item",
                                   "total":{"$sum":"$qty"},
                                   "n":{"$count":{}}}}]}]}""")
    io.processAll()
    val finals = spark.table("out_m6").collect()
      .map(r => Js.parse(r.getAs[String]("value")))
      .groupBy(_.get("_id").asText())
      .map { case (k, vs) => k -> vs.maxBy(_.get("n").asLong()) }
    assert(finals("x").get("total").asDouble() == 5.0)
    assert(finals("x").get("n").asLong() == 2)
    assert(finals("y").get("total").asDouble() == 5.0)
    io.stopAll()
  }

  test("schemaless $lookup splices typed-collection matches into the message") {
    val dir = Files.createTempDirectory("graft-msg7").toString
    write(dir, "lk", "m1", """{"_id":"a","dim":"d1"}""")
    write(dir, "lk", "m2", """{"_id":"b","dim":"d9"}""")
    val io = new FileStreamIo(dir, Map.empty)
    import spark.implicits._
    val dims = Seq(("d1", 42)).toDF("k", "score")
    val env = Env(spark, collection = { case "dims" => dims })
    new AppRunner(spark, io, env).run(
      """{"application":"m7","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"lk","toTopic":"out_m7",
            "pipeline":[
              {"$lookup":{"from":"dims","localField":"dim",
                          "foreignField":"k","as":"d"}}]}]}""")
    io.processAll()
    val byId = spark.table("out_m7").collect()
      .map(r => Js.parse(r.getAs[String]("value")))
      .map(v => v.get("_id").asText() -> v).toMap
    assert(byId("a").get("d").get(0).get("score").asInt() == 42)
    assert(byId("b").get("d").size() == 0) // left outer: empty array
    io.stopAll()
  }

  test("schemaless $deduplicate with cacheWindow bounds state by watermark") {
    val dir = Files.createTempDirectory("graft-msg8").toString
    write(dir, "dd", "m1", """{"_id":"a","corr":"c1"}""")
    write(dir, "dd", "m2", """{"_id":"b","corr":"c1"}""")
    write(dir, "dd", "m3", """{"_id":"c","corr":"c2"}""")
    val io = new FileStreamIo(dir, Map.empty)
    new AppRunner(spark, io, Env(spark)).run(
      """{"application":"m8","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"dd","toTopic":"out_m8",
            "pipeline":[{"$deduplicate":{"expression":"$corr",
                                         "cacheWindow":60000}}]}]}""")
    io.processAll()
    assert(spark.table("out_m8").count() == 2)
    io.stopAll()
  }

  test("schemaless merge + dedup by expression") {
    val dir = Files.createTempDirectory("graft-msg2").toString
    write(dir, "t1", "m1", """{"_id":"a","corr":"c1"}""")
    write(dir, "t2", "m2", """{"_id":"b","corr":"c1"}""")
    write(dir, "t2", "m3", """{"_id":"c","corr":"c2"}""")
    val io = new FileStreamIo(dir, Map.empty)
    new AppRunner(spark, io, Env(spark)).run(
      """{"application":"m2","version":"1.0","parts":[
           {"type":"merge","name":"m","fromTopics":["t1","t2"]},
           {"type":"stream","name":"d","fromStream":"m","toTopic":"out_msg2",
            "pipeline":[{"$deduplicate":{"expression":"$corr"}}]}]}""")
    io.processAll()
    val rows = spark.table("out_msg2").collect()
    assert(rows.length == 2)
    io.stopAll()
  }

  test("schemaless $jq expression operator loads a named script") {
    val dir = Files.createTempDirectory("graft-msgjqop").toString
    write(dir, "jo", "m1", """{"_id":"a","v":2}""")
    val io = new FileStreamIo(dir, Map.empty)
    val scripts = Map("twice.jq" -> "{ \"d\": (.v * 2) }")
    new AppRunner(spark, io, Env(spark, scripts = scripts)).run(
      """{"application":"mjqop","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"jo","toTopic":"out_mjqop",
            "pipeline":[{"$set":{"j":{"$jq":{"script":"twice.jq"}}}}]}]}""")
    io.processAll()
    val v = Js.parse(spark.table("out_mjqop").collect().head
      .getAs[String]("value"))
    assert(Js.parse(v.get("j").asText()).get("d").asInt() == 4)
    io.stopAll()
  }
}
