package graft

import java.nio.file.Files
import java.util.jar.{JarEntry, JarOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.op.{Env, Pipeline}

/** ServiceLoader plugin loading (docs/plugins.md, Plugins.java:25-74):
  * the classpath provider (TestPlugin via META-INF/services) supplies a
  * stage, an expression operator, a query operator, and a JSLT function;
  * a directory plugin jar is discovered per the config `plugins` entry.
  */
class PluginSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val env = Env(spark)

  test("plugin $tag stage compiles through the pipeline") {
    val out = Pipeline.run(Seq(("a", 1)).toDF("_id", "v"),
      """[{"$tag":{"field":"src","value":"plugged"}}]""", env).collect().head
    assert(out.getAs[String]("src") == "plugged")
  }

  test("plugin $tag stage runs over a schemaless message stream") {
    val dir = Files.createTempDirectory("graft-plugmsg")
    Files.createDirectories(dir.resolve("pm"))
    Files.writeString(dir.resolve("pm/m1.json"), """{"_id":"a","v":1}""")
    val io = new graft.streaming.FileStreamIo(dir.toString, Map.empty)
    new graft.streaming.AppRunner(spark, io, env).run(
      """{"application":"pgm","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"pm","toTopic":"out_pgm",
            "pipeline":[{"$tag":{"field":"src","value":"plugged"}}]}]}""")
    io.processAll()
    val out = spark.table("out_pgm").collect()
    io.stopAll()
    assert(out.map(r => (r.getAs[String]("key"), r.getAs[String]("src")))
      .toSeq == Seq(("a", "plugged")))
  }

  test("plugin $double expression operator") {
    val out = Pipeline.run(Seq(("a", 21)).toDF("_id", "v"),
      """[{"$set":{"d":{"$double":"$v"}}}]""", env).collect().head
    assert(out.getAs[Int]("d") == 42)
  }

  test("plugin $isEven query operator in $match") {
    val out = Pipeline.run(Seq(("a", 1), ("b", 2), ("c", 4)).toDF("_id", "v"),
      """[{"$match":{"v":{"$isEven":true}}}]""", env)
    assert(out.select("_id").as[String].collect().sorted.toSeq ==
      Seq("b", "c"))
  }

  test("plugin JSLT function resolves inside a $jslt UDF") {
    val out = Pipeline.run(Seq(("a", "hey")).toDF("_id", "name"),
      """[{"$jslt":{"script":"{ \"x\": shout(.name) }",
                    "schema":"x string"}}]""", env).collect().head
    assert(out.getAs[String]("x") == "HEY!")
  }

  test("plugins config directory loads providers from jar service entries") {
    // a jar whose ONLY content is the services entry naming TestDirPlugin —
    // discovery must come from the plugin jar's classloader, since the
    // parent classpath services file doesn't list it
    val dir = Files.createTempDirectory("graft-plugins")
    val sub = Files.createDirectory(dir.resolve("myplugin"))
    val jar = new JarOutputStream(
      Files.newOutputStream(sub.resolve("plugin.jar")))
    jar.putNextEntry(new JarEntry("META-INF/services/graft.plugin.GraftPlugin"))
    jar.write("graft.TestDirPlugin\n".getBytes("UTF-8"))
    jar.closeEntry()
    jar.close()

    val in = Seq(("a", 1)).toDF("_id", "v")
    val io = new TestIo(Map("in" -> in))
    new graft.streaming.AppRunner(spark, io, env,
      config = Map("plugins" -> dir.toString)).run(
      """{"application":"pg","version":"1.0","parts":[
           {"type":"stream","name":"s","fromTopic":"in","toTopic":"out",
            "pipeline":[{"$dirTag":"from-dir"}]}]}""")
    val out = io.sinks("out").collect().head
    assert(out.getAs[String]("dir") == "from-dir")
  }

  test("unknown stage / operator / function still fail loudly") {
    val df = Seq(("a", 1)).toDF("_id", "v")
    assertThrows[IllegalArgumentException](
      Pipeline.run(df, """[{"$noSuchStage":{}}]""", env))
    assertThrows[IllegalArgumentException](
      Pipeline.run(df, """[{"$set":{"x":{"$noSuchOp":1}}}]""", env))
    assertThrows[IllegalArgumentException](
      Pipeline.run(df, """[{"$match":{"v":{"$noSuchQueryOp":1}}}]""", env))
  }
}
