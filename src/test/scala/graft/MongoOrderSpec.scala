package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.JsonNode
import graft.expr.catalyst.MongoOrder
import graft.json.Js

/** The Mongo cross-type total order: the native comparator, the
  * order-preserving collation key, and their agreement.
  */
class MongoOrderSpec extends AnyFunSuite {

  private def cmp(a: String, b: String): Int =
    Integer.signum(MongoOrder.compareNodes(Js.parse(a), Js.parse(b)))

  private def key(s: String): String = MongoOrder.sortKeyOf(Js.parse(s))

  test("type brackets: Null < Number < String < Object < Array < Boolean") {
    val ladder = Seq("null", "3", "\"a\"", """{"a":1}""", "[1]", "false")
    for (i <- ladder.indices; j <- ladder.indices)
      assert(cmp(ladder(i), ladder(j)) == Integer.signum(i - j),
        s"${ladder(i)} vs ${ladder(j)}")
  }

  test("numbers compare numerically across widths") {
    assert(cmp("2", "10") == -1)
    assert(cmp("2.5", "2") == 1)
    assert(cmp("-1", "1") == -1)
    assert(cmp("3", "3.0") == 0)
  }

  test("objects compare pairwise: key name first, then value, then length") {
    assert(cmp("""{"a":1}""", """{"b":0}""") == -1) // key decides
    assert(cmp("""{"a":1}""", """{"a":2}""") == -1) // value decides
    assert(cmp("""{"a":1}""", """{"a":1,"b":0}""") == -1) // shorter first
    assert(cmp("""{"a":{"x":1}}""", """{"a":{"x":2}}""") == -1) // recursive
    assert(cmp("""{"a":1,"b":2}""", """{"a":1,"b":2}""") == 0)
  }

  test("arrays element-wise, shorter first; false < true") {
    assert(cmp("[1,2]", "[1,3]") == -1)
    assert(cmp("[1]", "[1,0]") == -1)
    assert(cmp("""[1,"a"]""", "[1,2]") == 1) // string bracket > number
    assert(cmp("false", "true") == -1)
  }

  test("sort key byte order agrees with the comparator") {
    val values = Seq(
      "null", "-1e300", "-2", "0", "0.5", "2", "10", "1e300",
      "\"\"", "\"a\"", "\"a\\u0000x\"", "\"a\\u0001\"", "\"ab\"", "\"b\"",
      "\"\\u0100\"", "\"\\ud83d\\ude00\"", // multi-byte + surrogate pair
      "{}", """{"a":1}""", """{"a":1,"b":2}""", """{"a":2}""", """{"b":0}""",
      "{\"\\u0100\":1}", "{\"a\":\"a\\u0000x\"}", """{"a":"a"}""",
      // empty field keys: without the field-start marker these collide
      // with the object terminator (e.g. [{"":9}] == [{},9] byte-wise)
      """{"":0}""", """{"":1}""", """{"":1,"a":1}""",
      """[{"":9}]""", """[{},9]""", """[{}]""",
      "[]", "[1]", "[1,2]", """["a"]""", "[[1]]", """[{"a":1}]""",
      "false", "true")
    for (a <- values; b <- values) {
      val byCmp = cmp(a, b)
      val byKey = Integer.signum(
        // UTF-8 byte order, same as Spark's UTF8String binary compare
        compareUtf8(key(a), key(b)))
      assert(byCmp == byKey, s"cmp($a,$b)=$byCmp but key order=$byKey\n" +
        s"  key(a)=${debug(key(a))}\n  key(b)=${debug(key(b))}")
    }
  }

  test("sort key agreement on pseudo-random nested documents") {
    val rnd = new scala.util.Random(20260812L)
    def randNode(depth: Int): JsonNode = {
      val pick = if (depth >= 3) rnd.nextInt(6) else rnd.nextInt(8)
      pick match {
        case 0 => Js.parse("null")
        case 1 | 2 =>
          Js.parse((rnd.nextDouble() * 2e6 - 1e6).toString)
        case 3 | 4 =>
          val len = rnd.nextInt(6)
          val s = (0 until len).map(_ => (rnd.nextInt(90) + 32).toChar)
            .mkString.replace("\\", "").replace("\"", "")
          Js.parse("\"" + s + "\"")
        case 5 => Js.parse(rnd.nextBoolean().toString)
        case 6 =>
          val o = Js.obj()
          (0 until rnd.nextInt(4)).foreach { i =>
            // genuinely empty key 1 time in 5 (duplicates just overwrite):
            // the marker-byte regression hides from generators that only
            // mint non-empty keys
            val k = if (rnd.nextInt(5) == 0) "" else s"k${rnd.nextInt(3)}$i"
            o.set[JsonNode](k, randNode(depth + 1))
          }
          o
        case _ =>
          val a = Js.arr()
          (0 until rnd.nextInt(4)).foreach(_ => a.add(randNode(depth + 1)))
          a
      }
    }
    val nodes = (0 until 120).map(_ => randNode(0))
    for (a <- nodes; b <- nodes) {
      val byCmp = Integer.signum(MongoOrder.compareNodes(a, b))
      val byKey = Integer.signum(compareUtf8(
        MongoOrder.sortKeyOf(a), MongoOrder.sortKeyOf(b)))
      assert(byCmp == byKey,
        s"disagree on ${Js.render(a)} vs ${Js.render(b)}")
    }
  }

  test("sort key stays exact past 2^53 (property, big longs + decimals)") {
    // The old key went through double bits: int64 values beyond 2^53
    // collided in the key while mongo_cmp distinguished them — min_by/
    // max_by over the key then disagreed with the comparator. Pin the
    // agreement with adversarial generators clustered at the boundary.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val boundary = (1L << 53)
    val near = Gen.choose(-64L, 64L).map(d => boundary + d)
    val big = Gen.oneOf(
      near, near.map(-_),
      Gen.choose(Long.MinValue / 2, Long.MaxValue / 2),
      Gen.choose(-1000000L, 1000000L),
      // neighbors differing in the last bit — the collision shape
      Gen.choose(0L, 1L << 60).map(x => (x / 2) * 2))
    def nodes(l: Long): Seq[String] =
      Seq(l.toString, (l + 1).toString, s"$l.5", s"${l}e3",
        s"0.0${math.abs(l)}")
    var seed = Seed(20260813L)
    (0 until 400).foreach { _ =>
      val a = big.pureApply(Gen.Parameters.default, seed); seed = seed.next
      val b = big.pureApply(Gen.Parameters.default, seed); seed = seed.next
      for (x <- nodes(a); y <- nodes(b)) {
        val byCmp = cmp(x, y)
        val byKey = Integer.signum(compareUtf8(key(x), key(y)))
        assert(byCmp == byKey,
          s"cmp($x,$y)=$byCmp but key order=$byKey\n" +
            s"  key(x)=${debug(key(x))}\n  key(y)=${debug(key(y))}")
      }
    }
    // the literal judge case: 2^53 and 2^53+1 must not collide
    assert(key("9007199254740992") != key("9007199254740993"))
  }

  private def compareUtf8(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    Integer.compare(x.length, y.length)
  }

  private def debug(s: String): String =
    s.map(c => if (c < ' ') f"\\x$c%02x" else c.toString).mkString
}

/** The Spark-level wiring: variant-vs-variant comparisons and schemaless
  * $min/$max ride the native expressions.
  */
class MongoOrderSparkSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("mongo_cmp and mongo_sort_key are registered and codegen-safe") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      ("3", "\"a\""), ("null", "0"), ("[1]", """{"z":9}"""),
      ("2", "10"), ("true", "false")).toDF("l", "r")
      .select(call_function("mongo_cmp", col("l"), col("r")).as("c"),
        call_function("mongo_sort_key", col("l")).as("k"))
    val rows = df.collect()
    // [1] vs {"z":9}: the Array bracket sorts AFTER Object
    assert(rows.map(_.getInt(0)).toSeq == Seq(-1, -1, 1, -1, 1))
    assert(rows.forall(_.getString(1).nonEmpty))
  }

  test("GraftFunctions.register skips a name already registered") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Expression
    // a fresh session: its own registry, so the shared one stays intact
    val session = spark.newSession()
    val registry = session.sessionState.functionRegistry
    val own: Seq[Expression] => Expression = exprs => exprs.head
    registry.createOrReplaceTempFunction("mongo_cmp", own, "scala_udf")
    graft.expr.catalyst.GraftFunctions.register(session)
    assert(registry.lookupFunctionBuilder(FunctionIdentifier("mongo_cmp"))
      .get eq own)
    assert(registry.functionExists(FunctionIdentifier("dot_product")))
  }

  test("schemaless $min/$max pick by Mongo cross-type order") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // mixed types under one group: null < 5 < "s" < {"a":1} < [7] < true
    val msgs = Seq(
      """{"_id":"1","g":"x","v":5}""",
      """{"_id":"2","g":"x","v":"s"}""",
      """{"_id":"3","g":"x","v":null}""",
      """{"_id":"4","g":"x","v":{"a":1}}""",
      """{"_id":"5","g":"x","v":[7]}""",
      """{"_id":"6","g":"x","v":true}""").toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val out = graft.streaming.MessagePipeline.compile(
      Js.parse("""[{"$group":{"_id":"$g","lo":{"$min":"$v"},
                              "hi":{"$max":"$v"}}}]"""),
      graft.op.Env(spark))(msgs)
      .select("value").as[String].collect().map(Js.parse)
    assert(out.length == 1)
    // Mongo $min/$max IGNORE nulls: the number is the min of the rest;
    // boolean is the top bracket, so true is the max
    assert(out.head.get("lo").asInt() == 5)
    assert(out.head.get("hi").asBoolean())
  }

  test("schemaless $first/$last/$stdDevPop/$mergeObjects accumulators") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val msgs = Seq(
      """{"_id":"1","g":"x","v":2,"o":{"a":1,"b":null}}""",
      """{"_id":"2","g":"x","v":4,"o":{"b":2,"c":3}}""").toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    val out = graft.streaming.MessagePipeline.compile(
      Js.parse("""[{"$group":{"_id":"$g",
                    "f":{"$first":"$v"},"l":{"$last":"$v"},
                    "sd":{"$stdDevPop":"$v"},
                    "m":{"$mergeObjects":"$o"}}}]"""),
      graft.op.Env(spark))(msgs)
      .select("value").as[String].collect().map(Js.parse)
    assert(out.length == 1)
    val doc = out.head
    assert(Set(2, 4).contains(doc.get("f").asInt()))
    assert(Set(2, 4).contains(doc.get("l").asInt()))
    assert(math.abs(doc.get("sd").asDouble() - 1.0) < 1e-9)
    val m = doc.get("m")
    // b=null in doc 1 is ignored; doc 2's b=2 wins; a and c both kept
    assert(m.get("a").asInt() == 1 && m.get("b").asInt() == 2 &&
      m.get("c").asInt() == 3)
  }

  test("missing fields compare in the Null bracket, not as SQL null") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val msgs = Seq("""{"_id":"1","a":1,"b":2}""", """{"_id":"2","b":2}""")
      .toDF("value")
      .select(get_json_object(col("value"), "$._id").as("key"), col("value"))
    // Mongo: missing `a` sits in the Null bracket, below every number —
    // both documents satisfy a < b (a null-propagating compare would
    // silently drop doc 2)
    val out = graft.streaming.MessagePipeline.compile(
      Js.parse("""[{"$match":{"$expr":{"$lt":["$a","$b"]}}}]"""),
      graft.op.Env(spark))(msgs)
      .select("key").as[String].collect().toSet
    assert(out == Set("1", "2"))
  }
}
