package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.op.{Env, Pipeline}

/** Mongo-fidelity fixes in the expression compiler: null brackets in the
  * comparison family, boolean truthiness, degenerate `$range` bounds,
  * expression `$split` delimiters, n-ary set operators
  * (reference docs/aggregation_operators.md — the reference links these
  * operators straight to the MongoDB manual).
  */
class ExprSemanticsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val env = Env(spark)

  private def one(df: org.apache.spark.sql.DataFrame, pipe: String): Row =
    Pipeline.run(df, pipe, env).collect().head

  test("$range start==end with negative step is empty, not a crash") {
    val df = Seq((5L, 5L, -1L)).toDF("a", "b", "s")
    val out = one(df,
      """[{"$project":{"r1":{"$range":["$a","$b","$s"]},
                       "r2":{"$range":["$a","$b"]},
                       "r3":{"$range":[0,6,2]},
                       "r4":{"$range":[6,0,-2]}}}]""")
    assert(out.getSeq[Long](0) == Seq.empty)
    assert(out.getSeq[Long](1) == Seq.empty)
    assert(out.getSeq[Long](2) == Seq(0L, 2L, 4L))
    assert(out.getSeq[Long](3) == Seq(6L, 4L, 2L))
  }

  test("$split takes an expression delimiter (and quotes it literally)") {
    val df = Seq(("a.b|c", "|")).toDF("s", "d")
    val out = one(df,
      """[{"$project":{"byField":{"$split":["$s","$d"]},
                       "byLit":{"$split":["$s","."]}}}]""")
    // "$d" resolves to "|" — a regex-quoted literal, not alternation
    assert(out.getSeq[String](0) == Seq("a.b", "c"))
    // literal "." splits on the dot, not on every character
    assert(out.getSeq[String](1) == Seq("a", "b|c"))
  }

  test("set operators are n-ary like Mongo") {
    val df = Seq(Tuple1(1)).toDF("x")
    val out = one(df,
      """[{"$project":{
           "i":{"$setIntersection":[{"$literal":[1,2,3]},
                                    {"$literal":[2,3,4]},
                                    {"$literal":[3,2]}]},
           "eqT":{"$setEquals":[{"$literal":[1,2]},{"$literal":[2,1,1]},
                                {"$literal":[1,2]}]},
           "eqF":{"$setEquals":[{"$literal":[1,2]},{"$literal":[2,1]},
                                {"$literal":[1]}]}}}]""")
    assert(out.getSeq[Long](0) == Seq(2L, 3L))
    assert(out.getBoolean(1))
    assert(!out.getBoolean(2))
  }

  test("comparisons put null in Mongo's lowest bracket, never SQL-null") {
    val df = Seq((Some(5L), Option.empty[Long])).toDF("v", "nul")
    val out = one(df,
      """[{"$project":{
           "eqNN":{"$eq":["$nul","$nul"]},
           "neN5":{"$ne":["$nul","$v"]},
           "gt5N":{"$gt":["$v","$nul"]},
           "ltN5":{"$lt":["$nul","$v"]},
           "lteNN":{"$lte":["$nul","$nul"]},
           "gteN5":{"$gte":["$nul","$v"]},
           "cmpN5":{"$cmp":["$nul","$v"]},
           "cmpNN":{"$cmp":["$nul","$nul"]}}}]""")
    assert(out.getBoolean(0), "$eq null,null")
    assert(out.getBoolean(1), "$ne null,5")
    assert(out.getBoolean(2), "$gt 5,null")
    assert(out.getBoolean(3), "$lt null,5")
    assert(out.getBoolean(4), "$lte null,null")
    assert(!out.getBoolean(5), "$gte null,5")
    assert(out.getInt(6) == -1)
    assert(out.getInt(7) == 0)
  }

  test("$and/$or/$not/$cond use Mongo truthiness") {
    val df = Seq((Option.empty[Boolean], 0L, 2L, "", Some(true)))
      .toDF("nb", "zero", "two", "emptyStr", "t")
    val out = one(df,
      """[{"$project":{
           "andNull":{"$and":["$t","$nb"]},
           "orNull":{"$or":["$nb","$t"]},
           "notNull":{"$not":["$nb"]},
           "andZero":{"$and":["$two","$t"]},
           "andZeroF":{"$and":["$zero","$t"]},
           "emptyTruthy":{"$and":["$emptyStr"]},
           "condNum":{"$cond":["$two","yes","no"]},
           "condZero":{"$cond":["$zero","yes","no"]},
           "condNull":{"$cond":["$nb","yes","no"]}}}]""")
    assert(!out.getBoolean(0), "$and true,null -> false (not SQL null)")
    assert(out.getBoolean(1), "$or null,true")
    assert(out.getBoolean(2), "$not null -> true")
    assert(out.getBoolean(3), "2 is truthy")
    assert(!out.getBoolean(4), "0 is falsy")
    assert(out.getBoolean(5), "empty string is truthy")
    assert(out.getString(6) == "yes")
    assert(out.getString(7) == "no")
    assert(out.getString(8) == "no")
  }

  test("query language: {f: null} and $in/$nin with null match missing") {
    val df = Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c"))
      .toDF("f", "id")
    def ids(q: String): Seq[String] =
      Pipeline.run(df, s"""[{"$$match":$q}]""", env)
        .collect().map(_.getAs[String]("id")).toSeq.sorted
    assert(ids("""{"f":null}""") == Seq("b"))
    assert(ids("""{"f":{"$eq":null}}""") == Seq("b"))
    assert(ids("""{"f":{"$ne":null}}""") == Seq("a", "c"))
    assert(ids("""{"f":{"$in":[1,null]}}""") == Seq("a", "b"))
    assert(ids("""{"f":{"$nin":[1,null]}}""") == Seq("c"))
    assert(ids("""{"f":{"$nin":[1]}}""") == Seq("b", "c"))
    assert(ids("""{"f":{"$in":[1,3]}}""") == Seq("a", "c"))
  }

  test("query $type answers per row for schemaless fields") {
    val msgs = Seq(
      ("1", """{"v":"s","id":"str"}"""),
      ("2", """{"v":7,"id":"num"}"""),
      ("3", """{"v":[1],"id":"arr"}""")).toDF("key", "value")
    def ids(q: String): Seq[String] =
      graft.op.Pipeline.compile(
        graft.json.Js.parse(s"""[{"$$match":$q}]"""), env)(msgs)
        .collect().map(r => graft.json.Js.parse(r.getAs[String]("value"))
          .get("id").asText()).toSeq.sorted
    assert(ids("""{"v":{"$type":"string"}}""") == Seq("str"))
    assert(ids("""{"v":{"$type":"long"}}""") == Seq("num"))
    assert(ids("""{"v":{"$type":"array"}}""") == Seq("arr"))
  }

  test("$switch case accepts non-boolean truthiness") {
    val df = Seq((0L, 7L)).toDF("z", "n")
    val out = one(df,
      """[{"$project":{"w":{"$switch":{
            "branches":[{"case":"$z","then":"zero"},
                        {"case":"$n","then":"seven"}],
            "default":"none"}}}}]""")
    assert(out.getString(0) == "seven")
  }

  test("a one-line $jq operator script that starts with neither '.' nor '{' is inline") {
    val df = Seq(("a", 1)).toDF("_id", "v")
    val out = one(df, """[{"$project":{"j":{"$jq":{"script":"del(._id)"}}}}]""")
    assert(graft.json.Js.parse(out.getAs[String]("j")) ==
      graft.json.Js.parse("""{"v":1}"""))
  }

  test("a $jq operator script file resolves its imports relative to itself") {
    val df = Seq(("a", 3)).toDF("_id", "v")
    val scripts = Map(
      "lib/main.jq" -> "import \"util.jq\" as u;\n{ \"d\": (.v | u::twice) }",
      "lib/util.jq" -> "def twice: . * 2;")
    val out = Pipeline.run(df,
      """[{"$project":{"j":{"$jq":{"script":"lib/main.jq"}}}}]""",
      Env(spark, scripts = scripts)).collect().head
    assert(graft.json.Js.parse(out.getAs[String]("j")).get("d").asInt() == 6)
  }
}
