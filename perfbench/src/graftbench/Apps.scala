package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DataType, StructType}

import graft.json.Js

/** Outcome of an output check: operations attempted, how many failed or
  * were wrong, what went wrong (first few), and useful-work ratios read
  * off the outputs.
  */
final case class Check(attempted: Long, failed: Long, notes: Seq[String],
    ratios: Map[String, Double] = Map.empty)

/** A streaming workload: an application, its inputs, and an oracle that
  * recomputes the expected output in plain Scala from the inputs alone.
  */
sealed trait StreamWorkload {
  /** open-loop rate, about half the drain rate on the sizing machine */
  def openRate: Double
  /** messages in each pre-staged backlog drain */
  def backlogMsgs: Int
  /** backlog drains per run; the best rate counts */
  def drains: Int
  def newFeed(seed: Long): Feed
  def spec: String
  def scripts: Map[String, String] = Map.empty
  def schemas: Map[String, StructType] = Map.empty
  /** the output the benchmark reads: a sink the app starts itself, or a
    * named stream the benchmark starts as a memory-sink query
    */
  def outName: String
  def startsOwnSink: Boolean = true
  def check(feed: Feed, rows: Seq[Row]): Check
  /** the messages the per-message layer probes run over */
  def sampleBodies(feed: Feed, n: Int): Seq[String]
}

object StreamWorkload {
  def apply(name: String): StreamWorkload = name match {
    case "aggregate_counter" => Counter
    case "merge_join" => MergeJoin
    case other => throw new IllegalArgumentException(s"unknown streaming workload $other")
  }

  private def ddl(s: String): StructType = DataType.fromDDL(s).asInstanceOf[StructType]

  // ---------------------------------------------------------- aggregate
  object Counter extends StreamWorkload {
    val aggType = "plusminus2-counter"
    val outName = s"$aggType-reply"
    override def startsOwnSink = false
    override val scripts: Map[String, String] = Map(
      "duplicates.yaml" ->
        """- $deduplicate:
          |    expression:
          |      concat: ["$_id", "$_corr", "$_command"]
          |    collection: "plusminus2-duplicate-commands"
          |    cacheWindow: 5000
          |""".stripMargin,
      "common/op.jslt" -> "def decr(value) $value - 1\n\ndef incr(value) $value + 1\n",
      "common/type.yaml" -> "conditions:\n  - _type: \"plusminus2-counter\"\n",
      "common/operator.yaml" ->
        """include:
          |  - "type.yaml"
          |conditions:
          |  - value:
          |      $exists: false
          |    $code: "OPERATOR"
          |""".stripMargin,
      "reducers/plus.jslt" ->
        "import \"../common/op.jslt\" as op\n\n.state | {\n  \"value\" : op:incr(.value),\n  * : .\n}\n",
      "reducers/minus.jslt" ->
        "import \"../common/op.jslt\" as op\n\n.state | {\n  \"value\" : op:decr(.value),\n  * : .\n}\n",
      "validators/validate_plus.yaml" ->
        "include:\n  - \"../common/operator.yaml\"\nconditions:\n  - _command: \"plus\"\n",
      "validators/validate_minus.yaml" ->
        "include:\n  - \"../common/operator.yaml\"\nconditions:\n  - _command: \"minus\"\n",
      "validators/validate_put.yaml" ->
        """include:
          |  - "../common/type.yaml"
          |conditions:
          |  - _command: "put"
          |  - value: 0
          |    $code: "INIT"
          |""".stripMargin)
    val putReducer = ".command | del(._command)"
    val openRate = 250.0
    val backlogMsgs = 2000
    val drains = 4
    val keys = 1000
    val zipfS = 1.0
    def newFeed(seed: Long): Feed = new AggregateFeed(seed, keys, zipfS)
    def spec: String =
      s"""{"application":"bench-counter","version":"1.0","parts":[
         | {"type":"aggregate","aggregateType":"$aggType","name":"plusminus2",
         |  "commands":{
         |   "plus":{"reducer":"reducers/plus.jslt","validator":"validators/validate_plus.yaml"},
         |   "minus":{"reducer":"reducers/minus.jslt","validator":"validators/validate_minus.yaml"},
         |   "put":{"preprocessor":"duplicates.yaml","reducer":"$putReducer",
         |          "validator":"validators/validate_put.yaml"}}}]}""".stripMargin
    def sampleBodies(feed: Feed, n: Int): Seq[String] =
      feed.asInstanceOf[AggregateFeed].commands.take(n).map(_.body).toSeq

    /** Expected (value, _seq) per key and the accepted / rejected /
      * deduplicated counts, replaying the commands in arrival order.
      */
    def expected(cmds: Seq[Command]): (Map[String, (Long, Long)], Long, Long, Long) = {
      val st = mutable.Map.empty[String, (Long, Long)]
      var accepted, rejected, dedup = 0L
      cmds.foreach { c =>
        c.kind match {
          case Cmd.Put =>
            st(c.key) = (0L, st.get(c.key).map(_._2).getOrElse(-1L) + 1); accepted += 1
          case Cmd.Plus => val (v, s) = st(c.key); st(c.key) = (v + 1, s + 1); accepted += 1
          case Cmd.Minus => val (v, s) = st(c.key); st(c.key) = (v - 1, s + 1); accepted += 1
          case Cmd.Replay => dedup += 1
          case _ => rejected += 1
        }
      }
      (st.toMap, accepted, rejected, dedup)
    }

    def check(feed: Feed, rows: Seq[Row]): Check = {
      val cmds = feed.asInstanceOf[AggregateFeed].commands.toSeq
      val (want, wantAcc, wantRej, wantDedup) = expected(cmds)
      var acc, rej = 0L
      val got = mutable.Map.empty[String, (Long, Long)]
      rows.foreach { r =>
        val v = Js.parse(r.getAs[String]("value"))
        if (Option(v.get("_error")).exists(_.asBoolean())) rej += 1
        else {
          acc += 1
          val key = v.get("_id").asText()
          val seq = v.get("_seq").asLong()
          if (got.get(key).forall(_._2 < seq)) got(key) = (v.get("value").asLong(), seq)
        }
      }
      val perKey = cmds.groupBy(_.key).view.mapValues(_.size.toLong).toMap
      val badKeys = (want.keySet ++ got.keySet).filter(k => want.get(k) != got.get(k))
      val notes = mutable.ArrayBuffer.empty[String]
      badKeys.take(3).foreach(k => notes += s"key $k: expected ${want.get(k)} got ${got.get(k)}")
      if (acc != wantAcc) notes += s"accepted $acc, expected $wantAcc"
      if (rej != wantRej) notes += s"rejected $rej, expected $wantRej"
      if (cmds.size - acc - rej != wantDedup)
        notes += s"deduplicated ${cmds.size - acc - rej}, expected $wantDedup"
      val failed = badKeys.toSeq.map(perKey.getOrElse(_, 1L)).sum +
        math.abs(acc - wantAcc) + math.abs(rej - wantRej)
      val n = cmds.size.max(1).toDouble
      Check(cmds.size.toLong, failed.min(cmds.size.toLong), notes.toSeq, Map(
        "streaming.aggregate.accepted_ratio" -> acc / n,
        "streaming.dedup.dropped_ratio" -> (cmds.size - acc - rej) / n))
    }
  }

  // ---------------------------------------------------------- merge + join
  object MergeJoin extends StreamWorkload {
    val outName = "pairs"
    private val clicks = ddl("_id string, corr string, ts string, page string")
    override val schemas: Map[String, StructType] = Map(
      "clicks_web" -> clicks, "clicks_app" -> clicks,
      "orders" -> ddl("_id string, corr string, ts string, amount double"))
    val openRate = 120.0
    val backlogMsgs = 1500
    val drains = 2
    val windowMs = 5000L
    def newFeed(seed: Long): Feed = new JoinFeed(seed, windowMs, StreamBench.TickMs)
    def spec: String =
      s"""{"application":"bench-join","version":"1.0","parts":[
         | {"type":"merge","name":"clicks","fromTopics":["clicks_web","clicks_app"]},
         | {"type":"join","name":"checkout","window":$windowMs,"toTopic":"$outName",
         |  "left":{"fromStream":"clicks","on":"$$corr","timestamp":"$$ts"},
         |  "right":{"fromTopic":"orders","on":"$$corr","timestamp":"$$ts"}}]}""".stripMargin
    def sampleBodies(feed: Feed, n: Int): Seq[String] =
      feed.asInstanceOf[JoinFeed].inputs.take(n).toSeq.map(i =>
        s"""{"_id":"${i.id}","corr":"${i.corr}","ts":"${java.time.Instant.ofEpochMilli(i.tsMs)}"}""")

    def check(feed: Feed, rows: Seq[Row]): Check = {
      val f = feed.asInstanceOf[JoinFeed]
      val want = f.pairs.toSet
      val got = rows.map(r => (r.getAs[String]("_id"),
        r.getAs[Row]("left").getAs[String]("_id"),
        r.getAs[Row]("right").getAs[String]("_id")))
      val gotSet = got.toSet
      val missing = want.diff(gotSet)
      val extra = gotSet.diff(want)
      val dups = got.size - gotSet.size
      val notes = mutable.ArrayBuffer.empty[String]
      if (missing.nonEmpty) notes += s"${missing.size} pairs missing, e.g. ${missing.head}"
      if (extra.nonEmpty) notes += s"${extra.size} unexpected pairs, e.g. ${extra.head}"
      if (dups > 0) notes += s"$dups duplicate pairs"
      Check(f.inputs.size.toLong, (2L * (missing.size + extra.size + dups)).min(f.inputs.size.toLong),
        notes.toSeq)
    }
  }
}
