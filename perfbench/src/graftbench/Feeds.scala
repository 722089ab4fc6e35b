package graftbench

import scala.collection.mutable

/** The messages of one file: its topic and JSON object lines. Lines start
  * with `{` and get `_st` (scheduled ms) and `_ct` (creation ms) stamped
  * in front when the file is written.
  */
final case class FileBatch(topic: String, lines: Vector[String])

/** A seeded, deterministic message stream for one workload. `tick(n)`
  * returns the next `n` messages as the files of one generator tick; the
  * stream's state carries across calls, so warm-up, backlog and open-loop
  * phases form one sequence that the oracle replays in the same order.
  */
sealed trait Feed {
  def topics: Seq[String]
  def tick(n: Int): Seq[FileBatch]
}

/** Zipf(s) over 1..n by inverse CDF. */
final class Zipf(n: Int, s: Double, rng: java.util.Random) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else -i - 1).min(n - 1)
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def cents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"
}

// ---------------------------------------------------------------- aggregate

/** Command kinds of the counter aggregate. */
object Cmd extends Enumeration {
  val Put, Plus, Minus, BadPut, BadPlus, NoJwt, Replay = Value
}

final case class Command(key: String, kind: Cmd.Value, body: String)

/** app35-shaped counter commands: Zipf-skewed keys, put/plus/minus, a few
  * invalid commands and `$deduplicate` replays of puts. A valid put
  * never shares a file with another valid command for its key: puts pass
  * the dedup branch, which does not keep their order against the other
  * commands of a file, so a shared file would make the reduction order
  * (and the expected state) depend on the engine's partitioning.
  */
final class AggregateFeed(seed: Long, nKeys: Int, skew: Double) extends Feed {
  val topic = "plusminus2-counter-command"
  /** share of valid puts sent twice */
  private val replayShare = 0.3
  def topics: Seq[String] = Seq(topic)
  private val rng = new java.util.Random(seed)
  private val zipf = new Zipf(nKeys, skew, rng)
  private var seq = 0L
  /** each key's value after the commands so far: a reset put is sent only
    * when it changes the state, since a put that changes nothing sends no
    * reply
    */
  private val value = mutable.Map.empty[String, Long]
  val commands = mutable.ArrayBuffer.empty[Command]

  private def body(key: String, cmd: String, extra: String = "", jwt: Boolean = true): String = {
    val corr = s"c$seq"
    seq += 1
    s"""{"_id":"$key","_type":"plusminus2-counter","_corr":"$corr",""" +
      s""""_command":"$cmd"""" + (if (jwt) ""","_jwt":{"sub":"system"}""" else "") +
      extra + "}"
  }

  def tick(n: Int): Seq[FileBatch] = {
    val files = mutable.ArrayBuffer.empty[Vector[String]]
    var cur = Vector.empty[String]
    val putKeys = mutable.Set.empty[String]
    val otherKeys = mutable.Set.empty[String]
    def emit(c: Command): Unit = {
      // a replay shares its original's file: whichever copy the dedup
      // keeps, it sits at the same place among the key's commands
      val validPut = c.kind == Cmd.Put
      val validOther = c.kind == Cmd.Plus || c.kind == Cmd.Minus
      val conflict =
        (validPut && (putKeys(c.key) || otherKeys(c.key))) ||
          (validOther && putKeys(c.key))
      if (conflict) {
        files += cur; cur = Vector.empty; putKeys.clear(); otherKeys.clear()
      }
      if (validPut) putKeys += c.key
      if (validOther) otherKeys += c.key
      cur :+= c.body
      commands += c
    }
    (0 until n).foreach { _ =>
      val key = f"k${zipf.next()}%05d"
      val r = rng.nextDouble()
      val c =
        if (!value.contains(key)) Command(key, Cmd.Put, body(key, "put", ""","value":0"""))
        else if (r < 0.03) Command(key, Cmd.BadPut, body(key, "put", ""","value":1"""))
        else if (r < 0.05) Command(key, Cmd.BadPlus, body(key, "plus", ""","value":5"""))
        else if (r < 0.07) Command(key, Cmd.NoJwt, body(key, "minus", jwt = false))
        else if (r < 0.15 && value(key) != 0)
          Command(key, Cmd.Put, body(key, "put", ""","value":0"""))
        else if (r < 0.58) Command(key, Cmd.Plus, body(key, "plus"))
        else Command(key, Cmd.Minus, body(key, "minus"))
      c.kind match {
        case Cmd.Put => value(key) = 0
        case Cmd.Plus => value(key) += 1
        case Cmd.Minus => value(key) -= 1
        case _ =>
      }
      emit(c)
      // an at-least-once redelivery of the put, right behind it in the
      // same file: no other command of the key comes between the copies
      if (c.kind == Cmd.Put && rng.nextDouble() < replayShare)
        emit(Command(key, Cmd.Replay, c.body))
    }
    if (cur.nonEmpty) files += cur
    files.toSeq.map(FileBatch(topic, _))
  }
}

// ---------------------------------------------------------------- join

/** One join input: a click (web or app topic) or an order. */
final case class JoinInput(topic: String, id: String, corr: String, tsMs: Long)

/** Clicks on two topics (merged) and orders, joined on `corr` within an
  * event-time window of `windowMs`. Every pair lies clearly inside the
  * window (gap <= window/4) or clearly outside it (3 windows apart), so
  * the expected pairs never depend on how micro-batches split. The event
  * clock advances `tickMs` per tick from a fixed epoch.
  */
final class JoinFeed(seed: Long, windowMs: Long, tickMs: Long) extends Feed {
  val topics: Seq[String] = Seq("clicks_web", "clicks_app", "orders")
  private val rng = new java.util.Random(seed)
  private val epoch = 1704067200000L // 2024-01-01T00:00:00Z
  private var tickNo = 0L
  private var seq = 0L
  /** inputs held back to the next tick (second half of a pair, replays) */
  private var carry = Vector.empty[JoinInput]
  private val pending = mutable.Map.empty[String, (String, String, String)]
  val inputs = mutable.ArrayBuffer.empty[JoinInput]
  /** (corr, click id, order id) of every pair the join must emit */
  val pairs = mutable.ArrayBuffer.empty[(String, String, String)]
  private val pages = Vector("home", "search", "item", "cart")

  private def line(i: JoinInput): String = {
    val ts = java.time.Instant.ofEpochMilli(i.tsMs).toString
    if (i.topic == "orders")
      s"""{"_id":"${i.id}","corr":"${i.corr}","ts":"$ts","amount":${Json.cents(i.id.hashCode.abs % 100000L)}}"""
    else
      s"""{"_id":"${i.id}","corr":"${i.corr}","ts":"$ts","page":"${pages(i.id.hashCode.abs % 4)}"}"""
  }

  def tick(n: Int): Seq[FileBatch] = {
    val now = epoch + tickNo * tickMs
    val out = mutable.ArrayBuffer.empty[JoinInput] ++= carry
    // a pair counts once both halves are written
    carry.foreach(i => pending.remove(i.id).foreach(pairs += _))
    carry = Vector.empty
    def click(corr: String, ts: Long) = {
      seq += 1
      JoinInput(if (rng.nextBoolean()) "clicks_web" else "clicks_app", s"c$seq", corr, ts)
    }
    def order(corr: String, ts: Long) = { seq += 1; JoinInput("orders", s"o$seq", corr, ts) }
    while (out.size + carry.size < n) {
      val corr = s"p$seq"
      val r = rng.nextDouble()
      val jitter = rng.nextInt(50).toLong
      if (r < 0.80) { // in order, both sides inside the window
        val c = click(corr, now + jitter)
        val o = order(corr, c.tsMs + rng.nextInt((windowMs / 4).toInt).toLong)
        out += c
        if (rng.nextDouble() < 0.3) { carry :+= o; pending(o.id) = (corr, c.id, o.id) }
        else { out += o; pairs += ((corr, c.id, o.id)) }
        if (rng.nextDouble() < 0.04) carry :+= c // at-least-once replay
      } else if (r < 0.90) { // out of order: half a window behind the clock
        val c = click(corr, now - windowMs / 2 + jitter)
        val o = order(corr, c.tsMs + rng.nextInt((windowMs / 4).toInt).toLong)
        out += c; out += o
        pairs += ((corr, c.id, o.id))
      } else if (r < 0.95) { // late beyond the window: never pairs
        out += click(corr, now - 3 * windowMs + jitter)
        out += order(corr, now + jitter)
      } else if (r < 0.975) out += click(corr, now + jitter)
      else out += order(corr, now + jitter)
    }
    tickNo += 1
    inputs ++= out
    topics.map(t => FileBatch(t, out.filter(_.topic == t).map(line).toVector))
      .filter(_.lines.nonEmpty)
  }
}
