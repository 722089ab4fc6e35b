package graft.streaming

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.json.Js

/** The aggregate part as a Spark operator: commands keyed by `_id`,
  * per-key sequential reduction in flatMapGroupsWithState (snapshot kept in
  * the state store — the reference keeps it in a MongoDB collection,
  * docs/state.md:129-131), five output streams fanned out of one stateful
  * pass via the `dest` tag (SURVEY §2.1).
  *
  * Partitioning: the groupByKey shuffle is by aggregate id — identical to
  * the reference's Kafka-partition-by-key parallelism ceiling; scales with
  * shuffle partitions, state store shards per partition.
  */
object AggregatePart {

  final case class Out(dest: String, key: String, value: String)

  /** `keyCol` defaults to `_id`; an aggregate with a `uniqueExpression`
    * (docs/state.md:176-197) re-keys commands by that expression so all
    * commands agreeing on the criterion hit the same instance.
    */
  def apply(commands: DataFrame, conf: AggregateLogic.Config,
      keyOverride: Option[org.apache.spark.sql.Column] = None,
      /** Snapshot expiry for ephemeral aggregate types (ROADMAP: the
        * reference's durable store is MongoDB; its streaming caches are
        * bounded). When set, an instance whose snapshot has seen no
        * command for this many ms is EVICTED from the state store — the
        * next command for that id reduces against empty state (`_seq`
        * restarts), which is the intended semantics for session/saga-like
        * types and a state-growth bound at 100 TB scale. Unset = the
        * reference's immortal event-sourced state.
        */
      stateExpiryMs: Option[Long] = None)
      : Dataset[Out] = {
    val spark = commands.sparkSession
    import spark.implicits._
    // Arrival order is the reduction order (Kafka offset order per key in
    // the reference). Within a micro-batch, an optional `__ord` column
    // pins the order explicitly (iterator order otherwise). NOTE: when a
    // key's commands span INPUT partitions (uniqueExpression re-keying),
    // cross-partition order is undefined here exactly as it is in the
    // reference — its unique re-key round-trips through the `<type>-unique`
    // TOPIC to re-establish per-partition order, and this engine exposes
    // the same stream (AppRunner's uniqueStream) for that purpose.
    val hasOrd = commands.columns.contains("__ord")
    // streaming forbids monotonically_increasing_id; a constant ord keeps
    // iterator order intact through the STABLE sortBy below (per-partition
    // arrival order, the Kafka guarantee)
    val ordCol =
      if (hasOrd) col("__ord").cast("long")
      else if (commands.isStreaming) lit(0L)
      else monotonically_increasing_id()
    // a __raw column (the message's original JSON text) wins over
    // re-serializing the typed row: schema inference alphabetizes fields,
    // but reducers and the event diff follow document field order. A
    // schemaless (key, value) frame's value IS the raw text already.
    val json =
      if (commands.columns.contains("__raw")) col("__raw")
      else graft.op.Stages.messageJson(commands)
    val keyCol = keyOverride
      .getOrElse(
        if (commands.columns.contains("_id")) col("_id")
        else get_json_object(json, "$._id"))
      .cast("string")
    val asJson = commands
      .select(keyCol.as("key"), json.as("json"), ordCol.as("ord"))
      .as[(String, String, Long)]

    // batch runs have no timeout machinery (state is per-run anyway);
    // the expiry knob only binds on real streams
    val useExpiry = stateExpiryMs.isDefined && commands.isStreaming
    asJson
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        if (useExpiry) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, String, Long)],
            state: GroupState[String]) =>
          if (state.hasTimedOut) {
            // idle past the expiry window: evict the snapshot
            state.remove()
            Iterator.empty
          } else {
            // a corrupt SNAPSHOT is a real storage failure: stay strict
            // (crashing preserves the checkpoint for inspection; silently
            // resetting state would lose the aggregate)
            var cur: Option[ObjectNode] =
              state.getOption.map(s => Js.parse(s).asInstanceOf[ObjectNode])
            val outs = Seq.newBuilder[Out]
            it.toSeq.sortBy(_._3).foreach { case (_, json, _) =>
              // a malformed or non-object COMMAND is a poison pill if it
              // throws here: the task fails, the checkpoint replays the
              // same record, and the query wedges forever. Skip it with a
              // visible log line instead (no id to reply to).
              val parsed =
                try Js.parse(json) match {
                  case o: ObjectNode => Some(o)
                  case _ => None
                } catch { case _: Exception => None }
              parsed match {
                case None =>
                  org.slf4j.LoggerFactory.getLogger("graft.streams")
                    .warn("aggregate {}: skipping unparseable command ({})",
                      conf.aggType,
                      json.take(200): Any)
                case Some(cmd) =>
                  cmd.remove("__ord") // harness plumbing, not the command
                  cmd.remove("__raw")
                  val (next, emitted) = AggregateLogic.step(cur, cmd, conf,
                    System.currentTimeMillis())
                  cur = next
                  emitted.foreach { case (dest, doc) =>
                    outs += Out(dest.name, key, Js.render(doc))
                  }
              }
            }
            cur.foreach(s => state.update(Js.render(s)))
            // the clock restarts on every command: expiry is an IDLE
            // window, not a lifetime cap
            if (useExpiry && state.exists)
              state.setTimeoutDuration(stateExpiryMs.get)
            outs.result().iterator
          }
      }
  }

  /** The `<app>-<type>-<purpose>` streams (docs/state.md:66): filter the
    * tagged output per purpose. In BATCH, AppRunner materializes the
    * stateful pass once (localCheckpoint) so the four purpose sinks share
    * one execution and one `_timestamp` per event. In STREAMING each
    * purpose sink is its own query over its own state store (standard
    * Spark multi-sink topology), so copies of an event on different
    * purpose topics may carry different wall-clock `_timestamp` values —
    * correlate across streams by (`_id`, `_seq`, `_corr`), which are
    * deterministic, not by timestamp.
    */
  def streams(out: Dataset[Out], aggType: String): Map[String, DataFrame] =
    Seq("aggregate", "event", "event-full", "reply").map { purpose =>
      s"$aggType-$purpose" ->
        out.where(col("dest") === purpose).select(col("key"), col("value"))
    }.toMap
}
