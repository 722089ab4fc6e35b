package graft.streaming

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame

/** Streaming `$per` (docs/aggregation_stages.md:393-411): accumulate
  * `amount` messages into one message whose `as` field is the array;
  * `timeout` ms flushes partial batches via a processing-time timer.
  *
  * Like the reference, batching is a serial point in the stream (one
  * accumulator); the stage is meant for request-coalescing, not bulk
  * throughput.
  */
object PerStage {

  def apply(df: DataFrame, spec: JsonNode): DataFrame = {
    val amount = spec.get("amount").asInt()
    val as = spec.get("as").asText()
    val timeoutMs =
      if (spec.has("timeout")) Some(spec.get("timeout").asLong()) else None

    // each batch element is the message itself, transport columns dropped
    val payload = df.select(graft.op.Stages.messageJson(df).as("value"))

    // transformWithState: ListState buffer + a native per-key flush timer
    // (ProcessingTime mode keeps the engine triggering to evaluate timers
    // — only paid when a flush timeout is configured)
    StatefulOps.per(payload, amount, as, timeoutMs)
  }
}
