package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{Column, DataFrame, ForeachWriter, Row}
import org.apache.spark.sql.functions._

/** `$delay` redelivery (docs/aggregation_stages.md:118-159): the stage
  * stamps `_topic` and `_delay_ms`; the sink routes such rows through
  * `StatefulOps.delayViaTimers` (engine-native per-key timers — state and
  * timers live in the checkpoint, so a crash mid-delay redelivers on
  * restart instead of losing the message, which the reference's in-memory
  * scheduled re-produce documents as its caveat) and this module's
  * transports produce the expired rows onto their target topic. Message
  * order is not guaranteed, exactly like the reference.
  */
object DelayedDelivery {

  private val Routing = Set("_delay_ms", "_deliver_at", "_topic")

  /** Does this part output carry `$delay` routing columns?
    * `_delay_ms` = processing-time delay (the reference's `duration`);
    * `_deliver_at` = event-time delivery (engine `deliverAt` extension).
    */
  def hasDelay(df: DataFrame): Boolean =
    df.columns.contains("_delay_ms") || df.columns.contains("_deliver_at")

  /** Rows without a delay, routing columns dropped. */
  def immediate(df: DataFrame): DataFrame = {
    val conds = Seq("_delay_ms", "_deliver_at")
      .filter(df.columns.contains).map(col(_).isNull)
    conds.reduceOption(_ && _).fold(df)(df.filter)
      .drop(Routing.toSeq: _*)
  }

  private def packed(df: DataFrame, delayCol: String, as: Column*)
      : DataFrame = {
    // schemaless (key, value) message frames: the value IS the JSON text
    // — wrapping it in a struct would redeliver an envelope, not the
    // message (same contract as StreamIo.toKafkaShape)
    val msg = graft.op.Stages.isMessageShaped(df)
    val payloadCols =
      df.columns.filterNot(Routing ++ Set("__ord")).map(col)
    val key =
      if (msg) col("key").cast("string")
      else if (df.columns.contains("_id")) col("_id").cast("string")
      else lit(null).cast("string")
    val json =
      if (msg) col("value") else to_json(struct(payloadCols: _*))
    df.filter(col(delayCol).isNotNull)
      .select(col("_topic").cast("string").as("topic") +: as :+
        key.as("key") :+ json.as("json"): _*)
  }

  /** The processing-time-delayed rows as (topic, delayMs, key, json),
    * None when the frame carries no `_delay_ms` routing.
    */
  def packedDelayed(df: DataFrame): Option[DataFrame] =
    if (!df.columns.contains("_delay_ms")) None
    else Some(packed(df, "_delay_ms",
      col("_delay_ms").cast("long").as("delayMs")))

  /** The event-time-delayed rows as (topic, deliverAt, key, json),
    * None when the frame carries no `_deliver_at` routing.
    */
  def packedEventDelayed(df: DataFrame): Option[DataFrame] =
    if (!df.columns.contains("_deliver_at")) None
    else Some(packed(df, "_deliver_at",
      col("_deliver_at").cast("timestamp").as("deliverAt")))

  /** ForeachWriter over the timer-expired (topic, key, json) rows:
    * delivers immediately — the delay already elapsed in the stateful
    * stage. The transport must be serializable (executors run it); a
    * failed delivery throws, failing the micro-batch, and the row's state
    * replays it — at-least-once instead of the pool's visible loss.
    */
  final class ImmediateWriter(deliver: (String, String, String) => Unit)
      extends ForeachWriter[Row] with Serializable {
    def open(partitionId: Long, epochId: Long): Boolean = true
    def process(r: Row): Unit =
      deliver(r.getString(0), r.getString(1), r.getString(2))
    def close(errorOrNull: Throwable): Unit = ()
  }

  /** File-loopback transport: the redelivered message becomes a new file
    * in the topic's source directory, so the topic's file stream picks it
    * up like any other message (the test-Io analog of a Kafka produce).
    */
  final class FileTransport(root: String)
      extends ((String, String, String) => Unit) with Serializable {
    def apply(topic: String, key: String, json: String): Unit = {
      val dir = Paths.get(root, topic)
      Files.createDirectories(dir)
      // redeliveries sort AFTER the original messages: the file name's
      // digit suffix feeds the source's __ord (arrival-order) column
      val seq = FileTransport.counter.incrementAndGet()
      Files.writeString(
        dir.resolve(
          s"delay-${java.util.UUID.randomUUID().toString.take(8)}-$seq.json"),
        json, StandardOpenOption.CREATE)
    }
  }
  object FileTransport {
    private[DelayedDelivery] val counter =
      new java.util.concurrent.atomic.AtomicLong(1000000000L)
  }

  /** Kafka transport via reflection: kafka-clients is a runtime-only
    * dependency (exactly like the `format("kafka")` data source the
    * normal sink path uses). Producers are cached per bootstrap per JVM
    * (the companion map — deserialized copies share it). Each timer tick
    * CONFIRMS its send (flush + Future.get) before the tick is considered
    * done: a fire-and-forget send leaves the redelivery in the producer
    * buffer, where a hard executor crash (kill -9/OOM) silently drops it
    * after the timer already completed. The throw from a failed send
    * propagates to `schedule`'s catch — visible loss, per the reference's
    * at-least-once caveat. A JVM shutdown hook still flushes and closes
    * every cached producer for the graceful-exit path.
    */
  final class KafkaTransport(bootstrap: String)
      extends ((String, String, String) => Unit) with Serializable {
    def apply(topic: String, key: String, json: String): Unit = {
      val producer = KafkaTransport.producerFor(bootstrap)
      val recordCls =
        Class.forName("org.apache.kafka.clients.producer.ProducerRecord")
      // redelivered messages speak the same wire format as the sinks
      // (gzip-CBOR, docs/serialisation.md) — consumers run one decode
      // chain for first-pass and redelivered rows alike
      val record = recordCls
        .getConstructor(classOf[String], classOf[Object], classOf[Object])
        .newInstance(topic, key,
          graft.json.Wire.produce(json, asString = false))
      val future = producer.getClass.getMethod("send", recordCls)
        .invoke(producer, record)
      producer.getClass.getMethod("flush").invoke(producer)
      // ack or throw — InvocationTargetException unwraps to the send
      // failure in schedule's visible-loss log
      try future.getClass.getMethod("get").invoke(future)
      catch {
        case e: java.lang.reflect.InvocationTargetException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }
  }
  object KafkaTransport {
    private val producers =
      new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
    private[DelayedDelivery] def producerFor(bootstrap: String): AnyRef =
      producers.computeIfAbsent(bootstrap, b => {
        val props = new java.util.Properties()
        props.put("bootstrap.servers", b)
        props.put("key.serializer",
          "org.apache.kafka.common.serialization.StringSerializer")
        props.put("value.serializer",
          "org.apache.kafka.common.serialization.ByteArraySerializer")
        val p = Class
          .forName("org.apache.kafka.clients.producer.KafkaProducer")
          .getConstructor(classOf[java.util.Properties])
          .newInstance(props).asInstanceOf[AnyRef]
        // drain in-flight redeliveries before the JVM exits
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try {
            p.getClass.getMethod("flush").invoke(p)
            p.getClass.getMethod("close").invoke(p)
          } catch { case _: Throwable => () },
          s"graft-delay-close-$b"))
        p
      })
  }
}
