package graft.streaming

/** Streaming `{href}` resolution (reference app36; pincette-jes resolves
  * against the MongoDB aggregate collection): a run-scoped latest-state
  * map fed by the aggregate purpose stream, read by reducers at reduce
  * time through `AggregateLogic.Config.resolver`.
  *
  * Local-mode/test implementation: one JVM-wide store keyed by run id —
  * executor task closures deserialize `Resolver` and reach the same
  * singleton (same-JVM local mode). A multi-JVM cluster plugs an external
  * serving store behind the same `String => Option[String]` hook, exactly
  * as the reference queries Mongo from each instance.
  */
object HrefStore {

  private val stores = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, (Long, String)]]()

  private def store(run: String) =
    stores.computeIfAbsent(run,
      _ => new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]())

  /** An aggregate state's `_seq`, -1 when it has no numeric one — the
    * order every publisher compares states by.
    */
  def seqOf(json: String): Long =
    Option(graft.json.Js.parse(json).get("_seq"))
      .filter(_.isNumber).map(_.asLong()).getOrElse(-1L)

  /** Keep the latest state per aggregate id (highest `_seq` wins). */
  def put(run: String, id: String, seq: Long, json: String): Unit =
    store(run).merge(id, (seq, json),
      (a, b) => if (b._1 >= a._1) b else a)

  def get(run: String, id: String): Option[String] =
    Option(store(run).get(id)).map(_._2)

  def clear(run: String): Unit = stores.remove(run)

  /** Serializable resolver handle for `AggregateLogic.Config.resolver`. */
  final case class Resolver(run: String)
      extends (String => Option[String]) with Serializable {
    def apply(id: String): Option[String] = get(run, id)
  }

  /** Shared-filesystem serving store — the multi-JVM counterpart of the
    * singleton above (`config("href.store") = <dir>` wires it). SCOPE:
    * the engine's self-feed publishes into it on the BATCH two-pass path
    * only. A STREAMING app resolves against whatever this directory
    * holds — some publisher must keep it current (route the
    * `<type>-aggregate` purpose stream to a collection/store and point
    * `AppRunner(hrefResolver = ...)` at it, the exact analog of the
    * reference resolving against the Mongo aggregate collection its own
    * writes maintain). Executor
    * tasks publish each aggregate's latest state as one file per id
    * under a root every JVM can reach (NFS/shared volume; object-store
    * roots go through the same pattern with their own client), and
    * reducers resolve `{href}` refs by reading them. Highest `_seq`
    * wins, so republishing (batch retries, several engine instances) is
    * idempotent. Per-id publishes are serial in practice — the purpose
    * stream is keyed by the aggregate id — and the seq check guards
    * replays; it is not a general concurrent-writer CAS.
    */
  final case class FileStore(root: String)
      extends (String => Option[String]) with Serializable {
    private def path(id: String) = java.nio.file.Paths.get(root,
      java.net.URLEncoder.encode(id, "UTF-8") + ".json")

    def put(id: String, seq: Long, json: String): Unit = {
      val p = path(id)
      java.nio.file.Files.createDirectories(p.getParent)
      if (apply(id).forall(cur => seqOf(cur) <= seq)) {
        val tmp = p.resolveSibling(p.getFileName.toString +
          ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
        java.nio.file.Files.writeString(tmp, json)
        java.nio.file.Files.move(tmp, p,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }

    def apply(id: String): Option[String] = {
      val p = path(id)
      if (java.nio.file.Files.exists(p))
        Some(java.nio.file.Files.readString(p))
      else None
    }
  }
}
