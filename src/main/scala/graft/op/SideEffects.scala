package graft.op

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.json.Js
import graft.expr.ExprCompiler

/** Pluggable transports for the side-effecting stages. Tests inject
  * deterministic fakes; production wires real HTTP/S3 clients. Both must be
  * Serializable — they execute on executors. `open()` runs once per
  * partition before the first call and `close()` at task completion, so an
  * implementation can hold one pooled client per partition instead of one
  * connection per row.
  */
final case class HttpResult(status: Int, body: String)

trait HttpTransport extends Serializable {
  def open(): Unit = ()
  def close(): Unit = ()
  def apply(method: String, url: String, headersJson: String,
      body: String): HttpResult
}

trait ObjectStore extends Serializable {
  def open(): Unit = ()
  def close(): Unit = ()
  def get(bucket: String, key: String): String
  def put(bucket: String, key: String, content: String): Unit
}

/** Shared execution shape for the side-effecting stages: one client per
  * partition (open/close lifecycle) and a bounded window of async calls in
  * flight, order-preserving — the Spark analog of the reference's batched
  * async I/O (docs/aggregation_stages.md:207-244). A per-row synchronous
  * UDF would serialize every call on the task thread and re-handshake per
  * row; here the task thread only blocks when `maxInFlight` calls are
  * already outstanding.
  */
private[graft] object PartitionCalls {

  val callRowType: StructType = StructType(Seq(
    StructField("response", StringType),
    StructField("httpError", StructType(Seq(
      StructField("statusCode", IntegerType),
      StructField("body", StringType))))))

  def rowOf(r: HttpResult): Row =
    if (r.status >= 200 && r.status < 300) Row(r.body, null)
    else Row(null, Row(r.status, r.body))

  /** Up to `maxInFlight` invocations of `f` run concurrently; results come
    * back in input order (head-of-line await, standard bounded pipeline).
    */
  def boundedOrdered[A, B](it: Iterator[A], maxInFlight: Int)(f: A => B)
      : Iterator[(A, B)] = {
    import scala.concurrent._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val q = scala.collection.mutable.Queue.empty[(A, Future[B])]
    new Iterator[(A, B)] {
      private def fill(): Unit =
        while (it.hasNext && q.size < maxInFlight) {
          val a = it.next()
          // blocking-hint: transport calls block on I/O — the global pool
          // must grow past its CPU-count parallelism or concurrent stages
          // would degrade toward sequential execution
          q.enqueue((a, Future(blocking(f(a)))))
        }
      def hasNext: Boolean = { fill(); q.nonEmpty }
      def next(): (A, B) = {
        fill()
        val (a, fut) = q.dequeue()
        val b = Await.result(fut, duration.Duration.Inf)
        fill()
        (a, b)
      }
    }
  }

  /** Append a `__call` column of `resultType` computed by `call` over the
    * values of `argCols`, with the per-partition lifecycle above. The
    * result keeps the input columns (argCols are projected away).
    */
  def appendCall(df: DataFrame, argCols: Seq[Column], resultType: DataType,
      open: () => Unit, close: () => Unit, maxInFlight: Int)
      (call: IndexedSeq[Any] => Any): DataFrame = {
    val tagged = argCols.zipWithIndex.map { case (c, i) => c.as(s"__arg$i") }
    val in = df.select(df.columns.map(col) ++ tagged: _*)
    val base = df.columns.length
    val n = argCols.size
    val outSchema = StructType(in.schema.fields :+
      StructField("__call", resultType))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val mapped = in.mapPartitions { rows =>
      open()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => close()))
      boundedOrdered(rows, maxInFlight) { row =>
        call((0 until n).map(i => row.get(base + i)))
      }.map { case (row, out) => Row.fromSeq(row.toSeq :+ out) }
    }(enc)
    mapped.select(df.columns.map(col) :+ col("__call"): _*)
  }

  def maxInFlight(spec: JsonNode): Int =
    // guard: 0 (or a non-numeric value) would make boundedOrdered's fill
    // loop never admit a row and silently drop the whole partition
    math.max(1,
      if (spec.has("parallelism")) spec.get("parallelism").asInt(16) else 16)
}

/** `$http` (docs/aggregation_stages.md:207-244): per-message HTTP call;
  * url/method/headers/body are expressions; 2xx responses land in `as`,
  * errors in `httpError {statusCode, body}`; `unwind` explodes JSON-array
  * responses. The response body stays a JSON string column (the reference
  * is schemaless; downstream stages can `$stringToJson` it).
  */
object Http {

  /** `df` plus the call's `__call {response, httpError}` column. */
  private[graft] def call(df: DataFrame, spec: JsonNode, env: Env)
      : DataFrame = {
    val ctx = Stages.ctxOf(df, env)
    def exprStr(name: String): Column =
      if (spec.has(name)) {
        val c = ExprCompiler.compile(spec.get(name), ctx)
        ctx.typeOf(c) match {
          case _: StructType | _: ArrayType | _: MapType => to_json(c)
          case _                                         => c.cast(StringType)
        }
      } else lit(null).cast(StringType)

    val transport = env.http
    PartitionCalls.appendCall(df,
      Seq(exprStr("method"), exprStr("url"), exprStr("headers"),
        exprStr("body")),
      PartitionCalls.callRowType,
      () => transport.open(), () => transport.close(),
      PartitionCalls.maxInFlight(spec)) { args =>
      PartitionCalls.rowOf(transport(
        args(0).asInstanceOf[String], args(1).asInstanceOf[String],
        args(2).asInstanceOf[String], args(3).asInstanceOf[String]))
    }
  }

  def apply(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val withErr =
      call(df, spec, env).withColumn("httpError", col("__call.httpError"))
    val unwindFlag = spec.has("unwind") && spec.get("unwind").asBoolean()
    val out = Option(spec.get("as")).map(_.asText()) match {
      case None => withErr
      case Some(as) if !unwindFlag =>
        withErr.withColumn(as, col("__call.response"))
      case Some(as) =>
        // split a JSON-array response into one message per element
        val split = udf((s: String) =>
          if (s == null) Seq.empty[String]
          else {
            val n = Js.parse(s)
            if (n.isArray) Js.elems(n).map(Js.render) else Seq(Js.render(n))
          })
        withErr.withColumn(as, explode(split(col("__call.response"))))
    }
    out.drop("__call")
  }
}

/** `$signJwt` (docs/aggregation_stages.md:591-639): sign an RS256 JWT from
  * claim expressions into the `as` field. jjwt runs on the executors.
  */
object SignJwt {

  def apply(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val as = spec.get("as").asText()
    val pem = spec.get("privateKey").asText()
    val ttlSeconds =
      if (spec.has("ttl")) spec.get("ttl").asLong() else 5L
    def claimExpr(name: String): Column =
      if (spec.has(name))
        Stages.expr(df, spec.get(name), env).cast(StringType)
      else lit(null).cast(StringType)
    val extraClaims =
      if (spec.has("claims"))
        to_json(Stages.expr(df, spec.get("claims"), env))
      else lit(null).cast(StringType)

    val sign = udf((iss: String, sub: String, aud: String, kid: String,
        claims: String) => {
      val key = parsePem(pem)
      val b = io.jsonwebtoken.Jwts.builder()
      if (iss != null) b.issuer(iss)
      if (sub != null) b.subject(sub)
      if (aud != null) b.audience().add(aud)
      if (kid != null) b.header().keyId(kid).and()
      if (claims != null)
        Js.fields(Js.parse(claims)).foreach { case (k, v) =>
          b.claim(k, if (v.isTextual) v.asText() else Js.render(v))
        }
      val now = System.currentTimeMillis()
      b.issuedAt(new java.util.Date(now))
        .expiration(new java.util.Date(now + ttlSeconds * 1000))
        .signWith(key, io.jsonwebtoken.Jwts.SIG.RS256)
        .compact()
    })
    df.withColumn(as,
      sign(claimExpr("iss"), claimExpr("sub"), claimExpr("aud"),
        claimExpr("kid"), extraClaims))
  }

  private[graft] def parsePem(pem: String): java.security.PrivateKey = {
    val body = pem.replaceAll("-----[A-Z ]+-----", "").replaceAll("\\s", "")
    val bytes = java.util.Base64.getDecoder.decode(body)
    java.security.KeyFactory.getInstance("RSA")
      .generatePrivate(new java.security.spec.PKCS8EncodedKeySpec(bytes))
  }
}

/** `$s3Csv` (docs/aggregation_stages.md:696-725): per incoming message,
  * fetch a CSV object and emit one message per line; the header row names
  * the fields; values are typed long/double/string (S3CsvStage.java:246-251).
  * Values stay a JSON-string column (schemaless payload). `separator`
  * defaults to TAB like the reference. With `eTag` set the fan-out is
  * RESUMABLE: lines already emitted for that object version are skipped
  * (reference tracks this in `resumeCollection`; here a pluggable per-JVM
  * tracker — swap `S3Csv.resume` for a shared store on a cluster).
  */
object S3Csv {

  /** eTag → number of lines already emitted. */
  trait ResumeTracker extends Serializable {
    def done(eTag: String): Long
    def advance(eTag: String, lines: Long): Unit
  }
  /** Default tracker: one map per JVM (readResolve keeps it a singleton
    * across task deserializations in local mode).
    */
  object resume extends ResumeTracker {
    private val progress =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    def done(eTag: String): Long =
      Option(progress.get(eTag)).map(_.longValue()).getOrElse(0L)
    def advance(eTag: String, lines: Long): Unit =
      progress.merge(eTag, java.lang.Long.valueOf(lines),
        (a, b) => if (b > a) b else a)
    def clear(): Unit = progress.clear()
  }

  def apply(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val bucket = Stages.expr(df, spec.get("bucket"), env).cast(StringType)
    val key = Stages.expr(df, spec.get("key"), env).cast(StringType)
    val eTag =
      if (spec.has("eTag"))
        Stages.expr(df, spec.get("eTag"), env).cast(StringType)
      else lit(null).cast(StringType)
    // String.split takes a regex — quote the literal separator
    val separator = java.util.regex.Pattern.quote(
      if (spec.has("separator")) spec.get("separator").asText() else "\t")
    val store = env.store
    val tracker = resume
    val fetched = PartitionCalls.appendCall(df, Seq(bucket, key, eTag),
      ArrayType(StringType),
      () => store.open(), () => store.close(),
      PartitionCalls.maxInFlight(spec)) { args =>
      val content = store.get(args(0).asInstanceOf[String],
        args(1).asInstanceOf[String])
      val tag = args(2).asInstanceOf[String]
      val lines = content.split("\n").filter(_.nonEmpty)
      if (lines.length < 2) Seq.empty[String]
      else {
        val header = lines.head.split(separator).map(_.trim)
        val body = lines.tail.toSeq
        val skip = if (tag == null) 0L else tracker.done(tag)
        val out = body.drop(skip.toInt).map { line =>
          val o = Js.obj()
          header.zip(line.split(separator).map(_.trim)).foreach {
            case (h, v) =>
              typed(v) match {
                case l: java.lang.Long   => o.put(h, l.longValue())
                case d: java.lang.Double => o.put(h, d.doubleValue())
                case s: String           => o.put(h, s)
              }
          }
          Js.render(o)
        }
        if (tag != null) tracker.advance(tag, body.size.toLong)
        out
      }
    }
    // the lines REPLACE the incoming message ("lines are emitted as
    // individual JSON messages"); the old key routes them, like $jq
    // _id outranks a DATA field named "key" (the message key column only
    // exists on schemaless frames, which also lack _id/_key columns)
    val keyCol =
      if (df.columns.contains("_key")) col("_key").cast(StringType)
      else if (df.columns.contains("_id")) col("_id").cast(StringType)
      else if (df.columns.contains("key")) col("key").cast(StringType)
      else lit(null).cast(StringType)
    fetched.select(keyCol.as("_key"),
      explode(col("__call")).as("value"))
  }

  /** The reference's CSV typing rule: long, else double, else string. */
  private def typed(v: String): Any =
    try java.lang.Long.valueOf(v)
    catch {
      case _: NumberFormatException =>
        try java.lang.Double.valueOf(v)
        catch { case _: NumberFormatException => v }
    }
}

/** `$s3Transfer` (docs/aggregation_stages.md:748-785): GET the url, PUT
  * the body to the object store; `as` receives the object URL, HTTP errors
  * land in httpError.
  */
object S3Transfer {
  def apply(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val url = Stages.expr(df, spec.get("url"), env).cast(StringType)
    val bucket = Stages.expr(df, spec.get("bucket"), env).cast(StringType)
    val key = Stages.expr(df, spec.get("key"), env).cast(StringType)
    val transport = env.http
    val store = env.store
    val out = PartitionCalls.appendCall(df, Seq(url, bucket, key),
      PartitionCalls.callRowType,
      () => { transport.open(); store.open() },
      () => { transport.close(); store.close() },
      PartitionCalls.maxInFlight(spec)) { args =>
      val (u, b, k) = (args(0).asInstanceOf[String],
        args(1).asInstanceOf[String], args(2).asInstanceOf[String])
      val r = transport("GET", u, null, null)
      if (r.status >= 200 && r.status < 300) {
        store.put(b, k, r.body)
        Row(s"s3://$b/$k", null)
      } else Row(null, Row(r.status, r.body))
    }
    out.withColumn(spec.get("as").asText(), col("__call.response"))
      .withColumn("httpError", col("__call.httpError"))
      .drop("__call")
  }
}

/** `$s3Attachments` (docs/aggregation_stages.md:641-694): POST objects as
  * multipart/mixed; extra attachment fields become MIME part headers.
  */
object S3Attachments {
  def apply(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val url = Stages.expr(df, spec.get("url"), env).cast(StringType)
    val attachments = to_json(Stages.expr(df, spec.get("attachments"), env))
    val transport = env.http
    val store = env.store
    val out = PartitionCalls.appendCall(df, Seq(url, attachments),
      PartitionCalls.callRowType,
      () => { transport.open(); store.open() },
      () => { transport.close(); store.close() },
      PartitionCalls.maxInFlight(spec)) { args =>
      val (u, attJson) =
        (args(0).asInstanceOf[String], args(1).asInstanceOf[String])
      val boundary = "graft-boundary"
      val parts = Js.elems(Js.parse(attJson)).map { a =>
        val bucket = a.get("bucket").asText()
        val key = a.get("key").asText()
        val extraHeaders = Js.fields(a).collect {
          case (k, v) if k != "bucket" && k != "key" =>
            s"$k: ${v.asText()}\r\n"
        }.mkString
        val content = store.get(bucket, key)
        s"--$boundary\r\n${extraHeaders}Content-Length: ${content.length}\r\n\r\n$content\r\n"
      }.mkString
      val body = s"$parts--$boundary--\r\n"
      PartitionCalls.rowOf(transport("POST", u,
        s"""{"Content-Type":"multipart/mixed; boundary=$boundary"}""", body))
    }
    out.withColumn("httpError", col("__call.httpError"))
      .drop("__call")
  }
}

/** `$s3Out` (docs/aggregation_stages.md:727-746): write each message as an
  * object; passthrough output.
  */
object S3Out {
  def apply(df: DataFrame, spec: JsonNode, env: Env): DataFrame = {
    val bucket = Stages.expr(df, spec.get("bucket"), env).cast(StringType)
    val key = Stages.expr(df, spec.get("key"), env).cast(StringType)
    val store = env.store
    val out = PartitionCalls.appendCall(df,
      Seq(bucket, key, Stages.messageJson(df)),
      BooleanType,
      () => store.open(), () => store.close(),
      PartitionCalls.maxInFlight(spec)) { args =>
      store.put(args(0).asInstanceOf[String], args(1).asInstanceOf[String],
        args(2).asInstanceOf[String])
      true
    }
    out.filter(col("__call")).drop("__call")
  }
}
