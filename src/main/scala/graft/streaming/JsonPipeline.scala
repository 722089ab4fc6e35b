package graft.streaming

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, DoubleNode, LongNode, NullNode, ObjectNode, TextNode}
import graft.json.Js

/** Reducer pipelines (docs/state.md:62, reference app35/app37 fixtures): a
  * Mongo aggregation pipeline applied to the single `{command, state}`
  * document. Reducers run per key inside the stateful reduce where no
  * SparkSession is available, so this interprets the pipeline directly on
  * Jackson nodes. Covers the stage subset reducer pipelines use:
  * `$replaceRoot`/`$replaceWith`, `$set`/`$addFields`, `$unset`, `$jq`,
  * `$jslt`; expressions: `"$path"` references, literals, object/array
  * construction, `$add`/`$subtract`/`$multiply`/`$divide`/`$concat`/
  * `$ifNull`/`$literal`.
  */
object JsonPipeline {

  def compile(pipeline: JsonNode, scripts: String => String)
      : ObjectNode => ObjectNode = {
    val stages: Seq[ObjectNode => ObjectNode] =
      Js.elems(pipeline).map { st =>
        val (name, spec) = Js.asOp(st).getOrElse(
          throw new IllegalArgumentException(s"reducer stage $st"))
        stage(name, spec, scripts)
      }
    doc => stages.foldLeft(doc)((d, s) => s(d))
  }

  private def stage(name: String, spec: JsonNode,
      scripts: String => String): ObjectNode => ObjectNode = name match {
    case "$replaceRoot" => doc =>
      asObj(eval(spec.get("newRoot"), doc)).deepCopy[ObjectNode]()
    case "$replaceWith" => doc =>
      asObj(eval(spec, doc)).deepCopy[ObjectNode]()
    case "$set" | "$addFields" => doc => {
      val out = doc.deepCopy[ObjectNode]()
      Js.fields(spec).foreach { case (path, e) =>
        setAt(out, path.split("\\.").toList, eval(e, doc))
      }
      out
    }
    case "$unset" => doc => {
      val out = doc.deepCopy[ObjectNode]()
      val paths =
        if (spec.isArray) Js.elems(spec).map(_.asText())
        else Seq(spec.asText())
      paths.foreach(p => removeAt(out, p.split("\\.").toList))
      out
    }
    // compile eagerly: the stage closure must capture only the parsed
    // program, not the (driver-local, non-serializable) script loader
    case "$jq" =>
      val (script, base) = scriptOf(spec, scripts)
      val p = graft.jq.MiniJq.compile(script, scripts, base)
      doc => asObj(p(doc)).deepCopy[ObjectNode]()
    case "$jslt" =>
      val (script, base) = scriptOf(spec, scripts)
      val p = graft.jq.MiniJslt.compile(script, scripts, base)
      doc => asObj(p(doc)).deepCopy[ObjectNode]()
    case other =>
      throw new IllegalArgumentException(s"reducer stage $other unsupported")
  }

  private def scriptOf(spec: JsonNode, scripts: String => String)
      : (String, String) =
    graft.op.Scripts.resolve(
      if (spec.isTextual) spec.asText() else spec.get("script").asText(),
      scripts)

  /** The expression subset over the current document. */
  def eval(e: JsonNode, doc: JsonNode): JsonNode = e match {
    case t if t.isTextual && t.asText().startsWith("$") =>
      val path = t.asText().drop(1)
      if (path.startsWith("$")) TextNode.valueOf(path) // $$-escape
      else
        path.split("\\.").foldLeft(doc: JsonNode)((n, p) =>
          if (n == null || n.isNull) NullNode.getInstance
          else Option(n.get(p)).getOrElse(NullNode.getInstance))
    case o if o.isObject =>
      Js.asOp(o) match {
        case Some(("$literal", v))  => v
        case Some(("$concat", args)) =>
          TextNode.valueOf(
            Js.elems(args).map(a => eval(a, doc).asText()).mkString)
        case Some(("$ifNull", args)) =>
          Js.elems(args).map(eval(_, doc))
            .find(v => !v.isNull).getOrElse(NullNode.getInstance)
        case Some((op @ ("$add" | "$subtract" | "$multiply" | "$divide"), args)) =>
          arith(op, Js.elems(args).map(eval(_, doc)))
        case Some(("$cond", spec)) =>
          val (c, t, f) =
            if (spec.isArray)
              (spec.get(0), spec.get(1), spec.get(2))
            else (spec.get("if"), spec.get("then"), spec.get("else"))
          if (truthy(eval(c, doc))) eval(t, doc) else eval(f, doc)
        case Some(("$switch", spec)) =>
          Js.elems(spec.get("branches"))
            .find(b => truthy(eval(b.get("case"), doc)))
            .map(b => eval(b.get("then"), doc))
            .getOrElse(Option(spec.get("default"))
              .map(eval(_, doc)).getOrElse(NullNode.getInstance))
        case Some(("$and", args)) =>
          bool(Js.elems(args).forall(a => truthy(eval(a, doc))))
        case Some(("$or", args)) =>
          bool(Js.elems(args).exists(a => truthy(eval(a, doc))))
        case Some(("$not", arg)) =>
          val v = if (arg.isArray) arg.get(0) else arg
          bool(!truthy(eval(v, doc)))
        case Some((op @ ("$eq" | "$ne" | "$gt" | "$gte" | "$lt" | "$lte"), args)) =>
          val (a, b) = (eval(args.get(0), doc), eval(args.get(1), doc))
          val c = cmp(a, b)
          bool(op match {
            case "$eq"  => c == 0
            case "$ne"  => c != 0
            case "$gt"  => c > 0
            case "$gte" => c >= 0
            case "$lt"  => c < 0
            case "$lte" => c <= 0
          })
        case Some((other, _)) =>
          throw new IllegalArgumentException(s"reducer expression $other")
        case None =>
          val out = Js.obj()
          Js.fields(o).foreach { case (k, v) =>
            out.set[JsonNode](k, eval(v, doc))
          }
          out
      }
    case a: ArrayNode =>
      val out = Js.arr()
      Js.elems(a).foreach(x => out.add(eval(x, doc)))
      out
    case lit => lit
  }

  private def bool(b: Boolean): JsonNode =
    com.fasterxml.jackson.databind.node.BooleanNode.valueOf(b)

  private def truthy(n: JsonNode): Boolean =
    !(n == null || n.isNull || (n.isBoolean && !n.asBoolean()) ||
      (n.isNumber && n.asDouble() == 0))

  private def cmp(a: JsonNode, b: JsonNode): Int =
    if (a.isNumber && b.isNumber)
      java.lang.Double.compare(a.asDouble(), b.asDouble())
    else if (a.isTextual && b.isTextual) a.asText().compareTo(b.asText())
    else if (a == b) 0
    else a.toString.compareTo(b.toString)

  private def arith(op: String, vs: Seq[JsonNode]): JsonNode = {
    if (vs.exists(v => v == null || v.isNull)) return NullNode.getInstance
    val exact = vs.forall(_.isIntegralNumber)
    op match {
      case "$add" =>
        if (exact) LongNode.valueOf(vs.map(_.asLong()).sum)
        else DoubleNode.valueOf(vs.map(_.asDouble()).sum)
      case "$subtract" =>
        if (exact) LongNode.valueOf(vs.map(_.asLong()).reduce(_ - _))
        else DoubleNode.valueOf(vs.map(_.asDouble()).reduce(_ - _))
      case "$multiply" =>
        if (exact) LongNode.valueOf(vs.map(_.asLong()).product)
        else DoubleNode.valueOf(vs.map(_.asDouble()).product)
      case "$divide" =>
        DoubleNode.valueOf(vs.map(_.asDouble()).reduce(_ / _))
    }
  }

  private def asObj(n: JsonNode): ObjectNode = n match {
    case o: ObjectNode => o
    case other =>
      throw new IllegalStateException(s"reducer produced non-object: $other")
  }

  private def setAt(o: ObjectNode, path: List[String], v: JsonNode): Unit =
    path match {
      case last :: Nil => o.set[JsonNode](last, v)
      case head :: tail =>
        val next = Option(o.get(head)) match {
          case Some(x: ObjectNode) => x
          case _ =>
            val x = Js.obj(); o.set[JsonNode](head, x); x
        }
        setAt(next, tail, v)
      case Nil =>
    }

  private def removeAt(o: ObjectNode, path: List[String]): Unit = path match {
    case last :: Nil => o.remove(last)
    case head :: tail =>
      Option(o.get(head)).collect { case x: ObjectNode => removeAt(x, tail) }
    case Nil =>
  }
}
