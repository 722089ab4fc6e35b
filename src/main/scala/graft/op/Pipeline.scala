package graft.op

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import graft.json.Js

/** Compiles a MongoDB aggregation pipeline — a JSON/YAML array of stage
  * objects (docs/application.md, docs/aggregation_stages.md) — to a single
  * DataFrame transform, over typed and schemaless message frames alike
  * (`Stages.ctxOf` picks the document model). Stage order is the user's;
  * Catalyst then reorders / pushes down / prunes (the reference interprets
  * stages literally, App.java:779-791 — we get the optimizer for free by
  * staying declarative).
  */
object Pipeline {

  def compile(pipeline: JsonNode, env: Env): DataFrame => DataFrame = {
    // a textual entry — or a textual pipeline — is a filename holding one
    // stage or a stage array, itself possibly holding file references
    // (Common.build inlining, docs/streams.md:20-37; reference app8/app35
    // `preprocessor: "duplicates.yaml"`)
    def inline(n: JsonNode): Seq[JsonNode] =
      if (n.isTextual) inline(Js.parseYaml(env.scripts(n.asText())))
      else if (n.isArray) Js.elems(n).flatMap(inline)
      else Seq(n)
    val inlined = inline(pipeline)
    val stages = inlined.map { stageObj =>
      val (name, spec) = Js.asOp(stageObj).getOrElse(
        throw new IllegalArgumentException(
          s"stage must be a single-key object: ${Js.render(stageObj)}"))
      Stages.compile(name, spec, env)
    }
    df => stages.foldLeft(df)((d, s) => s(d))
  }

  def run(df: DataFrame, json: String, env: Env): DataFrame =
    compile(Js.parse(json), env)(df)
}
