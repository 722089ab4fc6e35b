package graft.op

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import graft.json.Js

/** Compiles a MongoDB aggregation pipeline — a JSON/YAML array of stage
  * objects (docs/application.md, docs/aggregation_stages.md) — to a single
  * DataFrame transform. Stage order is the user's; Catalyst then reorders /
  * pushes down / prunes (the reference interprets stages literally,
  * App.java:779-791 — we get the optimizer for free by staying declarative).
  */
object Pipeline {

  def compile(pipeline: JsonNode, env: Env): DataFrame => DataFrame = {
    // a textual entry is a filename holding one stage or a stage array
    // (Common.build inlining, docs/streams.md:20-37)
    val inlined = Js.elems(pipeline).flatMap { entry =>
      if (entry.isTextual) {
        val loaded = Js.parseYaml(env.scripts(entry.asText()))
        if (loaded.isArray) Js.elems(loaded) else Seq(loaded)
      } else Seq(entry)
    }
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
