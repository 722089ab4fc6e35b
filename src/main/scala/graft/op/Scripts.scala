package graft.op

/** One place for the "is this a script NAME or an inline program?" call:
  * a single-line script can start with anything (`del(.x)`, `if`, `[`),
  * so the only reliable test is whether the loader resolves the text as
  * a name. Multi-line text is always inline. A typo'd name then surfaces
  * as a visible parse error on the "inline" program instead of silently
  * misclassifying valid one-liners. Every script reference goes through
  * here: the `$jq`/`$jslt` stages and expression operators, aggregate
  * reducers (a `.jslt` file name picks JSLT) and JSON-land reducer
  * stages. Hand-rolled copies of a "starts with `.` or `{`" heuristic
  * drifted apart, which is how the one-liner bug shipped.
  */
object Scripts {
  /** (script source, base path for relative imports — "" when inline). */
  def resolve(text: String, loader: String => String): (String, String) =
    if (text.contains("\n")) (text, "")
    else scala.util.Try(loader(text)).toOption match {
      case Some(loaded) => (loaded, text)
      case None => (text, "")
    }
}
