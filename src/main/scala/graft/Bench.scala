package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional comma-separated query filter for exclusive re-measurement
    // of one suspect query (variance triage); the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd filter must fail loudly, not "run" zero queries and
    // report a 0.000s total that reads as an absurd speedup
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${
          unknown.toSeq.sorted.mkString(",")}")
    }
    val queries = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None        => SparkEntry.queries
    }
    // untimed warmup pass: JIT + whole-stage-codegen compilation dominates
    // single-shot runs at bench scale and fully amortizes on real data
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => }
    }
    // a throwing query must not masquerade as a fast one (an
    // AnalysisException fail-fast clocks ~0.07s — meaningless as a
    // timing): record it under "errors" and EXCLUDE it from "queries".
    //
    // Each timed attempt is SELF-CONTAINED: releaseAll() first, so a
    // query's number never depends on the cache/storage pressure the
    // other ~190 queries left behind (the round-12 artifact swung
    // 115.6 -> 235.4s on identical code from exactly that coupling —
    // six queries absorbed ~95s of storage-pool eviction). Two
    // attempts, best-of-2: the floor of two cold-cache runs is stable
    // where a single sample rides ambient load; cold JIT/codegen is
    // already amortized by the warmup pass above. HISTORY BREAK:
    // per-query numbers from round 13 on are cold-cache best-of-2 and
    // NOT comparable with BENCH_r12 and earlier single-pass
    // shared-cache timings (see SCALING.md, round-13 notes).
    // a query that throws on SOME attempt but succeeds on another is
    // intermittent breakage, not noise — the minimum would silently
    // mask it, so such queries are reported under "flaky" (with their
    // succeeding timing still in "queries")
    var errors = List.empty[String]
    var flaky = Set.empty[String]
    def measureOne(name: String,
        fn: (SparkSession, String) => DataFrame): Option[Double] = {
      def attempt(): Option[Double] = {
        graft.ml.CacheLifecycle.releaseAll()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable => flaky += name; None }
      }
      // sub-second queries can still swing 2x on pure scheduler/GC
      // jitter (0.15 vs 0.35s): when the two samples disagree by more
      // than 1.5x, one of them is noise — a third sample settles it.
      // Queries that disagree are cheap by construction (big queries
      // are stable), so the tie-breaker costs little wall time.
      val ts0 = Seq(attempt(), attempt()).flatten
      val ts =
        if (ts0.size == 2 && ts0.max > ts0.min * 1.5)
          ts0 ++ attempt()
        else ts0
      ts.minOption
    }
    // TWO full timed passes, back to back: the acceptance rule for
    // run-level determinism (two exclusive runs within 10% on the
    // total — SCALING.md round-13) becomes checkable from the artifact
    // ALONE via value vs value2, instead of requiring an out-of-band
    // re-measurement when a round lands under ambient host contention.
    // `value` (pass 1) stays the round-over-round comparator; "queries"
    // is pass 1's map so value == sum(queries) holds.
    def pass(): (Map[String, Double], List[String]) = {
      var errs = List.empty[String]
      val m = queries.flatMap { case (name, fn) =>
        measureOne(name, fn) match {
          case Some(t) => Some(name -> t)
          case None => errs ::= name; None
        }
      }
      (m.toMap, errs)
    }
    val (results, errors1) = pass()
    val (results2, errors2) = pass()
    errors = (errors1 ++ errors2).distinct
    // a query that failed ALL attempts of a pass is an error, not flaky
    flaky = flaky.diff(errors.toSet)
    val filtered = only.isDefined
    val (full, compact) =
      report(results, results2, errors, flaky.toSeq, filtered, sfDir)
    // a SPARK_GRAFT_ONLY subset must NEVER overwrite the durable
    // full-run artifact: a round-over-round comparator reading
    // target/bench.json would mistake a one-query triage run for a
    // massive speedup
    val out = java.nio.file.Paths.get(
      if (filtered) "target/bench_filtered.json" else "target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, full + "\n")
    spark.stop()
    // the compact line is the very LAST stdout this JVM writes, so any
    // tail capture of the run output ends with parseable JSON
    println(compact)
    System.out.flush()
    // hard-exit: no shutdown-hook chatter after the JSON line
    System.exit(0)
  }

  /** The durable `target/bench.json` line and the compact stdout line.
    * The artifact keeps full doubles, so `value == Σ queries` holds
    * exactly; only the compact line rounds to 1 ms.
    */
  private[graft] def report(results: Map[String, Double],
      results2: Map[String, Double], errors: Seq[String],
      flaky: Seq[String], filtered: Boolean,
      sfDir: String): (String, String) = {
    // per-query values at 1 ms resolution on stdout: full doubles would
    // triple the line length for digits that are pure scheduler noise
    def fmtQ(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def quoted(names: Seq[String]) =
      names.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the compact stdout line must stay bounded even in a mass-failure
    // round (123 quoted names would regrow it past a tail capture —
    // exactly the failure the compact line exists to avoid): cap the
    // inline list and carry the full one in the durable artifact
    def capped(names: Seq[String]) = {
      val sorted = names.sorted
      (sorted.take(5).map("\"" + _ + "\"") ++
        (if (sorted.size > 5) Seq(s"\"...${sorted.size - 5}_more\"")
         else Nil)).mkString("[", ",", "]")
    }
    // value_min = sum over queries of min(pass1, pass2) — best-of-4+
    // per query. Three consecutive rounds violated the <10% two-pass
    // rule on identical-or-exonerated code because ambient host
    // contention lands on ONE pass's scattered queries; the cross-pass
    // per-query minimum is resistant to that (contention would have to
    // hit the SAME query in BOTH passes to survive into the sum). This
    // is the round-over-round comparator from r17 on; value/value2 stay
    // raw as the run-level determinism diagnostic.
    val qMin: Map[String, Double] = results.map { case (k, v) =>
      k -> math.min(v, results2.getOrElse(k, v))
    }
    // a broken query's fail-fast must never inflate the headline into a
    // bogus "speedup": the total is only comparable when every query ran,
    // so a run with errors reports value:null (comparators treat it as a
    // failed run) — the per-query map still carries the successful timings
    def totalsJson(fmt: Double => String) = {
      def t(m: Map[String, Double]) =
        if (errors.nonEmpty) "null" else fmt(m.values.sum)
      s""""value":${t(results)},"value2":${t(results2)},"value_min":${t(qMin)}"""
    }
    val filteredField = if (filtered) "\"filtered\":true," else ""
    // the full per-query map goes to the durable target/bench.json only;
    // stdout gets a COMPACT line (<2000 chars at any query count) because
    // the driver tail-captures a bounded window of output — a 3.5k-char
    // line gets its head truncated and fails to parse
    def fullMap(m: Map[String, Double]) =
      m.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total",${totalsJson(_.toString)},"unit":"sec",$filteredField"queries":${fullMap(results)},"queries2":${fullMap(results2)},"errors":${quoted(errors)},"flaky":${quoted(flaky)},"sf":"$sfDir"}"""
    // Round-17 verdict #2: the driver's per-query comparison parses the
    // tail-captured stdout line, not target/bench.json, and was blind
    // for two rounds. But the capture window is EXACTLY 2000 chars
    // (every BENCH_r*.json tail is len 2000, and rounds 1-8 — when this
    // line carried the full 3.5 kB map — all have parsed=None because
    // the line's HEAD was cut off). 266 named timings cannot fit in
    // 2000 chars, so the line carries the head of the map: per-query
    // best-of-both-passes (same basis as value_min), sorted descending,
    // as many entries as keep the line under ~1900 chars (~60-70
    // entries — every query over the ~0.3 s fixed-action floor, i.e.
    // everything with signal; the flat tail is pure per-action overhead
    // and indistinguishable query-to-query anyway). "queries_partial"
    // appears only when the map was cut; the FULL pass-1/pass-2 maps
    // are in target/bench.json.
    def compactLine(partial: Boolean, queries: String) =
      s"""{"metric":"total",${totalsJson(fmtQ)},"unit":"sec",$filteredField"n":${results.size},${if (partial) "\"queries_partial\":true," else ""}"queries":$queries,"errors":${capped(errors)},"flaky":${capped(flaky)},"sf":"$sfDir"}"""
    var room = 1900 - compactLine(partial = true, "{}").length
    val topEntries = qMin.toSeq.sortBy { case (k, v) => (-v, k) }
      .iterator.map { case (k, v) => s"\"$k\":${fmtQ(v)}" }
      .takeWhile { e => val ok = room - (e.length + 1) >= 0
        if (ok) room -= e.length + 1; ok }
      .toSeq
    (full, compactLine(topEntries.size < qMin.size,
      topEntries.mkString("{", ",", "}")))
  }
}
