package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Fns._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/quality: benchmark-contamination detection, sequence
  * packing (concat-then-chunk), and domain-mix resampling. All shuffle
  * on equi-keys or bounded aggregates — no cartesian products, no
  * global single-partition windows.
  */
object Curation {

  /** Deterministic host extraction from a URL string — the curation
    * pipeline's provenance key (per-domain quotas, blocklists,
    * `domainMix` labels all start here). Pure regex + string
    * normalization, no java.net parsing: the SAME extraction replays in
    * any SQL engine (the oracle runs it in DuckDB) and a malformed URL
    * yields null instead of an exception — a curation pass must never
    * throw on crawl junk. Normalization: strip scheme / userinfo / port
    * / path / query / fragment, lowercase, strip one trailing dot.
    * A codegen'd narrow map — no shuffle, no UDF.
    */
  def extractHost(url: Column): Column = {
    // a host never contains whitespace; with no explicit scheme the
    // extraction additionally requires a DOTTED host, so free text that
    // merely starts with a word ("not a url ...") yields null instead
    // of its first token
    val withScheme = regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#\\s]*@)?([^/:?#\\s]+)", 1)
    val bare = regexp_extract(url,
      "^(?:[^/@?#\\s]*@)?([^/:?#\\s]+)", 1)
    val raw = when(withScheme =!= "", withScheme)
      .when(bare.contains("."), bare)
      .otherwise(lit(""))
    val cleaned = regexp_replace(lower(raw), "\\.$", "")
    // IPv6 literals ('https://[::1]:8080/x'): the generic capture stops
    // at the first ':' and would yield the bogus non-null host '[' — a
    // worse provenance key (quotas, blocklists) than the null the rest
    // of the crawl junk produces. Any bracket in the capture → null.
    val noBracket = regexp_replace(cleaned, "^.*[\\[\\]].*$", "")
    when(noBracket === "", lit(null).cast(StringType)).otherwise(noBracket)
  }

  /** Registrable ("pay-level") domain of a host: the last two labels,
    * or three when the last two form a well-known multi-label public
    * suffix (co.uk, com.au, ...). The built-in suffix set is a
    * deliberately small, deterministic heuristic — a production run
    * would broadcast-join the full Public Suffix List (it is data, not
    * code); the grouping key's SHAPE (narrow map, no shuffle) is
    * identical either way. Hosts with ≤ 1 label (and null) pass
    * through unchanged.
    */
  private val multiLabelSuffixes = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "co.nz", "co.in", "co.za", "com.br",
    "com.mx", "com.cn", "com.sg", "com.ar", "com.tr")
  def registrableDomain(host: Column): Column = {
    val parts = split(host, "\\.")
    val n = size(parts)
    val lastTwo =
      concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val lastThree = concat_ws(".", element_at(parts, -3),
      element_at(parts, -2), element_at(parts, -1))
    when(host.isNull || n <= 1, host)
      .when(n >= 3 && lastTwo.isin(multiLabelSuffixes: _*), lastThree)
      .otherwise(lastTwo)
  }

  /** Canonical URL for URL-level dedup — the normalization every crawl
    * pipeline applies before treating two URLs as the same page:
    * fragment stripped, scheme and host lowercased, userinfo dropped,
    * default ports (:80 http, :443 https) stripped, trailing path
    * slashes stripped, tracking query parameters removed (utm_*,
    * fbclid, gclid, ref, mc_cid, mc_eid) and the survivors SORTED so
    * parameter order never splits a page. Pure regex/array expressions
    * (each single-match, so engines that replace first-match-only
    * replay identically); null in → null out. A narrow map — no
    * shuffle, no UDF; NOTE the tracking-param removal runs through
    * lambda HOFs (`filter`/`array_sort`), which Spark evaluates
    * interpreted outside whole-stage codegen — one bounded pass over a
    * handful of query params per row, acceptable here, but not a
    * codegen'd hot loop.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val pre = regexp_extract(noFrag, "^([^?]*)", 1)
    val q = regexp_extract(noFrag, "^[^?]*\\?(.*)$", 1)
    val scheme = lower(regexp_extract(pre,
      "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val rest = when(scheme =!= "",
      regexp_replace(pre, "^[a-zA-Z][a-zA-Z0-9+.-]*://", ""))
      .otherwise(pre)
    val hostport = lower(regexp_replace(
      regexp_extract(rest, "^([^/]*)", 1), "^[^@]*@", ""))
    val host = when(scheme === "http",
      regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val path = regexp_replace(
      regexp_extract(rest, "^[^/]*(/.*)?$", 1), "/+$", "")
    val params = filter(split(q, "&"), p =>
      p =!= "" &&
        !p.rlike("^(utm_[^=]*|fbclid|gclid|ref|mc_cid|mc_eid)(=|$)"))
    val qs = array_join(array_sort(params), "&")
    when(url.isNull, lit(null).cast(StringType)).otherwise(concat(
      when(scheme =!= "", concat(scheme, lit("://"))).otherwise(lit("")),
      host, path,
      when(qs =!= "", concat(lit("?"), qs)).otherwise(lit(""))))
  }

  /** URL-level exact dedup: every id with the corpus-minimum id among
    * the rows sharing its CANONICAL url and the keep verdict — the
    * crawl-side keep-list (same ergonomics as `Dedup.keepList`). Rows
    * with no parseable url (null canonical) always keep: "no URL" is
    * not a duplicate of "no URL". Plan: narrow canonicalization map →
    * one hash aggregate on the canonical key → one equi-join back; no
    * window, no product.
    */
  def dedupUrls(df: DataFrame, urlCol: String, idCol: String): DataFrame = {
    val canon = df.select(col(idCol),
      canonicalizeUrl(col(urlCol)).as("canonical_url"))
    val firsts = canon.where(col("canonical_url").isNotNull)
      .groupBy("canonical_url").agg(min(col(idCol)).as("__first"))
    canon.join(firsts, Seq("canonical_url"), "left")
      .select(col(idCol), col("canonical_url"),
        (col("canonical_url").isNull || col(idCol) === col("__first"))
          .as("keep"))
  }

  /** The ONE switch every domain-keyed composition threads: derive each
    * row's registrable `domain` from `hostCol` with the built-in
    * last-two-labels heuristic (a narrow column map — the default, and
    * what the deterministic oracles replay), or with FULL Public Suffix
    * List semantics via [[registrableDomainPsl]] when a rules table is
    * supplied (same zero-corpus-shuffle broadcast-join shape; pass
    * `Some(publicSuffixList(spark))` for the vendored real list — the
    * production form, where `blog.example.co.uk` and
    * `shop.example.co.uk` must group as `example.co.uk`, and
    * `user.github.io`-class private suffixes must not collapse into
    * one `github.io` pseudo-domain).
    */
  def withRegistrableDomain(df: DataFrame, hostCol: String,
      psl: Option[DataFrame]): DataFrame =
    psl match {
      case Some(rules) => registrableDomainPsl(df, hostCol, rules)
      case None =>
        df.withColumn("domain", registrableDomain(col(hostCol)))
    }

  /** Per-domain corpus statistics: group the corpus by registrable
    * domain (derived from `urlCol` in the same narrow map) and count
    * documents, distinct hosts and an optional summed weight (token
    * count, quality score). THE standard curation dashboard query, and
    * the input `domainMix`'s quotas are computed from. Plan: narrow
    * extraction map → hash aggregate with map-side partials (the
    * distinct-host count rides Spark's partial distinct aggregation);
    * no window, no product, no driver collect. Docs with no parseable
    * host group under the null domain — dropping them silently would
    * misreport the corpus. `psl` switches the domain keying to full
    * Public Suffix List semantics ([[withRegistrableDomain]]) — still
    * broadcast-only, no shape change.
    */
  def domainStats(df: DataFrame, urlCol: String,
      weightCol: Option[String] = None,
      psl: Option[DataFrame] = None): DataFrame = {
    val keyed = withRegistrableDomain(
      df.withColumn("__host", extractHost(col(urlCol))), "__host", psl)
    val aggs = Seq(count(lit(1)).as("n_docs"),
      count_distinct(col("__host")).as("n_hosts")) ++
      weightCol.map(w => sum(col(w)).as("sum_weight"))
    keyed.groupBy(col("domain")).agg(aggs.head, aggs.tail: _*)
  }

  /** Registrable domain with the public-suffix set as DATA — the
    * production form `registrableDomain`'s scaladoc names: the real
    * Public Suffix List is ~10k entries that change monthly, so it
    * belongs in a TABLE (one string column `suffix`), not in code.
    *
    * Shape: ZERO corpus shuffle — and zero shuffle anywhere. The naive
    * form (explode each host's label-count candidate tails, join,
    * groupBy host for the longest match, join back) costs two
    * corpus-wide shuffles; instead the suffix table (bounded by
    * `maxSuffixRows` — it is config-scale and never grows with the
    * corpus) collects once, dedups driver-side, splits by LABEL COUNT
    * into ≤ `maxSuffixLabels` classes (the PSL's longest entries have
    * 5 labels) and each class broadcast-LEFT-joins the corpus on the
    * host's last-`i`-labels tail — a computed equi-key, so every join
    * is a map-side BroadcastHashJoin and the longest match is
    * `coalesce` over the classes from longest down (a host has ONE
    * tail per length, and the class lists are distinct, so no join can
    * duplicate rows). The corpus is scanned once, never exchanged.
    *
    * Semantics: registrable domain = longest matched suffix plus one
    * more label; a host that IS a public suffix maps to itself; no
    * match falls back to the last-two-labels heuristic (exactly
    * `registrableDomain` when the table holds the built-in set); null /
    * single-label hosts pass through. PSL wildcard (`*.ck`) and
    * exception (`!www.ck`) rules are not interpreted here — use
    * [[registrableDomainPsl]] with [[publicSuffixList]] (the vendored
    * real list) for full PSL semantics. Output: `df` + `domain`.
    */
  def registrableDomainFromTable(df: DataFrame, hostCol: String,
      suffixes: DataFrame, maxSuffixLabels: Int = 8,
      maxSuffixRows: Int = 1000000): DataFrame = {
    import df.sparkSession.implicits._
    // the suffix list is config-scale data (the full PSL is ~10k rows
    // and never grows with the corpus): collect it ONCE, dedup
    // driver-side, and ship each label-count class back as a broadcast
    // local relation — a distributed distinct per class would cost a
    // (tiny but needless) shuffle each, and a build side with
    // duplicate keys would duplicate corpus rows through the outer join
    val rows = collectAtMost(
      suffixes.select(col("suffix").cast(StringType)), maxSuffixRows)(
      s"more than $maxSuffixRows suffix rows — that is not a public " +
        "suffix list (the table is driver-resident by design)")
    val bySize: Map[Int, Seq[String]] = rows.iterator
      .filterNot(_.isNullAt(0)).map(_.getString(0)).toSeq.distinct
      .groupBy(s => s.count(_ == '.') + 1)
    val classes = (1 to
      math.min(bySize.keys.maxOption.getOrElse(0), maxSuffixLabels))
      .filter(bySize.contains)
    val parts = split(col(hostCol), "\\.")
    val n = size(parts)
    def tail(i: Int): Column =
      when(n >= i, concat_ws(".", slice(parts, -i, i)))
    var out = df
    classes.foreach { i =>
      val cls = bySize(i).toDF(s"__sfx$i")
      out = out.join(broadcast(cls), tail(i) === col(s"__sfx$i"), "left")
    }
    val bestLen = coalesce(classes.reverse.map(i =>
      when(col(s"__sfx$i").isNotNull, lit(i))) :+
      lit(null).cast(IntegerType): _*)
    val lastTwo =
      concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val domain = when(col(hostCol).isNull || n <= 1, col(hostCol))
      .when(bestLen.isNull, lastTwo)
      .when(bestLen >= n, col(hostCol))
      .otherwise(concat_ws(".",
        slice(parts, -(bestLen + lit(1)), bestLen + lit(1))))
    out.withColumn("domain", domain)
      .drop(classes.map(i => s"__sfx$i"): _*)
  }

  /** The vendored Public Suffix List snapshot as a DataFrame — the real
    * ~9.6k-rule list (publicsuffix.org, MPL 2.0; snapshot dated
    * 2023-02-09 from the Debian `publicsuffix` package, vendored at
    * `graft/public_suffix_list.dat` with its license header intact).
    * Parsed per the PSL format spec: comment (`//`) and blank lines
    * drop, a rule ends at the first whitespace, rules lowercase, and
    * Unicode IDN rules normalize to their punycode (`xn--`) form —
    * the publicsuffix.org algorithm matches on punycode labels, which
    * is what real crawl hosts carry.
    * Returns (suffix, kind) where kind ∈ literal | wildcard |
    * exception and `suffix` carries the rule's LITERAL label part
    * (`*.ck` → ("ck", wildcard), `!www.ck` → ("www.ck", exception)) —
    * the shape [[registrableDomainPsl]] consumes.
    */
  def publicSuffixList(spark: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    import spark.implicits._
    val in = getClass.getResourceAsStream("/graft/public_suffix_list.dat")
    require(in != null, "vendored public_suffix_list.dat missing")
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    // IDN rules are stored in Unicode in the upstream list (中国, みんな)
    // while real crawl hosts carry punycode (xn--) labels — the
    // publicsuffix.org algorithm specifies matching on punycode-
    // normalized labels, so a Unicode rule kept verbatim could never
    // fire. Normalize each rule to ASCII via java.net.IDN (RFC 3490);
    // already-ASCII rules pass through unchanged, and a rule IDN
    // cannot encode (none in the vendored snapshot) is kept verbatim
    // rather than dropped.
    def punycode(rule: String): String =
      if (rule.forall(_ < 128)) rule
      else
        try java.net.IDN.toASCII(rule, java.net.IDN.ALLOW_UNASSIGNED)
          .toLowerCase
        catch { case _: IllegalArgumentException => rule }
    lines.iterator
      .map(_.trim.takeWhile(!_.isWhitespace))
      .filter(l => l.nonEmpty && !l.startsWith("//"))
      .map(_.toLowerCase)
      .map { l =>
        if (l.startsWith("!")) (punycode(l.drop(1)), "exception")
        else if (l.startsWith("*.")) (punycode(l.drop(2)), "wildcard")
        else (punycode(l), "literal")
      }
      .toSeq.toDF("suffix", "kind")
  }

  /** Registrable domain under FULL Public Suffix List semantics
    * (publicsuffix.org algorithm): literal rules match the host tail,
    * a wildcard `*.X` matches any ONE extra label under X, and an
    * exception `!Y` overrides every other match with the suffix Y
    * minus its leftmost label; the longest matching rule wins within a
    * kind; no match falls back to the spec's implicit `*` default (the
    * last two labels, like [[registrableDomain]]). A host that IS a
    * public suffix maps to itself; null / single-label hosts pass
    * through.
    *
    * Scale shape — the [[registrableDomainFromTable]] design extended
    * per kind: the rules table is config-scale, collected once and
    * split driver-side into per-(kind, label-count) classes; each
    * class broadcast-LEFT-joins the corpus on the computed
    * last-`i`-labels tail (map-side BroadcastHashJoin, distinct build
    * keys, so no row duplication), and the winning rule is `coalesce`/
    * `greatest` arithmetic over the class markers. ZERO corpus
    * shuffle, one scan.
    */
  def registrableDomainPsl(df: DataFrame, hostCol: String,
      rules: DataFrame, maxSuffixLabels: Int = 8,
      maxSuffixRows: Int = 1000000): DataFrame = {
    import df.sparkSession.implicits._
    val rows = collectAtMost(rules
      .select(col("suffix").cast(StringType), col("kind").cast(StringType)),
      maxSuffixRows)(
      s"more than $maxSuffixRows suffix rows — that is not a public " +
        "suffix list (the table is driver-resident by design)")
    def classesOf(kind: String): Map[Int, Seq[String]] = rows.iterator
      .filter(r => !r.isNullAt(0) && r.getString(1) == kind)
      .map(_.getString(0)).toSeq.distinct
      .groupBy(s => s.count(_ == '.') + 1)
      .filter(_._1 <= maxSuffixLabels)
    val lits = classesOf("literal")
    val wilds = classesOf("wildcard")
    val excs = classesOf("exception")
    val parts = split(col(hostCol), "\\.")
    val n = size(parts)
    def tail(i: Int): Column =
      when(n >= i, concat_ws(".", slice(parts, -i, i)))
    var out = df
    def joinClasses(m: Map[Int, Seq[String]], pfx: String): Seq[Int] = {
      val ks = m.keys.toSeq.sorted
      ks.foreach { i =>
        val cls = m(i).toDF(s"__$pfx$i")
        out = out.join(broadcast(cls), tail(i) === col(s"__$pfx$i"),
          "left")
      }
      ks
    }
    val litKs = joinClasses(lits, "lit")
    val wcKs = joinClasses(wilds, "wc")
    val excKs = joinClasses(excs, "exc")
    // longest-match length per kind; wildcard rule `*.X` has |X|+1
    // labels and needs the extra host label to exist; exception `!Y`
    // yields the suffix Y minus its leftmost label
    def longest(ks: Seq[Int], f: Int => Column): Column =
      coalesce(ks.reverse.map(f) :+ lit(null).cast(IntegerType): _*)
    val litLen = longest(litKs, i =>
      when(col(s"__lit$i").isNotNull, lit(i)))
    val wcLen = longest(wcKs, i =>
      when(col(s"__wc$i").isNotNull && n >= i + 1, lit(i + 1)))
    val excLen = longest(excKs, i =>
      when(col(s"__exc$i").isNotNull, lit(i - 1)))
    val bestLen = when(excLen.isNotNull, excLen)
      .otherwise(greatest(litLen, wcLen))
    val lastTwo =
      concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val domain = when(col(hostCol).isNull || n <= 1, col(hostCol))
      .when(bestLen.isNull, lastTwo)
      .when(bestLen >= n, col(hostCol))
      .otherwise(concat_ws(".",
        slice(parts, -(bestLen + lit(1)), bestLen + lit(1))))
    out.withColumn("domain", domain)
      .drop(litKs.map(i => s"__lit$i") ++ wcKs.map(i => s"__wc$i") ++
        excKs.map(i => s"__exc$i"): _*)
  }

  /** Epoch/repeat planning under a token budget — the data-scheduling
    * step between per-source stats and the actual mix: given each
    * source's tokens-per-epoch, a total token budget and a hard
    * per-source epoch cap (default 4 — repeating data beyond ~4 epochs
    * stops helping, Muennighoff et al. 2023, "Scaling Data-Constrained
    * Language Models"), allocate the budget ∝ n^0.5 (sqrt temperature —
    * upweights small sources) by WATER-FILLING: sources whose share
    * exceeds their cap contribute exactly the cap, and their surplus
    * redistributes among the uncapped until no new source caps.
    *
    * All arithmetic is exact integers (weights are 1e6-quanta sqrt —
    * IEEE sqrt is exactly specified, so the fixed-point weights replay
    * bit-for-bit; shares are floor divisions whose budget×weight
    * NUMERATOR is computed in BigInt — at a realistic 1e9-token budget
    * over a 100M-token source the product is ~1e19, past 2^63, and a
    * 64-bit multiply would wrap silently into negative takes; the
    * replaying engine must widen the same product, e.g. HUGEINT), so
    * the plan is
    * identical in any engine and any topology. The per-source stats are
    * ONE partial-aggregated pass; the fill loop is driver math over a
    * require-bounded source list (sources are config-scale, like
    * domains). Flooring leaves < |sources| tokens of the budget
    * unspent; an infeasible budget (> cap × capacity) caps every
    * source and reports the achievable plan. Returns
    * (sourceCol, n_tokens, take_tokens, epochs_ppm) where epochs_ppm =
    * ⌊take·1e6 / n⌋ — the repeat factor in parts-per-million, exact.
    */
  def epochPlan(df: DataFrame, sourceCol: String, textCol: String,
      budgetTokens: Long, maxEpochs: Int = 4,
      maxSources: Int = 100000): DataFrame = {
    require(budgetTokens > 0, s"epochPlan: budget must be > 0")
    require(maxEpochs >= 1, s"epochPlan: maxEpochs must be >= 1")
    val per = collectAtMost(df.groupBy(col(sourceCol))
      .agg(sum(size(tokens(col(textCol)))).as("n_tokens")), maxSources)(
      s"epochPlan: more than $maxSources sources — the plan is " +
        "driver-resident by design (sources are config, not corpus)")
    val rows = per.map(r => (r.getString(0), r.getLong(1)))
    require(rows.forall(_._1 != null),
      "epochPlan: null source label — fill provenance first")
    val w6 = rows.map { case (s, nn) =>
      s -> new java.math.BigDecimal(math.sqrt(nn.toDouble) * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact
    }.toMap
    val cap = rows.map { case (s, nn) => s -> maxEpochs * nn }.toMap
    // budget × weight overflows 64 bits long before the inputs look
    // exotic (1e9 budget × 1e10 weight = 1e19) — the share numerator
    // is BigInt, driver-side config-scale math, cost nil
    def share(r: Long, s: String, bigW: BigInt): Long =
      ((BigInt(r) * w6(s)) / bigW).toLong
    var capped = Map.empty[String, Long]
    var done = false
    while (!done) {
      val u = rows.collect { case (s, _) if !capped.contains(s) => s }
      if (u.isEmpty) done = true
      else {
        val bigW = u.map(s => BigInt(w6(s))).sum
        val r = budgetTokens - capped.values.sum
        val newCaps = u.filter(s => share(r, s, bigW) > cap(s))
        if (newCaps.isEmpty) done = true
        else capped ++= newCaps.map(s => s -> cap(s))
      }
    }
    val u = rows.collect { case (s, _) if !capped.contains(s) => s }
    val bigW = u.map(s => BigInt(w6(s))).sum.max(BigInt(1))
    val r = budgetTokens - capped.values.sum
    val out = rows.map { case (s, nn) =>
      val take =
        capped.getOrElse(s, math.min(share(r, s, bigW), cap(s)))
      (s, nn, take, (BigInt(take) * 1000000L / nn).toLong)
    }.toSeq
    import df.sparkSession.implicits._
    out.toDF(sourceCol, "n_tokens", "take_tokens", "epochs_ppm")
  }

  /** HTML → text extraction — the step a crawl pipeline runs before ANY
    * text operator (dedup shingles over raw markup are markup shingles).
    * Deterministic regex chain, deliberately RE2-SAFE (no backreferences,
    * lazy quantifiers + inline (?is) flags only) so the exact same rules
    * replay in any engine (the oracle runs them in DuckDB with the 'g'
    * option): script/style elements drop with their CONTENT, comments
    * and remaining tags become spaces, the five core entities decode
    * (&amp; LAST, so "&amp;lt;" decodes to the literal "&lt;" and never
    * resurrects a tag), whitespace collapses, ends trim. A narrow
    * codegen'd map — no shuffle, no UDF; null in → null out. Not a
    * browser: malformed-markup recovery beyond these rules (unclosed
    * script, conditional comments) is out of scope and documented so.
    */
  def htmlToText(html: Column): Column = {
    val noScript =
      regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTag = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTag) { case (c, (from, to)) =>
        // entity names contain no regex metacharacters — literal patterns
        regexp_replace(c, from, to)
      }
    trim(regexp_replace(ent, "[ \\t\\n\\r]+", " "))
  }

  /** Domain blocklist filter — the crawl-curation kill switch (spam,
    * adult, malware, opted-out publishers): a row is `blocked` iff ANY
    * label tail of its host equals a blocklist entry, so blocking
    * `example.com` also blocks `a.b.example.com` (the standard
    * subdomain-inclusive rule); `blocked_by` records the most specific
    * (longest) matching entry for provenance, null when clean. Hosts
    * that are null (unparseable crawl junk) are NOT blocked — route
    * them through quality filters, not a domain rule they can't match.
    *
    * Same zero-shuffle shape as [[registrableDomainFromTable]]: the
    * blocklist is config-scale DATA (bounded by `maxRows`), collected
    * once, deduped driver-side, split into per-label-count classes,
    * each class a broadcast-LEFT-join on the host's computed
    * last-`i`-labels tail. The corpus is scanned once and never
    * exchanged.
    */
  def applyDomainBlocklist(df: DataFrame, hostCol: String,
      blocklist: DataFrame, maxLabels: Int = 8,
      maxRows: Int = 1000000): DataFrame = {
    import df.sparkSession.implicits._
    val rows = collectAtMost(
      blocklist.select(col("entry").cast(StringType)), maxRows)(
      s"more than $maxRows blocklist rows — the blocklist is " +
        "driver-resident by design (it is config, not corpus)")
    val bySize: Map[Int, Seq[String]] = rows.iterator
      .filterNot(_.isNullAt(0)).map(_.getString(0)).toSeq.distinct
      .groupBy(s => s.count(_ == '.') + 1)
    val classes = (1 to
      math.min(bySize.keys.maxOption.getOrElse(0), maxLabels))
      .filter(bySize.contains)
    val parts = split(col(hostCol), "\\.")
    val n = size(parts)
    def tail(i: Int): Column =
      when(n >= i, concat_ws(".", slice(parts, -i, i)))
    var out = df
    classes.foreach { i =>
      val cls = bySize(i).toDF(s"__blk$i")
      out = out.join(broadcast(cls), tail(i) === col(s"__blk$i"), "left")
    }
    val hit = coalesce(classes.reverse.map(i => col(s"__blk$i")) :+
      lit(null).cast(StringType): _*)
    out.withColumn("blocked_by", hit)
      .withColumn("blocked", hit.isNotNull)
      .drop(classes.map(i => s"__blk$i"): _*)
  }

  /** A deterministic fixture suffix table for specs/oracles: the
    * single-label TLDs the tests touch, the built-in multi-label set
    * `registrableDomain` hardcodes, and a few exotic deeper entries
    * (3- and 4-label) so the longest-match logic is exercised past two
    * labels. A production run loads the real PSL here instead.
    */
  val fixtureSuffixStrings: Seq[String] =
    Seq("com", "org", "net", "io", "uk", "au", "jp", "us", "nz", "in",
      "za", "br", "mx", "cn", "sg", "ar", "tr") ++
      multiLabelSuffixes ++
      Seq("edu.au", "act.edu.au", "k12.ma.us", "pvt.k12.ma.us",
        "github.io", "kawasaki.jp", "city.kawasaki.jp")

  def fixtureSuffixes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    fixtureSuffixStrings.toDF("suffix")
  }

  /** Persist the canonical-url → first-id index of a crawl corpus — the
    * URL-level mirror of [[Dedup.buildBandIndex]]: `dedupUrls`
    * re-canonicalizes the WHOLE corpus per call; a standing crawl
    * pipeline canonicalizes it ONCE here and lets every new batch probe
    * the saved index (`dedupUrlsAgainstIndex`). One row per distinct
    * canonical url with the corpus-minimum id (the keeper
    * `dedupUrls` would pick).
    */
  def buildUrlIndex(df: DataFrame, urlCol: String, idCol: String,
      dir: String): Unit =
    df.select(canonicalizeUrl(col(urlCol)).as("canonical_url"),
        col(idCol).as("first_id"))
      .where(col("canonical_url").isNotNull)
      .groupBy("canonical_url").agg(min(col("first_id")).as("first_id"))
      .write.mode("overwrite").parquet(s"$dir/urls")

  /** The index rows whose canonical url appears in `batchKeys`: the
    * INDEX streams (billions of urls at crawl scale) against the
    * BROADCAST batch key set — no index shuffle ever; the result is
    * ≤ |batch| rows.
    */
  private def urlIndexHits(idx: DataFrame, batchKeys: DataFrame) =
    idx.join(broadcast(batchKeys), Seq("canonical_url"), "left_semi")

  /** Fold a new crawl batch into a `buildUrlIndex` directory: append
    * the batch's canonical urls NOT already present (existing entries
    * win — the FIRST crawl's id stays the keeper, append never
    * rewrites). Same probe shape as `dedupUrlsAgainstIndex`: the index
    * streams once, the batch broadcasts, and only the genuinely new
    * (canonical_url, first_id) rows are written.
    */
  def updateUrlIndex(spark: SparkSession, dir: String, df: DataFrame,
      urlCol: String, idCol: String): Unit = {
    val idx = spark.read.parquet(s"$dir/urls")
    val batch = df
      .select(canonicalizeUrl(col(urlCol)).as("canonical_url"),
        col(idCol).as("first_id"))
      .where(col("canonical_url").isNotNull)
      .groupBy("canonical_url").agg(min(col("first_id")).as("first_id"))
    val hits = urlIndexHits(idx, batch.select("canonical_url"))
      .select("canonical_url")
    batch.join(broadcast(hits), Seq("canonical_url"), "left_anti")
      .write.mode("append").parquet(s"$dir/urls")
  }

  /** URL-level dedup of a new crawl batch against a `buildUrlIndex`
    * directory — the crawl-pipeline production shape (new batches dedup
    * against all prior crawls without re-canonicalizing them). Returns
    * the `dedupUrls` keep-list over the batch: a row keeps iff its
    * canonical url is null (no URL is not a duplicate of no URL), or is
    * unseen in BOTH the index and the earlier rows of this batch (the
    * batch-minimum id is the keeper among batch-internal twins).
    *
    * Scale shape: the batch canonicalizes in a narrow map; the index
    * never shuffles — its scan semi-joins against the BROADCAST batch
    * key set, so probing a billion-url index costs one index read and
    * zero exchanges of it; the two batch-side joins are batch-sized.
    */
  def dedupUrlsAgainstIndex(spark: SparkSession, dir: String,
      newDf: DataFrame, urlCol: String, idCol: String): DataFrame = {
    val idx = spark.read.parquet(s"$dir/urls")
    // pinned: canon feeds THREE legs of one plan (the key set, the
    // first-id aggregate, and the output join), and physical planning
    // re-inlines the canonicalizeUrl tree into each — with a derived
    // url column that tripled a multi-second planner+Janino pass per
    // call (the domainMixFromUrls lesson, SCALING.md round 12). The
    // cache boundary canonicalizes each batch row once and every leg
    // sees a plain attribute.
    val canon = CacheLifecycle.pin(newDf.select(col(idCol),
      canonicalizeUrl(col(urlCol)).as("canonical_url")))
    val keys = canon.where(col("canonical_url").isNotNull)
      .select("canonical_url").distinct()
    val hits = urlIndexHits(idx, keys)
      .select(col("canonical_url"), lit(true).as("__inref"))
    val firsts = canon.where(col("canonical_url").isNotNull)
      .groupBy("canonical_url").agg(min(col(idCol)).as("__first"))
    canon.join(broadcast(hits), Seq("canonical_url"), "left")
      .join(firsts, Seq("canonical_url"), "left")
      .select(col(idCol), col("canonical_url"),
        (col("canonical_url").isNull ||
          (col("__inref").isNull && col(idCol) === col("__first")))
          .as("keep"))
  }

  /** stats → quotas → mix in ONE operator: THE standard crawl-curation
    * composition. Each row's registrable domain derives from its URL
    * (the same narrow `extractHost` → `registrableDomain` map
    * `domainStats` groups by) and the corpus temperature-resamples on
    * that domain with `domainMixTemperature`'s math — p(domain) ∝
    * count^τ, per-row deterministic hash-threshold keep, rates clamped
    * at 1. Docs with no parseable host are dropped (a quota needs a
    * provenance key; count them beforehand via `domainStats`' null
    * row). Output: the kept rows + their `domain` column.
    *
    * Plan shape: the returned frame is the input scan + the narrow
    * extraction + a per-row hash compare — NO window, no join, no
    * added shuffle (the per-domain counts are one bounded aggregate
    * collected at call time, exactly `domainMixTemperature`'s).
    */
  def domainMixFromUrls(df: DataFrame, urlCol: String, idCol: String,
      temperature: Double, outputFraction: Double = 1.0,
      salt: String = "mixT", maxDomains: Int = 100000,
      /** full-PSL domain keying when supplied ([[withRegistrableDomain]])
        * — wrong quotas are the cost of heuristic grouping on real
        * crawls (co.uk/github.io-class hosts split or merge wrongly)
        */
      psl: Option[DataFrame] = None): DataFrame =
    domainMixTemperature(
      // PINNED, not inlined: registrableDomain references its host
      // argument ~10× and extractHost its url 3×, and Column vals are
      // trees, not bindings — composing them duplicates the whole url
      // expression into every reference. Staged withColumns don't
      // survive physical planning either (ScanOperation.trimAliases
      // re-inlines project chains over a file scan), so BOTH passes of
      // the mix (the counts aggregate and the per-row filter) paid
      // planner alias-substitution plus a multi-second Janino compile
      // of the exploded tree on EVERY job (~20 s/call at sf0.1,
      // jstack-verified: UnitCompiler + trimAliases dominate). The
      // cache boundary evaluates the domain exactly once into a
      // narrow (input ∪ domain) table; downstream plans see a plain
      // attribute. Two passes over one materialization is also simply
      // less work than re-deriving domains twice.
      CacheLifecycle.pin(
        withRegistrableDomain(
          df.withColumn("__host", extractHost(col(urlCol))),
          "__host", psl)
          .drop("__host")),
      idCol, "domain", temperature, outputFraction, salt, maxDomains)

  /** Benchmark contamination (the decontamination pass every pretraining
    * corpus runs before training): a document is contaminated when it
    * shares at least `minShared` distinct k-word shingles with ANY
    * document of the benchmark set. Inverted-index equi-join on the
    * shingle key — the benchmark side is tiny in practice and broadcasts
    * under AQE; the corpus side streams through map-side-distinct.
    * Returns only contaminated docs: (id, shared_ngrams).
    */
  def contamination(docs: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, k: Int = 3, minShared: Long = 2,
      /** skew guard for the 100 TB run: drop shingles whose CORPUS
        * document frequency exceeds this (stop-phrase shingles are
        * non-discriminative — real decontamination uses long, rare
        * n-grams — but they dominate the join volume). 0 = off; the
        * oracle runs uncapped, like the LSH band caps (SCALING.md).
        */
      maxShingleDocs: Long = 0): DataFrame = {
    def shingleSet(df: DataFrame, keep: Column*) = df
      .select(keep :+ tokens(col(textCol)).as("__t"): _*)
      .select(keep :+ explode(shingles(col("__t"), k)).as("sh"): _*)
    val docSh0 = shingleSet(docs, col(idCol))
    val docSh =
      if (maxShingleDocs <= 0) docSh0
      else { // hot-key anti-join, same shape as ngramJaccardPairs' cap:
        // the freq side partial-aggregates map-side, so the hot keys
        // never amplify a shuffle
        val hot = docSh0.groupBy("sh").agg(count(lit(1)).as("__df"))
          .where(col("__df") > maxShingleDocs).select("sh")
        docSh0.join(hot, Seq("sh"), "left_anti")
      }
    val benchSh = shingleSet(bench).distinct()
    docSh.join(benchSh, "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("shared_ngrams"))
      .where(col("shared_ngrams") >= minShared)
  }

  /** Decontamination keep-list: `contamination`'s resolution step —
    * drop every document sharing at least `minShared` distinct k-gram
    * shingles with the benchmark/eval set, keep the rest. A left
    * anti-join against the (small by construction) contaminated-id set;
    * null-text documents shingle to nothing and are kept. Same
    * `maxShingleDocs` skew guard as `contamination`.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, k: Int = 3, minShared: Long = 2,
      maxShingleDocs: Long = 0): DataFrame =
    docs.join(
      contamination(docs, bench, textCol, idCol, k, minShared,
        maxShingleDocs).select(idCol),
      Seq(idCol), "left_anti")

  /** Boundary-respecting NEXT-FIT packing (the layout for training
    * without cross-document attention — `packChunks`' complement, which
    * SPLITS documents across fixed windows): documents concatenate in
    * `idCol` order and each lands whole in the bin its START offset
    * falls into — `bin = floor(start / binTokens)` — so a bin may run
    * over `binTokens` by at most one document (greedy next-fit; cap
    * documents upstream if strict capacity matters). Deterministic,
    * SQL-replayable, and the global start offsets ride the same
    * two-level bucket scan as `packChunks` — no corpus-wide window.
    * Returns (idCol, bin, start_tok, n_tokens); zero/null-token
    * documents are excluded like `packChunks`.
    */
  def packBins(df: DataFrame, textCol: String, idCol: String,
      binTokens: Long, bucketSize: Long = 1000L): DataFrame = {
    require(binTokens > 0, "packBins: binTokens must be > 0")
    val id = col(idCol)
    val toks = df
      .select(id.as("__id"),
        size(tokens(col(textCol))).cast(LongType).as("__n"))
      .where(col("__n") > 0)
      .withColumn("__bkt", floor(col("__id") / bucketSize))
    val inBucket = toks.withColumn("__cum",
      sum(col("__n")).over(
        Window.partitionBy("__bkt").orderBy("__id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // same offsets discipline as placeDocs: bucketed exclusive scan,
    // unhinted join (the offset table is corpus-derived, not bounded)
    val bucketOffsets = exclusiveOffsets(
      toks.groupBy("__bkt").agg(sum(col("__n")).as("__btot")),
      "__bkt", "__btot", "__boff")
    inBucket.join(bucketOffsets, "__bkt")
      .withColumn("__start", col("__boff") + col("__cum") - col("__n"))
      .select(col("__id").as(idCol),
        floor(col("__start") / binTokens).cast(LongType).as("bin"),
        col("__start").as("start_tok"), col("__n").as("n_tokens"))
  }

  /** Concat-then-chunk sequence packing (the standard pretraining
    * batching layout): documents are concatenated in `idCol` order into
    * one virtual token stream, which is cut into fixed `chunkTokens`
    * windows; each output row maps a document to one chunk it overlaps,
    * with the doc-local token slice [tok_from, tok_to).
    *
    * The global prefix sum is computed WITHOUT a single-partition window
    * (the classic distributed-scan shape): ids bucket arithmetically
    * (`id div bucketSize`), each bucket cumsums locally (window keyed by
    * bucket — a normal hash-partitioned window), bucket totals cumsum in
    * one tiny N/bucketSize-row pass, and the offsets broadcast-join back.
    * At 10⁹ docs with the default bucket that middle pass is ~10⁶ rows —
    * recurse the same trick if that ever becomes the bottleneck.
    */
  def packChunks(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Long, bucketSize: Long = 1000L): DataFrame =
    packChunksBySize(
      df.select(col(idCol),
        size(tokens(col(textCol))).cast(LongType).as("__psz")),
      idCol, "__psz", chunkTokens, bucketSize)

  /** [[packChunks]] with CALLER-SUPPLIED sizes — the production form
    * packs by the TRAINED TOKENIZER's piece counts (what actually
    * fills a context window), not whitespace tokens: feed
    * [[Unigram.unigramEncode]]'s `n_pieces` (or the BPE encoder's)
    * straight in. `sizes` must expose (idCol, sizeCol); zero/negative
    * sizes drop (an empty doc occupies no window). Same two-level
    * bucket scan — never a single-partition corpus window.
    */
  def packChunksBySize(sizes: DataFrame, idCol: String, sizeCol: String,
      chunkTokens: Long, bucketSize: Long = 1000L): DataFrame = {
    require(chunkTokens > 0, "packChunksBySize: chunkTokens must be > 0")
    placeDocs(sizes, idCol, sizeCol, bucketSize)
      .select(col("__id"), col("__n"), col("__start"), col("__end"),
        explode(sequence(
          floor(col("__start") / chunkTokens),
          floor((col("__end") - 1) / chunkTokens))).as("chunk_id"))
      .select(
        col("__id").as(idCol),
        col("chunk_id").cast(LongType),
        (greatest(col("__start"), col("chunk_id") * chunkTokens)
          - col("__start")).as("tok_from"),
        (least(col("__end"), (col("chunk_id") + 1) * chunkTokens)
          - col("__start")).as("tok_to"))
  }

  /** Default super-bucket fan-in of [[exclusiveOffsets]]: the one
    * remaining unpartitioned window runs over `n_keys / 2^16` rows —
    * at 10^11 docs with `bucketSize` 1000 that is ~1.5k rows, and even
    * a 10^13-doc corpus stays under 160k (one small task at ANY
    * conceivable corpus size).
    */
  private[graft] val OffsetsSuperFan = 1L << 16

  /** Exclusive prefix sums of `totCol` over `keyCol` groups — the
    * offsets level of the distributed-scan family (placeDocs /
    * packBins / selectByBudget / shuffleOrder), itself bucketed so NO
    * window ever runs single-partition over the full key table: keys
    * cumsum inside their super-bucket (`key div superFan`, a normal
    * hash-partitioned window) and only the super-bucket totals —
    * `n_keys / superFan` rows — pass through an unpartitioned window.
    * Before round 16 the key table itself (`n_docs / bucketSize` rows
    * through one task, then a forced broadcast) was the scale escape
    * hatch at 10^11+ docs. Input: one row per key; output
    * (keyCol, offCol).
    */
  private[graft] def exclusiveOffsets(totals: DataFrame, keyCol: String,
      totCol: String, offCol: String,
      superFan: Long = OffsetsSuperFan): DataFrame = {
    require(superFan > 0, s"exclusiveOffsets: superFan $superFan")
    val withSuper = totals.withColumn("__sbkt",
      floor(col(keyCol) / superFan))
    val inSuper = withSuper.withColumn("__scum",
      sum(col(totCol)).over(
        Window.partitionBy("__sbkt").orderBy(keyCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val superOffsets = withSuper.groupBy("__sbkt")
      .agg(sum(col(totCol)).as("__stot"))
      .withColumn("__soff",
        coalesce(sum(col("__stot")).over(
          Window.orderBy("__sbkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__sbkt"), col("__soff"))
    inSuper.join(broadcast(superOffsets), Seq("__sbkt"))
      .select(col(keyCol),
        (col("__soff") + col("__scum") - col(totCol)).as(offCol))
  }

  /** The placement core shared by [[packChunksBySize]] and
    * [[packTokenIds]]: each doc's half-open global token interval
    * `[__start, __end)` in ascending-id concatenation order, via the
    * bucketed distributed scan (never a single-partition corpus OR
    * bucket-table window — [[exclusiveOffsets]]). The offsets join is
    * deliberately UNHINTED: at 10^11+ docs the `n/bucketSize`-row
    * offset table exceeds any broadcast budget and must shuffle; below
    * that, AQE broadcasts it on its own. Zero/negative sizes drop.
    * Returns (__id, __n, __start, __end).
    */
  private def placeDocs(sizes: DataFrame, idCol: String,
      sizeCol: String, bucketSize: Long): DataFrame = {
    val toks = sizes
      .select(col(idCol).as("__id"),
        col(sizeCol).cast(LongType).as("__n"))
      .where(col("__n") > 0)
      .withColumn("__bkt", floor(col("__id") / bucketSize))
    val inBucket = toks.withColumn("__cum",
      sum(col("__n")).over(
        Window.partitionBy("__bkt").orderBy("__id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bucketOffsets = exclusiveOffsets(
      toks.groupBy("__bkt").agg(sum(col("__n")).as("__btot")),
      "__bkt", "__btot", "__boff")
    inBucket
      .join(bucketOffsets, "__bkt")
      .withColumn("__end", col("__boff") + col("__cum"))
      .withColumn("__start", col("__end") - col("__n"))
  }

  /** The pre-training data LAYOUT — the chain-end after tokenize →
    * pack: one row per PIECE, `(idCol, chunk_id, pos, piece_id)`,
    * every document's id stream placed at its packed global offset
    * (chunk = gpos div chunkTokens, pos = gpos mod chunkTokens —
    * exactly the windows [[packChunksBySize]] assigns over the same
    * sizes). `encoded` is any `(idCol, tok_pos, piece_ids)` frame
    * ([[Unigram.unigramEncodeIds]] / [[WordPiece.wordpieceEncodeIds]] /
    * [[Bpe.bpeEncodeIdsLarge]]).
    *
    * Scale shape: one per-doc aggregate flattens the token arrays in
    * (tok_pos) order (per-doc arrays, the exactSubstringDedup
    * pattern — no corpus window), the placement core is the two-level
    * bucket scan, and the id stream joins its start offset by doc
    * equi-key before one posexplode. Empty docs occupy no window.
    */
  def packTokenIds(encoded: DataFrame, idCol: String,
      chunkTokens: Long, bucketSize: Long = 1000L,
      sepId: Option[Long] = None): DataFrame = {
    require(chunkTokens > 0, "packTokenIds: chunkTokens must be > 0")
    // null piece_ids rows are dropped up front (they contribute no
    // pieces): a null nested array would otherwise null the whole
    // doc's flatten and silently erase its real pieces. The filtered
    // frame feeds BOTH the flatten and the size aggregate, so the
    // placement sizes always equal the flattened stream lengths —
    // and the sizes come from a cheap map-side-combinable sum, not a
    // second materialization of the per-doc arrays.
    //
    // `sepId` is the GPT-2-style document separator (<|endoftext|>):
    // when set, every document's stream gains ONE trailing separator
    // piece — a reader of the packed layout sees doc boundaries
    // in-band, and a window never starts mid-ambiguity. The separator
    // counts toward the placement size (the packChunksBySize windows
    // over the same sizes stay aligned with the flattened stream).
    // Docs that emit no pieces still emit no rows — a separator-only
    // stream would mark a boundary for a document that has no content
    // in the layout.
    val clean = encoded.where(col("piece_ids").isNotNull)
    val emptyArr = array().cast("array<bigint>")
    val sepArr = sepId.map(s => array(lit(s))).getOrElse(emptyArr)
    val sepN = lit(sepId.map(_ => 1L).getOrElse(0L))
    // the separator attaches only to docs with ≥ 1 REAL piece: a doc
    // whose rows all carry empty arrays contributes no content, so it
    // must not mark a boundary either (the sizes grow by the same
    // conditional, keeping placement aligned with the streams)
    val flatCol = flatten(transform(
      array_sort(collect_list(struct(col("tok_pos"),
        col("piece_ids")))),
      s => s.getField("piece_ids")))
    val flat = clean.groupBy(col(idCol))
      .agg(concat(flatCol,
        when(size(flatCol) > 0, sepArr).otherwise(emptyArr))
        .as("__ids"))
    val rawSize = sum(size(col("piece_ids")).cast(LongType))
    val sizes = clean.groupBy(col(idCol))
      .agg((rawSize + when(rawSize > 0, sepN).otherwise(lit(0L)))
        .as("__psz"))
    val placed = placeDocs(sizes, idCol, "__psz", bucketSize)
      .select(col("__id").as(idCol), col("__start"))
    flat.join(placed, Seq(idCol))
      .select(col(idCol), col("__start"),
        posexplode(col("__ids")).as(Seq("__pidx", "piece_id")))
      .withColumn("__g", col("__start") + col("__pidx"))
      .select(col(idCol),
        expr(s"__g div $chunkTokens").as("chunk_id"),
        pmod(col("__g"), lit(chunkTokens)).as("pos"),
        col("piece_id"))
  }

  /** Interleaved multimodal packing (the Flamingo / MM1 / Chameleon
    * pre-training layout): each document is a sequence of text tokens
    * with image slots spliced between them, every slot rendered
    * in-band as `boiId, imgId × n_media_tokens, eoiId` (begin/end
    * markers plus a fixed placeholder run the vision tower fills at
    * train time). `encoded` is the [[packTokenIds]] text input
    * ((idCol, tok_pos, piece_ids)); `media` anchors each slot AFTER
    * the text token at its `media_pos` ((idCol, media_pos,
    * n_media_tokens), one slot per (id, media_pos) — slot positions
    * must be unique within a document). Everything downstream of the
    * interleave IS `packTokenIds`: the two streams union under the
    * doubled sort key `2·tok_pos` / `2·media_pos + 1` (text first on
    * the same anchor), so placement, separators, chunking, and
    * [[shardManifest]] compose unchanged — the interleave itself is a
    * narrow map + union, no new exchange.
    */
  def packMultimodalIds(encoded: DataFrame, media: DataFrame,
      idCol: String, chunkTokens: Long, imgId: Long, boiId: Long,
      eoiId: Long, bucketSize: Long = 1000L,
      sepId: Option[Long] = None): DataFrame = {
    val t = encoded.select(col(idCol),
      (col("tok_pos") * 2).as("tok_pos"), col("piece_ids"))
    val m = media.select(col(idCol),
      (col("media_pos") * 2 + 1).cast(LongType).as("tok_pos"),
      concat(array(lit(boiId)),
        array_repeat(lit(imgId), col("n_media_tokens").cast("int")),
        array(lit(eoiId))).as("piece_ids"))
    packTokenIds(t.unionByName(m), idCol, chunkTokens, bucketSize,
      sepId)
  }

  /** Per-shard manifest over a [[packTokenIds]] layout — the
    * deliverable artifact of the packing step: chunks group into
    * sized shards by the DETERMINISTIC assignment
    * `shard_id = chunk_id div chunksPerShard` (pure arithmetic — a
    * re-run, a resume, or a different cluster produces the identical
    * shard map), and each shard's manifest row carries what a trainer
    * or an integrity checker needs without reading the data:
    * `(shard_id, n_chunks, n_pieces, doc_lo, doc_hi, content_hash)`.
    * The content hash is the bit-XOR of a per-piece 60-bit md5 over
    * `chunk_id:pos:piece_id` — order-INDEPENDENT, so it folds in one
    * hash aggregate with no sort, and any flipped/lost/duplicated
    * piece changes it. One shuffle keyed on shard_id; output is
    * `n_chunks/chunksPerShard` rows — config-scale at any corpus size.
    */
  def shardManifest(packed: DataFrame, idCol: String,
      chunksPerShard: Long): DataFrame = {
    require(chunksPerShard > 0,
      s"shardManifest: chunksPerShard must be > 0, got $chunksPerShard")
    packed
      .withColumn("__shard", expr(s"chunk_id div $chunksPerShard"))
      .withColumn("__h",
        conv(substring(md5(concat_ws(":", col("chunk_id"), col("pos"),
          col("piece_id"))), 1, 15), 16, 10).cast(LongType))
      .groupBy(col("__shard").as("shard_id"))
      .agg(
        count_distinct(col("chunk_id")).as("n_chunks"),
        count(lit(1)).as("n_pieces"),
        min(col(idCol)).as("doc_lo"),
        max(col(idCol)).as("doc_hi"),
        bit_xor(col("__h")).as("content_hash"))
  }

  /** Write a packed layout as training shards + manifest: the piece
    * rows under `dir/shards` partitioned by shard_id (one directory
    * per shard — the unit a trainer's data loader fetches), then the
    * [[shardManifest]] under `dir/manifest`, LAST — the collection-sink
    * ordering discipline: a reader requires the manifest, so a write
    * that died mid-data leaves no manifest and is never mistaken for a
    * complete layout. Returns the manifest frame as written.
    */
  def writeShards(packed: DataFrame, idCol: String,
      chunksPerShard: Long, dir: String): DataFrame = {
    val withShard = packed.withColumn("shard_id",
      expr(s"chunk_id div $chunksPerShard"))
    withShard.write.mode("overwrite").partitionBy("shard_id")
      .parquet(s"$dir/shards")
    // the manifest is computed from the rows JUST WRITTEN (read back),
    // not from the input frame: it certifies the artifact on disk, so
    // a lost task, a non-deterministic upstream, or a concurrent
    // truncation surfaces as a manifest/recount mismatch instead of a
    // manifest that vouches for data it never saw
    val manifest = shardManifest(
      packed.sparkSession.read.parquet(s"$dir/shards"), idCol,
      chunksPerShard)
    manifest.write.mode("overwrite").parquet(s"$dir/manifest")
    packed.sparkSession.read.parquet(s"$dir/manifest")
  }

  /** Token-budget corpus selection (the data-mixing step after scoring):
    * keep the highest-quality documents, in (quality desc, id) order,
    * whose running token total stays within `tokenBudget` — a strict
    * greedy prefix, so the selection is deterministic and SQL-replayable.
    * The global running sum uses the same two-level scan as `packChunks`,
    * except the buckets quantize the SORT KEY (quality, `1/qualityBuckets`
    * granularity): bucket order is quality order, so no corpus-wide
    * single-partition window exists. Ties inside a quantum stay in one
    * bucket, so the id tiebreak is still total.
    */
  def selectByBudget(df: DataFrame, textCol: String, idCol: String,
      tokenBudget: Long, qualityBuckets: Int = 1000): DataFrame = {
    val scored = TextAnalysis.qualityScore(df, textCol)
      .select(col(idCol), col("n_tokens").cast(LongType).as("n_tokens"),
        col("quality"))
    val bkt = scored.withColumn("__bkt",
      floor((lit(1.0) - col("quality")) * qualityBuckets).cast(LongType))
    val inBucket = bkt.withColumn("__cum",
      sum(col("n_tokens")).over(
        Window.partitionBy("__bkt")
          .orderBy(col("quality").desc, col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // the key table is BOUNDED by construction (≤ qualityBuckets + 1
    // rows), so the broadcast hint is sound at any corpus size; the
    // offsets still ride the bucketed scan for uniformity
    val offsets = exclusiveOffsets(
      bkt.groupBy("__bkt").agg(sum(col("n_tokens")).as("__btot")),
      "__bkt", "__btot", "__boff")
    inBucket.join(broadcast(offsets), "__bkt")
      .withColumn("cum_tokens", col("__boff") + col("__cum"))
      .where(col("cum_tokens") <= tokenBudget)
      .select(col(idCol), col("n_tokens"), col("quality"),
        col("cum_tokens"))
  }

  /** Deterministic global training-shuffle order: `pos` is the row's
    * rank (0-based) in ascending `md5(salt || id)` order — the standard
    * "shuffle the corpus once per epoch" step, replayable across
    * engines and runs (change `salt` per epoch). The naive formulation
    * is a corpus-wide `row_number` window — one task sorts 100 TB; this
    * computes it with the same two-level scan as `packChunks` /
    * `selectByBudget`: rows rank inside their hash-prefix bucket
    * (`buckets` partitions, each ~n/buckets rows), and bucket offsets
    * come from a window over the bounded bucket-count frame. The hash
    * prefix IS the leading sort key, so bucket order is global order
    * and the id tiebreak inside a bucket keeps the order total.
    * Returns (idCol, pos).
    */
  def shuffleOrder(df: DataFrame, idCol: String, salt: String = "shuffle",
      buckets: Int = 1024): DataFrame = {
    // prefix(32-bit) * buckets must stay exact in a double (< 2^52) or
    // the range-bucket assignment loses monotonicity at boundaries
    require(buckets > 0 && buckets <= (1 << 20),
      s"shuffleOrder: buckets must be in [1, 2^20], got $buckets")
    val hashed = df.select(col(idCol),
      md5(concat(lit(salt), col(idCol).cast(StringType))).as("__h"))
      // RANGE bucket on the 32-bit hash prefix (NOT modulo — bucket
      // order must equal hash order for the offsets to rank globally):
      // floor(prefix * buckets / 2^32), monotone in the hash
      .withColumn("__bkt",
        floor(conv(substring(col("__h"), 1, 8), 16, 10).cast(LongType)
          * buckets / lit(4294967296L)).cast(LongType))
    val within = hashed.withColumn("__r",
      row_number().over(Window.partitionBy("__bkt")
        .orderBy(col("__h"), col(idCol))))
    // bounded key table (≤ 2^20 rows by the require above): broadcast
    // is sound; offsets ride the bucketed scan for uniformity
    val offsets = exclusiveOffsets(
      hashed.groupBy("__bkt").agg(count(lit(1)).as("__n")),
      "__bkt", "__n", "__off")
    within.join(broadcast(offsets), "__bkt")
      .select(col(idCol), (col("__off") + col("__r") - 1).as("pos"))
  }

  /** Curriculum ordering (Bengio et al. 2009: present training data in
    * phases — quality tiers, perplexity buckets, length classes —
    * easiest first, shuffled uniformly WITHIN each phase so no phase
    * carries incidental source order). Position = phase-major, then
    * the [[shuffleOrder]] hash order: the composite range key puts the
    * phase in front of the hash bucket, so every row of phase p
    * precedes every row of phase p+1 and the within-phase order equals
    * `ORDER BY (md5(salt‖id), id)` — one window per (phase, bucket)
    * partition, offsets from the same [[exclusiveOffsets]] scan,
    * nothing corpus-wide. Phases must be SMALL non-negative integers:
    * one config-scale aggregate probes the phase table and refuses
    * when distinct phases × buckets would break the bounded-key-table
    * broadcast (a curriculum with unbounded phases is a sort, not a
    * curriculum). Returns (idCol, phase, pos).
    */
  def curriculumOrder(df: DataFrame, idCol: String, phaseCol: String,
      salt: String = "curriculum", buckets: Int = 1024): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 20),
      s"curriculumOrder: buckets must be in [1, 2^20], got $buckets")
    val probe = df.agg(
      countDistinct(col(phaseCol)).as("n"),
      min(col(phaseCol).cast(LongType)).as("mn"),
      max(col(phaseCol).cast(LongType)).as("mx")).head()
    val (nPh, mn, mx) =
      (probe.getLong(0), probe.getLong(1), probe.getLong(2))
    require(mn >= 0 && mx < (1L << 40),
      s"curriculumOrder: phases must be small non-negative integers " +
        s"(saw [$mn, $mx])")
    require(nPh * buckets <= (1 << 20),
      s"curriculumOrder: $nPh phases x $buckets buckets exceeds the " +
        "2^20 bounded-key-table broadcast — coarsen the phases or " +
        "shrink buckets")
    val hashed = df.select(col(idCol),
      col(phaseCol).cast(LongType).as("__ph"),
      md5(concat(lit(salt), col(idCol).cast(StringType))).as("__h"))
      .withColumn("__bkt", col("__ph") * buckets +
        floor(conv(substring(col("__h"), 1, 8), 16, 10).cast(LongType)
          * buckets / lit(4294967296L)).cast(LongType))
    val within = hashed.withColumn("__r",
      row_number().over(Window.partitionBy("__bkt")
        .orderBy(col("__h"), col(idCol))))
    val offsets = exclusiveOffsets(
      hashed.groupBy("__bkt").agg(count(lit(1)).as("__n")),
      "__bkt", "__n", "__off")
    within.join(broadcast(offsets), "__bkt")
      .select(col(idCol), col("__ph").as("phase"),
        (col("__off") + col("__r") - 1).as("pos"))
  }

  /** Deterministic train/validation/test split assignment: each row
    * lands in the named split whose cumulative weight interval contains
    * its hash fraction `h32(salt || id) / 2^32` — stable under corpus
    * growth (a document's split never changes when other documents
    * arrive, unlike rank-based splitting), replayable across engines,
    * and a pure narrow map (no shuffle, no join — `PlanSpec`-style
    * shape). Weights must be positive and sum to 1 within 1e-9; splits
    * assign in the given order. Returns the input plus a `split`
    * column.
    */
  def assignSplits(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], salt: String = "split"): DataFrame = {
    require(splits.nonEmpty, "assignSplits: at least one split")
    require(splits.map(_._1).distinct.size == splits.size,
      "assignSplits: split names must be unique")
    require(splits.forall(_._2 > 0), "assignSplits: weights must be > 0")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"assignSplits: weights must sum to 1, got ${splits.map(_._2).sum}")
    val frac = h32(concat(lit(salt), col(idCol).cast(StringType))) /
      lit(4294967296.0)
    // round the cumulative bounds to 9 decimals (repo float convention)
    // so an external replay computes the identical thresholds
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(b => math.rint(b * 1e9) / 1e9)
    val expr = splits.init.zip(bounds.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), b), rest) =>
      when(frac < b, lit(name)).otherwise(rest)
    }
    df.withColumn("split", expr)
  }

  /** Domain-mix resampling: hit target proportions `targets`
    * (source → weight) exactly, at the largest output size the data
    * allows without upsampling. scale = minₛ count(s)/p(s); each listed
    * source keeps its floor(p(s)·scale) lowest-hash rows (deterministic
    * — same mix every run and topology); unlisted sources drop.
    *
    * The per-source top-keepN selection uses the same two-level scan as
    * `packChunks`/`selectByBudget` rather than a per-source `row_number`
    * window: the hash splits into `hashBuckets` equal ranges, a
    * |sources|×|buckets| aggregate (map-side partial, tiny) counts rows
    * per (source, bucket), a prefix sum over that tiny frame finds each
    * row's global rank offset, and the residual ranking happens inside a
    * (source, bucket) window — hash-uniform partitions of ~n/buckets
    * rows. A 30 %-of-corpus domain is then ~buckets parallel sorts, not
    * one task's full sort, so the operator survives a hot domain at 100×.
    * The per-source counts are a |targets|-row collect (bounded by
    * config, like the ≤16-bucket collect).
    */
  def domainMix(df: DataFrame, idCol: String, sourceCol: String,
      targets: Map[String, Double], salt: String = "mix",
      hashBuckets: Int = 1024): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "domainMix needs positive target weights")
    // a non-positive bucket count would flip bucket order vs hash order
    // and silently break the global-rank reconstruction
    require(hashBuckets > 0, "domainMix needs hashBuckets > 0")
    val listed = df.where(col(sourceCol).isin(targets.keys.toSeq: _*))
    val counts = listed.groupBy(col(sourceCol)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scale = targets.collect {
      case (s, p) if counts.contains(s) => counts(s) / p
    }.minOption.getOrElse(0.0)
    val keepN = targets.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (s, p)) =>
        when(col(sourceCol) === s,
          lit(math.floor(p * scale).toLong)).otherwise(acc)
    }
    // h32 is uniform on [0, 2^32): equal-width ranges bucket evenly
    val bucketWidth = (1L << 32) / hashBuckets + 1
    val hashed = listed
      .withColumn("__h", h32(concat(lit(salt), col(idCol).cast(StringType))))
      .withColumn("__hbkt", (col("__h") / bucketWidth).cast(LongType))
    // rows ranked BEFORE each (source, bucket): prefix sum over the tiny
    // |sources| x |buckets| count frame — bucket order is hash order, so
    // global rank = bucket offset + rank within the bucket
    val offsets = hashed.groupBy(col(sourceCol), col("__hbkt"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__boff",
        coalesce(sum(col("__bn")).over(
          Window.partitionBy(col(sourceCol)).orderBy("__hbkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(sourceCol).as("__src2"), col("__hbkt").as("__hbkt2"),
        col("__boff"))
    val inBucket = row_number().over(
      Window.partitionBy(col(sourceCol), col("__hbkt"))
        .orderBy(col("__h"), col(idCol)))
    hashed
      .join(broadcast(offsets), col(sourceCol) === col("__src2") &&
        col("__hbkt") === col("__hbkt2"))
      .withColumn("__rank", col("__boff") + inBucket)
      .where(col("__rank") <= keepN)
      .drop("__h", "__hbkt", "__src2", "__hbkt2", "__boff", "__rank")
  }

  /** Language-aware mixing — the standard multilingual rebalance: the
    * language-ID prediction ([[TextAnalysis.langId]], the n-gram/
    * stopword heuristic) becomes the mix key and per-language target
    * weights drive [[domainMix]]'s exact deterministic lowest-hash
    * keeps. Rows whose predicted language is not targeted (including
    * `unknown`) drop — route them through a dedicated quota if they
    * should survive. Returns the kept rows + `lang_pred`.
    *
    * Scale shape: langId is a narrow per-row map (bounded stopword-list
    * probes); the (id, lang_pred) projection is PINNED because the mix
    * reads it twice (the per-language counts aggregate and the per-row
    * selection — the domainMixFromUrls lesson), and the selection
    * itself is domainMix's two-level hash-bucket scan: no per-language
    * window over the corpus, a 90 %-English crawl stays ~buckets
    * parallel sorts.
    */
  def languageMix(df: DataFrame, textCol: String, idCol: String,
      targets: Map[String, Double], salt: String = "mixL"): DataFrame = {
    val keyed = CacheLifecycle.pin(
      TextAnalysis.langId(df, textCol)
        .select(col(idCol), col("lang_pred")))
    domainMix(keyed, idCol, "lang_pred", targets, salt)
  }

  /** UniMax-style language-aware epoch planning (Chung et al. 2023's
    * idea in [[epochPlan]]'s exact-integer water-filling form): langId
    * predictions become the provenance key, the budget fills across
    * languages ∝ sqrt(tokens) under the per-language epoch cap —
    * small languages upweight but never repeat past `maxEpochs`.
    * `unknown` predictions drop before planning (a quota needs a real
    * language; count them separately via [[TextAnalysis.langId]]).
    * Returns (lang_pred, n_tokens, take_tokens, epochs_ppm).
    *
    * Plan shape: langId's per-row stopword argmax is a narrow map; the
    * rest is [[epochPlan]]'s one partial-aggregated pass + driver math
    * over a require-bounded language list.
    */
  def languagePlan(df: DataFrame, textCol: String,
      budgetTokens: Long, maxEpochs: Int = 4): DataFrame =
    epochPlan(
      TextAnalysis.langId(df, textCol)
        .where(col("lang_pred") =!= "unknown"),
      "lang_pred", textCol, budgetTokens, maxEpochs)

  /** Temperature-based domain resampling (the multilingual/multi-domain
    * rebalance standard in pretraining mixes): target proportions
    * p(s) ∝ count(s)^τ — τ = 1 keeps natural proportions, τ → 0 flattens
    * toward uniform, upweighting small domains WITHOUT upsampling (keep
    * rates clamp at 1; the realized output is the largest mix the data
    * allows under that clamp, scaled to ≈ `outputFraction` of the
    * corpus). Selection is a pure per-row hash-threshold compare —
    * keep iff h32(salt‖id) < rate(s)·2³² — so there is NO window, NO
    * per-domain shuffle, and no rank reconstruction at all: the scan
    * parallelism is the input's, any domain skew included. Exactly
    * replayable in SQL (same md5-derived h32), deterministic across
    * runs and topologies.
    *
    * The per-domain counts are one |domains|-row aggregate collected to
    * the driver; `maxDomains` bounds that collect (domains are
    * config-scale in practice — languages, sources, crawls).
    */
  /** Content-defined chunking (the CDC idea behind FastCDC, over
    * tokens): a chunk boundary falls BEFORE token i whenever the hash
    * of the 2-gram ending at i is ≡ 0 mod `targetTokens`, so boundaries
    * depend only on LOCAL content — an insertion early in a document
    * shifts at most one chunk, where fixed tiling (packChunks) shifts
    * every subsequent chunk. That stability is what makes chunk-level
    * exact dedup effective across near-identical documents. Expected
    * chunk length ≈ targetTokens (geometric; no min/max clamp — the
    * sequential FastCDC window is deliberately not replicated so the
    * split stays a pure per-row map, and an oversized tail can feed
    * packChunks downstream).
    *
    * Returns (idCol, chunk_idx, tok_start, chunk) — one row per chunk,
    * a narrow explode with no shuffle. Deterministic md5-derived
    * hashing; the SQL oracle replays byte-for-byte.
    */
  def chunkByContent(df: DataFrame, textCol: String, idCol: String,
      targetTokens: Int = 64): DataFrame = {
    require(targetTokens >= 2, "chunkByContent: targetTokens must be >= 2")
    val withT = df.select(col(idCol), tokens(col(textCol)).as("__t"))
    val n = size(col("__t"))
    // boundaries before token i (0-based, 1 <= i < n): 2-gram hash test;
    // sequence(1, 0) counts DOWN, so short docs skip the scan entirely
    val bounds = concat(
      array(lit(0)),
      when(n <= 1, array().cast("array<int>"))
        .otherwise(filter(sequence(lit(1), n - 1), i =>
          h32(concat_ws(" ", get(col("__t"), i - 1), get(col("__t"), i)))
            % targetTokens === 0)),
      array(n))
    withT
      .select(col(idCol), col("__t"), bounds.as("__b"))
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("__b")) - 2), j =>
          struct(
            element_at(col("__b"), j + 1).cast("long").as("tok_start"),
            array_join(slice(col("__t"),
              element_at(col("__b"), j + 1) + 1,
              element_at(col("__b"), j + 2) -
                element_at(col("__b"), j + 1)), " ").as("chunk")))))
      .select(col(idCol), col("pos").as("chunk_idx"),
        col("col.tok_start"), col("col.chunk"))
  }

  /** Chunk-level duplication score per document: content-defined chunks
    * (`chunkByContent`) hashed and counted corpus-wide; a document's
    * score is the fraction of its chunks that also appear in ANOTHER
    * document — the sub-document dedup signal (boilerplate paragraphs,
    * syndicated passages) that document-level exact/near dedup misses.
    * Shape: one narrow chunk explode, one partial-aggregated count
    * keyed on the chunk hash, one equi-join back, one per-doc
    * aggregate. Returns (idCol, n_chunks, n_dup, dup_frac rounded 9).
    */
  def chunkDupScore(df: DataFrame, textCol: String, idCol: String,
      targetTokens: Int = 64): DataFrame = {
    val chunks = chunkByContent(df, textCol, idCol, targetTokens)
      .select(col(idCol), h32(col("chunk")).as("__h"))
    // distinct docs per chunk hash: a chunk repeated WITHIN one doc is
    // not corpus duplication
    val docFreq = chunks.groupBy(col("__h"))
      .agg(count_distinct(col(idCol)).as("__df"))
    chunks.join(docFreq, "__h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_chunks"), 9))
  }

  /** Chunk-level dedup KEEP-LIST: where `chunkDupScore` only measures
    * sub-document duplication, this resolves it — each duplicated chunk
    * keeps ONLY the copy in its canonical document (minimum `idCol`
    * over the documents containing it, the same min-id convention as
    * exact document dedup) and is dropped from every other document,
    * and the survivors reassemble in original order. The cleaned corpus
    * carries each duplicated passage exactly once.
    *
    * Returns (idCol, text_clean, n_chunks, n_dropped); text_clean is in
    * the chunker's token normalization (lower-cased, single-space).
    * A document whose every chunk is owned elsewhere survives with an
    * empty text_clean, and a null-text document survives with
    * n_chunks 0 — a curation stage never loses rows (left join: the
    * null chunk has no hash and no owner).
    *
    * Scale shape: one narrow chunk explode, one partial-aggregated min
    * per chunk hash (map-side combine absorbs hot boilerplate chunks),
    * one equi-join back on the hash (AQE splits a skewed hot key), one
    * per-document aggregate. No window over the corpus, no product, no
    * driver action.
    */
  def dedupChunks(df: DataFrame, textCol: String, idCol: String,
      targetTokens: Int = 64): DataFrame = {
    val chunks = chunkByContent(df, textCol, idCol, targetTokens)
      .select(col(idCol), col("chunk_idx"), col("chunk"),
        h32(col("chunk")).as("__h"))
    val owner = chunks.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__owner"))
    chunks.join(owner, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__owner") === col(idCol),
            struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("text_clean"),
        count(col("chunk")).as("n_chunks"),
        sum(when(col("__owner") =!= col(idCol), 1L).otherwise(0L))
          .as("n_dropped"))
  }

  /** Quality-filter cascade with drop accounting: evaluate the named
    * predicates in order and attribute every dropped document to the
    * FIRST filter it failed — the funnel report every production
    * curation pipeline publishes (N in → n1 dropped too_short → n2
    * dropped low_quality → …). One narrow per-row pass (a coalesce over
    * the failure names; no shuffle, no join); the funnel counts are one
    * partial aggregate over the `first_fail` column downstream. A
    * predicate evaluating to SQL null counts as a FAILURE of that
    * filter (an unscorable document must not silently pass a gate).
    * Returns (idCol, keep, first_fail — null when kept).
    */
  def filterCascade(df: DataFrame, idCol: String,
      filters: Seq[(String, Column)]): DataFrame = {
    require(filters.nonEmpty, "filterCascade: at least one filter")
    require(filters.map(_._1).distinct.size == filters.size,
      "filterCascade: filter names must be unique (they label the funnel)")
    val firstFail = coalesce(filters.map { case (name, pred) =>
      when(!coalesce(pred, lit(false)), lit(name))
    } :+ lit(null).cast(StringType): _*)
    df.select(col(idCol), firstFail.as("first_fail"))
      .select(col(idCol), col("first_fail").isNull.as("keep"),
        col("first_fail"))
  }

  def domainMixTemperature(df: DataFrame, idCol: String, sourceCol: String,
      temperature: Double, outputFraction: Double = 1.0,
      salt: String = "mixT", maxDomains: Int = 100000): DataFrame = {
    require(temperature > 0 && temperature <= 1,
      "temperature must be in (0, 1]: 1 = natural proportions, " +
        "smaller = flatter mix (upsampling, t > 1, is not supported)")
    require(outputFraction > 0 && outputFraction <= 1,
      "outputFraction must be in (0, 1]")
    // null rows are excluded AFTER the aggregate: an `isNotNull` on a
    // DERIVED source column (domainMixFromUrls' url → domain) pushes
    // down into the substituted expression and sends the optimizer's
    // constraint propagation into a ~10 s/job spiral on the big
    // url-extraction tree (measured at sf0.1) — filtering the
    // ≤ maxDomains aggregated frame is free and equivalent
    val counts = collectAtMost(df.groupBy(col(sourceCol)).count()
      .where(col(sourceCol).isNotNull), maxDomains)(
      s"more than $maxDomains distinct domains — bucket them upstream " +
        "or raise maxDomains (the counts map is driver-resident)")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return df.limit(0)
    val total = counts.values.sum.toDouble
    val weights = counts.view.mapValues(n =>
      math.pow(n.toDouble, temperature)).toMap
    // sum in sorted-key order and round the rate to 9 decimals (the
    // repo-wide float convention): an external SQL replay sums/pows in
    // its own order, and an ulp difference at the threshold would flip
    // boundary rows
    val wSum = weights.toSeq.sortBy(_._1).map(_._2).sum
    // expected output size ≈ outputFraction·total, split by p(s); the
    // per-domain keep RATE clamps at 1 (never upsample a small domain)
    val rate = counts.map { case (s, n) =>
      val r = math.min(1.0, outputFraction * total * (weights(s) / wSum) / n)
      s -> math.round(r * 1e9) / 1e9
    }
    // deterministic per-row keep: uniform h32 under the rate threshold.
    // Thresholds ship as ONE literal map (domain → threshold) probed
    // with element_at — O(1) per row and the source column is
    // referenced exactly once. The previous chained-CASE form compared
    // per domain AND, when the source column is a derived expression
    // (domainMixFromUrls' url → host → domain extraction), the
    // optimizer inlined that whole expression into every branch —
    // O(|domains| × |expr|) codegen that blew the heap past ~100
    // domains.
    val thresholds: Map[String, Long] =
      rate.map { case (s, r) => s -> math.round(r * 4294967296.0) }
    // no isNotNull here either (same constraint-propagation spiral):
    // a null source looks up no threshold, coalesces to 0, and h32 ≥ 0
    // can never be < 0 — null rows drop by arithmetic
    df.where(
      h32(concat(lit(salt), col(idCol).cast(StringType))) <
        coalesce(element_at(typedLit(thresholds), col(sourceCol)),
          lit(0L)))
  }

  /** Truncate to 6 decimals — unlike rounding, identical across
    * engines when a value lands exactly on a half.
    */
  private def trunc6(c: Column): Column =
    (c * 1000000.0).cast(LongType) / 1000000.0

  /** Unigram + bigram instances of `textCol` hashed into `buckets`
    * feature buckets (h32 mod buckets) — DSIR's hashed n-gram
    * features. One row per n-gram INSTANCE (multiplicity matters for
    * both the models and the per-document sums).
    */
  private def hashedGrams(df: DataFrame, textCol: String,
      keep: Seq[Column], buckets: Int): DataFrame = {
    val t = col("__t")
    df.select(keep :+ tokens(col(textCol)).as("__t"): _*)
      .select(keep :+ explode(concat(t,
        when(size(t) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(t) - 2),
            i => concat_ws(" ", get(t, i), get(t, i + 1))))))
        .as("__g"): _*)
      .select(keep :+ (h32(col("__g")) % buckets).as("__b"): _*)
  }

  /** The standard web-curation quality cascade, composed end-to-end
    * (the C4 → Gopher ordering of RefinedWeb/FineWeb): C4's line
    * filter cleans each page first, then the Gopher quality rules AND
    * the Gopher repetition rules judge the CLEANED text — order
    * matters, since dropped boilerplate lines must not count against
    * the repetition thresholds. Returns (idCol, text_clean, c4_keep,
    * gopher_keep, rep_keep, keep) with keep the conjunction.
    *
    * Scale shape: the C4 and Gopher rule stages are per-row maps; the
    * only shuffles are the repetition stage's own n-gram aggregates
    * and one equi-join back on the id — composing adds NO new shuffle
    * beyond [[TextAnalysis.gopherRepetitionRules]]'s.
    */
  def qualityPipeline(df: DataFrame, textCol: String, idCol: String,
      badWords: Seq[String] = Seq.empty): DataFrame = {
    // pinned: the cleaned text feeds the Gopher rule map AND the
    // repetition stage's several exploded legs — physical planning
    // would re-inline the C4 line-filter HOFs into each leg
    // (ScanOperation.trimAliases, the domainMixFromUrls lesson), so
    // the cache boundary cleans each page exactly once
    val c4 = CacheLifecycle.pin(
      TextAnalysis.c4Rules(df, textCol, badWords)
        .select(col(idCol), col("c4_text"), col("c4_keep")))
    val g = TextAnalysis.gopherRules(c4, "c4_text")
      .select(col(idCol), col("c4_text"), col("c4_keep"),
        col("gopher_keep"))
    val rep = TextAnalysis.gopherRepetitionRules(
      c4.select(col(idCol), col("c4_text")), "c4_text", idCol)
      .select(col(idCol), col("rep_keep"))
    g.join(rep, Seq(idCol))
      .withColumn("keep",
        col("c4_keep") && col("gopher_keep") && col("rep_keep"))
      .select(col(idCol), col("c4_text").as("text_clean"),
        col("c4_keep"), col("gopher_keep"), col("rep_keep"),
        col("keep"))
  }

  /** Per-domain quality dashboard — the crawl-ops view that decides
    * which domains to keep crawling: for each registrable domain, the
    * document count and how many pass the Gopher quality rule set
    * ([[TextAnalysis.gopherRules]] over `textCol`). Rows with no
    * parseable host aggregate under a null domain (they count — junk
    * provenance is a signal). Narrow per-row maps (url → domain, the
    * rule verdicts) into ONE partial-aggregated hash aggregate; no
    * join, no window.
    */
  def domainQualityStats(df: DataFrame, urlCol: String,
      textCol: String): DataFrame =
    TextAnalysis.gopherRules(df, textCol)
      .withColumn("__host", extractHost(col(urlCol)))
      .withColumn("domain", registrableDomain(col("__host")))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("gopher_keep"), 1L).otherwise(0L))
          .as("gopher_kept"))

  /** Document-length histogram in power-of-two buckets: bucket =
    * ⌊log₂ tokens⌋ computed EXACTLY as `length(bin(n)) − 1` (binary
    * digit count — no floating log, so every engine buckets powers of
    * two identically). Returns (bucket, n_docs, n_tokens) — the
    * length-distribution report that sizes packing windows and
    * truncation budgets. Zero-token docs land in bucket −1. One
    * partial-aggregated hash aggregate over a per-row map.
    */
  def tokenHistogram(df: DataFrame, textCol: String): DataFrame = {
    // explicit null branch: under legacy sizeOfNull, size(null) is -1,
    // which would poison the token sum
    val n = when(col(textCol).isNull, lit(0))
      .otherwise(size(filter(tokens(col(textCol)), t => t =!= "")))
    df.select(n.as("__n"))
      .select(when(col("__n") <= 0, lit(-1))
        .otherwise(length(bin(col("__n"))) - 1).as("bucket"),
        col("__n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).cast(LongType).as("n_tokens"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): score every document under a reference LM
    * ([[TextAnalysis.lmScore]] — Laplace-smoothed bigrams of `refDf`)
    * and split each group (CCNet groups by language — pass any
    * provenance column) into `head` / `middle` / `tail` terciles of
    * the score, head = most-fluent third. Documents the model cannot
    * score (< 2 tokens → null score) land in `tail`, as do documents
    * of a group with no scorable members.
    *
    * The terciles are computed from a QUANTIZED histogram
    * (`⌊score/quantum⌋` buckets), not a per-document rank: a
    * `Window.partitionBy(group)` over the corpus would funnel each
    * language through one partition — the classic hot-partition
    * killer at 100 TB. The histogram is a hash aggregate whose size
    * is ≤ groups × (max_score/quantum) — INDEPENDENT of corpus row
    * count — so the cumulative window runs over a bounded frame and
    * the resulting per-group boundaries broadcast back. Bucket
    * boundary membership is integer math (`cum·3 ≥ total`), so the
    * assignment replays exactly in any engine; the quantum is the
    * documented resolution of the cut.
    */
  def perplexityBuckets(docs: DataFrame, refDf: DataFrame,
      textCol: String, idCol: String, groupCol: String,
      quantum: Double = 0.01): DataFrame = {
    require(quantum > 0,
      s"perplexityBuckets: quantum must be > 0, got $quantum")
    val scored = TextAnalysis.lmScore(docs, refDf, textCol, idCol)
      .join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
      .withColumn("__qb",
        when(col("lm_score").isNotNull,
          (col("lm_score") / quantum).cast(LongType)))
    val hist = scored.where(col("__qb").isNotNull)
      .groupBy(col(groupCol), col("__qb"))
      .agg(count(lit(1)).as("__c"))
    // bounded frame: the window input is the histogram, never the corpus
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(
        Window.partitionBy(col(groupCol)).orderBy(col("__qb"))))
    val tot = hist.groupBy(col(groupCol)).agg(sum("__c").as("__tot"))
    val bounds = cum.join(tot, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        min(when(col("__cum") * 3 >= col("__tot"), col("__qb")))
          .as("__headMax"),
        min(when(col("__cum") * 3 >= col("__tot") * 2, col("__qb")))
          .as("__midMax"))
    // UNHINTED join: `bounds` is one row per group — config-scale for
    // the CCNet language keying, but the API admits ANY group column
    // (per-domain bounds at 100 TB are ~10^8 rows, past any broadcast
    // budget). AQE broadcasts the small case on its own; forcing it
    // here would be the placeDocs escape hatch all over again.
    scored.join(bounds, Seq(groupCol), "left")
      .withColumn("ppl_bucket",
        when(col("lm_score").isNull, lit("tail"))
          .when(col("__qb") <= col("__headMax"), lit("head"))
          .when(col("__qb") <= col("__midMax"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(groupCol), col("n_bigrams"),
        col("lm_score"), col("ppl_bucket"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each
    * source document by how much more likely its hashed n-gram
    * features are under a TARGET corpus's distribution than under the
    * source corpus's own. Features are unigram + bigram instances
    * hashed into `buckets` buckets; each side's bucket model is
    * Laplace-smoothed — p(b) = (count(b) + 1) / (total + buckets) —
    * and a document's log-weight is Σ over its n-gram instances of
    * ln p_target(b) − ln p_source(b). Returns (idCol, n_grams,
    * dsir_logw trunc6); documents whose text yields no n-grams keep a
    * row with n_grams = 0 and a null weight.
    *
    * Scale shape — DSIR's own point: both models are ≤ `buckets`-row
    * aggregates that BROADCAST no matter how large either corpus is
    * (contrast `TextAnalysis.lmScore`, whose bigram table must
    * shuffle-join). The source corpus explodes its n-grams once,
    * pre-aggregates (doc, bucket, n) with map-side partials, and the
    * weight is two broadcast joins + one per-document sum. No window,
    * no product, no driver-side model.
    */
  def dsirWeights(docs: DataFrame, targetDf: DataFrame, textCol: String,
      idCol: String, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"dsirWeights: buckets must be > 0, got $buckets")
    val tCnt = hashedGrams(targetDf, textCol, Seq.empty, buckets)
      .groupBy(col("__b"))
      .agg(count(lit(1)).cast(DoubleType).as("__tc"))
    val sCnt = hashedGrams(docs, textCol, Seq.empty, buckets)
      .groupBy(col("__b"))
      .agg(count(lit(1)).cast(DoubleType).as("__sc"))
    val tTot = tCnt.agg(coalesce(sum("__tc"), lit(0.0)).as("__tT"))
    val sTot = sCnt.agg(coalesce(sum("__sc"), lit(0.0)).as("__sT"))
    val perDoc = hashedGrams(docs, textCol, Seq(col(idCol)), buckets)
      .groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__n"))
      .join(broadcast(tCnt), Seq("__b"), "left")
      .join(broadcast(sCnt), Seq("__b"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(sTot))
      .withColumn("__lw", col("__n") *
        (log((coalesce(col("__tc"), lit(0.0)) + 1.0) /
          (col("__tT") + buckets)) -
          log((coalesce(col("__sc"), lit(0.0)) + 1.0) /
            (col("__sT") + buckets))))
    docs.select(col(idCol)).join(
      perDoc.groupBy(col(idCol)).agg(
        sum("__n").as("n_grams"),
        trunc6(sum("__lw")).as("dsir_logw")),
      Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("dsir_logw"))
  }

  /** DSIR selection: Gumbel-top-k resampling under the importance
    * weights — sampling k documents without replacement with
    * probability ∝ exp(dsir_logw) is EXACTLY taking the k largest
    * dsir_logw + Gumbel(0,1) keys (the Gumbel-max trick). The noise is
    * deterministic and engine-replayable: u = (h32(salt‖id) + 0.5) /
    * 2³², g = −ln(−ln u) — u is never 0 or 1, the same sample on every
    * run and cluster topology. Keys truncate to 6 decimals with the id
    * as tie-break, so the selected SET is stable across engines.
    * Returns (idCol, dsir_key) for the k selected documents.
    *
    * Scale shape: the global top-k plans as TakeOrderedAndProject
    * (per-partition heaps + one k-row driver merge) — no full sort, no
    * window, no single-partition exchange.
    */
  def dsirSelect(docs: DataFrame, targetDf: DataFrame, textCol: String,
      idCol: String, k: Int, buckets: Int = 1024,
      salt: String = "dsir"): DataFrame = {
    require(k > 0, s"dsirSelect: k must be > 0, got $k")
    val u = (h32(concat(lit(salt), col(idCol).cast(StringType))) + 0.5) /
      4294967296.0
    dsirWeights(docs, targetDf, textCol, idCol, buckets)
      .where(col("dsir_logw").isNotNull)
      .withColumn("dsir_key", trunc6(col("dsir_logw") - log(-log(u))))
      .orderBy(col("dsir_key").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("dsir_key"))
  }

  /** Corpus snapshot diff — the release-engineering primitive over two
    * crawls/ingests of the same id space: per id, `added` (only in
    * `next`), `removed` (only in `prev`), `changed` (both, content
    * fingerprint differs), `unchanged`. Content identity is the md5 of
    * the UTF-8 text (the [[Dedup.exact]] fingerprint family), computed
    * MAP-SIDE on each snapshot, so the only exchange is the one
    * full-outer equi-join on id — at 100 TB that is a single co-shuffle
    * of two (id, 32-byte fp) projections, never of the documents
    * themselves, and snapshots bucketed by id on ingest co-locate it
    * away entirely. Returns (idCol, prev_fp, next_fp, status).
    */
  def corpusDiff(prev: DataFrame, next: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val p = prev.select(col(idCol),
      md5(col(textCol).cast(BinaryType)).as("prev_fp"))
    val n = next.select(col(idCol).as("__nid"),
      md5(col(textCol).cast(BinaryType)).as("next_fp"))
    p.join(n, col(idCol) === col("__nid"), "full_outer")
      .select(coalesce(col(idCol), col("__nid")).as(idCol),
        col("prev_fp"), col("next_fp"),
        when(col("prev_fp").isNull, "added")
          .when(col("next_fp").isNull, "removed")
          .when(col("prev_fp") === col("next_fp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** The four-row rollup of [[corpusDiff]] — what an ingest job logs
    * and alerts on (a `changed` spike means the source re-rendered;
    * a `removed` spike means the crawler lost coverage).
    */
  def corpusDiffSummary(prev: DataFrame, next: DataFrame, idCol: String,
      textCol: String): DataFrame =
    corpusDiff(prev, next, idCol, textCol)
      .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))

  // -- standing snapshot fingerprint index --------------------------------
  // The incremental-ingestion form of corpusDiff: a standing pipeline
  // never re-reads prior snapshots to classify a new batch — it keeps an
  // id → content-fingerprint state on disk. Because `changed` must
  // REPLACE an id's fingerprint and parquet appends never rewrite, the
  // state follows the sketch-state/LSM discipline: append-only deltas
  // stamped with a batch number, latest-batch-wins fold at READ time
  // (compaction = rebuild). A batch is a partial view, so the
  // incremental diff reports added/changed/unchanged only — `removed`
  // is undecidable from a batch and stays with full-snapshot
  // [[corpusDiff]].

  /** Persist snapshot content fingerprints as delta 0 of a standing
    * index directory. Ids must be unique document keys (the
    * [[corpusDiff]] contract).
    */
  def buildFpIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String): Unit =
    df.select(col(idCol).as("fp_id"),
        md5(col(textCol).cast(BinaryType)).as("fp"),
        lit(0L).as("fp_batch"))
      .write.mode("overwrite").parquet(s"$dir/fps")

  /** Classify a new batch against the standing state. The index
    * STREAMS (never shuffles): its scan semi-joins the BROADCAST batch
    * key set, and the latest-batch-wins fold runs AFTER that probe, so
    * the group-by is batch-sized even over a billion-id index; the
    * batch side is one narrow fingerprint map plus one equi-join.
    * Returns (idCol, prev_fp, next_fp, status ∈ added/changed/
    * unchanged).
    */
  def diffAgainstFpIndex(spark: SparkSession, dir: String,
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val batch = CacheLifecycle.pin(df.select(col(idCol),
      md5(col(textCol).cast(BinaryType)).as("next_fp")))
    val keys = batch.select(col(idCol).as("fp_id")).distinct()
    val hits = spark.read.parquet(s"$dir/fps")
      .join(broadcast(keys), Seq("fp_id"), "left_semi")
      .groupBy(col("fp_id"))
      .agg(max(struct(col("fp_batch"), col("fp"))).as("__s"))
      .select(col("fp_id"), col("__s.fp").as("prev_fp"))
    batch.join(hits, col(idCol) === col("fp_id"), "left")
      .select(col(idCol), col("prev_fp"), col("next_fp"),
        when(col("prev_fp").isNull, "added")
          .when(col("prev_fp") === col("next_fp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Fold a batch into the standing state: only its `added`/`changed`
    * rows append, stamped max(fp_batch)+1 — `unchanged` rows write
    * nothing, so delta size tracks churn, not batch size.
    */
  def updateFpIndex(spark: SparkSession, dir: String, df: DataFrame,
      idCol: String, textCol: String): Unit = {
    val cur = spark.read.parquet(s"$dir/fps")
      .agg(max(col("fp_batch"))).head()
    val next = (if (cur.isNullAt(0)) 0L else cur.getLong(0)) + 1L
    diffAgainstFpIndex(spark, dir, df, idCol, textCol)
      .where(col("status") =!= "unchanged")
      .select(col(idCol).as("fp_id"), col("next_fp").as("fp"),
        lit(next).as("fp_batch"))
      .write.mode("append").parquet(s"$dir/fps")
  }
}
