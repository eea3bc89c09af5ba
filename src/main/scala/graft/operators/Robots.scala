package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** robots.txt compliance filtering — the politeness/consent gate a
  * crawl corpus is supposed to pass before anything else uses it
  * (increasingly a dataset-governance requirement, not just crawler
  * etiquette). Two relational stages:
  *
  *   1. [[parseRules]]: robots.txt payloads → per-host (prefix, allow)
  *      rules for one user agent. The group structure (consecutive
  *      `User-agent:` lines, then rules until the next group) is a
  *      gaps-and-islands problem, solved RELATIONALLY — line explode,
  *      running group id, group-to-agent semi-join — not with a
  *      per-document parser kernel: robots files are tiny and the
  *      window keys on (host, group), so everything partial-aggregates.
  *   2. [[filterAllowed]]: URL corpus ⋈ broadcast rules on host;
  *      applicable = path starts-with prefix; the verdict is the
  *      LONGEST applicable prefix, ties to Allow — the published
  *      precedence rule (REP, RFC 9309 §2.2.2). No applicable rule, or
  *      no robots.txt for the host at all, means allowed.
  *
  * Matching comes in two grades: the prefix-only 1994 REP forms
  * ([[verdicts]]/[[verdictsLit]]) and the full RFC 9309 wildcard
  * forms ([[verdictsWildcard]]/[[verdictsWildcardLit]]; `*` matches
  * any character run, a trailing `$` anchors the end of the path).
  * Precedence in both grades is the RFC's "most octets" rule on the
  * ORIGINAL pattern text, ties to Allow. Agent resolution is
  * exact-token-else-`*` (the two groups real crawlers publish for).
  *
  * Scale shape: rules are O(hosts) and broadcast; the URL corpus never
  * shuffles — one broadcast join + one partial-aggregated max per URL.
  */
object Robots {

  /** The shared group machinery: robots bodies → the directive rows
    * (host, key, value) of the group `agent` resolves to
    * (exact-token-else-`*`). Every directive extractor ([[parseRules]]
    * for Allow/Disallow, [[parseCrawlDelay]] for Crawl-delay) filters
    * this one relation, so agent resolution can never diverge between
    * directives.
    */
  private def agentDirectives(robots: DataFrame, hostCol: String,
      textCol: String, agent: String): DataFrame = {
    val byPos = Window.partitionBy(col("host")).orderBy(col("pos"))
    val lines = robots
      .select(col(hostCol).as("host"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "raw")))
      // comments out, edges trimmed, directive key case-folded
      .select(col("host"), col("pos"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
      .filter(col("line") =!= "")
      .select(col("host"), col("pos"),
        lower(trim(regexp_extract(col("line"), "^([^:]+):", 1))).as("key"),
        trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)).as("value"))
    // a group STARTS at a user-agent line whose predecessor isn't one
    val grouped = lines
      .withColumn("is_ua", col("key") === "user-agent")
      .withColumn("grp", sum(
        when(col("is_ua") &&
          !coalesce(lag(col("is_ua"), 1).over(byPos), lit(false)), 1L)
          .otherwise(0L)).over(byPos))
    val groups = grouped.filter(col("is_ua"))
      .groupBy(col("host"), col("grp"))
      .agg(collect_set(lower(col("value"))).as("agents"))
    // exact agent group if the host has one, else the '*' group
    val hasExact = groups
      .filter(array_contains(col("agents"), agent.toLowerCase))
      .select(col("host")).distinct().withColumn("exact", lit(true))
    val chosen = groups
      .join(hasExact, Seq("host"), "left")
      .filter(
        when(coalesce(col("exact"), lit(false)),
          array_contains(col("agents"), agent.toLowerCase))
        .otherwise(array_contains(col("agents"), "*")))
      .select(col("host"), col("grp"))
    grouped.join(chosen, Seq("host", "grp"))
  }

  /** robots.txt bodies → one rule row per (host, prefix, allow) for
    * `agent`. `robots` needs (`hostCol`, `textCol`).
    */
  def parseRules(robots: DataFrame, hostCol: String, textCol: String,
      agent: String = "*"): DataFrame =
    agentDirectives(robots, hostCol, textCol, agent)
      .filter(col("key").isin("allow", "disallow") && col("value") =!= "")
      .select(col("host"), col("value").as("prefix"),
        (col("key") === "allow").as("allow"))
      .distinct()

  /** The `Crawl-delay` directive (the de-facto extension most
    * non-Google crawlers honor) for `agent`: one row per host that
    * declares one, `delay_s` = the MAX declared integer seconds in
    * the resolved group (conservative when a group repeats the
    * directive); non-numeric values drop, same agent resolution as
    * [[parseRules]] by construction. Join against
    * [[CrawlPipeline.hostFetchStats]] to audit declared-vs-measured
    * politeness (the doc_crawl_delay_compliance shape).
    */
  def parseCrawlDelay(robots: DataFrame, hostCol: String, textCol: String,
      agent: String = "*"): DataFrame =
    agentDirectives(robots, hostCol, textCol, agent)
      // 1..9 digits: a wider run of digits still matches ^\d+$ but
      // overflows cast("long") (ANSI CAST_OVERFLOW would crash the
      // whole parse on one garbage directive in a public robots.txt),
      // and 0 semantically means "no delay" — both drop like any
      // other non-numeric value
      .filter(col("key") === "crawl-delay" &&
        col("value").rlike("^\\d{1,9}$") && col("value").cast("long") > 0)
      .groupBy(col("host"))
      .agg(max(col("value").cast("long")).as("delay_s"))

  /** The `Sitemap:` directive (sitemaps.org discovery): GLOBAL per
    * the protocol — valid anywhere in the file, INDEPENDENT of
    * user-agent groups — so this extractor reads raw lines rather
    * than the group-resolved relation the per-agent directives share.
    * One distinct row per (host, sitemap_url); comments strip, key
    * matches case-insensitively, absolute URLs pass through as
    * declared. Feed the URLs to a fetcher and the bodies to
    * [[CrawlPipeline.sitemapEntries]] — the discovery loop robots
    * closes (robots → sitemaps → URL inventory → re-crawl schedule).
    */
  def parseSitemaps(robots: DataFrame, hostCol: String,
      textCol: String): DataFrame =
    robots.select(col(hostCol).as("host"),
        explode(split(col(textCol), "\n")).as("raw"))
      .select(col("host"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
      .filter(lower(col("line")).startsWith("sitemap:"))
      .select(col("host"), trim(expr("substring(line, 9)"))
        .as("sitemap_url"))
      .filter(col("sitemap_url") =!= "")
      .distinct()

  /** URL → (host minus port, path-or-"/") columns — shared by every
    * verdict form so the two matching grades can't drift on URL
    * normalization.
    */
  private def withUrlParts(urls: DataFrame, urlCol: String): DataFrame = {
    val host = lower(regexp_extract(col(urlCol), "(?i)^https?://([^/]+)", 1))
    val path0 = regexp_replace(col(urlCol), "(?i)^https?://[^/]+", "")
    urls
      .withColumn("__host", regexp_replace(host, ":\\d+$", "")) // port off
      .withColumn("__path", when(path0 === "", "/").otherwise(path0))
  }

  /** The relational verdict core: distinct (url, host, path) ⋈
    * broadcast rules on host, `applicable` decides rule match, the
    * winner is max(struct(pattern octets, allow)) — the RFC 9309
    * precedence (most OCTETS — `octet_length`, UTF-8 bytes, not
    * characters — ties to Allow); URLs with no applicable rule (or no
    * robots host) coalesce to allowed.
    */
  private def relationalVerdicts(urls: DataFrame, urlCol: String,
      rules: DataFrame, applicable: Column): DataFrame = {
    val withParts = withUrlParts(urls, urlCol)
    val verdict = withParts
      .select(col(urlCol).as("__u"), col("__host"), col("__path")).distinct()
      .join(broadcast(rules), col("__host") === rules("host"))
      .filter(applicable)
      .groupBy(col("__u"))
      .agg(max(struct(octet_length(col("prefix")).as("l"),
        col("allow").cast("int").as("a"))).getField("a").as("__a"))
    withParts
      .join(verdict, withParts(urlCol) === verdict("__u"), "left")
      .withColumn("allowed", coalesce(col("__a") === 1, lit(true)))
      .drop("__u", "__a", "__host", "__path")
  }

  /** Keep the allowed URLs. `urls` keeps all its columns plus an
    * `allowed` verdict; pass the [[parseRules]] output as `rules`.
    */
  def verdicts(urls: DataFrame, urlCol: String, rules: DataFrame): DataFrame =
    relationalVerdicts(urls, urlCol, rules,
      col("__path").startsWith(col("prefix")))

  def filterAllowed(urls: DataFrame, urlCol: String, rules: DataFrame): DataFrame =
    verdicts(urls, urlCol, rules).filter(col("allowed")).drop("allowed")

  /** One RFC 9309 pattern → an anchored regex that the Java and RE2
    * dialects read identically (escaped literals, `.*`, `^`, `$`
    * only): `*` matches any character run, a TRAILING `$` is the
    * end-of-path anchor, everything else — an inner `$` included — is
    * literal.
    */
  private[operators] def wildcardRegex(pat: String): String = {
    val anchored = pat.endsWith("$")
    val body = if (anchored) pat.dropRight(1) else pat
    val esc = body.flatMap {
      case '*' => ".*"
      case c if "\\.[]{}()+?^$|".contains(c) => "\\" + c
      case c => c.toString
    }
    "^" + esc + (if (anchored) "$" else "")
  }

  /** [[wildcardRegex]] as a scan expression over the [[parseRules]]
    * output, so the relational wildcard form never collects: rules
    * flow parse → compile → broadcast join entirely in-plan. Adds
    * `re` (the anchored regex) and `plen` (the ORIGINAL pattern's
    * octet count — the RFC precedence key; `*`/`$` count, their
    * expansion doesn't).
    */
  def compileWildcardRules(rules: DataFrame): DataFrame = {
    val anchored = col("prefix").endsWith("$")
    val body = when(anchored,
      expr("substring(prefix, 1, length(prefix) - 1)")).otherwise(col("prefix"))
    val escaped = regexp_replace(body, "([\\\\.\\[\\]{}()+?^$|])", "\\\\$1")
    rules
      .withColumn("plen", octet_length(col("prefix")))
      .withColumn("re", concat(lit("^"), regexp_replace(escaped, "\\*", ".*"),
        when(anchored, lit("$")).otherwise(lit(""))))
  }

  /** Full RFC 9309 matching (`*`/`$` wildcards): same broadcast-join
    * shape as [[verdicts]] — compiled-regex rule rows are still
    * O(hosts) — with per-row `regexp_like` as the applicability test.
    * A pattern with no wildcard compiles to `^<escaped literal>`,
    * whose regex-prefix match IS startsWith, so this form strictly
    * subsumes the prefix form (spec-pinned).
    *
    * COST NOTE: the pattern operand of `regexp_like` here is a column,
    * not a literal, and Spark's RLike caches only the LAST compiled
    * pattern — the broadcast join emits a different rule regex on
    * nearly every consecutive row, so the regex recompiles up to
    * (urls × rules-per-host) times. Fine for rule-audit relations;
    * for a large URL corpus use [[verdictsWildcardLit]], which
    * compiles every pattern exactly once at plan build.
    */
  def verdictsWildcard(urls: DataFrame, urlCol: String, rules: DataFrame): DataFrame =
    relationalVerdicts(urls, urlCol, compileWildcardRules(rules),
      regexp_like(col("__path"), col("re")))

  /** Zero-shuffle, streaming-safe verdicts: the rule set (bounded —
    * O(hosts), the same contract that lets [[verdicts]] broadcast)
    * collects ONCE at plan build into a host → pre-sorted-rules map
    * LITERAL, and each URL resolves per-row: look up its host's rules,
    * `filter` to the applicable prefixes, take the first — the arrays
    * are pre-sorted (prefix length desc, Allow first) so element 1 IS
    * the RFC 9309 winner. A pure projection: no distinct, no groupBy,
    * no join — runs unchanged on a readStream in append mode
    * ([[CrawlPipeline.fromWarcStream]]) and beats the relational form
    * batch-side too (the relational form stays for rule sets too big
    * to ship as a plan literal).
    */
  def verdictsLit(urls: DataFrame, urlCol: String, rules: DataFrame): DataFrame =
    litVerdicts(urls, urlCol, collectByHost(rules, identity),
      (path, r) => path.startsWith(r.getField("prefix")))

  def filterAllowedLit(urls: DataFrame, urlCol: String, rules: DataFrame): DataFrame =
    verdictsLit(urls, urlCol, rules).filter(col("allowed")).drop("allowed")

  /** Streaming-safe wildcard twin: rules compile to regexes ONCE at
    * plan build ([[wildcardRegex]]) and ride the plan literal; the
    * per-row test is `regexp_like` against the pre-sorted array —
    * element 1 of the applicable filter is still the RFC winner
    * because the sort key stays the ORIGINAL pattern's octet count.
    */
  def verdictsWildcardLit(urls: DataFrame, urlCol: String, rules: DataFrame): DataFrame =
    litVerdicts(urls, urlCol, collectByHost(rules, wildcardRegex),
      (path, r) => regexp_like(path, r.getField("prefix")))

  /** Collect the bounded rule set host→rules, RFC-sorted (original
    * pattern OCTETS — UTF-8 bytes, matching the relational forms'
    * `octet_length` key — desc, Allow first) BEFORE `xform` maps the
    * pattern (identity for prefix matching, [[wildcardRegex]] for
    * wildcard matching), so precedence never keys on the expansion.
    */
  private def collectByHost(rules: DataFrame,
      xform: String => String): Map[String, Seq[(String, Boolean)]] =
    rules
      .select(col("host"), col("prefix"), col("allow"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .groupBy(_._1)
      .map { case (h, rs) =>
        h -> rs.map(t => (t._2, t._3)).distinct
          .sortBy { case (p, a) =>
            (-p.getBytes(java.nio.charset.StandardCharsets.UTF_8).length, !a) }
          .map { case (p, a) => (xform(p), a) }.toSeq
      }

  private def litVerdicts(urls: DataFrame, urlCol: String,
      byHost: Map[String, Seq[(String, Boolean)]],
      matches: (Column, Column) => Column): DataFrame = {
    val ruleMap: Column =
      if (byHost.isEmpty) // typed null: bare map() is map<string,void>
        lit(null).cast("map<string,array<struct<prefix:string,allow:boolean>>>")
      else map(byHost.toSeq.sortBy(_._1).flatMap { case (h, rs) =>
        Seq(lit(h), array(rs.map { case (p, a) =>
          struct(lit(p).as("prefix"), lit(a).as("allow"))
        }: _*))
      }: _*)
    val host = regexp_replace(
      lower(regexp_extract(col(urlCol), "(?i)^https?://([^/]+)", 1)),
      ":\\d+$", "")
    val path0 = regexp_replace(col(urlCol), "(?i)^https?://[^/]+", "")
    val path = when(path0 === "", "/").otherwise(path0)
    val hostRules = element_at(ruleMap, host)
    val applicable = filter(hostRules, r => matches(path, r))
    urls.withColumn("allowed",
      when(hostRules.isNull || size(applicable) === 0, lit(true))
        .otherwise(element_at(applicable, 1).getField("allow")))
  }
}
