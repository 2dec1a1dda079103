package graft.politeness

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.RobotsRule

/** Robots.txt gate (SURVEY.md §2 #25; reference `ROBOTSTXT_OBEY = True`,
  * settings.py:22).
  *
  * Rules live in a small side table `(host, pathPrefix, allow)`, collapsed
  * to one row per host and joined 1:1 against the frontier (north_rule:
  * "robots.txt rules as a broadcast side table" — the join IS broadcast
  * whenever the table is actually small, chosen by the planner rather
  * than forced; see [[perHost]]). RFC 9309 semantics:
  * longest-matching rule wins, Allow wins length ties (§2.2.2 "least
  * restrictive"), `*` matches any character sequence and a trailing `$`
  * anchors at path end (§2.2.3), groups may list several User-agent lines
  * (§2.2.1), `#` starts a comment; no matching rule ⇒ allowed; a host with
  * no rules at all ⇒ allowed.
  *
  * DELIBERATE DEVIATION from the reference stack: Scrapy 1.8's default
  * parser applies rules with its own precedence quirks. This engine uses
  * the RFC 9309 longest-match rule — an intentional upgrade, because
  * order-dependent verdicts make the gate's result depend on rule-file
  * serialization rather than on the rules themselves. The two differ only
  * for overlapping Allow/Disallow prefixes where the shorter rule appears
  * first; the reference's own targets publish no such overlapping rules.
  */
object Robots {

  /** Parse one robots.txt body (groups matching User-agent `*` — the
    * reference crawls with Scrapy's default UA) into rules. A group may
    * list several consecutive `User-agent:` lines that all share the
    * group's rules (RFC 9309 §2.2.1); `#` starts a comment anywhere on a
    * line (§2.2).
    */
  def parse(host: String, body: String): Seq[RobotsRule] = {
    var inStar = false
    var collectingUAs = false
    val rules = Seq.newBuilder[RobotsRule]
    body.linesIterator
      .map { l => val h = l.indexOf('#'); (if (h < 0) l else l.substring(0, h)).trim }
      .filter(_.nonEmpty)
      .foreach { line =>
        val lower = line.toLowerCase
        if (lower.startsWith("user-agent:")) {
          // consecutive UA lines open ONE group; any of them being '*'
          // makes the group's rules ours (an overwrite here dropped rules
          // of groups listing '*' anywhere but last)
          if (!collectingUAs) { inStar = false; collectingUAs = true }
          if (line.substring(11).trim == "*") inStar = true
        } else {
          collectingUAs = false
          if (inStar && lower.startsWith("disallow:")) {
            val p = line.substring(9).trim
            if (p.nonEmpty) rules += RobotsRule(host, p, allow = false)
          } else if (inStar && lower.startsWith("allow:")) {
            val p = line.substring(6).trim
            if (p.nonEmpty) rules += RobotsRule(host, p, allow = true)
          }
        }
      }
    rules.result()
  }

  /** Sitemap URLs declared in a robots.txt body, in file order. `Sitemap:`
    * lines are GROUP-INDEPENDENT (sitemaps.org protocol: unlike
    * allow/disallow they apply regardless of any User-agent group), so
    * they are collected from anywhere in the file; the key is
    * case-insensitive and `#` comments strip first, like every other line.
    * This is the discovery half of robots handling — the extracted URLs
    * feed [[graft.plan.Sitemaps.parseEntries]] and from there the
    * frontier.
    */
  def sitemapUrls(body: String): Seq[String] =
    body.linesIterator
      .map { l => val h = l.indexOf('#'); (if (h < 0) l else l.substring(0, h)).trim }
      .filter(_.nonEmpty)
      .filter(_.toLowerCase.startsWith("sitemap:"))
      // first whitespace-delimited token: a URL never contains spaces, and
      // this keeps the scalar bit-identical to the Column dual's regex
      .map(_.substring(8).trim.takeWhile(!_.isWhitespace))
      .filter(_.nonEmpty)
      .toSeq

  /** (host, sitemap_pos, sitemap_url) rows from the /robots.txt pages of
    * the page table — the DataFrame dual of [[sitemapUrls]], as a pure
    * codegen'd regexp over the body (one multiline extract-all +
    * posexplode; no UDF). SitemapExtractSpec pins column ≡ scalar on the
    * hostile bodies. Host derivation shares [[graft.urls.UrlCols.hostCol]]
    * with the frontier, same as [[rulesFromPages]].
    */
  def sitemapsFromPages(pages: DataFrame): DataFrame = {
    // per line: optional leading blanks, case-insensitive 'sitemap', blanks
    // around ':', then the URL = everything up to whitespace or a comment.
    // [^\S\r\n] = horizontal whitespace only — \s would let the key match
    // across line breaks
    val lineRe = "(?im)^[^\\S\\r\\n]*sitemap:[^\\S\\r\\n]*([^\\s#]+)"
    pages
      .filter(col("url").rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]+/robots\\.txt$"))
      .select(
        graft.urls.UrlCols.hostCol(col("url")).as("host"),
        posexplode(regexp_extract_all(col("text"), lit(lineRe), lit(1)))
          .as(Seq("sitemap_pos", "sitemap_url")))
      .filter(col("sitemap_url") =!= "")
  }

  /** Robots path pattern → anchored Java regex: `*` matches any sequence,
    * a trailing `$` anchors at path end, every other character is literal
    * (RFC 9309 §2.2.3).
    */
  private[graft] def patternToRegex(p: String): String = {
    val endAnchor = p.endsWith("$")
    val body = if (endAnchor) p.dropRight(1) else p
    val sb = new StringBuilder("^")
    body.foreach {
      case '*' => sb.append(".*"): Unit
      case c if "\\^$.|?+()[]{}".indexOf(c) >= 0 => sb.append('\\').append(c): Unit
      case c => sb.append(c): Unit
    }
    if (endAnchor) sb.append('$')
    sb.toString
  }

  /** Path component of a URL (no query/fragment), "/" if empty. */
  def pathCol(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val afterScheme = regexp_replace(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    val path = regexp_extract(afterScheme, "^[^/?#]*(/[^?#]*)?", 1)
    when(path === "", "/").otherwise(path)
  }

  /** Keep frontier rows whose (host, path) is allowed. */
  def allowed(frontier: DataFrame, rules: DataFrame): DataFrame =
    withVerdict(frontier, perHost(rules)).filter(col(Verdict)).drop(Verdict)

  /** The flag [[withVerdict]] adds. */
  val Verdict = "__robotsOk"

  private val PerHostSchema = StructType.fromDDL(
    "__rhost STRING, __rules ARRAY<STRUCT<p: STRING, a: BOOLEAN>>, " +
      "__wrules ARRAY<STRUCT<rx: STRING, len: INT, a: BOOLEAN>>")

  /** The rules collapsed to ONE row per host, so the join in
    * [[withVerdict]] is 1:1 and the frontier is never multiplied. Two
    * arrays per host: plain prefix rules (the overwhelming majority), and
    * wildcard rules (`*`/`$`) translated to regexes here, once, so the
    * per-row regex cost is paid ONLY on rows of hosts that actually publish
    * wildcard rules. A rule with a null path or verdict is ignored.
    *
    * Rules that live in driver memory already (a local table) are
    * collapsed there, with no Spark job; any other table by a distributed
    * aggregation, never collected: the rules grow with distinct hosts
    * crawled — kilobytes for a focused crawl, multi-GB at 10^8 web hosts.
    * The join is deliberately NOT hinted broadcast (same reasoning as the
    * host-state join in Scheduler): the planner broadcasts the collapsed
    * table whenever it is actually small, and shuffles on host otherwise.
    */
  def perHost(rules: DataFrame): DataFrame = {
    def isWild(p: String): Boolean = p.contains("*") || p.contains("$")
    localRows(rules) match {
      case Some(rows) =>
        val Seq(h, p, a) = Seq("host", "pathPrefix", "allow").map(rules.schema.fieldIndex)
        val collapsed = rows.filter(r => !r.isNullAt(p) && !r.isNullAt(a)).groupBy(_.getString(h)).toSeq
          .map { case (host, rs) =>
            val (wild, plain) = rs.partition(r => isWild(r.getString(p)))
            Row(host,
              plain.map(r => Row(r.getString(p), r.getBoolean(a))),
              wild.map(r => Row(patternToRegex(r.getString(p)), r.getString(p).length, r.getBoolean(a))))
          }
        rules.sparkSession.createDataFrame(collapsed.asJava, PerHostSchema)
      case None =>
        val valid = rules.filter(col("pathPrefix").isNotNull && col("allow").isNotNull)
        val wild = udf((p: String) => isWild(p)).apply(col("pathPrefix"))
        val rx = udf((p: String) => patternToRegex(p))
        // collect_list skips the nulls the unmatched when() branches produce
        valid.groupBy(col("host").as("__rhost")).agg(
          collect_list(when(!wild, struct(col("pathPrefix").as("p"), col("allow").as("a")))).as("__rules"),
          collect_list(when(wild, struct(rx(col("pathPrefix")).as("rx"),
            length(col("pathPrefix")).as("len"), col("allow").as("a")))).as("__wrules"))
    }
  }

  /** The rows of a table held in driver memory, read off its local
    * relation: no Spark job and no generated class. None for any other
    * table.
    */
  private[graft] def localRows(df: DataFrame): Option[Seq[Row]] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(l.schema)
        Some(l.data.map(toRow(_).asInstanceOf[Row]))
      case _ => None
    }

  /** True when `df` is a table held in driver memory. */
  private[graft] def isLocal(df: DataFrame): Boolean = localRows(df).isDefined

  /** `frontier` plus the boolean [[Verdict]]: true where (host, path) is
    * allowed by `perHostRules` ([[perHost]]).
    */
  def withVerdict(frontier: DataFrame, perHostRules: DataFrame): DataFrame = {
    // rules match against path + query (RFC 9309 §2.2.2 matches the path
    // and optional query — '/*?sessionid=' style rules exist in the wild);
    // fragment stays excluded
    val path = concat(pathCol(col("url")), regexp_extract(col("url"), "^[^#?]*(\\?[^#]*)", 1))
    frontier.join(perHostRules, col("host") === col("__rhost"), "left")
      .withColumn(Verdict, verdictUdf(path, col("__rules"), col("__wrules")))
      .drop("__rhost", "__rules", "__wrules")
  }

  /** The verdict over one host's collapsed rules: longest match wins,
    * Allow wins length ties (RFC 9309 §2.2.2 — a `>`-only comparator would
    * leave equal-length Allow/Disallow ties to rule order, i.e.
    * nondeterministic); no matching rule, or no rules, allows. A Scala
    * function keeps the gate inside Spark's generated code, which the
    * higher-order array functions would split.
    */
  private val verdictUdf = {
    // compiled wildcard patterns, one map per deserialized copy (per task)
    val patterns = new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
    udf { (path: String, plain: Seq[Row], wild: Seq[Row]) =>
      var len = -1
      var allow = true
      def consider(l: Int, a: Boolean): Unit =
        if (l > len || (l == len && a && !allow)) { len = l; allow = a }
      if (path != null) {
        if (plain != null) plain.foreach { r =>
          if (path.startsWith(r.getString(0))) consider(r.getString(0).length, r.getBoolean(1))
        }
        if (wild != null) wild.foreach { r =>
          val rx = patterns.computeIfAbsent(r.getString(0), java.util.regex.Pattern.compile(_))
          if (rx.matcher(path).find()) consider(r.getInt(1), r.getBoolean(2))
        }
      }
      allow
    }
  }

  /** Rules table from robots.txt pages stored in the page table itself —
    * the offline dual of Scrapy fetching `/robots.txt` per host before
    * crawling it (settings.py:22). Rows whose URL path is exactly
    * /robots.txt are parsed (User-agent: * section) into (host,
    * pathPrefix, allow) rules.
    */
  def rulesFromPages(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    val parseUdf = udf((host: String, body: String) =>
      parse(host, if (body == null) "" else body)
        .map(r => (r.pathPrefix, r.allow)))
    // host derived via the SAME expression the frontier uses (UrlCols.hostCol
    // incl. the URI-hostile-host UDF fallback): bare parse_url would yield
    // host=NULL for e.g. underscore hosts, whose disallow rules would then
    // never match any frontier row — the gate failing open for exactly the
    // hosts the fallback exists for.
    pages
      .filter(col("url").rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]+/robots\\.txt$"))
      .select(graft.urls.UrlCols.hostCol(col("url")).as("host"), col("text"))
      .select(col("host"), explode(parseUdf(col("host"), col("text"))).as("r"))
      .select(col("host"), col("r._1").as("pathPrefix"), col("r._2").as("allow"))
  }

  /** Offsite filter (SURVEY.md §2 #28): drop URLs whose host is not the
    * allowed domain or a subdomain of it (Scrapy OffsiteMiddleware).
    */
  def onSite(frontier: DataFrame, allowedDomains: Seq[String]): DataFrame =
    frontier.filter(isOnSite(allowedDomains))

  /** [[onSite]]'s predicate; null for a null host. */
  def isOnSite(allowedDomains: Seq[String]): Column =
    allowedDomains
      .map(d => col("host") === d || endswith(col("host"), lit("." + d)))
      .reduce(_ || _)
}
