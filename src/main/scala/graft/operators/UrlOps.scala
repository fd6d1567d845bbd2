package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL-level corpus operators — the FIRST stage of every web-scale
  * training pipeline (C4, RefinedWeb, CCNet, Dolma all dedupe crawl
  * records by canonical URL and drop blocklisted domains before any
  * text ever gets tokenized; the reference ingests device topics, but a
  * corpus engine at 100 TB starts from crawl WARCs keyed by URL).
  *
  * Everything here is composed from Catalyst built-ins
  * (regexp/split/filter/array_sort/concat) plus ONE compiled kernel
  * (the percent-escape normalizer — see [[normalizePctEncoding]] for
  * the measured WholeStageCodegen reason), and a DuckDB oracle replays
  * every rule term for term. Canonicalization is a pure map
  * (shuffle-free, narrow); precision note: the regexp/concat terms and
  * the kernel codegen, while the tracking-param `filter` lambda is
  * CodegenFallback — interpreted but JVM-columnar, the same class as
  * [[Dedup]]'s shingles. The rules:
  *
  *  - strip the fragment (`#...`)
  *  - normalize percent-encoding (RFC 3986 §6.2.2.2): decode escapes
  *    of UNRESERVED characters (`%7E` → `~`), uppercase the hex of
  *    every other escape (`%2f` → `%2F`); malformed escapes (a `%`
  *    not followed by two hex digits) pass through untouched
  *  - lowercase scheme and authority (path/query stay case-sensitive)
  *  - strip the scheme-default port (`:80` for http, `:443` for https)
  *  - strip a leading `www.` label
  *  - strip trailing `/` from the path
  *  - drop tracking query params (`utm_*`, `fbclid`, `gclid`, `ref`),
  *    sort the survivors byte-lexicographically, drop an emptied `?`
  *
  * Deliberately out of scope (documented, not silently wrong):
  * IDN/punycode, userinfo, IPv6 literals. Public-suffix awareness is
  * the [[registrableChain]] tier ([[domainChain]] stays the purely
  * label-structural fallback). Inputs are expected to be absolute
  * http(s) URLs; a scheme-less string flows through the same formula
  * unchanged (canonical form starts with `://`), identically on both
  * engines.
  */
object UrlOps {

  /** Query params dropped before canonical comparison. Non-capturing
    * groups only — the pattern must mean the same thing to Java regex
    * (Spark) and RE2 (DuckDB).
    */
  private[operators] val TrackingParamRe = "^(?:utm_[^=]*|fbclid|gclid|ref)(?:=|$)"
  private[operators] val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"

  /** Fragment-stripped, percent-normalized form of a URL — the shared
    * first step of every canonical term. Percent normalization runs on
    * the WHOLE URL once: unreserved characters never include a
    * delimiter (`/ ? # & =` all stay escaped, merely uppercased), so
    * decoding before component extraction cannot change the parse.
    *
    * One fused kernel, deliberately: Catalyst duplicates this subtree
    * into EVERY term that uses it (scheme, host, path, query — ~8
    * copies in [[canonicalizeUrl]]'s expression tree, no CSE in the
    * interpreted projection the tracking-param lambda forces), so the
    * shared step must be cheap per copy — an `indexOf` + at most one
    * substring + the escape scan, no regex.
    */
  private def normalized(url: Column): Column = normalizeUrlKernel(url)

  private val normalizeUrlKernel = udf { (s: String) =>
    if (s == null) null
    else {
      val h = s.indexOf('#')
      pctNormalizeStr(if (h >= 0) s.substring(0, h) else s)
    }
  }

  /** RFC 3986 percent-encoding normalization: split on `%`, and for
    * each following segment decode the two-hex-digit escape when it
    * names an unreserved byte (ALPHA / DIGIT / `-` `.` `_` `~`),
    * uppercase the hex otherwise, and reassemble.
    *
    * Implementation is a COMPILED KERNEL (one pass, zero allocation on
    * the escape-free fast path), not a split/`transform` higher-order
    * expression: the round-11 close run measured the HOF draft pulling
    * the whole canonicalization projection out of WholeStageCodegen
    * (one CodegenFallback expression is enough) for ~2× on every
    * URL-family row, and a lazy-CaseWhen guard did NOT recover it
    * because the cost was the projection-wide codegen exit. `ScalaUDF`
    * codegens as a plain invoke, so the surrounding regexp/concat
    * chain stays fused — the same measured trade as the ANN dot
    * kernels. The DuckDB oracle replays the rule as the equivalent
    * `%`-split list transform; semantics are pinned identical by the
    * rule-by-rule spec and the escape-equivalence property.
    */
  private def pctNormalizeStr(s: String): String = {
    if (s == null || s.indexOf('%') < 0) s
    else {
      def hexVal(ch: Char): Int =
        if (ch >= '0' && ch <= '9') ch - '0'
        else if (ch >= 'A' && ch <= 'F') ch - 'A' + 10
        else if (ch >= 'a' && ch <= 'f') ch - 'a' + 10
        else -1
      val n = s.length
      val sb = new java.lang.StringBuilder(n)
      var i = 0
      while (i < n) {
        val ch = s.charAt(i)
        if (ch == '%' && i + 2 < n &&
            hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
          val code = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
          val unreserved = (code >= 48 && code <= 57) ||
            (code >= 65 && code <= 90) || (code >= 97 && code <= 122) ||
            code == 45 || code == 46 || code == 95 || code == 126
          if (unreserved) sb.append(code.toChar)
          else sb.append('%')
            .append(Character.toUpperCase(s.charAt(i + 1)))
            .append(Character.toUpperCase(s.charAt(i + 2)))
          i += 3
        } else {
          sb.append(ch)
          i += 1
        }
      }
      sb.toString
    }
  }

  private[operators] val normalizePctEncoding = udf(pctNormalizeStr _)

  /** Canonical form of an absolute URL, per the rules above. Pure
    * column expression — map-only, shuffle-free.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = normalized(url)
    val scheme = lower(regexp_extract(noFrag, SchemeRe, 1))
    val rest = regexp_replace(noFrag, SchemeRe, "")
    val host = hostOf(scheme, rest)
    val path = regexp_replace(
      regexp_extract(rest, "^[^/?]*([^?]*)", 1), "/+$", "")
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val params = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike(TrackingParamRe)))
    val qs = array_join(params, "&")
    concat(scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
  }

  /** Canonical host of an absolute URL: lowercased authority, default
    * port stripped, leading `www.` stripped.
    */
  def canonicalHost(url: Column): Column = {
    val noFrag = normalized(url)
    val scheme = lower(regexp_extract(noFrag, SchemeRe, 1))
    hostOf(scheme, regexp_replace(noFrag, SchemeRe, ""))
  }

  /** Canonical form of a BARE host string (a robots/blocklist rule key,
    * not a URL): lowercase, strip a scheme-default port, strip a
    * leading `www.` — the same rules [[canonicalHost]] applies to a
    * URL's authority, so rule keys recorded as `www.example.com` or
    * `example.com:443` match the corpus side.
    */
  def canonicalBareHost(host: Column): Column =
    regexp_replace(regexp_replace(lower(host), ":(80|443)$", ""), "^www\\.", "")

  private def hostOf(scheme: Column, rest: Column): Column = {
    val authority = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val noPort = when(scheme === "http", regexp_replace(authority, ":80$", ""))
      .when(scheme === "https", regexp_replace(authority, ":443$", ""))
      .otherwise(authority)
    regexp_replace(noPort, "^www\\.", "")
  }

  /** Canonical path of an absolute URL: everything between the
    * authority and the query/fragment, trailing slashes stripped —
    * the same path term [[canonicalizeUrl]] assembles.
    */
  def canonicalPath(url: Column): Column = {
    val noFrag = normalized(url)
    val rest = regexp_replace(noFrag, SchemeRe, "")
    regexp_replace(regexp_extract(rest, "^[^/?]*([^?]*)", 1), "/+$", "")
  }

  /** The path-and-query term robots rules are matched against — per the
    * Robots Exclusion Protocol (RFC 9309 / the Google REP), rules see
    * the REQUESTED resource, so unlike [[canonicalPath]] this keeps the
    * trailing slash (an empty path is `/` — `Disallow: /` must block
    * the host root) and appends the RAW query (`?` included, params
    * unsorted, tracking params intact: the crawler asks for the URL as
    * given). Percent-normalized like every other term so `%7E`-vs-`~`
    * forms match the same rules.
    */
  private[operators] def robotsPathQuery(url: Column): Column = {
    val rest = regexp_replace(normalized(url), SchemeRe, "")
    val p = regexp_extract(rest, "^[^/?]*([^?]*)", 1)
    val q = regexp_extract(rest, "(\\?.*)$", 1)
    concat(when(p === "", lit("/")).otherwise(p), q)
  }

  /** A robots rule pattern compiled to the regex that implements REP
    * matching: anchored at the path start, `*` matches any character
    * run, a trailing `$` anchors the end, every other regex
    * metacharacter is escaped. Pure column expression over the RULES
    * side (a broadcast-sized frame), and the translation uses no
    * construct RE2 lacks, so the DuckDB oracle replays it.
    */
  private[operators] def robotsRuleRegex(pattern: Column): Column = {
    val anchored = pattern.endsWith("$")
    val body = when(anchored, pattern.substr(lit(1), length(pattern) - 1))
      .otherwise(pattern)
    val escaped = regexp_replace(body, "[.\\\\+?\\[\\]{}()|^$]", "\\\\$0")
    concat(lit("^"), replace(escaped, lit("*"), lit(".*")),
      when(anchored, lit("$")).otherwise(lit("")))
  }

  /** Drop rows a robots.txt rule set disallows — full REP semantics
    * (RFC 9309): `robots` carries one (`host`, `pattern`, `allow`) row
    * per `Allow:`/`Disallow:` line; among the rules whose pattern
    * matches a URL's path-and-query ([[robotsPathQuery]] — slash
    * preserved, so `Disallow: /` blocks the host root), the MOST
    * SPECIFIC (longest pattern) wins, `Allow` winning length ties.
    * Patterns support the `*` wildcard and the trailing-`$` anchor
    * ([[robotsRuleRegex]]). Rule hosts are canonicalized like corpus
    * hosts ([[canonicalBareHost]] — a rule recorded under
    * `www.example.com:443` matches `example.com`). Hosts with no rules,
    * and URLs matching no rule, pass: REP's default is allow. An EMPTY
    * pattern is meaningless in REP (`Disallow:` alone = allow all) and
    * is dropped rather than matched-as-prefix-of-everything.
    *
    * Shape mirrors [[filterBlockedDomains]]: the rules table rides a
    * broadcast into an equi-join on host (regex match as the join
    * residual), the per-key winner is one map-side-combinable
    * `max(struct(specificity, allow))`, and losing keys anti-join
    * back — AQE-guarded, the corpus frame is never forced through the
    * driver.
    */
  def filterDisallowed(df: DataFrame, urlCol: String, keyCol: String,
                       robots: DataFrame): DataFrame = {
    val withHp = df.select(col(keyCol),
      canonicalHost(col(urlCol)).as("_h"), robotsPathQuery(col(urlCol)).as("_p"))
    val rules = robots
      .filter(col("pattern").isNotNull && col("pattern") =!= "")
      .select(canonicalBareHost(col("host")).as("_h"),
        robotsRuleRegex(col("pattern")).as("_rx"),
        length(col("pattern")).as("_spec"),
        col("allow").cast("boolean").as("_allow"))
    val blockedKeys = withHp
      .join(broadcast(rules), Seq("_h"), "inner")
      .filter(regexp_like(col("_p"), col("_rx")))
      .groupBy(col(keyCol))
      .agg(max(struct(col("_spec"), col("_allow"))).as("_win"))
      .filter(!col("_win._allow"))
      .select(keyCol)
    df.join(blockedKeys, Seq(keyCol), "left_anti")
  }

  /** Every ≥2-label suffix of a host, most-specific first:
    * `a.b.example.com` → `[a.b.example.com, b.example.com, example.com]`.
    * A single-label host yields itself. This is the join key set for
    * blocklist matching — matching N blocklist entries costs a hash
    * probe per chain element (≤ label depth, ~5), not a scan of the
    * blocklist.
    */
  def domainChain(host: Column): Column = {
    // a non-default port survives canonicalHost ("example.com:8080") —
    // chain on the port-free host or the blocklist never matches it
    val bare = regexp_replace(host, ":\\d+$", "")
    val parts = split(bare, "\\.")
    val n = size(parts)
    when(n >= 2,
      transform(sequence(lit(0), n - lit(2)),
        i => array_join(slice(parts, i + lit(1), n - i), ".")))
      .otherwise(array(bare))
  }

  /** Embedded snapshot of MULTI-LABEL public suffixes (publicsuffix.org
    * — ICANN country second-levels plus the highest-traffic private
    * entries; single-label TLDs need no listing, they are the implicit
    * `*` rule). A SNAPSHOT, not the full list (~9k entries, and this
    * container has no egress to refresh one): the subset chosen covers
    * the country registries a web corpus actually hits plus the shared
    * hosting platforms where PSL semantics change dedup/blocklist
    * grouping (every `*.blogspot.com` site is its own registrable
    * domain). Callers with a fuller list pass their own to
    * [[registrableChain]] / [[filterBlockedDomainsPsl]].
    */
  val PslSnapshot: Seq[String] = Seq(
    // ICANN country-code second-level registries
    "co.uk", "org.uk", "me.uk", "net.uk", "ac.uk", "gov.uk", "sch.uk",
    "ltd.uk", "plc.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp", "gr.jp",
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "ac.in",
    "gov.in", "edu.in",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz", "geek.nz",
    "co.za", "net.za", "org.za", "web.za", "gov.za", "ac.za",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "co.kr", "ne.kr", "or.kr", "re.kr", "go.kr", "ac.kr", "pe.kr",
    "co.id", "net.id", "or.id", "web.id", "ac.id", "sch.id", "go.id",
    "com.tr", "net.tr", "org.tr", "gen.tr", "edu.tr", "gov.tr",
    "com.ua", "net.ua", "org.ua", "in.ua", "edu.ua", "gov.ua",
    "co.il", "net.il", "org.il", "ac.il", "gov.il", "muni.il",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    "co.ke", "ne.ke", "or.ke", "ac.ke", "go.ke", "sc.ke",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "ac.vn",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "nom.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe", "nom.pe",
    "com.ve", "net.ve", "org.ve", "co.ve", "e12.ve", "gob.ve",
    "co.th", "in.th", "or.th", "ac.th", "go.th", "net.th",
    "com.bd", "net.bd", "org.bd", "edu.bd", "gov.bd", "ac.bd",
    "com.np", "net.np", "org.np", "edu.np", "gov.np",
    "com.lk", "net.lk", "org.lk", "edu.lk", "gov.lk",
    "co.zw", "ac.zw", "org.zw", "gov.zw",
    "com.gh", "edu.gh", "gov.gh", "org.gh",
    "com.et", "gov.et", "org.et", "edu.et",
    "co.tz", "or.tz", "ac.tz", "go.tz", "ne.tz", "sc.tz",
    "co.ug", "or.ug", "ac.ug", "go.ug", "ne.ug", "sc.ug",
    // high-traffic private section entries (shared hosting platforms)
    "blogspot.com", "github.io", "gitlab.io", "herokuapp.com",
    "appspot.com", "azurewebsites.net", "cloudfront.net", "netlify.app",
    "vercel.app", "pages.dev", "web.app", "firebaseapp.com",
    "s3.amazonaws.com", "wordpress.com", "tumblr.com", "weebly.com",
    "wixsite.com", "fastly.net", "windows.net", "oraclecloud.com",
    "neocities.org", "readthedocs.io", "bitbucket.io", "onrender.com",
    "fly.dev", "workers.dev", "repl.co", "glitch.me", "surge.sh")

  /** [[domainChain]] stopped at the REGISTRABLE domain (PSL semantics):
    * `a.b.example.co.uk` → `[a.b.example.co.uk, b.example.co.uk,
    * example.co.uk]` — the chain never descends INTO a public suffix,
    * so a blocklist entry `co.uk` matches nothing and frontier grouping
    * by chain tail lands on the registrable domain, not the registry.
    * The suffix match is a `transform`+`aggregate` over the host's
    * label suffixes against a plan-literal array (~230 entries — a
    * per-row in-memory probe, no join, no broadcast variable); a host
    * whose longest listed suffix is the whole host degenerates to
    * `[host]`, and an unlisted TLD falls back to the implicit
    * single-label-suffix rule — exactly [[domainChain]]'s behavior.
    */
  def registrableChain(host: Column,
                       psl: Seq[String] = PslSnapshot): Column = {
    val bare = regexp_replace(host, ":\\d+$", "")
    val parts = split(bare, "\\.")
    val n = size(parts)
    val pslArr = lit(psl.toArray)
    // longest listed public suffix, in labels (1 = the implicit * rule)
    val psLen = when(n >= 2,
      aggregate(sequence(lit(2), n), lit(1), (acc, j) =>
        when(array_contains(pslArr,
          array_join(slice(parts, n - j + 1, j), ".")) && j > acc, j)
          .otherwise(acc)))
      .otherwise(lit(1))
    val regLen = least(psLen + 1, n)
    transform(sequence(lit(0), n - regLen),
      i => array_join(slice(parts, i + lit(1), n - i), "."))
  }

  /** Keep exactly one row per canonical URL — the smallest `keyCol`
    * (first-crawled wins under monotone ids). Appends a `canon_url`
    * column.
    *
    * Shape: one hash shuffle on the canonical URL with MAP-SIDE partial
    * aggregation (`min` over a key-first struct), not a
    * partition-sorting window — at 100 TB the combiner collapses
    * duplicates before the exchange, and URL-keyed groups are
    * skew-free by construction (a group is one page's re-crawls).
    */
  def dedupByCanonicalUrl(df: DataFrame, urlCol: String,
                          keyCol: String): DataFrame = {
    require(!df.columns.contains("canon_url"),
      "dedupByCanonicalUrl appends a canon_url column — the input already " +
        "has one (drop or rename it; silently overwriting would make the " +
        "output ambiguous)")
    val others = df.columns.filterNot(_ == keyCol).map(col).toSeq
    df.withColumn("canon_url", canonicalizeUrl(col(urlCol)))
      .groupBy(col("canon_url"))
      .agg(min(struct(col(keyCol) +: others: _*)).as("_kept"))
      .select((df.columns.map(c => col(s"_kept.$c")) :+ col("canon_url")).toSeq: _*)
  }

  /** The XML predefined-entity decode a sitemap `<loc>` needs before
    * canonicalization (sitemaps.org REQUIRES `&` in URLs to be escaped
    * as `&amp;`): the four non-ampersand entities first, `&amp;` LAST
    * so `&amp;lt;` decodes to the literal `&lt;`, not `<` — the
    * [[TextExtraction]] ordering rule.
    */
  private def xmlUnescape(c: Column): Column = {
    val step = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&apos;" -> "'", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(c) { case (acc, (e, ch)) =>
        regexp_replace(acc, java.util.regex.Pattern.quote(e), ch)
      }
    step
  }

  /** URL entries of a sitemap (sitemaps.org `<urlset>`): one row per
    * `<url>` block with a non-empty `<loc>` — `url` is the loc
    * whitespace-trimmed, XML-entity-decoded and CANONICALIZED (so
    * sitemap-discovered URLs key directly against the frontier index /
    * dedup stage), `lastmod` the optional W3C datetime string passed
    * through verbatim (null when absent; parsing it is the caller's
    * schema decision — sitemaps mix date-only and full-datetime forms).
    * Blocks without a `<loc>` are dropped. Scope: `<urlset>` entries;
    * `<sitemap>` index recursion is a fetch-loop concern, out of engine
    * scope. Map-only (extract_all → explode → per-block extracts) —
    * RE2-portable regexes so the oracle replays term-for-term.
    */
  def sitemapUrls(df: DataFrame, xmlCol: String, keyCol: String): DataFrame =
    df.select(col(keyCol),
        explode(regexp_extract_all(col(xmlCol),
          lit("(?is)<url\\b[^>]*>(.*?)</url>"), lit(1))).as("_b"))
      .select(col(keyCol),
        regexp_extract(col("_b"), "(?is)<loc\\s*>\\s*(.*?)\\s*</loc>", 1).as("_loc"),
        regexp_extract(col("_b"),
          "(?is)<lastmod\\s*>\\s*(.*?)\\s*</lastmod>", 1).as("_lm"))
      .filter(col("_loc") =!= "")
      .select(col(keyCol),
        canonicalizeUrl(xmlUnescape(col("_loc"))).as("url"),
        when(col("_lm") === "", lit(null).cast("string"))
          .otherwise(col("_lm")).as("lastmod"))

  /** [[sitemapUrls]] plus the scheduling signals: `priority` parsed
    * from the optional `<priority>` element per sitemaps.org — numeric
    * values clamped to [0,1], absent/junk values take the spec's 0.5
    * default — so sitemap-declared importance can feed
    * [[frontierSchedule]] directly. Same map-only shape, same
    * RE2-portable regexes.
    */
  def sitemapEntries(df: DataFrame, xmlCol: String, keyCol: String): DataFrame =
    df.select(col(keyCol),
        explode(regexp_extract_all(col(xmlCol),
          lit("(?is)<url\\b[^>]*>(.*?)</url>"), lit(1))).as("_b"))
      .select(col(keyCol),
        regexp_extract(col("_b"), "(?is)<loc\\s*>\\s*(.*?)\\s*</loc>", 1).as("_loc"),
        regexp_extract(col("_b"),
          "(?is)<lastmod\\s*>\\s*(.*?)\\s*</lastmod>", 1).as("_lm"),
        regexp_extract(col("_b"),
          "(?is)<priority\\s*>\\s*(.*?)\\s*</priority>", 1).as("_pr"))
      .filter(col("_loc") =!= "")
      .select(col(keyCol),
        canonicalizeUrl(xmlUnescape(col("_loc"))).as("url"),
        when(col("_lm") === "", lit(null).cast("string"))
          .otherwise(col("_lm")).as("lastmod"),
        when(regexp_like(col("_pr"), lit("^[0-9]+(\\.[0-9]+)?$")),
          least(greatest(col("_pr").cast("double"), lit(0.0)), lit(1.0)))
          .otherwise(lit(0.5)).as("priority"))

  /** Child sitemap locs of a sitemap-INDEX body (sitemaps.org
    * `<sitemapindex>` — every large site splits its sitemap into an
    * index of ≤50k-URL children, so a crawler that can't read index
    * files misses most large-site URLs): one row per `<sitemap>` block
    * with a non-empty `<loc>`, `(keyCol, child_url)` with the child
    * CANONICAL (same decode + canonicalization as [[sitemapUrls]]'
    * locs, so children key directly against a staged body pool or the
    * fetch frontier). Loc-less blocks drop. Map-only; the `<sitemap\b`
    * scan cannot match the root `<sitemapindex>` tag (no word boundary
    * inside `sitemapindex`). RE2-portable, oracle-replayable.
    */
  def sitemapIndexChildren(df: DataFrame, xmlCol: String,
                           keyCol: String): DataFrame =
    df.select(col(keyCol),
        explode(regexp_extract_all(col(xmlCol),
          lit("(?is)<sitemap\\b[^>]*>(.*?)</sitemap>"), lit(1))).as("_b"))
      .select(col(keyCol),
        regexp_extract(col("_b"), "(?is)<loc\\s*>\\s*(.*?)\\s*</loc>", 1)
          .as("_loc"))
      .filter(col("_loc") =!= "")
      .select(col(keyCol),
        canonicalizeUrl(xmlUnescape(col("_loc"))).as("child_url"))

  /** ONE level of sitemap-index indirection over STAGED bodies — the
    * same staged-body shape as the robots tier: `staged` holds every
    * fetched sitemap resource (`urlCol`, `xmlCol`, keyed by `keyCol`);
    * rows whose body is an index (`<sitemapindex>` root) contribute
    * the `<url>` entries of their staged CHILDREN (child `<loc>`
    * joined to the pool by canonical URL), keyed by the INDEX's key —
    * discovery provenance, so budgets/scheduling charge the site that
    * declared the index. Children referenced but NOT staged contribute
    * nothing here (they are the next fetch wave —
    * [[sitemapIndexChildren]] minus the pool is that frontier);
    * deeper-than-one nesting is the fetch loop's iteration of this
    * same operator, per sitemaps.org's one-level-index convention.
    *
    * Scale shape: the child list is index-sized (tiny vs the pool), so
    * the loc→body join broadcasts the child side; entry extraction
    * stays the [[sitemapUrls]] map-only shape.
    */
  def sitemapUrlsViaIndex(staged: DataFrame, urlCol: String, xmlCol: String,
                          keyCol: String): DataFrame = {
    val isIndex = col(xmlCol).rlike("(?is)<sitemapindex\\b")
    val children = sitemapIndexChildren(
      staged.filter(isIndex), xmlCol, keyCol)
    val pool = staged.select(
      canonicalizeUrl(col(urlCol)).as("_staged_url"), col(xmlCol))
    val childBodies = pool.join(
        broadcast(children), col("child_url") === col("_staged_url"))
      .select(col(keyCol), col(xmlCol))
    sitemapUrls(childBodies, xmlCol, keyCol)
  }

  /** The sitemap DISCOVERY FRONTIER — children referenced by staged
    * INDEX bodies but NOT themselves staged: the next fetch wave of
    * the sitemap walk ([[sitemapUrlsViaIndex]] reads the staged
    * children; this materializes the remainder its scaladoc defined).
    * One row per (`keyCol`, `child_url`), keyed by the referencing
    * index's key (discovery provenance — budgets charge the site that
    * declared the index); feed it to [[frontierSchedule]] /
    * [[frontierBudget]] for the polite fetch plan, and iterate
    * fetch→stage→this operator for deeper-than-one nesting.
    *
    * Scale shape: the child list is index-sized (tiny); the anti-join
    * probes the ONE-COLUMN canonical projection of the pool, and AQE
    * broadcasts whichever side is actually small.
    */
  def sitemapFrontier(staged: DataFrame, urlCol: String, xmlCol: String,
                      keyCol: String): DataFrame = {
    val isIndex = col(xmlCol).rlike("(?is)<sitemapindex\\b")
    val children = sitemapIndexChildren(staged.filter(isIndex), xmlCol, keyCol)
    val pool = staged.select(canonicalizeUrl(col(urlCol)).as("child_url"))
    children.join(pool, Seq("child_url"), "left_anti")
      .select(col(keyCol), col("child_url"))
  }

  /** [[frontierSchedule]] with a per-host crawl budget: waves past
    * `maxPerHost` are cut, so each politeness cycle fetches at most
    * that many URLs per host — the budget knob every crawler exposes.
    * The cutoff is a filter on the already-computed wave; zero
    * additional shuffles.
    */
  def frontierBudget(frontier: DataFrame, urlCol: String, keyCol: String,
                     priorityCol: String, delays: DataFrame,
                     maxPerHost: Int,
                     defaultDelayS: Double = 1.0): DataFrame =
    frontierSchedule(frontier, urlCol, keyCol, priorityCol, delays,
      defaultDelayS).filter(col("wave") < maxPerHost)

  /** Change-driven recrawl priorities — the signal adaptive crawlers
    * schedule by: compare the current snapshot's content against the
    * previous one BY CANONICAL URL and emit `changedPriority` for
    * pages that changed or are new, `unchangedPriority` for stable
    * ones (stable pages still recrawl, just later — feed the result
    * to [[frontierSchedule]]/[[frontierBudget]]). Texts never travel
    * through the join: each side reduces to (canonical, 16-byte md5)
    * at the scan — the [[SnapshotDiff.diff]] discipline — so the one
    * co-keyed shuffle carries fixed-width rows regardless of page
    * size. Inputs are expected canonical-deduped (one row per
    * canonical per snapshot — [[dedupByCanonicalUrl]] output);
    * duplicate canonicals on the previous side would fan the join out.
    */
  def recrawlPriorities(current: DataFrame, previous: DataFrame,
                        urlCol: String, keyCol: String, textCol: String,
                        changedPriority: Double = 1.0,
                        unchangedPriority: Double = 0.1): DataFrame = {
    val cur = current.select(col(keyCol),
      canonicalizeUrl(col(urlCol)).as("canon_url"),
      md5(col(textCol)).as("_h_n"))
    val prev = previous.select(canonicalizeUrl(col(urlCol)).as("canon_url"),
      md5(col(textCol)).as("_h_o"))
    cur.join(prev, Seq("canon_url"), "left")
      .withColumn("priority",
        when(col("_h_o").isNull || col("_h_o") =!= col("_h_n"),
          lit(changedPriority)).otherwise(lit(unchangedPriority)))
      .select(col(keyCol), col("canon_url"), col("priority"))
  }

  /** Final targets of redirect chains: for every source in a one-hop
    * redirect map `(srcCol, dstCol)`, follow hops until a TERMINAL url
    * (one that is not itself a redirect source). Chains that terminate
    * within `maxHops` jumps return `(url, final_url, hops)`; anything
    * still unterminated after `maxHops` (loops included — the a→b→a
    * case real crawl data is full of) returns `(url, NULL, NULL)`, the
    * unresolved marker a crawler skips. The input is normalized to a
    * FUNCTIONAL map first (deterministic `min(dst)` per source), so
    * duplicate/conflicting redirect records cannot make the walk
    * nondeterministic.
    *
    * Shape: one co-keyed LEFT join per hop (≤ `maxHops`, with an
    * early exit when every chain has terminated), each step's small
    * terminal set eagerly checkpointed and the shrinking active set
    * persisted-then-released — per-hop cost ∝ |still-active chains|,
    * and real redirect chains are 1-3 hops, so the loop exits early.
    * The oracle replays the walk as a recursive CTE bounded by the
    * same hop cap. `checkpointDir` selects the truncation mode like
    * the PageRank/HITS family (None = executor-local cut; Some(dir) =
    * reliable checkpoint for preemptible clusters), result-identical
    * either way.
    */
  def resolveRedirects(redirects: DataFrame, maxHops: Int = 8,
                       srcCol: String = "src",
                       dstCol: String = "dst",
                       checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    LinkGraph.withCheckpointDir(redirects.sparkSession, checkpointDir) {
    val edges = redirects.groupBy(col(srcCol).as("_s"))
      .agg(min(col(dstCol)).as("_d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var active = edges.select(col("_s").as("url"), col("_d").as("cur"),
      lit(1L).as("hops"))
    val finished = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var prev: Option[DataFrame] = None
    var hop = 1
    var remaining = -1L
    while (hop <= maxHops && remaining != 0) {
      val stepped = active.join(
        edges.withColumnRenamed("_s", "cur"), Seq("cur"), "left")
      // terminal = no outgoing edge from cur; the finished slice is
      // output-proportional, so the eager checkpoint is cheap and cuts
      // the per-hop lineage
      finished += LinkGraph.truncateLineage(stepped.filter(col("_d").isNull)
        .select(col("url"), col("cur").as("final_url"), col("hops")),
        checkpointDir)
      val nxt = stepped.filter(col("_d").isNotNull)
        .select(col("url"), col("_d").as("cur"),
          (col("hops") + 1L).as("hops"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      remaining = nxt.count()
      prev.foreach(_.unpersist())
      prev = Some(nxt)
      active = nxt
      hop += 1
    }
    val unresolved = LinkGraph.truncateLineage(active.select(col("url"),
        lit(null).cast("string").as("final_url"),
        lit(null).cast("long").as("hops")), checkpointDir)
    prev.foreach(_.unpersist())
    edges.unpersist()
    (finished :+ unresolved).reduce(_ unionByName _)
    }
  }

  /** Drop rows whose canonical host — or ANY parent domain of it — is
    * in `blocklist` (one `domain` column). Suffix semantics: blocking
    * `example.com` blocks `ads.example.com`; blocking
    * `media.example.com` does not block `example.com`.
    *
    * Shape: explode the (≤ label-depth) domain chain, broadcast-semi
    * against the blocklist to collect blocked keys, then anti-join the
    * original frame on `keyCol`. Only the BLOCKLIST side carries a
    * broadcast hint — blockedKeys is corpus-bounded, not
    * blocklist-bounded (block one blogspot-scale domain and it holds
    * every key under it), so forcing it through the driver would be
    * the 8-GB-broadcast/driver-OOM failure mode at 100 TB. AQE's
    * runtime size check upgrades the anti to a broadcast join in the
    * common small-blast-radius case and falls back to a shuffle join
    * when blocking actually matched at scale.
    */
  def filterBlockedDomains(df: DataFrame, hostCol: String, keyCol: String,
                           blocklist: DataFrame): DataFrame = {
    val blockedKeys = df
      .select(col(keyCol), explode(domainChain(col(hostCol))).as("_d"))
      .join(broadcast(blocklist.select(col("domain").as("_d"))),
        Seq("_d"), "left_semi")
      .select(keyCol).distinct()
    df.join(blockedKeys, Seq(keyCol), "left_anti")
  }

  /** [[filterBlockedDomains]] with PSL semantics: the chain stops at
    * the registrable domain ([[registrableChain]]), so a blocklist
    * entry at a public suffix (`co.uk`, `blogspot.com`) blocks nothing
    * instead of blanket-blocking every registration under it. Same
    * join shape (exploded chain → broadcast semi → AQE-guarded anti).
    */
  def filterBlockedDomainsPsl(df: DataFrame, hostCol: String, keyCol: String,
                              blocklist: DataFrame,
                              psl: Seq[String] = PslSnapshot): DataFrame = {
    val blockedKeys = df
      .select(col(keyCol), explode(registrableChain(col(hostCol), psl)).as("_d"))
      .join(broadcast(blocklist.select(col("domain").as("_d"))),
        Seq("_d"), "left_semi")
      .select(keyCol).distinct()
    df.join(blockedKeys, Seq(keyCol), "left_anti")
  }

  // ---- persisted URL-frontier index (the crawl seen-set) ----
  // The fifth external-index family next to MinHash buckets, SimHash
  // band segments, IVF lists and line claims: the "sketch" is the
  // canonical URL itself, so probes are exact with no verify step.
  // Bucketed on canon_url so a batch probe shuffles only the batch side.

  /** Persist the distinct canonical URLs of `df` as a bucketed claims
    * table — the crawl frontier's seen-set. Each claim carries a
    * `claimed_at` epoch (from `claimedAtCol` when given — max per
    * canonical — else 0): [[stripSeenUrls]] ignores it (claim-forever),
    * [[stripSeenUrlsTtl]] expires claims against it so a real frontier
    * can re-admit URLs for recrawl.
    */
  def writeUrlIndex(df: DataFrame, urlCol: String, tableName: String,
                    buckets: Int = graft.util.IndexBuckets.Auto,
                    claimedAtCol: Option[String] = None): Unit = {
    val at = claimedAtCol.map(c => col(c).cast("long")).getOrElse(lit(0L))
    graft.util.IndexTable.write(
      df.select(canonicalizeUrl(col(urlCol)).as("canon_url"), at.as("claimed_at"))
        .groupBy("canon_url").agg(max("claimed_at").as("claimed_at")),
      tableName, "canon_url", buckets)
  }

  /** Append newly-claimed canonical URLs (a `canon_url` column, plus
    * optionally a `claimed_at` epoch — 0 when absent) to a
    * [[writeUrlIndex]] table; bucketing re-validated from the catalog so
    * the co-partitioned probe stays lossless across appends. Appends
    * are claim-set unions: a re-appended canonical is harmless
    * duplicate state (probes take the max claim), which is what makes
    * the streaming gate's retry path idempotent.
    */
  def appendToUrlIndex(newUrls: DataFrame, tableName: String): Unit = {
    val at = if (newUrls.columns.contains("claimed_at"))
      col("claimed_at").cast("long") else lit(0L)
    graft.util.IndexTable.append(
      newUrls.select(col("canon_url"), at.as("claimed_at"))
        .groupBy("canon_url").agg(max("claimed_at").as("claimed_at")),
      tableName, "canon_url", "writeUrlIndex")
  }

  /** Rows of `df` whose canonical URL is NOT yet claimed by the index —
    * the frontier filter a crawl scheduler runs on every candidate
    * batch. Appends a `canon_url` column. Claims come ONLY from the
    * index (two in-batch rows with the same novel canonical both pass),
    * so the result is identical under any micro-batch partitioning of
    * the same input — the property the streaming gate's oracle needs;
    * append the accepted batch via [[appendToUrlIndex]] when in-stream
    * self-dedup matters. Per-batch cost: one co-partitioned anti-join
    * against the bucketed claims table, independent of frontier size.
    */
  def stripSeenUrls(df: DataFrame, urlCol: String, tableName: String): DataFrame = {
    require(!df.columns.contains("canon_url"),
      "stripSeenUrls appends a canon_url column — the input already has " +
        "one (drop or rename it; a stale canonical from an older rule set " +
        "would silently bypass the frontier)")
    df.withColumn("canon_url", canonicalizeUrl(col(urlCol)))
      .join(df.sparkSession.table(tableName), Seq("canon_url"), "left_anti")
  }

  /** TTL-aware frontier probe — the recrawl semantics a real frontier
    * needs: a row passes unless the index holds a claim on its
    * canonical URL NEWER than the row's own clock minus `ttl`
    * (`claimed_at >= asOfCol - ttl`), so stale claims expire and the
    * URL is re-admitted. The expiry clock is PER ROW (each candidate
    * carries its crawl time in `asOfCol`), which keeps the result
    * independent of micro-batch partitioning — the property the
    * streaming gate's oracle needs; a driver-side scalar `asOf` would
    * re-introduce batch-order dependence. Appends a `canon_url` column.
    *
    * Per-batch cost: one co-partitioned max-claim aggregation of the
    * bucketed index (bucketing satisfies the grouping distribution — no
    * index shuffle) + one co-partitioned left join, independent of
    * frontier size like [[stripSeenUrls]].
    */
  def stripSeenUrlsTtl(df: DataFrame, urlCol: String, tableName: String,
                       asOfCol: String, ttl: Long): DataFrame = {
    require(!df.columns.contains("canon_url"),
      "stripSeenUrlsTtl appends a canon_url column — the input already " +
        "has one (drop or rename it)")
    val claims = df.sparkSession.table(tableName)
      .groupBy("canon_url").agg(max("claimed_at").as("_claimed_at"))
    df.withColumn("canon_url", canonicalizeUrl(col(urlCol)))
      .join(claims, Seq("canon_url"), "left")
      .filter(col("_claimed_at").isNull ||
        col("_claimed_at") < col(asOfCol).cast("long") - lit(ttl))
      .drop("_claimed_at")
  }

  /** Consolidate pages by their DECLARED canonical: the
    * `<link rel="canonical">` target ([[TextExtraction.canonicalLinkHref]])
    * resolved against the page's canonical URL ([[LinkGraph.resolveHref]]
    * — absolute, root-relative and directory-relative forms) and
    * canonicalized; pages declaring nothing stand for themselves. One
    * winner per target — `min(struct(key, url))`, map-side-combinable
    * like [[dedupByCanonicalUrl]], so the single shuffle moves one
    * pre-combined row per (partition, target), never the page bodies.
    * This is the cross-page half of URL dedup: syntactically DIFFERENT
    * URLs (print views, mobile mirrors, session variants) that the
    * SITE declares equivalent collapse even when canonicalization
    * alone cannot see it.
    *
    * Cross-site guard: a declared target is honored only when its
    * REGISTRABLE domain (PSL semantics — same rule as
    * [[registrableChain]]'s tail, so `cdn.media.example.com` →
    * `example.com` legitimately consolidates) equals the declaring
    * page's; a cross-site declaration (the canonical-hijack pattern —
    * a page claiming to be the canonical of someone else's URL, which
    * would let it absorb or outrank the legitimate page via the
    * min-winner rule) falls back to self. The guard is ONE compiled
    * kernel (hash-set suffix walk over the PSL snapshot), not the
    * `registrableChain` aggregate-HOF: the column draft evaluated a
    * ~230-element `array_contains` per label per row ×2 hosts inside
    * a projection that also duplicates the canonicalization subtree,
    * which benched q_html_canonical at 17.8 s vs 0.94 s (sf0.1) — the
    * resolveHref-kernel precedent, measured not guessed.
    */
  def consolidateByCanonical(df: DataFrame, urlCol: String, htmlCol: String,
                             keyCol: String,
                             psl: Seq[String] = PslSnapshot): DataFrame = {
    val pslSet = psl.toSet
    val sameSiteKernel = udf { (selfHost: String, resolvedUrl: String) =>
      resolvedUrl == null || {
        val th = hostOfUrlStr(resolvedUrl)
        th != null && selfHost != null &&
          registrableOfBareStr(th, pslSet) ==
            registrableOfBareStr(selfHost.toLowerCase(java.util.Locale.ROOT),
              pslSet)
      }
    }
    val canonSelf = canonicalizeUrl(col(urlCol))
    val declared = TextExtraction.canonicalLinkHref(col(htmlCol))
    val resolved = LinkGraph.resolveHref(canonSelf, declared)
    val sameSite = sameSiteKernel(canonicalHost(col(urlCol)), resolved)
    df.select(col(keyCol), col(urlCol),
        when(sameSite, canonicalizeUrl(coalesce(resolved, canonSelf)))
          .otherwise(canonSelf).as("canon_target"))
      .groupBy("canon_target")
      .agg(min(struct(col(keyCol), col(urlCol))).as("_win"))
      .select(col("canon_target"), col(s"_win.$keyCol").as(keyCol),
        col(s"_win.$urlCol").as(urlCol))
  }

  /** Host of an absolute URL string (scheme://host[:port]/...),
    * lowercased; null when no authority. Kernel-side helper for the
    * same-registrable-domain guard. The authority scan must mirror
    * [[canonicalHost]]'s normalization of the SELF side or legitimate
    * consolidations silently fall back to self: it terminates at `/`,
    * `?` AND `#` (a declared canonical with a fragment and no path is
    * legal), strips a userinfo prefix up to the last `@` inside the
    * authority, and drops a trailing root-label dot
    * (`example.com.` ≡ `example.com`).
    */
  private[operators] def hostOfUrlStr(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) null
    else {
      val from = i + 3
      var end = from
      while (end < url.length && url.charAt(end) != '/' &&
        url.charAt(end) != '?' && url.charAt(end) != '#') end += 1
      var start = from
      var j = from
      while (j < end) { if (url.charAt(j) == '@') start = j + 1; j += 1 }
      var last = end
      if (last > start && url.charAt(last - 1) == '.') last -= 1
      if (last <= start) null
      else url.substring(start, last).toLowerCase(java.util.Locale.ROOT)
    }
  }

  /** Registrable domain of a bare lowercased host — the same rule as
    * [[registrableChain]]'s tail (longest listed public suffix + one
    * label; unlisted TLDs take the implicit single-label rule;
    * single-label hosts degenerate to themselves), as a hash-set
    * suffix walk instead of the per-row aggregate HOF.
    */
  private def registrableOfBareStr(host: String, psl: Set[String]): String = {
    val c = host.indexOf(':')
    val bare = if (c >= 0) host.substring(0, c) else host
    val labels = bare.split('.')
    if (labels.length <= 1) bare
    else {
      var ps = 1
      var j = 2
      while (j <= labels.length) {
        if (psl.contains(labels.takeRight(j).mkString("."))) ps = j
        j += 1
      }
      val reg = math.min(ps + 1, labels.length)
      labels.takeRight(reg).mkString(".")
    }
  }

  /** Shared robots.txt line scanner: one row per RECOGNIZED directive
    * (`User-agent` / `Allow` / `Disallow` / `Crawl-delay`,
    * case-insensitive keys, `#` comments and CR stripped), tagged with
    * its RFC 9309 group id and the group's agent-match flags. Group
    * semantics: consecutive `User-agent` lines (ignoring blanks,
    * comments and non-group directives like `Sitemap:` — the Google
    * REP parser's rule) open ONE group that all of them name; the
    * most-specific-group rule is applied at HOST level — if any group
    * on the host names `agent` exactly (case-insensitive), only those
    * groups bind, otherwise the `*` groups do.
    *
    * All window functions partition by host ordered by line position —
    * the frame being shuffled is the DIRECTIVE LINES of the robots
    * corpus (bounded by total robots.txt bytes, ~KB per host), never
    * the crawl corpus itself, so the parse costs one small shuffle
    * regardless of frontier size. Every step is a Catalyst built-in
    * (split/regexp/lag/running-sum) the DuckDB oracle replays term for
    * term.
    */
  private def robotsDirectives(robotsTxt: DataFrame, hostCol: String,
                               txtCol: String, agent: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val w = Window.partitionBy("_h").orderBy("_pos")
    val lines = robotsTxt.select(
        canonicalBareHost(col(hostCol)).as("_h"),
        posexplode(split(col(txtCol), "\n")).as(Seq("_pos", "_raw")))
      .withColumn("_line", trim(regexp_replace(
        regexp_replace(col("_raw"), "\\r$", ""), "#.*$", "")))
      .withColumn("_key", lower(trim(regexp_extract(col("_line"), "^([^:]+):", 1))))
      .withColumn("_val", trim(regexp_extract(col("_line"), "^[^:]+:(.*)$", 1)))
      .filter(col("_key").isin("user-agent", "allow", "disallow", "crawl-delay"))
    val isUa = col("_key") === "user-agent"
    val wg = Window.partitionBy("_h", "_gid")
    val wh = Window.partitionBy("_h")
    lines
      .withColumn("_gid", sum((isUa &&
        !coalesce(lag(isUa, 1).over(w), lit(false))).cast("long")).over(w))
      .withColumn("_gAgent",
        max((isUa && lower(col("_val")) === agentLc).cast("int")).over(wg))
      .withColumn("_gStar",
        max((isUa && col("_val") === "*").cast("int")).over(wg))
      .withColumn("_hAgent", max(col("_gAgent")).over(wh))
      .filter(!isUa)
      .filter((col("_hAgent") === 1 && col("_gAgent") === 1) ||
        (col("_hAgent") === 0 && col("_gStar") === 1))
  }

  /** `Sitemap:` directives from raw robots.txt bodies — the discovery
    * hop between compliance and [[sitemapEntries]]: per RFC 9309 /
    * sitemaps.org the directive is GLOBAL (outside user-agent groups,
    * any position), so this scan ignores grouping entirely: split
    * lines, strip CR/comments, keep `sitemap:` keys (case-insensitive)
    * with non-empty absolute-URL values, distinct per (host, url).
    * Map-only except the final distinct (bounded by #sitemap lines).
    */
  def robotsSitemaps(robotsTxt: DataFrame, hostCol: String = "host",
                     txtCol: String = "robots_txt"): DataFrame =
    robotsTxt.select(
        canonicalBareHost(col(hostCol)).as("host"),
        explode(split(col(txtCol), "\n")).as("_raw"))
      .select(col("host"), trim(regexp_replace(
        regexp_replace(col("_raw"), "\\r$", ""), "#.*$", "")).as("_line"))
      .filter(lower(trim(regexp_extract(col("_line"), "^([^:]+):", 1))) === "sitemap")
      .select(col("host"),
        trim(regexp_extract(col("_line"), "^[^:]+:(.*)$", 1)).as("sitemap_url"))
      .filter(col("sitemap_url").rlike("^[A-Za-z][A-Za-z0-9+.-]*://"))
      .distinct()

  /** Parse raw robots.txt bodies into the (`host`, `pattern`, `allow`)
    * rules frame [[filterDisallowed]] consumes — the missing first hop
    * of the compliance path (until now rules arrived pre-parsed; a real
    * crawl stores fetched robots.txt bodies per host). `agent` selects
    * the binding groups per RFC 9309 host-level specificity (see
    * [[robotsDirectives]]); empty patterns are dropped (a bare
    * `Disallow:` means allow-all, and [[filterDisallowed]] would drop
    * them anyway — dropping here keeps the rules frame minimal before
    * it rides a broadcast).
    */
  def parseRobotsRules(robotsTxt: DataFrame, hostCol: String = "host",
                       txtCol: String = "robots_txt",
                       agent: String = "*"): DataFrame =
    robotsDirectives(robotsTxt, hostCol, txtCol, agent)
      .filter(col("_key").isin("allow", "disallow") && col("_val") =!= "")
      .select(col("_h").as("host"), col("_val").as("pattern"),
        (col("_key") === "allow").as("allow"))

  /** [[parseRobotsRules]] with RFC 9309 §2.3.1 FETCH-STATUS semantics —
    * what a crawler must do when the robots.txt fetch itself failed,
    * which plain body parsing cannot express:
    *
    *  - 2xx/3xx (or any status < 400): parse the body as usual;
    *  - 4xx ("unavailable"): the spec says crawl as if NO robots.txt
    *    exists — the host's parsed rules are DROPPED (allow-all);
    *  - 5xx / unreachable (NULL or non-positive status —
    *    "unreachable" per the RFC): assume COMPLETE DISALLOW — one
    *    synthesized `Disallow: /` rule per host, which
    *    [[filterDisallowed]] compiles like any other pattern.
    *
    * Input is the fetch log: one row per host with the body and the
    * HTTP status. Shape: one filter + parse over the live subset (the
    * same KB-scale lines shuffle as [[parseRobotsRules]]) plus a
    * map-only projection of the down hosts; the synthesized rules
    * frame stays #down-hosts-sized and rides the same broadcast into
    * enforcement.
    */
  def robotsRulesWithStatus(robotsFetch: DataFrame, hostCol: String = "host",
                            txtCol: String = "robots_txt",
                            statusCol: String = "status",
                            agent: String = "*"): DataFrame = {
    val st = col(statusCol).cast("int")
    val live = robotsFetch.filter(st.isNotNull && st >= 100 && st < 400)
    val down = robotsFetch.filter(st.isNull || st < 100 || st >= 500)
      .select(canonicalBareHost(col(hostCol)).as("host"),
        lit("/").as("pattern"), lit(false).as("allow"))
    parseRobotsRules(live, hostCol, txtCol, agent).unionByName(down)
  }

  /** [[crawlDelays]] under the same fetch-status rule: only a host
    * whose robots.txt actually FETCHED (status < 400) contributes a
    * binding Crawl-delay — a 404'd host falls back to the scheduler's
    * default, and a 5xx'd host is excluded from the frontier entirely
    * by [[robotsRulesWithStatus]] so its delay is moot.
    */
  def crawlDelaysWithStatus(robotsFetch: DataFrame, hostCol: String = "host",
                            txtCol: String = "robots_txt",
                            statusCol: String = "status",
                            agent: String = "*"): DataFrame = {
    val st = col(statusCol).cast("int")
    crawlDelays(robotsFetch.filter(st.isNotNull && st >= 100 && st < 400),
      hostCol, txtCol, agent)
  }

  /** Per-host `Crawl-delay` (seconds) for the binding agent groups —
    * the politeness budget [[frontierSchedule]] spends. Non-numeric
    * values are dropped (the directive is non-standard; real bodies
    * carry junk), and multiple binding values collapse to the MINIMUM —
    * the conservative read would be max, but crawlers conventionally
    * honor the first/smallest binding value; either is defensible, min
    * is pinned here and in the oracle.
    */
  def crawlDelays(robotsTxt: DataFrame, hostCol: String = "host",
                  txtCol: String = "robots_txt",
                  agent: String = "*"): DataFrame =
    robotsDirectives(robotsTxt, hostCol, txtCol, agent)
      .filter(col("_key") === "crawl-delay" &&
        regexp_like(col("_val"), lit("^[0-9]+(\\.[0-9]+)?$")))
      .groupBy(col("_h").as("host"))
      .agg(min(col("_val").cast("double")).as("delay_s"))

  /** Politeness scheduling: assign every frontier URL a per-host fetch
    * WAVE (0-based rank within its canonical host, highest `priority`
    * first, URL then key as deterministic tie-breaks) and the earliest
    * fetch offset `fetch_at_ms = wave × crawl_delay(host)` — the
    * host-serial schedule REP politeness requires, computed as data
    * instead of crawler-side state.
    *
    * Scale shape: the frontier shuffles ONCE on host (the window's
    * required distribution) and the delays frame equi-joins on the
    * same key — deliberately NOT broadcast: per-host delays are
    * #hosts-sized (tens of millions at web scale, a driver OOM as a
    * broadcast), while AQE still picks a broadcast when the frame is
    * actually small. A skewed host (one domain owning 10⁸ URLs) makes
    * a long per-host sort, but host-serial order IS the semantics —
    * the wave numbers of a mega-host are inherently sequential, and
    * the sort spills rather than breaks. Delay→ms is rounded ONCE per
    * host and waves multiply the integer, so engines cannot drift on
    * float accumulation.
    */
  def frontierSchedule(frontier: DataFrame, urlCol: String, keyCol: String,
                       priorityCol: String, delays: DataFrame,
                       defaultDelayS: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("host")
      .orderBy(col(priorityCol).desc, col(urlCol), col(keyCol))
    val d = delays.select(canonicalBareHost(col("host")).as("host"),
      round(col("delay_s") * 1000.0).cast("long").as("_delay_ms"))
    frontier
      .select(col(keyCol), col(urlCol), col(priorityCol),
        canonicalHost(col(urlCol)).as("host"))
      .join(d, Seq("host"), "left")
      .withColumn("wave", (row_number().over(w) - 1).cast("long"))
      .withColumn("fetch_at_ms", col("wave") *
        coalesce(col("_delay_ms"), lit(math.round(defaultDelayS * 1000.0))))
      .select(col(keyCol), col("host"), col("wave"), col("fetch_at_ms"))
  }
}
