package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph operators — the stage AFTER extraction in a web-crawl
  * pipeline: anchor hrefs become a canonical edge list, and the edge
  * list feeds the link-based signals every crawl-scale curation stack
  * uses (in-degree as a spam/quality prior, PageRank-family centrality
  * for seed selection and crawl ordering; the reference pipeline has no
  * link stage — this is part of the beyond-the-reference corpus
  * surface, like [[UrlOps]] itself).
  *
  * Design for 100 TB:
  *  - [[extractLinks]] is map-only (regexp_extract_all + explode — one
  *    generator, no shuffle); both endpoints come out CANONICAL
  *    ([[UrlOps.canonicalizeUrl]]) so the edge list joins directly
  *    against the frontier/page tables.
  *  - [[inDegree]] is one combiner-collapsed count per destination.
  *  - [[pagerank]] is the standard iterate: per iteration ONE shuffle
  *    of contributions on dst + one co-keyed join of ranks back to
  *    edges on src. Ranks and contributions are FIXED-POINT integers
  *    (micro-units of a 10^12 total), with floor division at every
  *    step — bit-identical under any partitioning or sum order, which
  *    is what lets a DuckDB oracle replay the whole iteration exactly
  *    (floating-point PageRank would differ in the last ulps by sum
  *    order alone). Dangling mass is redistributed uniformly each
  *    iteration (the classic treatment), as integer shares.
  *
  * Link-resolution scope: absolute http(s), ROOT-RELATIVE (`/path`)
  * AND directory-relative hrefs (`a.html`, `../x`, `./y` — resolved
  * against the page path's directory with fixed-pass dot-segment
  * removal, [[resolveHref]]); fragment-only, query-only and non-http
  * schemes (`mailto:`, `javascript:`, `tel:`) are dropped.
  */
object LinkGraph {

  /** Total fixed-point mass: ranks sum to ~this (minus floor-division
    * remainders, which are sub-ppm at any realistic N).
    */
  val FixedPointTotal: Long = 1000000000000L

  /** href values of a page's anchors: `<a ... href="...">`, double- or
    * single-quoted, or UNQUOTED (`href=/p/3` — legacy and minified
    * HTML emit this constantly; the unquoted value runs to the next
    * whitespace or `>`, and must not START with a quote so the quoted
    * alternatives always win when one applies). Non-capturing where
    * possible; Java-and-RE2 portable (no backreferences — the three
    * value styles are three alternatives, not a backref).
    */
  private[operators] val HrefRe =
    "(?i)<a\\b[^>]*\\bhref\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s>\"'][^\\s>]*))"

  /** RFC 3986 §5.2-shaped reference resolution of an anchor href
    * against the CANONICAL page url: absolute http(s) hrefs pass
    * through; `/path` resolves root-relative; DIRECTORY-RELATIVE
    * references (`a.html`, `../x`, `./y`) resolve against the source
    * path's directory with dot-segment removal; other schemes
    * (`mailto:`, `javascript:`, `tel:` — anything with a scheme prefix
    * that isn't http(s)), fragment-only and query-only hrefs are NULL
    * (dropped by the caller).
    *
    * Dot-segment removal is a FIXED-PASS regex contraction (see
    * [[removeDotSegments]]) — still pure codegen'd expressions, and
    * the oracle replays the identical pass sequence.
    */
  private val HttpAbsRe =
    java.util.regex.Pattern.compile("^[Hh][Tt][Tt][Pp][Ss]?://")
  private val AnySchemeRe =
    java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:")
  private val SrcBaseRe =
    java.util.regex.Pattern.compile("^[a-z+.-]+://[^/?]*")

  /** The whole resolution as ONE two-arg compiled kernel: the column
    * draft (a three-branch CASE over rlike regexes + the dot-pass
    * chain) gets duplicated ~8× inside [[UrlOps.canonicalizeUrl]]'s
    * terms, which benched q_link_extract at 3.3 s (vs 0.8 s before
    * resolution grew the subtree) — one `ScalaUDF` invoke per copy
    * keeps the duplicated cost at an indexOf-level floor. Branch
    * semantics are byte-identical to the oracle's CASE replay: the
    * same anchored patterns (`lookingAt` = RE2 `^...` match), the same
    * empty-base fallback as regexp_extract's no-match → ''.
    */
  private[operators] def resolveHrefStr(src: String, href: String): String = {
    if (src == null || href == null) null
    else if (HttpAbsRe.matcher(href).lookingAt()) removeDotSegmentsStr(href)
    else {
      val bm = SrcBaseRe.matcher(src)
      val baseEnd = if (bm.lookingAt()) bm.end else 0
      val base = src.substring(0, baseEnd)
      if (href.startsWith("/")) removeDotSegmentsStr(base + href)
      else if (!AnySchemeRe.matcher(href).lookingAt() &&
          !href.startsWith("#") && !href.startsWith("?")) {
        // the directory of the canonical src path: up to and including
        // the last '/'; a host-root src (empty path) resolves against '/'
        val rest = src.substring(baseEnd)
        val qi = rest.indexOf('?')
        val path = if (qi >= 0) rest.substring(0, qi) else rest
        val sl = path.lastIndexOf('/')
        val dir = if (sl >= 0) path.substring(0, sl + 1) else "/"
        removeDotSegmentsStr(base + dir + href)
      } else null
    }
  }

  private val resolveHrefKernel = udf(resolveHrefStr _)

  private[operators] def resolveHref(src: Column, href: Column): Column =
    resolveHrefKernel(src, href)

  /** Dot-segment removal (RFC 3986 §5.2.4) on the PATH portion of a
    * url, as fixed sequential replace-all passes — the ORACLE replays
    * the same pass sequence (DuckDB 'g' flag = Spark/Java replace-all),
    * so the two engines contract identically by construction:
    *  1. a trailing `/.` or `/..` gains a slash (the later
    *     canonicalization strips trailing slashes anyway);
    *  2. 4 passes of `/./` → `/`;
    *  3. 8 passes of `/<segment>/../` → `/` where <segment> contains
    *     at least one non-dot char (so `..` can never be consumed as
    *     the popped segment) — bounds handled traversal DEPTH at 8,
    *     the realistic crawl bound; deeper chains keep their residual
    *     dot segments verbatim (documented, not silently wrong);
    *  4. 4 passes of the above-root clamp `^/../` → `/`.
    *
    * A COMPILED KERNEL, not a 17-deep `regexp_replace` column chain:
    * the caller's `_abs` subtree gets duplicated ~8× inside
    * [[UrlOps.canonicalizeUrl]]'s terms (the documented no-CSE shape),
    * so a column-expression chain multiplied out to ~140 regex evals
    * per row — the first draft benched q_link_extract_rel at 10.9 s
    * vs ~1 s for its siblings at sf0.1. The kernel runs the SAME Java
    * regexes (precompiled) once per invoke with an escape-free fast
    * path, and `ScalaUDF` codegens as a plain invoke so the
    * surrounding chain stays fused — the normalizeUrlKernel precedent.
    */
  private val DotTrailRe = java.util.regex.Pattern.compile("(/\\.\\.?)$")
  private val DotSlashRe = java.util.regex.Pattern.compile("/\\./")
  private val DotPairRe =
    java.util.regex.Pattern.compile("/[^/]*[^/.][^/]*/\\.\\./")
  private val DotClampRe = java.util.regex.Pattern.compile("^/\\.\\./")
  private val UrlPrefixRe =
    java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*")

  private[operators] def removeDotSegmentsStr(s: String): String = {
    // every pattern needs a "/." somewhere in the path — absent that,
    // all four pass families are no-ops (the overwhelmingly common case)
    if (s == null || s.indexOf("/.") < 0) s
    else {
      val m = UrlPrefixRe.matcher(s)
      val preEnd = if (m.lookingAt()) m.end else 0
      val pre = s.substring(0, preEnd)
      val rest = s.substring(preEnd)
      val qi = rest.indexOf('?')
      var p = if (qi >= 0) rest.substring(0, qi) else rest
      val query = if (qi >= 0) rest.substring(qi) else ""
      p = DotTrailRe.matcher(p).replaceAll("$1/")
      var i = 0
      while (i < 4) { p = DotSlashRe.matcher(p).replaceAll("/"); i += 1 }
      i = 0
      while (i < 8) { p = DotPairRe.matcher(p).replaceAll("/"); i += 1 }
      i = 0
      while (i < 4) { p = DotClampRe.matcher(p).replaceAll("/"); i += 1 }
      pre + p + query
    }
  }


  // ---- single-pass extraction kernels ----
  // The SAME precompiled patterns the column drafts interpolated, run
  // once per page in a matcher loop that reads href/rel/text straight
  // from each match's OWN groups — no match-array materialization, no
  // short-string re-extraction, no per-group full-text rescans. The
  // selection logic is byte-identical to the column shape it replaces
  // (first non-empty of the quoted/quoted'/unquoted value groups;
  // a non-participating group reads as "" exactly like regexp_extract),
  // and resolution reuses [[resolveHrefStr]] verbatim, so the output
  // row set is unchanged — only the number of passes over the page
  // drops (r15: q_link_extract-family exec 0.81 → ~0.5 s at sf0.1 and
  // the win grows with page size; the oracle replays the same patterns
  // it always did).
  // lazy: the Re vals some of these read are declared LATER in the
  // object body — an eager compile here would see a null pattern string
  private lazy val HrefPat = java.util.regex.Pattern.compile(HrefRe)
  private lazy val AnchorTagPat = java.util.regex.Pattern.compile(AnchorTagRe)
  private lazy val HrefValPat = java.util.regex.Pattern.compile(HrefValRe)
  private lazy val RelNofollowPat = java.util.regex.Pattern.compile(RelNofollowRe)
  private lazy val AnchorPat = java.util.regex.Pattern.compile(AnchorRe)
  private lazy val WsRunPat = java.util.regex.Pattern.compile("\\s+")

  /** First non-empty of a match's three href value groups — the
    * `coalesce(when(g1 ≠ "", g1), …)` column chain, with a null group
    * (kernel view of what regexp_extract renders as "") treated as
    * empty. Returns null when no group carries a value.
    */
  private def hrefOfGroups(g1: String, g2: String, g3: String): String =
    if (g1 != null && g1.nonEmpty) g1
    else if (g2 != null && g2.nonEmpty) g2
    else if (g3 != null && g3.nonEmpty) g3
    else null

  private[operators] def extractLinksStr(src: String, html: String): Array[String] = {
    if (html == null) Array.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val m = HrefPat.matcher(html)
      while (m.find()) {
        val href = hrefOfGroups(m.group(1), m.group(2), m.group(3))
        if (href != null) {
          val abs = resolveHrefStr(src, href)
          if (abs != null) out += abs
        }
      }
      out.toArray
    }
  }

  private val extractLinksKernel = udf(extractLinksStr _)

  /** The canonical edge list of a page frame: one row per resolvable
    * anchor, `(src, dst)` both canonical, self-loops and duplicate
    * (src, dst) pairs dropped (a page linking itself or linking the
    * same target five times is one edge — the signal is the link, not
    * its copy count). Map-only until the final distinct (one shuffle
    * on the edge key). Resolution scope = [[resolveHref]]: absolute,
    * root-relative AND directory-relative (with dot-segment removal).
    *
    * Extraction is the single-pass kernel ([[extractLinksStr]]): one
    * matcher loop over the page yields the resolved targets directly.
    * (History: the per-group column shape ran regexp_extract_all over
    * the full html THREE times — 1.94 s isolated at sf0.1; the r11
    * group-0 + short-string re-extraction shape cut that to 1.29 s;
    * the kernel removes the remaining re-extraction and match-array
    * materialization too.)
    */
  def extractLinks(pages: DataFrame, urlCol: String,
                   htmlCol: String): DataFrame = {
    pages
      .select(UrlOps.canonicalizeUrl(col(urlCol)).as("src"),
        col(htmlCol).as("_html"))
      .select(col("src"),
        explode(extractLinksKernel(col("src"), col("_html"))).as("_abs"))
      .select(col("src"), UrlOps.canonicalizeUrl(col("_abs")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** In-link counts per destination — the cheapest link-quality prior
    * (one combiner-collapsed aggregation).
    */
  def inDegree(edges: DataFrame): DataFrame =
    edges.groupBy(col("dst").as("url"))
      .agg(count(lit(1)).as("n_inlinks"))

  /** One capture per anchor TAG: its full attribute string — the
    * per-link analogue of the page-level meta scan. Extracting the
    * whole attribute run (instead of positional value groups) is what
    * makes ATTRIBUTE-ORDER-FREE per-link flags possible: `rel` may
    * precede or follow `href`, and a positional regex cannot see both
    * orders in one pass. RE2-portable; public (with [[HrefValRe]] and
    * [[RelNofollowRe]]) so the oracle interpolates the SAME patterns —
    * the [[graft.operators.TextExtraction.BlockBoundaryRe]] rule.
    */
  val AnchorTagRe = "(?i)<a\\b([^>]*)>"

  /** href value out of ONE anchor's attribute string: quoted (either
    * style) or unquoted, same scope as [[HrefRe]]'s three
    * alternatives.
    */
  val HrefValRe =
    "(?i)\\bhref\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s>\"'][^\\s>]*))"

  /** True when an anchor's `rel` attribute carries the `nofollow`
    * token (space/comma-separated per the HTML link-types spec, any
    * order, either quote style or unquoted).
    */
  val RelNofollowRe =
    "(?i)\\brel\\s*=\\s*(?:\"[^\"]*\\bnofollow\\b[^\"]*\"|'[^']*\\bnofollow\\b[^']*'|[^\\s>\"']*\\bnofollow\\b[^\\s>]*)"

  /** [[extractLinks]] with the PER-LINK `rel="nofollow"` flag — the
    * link-level half of REP compliance ([[TextExtraction.metaNofollow]]
    * is the page level): a nofollow'd link must not pass endorsement,
    * so rank/reputation pipelines drop those edges while frontier
    * discovery may still follow them. One row per resolvable anchor,
    * `(src, dst, nofollow)`; a (src, dst) pair linked both ways
    * collapses to `nofollow = false` (any followed copy endorses —
    * `min(nofollow)` as a bool, map-side combinable). Map-only until
    * that one aggregation: per-anchor ATTRIBUTE STRINGS are extracted
    * (one `regexp_extract_all` + explode), then href/rel pull out of
    * each independently — attribute order free by construction.
    */
  private[operators] def extractRelStr(src: String,
                                       html: String): Array[(String, Boolean)] = {
    if (html == null) Array.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
      val m = AnchorTagPat.matcher(html)
      while (m.find()) {
        val attrs = m.group(1)
        val hm = HrefValPat.matcher(attrs)
        if (hm.find()) {
          val href = hrefOfGroups(hm.group(1), hm.group(2), hm.group(3))
          if (href != null) {
            val abs = resolveHrefStr(src, href)
            if (abs != null)
              out += ((abs, RelNofollowPat.matcher(attrs).find()))
          }
        }
      }
      out.toArray
    }
  }

  private val extractRelKernel = udf(extractRelStr _)

  def extractLinksWithRel(pages: DataFrame, urlCol: String,
                          htmlCol: String): DataFrame = {
    // single-pass kernel ([[extractRelStr]]): one AnchorTagRe matcher
    // loop per page, href/rel read from each anchor's OWN attribute
    // string — same patterns, same first-non-empty value selection,
    // same resolution as the column shape it replaces
    pages
      .select(UrlOps.canonicalizeUrl(col(urlCol)).as("src"),
        col(htmlCol).as("_html"))
      .select(col("src"),
        explode(extractRelKernel(col("src"), col("_html"))).as("_m"))
      .select(col("src"), UrlOps.canonicalizeUrl(col("_m._1")).as("dst"),
        col("_m._2").as("_nf"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst")
      .agg(min(col("_nf").cast("int")).cast("boolean").as("nofollow"))
  }

  /** The endorsement edge list: [[extractLinksWithRel]] with
    * nofollow'd edges dropped — what [[pagerank]]/[[inDegree]]/
    * [[hostSimilarity]] should consume in a compliant pipeline.
    *
    * SCOPE DIVERGENCE vs [[extractLinks]] (documented, pipelines
    * switching between the two must know the edge set can differ
    * beyond nofollow removal): the per-anchor scan here uses
    * [[AnchorTagRe]] (`<a\b([^>]*)>`), whose `[^>]*` stops at a `>`
    * INSIDE a quoted attribute value (legal HTML, e.g.
    * `href="/p?a>b"`) and requires a closing `>` — [[extractLinks]]'
    * [[HrefRe]] scans for the href attribute directly and DOES capture
    * such hrefs (and hrefs of unterminated anchor tags at EOF). Both
    * are regex-tier scans of tag soup; anchors whose href value
    * embeds a raw `>` land on the extractLinks side only. Extending
    * AnchorTagRe to skip quoted values would need an alternation that
    * reintroduces the attribute-order problem the whole-attribute
    * capture exists to solve — accepted tradeoff.
    */
  def followedLinks(pages: DataFrame, urlCol: String,
                    htmlCol: String): DataFrame =
    extractLinksWithRel(pages, urlCol, htmlCol)
      .filter(!col("nofollow")).select("src", "dst")

  /** [[HrefRe]] extended past the closing `>` to capture the anchor's
    * LEADING TEXT RUN (group 4: everything up to the next tag). Nested
    * markup inside an anchor (`<a ...><b>bold</b> tail`) contributes
    * only the text before the first child tag — documented scope, not
    * silent truncation: full inner-text needs a counting parser, and
    * the leading run is what anchor-text quality signals key on in
    * practice. RE2-portable (no backreferences) so DuckDB replays it.
    */
  private[operators] val AnchorRe = HrefRe + "[^>]*>([^<]*)"

  /** Anchor-text table of a page frame: one row per resolvable anchor
    * with non-empty text, `(src, dst, anchor)` — endpoints canonical
    * (same resolution scope as [[extractLinks]]), anchor text
    * whitespace-collapsed and trimmed. Anchor text is the classic
    * query-independent relevance/quality signal (what OTHER pages call
    * this URL); aggregating by (dst, anchor) gives the per-target label
    * histogram. Map-only until the final distinct.
    *
    * Group alignment: the four `regexp_extract_all` calls run the SAME
    * pattern, so their match lists have identical length and index i of
    * each is the same anchor — `arrays_zip` restores the per-match
    * (href", href', unquoted href, text) tuple that per-group
    * extraction splits. (The extractLinks single-scan shape was
    * MEASURED SLOWER here — 1.04→1.60 s isolated at sf0.1: with four
    * groups the per-match re-extraction pays up to six short-string
    * regex evals per anchor, which outweighs the saved full-text scans
    * on anchor-dense pages; the zip shape stays.)
    */
  private[operators] def extractAnchorsStr(src: String,
                                           html: String): Array[(String, String)] = {
    if (html == null) Array.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val m = AnchorPat.matcher(html)
      while (m.find()) {
        val href = hrefOfGroups(m.group(1), m.group(2), m.group(3))
        if (href != null) {
          val t4 = m.group(4)
          // whitespace-collapse + trim: after runs contract to one ' ',
          // any leading/trailing residue is a single space — strip it
          // (what the column shape's space-only `trim` did)
          val collapsed =
            if (t4 == null) "" else WsRunPat.matcher(t4).replaceAll(" ")
          val anchor = {
            var a = 0; var b = collapsed.length
            while (a < b && collapsed.charAt(a) == ' ') a += 1
            while (b > a && collapsed.charAt(b - 1) == ' ') b -= 1
            collapsed.substring(a, b)
          }
          if (anchor.nonEmpty) {
            val abs = resolveHrefStr(src, href)
            if (abs != null) out += ((abs, anchor))
          }
        }
      }
      out.toArray
    }
  }

  private val extractAnchorsKernel = udf(extractAnchorsStr _)

  /** BOTH extraction families from one pass over the page: the rel
    * edges ([[extractRelStr]], AnchorTagRe scope) and the anchor texts
    * ([[extractAnchorsStr]], AnchorRe scope) — each kernel runs
    * VERBATIM (the two regex scopes differ by documented contract, so
    * neither can be derived from the other), but a composite consumer
    * like [[urlReport]] reads and decompresses each page ONCE instead
    * of scanning the page frame twice. The page bytes never persist;
    * only the (small) extracted tuples do.
    */
  private[operators] def extractRelAnchorsStr(src: String, html: String)
      : (Array[(String, Boolean)], Array[(String, String)]) =
    (extractRelStr(src, html), extractAnchorsStr(src, html))

  private val extractRelAnchorsKernel = udf(extractRelAnchorsStr _)

  /** The fused single-scan frame [[urlReport]] persists:
    * `(src, _rel: array<(dst, nofollow)>, _anc: array<(dst, anchor)>)`,
    * one row per page, both extraction families from ONE read of the
    * page frame. `private[graft]` so the plan probe can dump its shape.
    */
  private[graft] def fusedRelAnchors(pages: DataFrame, urlCol: String,
                                     htmlCol: String): DataFrame =
    pages
      .select(UrlOps.canonicalizeUrl(col(urlCol)).as("src"),
        col(htmlCol).as("_html"))
      .select(col("src"),
        extractRelAnchorsKernel(col("src"), col("_html")).as("_ra"))
      .select(col("src"), col("_ra._1").as("_rel"), col("_ra._2").as("_anc"))

  def extractAnchors(pages: DataFrame, urlCol: String,
                     htmlCol: String): DataFrame = {
    // single-pass kernel ([[extractAnchorsStr]]): ONE AnchorRe matcher
    // loop per page reads href and leading-text from each match's own
    // groups. (History: the four-scan arrays_zip shape existed because
    // per-match short-string re-extraction measured SLOWER than four
    // full-text passes — the kernel needs neither: no rescans, no zip,
    // no match arrays.)
    pages
      .select(UrlOps.canonicalizeUrl(col(urlCol)).as("src"),
        col(htmlCol).as("_html"))
      .select(col("src"),
        explode(extractAnchorsKernel(col("src"), col("_html"))).as("_m"))
      .select(col("src"), UrlOps.canonicalizeUrl(col("_m._1")).as("dst"),
        col("_m._2").as("anchor"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Per-target TOP anchor label — the classic query-independent
    * relevance signal distilled to one row per URL: what other pages
    * most often call this target, with `n_srcs` as its support. Input
    * is [[extractAnchors]] output (distinct (src, dst, anchor)
    * triples). Two stages, both scale-safe: a combiner-collapsed
    * `groupBy(dst, anchor).count()` (shuffled bytes ∝ distinct
    * labels, never anchors), then the deterministic-mode row_number
    * formulation (the B4 mode-per-bucket precedent: count DESC, then
    * anchor ASC as the total tie order, so the winner is
    * partitioning-independent and oracle-replayable). The window
    * partitions by dst — never a global sort; a hot target's label
    * histogram is label-cardinality-sized, not source-sized.
    */
  def topAnchorLabels(anchors: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = anchors.groupBy(col("dst"), col("anchor"))
      .agg(count(lit(1)).as("n_srcs"))
    val w = Window.partitionBy("dst")
      .orderBy(col("n_srcs").desc, col("anchor"))
    hist.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("dst").as("url"), col("anchor").as("top_anchor"),
        col("n_srcs"))
  }

  /** Per-URL reputation report — the link family's signals joined into
    * the one row per URL a curation pipeline actually consumes:
    *
    *  - `rank`: fixed-point PageRank over the ENDORSEMENT graph
    *    ([[extractLinksWithRel]] minus nofollow edges — rank must not
    *    flow through nofollow per REP); NULL for a URL absent from
    *    that graph (only-nofollow'd targets) — honest, not zero.
    *  - `n_inlinks` / `nofollow_share`: the in-link count and the
    *    nofollow fraction (rounded 6 dp, the engine-identical-band
    *    rule) over ALL in-edges — a high nofollow share is itself a
    *    spam signal.
    *  - `top_anchor`: what other pages most often call this URL
    *    ([[topAnchorLabels]]); NULL when no anchor has text.
    *
    * Base set = every URL with at least one in-edge. All three sides
    * are PRE-AGGREGATED (one row per URL each) before the joins, so
    * the joins move signal-sized tables, never edges; the rel edge
    * list is computed ONCE (persisted — it feeds both the in-link
    * aggregate and the followed graph) and released after the
    * (output-proportional) result checkpoints, the hostSimilarity
    * discipline.
    */
  def urlReport(pages: DataFrame, urlCol: String, htmlCol: String,
                iters: Int = 3, dampingPct: Int = 85,
                checkpointDir: Option[String] = None): DataFrame =
    withCheckpointDir(pages.sparkSession, checkpointDir) {
    // ONE page scan feeds both signal families (r16): the fused kernel
    // ([[extractRelAnchorsStr]]) runs the rel and anchor extractors
    // verbatim in a single pass over each page, and the extracted
    // tuples — not the page bytes — persist for the branches. The two
    // downstream pipelines below are the extractLinksWithRel /
    // extractAnchors column shapes byte-for-byte (same canonicalization,
    // same self-loop filter, same aggregation), so the report is
    // unchanged; only the second full read+decompress of the page frame
    // disappears.
    val scanned = fusedRelAnchors(pages, urlCol, htmlCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rel = scanned
      .select(col("src"), explode(col("_rel")).as("_m"))
      .select(col("src"), UrlOps.canonicalizeUrl(col("_m._1")).as("dst"),
        col("_m._2").as("_nf"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst")
      .agg(min(col("_nf").cast("int")).cast("boolean").as("nofollow"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inAgg = rel.groupBy(col("dst").as("url"))
      .agg(count(lit(1)).as("n_inlinks"),
        round(sum(col("nofollow").cast("int")).cast("double") /
          count(lit(1)), 6).as("nofollow_share"))
    val followed = rel.filter(!col("nofollow")).select("src", "dst")
    val ranks = pagerank(followed, iters, dampingPct,
      checkpointDir = checkpointDir)
    val anchors = scanned
      .select(col("src"), explode(col("_anc")).as("_m"))
      .select(col("src"), UrlOps.canonicalizeUrl(col("_m._1")).as("dst"),
        col("_m._2").as("anchor"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val labels = topAnchorLabels(anchors)
    // same truncation option as the rank loop it embeds: on a
    // preemptible cluster the whole report survives executor loss
    // when a reliable dir is passed; default stays the cheap
    // executor-local cut
    val out = truncateLineage(inAgg
      .join(ranks, Seq("url"), "left")
      .join(labels.select(col("url"), col("top_anchor")), Seq("url"), "left")
      .select(col("url"), col("rank"), col("n_inlinks"),
        col("nofollow_share"), col("top_anchor")), checkpointDir)
    rel.unpersist(false)
    scanned.unpersist(false)
    out
    }

  /** Host-level projection of the edge list — the domain-reputation
    * rollup (inter-host link counts; intra-host navigation edges are
    * dropped because they carry no cross-site endorsement). One
    * map-side host extraction + one combiner-collapsed aggregation;
    * the host graph is orders of magnitude smaller than the page graph,
    * which is exactly why reputation systems compute at this level.
    */
  def hostGraph(edges: DataFrame): DataFrame = {
    val host = (c: Column) => regexp_extract(c, "^[a-z+.-]+://([^/?]*)", 1)
    edges
      .select(host(col("src")).as("src_host"), host(col("dst")).as("dst_host"))
      .filter(col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"))
  }

  /** Connected components of the UNDIRECTED link graph: `(url,
    * component)` for every URL incident to an edge, component = the
    * minimum canonical URL (string order) of its component. Link-graph
    * components drive crawl sharding (a component never straddles
    * shards) and mirror-site detection (a mirrored cluster is one
    * component whose pages pairwise near-dup).
    *
    * Same alternating large-star/small-star contraction as the dedup
    * tiers ([[Clustering.connectedComponents]], Kiveris et al. SoCC
    * 2014) — the rounds only need a total order on node ids, which
    * strings have; O(log² n) rounds, per-round state is the shrinking
    * edge list, no driver-side graph.
    */
  def components(edges: DataFrame, maxIter: Int = 25): DataFrame =
    Clustering.connectedComponents(edges, "src", "dst", maxIter,
        nodeType = "string")
      .select(col("node").as("url"), col("component"))

  /** Incremental component maintenance — the daily-crawl shape:
    * yesterday's `(url, component)` assignment re-enters the
    * contraction as its own star edge set, unioned with today's new
    * edges; the rounds then only pay for the merges the new edges
    * actually cause. Exactly equal to recomputing [[components]] over
    * the full accumulated edge list (star edges preserve connectivity;
    * min-label components are monotone under union — see
    * [[Clustering.updateComponents]]); per-day cost ∝ |assignment| +
    * |new edges| instead of |all edges ever crawled|.
    */
  def updateComponents(assignment: DataFrame, newEdges: DataFrame,
                       maxIter: Int = 25): DataFrame =
    Clustering.updateComponents(
        assignment.select(col("url").as("node"), col("component")),
        newEdges, "src", "dst", maxIter, nodeType = "string")
      .select(col("node").as("url"), col("component"))

  /** Mirror-candidate host pairs by LINK STRUCTURE: hosts whose
    * outgoing link-target sets overlap at Jaccard ≥ `threshold` —
    * mirrored/templated sites link to (near-)identical target sets
    * even when their page text differs, so this is the cheap first
    * tier of mirror detection (content near-dup confirms candidates).
    *
    * Scale discipline (the [[Dedup]] `maxDf` precedent): a target
    * linked from more than `maxDf` distinct hosts is dropped BEFORE
    * the pair join — universal targets (the `google.com`s of the
    * graph) would otherwise contribute O(df²) host pairs while
    * carrying no mirror signal. With the cut, the self-join on `dst`
    * emits ≤ maxDf²/2 pairs per target — bounded by construction.
    * The Jaccard is computed on the ROUNDED (6 dp) value and the
    * threshold compares against that same rounded number, so the
    * band boundary is engine-identical (the q_dedup_sensitivity
    * rule).
    */
  def hostSimilarity(edges: DataFrame, threshold: Double = 0.2,
                     maxDf: Int = 15, materialize: Boolean = true): DataFrame = {
    val host = regexp_extract(col("src"), "^[a-z+.-]+://([^/?]*)", 1)
    val hd0 = edges.select(host.as("host"), col("dst")).distinct()
    // `hd` feeds the hot-cut aggregate + the anti-join, and `cold` is
    // referenced THREE times (sizes, both pair sides) — left lazy,
    // Catalyst re-runs the whole upstream extraction per reference
    // (measured 4.5 s vs ~2 s at sf0.1). The jaccardPairs pattern:
    // cache the reused frames, eagerly checkpoint the (small,
    // output-proportional) result, release the corpus-proportional
    // caches immediately. materialize=false keeps the fully lazy,
    // recomputable plan for plan-shape tests.
    val hd = if (materialize)
      hd0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else hd0
    val hot = hd.groupBy("dst").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("dst")
    val cold0 = hd.join(hot, Seq("dst"), "left_anti")
    val cold = if (materialize)
      cold0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else cold0
    val sizes = cold.groupBy("host").agg(count(lit(1)).as("n"))
    val a = cold.select(col("host").as("host_a"), col("dst"))
    val b = cold.select(col("host").as("host_b"), col("dst"))
    val common = a.join(b, Seq("dst"))
      .filter(col("host_a") < col("host_b"))
      .groupBy("host_a", "host_b").agg(count(lit(1)).as("common"))
    val result = common
      .join(sizes.select(col("host").as("host_a"), col("n").as("na")), Seq("host_a"))
      .join(sizes.select(col("host").as("host_b"), col("n").as("nb")), Seq("host_b"))
      .select(col("host_a"), col("host_b"),
        round(col("common") / (col("na") + col("nb") - col("common")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    if (materialize) {
      val out = result.localCheckpoint(true)
      hd.unpersist(false)
      cold.unpersist(false)
      out
    } else result
  }

  /** Fixed-point PageRank over the canonical edge list: `iters`
    * synchronous iterations at damping `d` = `dampingPct`/100
    * (integer percent, so the oracle replays the arithmetic exactly).
    *
    * Node set = every URL appearing as src OR dst. Per iteration, with
    * integer floor division at every step:
    * {{{
    *   contrib(v) = Σ_{(u,v)∈E} rank(u) div outdeg(u)
    *   dangling   = Σ_{outdeg(u)=0} rank(u)
    *   rank'(v)   = ((100-d)·(T div N)) div 100
    *              + (d·contrib(v)) div 100
    *              + (d·(dangling div N)) div 100
    * }}}
    * where `T` = [[FixedPointTotal]]. Every term is a BIGINT; the
    * result is bit-identical under any partitioning (integer sums
    * commute exactly). Returns `(url, rank)` with rank in micro-units.
    *
    * Scale shape: the rank table (N rows) joins edges on src — shuffle
    * on src; contributions aggregate with map-side partials on dst —
    * shuffle on dst; the per-iteration scalar (dangling mass) is one
    * tiny aggregate. Pre-bucketing edges by src turns the per-iteration
    * join co-partitioned; at toy scale AQE picks broadcast for the
    * rank side.
    */
  def pagerank(edges: DataFrame, iters: Int = 3,
               dampingPct: Int = 85,
               stopDeltaL1: Long = 0L,
               checkpointDir: Option[String] = None): DataFrame =
    pagerankCore(edges, iters, dampingPct, stopDeltaL1, persistEdges = true,
      checkpointDir = checkpointDir)

  /** PERSONALIZED (seeded) PageRank — the TrustRank-shaped propagation
    * every crawl curation stack runs from a trusted seed list: teleport
    * mass ((100−d)% per iteration, plus the dangling remainder) lands
    * ONLY on the `seeds` URLs instead of uniformly, so rank measures
    * proximity-to-trust rather than raw centrality; pages no seed can
    * reach converge to 0. Same fixed-point integer arithmetic as
    * [[pagerank]] (classic PageRank IS the all-seeds special case of
    * this formula, so one core serves both and stays bit-replayable):
    * {{{
    *   rank'(v) = [v∈S]·( ((100−d)·(T div |S|)) div 100
    *                    + (d·(dangling div |S|)) div 100 )
    *            + (d·contrib(v)) div 100
    * }}}
    * Init stays uniform T div N (the oracle replays it). Seeds not
    * present in the graph contribute nothing; at least one must be.
    * Scale shape identical to [[pagerank]] plus one broadcast-sized
    * seed join at init.
    */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 3, dampingPct: Int = 85,
                           stopDeltaL1: Long = 0L,
                           checkpointDir: Option[String] = None): DataFrame =
    pagerankCore(edges, iters, dampingPct, stopDeltaL1,
      persistEdges = true, seeds = Some(seeds),
      checkpointDir = checkpointDir)

  /** Lineage truncation for the iterative loop, in one of two modes:
    *
    *  - `checkpointDir = None` (default — right for local[32] and
    *    stable clusters): eager [[org.apache.spark.sql.Dataset
    *    .localCheckpoint]]. Blocks are EXECUTOR-LOCAL and
    *    non-replicated, and the lineage is GONE — on a preemptible /
    *    dynamic-allocation cluster, losing one executor mid-run fails
    *    the job with no recompute path. Cheap (no DFS write), which
    *    is why it stays the default where executors don't vanish.
    *  - `checkpointDir = Some(dir)` (the long-run / preemptible-
    *    cluster option): eager RELIABLE `checkpoint` into `dir` — the
    *    iteration state lands on fault-tolerant storage, so executor
    *    loss recomputes nothing worse than a re-read. Costs one DFS
    *    round trip per iteration; superseded checkpoint FILES are
    *    removed by the context cleaner when
    *    `spark.cleaner.referenceTracking.cleanCheckpoints` is set
    *    (off by default — without it, budget iters × rank-table-size
    *    in `dir` per run).
    */
  private[graft] def truncateLineage(df: DataFrame,
                                     checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(_) => df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }

  /** [[truncateLineage]] with the MATERIALIZING action deferred to the
    * caller's immediately-following aggregate — the per-iteration
    * job-fusion variant for loops that already run one action over the
    * truncated frame right after truncating (pagerank's delta/dangling
    * aggregate, the contraction loop's edge checksum). An EAGER
    * localCheckpoint is its own job (compute + persist every
    * partition), so the loop paid two jobs per iteration for one pass
    * of work; the LAZY form cuts the Dataset lineage identically (the
    * returned frame's plan is already the RDD scan) but lets the
    * caller's aggregate be the run that populates the persisted
    * blocks — one job per iteration (measured: pagerank(3) over cached
    * sf0.1 edges 1.97 → ~1.2 s warm).
    *
    * CONTRACT: the caller MUST run an action on the returned frame
    * before unpersisting or releasing any input the truncated plan
    * reads — a lazy local checkpoint materialized after its inputs are
    * gone recomputes through RDD lineage (correct, but repeats the
    * work the truncation was supposed to seal).
    *
    * Reliable-checkpoint mode stays EAGER deliberately: a lazy
    * reliable `checkpoint()` runs the producing job twice (once for
    * the caller's action, once more to write the checkpoint files) —
    * the classic non-eager-checkpoint trap — so fusing would cost a
    * pass instead of saving one.
    */
  private[graft] def truncateLineageFused(df: DataFrame,
                                          checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(_) => df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = false)
    }

  /** Scope the SparkContext-GLOBAL checkpoint directory to `body`:
    * `setCheckpointDir` mutates shared session state, so a bare set
    * would silently redirect every OTHER job's reliable checkpoints
    * (concurrent streams, later calls expecting the previous dir).
    * The set is skipped when the context already points INTO `dir`
    * (`setCheckpointDir` appends a fresh UUID subdirectory, so
    * "points into" is the right equality), and the PREVIOUS dir is
    * restored after `body` when one existed — restoration re-derives
    * a new UUID leaf under the SAME previous path, so other jobs'
    * future checkpoints keep landing inside the directory their owner
    * chose; files already written stay valid (each checkpointed RDD
    * holds its own path). Residue: when no dir was set before, `dir`
    * stays set afterwards (the context API cannot portably unset it)
    * — documented, and harmless to callers that never checkpoint
    * without passing their own dir.
    */
  private[graft] def withCheckpointDir[T](
      spark: org.apache.spark.sql.SparkSession,
      dir: Option[String])(body: => T): T = dir match {
    case None => body
    case Some(d) =>
      val sc = spark.sparkContext
      val prev = sc.getCheckpointDir
      val dNorm = d.stripSuffix("/")
      val alreadyInside = prev.exists(p =>
        p == dNorm || p.startsWith(dNorm + "/") ||
          p.startsWith("file:" + dNorm + "/"))
      if (alreadyInside) body
      else {
        sc.setCheckpointDir(d)
        try body
        finally prev.foreach(sc.setCheckpointDir)
      }
  }

  /** Explicitly drop a SUPERSEDED iteration's localCheckpoint blocks
    * (the frame must never be consumed again — its data AND lineage
    * are both gone after this). Without the explicit release, a
    * high-iters run holds ~iters copies of the rank table in executor
    * storage until the JVM GCs the frames and the ContextCleaner
    * runs. A no-op for reliable checkpoints (their RDD is not
    * persisted; files are the cleaner's concern) and for non-
    * truncated frames.
    */
  private def releaseTruncated(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => ()
    }

  private def pagerankCore(edges: DataFrame, iters: Int, dampingPct: Int,
                           stopDeltaL1: Long,
                           persistEdges: Boolean,
                           seeds: Option[DataFrame] = None,
                           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    require(stopDeltaL1 >= 0L)
    withCheckpointDir(edges.sparkSession, checkpointDir) {
    // iterative Spark 101: each iteration is MATERIALIZED (persist +
    // action) before the next builds on it — a lazily-chained loop
    // recomputes every prior iteration per downstream action (the
    // first draft benched 6.2 s for 3 iterations at sf0.1; the
    // lineage was cubic in iters). Ad-hoc edges feed every iteration,
    // so they persist too instead of re-running link extraction; a
    // bucketed index table ([[pagerankAgainstIndex]]) is already
    // materialized AND co-partitioned on src — caching it would only
    // copy the storage and hide the bucket partitioning.
    val edgesP = if (persistEdges) edges.persist() else edges
    val nodes = edgesP.select(col("src").as("url"))
      .union(edgesP.select(col("dst").as("url"))).distinct()
    val outDeg = edgesP.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // `_seed` marks teleport targets: the unseeded run treats EVERY
    // node as a seed (flag 1 everywhere), which makes the seeded
    // formula algebraically identical to classic PageRank — one core,
    // one oracle arithmetic
    val base0 = nodes.join(outDeg, nodes("url") === outDeg("src"), "left")
      .select(col("url"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
    val base = (seeds match {
      case None => base0.withColumn("_seed", lit(1))
      case Some(sd) => base0
        .join(sd.select(col("url")).distinct().withColumn("_m", lit(1)),
          Seq("url"), "left")
        .withColumn("_seed", coalesce(col("_m"), lit(0)).cast("int"))
        .drop("_m")
    }).persist()
    // ONE setup aggregate (materializes the persisted base as it runs):
    // node count, dangling-node count and seed count together — the
    // three-job draft (count, seed count, dangling-mass sum) paid two
    // extra full job round-trips per call for numbers one pass provides
    val initRow = base.agg(
      count(lit(1)),
      coalesce(sum(when(col("outdeg") === 0L, 1L)), lit(0L)),
      coalesce(sum(when(col("_seed") === 1, 1L)), lit(0L))).head()
    val n = initRow.getLong(0)
    require(n > 0, "pagerank over an empty edge list has no node set " +
      "(the uniform init would divide by zero) — filter upstream")
    // teleport mass spreads over the SEED set (classic PageRank is the
    // all-seeds special case where nTeleport == n)
    val nTeleport = seeds.fold(n)(_ => initRow.getLong(2))
    require(nTeleport > 0, "personalized PageRank needs at least one seed present in the graph")
    val d = dampingPct.toLong
    val baseShare = ((100L - d) * (FixedPointTotal / nTeleport)) / 100L
    var ranks: DataFrame = base.select(col("url"), col("outdeg"),
      col("_seed"), lit(FixedPointTotal / n).as("rank"))
    // iteration 0's dangling mass comes off the uniform init directly:
    // every dangling node holds exactly (total div n), so the mass is
    // that share times the dangling-node count — same exact integer as
    // the sum the draft aggregated row-by-row
    var dangling = (FixedPointTotal / n) * initRow.getLong(1)
    var it = 0
    var converged = false
    // the previous iteration's truncated frame: released as soon as
    // the next one materializes (see [[releaseTruncated]]) — the loop
    // holds at most TWO rank-table copies in executor storage, never
    // ~iters of them
    var prevCp: DataFrame = null
    while (it < iters && !converged) {
      val dangShare = (d * (dangling / nTeleport)) / 100L
      val contribs = edgesP
        .join(ranks.filter(col("outdeg") > 0L), edgesP("src") === ranks("url"))
        // true integer division (div), NOT `/`-then-cast: long `/` is
        // double division, and ulp(10^12) ≈ 2.4e-4 can round a
        // just-below-integer quotient UP before the cast — a
        // partitioning-independent result needs exact floor division
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("contrib"))
      // next is built FROM ranks (same url set as base), carrying the
      // previous rank as a column — so the L1 convergence delta needs
      // NO extra join (a separate next⋈ranks delta join benched
      // q_link_pagerank at 9.5 s vs 4.7 s at sf0.1). `ranks` is
      // referenced TWICE here (contribs + the join's left side), so
      // the lineage must be TRUNCATED each iteration, not just cached:
      // a persisted-but-lazy-planned loop doubles the logical plan per
      // iteration — exponential in iters; an 8-iteration run OOM'd
      // merely RENDERING the plan string. Eager localCheckpoint is the
      // materializing action AND the truncation.
      val next = ranks.join(contribs, ranks("url") === contribs("dst"), "left")
        .select(ranks("url"), ranks("outdeg"), ranks("_seed"),
          expr(s"CASE WHEN _seed = 1 THEN ${baseShare}L + ${dangShare}L " +
            s"ELSE 0L END + (${d}L * coalesce(contrib, 0L)) div 100")
            .as("rank"),
          ranks("rank").as("_prev"))
      // LAZY truncation: the delta/dangling aggregate right below is
      // the materializing action, so each iteration runs ONE job, not
      // a checkpoint job plus an aggregate job (see truncateLineageFused
      // — the aggregate runs before anything the plan reads unpersists)
      val nextCp = truncateLineageFused(next, checkpointDir)
      // one scalar aggregate per iteration over the checkpointed frame
      // computes the exact-integer L1 delta vs the previous ranks (the
      // convergence test — with the default stopDeltaL1 = 0 the loop
      // stops only at an EXACT fixpoint, where every further iteration
      // reproduces the same ranks, so early stop is result-identical
      // to running all `iters` and a fixed-iters oracle stays valid; a
      // nonzero tolerance trades that equivalence for fewer
      // iterations) and pre-computes the NEXT iteration's dangling
      // mass.
      val row = nextCp.agg(
        coalesce(sum(abs(col("rank") - col("_prev"))), lit(0L)),
        coalesce(sum(when(col("outdeg") === 0L, col("rank"))), lit(0L)))
        .head()
      val delta = row.getLong(0)
      dangling = row.getLong(1)
      // the new iteration is materialized (eager truncation + the
      // aggregate above) — the superseded one's blocks release NOW,
      // not at some future GC + ContextCleaner pass
      if (prevCp != null) releaseTruncated(prevCp)
      prevCp = nextCp
      ranks = nextCp.select(col("url"), col("outdeg"), col("_seed"), col("rank"))
      it += 1
      if (delta <= stopDeltaL1) converged = true
    }
    // the final iteration stays checkpointed — the caller consumes it
    // next; the scaffolding caches drop here
    if (persistEdges) edgesP.unpersist()
    base.unpersist()
    ranks.select(col("url"), col("rank"))
    }
  }

  /** Fixed-point total for [[hits]] — 10^9, not [[FixedPointTotal]]'s
    * 10^12: the per-iteration rescale multiplies a raw sum (≤ total,
    * since each raw component is a sum of normalized scores that
    * themselves sum to ≤ total) by the total before the floor divide,
    * so total² must fit a BIGINT — 10^18 < 2^63 does, 10^24 would not.
    */
  val HitsTotal: Long = 1000000000L

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over the canonical
    * edge list — the query-independent complement of [[pagerank]]:
    * authority = linked-to by good hubs, hub = links to good
    * authorities; crawl curation uses authorities as a quality prior
    * and hubs for seed-list discovery.
    *
    * FIXED-POINT INTEGER arithmetic like the PageRank family, with one
    * documented variation from the textbook: per-iteration
    * normalization is L1 (each score vector rescaled to sum ~[[HitsTotal]]
    * by integer floor division), not L2 — the HITS update is LINEAR,
    * so the normalization choice sets only the global scale, never the
    * ranking, and L1 keeps every step in exact integers (an L2 norm
    * needs a sqrt), which is what lets a DuckDB oracle replay every
    * iteration bit for bit. Per iteration:
    * {{{
    *   a'(v) = Σ_{(u,v)∈E} h(u);   a(v) = (a'(v)·T) div Σ a'
    *   h'(u) = Σ_{(u,v)∈E} a(v);   h(u) = (h'(u)·T) div Σ h'
    * }}}
    * Nodes with no in-edges get authority 0, no out-edges hub 0. If a
    * raw vector sums to 0 (a degenerate bipartite dead end), iteration
    * stops and the current scores return — documented, never a divide
    * by zero. Returns `(url, hub, authority)`.
    *
    * Resolution bound: the uniform init is `total div N`, so a graph
    * past ~10^9 nodes floors the init to 0 (same property
    * [[FixedPointTotal]] has at 10^12) — shard such graphs (per host,
    * per component) before ranking, which is how web-scale HITS runs
    * anyway (it was defined on query-local subgraphs).
    *
    * Scale shape = [[pagerank]]'s: two co-keyed joins + two
    * combiner-collapsed aggregations + two scalar aggregates per
    * iteration; iterations truncate lineage eagerly with the same
    * release discipline (≤2 score-table copies live).
    */
  def hits(edges: DataFrame, iters: Int = 2,
           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1)
    withCheckpointDir(edges.sparkSession, checkpointDir) {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    val nodes = e.select(col("src").as("url"))
      .union(e.select(col("dst").as("url"))).distinct().persist()
    val n = nodes.count()
    require(n > 0, "hits over an empty edge list has no node set — " +
      "filter upstream")
    val T = HitsTotal
    var scores: DataFrame = nodes.select(col("url"),
      lit(T / n).as("hub"), lit(T / n).as("authority"))
    var prevCp: DataFrame = null
    // LAZY per-iteration truncation (truncateLineageFused): iteration
    // i's truncated frame is materialized by iteration i+1's FIRST
    // scalar aggregate (the `aTot` job joins `scores` = that frame), so
    // the loop runs two jobs per iteration, not three. Consequence for
    // release hygiene: iteration i's persisted intermediates
    // (araw/withA/hraw) and the superseded i−1 checkpoint are inputs of
    // the still-unmaterialized frame, so they move to `pending` and
    // release only AFTER the next materializing action — never before
    // (an input released under a lazy checkpoint recomputes through RDD
    // lineage: correct, but repeats the pass the fusion saved).
    var pending: List[DataFrame] = Nil   // persisted intermediates
    var pendingCp: DataFrame = null      // superseded truncated frame
    var cpMaterialized = true            // is `scores`'s checkpoint live?
    def releasePending(): Unit = {
      pending.foreach(_.unpersist(false)); pending = Nil
      if (pendingCp != null) { releaseTruncated(pendingCp); pendingCp = null }
    }
    var it = 0
    var dead = false
    while (it < iters && !dead) {
      // each intermediate feeds MULTIPLE actions (the rescale total,
      // the opposite-direction aggregation, the next frame's
      // materialization) — persisted so the edges⋈scores aggregation
      // runs ONCE per direction per iteration, not re-derived per
      // action (the unpersisted draft rebuilt `araw` up to 3×:
      // measured 7.9–9.0 s vs PageRank-idx's ~4.3 s at sf0.1 on the
      // same graph). All three are node-sized, released after the next
      // iteration materializes; only the truncated frame survives.
      val araw = e.join(scores.select(col("url"), col("hub")),
          e("src") === scores("url"))
        .groupBy(col("dst")).agg(sum("hub").as("_ra"))
        .persist(lvl)
      val aTot = araw.agg(coalesce(sum("_ra"), lit(0L))).head().getLong(0)
      // the aTot job read `scores`, so a lazy previous-iteration
      // checkpoint is materialized NOW — its inputs can finally go
      cpMaterialized = true
      releasePending()
      if (aTot == 0L) { araw.unpersist(false); dead = true }
      else {
        val withA = scores.join(araw, scores("url") === araw("dst"), "left")
          .select(scores("url"), scores("hub"),
            expr(s"(coalesce(_ra, 0L) * ${T}L) div ${aTot}L")
              .as("authority"))
          .persist(lvl)
        val hraw = e.join(withA.select(col("url").as("_d"), col("authority")),
            e("dst") === col("_d"))
          .groupBy(col("src")).agg(sum("authority").as("_rh"))
          .persist(lvl)
        val hTot = hraw.agg(coalesce(sum("_rh"), lit(0L))).head().getLong(0)
        if (hTot == 0L) {
          araw.unpersist(false); withA.unpersist(false)
          hraw.unpersist(false); dead = true
        } else {
          val next = withA.join(hraw, withA("url") === hraw("src"), "left")
            .select(withA("url"),
              expr(s"(coalesce(_rh, 0L) * ${T}L) div ${hTot}L").as("hub"),
              withA("authority"))
          val nextCp = truncateLineageFused(next, checkpointDir)
          pending = List(araw, withA, hraw)
          pendingCp = prevCp
          prevCp = nextCp
          scores = nextCp
          cpMaterialized = checkpointDir.isDefined // reliable mode is eager
        }
      }
      it += 1
    }
    // a loop that ended on a lazy, still-unmaterialized frame runs the
    // one materializing pass the eager draft paid per iteration — then
    // the last iteration's inputs release as usual
    if (!cpMaterialized)
      scores.write.format("noop").mode("overwrite").save()
    releasePending()
    val out =
      if (prevCp == null) truncateLineage(scores, checkpointDir) else scores
    e.unpersist(false)
    nodes.unpersist(false)
    out.select(col("url"), col("hub"), col("authority"))
    }
  }

  // ---- persisted src-bucketed edge index ----
  // The link family's entry in the persisted-index line (MinHash
  // buckets, SimHash segments, IVF lists, URL claims): PageRank
  // re-joins the FULL edge list on src every iteration, so an ad-hoc
  // edge frame pays an edge-sized shuffle per iteration — the
  // dominant cost at graph scale. Bucketing the stored edges by src
  // makes every iteration's join co-partitioned on the edge side:
  // only the rank table (N rows, orders of magnitude smaller than
  // the edge list on real web graphs) moves per iteration.

  /** Persist the distinct edge list bucketed (and sorted) by `src`.
    * The bucket count is recorded as a table property like the other
    * index families.
    */
  def writeEdgeIndex(edges: DataFrame, tableName: String,
                     buckets: Int = graft.util.IndexBuckets.Auto): Unit =
    graft.util.IndexTable.write(edges.select(col("src"), col("dst")).distinct(),
      tableName, "src", buckets)

  /** Append a new batch of edges (daily-crawl shape) to a
    * [[writeEdgeIndex]] table; bucketing re-validated from the catalog
    * so the co-partitioned read stays lossless across appends. Appends
    * are edge-set unions: a re-appended (src, dst) pair is harmless
    * duplicate state — the read path collapses duplicates with a
    * LOCAL aggregate (src-bucketing already satisfies the (src, dst)
    * grouping distribution, so the dedup costs no Exchange), which is
    * what makes retrying a failed append idempotent.
    */
  def appendToEdgeIndex(newEdges: DataFrame, tableName: String): Unit =
    graft.util.IndexTable.append(newEdges.select(col("src"), col("dst")).distinct(),
      tableName, "src", "writeEdgeIndex")

  /** The deduplicated edge view of an index table — cross-append
    * duplicate (src, dst) pairs collapse without an Exchange (the
    * bucketing on src satisfies the grouping distribution).
    */
  private def indexEdges(spark: org.apache.spark.sql.SparkSession,
                         tableName: String): DataFrame =
    spark.table(tableName).dropDuplicates("src", "dst")

  /** [[pagerank]] over a [[writeEdgeIndex]] table: the per-iteration
    * src join reads the bucketed scan with NO edge-side Exchange
    * (plan-pinned in the spec suite) — the rank table shuffles to the
    * bucket partitioning instead. Same fixed-point arithmetic, same
    * oracle; `stopDeltaL1` as in [[pagerank]] (default 0 = exact-
    * fixpoint early stop, result-identical to fixed iterations).
    */
  def pagerankAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                           tableName: String, iters: Int = 3,
                           dampingPct: Int = 85,
                           stopDeltaL1: Long = 0L,
                           checkpointDir: Option[String] = None): DataFrame =
    pagerankCore(indexEdges(spark, tableName), iters, dampingPct,
      stopDeltaL1, persistEdges = false, checkpointDir = checkpointDir)

  /** [[hits]] over a [[writeEdgeIndex]] table — the authority/hub
    * complement of [[pagerankAgainstIndex]]: the per-iteration src
    * join reads the bucketed scan exchange-free; the dst-side join
    * shuffles the (node-sized) score table, as PageRank's does.
    */
  def hitsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                       tableName: String, iters: Int = 2,
                       checkpointDir: Option[String] = None): DataFrame =
    hits(indexEdges(spark, tableName), iters, checkpointDir)

  /** [[components]] over a [[writeEdgeIndex]] table. */
  def componentsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                             tableName: String,
                             maxIter: Int = 25): DataFrame =
    components(indexEdges(spark, tableName), maxIter)
}
