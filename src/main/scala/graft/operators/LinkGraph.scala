package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, OracleSql}
import graft.sources.Tables

/** Hyperlink extraction and the host-level web graph — the crawl-side
  * signals every web-corpus pipeline derives upstream of text cleaning
  * (ABSENT in the reference, whose ingestion starts at opaque text
  * records; this is the §2.14 extension class): per-document `<a>`
  * link extraction (href resolution, rel=nofollow, anchor text), the
  * host→host link graph, host centrality (the Common Crawl
  * harmonic/PageRank host-ranking use, here the engine's exact
  * sink-handling [[Graph.pageRank]]), and per-target-host anchor-text
  * top-k (the classic indexing signal: what the web calls a page).
  *
  * Extraction semantics (declared, both engines replay the same
  * regexes): only well-formed `<a …>…</a>` elements count (an
  * unclosed `<a>` in a truncated document is dropped, the
  * [[Extraction]] unclosed-tag discipline); `href` may be double- or
  * single-quoted (double wins if both appear); empty and
  * fragment-only (`#…`) hrefs are dropped; absolute `http(s)` links
  * resolve to their host with the [[UrlOps]] host rules (lowercase,
  * port dropped, one leading `www.` stripped); non-http(s) schemes
  * (`mailto:`, `javascript:`, `ftp:` …) are dropped; scheme-less
  * hrefs are relative → the document's own base host. Anchor text is
  * the element's inner text, tag-stripped, whitespace-collapsed,
  * trimmed. `rel` values containing `nofollow` flag the link (the
  * graph builder skips them, per the robots-meta convention).
  *
  * Scale: extraction is ONE stateless regexp scan + a per-doc explode
  * bounded by the document's link count — embarrassingly parallel, no
  * shuffle. The host graph is one hash-agg on (src_host, dst_host)
  * (wordcount class: partial maps absorb the per-host skew before the
  * exchange). Centrality runs [[Graph.pageRank]] — per-iteration
  * shuffle bounded by the HOST edge list, which is orders smaller
  * than the corpus (hosts, not documents). Anchor top-k runs the
  * bounded-heap TopKPerKeyExec, never a per-host sort.
  */
object LinkGraph {

  // ------------------------------------------------------------ regexes
  // Shared Java/RE2-portable subset: no backrefs, no lookaround; `\b`,
  // lazy `.*?`, and inline (?is) behave identically in both engines.
  // Element body is an explicit alternation (NOT lazy `.*?`): `[^<]`,
  // or `<` opening any tag that is neither `<a\b` nor `</a\b`. A lazy
  // body would let an UNCLOSED `<a>` swallow every following anchor up
  // to the next `</a>`; with the alternation the unclosed anchor simply
  // fails to match (dropped) and the next anchor survives — the
  // browser's implicit-close behavior, and RE2-expressible (no
  // lookahead, which DuckDB's RE2 lacks). Known edge: a literal `<`
  // immediately before another `<` inside an anchor body breaks that
  // anchor's match (both engines identically).
  private val AnchorElemRe =
    "(?is)<a\\b[^>]*>(?:[^<]|<(?:[^/a<]|/[^a<]|a\\w|/a\\w))*</a>"
  private val HrefDqRe = "(?is)\\bhref\\s*=\\s*\"([^\"]*)\""
  private val HrefSqRe = "(?is)\\bhref\\s*=\\s*'([^']*)'"
  private val NofollowRe = "(?is)\\brel\\s*=\\s*[\"'][^\"']*nofollow"
  private val InnerRe = "(?is)^<a\\b[^>]*>(.*)</a>$"
  private val AbsRe = "(?i)^https?://"
  private val AbsHostRe = "(?i)^https?://([^/:?#]*)"
  private val SchemeRe = "^[A-Za-z][A-Za-z0-9+.-]*:"

  /** Per-document link extraction: one row per KEPT link —
    * `(idCol, base_host, link_no, kind, dst_host, nofollow, anchor,
    * dst_url)`.
    * `link_no` is the element's position among ALL extracted `<a>`
    * elements of the document (a stable provenance offset — dropped
    * links leave holes, deliberately). `kind` is `abs` | `rel`;
    * `base_host` is the document's own host, passed through (relative
    * links resolve to it, and it is the graph builder's src). */
  def extractLinks(docs: DataFrame, idCol: String, htmlCol: String,
      baseHostCol: String): DataFrame = {
    val elems = docs.select(col(idCol), col(baseHostCol).as("base_host"),
      posexplode(regexp_extract_all(col(htmlCol), lit(AnchorElemRe), lit(0)))
        .as(Seq("link_no", "elem")))
    val dq = regexp_extract(col("elem"), HrefDqRe, 1)
    val sq = regexp_extract(col("elem"), HrefSqRe, 1)
    val withHref = elems.select(col(idCol), col("base_host"),
      col("link_no").cast("int").as("link_no"), col("elem"),
      when(dq =!= "", dq).otherwise(sq).as("href"))
    val isAbs = col("href").rlike(AbsRe)
    val absHost = regexp_replace(
      lower(regexp_extract(col("href"), AbsHostRe, 1)), "^www\\.", "")
    withHref
      .filter(col("href") =!= "" && !col("href").startsWith("#") &&
        (isAbs || !col("href").rlike(SchemeRe)))
      .select(col(idCol), col("base_host"), col("link_no"),
        when(isAbs, lit("abs")).otherwise(lit("rel")).as("kind"),
        when(isAbs, absHost).otherwise(col("base_host")).as("dst_host"),
        col("elem").rlike(NofollowRe).as("nofollow"),
        trim(regexp_replace(regexp_replace(
          regexp_extract(col("elem"), InnerRe, 1),
          "<[^>]+>", " "), "\\s+", " ")).as("anchor"),
        // resolved absolute URL: absolute hrefs verbatim; relative
        // hrefs resolve ROOT-relative against the base host with a
        // declared https scheme (<base href> and dot-segment
        // resolution are documented non-goals — the frontier needs a
        // deterministic key, not a browser)
        when(isAbs, col("href")).otherwise(
          concat(lit("https://"), col("base_host"),
            when(col("href").startsWith("/"), col("href"))
              .otherwise(concat(lit("/"), col("href"))))).as("dst_url"))
      .filter(col("dst_host") =!= "")
  }

  /** Host→host edge list from extracted links: followable
    * (non-nofollow) EXTERNAL absolute links only (relative links and
    * self-references are intra-site navigation, not graph edges) —
    * `(src_host, dst_host, w)`, one hash-agg. */
  def hostEdges(links: DataFrame, srcHostCol: String): DataFrame =
    links
      .filter(col("kind") === "abs" && !col("nofollow") &&
        col("dst_host") =!= col(srcHostCol))
      .groupBy(col(srcHostCol).as("src"), col("dst_host").as("dst"))
      .agg(count(lit(1)).as("w"))

  /** Top-k anchor tokens per target host over followable links — what
    * the web says a host is about. Heavy lifting (per-host ordering of
    * the full token-count frame) runs in the bounded-heap
    * TopKPerKeyExec; the rank column is minted afterwards by a window
    * over the ALREADY ≤ k-row groups (cheap by construction). */
  def anchorTopK(links: DataFrame, k: Int): DataFrame = {
    val counts = links.filter(!col("nofollow"))
      .select(col("dst_host"),
        explode(graft.functions.TextFunctions.tokens(col("anchor")))
          .as("token"))
      .groupBy(col("dst_host"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    rankedTopK(counts, col("dst_host"),
      Seq(col("cnt").desc, col("token")), k)
  }

  // ------------------------------------------------------- fixture HTML
  // Deterministic link-bearing HTML derived from (doc_id, source) — the
  // q167/q171 planted-fixture convention. Exercises every extraction
  // rule: a tag-nested anchor with doc-varied text, a case-mixed
  // single-quoted absolute href with port + fragment (present on even
  // doc_ids only, so out-degree varies), a relative link, a nofollow ad
  // link (every third doc), and four dropped shapes (mailto, fragment,
  // no-href, javascript).
  private def linkHtml(): Column = {
    val id = col("doc_id").cast("string")
    val h1 = pmod(col("doc_id"), lit(31)).cast("string")
    val h2 = pmod(col("doc_id") * 2, lit(31)).cast("string")
    val w = when(pmod(col("doc_id"), lit(3)) === 0, "alpha")
      .when(pmod(col("doc_id"), lit(3)) === 1, "beta")
      .otherwise("gamma")
    concat(
      lit("<html><body><h1>Doc "), id, lit("</h1>\n<a href=\"https://h"),
      h1, lit(".example.org/p/"), id, lit("\"><b>Read</b> more "), w,
      lit("</a>\n"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("<A HREF='HTTP://WWW.H"), h2, lit(".Example.ORG:80/q/"),
          id, lit("?x=1#top'>second   LINK here</A>\n"))).otherwise(lit("")),
      lit("<a href=\"/local/"), id, lit("\">relative link</a>\n"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("<a rel=\"nofollow\" href=\"https://ads.example.org/click\">sponsored spam</a>\n"))
        .otherwise(lit("")),
      lit("<a href=\"mailto:x@example.org\">mail me</a>\n" +
        "<a href=\"#top\">back to top</a>\n" +
        "<a name=\"anchor\">not a link</a>\n" +
        "<a href=\"javascript:void(0)\">js link</a>\n</body></html>"))
  }

  private val linkHtmlSql = """
      '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) ||
      '<a href="https://h' || CAST(doc_id % 31 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) || '"><b>Read</b> more ' ||
      CASE doc_id % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta' ELSE 'gamma' END || '</a>' || chr(10) ||
      CASE WHEN doc_id % 2 = 0 THEN '<A HREF=''HTTP://WWW.H' || CAST((doc_id * 2) % 31 AS VARCHAR) || '.Example.ORG:80/q/' || CAST(doc_id AS VARCHAR) || '?x=1#top''>second   LINK here</A>' || chr(10) ELSE '' END ||
      '<a href="/local/' || CAST(doc_id AS VARCHAR) || '">relative link</a>' || chr(10) ||
      CASE WHEN doc_id % 3 = 0 THEN '<a rel="nofollow" href="https://ads.example.org/click">sponsored spam</a>' || chr(10) ELSE '' END ||
      '<a href="mailto:x@example.org">mail me</a>' || chr(10) || '<a href="#top">back to top</a>' || chr(10) || '<a name="anchor">not a link</a>' || chr(10) || '<a href="javascript:void(0)">js link</a>' || chr(10) || '</body></html>'"""

  /** The extraction replayed as DuckDB CTEs ending in `flt` with
    * `(doc_id, source, link_no, kind, dst_host, nofollow, anchor)` —
    * the shared prefix of all four oracles (one home, zero drift). */
  private val linkCtes = s"""
      hdocs AS (SELECT doc_id, source, $linkHtmlSql AS html FROM documents),
      els AS (SELECT doc_id, source,
               generate_subscripts(elems, 1) - 1 AS link_no,
               unnest(elems) AS elem
              FROM (SELECT doc_id, source,
                     regexp_extract_all(html, '(?is)<a\\b[^>]*>(?:[^<]|<(?:[^/a<]|/[^a<]|a\\w|/a\\w))*</a>', 0) AS elems
                    FROM hdocs)),
      lk AS (SELECT doc_id, source, link_no, elem,
              CASE WHEN regexp_extract(elem, '(?is)\\bhref\\s*=\\s*"([^"]*)"', 1) <> ''
                   THEN regexp_extract(elem, '(?is)\\bhref\\s*=\\s*"([^"]*)"', 1)
                   ELSE regexp_extract(elem, '(?is)\\bhref\\s*=\\s*''([^'']*)''', 1) END AS href,
              regexp_matches(elem, '(?is)\\brel\\s*=\\s*["''][^"'']*nofollow') AS nofollow,
              trim(regexp_replace(regexp_replace(regexp_extract(elem, '(?is)^<a\\b[^>]*>(.*)</a>$$', 1), '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g')) AS anchor
             FROM els),
      flt AS (SELECT doc_id, source, CAST(link_no AS INT) AS link_no,
               CASE WHEN regexp_matches(href, '(?i)^https?://') THEN 'abs' ELSE 'rel' END AS kind,
               CASE WHEN regexp_matches(href, '(?i)^https?://')
                    THEN regexp_replace(lower(regexp_extract(href, '(?i)^https?://([^/:?#]*)', 1)), '^www\\.', '')
                    ELSE lower(source) || '.example.com' END AS dst_host,
               nofollow, anchor,
               CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
                    WHEN href LIKE '/%' THEN 'https://' || lower(source) || '.example.com' || href
                    ELSE 'https://' || lower(source) || '.example.com/' || href END AS dst_url
              FROM lk
              WHERE href <> '' AND href NOT LIKE '#%'
                AND (regexp_matches(href, '(?i)^https?://')
                     OR NOT regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:'))
                AND (NOT regexp_matches(href, '(?i)^https?://')
                     -- POST-strip emptiness, mirroring Spark's
                     -- dst_host <> '' filter (an href host of bare
                     -- 'www.' strips to empty — code-review r15x)
                     OR regexp_replace(lower(regexp_extract(href, '(?i)^https?://([^/:?#]*)', 1)), '^www\\.', '') <> ''))"""

  private def fixtureLinks(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("html", linkHtml())
      .withColumn("base_host",
        concat(lower(col("source")), lit(".example.com")))
    extractLinks(docs, "doc_id", "html", "base_host")
  }

  // ---------------------------------------------------------------- q184
  private val q184 = GraftQuery(
    "q184_link_extract",
    (s, dir) => fixtureLinks(s, dir)
      .select(col("doc_id"), col("link_no"), col("kind"), col("dst_host"),
        col("nofollow"), col("anchor"), col("dst_url"))
      .orderBy(col("doc_id"), col("link_no")),
    Some(s"""
      WITH $linkCtes
      SELECT doc_id, link_no, kind, dst_host, nofollow, anchor, dst_url
      FROM flt
      ORDER BY doc_id, link_no"""))

  // ---------------------------------------------------------------- q185
  private val edgesBody = """SELECT lower(source) || '.example.com' AS src,
    |                 dst_host AS dst, COUNT(*) AS w
    |          FROM flt
    |          WHERE kind = 'abs' AND NOT nofollow
    |            AND dst_host <> lower(source) || '.example.com'
    |          GROUP BY 1, 2""".stripMargin

  private val q185 = GraftQuery(
    "q185_host_linkgraph",
    (s, dir) => hostEdges(fixtureLinks(s, dir), "base_host")
      .select(col("src").as("src_host"), col("dst").as("dst_host"),
        col("w"))
      .orderBy(col("src_host"), col("dst_host")),
    Some(s"""
      WITH $linkCtes
      SELECT lower(source) || '.example.com' AS src_host,
             dst_host, COUNT(*) AS w
      FROM flt
      WHERE kind = 'abs' AND NOT nofollow
        AND dst_host <> lower(source) || '.example.com'
      GROUP BY 1, 2
      ORDER BY src_host, dst_host"""))

  // ---------------------------------------------------------------- q186
  // Host centrality over the EXTRACTED graph: html → links → host
  // edges → 3 sink-handling PageRank iterations (every .example.org
  // target is a sink — the dangling-mass path is non-vacuous, the q147
  // shape). The oracle is [[Graph.sinkOracleOver]] with the link CTEs
  // as prefix: the replay arithmetic is shared verbatim with q147.
  private val q186 = GraftQuery(
    "q186_host_centrality",
    (s, dir) => {
      val edges = hostEdges(fixtureLinks(s, dir), "base_host")
        .localCheckpoint()
      val n = edges.select(col("src").as("node"))
        .union(edges.select(col("dst"))).distinct().count()
      Graph.pageRank(edges, iters = Graph.ITERS, damping = Graph.DAMP,
        nNodes = n, handleSinks = true)
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
    },
    Some(Graph.sinkOracleOver(linkCtes + ",\n", edgesBody, 20)))

  // ---------------------------------------------------------------- q187
  private val q187 = GraftQuery(
    "q187_anchor_topk",
    (s, dir) => anchorTopK(fixtureLinks(s, dir), k = 3)
      .select(col("dst_host"), col("token"), col("cnt"), col("rk"))
      .orderBy(col("dst_host"), col("rk")),
    Some(s"""
      WITH $linkCtes,
      tok AS (SELECT dst_host,
               unnest(${OracleSql.tokens("anchor")}) AS token
              FROM flt WHERE NOT nofollow),
      tc AS (SELECT dst_host, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
      rk AS (SELECT dst_host, token, cnt,
              CAST(row_number() OVER (PARTITION BY dst_host ORDER BY cnt DESC, token) AS INT) AS rk
             FROM tc)
      SELECT dst_host, token, cnt, rk
      FROM rk WHERE rk <= 3
      ORDER BY dst_host, rk"""))

  // ---------------------------------------------------------------- q191
  // The crawl FRONTIER — the composition a crawler actually schedules
  // from, exercising four engine families in one declared operator:
  // extracted links (this module) → canonical candidate URLs
  // ([[UrlOps.canonicalizeUrl]], in-link count as priority) → already-
  // crawled anti-join → RFC 9309 permission gate ([[Robots]], host
  // batch with per-host policies incl. a graftbot override group) →
  // per-host politeness budget (top-k by in-links via the bounded-heap
  // TopKPerKeyExec). Fixture: the crawled set is every EVEN document's
  // primary link target; example.org host policies rotate
  // (k%3: /q/ disallowed / allow-all / deny-all) with a graftbot
  // Allow-/ override group on k%5 hosts (group selection beats `*`).
  //
  // Scale: candidates are link-count-sized (one hash-agg); the crawled
  // set joins on the canonical key (SortMergeJoin at 10^11 URLs, both
  // sides keyed); robots rules are hosts-sized (broadcast); the budget
  // is a bounded heap per host — no per-host sort, no corpus shuffle
  // beyond the candidate agg.
  /** The shared frontier pipeline up to the per-host budget:
    * candidates (one hash-agg) → crawled anti-join → robots gate →
    * host key. */
  private def allowedCandidates(links: DataFrame, crawled: DataFrame,
      robotsRules: DataFrame, agent: String): DataFrame = {
    val cand = links.filter(!col("nofollow"))
      .withColumn("canonical_url",
        UrlOps.canonicalizeUrl(col("dst_url")))
      .filter(col("canonical_url").isNotNull)
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_inlinks"))
    // optimization r18 (guide §2.4): materialize the fresh candidates —
    // robotsGate semi-joins its input against its own audit, so `fresh`
    // is read TWICE per frontier query; lazily that re-ran the whole
    // extraction → canonicalize → candidate-agg → anti-join pipeline
    // (q191's before plan: the 30-regex link scan executed twice). The
    // frame is the candidate aggregate (one row per distinct URL) —
    // already the pipeline's smallest corpus-derived frame, and the
    // store boundary a production frontier persists anyway.
    // BATCH-ONLY + EAGER contract (ADVICE r18): the localCheckpoint
    // runs a job during plan construction and would throw
    // AnalysisException on a streaming frame; streaming callers must
    // cut at a sink boundary (foreachBatch) first.
    val fresh = cand.join(crawled, Seq("canonical_url"), "left_anti")
      .localCheckpoint()
    // host key via hostOfCanonical, NOT urlHost: the candidate URL is
    // already canonical (one www. stripped); urlHost would strip a
    // second www. and disagree with hostProfile's v:-keyed budget
    // (the UrlOps ADVICE-r13 invariant; code-review r15x). The robots
    // gate itself keys on urlHost internally — correct for its raw-url
    // q180 use; on canonical input the difference surfaces only for
    // raw www.www.* hosts, documented there.
    Robots.robotsGate(fresh, "canonical_url",
        "canonical_url", robotsRules, agent)
      .withColumn("host", UrlOps.hostOfCanonical(col("canonical_url")))
  }

  /** Next-batch selection: `(host, url, n_inlinks, rk)`, at most
    * `perHost` rows per host, priority = in-link count (link ROWS, not
    * distinct sources), ties broken by url. */
  def crawlFrontier(links: DataFrame, crawled: DataFrame,
      robotsRules: DataFrame, agent: String, perHost: Int): DataFrame =
    rankedTopK(allowedCandidates(links, crawled, robotsRules, agent),
      col("host"), Seq(col("n_inlinks").desc, col("canonical_url")), perHost)
      .select(col("host"), col("canonical_url").as("url"),
        col("n_inlinks"), col("rk"))

  /** [[crawlFrontier]] with the Crawl-delay politeness budget (VERDICT
    * r15 next #6): `hostDelays` is [[Robots.crawlDelayFor]] output; a
    * host's effective batch quota is
    * `min(perHost, max(floor(windowSec / delay), 1))` — the fetches a
    * polite crawler can actually issue inside one scheduling window —
    * and delay-less (or non-positive-delay) hosts keep `perHost`.
    * Same bounded-heap selection at `perHost`, then the k cut tightens
    * per host via one broadcast join (hosts-sized; the corpus-side
    * never reshuffles). Emits `(host, url, n_inlinks, rk, crawl_delay,
    * k_eff)`. */
  def crawlFrontierBudget(links: DataFrame, crawled: DataFrame,
      robotsRules: DataFrame, hostDelays: DataFrame, agent: String,
      perHost: Int, windowSec: Double): DataFrame = {
    val kEff = coalesce(
      when(col("crawl_delay") > 0,
        least(lit(perHost),
          greatest(floor(lit(windowSec) / col("crawl_delay")).cast("int"),
            lit(1)))),
      lit(perHost))
    rankedTopK(allowedCandidates(links, crawled, robotsRules, agent),
      col("host"), Seq(col("n_inlinks").desc, col("canonical_url")), perHost)
      .join(broadcast(hostDelays), Seq("host"), "left")
      .withColumn("k_eff", kEff)
      .filter(col("rk") <= col("k_eff"))
      .select(col("host"), col("canonical_url").as("url"),
        col("n_inlinks"), col("rk"), col("crawl_delay"), col("k_eff"))
  }

  /** topK + a rank column, ONE ordering definition for both the
    * bounded heap and the row_number window (they must never drift —
    * code-review r15x). */
  private def rankedTopK(df: DataFrame, key: Column,
      order: Seq[Column], k: Int): DataFrame =
    graft.plans.TopKPerKey.topK(df, Seq(key), order, k)
      .withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(key).orderBy(order: _*)).cast("int"))

  // star-group Crawl-delay rotation (k%4: none / 30 s / 60 s / 0.5 s —
  // quota 3/2/1/3 at perHost=3, window=60 s); robotsRules IGNORES
  // delay lines (they're not in its retained set), so q191's verdicts
  // and oracle are untouched — only q206b reads them. The k%5=0
  // graftbot override group carries NO delay: per §2.2.1 selection it
  // SHIELDS graftbot from the star delay (unthrottled), the in-
  // frontier form of the q206 NULL-delay shield row — except on
  // k%3=1 hosts, whose star group has no RULE line, so the two UA
  // runs legally merge into ONE group (RFC grammar: delay lines never
  // split a UA run) and the delay applies to graftbot too; the oracle
  // replays the same grammar, pinning that edge deliberately.
  private def frontierRobotsBodies(
      s: org.apache.spark.sql.SparkSession): DataFrame = {
    val k3 = pmod(col("id"), lit(3))
    val k4 = pmod(col("id"), lit(4))
    val k5 = pmod(col("id"), lit(5))
    s.range(31).select(
      concat(lit("h"), col("id").cast("string"), lit(".example.org"))
        .as("host"),
      concat(
        when(k3 === 0, lit("User-agent: *\nDisallow: /q/"))
          .when(k3 === 1, lit("User-agent: *\nDisallow:"))
          .otherwise(lit("User-agent: *\nDisallow: /")),
        when(k4 === 1, lit("\nCrawl-delay: 30"))
          .when(k4 === 2, lit("\nCrawl-delay: 60"))
          .when(k4 === 3, lit("\nCrawl-delay: 0.5"))
          .otherwise(lit("")),
        when(k5 === 0, lit("\n\nUser-agent: graftbot\nAllow: /"))
          .otherwise(lit(""))).as("body"))
  }

  private val q191 = GraftQuery(
    "q191_crawl_frontier",
    (s, dir) => {
      val crawled = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(concat(lit("https://h"),
          pmod(col("doc_id"), lit(31)).cast("string"),
          lit(".example.org/p/"), col("doc_id").cast("string"))
          .as("canonical_url"))
      val rules = Robots.robotsRules(frontierRobotsBodies(s),
        "host", "body")
      crawlFrontier(fixtureLinks(s, dir), crawled, rules,
          agent = "graftbot", perHost = 2)
        .orderBy(col("host"), col("rk"))
    },
    Some(s"""
      WITH $linkCtes,
      fo AS (SELECT dst_url AS url FROM flt WHERE NOT nofollow),
      ${UrlOps.canonicalizeSqlFrom("fo", Nil)},
      cand AS (SELECT canonical_url, COUNT(*) AS n_inlinks
               FROM canon WHERE canonical_url IS NOT NULL
               GROUP BY canonical_url),
      crawled AS (SELECT 'https://h' || CAST(doc_id % 31 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url
                  FROM documents WHERE doc_id % 2 = 0),
      fresh AS (SELECT * FROM cand
                WHERE canonical_url NOT IN (SELECT url FROM crawled)),
      bodies AS (SELECT 'h' || CAST(k AS VARCHAR) || '.example.org' AS host,
                   (CASE CAST(k % 3 AS INT)
                      WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /q/'
                      WHEN 1 THEN 'User-agent: *' || chr(10) || 'Disallow:'
                      ELSE 'User-agent: *' || chr(10) || 'Disallow: /' END) ||
                   (CASE WHEN k % 5 = 0 THEN chr(10) || chr(10) || 'User-agent: graftbot' || chr(10) || 'Allow: /' ELSE '' END) AS body
                 FROM range(31) t(k)),
      req0 AS (SELECT canonical_url, n_inlinks,
                 regexp_replace(canonical_url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
               FROM fresh),
      req1 AS (SELECT canonical_url, n_inlinks,
                 lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
                 regexp_extract(regexp_replace(regexp_replace(rest, '^[^/?#]*', ''), '#.*$$', ''), '^([^?]*)', 1) AS p
               FROM req0),
      -- MATCH host exactly as robotsAudit's urlHost derives it (port
      -- dropped, one www. stripped — the gate's own key); the OUTPUT
      -- host is computed separately below as hostOfCanonical (no
      -- re-strip on canonical input). path as rawPath: query/fragment
      -- dropped, site root is '/'
      req AS (SELECT canonical_url, n_inlinks,
                regexp_replace(regexp_replace(hostport, ':[0-9]+$$', ''), '^www\\.', '') AS host,
                CASE WHEN p = '' THEN '/' ELSE p END AS path
              FROM req1),
      ${Robots.robotsEvalSqlFrom("req", "canonical_url", "graftbot")},
      ok AS (SELECT v.canonical_url,
               regexp_replace(regexp_extract(regexp_replace(v.canonical_url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1), ':[0-9]+$$', '') AS host,
               r.n_inlinks
             FROM verdict v JOIN req r USING (canonical_url)
             WHERE v.allowed),
      rk AS (SELECT host, canonical_url AS url, n_inlinks,
               CAST(row_number() OVER (PARTITION BY host
                 ORDER BY n_inlinks DESC, canonical_url) AS INT) AS rk
             FROM ok)
      SELECT host, url, n_inlinks, rk
      FROM rk WHERE rk <= 2
      ORDER BY host, rk"""))

  /** Incremental FRONTIER admission (VERDICT r15 next #7's frontier
    * half — q208 is the discovery half): a NEW batch of links is
    * admitted against the STORED crawl state — `crawled` (fetched) and
    * `scheduled` (admitted by earlier batches, not yet fetched; both
    * url-keyed, append-only) — so a URL is never scheduled twice
    * across batches. Selection is exactly [[crawlFrontier]] with the
    * stored keys unioned into the anti-join set: per batch, one
    * candidate hash-agg + one canonical-key anti-join against the
    * store + broadcast robots + bounded heap — the incremental cost
    * is the BATCH's, never a re-scan of history. */
  def frontierAdmitBatch(batchLinks: DataFrame, crawled: DataFrame,
      scheduled: DataFrame, robotsRules: DataFrame, agent: String,
      perHost: Int): DataFrame =
    crawlFrontier(batchLinks,
      crawled.select(col("canonical_url"))
        .unionByName(scheduled.select(col("canonical_url"))),
      robotsRules, agent, perHost)

  // ---------------------------------------------------------------- q210
  // Frontier admission as a declared query: batch 1 = even documents'
  // links (its admission becomes the stored `scheduled` set), batch 2
  // = odd documents' links admitted against crawled ∪ scheduled. The
  // oracle canonicalizes BOTH phases in one pass (a phase tag through
  // canonicalizeSqlFrom), evaluates robots ONCE over the union of
  // candidates (verdicts are per-URL and phase-independent), then
  // replays both selections — a double-scheduled URL, a wrong priority
  // count, or a gate drift in either phase breaks the hash.
  private val q210 = GraftQuery(
    "q210_frontier_admit",
    (s, dir) => {
      val crawled = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(concat(lit("https://h"),
          pmod(col("doc_id"), lit(31)).cast("string"),
          lit(".example.org/p/"), col("doc_id").cast("string"))
          .as("canonical_url"))
      val rules = Robots.robotsRules(frontierRobotsBodies(s),
        "host", "body")
      // optimization r18 (guide §2.4/§5): materialize the extracted
      // links ONCE — both batch filters read the checkpointed rows, so
      // the ~30-regex extraction scan runs once instead of once per
      // phase; and cut phase 1 out of phase 2's lineage — `scheduled`
      // is per-host-bounded (≤ perHost rows/host), but lazily it
      // re-embedded the whole phase-1 pipeline (candidate agg + robots
      // eval + heap) inside phase 2's plan: 98 Exchanges / 30 scans in
      // the before plan, and the driver re-optimized the doubled tree
      // per action. In production these boundaries are the frontier
      // store's parquet writes.
      val links = fixtureLinks(s, dir).localCheckpoint()
      val b1 = links.filter(pmod(col("doc_id"), lit(2)) === 0)
      val b2 = links.filter(pmod(col("doc_id"), lit(2)) =!= 0)
      val scheduled = crawlFrontier(b1, crawled, rules,
          agent = "graftbot", perHost = 2)
        .select(col("url").as("canonical_url"))
        .localCheckpoint()
      frontierAdmitBatch(b2, crawled, scheduled, rules,
          agent = "graftbot", perHost = 2)
        .orderBy(col("host"), col("rk"))
    },
    Some(s"""
      WITH $linkCtes,
      fo AS (SELECT dst_url AS url, CAST(doc_id % 2 AS INT) AS ph
             FROM flt WHERE NOT nofollow),
      ${UrlOps.canonicalizeSqlFrom("fo", Seq("ph"))},
      cand1 AS (SELECT canonical_url, COUNT(*) AS n_inlinks
                FROM canon WHERE canonical_url IS NOT NULL AND ph = 0
                GROUP BY canonical_url),
      cand2 AS (SELECT canonical_url, COUNT(*) AS n_inlinks
                FROM canon WHERE canonical_url IS NOT NULL AND ph = 1
                GROUP BY canonical_url),
      crawled AS (SELECT 'https://h' || CAST(doc_id % 31 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url
                  FROM documents WHERE doc_id % 2 = 0),
      bodies AS (SELECT 'h' || CAST(k AS VARCHAR) || '.example.org' AS host,
                   (CASE CAST(k % 3 AS INT)
                      WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /q/'
                      WHEN 1 THEN 'User-agent: *' || chr(10) || 'Disallow:'
                      ELSE 'User-agent: *' || chr(10) || 'Disallow: /' END) ||
                   (CASE WHEN k % 5 = 0 THEN chr(10) || chr(10) || 'User-agent: graftbot' || chr(10) || 'Allow: /' ELSE '' END) AS body
                 FROM range(31) t(k)),
      allc AS (SELECT canonical_url FROM cand1
               UNION SELECT canonical_url FROM cand2),
      req0 AS (SELECT canonical_url,
                 regexp_replace(canonical_url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
               FROM allc),
      req1 AS (SELECT canonical_url,
                 lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
                 regexp_extract(regexp_replace(regexp_replace(rest, '^[^/?#]*', ''), '#.*$$', ''), '^([^?]*)', 1) AS p
               FROM req0),
      req AS (SELECT canonical_url,
                regexp_replace(regexp_replace(hostport, ':[0-9]+$$', ''), '^www\\.', '') AS host,
                CASE WHEN p = '' THEN '/' ELSE p END AS path
              FROM req1),
      ${Robots.robotsEvalSqlFrom("req", "canonical_url", "graftbot")},
      okc AS (SELECT canonical_url FROM verdict WHERE allowed),
      hostc AS (SELECT canonical_url,
                  regexp_replace(regexp_extract(regexp_replace(canonical_url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1), ':[0-9]+$$', '') AS host
                FROM allc),
      rk1 AS (SELECT h.host, c.canonical_url, c.n_inlinks,
                row_number() OVER (PARTITION BY h.host
                  ORDER BY c.n_inlinks DESC, c.canonical_url) AS rk
              FROM cand1 c JOIN hostc h USING (canonical_url)
              WHERE c.canonical_url IN (SELECT canonical_url FROM okc)
                AND c.canonical_url NOT IN (SELECT url FROM crawled)),
      sched AS (SELECT canonical_url FROM rk1 WHERE rk <= 2),
      rk2 AS (SELECT h.host, c.canonical_url AS url, c.n_inlinks,
                CAST(row_number() OVER (PARTITION BY h.host
                  ORDER BY c.n_inlinks DESC, c.canonical_url) AS INT) AS rk
              FROM cand2 c JOIN hostc h USING (canonical_url)
              WHERE c.canonical_url IN (SELECT canonical_url FROM okc)
                AND c.canonical_url NOT IN (SELECT url FROM crawled)
                AND c.canonical_url NOT IN (SELECT canonical_url FROM sched))
      SELECT host, url, n_inlinks, rk
      FROM rk2 WHERE rk <= 2
      ORDER BY host, rk"""))

  // --------------------------------------------------------------- q206b
  // The politeness-budgeted frontier (VERDICT r15 next #6): q191's
  // pipeline with the per-host batch quota tightened by Crawl-delay —
  // host k%4 rotations none/30s/60s/0.5s → quotas 3/2/1/3 at
  // perHost=3, window=60 s, and the k%5=0 graftbot override group
  // (delay-less) SHIELDS those hosts back to 3. The oracle replays the
  // full rules evaluation (robotsEvalSqlFrom), the full delay parse +
  // selection (delaysSqlFrom), and the quota arithmetic.
  private val q206b = GraftQuery(
    "q206b_frontier_delay",
    (s, dir) => {
      val crawled = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(concat(lit("https://h"),
          pmod(col("doc_id"), lit(31)).cast("string"),
          lit(".example.org/p/"), col("doc_id").cast("string"))
          .as("canonical_url"))
      val bodies = frontierRobotsBodies(s)
      val rules = Robots.robotsRules(bodies, "host", "body")
      val delays = Robots.crawlDelayFor(
        Robots.robotsDelays(bodies, "host", "body"), agent = "graftbot")
      crawlFrontierBudget(fixtureLinks(s, dir), crawled, rules, delays,
          agent = "graftbot", perHost = 3, windowSec = 60.0)
        .orderBy(col("host"), col("rk"))
    },
    Some(s"""
      WITH $linkCtes,
      fo AS (SELECT dst_url AS url FROM flt WHERE NOT nofollow),
      ${UrlOps.canonicalizeSqlFrom("fo", Nil)},
      cand AS (SELECT canonical_url, COUNT(*) AS n_inlinks
               FROM canon WHERE canonical_url IS NOT NULL
               GROUP BY canonical_url),
      crawled AS (SELECT 'https://h' || CAST(doc_id % 31 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url
                  FROM documents WHERE doc_id % 2 = 0),
      fresh AS (SELECT * FROM cand
                WHERE canonical_url NOT IN (SELECT url FROM crawled)),
      bodies AS (SELECT 'h' || CAST(k AS VARCHAR) || '.example.org' AS host,
                   (CASE CAST(k % 3 AS INT)
                      WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /q/'
                      WHEN 1 THEN 'User-agent: *' || chr(10) || 'Disallow:'
                      ELSE 'User-agent: *' || chr(10) || 'Disallow: /' END) ||
                   (CASE CAST(k % 4 AS INT)
                      WHEN 1 THEN chr(10) || 'Crawl-delay: 30'
                      WHEN 2 THEN chr(10) || 'Crawl-delay: 60'
                      WHEN 3 THEN chr(10) || 'Crawl-delay: 0.5'
                      ELSE '' END) ||
                   (CASE WHEN k % 5 = 0 THEN chr(10) || chr(10) || 'User-agent: graftbot' || chr(10) || 'Allow: /' ELSE '' END) AS body
                 FROM range(31) t(k)),
      req0 AS (SELECT canonical_url, n_inlinks,
                 regexp_replace(canonical_url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
               FROM fresh),
      req1 AS (SELECT canonical_url, n_inlinks,
                 lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
                 regexp_extract(regexp_replace(regexp_replace(rest, '^[^/?#]*', ''), '#.*$$', ''), '^([^?]*)', 1) AS p
               FROM req0),
      req AS (SELECT canonical_url, n_inlinks,
                regexp_replace(regexp_replace(hostport, ':[0-9]+$$', ''), '^www\\.', '') AS host,
                CASE WHEN p = '' THEN '/' ELSE p END AS path
              FROM req1),
      ${Robots.robotsEvalSqlFrom("req", "canonical_url", "graftbot")},
      ${Robots.delaysSqlFrom("graftbot")},
      ok AS (SELECT v.canonical_url,
               regexp_replace(regexp_extract(regexp_replace(v.canonical_url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1), ':[0-9]+$$', '') AS host,
               r.n_inlinks
             FROM verdict v JOIN req r USING (canonical_url)
             WHERE v.allowed),
      rk AS (SELECT host, canonical_url AS url, n_inlinks,
               CAST(row_number() OVER (PARTITION BY host
                 ORDER BY n_inlinks DESC, canonical_url) AS INT) AS rk
             FROM ok),
      kf AS (SELECT r.host, r.url, r.n_inlinks, r.rk, hd.crawl_delay,
               CAST(COALESCE(CASE WHEN hd.crawl_delay > 0
                      THEN LEAST(3, GREATEST(CAST(FLOOR(60.0 / hd.crawl_delay) AS INT), 1)) END,
                    3) AS INT) AS k_eff
             FROM rk r LEFT JOIN host_delay hd ON r.host = hd.host)
      SELECT host, url, n_inlinks, rk, crawl_delay, k_eff
      FROM kf WHERE rk <= k_eff
      ORDER BY host, rk"""))

  // ---------------------------------------------------------------- q202
  // Discovery MERGE — the three channels (sitemaps q193, feeds q198,
  // extracted links q184) folded into ONE seed table: the same
  // resource announced in several places (and in several spellings —
  // canonicalization folds case/www/port variants cross-channel) must
  // become one seed row carrying its best provenance (sitemap beats
  // feed beats link: explicitness order) and its announcement counts,
  // which are themselves a priority signal for q191. One
  // canonicalization projection + one hash-agg on the canonical key.
  /** `seeds` = `(url, channel)` rows from any discovery source; emits
    * `(canonical_url, best_channel, n_channels, n_seeds)`. */
  def discoveryMerge(seeds: DataFrame): DataFrame = {
    val rank = when(col("channel") === "sitemap", 1)
      .when(col("channel") === "feed", 2)
      .when(col("channel") === "link", 3)
      .otherwise(4)
    seeds
      .withColumn("canonical_url", UrlOps.canonicalizeUrl(col("url")))
      .filter(col("canonical_url").isNotNull)
      .withColumn("__r", rank)
      .groupBy(col("canonical_url"))
      .agg(min(col("__r")).as("__br"),
        countDistinct(col("channel")).as("n_channels"),
        count(lit(1)).as("n_seeds"))
      .select(col("canonical_url"),
        when(col("__br") === 1, "sitemap")
          .when(col("__br") === 2, "feed")
          .when(col("__br") === 3, "link")
          .otherwise("other").as("best_channel"),
        col("n_channels"), col("n_seeds"))
  }

  // ------------------------------------------ incremental discovery
  // The streaming-admission form of q202 (VERDICT r15 next #7, the
  // ppsAdmitBatch stored-state discipline): discovery runs FOREVER —
  // new sitemap fetches, feed polls, and link batches arrive while the
  // stored seed table already holds billions of rows, and re-merging
  // from scratch is not an option. The state is MERGEABLE by
  // construction: a channel BITMASK (bit r-1 ⇔ channel of rank r seen;
  // channels outside the sitemap/feed/link enum fold into one `other`
  // bit, the only place this coarsens q202's count-distinct) plus the
  // seed count — `bit_or`/`sum` fold batch states into the store with
  // ONE canonical-key hash-agg per batch, and [[discoveryResolve]]
  // projects the q202 columns back out. LAW (StreamingSpec):
  // resolve(fold(states of any split)) ≡ discoveryMerge(all seeds).
  /** Batch → mergeable state: `(canonical_url, ch_mask, n_seeds)`. */
  def discoveryState(seeds: DataFrame): DataFrame = {
    val mask = when(col("channel") === "sitemap", 1)
      .when(col("channel") === "feed", 2)
      .when(col("channel") === "link", 4)
      .otherwise(8)
    seeds
      .withColumn("canonical_url", UrlOps.canonicalizeUrl(col("url")))
      .filter(col("canonical_url").isNotNull)
      .withColumn("__m", mask)
      .groupBy(col("canonical_url"))
      .agg(bit_or(col("__m")).as("ch_mask"),
        count(lit(1)).as("n_seeds"))
  }

  /** Fold a batch state into the stored state (commutative,
    * associative — arrival order never matters). */
  def discoveryMergeState(stored: DataFrame, batch: DataFrame): DataFrame =
    stored.unionByName(batch)
      .groupBy(col("canonical_url"))
      .agg(bit_or(col("ch_mask")).as("ch_mask"),
        sum(col("n_seeds")).cast("long").as("n_seeds"))

  /** State → the q202 output shape. */
  def discoveryResolve(state: DataFrame): DataFrame =
    state.select(col("canonical_url"),
      when((col("ch_mask").bitwiseAND(1)) =!= 0, "sitemap")
        .when((col("ch_mask").bitwiseAND(2)) =!= 0, "feed")
        .when((col("ch_mask").bitwiseAND(4)) =!= 0, "link")
        .otherwise("other").as("best_channel"),
      bit_count(col("ch_mask")).cast("long").as("n_channels"),
      col("n_seeds"))

  /** The q202/q208 seed fixture: three channels with cross-channel
    * spelling variants (case/www/port) the canonicalization must fold. */
  private def discoverySeeds(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    val own = concat(lit("https://"), col("source"),
      lit(".example.com/p/"), id)
    val sm = docs.filter(pmod(col("doc_id"), lit(9)) =!= 0)
      .select(own.as("url"), lit("sitemap").as("channel"))
    val fd = docs.select(
      when(pmod(col("doc_id"), lit(3)) === 0, own)
        .otherwise(concat(lit("https://"), col("source"),
          lit(".example.com/alt/"), id)).as("url"),
      lit("feed").as("channel"))
    val lk = docs.select(
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit("HTTPS://WWW."), col("source"),
          lit(".Example.COM:443/p/"), id))
        .otherwise(concat(lit("https://h"),
          pmod(col("doc_id"), lit(31)).cast("string"),
          lit(".example.org/p/"), id)).as("url"),
      lit("link").as("channel"))
    sm.unionAll(fd).unionAll(lk)
  }

  // ONE oracle for q202 and q208: the one-shot merge over ALL seeds is
  // exactly what the chained state admission must reproduce (the law,
  // here enforced by the driver gate itself).
  private val discoveryOracleSql = s"""
      WITH seeds AS (
        SELECT 'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
               'sitemap' AS channel
        FROM documents WHERE doc_id % 9 <> 0
        UNION ALL
        SELECT CASE WHEN doc_id % 3 = 0
                    THEN 'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR)
                    ELSE 'https://' || source || '.example.com/alt/' || CAST(doc_id AS VARCHAR) END,
               'feed'
        FROM documents
        UNION ALL
        SELECT CASE WHEN doc_id % 5 = 0
                    THEN 'HTTPS://WWW.' || source || '.Example.COM:443/p/' || CAST(doc_id AS VARCHAR)
                    ELSE 'https://h' || CAST(doc_id % 31 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) END,
               'link'
        FROM documents),
      ${UrlOps.canonicalizeSqlFrom("seeds", Seq("channel"))},
      agg AS (
        SELECT canonical_url,
               MIN(CASE channel WHEN 'sitemap' THEN 1 WHEN 'feed' THEN 2
                    WHEN 'link' THEN 3 ELSE 4 END) AS br,
               CAST(COUNT(DISTINCT channel) AS BIGINT) AS n_channels,
               CAST(COUNT(*) AS BIGINT) AS n_seeds
        FROM canon
        WHERE canonical_url IS NOT NULL
        GROUP BY canonical_url)
      SELECT canonical_url,
             CASE br WHEN 1 THEN 'sitemap' WHEN 2 THEN 'feed'
                  WHEN 3 THEN 'link' ELSE 'other' END AS best_channel,
             n_channels, n_seeds
      FROM agg
      ORDER BY canonical_url"""

  private val q202 = GraftQuery(
    "q202_discovery_merge",
    (s, dir) => discoveryMerge(discoverySeeds(Tables.documents(s, dir)))
      .orderBy(col("canonical_url")),
    Some(discoveryOracleSql))

  // ---------------------------------------------------------------- q208
  // Incremental discovery admission as a declared query: the stored
  // state is built from the EVEN documents' seeds, the arriving batch
  // from the ODD ones; the fold + resolve must reproduce the one-shot
  // q202 merge over everything — the oracle IS the one-shot SQL, so
  // the chained ≡ one-shot law is enforced by the driver's own gate
  // (not just the spec).
  private val q208 = GraftQuery(
    "q208_discovery_admit",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val stored = discoveryState(
        discoverySeeds(docs.filter(pmod(col("doc_id"), lit(2)) === 0)))
      val batch = discoveryState(
        discoverySeeds(docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)))
      discoveryResolve(discoveryMergeState(stored, batch))
        .orderBy(col("canonical_url"))
    },
    Some(discoveryOracleSql))

  val all: Seq[GraftQuery] =
    Seq(q184, q185, q186, q187, q191, q202, q206b, q208, q210)
}
