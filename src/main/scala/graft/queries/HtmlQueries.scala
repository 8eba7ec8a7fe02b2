package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** HTML CONTENT EXTRACTION — the inbound web-pipeline stage that
  * round 11's URL gate presupposes: between "crawl responses" and
  * "clean text" sits tag stripping, entity decoding, outlink
  * extraction, and boilerplate removal (C4 strips lines; jusText /
  * Readability classify blocks by link density; RefinedWeb runs
  * trafilatura — all public recipes). The reference has no HTML
  * operator (its one pipeline moderates chat messages,
  * `/root/reference/src/main/java/ru/kafka/KafkaStreamApp.java`), so
  * this family is north-star widening on the same discipline as
  * [[WebCuration]]: the corpus carries no HTML column, so each
  * document's page is synthesized DETERMINISTICALLY from (doc_id,
  * text, domain) — the same expression verbatim in Spark and DuckDB —
  * and every extraction result is oracle-checked against DuckDB
  * computing the extraction (not the synthesis shortcut) on its own
  * engine.
  *
  * The synthesized page exercises what real extraction must handle:
  * a head/title whose text must surface, nav and footer boilerplate
  * made of anchors, heading + paragraph content blocks, named
  * (`&quot; &amp;`) and numeric (`&#39;`) entities, and three
  * distinct outlink classes (a global hub, the page's own site root,
  * a deterministic cross-site link).
  *
  * SCALE SHAPES: synthesis + strip + decode + collapse is one narrow
  * per-row string projection fused into the scan (whole-stage
  * codegen; no UDF); the outlink explode is bounded at 4 rows per
  * document; every aggregate is keyed on the registrable-domain
  * space, which is FORMULA-bounded (site x suffix combinations), not
  * corpus-sized — so the only corpus-wide exchanges here carry
  * map-side-combined partial aggregates. The link-graph pagerank runs
  * on the domain-level edge CENSUS (dimension-bounded), never on
  * per-page edges — the standard host-graph contraction that makes
  * web-graph centrality tractable at 100 TB.
  */
object Html {

  /** Deterministic cross-link target id — a pure doc_id formula so
    * the link graph is reproducible in both engines (the target page
    * need not exist; dead outlinks are normal in a crawl).
    */
  private def tgt: Column = pmod(col("doc_id") * 31 + 7, lit(97))

  private def crossDomain(t: Column): Column = concat(
    when(pmod(t, lit(4)) === 0, lit("hub"))
      .otherwise(concat(lit("site-"), pmod(t, lit(7)).cast("string"))),
    when(pmod(t, lit(5)) === 0, lit(".org")).otherwise(lit(".com")))

  /** The four word-array pieces the page is typeset from — ONE
    * definition shared by the synthesis and the expected-text pin
    * (the pin's independence lives in the strip/decode path, not in
    * re-typing the slices). All expect the a/n/mid columns.
    */
  private def head3: Column = concat_ws(" ", slice(col("a"), 1, 3))
  private def w4: Column = element_at(col("a"), 4)
  private def restA: Column = concat_ws(" ",
    slice(col("a"), lit(5), (col("mid") - lit(4)).cast("int")))
  private def restB: Column = concat_ws(" ",
    slice(col("a"), col("mid") + lit(1), (col("n") - col("mid")).cast("int")))

  /** documents + (domain, a, n, mid, html): the synthesized page and
    * the word-split bookkeeping both the extraction queries and the
    * expected-text pin reuse. `mid` splits the words after the
    * title/quote prefix into the two paragraph bodies. Shared
    * verbatim by the batch queries and the [[graft.streaming
    * .StreamLinkGraph]] twin (input: doc_id, source, text).
    *
    * CORPUS CONTRACT: documents must carry >= 6 words (the driver
    * fixture holds 10-99, verified at sf0.001/sf0.01/sf0.1). Below 4
    * words the engines would even diverge structurally — a NULL
    * `a[4]` makes Spark's concat_ws skip one LINE while DuckDB's ||
    * chain nulls the whole page — and at 4-5 words the empty
    * restA/restB would double-space expectedText; either way the
    * n_exact == n_docs pin fails loudly rather than silently.
    */
  private[graft] def pageProjection(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"), col("text"),
        WebCuration.domainCol(WebCuration.hostCol(WebCuration.urlCol))
          .as("domain"))
    val a = split(col("text"), " ")
    val n = size(a)
    val mid = (lit(4) + floor((n - lit(4)) / lit(2))).cast("int")
    base
      .withColumn("a", a)
      .withColumn("n", n)
      .withColumn("mid", mid)
      .withColumn("html", {
        val t = tgt
        val cross = concat(lit("https://"), crossDomain(t),
          lit("/p/"), t.cast("string"))
        concat_ws("\n",
          concat(lit("<html><head><title>Doc "),
            col("doc_id").cast("string"), lit("</title></head><body>")),
          concat(lit("<nav><a href=\"https://hub.com/\">home</a> <a href=\"https://"),
            col("domain"), lit("/\">self</a></nav>")),
          concat(lit("<h1>"), head3, lit("</h1>")),
          concat(lit("<p>&quot;"), w4, lit("&quot;&#39;s &amp; "), restA,
            lit("</p>")),
          concat(lit("<p>"), restB, lit(" <a href=\""), cross,
            lit("\">more</a></p>")),
          lit("<footer><a href=\"https://hub.com/about\">about</a> end</footer>"),
          lit("</body></html>"))
      })
  }

  private[graft] def withHtml(s: SparkSession, dir: String): DataFrame =
    pageProjection(Tables.load(s, dir, "documents"))

  /** DuckDB twin of [[withHtml]] — CTE chain ending in `hdoc` with
    * (doc_id, source, domain, a, n, mid, html).
    */
  private[graft] val duckWithHtml: String =
    s"""w AS (SELECT doc_id, source, text, ${WebCuration.duckUrl} AS url FROM documents),
       |h0 AS (SELECT doc_id, source, text, ${WebCuration.duckHost("url")} AS host FROM w),
       |b AS (SELECT doc_id, source, ${WebCuration.duckDomain("host")} AS domain,
       |      string_split(text, ' ') AS a FROM h0),
       |hx AS (SELECT doc_id, source, domain, a, len(a) AS n,
       |      4 + (len(a) - 4) // 2 AS mid,
       |      ((doc_id * 31 + 7) % 97) AS t FROM b),
       |hdoc AS (SELECT doc_id, source, domain, a, n, mid,
       |   '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title></head><body>' || chr(10) ||
       |   '<nav><a href="https://hub.com/">home</a> <a href="https://' || domain || '/">self</a></nav>' || chr(10) ||
       |   '<h1>' || array_to_string(a[1:3], ' ') || '</h1>' || chr(10) ||
       |   '<p>&quot;' || a[4] || '&quot;&#39;s &amp; ' || array_to_string(a[5:mid], ' ') || '</p>' || chr(10) ||
       |   '<p>' || array_to_string(a[mid+1:n], ' ') || ' <a href="https://' ||
       |     (CASE WHEN t % 4 = 0 THEN 'hub' ELSE 'site-' || CAST(t % 7 AS VARCHAR) END) ||
       |     (CASE WHEN t % 5 = 0 THEN '.org' ELSE '.com' END) ||
       |     '/p/' || CAST(t AS VARCHAR) || '">more</a></p>' || chr(10) ||
       |   '<footer><a href="https://hub.com/about">about</a> end</footer>' || chr(10) ||
       |   '</body></html>' AS html
       | FROM hx)""".stripMargin

  /** Visible text of an HTML fragment, hardened for real crawl pages:
    * (1) DROP the CONTENT of `<script>`/`<style>` elements (code, not
    * text — and style selectors legally contain '>' which would
    * corrupt a naive tag strip) and HTML comments (which may wrap
    * markup); (2) strip tags; (3) collapse all whitespace runs (incl.
    * the line joints) to one space and trim; (4) decode entities —
    * named + full-Unicode numeric (`&#NNN;`/`&#xHH;`) — in ONE
    * left-to-right scan via the native codegen'd
    * [[graft.functions.DecodeHtmlEntities]] (single pass, never
    * re-reads its own output, so decode cascades are structurally
    * impossible; Spark's built-in `chr` would wrap code points mod
    * 256, corrupting anything past Latin-1). Steps 1-3 are codegen'd
    * regexp ops, step 4 a codegen'd native expression — the whole
    * extraction stays one fused projection.
    */
  private[graft] def visibleText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", "")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", "")
    val noTags = regexp_replace(noComment, "<[^>]*>", "")
    val oneLine = trim(regexp_replace(noTags, "\\s+", " "))
    graft.functions.DecodeHtmlEntities(oneLine)
  }

  /** DuckDB twin of [[visibleText]] — same removal order, same
    * regexes (RE2 accepts the identical inline-flag patterns), and
    * the same no-rescan decode: numeric entities are bracketed with a
    * \x01 sentinel (outside the corpus alphabet), the string splits
    * on it, and each piece decodes EXACTLY once — entity pieces (even
    * 1-based index) by code point with the native expression's exact
    * guards (7-char cap, surrogate/beyond-Unicode verbatim), literal
    * pieces by the named-entity replaces (`&amp;` last) — then joins
    * without re-scanning, so cascades are impossible here too.
    */
  private[graft] def duckVisible(html: String): String = {
    val base =
      s"""trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |$html, '(?is)<script[^>]*>.*?</script>', '', 'g'),
         | '(?is)<style[^>]*>.*?</style>', '', 'g'),
         | '(?s)<!--.*?-->', '', 'g'),
         | '<[^>]*>', '', 'g'), '\\s+', ' ', 'g'))""".stripMargin.replace('\n', ' ')
    val named = """replace(replace(replace(replace(replace(x,
      | '&quot;', '"'), '&apos;', ''''), '&lt;', '<'), '&gt;', '>'),
      | '&amp;', '&')""".stripMargin.replace('\n', ' ')
    val hexval = "list_reduce(list_transform(range(2, length(x) + 1), " +
      "j -> strpos('0123456789abcdef', substr(lower(x), CAST(j AS INT), 1)) - 1), " +
      "(a, b) -> a * 16 + b)"
    s"""array_to_string(list_transform(
       | string_split(regexp_replace($base, '&#(x[0-9a-fA-F]+|[0-9]+);', chr(1) || '\\1' || chr(1), 'g'), chr(1)),
       | (x, i) -> CASE
       |   WHEN i % 2 = 1 THEN $named
       |   WHEN length(x) > 7 THEN '&#' || x || ';'
       |   WHEN x LIKE 'x%' THEN
       |     CASE WHEN $hexval BETWEEN 55296 AND 57343 OR $hexval > 1114111
       |       THEN '&#' || x || ';' ELSE chr(CAST($hexval AS INT)) END
       |   ELSE
       |     CASE WHEN CAST(x AS BIGINT) BETWEEN 55296 AND 57343 OR CAST(x AS BIGINT) > 1114111
       |       THEN '&#' || x || ';' ELSE chr(CAST(x AS INT)) END
       | END), '')""".stripMargin.replace('\n', ' ')
  }

  /** The page's visible text BY CONSTRUCTION — what a correct
    * extractor must recover. Built from the word array, NOT by
    * running the extractor, so comparing the two exercises the
    * strip/collapse/decode path end to end. The prefix (everything
    * before the footer) is shared with the hostile variant below.
    */
  private[graft] def expectedPrefix: Column =
    concat(lit("Doc "), col("doc_id").cast("string"), lit(" home self "),
      head3, lit(" \""), w4, lit("\"'s & "), restA, lit(" "), restB,
      lit(" more"))

  private[graft] def expectedText: Column =
    concat(expectedPrefix, lit(" about end"))

  private[graft] val duckExpectedPrefix: String =
    """('Doc ' || CAST(doc_id AS VARCHAR) || ' home self ' ||
      | array_to_string(a[1:3], ' ') || ' "' || a[4] || '"''s & ' ||
      | array_to_string(a[5:mid], ' ') || ' ' ||
      | array_to_string(a[mid+1:n], ' ') || ' more')""".stripMargin
      .replace('\n', ' ')

  private[graft] val duckExpected: String =
    s"($duckExpectedPrefix || ' about end')"

  /** HOSTILE page: the base page with four real-crawl hazards
    * injected just above the footer — a multiline `<script>` whose
    * body carries `<`, `>`, quotes AND an entity (all must be DROPPED,
    * not surfaced or decoded), an HTML comment wrapping markup, a
    * `<style>` whose selector contains `>` (which corrupts any tag
    * strip that does not remove style CONTENT first), and a paragraph
    * of numeric entities — decimal, lowercase-x hex, and a
    * beyond-Latin-1 code point (`&#8217;`, the curly apostrophe that
    * Spark's mod-256 `chr` would corrupt — the reason
    * [[graft.functions.DecodeHtmlEntities]] exists) next to a
    * malformed entity that must stay verbatim. Injection replaces the
    * constant `<footer>` open tag, so the construction stays one
    * codegen'd projection.
    */
  private val HostileInject: String =
    "<script type=\"text/javascript\">\nif (a < b && c > d) { emit(\"&#88;\"); }\n</script>\n" +
      "<!-- hidden <p>not text</p> -->\n" +
      "<style>p>a{color:#fff}</style>\n" +
      "<p>ch &#72;&#x41;&#8217; &#xZZ; end</p>\n"

  private[graft] def hostileHtml(html: Column): Column =
    regexp_replace(html, "<footer>", HostileInject + "<footer>")

  /** DuckDB twin of [[hostileHtml]] (plain replace of the constant
    * open tag; newlines via chr(10) so the SQL stays one line).
    */
  private[graft] def duckHostileHtml(html: String): String = {
    val inject = HostileInject.split("\n").map(l =>
      "'" + l.replace("'", "''") + "'").mkString(" || chr(10) || ")
    s"replace($html, '<footer>', $inject || chr(10) || '<footer>')"
  }

  /** What the hostile page must extract to: the shared prefix, then
    * the entity paragraph decoded (H A ’ from &#72; &#x41; &#8217;;
    * the malformed &#xZZ; VERBATIM), then the footer text — and
    * nothing from the script/comment/style blocks.
    */
  private[graft] def expectedHostileText: Column =
    concat(expectedPrefix, lit(" ch HA’ &#xZZ; end about end"))

  private[graft] val duckExpectedHostile: String =
    s"($duckExpectedPrefix || ' ch HA' || chr(8217) || ' &#xZZ; end about end')"

  /** href extraction — attribute-anchored, group 1 = the URL. */
  private[graft] val HrefPattern = "<a href=\"([^\"]*)\""

  /** Domain-level outlink edge census (src_domain, dst_domain,
    * n_links, n_docs) — shared verbatim by the batch query and the
    * streaming twin so their parity is structural. Input must carry
    * (doc_id, domain, html).
    */
  private[graft] def outlinkEdges(pages: DataFrame): DataFrame = {
    val links = pages
      .select(col("doc_id"), col("domain").as("src_domain"),
        explode(regexp_extract_all(col("html"), lit(HrefPattern), lit(1)))
          .as("link"))
    val hosts = links.select(col("doc_id"), col("src_domain"),
      regexp_extract(col("link"), "^[a-z]+://([^/:?#]+)", 1).as("dhost"))
    hosts
      .select(col("doc_id"), col("src_domain"),
        WebCuration.domainCol(col("dhost")).as("dst_domain"))
      .groupBy("src_domain", "dst_domain")
      .agg(count(lit(1)).cast("long").as("n_links"),
        countDistinct(col("doc_id")).cast("long").as("n_docs"))
  }

  /** DuckDB twin of [[outlinkEdges]] — CTE chain ending in `edges`
    * (expects `hdoc` in scope).
    */
  private[graft] val duckEdges: String = {
    val dd = WebCuration.duckDomain("dhost")
    s"""links AS (SELECT doc_id, domain AS src_domain,
       |    unnest(regexp_extract_all(html, '<a href="([^"]*)"', 1)) AS link FROM hdoc),
       |lh AS (SELECT doc_id, src_domain,
       |    regexp_extract(link, '^[a-z]+://([^/:?#]+)', 1) AS dhost FROM links),
       |edges AS (SELECT src_domain, $dd AS dst_domain,
       |    CAST(COUNT(*) AS BIGINT) AS n_links,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM lh GROUP BY 1, 2)""".stripMargin
  }

  /** Per-source-domain outgoing link weight (od, ow) — ONE definition
    * for the iteration divisor and host_link_rank's out_links column
    * (a weighting change must move both together).
    */
  private[graft] def outWeights(edges: DataFrame): DataFrame =
    edges.groupBy(col("src_domain").as("od")).agg(sum("n_links").as("ow"))

  /** 3-iteration damped pagerank in fixed-point BIGINT nano-units over
    * a domain edge census — see host_link_rank's header for the float
    * discipline. Returns (d, r) for every node; shared by
    * host_link_rank and crawl_frontier.
    *
    * r15: CENSUS-BOUNDED DRIVER REPLAY (the btFit convention,
    * PreferenceQueries.scala): the edge census is the host-graph
    * contraction onto the FORMULA-bounded domain grid (site × suffix
    * combinations — it cannot grow with the corpus; the
    * html_extract_linkgraph probe pins edge rows FLAT under 30×
    * replication), so iterating it through the scheduler was 3 rounds
    * × (2 joins + 1 aggregate) of pure fixed overhead — measured
    * 1.011 s for rankNanos vs 0.547 s for the edge census itself at
    * sf0.1 (round 15, timed through the noop sink). The local
    * replay below performs the EXACT same operations in the exact
    * same order: c = floor(r·w/ow + 0.5) with the long r widening to
    * double at the multiply and ow at the divide (Catalyst's
    * coercions), per-target contributions summed as exact Longs
    * (order-independent), r' = 150000000 + floor(0.85·Σc + 0.5) —
    * every rank is bit-identical to the dataflow version, which is
    * retained as [[rankNanosDf]] and pinned equal on the real corpus
    * by FrontierRankSpec.
    */
  private[graft] def rankNanos(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("src_domain"), col("dst_domain"), col("n_links"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    // a SQL join never matches NULL keys: a null-src edge contributes
    // nothing and a null-dst edge credits nobody, but both still seed
    // the node census (distinct keeps one null) — mirror all three
    val nodes: Seq[String] = (es.map(_._1) ++ es.map(_._2)).distinct
    val live = es.filter(e => e._1 != null && e._2 != null)
    val ow: Map[String, Long] =
      live.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
    var r: Map[String, Long] = nodes.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 3) {
      val contrib: Map[String, Long] =
        live.groupBy(_._2).map { case (dst, in) =>
          dst -> in.map { case (src, _, w) =>
            math.floor(r(src).toDouble * w.toDouble / ow(src).toDouble + 0.5)
              .toLong
          }.sum
        }
      r = nodes.map(d => d -> (150000000L +
        math.floor(0.85 * contrib.getOrElse(d, 0L).toDouble + 0.5).toLong))
        .toMap
    }
    r.toSeq.sortBy(t => Option(t._1)).toDF("d", "r")
  }

  /** The pre-r15 dataflow formulation of [[rankNanos]] — the parity
    * reference FrontierRankSpec pins the replay against.
    */
  private[graft] def rankNanosDf(edges: DataFrame): DataFrame = {
    val nodes = edges.select(col("src_domain").as("d"))
      .union(edges.select(col("dst_domain"))).distinct()
    val outw = outWeights(edges)
    var r = nodes.select(col("d"), lit(1000000000L).as("r"))
    for (_ <- 1 to 3) {
      val c = edges.join(r, edges("src_domain") === r("d"))
        .join(outw, edges("src_domain") === outw("od"))
        .select(col("dst_domain"),
          floor(col("r").cast("double") * col("n_links") / col("ow") + lit(0.5))
            .as("c"))
      r = nodes.join(c, nodes("d") === c("dst_domain"), "left")
        .groupBy(col("d"))
        .agg((lit(150000000L) +
          floor(lit(0.85) * coalesce(sum(col("c")), lit(0L)).cast("double") + lit(0.5)))
          .as("r"))
    }
    r
  }

  /** Per-domain (pd, nd, nq) profile census — document count and
    * Gopher-quality pass count over the scan-fused curationProfiles
    * projection. Shared verbatim by crawl_frontier and the
    * [[graft.streaming.StreamFrontier]] twin's per-prefix expectation.
    */
  private[graft] def profileCensus(docs: DataFrame): DataFrame = {
    val q = SelectionQueries.gopherQuality
    SelectionQueries.curationProfiles(
        docs.select("doc_id", "lang", "source", "text"))
      .groupBy(col("domain").as("pd"))
      .agg(count(lit(1)).cast("long").as("nd"),
        sum(when(q, 1).otherwise(0)).cast("long").as("nq"))
  }

  /** The crawl-frontier priority table from its two dimension-bounded
    * census inputs: the outlink edge census (feeds [[rankNanos]]) and
    * the per-domain profile census (pd, nd, nq). ONE definition shared
    * by the batch query and [[graft.streaming.StreamFrontier]], so
    * their parity is structural. Laplace smoothing gives
    * discovered-but-never-crawled domains the neutral (0+1)/(0+2)
    * prior; the rank×quality product runs EXACT (DECIMAL(38,0)) before
    * the one division; blocklisted domains get budget 0.
    */
  private[graft] def frontierTable(edges: DataFrame, prof: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val r = rankNanos(edges)
    val fr = r.join(broadcast(prof), r("d") === prof("pd"), "left")
      .select(col("d").as("domain"), col("r").as("rn"),
        col("pd").isNotNull.as("visited"),
        coalesce(col("nd"), lit(0L)).as("nd2"),
        coalesce(col("nq"), lit(0L)).as("nq2"))
    fr
      .withColumn("priority",
        floor((col("rn").cast(DecimalType(38, 0)) * (col("nq2") + lit(1L)))
          .cast("double") / (col("nd2") + lit(2L))).cast("long"))
      .withColumn("blocked", col("domain").isin(WebCuration.Blocklist: _*))
      .select(col("domain"),
        (col("rn").cast("double") / lit(1000000000L)).as("pagerank"),
        col("visited"), col("nd2").as("n_docs"),
        ((col("nq2") + lit(1L)).cast("double") / (col("nd2") + lit(2L)))
          .as("quality_rate"),
        col("blocked"), col("priority"),
        when(col("blocked"), lit(0L))
          .otherwise(least(lit(8L),
            lit(1L) + floor(col("priority") / lit(5.0e8)).cast("long")))
          .cast("long").as("crawl_budget"))
      .orderBy(col("priority").desc, col("domain"))
  }

  /** DuckDB twin of [[rankNanos]]: CTE chain (expects `edges`) ending
    * in `r3` (d, r), with `nodes` and `outw` also in scope.
    */
  private[graft] val duckRankCtes: String = {
    val iters = (1 to 3).map { k =>
      s"""c$k AS (SELECT e.dst_domain,
         |  CAST(floor(CAST(r.r AS DOUBLE) * e.n_links / o.ow + 0.5) AS BIGINT) AS c
         |  FROM edges e JOIN r${k - 1} r ON e.src_domain = r.d
         |  JOIN outw o ON e.src_domain = o.d),
         |r$k AS (SELECT n.d,
         |  150000000 + CAST(floor(0.85 * CAST(COALESCE(SUM(c.c), 0) AS DOUBLE) + 0.5) AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$k c ON c.dst_domain = n.d GROUP BY n.d)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS (SELECT src_domain AS d FROM edges UNION SELECT dst_domain FROM edges),
       |outw AS (SELECT src_domain AS d, SUM(n_links) AS ow FROM edges GROUP BY 1),
       |r0 AS (SELECT d, CAST(1000000000 AS BIGINT) AS r FROM nodes),
       |$iters""".stripMargin
  }
}

object HtmlQueries {
  import Html._

  def all: Seq[Q] = Seq(

    // TEXT EXTRACTION census — strip tags, collapse whitespace,
    // decode entities; per source, how many pages round-trip to
    // EXACTLY the text the page was built to show (independent
    // construction of the expected string — a defect anywhere in the
    // strip/collapse/decode chain breaks equality), plus the visible
    // character volume. SCALE: one narrow codegen'd projection per
    // row; the census is a 10-row source aggregate.
    Q("html_text_extract", {
      val vis = duckVisible("html")
      s"""WITH $duckWithHtml,
         |v AS (SELECT source, $vis AS visible, $duckExpected AS expected FROM hdoc)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN visible = expected THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(SUM(length(visible)) AS BIGINT) AS chars_visible
         |FROM v GROUP BY source ORDER BY source""".stripMargin
    }) { (s, dir) =>
      withHtml(s, dir)
        .select(col("source"), visibleText(col("html")).as("visible"),
          expectedText.as("expected"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("visible") === col("expected"), 1).otherwise(0))
            .cast("long").as("n_exact"),
          sum(length(col("visible"))).cast("long").as("chars_visible"))
        .orderBy("source")
    },

    // HOSTILE-HTML EXTRACTION — the same census over pages carrying
    // what real crawl HTML throws at an extractor: <script> bodies
    // (with '<'/'>'/quotes/entities that must all be DROPPED — a
    // stripper that removes only tags leaks JavaScript into the
    // "visible text"), HTML comments wrapping markup, <style> blocks
    // whose selectors contain '>', decimal/hex/beyond-Latin-1 numeric
    // entities, and a malformed entity that must survive VERBATIM.
    // n_exact == n_docs (pinned by HtmlSpec) proves the hardened
    // strip/decode chain recovers every page's independently
    // constructed text exactly. SCALE: identical shape to
    // html_text_extract — one fused codegen'd projection, 10-row
    // census.
    Q("html_text_extract_hostile", {
      val vis = duckVisible("hhtml")
      s"""WITH $duckWithHtml,
         |hh AS (SELECT source, a, n, mid, doc_id,
         |    ${duckHostileHtml("html")} AS hhtml FROM hdoc),
         |v AS (SELECT source, $vis AS visible,
         |    $duckExpectedHostile AS expected FROM hh)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN visible = expected THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(SUM(length(visible)) AS BIGINT) AS chars_visible
         |FROM v GROUP BY source ORDER BY source""".stripMargin
    }) { (s, dir) =>
      withHtml(s, dir)
        .select(col("source"),
          visibleText(hostileHtml(col("html"))).as("visible"),
          expectedHostileText.as("expected"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("visible") === col("expected"), 1).otherwise(0))
            .cast("long").as("n_exact"),
          sum(length(col("visible"))).cast("long").as("chars_visible"))
        .orderBy("source")
    },

    // OUTLINK EXTRACTION -> domain-level link graph: every href,
    // folded to its registrable target domain, aggregated to the
    // (src_domain, dst_domain) edge census with link and
    // distinct-page counts — the host-graph contraction crawl
    // schedulers and spam-graph audits run. SCALE: the explode is
    // bounded (4 links/page), the aggregate key space is the
    // formula-bounded domain grid, and partial aggregation combines
    // map-side before the one shuffle.
    Q("html_outlinks",
      s"""WITH $duckWithHtml,
         |$duckEdges
         |SELECT src_domain, dst_domain, n_links, n_docs
         |FROM edges ORDER BY src_domain, dst_domain""".stripMargin) { (s, dir) =>
      outlinkEdges(withHtml(s, dir))
        .orderBy("src_domain", "dst_domain")
    },

    // HOST-GRAPH PAGERANK — weighted, directed, 3 fixed power
    // iterations at damping 0.85 over the domain edge census. Float
    // discipline: rank lives in FIXED-POINT NANO-UNITS (BIGINT) — the
    // dsir_select quantization, not pagerank_dups' round-to-decimal
    // (a DECIMAL round of a double differs between engines at the
    // last ulp; measured here as a 7e-9 drift on the hub after three
    // iterations). Every per-edge contribution is floor(r*w/ow + 0.5)
    // nanos and every damped sum floor(0.85*Σc + 0.5) — each float op
    // runs on IDENTICAL inputs in both engines (integers and exact
    // integer sums), so the outputs are bit-equal with no rounding
    // boundary to disagree on. Dangling mass is NOT redistributed
    // (documented variant: domains with no outlinks leak their mass;
    // every node still receives the 0.15 floor via the node-census
    // left join). SCALE: the iteration runs entirely on the
    // dimension-bounded edge census — localCheckpoint collapses the
    // one corpus pass so three iterations do not re-scan the corpus;
    // a production run persists the edge table and this query becomes
    // census-only.
    Q("host_link_rank",
      s"""WITH $duckWithHtml,
         |$duckEdges,
         |$duckRankCtes,
         |inw AS (SELECT dst_domain AS d, SUM(n_links) AS inl FROM edges GROUP BY 1)
         |SELECT r3.d AS domain, CAST(r3.r AS DOUBLE) / 1000000000 AS pagerank,
         |  CAST(COALESCE(inw.inl, 0) AS BIGINT) AS in_links,
         |  CAST(COALESCE(outw.ow, 0) AS BIGINT) AS out_links
         |FROM r3 LEFT JOIN inw ON r3.d = inw.d LEFT JOIN outw ON r3.d = outw.d
         |ORDER BY domain""".stripMargin) { (s, dir) =>
      // dimension-bounded census (domain-grid rows); the eager
      // localCheckpoint spends the single corpus pass ONCE so the
      // three iterations inside rankNanos iterate over local rows,
      // not lineage
      val edges = outlinkEdges(withHtml(s, dir)).localCheckpoint(true)
      val outw = outWeights(edges)
      val inw = edges.groupBy(col("dst_domain").as("id"))
        .agg(sum("n_links").as("inl"))
      val r = rankNanos(edges)
      r.join(inw, r("d") === inw("id"), "left")
        .join(outw, r("d") === outw("od"), "left")
        .select(col("d").as("domain"),
          (col("r").cast("double") / lit(1000000000L)).as("pagerank"),
          coalesce(col("inl"), lit(0L)).cast("long").as("in_links"),
          coalesce(col("ow"), lit(0L)).cast("long").as("out_links"))
        .orderBy("domain")
    },

    // BOILERPLATE BLOCK CLASSIFICATION — jusText/Readability's core
    // signal: split the page into block elements, compute each
    // block's anchor-text share of its visible text (link density),
    // and classify content (< 0.5) vs boilerplate. On this page
    // inventory the decision is provably stable: nav is 8/9 anchor
    // chars, footer 5/9, headings 0, and the link-bearing paragraph
    // at most 4/(5+5) — so the census pins exactly {h1, p} content
    // and {nav, footer} boilerplate with their character volumes.
    // SCALE: explode is bounded (5 blocks/page); the aggregate key is
    // (tag, flag) — 4 cells.
    Q("boilerplate_blocks", {
      val vis = duckVisible("line")
      s"""WITH $duckWithHtml,
         |ln AS (SELECT unnest(string_split(html, chr(10))) AS line FROM hdoc),
         |tg AS (SELECT line, regexp_extract(line, '^<([a-z0-9]+)', 1) AS tag FROM ln),
         |bl AS (SELECT tag, $vis AS visible,
         |    COALESCE(list_sum(list_transform(
         |      regexp_extract_all(line, '>([^<]*)</a>', 1), x -> length(x))), 0) AS anchor_chars
         |  FROM tg WHERE tag IN ('nav', 'h1', 'p', 'footer')),
         |cl AS (SELECT tag, length(visible) AS vc, anchor_chars,
         |    CAST(anchor_chars AS DOUBLE) / greatest(length(visible), 1) < 0.5 AS is_content FROM bl)
         |SELECT tag, is_content, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |  CAST(SUM(vc) AS BIGINT) AS chars_visible,
         |  CAST(SUM(anchor_chars) AS BIGINT) AS chars_anchor
         |FROM cl GROUP BY tag, is_content ORDER BY tag, is_content""".stripMargin
    }) { (s, dir) =>
      val lines = withHtml(s, dir)
        .select(explode(split(col("html"), "\n")).as("line"))
        .withColumn("tag", regexp_extract(col("line"), "^<([a-z0-9]+)", 1))
        .filter(col("tag").isin("nav", "h1", "p", "footer"))
      val blocks = lines.select(col("tag"),
        visibleText(col("line")).as("visible"),
        // r15: sum-of-lengths == length-of-concatenation (no
        // separator), so the interpreted per-match aggregate fold
        // becomes one array_join + length — no lambda interpretation
        coalesce(length(array_join(
          regexp_extract_all(col("line"), lit(">([^<]*)</a>"), lit(1)), "")),
          lit(0)).as("anchor_chars"))
      blocks
        // greatest(·, 1) keeps the link-density divide DEFINED (and
        // engine-identical) on a zero-length visible block — only the
        // synthesized page inventory guarantees non-empty blocks today,
        // and an all-anchor block (visible "" after stripping) must
        // classify boilerplate, not NaN
        .select(col("tag"), length(col("visible")).as("vc"),
          col("anchor_chars"),
          (col("anchor_chars").cast("double") /
            greatest(length(col("visible")), lit(1)) < 0.5)
            .as("is_content"))
        .groupBy("tag", "is_content")
        .agg(count(lit(1)).cast("long").as("n_blocks"),
          sum(col("vc")).cast("long").as("chars_visible"),
          sum(col("anchor_chars")).cast("long").as("chars_anchor"))
        .orderBy("tag", "is_content")
    },

    // CRAWL FRONTIER — the composite the web family exists to feed: a
    // crawl scheduler's per-domain priority table, joining host-graph
    // centrality (rankNanos over the outlink census) with the
    // reputation profile (curationProfiles), Laplace-smoothed so
    // domains DISCOVERED via outlinks but never crawled get the
    // neutral (0+1)/(0+2) prior instead of dividing by zero — the
    // explore/exploit seam every frontier has to handle. priority =
    // floor(rank_nanos * (nq+1) / (nd+2)): the product runs EXACT
    // (Spark DECIMAL(38,0) / DuckDB HUGEINT — both engines convert
    // the same exact integer to double before the one division), so
    // the score is deterministic cross-engine; blocklisted domains
    // get budget 0, everyone else min(8, 1 + priority/0.5-rank-units).
    // SCALE: both inputs are dimension-bounded censuses (domain grid);
    // the join, smoothing, and budget math never touch a corpus-sized
    // row — at 100 TB the frontier refresh reads the persisted edge
    // and profile tables and is census-only.
    Q("crawl_frontier",
      s"""WITH $duckWithHtml,
         |$duckEdges,
         |$duckRankCtes,
         |${WebCuration.duckProfiles},
         |prof AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS nd,
         |    CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS nq
         |  FROM fd GROUP BY domain),
         |fr AS (SELECT r3.d AS domain, r3.r AS rn,
         |    prof.domain IS NOT NULL AS visited,
         |    COALESCE(prof.nd, 0) AS nd2, COALESCE(prof.nq, 0) AS nq2
         |  FROM r3 LEFT JOIN prof ON r3.d = prof.domain),
         |py AS (SELECT domain, rn, visited, nd2, nq2,
         |    CAST(floor(CAST(CAST(rn AS HUGEINT) * (nq2 + 1) AS DOUBLE)
         |      / (nd2 + 2)) AS BIGINT) AS priority,
         |    domain IN ${WebCuration.duckBlocklist} AS blocked FROM fr)
         |SELECT domain, CAST(rn AS DOUBLE) / 1000000000 AS pagerank, visited,
         |  CAST(nd2 AS BIGINT) AS n_docs,
         |  CAST(nq2 + 1 AS DOUBLE) / (nd2 + 2) AS quality_rate,
         |  blocked, priority,
         |  CAST(CASE WHEN blocked THEN 0
         |    ELSE least(8, 1 + CAST(floor(priority / 500000000.0) AS BIGINT))
         |  END AS BIGINT) AS crawl_budget
         |FROM py ORDER BY priority DESC, domain""".stripMargin) { (s, dir) =>
      // no checkpoint since r15: the rank replay COLLECTS the census
      // (its one and only consumer here), so pinning blocks first was
      // a pure extra materialization job
      val edges = outlinkEdges(withHtml(s, dir))
      val prof = profileCensus(
        Tables.parallelize(Tables.load(s, dir, "documents")))
      frontierTable(edges, prof)
    },

    // POLITE FRONTIER — the composite the fetcher actually obeys:
    // crawl_frontier's per-domain budget discounted by the domain's
    // robots disallow share ([[WebCuration.robotsCensus]] — RFC 9309
    // longest-prefix verdicts), polite_budget = floor(budget ×
    // (1 − blocked_rate) + 0.5). A fully robots-blocked domain lands
    // at 0 whatever its rank; a domain DISCOVERED via outlinks but
    // never crawled has no robots evidence and keeps its budget (rate
    // 0 — robots.txt is fetched on first contact). Float discipline:
    // blocked_rate is one double division of exact integers and the
    // discount one multiply-round — identical op order in both
    // engines. SCALE: all three inputs are dimension-bounded censuses
    // (domain grid); the composite joins censuses, never corpus rows.
    Q("crawl_frontier_polite",
      s"""WITH $duckWithHtml,
         |$duckEdges,
         |$duckRankCtes,
         |${WebCuration.duckProfiles},
         |prof AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS nd,
         |    CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS nq
         |  FROM fd GROUP BY domain),
         |fr AS (SELECT r3.d AS domain, r3.r AS rn,
         |    prof.domain IS NOT NULL AS visited,
         |    COALESCE(prof.nd, 0) AS nd2, COALESCE(prof.nq, 0) AS nq2
         |  FROM r3 LEFT JOIN prof ON r3.d = prof.domain),
         |py AS (SELECT domain, rn, visited, nd2, nq2,
         |    CAST(floor(CAST(CAST(rn AS HUGEINT) * (nq2 + 1) AS DOUBLE)
         |      / (nd2 + 2)) AS BIGINT) AS priority,
         |    domain IN ${WebCuration.duckBlocklist} AS blocked FROM fr),
         |${WebCuration.duckRobots},
         |pb AS (SELECT py.domain, py.visited, py.blocked, py.priority,
         |    CAST(CASE WHEN py.blocked THEN 0
         |      ELSE least(8, 1 + CAST(floor(py.priority / 500000000.0) AS BIGINT))
         |    END AS BIGINT) AS crawl_budget,
         |    CASE WHEN rb.domain IS NULL THEN 0.0
         |      ELSE CAST(rb.n_blocked AS DOUBLE) / rb.n_urls END AS robots_blocked_rate
         |  FROM py LEFT JOIN rb ON py.domain = rb.domain)
         |SELECT domain, visited, blocked, priority, crawl_budget,
         |  robots_blocked_rate,
         |  CAST(floor(crawl_budget * (1 - robots_blocked_rate) + 0.5) AS BIGINT)
         |    AS polite_budget
         |FROM pb ORDER BY domain""".stripMargin) { (s, dir) =>
      // no checkpoint since r15 — the rank replay collects the census
      // once (see crawl_frontier)
      val edges = outlinkEdges(withHtml(s, dir))
      val prof = profileCensus(
        Tables.parallelize(Tables.load(s, dir, "documents")))
      val fr = frontierTable(edges, prof)
        .select(col("domain"), col("visited"), col("blocked"),
          col("priority"), col("crawl_budget"))
      val rb = WebCuration.robotsCensus(s, dir)
        .select(col("domain").as("rbd"), col("n_urls"), col("n_blocked"))
      fr.join(broadcast(rb), fr("domain") === col("rbd"), "left")
        .select(col("domain"), col("visited"), col("blocked"),
          col("priority"), col("crawl_budget"),
          when(col("rbd").isNull, lit(0.0))
            .otherwise(col("n_blocked").cast("double") / col("n_urls"))
            .as("robots_blocked_rate"))
        .select(col("domain"), col("visited"), col("blocked"),
          col("priority"), col("crawl_budget"), col("robots_blocked_rate"),
          floor(col("crawl_budget") * (lit(1) - col("robots_blocked_rate"))
            + lit(0.5)).cast("long").as("polite_budget"))
        .orderBy("domain")
    })
}
