package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable._

/** HTML boilerplate extraction (SURVEY §2.3 L55, r6) — the missing
  * first stage of a web-crawl corpus: every curation pipeline starts
  * from markup, not clean text, and L8-L31 all assume the markup is
  * already gone.
  *
  * The operator is a pure-column chain (regexp_replace / regexp_
  * extract_all / transform — all codegen'd, map-only, zero shuffles):
  *   1. strip whole boilerplate CONTAINERS (script / style / nav /
  *      header / footer) with non-greedy dotall patterns — RE2-safe
  *      (no backreferences), so the identical patterns run in DuckDB;
  *   2. collect the content blocks (`<p>…</p>` bodies, group 1);
  *   3. entity-unescape each block (&lt; &gt; &amp; — &amp; LAST, the
  *      standard order) and concatenate.
  *
  * Verification is the Multimodal generator-arithmetic pattern: a
  * deterministic generator wraps each document's text in a full page
  * — adversarially, with `<p>` blocks INSIDE the script and nav
  * boilerplate that a naive tag-strip would leak into the output —
  * chunked into paragraphs at fixed 80-char offsets, entity-escaped.
  * Extraction must reproduce the source text BYTE-EXACTLY
  * (`roundtrip_exact`), and the oracle replays generator + extractor
  * in DuckDB so the hash compare pins both sides cross-engine.
  *
  * 100 TB posture: map-only (the chain never shuffles, never
  * collects); at scale the generator column is replaced by the real
  * crawl's html column and nothing else changes.
  */
object Html {

  private val Containers = Seq("script", "style", "nav", "header", "footer")

  private def esc(c: Column): Column =
    replace(replace(replace(c, lit("&"), lit("&amp;")),
      lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))

  private def unesc(c: Column): Column =
    replace(replace(replace(c, lit("&lt;"), lit("<")),
      lit("&gt;"), lit(">")), lit("&amp;"), lit("&"))

  /** Deterministic page around each document's text: head boilerplate
    * (style + a script whose STRING BODY contains a fake `<p>` block),
    * nav with a boilerplate `<p>`, header, the content as 80-char
    * `<p>` chunks (entity-escaped), and a footer with an entity. */
  def asHtml(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text"), pageCol.as("html"))

  /** The generated page as a pure column over (doc_id, text) —
    * streams compose it with withColumn. */
  def pageCol: Column = {
    val nb = greatest(expr("(length(text) + 79) div 80"), lit(1))
    val paras = array_join(
      transform(sequence(lit(0), nb - 1),
        i => concat(lit("<p>"), esc(col("text").substr(i * 80 + 1, lit(80))), lit("</p>"))),
      "")
    concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"), lit("</title>"),
      lit("<style>body { margin: 0; } .ad { color: red }</style>"),
      lit("<script>var s = \"<p>BOILERPLATE</p>\"; if (1 < 2 && 3 > 1) { s = s + s; }</script>"),
      lit("</head><body>"),
      lit("<nav><p>Home | About | <a href=\"/contact\">Contact</a></p></nav>"),
      lit("<header><h1>Doc "), col("doc_id").cast("string"), lit("</h1></header>"),
      lit("<div class=\"content\">"), paras, lit("</div>"),
      lit("<footer><p>Copyright &amp; Terms</p></footer>"),
      lit("</body></html>"))
  }

  /** (doc_id, extracted) from an html column — the reusable stage a
    * crawl pipeline composes in front of L9 quality / L20 curation. */
  def extractText(html: DataFrame, htmlCol: String = "html",
      keep: Seq[String] = Nil): DataFrame = {
    // tags may carry attributes (`<p class="x">`, `<script type=…>`)
    // — `(?:\s[^>]*)?` accepts them without touching `<pre>`-style
    // distinct tag names; RE2-safe, identical in DuckDB
    val stripped = Containers.foldLeft(col(htmlCol)) { (acc, t) =>
      regexp_replace(acc, s"(?s)<$t(?:\\s[^>]*)?>.*?</$t>", "")
    }
    html.select(col("doc_id") +: keep.map(col) :+
        regexp_extract(col(htmlCol), "<title>(.*?)</title>", 1).as("title") :+
        regexp_extract_all(stripped, lit("(?s)<p(?:\\s[^>]*)?>(.*?)</p>"), lit(1)).as("blocks"): _*)
      .select(col("doc_id") +: keep.map(col) :+ col("title") :+
        size(col("blocks")).cast("long").as("n_blocks") :+
        array_join(transform(col("blocks"), b => unesc(b)), "").as("extracted"): _*)
  }

  /** The oracle-checked query: generate, extract, prove the byte-exact
    * roundtrip per document. The source text rides the same map-only
    * chain (no re-join back to the corpus). */
  def htmlExtract(documents: DataFrame): DataFrame =
    extractText(asHtml(documents), keep = Seq("text"))
      .select(col("doc_id"), col("title"), col("n_blocks"),
        md5(col("extracted")).as("extracted_md5"),
        (col("extracted") === col("text")).as("roundtrip_exact"))

  /** The asHtml generator mirrored in SQL — shared by the L55 and L59
    * oracles (must be declared before both). */
  private val htmlGenSql: String = {
    val escSql =
      "replace(replace(replace(substr(text, i * 80 + 1, 80), '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    s"""SELECT doc_id, text,
    '<html><head><title>Doc ' || doc_id::VARCHAR || '</title>'
    || '<style>body { margin: 0; } .ad { color: red }</style>'
    || '<script>var s = "<p>BOILERPLATE</p>"; if (1 < 2 && 3 > 1) { s = s + s; }</script>'
    || '</head><body>'
    || '<nav><p>Home | About | <a href="/contact">Contact</a></p></nav>'
    || '<header><h1>Doc ' || doc_id::VARCHAR || '</h1></header>'
    || '<div class="content">'
    || array_to_string(list_transform(
         generate_series(0, greatest((length(text) + 79) // 80 - 1, 0)),
         i -> '<p>' || $escSql || '</p>'), '')
    || '</div>'
    || '<footer><p>Copyright &amp; Terms</p></footer>'
    || '</body></html>' AS html
  FROM documents"""
  }

  // ---- L59 (r6): boilerplate BLOCK removal by document frequency ----
  // The CCNet-style second boilerplate pass: container stripping (L55)
  // removes nav/footer/script, but real sites repeat sidebar/promo
  // blocks INSIDE the content area where no tag marks them. The only
  // signal is repetition: a block whose text recurs across many
  // documents of the same source is boilerplate, whatever tag holds
  // it. Drop blocks with per-source document frequency >= BoilerDf
  // (10: comfortably above the corpus's max content-chunk df of 3 and
  // below the 25..250 docs/source the injected blocks span, at every
  // sf).
  //
  // Scale shape: one (source, block-hash) aggregate with map-side
  // partials (hot boilerplate keys collapse before the shuffle), one
  // hash join of blocks to their df (key multiplicity bounded by
  // docs/source), one (doc_id) reassembly aggregate ordered by block
  // position. The df frame could broadcast at 100 TB only if filtered
  // to df >= threshold FIRST (boilerplate is rare-distinct); the join
  // keeps that option open.
  private val BoilerDf = 10

  /** Page generator with per-source boilerplate injected INSIDE the
    * content div — front promo + back syndication line — exactly
    * where container stripping cannot reach it. */
  def asHtmlBoiler(documents: DataFrame): DataFrame = {
    val front = concat(lit("<p>"), col("source"),
      lit(" breaking | subscribe &amp; follow</p>"))
    val back = concat(lit("<p>(c) "), col("source"),
      lit(" syndication network</p>"))
    asHtml(documents)
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("text"),
        regexp_replace(col("html"), lit("<div class=\"content\">"),
          concat(lit("<div class=\"content\">"), front))
          .as("html"))
      .select(col("doc_id"), col("source"), col("text"),
        regexp_replace(col("html"), lit("</div>"), concat(back, lit("</div>")))
          .as("html"))
  }

  /** (doc_id, n_blocks, n_kept, kept_md5, roundtrip_exact): strip
    * df-heavy blocks, reassemble the rest in order; the survivors must
    * rebuild the source text byte-exactly. */
  def boilerStrip(documents: DataFrame): DataFrame = {
    val stripped = Containers.foldLeft(col("html")) { (acc, t) =>
      regexp_replace(acc, s"(?s)<$t(?:\\s[^>]*)?>.*?</$t>", "")
    }
    val blocks = asHtmlBoiler(documents)
      .select(col("doc_id"), col("source"), col("text"),
        posexplode(regexp_extract_all(stripped,
          lit("(?s)<p(?:\\s[^>]*)?>(.*?)</p>"), lit(1))))
      .toDF("doc_id", "source", "text", "pos", "blk")
    val df = blocks.groupBy(col("source"), md5(col("blk")).as("h"))
      .agg(count_distinct(col("doc_id")).as("df"))
    blocks.withColumn("h", md5(col("blk")))
      .join(df, Seq("source", "h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum((col("df") < BoilerDf).cast("long")).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("df") < BoilerDf,
            struct(col("pos"), col("blk"))))),
          x => unesc(x.getField("blk"))), "")).as("kept_md5"),
        (array_join(transform(
          array_sort(collect_list(when(col("df") < BoilerDf,
            struct(col("pos"), col("blk"))))),
          x => unesc(x.getField("blk"))), "") === first(col("text")))
          .as("roundtrip_exact"))
  }

  val boilerStripSql: String = {
    val strippedSql = Containers.foldLeft("html") { (acc, t) =>
      s"regexp_replace($acc, '(?s)<$t(?:\\s[^>]*)?>.*?</$t>', '', 'g')"
    }
    s"""WITH g AS (
  SELECT d.doc_id, d.source, d.text,
    regexp_replace(regexp_replace(h.html,
      '<div class="content">',
      '<div class="content"><p>' || d.source || ' breaking | subscribe &amp; follow</p>'),
      '</div>',
      '<p>(c) ' || d.source || ' syndication network</p></div>') AS html
  FROM documents d JOIN ($htmlGenSql) h ON h.doc_id = d.doc_id),
b0 AS (
  SELECT doc_id, source, text,
    regexp_extract_all($strippedSql, '(?s)<p(?:\\s[^>]*)?>(.*?)</p>', 1) AS blks
  FROM g),
blocks AS (
  SELECT doc_id, source, text, i AS pos, blks[i] AS blk
  FROM b0, unnest(generate_series(1, len(blks))) AS u(i)),
df AS (SELECT source, md5(blk) AS h, count(DISTINCT doc_id)::BIGINT AS df
  FROM blocks GROUP BY 1, 2),
j AS (SELECT b.doc_id, b.pos, b.blk, b.text, f.df
  FROM blocks b JOIN df f ON f.source = b.source AND f.h = md5(b.blk))
SELECT doc_id, count(*)::BIGINT AS n_blocks,
  sum((df < $BoilerDf)::BIGINT)::BIGINT AS n_kept,
  md5(string_agg(CASE WHEN df < $BoilerDf
    THEN replace(replace(replace(blk, '&lt;', '<'), '&gt;', '>'), '&amp;', '&')
    ELSE '' END, '' ORDER BY pos)) AS kept_md5,
  (string_agg(CASE WHEN df < $BoilerDf
    THEN replace(replace(replace(blk, '&lt;', '<'), '&gt;', '>'), '&amp;', '&')
    ELSE '' END, '' ORDER BY pos) = any_value(text)) AS roundtrip_exact
FROM j GROUP BY doc_id"""
  }

  val htmlExtractSql: String = {
    val strippedSql = Containers.foldLeft("html") { (acc, t) =>
      s"regexp_replace($acc, '(?s)<$t(?:\\s[^>]*)?>.*?</$t>', '', 'g')"
    }
    s"""WITH g AS ($htmlGenSql),
x AS (
  SELECT doc_id, text,
    regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
    regexp_extract_all($strippedSql, '(?s)<p(?:\\s[^>]*)?>(.*?)</p>', 1) AS blocks
  FROM g),
e AS (
  SELECT doc_id, text, title, len(blocks)::BIGINT AS n_blocks,
    array_to_string(list_transform(blocks,
      b -> replace(replace(replace(b, '&lt;', '<'), '&gt;', '>'), '&amp;', '&')), '') AS extracted
  FROM x)
SELECT doc_id, title, n_blocks, md5(extracted) AS extracted_md5,
  extracted = text AS roundtrip_exact
FROM e"""
  }

  // ---- L72 (r6): host link graph + integer PageRank over hosts ----
  // The link-based quality signal every web corpus ranks with (the
  // CCNet/Common-Crawl host-level PageRank): outlinks come OUT OF THE
  // MARKUP — each page declares its host in a canonical <link> and its
  // outlinks as absolute <a href> anchors; edges aggregate per
  // (src_host, dst_host) with multiplicity as the weight, and the C39
  // integer fixed-point recurrence runs over the HOST graph. Generator
  // contract (the L55 pattern — a real crawl swaps in its html column
  // and nothing else changes): host = h(doc_id mod 16) — all 16 hosts
  // occupied once ids cover 0..15 — one deterministic RING link to
  // h(id+1 mod 16) guaranteeing every host ≥1 in-edge (the recursion's
  // coverage precondition, structural rather than probabilistic), plus
  // three md5-derived links. Scale shape: link extraction is map-only
  // over the corpus; ONE (src, dst) aggregate with map-side partials
  // collapses 100 TB of pages to a host-cardinality edge list that the
  // C39 recurrence (Dedup.integerRank) ranks with the truncate-then-
  // scale share (rank div out_w)·w, which never exceeds rank.
  private val HostCount = 16L

  private def hostCol(id: Column): Column =
    concat(lit("h"), pmod(id, lit(HostCount)).cast("string"))

  private def linkHost(k: Int, id: Column): Column =
    concat(lit("h"), pmod(md5Long(lit(s"link$k"), id), lit(HostCount)).cast("string"))

  /** [[pageCol]] plus a canonical host declaration in the head and a
    * links block ahead of the footer. */
  def linkedPageCol: Column = {
    val id = col("doc_id")
    def anchor(host: Column, tag: String): Column =
      concat(lit("<a href=\"https://"), host, lit(".example.com/p"),
        id.cast("string"), lit(s"\">$tag</a>"))
    val canonical = concat(lit("<link rel=\"canonical\" href=\"https://"),
      hostCol(id), lit(".example.com/p"), id.cast("string"), lit("\">"))
    val links = concat(
      Seq(lit("<div class=\"links\">"), anchor(hostCol(id + 1), "next")) ++
        (0 until 3).map(k => anchor(linkHost(k, id), s"ref$k")) :+
        lit("</div>"): _*)
    replace(
      replace(pageCol, lit("</head>"), concat(canonical, lit("</head>"))),
      lit("<footer>"), concat(links, lit("<footer>")))
  }

  def asLinkedHtml(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text"), linkedPageCol.as("html"))

  /** (host, out_w, rank): weighted integer PageRank of the host graph
    * extracted from the linked pages. */
  def hostGraphRank(documents: DataFrame): DataFrame = {
    val html = asLinkedHtml(documents).select(col("doc_id"), col("html"))
    val parsed = html.select(
      regexp_extract(col("html"),
        "rel=\"canonical\" href=\"https://(h[0-9]+)\\.example\\.com", 1).as("src"),
      regexp_extract_all(col("html"),
        lit("<a href=\"https://(h[0-9]+)\\.example\\.com"), lit(1)).as("dsts"))
    val edges = parsed.select(col("src"), explode(col("dsts")).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    // the host graph is bounded by HostCount at any corpus size
    Dedup.integerRank(edges, scaleFirst = false, vertices = Some(HostCount))
      .select(col("v").as("host"), col("out_w"), col("rank"))
  }

  /** Generator-arithmetic oracle (the L42/L50 pattern): hrefs are
    * regenerated from the same md5/mod arithmetic — the html-string
    * round trip is pinned by the ScalaTest with an independent
    * java-regex extractor. */
  val hostGraphRankSql: String = {
    val src = s"'h' || (doc_id % $HostCount)::VARCHAR"
    val ring = s"'h' || ((doc_id + 1) % $HostCount)::VARCHAR"
    def mk(k: Int) = s"'h' || (${md5LongSql(s"'link$k'", "doc_id")} % $HostCount)::VARCHAR"
    s"""WITH RECURSIVE raw AS (
  SELECT $src AS src, unnest([$ring, ${mk(0)}, ${mk(1)}, ${mk(2)}]) AS dst
  FROM documents),
e AS (SELECT src, dst, count(*)::BIGINT AS w FROM raw GROUP BY 1, 2),
deg AS (SELECT src, sum(w)::BIGINT AS out_w FROM e GROUP BY src),
pr(iter, v, rank) AS (
  SELECT 0, src, ${Dedup.RankUnit / HostCount} FROM deg
  UNION ALL
  SELECT iter + 1, dst, ${(15L * (Dedup.RankUnit / HostCount)) / 100L} + (85 * s) // 100
  FROM (SELECT p.iter AS iter, e.dst AS dst, sum((p.rank // dg.out_w) * e.w) AS s
        FROM pr p JOIN deg dg ON dg.src = p.v JOIN e ON e.src = p.v
        GROUP BY p.iter, e.dst)
  WHERE iter < ${Dedup.RankIters})
SELECT p.v AS host, deg.out_w, p.rank::BIGINT AS rank
FROM pr p JOIN deg ON deg.src = p.v WHERE iter = ${Dedup.RankIters}"""
  }
}
