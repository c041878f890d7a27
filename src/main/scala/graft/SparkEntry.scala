package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EventGroups, TableGroups}
import graft.util.Cols
import graft.operators.{CdcOps, Dedup, Graph, Multimodal, Relational, Report, Similarity, SkewJoin, TextOps}
import graft.sources.ChangeLogSource
import graft.sources.ChangeLogSource.OffsetRange

/**
 * Driver contract — one `queries` entry per implemented operator from
 * SURVEY.md §2 (CDC surface over the `events` change-log stand-in),
 * the t2 relational suite, and the training-data operators (dedup,
 * similarity search, text analysis). Each SQL-expressible query has a
 * DuckDB oracle in [[oracleSql]] with identical column names/aliases;
 * hash-sensitive outputs follow the determinism conventions documented
 * on [[graft.operators.Relational]] (DECIMAL-exact money, epoch-micros
 * timestamps, total ORDER BY).
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    ChangeLogSource.table(s, dir, name)

  /** Shared fixture for the revisit pair (`crawl_revisit` /
    * `crawl_revisit_records`): (fetched wave, stored validators) over
    * the same url lattice — every 4th doc never stored, status by
    * doc_id%5 (304 / 503 / 200), digest unchanged on doc_id%3==0.
    * ONE definition so a lattice tweak can't desynchronize the two
    * oracles. */
  private def revisitFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val u = concat(lit("https://site"),
      pmod(col("doc_id"), lit(20L)).cast("string"), lit(".com/rv/"),
      col("doc_id").cast("string"))
    val stored = docs.filter(pmod(col("doc_id"), lit(4L)) =!= 3)
      .select(u.as("url"),
        md5(coalesce(col("text"), lit(""))).as("digest"))
    val sv = pmod(col("doc_id"), lit(5L))
    val fetched = docs.select(col("doc_id"), u.as("url"),
      when(sv === 0, lit(304)).when(sv === 1, lit(503))
        .otherwise(lit(200)).as("status"),
      when(pmod(col("doc_id"), lit(3L)) === 0,
          md5(coalesce(col("text"), lit(""))))
        .otherwise(md5(concat(coalesce(col("text"), lit("")),
          lit("~v2")))).as("digest"))
    (fetched, stored)
  }

  /** Shared fixture for the archive family (`crawl_cdx_index` /
    * `crawl_cdx_fetch_plan` / `pipeline_archive_manifest`): every
    * document rendered as a full WARC response record, 20 capture
    * files keyed by doc_id%20. Oracle twin: the `arecs` CTE. */
  private def cdxRendered(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val u = concat(lit("https://site"),
      pmod(col("doc_id"), lit(20L)).cast("string"), lit(".com/ar/"),
      col("doc_id").cast("string"))
    val hdr = lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
      "charset=utf-8\r\n\r\n")
    docs.select(col("doc_id"),
        pmod(col("doc_id"), lit(20L)).as("file_id"), u.as("url"),
        coalesce(col("text"), lit("")).as("body"))
      .withColumn("record", graft.operators.Warc.responseRecord(
        col("url"), lit("2026-08-01T00:00:00Z"), hdr, col("body")))
  }

  /** Every 5th document with every 50th re-planted under a shifted
    * id — deterministic exact near-dups so the wide (30-bit band)
    * pHash queries verify actual pairs at any SF. The 1/5 subset
    * bounds the 120-bit stub's hash arithmetic in the bench (the
    * planted set is untouched: multiples of 50 are all multiples
    * of 5); scale behavior is the probe's job, not the gate's.
    * Oracle twin: the `wdocs` CTE. */
  private def wideDupDocs(docs: DataFrame): DataFrame = {
    val sub = docs.filter(col("doc_id") % 5 === 0)
    sub.select(col("doc_id"), col("text"))
      .unionByName(sub.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          col("text")))
  }

  /** Deterministic crawl-page HTML per document: entity-encoded body
    * text wrapped in title/style/script/comment/nav boilerplate, so
    * [[TextOps.htmlToText]] has real markup to strip and entities to
    * decode. Oracle twin: the `hdocs` CTE. */
  private def synthHtml(docs: DataFrame): DataFrame = {
    val enc = replace(replace(replace(coalesce(col("text"), lit("")),
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
      lit(">"), lit("&gt;"))
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style type=\"text/css\"> p { margin: 0; } " +
        "</style></head><body><!-- nav --><div class=\"nav\">" +
        "<a href=\"/home\">Home</a> <a href=\"/d/"),
      pmod(col("doc_id"), lit(97L)).cast("string"),
      lit("\">Next</a></div><script>if (1 < 2) { track(\"d\"); }" +
        "</script><p>"),
      enc, lit("</p></body></html>")).as("html"))
  }

  /** Deterministic crawl URLs, four variants by doc_id%4: mixed-case
    * scheme/host + default port + tracking params + fragment (v0),
    * same resource with params reordered (v1 — canonicalizes
    * IDENTICALLY to v0, the planted cross-variant dup), a non-default
    * port that must survive (v2), and an https default port with
    * byte-sort-sensitive params (v3). Oracle twin: the `udocs` CTE. */
  private def synthUrl(docs: DataFrame): DataFrame = {
    val k = pmod(col("doc_id"), lit(5L)).cast("string")
    val m = pmod(col("doc_id"), lit(11L)).cast("string")
    val v = pmod(col("doc_id"), lit(4L))
    docs.select(col("doc_id"),
      when(v === 0, concat(lit("HTTP://WWW.Example"), k,
          lit(".COM:80/Articles/"), m,
          lit("/?utm_source=feed&b=2&a=1#frag")))
        .when(v === 1, concat(lit("http://www.example"), k,
          lit(".com/Articles/"), m, lit("?a=1&b=2&fbclid=abc123")))
        .when(v === 2, concat(lit("http://www.example"), k,
          lit(".com:8080/Articles/"), m, lit("/")))
        .otherwise(concat(lit("https://Example"), k,
          lit(".com:443/search?q="), m,
          lit("&ref=sidebar&gclid=1&q2=x"))).as("url"))
  }

  /** crawl_warc_gz's FIXTURE: per-doc gzip'd two-record WARC files
    * (even docs one member, odd member-per-record; every 7th
    * trailer-truncated). */
  private def warcGzFiles(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.operators.Warc.WarcFileRow] = {
    val docs = t(s, dir, "documents")
    val h = pmod(col("doc_id"), lit(20L)).cast("string")
    val httpHdr = "HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n\r\n"
    val block0 = concat(lit(httpHdr), coalesce(col("text"), lit("")))
    val len0 = length(encode(block0, "UTF-8"))
    val block1 = concat(lit("fetch-ms "),
      pmod(col("doc_id"), lit(997L)).cast("string"))
    val rec0 = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: https://site"), h, lit(".com/p/"),
      col("doc_id").cast("string"),
      lit("\r\nWARC-Date: 2026-06-01T00:00:00Z\r\nContent-Length: "),
      len0.cast("string"), lit("\r\n\r\n"), block0, lit("\r\n\r\n"))
    val rec1 = concat(
      lit("WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: "),
      length(block1).cast("string"), lit("\r\n\r\n"), block1,
      lit("\r\n\r\n"))
    val enc5 = org.apache.spark.sql.Encoders
      .product[(Long, Array[Byte], Array[Byte], Long, Boolean)]
    val rows = docs.select(col("doc_id"),
        encode(rec0, "UTF-8").as("r0"), encode(rec1, "UTF-8").as("r1"),
        pmod(col("doc_id"), lit(2L)).as("mode"),
        (pmod(col("doc_id"), lit(7L)) === 3).as("corrupt"))
      .as(enc5)
    rows.mapPartitions { it =>
      def gz(b: Array[Byte]): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(b); g.close(); bos.toByteArray
      }
      it.map { case (id, r0, r1, mode, corrupt) =>
        val payload =
          if (mode == 0L) gz(r0 ++ r1) else gz(r0) ++ gz(r1)
        graft.operators.Warc.WarcFileRow(id,
          if (corrupt) payload.dropRight(5) else payload)
      }
    }(org.apache.spark.sql.Encoders
      .product[graft.operators.Warc.WarcFileRow])
  }

  /** Deterministic multi-line crawl pages: unique body text plus
    * planted boilerplate lines — corpus-wide (rights notice),
    * source-segment (subscribe prompt, docs ≡0 mod 3), at-the-df-floor
    * (promo line, df=2 at the sf0.01 gate — must survive `maxDf=2`),
    * and a short separator exempt from counting. Oracle twin: the
    * `ldocs` CTE. */
  private def synthMultiline(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      coalesce(col("text"), lit("")),
      lit("\nAll rights reserved worldwide legal notice."),
      when(pmod(col("doc_id"), lit(3L)) === 0,
        lit("\nSubscribe to our newsletter today please."))
        .otherwise(concat(lit("\nContact office number "),
          col("doc_id").cast("string"), lit(" direct line."))),
      lit("\n--"),
      lit("\nPromo code "), pmod(col("doc_id"), lit(250L)).cast("string"),
      lit(" applies.")).as("text"))

  /** Deterministic BLOCK-structured crawl pages for the crawl
    * flagship: title + nav + script boilerplate plus a body of
    * paragraph blocks — the unique article text, a corpus-wide rights
    * notice, a segment-level subscribe prompt (docs ≡0 mod 3), and a
    * unique long contact line — so `htmlToLines` yields real LINES and
    * `lineDedup` has real cross-doc boilerplate to drop. Oracle twin:
    * the `cdocs` CTE. */
  private[graft] def synthCrawlHtml(docs: DataFrame): DataFrame = {
    val enc = replace(replace(replace(coalesce(col("text"), lit("")),
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
      lit(">"), lit("&gt;"))
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style> p { margin: 0; } </style></head><body>" +
        "<!-- nav --><div class=\"nav\"><a href=\"/home\">Home</a></div>" +
        "<script>track(1 < 2);</script><p>"),
      enc,
      lit("</p><p>All rights reserved worldwide legal notice.</p>"),
      when(pmod(col("doc_id"), lit(3L)) === 0,
        lit("<p>Subscribe to our newsletter today please.</p>"))
        .otherwise(concat(lit("<p>Contact office number "),
          col("doc_id").cast("string"), lit(" direct line.</p>"))),
      lit("</body></html>")).as("html"))
  }

  /** Deterministic head-metadata pages: title always; robots meta in
    * BOTH attribute orders, all three quoting styles (double, single,
    * unquoted — the r11 advisory's fail-OPEN case), an uppercase
    * directive and an absent case (doc_id%6); rel=canonical links in
    * both orders, a single-quoted and an unquoted variant, plus
    * absent (doc_id%6). Oracle twin: the `mdocs` CTE. */
  private def synthMetaHtml(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit(" News</title>"),
      when(pmod(col("doc_id"), lit(6L)) === 0,
        lit("<meta name=\"robots\" content=\"NOINDEX\">"))
        .when(pmod(col("doc_id"), lit(6L)) === 1,
          lit("<meta name='robots' content='noindex, nofollow'>"))
        .when(pmod(col("doc_id"), lit(6L)) === 2,
          lit("<meta content=\"index,follow\" name=\"robots\">"))
        .when(pmod(col("doc_id"), lit(6L)) === 3,
          lit("<meta name=robots content=noindex>"))
        .when(pmod(col("doc_id"), lit(6L)) === 4,
          lit("<meta name=ROBOTS content=\"NOFOLLOW\">"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(6L)) === 0,
        concat(lit("<link rel=\"canonical\" href=\"https://example.com/canon/"),
          pmod(col("doc_id"), lit(7L)).cast("string"), lit("\">")))
        .when(pmod(col("doc_id"), lit(6L)) === 1,
          concat(lit("<link href=\"https://example.com/canon/"),
            pmod(col("doc_id"), lit(7L)).cast("string"),
            lit("\" rel=\"canonical\">")))
        .when(pmod(col("doc_id"), lit(6L)) === 2,
          concat(lit("<link rel='canonical' href='https://example.com/canon/"),
            pmod(col("doc_id"), lit(7L)).cast("string"), lit("'>")))
        .when(pmod(col("doc_id"), lit(6L)) === 3,
          concat(lit("<link rel=canonical href=https://example.com/canon/"),
            pmod(col("doc_id"), lit(7L)).cast("string"), lit(">")))
        .otherwise(lit("")),
      lit("</head><body></body></html>")).as("html"))

  /** Robots fixture texts — shared verbatim by [[synthRobots]] and
    * the oracle CTE (interpolated; no single quotes by construction).
    * Variant 0: the full two-group file (star rules + delay; exact
    * `graftbot` group with wildcard and $-anchored patterns).
    * Variant 1: multi-UA group with an EMPTY disallow (allow-all for
    * the named agents), an ignored unknown field, and a deny-all star
    * group — the agent-selection fixture. Variant 2: star-only with
    * `*`/`$` patterns and a longest-match ladder. Variant 3 (the
    * `ELSE` case): no robots.txt at all — unrestricted host. */
  private val RobotsTxt0: String =
    "# robots fixture: two groups\n" +
    "Sitemap: https://cdn.example.com/maps/root.xml\n" +
    "User-Agent: *\n" +
    "Disallow: /private/\n" +
    "Allow: /private/pub/\n" +
    "Crawl-delay: 2\n" +
    "\n" +
    "User-agent: graftbot\n" +
    "Disallow: /tmp/*\n" +
    "Allow: /tmp/ok$\n"
  private val RobotsTxt1: String =
    "User-agent: graftbot\n" +
    "User-agent: otherbot\n" +
    "Disallow:\n" +
    "Sitemap: https://example.com/map.xml\n" +
    "User-agent: *\n" +
    "Disallow: /\n"
  private val RobotsTxt2: String =
    "user-agent: *\n" +
    "disallow: /*.json$\n" +
    "allow: /api/\n" +
    "disallow: /api/internal/\n"

  /** Deterministic per-host robots.txt over the 20 fixture hosts
    * (`site<h>.com`, h = doc_id%20), variant by h%4. Oracle twin: the
    * `rdocs` CTE. */
  private[graft] def synthRobots(docs: DataFrame): DataFrame =
    docs.select(pmod(col("doc_id"), lit(20L)).as("h")).distinct()
      .select(concat(lit("site"), col("h").cast("string"), lit(".com"))
          .as("host"),
        when(pmod(col("h"), lit(4L)) === 0, lit(RobotsTxt0))
          .when(pmod(col("h"), lit(4L)) === 1, lit(RobotsTxt1))
          .when(pmod(col("h"), lit(4L)) === 2, lit(RobotsTxt2))
          .otherwise(lit("")).as("robots_txt"))

  /** Deterministic frontier URLs across the robots fixture hosts:
    * uppercase authority (exercises host lowering), eight path
    * variants (doc_id%8) covering the precedence ladder, the `$`
    * anchor, wildcard matches and a query-string participant. Oracle
    * twin: the `rurls` CTE. */
  private def synthRobotsUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("https://SITE"), pmod(col("doc_id"), lit(20L)).cast("string"),
      lit(".com"),
      when(pmod(col("doc_id"), lit(8L)) === 0, lit("/private/x"))
        .when(pmod(col("doc_id"), lit(8L)) === 1, lit("/private/pub/y"))
        .when(pmod(col("doc_id"), lit(8L)) === 2, lit("/tmp/a"))
        .when(pmod(col("doc_id"), lit(8L)) === 3, lit("/tmp/ok"))
        .when(pmod(col("doc_id"), lit(8L)) === 4, lit("/data.json"))
        .when(pmod(col("doc_id"), lit(8L)) === 5, lit("/api/ok"))
        .when(pmod(col("doc_id"), lit(8L)) === 6, lit("/api/internal/x"))
        .otherwise(lit("/index.html?ref=1"))).as("url"))

  /** Deterministic FRONTIER URLs for the ingest flagship —
    * scale-honest (one group k per 4 docs, so survivors grow with the
    * corpus): host `site<k%20>.com` (the robots fixture hosts), path
    * prefix by k%8 over the robots-relevant ladder, a non-tracking
    * `id=<k>` param making each group's resource unique, and four
    * per-doc variants of which v1 is a CANONICAL DUP of v0 (case,
    * default :443, tracking param, param order) while v2/v3 are
    * distinct resources — 4 urls → 3 canonical keys per group.
    * Oracle twin: the `furl*` CTEs. */
  private[graft] def synthFrontierUrls(docs: DataFrame): DataFrame = {
    val k = expr("CAST(doc_id div 4 AS BIGINT)")
    val hs = pmod(k, lit(20L)).cast("string")
    val ks = k.cast("string")
    val pclass = pmod(k, lit(8L))
    val prefix = when(pclass === 0, lit("/private/x"))
      .when(pclass === 1, lit("/private/pub/y"))
      .when(pclass === 2, lit("/tmp/a"))
      .when(pclass === 3, lit("/tmp/ok"))
      .when(pclass === 4, lit("/data.json"))
      .when(pclass === 5, lit("/api/ok"))
      .when(pclass === 6, lit("/api/internal/x"))
      .otherwise(lit("/index.html"))
    val v = pmod(col("doc_id"), lit(4L))
    docs.select(col("doc_id"),
      when(v === 0, concat(lit("https://site"), hs, lit(".com"),
          prefix, lit("?id="), ks, lit("&a=1")))
        .when(v === 1, concat(lit("HTTPS://SITE"), hs, lit(".COM:443"),
          prefix, lit("?utm_source=f&a=1&id="), ks))
        .when(v === 2, concat(lit("https://site"), hs, lit(".com"),
          prefix, lit("?b=2&id="), ks))
        .otherwise(concat(lit("https://site"), hs, lit(".com"),
          prefix, lit("?c=3&id="), ks)).as("url"))
  }

  /** Deterministic sitemap urlset DOCUMENTS, one per doc: three
    * `<url>` entries with entity-escaped query params (`&amp;`),
    * padded `<loc>` bodies (trim must fire) and lastmod present on
    * alternating (doc_id+j) parity. Oracle twin: the `smdocs` CTE. */
  private def synthSitemapXml(docs: DataFrame): DataFrame = {
    val h = pmod(col("doc_id"), lit(20L)).cast("string")
    def seg(j: Int) = concat(
      lit("\n<url>\n  <loc> https://site"), h, lit(".com/page/"),
      col("doc_id").cast("string"), lit(s"/$j?a=1&amp;b=2 </loc>"),
      when(pmod(col("doc_id") + j, lit(2L)) === 0,
        lit(s"\n  <lastmod>2026-0${j + 1}-15</lastmod>"))
        .otherwise(lit("")),
      lit("\n</url>"))
    docs.select(col("doc_id"), concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset " +
        "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
      seg(0), seg(1), seg(2), lit("\n</urlset>")).as("xml"))
  }

  /** Deterministic sitemap INDEX documents, one per doc: two
    * `<sitemap>` pointer entries at child URLs
    * `https://site{h}.com/sm/{doc_id}/{j}.xml?p=1&q=2` (entity-escaped
    * in the XML, padded `<loc>` bodies so trim must fire), lastmod on
    * (doc_id+j) parity. Oracle twin: analytic (the expected rows are
    * derived directly, not regex-replayed). */
  private def synthSitemapIndexXml(docs: DataFrame): DataFrame = {
    val h = pmod(col("doc_id"), lit(20L)).cast("string")
    def ptr(j: Int) = concat(
      lit("\n<sitemap>\n  <loc> https://site"), h, lit(".com/sm/"),
      col("doc_id").cast("string"), lit(s"/$j.xml?p=1&amp;q=2 </loc>"),
      when(pmod(col("doc_id") + j, lit(2L)) === 0,
        lit(s"\n  <lastmod>2026-0${j + 1}-10</lastmod>"))
        .otherwise(lit("")),
      lit("\n</sitemap>"))
    docs.select(col("doc_id"), concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<sitemapindex " +
        "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
      ptr(0), ptr(1), lit("\n</sitemapindex>")).as("xml"))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: the full
    * extraction pipeline — range scan, table-group filter, commit-ts
    * enrichment (broadcast), pipe-format rendering. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val log = ChangeLogSource.changeLog(spark, dir)
    val scanned = ChangeLogSource.rangeScan(
      log, OffsetRange(0, Long.MaxValue), EventGroups.All)
    val enriched = CdcOps.enrichCommitTs(scanned, CdcOps.commitTsDim(log))
    enriched.select(col("event_id"),
      CdcOps.pipeLine(Seq(col("event_id"), Cols.epochUs(col("ts")),
        col("user_id"), col("event_type"),
        col("value").cast("decimal(18,2)"),
        Cols.epochUs(col("commit_ts")))).as("line"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- CDC surface (SURVEY §2.1-2.3) over the events change-log ----
    "cdc_offset_discovery" -> ((s, dir) =>
      ChangeLogSource.latestOffset(t(s, dir, "events"), EventGroups.First)),

    "cdc_range_scan" -> ((s, dir) =>
      ChangeLogSource.rangeScan(t(s, dir, "events"), OffsetRange(100, 5000),
          EventGroups.All)
        .select(col("event_id"), Cols.epochUs(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy(col("event_id"))),

    "cdc_pipe_format" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
          CdcOps.pipeLine(Seq(col("event_id"), Cols.epochUs(col("ts")),
            col("user_id"), col("event_type"),
            col("value").cast("decimal(18,2)"), col("props"))).as("line"))
        .orderBy(col("event_id"))),

    "cdc_distinct_txids" -> ((s, dir) =>
      CdcOps.distinctTxids(
          t(s, dir, "events").filter(col("event_type").isin(EventGroups.First: _*)))
        .orderBy(col("user_id"))),

    "cdc_commit_enrich" -> ((s, dir) => {
      val log = t(s, dir, "events")
      CdcOps.enrichCommitTs(log, CdcOps.commitTsDim(log))
        .select(col("event_id"), col("user_id"),
          Cols.epochUs(col("commit_ts")).as("commit_ts_us"))
        .orderBy(col("event_id"))
    }),

    "cdc_txids_by_minute" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("minute", col("ts")).as("w"))
        .agg(array_join(sort_array(collect_set(col("user_id"))), ",").as("txids"))
        .select(Cols.epochUs(col("w")).as("minute_us"), col("txids"))
        .orderBy(col("minute_us"))),

    "cdc_watermark" -> ((s, dir) =>
      CdcOps.watermark(t(s, dir, "events"))
        .select(Cols.epochUs(col("uptodate")).as("uptodate_us"))),

    "cdc_running_watermark" -> ((s, dir) =>
      CdcOps.runningWatermark(t(s, dir, "events"))
        .select(col("event_id"), Cols.epochUs(col("uptodate")).as("uptodate_us"))
        .orderBy(col("event_id"))),

    "cdc_staleness" -> ((s, dir) =>
      CdcOps.stalenessProfile(t(s, dir, "events")).orderBy(col("event_id"))),

    "cdc_throughput_minute" -> ((s, dir) =>
      CdcOps.throughputByMinute(t(s, dir, "events"))
        .select(Cols.epochUs(col("minute")).as("minute_us"),
          col("n_events"), col("n_txids"))
        .orderBy(col("minute_us"))),

    "cdc_rates" -> ((s, dir) =>
      CdcOps.ratesByStream(t(s, dir, "events")).orderBy(col("event_type"))),

    "cdc_task_plan" -> ((s, dir) => {
      // the coordinator's poll loop as data (SURVEY §2.1 S2 / §2.3 T2,
      // CoordinatorRunnable.java:84-94): one poll tick per minute
      // observes max(event_id); every advance becomes the half-open
      // extraction task (prev_max, tick_max]
      val ticks = t(s, dir, "events")
        .groupBy(date_trunc("minute", col("ts")).as("tick"))
        .agg(max(col("event_id")).as("tick_max"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("tick"))
      ticks.withColumn("prev_max", lag(col("tick_max"), 1).over(w))
        .filter(col("prev_max").isNull || col("tick_max") > col("prev_max"))
        .select(Cols.epochUs(col("tick")).as("tick_us"),
          coalesce(col("prev_max"), lit(-1L)).as("min_seq"),
          col("tick_max").as("max_seq"),
          (col("tick_max") - coalesce(col("prev_max"), lit(-1L)))
            .as("n_ids"))
        .orderBy(col("tick_us"))
    }),

    "cdc_gap_detection" -> ((s, dir) =>
      CdcOps.gapDetection(
          t(s, dir, "events").filter(col("event_type").isin(EventGroups.First: _*)))
        .orderBy(col("before_id"))),

    // ---- relational t2 suite (FIXTURES §C.7) ----
    "q1_pricing_summary" -> ((s, dir) =>
      Relational.q1PricingSummary(t(s, dir, "lineitem"))),

    "q3_shipping_priority" -> ((s, dir) =>
      Relational.q3ShippingPriority(t(s, dir, "customer"),
        t(s, dir, "orders"), t(s, dir, "lineitem"))),

    "q5_region_revenue" -> ((s, dir) =>
      Relational.q5RegionRevenue(t(s, dir, "region"), t(s, dir, "nation"),
        t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"))),

    "q_top_suppliers" -> ((s, dir) =>
      Relational.topSuppliers(t(s, dir, "supplier"), t(s, dir, "lineitem"))),

    "q_window_rank" -> ((s, dir) =>
      Relational.topOrdersPerCustomer(t(s, dir, "orders"))),

    "q_rollup" -> ((s, dir) =>
      Relational.rollupQuantities(t(s, dir, "lineitem"))),

    "q_semi_join" -> ((s, dir) =>
      Relational.customersWithBigOrders(t(s, dir, "customer"),
        t(s, dir, "orders"), 400000.0)),

    "q_anti_join" -> ((s, dir) =>
      Relational.customersWithoutOrders(t(s, dir, "customer"),
        t(s, dir, "orders"), 450000.0)),

    "q_order_priority" -> ((s, dir) =>
      Relational.orderPriorityCheck(t(s, dir, "orders"), t(s, dir, "lineitem"))),

    "q_correlated_scalar" -> ((s, dir) =>
      Relational.aboveAverageOrders(t(s, dir, "orders"))),

    "q_set_except" -> ((s, dir) =>
      Relational.segmentExceptBigSpenders(t(s, dir, "customer"),
        t(s, dir, "orders"), 300000.0)),

    "q17_small_quantity" -> ((s, dir) =>
      Relational.q17SmallQuantity(t(s, dir, "part"), t(s, dir, "lineitem"),
        "Brand#1")),

    "q_min_cost_supplier" -> ((s, dir) => {
      // TPC-H Q2 shape: per-part argmin via a struct-min aggregate
      // (map-side partial, deterministic (price, suppkey) tie-break) —
      // no per-part window sort
      val li = t(s, dir, "lineitem")
      val best = li.groupBy(col("l_partkey"))
        .agg(min(struct(col("l_extendedprice").as("p"),
          col("l_suppkey").as("s"))).as("m"))
        .select(col("l_partkey"), col("m.p").as("min_price"),
          col("m.s").as("best_suppkey"))
      best
        .join(t(s, dir, "part").filter(col("p_brand") === "Brand#2"),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"),
          col("best_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"),
          col("min_price"))
        .orderBy(col("p_partkey"))
    }),

    "q13_custdist" -> ((s, dir) => {
      // TPC-H Q13 shape: order-count histogram over a left join
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    "q16_part_suppliers" -> ((s, dir) => {
      // TPC-H Q16 shape: distinct supplier counts per part attribute
      val p = t(s, dir, "part").filter(col("p_brand") =!= "Brand#1")
      p.join(t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    "q22_idle_balances" -> ((s, dir) => {
      // TPC-H Q22 shape: above-average balances with no orders,
      // grouped by nation. DECIMAL-exact average (order-independent).
      val c = t(s, dir, "customer")
      val avgBal = c.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
          count(lit(1)).cast("double")).as("ab"))
      c.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("totacctbal"))
        .orderBy(col("c_nationkey"))
    }),

    "cdc_funnel" -> ((s, dir) => {
      // signup -> purchase conversion per user (event-sequence funnel)
      val ev = t(s, dir, "events")
      val firstSignup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(firstSignup, "user_id")
        .filter(col("ts") >= col("signup_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
      firstSignup.join(conv, Seq("user_id"), "left")
        .select(col("user_id"), Cols.epochUs(col("signup_ts")).as("signup_us"),
          Cols.epochUs(col("purchase_ts")).as("purchase_us"),
          col("purchase_ts").isNotNull.as("converted"),
          (Cols.epochUs(col("purchase_ts")) - Cols.epochUs(col("signup_ts")))
            .as("us_to_convert"))
        .orderBy(col("user_id"))
    }),

    "cdc_retention" -> ((s, dir) => {
      // cohort retention: distinct users active D days after first seen
      val ev = t(s, dir, "events")
      val cohort = ev.groupBy(col("user_id"))
        .agg(date_trunc("DAY", min(col("ts"))).as("cohort_day"))
      ev.join(cohort, "user_id")
        .select(col("user_id"), col("cohort_day"),
          datediff(col("ts").cast("date"), col("cohort_day").cast("date"))
            .cast("long").as("day_offset"))
        .filter(col("day_offset").between(0, 7))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(Cols.epochUs(col("cohort_day")).as("cohort_us"),
          col("day_offset"), col("n_users"))
        .orderBy(col("cohort_us"), col("day_offset"))
    }),

    "profile_lineitem" -> ((s, dir) =>
      graft.operators.Profiler.profile(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))
        .orderBy(col("col_name"))),

    "q_grouping_sets" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
            .as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy(col("rf"), col("ls"))
    }),

    "text_trigram_familiarity" -> ((s, dir) => {
      // one explode pass; corpus frequency via a window count on the
      // trigram key (one shuffle) instead of a freq-table self-join
      // that would recompute the explode subtree twice
      val tg = t(s, dir, "documents").select(col("doc_id"),
        explode(graft.functions.functions.char_ngrams(
          lower(coalesce(col("text"), lit(""))), 3)).as("tg"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("tg"))
      tg.withColumn("freq", count(lit(1)).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_trigrams"),
          (sum(col("freq")).cast("double") / count(lit(1)).cast("double"))
            .as("familiarity"))
        .orderBy(col("doc_id"))
    }),

    "q_percentiles" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
          .as("q"))
        .select(col("l_returnflag"),
          array_join(transform(col("q"), x => round(x, 4).cast("string")), ",")
            .as("quantiles"))
        .orderBy(col("l_returnflag"))),

    "q6_forecast_revenue" -> ((s, dir) =>
      Relational.q6ForecastRevenue(t(s, dir, "lineitem"))),

    "q7_nation_volume" -> ((s, dir) =>
      Relational.q7NationVolume(t(s, dir, "nation"), t(s, dir, "customer"),
        t(s, dir, "supplier"), t(s, dir, "orders"), t(s, dir, "lineitem"))),

    "q8_market_share" -> ((s, dir) =>
      Relational.q8MarketShare(t(s, dir, "region"), t(s, dir, "nation"),
        t(s, dir, "customer"), t(s, dir, "supplier"), t(s, dir, "orders"),
        t(s, dir, "lineitem"))),

    "q9_profit_nation" -> ((s, dir) =>
      Relational.q9ProfitByNation(t(s, dir, "nation"), t(s, dir, "supplier"),
        t(s, dir, "part"), t(s, dir, "orders"), t(s, dir, "lineitem"))),

    "q10_returned_items" -> ((s, dir) =>
      Relational.q10ReturnedItems(t(s, dir, "nation"), t(s, dir, "customer"),
        t(s, dir, "orders"), t(s, dir, "lineitem"))),

    "q14_promo_revenue" -> ((s, dir) =>
      Relational.q14PromoRevenue(t(s, dir, "part"), t(s, dir, "lineitem"))),

    "q18_large_orders" -> ((s, dir) =>
      Relational.q18LargeOrders(t(s, dir, "customer"), t(s, dir, "orders"),
        t(s, dir, "lineitem"))),

    "q19_brand_revenue" -> ((s, dir) =>
      Relational.q19BrandRevenue(t(s, dir, "part"), t(s, dir, "lineitem"))),

    "q_moving_avg" -> ((s, dir) =>
      Relational.movingAvgRevenue(t(s, dir, "lineitem"))),

    "q_pivot" -> ((s, dir) =>
      Relational.pivotQuantities(t(s, dir, "lineitem"))),

    "q11_important_parts" -> ((s, dir) =>
      Relational.importantParts(t(s, dir, "lineitem"))),

    "q20_dominant_suppliers" -> ((s, dir) =>
      Relational.dominantSuppliers(t(s, dir, "lineitem"),
        t(s, dir, "part"), t(s, dir, "supplier"))),

    "q_skew_salted_join" -> ((s, dir) => {
      // the pathological hot-key join shape, via explicit salting:
      // results must equal the plain join (the oracle) exactly
      val dim = t(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      SkewJoin.saltedInnerJoin(t(s, dir, "lineitem"), dim, "l_partkey")
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
          .as("sum_qty"))
        .orderBy(col("p_brand"))
    }),

    "q_skew_two_phase" -> ((s, dir) =>
      SkewJoin.twoPhaseCount(t(s, dir, "lineitem"), "l_suppkey")
        .orderBy(col("l_suppkey"))),

    "q_set_intersect" -> ((s, dir) => {
      // INTERSECT surface: customers present in BOTH priority groups'
      // order streams (partial-distinct each side before the shuffle)
      val o = t(s, dir, "orders")
      o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("key"))
        .intersect(o.filter(col("o_orderpriority") === "5-LOW")
          .select(col("o_custkey").as("key")))
        .orderBy(col("key"))
    }),

    "cdc_table_checksums" -> ((s, dir) =>
      CdcOps.tableChecksums(t(s, dir, "events"))),

    "cdc_health_report" -> ((s, dir) =>
      CdcOps.healthReport(t(s, dir, "events"))),

    // The reference's ENTIRE job as one Catalyst plan, hash-verified:
    // offset-window range scan + table-group filter (S3/R1/R2) →
    // commit-timestamp enrichment via broadcast dim derived from the
    // same window (S4/R9, the N+1 killer) → pipe-line rendering with
    // the enriched commit ts (S5/R3) → per-stream order-independent
    // checksum + freshness watermark (R7/T4) — what lands in chunk
    // files plus the watermark the sampler reads, verifiable
    // end-to-end by the source database.
    "pipeline_cdc_mirror" -> ((s, dir) => {
      val log = ChangeLogSource.rangeScan(t(s, dir, "events"),
        OffsetRange(100, 5000), EventGroups.First)
      val enriched = CdcOps.enrichCommitTs(log, CdcOps.commitTsDim(log))
      enriched.select(col("event_type"),
          col("commit_ts"),
          graft.functions.functions.h60(CdcOps.pipeLine(Seq(
            col("event_id"), Cols.epochUs(col("ts")), col("user_id"),
            col("event_type"), col("value").cast("decimal(18,2)"),
            Cols.epochUs(col("commit_ts"))))).as("h"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          expr("bit_xor(h)").as("checksum"),
          Cols.epochUs(max(col("commit_ts"))).as("watermark_us"))
        .orderBy(col("event_type"))
    }),

    "text_ngram_novelty" -> ((s, dir) =>
      TextOps.ngramNovelty(t(s, dir, "documents"))),

    "text_rare_bigrams" -> ((s, dir) =>
      TextOps.rareBigrams(t(s, dir, "documents"))),

    "text_kn_bigrams" -> ((s, dir) =>
      // KN-smoothed bigram LM ingredients, top-100 bigrams by count
      // (TakeOrderedAndProject — bounded, never a global sort)
      TextOps.knBigramCounts(t(s, dir, "documents"))
        .orderBy(col("c").desc, col("w1"), col("w2")).limit(100)),

    "text_lm_heldout" -> ((s, dir) =>
      // CCNet-style LM scoring (Wenzek et al. 2020): bigram LM on
      // the reference half (h60 split, salt ccnet), held-out docs
      // scored by integer mean surprisal — seen-bigram floor-log2,
      // unigram backoff +4 bits, OOV flat 20. The perplexity-filter
      // stage of a pretraining pipeline, oracle-exact
      graft.operators.TextOps.lmScoreHeldout(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    "pipeline_ccnet_buckets" -> ((s, dir) =>
      // FLAGSHIP (LM filter): lmScoreHeldout → head/middle/tail at
      // published-style ppm cutoffs (CCNet's contract: percentile
      // cutoffs computed offline, passed in) → per-bucket manifest
      graft.operators.TextOps.lmBuckets(
          graft.operators.TextOps.lmScoreHeldout(
            t(s, dir, "documents")),
          headMaxPpm = 4400000L, tailMinPpm = 4470000L)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("total_bigrams"),
          min(col("mean_bits_ppm")).as("min_ppm"),
          max(col("mean_bits_ppm")).as("max_ppm"))
        .orderBy(col("bucket"))),

    "text_bigram_surprisal" -> ((s, dir) =>
      TextOps.bigramSurprisal(t(s, dir, "documents"))),

    "text_pii_scrub" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.piiScrub(col("text")).as("scrubbed"))
        .orderBy(col("doc_id"))),

    "text_zipf_profile" -> ((s, dir) =>
      TextOps.zipfProfile(t(s, dir, "documents"))),

    "text_pmi_collocations" -> ((s, dir) =>
      TextOps.pmiCollocations(t(s, dir, "documents"))),

    "text_source_overlap" -> ((s, dir) =>
      TextOps.sourceOverlap(t(s, dir, "documents"))),

    "text_top_terms" -> ((s, dir) =>
      TextOps.topTerms(t(s, dir, "documents"))),

    "text_diversity" -> ((s, dir) =>
      TextOps.diversity(t(s, dir, "documents"))),

    "text_source_temperature" -> ((s, dir) =>
      TextOps.sourceTemperature(t(s, dir, "documents"))),

    "sim_centroid_outliers" -> ((s, dir) =>
      Similarity.centroidOutliers(t(s, dir, "embeddings"))),

    "sim_semdedup" -> ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), tau = 0.8)),

    "sim_mmr_select" -> ((s, dir) => {
      // diversity-aware retrieval: greedy MMR over a bounded
      // relevance pool, integer sq8 scores, λ = 7/10
      val emb = t(s, dir, "embeddings")
      Similarity.mmrSelect(emb, emb.filter(col("vec_id") < 2), k = 5)
    }),

    "dedup_method_agreement" -> ((s, dir) => {
      // cross-modality dedup audit: does the cheap lexical screen
      // (MinHash-LSH, Jaccard >= 0.1) agree with the semantic screen
      // (SRP-LSH, cosine >= 0.3)? doc_id == vec_id in the fixture.
      // Both pair sets are canonical (a < b), so the full-outer join
      // on the pair key partitions them into both/text_only/emb_only
      // — the 3-row report a curator reads before choosing which
      // screen (or both) a 100 TB run pays for. Each side is its
      // operator's own single-shuffle plan; the join key is the
      // 16-byte pair id.
      val tp = Dedup.nearDuplicatePairs(t(s, dir, "documents"),
          threshold = 0.1)
        .select(col("doc_a"), col("doc_b"), lit(1).as("m_text"))
      val ep = Similarity.lshNearDupPairs(t(s, dir, "embeddings"), 0.3)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
          lit(1).as("m_emb"))
      tp.join(ep, Seq("doc_a", "doc_b"), "full_outer")
        .select(when(col("m_text").isNotNull && col("m_emb").isNotNull,
            "both")
          .when(col("m_text").isNotNull, "text_only")
          .otherwise("emb_only").as("method"))
        .groupBy(col("method")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("method"))
    }),

    "text_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(t(s, dir, "documents"),
        Seq("spark", "vector", "window", "customer"))),

    "cdc_transition_matrix" -> ((s, dir) =>
      CdcOps.transitionMatrix(t(s, dir, "events"))),

    // ---- dedup (training-data pipeline operators) ----
    "dedup_exact_groups" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents")).orderBy(col("content_key"))),

    "dedup_exact_survivors" -> ((s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"))
        .select(col("doc_id")).orderBy(col("doc_id"))),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.1)
        .orderBy(col("doc_a"), col("doc_b"))),

    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.nearDuplicatePairs(t(s, dir, "documents"), threshold = 0.1)
        .orderBy(col("doc_a"), col("doc_b"))),

    // threshold-sensitivity sweep: Jaccard histogram of ALL candidate
    // pairs in 1/20 bins + cumulative pairs at-or-above each bin —
    // the plot that picks the production dedup threshold
    "dedup_threshold_sweep" -> ((s, dir) =>
      Dedup.jaccardThresholdSweep(t(s, dir, "documents"))),

    // sketch-accuracy audit: MinHash signature-agreement estimate vs
    // exact Jaccard per LSH-candidate pair (the similarity member of
    // the HLL/AMS/MinHash audit trilogy)
    "dedup_minhash_accuracy" -> ((s, dir) =>
      Dedup.minhashAccuracy(t(s, dir, "documents"))),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashFp(t(s, dir, "documents")).orderBy(col("doc_id"))),

    // batch-vs-corpus A×B screen (doc_id % 10 == 0 plays the arriving
    // batch; the rest is the standing corpus) — the continuous-ingest
    // shape that never re-pairs the corpus with itself
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalNearDups(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        threshold = 0.1)
    }),

    "dedup_components" -> ((s, dir) =>
      Dedup.nearDupComponents(
          Dedup.nearDuplicatePairs(t(s, dir, "documents"), threshold = 0.1))
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))),

    "dedup_components_star" -> ((s, dir) =>
      // same component contract as dedup_components, computed by
      // O(log n) large-star/small-star contraction instead of
      // O(diameter) label propagation — the 100 TB path, gated by the
      // same recursive-CTE oracle
      Dedup.starContractComponents(
          Dedup.nearDuplicatePairs(t(s, dir, "documents"), threshold = 0.1))
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))),

    // component-level train/val assignment: near-copies can never
    // straddle the split (eval-contamination guard)
    "dedup_leakage_split" -> ((s, dir) =>
      Dedup.leakageSafeSplit(t(s, dir, "documents"), threshold = 0.1,
          valPct = 10)
        .orderBy(col("doc_id"))),

    "graph_dup_triangles" -> ((s, dir) =>
      // local clustering audit of the near-dup graph: triangles mark
      // genuine content clusters, triangle-free hubs mark LSH artifacts
      Graph.triangleStats(
          Dedup.nearDuplicatePairs(t(s, dir, "documents"), threshold = 0.1)
            .select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .withColumnRenamed("node", "doc_id")
        .orderBy(col("doc_id"))),

    "graph_dup_degrees" -> ((s, dir) =>
      // octave degree distribution of the near-dup graph — the
      // health plot: heavy high octaves = boilerplate hubs / LSH
      // under-banding (the df² precursor the dedup caps guard)
      Graph.degreeProfile(
        Dedup.nearDuplicatePairs(t(s, dir, "documents"), threshold = 0.1)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))),

    "dedup_neardup_survivors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // components via star contraction — the O(log n) production
      // path (same fixpoint as label propagation, property-proven;
      // 9x faster at the 20x ScaleCheck). Label-prop stays gated
      // under dedup_components for the algorithm-equality proof.
      Dedup.nearDupSurvivors(
        Dedup.starContractComponents(
            Dedup.nearDuplicatePairs(docs, threshold = 0.1))
          .select(col("id").as("doc_id"), col("component")),
        docs)
    }),

    "text_contamination" -> ((s, dir) =>
      TextOps.contamination(t(s, dir, "documents"))),

    "text_contamination_fuzzy" -> ((s, dir) =>
      // edit-tolerant decontamination: normalized-alnum shingle
      // candidates + edit-budget / prefix-Levenshtein verify, so a
      // 1-edit near-verbatim benchmark line is still caught
      // (r7 verdict item 8)
      TextOps.contaminationFuzzy(t(s, dir, "documents"))),

    // The flagship composition: the whole curation pipeline as ONE
    // declarative plan — exact dedup -> near-dup survivor selection ->
    // quality gate -> deterministic shard manifest. Every stage is the
    // operator verified on its own above; Catalyst fuses and plans the
    // composition (this is the point of a library of DataFrame
    // transforms over a zoo of scripts).
    "pipeline_training_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val exact = Dedup.exactDedup(docs)
      val comps = Dedup.nearDupComponents(
          Dedup.nearDuplicatePairs(exact, threshold = 0.1))
        .select(col("id").as("doc_id"), col("component"))
      val survivors = Dedup.nearDupSurvivors(comps, exact)
        .select(col("survivor_id"))
      val dropped = comps.join(survivors,
          comps("doc_id") === survivors("survivor_id"), "left_anti")
        .select(col("doc_id"))
      val kept = exact.join(dropped, Seq("doc_id"), "left_anti")
      val gated = kept.join(
        TextOps.qualityScore(kept).filter(col("quality") >= 0.5)
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
      TextOps.shardAssign(gated)
    }),

    // Round-6 capstone: the curation pipeline with the new guards —
    // per-source domain cap -> leakage-safe component split (train
    // side) -> deterministic shard manifest. Each stage is the
    // operator verified on its own above; the composition is what a
    // real pretraining-data run executes.
    "pipeline_curation_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val capped = docs.join(
        TextOps.domainCap(docs, perSource = 50).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val train = capped.join(
        Dedup.leakageSafeSplit(capped, threshold = 0.1, valPct = 10)
          .filter(col("split") === "train").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      TextOps.shardAssign(train)
    }),

    "pipeline_distilled_corpus" -> ((s, dir) =>
      // the one-query corpus build: learned filter (NB over the whole
      // corpus) -> per-source temperature token budgets -> deterministic
      // hash selection -> shard manifest. The 10k budget BINDS at the
      // gate SFs (sf0.01 holds ~27k tokens), so the hash gate
      // exercises real sampling, not the rate=1 fast path
      TextOps.distilledCorpus(t(s, dir, "documents"), tokenBudget = 10000L)),

    "text_shard_assign" -> ((s, dir) =>
      TextOps.shardAssign(t(s, dir, "documents"))),

    // concat-and-chunk sequence-packing plan: per doc its shard, pack
    // position, token offsets and [first_seq, last_seq] under a fixed
    // 512-token sequence budget — the training-layout step; text
    // never moves, one keyed window per shard
    "text_pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(t(s, dir, "documents"))),

    "sim_knn_label_agreement" -> ((s, dir) =>
      Similarity.knnLabelAgreement(t(s, dir, "embeddings"))),

    "text_vocab_topn" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextOps.bpeishTokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(50)),

    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), minShared = 8)
        .orderBy(col("doc_a"), col("doc_b"))),

    "text_clean" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.cleaned(col("text")).as("c"))
        .select(col("doc_id"),
          length(col("c")).cast("long").as("n_chars_clean"),
          md5(col("c")).as("clean_fp"))
        .orderBy(col("doc_id"))),

    "text_pii_flags" -> ((s, dir) =>
      TextOps.piiFlags(t(s, dir, "documents")).orderBy(col("doc_id"))),

    "text_html_extract" -> ((s, dir) =>
      // the stage UPSTREAM of text_clean: crawl HTML -> text. Narrow
      // map (regex chain + literal entity decode), zero shuffle.
      synthHtml(t(s, dir, "documents"))
        .select(col("doc_id"), col("html"),
          TextOps.htmlToText(col("html")).as("txt"))
        .select(col("doc_id"),
          TextOps.htmlLinkCount(col("html")).as("n_links"),
          length(col("html")).cast("long").as("n_chars_html"),
          length(col("txt")).cast("long").as("n_chars_text"),
          md5(col("txt")).as("text_fp"))
        .orderBy(col("doc_id"))),

    "text_html_meta" -> ((s, dir) =>
      // head-metadata extraction: title, robots directives (the
      // noindex compliance signal), rel=canonical (the publisher's
      // declared identity — dedup on THIS when present). Narrow map.
      synthMetaHtml(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextOps.htmlTitle(col("html")).as("title"),
          TextOps.htmlMetaRobots(col("html")).as("robots"),
          TextOps.htmlCanonicalHref(col("html")).as("canonical_href"))
        .withColumn("indexable", !col("robots").contains("noindex"))
        .orderBy(col("doc_id"))),

    "text_url_normalize" -> ((s, dir) =>
      synthUrl(t(s, dir, "documents"))
        .select(col("doc_id"), col("url"),
          TextOps.urlCanonical(col("url")).as("canon_url"))
        .orderBy(col("doc_id"))),

    "text_line_dedup" -> ((s, dir) =>
      // C4/RefinedWeb cross-doc line dedup: corpus-keyed boilerplate
      // removal (df > maxDf drops all occurrences; short lines exempt)
      TextOps.lineDedup(synthMultiline(t(s, dir, "documents")))
        .select(col("doc_id"), col("n_lines_kept"),
          col("n_lines_dropped"),
          length(col("clean_text")).cast("long").as("n_chars_clean"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))),

    "text_line_quality" -> ((s, dir) => {
      // C4 line rules (terminal punctuation + >=5 words + no
      // "javascript"), doc-local — the screen BEFORE cross-doc line
      // dedup; page flags (curly braces, lorem ipsum) injected on
      // doc_id%5 / %7 so both legs sit on the gated path
      val docsM = synthMultiline(t(s, dir, "documents"))
        .withColumn("text", concat(col("text"),
          when(pmod(col("doc_id"), lit(5L)) === 0,
            lit("\nfunction() { var x = 1; }")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7L)) === 0,
            lit("\nLorem ipsum dolor sit amet consectetur."))
            .otherwise(lit(""))))
      TextOps.lineQuality(docsM)
        .select(col("doc_id"), col("n_lines_kept"),
          col("n_lines_dropped"), col("has_curly"), col("has_lorem"),
          length(col("clean_text")).cast("long").as("n_chars_clean"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))
    }),

    "pipeline_crawl_manifest" -> ((s, dir) => {
      // FLAGSHIP (crawl): the batch crawl-curation pipeline as ONE
      // plan — URL-canonical dedup (min-id survivor per key) → HTML →
      // block lines → cross-doc line dedup (boilerplate drop) →
      // quality gate → deterministic shard manifest. Every stage is
      // the registered operator, composed.
      val docs = t(s, dir, "documents")
      val surv = synthUrl(docs)
        .groupBy(TextOps.urlCanonical(col("url")).as("canon_url"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val pages = synthCrawlHtml(docs).join(surv, Seq("doc_id"), "left_semi")
      val lines = pages.select(col("doc_id"),
        TextOps.htmlToLines(col("html")).as("text"))
      val gated = TextOps.lineDedup(lines)
        .filter(col("n_lines_kept") >= 2 &&
          length(col("clean_text")) >= 20)
        .select(col("doc_id"),
          length(col("clean_text")).cast("long").as("n_chars_clean"),
          md5(col("clean_text")).as("clean_fp"))
      TextOps.shardAssign(gated, carry = Seq("n_chars_clean", "clean_fp"))
    }),

    "dedup_url_canonical" -> ((s, dir) =>
      // crawl-level exact dedup: canonicalize (narrow map), then ONE
      // hash-groupBy on the canonical key — the cheapest dedup a
      // pipeline runs before any content hashing touches payloads
      synthUrl(t(s, dir, "documents"))
        .groupBy(TextOps.urlCanonical(col("url")).as("canon_url"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("survivor_id"))
        .filter(col("n_docs") > 1)
        .orderBy(col("canon_url"))),

    "dedup_canonical_identity" -> ((s, dir) => {
      // crawl dedup on the PUBLISHER'S declared identity: pages
      // carrying rel=canonical group on that target (normalized),
      // pages without one group on their fetched URL's canonical key
      // — one hash-groupBy, the cheapest dedup shape, now keyed the
      // way production crawl pipelines actually key it
      val docs = t(s, dir, "documents")
      val pages = synthMetaHtml(docs).join(synthUrl(docs), Seq("doc_id"))
      pages
        .groupBy(TextOps.canonicalIdentity(col("url"), col("html"))
          .as("identity_key"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("survivor_id"),
          sum(when(nullif(TextOps.htmlCanonicalHref(col("html")),
            lit("")).isNotNull, 1L).otherwise(0L)).as("n_declared"))
        .filter(col("n_docs") > 1)
        .orderBy(col("identity_key"))
    }),

    "crawl_robots_sitemaps" -> ((s, dir) =>
      // Sitemap pointers: group-independent robots metadata (they may
      // appear anywhere in the file) — the frontier's seed list
      graft.operators.Robots.robotsSitemaps(
          synthRobots(t(s, dir, "documents")))
        .orderBy(col("host"), col("ln"))),

    "crawl_sitemap_entries" -> ((s, dir) =>
      // parse fetched sitemap documents into seed rows: one per <url>
      // block, loc entity-decoded and trimmed, lastmod optional —
      // pure narrow map between the robots pointers and the frontier
      graft.operators.Robots.sitemapEntries(
          synthSitemapXml(t(s, dir, "documents")))
        .select(col("doc_id"), col("pos"), col("loc"), col("lastmod"))
        .orderBy(col("doc_id"), col("pos"))),

    "crawl_sitemap_index" -> ((s, dir) =>
      // parse <sitemapindex> documents — the POINTER form large sites
      // serve at the robots pointer (r12 verdict item 2): one row per
      // <sitemap> block, child_url entity-decoded and trimmed,
      // lastmod optional. Pure narrow map, scan-bound
      graft.operators.Robots.sitemapIndexEntries(
          synthSitemapIndexXml(t(s, dir, "documents")))
        .select(col("doc_id"), col("pos"), col("child_url"),
          col("lastmod"))
        .orderBy(col("doc_id"), col("pos"))),

    "crawl_sitemap_resolve" -> ((s, dir) => {
      // the full discovery recursion, CLOSED BY A JOIN (no iteration
      // in the engine): a MIXED level-0 store — small sites (doc_id%3
      // == 2) point robots straight at a urlset, the rest serve an
      // index — branches on sitemapKind in one sitemapParse pass;
      // index pointers then equi-join the child-document store and the
      // leaves parse in a second narrow map. Output: every seed URL
      // with the depth it was discovered at. Each level is scan +
      // one equi-join — the shape that stays linear on a
      // million-sitemap host
      val docs = t(s, dir, "documents")
      val h = pmod(col("doc_id"), lit(20L)).cast("string")
      val direct = docs.filter(pmod(col("doc_id"), lit(3L)) === 2)
        .select(col("doc_id"), concat(
          lit("<urlset>\n<url>\n  <loc> https://site"), h,
          lit(".com/solo/"), col("doc_id").cast("string"),
          lit("?x=1&amp;y=2 </loc>\n</url>\n</urlset>")).as("xml"))
      val store0 = direct.unionByName(
        synthSitemapIndexXml(docs.filter(pmod(col("doc_id"), lit(3L)) =!= 2)))
      val parsed0 = graft.operators.Robots.sitemapParse(store0)
      val seeds0 = parsed0.filter(col("is_seed"))
        .select(col("doc_id"), lit(0L).as("depth"),
          col("loc").as("seed_url"), col("lastmod"))
      val pointers = parsed0.filter(!col("is_seed"))
        .select(col("doc_id"), col("loc").as("sm_url"))
      // the child store: one leaf urlset per pointer target, keyed by
      // the DECODED pointer URL (what a fetcher would request)
      val hl = pmod(col("ldoc"), lit(20L)).cast("string")
      val leaves = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 2)
        .select(col("doc_id").as("ldoc"),
          explode(array(lit(0L), lit(1L))).as("j"))
        .select(
          concat(lit("https://site"), hl, lit(".com/sm/"),
            col("ldoc").cast("string"), lit("/"), col("j").cast("string"),
            lit(".xml?p=1&q=2")).as("url"),
          concat(lit("<urlset>\n<url>\n  <loc>https://site"), hl,
            lit(".com/p/"), col("ldoc").cast("string"), lit("/"),
            col("j").cast("string"), lit("?a=1&amp;b=2</loc>"),
            when(pmod(col("ldoc") + col("j"), lit(2L)) === 0,
              lit("\n  <lastmod>2026-05-05</lastmod>"))
              .otherwise(lit("")),
            lit("\n</url>\n</urlset>")).as("xml"))
      val seeds1 = graft.operators.Robots.sitemapEntries(
          pointers.join(leaves, pointers("sm_url") === leaves("url")))
        .select(col("doc_id"), lit(1L).as("depth"),
          col("loc").as("seed_url"), col("lastmod"))
      seeds0.unionByName(seeds1)
        .orderBy(col("doc_id"), col("depth"), col("seed_url"))
    }),

    "crawl_decode_bytes" -> ((s, dir) => {
      // the byte-level ingest edge, oracle-gated analytically: six
      // payload variants (plain/BOM UTF-8, declared Latin-1, meta-
      // sniffed Latin-1, garbage, UTF-16-with-BOM) synthesized from
      // the documents table; the oracle knows what each must decode
      // back to. Pure payload-local map — zero shuffle
      val docs = t(s, dir, "documents")
      val v = pmod(col("doc_id"), lit(6L))
      val utf8 = encode(coalesce(col("text"), lit("")), "UTF-8")
      val payload = when(v === 0, utf8)
        .when(v === 1,
          concat(lit(Array(0xEF, 0xBB, 0xBF).map(_.toByte)), utf8))
        .when(v === 2, encode(concat(lit("café résumé #"),
          col("doc_id").cast("string")), "ISO-8859-1"))
        .when(v === 3, encode(
          concat(lit("<meta charset=\"iso-8859-1\">café #"),
            col("doc_id").cast("string")), "ISO-8859-1"))
        .when(v === 4, lit(Array(0xC3, 0x28).map(_.toByte)))
        .otherwise(encode(coalesce(col("text"), lit("")), "UTF-16"))
      val declared = when(v === 2, lit("ISO-8859-1"))
        .otherwise(lit(null).cast("string"))
      val rows = docs.select(col("doc_id").as("id"),
          payload.as("payload"), declared.as("declared"))
        .as(org.apache.spark.sql.Encoders
          .product[graft.operators.HtmlBytes.HtmlBytesRow])
      graft.operators.HtmlBytes.decodeHtmlBytes(rows).toDF()
        .select(col("id").as("doc_id"), col("ok"), col("charset"),
          col("charset_source"),
          length(col("html")).cast("long").as("n_chars"),
          md5(col("html")).as("html_fp"))
        .orderBy(col("doc_id"))
    }),

    "crawl_schedule" -> ((s, dir) => {
      // the discovery loop CLOSED (r12 verdict item 4): sitemap
      // lastmod + robots crawl-delay + a 50-fetch host budget → a
      // deterministic per-URL fetch plan. Agent "newsbot" selects the
      // STAR groups, so variant-0 hosts carry their Crawl-delay 2 and
      // the rest floor at minGapSec — all-integer lattice math.
      // StreamingHostPacer consumes this plan admit-clean (spec)
      val docs = t(s, dir, "documents")
      val seeds = graft.operators.Robots.sitemapEntries(
          synthSitemapXml(docs))
        .select(col("loc"), col("lastmod"))
      val idx = graft.operators.Robots.robotsHostIndex(
        graft.operators.Robots.robotsRules(synthRobots(docs)), "newsbot")
      graft.operators.Robots.fetchSchedule(seeds, idx,
          budgetPerCycle = 50)
        .select(col("host"), col("loc").as("url"), col("lastmod"),
          col("gap_sec"), col("rank").as("seq"), col("cycle"),
          col("fetch_offset_sec"))
        .orderBy(col("host"), col("seq"))
    }),

    "crawl_redirects" -> ((s, dir) => {
      // HTTP redirect-chain resolution WITH RFC 3986 Location
      // resolution on the gated path (r13 verdict item 3): terminal
      // 200; one-hop PROTOCOL-RELATIVE 301; RELATIVE dot-segment
      // target chaining into a second hop; self-loop via a
      // ROOT-RELATIVE target; dangling via a structurally
      // unfetchable /ghost/ path (r13 ADVICE: an id-offset target
      // would exist at a large enough SF and silently diverge).
      // Bounded keyed joins — no recursion, no driver loop over rows
      val docs = t(s, dir, "documents")
      val v = pmod(col("doc_id"), lit(5L))
      val fetches = docs.select(
        concat(lit("https://r"), pmod(col("doc_id"), lit(7L))
          .cast("string"), lit(".example/u/"),
          col("doc_id").cast("string")).as("url"),
        when(v === 0, lit(200)).when(v === 3, lit(302))
          .otherwise(lit(301)).as("status"),
        when(v === 1, concat(lit("//r"),
            pmod(col("doc_id") - 1, lit(7L)).cast("string"),
            lit(".example/u/"), (col("doc_id") - 1).cast("string")))
          .when(v === 2, concat(lit("x/../../u/"),
            (col("doc_id") - 21).cast("string")))
          .when(v === 3, concat(lit("/u/"), col("doc_id").cast("string")))
          .when(v === 4, concat(lit("/ghost/"),
            col("doc_id").cast("string")))
          .otherwise(lit(null).cast("string")).as("location"))
      graft.operators.Robots.resolveRedirects(fetches)
        .select(col("url"), col("final_url"), col("n_hops"),
          col("final_status"), col("outcome"))
        .orderBy(col("url"))
    }),

    "crawl_retry_policy" -> ((s, dir) => {
      // the fetch loop's LAST leg: status → ok/redirect/retry/drop
      // with Retry-After honored over the capped exponential backoff
      // (base 10 s, cap 300 s, 3 attempts). Eight status classes ×
      // four attempt values, all-integer — pure narrow map
      val docs = t(s, dir, "documents")
      val v = pmod(col("doc_id"), lit(8L))
      val fetches = docs.select(col("doc_id"),
        when(v === 0, lit(200)).when(v === 1, lit(301))
          .when(v === 2, lit(404)).when(v === 3, lit(410))
          .when(v === 4, lit(429)).when(v === 5, lit(429))
          .when(v === 6, lit(503)).otherwise(lit(500)).as("status"),
        pmod(col("doc_id"), lit(4L)).as("attempt"),
        when(v === 4, pmod(col("doc_id"), lit(60L)))
          .otherwise(lit(null).cast("long")).as("retry_after"))
      graft.operators.Robots.retryPolicy(fetches)
        .select(col("doc_id"), col("status"), col("attempt"),
          col("action"), col("next_fetch_sec"))
        .orderBy(col("doc_id"))
    }),

    "crawl_mime_sniff" -> ((s, dir) => {
      // the binary ROUTER at the ingest edge: nine payload classes by
      // magic number (image/container/compressed/markup/unknown),
      // classified by a pure Column expression inside the scan — no
      // UDF pass, no shuffle. Oracle: analytic (the synth decides the
      // class; the engine must read it back off the bytes)
      val docs = t(s, dir, "documents")
      val txt = encode(coalesce(col("text"), lit("")), "UTF-8")
      def magic(bs: Int*) = lit(bs.map(_.toByte).toArray)
      val v = pmod(col("doc_id"), lit(9L))
      val payload = when(v === 0, concat(magic(0xFF, 0xD8, 0xFF), txt))
        .when(v === 1, concat(
          magic(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A), txt))
        .when(v === 2, concat(encode(lit("%PDF-1.7\n"), "UTF-8"), txt))
        .when(v === 3, concat(magic(0x1F, 0x8B, 0x08), txt))
        .when(v === 4, concat(encode(lit("GIF89a"), "UTF-8"), txt))
        .when(v === 5, concat(magic(0x50, 0x4B, 0x03, 0x04), txt))
        .when(v === 6, concat(
          magic(0x00, 0x00, 0x00, 0x18, 0x66, 0x74, 0x79, 0x70), txt))
        .when(v === 7, concat(encode(lit(" \t\n<html><p>"), "UTF-8"), txt))
        .otherwise(concat(encode(lit("z"), "UTF-8"), txt))
      docs.select(col("doc_id"),
          graft.operators.HtmlBytes.mimeSniff(payload).as("mime"))
        .orderBy(col("doc_id"))
    }),

    "crawl_sitemap_gz" -> ((s, dir) => {
      // sitemaps arrive as BYTES, and `.xml.gz` is the common wire
      // form (sitemaps.org allows gzip): even docs gzip their urlset
      // payload (every doc ≡4 mod 18 truncated — transport
      // corruption), odd docs stay plain. decodeHtmlBytes inflates
      // before the charset ladder; good docs parse to seed entries,
      // corrupt ones surface as ONE flagged row each
      val docs = t(s, dir, "documents")
      val enc4 = org.apache.spark.sql.Encoders
        .product[(Long, Array[Byte], Boolean, Boolean)]
      val rows = synthSitemapXml(docs)
        .select(col("doc_id"), encode(col("xml"), "UTF-8").as("b"),
          (pmod(col("doc_id"), lit(2L)) === 0).as("gz"),
          (pmod(col("doc_id"), lit(18L)) === 4).as("corrupt"))
        .as(enc4)
        .mapPartitions { it =>
          def gzip(b: Array[Byte]): Array[Byte] = {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(b); g.close(); bos.toByteArray
          }
          it.map { case (id, b, gz, corrupt) =>
            val p = if (!gz) b
                    else if (corrupt) gzip(b).dropRight(5) else gzip(b)
            graft.operators.HtmlBytes.HtmlBytesRow(id, p, null)
          }
        }(org.apache.spark.sql.Encoders
          .product[graft.operators.HtmlBytes.HtmlBytesRow])
      val decoded = graft.operators.HtmlBytes.decodeHtmlBytes(rows).toDF()
      val good = graft.operators.Robots.sitemapEntries(
          decoded.filter(col("ok"))
            .select(col("id").as("doc_id"), col("html")),
          xmlCol = "html")
        .select(col("doc_id"), lit(true).as("ok"), col("pos"),
          col("loc"), col("lastmod"))
      val bad = decoded.filter(!col("ok"))
        .select(col("id").as("doc_id"), lit(false).as("ok"),
          lit(-1L).as("pos"), lit("").as("loc"), lit("").as("lastmod"))
      good.unionByName(bad).orderBy(col("doc_id"), col("pos"))
    }),

    "pipeline_recrawl_manifest" -> ((s, dir) => {
      // FLAGSHIP (recrawl): the r13 discovery family composed as ONE
      // plan — sitemap urlset parse (seeds + lastmod) → robots admit
      // under agent "newsbot" (variant-1 hosts' star group is
      // deny-all: a QUARTER of the hosts drop at the politeness
      // screen) → per-host fetch schedule (freshest-first, crawl-delay
      // gap, 50-fetch budget cycles) → per-(host, cycle) manifest.
      // Every number integer, every stage the registered operator;
      // the oracle derives the whole thing analytically
      val docs = t(s, dir, "documents")
      val seeds = graft.operators.Robots.sitemapEntries(
          synthSitemapXml(docs))
        .select(col("loc"), col("lastmod"))
      val idx = graft.operators.Robots.robotsHostIndex(
        graft.operators.Robots.robotsRules(synthRobots(docs)), "newsbot")
      val admitted = graft.operators.Robots
        .robotsAllowed(seeds, idx, urlCol = "loc")
        .filter(col("allowed")).select(col("loc"), col("lastmod"))
      graft.operators.Robots.fetchSchedule(admitted, idx,
          budgetPerCycle = 50)
        .groupBy(col("host"), col("cycle"))
        .agg(count(lit(1)).as("n_urls"),
          min(col("fetch_offset_sec")).as("first_fetch_sec"),
          max(col("fetch_offset_sec")).as("last_fetch_sec"),
          max(col("gap_sec")).as("gap_sec"))
        .orderBy(col("host"), col("cycle"))
    }),

    "pipeline_archive_manifest" -> ((s, dir) => {
      // FLAGSHIP (storage): the archive WRITE path as one plan —
      // every capture rendered as a WARC response record, sprayed
      // across 8 parallel writers by h60(url) (one host's pages
      // spread evenly), each writer rolling 64 KiB segments
      // (Archive.packSegments: a record never splits) → per-segment
      // manifest. The shape a 100 TB archive writer runs: narrow
      // render, ONE window per writer, one groupBy
      val rendered = cdxRendered(s, dir).withColumn("writer",
        pmod(graft.functions.functions.h60(col("url")), lit(8L)))
      graft.operators.Archive
        .packSegments(rendered, targetBytes = 64L * 1024)
        .groupBy(col("writer"), col("seg_id"))
        .agg(count(lit(1)).as("n_records"),
          sum(col("length")).as("seg_bytes"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("writer"), col("seg_id"))
    }),

    "crawl_warc_records" -> ((s, dir) => {
      // WARC record boundaries (r12 verdict item 3), oracle-gated
      // analytically: each doc becomes a two-record WARC file — a
      // response (fixed HTTP header + the doc text as body) and a
      // metadata record — with every 7th file's second record
      // declaring a Content-Length that overruns the file, so the
      // quarantine leg is ON the gated path. Pure payload-local map
      val docs = t(s, dir, "documents")
      val h = pmod(col("doc_id"), lit(20L)).cast("string")
      val httpHdr = "HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=utf-8\r\n\r\n"
      val block0 = concat(lit(httpHdr), coalesce(col("text"), lit("")))
      val len0 = length(encode(block0, "UTF-8")) // octets, not chars
      val block1 = concat(lit("fetch-ms "),
        pmod(col("doc_id"), lit(997L)).cast("string"))
      val badLen1 = when(pmod(col("doc_id"), lit(7L)) === 3,
        length(block1) + 9).otherwise(length(block1))
      val warc = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: https://site"), h, lit(".com/p/"),
        col("doc_id").cast("string"),
        lit("\r\nWARC-Date: 2026-06-01T00:00:00Z\r\nContent-Length: "),
        len0.cast("string"), lit("\r\n\r\n"), block0, lit("\r\n\r\n"),
        lit("WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: "),
        badLen1.cast("string"), lit("\r\n\r\n"), block1, lit("\r\n\r\n"))
      val files = docs.select(col("doc_id").as("id"),
          encode(warc, "UTF-8").as("payload"))
        .as(org.apache.spark.sql.Encoders
          .product[graft.operators.Warc.WarcFileRow])
      graft.operators.Warc.warcRecords(files).toDF()
        .select(col("id").as("doc_id"),
          col("rec_ord").cast("long").as("rec_ord"), col("ok"),
          col("warc_type"), col("target_uri"), col("content_length"),
          length(col("block")).cast("long").as("block_len"),
          md5(col("block")).as("block_fp"))
        .orderBy(col("doc_id"), col("rec_ord"))
    }),

    "crawl_warc_gz" -> ((s, dir) => {
      // the Common Crawl wire shape: `.warc.gz` payloads — even docs
      // as ONE gzip member over the whole file, odd docs as one
      // member PER RECORD concatenated (the range-readable layout);
      // every 7th file's gzip stream is trailer-truncated: the
      // STREAMING parser (r13 verdict item 1) keeps both records (the
      // deflate data is intact) and flags ONE row at the flaw — a bad
      // file costs its tail, never its head, and never a whole-file
      // materialization. The parse downstream is byte-identical to
      // crawl_warc_records' plain path. NOTE (r13 verdict item 8):
      // this query's bench wall is dominated by the per-doc
      // GZIPOutputStream FIXTURE below, not the operator
      graft.operators.Warc.warcRecords(warcGzFiles(s, dir)).toDF()
        .select(col("id").as("doc_id"),
          col("rec_ord").cast("long").as("rec_ord"), col("ok"),
          col("warc_type"), col("target_uri"), col("content_length"),
          length(col("block")).cast("long").as("block_len"),
          md5(col("block")).as("block_fp"))
        .orderBy(col("doc_id"), col("rec_ord"))
    }),

    "crawl_warc_http" -> ((s, dir) => {
      // the full WARC → HTTP split → charset-sniff handoff in ONE
      // plan: response bodies arrive UTF-8-declared, Latin-1-declared
      // (bytes that are NOT valid UTF-8 — the declared charset must
      // actually be honored), or corrupt (declared utf-8, garbage
      // bytes — decodeHtmlBytes quarantines). Binary-concat file
      // construction because a Latin-1 body cannot ride inside a
      // UTF-8-encoded whole-file string
      val docs = t(s, dir, "documents")
      val v = pmod(col("doc_id"), lit(3L))
      val body = when(v === 0,
          encode(coalesce(col("text"), lit("")), "UTF-8"))
        .when(v === 1, encode(concat(lit("café résumé #"),
          col("doc_id").cast("string")), "ISO-8859-1"))
        .otherwise(lit(Array(0xC3, 0x28).map(_.toByte)))
      val cs = when(v === 1, lit("ISO-8859-1")).otherwise(lit("utf-8"))
      val http = concat(
        encode(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="),
          "UTF-8"),
        encode(cs, "UTF-8"), encode(lit("\r\n\r\n"), "UTF-8"), body)
      val warc = concat(
        encode(concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
            "WARC-Target-URI: https://site"),
          pmod(col("doc_id"), lit(20L)).cast("string"), lit(".com/w/"),
          col("doc_id").cast("string"), lit("\r\nContent-Length: "),
          length(http).cast("string"), lit("\r\n\r\n")), "UTF-8"),
        http, encode(lit("\r\n\r\n"), "UTF-8"))
      val files = docs.select(col("doc_id").as("id"),
          warc.as("payload"))
        .as(org.apache.spark.sql.Encoders
          .product[graft.operators.Warc.WarcFileRow])
      val resp = graft.operators.Warc.httpResponses(
        graft.operators.Warc.warcRecords(files)).toDF()
      val decoded = graft.operators.HtmlBytes.decodeHtmlBytes(
        resp.select(col("id"), col("body").as("payload"),
            col("declared_charset").as("declared"))
          .as(org.apache.spark.sql.Encoders
            .product[graft.operators.HtmlBytes.HtmlBytesRow])).toDF()
      resp.select(col("id").as("doc_id"), col("status"),
          col("content_type"), col("declared_charset"))
        .join(decoded.select(col("id").as("doc_id"), col("ok"),
          col("charset"), length(col("html")).cast("long").as("n_chars"),
          md5(col("html")).as("text_fp")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),

    "crawl_warc_chunked" -> ((s, dir) => {
      // Transfer-Encoding: chunked bodies (r13 verdict item 2): WARC
      // response captures preserve the wire framing verbatim, so the
      // HTTP split must dechunk (RFC 9112 §7.1) BEFORE the charset
      // handoff — size lines left in the bytes would poison text
      // extraction. Three legs: UTF-8 two-chunk, Latin-1 two-chunk
      // (the decode ladder must fire on DECHUNKED bytes), corrupt
      // size line (quarantines at the split, status kept for triage)
      val docs = t(s, dir, "documents")
      val v = pmod(col("doc_id"), lit(3L))
      def asc(c: org.apache.spark.sql.Column) = encode(c, "UTF-8")
      val body = when(v === 0,
          encode(coalesce(col("text"), lit("")), "UTF-8"))
        .otherwise(encode(concat(lit("café résumé #"),
          col("doc_id").cast("string")), "ISO-8859-1"))
      val c1 = substring(body, 1, 10)
      val c2 = substring(body, 11, 1 << 24)
      val framed = concat(
        asc(concat(conv(length(c1).cast("string"), 10, 16),
          lit(";ext=x\r\n"))), c1,
        asc(concat(lit("\r\n"),
          conv(length(c2).cast("string"), 10, 16), lit("\r\n"))), c2,
        asc(lit("\r\n0\r\nX-Trailer: t\r\n\r\n")))
      val chunked = when(v === 2, asc(lit("ZZ\r\njunk"))).otherwise(framed)
      val cs = when(v === 1, lit("ISO-8859-1")).otherwise(lit("utf-8"))
      val http = concat(
        asc(concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="),
          cs, lit("\r\nTransfer-Encoding: chunked\r\n\r\n"))), chunked)
      val warc = concat(
        asc(concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
            "WARC-Target-URI: https://site"),
          pmod(col("doc_id"), lit(20L)).cast("string"), lit(".com/ch/"),
          col("doc_id").cast("string"), lit("\r\nContent-Length: "),
          length(http).cast("string"), lit("\r\n\r\n"))),
        http, asc(lit("\r\n\r\n")))
      val files = docs.select(col("doc_id").as("id"), warc.as("payload"))
        .as(org.apache.spark.sql.Encoders
          .product[graft.operators.Warc.WarcFileRow])
      val resp = graft.operators.Warc.httpResponses(
        graft.operators.Warc.warcRecords(files)).toDF()
      val decoded = graft.operators.HtmlBytes.decodeHtmlBytes(
        resp.filter(col("ok"))
          .select(col("id"), col("body").as("payload"),
            col("declared_charset").as("declared"))
          .as(org.apache.spark.sql.Encoders
            .product[graft.operators.HtmlBytes.HtmlBytesRow])).toDF()
      resp.select(col("id").as("doc_id"), col("status"), col("ok"),
          col("declared_charset"))
        .join(decoded.select(col("id").as("doc_id"), col("charset"),
          length(col("html")).cast("long").as("n_chars"),
          md5(col("html")).as("text_fp")), Seq("doc_id"), "left_outer")
        .orderBy(col("doc_id"))
    }),

    "crawl_revisit" -> ((s, dir) => {
      // conditional-recrawl dedup (r13 verdict item 5): stored
      // validators (content digest) × a new fetch wave → WARC-revisit
      // semantics. Five legs on the gated path: 304-validated,
      // digest-identical 200 (store a pointer, not bytes), changed
      // 200, never-stored new URL, error. ONE url-keyed join + narrow
      // expressions; digest comparison exactly oracle-replayable
      val (fetched, stored) = revisitFixture(s, dir)
      graft.operators.Robots.revisitClassify(fetched, stored)
        .select(col("doc_id"), col("status"), col("verdict"),
          col("is_revisit"), col("next_priority"))
        .orderBy(col("doc_id"))
    }),

    "crawl_revisit_records" -> ((s, dir) => {
      // the STORAGE side of the revisit cycle: unchanged captures
      // render as zero-payload WARC revisit records (ISO 28500
      // §6.7.2) — header math is pure Column strings, and the output
      // round-trips through warcRecords (spec). Same fixture as
      // crawl_revisit (shared via revisitFixture); only the
      // is_revisit rows render
      val (fetched, stored) = revisitFixture(s, dir)
      val rec = graft.operators.Warc.revisitHeader(
        col("url"), lit("2026-08-01T00:00:00Z"), col("url"),
        lit("2026-06-01T00:00:00Z"),
        concat(lit("md5:"), col("prev_digest")))
      graft.operators.Robots.revisitClassify(fetched, stored)
        .filter(col("is_revisit"))
        .select(col("doc_id"), col("verdict"),
          length(rec).cast("long").as("rec_len"),
          md5(rec).as("rec_fp"))
        .orderBy(col("doc_id"))
    }),

    "crawl_conditional_fetch" -> ((s, dir) => {
      // the leg between schedule and revisit (completes the r13-item-5
      // cycle): stored validators → RFC 9110 conditional headers.
      // Four legs: ETag only, Last-Modified only, both (both headers
      // sent — servers must prefer If-None-Match), never stored
      // (unconditional). One url-keyed join, all-string lattice
      val docs = t(s, dir, "documents")
      val u = concat(lit("https://site"),
        pmod(col("doc_id"), lit(20L)).cast("string"), lit(".com/rv/"),
        col("doc_id").cast("string"))
      val sv = pmod(col("doc_id"), lit(4L))
      val stored = docs.filter(sv =!= 3)
        .select(u.as("url"),
          when(sv =!= 1, concat(lit("\"v"),
            pmod(col("doc_id"), lit(1000L)).cast("string"), lit("\"")))
            .otherwise(lit("")).as("etag"),
          when(sv =!= 0, concat(lit("Mon, 0"),
            (pmod(col("doc_id"), lit(7L)) + 1).cast("string"),
            lit(" Jun 2026 00:00:00 GMT")))
            .otherwise(lit("")).as("last_modified"))
      val schedule = docs.select(col("doc_id"), u.as("url"))
      graft.operators.Robots.conditionalFetchPlan(schedule, stored)
        .select(col("doc_id"), col("url"), col("if_none_match"),
          col("if_modified_since"), col("conditional"))
        .orderBy(col("doc_id"))
    }),

    "crawl_surt_keys" -> ((s, dir) =>
      // SURT urlkey — the sort key of every public CDX index (IIPC /
      // Common Crawl): host labels reversed so one domain's captures
      // sort contiguous. Pure narrow projection over the same synth
      // variants the canonical-url family uses (case, default and
      // non-default ports, tracking params, fragments)
      synthUrl(t(s, dir, "documents"))
        .select(col("doc_id"), col("url"),
          graft.operators.Archive.surtKey(col("url")).as("urlkey"))
        .orderBy(col("doc_id"))),

    "crawl_cdx_index" -> ((s, dir) =>
      // the ARCHIVE index: every capture rendered as a full WARC
      // response record (ISO 28500 §6.3 — byte-exact Content-Length,
      // payload digest), then the CDX row a range reader needs:
      // (urlkey, offset, length) with offset = byte sum of earlier
      // records in the file. ONE window per capture file
      graft.operators.Archive.cdxIndex(cdxRendered(s, dir))
        .select(col("doc_id"), col("file_id"), col("urlkey"),
          col("offset"), col("length"),
          md5(col("record")).as("rec_fp"))
        .orderBy(col("doc_id"))),

    "crawl_cdx_fetch_plan" -> ((s, dir) => {
      // the READ side: a wanted subset (every 3rd capture) against
      // the CDX index → per-file coalesced byte ranges (merge when
      // the gap is ≤ 1 KiB — request count vs wasted bytes; at this
      // fixture's record sizes skipping two unwanted captures lands on
      // BOTH sides of the threshold, so merges AND splits gate). Semi-
      // join + the interval-merge window, nothing global
      val idx = graft.operators.Archive.cdxIndex(cdxRendered(s, dir))
      val wanted = cdxRendered(s, dir)
        .filter(pmod(col("doc_id"), lit(3L)) === 0)
        .select(graft.operators.Archive.surtKey(col("url"))
          .as("urlkey"))
      graft.operators.Archive.rangePlan(idx, wanted, gapBytes = 1024L)
        .select(col("file_id"), col("range_id"), col("range_start"),
          col("range_end"), col("n_records"), col("record_bytes"))
        .orderBy(col("file_id"), col("range_start"))
    }),

    "crawl_cache_policy" -> ((s, dir) => {
      // RFC 9111 freshness over stored captures — the HTTP-caching
      // leg of the recrawl schedule. Seven legs: no-store / no-cache
      // / s-maxage-beats-max-age / max-age / Expires−Date / the
      // §4.2.2 Last-Modified heuristic (behind a MALFORMED Expires:
      // untrusted headers fall through, never crash) / default TTL.
      // All-integer seconds; IMF-fixdate parsing weekday-stripped on
      // both engines
      val docs = t(s, dir, "documents")
      val v = pmod(col("doc_id"), lit(7L))
      val mm = lpad(pmod(col("doc_id"), lit(60L)).cast("string"),
        2, "0")
      val stored = docs.select(col("doc_id"),
        concat(lit("https://site"),
          pmod(col("doc_id"), lit(20L)).cast("string"), lit(".com/cp/"),
          col("doc_id").cast("string")).as("url"),
        when(v === 0, lit("no-store"))
          .when(v === 1, lit("max-age=120"))
          .when(v === 2, lit("public, s-maxage=300, max-age=60"))
          .when(v === 6, lit("no-cache, must-revalidate"))
          .otherwise(lit("")).as("cache_control"),
        when(v === 3, concat(lit("Mon, 01 Jun 2026 06:"), mm,
            lit(":00 GMT")))
          .when(v === 4, lit("next thursday-ish")) // malformed
          .otherwise(lit("")).as("expires"),
        when(v === 3 || v === 4, lit("Mon, 01 Jun 2026 06:00:00 GMT"))
          .otherwise(lit("")).as("date"),
        when(v === 4, lit("Fri, 01 May 2026 06:00:00 GMT"))
          .otherwise(lit("")).as("last_modified"),
        (lit(1780200000L) + col("doc_id") * 37).as("stored_at_sec"))
      graft.operators.Robots.cachePolicy(stored, nowSec = 1780300000L)
        .select(col("doc_id"), col("url"), col("lifetime_sec"),
          col("lifetime_source"), col("age_sec"), col("fresh"),
          col("next_eligible_sec"))
        .orderBy(col("doc_id"))
    }),

    "crawl_robots_freshness" -> ((s, dir) => {
      // RFC 9309 §2.4 robots cache freshness: the per-host verdict
      // the admit index needs before every wave. Six legs: fresh /
      // stale-pending-refetch / refreshed (2xx) / unrestricted (404
      // discards cached rules) / unreachable within the 30-day grace
      // (cached rules serve) / unreachable past it (expired)
      val docs = t(s, dir, "documents")
      val v = pmod(col("doc_id"), lit(6L))
      val now = 1780300000L
      val cached = docs.select(col("doc_id"),
        concat(lit("site"), pmod(col("doc_id"), lit(20L)).cast("string"),
          lit(".com")).as("host"),
        when(v === 0, lit(now - 1000L))
          .when(v === 5, lit(now - 4000000L))
          .otherwise(lit(now - 100000L)).as("fetched_at_sec"),
        when(v === 2, lit(200)).when(v === 3, lit(404))
          .when(v === 4 || v === 5, lit(503))
          .otherwise(lit(null).cast("int")).as("refetch_status"))
      graft.operators.Robots.robotsFreshness(cached, nowSec = now)
        .select(col("doc_id"), col("host"), col("age_sec"),
          col("verdict"), col("usable_cached"), col("refetch"))
        .orderBy(col("doc_id"))
    }),

    "crawl_sitemap_nested" -> ((s, dir) => {
      // bounded MULTI-LEVEL sitemap resolution (r13 verdict item 7):
      // index→index→urlset closed in ONE sitemapResolve call — root
      // indexes point at mid indexes, mids at leaf urlsets, with a
      // dangling pointer branch (doc_id%6==1: unstored leaf) and a
      // pathological extra-index branch (doc_id%6==4) that trips the
      // depth budget as too_deep. maxDepth joins, nothing cartesian
      val docs = t(s, dir, "documents")
      val h = pmod(col("doc_id"), lit(20L)).cast("string")
      val id = col("doc_id").cast("string")
      val m6 = pmod(col("doc_id"), lit(6L))
      val site = concat(lit("https://site"), h, lit(".com"))
      val roots = docs.select(col("doc_id"), concat(
        lit("<sitemapindex>\n<sitemap><loc>"), site, lit("/mid/"), id,
        lit(".xml</loc></sitemap>\n</sitemapindex>")).as("xml"))
      val ptr0 = when(m6 === 4,
          concat(site, lit("/idx/"), id, lit(".xml")))
        .otherwise(concat(site, lit("/leaf/"), id, lit("/0.xml")))
      val ptr1 = when(m6 === 1,
          concat(site, lit("/leaf/"), id, lit("/9.xml"))) // unstored
        .otherwise(concat(site, lit("/leaf/"), id, lit("/1.xml")))
      val mid = docs.select(
        concat(site, lit("/mid/"), id, lit(".xml")).as("url"),
        concat(lit("<sitemapindex>\n<sitemap><loc>"), ptr0,
          lit("</loc></sitemap>\n<sitemap><loc>"), ptr1,
          lit("</loc></sitemap>\n</sitemapindex>")).as("xml"))
      val lj = docs.select(col("doc_id"),
        explode(array(lit(0L), lit(1L))).as("j"))
      val hl = pmod(col("doc_id"), lit(20L)).cast("string")
      val sitel = concat(lit("https://site"), hl, lit(".com"))
      val leaves = lj.select(
        concat(sitel, lit("/leaf/"), col("doc_id").cast("string"),
          lit("/"), col("j").cast("string"), lit(".xml")).as("url"),
        concat(lit("<urlset>\n<url><loc>"), sitel, lit("/p/"),
          col("doc_id").cast("string"), lit("/"),
          col("j").cast("string"), lit("</loc>"),
          when(pmod(col("doc_id") + col("j"), lit(2L)) === 0,
            concat(lit("<lastmod>2026-07-0"),
              (col("j") + 1).cast("string"), lit("</lastmod>")))
            .otherwise(lit("")),
          lit("</url>\n</urlset>")).as("xml"))
      val deepIdx = docs.filter(m6 === 4).select(
        concat(site, lit("/idx/"), id, lit(".xml")).as("url"),
        concat(lit("<sitemapindex>\n<sitemap><loc>"), site,
          lit("/deep/"), id,
          lit(".xml</loc></sitemap>\n</sitemapindex>")).as("xml"))
      val store = mid.unionByName(leaves).unionByName(deepIdx)
      graft.operators.Robots.sitemapResolve(roots, store, maxDepth = 2)
        .select(col("doc_id"), col("depth"), col("loc"), col("lastmod"),
          col("kind"))
        .orderBy(col("doc_id"), col("depth"), col("loc"))
    }),

    "pipeline_frontier_manifest" -> ((s, dir) => {
      // FLAGSHIP (ingest): the COMPLETE crawl-ingest chain as one
      // plan — robots politeness admit (exact-agent group selection,
      // longest-match) → URL-canonical dedup (min-id survivor) →
      // byte-level fetch decode with quarantine (garbage payloads
      // drop, BOM variants round-trip) → block-line extraction →
      // cross-doc line dedup (boilerplate drop) → quality gate →
      // deterministic shard manifest. Every stage is the registered
      // operator, composed; every stage is oracle-replayed
      val docs = t(s, dir, "documents")
      val idx = graft.operators.Robots.robotsHostIndex(
        graft.operators.Robots.robotsRules(synthRobots(docs)), "graftbot")
      val admitted = graft.operators.Robots
        .robotsAllowed(synthFrontierUrls(docs), idx)
        .filter(col("allowed")).select(col("doc_id"), col("url"))
      val surv = admitted
        .groupBy(TextOps.urlCanonical(col("url")).as("canon_url"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val pages = synthCrawlHtml(docs).join(surv, Seq("doc_id"), "left_semi")
      // the byte edge: fetched payloads arrive plain/BOM'd/corrupt
      // (doc_id%3); strict decode quarantines the corrupt third out
      val pv = pmod(col("doc_id"), lit(3L))
      val payload = when(pv === 0, encode(col("html"), "UTF-8"))
        .when(pv === 1, concat(
          lit(Array(0xEF, 0xBB, 0xBF).map(_.toByte)),
          encode(col("html"), "UTF-8")))
        .otherwise(lit(Array(0xC3, 0x28).map(_.toByte)))
      val decoded = graft.operators.HtmlBytes.decodeHtmlBytes(
          pages.select(col("doc_id").as("id"), payload.as("payload"),
            lit(null).cast("string").as("declared"))
          .as(org.apache.spark.sql.Encoders
            .product[graft.operators.HtmlBytes.HtmlBytesRow])).toDF()
        .filter(col("ok"))
        .select(col("id").as("doc_id"), col("html"))
      val lines = decoded.select(col("doc_id"),
        TextOps.htmlToLines(col("html")).as("text"))
      val gated = TextOps.lineDedup(lines)
        .filter(col("n_lines_kept") >= 2 &&
          length(col("clean_text")) >= 20)
        .select(col("doc_id"),
          length(col("clean_text")).cast("long").as("n_chars_clean"),
          md5(col("clean_text")).as("clean_fp"))
      TextOps.shardAssign(gated, carry = Seq("n_chars_clean", "clean_fp"))
    }),

    "crawl_robots_rules" -> ((s, dir) =>
      // robots.txt parsing (RFC 9309 group semantics): the normalized
      // (agent x rule) table a frontier screens against. Per-host
      // window over exploded lines — robots files are tiny, the
      // window never sees corpus-sized data
      graft.operators.Robots.robotsRules(
          synthRobots(t(s, dir, "documents")))
        .orderBy(col("host"), col("group_id"), col("agent"),
          col("rule_ord"))),

    "crawl_robots_allowed" -> ((s, dir) => {
      // the politeness admit decision: exact-agent-else-star group
      // selection, longest-match precedence (allow wins ties), $/*
      // pattern semantics via engine-identical LIKE. Host-keyed join
      // against a one-row-per-host index + narrow array expressions —
      // streaming-safe by construction (no post-join aggregation)
      val docs = t(s, dir, "documents")
      val idx = graft.operators.Robots.robotsHostIndex(
        graft.operators.Robots.robotsRules(synthRobots(docs)), "graftbot")
      graft.operators.Robots.robotsAllowed(synthRobotsUrls(docs), idx)
        .select(col("doc_id"), col("url"), col("host"), col("path"),
          col("allowed"), col("rule_pattern"), col("crawl_delay"))
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis ----
    "text_token_stats" -> ((s, dir) =>
      TextOps.tokenStats(t(s, dir, "documents")).orderBy(col("doc_id"))),

    "text_quality" -> ((s, dir) =>
      TextOps.qualityScore(t(s, dir, "documents")).orderBy(col("doc_id"))),

    "text_source_mix" -> ((s, dir) =>
      TextOps.sourceMix(t(s, dir, "documents"))),

    "text_quality_deciles" -> ((s, dir) =>
      TextOps.qualityDeciles(t(s, dir, "documents"))),

    // per-source document cap (the C4/RefinedWeb domain-cap step)
    // through the bounded top-k aggregate — never a per-source window
    "text_domain_cap" -> ((s, dir) =>
      TextOps.domainCap(t(s, dir, "documents"), perSource = 50)
        .orderBy(col("source"), col("rank"))),

    "text_lang_id" -> ((s, dir) =>
      TextOps.langIdHeuristic(t(s, dir, "documents")).orderBy(col("doc_id"))),

    "text_langid_confusion" -> ((s, dir) =>
      // classifier-quality confusion matrix: labeled vs guessed lang
      TextOps.langIdHeuristic(t(s, dir, "documents"))
        .groupBy(col("labeled_lang"), col("guessed_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("labeled_lang"), col("guessed_lang"))),

    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    "text_hash_sample" -> ((s, dir) =>
      TextOps.hashSample(t(s, dir, "documents"), "doc_id", 10)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    "text_weighted_sample" -> ((s, dir) =>
      TextOps.weightedSample(
          TextOps.qualityScore(t(s, dir, "documents"))
            .select(col("doc_id"), col("quality")),
          "doc_id", col("quality"))
        .orderBy(col("doc_id"))),

    "text_stratified_sample" -> ((s, dir) =>
      TextOps.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id", 20)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))),

    "text_repetition" -> ((s, dir) => {
      // Gopher-style repetition signals: duplicate- and top-token
      // fractions per document, via explode + two aggregations (never
      // an O(distinct×tokens) per-row lambda)
      val docs = t(s, dir, "documents")
      val perTok = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      val stats = perTok.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"), max(col("c")).as("top_c"))
      docs.select(col("doc_id")).join(stats, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          coalesce(lit(1.0) - col("n_distinct").cast("double") /
            col("n_tokens").cast("double"), lit(0.0)).as("dup_token_frac"),
          coalesce(col("top_c").cast("double") /
            col("n_tokens").cast("double"), lit(0.0)).as("top_token_frac"))
        .orderBy(col("doc_id"))
    }),

    "text_filter_verdict" -> ((s, dir) => {
      // the composed C4-style keep/drop decision over quality, language
      // and length signals — the end of the filter pipeline as data;
      // the verdict itself is TextOps.filterKeep, shared with the NB
      // classifier's training label
      val toks = TextOps.wordTokens(col("text"))
      val nTok = size(toks).cast("double")
      val nStop = TextOps.stopwordCount(toks).cast("double")
      val ratio = nStop / greatest(nTok, lit(1.0))
      val len = length(coalesce(col("text"), lit("")))
      t(s, dir, "documents").select(col("doc_id"),
          len.cast("long").as("n_chars"),
          ratio.as("en_stopword_ratio"),
          TextOps.filterKeep(col("text")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    "text_classifier_nb" -> ((s, dir) =>
      // learned quality filter: Naive Bayes distilled from the
      // heuristic verdict, trained on the h60-even half, scoring the
      // held-out half — every statistic in integer floor bits
      TextOps.nbClassifier(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    "text_classifier_agreement" -> ((s, dir) =>
      // model-vs-heuristic confusion on the held-out half
      TextOps.nbAgreement(t(s, dir, "documents"))),

    "text_classifier_sweep" -> ((s, dir) =>
      // the operating curve: confusion + precision/recall ppm at every
      // floor-bit margin threshold — how the cutoff gets chosen
      TextOps.nbThresholdSweep(t(s, dir, "documents"))),

    "text_quality_hashed_weights" -> ((s, dir) =>
      // the fastText/DCLM hashed-ngram LINEAR model (r13 verdict item
      // 6), deterministic twin: unigram+bigram grams hashed to 1024
      // buckets, floor-bit NB log-odds as the DENSE weight vector —
      // the whole model is these 1024 integer rows, driver/broadcast-
      // sized at any corpus size by the hashing trick
      // the weight table reads its (tokenize+join+agg) subtree twice
      // (totals + dense join — deliberately unmaterialized inside the
      // operator); checkpointing the TRAIN gram frame here pins the
      // regexp tokenize to one run per query instead of two (r15)
      TextOps.hashedQualityWeightsFromGrams(
          TextOps.hashedGramCounts(
            t(s, dir, "documents").filter(
              TextOps.samplePredicate(col("doc_id"), 50, "qhsplit")),
            nBuckets = 1024).localCheckpoint(true),
          t(s, dir, "documents"), nBuckets = 1024)
        .orderBy(col("bucket"))),

    "text_quality_hashed" -> ((s, dir) => {
      // the deterministic hashed classifier scoring the HELD-OUT half
      // (leakage-safe split, salt qhsplit): score = w0 + Σ m·w(b), all
      // integer, keep iff positive. One exploded aggregate + a
      // 1024-row broadcast join — the fastText scoring shape
      // NOTE(r15): a checkpointed shared gram frame (full-corpus and
      // train-half variants both A/B-measured) REGRESSES wall here —
      // the materialization barrier outweighs the saved tokenize at
      // bench scale because the two weight-leg evaluations run fully
      // parallel in the DAG. Deliberately kept on the parallel shape.
      val docs = t(s, dir, "documents")
      val w = TextOps.hashedQualityWeights(docs, nBuckets = 1024)
      val p = TextOps.hashedQualityPrior(docs)
      TextOps.hashedQualityScore(
          docs.filter(!TextOps.samplePredicate(col("doc_id"), 50,
            "qhsplit")), w, p, nBuckets = 1024)
        .orderBy(col("doc_id"))
    }),

    "text_quality_learned" -> ((s, dir) => {
      // the LEARNED variant (rows-only at the gate — floating
      // sigmoid arithmetic; accuracy floor + integer-twin agreement
      // spec-pinned in QualityClassifierSpec, the sim_ivf_topk
      // discipline): logistic regression over the same hashed
      // features, batch GD with the weight vector as driver state.
      // epochs = 3 at the gate (each epoch is a full-corpus pass:
      // broadcast join + two keyed aggregates — the registered cost
      // is the TRAINER'S, linear in epochs; the accuracy-floor spec
      // trains 8 on its synthetic corpus)
      val docs = t(s, dir, "documents")
      val (w0, wv) = TextOps.trainQualityLr(docs, nBuckets = 1024,
        epochs = 3)
      TextOps.scoreQualityLr(
          docs.filter(!TextOps.samplePredicate(col("doc_id"), 50,
            "qhsplit")), w0, wv, nBuckets = 1024)
        .orderBy(col("doc_id"))
    }),

    "pipeline_quality_gate" -> ((s, dir) => {
      // FLAGSHIP (curation): the learned-filter stage composed end to
      // end — C4-style line screen (≥2 kept lines, no lorem-ipsum
      // page flag) → deterministic hashed-ngram classifier over every
      // doc → exact decomposed-ntile quality deciles → per-(decile,
      // verdict) manifest. Every stage the registered operator;
      // every number integer, the whole chain oracle-replayed
      val docs = t(s, dir, "documents")
      // renamed gate key: gate and scored share the docs lineage, and
      // a usingColumns self-join would resolve both sides to the SAME
      // doc_id attribute — a trivially-true semi-join that silently
      // passes everything. Page flags injected as in
      // text_line_quality so the lorem leg actually drops docs here
      val docsM = synthMultiline(docs)
        .withColumn("text", concat(col("text"),
          when(pmod(col("doc_id"), lit(5L)) === 0,
            lit("\nfunction() { var x = 1; }")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7L)) === 0,
            lit("\nLorem ipsum dolor sit amet consectetur."))
            .otherwise(lit(""))))
      val gate = TextOps.lineQuality(docsM)
        .filter(col("n_lines_kept") >= 2 && !col("has_lorem"))
        .select(col("doc_id").as("__gate_id"))
      // NOTE(r15): shared-gram checkpoints (full-corpus AND
      // train-half variants) were A/B-measured here and REGRESS wall
      // (2.85 → 3.5 s warm): the eager materialization serializes the
      // flagship's construction while the duplicate weight-leg
      // evaluations it removes run parallel in the DAG anyway.
      // Deliberately kept on the parallel shape.
      val w = TextOps.hashedQualityWeights(docs, nBuckets = 1024)
      val p = TextOps.hashedQualityPrior(docs)
      val scored = TextOps.hashedQualityScore(docs, w, p,
        nBuckets = 1024)
      val dec = TextOps.qualityDeciles(docs)
      scored.join(gate, col("doc_id") === col("__gate_id"), "left_semi")
        .join(dec, Seq("doc_id"))
        .groupBy(col("decile"), col("predicted_keep"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_grams")).as("n_grams"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("decile"), col("predicted_keep"))
    }),

    "text_filter_ablation" -> ((s, dir) =>
      // per-gate removal + MARGINAL removal: which quality gate earns
      // its place, and which is redundant with the others
      TextOps.filterAblation(t(s, dir, "documents"))),

    "text_pack_efficiency" -> ((s, dir) =>
      // padding waste vs sequence budget — the packing-layout curve
      TextOps.packEfficiency(t(s, dir, "documents"))),

    "text_classifier_calibration" -> ((s, dir) =>
      // the reliability diagram: margin bins vs true keep-rate ppm —
      // where the filter's confidence is actually trustworthy
      TextOps.nbCalibration(t(s, dir, "documents"))),

    "text_pack_chunks" -> ((s, dir) => {
      // sequence packing: assign documents to fixed token-budget
      // training chunks by exclusive prefix sum in doc_id order —
      // decomposed (PrefixAgg), so no global window at any scale
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.operators.PrefixAgg
        .prefixSumExclusive(docs, "doc_id", "n_tokens", "pc")
        .select(col("doc_id"), col("n_tokens"),
          expr("CAST(pc div 2048 AS BIGINT)").as("chunk_id"))
        .orderBy(col("doc_id"))
    }),

    // Sort BEFORE rendering: the sort exchange moves the narrow
    // envelope columns and the 17-field pipe line (2× hstore render +
    // concat, the query's hot path) is projected post-shuffle, so
    // rendered lines never cross the wire. Same rows, same order —
    // column pruning keeps only the render's inputs below the sort.
    "cdc_audit_envelope" -> ((s, dir) =>
      graft.sources.AuditLogGenerator.pipeFormat(
          graft.sources.AuditLogGenerator.auditEvents(s, dir)
            .orderBy(col("event_id")))),

    "cdc_snapshot_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      CdcOps.snapshotAsOf(ev, Cols.tsLit(ev, "ts", "2024-01-15 00:00:00"))
        .select(col("user_id"), col("event_id"),
          Cols.epochUs(col("ts")).as("ts_us"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }),

    "cdc_apply_changes" -> ((s, dir) => {
      // roll-forward law as a verified query: snapshot@T1 + changes in
      // (T1,T2] must equal snapshot@T2 (which is what the oracle
      // computes directly)
      val ev = t(s, dir, "events")
      val t1 = Cols.tsLit(ev, "ts", "2024-01-10 00:00:00")
      val t2 = Cols.tsLit(ev, "ts", "2024-01-20 00:00:00")
      CdcOps.applyChanges(
          CdcOps.snapshotAsOf(ev, t1),
          ev.filter(col("ts") > t1 && col("ts") <= t2))
        .select(col("user_id"), col("event_id"),
          Cols.epochUs(col("ts")).as("ts_us"), col("event_type"),
          col("value"))
        .orderBy(col("user_id"))
    }),

    "cdc_apply_changes_del" -> ((s, dir) => {
      // delete-aware roll-forward: snapshot@T1 (tombstones applied) +
      // changes in (T1,T2] must equal the T2 mirror — which the oracle
      // computes directly as "latest row per key whose action isn't D"
      val ev = t(s, dir, "events")
        .withColumn("action", graft.sources.AuditLogGenerator.action)
      val t1 = Cols.tsLit(ev, "ts", "2024-01-10 00:00:00")
      val t2 = Cols.tsLit(ev, "ts", "2024-01-20 00:00:00")
      CdcOps.applyChangesWithActions(
          CdcOps.snapshotAsOfWithActions(ev, t1),
          ev.filter(col("ts") > t1 && col("ts") <= t2))
        .select(col("user_id"), col("event_id"),
          Cols.epochUs(col("ts")).as("ts_us"), col("event_type"),
          col("action"), col("value"))
        .orderBy(col("user_id"))
    }),

    "cdc_changes_between" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      CdcOps.changesBetween(ev,
          Cols.tsLit(ev, "ts", "2024-01-10 00:00:00"),
          Cols.tsLit(ev, "ts", "2024-01-20 00:00:00"))
        .orderBy(col("user_id"))
    }),

    // snapshot reconciliation between two catch-up points: per change
    // class (inserted/deleted/updated/unchanged) the key count and
    // range — both per-point states folded in ONE keyed aggregate
    // over one scan (conditional max_by), tombstone-aware
    "cdc_reconcile" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("action", graft.sources.AuditLogGenerator.action)
      CdcOps.reconcileSnapshots(ev,
        Cols.tsLit(ev, "ts", "2024-01-10 00:00:00"),
        Cols.tsLit(ev, "ts", "2024-01-20 00:00:00"))
    }),

    "cdc_sessionize" -> ((s, dir) =>
      CdcOps.sessionize(t(s, dir, "events"))
        .select(col("user_id"),
          Cols.epochUs(col("session_start")).as("session_start_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start_us"))),

    // ---- scalar-function surface: JSON + cube (SURVEY §2.4 upgrades) ----
    "q_scalar_functions" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select(col("l_orderkey"), col("l_linenumber"),
          year(col("l_shipdate")).cast("long").as("ship_year"),
          month(col("l_shipdate")).cast("long").as("ship_month"),
          dayofmonth(col("l_shipdate")).cast("long").as("ship_day"),
          datediff(col("l_shipdate").cast("date"),
            lit("1995-01-01").cast("date")).cast("long").as("days_since"),
          concat_ws("-", col("l_returnflag"), col("l_linestatus"))
            .as("flag_status"),
          upper(col("l_linestatus")).as("ls_upper"),
          length(col("l_returnflag")).cast("long").as("rf_len"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q_null_semantics" -> ((s, dir) => {
      // null-semantics battery: NULL group in GROUP BY, count(*) vs
      // count(col), nullif/coalesce, null-safe equality (<=> ≡
      // IS NOT DISTINCT FROM) — the classic cross-engine divergence
      // area, pinned by the oracle (outputs never carry raw NULLs:
      // the group key is coalesced for stable hashing)
      val d = t(s, dir, "lineitem").select(
        nullif(col("l_returnflag"), lit("N")).as("rf"),
        col("l_quantity"))
      d.groupBy(col("rf"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("rf")).as("n_nonnull"),
          sum(when(col("rf").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(col("rf") <=> lit(null).cast("string"), 1L).otherwise(0L))
            .as("n_nullsafe_eq_null"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
            .as("sum_qty"))
        .select(coalesce(col("rf"), lit("NULL_GROUP")).as("rf_group"),
          col("n_rows"), col("n_nonnull"), col("n_null"),
          col("n_nullsafe_eq_null"), col("sum_qty"))
        .orderBy(col("rf_group"))
    }),

    "q_datetime_functions" -> ((s, dir) =>
      // temporal battery on real timestamps (micros): extraction
      // fields, calendar arithmetic, truncation — each chosen for
      // identical semantics in both engines (second() truncates,
      // dayofyear/quarter are calendar-exact, last_day is a DATE)
      t(s, dir, "events").select(col("event_id"),
          year(col("ts")).cast("long").as("y"),
          quarter(col("ts")).cast("long").as("q"),
          month(col("ts")).cast("long").as("mo"),
          dayofmonth(col("ts")).cast("long").as("dom"),
          dayofyear(col("ts")).cast("long").as("doy"),
          hour(col("ts")).cast("long").as("h"),
          minute(col("ts")).cast("long").as("mi"),
          second(col("ts")).cast("long").as("sec"),
          last_day(col("ts")).cast("string").as("month_end"),
          date_add(col("ts").cast("date"), 7).cast("string").as("week_later"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("days_in"),
          Cols.epochUs(date_trunc("month", col("ts"))).as("month_start_us"))
        .orderBy(col("event_id"))),

    "cdc_json_props" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))),

    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
            .as("sum_total"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("sum_total"))
        .orderBy(col("prio"), col("status"))),

    // ---- text: BPE-ish tokens + rolling-hash fingerprints ----
    "text_bpe_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.bpeishTokens(col("text"))).cast("long").as("n_bpe"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_ws"))
        .orderBy(col("doc_id"))),

    "text_rolling_fp" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.rollingFingerprints(col("text")).as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"),
          array_join(transform(sort_array(col("fps")),
            x => x.cast("string")), ",").as("fp_set"))
        .orderBy(col("doc_id"))),

    // ---- multimodal columns (stub decode, real plumbing) ----
    "mm_media_metadata" -> ((s, dir) =>
      Multimodal.asMedia(t(s, dir, "documents"), "doc_id",
          col("text").cast("binary"), "image")
        .select(col("doc_id"), col("meta.media_type").as("media_type"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.checksum").as("checksum"))
        .orderBy(col("doc_id"))),

    "mm_decode_features" -> ((s, dir) => {
      val media = Multimodal.asMedia(t(s, dir, "documents"), "doc_id",
        col("text").cast("binary"), "image")
      media.select(col("doc_id"),
          Multimodal.decodeImageStub(col("payload")).as("img"),
          Multimodal.quantizedFeaturesStub(col("payload"), 8).as("features"))
        .select(col("doc_id"), col("img.width").as("width"),
          col("img.height").as("height"),
          array_join(transform(col("features"), f => f.cast("string")),
            ",").as("features_csv"))
        .orderBy(col("doc_id"))
    }),

    "mm_resize_plan" -> ((s, dir) => {
      val media = Multimodal.asMedia(t(s, dir, "documents"), "doc_id",
        col("text").cast("binary"), "image")
      media.select(col("doc_id"),
          Multimodal.resizeStub(
            Multimodal.decodeImageStub(col("payload")), 224, 224).as("r"))
        .select(col("doc_id"), col("r.width").as("width"),
          col("r.height").as("height"), col("r.scale_x").as("scale_x"),
          col("r.scale_y").as("scale_y"))
        .orderBy(col("doc_id"))
    }),

    "mm_frame_sample" -> ((s, dir) => {
      val media = Multimodal.asMedia(t(s, dir, "documents"), "doc_id",
        col("text").cast("binary"), "video")
      media.select(col("doc_id"),
          Multimodal.frameSampleStub(col("payload"), 10).as("frames"))
        .select(col("doc_id"),
          size(col("frames")).cast("long").as("n_sampled"),
          array_join(transform(col("frames"), f => f.cast("string")), ",")
            .as("frames_csv"))
        .orderBy(col("doc_id"))
    }),

    // scene-change detection over sampled frames: pHash jump above
    // the drift band marks a boundary; the stub's known ground truth
    // rides along, so the output IS the detector's precision audit
    "mm_scene_changes" -> ((s, dir) =>
      Multimodal.sceneChanges(
        Multimodal.asMedia(t(s, dir, "documents"), "doc_id",
          col("text").cast("binary"), "video"))),

    // ---- corpus-level sketches (mergeable aggregate) ----
    "sketch_lang_minhash" -> ((s, dir) => {
      val sh = Dedup.shingleSets(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
        idCol = "doc_id")
      val withLang = sh.join(
        t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      withLang
        .select(col("lang"), Dedup.minhashSignature(col("sh"), 32).as("sig"))
        .groupBy(col("lang"))
        .agg(graft.functions.MinHashUnion.minhash_union(col("sig")).as("u"))
        .select(col("lang"),
          array_join(transform(col("u"), x => x.cast("string")), ",").as("sig_csv"))
        .orderBy(col("lang"))
    }),

    "sketch_lang_similarity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = Dedup.shingleSets(
        docs.select(col("doc_id"), col("text")), idCol = "doc_id")
      val sketches = sh.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("lang"), Dedup.minhashSignature(col("sh"), 32).as("sig"))
        .groupBy(col("lang"))
        .agg(graft.functions.MinHashUnion.minhash_union(col("sig")).as("u"))
      val a = sketches.select(col("lang").as("lang_a"), col("u").as("u_a"))
      val b = sketches.select(col("lang").as("lang_b"), col("u").as("u_b"))
      a.crossJoin(broadcast(b)).filter(col("lang_a") < col("lang_b"))
        .select(col("lang_a"), col("lang_b"),
          graft.functions.MinHashUnion.estimatedJaccard(col("u_a"), col("u_b"))
            .as("est_jaccard"))
        .orderBy(col("lang_a"), col("lang_b"))
    }),

    "sketch_hll_users" -> ((s, dir) =>
      graft.operators.Sketches.hllRegisters(t(s, dir, "events"))),

    "sketch_log_histogram" -> ((s, dir) =>
      graft.operators.Sketches.logHistogram(t(s, dir, "events"))),

    "sketch_bloom_sources" -> ((s, dir) =>
      graft.operators.Sketches.bloomWords(t(s, dir, "documents"))),

    "sketch_cms_heavy" -> ((s, dir) =>
      graft.operators.Sketches.cmsHeavyHitters(t(s, dir, "documents"))),

    "ts_zscore_anomalies" -> ((s, dir) =>
      graft.operators.TimeSeries.zscoreAnomalies(t(s, dir, "events"))),

    "cdc_scd2_history" -> ((s, dir) =>
      CdcOps.scd2History(t(s, dir, "events"))),

    "cdc_version_prune" -> ((s, dir) =>
      CdcOps.versionPrune(t(s, dir, "events"), keep = 3)),

    "cdc_agg_maintenance" -> ((s, dir) =>
      CdcOps.aggDelta(t(s, dir, "events"), offset1 = 6000L,
        offset2 = 8000L)),

    "q_window_values" -> ((s, dir) =>
      Relational.windowValueFunctions(t(s, dir, "lineitem"))),

    "mm_shard_pack" -> ((s, dir) =>
      Multimodal.shardPack(Multimodal.asMedia(t(s, dir, "documents"),
        "doc_id", col("text").cast("binary"), "image"))),

    "mm_phash_neardup" -> ((s, dir) =>
      // media near-dup pairs: banded perceptual hash (the multimodal
      // twin of text MinHash-LSH) + full-hash Hamming verify. Width is
      // corpus-adaptive and hot buckets are guard-dropped (r9 verdict
      // item 1) — the oracle replays BOTH (dynamic bandbits + hot CTE)
      Multimodal.phashNearDupPairsAuto(Multimodal.asMedia(
          t(s, dir, "documents"), "doc_id", col("text").cast("binary"),
          "image"))
        .orderBy(col("doc_a"), col("doc_b"))),

    "mm_audio_meta" -> ((s, dir) =>
      // audio stream envelope: typed metadata + stub-decoded stream
      // parameters and integer duration — the filterable columns an
      // audio pipeline prunes on before any payload decode
      Multimodal.asMedia(t(s, dir, "documents"), "doc_id",
          col("text").cast("binary"), "audio")
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          Multimodal.decodeAudioStub(col("payload")).as("a"))
        .select(col("doc_id"), col("n_bytes"),
          col("a.sample_rate").as("sample_rate"),
          col("a.channels").as("channels"),
          col("a.n_frames").as("n_frames"),
          expr("(a.n_frames * 1000) div a.sample_rate").as("duration_ms"))
        .orderBy(col("doc_id"))),

    "mm_audio_energy" -> ((s, dir) =>
      // per-block energy rollup: the summary a speech/music gate
      // filters on (block count, total/peak energy, peak position)
      Multimodal.audioEnergyStub(Multimodal.asMedia(
        t(s, dir, "documents"), "doc_id", col("text").cast("binary"),
        "audio"))),

    "mm_phash_bucket_stats" -> ((s, dir) => {
      // the LOUD half of the phash stop-bucket guard: per-band bucket
      // occupancy + exactly what the guard at maxBucket would drop
      val media = Multimodal.asMedia(t(s, dir, "documents"), "doc_id",
        col("text").cast("binary"), "image")
      Multimodal.phashBucketStats(media,
        bits = Multimodal.adaptivePhashBits(media.count()))
    }),

    "mm_phash_neardup_wide" -> ((s, dir) =>
      // the multi-word (here 120-bit / 30-bit-band) pHash near-dup
      // path — the width regime past the single-long 60-bit budget
      // where adaptivePhashBitsWide keeps occupancy constant out to
      // ~69B docs (r10 verdict item 1). Static width so the oracle
      // replays both 60-bit words and the two-word Hamming verify.
      // Every 50th document is re-planted under a shifted id so the
      // gate verifies ACTUAL pairs (30-bit bands make non-dups
      // singleton buckets at this SF — without the plant the result
      // is trivially empty).
      Multimodal.phashNearDupPairsWide(Multimodal.asMedia(
          wideDupDocs(t(s, dir, "documents")), "doc_id",
          col("text").cast("binary"), "image"), bits = 120)
        .orderBy(col("doc_a"), col("doc_b"))),

    "mm_phash_bucket_stats_wide" -> ((s, dir) =>
      // loud occupancy accounting at the wide width over the same
      // planted-dup corpus: dup buckets hold 2, the rest singletons
      Multimodal.phashBucketStatsWide(Multimodal.asMedia(
        wideDupDocs(t(s, dir, "documents")), "doc_id",
        col("text").cast("binary"), "image"), bits = 120)),

    "mm_hash64_neardup" -> ((s, dir) => {
      // the GENERIC precomputed-multi-word-hash near-dup operator
      // (the step the real aHash chain rides) under the oracle gate:
      // a synthetic two-word h60 fingerprint stands in for any real
      // hash column; bands 0-2 live in word 0 (20-bit, offsets
      // 0/20/40), band 3 in word 1 — the uneven layout the
      // whole-in-word rule produces at 64/20
      val docs = wideDupDocs(t(s, dir, "documents"))
      val h = graft.functions.functions.h60 _
      val hashed = docs.select(col("doc_id"),
        array(h(concat(md5(col("text")), lit(":w0"))),
          h(concat(md5(col("text")), lit(":w1")))).as("phs"))
      Multimodal.hashNearDupPairs(hashed, "doc_id", "phs",
          nWords = 2, bandBits = 20, bands = 4)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "pipeline_media_manifest" -> ((s, dir) => {
      // FLAGSHIP (media): phash near-dup pairs -> star-contraction
      // clusters -> survivor selection (min id per cluster, untouched
      // singletons pass through) -> byte-budget shard pack, one plan.
      // Completes the per-modality flagship set: text
      // (pipeline_training_manifest), vectors (pipeline_embedding_
      // dedup), CDC (pipeline_cdc_mirror), media (this).
      val media = Multimodal.asMedia(t(s, dir, "documents"), "doc_id",
        col("text").cast("binary"), "image")
      val pairs = Multimodal.phashNearDupPairsAuto(media)
        .select(col("doc_a"), col("doc_b"))
      val comp = Dedup.starContractComponents(pairs)
      val survivors = comp.groupBy(col("component"))
        .agg(min(col("id")).as("doc_id"))
      // shardPack's 3-level prefix sum references its input three
      // times; unmaterialized, each reference re-ran BOTH survivor
      // joins and re-scanned the media twice (12 parquet scans in the
      // executed plan, r15). One eager checkpoint of the manifest-
      // sized (doc_id, meta) frame pins the survivor selection to a
      // single evaluation.
      val keep = media.join(comp.select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("meta"))
        .unionByName(media.join(survivors.select(col("doc_id")),
          Seq("doc_id"), "left_semi").select(col("doc_id"), col("meta")))
        .localCheckpoint(true)
      Multimodal.shardPack(keep)
    }),

    "graph_type_pagerank" -> ((s, dir) => {
      // stationary behavior mix: integer PageRank over the event-type
      // transition graph (edges = transitionMatrix counts)
      val edges = CdcOps.transitionMatrix(t(s, dir, "events"))
        .select(col("from_type").as("src"), col("to_type").as("dst"),
          col("n").as("w"))
      Graph.pageRankInt(edges, iters = 3)
    }),

    // seed-biased proximity: all mass starts at (and teleports back
    // to) "purchase" — what behavior FOLLOWS a purchase
    "graph_type_ppr" -> ((s, dir) => {
      val edges = CdcOps.transitionMatrix(t(s, dir, "events"))
        .select(col("from_type").as("src"), col("to_type").as("dst"),
          col("n").as("w"))
      Graph.personalizedPageRankInt(edges, seed = "purchase", iters = 3)
    }),

    "graph_type_hops" -> ((s, dir) => {
      // BFS distance from the 'click' behavior over observed event-
      // type transitions — reachability with hop counts, unrolled
      // into one plan of keyed joins (no driver loop, no window).
      // maxHops = 4: 5 event types bound the diameter at 4, so the
      // fixpoint is exact and each extra round would only add a
      // no-op shuffle stage (oracle CTE carries the same cap)
      val edges = CdcOps.transitionMatrix(t(s, dir, "events"))
        .select(col("from_type").as("src"), col("to_type").as("dst"))
      Graph.bfsHops(edges, "click", maxHops = 4)
    }),

    "q_full_outer_daily" -> ((s, dir) =>
      Relational.dailyActivityReconciliation(t(s, dir, "events"))),

    "q_unpivot" -> ((s, dir) =>
      Relational.unpivotMetrics(t(s, dir, "lineitem"))),

    "q_rank_family" -> ((s, dir) =>
      Relational.rankFamily(t(s, dir, "orders"))),

    "q_star_join" -> ((s, dir) =>
      Relational.starJoinRevenue(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region"),
        t(s, dir, "part"), t(s, dir, "supplier"))),

    "dedup_fuzzy_pairs" -> ((s, dir) =>
      Dedup.fuzzyPairs(t(s, dir, "documents"))),

    "text_chunk_split" -> ((s, dir) =>
      TextOps.chunkSplit(t(s, dir, "documents"))),

    "text_dup_spans" -> ((s, dir) =>
      TextOps.dupSpans(t(s, dir, "documents"))),

    "text_dup_spans_maximal" -> ((s, dir) =>
      // maximal shared substrings: consecutive duplicated span starts
      // chained into runs, so boilerplate longer than the 8-token
      // window is measured whole (r7 verdict item 4)
      TextOps.dupSpanRuns(t(s, dir, "documents"))),

    "text_bpe_learn" -> ((s, dir) =>
      // tokenizer training: 8 deterministic top-1 pair-merge rounds
      // over the corpus vocab (r7 verdict item 7); the oracle replays
      // every round through a chained-CTE pipeline
      TextOps.bpeLearn(t(s, dir, "documents"))),

    "text_bpe_fertility" -> ((s, dir) =>
      // corpus compression under the LEARNED merges — what the
      // trained tokenizer actually bought vs raw chars
      TextOps.bpeFertility(t(s, dir, "documents"))),

    "text_bpe_encode" -> ((s, dir) =>
      // the inference half: per-doc token counts under the learned
      // segmentation — the budget a training-layout planner uses
      TextOps.bpeEncode(t(s, dir, "documents"))),

    "text_bpe_encode_local" -> ((s, dir) => {
      // the real-vocabulary serving path (r9 verdict item 2),
      // oracle-gated: the driver-side Sennrich trainer + the
      // partition-local merge application must reproduce the
      // distributed trainer's chained-CTE segmentation exactly
      val docs = t(s, dir, "documents")
      TextOps.bpeEncodeWithLocal(docs, TextOps.bpeTrainTopK(docs, 8))
        .orderBy(col("doc_id"))
    }),

    "text_dup_span_pairs" -> ((s, dir) =>
      // pair-level maximal common spans: WHO shares the boilerplate,
      // via diagonal gaps-and-islands over matched span positions
      TextOps.dupSpanPairs(t(s, dir, "documents"))),

    "text_pack_bpe" -> ((s, dir) =>
      // the full pretraining layout composition: learn merges ->
      // count per doc under the learned segmentation -> pack
      TextOps.packSequencesBpe(t(s, dir, "documents"))),

    "text_repetition_ngrams" -> ((s, dir) =>
      // Gopher-style intra-doc repetition gate at the PHRASE level:
      // top-2-gram coverage and duplicated-4-gram fraction (the
      // token-level dup/top fractions are text_repetition)
      TextOps.repetitionProfile(t(s, dir, "documents"))),

    "text_unigram_surprisal" -> ((s, dir) =>
      TextOps.unigramSurprisal(t(s, dir, "documents"))),

    "text_tokenizer_fertility" -> ((s, dir) =>
      TextOps.tokenizerFertility(t(s, dir, "documents"))
        .orderBy(col("lang"))),

    "text_dsir_select" -> ((s, dir) =>
      // importance-resampling selection: top-200 docs that look most
      // like the src0 target domain under integer unigram log-ratios
      TextOps.dsirScores(t(s, dir, "documents"),
          col("source") === "src0")
        .orderBy(col("score").desc, col("doc_id")).limit(200)),

    "ts_sax_motifs" -> ((s, dir) =>
      graft.operators.TimeSeries.saxMotifs(t(s, dir, "events"))),

    "ts_series_knn" -> ((s, dir) =>
      // distributed TS similarity search: banded SAX blocking, exact
      // integer symbol distance, map-side-bounded top-k per query
      graft.operators.TimeSeries.seriesKnn(t(s, dir, "events"),
        col("user_id") % 10 === 0, k = 5)),

    "ts_mad_outliers" -> ((s, dir) =>
      // robust (breakdown-50%) anomaly twin of ts_zscore_anomalies,
      // pure-integer doubled-lattice medians
      graft.operators.TimeSeries.madOutliers(t(s, dir, "events"))),

    "ts_autocorr" -> ((s, dir) =>
      // lag-1 self-similarity per user series, mean-centered sums
      // cleared of fractions by n² (exact ppm ratio)
      graft.operators.TimeSeries.autocorrLag(t(s, dir, "events"))),

    "ts_level_shift" -> ((s, dir) =>
      // sliding two-sample changepoint candidates: |Δmean| of the
      // 4-before vs 4-at-and-after windows > 60 value units
      // (60·2²⁰ on the q lattice), cross-multiplied — no division
      graft.operators.TimeSeries.levelShifts(t(s, dir, "events"),
        w = 4, kNumer = 60L * 1048576L, kDenom = 1L)),

    // ---- as-of / range joins (temporal lookup + interval matching) ----
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsofJoin.asofJoin(ev, purchases, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          Cols.epochUs(col("ts")).as("ts_us"),
          Cols.epochUs(col("asof.ts")).as("purchase_ts_us"),
          col("asof.value").as("purchase_value"))
        .orderBy(col("event_id"))
    }),

    "q_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsofJoin
        .asofJoinWithin(ev, purchases, "user_id", "ts", "1 HOUR")
        .select(col("event_id"), col("user_id"),
          Cols.epochUs(col("ts")).as("ts_us"),
          Cols.epochUs(col("asof.ts")).as("purchase_ts_us"),
          col("asof.value").as("purchase_value"))
        .orderBy(col("event_id"))
    }),

    "q_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val intervals = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 15 MINUTES")).as("end_ts"))
      graft.operators.RangeJoin.intervalJoin(
          ev.select(col("event_id"), col("ts")), "ts",
          intervals, "start_ts", "end_ts")
        .groupBy(col("signup_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("signup_id"))
    }),

    // ---- similarity search ----
    "sim_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // metadata-filtered vector search: the predicate prunes the
    // corpus scan BEFORE any cosine (pre-filter, not post-filter)
    "sim_filtered_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.filteredTopK(emb, emb.filter(col("vec_id") < 20), 5,
          col("label") === 1)
        .orderBy(col("query_id"), col("rank"))
    }),

    // hard-negative mining: per query, the top-k most-similar corpus
    // vectors with a DIFFERENT label (contrastive-training negatives)
    "sim_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 20), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // margin-based bitext candidate mining (Artetxe & Schwenk 2019):
    // mutual nearest neighbors between the two id-parity "sides",
    // scored by cosine over the mean of each side's k-NN cosines
    "sim_bitext_margin" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bitextMine(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1), k = 4)
    }),

    "sim_neardup_pairs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineNearDupPairs(emb.filter(col("vec_id") < 100), 0.3)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 4).as("sim"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    "sim_sq8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 20), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_pq_topk" -> ((s, dir) => {
      // product-quantized ADC retrieval: corpus persisted as 8 codes
      // per vector (32x compression), integer-exact scoring
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 20), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_matryoshka_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.matryoshkaTopK(emb, emb.filter(col("vec_id") < 20), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 20), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_lsh_neardup" -> ((s, dir) =>
      Similarity.lshNearDupPairs(t(s, dir, "embeddings"), 0.3)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 4).as("sim"))
        .orderBy(col("vec_a"), col("vec_b"))),

    "pipeline_embedding_dedup" -> ((s, dir) => {
      // the embedding-side dedup pipeline as ONE plan: SRP-LSH
      // candidate pairs (single bucket-key shuffle) -> exact-cosine
      // verify -> star-contraction components (O(log n) rounds) ->
      // per-cluster survivor stats. The vector twin of
      // pipeline_training_manifest's text path.
      val emb = t(s, dir, "embeddings")
      val pairs = Similarity.lshNearDupPairs(emb, 0.3)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      Dedup.starContractComponents(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max(col("id")).as("max_member"))
        .orderBy(col("component"))
    }),

    "sim_recall_report" -> ((s, dir) => {
      // ANN quality evaluation as a query: recall@5 of the SRP-LSH
      // index against exact brute-force ground truth, per query vector
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val brute = Similarity.bruteForceTopK(emb, queries, 5)
        .select(col("query_id"), col("neighbor_id"))
      val lsh = Similarity.lshTopK(emb, queries, 5)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
      val hits = brute.join(lsh,
          col("query_id") === col("qid") && col("neighbor_id") === col("nid"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0)
            .as("recall_at_5"))
        .orderBy(col("query_id"))
    }),

    // Learned-KMeans IVF: OFFICIALLY rows-only in the driver gate
    // (r12 verdict item 8 — no oracleSql entry) because the learned
    // coarse quantizer's recall gap (measured 0.5-0.7 recall@5 at
    // nprobe=4/16 on this near-uniform synthetic corpus) is precisely
    // the approximation the operator trades for pruning, and no SQL
    // oracle can replay a learned model. Determinism (seeded init), a
    // recall floor, and the exact output schema are spec-pinned
    // (IvfLearnedSpec); the deterministic twin sim_ivf_det_topk
    // hash-gates the probe-pruning shape itself.
    "sim_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val index = Similarity.buildIvf(emb, nCentroids = 16)
      val ivf = Similarity.ivfTopK(index, queries, 5, nprobe = 4)
      // r6 verdict item 4: the measured recall@5 vs exact ground
      // truth rides IN the output (every row carries the one corpus-
      // level number), so the driver's schema gate pins the column
      // and a quantizer regression moves recall_ppm, not a vibe. The
      // oracle's exact top-k carries 1000000 there — the hash gap IS
      // the documented recall gap. Cost: brute force over the same
      // 20 broadcast queries sim_recall_report already pays for.
      val brute = Similarity.bruteForceTopK(emb, queries, 5)
        .select(col("query_id"), col("neighbor_id"))
      val recall = ivf.select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(brute.agg(count(lit(1)).as("n_true")))
        // degenerate-corpus guard: an empty ground-truth set would
        // NULL the division on Spark while the oracle hard-codes the
        // literal — raise loudly instead of decode-failing downstream
        .select(when(col("n_true") > 0,
            expr("(n_hits * 1000000) div n_true"))
          .otherwise(raise_error(lit(
            "sim_ivf_topk: empty brute-force ground truth")).cast("long"))
          .as("recall_ppm"))
      ivf.crossJoin(broadcast(recall))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ivf_det_topk" -> ((s, dir) => {
      // the probe-pruning IVF shape under a deterministic (stride-
      // sampled) coarse quantizer — fully hash-gated, unlike the
      // learned-KMeans sim_ivf_topk
      val emb = t(s, dir, "embeddings")
      Similarity.ivfDetTopK(emb, emb.filter(col("vec_id") < 20), 5,
          stride = 29, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // incremental IVF maintenance: a batch of new vectors assigned to
    // the EXISTING index's centroids — batch-sized work, the indexed
    // corpus never moves
    "sim_ivf_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfDetAppend(emb.filter(col("vec_id") < 400),
          emb.filter(col("vec_id") >= 400), stride = 29)
        .orderBy(col("vec_id"))
    }),

    // per-dimension distribution drift between two corpus slices —
    // the re-index trigger; exact integer cross-multiplied shifts
    "sim_embedding_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.embeddingDrift(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1))
    }),

    // exact join-output cardinality without running the join — the
    // pre-flight skew/explosion check before a big self-join
    "q_join_size_estimate" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Relational.joinSizeEstimate(ev, "user_id",
        ev.filter(col("event_type") === "purchase"), "user_id", topK = 20)
    }),

    // out-of-order lateness profile — the watermark-sizing evidence;
    // running event-time max via the decomposed PrefixAgg
    "cdc_late_arrivals" -> ((s, dir) =>
      CdcOps.latenessProfile(t(s, dir, "events"))),

    // per-user OLS trend slope as an exact (num, den) integer pair
    "ts_trend_slope" -> ((s, dir) =>
      graft.operators.TimeSeries.trendSlope(t(s, dir, "events"))),

    // truncated half-life EWMA per series (exact partial head windows)
    "ts_ewma_smooth" -> ((s, dir) =>
      graft.operators.TimeSeries.ewmaSmooth(t(s, dir, "events"))),

    // (day-of-week, hour) load profile; arithmetic dow, no date fns
    "ts_seasonal_profile" -> ((s, dir) =>
      graft.operators.TimeSeries.seasonalProfile(t(s, dir, "events"))),

    // deterministic Lloyd k-means on the sq8 lattice — the hash-gated
    // twin of sim_ivf_topk's learned coarse quantizer
    "sim_kmeans_assign" -> ((s, dir) =>
      Similarity.kmeansAssign(t(s, dir, "embeddings"))),

    // k-anonymity equivalence classes over (lang, source, length bin)
    "text_k_anonymity" -> ((s, dir) =>
      TextOps.kAnonymity(t(s, dir, "documents"))),

    // generalization ladder: coarsest bin width reaching k-anonymity
    "text_k_anonymity_ladder" -> ((s, dir) =>
      TextOps.kAnonymityLadder(t(s, dir, "documents"))),

    // cell-conditioned z-score: anomalous for ITS OWN (dow, hour) cell
    "ts_seasonal_anomalies" -> ((s, dir) =>
      graft.operators.TimeSeries.seasonalAnomalies(t(s, dir, "events"))),

    // Bernoulli-sample SUM estimate vs exact, per type (AQP audit)
    "sketch_sample_sum_audit" -> ((s, dir) =>
      graft.operators.Sketches.sampleSumAudit(t(s, dir, "events"),
        "event_type", "event_id",
        floor(col("value") * 1048576.0).cast("long"))),

    // Morton (Z-order) layout plan: per-file row count + the exact
    // (user, half-minute-of-day) rectangle its min/max stats expose
    "layout_zorder" -> ((s, dir) =>
      graft.operators.Layout.zorderLayout(t(s, dir, "events"),
        pmod(col("user_id"), lit(1024L)),
        expr("(hour(ts) * 60 + minute(ts)) div 2"),
        bits = 10, fileBits = 6)),

    // PPJoin prefix-filtered EXACT set-similarity self-join: lossless
    // (spec-pinned equal to brute force), pair work bounded by rare-
    // shingle collisions — the exact counterpart of the maxDf cap
    "dedup_ppjoin_exact" -> ((s, dir) =>
      Dedup.ppjoinExactPairs(t(s, dir, "documents"), tNum = 1, tDen = 2)
        .orderBy(col("doc_a"), col("doc_b"))),

    // per-dimension embedding corpus profile on the sq8 lattice
    "sim_dim_stats" -> ((s, dir) =>
      Similarity.dimStats(t(s, dir, "embeddings"))),

    // exact dimension-pair covariance lattice (redundancy / PCA input)
    "sim_dim_covariance" -> ((s, dir) =>
      Similarity.dimCovariance(
        t(s, dir, "embeddings").filter(col("vec_id") < 200))),

    // referential-integrity audit over the star schema FK edges
    "q_fk_integrity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      Relational.fkIntegrity(Seq(
          ("lineitem.orderkey", li, "l_orderkey", ord, "o_orderkey"),
          ("lineitem.partkey", li, "l_partkey", t(s, dir, "part"),
            "p_partkey"),
          ("lineitem.suppkey", li, "l_suppkey", t(s, dir, "supplier"),
            "s_suppkey"),
          ("orders.custkey", ord, "o_custkey", t(s, dir, "customer"),
            "c_custkey"),
          ("customer.nationkey", t(s, dir, "customer"), "c_nationkey",
            t(s, dir, "nation"), "n_nationkey")))
        .orderBy(col("fk_edge"))
    }),

    // functional-dependency violation profile: declared FDs that hold
    // (unique keys, snowflake edges) next to ones real data breaks —
    // one keyed two-level distinct aggregate per FD, 1-row rollups
    "q_fd_violations" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val docs = t(s, dir, "documents")
      Relational.fdViolations(Seq(
          ("orders.orderkey->custkey", t(s, dir, "orders"),
            Seq("o_orderkey"), "o_custkey"),
          ("lineitem.order+line->partkey", t(s, dir, "lineitem"),
            Seq("l_orderkey", "l_linenumber"), "l_partkey"),
          ("nation.key->regionkey", t(s, dir, "nation"),
            Seq("n_nationkey"), "n_regionkey"),
          ("events.user->type", ev, Seq("user_id"), "event_type"),
          ("documents.doc->lang", docs, Seq("doc_id"), "lang"),
          ("documents.source->lang", docs, Seq("source"), "lang")))
        .orderBy(col("fd"))
    }),

    // binned point-in-interval join: per-user click sessions (+10 min,
    // island-merged) attributed with the purchases that fall inside —
    // the range predicate rides a bin equi-key, so the plan is a hash
    // join, never BroadcastNestedLoopJoin (plan-asserted)
    "q_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val sessions = CdcOps.mergeIntervals(
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), Cols.epochUs(col("ts")).as("start_us"),
              (Cols.epochUs(col("ts")) + 600000000L).as("end_us"),
              col("event_id")),
          "user_id", "start_us", "end_us", "event_id")
        .select(col("user_id"), col("span_start"), col("span_end"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), Cols.epochUs(col("ts")).as("p_us"),
          col("value"))
      Relational.binnedIntervalJoin(purchases, "p_us", sessions,
          "span_start", "span_end", 600000000L, keys = Seq("user_id"))
        .groupBy(col("user_id"), col("span_start"), col("span_end"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("purchase_value"))
        .orderBy(col("user_id"), col("span_start"))
    }),

    // skew-salted dimension join: row-identical to the plain join
    // (the oracle IS the plain join), hot fact keys spread over 8
    // salt buckets; dim replicated 8x pre-shuffle
    "q_salted_join" -> ((s, dir) =>
      Relational.saltedJoin(
          t(s, dir, "lineitem")
            .select(col("l_suppkey"), col("l_orderkey"),
              col("l_linenumber"), col("l_extendedprice"),
              col("l_discount")),
          "l_suppkey",
          t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          "s_suppkey", saltBuckets = 8,
          saltExpr = xxhash64(col("l_orderkey"), col("l_linenumber")))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount").cast("decimal(12,2)")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("s_nationkey"))),

    // exact integer power iteration on the covariance lattice: the
    // top principal direction, bit-reproducible (no normalization,
    // DECIMAL throughout) — only the moment pass touches the corpus
    "sim_pca_power" -> ((s, dir) =>
      Similarity.pcaPowerIteration(
        t(s, dir, "embeddings").filter(col("vec_id") < 200), iters = 3)),

    // principal-axis outlier triage: exact decimal projections onto
    // the power-iteration direction, top-20 most extreme vectors
    "sim_pca_scores" -> ((s, dir) =>
      Similarity.pcaScores(
        t(s, dir, "embeddings").filter(col("vec_id") < 200),
        iters = 3, topK = 20)),

    // ranking-window battery: peer-based ranks over a tied order,
    // ntile over the tie-broken order (determinism gotcha dodged)
    "q_window_ranks" -> ((s, dir) =>
      Relational.windowRankFunctions(t(s, dir, "lineitem"))),

    // hot-key skew diagnosis (the decision input for q_salted_join's
    // remedy): top-10 hottest join keys with skew factor
    "q_skew_profile" -> ((s, dir) =>
      Relational.hotKeyProfile(t(s, dir, "events"), "user_id", topK = 10)),

    // FLAGSHIP (release artifact): the dataset data card — corpus
    // volume, language/source mix, exact-dup rate, stream shape,
    // embedding health, one ~13-row oracle-replayable report
    "pipeline_data_card" -> ((s, dir) =>
      Report.dataCard(t(s, dir, "documents"), t(s, dir, "events"),
        t(s, dir, "embeddings"))),

    // incremental JOIN-view maintenance (the join sibling of
    // cdc_agg_maintenance): V2 = (V1 minus delta keys) union
    // (delta mirror join dim); oracle computes the direct T2 join
    "cdc_join_maintenance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dim = ev.groupBy(col("user_id"))
        .agg(min(Cols.epochUs(col("ts"))).as("first_seen_us"))
      CdcOps.joinViewDelta(ev, dim, offset1 = 6000L, offset2 = 8000L)
        .select(col("user_id"), col("event_id"),
          Cols.epochUs(col("ts")).as("ts_us"), col("event_type"),
          col("first_seen_us"))
        .orderBy(col("user_id"))
    }),

    // snapshot-diff CDC: the minimal I/U/D change set between the T1
    // and T2 mirrors — change-data-feed generation when no changelog
    // exists (law: applyDiff(m1, diff) == m2, spec-pinned)
    "cdc_snapshot_diff" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("action", graft.sources.AuditLogGenerator.action)
      val t1 = Cols.tsLit(ev, "ts", "2024-01-10 00:00:00")
      val t2 = Cols.tsLit(ev, "ts", "2024-01-20 00:00:00")
      CdcOps.snapshotDiff(
          CdcOps.snapshotAsOfWithActions(ev, t1),
          CdcOps.snapshotAsOfWithActions(ev, t2))
        .select(col("user_id"), col("diff_action"), col("event_id"),
          Cols.epochUs(col("ts")).as("ts_us"), col("event_type"),
          col("value"))
        .orderBy(col("user_id"))
    }),

    // gaps-and-islands interval coalesce: each event opens a 5-minute
    // half-open window; overlapping/touching windows merge per user
    "q_interval_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      CdcOps.mergeIntervals(
          ev.select(col("user_id"), Cols.epochUs(col("ts")).as("start_us"),
            (Cols.epochUs(col("ts")) + 300000000L).as("end_us"),
            col("event_id")),
          "user_id", "start_us", "end_us", "event_id")
        .select(col("user_id"), col("span_start").as("span_start_us"),
          col("span_end").as("span_end_us"), col("n_intervals"))
        .orderBy(col("user_id"), col("span_start_us"))
    }),

    // Bloom-prefiltered semi-join: fact rows screened by a broadcast
    // Bloom of the dim keys BEFORE the exchange; exact via the
    // closing semi-join (oracle is the plain semi-join)
    "q_bloom_prefilter" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val hi = t(s, dir, "orders")
        .filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"))
      graft.operators.Sketches.bloomPrefilterSemiJoin(
          li, hi, "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"))
        // quantity leaves as exact BIGINT cents (no DECIMAL at the
        // output edge — r6 verdict item 1): the decimal(12,2) sum is
        // internal, ×100 is lossless at scale 2
        .agg(count(lit(1)).as("n_items"),
          Cols.longEdge(sum(col("l_quantity").cast("decimal(12,2)")) * 100,
            "bloomPrefilter sum_qty_cents").as("sum_qty_cents"))
        .orderBy(col("l_returnflag"))
    }),

    // point-in-time enrichment — the feature-store leakage guard:
    // every click is joined to the SCD2 version of the user's state
    // (last purchase/error) that was current AT CLICK TIME, never a
    // later one. SCD2 versioning + the union-window as-of join; the
    // (user, instant) dedup keeps the highest version so same-instant
    // state flips resolve deterministically on both engines
    "cdc_pit_enrich" -> ((s, dir) =>
      CdcOps.pitEnrich(t(s, dir, "events"),
        stateFilter = col("event_type")
          .isin((EventGroups.Second ++ EventGroups.Third): _*),
        factFilter = col("event_type") === "click")),

    // temporal-aggregate reading of the SCD2 history: per state, how
    // long keys dwell there (open intervals closed at the horizon)
    "cdc_state_dwell" -> ((s, dir) =>
      CdcOps.stateDwell(t(s, dir, "events"),
        stateFilter = col("event_type")
          .isin((EventGroups.Second ++ EventGroups.Third): _*))),

    // zone-map audit over the natural write order: per row group
    // (event_id div 1024), min/max stats for event time and user id
    // plus skippability for one range predicate each — time zones are
    // tight (append order ⇒ most groups skip), user zones cover the
    // domain (nothing skips) — the measured case for the Z-order
    // rewrite next to layout_zorder
    "layout_zonemap" -> ((s, dir) =>
      graft.operators.Layout.zoneMap(t(s, dir, "events"),
        expr("event_id div 1024"),
        Cols.epochUs(col("ts")), 1704844800000000L, 1704931199999999L,
        col("user_id"), 10L, 19L)),

    // small-file compaction plan over the per-source file manifest
    // (each document stands in for one file of n_chars bytes)
    "layout_compaction_plan" -> ((s, dir) =>
      graft.operators.Layout.compactionPlan(
        t(s, dir, "documents").select(col("source").as("part"),
          col("doc_id").as("file_id"), col("n_chars").as("bytes")),
        smallBytes = 256L, targetBytes = 1024L)),

    // CUSUM changepoint per event type: the minute where the stream's
    // arrival rate deviates furthest from its own constant-rate line
    "ts_cusum_changepoint" -> ((s, dir) =>
      graft.operators.TimeSeries.cusumChangepoints(t(s, dir, "events"))),

    // hourly LOCF regularization of one day per user: fixed-step
    // series + staleness from the irregular stream (feature-builder
    // resampling; staleness is the carried-too-far refusal knob)
    "ts_gap_fill" -> ((s, dir) =>
      graft.operators.TimeSeries.gapFillLocf(t(s, dir, "events"),
        startUs = 1704844800000000L, points = 24,
        stepUs = 3600000000L)),

    // sketch-accuracy audit: HLL estimate vs exact NDV per key, the
    // estimator computed entirely on the integer lattice (no float)
    "sketch_hll_ndv_error" -> ((s, dir) =>
      graft.operators.Sketches.hllNdvError(t(s, dir, "events"))),

    // p50/p90/p99 BOUNDS per key from the mergeable log-histogram —
    // the O(bins) read path of the sketch-family quantile story
    "sketch_quantile_bounds" -> ((s, dir) =>
      graft.operators.Sketches.quantileBounds(t(s, dir, "events"))),

    // AMS sketch join-size estimate (nEst counters per table, no
    // keyed shuffle) audited against the exact keyed computation
    "sketch_ams_join_size" -> ((s, dir) =>
      graft.operators.Sketches.amsJoinSize(
        t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders"), "o_orderkey")),

    // 16-core of the user co-activity graph (hour×user bipartite
    // projection, ≥8 shared hours): peeling strips casually-connected
    // users; the core is the persistently co-active cluster
    "graph_cooccur_kcore" -> ((s, dir) =>
      Graph.kCore(
          Graph.cooccurrenceEdges(t(s, dir, "events"),
            date_trunc("hour", col("ts")), col("user_id"),
            minShared = 8L),
          k = 16)
        .withColumnRenamed("node", "user_id")),

    // common-neighbor link prediction on the kNN-sparsified
    // co-activity graph: user pairs that behave alike (many shared
    // strong neighbors) but are not themselves linked — the
    // "suggested link" primitive. The top-10 sparsification is the
    // scale guard: it bounds degree (and so wedge work) at any
    // population, where the raw threshold graph's degree grows
    // linearly with users
    "graph_link_prediction" -> ((s, dir) =>
      Graph.linkPrediction(
        Graph.topKNeighbors(
          Graph.cooccurrenceEdges(t(s, dir, "events"),
            date_trunc("hour", col("ts")), col("user_id"),
            minShared = 8L),
          k = 10),
        maxDeg = 512, minCommon = 4))
  )

  // DuckDB oracle equivalents (identical aliases / ordering). The
  // sketch family (simhash/minhash/LSH/rolling fingerprints/stub
  // features) hashes through h60 — the first 15 md5 hex digits as a
  // 60-bit long — precisely so these queries are recomputable from
  // DuckDB builtins and fully hash-verified. The one query with no
  // oracle entry is sim_ivf_topk: its coarse quantizer is learned
  // (KMeans), which no SQL oracle can replay — officially rows-only
  // since r13, schema + recall floor spec-pinned (see the query's
  // registration comment).
  /** Shared CTE body (no `WITH` prefix — composable into larger
    * chains) for the URL queries: synthesize the four crawl variants
    * (twin of [[synthUrl]]), then replay [[TextOps.urlCanonical]]
    * stage by stage. Ends with relation
    * `ucanon(doc_id, url, scheme, host, path, ps)`. */
  private val UrlCanonCte: String =
    s"""udocs AS (SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'HTTP://WWW.Example' || CAST(doc_id % 5 AS VARCHAR) || '.COM:80/Articles/' || CAST(doc_id % 11 AS VARCHAR) || '/?utm_source=feed&b=2&a=1#frag'
               WHEN 1 THEN 'http://www.example' || CAST(doc_id % 5 AS VARCHAR) || '.com/Articles/' || CAST(doc_id % 11 AS VARCHAR) || '?a=1&b=2&fbclid=abc123'
               WHEN 2 THEN 'http://www.example' || CAST(doc_id % 5 AS VARCHAR) || '.com:8080/Articles/' || CAST(doc_id % 11 AS VARCHAR) || '/'
               ELSE 'https://Example' || CAST(doc_id % 5 AS VARCHAR) || '.com:443/search?q=' || CAST(doc_id % 11 AS VARCHAR) || '&ref=sidebar&gclid=1&q2=x'
             END AS url FROM documents),
         up AS (SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '(?s)#.*\\z', '') AS nofrag
           FROM udocs),
         uq AS (SELECT doc_id, url, scheme,
             lower(regexp_extract(nofrag, '^([^/?]*)', 1)) AS auth,
             regexp_replace(nofrag, '^[^/?]*', '') AS rest FROM up),
         ur AS (SELECT doc_id, url, scheme,
             CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80\\z', '')
                  WHEN scheme = 'https' THEN regexp_replace(auth, ':443\\z', '')
                  ELSE auth END AS host,
             regexp_replace(regexp_replace(rest, '(?s)\\?.*\\z', ''), '/+\\z', '') AS path,
             regexp_extract(rest, '(?s)\\?(.*)\\z', 1) AS query FROM uq),
         ucanon AS (SELECT doc_id, url, scheme, host, path,
             list_sort(list_filter(string_split(query, '&'),
               x -> x <> '' AND NOT regexp_matches(x, '${TextOps.UrlTrackingParam}'))) AS ps
           FROM ur)"""

  /** Shared CTE body (no `WITH` prefix) replaying
    * [[graft.operators.TextOps.lmScoreHeldout]]: h60 ccnet split,
    * train-side bigram LM (counts + both marginals + total), held-out
    * scoring with floor-log₂ bits, unigram backoff (+4) and OOV flat
    * 20. Ends with relation
    * `lmscore(doc_id, n_bigrams, sum_bits, mean_bits_ppm)`. */
  private val LmHeldoutCte: String =
    s"""lmt AS (SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ccnet'),
               1, 15))::BIGINT % 100 < 50 AS is_train,
             regexp_extract_all(lower(coalesce(text, '')),
               '[a-z]+') AS w
           FROM documents),
         lmbg AS (SELECT doc_id, is_train,
             unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
           FROM lmt WHERE len(w) >= 2),
         lmpd AS (SELECT doc_id, is_train, w1, w2, count(*) AS m
           FROM lmbg GROUP BY 1, 2, 3, 4),
         lmc AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c
           FROM lmpd WHERE is_train GROUP BY 1, 2),
         lml AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_w1
           FROM lmc GROUP BY 1),
         lmr AS (SELECT w2, CAST(sum(c) AS BIGINT) AS c_w2
           FROM lmc GROUP BY 1),
         lmn AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM lmc),
         lmh AS (SELECT p.doc_id, p.m,
             coalesce(
               CAST(length(bin(l.c_w1 // c.c)) - 1 AS BIGINT),
               CAST(length(bin(n.n_total // r.c_w2)) - 1 + 4
                 AS BIGINT),
               20) AS bits
           FROM lmpd p
           LEFT JOIN lmc c USING (w1, w2)
           LEFT JOIN lml l ON p.w1 = l.w1 AND c.c IS NOT NULL
           LEFT JOIN lmr r ON p.w2 = r.w2
           CROSS JOIN lmn n
           WHERE NOT p.is_train),
         lmscore AS (SELECT doc_id,
             CAST(sum(m) AS BIGINT) AS n_bigrams,
             CAST(sum(m * bits) AS BIGINT) AS sum_bits,
             (CAST(sum(m * bits) AS BIGINT) * 1000000)
               // CAST(sum(m) AS BIGINT) AS mean_bits_ppm
           FROM lmh GROUP BY doc_id)"""

  /** Shared CTE body (no `WITH` prefix) for the archive family:
    * render each document's WARC response record (twin of
    * [[cdxRendered]] + [[graft.operators.Warc.responseRecord]]) and
    * its CDX byte offsets. Ends with relation
    * `aidx(doc_id, file_id, url, urlkey, offset, length, record)`.
    * `strlen` is DuckDB's UTF-8 BYTE length of a VARCHAR — the twin
    * of Spark's `length(encode(..., 'UTF-8'))`. */
  private val ArchiveCte: String =
    s"""anl AS (SELECT chr(13) || chr(10) AS nl),
       arecs AS (SELECT doc_id, doc_id % 20 AS file_id,
           'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.com/ar/' || CAST(doc_id AS VARCHAR) AS url,
           'HTTP/1.1 200 OK' || nl || 'Content-Type: text/html; charset=utf-8' || nl || nl || coalesce(text, '') AS block,
           coalesce(text, '') AS body
         FROM documents, anl),
       arend AS (SELECT doc_id, file_id, url,
           'WARC/1.1' || nl || 'WARC-Type: response' || nl
           || 'WARC-Target-URI: ' || url || nl
           || 'WARC-Date: 2026-08-01T00:00:00Z' || nl
           || 'Content-Type: application/http;msgtype=response' || nl
           || 'WARC-Payload-Digest: md5:' || md5(body) || nl
           || 'Content-Length: ' || CAST(strlen(block) AS VARCHAR) || nl || nl
           || block || nl || nl AS record
         FROM arecs, anl),
       aidx AS (SELECT doc_id, file_id, url,
           'com,site' || CAST(doc_id % 20 AS VARCHAR) || ')/ar/' || CAST(doc_id AS VARCHAR) AS urlkey,
           CAST(COALESCE(SUM(strlen(record)) OVER (PARTITION BY file_id ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset",
           CAST(strlen(record) AS BIGINT) AS length, record
         FROM arend)"""

  /** Shared CTE body (no `WITH` prefix) replaying
    * [[graft.operators.Robots.robotsRules]] over the [[synthRobots]]
    * fixture: explode lines, strip comments, extract field/value,
    * window-assign groups (a User-agent line after a non-UA line
    * starts one), join group agents to group rules. Ends with
    * relation `rulestab(host, group_id, agent, directive, value,
    * rule_ord)`. */
  private lazy val RobotsRulesCte: String =
    s"""rhosts AS (SELECT DISTINCT doc_id % 20 AS h FROM documents),
       rdocs AS (SELECT 'site' || CAST(h AS VARCHAR) || '.com' AS host,
           CASE CAST(h % 4 AS INT)
             WHEN 0 THEN '$RobotsTxt0'
             WHEN 1 THEN '$RobotsTxt1'
             WHEN 2 THEN '$RobotsTxt2'
             ELSE '' END AS robots_txt
         FROM rhosts),
       rlines AS (SELECT host, unnest(range(len(ls))) AS ln, unnest(ls) AS raw
         FROM (SELECT host, string_split(robots_txt, chr(10)) AS ls FROM rdocs)),
       rfield AS (SELECT host, ln,
           lower(regexp_extract(clean, '^([A-Za-z][A-Za-z-]*)[ \\t]*:', 1)) AS field,
           trim(regexp_extract(clean, '^[A-Za-z][A-Za-z-]*[ \\t]*:(.*)', 1)) AS value
         FROM (SELECT host, ln, trim(regexp_replace(raw, '#.*', '')) AS clean
               FROM rlines)),
       rmark AS (SELECT host, ln, field, value, (field = 'user-agent') AS is_ua,
           (field = 'user-agent' AND NOT coalesce(
             lag(field = 'user-agent') OVER (PARTITION BY host ORDER BY ln),
             FALSE)) AS new_group
         FROM rfield
         WHERE field IN ('user-agent', 'allow', 'disallow', 'crawl-delay')),
       rgrp AS (SELECT host, ln, field, value, is_ua,
           CAST(SUM(CASE WHEN new_group THEN 1 ELSE 0 END)
             OVER (PARTITION BY host ORDER BY ln ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS group_id
         FROM rmark),
       rulestab AS (SELECT a.host, a.group_id, a.agent, r.directive,
           r.value, r.rule_ord
         FROM (SELECT host, group_id, lower(value) AS agent
               FROM rgrp WHERE is_ua) a
         JOIN (SELECT host, group_id, CAST(ln AS BIGINT) AS rule_ord,
                 field AS directive, value FROM rgrp WHERE NOT is_ua) r
           ON a.host = r.host AND a.group_id = r.group_id)"""

  /** Shared CTE body (no `WITH` prefix; requires `rulestab` from
    * [[RobotsRulesCte]]) replaying
    * [[graft.operators.Robots.robotsHostIndex]]'s agent selection for
    * `graftbot` and the LIKE-pattern translation. Ends with relations
    * `rmine` (selected rows) and `rpath(host, value, is_allow,
    * like_pat)`. */
  private lazy val RobotsSelectCte: String =
    s"""rmine AS (SELECT * FROM (
           SELECT *, max(CASE WHEN agent = 'graftbot' THEN 1 ELSE 0 END)
               OVER (PARTITION BY host) AS hx
           FROM rulestab)
         WHERE (hx = 1 AND agent = 'graftbot') OR (hx = 0 AND agent = '*')),
       rpath AS (SELECT host, value,
           (directive = 'allow') AS is_allow,
           CASE WHEN ends_with(value, '$$') THEN body ELSE body || '%' END AS like_pat
         FROM (SELECT host, directive, value,
                 replace(replace(replace(replace(
                   CASE WHEN ends_with(value, '$$')
                        THEN substr(value, 1, length(value) - 1)
                        ELSE value END,
                   '\\', '\\\\'), '%', '\\%'), '_', '\\_'), '*', '%') AS body
               FROM rmine
               WHERE directive IN ('allow', 'disallow') AND value <> ''))"""

  def oracleSql: Map[String, String] = {
    // regex constants carrying single quotes (attribute-quoting
    // alternates) need SQL-literal doubling when interpolated
    def sq(p: String): String = p.replace("'", "''")
    val firstIn = EventGroups.First.map(x => s"'$x'").mkString("(", ", ", ")")
    val allIn = EventGroups.All.map(x => s"'$x'").mkString("(", ", ", ")")
    val stopIn = TextOps.EnglishStopwords.map(x => s"'$x'").mkString("(", ", ", ")")
    val norm = s"trim(regexp_replace(lower(coalesce(text, '')), '${TextOps.SpaceRun}', ' ', 'g'))"
    val discPrice = "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))"
    val toks = s"regexp_extract_all(coalesce(text, ''), '${TextOps.NonSpace}+')"
    // BPE pattern quoted for SQL (leading ' doubled)
    val bpeSql = "'" + TextOps.BpePattern.replace("'", "''") + "'"
    val wtoks = "regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')"
    // Chained-CTE replay of the BPE training loop (text_bpe_learn /
    // text_bpe_fertility): w0 = sentinelized char-level vocab; per
    // round r, p_r counts adjacent pairs, t_r takes the deterministic
    // top-1, w_r applies it with a plain left-to-right replace — the
    // same greedy semantics as the Spark side's Sent-string replace.
    // MATERIALIZED throughout: each w_r is referenced twice (p_{r+1}
    // and w_{r+1}) and DuckDB's CTE inlining would otherwise make the
    // plan exponential in rounds (the r6 k-core lesson).
    def bpeCtes(merges: Int): String = {
      val sb = new StringBuilder
      sb.append(s"""w0 AS MATERIALIZED (
           SELECT word, freq,
                  regexp_replace(word, '(?s)(.)',
                                 chr(1) || '\\1' || chr(2), 'g') AS s
           FROM (SELECT word, count(*) AS freq FROM (
                   SELECT unnest(regexp_extract_all(coalesce(text, ''),
                     $bpeSql)) AS word FROM documents)
                 WHERE NOT regexp_matches(word, '^${TextOps.SpaceRun}$$')
                   AND NOT contains(word, chr(1))
                   AND NOT contains(word, chr(2))
                 GROUP BY word))""")
      for (r <- 1 to merges) {
        sb.append(s""",
         p$r AS MATERIALIZED (
           SELECT l[i] AS a, l[i + 1] AS b,
                  CAST(sum(freq) AS BIGINT) AS cnt
           FROM (SELECT freq, l,
                   unnest(generate_series(1, CAST(len(l) - 1 AS BIGINT)))
                     AS i
                 FROM (SELECT freq,
                         regexp_extract_all(s, '\\x01([^\\x01\\x02]+)\\x02', 1) AS l
                       FROM w${r - 1}))
           GROUP BY a, b),
         t$r AS MATERIALIZED (
           SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         w$r AS MATERIALIZED (
           SELECT word, freq,
             CASE WHEN (SELECT count(*) FROM t$r) = 0 THEN s
                  ELSE replace(s,
                    (SELECT chr(1) || a || chr(2) || chr(1) || b || chr(2)
                     FROM t$r),
                    (SELECT chr(1) || a || b || chr(2) FROM t$r)) END AS s
           FROM w${r - 1})""")
      }
      sb.toString
    }
    val bpeMergeRows = (1 to 8).map(r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_round, a AS left_sym,
            b AS right_sym, a || b AS merged, cnt AS pair_count
          FROM t$r""").mkString("\n UNION ALL ")
    val nstop = s"len(list_filter($wtoks, t -> t IN $stopIn))"
    // quality score (matches TextOps.qualityScore): length gate +
    // mean-token-length gate + stopword-density gate, averaged
    // the three quality gates as a 0..3 count; quality = gates / 3
    // (domain_cap uses the raw count — dividing by 3 and multiplying
    // back is not double-exact for 2/3)
    val qualityGates =
      s"""((CASE WHEN length(text) BETWEEN 20 AND 100000 THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN CAST(coalesce(list_sum(list_transform($wtoks, t -> length(t))), 0) AS DOUBLE)
                              / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) BETWEEN 2.0 AND 12.0
                           THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN CAST($nstop AS DOUBLE) / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) > 0.01
                           THEN 1.0 ELSE 0.0 END))"""
    val qualityExpr = s"$qualityGates / 3.0"
    val cos = "list_dot_product(q, n) / " +
      "(sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(n, n)))"

    // h60: first 15 md5 hex digits as a 60-bit long (= Spark's
    // conv(substr(md5(x),1,15),16,10) and graft.functions.H60.hash)
    def h60(x: String) = s"('0x'||substr(md5($x),1,15))::BIGINT"

    // corpus-adaptive banded pHash CTE chain (= Multimodal.
    // adaptivePhashBits + bandedPhash at bands=4, targetBucketSize=64):
    // bandbits = smallest b in [6,15] with 2^b >= count/64 (else 15),
    // exactly the Scala ceil-log2 clamp. Ends with relation
    // banded(doc_id, ph, band, bv).
    val phashBandedCtes =
      s"""bb AS (SELECT CAST(coalesce((SELECT min(b)
                            FROM range(6, 16) t(b)
                            WHERE (1::BIGINT << CAST(b AS INT)) >=
                              greatest(1,
                                (SELECT count(*) FROM documents) // 64)),
                          15) AS INT) AS bandbits),
                m AS (SELECT doc_id, md5(text) AS ck FROM documents),
                ph AS (SELECT doc_id,
                         CAST(list_sum(list_transform(range(4 * bandbits), i ->
                           CASE WHEN ${h60("ck || ':' || CAST(i AS VARCHAR)")}
                                     % 20001 - 10000 > 0
                                THEN (1::BIGINT << CAST(i AS INT))
                                ELSE 0 END)) AS BIGINT) AS ph
                       FROM m CROSS JOIN bb),
                banded AS (SELECT doc_id, ph, CAST(j AS INT) AS band,
                                  (ph >> CAST(j * bandbits AS INT))
                                    & ((1::BIGINT << bandbits) - 1) AS bv
                           FROM ph CROSS JOIN bb CROSS JOIN range(4) t(j))"""
    // ... plus the stop-bucket guard (buckets > 4096 dropped whole) and
    // the verified candidate pairs (= Multimodal.phashNearDupPairs)
    val phashCandCtes =
      s"""$phashBandedCtes,
                hot AS (SELECT band, bv FROM banded
                        GROUP BY band, bv HAVING count(*) > 4096),
                kept AS (SELECT k.doc_id, k.ph, k.band, k.bv
                         FROM banded k LEFT JOIN hot h
                           ON k.band = h.band AND k.bv = h.bv
                         WHERE h.band IS NULL),
                cand AS (SELECT DISTINCT x.doc_id AS doc_a,
                                y.doc_id AS doc_b,
                                x.ph AS ph_a, y.ph AS ph_b
                         FROM kept x JOIN kept y
                           ON x.band = y.band AND x.bv = y.bv
                          AND x.doc_id < y.doc_id)"""

    // the WIDE (two-word, 120-bit) banded pHash at static bits=120,
    // bands=4 (= Multimodal.bandedPhashWide): 30-bit bands, 2 per
    // 60-bit word; word w packs global bit salts [w*60, w*60+60) from
    // position 0, so the per-bit form is the identical h60 expression
    // as the narrow CTE with the global index in the salt
    val phashWideBandedCtes =
      s"""wdocs AS (SELECT doc_id, text FROM documents
                    WHERE doc_id % 5 = 0
                    UNION ALL
                    SELECT doc_id + 10000000, text FROM documents
                    WHERE doc_id % 50 = 0),
                m AS (SELECT doc_id, md5(text) AS ck FROM wdocs),
                ph AS (SELECT doc_id,
                         CAST(list_sum(list_transform(range(60), i ->
                           CASE WHEN ${h60("ck || ':' || CAST(i AS VARCHAR)")}
                                     % 20001 - 10000 > 0
                                THEN (1::BIGINT << CAST(i AS INT))
                                ELSE 0 END)) AS BIGINT) AS ph0,
                         CAST(list_sum(list_transform(range(60), i ->
                           CASE WHEN ${h60("ck || ':' || CAST(i + 60 AS VARCHAR)")}
                                     % 20001 - 10000 > 0
                                THEN (1::BIGINT << CAST(i AS INT))
                                ELSE 0 END)) AS BIGINT) AS ph1
                       FROM m),
                banded AS (SELECT doc_id, ph0, ph1, CAST(j AS INT) AS band,
                                  CASE WHEN j < 2
                                    THEN (ph0 >> CAST(j * 30 AS INT))
                                           & ((1::BIGINT << 30) - 1)
                                    ELSE (ph1 >> CAST((j - 2) * 30 AS INT))
                                           & ((1::BIGINT << 30) - 1)
                                  END AS bv
                           FROM ph CROSS JOIN range(4) t(j))"""
    // ... plus the stop-bucket guard and the two-word Hamming verify
    // (= Multimodal.phashNearDupPairsWide)
    val phashWideCandCtes =
      s"""$phashWideBandedCtes,
                hot AS (SELECT band, bv FROM banded
                        GROUP BY band, bv HAVING count(*) > 4096),
                kept AS (SELECT k.doc_id, k.ph0, k.ph1, k.band, k.bv
                         FROM banded k LEFT JOIN hot h
                           ON k.band = h.band AND k.bv = h.bv
                         WHERE h.band IS NULL),
                cand AS (SELECT DISTINCT x.doc_id AS doc_a,
                                y.doc_id AS doc_b,
                                x.ph0 AS a0, x.ph1 AS a1,
                                y.ph0 AS b0, y.ph1 AS b1
                         FROM kept x JOIN kept y
                           ON x.band = y.band AND x.bv = y.bv
                          AND x.doc_id < y.doc_id)"""

    // the composed keep/drop verdict (= TextOps.filterKeep), shared by
    // text_filter_verdict and the NB classifier label
    val keepSql =
      s"""(length(coalesce(text, '')) BETWEEN 20 AND 100000
           AND CAST(coalesce(list_sum(list_transform($wtoks, t -> length(t))), 0) AS DOUBLE)
               / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) BETWEEN 2.0 AND 12.0
           AND CAST($nstop AS DOUBLE) / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) > 0.01)"""
    // Naive-Bayes classifier CTE chain (= TextOps.nbClassifier /
    // nbScore): model counts from the h60-even train half, floor-bit
    // scores on `scoreScope` (the held-out half for the classifier
    // queries; every doc for the corpus-build pipeline); ends with
    // relation `nb(doc_id, label_keep, n_tokens, bits_keep, bits_drop,
    // predicted_keep)`
    def nbCtesScoring(scoreScope: String) = {
      val split = s"${h60("CAST(doc_id AS VARCHAR) || ':nbsplit'")} % 100 < 50"
      val priorK = "(length(bin((n_train + 2) // (n_keep_docs + 1))) - 1)"
      val priorD =
        "(length(bin((n_train + 2) // (n_train - n_keep_docs + 1))) - 1)"
      s"""d AS (SELECT doc_id, $keepSql AS label_keep, $wtoks AS wt,
                       $split AS is_train
                FROM documents),
          occ AS (SELECT doc_id, label_keep, is_train, unnest(wt) AS tok
                  FROM d),
          cnt AS (SELECT tok,
                         CAST(sum(CASE WHEN label_keep THEN 1 ELSE 0 END) AS BIGINT) AS c_keep,
                         CAST(sum(CASE WHEN label_keep THEN 0 ELSE 1 END) AS BIGINT) AS c_drop
                  FROM occ WHERE is_train GROUP BY tok),
          tot AS (SELECT CAST(coalesce(sum(c_keep), 0) AS BIGINT) AS n_keep_toks,
                         CAST(coalesce(sum(c_drop), 0) AS BIGINT) AS n_drop_toks,
                         CAST(count(*) AS BIGINT) AS v FROM cnt),
          pri AS (SELECT CAST(count(*) AS BIGINT) AS n_train,
                         CAST(coalesce(sum(CASE WHEN label_keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_keep_docs
                  FROM d WHERE is_train),
          pd AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS m
                 FROM occ WHERE $scoreScope GROUP BY doc_id, tok),
          sb AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
                        CAST(sum(m * (length(bin((n_keep_toks + v) // (coalesce(c_keep, 0) + 1))) - 1)) AS BIGINT) AS tb_keep,
                        CAST(sum(m * (length(bin((n_drop_toks + v) // (coalesce(c_drop, 0) + 1))) - 1)) AS BIGINT) AS tb_drop
                 FROM pd LEFT JOIN cnt USING (tok), tot
                 GROUP BY doc_id),
          nb AS (SELECT d.doc_id, d.label_keep,
                        CAST(coalesce(sb.n_tokens, 0) AS BIGINT) AS n_tokens,
                        CAST($priorK + coalesce(sb.tb_keep, 0) AS BIGINT) AS bits_keep,
                        CAST($priorD + coalesce(sb.tb_drop, 0) AS BIGINT) AS bits_drop,
                        ($priorK + coalesce(sb.tb_keep, 0))
                          < ($priorD + coalesce(sb.tb_drop, 0)) AS predicted_keep
                 FROM d LEFT JOIN sb ON d.doc_id = sb.doc_id, pri
                 WHERE $scoreScope)"""
    }
    val nbCtes = nbCtesScoring("NOT is_train")
    // Hashed-ngram quality classifier CTE chain (= TextOps
    // .hashedQualityWeights / hashedQualityScore): unigram+bigram
    // grams hashed to h60(gram) % nBuckets, floor-bit NB log-odds as
    // the DENSE linear weight vector, every doc scored; ends with
    // relations qw(bucket, c_keep, c_drop, w) and qsc(doc_id,
    // label_keep, is_train, n_grams, score)
    def qhCtes(nBuckets: Int) = {
      val split =
        s"${h60("CAST(doc_id AS VARCHAR) || ':qhsplit'")} % 100 < 50"
      s"""qd AS (SELECT doc_id, $keepSql AS label_keep,
                 $wtoks AS wt, $split AS is_train FROM documents),
          qg AS (SELECT doc_id, label_keep, is_train,
                 unnest(wt || list_transform(
                   generate_series(1, greatest(len(wt) - 1, 0)),
                   i -> wt[i] || '_' || wt[i+1])) AS gram
                 FROM qd),
          qm AS (SELECT doc_id, label_keep, is_train,
                 ${h60("gram")} % $nBuckets AS bucket,
                 CAST(count(*) AS BIGINT) AS m
                 FROM qg GROUP BY ALL),
          qcnt AS (SELECT bucket,
                 CAST(coalesce(sum(CASE WHEN label_keep THEN m END), 0)
                   AS BIGINT) AS c_keep,
                 CAST(coalesce(sum(CASE WHEN NOT label_keep THEN m END), 0)
                   AS BIGINT) AS c_drop
                 FROM qm WHERE is_train GROUP BY bucket),
          qtot AS (SELECT CAST(coalesce(sum(c_keep), 0) AS BIGINT) AS nk,
                 CAST(coalesce(sum(c_drop), 0) AS BIGINT) AS nd,
                 CAST(count(*) AS BIGINT) AS v FROM qcnt),
          qw AS (SELECT b.bucket,
                 CAST(coalesce(c.c_keep, 0) AS BIGINT) AS c_keep,
                 CAST(coalesce(c.c_drop, 0) AS BIGINT) AS c_drop,
                 CAST((length(bin((nd + v) // (coalesce(c.c_drop, 0) + 1))) - 1)
                   - (length(bin((nk + v) // (coalesce(c.c_keep, 0) + 1))) - 1)
                   AS BIGINT) AS w
                 FROM (SELECT range AS bucket FROM range($nBuckets)) b
                 LEFT JOIN qcnt c USING (bucket), qtot),
          qpri AS (SELECT
                 CAST((length(bin((n_train + 2) // (n_train - n_keep + 1))) - 1)
                   - (length(bin((n_train + 2) // (n_keep + 1))) - 1)
                   AS BIGINT) AS w0
                 FROM (SELECT CAST(count(*) AS BIGINT) AS n_train,
                       CAST(coalesce(sum(CASE WHEN label_keep THEN 1
                         ELSE 0 END), 0) AS BIGINT) AS n_keep
                       FROM qd WHERE is_train)),
          qsc AS (SELECT d.doc_id, d.label_keep, d.is_train,
                 CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
                 CAST(p.w0 + coalesce(s.dot, 0) AS BIGINT) AS score
                 FROM qd d
                 LEFT JOIN (SELECT doc_id,
                       CAST(sum(m) AS BIGINT) AS n_grams,
                       CAST(sum(m * w) AS BIGINT) AS dot
                     FROM qm JOIN qw USING (bucket) GROUP BY doc_id) s
                   ON d.doc_id = s.doc_id, qpri p)"""
    }
    // word-3-shingle set of the normalized text (matches Dedup.shingleSets)
    val shingles =
      s"""CASE WHEN len(string_split($norm, ' ')) >= 3
               THEN list_distinct(list_transform(
                 generate_series(1, len(string_split($norm, ' ')) - 2),
                 i -> string_split($norm, ' ')[i] || ' ' ||
                      string_split($norm, ' ')[i+1] || ' ' ||
                      string_split($norm, ' ')[i+2]))
               ELSE [array_to_string(string_split($norm, ' '), ' ')]
          END"""
    // word-k-shingle set for arbitrary k (matches Dedup.shingleSets(k))
    def shinglesSqlOn(normExpr: String, k: Int): String = {
      val terms = (0 until k).map(j => s"string_split($normExpr, ' ')[i+$j]")
        .mkString(" || ' ' || ")
      s"""CASE WHEN len(string_split($normExpr, ' ')) >= $k
               THEN list_distinct(list_transform(
                 generate_series(1, len(string_split($normExpr, ' ')) - ${k - 1}),
                 i -> $terms))
               ELSE [array_to_string(string_split($normExpr, ' '), ' ')]
          END"""
    }
    def shinglesSql(k: Int): String = shinglesSqlOn(norm, k)
    // normalizedAlnum: punctuation AND whitespace runs -> one space
    val normp =
      "trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g'))"

    // MinHash permutation coefficients (identical to H60.permA/permB)
    val permA = (0 until 32).map(graft.functions.H60.permA).mkString("[", ", ", "]")
    val permB = (0 until 32).map(graft.functions.H60.permB).mkString("[", ", ", "]")
    // sigⱼ = min over shingles of (aⱼ·(h60(e) mod P) + bⱼ) mod P, P = 2³¹−1
    def sigExpr(s: String) =
      s"""list_transform(range(32), j -> list_min(list_transform($s,
            e -> (($permA)[CAST(j AS INT)+1] * (${h60("e")} % 2147483647)
                  + ($permB)[CAST(j AS INT)+1]) % 2147483647)))"""
    // SRP hyperplane matrix literal (identical to
    // VectorExpressions.planeMatrix(8, 64))
    val srpMat = graft.functions.VectorExpressions.planeMatrix(8, 64)
      .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    // winnowing fingerprints of an aliased text column `t` (matches
    // RollingPolyFpExpr: poly hash base 1000003 mod 2^31-1 over 8-byte
    // windows, sampled h % 4 == 0, distinct, sorted)
    val rollingFps =
      """list_sort(list_distinct(list_filter(
           CASE WHEN length(t) <= 8 THEN
             [CASE WHEN length(t) = 0 THEN 0
                   ELSE list_reduce(list_transform(range(1, length(t)+1),
                          i -> CAST(ord(substr(t, CAST(i AS INT), 1)) AS BIGINT)),
                        (a, c) -> (a * 1000003 + c) % 2147483647) END]
           ELSE list_transform(range(1, length(t) - 8 + 2),
                  s -> list_reduce(list_transform(range(8),
                         o -> CAST(ord(substr(t, CAST(s + o AS INT), 1)) AS BIGINT)),
                       (a, c) -> (a * 1000003 + c) % 2147483647))
           END, h -> h % 4 = 0)))"""
    // the full MinHash-LSH near-dup pipeline as shared CTEs ending in
    // `pairs` (candidates from 8 band buckets, verified with exact
    // shingle Jaccard >= 0.1) — used by dedup_minhash_lsh and the
    // connected-components clustering on top of it
    def lshPairCtesFrom(src: String) =
      s"""sh AS (SELECT doc_id, $shingles AS s FROM $src),
          sigs AS (SELECT doc_id, ${sigExpr("s")} AS sig FROM sh),
          bk AS (SELECT doc_id, b,
                   ${h60("CAST(b AS VARCHAR) || ':' || array_to_string(" +
                     "list_transform(list_slice(sig, CAST(b*4+1 AS INT), " +
                     "CAST(b*4+4 AS INT)), z -> CAST(z AS VARCHAR)), ',')")} AS bucket
                 FROM sigs, (SELECT unnest(range(8)) AS b) bands),
          cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                   FROM bk x JOIN bk y
                     ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
          pairs AS (SELECT doc_a, doc_b,
                      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
                    FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b
                    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.1)"""
    val lshPairCtes = lshPairCtesFrom("documents")
    // hour×user co-occurrence projection (the Spark side is
    // Graph.cooccurrenceEdges: distinct (hour, user), per-hour
    // self-join, pair count ≥ 8; no hour exceeds the 1024 group cap
    // at oracle scale, mirrored here by omission)
    val cooccurCtes =
      """gi AS MATERIALIZED (SELECT DISTINCT date_trunc('hour', ts) AS g,
                               user_id AS item FROM events),
         cooc AS MATERIALIZED (SELECT x.item AS src, y.item AS dst,
                                 count(*) AS shared
                               FROM gi x JOIN gi y
                                 ON x.g = y.g AND x.item < y.item
                               GROUP BY 1, 2 HAVING count(*) >= 8)"""

    Map(
      "cdc_offset_discovery" ->
        s"SELECT max(event_id) AS max_event_id FROM events WHERE event_type IN $firstIn",

      "cdc_range_scan" ->
        s"""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
            FROM events
            WHERE event_id > 100 AND event_id <= 5000 AND event_type IN $allIn
            ORDER BY event_id""",

      "cdc_pipe_format" ->
        """SELECT event_id,
                  concat_ws('|', event_id, epoch_us(ts), user_id, event_type,
                            CAST(value AS DECIMAL(18,2)), props) AS line
           FROM events ORDER BY event_id""",

      "cdc_distinct_txids" ->
        s"SELECT DISTINCT user_id FROM events WHERE event_type IN $firstIn ORDER BY user_id",

      "cdc_commit_enrich" ->
        """SELECT e.event_id, e.user_id, epoch_us(d.commit_ts) AS commit_ts_us
           FROM events e
           JOIN (SELECT user_id, max(ts) AS commit_ts FROM events GROUP BY user_id) d
             ON e.user_id = d.user_id
           ORDER BY e.event_id""",

      "pipeline_cdc_mirror" ->
        s"""WITH log AS (SELECT * FROM events
                         WHERE event_id > 100 AND event_id <= 5000
                           AND event_type IN $firstIn),
                 dim AS (SELECT user_id, max(ts) AS commit_ts
                         FROM log GROUP BY user_id),
                 en AS (SELECT l.*, d.commit_ts
                        FROM log l JOIN dim d ON l.user_id = d.user_id)
            SELECT event_type, count(*) AS n_events,
                   bit_xor(${h60("concat_ws('|', event_id, epoch_us(ts), " +
                     "user_id, event_type, CAST(value AS DECIMAL(18,2)), " +
                     "epoch_us(commit_ts))")}) AS checksum,
                   epoch_us(max(commit_ts)) AS watermark_us
            FROM en GROUP BY event_type ORDER BY event_type""",

      "cdc_txids_by_minute" ->
        """SELECT epoch_us(date_trunc('minute', ts)) AS minute_us,
                  array_to_string(list_sort(list(DISTINCT user_id)), ',') AS txids
           FROM events GROUP BY date_trunc('minute', ts) ORDER BY minute_us""",

      "cdc_watermark" ->
        "SELECT epoch_us(max(ts)) AS uptodate_us FROM events",

      "cdc_running_watermark" ->
        """SELECT event_id,
                  epoch_us(max(ts) OVER (ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS uptodate_us
           FROM events ORDER BY event_id""",

      "cdc_staleness" ->
        """SELECT event_id,
                  (SELECT epoch_us(max(ts)) FROM events)
                  - epoch_us(max(ts) OVER (ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS staleness_us
           FROM events ORDER BY event_id""",

      "cdc_throughput_minute" ->
        """SELECT epoch_us(date_trunc('minute', ts)) AS minute_us,
                  count(*) AS n_events, count(DISTINCT user_id) AS n_txids
           FROM events GROUP BY date_trunc('minute', ts) ORDER BY minute_us""",

      "cdc_rates" ->
        """SELECT event_type, count(*) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
           FROM events GROUP BY event_type ORDER BY event_type""",

      "q1_pricing_summary" ->
        s"""SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum($discPrice) AS DOUBLE) AS sum_disc_price,
                   CAST(sum(CAST($discPrice * (1 + CAST(l_tax AS DECIMAL(12,2))) AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
                   CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",

      "q3_shipping_priority" ->
        s"""SELECT l_orderkey,
                   CAST(sum($discPrice) AS DOUBLE) AS revenue,
                   epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10""",

      "q5_region_revenue" ->
        s"""SELECT n_name, CAST(sum($discPrice) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name""",

      "q6_forecast_revenue" ->
        """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
                     CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount >= CAST(0.05 AS DOUBLE)
              AND l_discount <= CAST(0.07 AS DOUBLE)
              AND l_quantity < 24""",

      "q7_nation_volume" ->
        s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INT) AS l_year,
                   CAST(sum($discPrice) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year""",

      "q8_market_share" ->
        s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   CAST(sum(CASE WHEN sn.n_name = 'NATION_3' THEN $discPrice
                            ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
                   CAST(sum($discPrice) AS DOUBLE) AS mkt_share
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region ON cn.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            WHERE r_name = 'ASIA'
            GROUP BY o_year
            ORDER BY o_year""",

      "q9_profit_nation" ->
        s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
                   CAST(sum(CAST($discPrice -
                     CAST(CAST(p_retailprice AS DECIMAL(12,2)) *
                          CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(18,4))
                     AS DECIMAL(22,4))) AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%1%'
            GROUP BY n_name, o_year
            ORDER BY n_name, o_year DESC""",

      "q10_returned_items" ->
        s"""SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(sum($discPrice) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20""",

      "q14_promo_revenue" ->
        s"""SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN $discPrice
                            ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
                   CAST(sum($discPrice) AS DOUBLE) AS promo_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""",

      "q18_large_orders" ->
        """SELECT c_name, c_custkey, o_orderkey,
                   epoch_us(o_orderdate) AS o_orderdate_us, o_totalprice, sum_qty
            FROM (SELECT l_orderkey,
                    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey) big
            JOIN orders ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE sum_qty > 120.0
            ORDER BY o_totalprice DESC, o_orderkey""",

      "q_moving_avg" ->
        s"""WITH daily AS (
              SELECT CAST(datediff('day', DATE '1995-01-01',
                       CAST(l_shipdate AS DATE)) AS INT) AS day_no,
                     sum($discPrice) AS rev
              FROM lineitem GROUP BY day_no)
            SELECT day_no, CAST(rev AS DOUBLE) AS revenue,
                   CAST(sum(rev) OVER w AS DOUBLE) / count(*) OVER w AS ma7
            FROM daily
            WINDOW w AS (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            ORDER BY day_no""",

      "q_skew_salted_join" ->
        """SELECT p_brand,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand ORDER BY p_brand""",

      "q_skew_two_phase" ->
        """SELECT l_suppkey, count(*) AS n FROM lineitem
            GROUP BY l_suppkey ORDER BY l_suppkey""",

      "q_set_intersect" ->
        """SELECT o_custkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
            INTERSECT
            SELECT o_custkey AS key FROM orders WHERE o_orderpriority = '5-LOW'
            ORDER BY key""",

      "q_pivot" ->
        """SELECT l_linestatus,
                   CAST(sum(CASE WHEN l_returnflag = 'A'
                     THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS "A",
                   CAST(sum(CASE WHEN l_returnflag = 'N'
                     THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS "N",
                   CAST(sum(CASE WHEN l_returnflag = 'R'
                     THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS "R"
            FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",

      "cdc_table_checksums" ->
        s"""SELECT event_type, count(*) AS n_events,
                   min(event_id) AS min_id, max(event_id) AS max_id,
                   bit_xor(${h60("concat_ws('|', event_id, epoch_us(ts), " +
                     "user_id, event_type, CAST(value AS DECIMAL(18,2)), props)")})
                     AS checksum
            FROM events GROUP BY event_type ORDER BY event_type""",

      "cdc_health_report" ->
        s"""SELECT event_type, count(*) AS n_events,
                   count(*) - count(DISTINCT event_id) AS n_redelivered,
                   min(event_id) AS min_id, max(event_id) AS max_id,
                   max(event_id) - min(event_id) + 1
                     - count(DISTINCT event_id) AS n_absent_in_span,
                   count(DISTINCT user_id) AS n_users,
                   epoch_us(min(ts)) AS first_us,
                   epoch_us(max(ts)) AS last_us,
                   bit_xor(${h60("concat_ws('|', event_id, epoch_us(ts), " +
                     "user_id, event_type, CAST(value AS DECIMAL(18,2)), props)")})
                     AS checksum
            FROM events GROUP BY event_type ORDER BY event_type""",

      "text_ngram_novelty" ->
        s"""WITH sh AS (SELECT doc_id, ${shinglesSql(8)} AS s FROM documents),
                 g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
                 f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
            SELECT doc_id, count(*) AS n_grams,
                   CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_novel
            FROM g JOIN f USING (gram)
            GROUP BY doc_id ORDER BY doc_id""",

      "text_rare_bigrams" ->
        s"""WITH sh AS (SELECT doc_id, ${shinglesSql(2)} AS s FROM documents),
                 g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
                 f AS (SELECT gram, count(*) AS dfreq FROM g GROUP BY gram)
            SELECT doc_id, count(*) AS n_bigrams,
                   CAST(sum(CASE WHEN dfreq < 3 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_rare
            FROM g JOIN f USING (gram)
            GROUP BY doc_id ORDER BY doc_id""",

      "text_kn_bigrams" ->
        """WITH t AS (SELECT regexp_extract_all(lower(coalesce(text, '')),
                               '[a-z]+') AS w
                      FROM documents),
                bg AS (SELECT unnest(w[1:len(w)-1]) AS w1,
                              unnest(w[2:len(w)]) AS w2
                       FROM t WHERE len(w) >= 2),
                c AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
                l AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_w1,
                             count(*) AS n1p_w1x
                      FROM c GROUP BY 1),
                r AS (SELECT w2, count(*) AS n1p_xw2 FROM c GROUP BY 1)
           SELECT w1, w2, c, c_w1, n1p_w1x, n1p_xw2
           FROM c JOIN l USING (w1) JOIN r USING (w2)
           ORDER BY c DESC, w1, w2 LIMIT 100""",

      "text_lm_heldout" ->
        s"""WITH $LmHeldoutCte
           SELECT doc_id, n_bigrams, sum_bits, mean_bits_ppm
           FROM lmscore ORDER BY doc_id""",

      "pipeline_ccnet_buckets" ->
        s"""WITH $LmHeldoutCte,
            lmb AS (SELECT doc_id, n_bigrams, mean_bits_ppm,
                CASE WHEN mean_bits_ppm < 4400000 THEN 'head'
                  WHEN mean_bits_ppm >= 4470000 THEN 'tail'
                  ELSE 'middle' END AS bucket
              FROM lmscore)
            SELECT bucket, COUNT(*) AS n_docs,
              CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
              MIN(mean_bits_ppm) AS min_ppm,
              MAX(mean_bits_ppm) AS max_ppm
            FROM lmb GROUP BY bucket ORDER BY bucket""",

      "text_bigram_surprisal" ->
        """WITH t AS (SELECT doc_id,
                        regexp_extract_all(lower(coalesce(text, '')),
                          '[a-z]+') AS w
                      FROM documents),
                bg AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1,
                              unnest(w[2:len(w)]) AS w2
                       FROM t WHERE len(w) >= 2),
                pd AS (SELECT doc_id, w1, w2, count(*) AS m
                       FROM bg GROUP BY 1, 2, 3),
                c AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c
                      FROM pd GROUP BY 1, 2),
                l AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_w1
                      FROM c GROUP BY 1),
                b AS (SELECT doc_id, m,
                        CAST(length(bin(c_w1 // c)) - 1 AS BIGINT) AS bits
                      FROM pd JOIN c USING (w1, w2) JOIN l USING (w1))
           SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
                  CAST(sum(m * bits) AS BIGINT) AS sum_bits,
                  (CAST(sum(m * bits) AS BIGINT) * 1000000)
                    // CAST(sum(m) AS BIGINT) AS mean_bits_ppm
           FROM b GROUP BY doc_id ORDER BY doc_id""",

      "text_pii_scrub" ->
        s"""SELECT doc_id,
                   trim(regexp_replace(regexp_replace(regexp_replace(
                     regexp_replace(regexp_replace(coalesce(text, ''),
                       '${TextOps.UrlPattern}', '<URL>', 'g'),
                       '${TextOps.EmailPattern}', '<EMAIL>', 'g'),
                       '${TextOps.Ipv4Pattern}', '<IP>', 'g'),
                       '${TextOps.PhonePattern}', '<PHONE>', 'g'),
                       '${TextOps.SpaceRun}', ' ', 'g')) AS scrubbed
            FROM documents ORDER BY doc_id""",

      "text_zipf_profile" ->
        """WITH c AS (SELECT unnest(regexp_extract_all(
                        lower(coalesce(text, '')), '[a-z]+')) AS tok
                      FROM documents),
                tc AS (SELECT tok, count(*) AS c FROM c GROUP BY tok)
           SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS freq_bits,
                  count(*) AS n_terms, CAST(sum(c) AS BIGINT) AS n_tokens
           FROM tc GROUP BY freq_bits ORDER BY freq_bits""",

      "text_pmi_collocations" ->
        """WITH t AS (SELECT regexp_extract_all(lower(coalesce(text, '')),
                               '[a-z]+') AS w
                      FROM documents),
                bg AS (SELECT unnest(w[1:len(w)-1]) AS w1,
                              unnest(w[2:len(w)]) AS w2
                       FROM t WHERE len(w) >= 2),
                c AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2),
                l AS (SELECT w1, CAST(sum(c_ab) AS HUGEINT) AS c_a
                      FROM c GROUP BY 1),
                r AS (SELECT w2, CAST(sum(c_ab) AS HUGEINT) AS c_b
                      FROM c GROUP BY 1),
                tot AS (SELECT CAST(sum(c_a) AS HUGEINT) AS n_total FROM l),
                sc AS (SELECT w1, w2, c_ab,
                         (n_total * c_ab) // (c_a * c_b) AS ratio
                       FROM c JOIN l USING (w1) JOIN r USING (w2), tot
                       WHERE c_ab >= 5)
           SELECT w1, w2, c_ab,
                  CAST(length(bin(CAST(ratio AS BIGINT))) - 1 AS BIGINT)
                    AS pmi_bits,
                  CAST(ratio AS BIGINT) AS ratio_floor
           FROM sc WHERE ratio >= 1
           ORDER BY ratio_floor DESC, c_ab DESC, w1, w2 LIMIT 50""",

      "text_source_overlap" ->
        s"""WITH sh AS (SELECT doc_id, ${shinglesSql(3)} AS s FROM documents),
                 g AS (SELECT DISTINCT source, gram FROM
                        (SELECT d.source, unnest(sh.s) AS gram
                         FROM sh JOIN documents d USING (doc_id)))
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS n_shared
            FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
            GROUP BY source_a, source_b
            ORDER BY source_a, source_b""",

      "q11_important_parts" ->
        s"""WITH per AS (SELECT l_partkey,
                           CAST(sum($discPrice) AS DECIMAL(28,4)) AS value_dec
                         FROM lineitem GROUP BY l_partkey),
                 tot AS (SELECT CAST(sum(value_dec) AS DECIMAL(38,4))
                           AS total_dec FROM per)
            SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
            FROM per, tot WHERE value_dec * 1000 > total_dec
            ORDER BY part_value DESC, l_partkey""",

      "q20_dominant_suppliers" ->
        """WITH sp AS (SELECT l_suppkey, l_partkey,
                         sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty
                       FROM lineitem JOIN part ON l_partkey = p_partkey
                       WHERE p_name LIKE 'red%'
                       GROUP BY l_suppkey, l_partkey),
                pt AS (SELECT l_partkey, sum(qty) AS part_total
                       FROM sp GROUP BY l_partkey)
           SELECT s_suppkey, s_name, count(*) AS n_dominated
           FROM sp JOIN pt USING (l_partkey)
                   JOIN supplier ON l_suppkey = s_suppkey
           WHERE qty * 2 > part_total
           GROUP BY s_suppkey, s_name ORDER BY s_suppkey""",

      "text_top_terms" ->
        s"""WITH tok AS (SELECT doc_id, unnest($wtoks) AS term FROM documents),
                 tf AS (SELECT doc_id, term, count(*) AS tf
                        FROM tok GROUP BY doc_id, term),
                 df AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
                 r AS (SELECT doc_id, term, tf, dfreq,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY CAST(tf AS DOUBLE) / dfreq DESC, term)
                           AS rnk
                       FROM tf JOIN df USING (term))
            SELECT doc_id, term, tf, dfreq, rnk FROM r
            WHERE rnk <= 3 ORDER BY doc_id, rnk""",

      // BM25 on the integer lattice: floor-log2 idf, fraction-free
      // tf/length normalization (×10L), HUGEINT ≙ Spark DECIMAL(38,0)
      "text_bm25_topk" ->
        s"""WITH tok AS (SELECT doc_id, unnest($wtoks) AS term FROM documents),
                 dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
                 st AS (SELECT count(*) AS n_docs,
                               CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
                 tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
                        WHERE term IN ('spark','vector','window','customer')
                        GROUP BY 1, 2),
                 dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
                 sc AS (SELECT tf.doc_id,
                          length(bin((2*n_docs - 2*df + 1) // (2*df + 1))) AS w,
                          CAST((22 * CAST(tf AS HUGEINT) * total_len * 1000000)
                               // (10 * CAST(total_len AS HUGEINT) * tf
                                   + 3 * total_len
                                   + 9 * CAST(dl AS HUGEINT) * n_docs)
                               AS BIGINT) AS tfn
                        FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
                        CROSS JOIN st),
                 agg AS (SELECT doc_id, CAST(sum(w * tfn) AS BIGINT) AS score,
                                count(*) AS n_terms
                         FROM sc GROUP BY doc_id
                         ORDER BY score DESC, doc_id LIMIT 20)
            SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                     AS BIGINT) AS rank,
                   doc_id, score, n_terms
            FROM agg ORDER BY rank""",

      "text_diversity" ->
        s"""WITH ch AS (SELECT doc_id, unnest(regexp_extract_all($norm, '.'))
                          AS u FROM documents),
                 chc AS (SELECT doc_id, u, count(*) AS c
                         FROM ch GROUP BY doc_id, u),
                 chs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
                                count(*) AS n_chars_distinct,
                                CAST(sum(c*c) AS BIGINT) AS ss
                         FROM chc GROUP BY doc_id),
                 tk AS (SELECT doc_id, unnest($toks) AS u FROM documents),
                 tkc AS (SELECT doc_id, u, count(*) AS c
                         FROM tk GROUP BY doc_id, u),
                 tks AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                                count(*) AS n_tokens_distinct,
                                CAST(sum(c*c) AS BIGINT) AS ss
                         FROM tkc GROUP BY doc_id)
            SELECT doc_id, n_chars, n_chars_distinct,
                   1.0 - CAST(chs.ss AS DOUBLE) / (n_chars * n_chars)
                     AS chars_simpson,
                   n_tokens, n_tokens_distinct,
                   1.0 - CAST(tks.ss AS DOUBLE) / (n_tokens * n_tokens)
                     AS tokens_simpson
            FROM chs JOIN tks USING (doc_id) ORDER BY doc_id""",

      "text_source_temperature" ->
        s"""WITH per AS (SELECT source, count(*) AS n_docs,
                           CAST(sum(len($toks)) AS BIGINT) AS n_tokens
                         FROM documents GROUP BY source),
                 w AS (SELECT source, n_docs, n_tokens,
                         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576)
                           AS BIGINT) AS w_q20
                       FROM per),
                 tot AS (SELECT CAST(sum(w_q20) AS BIGINT) AS w_total FROM w)
            SELECT source, n_docs, n_tokens, w_q20,
                   CAST((CAST(w_q20 AS HUGEINT) * 1000000) // w_total
                     AS BIGINT) AS share_ppm,
                   CAST((CAST(w_q20 AS HUGEINT) * 10000000) // w_total
                     AS BIGINT) AS target_tokens
            FROM w, tot ORDER BY source""",

      "sim_centroid_outliers" ->
        """WITH q AS (SELECT vec_id, label,
                        generate_subscripts(embedding, 1) AS d,
                        CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024)
                          AS BIGINT) AS qx
                      FROM embeddings),
                cent AS (SELECT label, d, CAST(sum(qx) AS BIGINT) AS s,
                                count(*) AS n
                         FROM q GROUP BY label, d),
                dist AS (SELECT vec_id, q.label,
                                CAST(sum((qx*n - s)*(qx*n - s)) AS BIGINT)
                                  AS dist2_xn2,
                                max(n) AS n_label
                         FROM q JOIN cent ON q.label = cent.label
                                         AND q.d = cent.d
                         GROUP BY vec_id, q.label),
                r AS (SELECT vec_id, label, dist2_xn2, n_label,
                        row_number() OVER (PARTITION BY label
                          ORDER BY dist2_xn2 DESC, vec_id) AS rnk
                      FROM dist)
           SELECT vec_id, label, dist2_xn2, n_label, rnk FROM r
           WHERE rnk <= 5 ORDER BY label, rnk""",

      "sketch_hll_users" ->
        s"""WITH h AS (SELECT event_type,
                         ${h60("CAST(user_id AS VARCHAR)")} AS h
                       FROM events),
                 b AS (SELECT event_type, h >> 54 AS bucket,
                              h & ((1::BIGINT << 54) - 1) AS rem
                       FROM h)
            SELECT event_type, bucket,
                   CAST(max(CASE WHEN rem = 0 THEN 55
                                 ELSE 55 - length(bin(rem)) END) AS BIGINT)
                     AS register
            FROM b GROUP BY event_type, bucket
            ORDER BY event_type, bucket""",

      "q_rank_family" ->
        """SELECT * FROM (
             SELECT o_orderpriority, o_orderkey, o_totalprice,
                    rank() OVER w AS rnk,
                    dense_rank() OVER w AS drnk,
                    percent_rank() OVER w AS prnk,
                    cume_dist() OVER w AS cdist
             FROM orders
             WINDOW w AS (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC))
           WHERE rnk <= 20
           ORDER BY o_orderpriority, rnk, o_orderkey""",

      "q_star_join" ->
        s"""SELECT r_name, p_type, count(*) AS n_lines,
                   count(DISTINCT s_suppkey) AS n_suppliers,
                   CAST(sum($discPrice) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY r_name, p_type
            ORDER BY r_name, p_type""",

      "q_unpivot" ->
        """SELECT * FROM (
             SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
                    l_quantity AS value FROM lineitem
             UNION ALL
             SELECT l_orderkey, l_linenumber, 'extendedprice',
                    l_extendedprice FROM lineitem
             UNION ALL
             SELECT l_orderkey, l_linenumber, 'discount', l_discount
             FROM lineitem)
           ORDER BY l_orderkey, l_linenumber, metric""",

      "dedup_fuzzy_pairs" ->
        s"""WITH p AS (SELECT doc_id, substr($norm, 1, 24) AS pfx
                       FROM documents),
                 b AS (SELECT doc_id, pfx, substr(pfx, 1, 8) AS blk FROM p),
                 c AS (SELECT *, count(*) OVER (PARTITION BY blk) AS bn
                       FROM b)
            SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                   CAST(levenshtein(a.pfx, b2.pfx) AS INT) AS dist
            FROM c a JOIN c b2 USING (blk)
            WHERE a.bn <= 64 AND a.doc_id < b2.doc_id
              AND levenshtein(a.pfx, b2.pfx) <= 5
            ORDER BY doc_a, doc_b""",

      "q_full_outer_daily" ->
        """WITH s AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_signup
                      FROM events WHERE event_type = 'signup'
                      GROUP BY day),
                p AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_purchase
                      FROM events WHERE event_type = 'purchase'
                      GROUP BY day)
           SELECT CAST(coalesce(s.day, p.day) AS VARCHAR) AS day,
                  coalesce(n_signup, 0) AS n_signup,
                  coalesce(n_purchase, 0) AS n_purchase
           FROM s FULL OUTER JOIN p ON s.day = p.day
           ORDER BY day""",

      "sketch_log_histogram" ->
        """WITH e AS (SELECT event_type,
                        CAST(floor(value * 1048576) AS BIGINT) AS q
                      FROM events),
                b AS (SELECT event_type, q,
                        CAST(CASE WHEN q > 0 THEN length(bin(q))
                                  WHEN q < 0 THEN -length(bin(-q))
                                  ELSE 0 END AS BIGINT) AS bin
                      FROM e)
           SELECT event_type, bin, count(*) AS n,
                  min(q) AS min_q, max(q) AS max_q
           FROM b GROUP BY event_type, bin
           ORDER BY event_type, bin""",

      "sketch_bloom_sources" ->
        """WITH pr AS (SELECT source, CAST(doc_id AS VARCHAR) AS v,
                         unnest([0, 1, 2]) AS i
                       FROM documents),
                p AS (SELECT source,
                        ('0x'||substr(md5(v || ':' || CAST(i AS VARCHAR)),
                          1, 15))::BIGINT % 1024 AS pos
                      FROM pr)
           SELECT source, pos // 64 AS word_idx,
                  CAST(bit_or(CASE WHEN pos % 64 = 63
                                   THEN (-9223372036854775807 - 1)
                                   ELSE 1::BIGINT << CAST(pos % 64 AS INT)
                              END) AS BIGINT) AS word
           FROM p GROUP BY 1, 2 ORDER BY source, word_idx""",

      "sketch_cms_heavy" ->
        s"""WITH tok AS (SELECT unnest($wtoks) AS term FROM documents),
                 tc AS (SELECT term, count(*) AS true_n FROM tok GROUP BY term),
                 pr AS (SELECT term, true_n, j AS row_idx,
                          ${h60("term || ':' || CAST(j AS VARCHAR)")} % 256 AS pos
                        FROM tc, (SELECT unnest(range(4)) AS j) rows_),
                 ctr AS (SELECT row_idx, pos,
                                CAST(sum(true_n) AS BIGINT) AS counter
                         FROM pr GROUP BY 1, 2),
                 cand AS (SELECT term, true_n FROM tc
                          ORDER BY true_n DESC, term LIMIT 30)
            SELECT c.term, c.true_n, min(ctr.counter) AS est_n
            FROM cand c
            JOIN pr ON pr.term = c.term
            JOIN ctr ON ctr.row_idx = pr.row_idx AND ctr.pos = pr.pos
            GROUP BY 1, 2 ORDER BY c.true_n DESC, c.term""",

      "cdc_scd2_history" ->
        """SELECT user_id, event_id, event_type,
                  epoch_us(ts) AS valid_from_us,
                  epoch_us(lead(ts) OVER w) AS valid_to_us,
                  row_number() OVER w AS version,
                  (lead(ts) OVER w IS NULL) AS is_current
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           ORDER BY user_id, version""",

      "cdc_version_prune" ->
        """WITH v AS (SELECT user_id, event_id,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY ts DESC, event_id DESC) AS rn
                      FROM events)
           SELECT user_id, count(*) AS n_versions,
                  CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_kept,
                  CAST(sum(CASE WHEN rn > 3 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_pruned,
                  min(CASE WHEN rn <= 3 THEN event_id END)
                    AS oldest_kept_offset,
                  max(CASE WHEN rn > 3 THEN event_id END)
                    AS newest_pruned_offset
           FROM v GROUP BY user_id ORDER BY user_id""",

      "cdc_agg_maintenance" ->
        """WITH b AS (SELECT user_id, count(*) AS n_before,
                        sum(CAST(value AS DECIMAL(18,2))) AS s_before
                      FROM events WHERE event_id <= 6000
                      GROUP BY user_id),
                d AS (SELECT user_id, count(*) AS n_delta,
                        sum(CAST(value AS DECIMAL(18,2))) AS s_delta
                      FROM events
                      WHERE event_id > 6000 AND event_id <= 8000
                      GROUP BY user_id)
           SELECT user_id,
                  coalesce(n_before, 0) AS n_before,
                  coalesce(n_delta, 0) AS n_delta,
                  coalesce(n_before, 0) + coalesce(n_delta, 0) AS n_after,
                  CAST(coalesce(s_before, 0) AS DOUBLE) AS sum_before,
                  CAST(coalesce(s_delta, 0) AS DOUBLE) AS sum_delta,
                  CAST(coalesce(s_before, 0) + coalesce(s_delta, 0)
                    AS DOUBLE) AS sum_after
           FROM b FULL OUTER JOIN d USING (user_id)
           ORDER BY user_id""",

      "q_window_values" ->
        """SELECT l_orderkey, l_linenumber,
                  first_value(epoch_us(l_shipdate)) OVER wf AS first_ship_us,
                  last_value(epoch_us(l_shipdate)) OVER wf AS last_ship_us,
                  nth_value(epoch_us(l_shipdate), 2) OVER wf AS second_ship_us,
                  lag(CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE),
                    1, -1.0) OVER w AS prev_qty,
                  lead(CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE),
                    1, -1.0) OVER w AS next_qty
           FROM lineitem
           WINDOW w AS (PARTITION BY l_orderkey
                        ORDER BY l_linenumber, l_partkey, l_suppkey,
                          l_extendedprice, l_quantity, l_shipdate),
                  wf AS (PARTITION BY l_orderkey
                         ORDER BY l_linenumber, l_partkey, l_suppkey,
                           l_extendedprice, l_quantity, l_shipdate
                         ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING)
           ORDER BY l_orderkey, l_linenumber""",

      "mm_shard_pack" ->
        """WITH m AS (SELECT doc_id,
                        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
                      FROM documents),
                p AS (SELECT doc_id, n_bytes,
                        coalesce(sum(n_bytes) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS pb
                      FROM m)
           SELECT doc_id, n_bytes, CAST(pb // 65536 AS BIGINT) AS shard_id
           FROM p ORDER BY doc_id""",

      "mm_phash_neardup" ->
        s"""WITH $phashCandCtes
           SELECT doc_a, doc_b,
                  CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
           FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= 3
           ORDER BY doc_a, doc_b""",

      "mm_audio_meta" ->
        s"""WITH m AS (SELECT doc_id,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                  ${h60("text")} AS h
                FROM documents)
           SELECT doc_id, n_bytes,
                  CAST(CASE WHEN h % 4 = 0 THEN 8000
                            WHEN h % 4 = 1 THEN 16000
                            WHEN h % 4 = 2 THEN 22050
                            ELSE 44100 END AS INT) AS sample_rate,
                  CAST((h >> 8) % 2 + 1 AS INT) AS channels,
                  CAST((h >> 16) % 480000 + 8000 AS BIGINT) AS n_frames,
                  CAST((((h >> 16) % 480000 + 8000) * 1000)
                    // (CASE WHEN h % 4 = 0 THEN 8000
                            WHEN h % 4 = 1 THEN 16000
                            WHEN h % 4 = 2 THEN 22050
                            ELSE 44100 END) AS BIGINT) AS duration_ms
           FROM m ORDER BY doc_id""",

      "mm_audio_energy" ->
        s"""WITH m AS (SELECT doc_id, md5(text) AS ck,
                  ${h60("text")} AS h FROM documents),
                fr AS (SELECT doc_id, ck,
                         ((h >> 16) % 480000 + 8000) AS n_frames
                       FROM m),
                blocks AS (SELECT doc_id, ck,
                             (n_frames // 16000 + 1) AS nb,
                             CAST(b AS BIGINT) AS b
                           FROM fr CROSS JOIN range(31) t(b)
                           WHERE b < n_frames // 16000 + 1),
                e AS (SELECT doc_id, nb, b,
                        ${h60("ck || ':aud:' || CAST(b AS VARCHAR)")}
                          % 10000 AS e
                      FROM blocks)
           SELECT doc_id, CAST(max(nb) AS BIGINT) AS n_blocks,
                  CAST(sum(e) AS BIGINT) AS energy_sum,
                  CAST(max(e * 1024 + (1023 - b)) // 1024 AS BIGINT)
                    AS peak_energy,
                  CAST(1023 - (max(e * 1024 + (1023 - b)) % 1024)
                    AS BIGINT) AS peak_block
           FROM e GROUP BY doc_id ORDER BY doc_id""",

      "mm_phash_bucket_stats" ->
        s"""WITH $phashBandedCtes,
                occ AS (SELECT band, bv, count(*) AS bn
                        FROM banded GROUP BY band, bv)
           SELECT band, CAST(sum(bn) AS BIGINT) AS n_docs,
                  count(*) AS n_buckets,
                  CAST(max(bn) AS BIGINT) AS max_bucket,
                  CAST(sum(CASE WHEN bn > 4096 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hot_buckets,
                  CAST(sum(CASE WHEN bn > 4096 THEN bn ELSE 0 END)
                    AS BIGINT) AS dropped_docs
           FROM occ GROUP BY band ORDER BY band""",

      "mm_phash_neardup_wide" ->
        s"""WITH $phashWideCandCtes
           SELECT doc_a, doc_b,
                  CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
                    AS BIGINT) AS hamming
           FROM cand
           WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) <= 3
           ORDER BY doc_a, doc_b""",

      "mm_hash64_neardup" ->
        s"""WITH wdocs AS (SELECT doc_id, text FROM documents
                    WHERE doc_id % 5 = 0
                    UNION ALL
                    SELECT doc_id + 10000000, text FROM documents
                    WHERE doc_id % 50 = 0),
                m AS (SELECT doc_id, md5(text) AS ck FROM wdocs),
                ph AS (SELECT doc_id,
                         ${h60("ck || ':w0'")} AS w0,
                         ${h60("ck || ':w1'")} AS w1
                       FROM m),
                banded AS (SELECT doc_id, w0, w1, CAST(j AS INT) AS band,
                                  CASE WHEN j < 3
                                    THEN (w0 >> CAST(j * 20 AS INT))
                                           & ((1::BIGINT << 20) - 1)
                                    ELSE w1 & ((1::BIGINT << 20) - 1)
                                  END AS bv
                           FROM ph CROSS JOIN range(4) t(j)),
                hot AS (SELECT band, bv FROM banded
                        GROUP BY band, bv HAVING count(*) > 4096),
                kept AS (SELECT k.doc_id, k.w0, k.w1, k.band, k.bv
                         FROM banded k LEFT JOIN hot h
                           ON k.band = h.band AND k.bv = h.bv
                         WHERE h.band IS NULL),
                cand AS (SELECT DISTINCT x.doc_id AS doc_a,
                                y.doc_id AS doc_b,
                                x.w0 AS a0, x.w1 AS a1,
                                y.w0 AS b0, y.w1 AS b1
                         FROM kept x JOIN kept y
                           ON x.band = y.band AND x.bv = y.bv
                          AND x.doc_id < y.doc_id)
           SELECT doc_a, doc_b,
                  CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
                    AS BIGINT) AS hamming
           FROM cand
           WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) <= 3
           ORDER BY doc_a, doc_b""",

      "mm_phash_bucket_stats_wide" ->
        s"""WITH $phashWideBandedCtes,
                occ AS (SELECT band, bv, count(*) AS bn
                        FROM banded GROUP BY band, bv)
           SELECT band, CAST(sum(bn) AS BIGINT) AS n_docs,
                  count(*) AS n_buckets,
                  CAST(max(bn) AS BIGINT) AS max_bucket,
                  CAST(sum(CASE WHEN bn > 4096 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hot_buckets,
                  CAST(sum(CASE WHEN bn > 4096 THEN bn ELSE 0 END)
                    AS BIGINT) AS dropped_docs
           FROM occ GROUP BY band ORDER BY band""",

      "pipeline_media_manifest" ->
        s"""WITH RECURSIVE
                $phashCandCtes,
                pairs AS (SELECT doc_a, doc_b FROM cand
                          WHERE bit_count(xor(ph_a, ph_b)) <= 3),
                edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                          UNION
                          SELECT doc_b AS src, doc_a AS dst FROM pairs),
                reach AS (SELECT src, dst FROM edges
                          UNION
                          SELECT r.src, e.dst
                          FROM reach r JOIN edges e ON r.dst = e.src),
                comp AS (SELECT src AS id, least(src, min(dst)) AS component
                         FROM reach GROUP BY src),
                surv AS (SELECT min(id) AS doc_id FROM comp
                         GROUP BY component),
                keep AS (SELECT d.doc_id FROM documents d
                         WHERE d.doc_id NOT IN (SELECT id FROM comp)
                         UNION ALL SELECT doc_id FROM surv),
                mm AS (SELECT d.doc_id,
                         CAST(octet_length(encode(d.text)) AS BIGINT)
                           AS n_bytes
                       FROM documents d JOIN keep USING (doc_id)),
                p AS (SELECT doc_id, n_bytes,
                        coalesce(sum(n_bytes) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS pb
                      FROM mm)
           SELECT doc_id, n_bytes, CAST(pb // 65536 AS BIGINT) AS shard_id
           FROM p ORDER BY doc_id""",

      "graph_type_hops" ->
        """WITH RECURSIVE
                seq AS (SELECT event_type,
                          lag(event_type) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS from_type
                        FROM events),
                e AS (SELECT DISTINCT from_type AS src,
                             event_type AS dst
                      FROM seq WHERE from_type IS NOT NULL),
                walk AS (SELECT 'click' AS node, 0 AS hops
                         UNION
                         SELECT e.dst, w.hops + 1
                         FROM walk w JOIN e ON e.src = w.node
                         WHERE w.hops < 4)
           SELECT node, CAST(min(hops) AS BIGINT) AS hops
           FROM walk GROUP BY node ORDER BY node""",

      "graph_type_pagerank" ->
        """WITH seq AS (SELECT event_type,
                          lag(event_type) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS from_type
                        FROM events),
                e AS (SELECT from_type AS src, event_type AS dst,
                        count(*) AS w
                      FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
                nodes AS (SELECT src AS node FROM e
                          UNION SELECT dst FROM e),
                outw AS (SELECT src, sum(w) AS wout FROM e GROUP BY src),
                r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_q
                       FROM nodes),
                c1 AS (SELECT e.dst,
                         sum((CAST(r.rank_q AS HUGEINT) * e.w) // o.wout) AS s
                       FROM r0 r JOIN e ON r.node = e.src
                         JOIN outw o ON e.src = o.src GROUP BY e.dst),
                r1 AS (SELECT node, CAST(150000000 +
                         (17 * coalesce(c1.s, 0)) // 20 AS BIGINT) AS rank_q
                       FROM nodes LEFT JOIN c1 ON node = c1.dst),
                c2 AS (SELECT e.dst,
                         sum((CAST(r.rank_q AS HUGEINT) * e.w) // o.wout) AS s
                       FROM r1 r JOIN e ON r.node = e.src
                         JOIN outw o ON e.src = o.src GROUP BY e.dst),
                r2 AS (SELECT node, CAST(150000000 +
                         (17 * coalesce(c2.s, 0)) // 20 AS BIGINT) AS rank_q
                       FROM nodes LEFT JOIN c2 ON node = c2.dst),
                c3 AS (SELECT e.dst,
                         sum((CAST(r.rank_q AS HUGEINT) * e.w) // o.wout) AS s
                       FROM r2 r JOIN e ON r.node = e.src
                         JOIN outw o ON e.src = o.src GROUP BY e.dst),
                r3 AS (SELECT node, CAST(150000000 +
                         (17 * coalesce(c3.s, 0)) // 20 AS BIGINT) AS rank_q
                       FROM nodes LEFT JOIN c3 ON node = c3.dst)
           SELECT node, rank_q FROM r3 ORDER BY node""",

      // personalized: init and teleport mass confined to the seed;
      // same unrolled HUGEINT rounds as graph_type_pagerank
      "graph_type_ppr" ->
        """WITH seq AS (SELECT event_type,
                          lag(event_type) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS from_type
                        FROM events),
                e AS (SELECT from_type AS src, event_type AS dst,
                        count(*) AS w
                      FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
                nodes AS (SELECT src AS node FROM e
                          UNION SELECT dst FROM e),
                outw AS (SELECT src, sum(w) AS wout FROM e GROUP BY src),
                r0 AS (SELECT node,
                         CAST(CASE WHEN node = 'purchase'
                              THEN 1000000000 ELSE 0 END AS BIGINT)
                           AS rank_q
                       FROM nodes),
                c1 AS (SELECT e.dst,
                         sum((CAST(r.rank_q AS HUGEINT) * e.w) // o.wout) AS s
                       FROM r0 r JOIN e ON r.node = e.src
                         JOIN outw o ON e.src = o.src GROUP BY e.dst),
                r1 AS (SELECT node, CAST(
                         CASE WHEN node = 'purchase'
                              THEN 150000000 ELSE 0 END
                         + (17 * coalesce(c1.s, 0)) // 20 AS BIGINT)
                           AS rank_q
                       FROM nodes LEFT JOIN c1 ON node = c1.dst),
                c2 AS (SELECT e.dst,
                         sum((CAST(r.rank_q AS HUGEINT) * e.w) // o.wout) AS s
                       FROM r1 r JOIN e ON r.node = e.src
                         JOIN outw o ON e.src = o.src GROUP BY e.dst),
                r2 AS (SELECT node, CAST(
                         CASE WHEN node = 'purchase'
                              THEN 150000000 ELSE 0 END
                         + (17 * coalesce(c2.s, 0)) // 20 AS BIGINT)
                           AS rank_q
                       FROM nodes LEFT JOIN c2 ON node = c2.dst),
                c3 AS (SELECT e.dst,
                         sum((CAST(r.rank_q AS HUGEINT) * e.w) // o.wout) AS s
                       FROM r2 r JOIN e ON r.node = e.src
                         JOIN outw o ON e.src = o.src GROUP BY e.dst),
                r3 AS (SELECT node, CAST(
                         CASE WHEN node = 'purchase'
                              THEN 150000000 ELSE 0 END
                         + (17 * coalesce(c3.s, 0)) // 20 AS BIGINT)
                           AS rank_q
                       FROM nodes LEFT JOIN c3 ON node = c3.dst)
           SELECT node, rank_q FROM r3 ORDER BY node""",

      "text_dup_spans" ->
        s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
                 s AS (SELECT doc_id, toks, len(toks) AS n
                       FROM d WHERE len(toks) >= 8),
                 st AS (SELECT doc_id, toks,
                          unnest(generate_series(1, CAST(n - 7 AS BIGINT)))
                            AS i
                        FROM s),
                 sp AS (SELECT doc_id,
                          md5(array_to_string(
                            list_slice(toks, i, i + 7), ' ')) AS fp
                        FROM st),
                 df AS (SELECT fp, count(DISTINCT doc_id) AS nd
                        FROM sp GROUP BY fp)
            SELECT doc_id, count(*) AS n_spans,
                   CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dup_spans,
                   (CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                     * 1000000) // count(*) AS dup_ppm
            FROM sp JOIN df USING (fp)
            GROUP BY doc_id ORDER BY doc_id""",

      "text_dup_spans_maximal" ->
        s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
                 s AS (SELECT doc_id, toks, len(toks) AS n
                       FROM d WHERE len(toks) >= 8),
                 st AS (SELECT doc_id, toks,
                          unnest(generate_series(1, CAST(n - 7 AS BIGINT)))
                            AS i
                        FROM s),
                 sp AS (SELECT doc_id, i,
                          md5(array_to_string(
                            list_slice(toks, i, i + 7), ' ')) AS fp
                        FROM st),
                 df AS (SELECT fp, count(DISTINCT doc_id) AS nd
                        FROM sp GROUP BY fp),
                 dup AS (SELECT doc_id, i FROM sp JOIN df USING (fp)
                         WHERE nd >= 2),
                 isl AS (SELECT doc_id, i,
                           i - row_number() OVER (PARTITION BY doc_id
                                                  ORDER BY i) AS grp
                         FROM dup),
                 runs AS (SELECT doc_id,
                            CAST(min(i) AS BIGINT) AS start_i,
                            CAST(count(*) + 7 AS BIGINT) AS span_tokens
                          FROM isl GROUP BY doc_id, grp)
            SELECT doc_id, count(*) AS n_runs,
                   CAST(max(span_tokens) AS BIGINT) AS max_span_tokens,
                   CAST(arg_max(start_i,
                     span_tokens * 2147483648 - start_i) AS BIGINT)
                     AS longest_start,
                   CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
            FROM runs GROUP BY doc_id ORDER BY doc_id""",

      "text_bpe_learn" ->
        s"""WITH ${bpeCtes(8)}
            SELECT * FROM ($bpeMergeRows) ORDER BY merge_round""",

      "text_bpe_fertility" ->
        s"""WITH ${bpeCtes(8)}
            SELECT n_vocab, n_words, n_chars, n_symbols,
                   (n_symbols * 1000000) // n_words AS syms_per_word_ppm,
                   (n_symbols * 1000000) // n_chars AS syms_per_char_ppm
            FROM (SELECT CAST(count(*) AS BIGINT) AS n_vocab,
                         CAST(sum(freq) AS BIGINT) AS n_words,
                         CAST(sum(freq * length(word)) AS BIGINT) AS n_chars,
                         CAST(sum(freq * len(regexp_extract_all(s,
                           '\\x01([^\\x01\\x02]+)\\x02', 1))) AS BIGINT) AS n_symbols
                  FROM w8)""",

      "text_repetition_ngrams" ->
        s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
                 s AS (SELECT doc_id, toks, len(toks) AS n FROM d),
                 g2 AS (SELECT doc_id,
                          toks[i] || ' ' || toks[i + 1] AS g
                        FROM (SELECT doc_id, toks,
                                unnest(generate_series(1,
                                  CAST(n - 1 AS BIGINT))) AS i
                              FROM s WHERE n >= 2)),
                 c2 AS (SELECT doc_id, g, count(*) AS c FROM g2
                        GROUP BY doc_id, g),
                 r2 AS (SELECT doc_id,
                          CAST(sum(c) AS BIGINT) AS n_2grams,
                          CAST(max(c) AS BIGINT) AS max_2
                        FROM c2 GROUP BY doc_id),
                 g4 AS (SELECT doc_id,
                          array_to_string(list_slice(toks, i, i + 3), ' ')
                            AS g
                        FROM (SELECT doc_id, toks,
                                unnest(generate_series(1,
                                  CAST(n - 3 AS BIGINT))) AS i
                              FROM s WHERE n >= 4)),
                 c4 AS (SELECT doc_id, g, count(*) AS c FROM g4
                        GROUP BY doc_id, g),
                 r4 AS (SELECT doc_id,
                          CAST(sum(c) AS BIGINT) AS n_4grams,
                          CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END)
                            AS BIGINT) AS dup_4
                        FROM c4 GROUP BY doc_id)
            SELECT doc_id, n_2grams,
                   (max_2 * 1000000) // n_2grams AS top2_ppm,
                   coalesce(n_4grams, 0) AS n_4grams,
                   coalesce((dup_4 * 1000000) // n_4grams, 0) AS dup4_ppm
            FROM r2 LEFT JOIN r4 USING (doc_id)
            ORDER BY doc_id""",

      "text_dup_span_pairs" ->
        s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
                 s AS (SELECT doc_id, toks, len(toks) AS n
                       FROM d WHERE len(toks) >= 8),
                 st AS (SELECT doc_id, toks,
                          unnest(generate_series(1, CAST(n - 7 AS BIGINT)))
                            AS i
                        FROM s),
                 sp AS (SELECT doc_id, i,
                          md5(array_to_string(
                            list_slice(toks, i, i + 7), ' ')) AS fp
                        FROM st),
                 keepfp AS (SELECT fp FROM sp GROUP BY fp
                            HAVING count(DISTINCT doc_id) BETWEEN 2 AND 16),
                 c AS (SELECT doc_id, i, fp FROM sp
                       WHERE fp IN (SELECT fp FROM keepfp)),
                 m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         a.i AS ia, b.i AS ib, a.i - b.i AS diag
                       FROM c a JOIN c b USING (fp)
                       WHERE a.doc_id < b.doc_id),
                 isl AS (SELECT doc_a, doc_b, diag, ia,
                           ia - row_number() OVER (
                             PARTITION BY doc_a, doc_b, diag
                             ORDER BY ia) AS grp
                         FROM m),
                 runs AS (SELECT doc_a, doc_b, diag,
                            CAST(min(ia) AS BIGINT) AS sa,
                            CAST(count(*) + 7 AS BIGINT) AS span_tokens
                          FROM isl GROUP BY doc_a, doc_b, diag, grp)
            SELECT doc_a, doc_b, count(*) AS n_runs,
                   CAST(max(span_tokens) AS BIGINT) AS max_span_tokens,
                   CAST(arg_max(sa,
                     span_tokens * 4398046511104 - sa * 2097152
                       - (sa - diag)) AS BIGINT) AS start_a,
                   CAST(arg_max(sa - diag,
                     span_tokens * 4398046511104 - sa * 2097152
                       - (sa - diag)) AS BIGINT) AS start_b,
                   CAST(sum(span_tokens) AS BIGINT) AS shared_tokens
            FROM runs GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""",

      "text_bpe_encode" ->
        s"""WITH ${bpeCtes(8)},
                 wordsyms AS (SELECT word,
                     CAST(len(regexp_extract_all(s,
                       '\\x01([^\\x01\\x02]+)\\x02', 1)) AS BIGINT) AS n_syms
                   FROM w8),
                 dw AS (SELECT doc_id,
                     unnest(regexp_extract_all(coalesce(text, ''),
                       $bpeSql)) AS word
                   FROM documents),
                 fw AS (SELECT doc_id, word FROM dw
                        WHERE NOT regexp_matches(word,
                            '^${TextOps.SpaceRun}$$')
                          AND NOT contains(word, chr(1)))
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(n_syms) AS BIGINT) AS n_tokens
            FROM fw JOIN wordsyms USING (word)
            GROUP BY doc_id ORDER BY doc_id""",

      // the partition-local serving path must land on the SAME
      // segmentation as the distributed trainer at equal rounds — the
      // oracle is deliberately identical to text_bpe_encode's
      "text_bpe_encode_local" ->
        s"""WITH ${bpeCtes(8)},
                 wordsyms AS (SELECT word,
                     CAST(len(regexp_extract_all(s,
                       '\\x01([^\\x01\\x02]+)\\x02', 1)) AS BIGINT) AS n_syms
                   FROM w8),
                 dw AS (SELECT doc_id,
                     unnest(regexp_extract_all(coalesce(text, ''),
                       $bpeSql)) AS word
                   FROM documents),
                 fw AS (SELECT doc_id, word FROM dw
                        WHERE NOT regexp_matches(word,
                            '^${TextOps.SpaceRun}$$')
                          AND NOT contains(word, chr(1)))
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(n_syms) AS BIGINT) AS n_tokens
            FROM fw JOIN wordsyms USING (word)
            GROUP BY doc_id ORDER BY doc_id""",

      "text_unigram_surprisal" ->
        s"""WITH occ AS (SELECT doc_id, unnest($wtoks) AS tok
                         FROM documents),
                 pd AS (SELECT doc_id, tok, count(*) AS m
                        FROM occ GROUP BY doc_id, tok),
                 c AS (SELECT tok, CAST(sum(m) AS BIGINT) AS c
                       FROM pd GROUP BY tok),
                 tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM c),
                 b AS (SELECT doc_id, m,
                         CAST(length(bin(n_total // c)) - 1 AS BIGINT)
                           AS bits
                       FROM pd JOIN c USING (tok), tot)
            SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
                   CAST(sum(m * bits) AS BIGINT) AS sum_bits,
                   (CAST(sum(m * bits) AS BIGINT) * 1000000)
                     // CAST(sum(m) AS BIGINT) AS mean_bits_ppm
            FROM b GROUP BY doc_id ORDER BY doc_id""",

      "text_tokenizer_fertility" ->
        s"""WITH d AS (SELECT lang,
                         CAST(octet_length(encode(coalesce(text, '')))
                           AS BIGINT) AS b,
                         CAST(len($toks) AS BIGINT) AS w,
                         CAST(len(regexp_extract_all(coalesce(text, ''),
                           $bpeSql)) AS BIGINT) AS t
                       FROM documents),
                 g AS (SELECT lang, count(*) AS n_docs,
                              CAST(sum(b) AS BIGINT) AS n_bytes,
                              CAST(sum(w) AS BIGINT) AS n_words,
                              CAST(sum(t) AS BIGINT) AS n_tokens
                       FROM d GROUP BY lang)
            SELECT lang, n_docs, n_bytes, n_words, n_tokens,
                   CASE WHEN n_tokens = 0 THEN NULL
                        ELSE (n_bytes * 1000000) // n_tokens END
                     AS bytes_per_tok_ppm,
                   CASE WHEN n_words = 0 THEN NULL
                        ELSE (n_tokens * 1000000) // n_words END
                     AS tok_per_word_ppm
            FROM g ORDER BY lang""",

      "text_dsir_select" ->
        s"""WITH occ AS (SELECT doc_id, source = 'src0' AS is_target,
                                unnest($wtoks) AS tok
                         FROM documents),
                 pd AS (SELECT doc_id, is_target, tok, count(*) AS m
                        FROM occ GROUP BY 1, 2, 3),
                 terms AS (SELECT tok, CAST(sum(m) AS BIGINT) AS cq,
                             CAST(sum(CASE WHEN is_target THEN m
                                      ELSE 0 END) AS BIGINT) AS cp
                           FROM pd GROUP BY tok),
                 tot AS (SELECT CAST(sum(cq) AS BIGINT) AS nq,
                                CAST(sum(cp) AS BIGINT) AS np,
                                count(*) AS v
                         FROM terms),
                 b AS (SELECT doc_id, m,
                         CAST(length(bin(nq // cq)) - 1 AS BIGINT)
                           AS bits_q,
                         CAST(length(bin((np + v) // (cp + 1))) - 1
                           AS BIGINT) AS bits_p
                       FROM pd JOIN terms USING (tok), tot)
            SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
                   CAST(sum(m * (bits_q - bits_p)) AS BIGINT) AS score
            FROM b GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 200""",

      "text_chunk_split" ->
        s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
                 s AS (SELECT doc_id, toks, len(toks) AS n
                       FROM d WHERE len(toks) > 0),
                 c AS (SELECT doc_id, toks,
                         unnest(generate_series(0,
                           CAST((n - 1) // 16 AS BIGINT))) AS ci
                       FROM s)
            SELECT doc_id, ci AS chunk_id,
                   CAST(len(list_slice(toks, ci*16 + 1, ci*16 + 32))
                     AS BIGINT) AS n_tokens,
                   md5(array_to_string(
                     list_slice(toks, ci*16 + 1, ci*16 + 32), ' '))
                     AS chunk_md5
            FROM c ORDER BY doc_id, chunk_id""",

      "ts_zscore_anomalies" ->
        """WITH e AS (SELECT user_id, event_id,
                        CAST(floor(value * 1048576) AS HUGEINT) AS q
                      FROM events),
                a AS (SELECT user_id, sum(q) AS s, sum(q*q) AS qq,
                             count(*) AS n
                      FROM e GROUP BY user_id)
           SELECT user_id, event_id, CAST(q AS BIGINT) AS value_q20,
                  n AS n_events
           FROM e JOIN a USING (user_id)
           WHERE (q*n - s)*(q*n - s)*4 > (qq*n - s*s)*9
           ORDER BY user_id, event_id""",

      "ts_mad_outliers" ->
        """WITH ev AS (SELECT user_id, event_id,
                         CAST(floor(value * 1048576) AS BIGINT) AS q
                       FROM events),
                nn AS (SELECT user_id, count(*) AS n FROM ev GROUP BY 1),
                r AS (SELECT e.user_id, e.q,
                        row_number() OVER (PARTITION BY e.user_id
                          ORDER BY e.q) AS rn, nn.n
                      FROM ev e JOIN nn USING (user_id)),
                med AS (SELECT user_id,
                          CAST(sum(q * (2 - ((n+2)//2 - (n+1)//2)))
                            AS BIGINT) AS med2
                        FROM r WHERE rn = (n+1)//2 OR rn = (n+2)//2
                        GROUP BY user_id),
                dv AS (SELECT e.user_id, e.event_id,
                         abs(e.q * 2 - m.med2) AS d
                       FROM ev e JOIN med m USING (user_id)),
                rd AS (SELECT d.user_id, d.d,
                         row_number() OVER (PARTITION BY d.user_id
                           ORDER BY d.d) AS rn, nn.n
                       FROM dv d JOIN nn USING (user_id)),
                mad AS (SELECT user_id,
                          CAST(sum(d * (2 - ((n+2)//2 - (n+1)//2)))
                            AS BIGINT) AS mad4
                        FROM rd WHERE rn = (n+1)//2 OR rn = (n+2)//2
                        GROUP BY user_id)
           SELECT dv.user_id, dv.event_id, dv.d AS dev2, mad.mad4
           FROM dv JOIN mad USING (user_id)
           WHERE dv.d * 2 > mad.mad4 * 3
           ORDER BY user_id, event_id""",

      "ts_autocorr" ->
        """WITH e AS (SELECT user_id, ts, event_id,
                        CAST(floor(value * 1048576) AS BIGINT) AS q
                      FROM events),
                l AS (SELECT user_id, q,
                        lead(q, 1) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS q_lead
                      FROM e),
                a AS (SELECT user_id, sum(q) AS s, count(*) AS n
                      FROM e GROUP BY 1),
                t AS (SELECT l.user_id,
                        CAST(l.q * a.n - a.s AS HUGEINT) AS dev,
                        CAST(l.q_lead * a.n - a.s AS HUGEINT) AS devl
                      FROM l JOIN a USING (user_id)
                      WHERE l.q_lead IS NOT NULL),
                g AS (SELECT user_id, sum(dev * devl) AS num,
                        sum(dev * dev) AS den, count(*) AS n_terms
                      FROM t GROUP BY user_id)
           SELECT user_id, n_terms,
                  CAST(sign(num) AS BIGINT) *
                    CAST((abs(num) * 1000000) // den AS BIGINT) AS acf_ppm
           FROM g WHERE den > 0 ORDER BY user_id""",

      "ts_level_shift" ->
        """WITH e AS (SELECT user_id, ts, event_id,
                        CAST(floor(value * 1048576) AS BIGINT) AS q
                      FROM events),
                w AS (SELECT user_id, event_id,
                        sum(q) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
                          AS s_b,
                        count(*) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
                          AS n_b,
                        sum(q) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                          AS s_a,
                        count(*) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                          AS n_a
                      FROM e)
           SELECT user_id, event_id, CAST(s_b AS BIGINT) AS sum_before,
                  CAST(s_a AS BIGINT) AS sum_after
           FROM w
           WHERE n_b = 4 AND n_a = 4
             AND abs(CAST(s_a AS HUGEINT) * n_b -
                     CAST(s_b AS HUGEINT) * n_a)
                 > 62914560 * CAST(n_b AS HUGEINT) * n_a
           ORDER BY user_id, event_id""",

      "ts_sax_motifs" ->
        """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
                            sum(CAST(value AS DECIMAL(18,2))) AS dsum
                          FROM events GROUP BY user_id, day),
                fd AS (SELECT user_id, day, dsum,
                         row_number() OVER (PARTITION BY user_id
                           ORDER BY day) AS dn
                       FROM daily),
                bk AS (SELECT user_id, day,
                         ntile(4) OVER (PARTITION BY user_id
                           ORDER BY dsum, day) AS b
                       FROM fd WHERE dn <= 8),
                words AS (SELECT user_id,
                            string_agg(CAST(b AS VARCHAR), ''
                              ORDER BY day) AS word,
                            count(*) AS n_days
                          FROM bk GROUP BY user_id)
           SELECT word, count(*) AS n_users FROM words WHERE n_days = 8
           GROUP BY word ORDER BY n_users DESC, word""",

      "ts_series_knn" -> {
        val sq = "(CAST(substr(qw, CAST(i AS INT), 1) AS INT) - " +
          "CAST(substr(cw, CAST(i AS INT), 1) AS INT))"
        s"""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
                             sum(CAST(value AS DECIMAL(18,2))) AS dsum
                           FROM events GROUP BY user_id, day),
                 fd AS (SELECT user_id, day, dsum,
                          row_number() OVER (PARTITION BY user_id
                            ORDER BY day) AS dn
                        FROM daily),
                 bk AS (SELECT user_id, day,
                          ntile(4) OVER (PARTITION BY user_id
                            ORDER BY dsum, day) AS b
                        FROM fd WHERE dn <= 8),
                 words AS (SELECT user_id,
                             string_agg(CAST(b AS VARCHAR), ''
                               ORDER BY day) AS word,
                             count(*) AS n_days
                           FROM bk GROUP BY user_id),
                 w AS (SELECT user_id, word FROM words WHERE n_days = 8),
                 segs AS (SELECT user_id, word, g,
                            substr(word, CAST(g * 4 + 1 AS INT), 4) AS seg
                          FROM w, (SELECT unnest([0, 1]) AS g)),
                 cand AS (SELECT DISTINCT q.user_id AS query_user,
                            q.word AS qw, c.user_id AS neighbor,
                            c.word AS cw
                          FROM segs q JOIN segs c
                            ON q.g = c.g AND q.seg = c.seg
                               AND q.user_id <> c.user_id
                          WHERE q.user_id % 10 = 0),
                 d AS (SELECT query_user, neighbor,
                         CAST(list_sum(list_transform(
                           generate_series(1, 8),
                           i -> $sq * $sq)) AS BIGINT) AS dist
                       FROM cand),
                 r AS (SELECT query_user, neighbor, dist,
                         row_number() OVER (PARTITION BY query_user
                           ORDER BY dist, neighbor) AS rank
                       FROM d)
            SELECT query_user, CAST(rank AS INT) AS rank, neighbor, dist
            FROM r WHERE rank <= 5 ORDER BY query_user, rank"""
      },

      "cdc_transition_matrix" ->
        """WITH s AS (SELECT user_id, event_type,
                        lag(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS from_type
                      FROM events)
           SELECT from_type, event_type AS to_type, count(*) AS n
           FROM s WHERE from_type IS NOT NULL
           GROUP BY from_type, to_type
           ORDER BY from_type, to_type""",

      "q19_brand_revenue" ->
        s"""SELECT CAST(sum($discPrice) AS DOUBLE) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity >= 1 AND l_quantity <= 21)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                   AND l_quantity >= 10 AND l_quantity <= 30)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                   AND l_quantity >= 20 AND l_quantity <= 40)""",

      "q_top_suppliers" ->
        s"""SELECT s_suppkey, s_name, CAST(sum($discPrice) AS DOUBLE) AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_suppkey, s_name
            ORDER BY revenue DESC, s_suppkey
            LIMIT 10""",

      "q_window_rank" ->
        """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             SELECT o_custkey, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders) WHERE rn <= 3
           ORDER BY o_custkey, rn""",

      "q_rollup" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
                  coalesce(l_linestatus, 'ALL') AS ls,
                  count(*) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
           FROM lineitem
           GROUP BY ROLLUP (l_returnflag, l_linestatus)
           ORDER BY rf, ls""",

      "q_semi_join" ->
        """SELECT c_custkey, c_name FROM customer
           WHERE EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_totalprice > 400000)
           ORDER BY c_custkey""",

      "q_anti_join" ->
        """SELECT c_custkey, c_name FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey AND o_totalprice > 450000)
           ORDER BY c_custkey""",

      "q_order_priority" ->
        """SELECT o_orderpriority, count(*) AS n FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             AND EXISTS (SELECT 1 FROM lineitem
                         WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
           GROUP BY o_orderpriority ORDER BY o_orderpriority""",

      "q_correlated_scalar" ->
        """WITH o AS (SELECT o_orderkey, o_custkey,
                        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS cents
                      FROM orders)
           SELECT x.o_orderkey, x.o_custkey, x.cents
           FROM o x
           WHERE x.cents * (SELECT count(*) FROM o i
                            WHERE i.o_custkey = x.o_custkey)
                 > (SELECT sum(cents) FROM o i2
                    WHERE i2.o_custkey = x.o_custkey)
           ORDER BY x.o_orderkey""",

      "q_set_except" ->
        """SELECT key FROM (
             (SELECT c_custkey AS key FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE'))
             EXCEPT
             (SELECT o_custkey AS key FROM orders WHERE o_totalprice > 300000))
           ORDER BY key""",

      "text_repetition" ->
        s"""WITH pt AS (SELECT doc_id, tok, count(*) AS c
                        FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
                        GROUP BY doc_id, tok),
                 st AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                               count(*) AS n_distinct, max(c) AS top_c
                        FROM pt GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(st.n_tokens, 0) AS n_tokens,
                   coalesce(st.n_distinct, 0) AS n_distinct,
                   coalesce(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0.0)
                     AS dup_token_frac,
                   coalesce(CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0.0)
                     AS top_token_frac
            FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
            ORDER BY d.doc_id""",

      "text_filter_verdict" ->
        s"""SELECT doc_id,
                   CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
                   CAST($nstop AS DOUBLE) / greatest(CAST(len($wtoks) AS DOUBLE), 1.0)
                     AS en_stopword_ratio,
                   $keepSql AS keep
            FROM documents ORDER BY doc_id""",

      "text_classifier_nb" ->
        s"""WITH $nbCtes
            SELECT doc_id, label_keep, n_tokens, bits_keep, bits_drop,
                   predicted_keep
            FROM nb ORDER BY doc_id""",

      "text_quality_hashed_weights" ->
        s"""WITH ${qhCtes(1024)}
            SELECT bucket, c_keep, c_drop, w
            FROM qw ORDER BY bucket""",

      "text_quality_hashed" ->
        s"""WITH ${qhCtes(1024)}
            SELECT doc_id, label_keep, n_grams, score,
                   score > 0 AS predicted_keep
            FROM qsc WHERE NOT is_train ORDER BY doc_id""",

      "pipeline_quality_gate" ->
        s"""WITH ${qhCtes(1024)},
            ldocs AS (SELECT doc_id,
                 coalesce(text,'') || chr(10) || 'All rights reserved worldwide legal notice.' ||
                 CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Subscribe to our newsletter today please.'
                      ELSE chr(10) || 'Contact office number ' || CAST(doc_id AS VARCHAR) || ' direct line.' END ||
                 chr(10) || '--' ||
                 chr(10) || 'Promo code ' || CAST(doc_id % 250 AS VARCHAR) || ' applies.' ||
                 CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'function() { var x = 1; }' ELSE '' END ||
                 CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet consectetur.' ELSE '' END AS ltext
               FROM documents),
            lines AS (SELECT doc_id, unnest(string_split(ltext, chr(10))) AS line
               FROM ldocs),
            gate AS (SELECT doc_id FROM lines GROUP BY doc_id
               HAVING count(*) FILTER (WHERE
                   regexp_matches(trim(line), '[.!?"]\\z')
                   AND len(regexp_extract_all(lower(line), '[a-z]+')) >= 5
                   AND NOT contains(lower(line), 'javascript')) >= 2
                 AND NOT bool_or(contains(lower(line), 'lorem ipsum'))),
            dec AS (SELECT doc_id,
                 CAST(ntile(10) OVER (ORDER BY q DESC, doc_id) AS INT)
                   AS decile
               FROM (SELECT doc_id, $qualityExpr AS q FROM documents))
            SELECT dec.decile, s.score > 0 AS predicted_keep,
                   count(*) AS n_docs,
                   CAST(sum(s.n_grams) AS BIGINT) AS n_grams,
                   min(s.score) AS min_score, max(s.score) AS max_score
            FROM qsc s JOIN gate USING (doc_id) JOIN dec USING (doc_id)
            GROUP BY 1, 2 ORDER BY 1, 2""",

      "text_classifier_agreement" ->
        s"""WITH $nbCtes,
                 tot2 AS (SELECT CAST(count(*) AS BIGINT) AS n_eval FROM nb)
            SELECT label_keep, predicted_keep,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   (CAST(count(*) AS BIGINT) * 1000000) // n_eval AS share_ppm
            FROM nb, tot2 GROUP BY label_keep, predicted_keep, n_eval
            ORDER BY label_keep, predicted_keep""",

      "pipeline_distilled_corpus" ->
        s"""WITH ${nbCtesScoring("TRUE")},
                 kept AS (SELECT doc_id FROM nb WHERE predicted_keep),
                 kd AS (SELECT d2.doc_id, d2.source,
                          CAST(len(regexp_extract_all(coalesce(d2.text, ''),
                            '${graft.operators.TextOps.NonSpace}+')) AS BIGINT)
                            AS n_tok
                        FROM documents d2 JOIN kept USING (doc_id)),
                 w AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                         CAST(floor(sqrt(CAST(sum(n_tok) AS DOUBLE)) * 1048576)
                           AS BIGINT) AS w_q20
                       FROM kd GROUP BY source),
                 wtot AS (SELECT CAST(sum(w_q20) AS BIGINT) AS w_total FROM w),
                 rate AS (SELECT source,
                            CASE WHEN n_tokens > 0 THEN least(1000000,
                              (CAST((CAST(w_q20 AS HUGEINT) * 10000)
                                 // w_total AS BIGINT) * 1000000) // n_tokens)
                            ELSE 0 END AS rate_ppm
                          FROM w, wtot),
                 sel AS (SELECT kd.doc_id, kd.source, kd.n_tok
                         FROM kd JOIN rate USING (source)
                         WHERE ${h60("CAST(kd.doc_id AS VARCHAR) || ':mix'")}
                                 % 1000000 < rate_ppm),
                 h AS (SELECT doc_id, source, n_tok,
                         ${h60("CAST(doc_id AS VARCHAR) || ':graft'")} AS hh
                       FROM sel)
            SELECT doc_id, source, n_tok AS n_tokens,
                   CAST(hh % 8 AS INT) AS shard,
                   CAST(row_number() OVER (PARTITION BY hh % 8
                     ORDER BY hh, doc_id) AS BIGINT) AS pos
            FROM h ORDER BY shard, pos""",

      "text_classifier_sweep" ->
        s"""WITH $nbCtes,
                 th AS (SELECT CAST(unnest([-16,-12,-8,-4,0,4,8,12,16])
                                 AS BIGINT) AS theta),
                 m AS (SELECT label_keep,
                              bits_drop - bits_keep AS margin FROM nb),
                 g AS (SELECT theta,
                         CAST(sum(CASE WHEN margin > theta AND label_keep
                                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                         CAST(sum(CASE WHEN margin > theta AND NOT label_keep
                                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                         CAST(sum(CASE WHEN margin <= theta AND label_keep
                                       THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                         CAST(sum(CASE WHEN margin <= theta AND NOT label_keep
                                       THEN 1 ELSE 0 END) AS BIGINT) AS tn
                       FROM m, th GROUP BY theta)
            SELECT theta, tp, fp, fn, tn,
                   CASE WHEN tp + fp > 0
                        THEN (tp * 1000000) // (tp + fp) END AS precision_ppm,
                   CASE WHEN tp + fn > 0
                        THEN (tp * 1000000) // (tp + fn) END AS recall_ppm
            FROM g ORDER BY theta""",

      "text_filter_ablation" ->
        s"""WITH f AS (SELECT
                 (CAST(coalesce(list_sum(list_transform($wtoks,
                      t -> length(t))), 0) AS DOUBLE)
                    / greatest(CAST(len($wtoks) AS DOUBLE), 1.0))
                   BETWEEN 2.0 AND 12.0 AS g_avg,
                 length(coalesce(text, '')) BETWEEN 20 AND 100000 AS g_len,
                 len($wtoks) BETWEEN 10 AND 100000 AS g_words,
                 CAST($nstop AS DOUBLE)
                   / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) > 0.01
                   AS g_stop
               FROM documents),
             e AS (
               SELECT 'avg_token_len' AS gate, NOT g_avg AS fail,
                      (g_len AND g_words AND g_stop) AS others_pass FROM f
               UNION ALL SELECT 'len_chars', NOT g_len,
                      (g_avg AND g_words AND g_stop) FROM f
               UNION ALL SELECT 'n_words', NOT g_words,
                      (g_avg AND g_len AND g_stop) FROM f
               UNION ALL SELECT 'stopword_ratio', NOT g_stop,
                      (g_avg AND g_len AND g_words) FROM f),
             g AS (SELECT gate, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(CASE WHEN fail THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_fail,
                     CAST(sum(CASE WHEN fail AND others_pass THEN 1 ELSE 0
                       END) AS BIGINT) AS n_only
                   FROM e GROUP BY gate)
            SELECT gate, n_fail, n_only,
                   (n_fail * 1000000) // n_docs AS fail_ppm,
                   (n_only * 1000000) // n_docs AS only_ppm
            FROM g ORDER BY gate""",

      "text_pack_efficiency" ->
        s"""WITH t AS (SELECT ${h60("doc_id::VARCHAR || ':graft'")} % 8
                         AS shard,
                       CAST(len($toks) AS BIGINT) AS n
                     FROM documents),
                st AS (SELECT CAST(shard AS BIGINT) AS shard,
                         CAST(sum(n) AS BIGINT) AS toks
                       FROM t WHERE n > 0 GROUP BY shard),
                b AS (SELECT CAST(unnest([128, 256, 512, 1024, 2048])
                        AS BIGINT) AS budget),
                g AS (SELECT budget, CAST(sum(toks) AS BIGINT) AS n_tokens,
                        CAST(sum((toks + budget - 1) // budget) AS BIGINT)
                          AS n_seqs
                      FROM st, b GROUP BY budget)
            SELECT budget, n_tokens, n_seqs,
                   ((n_seqs * budget - n_tokens) * 1000000)
                     // (n_seqs * budget) AS padding_ppm
            FROM g ORDER BY budget""",

      // floor through pmod: (m - ((m % 4) + 4) % 4) is exactly
      // divisible by 4, so // never sees a negative remainder case
      "text_classifier_calibration" ->
        s"""WITH $nbCtes,
                 m AS (SELECT label_keep,
                              bits_drop - bits_keep AS margin FROM nb),
                 g AS (SELECT (margin - (((margin % 4) + 4) % 4)) // 4 AS bin,
                         CAST(count(*) AS BIGINT) AS n_docs,
                         CAST(sum(CASE WHEN label_keep THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_keep
                       FROM m GROUP BY 1)
            SELECT CAST(bin * 4 AS BIGINT) AS margin_lo, n_docs, n_keep,
                   (n_keep * 1000000) // n_docs AS keep_ppm
            FROM g ORDER BY margin_lo""",

      "text_pack_chunks" ->
        s"""SELECT doc_id, n_tokens, CAST(pc // 2048 AS BIGINT) AS chunk_id FROM (
              SELECT doc_id, n_tokens,
                     coalesce(CAST(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pc
              FROM (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
                    FROM documents))
            ORDER BY doc_id""",

      "cdc_audit_envelope" -> {
        val tbls = TableGroups.All.map(t => s"'$t'").mkString("[", ", ", "]")
        s"""SELECT event_id, concat_ws('|',
                  event_id, 'audit',
                  ($tbls)[CAST(event_id % 9 AS INT) + 1],
                  (event_id * 2654435761) % 100000,
                  'benchmarksql',
                  epoch_us(ts), epoch_us(ts) + 1000, epoch_us(ts) + 2000,
                  user_id, 'graft',
                  '10.0.0.' || (user_id % 256),
                  5432 + (user_id % 100),
                  'INSERT INTO ' || ($tbls)[CAST(event_id % 9 AS INT) + 1],
                  CASE WHEN event_type IN ('signup', 'purchase') THEN 'I'
                       WHEN event_type IN ('click', 'view') THEN 'U'
                       ELSE 'D' END,
                  '"k"=>"' || json_extract_string(props, '$$.k') || '", "v"=>"'
                    || CAST(value AS DECIMAL(18,2)) || '"',
                  CASE WHEN event_type IN ('signup', 'purchase') THEN 'null'
                       ELSE '"v"=>"' || CAST(value AS DECIMAL(18,2)) || '"' END,
                  'false') AS line
            FROM events ORDER BY event_id"""
      },

      "cdc_snapshot_asof" ->
        """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
           WHERE rn = 1 ORDER BY user_id""",

      "cdc_apply_changes" ->
        """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
           WHERE rn = 1 ORDER BY user_id""",

      "cdc_apply_changes_del" ->
        """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
                  action, value
           FROM (SELECT *,
                   CASE WHEN event_type IN ('signup', 'purchase') THEN 'I'
                        WHEN event_type IN ('click', 'view') THEN 'U'
                        ELSE 'D' END AS action,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
           WHERE rn = 1 AND action <> 'D' ORDER BY user_id""",

      "cdc_reconcile" ->
        """WITH e AS (SELECT *,
                   CASE WHEN event_type IN ('signup', 'purchase') THEN 'I'
                        WHEN event_type IN ('click', 'view') THEN 'U'
                        ELSE 'D' END AS action
                 FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'),
                r1 AS (SELECT user_id, action AS a1, event_id AS o1 FROM
                   (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
                    FROM e WHERE ts <= TIMESTAMP '2024-01-10 00:00:00')
                   WHERE rn = 1),
                r2 AS (SELECT user_id, action AS a2, event_id AS o2 FROM
                   (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn FROM e)
                   WHERE rn = 1),
                j AS (SELECT r2.user_id,
                        (r1.user_id IS NOT NULL AND a1 <> 'D') AS live1,
                        (a2 <> 'D') AS live2, o1, o2
                      FROM r2 LEFT JOIN r1 ON r1.user_id = r2.user_id),
                c AS (SELECT user_id,
                        CASE WHEN NOT live1 AND live2 THEN 'inserted'
                             WHEN live1 AND NOT live2 THEN 'deleted'
                             WHEN live1 AND live2 AND o1 <> o2
                               THEN 'updated'
                             WHEN live1 AND live2 THEN 'unchanged'
                        END AS change
                      FROM j)
           SELECT change, CAST(count(*) AS BIGINT) AS n_keys,
                  min(user_id) AS min_key, max(user_id) AS max_key
           FROM c WHERE change IS NOT NULL
           GROUP BY change ORDER BY change""",

      "cdc_changes_between" ->
        """WITH r AS (
             SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts ASC, event_id ASC) AS rn_first,
                     row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn_last
             FROM events
             WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
               AND ts <= TIMESTAMP '2024-01-20 00:00:00')
           SELECT user_id, count(*) AS n_changes,
                  min(event_id) AS first_event_id,
                  max(event_id) AS last_event_id,
                  max(CASE WHEN rn_first = 1 THEN value END) AS first_value,
                  max(CASE WHEN rn_last = 1 THEN value END) AS last_value
           FROM r GROUP BY user_id ORDER BY user_id""",

      "cdc_sessionize" ->
        """WITH d AS (
             SELECT user_id, ts, event_id,
                    CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END AS brk
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           s AS (
             SELECT user_id, ts,
                    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             FROM d)
           SELECT user_id, epoch_us(min(ts)) AS session_start_us,
                  count(*) AS n_events
           FROM s GROUP BY user_id, sid
           ORDER BY user_id, session_start_us""",

      "q_null_semantics" ->
        """WITH d AS (SELECT nullif(l_returnflag, 'N') AS rf, l_quantity
                      FROM lineitem)
           SELECT coalesce(rf, 'NULL_GROUP') AS rf_group,
                  count(*) AS n_rows, count(rf) AS n_nonnull,
                  CAST(sum(CASE WHEN rf IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
                  CAST(sum(CASE WHEN rf IS NOT DISTINCT FROM NULL
                                THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_nullsafe_eq_null,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                    AS sum_qty
           FROM d GROUP BY rf ORDER BY rf_group""",

      "q_datetime_functions" ->
        """SELECT event_id,
                  CAST(year(ts) AS BIGINT) AS y,
                  CAST(quarter(ts) AS BIGINT) AS q,
                  CAST(month(ts) AS BIGINT) AS mo,
                  CAST(day(ts) AS BIGINT) AS dom,
                  CAST(dayofyear(ts) AS BIGINT) AS doy,
                  CAST(hour(ts) AS BIGINT) AS h,
                  CAST(minute(ts) AS BIGINT) AS mi,
                  CAST(CAST(floor(second(ts)) AS INT) AS BIGINT) AS sec,
                  CAST(last_day(ts) AS VARCHAR) AS month_end,
                  CAST(CAST(ts AS DATE) + 7 AS VARCHAR) AS week_later,
                  CAST(date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS BIGINT) AS days_in,
                  epoch_us(date_trunc('month', ts)) AS month_start_us
           FROM events ORDER BY event_id""",

      "q_scalar_functions" ->
        """SELECT l_orderkey, l_linenumber,
                  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                  CAST(month(l_shipdate) AS BIGINT) AS ship_month,
                  CAST(day(l_shipdate) AS BIGINT) AS ship_day,
                  CAST(date_diff('day', DATE '1995-01-01',
                                 CAST(l_shipdate AS DATE)) AS BIGINT) AS days_since,
                  l_returnflag || '-' || l_linestatus AS flag_status,
                  upper(l_linestatus) AS ls_upper,
                  CAST(length(l_returnflag) AS BIGINT) AS rf_len
           FROM lineitem ORDER BY l_orderkey, l_linenumber""",

      "cdc_json_props" ->
        """SELECT event_type, count(*) AS n,
                  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
           FROM events GROUP BY event_type ORDER BY event_type""",

      "q_cube" ->
        """SELECT coalesce(o_orderpriority, 'ALL') AS prio,
                  coalesce(o_orderstatus, 'ALL') AS status,
                  count(*) AS n,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
           FROM orders
           GROUP BY CUBE (o_orderpriority, o_orderstatus)
           ORDER BY prio, status""",

      "text_bpe_tokens" ->
        ("SELECT doc_id, " +
          s"CAST(len(regexp_extract_all(text, $bpeSql)) AS BIGINT) AS n_bpe, " +
          s"CAST(len(regexp_extract_all(text, '${TextOps.NonSpace}+')) AS BIGINT) AS n_ws " +
          "FROM documents ORDER BY doc_id"),

      "mm_media_metadata" ->
        """SELECT doc_id, 'image' AS media_type,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                  md5(text) AS checksum
           FROM documents ORDER BY doc_id""",

      "q17_small_quantity" ->
        """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
           FROM lineitem
           JOIN part ON p_partkey = l_partkey
           JOIN (SELECT l_partkey AS pk,
                        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                          / count(*) AS avg_qty
                 FROM lineitem GROUP BY l_partkey) a ON l_partkey = pk
           WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * avg_qty""",

      "q_min_cost_supplier" ->
        """SELECT p_partkey, p_name, s_name, min_price FROM (
             SELECT l_partkey, l_extendedprice AS min_price, l_suppkey,
                    row_number() OVER (PARTITION BY l_partkey
                      ORDER BY l_extendedprice, l_suppkey) AS rn
             FROM lineitem) b
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           WHERE rn = 1 AND p_brand = 'Brand#2'
           ORDER BY p_partkey""",

      "q13_custdist" ->
        """SELECT c_count, count(*) AS custdist FROM (
             SELECT c_custkey, count(o_orderkey) AS c_count
             FROM customer LEFT JOIN
               (SELECT * FROM orders WHERE o_orderpriority != '1-URGENT') o
               ON c_custkey = o_custkey
             GROUP BY c_custkey)
           GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",

      "q16_part_suppliers" ->
        """SELECT p_brand, p_type, p_size,
                  count(DISTINCT l_suppkey) AS supplier_cnt
           FROM part JOIN lineitem ON p_partkey = l_partkey
           WHERE p_brand != 'Brand#1'
           GROUP BY p_brand, p_type, p_size
           ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

      "q22_idle_balances" ->
        """SELECT c_nationkey, count(*) AS numcust,
                  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
           FROM customer c
           WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                     / count(*)
                              FROM customer WHERE c_acctbal > 0)
             AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           GROUP BY c_nationkey ORDER BY c_nationkey""",

      "cdc_funnel" ->
        """WITH fs AS (SELECT user_id, min(ts) AS signup_ts FROM events
                       WHERE event_type = 'signup' GROUP BY user_id),
                conv AS (SELECT e.user_id, min(e.ts) AS purchase_ts
                         FROM events e JOIN fs USING (user_id)
                         WHERE e.event_type = 'purchase' AND e.ts >= fs.signup_ts
                         GROUP BY e.user_id)
           SELECT fs.user_id, epoch_us(signup_ts) AS signup_us,
                  epoch_us(purchase_ts) AS purchase_us,
                  purchase_ts IS NOT NULL AS converted,
                  epoch_us(purchase_ts) - epoch_us(signup_ts) AS us_to_convert
           FROM fs LEFT JOIN conv ON fs.user_id = conv.user_id
           ORDER BY fs.user_id""",

      "cdc_retention" ->
        """WITH c AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
                      FROM events GROUP BY user_id)
           SELECT epoch_us(cohort_day) AS cohort_us,
                  CAST(date_diff('day', CAST(cohort_day AS DATE), CAST(ts AS DATE)) AS BIGINT) AS day_offset,
                  count(DISTINCT e.user_id) AS n_users
           FROM events e JOIN c USING (user_id)
           WHERE date_diff('day', CAST(cohort_day AS DATE), CAST(ts AS DATE)) BETWEEN 0 AND 7
           GROUP BY cohort_day, day_offset
           ORDER BY cohort_us, day_offset""",

      "profile_lineitem" -> {
        def one(c: String) =
          s"""SELECT '$c' AS col_name,
                     count(*) - count($c) AS n_nulls,
                     count(DISTINCT $c) AS n_distinct,
                     CAST(min($c) AS VARCHAR) AS min_value,
                     CAST(max($c) AS VARCHAR) AS max_value,
                     count($c) AS n_nonnull
              FROM lineitem"""
        Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
          .map(one).mkString("SELECT * FROM (", " UNION ALL ",
            ") ORDER BY col_name")
      },

      "q_percentiles" ->
        """SELECT l_returnflag,
                  array_to_string(list_transform(
                    quantile_cont(l_quantity, [0.25, 0.5, 0.75]),
                    x -> CAST(round(x, 4) AS VARCHAR)), ',') AS quantiles
           FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

      "dedup_exact_groups" ->
        s"""SELECT md5($norm) AS content_key, min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5($norm) ORDER BY content_key""",

      "dedup_exact_survivors" ->
        s"""SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY md5($norm) ORDER BY doc_id""",

      "dedup_ngram_jaccard" ->
        s"""WITH sh AS (SELECT doc_id, $shingles AS s FROM documents),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            -- stop-gram cap: shingles in > 64 docs are dropped before
            -- pairing (matches ngramJaccardPairs maxDf = 64)
            kept AS (
              SELECT doc_id, g FROM ex
              WHERE g IN (SELECT g FROM ex GROUP BY g HAVING count(*) <= 64)),
            sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b,
                   CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
            FROM inter
            JOIN sizes na ON na.doc_id = inter.doc_a
            JOIN sizes nb ON nb.doc_id = inter.doc_b
            WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.1
            ORDER BY doc_a, doc_b""",

      "dedup_minhash_accuracy" ->
        s"""WITH $lshPairCtes,
                m AS (SELECT c.doc_a, c.doc_b,
                        CAST(list_sum(list_transform(range(32), j ->
                          CASE WHEN sa.sig[CAST(j AS INT)+1]
                                    = sb.sig[CAST(j AS INT)+1]
                               THEN 1 ELSE 0 END)) AS BIGINT) AS matches,
                        CAST(len(list_intersect(a.s, b.s)) AS BIGINT)
                          AS inter,
                        CAST(len(a.s) + len(b.s)
                             - len(list_intersect(a.s, b.s)) AS BIGINT)
                          AS uni
                      FROM cand c
                      JOIN sh a ON a.doc_id = c.doc_a
                      JOIN sh b ON b.doc_id = c.doc_b
                      JOIN sigs sa ON sa.doc_id = c.doc_a
                      JOIN sigs sb ON sb.doc_id = c.doc_b)
           SELECT doc_a, doc_b, matches, inter, uni,
                  (matches * 1000000) // 32 AS est_ppm,
                  (inter * 1000000) // uni AS exact_ppm,
                  CAST(CASE WHEN matches * uni - 32 * inter < 0 THEN -1
                            WHEN matches * uni - 32 * inter > 0 THEN 1
                            ELSE 0 END
                       * ((abs(matches * uni - 32 * inter) * 1000000)
                          // (32 * uni)) AS BIGINT) AS err_ppm
           FROM m ORDER BY doc_a, doc_b""",

      "dedup_threshold_sweep" ->
        s"""WITH sh AS (SELECT doc_id, $shingles AS s FROM documents),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            kept AS (
              SELECT doc_id, g FROM ex
              WHERE g IN (SELECT g FROM ex GROUP BY g HAVING count(*) <= 64)),
            sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
            bk AS (SELECT (20 * i) // (na.n + nb.n - i) AS bucket
                   FROM inter
                   JOIN sizes na ON na.doc_id = inter.doc_a
                   JOIN sizes nb ON nb.doc_id = inter.doc_b),
            h AS (SELECT bucket, count(*) AS n_pairs FROM bk GROUP BY 1)
            SELECT bucket, n_pairs,
                   CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS pairs_ge
            FROM h ORDER BY bucket""",

      "text_token_stats" ->
        s"""SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_text,
                   CAST(len($toks) AS BIGINT) AS n_tokens,
                   CAST(coalesce(list_sum(list_transform($toks, t -> length(t))), 0) AS DOUBLE)
                     / greatest(CAST(len($toks) AS DOUBLE), 1.0) AS avg_token_len
            FROM documents ORDER BY doc_id""",

      "text_quality" ->
        s"""SELECT doc_id,
                   CAST(len($wtoks) AS BIGINT) AS n_tokens,
                   CAST($nstop AS DOUBLE) / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) AS stopword_ratio,
                   CAST(coalesce(list_sum(list_transform($wtoks, t -> length(t))), 0) AS DOUBLE)
                     / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) AS avg_token_len,
                   $qualityExpr AS quality
            FROM documents ORDER BY doc_id""",

      "text_source_mix" ->
        """SELECT source, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
                   quantile_cont(n_chars, 0.5) AS median_chars,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
            FROM documents GROUP BY source ORDER BY source""",

      "text_domain_cap" ->
        s"""WITH g AS (SELECT doc_id, source,
                         $qualityGates * 1000000.0 + n_chars AS key
                       FROM documents),
                 r AS (SELECT source, doc_id, key,
                         row_number() OVER (PARTITION BY source
                           ORDER BY key DESC, doc_id) AS rank
                       FROM g)
            SELECT source, CAST(rank AS INT) AS rank, doc_id,
                   CAST(key AS BIGINT) AS cap_score
            FROM r WHERE rank <= 50 ORDER BY source, rank""",

      "text_quality_deciles" ->
        s"""SELECT doc_id, CAST(ntile(10) OVER (ORDER BY q DESC, doc_id) AS INT) AS decile
            FROM (SELECT doc_id, $qualityExpr AS q FROM documents)
            ORDER BY doc_id""",

      "text_lang_id" ->
        s"""SELECT doc_id, lang AS labeled_lang,
                   CAST($nstop AS DOUBLE) / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) AS en_stopword_ratio,
                   CASE WHEN CAST($nstop AS DOUBLE) / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) >= 0.08
                        THEN 'en' ELSE 'other' END AS guessed_lang
            FROM documents ORDER BY doc_id""",

      "text_langid_confusion" ->
        s"""SELECT lang AS labeled_lang,
                   CASE WHEN CAST($nstop AS DOUBLE)
                          / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) >= 0.08
                        THEN 'en' ELSE 'other' END AS guessed_lang,
                   count(*) AS n
            FROM documents GROUP BY 1, 2
            ORDER BY labeled_lang, guessed_lang""",

      "text_fingerprint" ->
        s"SELECT doc_id, md5($norm) AS fp FROM documents ORDER BY doc_id",

      "sim_brute_topk" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q
                       FROM embeddings WHERE vec_id < 20),
                 c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS n
                       FROM embeddings),
                 s AS (SELECT query_id, neighbor_id, $cos AS sim
                       FROM q CROSS JOIN c WHERE neighbor_id != query_id)
            SELECT query_id, rank, neighbor_id, round(sim, 4) AS sim FROM (
              SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
              FROM s) WHERE rank <= 5
            ORDER BY query_id, rank""",

      "sim_hard_negatives" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q,
                              label AS ql
                       FROM embeddings WHERE vec_id < 20),
                 c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS n,
                              label AS nl
                       FROM embeddings),
                 s AS (SELECT query_id, neighbor_id, $cos AS sim
                       FROM q CROSS JOIN c
                       WHERE neighbor_id != query_id AND nl != ql)
            SELECT query_id, rank, neighbor_id, round(sim, 4) AS sim FROM (
              SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
              FROM s) WHERE rank <= 5
            ORDER BY query_id, rank""",

      // rank-ordered list_sum so the k-NN mean accumulates in the same
      // order as the Spark side's fold over the rank-sorted top-k array
      "sim_bitext_margin" ->
        s"""WITH a AS (SELECT vec_id AS a_id, embedding::DOUBLE[] AS q
                       FROM embeddings WHERE vec_id % 2 = 0),
                 b AS (SELECT vec_id AS b_id, embedding::DOUBLE[] AS n
                       FROM embeddings WHERE vec_id % 2 = 1),
                 s AS (SELECT a_id, b_id, $cos AS sim FROM a CROSS JOIN b),
                 fr AS (SELECT a_id, b_id, sim,
                          row_number() OVER (PARTITION BY a_id
                            ORDER BY round(sim, 6) DESC, b_id) AS r
                        FROM s),
                 fa AS (SELECT a_id,
                          max(CASE WHEN r = 1 THEN b_id END) AS b_id,
                          max(CASE WHEN r = 1 THEN sim END) AS sim,
                          list_sum(list(sim ORDER BY r)) / count(*) AS knn_a
                        FROM fr WHERE r <= 4 GROUP BY a_id),
                 br AS (SELECT a_id, b_id, sim,
                          row_number() OVER (PARTITION BY b_id
                            ORDER BY round(sim, 6) DESC, a_id) AS r
                        FROM s),
                 ba AS (SELECT b_id,
                          max(CASE WHEN r = 1 THEN a_id END) AS a_best,
                          list_sum(list(sim ORDER BY r)) / count(*) AS knn_b
                        FROM br WHERE r <= 4 GROUP BY b_id)
            SELECT fa.a_id, fa.b_id, round(fa.sim, 4) AS sim,
                   round(fa.sim / ((fa.knn_a + ba.knn_b) / 2), 4) AS margin
            FROM fa JOIN ba ON fa.b_id = ba.b_id AND ba.a_best = fa.a_id
            ORDER BY fa.a_id""",

      // sim_ivf_topk has NO oracle entry BY DECISION (r12 verdict
      // item 8, closing the r5 partial gate): its coarse quantizer is
      // learned (seeded KMeans), which no SQL oracle can replay, so
      // the driver records the official rows-only check instead of a
      // permanent hash-MISMATCH footnote. The schema is pinned in
      // IvfLearnedSpec (the typecheck leg), the recall floor is
      // spec-pinned with the measured recall_ppm riding on every
      // output row, and the deterministic twin sim_ivf_det_topk
      // hash-gates the probe-pruning shape end to end.

      "sim_filtered_topk" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q
                       FROM embeddings WHERE vec_id < 20),
                 c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS n
                       FROM embeddings WHERE label = 1),
                 s AS (SELECT query_id, neighbor_id, $cos AS sim
                       FROM q CROSS JOIN c WHERE neighbor_id != query_id)
            SELECT query_id, rank, neighbor_id, round(sim, 4) AS sim FROM (
              SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
              FROM s) WHERE rank <= 5
            ORDER BY query_id, rank""",

      "sim_sq8_topk" ->
        """WITH q AS (SELECT vec_id AS query_id,
                        list_transform(embedding::DOUBLE[],
                          x -> floor(x * 128)) AS qv
                      FROM embeddings WHERE vec_id < 20),
                c AS (SELECT vec_id AS neighbor_id,
                        list_transform(embedding::DOUBLE[],
                          x -> floor(x * 128)) AS nv
                      FROM embeddings),
                s AS (SELECT query_id, neighbor_id,
                        list_dot_product(qv, nv) AS sim
                      FROM q CROSS JOIN c WHERE neighbor_id != query_id)
           SELECT query_id, rank, neighbor_id, round(sim, 4) AS sim FROM (
             SELECT query_id, neighbor_id, sim,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
             FROM s) WHERE rank <= 5
           ORDER BY query_id, rank""",

      "sim_pq_topk" ->
        """WITH e AS (SELECT vec_id,
                        list_transform(embedding::DOUBLE[],
                          x -> floor(x * 128)) AS v
                      FROM embeddings),
                subv AS (SELECT vec_id, CAST(s AS INT) AS sub,
                           v[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS sv
                         FROM e CROSS JOIN range(8) t(s)),
                cb AS (SELECT CAST(vec_id // 13 AS INT) AS code, sub,
                              sv AS cw
                       FROM subv WHERE vec_id % 13 = 0 AND vec_id < 208),
                enc AS (SELECT vec_id, sub, code FROM (
                          SELECT x.vec_id, x.sub, cb.code,
                                 row_number() OVER (
                                   PARTITION BY x.vec_id, x.sub
                                   ORDER BY list_dot_product(x.sv, x.sv)
                                     - 2 * list_dot_product(x.sv, cb.cw)
                                     + list_dot_product(cb.cw, cb.cw),
                                     cb.code) AS rn
                          FROM subv x JOIN cb ON x.sub = cb.sub)
                        WHERE rn = 1),
                lut AS (SELECT q.vec_id AS query_id, cb.sub, cb.code,
                               list_dot_product(q.sv, cb.cw) AS pdot
                        FROM subv q JOIN cb ON q.sub = cb.sub
                        WHERE q.vec_id < 20),
                s AS (SELECT query_id, vec_id AS neighbor_id,
                             sum(pdot) AS sim
                      FROM enc JOIN lut
                        ON enc.sub = lut.sub AND enc.code = lut.code
                      WHERE vec_id != query_id GROUP BY 1, 2)
           SELECT query_id, rank, neighbor_id, round(sim, 4) AS sim FROM (
             SELECT query_id, neighbor_id, sim,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
             FROM s) WHERE rank <= 5
           ORDER BY query_id, rank""",

      "sim_matryoshka_topk" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                      FROM embeddings WHERE vec_id < 20),
                c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv
                      FROM embeddings),
                s1 AS (SELECT query_id, neighbor_id,
                         list_dot_product(qv[1:16], nv[1:16]) /
                           (sqrt(list_dot_product(qv[1:16], qv[1:16])) *
                            sqrt(list_dot_product(nv[1:16], nv[1:16]))) AS sim
                       FROM q CROSS JOIN c WHERE neighbor_id != query_id),
                kept AS (SELECT query_id, neighbor_id FROM (
                           SELECT query_id, neighbor_id,
                                  row_number() OVER (PARTITION BY query_id
                                    ORDER BY round(sim, 6) DESC, neighbor_id)
                                    AS rn
                           FROM s1) WHERE rn <= 20),
                s2 AS (SELECT k.query_id, k.neighbor_id,
                         list_dot_product(qv, nv) /
                           (sqrt(list_dot_product(qv, qv)) *
                            sqrt(list_dot_product(nv, nv))) AS sim
                       FROM kept k
                       JOIN q ON q.query_id = k.query_id
                       JOIN c ON c.neighbor_id = k.neighbor_id)
           SELECT query_id, rank, neighbor_id, round(sim, 4) AS sim FROM (
             SELECT query_id, neighbor_id, sim,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
             FROM s2) WHERE rank <= 5
           ORDER BY query_id, rank""",

      "sim_neardup_pairs" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                       WHERE vec_id < 100)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
            ORDER BY vec_a, vec_b""",

      "cdc_task_plan" ->
        """WITH ticks AS (SELECT date_trunc('minute', ts) AS tick,
                                 max(event_id) AS tick_max
                          FROM events GROUP BY date_trunc('minute', ts)),
                r AS (SELECT tick, tick_max,
                             lag(tick_max) OVER (ORDER BY tick) AS prev_max
                      FROM ticks)
           SELECT epoch_us(tick) AS tick_us,
                  coalesce(prev_max, -1) AS min_seq,
                  tick_max AS max_seq,
                  tick_max - coalesce(prev_max, -1) AS n_ids
           FROM r WHERE prev_max IS NULL OR tick_max > prev_max
           ORDER BY tick_us""",

      "cdc_gap_detection" ->
        s"""SELECT event_id AS before_id, next_id AS after_id,
                   next_id - event_id - 1 AS n_missing
            FROM (SELECT event_id, lead(event_id) OVER (ORDER BY event_id) AS next_id
                  FROM events WHERE event_type IN $firstIn)
            WHERE next_id > event_id + 1
            ORDER BY before_id""",

      "q_grouping_sets" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
                  coalesce(l_linestatus, 'ALL') AS ls,
                  count(*) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
           FROM lineitem
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
           ORDER BY rf, ls""",

      "text_trigram_familiarity" ->
        """WITH tg AS (SELECT doc_id,
                  unnest(list_transform(
                    generate_series(1, greatest(length(lower(coalesce(text, ''))) - 2, 1)),
                    i -> substr(lower(coalesce(text, '')), CAST(i AS INT), 3))) AS tg
                FROM documents),
                freq AS (SELECT tg, count(*) AS freq FROM tg GROUP BY tg)
           SELECT doc_id, count(*) AS n_trigrams,
                  CAST(CAST(sum(freq) AS BIGINT) AS DOUBLE) / count(*) AS familiarity
           FROM tg JOIN freq USING (tg)
           GROUP BY doc_id ORDER BY doc_id""",

      "text_weighted_sample" -> {
        val qual =
          s"""((CASE WHEN length(text) BETWEEN 20 AND 100000 THEN 1.0 ELSE 0.0 END)
               + (CASE WHEN CAST(coalesce(list_sum(list_transform($wtoks, t -> length(t))), 0) AS DOUBLE)
                         / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) BETWEEN 2.0 AND 12.0
                      THEN 1.0 ELSE 0.0 END)
               + (CASE WHEN CAST($nstop AS DOUBLE) / greatest(CAST(len($wtoks) AS DOUBLE), 1.0) > 0.01
                      THEN 1.0 ELSE 0.0 END)) / 3.0"""
        s"""SELECT doc_id, $qual AS quality FROM documents
            WHERE ${h60("CAST(doc_id AS VARCHAR) || ':graft'")} % 1000000
                  < CAST(floor(($qual) * 1000000.0) AS BIGINT)
            ORDER BY doc_id"""
      },

      "text_hash_sample" ->
        s"""SELECT doc_id, lang FROM documents
            WHERE ${h60("CAST(doc_id AS VARCHAR) || ':graft'")} % 100 < 10
            ORDER BY doc_id""",

      "text_stratified_sample" ->
        s"""SELECT lang, doc_id FROM (
              SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY ${h60("CAST(doc_id AS VARCHAR) || ':graft'")}, doc_id) AS rn
              FROM documents) WHERE rn <= 20
            ORDER BY lang, doc_id""",

      "q_asof_join" ->
        """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
                  epoch_us(r.ts) AS purchase_ts_us, r.value AS purchase_value
           FROM events l ASOF LEFT JOIN
             (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
             ON l.user_id = r.user_id AND l.ts >= r.ts
           ORDER BY l.event_id""",

      "q_asof_tolerance" ->
        """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
                  CASE WHEN r.ts >= l.ts - INTERVAL 1 HOUR
                       THEN epoch_us(r.ts) END AS purchase_ts_us,
                  CASE WHEN r.ts >= l.ts - INTERVAL 1 HOUR
                       THEN r.value END AS purchase_value
           FROM events l ASOF LEFT JOIN
             (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
             ON l.user_id = r.user_id AND l.ts >= r.ts
           ORDER BY l.event_id""",

      "q_range_join" ->
        """SELECT r.event_id AS signup_id, count(*) AS n_events
           FROM events l JOIN
             (SELECT event_id, ts FROM events WHERE event_type = 'signup') r
             ON l.ts >= r.ts AND l.ts < r.ts + INTERVAL 15 MINUTE
           GROUP BY signup_id ORDER BY signup_id""",

      "dedup_simhash" ->
        s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
                 h AS (SELECT doc_id, ${h60("tok")} AS h FROM t),
                 v AS (SELECT doc_id, b,
                         sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                       FROM h, (SELECT unnest(range(60)) AS b) bits
                       GROUP BY doc_id, b),
                 f AS (SELECT doc_id,
                         CAST(sum(CASE WHEN vote > 0
                           THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS fp
                       FROM v GROUP BY doc_id)
            SELECT d.doc_id, coalesce(f.fp, 0) AS simhash
            FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
            ORDER BY d.doc_id""",

      "dedup_minhash_lsh" ->
        s"""WITH $lshPairCtes
            SELECT doc_a, doc_b, jaccard FROM pairs
            ORDER BY doc_a, doc_b""",

      // same band machinery, but candidates join batch (doc_id%10=0)
      // bands against corpus bands — never corpus×corpus
      "dedup_incremental" ->
        s"""WITH sh AS (SELECT doc_id, $shingles AS s FROM documents),
                 sigs AS (SELECT doc_id, ${sigExpr("s")} AS sig FROM sh),
                 bk AS (SELECT doc_id, b,
                          ${h60("CAST(b AS VARCHAR) || ':' || array_to_string(" +
                            "list_transform(list_slice(sig, CAST(b*4+1 AS INT), " +
                            "CAST(b*4+4 AS INT)), z -> CAST(z AS VARCHAR)), ',')")} AS bucket
                        FROM sigs, (SELECT unnest(range(8)) AS b) bands),
                 cand AS (SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id
                          FROM bk x JOIN bk y
                            ON x.b = y.b AND x.bucket = y.bucket
                          WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 != 0),
                 pairs AS (SELECT batch_id, corpus_id,
                             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
                           FROM cand JOIN sh a ON a.doc_id = batch_id
                                     JOIN sh b ON b.doc_id = corpus_id),
                 m AS (SELECT batch_id, corpus_id, jac,
                         row_number() OVER (PARTITION BY batch_id
                           ORDER BY jac DESC, corpus_id) AS rn,
                         max(jac) OVER (PARTITION BY batch_id) AS best_jaccard,
                         count(*) OVER (PARTITION BY batch_id) AS n_matches
                       FROM pairs WHERE jac >= 0.1)
            SELECT batch_id, corpus_id AS dup_of, best_jaccard, n_matches
            FROM m WHERE rn = 1 ORDER BY batch_id""",

      "dedup_components" ->
        s"""WITH RECURSIVE $lshPairCtes,
                 edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                           UNION
                           SELECT doc_b AS src, doc_a AS dst FROM pairs),
                 reach AS (SELECT src, dst FROM edges
                           UNION
                           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
            SELECT src AS doc_id, least(src, min(dst)) AS component
            FROM reach GROUP BY src ORDER BY doc_id""",

      "dedup_leakage_split" ->
        s"""WITH RECURSIVE $lshPairCtes,
                 edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                           UNION
                           SELECT doc_b AS src, doc_a AS dst FROM pairs),
                 reach AS (SELECT src, dst FROM edges
                           UNION
                           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
                 comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
                          FROM reach GROUP BY src),
                 assigned AS (SELECT d.doc_id,
                                coalesce(c.component, d.doc_id) AS component
                              FROM documents d
                              LEFT JOIN comp c ON c.doc_id = d.doc_id)
            SELECT doc_id, component,
                   CASE WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))::BIGINT % 100 < 10
                        THEN 'val' ELSE 'train' END AS split
            FROM assigned ORDER BY doc_id""",

      // identical fixpoint, different algorithm on the Spark side
      "dedup_components_star" ->
        s"""WITH RECURSIVE $lshPairCtes,
                 edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                           UNION
                           SELECT doc_b AS src, doc_a AS dst FROM pairs),
                 reach AS (SELECT src, dst FROM edges
                           UNION
                           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
            SELECT src AS doc_id, least(src, min(dst)) AS component
            FROM reach GROUP BY src ORDER BY doc_id""",

      "graph_dup_triangles" ->
        s"""WITH $lshPairCtes,
                 e AS (SELECT least(doc_a, doc_b) AS a,
                              greatest(doc_a, doc_b) AS b
                       FROM pairs WHERE doc_a != doc_b GROUP BY 1, 2),
                 deg AS (SELECT node, count(*) AS degree FROM
                           (SELECT a AS node FROM e
                            UNION ALL SELECT b FROM e) GROUP BY 1),
                 tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                         FROM e e1
                         JOIN e e2 ON e2.a = e1.b
                         JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
                 pern AS (SELECT node, count(*) AS n_triangles FROM
                            (SELECT unnest([x, y, z]) AS node FROM tri)
                          GROUP BY 1)
            SELECT node AS doc_id, degree,
                   coalesce(n_triangles, 0) AS n_triangles
            FROM deg LEFT JOIN pern USING (node) ORDER BY doc_id""",

      "graph_dup_degrees" ->
        s"""WITH $lshPairCtes,
                 e AS (SELECT least(doc_a, doc_b) AS a,
                              greatest(doc_a, doc_b) AS b
                       FROM pairs WHERE doc_a != doc_b GROUP BY 1, 2),
                 deg AS (SELECT node, count(*) AS degree FROM
                           (SELECT a AS node FROM e
                            UNION ALL SELECT b FROM e) GROUP BY 1)
            SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS deg_bits,
                   count(*) AS n_nodes, CAST(sum(degree) AS BIGINT) AS mass
            FROM deg GROUP BY deg_bits ORDER BY deg_bits""",

      "dedup_neardup_survivors" ->
        s"""WITH RECURSIVE $lshPairCtes,
                 edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                           UNION
                           SELECT doc_b AS src, doc_a AS dst FROM pairs),
                 reach AS (SELECT src, dst FROM edges
                           UNION
                           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
                 comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
                          FROM reach GROUP BY src),
                 sel AS (SELECT c.component, c.doc_id,
                           row_number() OVER (PARTITION BY c.component
                             ORDER BY d.n_chars DESC, c.doc_id) AS rn,
                           count(*) OVER (PARTITION BY c.component) AS n_members
                         FROM comp c JOIN documents d USING (doc_id))
            SELECT component, doc_id AS survivor_id, n_members
            FROM sel WHERE rn = 1 ORDER BY component""",

      "text_contamination" ->
        s"""WITH sh AS (SELECT doc_id, ${shinglesSql(8)} AS s FROM documents),
                 train AS (SELECT doc_id, unnest(s) AS gram FROM sh
                           WHERE doc_id % 50 != 0),
                 held AS (SELECT DISTINCT unnest(s) AS gram FROM sh
                          WHERE doc_id % 50 = 0)
            SELECT t.doc_id, CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared
            FROM train t JOIN held h ON t.gram = h.gram
            GROUP BY t.doc_id ORDER BY t.doc_id""",

      "text_contamination_fuzzy" ->
        s"""WITH base AS (SELECT doc_id, ${shinglesSqlOn(normp, 4)} AS sh,
                            substr($normp, 1, 64) AS pfx
                          FROM documents),
                 held AS (SELECT doc_id AS held_id,
                            CAST(len(sh) AS BIGINT) AS n_held,
                            pfx AS pfx_h, unnest(sh) AS gram
                          FROM base WHERE doc_id % 50 = 0),
                 train AS (SELECT doc_id AS train_id, pfx AS pfx_t,
                             unnest(sh) AS gram
                           FROM base WHERE doc_id % 50 != 0),
                 hot AS (SELECT gram FROM train GROUP BY gram
                         HAVING count(*) > 64),
                 capped AS (SELECT * FROM train
                            WHERE gram NOT IN (SELECT gram FROM hot)),
                 pairs AS (SELECT train_id, held_id,
                             CAST(count(*) AS BIGINT) AS n_shared,
                             CAST(max(n_held) AS BIGINT) AS n_held,
                             max(pfx_t) AS pfx_t, max(pfx_h) AS pfx_h
                           FROM capped JOIN held USING (gram)
                           GROUP BY train_id, held_id)
            SELECT train_id, held_id, n_shared, n_held,
                   CAST(levenshtein(substr(pfx_t, 1,
                     CAST(length(pfx_h) AS INT)), pfx_h) AS BIGINT)
                     AS lev_pfx
            FROM pairs
            WHERE (n_shared >= n_held - 8 AND n_shared * 2 >= n_held)
               OR levenshtein(substr(pfx_t, 1,
                    CAST(length(pfx_h) AS INT)), pfx_h) <= 8
            ORDER BY train_id, held_id""",

      "text_shard_assign" ->
        s"""WITH h AS (SELECT doc_id, ${h60("doc_id::VARCHAR || ':graft'")} AS hh
                       FROM documents)
            SELECT doc_id, CAST(hh % 8 AS INT) AS shard,
                   CAST(row_number() OVER (PARTITION BY hh % 8
                     ORDER BY hh, doc_id) AS BIGINT) AS pos
            FROM h ORDER BY shard, pos""",

      // sum() OVER in DuckDB widens BIGINT to HUGEINT — every offset
      // column casts back to BIGINT at the edge (r7 discipline)
      "text_pack_sequences" ->
        s"""WITH t AS (SELECT doc_id,
                         CAST(len($toks) AS BIGINT) AS n_tokens,
                         ${h60("doc_id::VARCHAR || ':graft'")} AS hh
                       FROM documents),
                s AS (SELECT doc_id, n_tokens,
                        CAST(hh % 8 AS INT) AS shard, hh
                      FROM t WHERE n_tokens > 0),
                w AS (SELECT doc_id, shard, n_tokens,
                        CAST(row_number() OVER win AS BIGINT) AS pos,
                        sum(n_tokens) OVER win AS end_off
                      FROM s WINDOW win AS (PARTITION BY shard
                        ORDER BY hh, doc_id))
           SELECT doc_id, shard, pos, n_tokens,
                  CAST(end_off - n_tokens AS BIGINT) AS start_off,
                  CAST((end_off - n_tokens) // 512 AS BIGINT) AS first_seq,
                  CAST((end_off - 1) // 512 AS BIGINT) AS last_seq,
                  CAST(((end_off - 1) // 512)
                    - ((end_off - n_tokens) // 512) + 1 AS BIGINT) AS n_seqs
           FROM w ORDER BY shard, pos""",

      "text_pack_bpe" ->
        s"""WITH ${bpeCtes(8)},
                 wordsyms AS (SELECT word,
                     CAST(len(regexp_extract_all(s,
                       '\\x01([^\\x01\\x02]+)\\x02', 1)) AS BIGINT) AS n_syms
                   FROM w8),
                 dw AS (SELECT doc_id,
                     unnest(regexp_extract_all(coalesce(text, ''),
                       $bpeSql)) AS word
                   FROM documents),
                 fw AS (SELECT doc_id, word FROM dw
                        WHERE NOT regexp_matches(word,
                            '^${TextOps.SpaceRun}$$')
                          AND NOT contains(word, chr(1))),
                 enc AS (SELECT doc_id,
                           CAST(sum(n_syms) AS BIGINT) AS n_tokens
                         FROM fw JOIN wordsyms USING (word)
                         GROUP BY doc_id),
                 t AS (SELECT doc_id, n_tokens,
                         ${h60("doc_id::VARCHAR || ':graft'")} AS hh
                       FROM enc),
                 ps AS (SELECT doc_id, n_tokens,
                          CAST(hh % 8 AS INT) AS shard, hh
                        FROM t WHERE n_tokens > 0),
                 pw AS (SELECT doc_id, shard, n_tokens,
                          CAST(row_number() OVER win AS BIGINT) AS pos,
                          sum(n_tokens) OVER win AS end_off
                        FROM ps WINDOW win AS (PARTITION BY shard
                          ORDER BY hh, doc_id))
            SELECT doc_id, shard, pos, n_tokens,
                   CAST(end_off - n_tokens AS BIGINT) AS start_off,
                   CAST((end_off - n_tokens) // 512 AS BIGINT) AS first_seq,
                   CAST((end_off - 1) // 512 AS BIGINT) AS last_seq,
                   CAST(((end_off - 1) // 512)
                     - ((end_off - n_tokens) // 512) + 1 AS BIGINT) AS n_seqs
            FROM pw ORDER BY shard, pos""",

      "pipeline_curation_manifest" ->
        s"""WITH RECURSIVE
                 g AS (SELECT doc_id, source,
                         $qualityGates * 1000000.0 + n_chars AS key
                       FROM documents),
                 r AS (SELECT doc_id, row_number() OVER (PARTITION BY source
                         ORDER BY key DESC, doc_id) AS rnk
                       FROM g),
                 capped AS (SELECT d.* FROM documents d
                            JOIN r ON r.doc_id = d.doc_id AND r.rnk <= 50),
                 ${lshPairCtesFrom("capped")},
                 edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                           UNION
                           SELECT doc_b AS src, doc_a AS dst FROM pairs),
                 reach AS (SELECT src, dst FROM edges
                           UNION
                           SELECT r2.src, e.dst FROM reach r2
                           JOIN edges e ON r2.dst = e.src),
                 comp AS (SELECT src AS doc_id,
                            least(src, min(dst)) AS component
                          FROM reach GROUP BY src),
                 assigned AS (SELECT c2.doc_id,
                                coalesce(c.component, c2.doc_id) AS component
                              FROM capped c2
                              LEFT JOIN comp c ON c.doc_id = c2.doc_id),
                 train AS (SELECT doc_id FROM assigned
                           WHERE ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))::BIGINT % 100 >= 10),
                 h AS (SELECT doc_id, ${h60("doc_id::VARCHAR || ':graft'")} AS hh
                       FROM train)
            SELECT doc_id, CAST(hh % 8 AS INT) AS shard,
                   CAST(row_number() OVER (PARTITION BY hh % 8
                     ORDER BY hh, doc_id) AS BIGINT) AS pos
            FROM h ORDER BY shard, pos""",

      "pipeline_training_manifest" ->
        s"""WITH RECURSIVE
                 kept0 AS (SELECT * FROM documents WHERE doc_id IN
                   (SELECT min(doc_id) FROM documents GROUP BY md5($norm))),
                 ${lshPairCtesFrom("kept0")},
                 edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                           UNION
                           SELECT doc_b AS src, doc_a AS dst FROM pairs),
                 reach AS (SELECT src, dst FROM edges
                           UNION
                           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
                 comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
                          FROM reach GROUP BY src),
                 surv AS (SELECT component, doc_id AS survivor_id FROM (
                            SELECT c.component, c.doc_id,
                                   row_number() OVER (PARTITION BY c.component
                                     ORDER BY d.n_chars DESC, c.doc_id) AS rn
                            FROM comp c JOIN kept0 d USING (doc_id))
                          WHERE rn = 1),
                 kept1 AS (SELECT * FROM kept0 WHERE doc_id NOT IN
                   (SELECT doc_id FROM comp WHERE doc_id NOT IN
                      (SELECT survivor_id FROM surv))),
                 gated AS (SELECT doc_id FROM kept1 WHERE $qualityExpr >= 0.5),
                 h AS (SELECT doc_id, ${h60("doc_id::VARCHAR || ':graft'")} AS hh
                       FROM gated)
            SELECT doc_id, CAST(hh % 8 AS INT) AS shard,
                   CAST(row_number() OVER (PARTITION BY hh % 8
                     ORDER BY hh, doc_id) AS BIGINT) AS pos
            FROM h ORDER BY shard, pos""",

      "sim_knn_label_agreement" ->
        s"""WITH q AS (SELECT vec_id AS query_id, label AS own,
                              embedding::DOUBLE[] AS q
                       FROM embeddings WHERE vec_id % 10 = 0),
                 c AS (SELECT vec_id AS neighbor_id, label AS n_label,
                              embedding::DOUBLE[] AS n
                       FROM embeddings),
                 s AS (SELECT query_id, own, neighbor_id, n_label, $cos AS sim
                       FROM q CROSS JOIN c WHERE neighbor_id != query_id),
                 topk AS (SELECT query_id, own, n_label FROM (
                            SELECT query_id, own, n_label,
                                   row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
                            FROM s) WHERE rank <= 10),
                 per AS (SELECT query_id, own, n_label, count(*) AS cnt
                         FROM topk GROUP BY query_id, own, n_label)
            SELECT query_id AS vec_id, own AS label,
                   CAST(-(max([cnt, -CAST(n_label AS BIGINT)]))[2] AS INT)
                     AS majority_label,
                   CAST(sum(CASE WHEN n_label = own THEN cnt ELSE 0 END)
                     AS BIGINT) AS n_agree
            FROM per GROUP BY query_id, own ORDER BY vec_id""",

      "text_vocab_topn" ->
        ("SELECT tok, count(*) AS n FROM (SELECT unnest(regexp_extract_all(" +
          s"coalesce(text, ''), $bpeSql)) AS tok " +
          "FROM documents) GROUP BY tok ORDER BY n DESC, tok LIMIT 50"),

      "sketch_lang_minhash" ->
        s"""WITH sh AS (SELECT doc_id, $shingles AS s FROM documents),
                 sigs AS (SELECT d.lang, ${sigExpr("s")} AS sig
                          FROM sh JOIN documents d USING (doc_id)),
                 u AS (SELECT lang, j, min(sig[CAST(j AS INT)+1]) AS m
                       FROM sigs, (SELECT unnest(range(32)) AS j) js
                       GROUP BY lang, j)
            SELECT lang,
                   array_to_string(list(CAST(m AS VARCHAR) ORDER BY j), ',') AS sig_csv
            FROM u GROUP BY lang ORDER BY lang""",

      "sketch_lang_similarity" ->
        s"""WITH sh AS (SELECT doc_id, $shingles AS s FROM documents),
                 sigs AS (SELECT d.lang, ${sigExpr("s")} AS sig
                          FROM sh JOIN documents d USING (doc_id)),
                 u AS (SELECT lang, j, min(sig[CAST(j AS INT)+1]) AS m
                       FROM sigs, (SELECT unnest(range(32)) AS j) js
                       GROUP BY lang, j),
                 us AS (SELECT lang, list(m ORDER BY j) AS u FROM u GROUP BY lang)
            SELECT a.lang AS lang_a, b.lang AS lang_b,
                   CAST(list_sum(list_transform(range(32),
                     j -> CASE WHEN a.u[CAST(j AS INT)+1] = b.u[CAST(j AS INT)+1]
                               THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0 AS est_jaccard
            FROM us a JOIN us b ON a.lang < b.lang
            ORDER BY lang_a, lang_b""",

      "text_rolling_fp" ->
        s"""WITH t AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
                 w AS (SELECT doc_id, $rollingFps AS fps FROM t)
            SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
                   array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), ',') AS fp_set
            FROM w ORDER BY doc_id""",

      "dedup_containment" ->
        s"""WITH t AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
                 w AS (SELECT doc_id, $rollingFps AS fps FROM t),
                 ex AS (SELECT doc_id, unnest(fps) AS fp FROM w),
                 keptfp AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) <= 50),
                 kept AS (SELECT ex.doc_id, ex.fp FROM ex JOIN keptfp USING (fp)),
                 sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
                 p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                       FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
                       GROUP BY doc_a, doc_b HAVING count(*) >= 8)
            SELECT doc_a, doc_b, shared,
                   CAST(shared AS DOUBLE) / least(sa.n, sb.n) AS containment
            FROM p JOIN sizes sa ON sa.doc_id = doc_a
                   JOIN sizes sb ON sb.doc_id = doc_b
            ORDER BY doc_a, doc_b""",

      "text_clean" ->
        s"""SELECT doc_id, CAST(length(c) AS BIGINT) AS n_chars_clean,
                   md5(c) AS clean_fp
            FROM (SELECT doc_id,
                    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                      coalesce(text, ''),
                      '${TextOps.UrlPattern}', '', 'g'),
                      '${TextOps.EmailPattern}', '', 'g'),
                      '[\\x00-\\x1f]', ' ', 'g'),
                      '${TextOps.SpaceRun}', ' ', 'g')) AS c
                  FROM documents)
            ORDER BY doc_id""",

      "text_pii_flags" ->
        s"""SELECT doc_id,
                   CAST(len(regexp_extract_all(coalesce(text, ''), '${TextOps.UrlPattern}')) AS BIGINT) AS n_urls,
                   CAST(len(regexp_extract_all(coalesce(text, ''), '${TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(coalesce(text, ''), '${TextOps.PhonePattern}')) AS BIGINT) AS n_phones,
                   CAST(len(regexp_extract_all(coalesce(text, ''), '${TextOps.Ipv4Pattern}')) AS BIGINT) AS n_ipv4
            FROM documents ORDER BY doc_id""",

      "text_html_extract" ->
        s"""WITH hdocs AS (SELECT doc_id,
                 '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                 || '</title><style type="text/css"> p { margin: 0; } </style></head><body><!-- nav --><div class="nav"><a href="/home">Home</a> <a href="/d/'
                 || CAST(doc_id % 97 AS VARCHAR)
                 || '">Next</a></div><script>if (1 < 2) { track("d"); }</script><p>'
                 || replace(replace(replace(coalesce(text,''),'&','&amp;'),'<','&lt;'),'>','&gt;')
                 || '</p></body></html>' AS html
               FROM documents),
            x AS (SELECT doc_id, html,
                 trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                     regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
                       '${TextOps.HtmlScriptBlock}', '', 'g'),
                       '${TextOps.HtmlStyleBlock}', '', 'g'),
                       '${TextOps.HtmlComment}', '', 'g'),
                       '${TextOps.HtmlTag}', ' ', 'g'),
                     '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),'&nbsp;',' '),
                     '&amp;','&'),
                   '${TextOps.SpaceRun}', ' ', 'g')) AS txt
               FROM hdocs)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(html, '${TextOps.HtmlAnchor}')) AS BIGINT) AS n_links,
                   CAST(length(html) AS BIGINT) AS n_chars_html,
                   CAST(length(txt) AS BIGINT) AS n_chars_text,
                   md5(txt) AS text_fp
            FROM x ORDER BY doc_id""",

      "text_line_dedup" ->
        s"""WITH ldocs AS (SELECT doc_id,
                 coalesce(text,'') || chr(10) || 'All rights reserved worldwide legal notice.' ||
                 CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Subscribe to our newsletter today please.'
                      ELSE chr(10) || 'Contact office number ' || CAST(doc_id AS VARCHAR) || ' direct line.' END ||
                 chr(10) || '--' ||
                 chr(10) || 'Promo code ' || CAST(doc_id % 250 AS VARCHAR) || ' applies.' AS text
               FROM documents),
            ll AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM ldocs),
            lines AS (SELECT doc_id, unnest(range(len(ls))) AS pos, unnest(ls) AS line FROM ll),
            keyed AS (SELECT doc_id, pos, line, trim(line) AS key FROM lines),
            hot AS (SELECT key FROM keyed WHERE length(key) >= 10
                    GROUP BY key HAVING count(DISTINCT doc_id) > 2),
            j AS (SELECT k.doc_id, k.pos, k.line, (h.key IS NOT NULL) AS is_hot
                  FROM keyed k LEFT JOIN hot h ON k.key = h.key)
            SELECT doc_id,
               CAST(count(*) FILTER (WHERE NOT is_hot) AS BIGINT) AS n_lines_kept,
               CAST(count(*) FILTER (WHERE is_hot) AS BIGINT) AS n_lines_dropped,
               CAST(length(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT is_hot), '')) AS BIGINT) AS n_chars_clean,
               md5(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT is_hot), '')) AS clean_fp
            FROM j GROUP BY doc_id ORDER BY doc_id""",

      "text_line_quality" ->
        s"""WITH ldocs AS (SELECT doc_id,
                 coalesce(text,'') || chr(10) || 'All rights reserved worldwide legal notice.' ||
                 CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Subscribe to our newsletter today please.'
                      ELSE chr(10) || 'Contact office number ' || CAST(doc_id AS VARCHAR) || ' direct line.' END ||
                 chr(10) || '--' ||
                 chr(10) || 'Promo code ' || CAST(doc_id % 250 AS VARCHAR) || ' applies.' ||
                 CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'function() { var x = 1; }' ELSE '' END ||
                 CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet consectetur.' ELSE '' END AS text
               FROM documents),
            ll AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM ldocs),
            lines AS (SELECT doc_id, unnest(range(len(ls))) AS pos, unnest(ls) AS line FROM ll),
            v AS (SELECT doc_id, pos, line,
                 (regexp_matches(trim(line), '[.!?"]\\z')
                  AND len(regexp_extract_all(lower(line), '[a-z]+')) >= 5
                  AND NOT contains(lower(line), 'javascript')) AS keep
               FROM lines)
            SELECT doc_id,
               CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_lines_kept,
               CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_lines_dropped,
               bool_or(contains(line, '{')) AS has_curly,
               bool_or(contains(lower(line), 'lorem ipsum')) AS has_lorem,
               CAST(length(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE keep), '')) AS BIGINT) AS n_chars_clean,
               md5(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE keep), '')) AS clean_fp
            FROM v GROUP BY doc_id ORDER BY doc_id""",

      "text_html_meta" ->
        s"""WITH mdocs AS (SELECT doc_id,
                 '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' News</title>'
                 || CASE CAST(doc_id % 6 AS INT)
                    WHEN 0 THEN '<meta name="robots" content="NOINDEX">'
                    WHEN 1 THEN '<meta name=''robots'' content=''noindex, nofollow''>'
                    WHEN 2 THEN '<meta content="index,follow" name="robots">'
                    WHEN 3 THEN '<meta name=robots content=noindex>'
                    WHEN 4 THEN '<meta name=ROBOTS content="NOFOLLOW">'
                    ELSE '' END
                 || CASE CAST(doc_id % 6 AS INT)
                    WHEN 0 THEN '<link rel="canonical" href="https://example.com/canon/' || CAST(doc_id % 7 AS VARCHAR) || '">'
                    WHEN 1 THEN '<link href="https://example.com/canon/' || CAST(doc_id % 7 AS VARCHAR) || '" rel="canonical">'
                    WHEN 2 THEN '<link rel=''canonical'' href=''https://example.com/canon/' || CAST(doc_id % 7 AS VARCHAR) || '''>'
                    WHEN 3 THEN '<link rel=canonical href=https://example.com/canon/' || CAST(doc_id % 7 AS VARCHAR) || '>'
                    ELSE '' END
                 || '</head><body></body></html>' AS html
               FROM documents),
            mt AS (SELECT doc_id, html,
                 regexp_extract(html, '${sq(TextOps.HtmlMetaRobotsTag)}') AS rtag,
                 regexp_extract(html, '${sq(TextOps.HtmlCanonicalTag)}') AS ctag
               FROM mdocs),
            mx AS (SELECT doc_id,
                 trim(regexp_replace(regexp_extract(html, '${TextOps.HtmlTitleBody}', 1), '${TextOps.SpaceRun}', ' ', 'g')) AS title,
                 lower(trim(coalesce(
                   nullif(regexp_extract(rtag, '${sq(TextOps.AttrContentDq)}', 1), ''),
                   nullif(regexp_extract(rtag, '${sq(TextOps.AttrContentSq)}', 1), ''),
                   regexp_extract(rtag, '${sq(TextOps.AttrContentUq)}', 1)))) AS robots,
                 trim(coalesce(
                   nullif(regexp_extract(ctag, '${sq(TextOps.AttrHrefDq)}', 1), ''),
                   nullif(regexp_extract(ctag, '${sq(TextOps.AttrHrefSq)}', 1), ''),
                   regexp_extract(ctag, '${sq(TextOps.AttrHrefUq)}', 1))) AS canonical_href
               FROM mt)
            SELECT doc_id, title, robots, canonical_href,
                   NOT contains(robots, 'noindex') AS indexable
            FROM mx ORDER BY doc_id""",

      "text_url_normalize" ->
        s"""WITH $UrlCanonCte
            SELECT doc_id, url,
                   scheme || '://' || host || path ||
                   CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END AS canon_url
            FROM ucanon ORDER BY doc_id""",

      "pipeline_crawl_manifest" ->
        s"""WITH $UrlCanonCte,
            csurv AS (SELECT min(doc_id) AS doc_id FROM (
                SELECT doc_id, scheme || '://' || host || path ||
                  CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END AS canon_url
                FROM ucanon) GROUP BY canon_url),
            cdocs AS (SELECT d.doc_id,
                 '<html><head><title>Doc ' || CAST(d.doc_id AS VARCHAR)
                 || '</title><style> p { margin: 0; } </style></head><body>'
                 || '<!-- nav --><div class="nav"><a href="/home">Home</a></div>'
                 || '<script>track(1 < 2);</script><p>'
                 || replace(replace(replace(coalesce(d.text,''),'&','&amp;'),'<','&lt;'),'>','&gt;')
                 || '</p><p>All rights reserved worldwide legal notice.</p>'
                 || CASE WHEN d.doc_id % 3 = 0 THEN '<p>Subscribe to our newsletter today please.</p>'
                    ELSE '<p>Contact office number ' || CAST(d.doc_id AS VARCHAR) || ' direct line.</p>' END
                 || '</body></html>' AS html
               FROM documents d JOIN csurv s ON d.doc_id = s.doc_id),
            clt AS (SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(
                     replace(replace(replace(replace(replace(replace(
                       regexp_replace(regexp_replace(
                         regexp_replace(regexp_replace(regexp_replace(html,
                           '${TextOps.HtmlScriptBlock}', '', 'g'),
                           '${TextOps.HtmlStyleBlock}', '', 'g'),
                           '${TextOps.HtmlComment}', '', 'g'),
                         '${TextOps.HtmlBlockTag}', chr(10), 'g'),
                         '${TextOps.HtmlTag}', ' ', 'g'),
                       '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),'&nbsp;',' '),
                       '&amp;','&'),
                     '${TextOps.HSpaceRun}', ' ', 'g'),
                   ' *\\n *', chr(10), 'g'), '\\n+', chr(10), 'g'), '^\\n+|\\n+$$', '', 'g') AS txt
               FROM cdocs),
            cll AS (SELECT doc_id, string_split(txt, chr(10)) AS ls FROM clt),
            clines AS (SELECT doc_id, unnest(range(len(ls))) AS pos, unnest(ls) AS line FROM cll),
            ckeyed AS (SELECT doc_id, pos, line, trim(line) AS key FROM clines),
            chot AS (SELECT key FROM ckeyed WHERE length(key) >= 10
                     GROUP BY key HAVING count(DISTINCT doc_id) > 2),
            cj AS (SELECT k.doc_id, k.pos, k.line, (h.key IS NOT NULL) AS is_hot
                   FROM ckeyed k LEFT JOIN chot h ON k.key = h.key),
            ccleaned AS (SELECT doc_id,
                CAST(count(*) FILTER (WHERE NOT is_hot) AS BIGINT) AS n_lines_kept,
                coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT is_hot), '') AS clean_text
              FROM cj GROUP BY doc_id),
            cgated AS (SELECT doc_id,
                CAST(length(clean_text) AS BIGINT) AS n_chars_clean,
                md5(clean_text) AS clean_fp
              FROM ccleaned WHERE n_lines_kept >= 2 AND length(clean_text) >= 20),
            ch AS (SELECT *, ${h60("doc_id::VARCHAR || ':graft'")} AS hh FROM cgated)
            SELECT doc_id, n_chars_clean, clean_fp,
               CAST(hh % 8 AS INT) AS shard,
               CAST(row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) AS BIGINT) AS pos
            FROM ch ORDER BY shard, pos""",

      "dedup_url_canonical" ->
        s"""WITH $UrlCanonCte
            SELECT canon_url, CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS survivor_id
            FROM (SELECT doc_id,
                    scheme || '://' || host || path ||
                    CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END AS canon_url
                  FROM ucanon)
            GROUP BY canon_url HAVING count(*) > 1
            ORDER BY canon_url""",

      "pipeline_frontier_manifest" ->
        s"""WITH $RobotsRulesCte,
            $RobotsSelectCte,
            furls AS (SELECT doc_id, doc_id // 4 AS k FROM documents),
            furl2 AS (SELECT doc_id, k,
                CASE CAST(k % 8 AS INT)
                  WHEN 0 THEN '/private/x' WHEN 1 THEN '/private/pub/y'
                  WHEN 2 THEN '/tmp/a' WHEN 3 THEN '/tmp/ok'
                  WHEN 4 THEN '/data.json' WHEN 5 THEN '/api/ok'
                  WHEN 6 THEN '/api/internal/x' ELSE '/index.html'
                END AS pfx,
                CAST(k % 20 AS VARCHAR) AS hs, CAST(k AS VARCHAR) AS ks
              FROM furls),
            furl3 AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
                WHEN 0 THEN 'https://site' || hs || '.com' || pfx || '?id=' || ks || '&a=1'
                WHEN 1 THEN 'HTTPS://SITE' || hs || '.COM:443' || pfx || '?utm_source=f&a=1&id=' || ks
                WHEN 2 THEN 'https://site' || hs || '.com' || pfx || '?b=2&id=' || ks
                ELSE 'https://site' || hs || '.com' || pfx || '?c=3&id=' || ks
              END AS url FROM furl2),
            fparts AS (SELECT doc_id, url,
                lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
                CASE WHEN p = '' THEN '/' ELSE p END AS path
              FROM (SELECT doc_id, url,
                      regexp_replace(regexp_replace(regexp_replace(url,
                        '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                        '(?s)#.*', ''), '^[^/?]*', '') AS p
                    FROM furl3)),
            fcand AS (SELECT u.doc_id, r.is_allow,
                row_number() OVER (PARTITION BY u.doc_id
                  ORDER BY length(r.value) DESC, r.is_allow DESC, r.value) AS rn
              FROM fparts u JOIN rpath r
                ON u.host = r.host AND u.path LIKE r.like_pat ESCAPE '\\'),
            fadm AS (SELECT u.doc_id, u.url FROM fparts u
              LEFT JOIN (SELECT doc_id, is_allow FROM fcand WHERE rn = 1) b
                ON u.doc_id = b.doc_id
              WHERE coalesce(b.is_allow, TRUE)),
            fu1 AS (SELECT doc_id, url,
                lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '(?s)#.*\\z', '') AS nofrag
              FROM fadm),
            fu2 AS (SELECT doc_id, scheme,
                lower(regexp_extract(nofrag, '^([^/?]*)', 1)) AS auth,
                regexp_replace(nofrag, '^[^/?]*', '') AS rest FROM fu1),
            fu3 AS (SELECT doc_id, scheme,
                CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80\\z', '')
                     WHEN scheme = 'https' THEN regexp_replace(auth, ':443\\z', '')
                     ELSE auth END AS host,
                regexp_replace(regexp_replace(rest, '(?s)\\?.*\\z', ''), '/+\\z', '') AS path,
                regexp_extract(rest, '(?s)\\?(.*)\\z', 1) AS query FROM fu2),
            fcanon AS (SELECT doc_id, scheme || '://' || host || path ||
                CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END AS canon_url
              FROM (SELECT doc_id, scheme, host, path,
                      list_sort(list_filter(string_split(query, '&'),
                        x -> x <> '' AND NOT regexp_matches(x, '${TextOps.UrlTrackingParam}'))) AS ps
                    FROM fu3)),
            fsurv AS (SELECT min(doc_id) AS doc_id FROM fcanon GROUP BY canon_url),
            fdocs AS (SELECT d.doc_id,
                 '<html><head><title>Doc ' || CAST(d.doc_id AS VARCHAR)
                 || '</title><style> p { margin: 0; } </style></head><body>'
                 || '<!-- nav --><div class="nav"><a href="/home">Home</a></div>'
                 || '<script>track(1 < 2);</script><p>'
                 || replace(replace(replace(coalesce(d.text,''),'&','&amp;'),'<','&lt;'),'>','&gt;')
                 || '</p><p>All rights reserved worldwide legal notice.</p>'
                 || CASE WHEN d.doc_id % 3 = 0 THEN '<p>Subscribe to our newsletter today please.</p>'
                    ELSE '<p>Contact office number ' || CAST(d.doc_id AS VARCHAR) || ' direct line.</p>' END
                 || '</body></html>' AS html
               FROM documents d JOIN fsurv s ON d.doc_id = s.doc_id
               WHERE d.doc_id % 3 <> 2),
            flt AS (SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(
                     replace(replace(replace(replace(replace(replace(
                       regexp_replace(regexp_replace(
                         regexp_replace(regexp_replace(regexp_replace(html,
                           '${TextOps.HtmlScriptBlock}', '', 'g'),
                           '${TextOps.HtmlStyleBlock}', '', 'g'),
                           '${TextOps.HtmlComment}', '', 'g'),
                         '${TextOps.HtmlBlockTag}', chr(10), 'g'),
                         '${TextOps.HtmlTag}', ' ', 'g'),
                       '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),'&nbsp;',' '),
                       '&amp;','&'),
                     '${TextOps.HSpaceRun}', ' ', 'g'),
                   ' *\\n *', chr(10), 'g'), '\\n+', chr(10), 'g'), '^\\n+|\\n+$$', '', 'g') AS txt
               FROM fdocs),
            fll AS (SELECT doc_id, string_split(txt, chr(10)) AS ls FROM flt),
            flines AS (SELECT doc_id, unnest(range(len(ls))) AS pos, unnest(ls) AS line FROM fll),
            fkeyed AS (SELECT doc_id, pos, line, trim(line) AS key FROM flines),
            fhot AS (SELECT key FROM fkeyed WHERE length(key) >= 10
                     GROUP BY key HAVING count(DISTINCT doc_id) > 2),
            fj AS (SELECT kk.doc_id, kk.pos, kk.line, (h.key IS NOT NULL) AS is_hot
                   FROM fkeyed kk LEFT JOIN fhot h ON kk.key = h.key),
            fcleaned AS (SELECT doc_id,
                CAST(count(*) FILTER (WHERE NOT is_hot) AS BIGINT) AS n_lines_kept,
                coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT is_hot), '') AS clean_text
              FROM fj GROUP BY doc_id),
            fgated AS (SELECT doc_id,
                CAST(length(clean_text) AS BIGINT) AS n_chars_clean,
                md5(clean_text) AS clean_fp
              FROM fcleaned WHERE n_lines_kept >= 2 AND length(clean_text) >= 20),
            fh AS (SELECT *, ${h60("doc_id::VARCHAR || ':graft'")} AS hh FROM fgated)
            SELECT doc_id, n_chars_clean, clean_fp,
               CAST(hh % 8 AS INT) AS shard,
               CAST(row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) AS BIGINT) AS pos
            FROM fh ORDER BY shard, pos""",

      "dedup_canonical_identity" ->
        s"""WITH $UrlCanonCte,
            cmdocs AS (SELECT doc_id,
                 CASE CAST(doc_id % 6 AS INT)
                    WHEN 0 THEN '<link rel="canonical" href="https://example.com/canon/' || CAST(doc_id % 7 AS VARCHAR) || '">'
                    WHEN 1 THEN '<link href="https://example.com/canon/' || CAST(doc_id % 7 AS VARCHAR) || '" rel="canonical">'
                    WHEN 2 THEN '<link rel=''canonical'' href=''https://example.com/canon/' || CAST(doc_id % 7 AS VARCHAR) || '''>'
                    WHEN 3 THEN '<link rel=canonical href=https://example.com/canon/' || CAST(doc_id % 7 AS VARCHAR) || '>'
                    ELSE '' END AS linkhtml
               FROM documents),
            chref AS (SELECT doc_id,
                 trim(coalesce(
                   nullif(regexp_extract(ctag, '${sq(TextOps.AttrHrefDq)}', 1), ''),
                   nullif(regexp_extract(ctag, '${sq(TextOps.AttrHrefSq)}', 1), ''),
                   regexp_extract(ctag, '${sq(TextOps.AttrHrefUq)}', 1))) AS canonical_href
               FROM (SELECT doc_id,
                       regexp_extract(linkhtml, '${sq(TextOps.HtmlCanonicalTag)}') AS ctag
                     FROM cmdocs)),
            craw AS (SELECT u.doc_id,
                 CASE WHEN m.canonical_href <> '' THEN m.canonical_href
                      ELSE u.url END AS raw_url,
                 (m.canonical_href <> '') AS declared
               FROM udocs u JOIN chref m ON u.doc_id = m.doc_id),
            ci1 AS (SELECT doc_id, declared,
                lower(regexp_extract(raw_url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(regexp_replace(raw_url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '(?s)#.*\\z', '') AS nofrag
              FROM craw),
            ci2 AS (SELECT doc_id, declared, scheme,
                lower(regexp_extract(nofrag, '^([^/?]*)', 1)) AS auth,
                regexp_replace(nofrag, '^[^/?]*', '') AS rest FROM ci1),
            ci3 AS (SELECT doc_id, declared, scheme,
                CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80\\z', '')
                     WHEN scheme = 'https' THEN regexp_replace(auth, ':443\\z', '')
                     ELSE auth END AS host,
                regexp_replace(regexp_replace(rest, '(?s)\\?.*\\z', ''), '/+\\z', '') AS path,
                regexp_extract(rest, '(?s)\\?(.*)\\z', 1) AS query FROM ci2),
            cikey AS (SELECT doc_id, declared,
                scheme || '://' || host || path ||
                CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END AS identity_key
              FROM (SELECT doc_id, declared, scheme, host, path,
                      list_sort(list_filter(string_split(query, '&'),
                        x -> x <> '' AND NOT regexp_matches(x, '${TextOps.UrlTrackingParam}'))) AS ps
                    FROM ci3))
            SELECT identity_key, CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS survivor_id,
                   CAST(count(*) FILTER (WHERE declared) AS BIGINT) AS n_declared
            FROM cikey
            GROUP BY identity_key HAVING count(*) > 1
            ORDER BY identity_key""",

      "crawl_decode_bytes" ->
        s"""SELECT doc_id,
              (doc_id % 6 <> 4) AS ok,
              CASE CAST(doc_id % 6 AS INT)
                WHEN 2 THEN 'ISO-8859-1' WHEN 3 THEN 'ISO-8859-1'
                WHEN 5 THEN 'UTF-16BE' ELSE 'UTF-8' END AS charset,
              CASE CAST(doc_id % 6 AS INT)
                WHEN 1 THEN 'bom' WHEN 2 THEN 'declared'
                WHEN 3 THEN 'meta' WHEN 5 THEN 'bom'
                ELSE 'default' END AS charset_source,
              CASE CAST(doc_id % 6 AS INT)
                WHEN 2 THEN CAST(length('café résumé #' || CAST(doc_id AS VARCHAR)) AS BIGINT)
                WHEN 3 THEN CAST(length('<meta charset="iso-8859-1">café #' || CAST(doc_id AS VARCHAR)) AS BIGINT)
                WHEN 4 THEN NULL
                ELSE CAST(length(coalesce(text, '')) AS BIGINT) END AS n_chars,
              CASE CAST(doc_id % 6 AS INT)
                WHEN 2 THEN md5('café résumé #' || CAST(doc_id AS VARCHAR))
                WHEN 3 THEN md5('<meta charset="iso-8859-1">café #' || CAST(doc_id AS VARCHAR))
                WHEN 4 THEN NULL
                ELSE md5(coalesce(text, '')) END AS html_fp
            FROM documents ORDER BY doc_id""",

      "crawl_sitemap_entries" ->
        s"""WITH smdocs AS (SELECT doc_id,
                '<?xml version="1.0" encoding="UTF-8"?>' || chr(10)
                || '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                || chr(10) || '<url>' || chr(10) || '  <loc> https://site'
                || CAST(doc_id % 20 AS VARCHAR) || '.com/page/' || CAST(doc_id AS VARCHAR)
                || '/0?a=1&amp;b=2 </loc>'
                || CASE WHEN doc_id % 2 = 0 THEN chr(10) || '  <lastmod>2026-01-15</lastmod>' ELSE '' END
                || chr(10) || '</url>'
                || chr(10) || '<url>' || chr(10) || '  <loc> https://site'
                || CAST(doc_id % 20 AS VARCHAR) || '.com/page/' || CAST(doc_id AS VARCHAR)
                || '/1?a=1&amp;b=2 </loc>'
                || CASE WHEN (doc_id + 1) % 2 = 0 THEN chr(10) || '  <lastmod>2026-02-15</lastmod>' ELSE '' END
                || chr(10) || '</url>'
                || chr(10) || '<url>' || chr(10) || '  <loc> https://site'
                || CAST(doc_id % 20 AS VARCHAR) || '.com/page/' || CAST(doc_id AS VARCHAR)
                || '/2?a=1&amp;b=2 </loc>'
                || CASE WHEN doc_id % 2 = 0 THEN chr(10) || '  <lastmod>2026-03-15</lastmod>' ELSE '' END
                || chr(10) || '</url>' || chr(10) || '</urlset>' AS xml
              FROM documents),
            sblocks AS (SELECT doc_id, unnest(range(len(bs))) AS pos, unnest(bs) AS b
              FROM (SELECT doc_id,
                      regexp_extract_all(xml, '${graft.operators.Robots.SitemapUrlBlock}') AS bs
                    FROM smdocs))
            SELECT doc_id, CAST(pos AS BIGINT) AS pos,
              replace(replace(replace(replace(replace(replace(
                trim(regexp_extract(b, '${graft.operators.Robots.SitemapLoc}', 1)),
                '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),'&nbsp;',' '),'&amp;','&') AS loc,
              trim(regexp_extract(b, '${graft.operators.Robots.SitemapLastmod}', 1)) AS lastmod
            FROM sblocks ORDER BY doc_id, pos""",

      "crawl_schedule" ->
        s"""WITH js AS (SELECT unnest([0, 1, 2]) AS j),
            seeds AS (SELECT
                'site' || CAST(doc_id % 20 AS VARCHAR) || '.com' AS host,
                'https://site' || CAST(doc_id % 20 AS VARCHAR)
                  || '.com/page/' || CAST(doc_id AS VARCHAR) || '/'
                  || CAST(j AS VARCHAR) || '?a=1&b=2' AS url,
                CASE WHEN (doc_id + j) % 2 = 0
                  THEN '2026-0' || CAST(j + 1 AS VARCHAR) || '-15'
                  ELSE '' END AS lastmod,
                CASE WHEN (doc_id % 20) % 4 = 0 THEN CAST(2 AS BIGINT)
                  ELSE CAST(1 AS BIGINT) END AS gap_sec
              FROM documents CROSS JOIN js),
            ranked AS (SELECT host, url, lastmod, gap_sec,
                CAST(row_number() OVER (PARTITION BY host
                  ORDER BY TRY_CAST(lastmod AS TIMESTAMP) DESC NULLS LAST,
                    url ASC) - 1 AS BIGINT) AS seq
              FROM seeds)
            SELECT host, url, lastmod, gap_sec, seq,
              seq // CAST(50 AS BIGINT) AS cycle,
              seq * gap_sec AS fetch_offset_sec
            FROM ranked ORDER BY host, seq""",

      "crawl_redirects" ->
        s"""WITH u AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS v,
                'https://r' || CAST(doc_id % 7 AS VARCHAR)
                  || '.example/u/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents)
            SELECT url,
              CASE WHEN v = 0 THEN url
                WHEN v = 1 THEN 'https://r'
                  || CAST((doc_id - 1) % 7 AS VARCHAR)
                  || '.example/u/' || CAST(doc_id - 1 AS VARCHAR)
                WHEN v = 2 AND doc_id >= 21 THEN 'https://r'
                  || CAST((doc_id - 22) % 7 AS VARCHAR)
                  || '.example/u/' || CAST(doc_id - 22 AS VARCHAR)
                WHEN v = 2 THEN 'https://r'
                  || CAST(doc_id % 7 AS VARCHAR)
                  || '.example/u/' || CAST(doc_id - 21 AS VARCHAR)
                WHEN v = 3 THEN url
                ELSE 'https://r' || CAST(doc_id % 7 AS VARCHAR)
                  || '.example/ghost/' || CAST(doc_id AS VARCHAR)
                END AS final_url,
              CAST(CASE WHEN v = 0 THEN 0
                WHEN v = 2 AND doc_id >= 21 THEN 2
                ELSE 1 END AS BIGINT) AS n_hops,
              CASE WHEN v IN (0, 1) THEN 200
                WHEN v = 2 AND doc_id >= 21 THEN 200
                WHEN v = 3 THEN 302 ELSE NULL END AS final_status,
              CASE WHEN v = 3 THEN 'loop'
                WHEN v = 4 OR (v = 2 AND doc_id < 21) THEN 'dangling'
                ELSE 'ok' END AS outcome
            FROM u ORDER BY url""",

      "crawl_retry_policy" ->
        s"""WITH f AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS v,
                doc_id % 4 AS attempt FROM documents)
            SELECT doc_id,
              CASE v WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 404
                WHEN 3 THEN 410 WHEN 4 THEN 429 WHEN 5 THEN 429
                WHEN 6 THEN 503 ELSE 500 END AS status,
              attempt,
              CASE WHEN v = 0 THEN 'ok' WHEN v = 1 THEN 'redirect'
                WHEN v IN (2, 3) THEN 'drop'
                WHEN attempt < 3 THEN 'retry' ELSE 'drop' END AS action,
              CASE WHEN attempt >= 3 THEN NULL
                WHEN v = 4 THEN doc_id % 60
                WHEN v IN (5, 6, 7)
                  THEN least(10 * (1 << attempt), 300)
                ELSE NULL END AS next_fetch_sec
            FROM f ORDER BY doc_id""",

      "crawl_mime_sniff" ->
        s"""SELECT doc_id, CASE CAST(doc_id % 9 AS INT)
              WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' WHEN 2 THEN 'pdf'
              WHEN 3 THEN 'gzip' WHEN 4 THEN 'gif' WHEN 5 THEN 'zip'
              WHEN 6 THEN 'mp4' WHEN 7 THEN 'markup'
              ELSE 'unknown' END AS mime
            FROM documents ORDER BY doc_id""",

      "crawl_sitemap_gz" ->
        s"""WITH js AS (SELECT unnest([0, 1, 2]) AS j),
            good AS (SELECT doc_id, true AS ok, CAST(j AS BIGINT) AS pos,
                'https://site' || CAST(doc_id % 20 AS VARCHAR)
                  || '.com/page/' || CAST(doc_id AS VARCHAR) || '/'
                  || CAST(j AS VARCHAR) || '?a=1&b=2' AS loc,
                CASE WHEN (doc_id + j) % 2 = 0
                  THEN '2026-0' || CAST(j + 1 AS VARCHAR) || '-15'
                  ELSE '' END AS lastmod
              FROM documents CROSS JOIN js WHERE doc_id % 18 <> 4),
            bad AS (SELECT doc_id, false AS ok, CAST(-1 AS BIGINT) AS pos,
                '' AS loc, '' AS lastmod
              FROM documents WHERE doc_id % 18 = 4)
            SELECT * FROM (SELECT * FROM good UNION ALL SELECT * FROM bad)
            ORDER BY doc_id, pos""",

      "pipeline_recrawl_manifest" ->
        s"""WITH js AS (SELECT unnest([0, 1, 2]) AS j),
            seeds AS (SELECT
                'site' || CAST(doc_id % 20 AS VARCHAR) || '.com' AS host,
                'https://site' || CAST(doc_id % 20 AS VARCHAR)
                  || '.com/page/' || CAST(doc_id AS VARCHAR) || '/'
                  || CAST(j AS VARCHAR) || '?a=1&b=2' AS url,
                CASE WHEN (doc_id + j) % 2 = 0
                  THEN '2026-0' || CAST(j + 1 AS VARCHAR) || '-15'
                  ELSE '' END AS lastmod,
                CASE WHEN (doc_id % 20) % 4 = 0 THEN CAST(2 AS BIGINT)
                  ELSE CAST(1 AS BIGINT) END AS gap_sec
              FROM documents CROSS JOIN js
              WHERE (doc_id % 20) % 4 <> 1),
            ranked AS (SELECT host, gap_sec,
                CAST(row_number() OVER (PARTITION BY host
                  ORDER BY TRY_CAST(lastmod AS TIMESTAMP) DESC NULLS LAST,
                    url ASC) - 1 AS BIGINT) AS seq
              FROM seeds)
            SELECT host, seq // CAST(50 AS BIGINT) AS cycle,
              count(*) AS n_urls,
              min(seq * gap_sec) AS first_fetch_sec,
              max(seq * gap_sec) AS last_fetch_sec,
              max(gap_sec) AS gap_sec
            FROM ranked GROUP BY host, seq // CAST(50 AS BIGINT)
            ORDER BY host, cycle""",

      "crawl_warc_records" ->
        s"""WITH hdr AS (SELECT 'HTTP/1.1 200 OK' || chr(13) || chr(10)
                || 'Content-Type: text/html; charset=utf-8'
                || chr(13) || chr(10) || chr(13) || chr(10) AS s),
            r0 AS (SELECT doc_id, CAST(0 AS BIGINT) AS rec_ord,
                true AS ok, 'response' AS warc_type,
                'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.com/p/'
                  || CAST(doc_id AS VARCHAR) AS target_uri,
                CAST(octet_length(encode(s || coalesce(text, ''))) AS BIGINT)
                  AS content_length,
                CAST(octet_length(encode(s || coalesce(text, ''))) AS BIGINT)
                  AS block_len,
                md5(s || coalesce(text, '')) AS block_fp
              FROM documents CROSS JOIN hdr),
            r1g AS (SELECT doc_id, CAST(1 AS BIGINT) AS rec_ord,
                true AS ok, 'metadata' AS warc_type, '' AS target_uri,
                CAST(length('fetch-ms ' || CAST(doc_id % 997 AS VARCHAR))
                  AS BIGINT) AS content_length,
                CAST(length('fetch-ms ' || CAST(doc_id % 997 AS VARCHAR))
                  AS BIGINT) AS block_len,
                md5('fetch-ms ' || CAST(doc_id % 997 AS VARCHAR)) AS block_fp
              FROM documents WHERE doc_id % 7 <> 3),
            r1b AS (SELECT doc_id, CAST(1 AS BIGINT) AS rec_ord,
                false AS ok, CAST(NULL AS VARCHAR) AS warc_type,
                CAST(NULL AS VARCHAR) AS target_uri,
                CAST(-1 AS BIGINT) AS content_length,
                CAST(NULL AS BIGINT) AS block_len,
                CAST(NULL AS VARCHAR) AS block_fp
              FROM documents WHERE doc_id % 7 = 3)
            SELECT * FROM (SELECT * FROM r0 UNION ALL
              SELECT * FROM r1g UNION ALL SELECT * FROM r1b)
            ORDER BY doc_id, rec_ord""",

      "crawl_warc_gz" ->
        s"""WITH hdr AS (SELECT 'HTTP/1.1 200 OK' || chr(13) || chr(10)
                || 'Content-Type: text/html; charset=utf-8'
                || chr(13) || chr(10) || chr(13) || chr(10) AS s),
            r0 AS (SELECT doc_id, CAST(0 AS BIGINT) AS rec_ord,
                true AS ok, 'response' AS warc_type,
                'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.com/p/'
                  || CAST(doc_id AS VARCHAR) AS target_uri,
                CAST(octet_length(encode(s || coalesce(text, ''))) AS BIGINT)
                  AS content_length,
                CAST(octet_length(encode(s || coalesce(text, ''))) AS BIGINT)
                  AS block_len,
                md5(s || coalesce(text, '')) AS block_fp
              FROM documents CROSS JOIN hdr),
            r1 AS (SELECT doc_id, CAST(1 AS BIGINT) AS rec_ord,
                true AS ok, 'metadata' AS warc_type, '' AS target_uri,
                CAST(length('fetch-ms ' || CAST(doc_id % 997 AS VARCHAR))
                  AS BIGINT) AS content_length,
                CAST(length('fetch-ms ' || CAST(doc_id % 997 AS VARCHAR))
                  AS BIGINT) AS block_len,
                md5('fetch-ms ' || CAST(doc_id % 997 AS VARCHAR)) AS block_fp
              FROM documents),
            bad AS (SELECT doc_id, CAST(2 AS BIGINT) AS rec_ord,
                false AS ok, CAST(NULL AS VARCHAR) AS warc_type,
                CAST(NULL AS VARCHAR) AS target_uri,
                CAST(-1 AS BIGINT) AS content_length,
                CAST(NULL AS BIGINT) AS block_len,
                CAST(NULL AS VARCHAR) AS block_fp
              FROM documents WHERE doc_id % 7 = 3)
            SELECT * FROM (SELECT * FROM r0 UNION ALL
              SELECT * FROM r1 UNION ALL SELECT * FROM bad)
            ORDER BY doc_id, rec_ord""",

      "crawl_warc_http" ->
        s"""SELECT doc_id, 200 AS status,
              'text/html; charset=' || CASE WHEN doc_id % 3 = 1
                THEN 'ISO-8859-1' ELSE 'utf-8' END AS content_type,
              CASE WHEN doc_id % 3 = 1 THEN 'ISO-8859-1' ELSE 'utf-8' END
                AS declared_charset,
              doc_id % 3 <> 2 AS ok,
              CASE WHEN doc_id % 3 = 1 THEN 'ISO-8859-1' ELSE 'UTF-8' END
                AS charset,
              CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN CAST(length(coalesce(text, '')) AS BIGINT)
                WHEN 1 THEN CAST(length('café résumé #'
                  || CAST(doc_id AS VARCHAR)) AS BIGINT)
                ELSE NULL END AS n_chars,
              CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN md5(coalesce(text, ''))
                WHEN 1 THEN md5('café résumé #' || CAST(doc_id AS VARCHAR))
                ELSE NULL END AS text_fp
            FROM documents ORDER BY doc_id""",

      "crawl_warc_chunked" ->
        s"""SELECT doc_id, 200 AS status,
              doc_id % 3 <> 2 AS ok,
              CASE WHEN doc_id % 3 = 1 THEN 'ISO-8859-1' ELSE 'utf-8' END
                AS declared_charset,
              CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'UTF-8' WHEN 1 THEN 'ISO-8859-1'
                ELSE NULL END AS charset,
              CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN CAST(length(coalesce(text, '')) AS BIGINT)
                WHEN 1 THEN CAST(length('café résumé #'
                  || CAST(doc_id AS VARCHAR)) AS BIGINT)
                ELSE NULL END AS n_chars,
              CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN md5(coalesce(text, ''))
                WHEN 1 THEN md5('café résumé #' || CAST(doc_id AS VARCHAR))
                ELSE NULL END AS text_fp
            FROM documents ORDER BY doc_id""",

      "crawl_revisit" ->
        s"""WITH f AS (SELECT doc_id,
                CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 304
                  WHEN 1 THEN 503 ELSE 200 END AS status,
                doc_id % 4 <> 3 AS stored,
                doc_id % 3 = 0 AS same_digest
              FROM documents),
            v AS (SELECT doc_id, status,
                CASE WHEN NOT stored AND status BETWEEN 200 AND 299
                    THEN 'new'
                  WHEN NOT stored THEN 'error'
                  WHEN status = 304 THEN 'unchanged_304'
                  WHEN status BETWEEN 200 AND 299 AND same_digest
                    THEN 'unchanged_digest'
                  WHEN status BETWEEN 200 AND 299 THEN 'changed'
                  ELSE 'error' END AS verdict
              FROM f)
            SELECT doc_id, status, verdict,
              verdict IN ('unchanged_304', 'unchanged_digest')
                AS is_revisit,
              CAST(CASE WHEN verdict IN ('new', 'changed') THEN 2
                WHEN verdict = 'error' THEN 1 ELSE 0 END AS BIGINT)
                AS next_priority
            FROM v ORDER BY doc_id""",

      "crawl_revisit_records" ->
        s"""WITH c AS (SELECT chr(13) || chr(10) AS nl),
            f AS (SELECT doc_id,
                'https://site' || CAST(doc_id % 20 AS VARCHAR)
                  || '.com/rv/' || CAST(doc_id AS VARCHAR) AS url,
                md5(coalesce(text, '')) AS prev_digest,
                CASE WHEN doc_id % 4 = 3 THEN NULL
                  WHEN doc_id % 5 = 0 THEN 'unchanged_304'
                  WHEN doc_id % 5 <> 1 AND doc_id % 3 = 0
                    THEN 'unchanged_digest'
                  ELSE NULL END AS verdict
              FROM documents),
            r AS (SELECT doc_id, verdict,
                'WARC/1.1' || nl || 'WARC-Type: revisit' || nl
                || 'WARC-Profile: http://netpreserve.org/warc/1.1/revisit/identical-payload-digest' || nl
                || 'WARC-Target-URI: ' || url || nl
                || 'WARC-Date: 2026-08-01T00:00:00Z' || nl
                || 'WARC-Refers-To-Target-URI: ' || url || nl
                || 'WARC-Refers-To-Date: 2026-06-01T00:00:00Z' || nl
                || 'WARC-Payload-Digest: md5:' || prev_digest || nl
                || 'Content-Length: 0' || nl || nl AS rec
              FROM f, c WHERE verdict IS NOT NULL)
            SELECT doc_id, verdict,
              CAST(length(rec) AS BIGINT) AS rec_len,
              md5(rec) AS rec_fp
            FROM r ORDER BY doc_id""",

      "crawl_conditional_fetch" ->
        s"""WITH f AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS sv,
                'https://site' || CAST(doc_id % 20 AS VARCHAR)
                  || '.com/rv/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents)
            SELECT doc_id, url,
              CASE WHEN sv IN (0, 2) THEN '"v'
                || CAST(doc_id % 1000 AS VARCHAR) || '"'
                ELSE NULL END AS if_none_match,
              CASE WHEN sv IN (1, 2) THEN 'Mon, 0'
                || CAST(doc_id % 7 + 1 AS VARCHAR)
                || ' Jun 2026 00:00:00 GMT'
                ELSE NULL END AS if_modified_since,
              sv <> 3 AS conditional
            FROM f ORDER BY doc_id""",

      "crawl_surt_keys" ->
        s"""WITH $UrlCanonCte,
            surt AS (SELECT doc_id, url,
                regexp_extract(host, '(:[0-9]+)\\z', 1) AS portsuf,
                regexp_replace(regexp_replace(host, ':[0-9]+\\z', ''),
                  '^www\\.', '') AS h,
                lower(path) AS lpath,
                list_sort(list_filter(string_split(lower(query), '&'),
                  x -> x <> '' AND NOT regexp_matches(x,
                    '${TextOps.UrlTrackingParam}'))) AS ps
              FROM ur)
            SELECT doc_id, url,
              array_to_string(list_reverse(string_split(h, '.')), ',')
                || portsuf || ')' || lpath
                || CASE WHEN len(ps) > 0
                     THEN '?' || array_to_string(ps, '&')
                     ELSE '' END AS urlkey
            FROM surt ORDER BY doc_id""",

      "crawl_cdx_index" ->
        s"""WITH $ArchiveCte
            SELECT doc_id, file_id, urlkey, "offset", length,
              md5(record) AS rec_fp
            FROM aidx ORDER BY doc_id""",

      "crawl_cdx_fetch_plan" ->
        s"""WITH $ArchiveCte,
            ahit AS (SELECT file_id, "offset", length FROM aidx
              WHERE urlkey IN (SELECT urlkey FROM aidx
                WHERE doc_id % 3 = 0)),
            aflag AS (SELECT file_id, "offset", length,
                CASE WHEN MAX("offset" + length) OVER
                    (PARTITION BY file_id ORDER BY "offset"
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                  OR "offset" > MAX("offset" + length) OVER
                    (PARTITION BY file_id ORDER BY "offset"
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    + 1024
                  THEN 1 ELSE 0 END AS new_range
              FROM ahit),
            agrp AS (SELECT file_id, "offset", length,
                CAST(SUM(new_range) OVER
                  (PARTITION BY file_id ORDER BY "offset"
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS range_id
              FROM aflag)
            SELECT file_id, range_id,
              MIN("offset") AS range_start,
              MAX("offset" + length) AS range_end,
              COUNT(*) AS n_records,
              CAST(SUM(length) AS BIGINT) AS record_bytes
            FROM agrp GROUP BY file_id, range_id
            ORDER BY file_id, range_start""",

      "crawl_cache_policy" ->
        s"""WITH cp AS (SELECT doc_id,
                CAST(doc_id % 7 AS INT) AS v,
                lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS mm,
                1780200000 + doc_id * 37 AS stored_at_sec
              FROM documents),
            cf AS (SELECT doc_id, v, stored_at_sec,
                'https://site' || CAST(doc_id % 20 AS VARCHAR)
                  || '.com/cp/' || CAST(doc_id AS VARCHAR) AS url,
                CASE v WHEN 0 THEN 'no-store'
                  WHEN 1 THEN 'max-age=120'
                  WHEN 2 THEN 'public, s-maxage=300, max-age=60'
                  WHEN 6 THEN 'no-cache, must-revalidate'
                  ELSE '' END AS cc,
                CASE v WHEN 3 THEN epoch(try_strptime(
                    '01 Jun 2026 06:' || mm || ':00 GMT',
                    '%d %b %Y %H:%M:%S GMT'))
                  ELSE NULL END AS exp_sec,
                CASE WHEN v IN (3, 4) THEN epoch(try_strptime(
                    '01 Jun 2026 06:00:00 GMT',
                    '%d %b %Y %H:%M:%S GMT'))
                  ELSE NULL END AS date_sec,
                CASE v WHEN 4 THEN epoch(try_strptime(
                    '01 May 2026 06:00:00 GMT',
                    '%d %b %Y %H:%M:%S GMT'))
                  ELSE NULL END AS lm_sec
              FROM cp),
            cl AS (SELECT doc_id, url, v, stored_at_sec,
                CASE WHEN v IN (0, 6) THEN 0
                  WHEN v = 2 THEN 300
                  WHEN v = 1 THEN 120
                  WHEN v = 3 THEN CAST(greatest(exp_sec - date_sec, 0)
                    AS BIGINT)
                  WHEN v = 4 THEN CAST(greatest(
                    (CAST(date_sec AS BIGINT) - CAST(lm_sec AS BIGINT))
                      // 10, 0) AS BIGINT)
                  ELSE 3600 END AS lifetime_sec,
                CASE WHEN v IN (0, 6) THEN 'no_cache'
                  WHEN v = 2 THEN 's_maxage' WHEN v = 1 THEN 'max_age'
                  WHEN v = 3 THEN 'expires' WHEN v = 4 THEN 'heuristic'
                  ELSE 'default' END AS lifetime_source,
                1780300000 - stored_at_sec AS age_sec
              FROM cf)
            SELECT doc_id, url,
              CAST(lifetime_sec AS BIGINT) AS lifetime_sec,
              lifetime_source, CAST(age_sec AS BIGINT) AS age_sec,
              age_sec < lifetime_sec AS fresh,
              CAST(stored_at_sec + lifetime_sec AS BIGINT)
                AS next_eligible_sec
            FROM cl ORDER BY doc_id""",

      "crawl_robots_freshness" ->
        s"""WITH rf AS (SELECT doc_id, CAST(doc_id % 6 AS INT) AS v,
                'site' || CAST(doc_id % 20 AS VARCHAR) || '.com'
                  AS host,
                CASE WHEN doc_id % 6 = 0 THEN 1780300000 - 1000
                  WHEN doc_id % 6 = 5 THEN 1780300000 - 4000000
                  ELSE 1780300000 - 100000 END AS fetched_at_sec
              FROM documents),
            rv AS (SELECT doc_id, host,
                1780300000 - fetched_at_sec AS age_sec,
                CASE WHEN v = 0 THEN 'fresh'
                  WHEN v IN (1) THEN 'stale'
                  WHEN v = 2 THEN 'refreshed'
                  WHEN v = 3 THEN 'unrestricted'
                  WHEN v = 4 THEN 'stale_served'
                  ELSE 'expired' END AS verdict
              FROM rf)
            SELECT doc_id, host, CAST(age_sec AS BIGINT) AS age_sec,
              verdict,
              verdict IN ('fresh', 'stale', 'stale_served')
                AS usable_cached,
              verdict <> 'fresh' AS refetch
            FROM rv ORDER BY doc_id""",

      "pipeline_archive_manifest" ->
        s"""WITH $ArchiveCte,
            awr AS (SELECT doc_id,
                ('0x' || substr(md5(url), 1, 15))::BIGINT % 8
                  AS writer,
                length FROM aidx),
            apack AS (SELECT doc_id, writer, length,
                CAST(COALESCE(SUM(length) OVER
                  (PARTITION BY writer ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS bytes_before
              FROM awr)
            SELECT writer, bytes_before // 65536 AS seg_id,
              COUNT(*) AS n_records,
              CAST(SUM(length) AS BIGINT) AS seg_bytes,
              MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
            FROM apack GROUP BY writer, seg_id
            ORDER BY writer, seg_id""",

      "crawl_sitemap_nested" ->
        s"""WITH js AS (SELECT unnest([0, 1]) AS j),
            seeds AS (SELECT doc_id, CAST(2 AS BIGINT) AS depth,
                'https://site' || CAST(doc_id % 20 AS VARCHAR)
                  || '.com/p/' || CAST(doc_id AS VARCHAR) || '/'
                  || CAST(j AS VARCHAR) AS loc,
                CASE WHEN (doc_id + j) % 2 = 0
                  THEN '2026-07-0' || CAST(j + 1 AS VARCHAR)
                  ELSE '' END AS lastmod,
                'seed' AS kind
              FROM documents CROSS JOIN js
              WHERE NOT (doc_id % 6 = 1 AND j = 1)
                AND NOT (doc_id % 6 = 4 AND j = 0)),
            dang AS (SELECT doc_id, CAST(1 AS BIGINT) AS depth,
                'https://site' || CAST(doc_id % 20 AS VARCHAR)
                  || '.com/leaf/' || CAST(doc_id AS VARCHAR)
                  || '/9.xml' AS loc,
                '' AS lastmod, 'dangling' AS kind
              FROM documents WHERE doc_id % 6 = 1),
            deep AS (SELECT doc_id, CAST(2 AS BIGINT) AS depth,
                'https://site' || CAST(doc_id % 20 AS VARCHAR)
                  || '.com/deep/' || CAST(doc_id AS VARCHAR)
                  || '.xml' AS loc,
                '' AS lastmod, 'too_deep' AS kind
              FROM documents WHERE doc_id % 6 = 4)
            SELECT * FROM (SELECT * FROM seeds UNION ALL
              SELECT * FROM dang UNION ALL SELECT * FROM deep)
            ORDER BY doc_id, depth, loc""",

      // ANALYTIC oracles (the crawl_decode_bytes discipline): the
      // expected pointer/seed rows are derived directly from the
      // deterministic synth parameters — an independent derivation,
      // strictly stronger than replaying the engine's own regexes.
      "crawl_sitemap_index" ->
        s"""WITH js AS (SELECT unnest([0, 1]) AS j)
            SELECT doc_id, CAST(j AS BIGINT) AS pos,
              'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.com/sm/'
                || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR)
                || '.xml?p=1&q=2' AS child_url,
              CASE WHEN (doc_id + j) % 2 = 0
                THEN '2026-0' || CAST(j + 1 AS VARCHAR) || '-10'
                ELSE '' END AS lastmod
            FROM documents CROSS JOIN js
            ORDER BY doc_id, pos""",

      "crawl_sitemap_resolve" ->
        s"""WITH js AS (SELECT unnest([0, 1]) AS j),
            s0 AS (SELECT doc_id, CAST(0 AS BIGINT) AS depth,
                'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.com/solo/'
                  || CAST(doc_id AS VARCHAR) || '?x=1&y=2' AS seed_url,
                '' AS lastmod
              FROM documents WHERE doc_id % 3 = 2),
            s1 AS (SELECT doc_id, CAST(1 AS BIGINT) AS depth,
                'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.com/p/'
                  || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR)
                  || '?a=1&b=2' AS seed_url,
                CASE WHEN (doc_id + j) % 2 = 0 THEN '2026-05-05'
                  ELSE '' END AS lastmod
              FROM documents CROSS JOIN js WHERE doc_id % 3 <> 2)
            SELECT * FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
            ORDER BY doc_id, depth, seed_url""",

      "crawl_robots_sitemaps" ->
        s"""WITH $RobotsRulesCte
            SELECT host, value AS sitemap_url, CAST(ln AS BIGINT) AS ln
            FROM rfield
            WHERE field = 'sitemap' AND value <> ''
            ORDER BY host, ln""",

      "crawl_robots_rules" ->
        s"""WITH $RobotsRulesCte
            SELECT host, group_id, agent, directive, value, rule_ord
            FROM rulestab
            ORDER BY host, group_id, agent, rule_ord""",

      "crawl_robots_allowed" ->
        s"""WITH $RobotsRulesCte,
            rurls AS (SELECT doc_id,
                'https://SITE' || CAST(doc_id % 20 AS VARCHAR) || '.com' ||
                CASE CAST(doc_id % 8 AS INT)
                  WHEN 0 THEN '/private/x' WHEN 1 THEN '/private/pub/y'
                  WHEN 2 THEN '/tmp/a' WHEN 3 THEN '/tmp/ok'
                  WHEN 4 THEN '/data.json' WHEN 5 THEN '/api/ok'
                  WHEN 6 THEN '/api/internal/x' ELSE '/index.html?ref=1'
                END AS url
              FROM documents),
            uparts AS (SELECT doc_id, url,
                lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
                CASE WHEN p = '' THEN '/' ELSE p END AS path
              FROM (SELECT doc_id, url,
                      regexp_replace(regexp_replace(regexp_replace(url,
                        '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                        '(?s)#.*', ''), '^[^/?]*', '') AS p
                    FROM rurls)),
            $RobotsSelectCte,
            rdelay AS (SELECT host, max(TRY_CAST(value AS BIGINT)) AS crawl_delay
              FROM rmine WHERE directive = 'crawl-delay' GROUP BY host),
            cand AS (SELECT u.doc_id, r.value AS pattern, r.is_allow,
                row_number() OVER (PARTITION BY u.doc_id
                  ORDER BY length(r.value) DESC, r.is_allow DESC, r.value) AS rn
              FROM uparts u JOIN rpath r
                ON u.host = r.host AND u.path LIKE r.like_pat ESCAPE '\\')
            SELECT u.doc_id, u.url, u.host, u.path,
                coalesce(b.is_allow, TRUE) AS allowed,
                coalesce(b.pattern, '') AS rule_pattern,
                d.crawl_delay
            FROM uparts u
            LEFT JOIN (SELECT doc_id, pattern, is_allow FROM cand WHERE rn = 1) b
              ON u.doc_id = b.doc_id
            LEFT JOIN rdelay d ON u.host = d.host
            ORDER BY u.doc_id""",

      "mm_decode_features" ->
        s"""WITH m AS (SELECT doc_id, md5(text) AS ck FROM documents),
                 h AS (SELECT doc_id, ck, ('0x'||substr(ck,1,15))::BIGINT AS h FROM m)
            SELECT doc_id,
                   CAST(h % 1920 + 32 AS INT) AS width,
                   CAST((h >> 16) % 1080 + 32 AS INT) AS height,
                   array_to_string(list_transform(range(8),
                     i -> CAST(${h60("ck || ':' || CAST(i AS VARCHAR)")} % 20001 - 10000
                          AS VARCHAR)), ',') AS features_csv
            FROM h ORDER BY doc_id""",

      "mm_resize_plan" ->
        """WITH h AS (SELECT doc_id,
                  ('0x'||substr(md5(text),1,15))::BIGINT AS h FROM documents)
           SELECT doc_id, 224 AS width, 224 AS height,
                  224.0 / CAST(h % 1920 + 32 AS INT) AS scale_x,
                  224.0 / CAST((h >> 16) % 1080 + 32 AS INT) AS scale_y
           FROM h ORDER BY doc_id""",

      "mm_frame_sample" ->
        """WITH h AS (SELECT doc_id,
                  ('0x'||substr(md5(text),1,15))::BIGINT AS h FROM documents),
                f AS (SELECT doc_id, (h >> 32) % 240 + 1 AS nf FROM h)
           SELECT doc_id,
                  CAST(len(range(0, nf, 10)) AS BIGINT) AS n_sampled,
                  array_to_string(list_transform(range(0, nf, 10),
                    x -> CAST(x AS VARCHAR)), ',') AS frames_csv
           FROM f ORDER BY doc_id""",

      "sim_lsh_neardup" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                 b AS (SELECT vec_id, v,
                         CAST(list_sum(list_transform(range(8), p ->
                           CASE WHEN list_dot_product(v, ($srpMat)[CAST(p AS INT)+1]) > 0
                                THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END)) AS BIGINT) AS bucket
                       FROM e)
            SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
                   round(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS sim
            FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
            WHERE list_dot_product(x.v, y.v) /
                  (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.3
            ORDER BY vec_a, vec_b""",

      "pipeline_embedding_dedup" ->
        s"""WITH RECURSIVE
                 e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                 b AS (SELECT vec_id, v,
                         CAST(list_sum(list_transform(range(8), p ->
                           CASE WHEN list_dot_product(v, ($srpMat)[CAST(p AS INT)+1]) > 0
                                THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END)) AS BIGINT) AS bucket
                       FROM e),
                 pairs AS (
                   SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
                   FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
                   WHERE list_dot_product(x.v, y.v) /
                         (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.3),
                 edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                           UNION
                           SELECT doc_b AS src, doc_a AS dst FROM pairs),
                 reach AS (SELECT src, dst FROM edges
                           UNION
                           SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
                 comp AS (SELECT src AS id, least(src, min(dst)) AS component
                          FROM reach GROUP BY src)
            SELECT component, count(*) AS n_members, max(id) AS max_member
            FROM comp GROUP BY component ORDER BY component""",

      "sim_recall_report" ->
        s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                 bkt AS (SELECT vec_id, v,
                           CAST(list_sum(list_transform(range(8), p ->
                             CASE WHEN list_dot_product(v, ($srpMat)[CAST(p AS INT)+1]) > 0
                                  THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END)) AS BIGINT) AS bucket
                         FROM ev),
                 lq AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bkt WHERE vec_id < 20),
                 lc AS (SELECT vec_id AS neighbor_id, v AS nv, bucket FROM bkt),
                 ls AS (SELECT query_id, neighbor_id,
                          list_dot_product(qv, nv) /
                          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))) AS sim
                        FROM lc JOIN lq USING (bucket) WHERE neighbor_id != query_id),
                 lsh AS (SELECT query_id, neighbor_id FROM (
                           SELECT query_id, neighbor_id,
                                  row_number() OVER (PARTITION BY query_id
                                    ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
                           FROM ls) WHERE rank <= 5),
                 bq AS (SELECT vec_id AS query_id, v AS qv FROM ev WHERE vec_id < 20),
                 bsim AS (SELECT query_id, vec_id AS neighbor_id,
                            list_dot_product(qv, v) /
                            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS sim
                          FROM bq CROSS JOIN ev WHERE vec_id != query_id),
                 brute AS (SELECT query_id, neighbor_id FROM (
                             SELECT query_id, neighbor_id,
                                    row_number() OVER (PARTITION BY query_id
                                      ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
                             FROM bsim) WHERE rank <= 5),
                 hits AS (SELECT b.query_id, count(*) AS n
                          FROM brute b JOIN lsh l
                            ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
                          GROUP BY b.query_id)
            SELECT q.query_id,
                   CAST(coalesce(n, 0) AS BIGINT) AS n_hits,
                   CAST(coalesce(n, 0) AS DOUBLE) / 5.0 AS recall_at_5
            FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 20) q
            LEFT JOIN hits USING (query_id)
            ORDER BY q.query_id""",

      "sim_lsh_topk" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                 b AS (SELECT vec_id, v,
                         CAST(list_sum(list_transform(range(8), p ->
                           CASE WHEN list_dot_product(v, ($srpMat)[CAST(p AS INT)+1]) > 0
                                THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END)) AS BIGINT) AS bucket
                       FROM e),
                 q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 20),
                 c AS (SELECT vec_id AS neighbor_id, v AS nv, bucket FROM b),
                 s AS (SELECT query_id, neighbor_id,
                         list_dot_product(qv, nv) /
                         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))) AS sim
                       FROM c JOIN q USING (bucket) WHERE neighbor_id != query_id)
            SELECT query_id, rank, neighbor_id, round(sim, 4) AS sim FROM (
              SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
              FROM s) WHERE rank <= 5
            ORDER BY query_id, rank""",

      // semantic dedup: ivf-det assignment + within-cluster cosine
      // ball, keep-min-id survivors
      "sim_semdedup" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                cents AS (SELECT vec_id AS cid, v AS cv FROM e
                          WHERE vec_id % 29 = 0),
                asg AS (SELECT vec_id, cluster FROM (
                  SELECT e.vec_id, c.cid AS cluster,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           round(list_dot_product(e.v, c.cv) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                           c.cid) AS rn
                  FROM e CROSS JOIN cents c) WHERE rn = 1),
                dropped AS (SELECT DISTINCT a.vec_id
                            FROM asg a
                            JOIN asg b ON a.cluster = b.cluster
                                      AND a.vec_id > b.vec_id
                            JOIN e ea ON ea.vec_id = a.vec_id
                            JOIN e eb ON eb.vec_id = b.vec_id
                            WHERE round(list_dot_product(ea.v, eb.v) /
                                    (sqrt(list_dot_product(ea.v, ea.v)) *
                                     sqrt(list_dot_product(eb.v, eb.v))), 6)
                                  >= 0.8)
           SELECT vec_id, cluster FROM asg
           WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
           ORDER BY vec_id""",

      "dedup_method_agreement" ->
        s"""WITH $lshPairCtes,
                 tp AS (SELECT doc_a, doc_b FROM pairs),
                 ee AS (SELECT vec_id, embedding::DOUBLE[] AS v
                        FROM embeddings),
                 sb AS (SELECT vec_id, v,
                          CAST(list_sum(list_transform(range(8), p ->
                            CASE WHEN list_dot_product(v,
                                   ($srpMat)[CAST(p AS INT)+1]) > 0
                                 THEN (1::BIGINT << CAST(p AS INT))
                                 ELSE 0 END)) AS BIGINT) AS bucket
                        FROM ee),
                 ep AS (SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
                        FROM sb x JOIN sb y
                          ON x.bucket = y.bucket AND x.vec_id < y.vec_id
                        WHERE list_dot_product(x.v, y.v) /
                              (sqrt(list_dot_product(x.v, x.v)) *
                               sqrt(list_dot_product(y.v, y.v))) >= 0.3),
                 u AS (SELECT coalesce(t.doc_a, e.doc_a) AS doc_a,
                              coalesce(t.doc_b, e.doc_b) AS doc_b,
                              t.doc_a IS NOT NULL AS in_t,
                              e.doc_a IS NOT NULL AS in_e
                       FROM tp t FULL OUTER JOIN ep e
                         ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b)
           SELECT CASE WHEN in_t AND in_e THEN 'both'
                       WHEN in_t THEN 'text_only'
                       ELSE 'emb_only' END AS method,
                  count(*) AS n_pairs
           FROM u GROUP BY 1 ORDER BY method""",

      // greedy MMR chain replayed as 5 unrolled pick/update CTE pairs
      // on the sq8 integer lattice (λ=7/10 cleared of fractions:
      // argmax of 7·rel − 3·maxsim); round 1 is pure relevance
      "sim_mmr_select" ->
        """WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
                        x -> floor(x * 128)) AS v
                      FROM embeddings),
                q AS (SELECT vec_id AS query_id, v AS qv FROM e
                      WHERE vec_id < 2),
                rel AS (SELECT query_id, e.vec_id AS id, e.v,
                          CAST(list_dot_product(qv, e.v) AS BIGINT) AS rel
                        FROM q CROSS JOIN e WHERE e.vec_id != query_id),
                pool AS (SELECT query_id, id, v, rel FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY rel DESC, id) AS rn FROM rel) WHERE rn <= 24),
                p1 AS (SELECT query_id, id, v FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY rel DESC, id) AS rn FROM pool) WHERE rn = 1),
                c1 AS (SELECT c.query_id, c.id, c.v, c.rel,
                         CAST(list_dot_product(c.v, p.v) AS BIGINT)
                           AS maxsim
                       FROM pool c JOIN p1 p USING (query_id)
                       WHERE c.id != p.id),
                p2 AS (SELECT query_id, id, v FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY 7*rel - 3*maxsim DESC, id) AS rn FROM c1)
                  WHERE rn = 1),
                c2 AS (SELECT c.query_id, c.id, c.v, c.rel,
                         greatest(c.maxsim,
                           CAST(list_dot_product(c.v, p.v) AS BIGINT))
                           AS maxsim
                       FROM c1 c JOIN p2 p USING (query_id)
                       WHERE c.id != p.id),
                p3 AS (SELECT query_id, id, v FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY 7*rel - 3*maxsim DESC, id) AS rn FROM c2)
                  WHERE rn = 1),
                c3 AS (SELECT c.query_id, c.id, c.v, c.rel,
                         greatest(c.maxsim,
                           CAST(list_dot_product(c.v, p.v) AS BIGINT))
                           AS maxsim
                       FROM c2 c JOIN p3 p USING (query_id)
                       WHERE c.id != p.id),
                p4 AS (SELECT query_id, id, v FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY 7*rel - 3*maxsim DESC, id) AS rn FROM c3)
                  WHERE rn = 1),
                c4 AS (SELECT c.query_id, c.id, c.v, c.rel,
                         greatest(c.maxsim,
                           CAST(list_dot_product(c.v, p.v) AS BIGINT))
                           AS maxsim
                       FROM c3 c JOIN p4 p USING (query_id)
                       WHERE c.id != p.id),
                p5 AS (SELECT query_id, id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY 7*rel - 3*maxsim DESC, id) AS rn FROM c4)
                  WHERE rn = 1)
           SELECT query_id, rank, neighbor_id FROM (
             SELECT query_id, 1 AS rank, id AS neighbor_id FROM p1
             UNION ALL SELECT query_id, 2, id FROM p2
             UNION ALL SELECT query_id, 3, id FROM p3
             UNION ALL SELECT query_id, 4, id FROM p4
             UNION ALL SELECT query_id, 5, id FROM p5)
           ORDER BY query_id, rank""",

      "q_join_size_estimate" ->
        """WITH a AS (SELECT user_id AS key, count(*) AS n_left
                      FROM events GROUP BY user_id),
                b AS (SELECT user_id AS key, count(*) AS n_right
                      FROM events WHERE event_type = 'purchase'
                      GROUP BY user_id),
                pk AS (SELECT key, n_left, n_right,
                         CAST(CAST(n_left AS HUGEINT) * n_right
                           AS DECIMAL(38,0)) AS pairs
                       FROM a JOIN b USING (key)),
                tot AS (SELECT CAST(coalesce(sum(pairs), 0) AS DECIMAL(38,0))
                          AS total_pairs,
                          count(*) AS n_matching_keys
                        FROM pk),
                top AS (SELECT * FROM pk ORDER BY pairs DESC, key LIMIT 20)
           SELECT key, n_left, n_right,
                  CAST(pairs AS BIGINT) AS pairs,
                  CAST(total_pairs AS BIGINT) AS total_pairs,
                  CAST(n_matching_keys AS BIGINT) AS n_matching_keys,
                  CAST((CAST(pairs AS HUGEINT) * 1000000) //
                    CAST(total_pairs AS HUGEINT) AS BIGINT) AS share_ppm
           FROM top, tot ORDER BY pairs DESC, key""",

      "sim_ivf_append" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                cents AS (SELECT vec_id AS cid, v AS cv FROM e
                          WHERE vec_id % 29 = 0 AND vec_id < 400),
                asg AS (SELECT vec_id, bucket FROM (
                  SELECT e.vec_id, c.cid AS bucket,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           round(list_dot_product(e.v, c.cv) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                           c.cid) AS rn
                  FROM e CROSS JOIN cents c WHERE e.vec_id < 400)
                  WHERE rn = 1),
                occ AS (SELECT bucket, count(*) AS n_before
                        FROM asg GROUP BY bucket),
                newa AS (SELECT vec_id, bucket FROM (
                  SELECT e.vec_id, c.cid AS bucket,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           round(list_dot_product(e.v, c.cv) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                           c.cid) AS rn
                  FROM e CROSS JOIN cents c WHERE e.vec_id >= 400)
                  WHERE rn = 1)
           SELECT n.vec_id, n.bucket,
                  CAST(coalesce(o.n_before, 0) AS BIGINT) AS bucket_n_before
           FROM newa n LEFT JOIN occ o ON o.bucket = n.bucket
           ORDER BY n.vec_id""",

      "sim_embedding_drift" ->
        """WITH qa AS (SELECT i - 1 AS dim,
                         CAST(floor(embedding[i] * 128) AS HUGEINT) AS qv
                       FROM embeddings
                       CROSS JOIN generate_series(1, 64) AS t(i)
                       WHERE i <= len(embedding) AND vec_id % 2 = 0),
                a AS (SELECT dim, count(*) AS n_ref, sum(qv) AS sum_ref,
                        sum(qv * qv) AS ssq_ref,
                        sum(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS zero_ref
                      FROM qa GROUP BY dim),
                qb AS (SELECT i - 1 AS dim,
                         CAST(floor(embedding[i] * 128) AS HUGEINT) AS qv
                       FROM embeddings
                       CROSS JOIN generate_series(1, 64) AS t(i)
                       WHERE i <= len(embedding) AND vec_id % 2 = 1),
                b AS (SELECT dim, count(*) AS n_cur, sum(qv) AS sum_cur,
                        sum(qv * qv) AS ssq_cur,
                        sum(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS zero_cur
                      FROM qb GROUP BY dim)
           SELECT a.dim, CAST(n_ref AS BIGINT) AS n_ref,
                  CAST(n_cur AS BIGINT) AS n_cur,
                  CAST(sum_cur * n_ref - sum_ref * n_cur AS BIGINT)
                    AS mean_shift_n2,
                  CAST(ssq_cur * n_ref - ssq_ref * n_cur AS BIGINT)
                    AS e2_shift_n2,
                  CAST(zero_cur * n_ref - zero_ref * n_cur AS BIGINT)
                    AS zero_shift_n2
           FROM a JOIN b ON b.dim = a.dim ORDER BY a.dim""",

      "sim_ivf_det_topk" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                cents AS (SELECT vec_id AS cid, v AS cv FROM e
                          WHERE vec_id % 29 = 0),
                asg AS (SELECT vec_id, bucket FROM (
                  SELECT e.vec_id, c.cid AS bucket,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           round(list_dot_product(e.v, c.cv) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                           c.cid) AS rn
                  FROM e CROSS JOIN cents c) WHERE rn = 1),
                probes AS (SELECT query_id, bucket FROM (
                  SELECT q.vec_id AS query_id, c.cid AS bucket,
                         row_number() OVER (PARTITION BY q.vec_id ORDER BY
                           round(list_dot_product(q.v, c.cv) /
                             (sqrt(list_dot_product(q.v, q.v)) *
                              sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                           c.cid) AS rn
                  FROM e q CROSS JOIN cents c WHERE q.vec_id < 20)
                  WHERE rn <= 2),
                s AS (SELECT p.query_id, a.vec_id AS neighbor_id,
                        list_dot_product(qe.v, ne.v) /
                          (sqrt(list_dot_product(qe.v, qe.v)) *
                           sqrt(list_dot_product(ne.v, ne.v))) AS sim
                      FROM probes p
                      JOIN asg a ON a.bucket = p.bucket
                      JOIN e ne ON ne.vec_id = a.vec_id
                      JOIN e qe ON qe.vec_id = p.query_id
                      WHERE a.vec_id != p.query_id)
           SELECT query_id, rank, neighbor_id, round(sim, 4) AS sim FROM (
             SELECT query_id, neighbor_id, sim,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY round(sim, 6) DESC, neighbor_id) AS rank
             FROM s) WHERE rank <= 5
           ORDER BY query_id, rank""",

      "cdc_late_arrivals" ->
        """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us
                      FROM events),
                m AS (SELECT event_type,
                        (max(ts_us) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - ts_us) AS late_us
                      FROM e)
           SELECT event_type,
                  CAST(CASE WHEN late_us = 0 THEN 0
                            ELSE length(bin(late_us)) END AS BIGINT)
                    AS late_bin,
                  count(*) AS n, max(late_us) AS max_late_us
           FROM m GROUP BY event_type, late_bin
           ORDER BY event_type, late_bin""",

      "ts_trend_slope" ->
        """WITH e AS (SELECT user_id,
                        CAST(epoch_us(ts) // 60000000 AS HUGEINT) AS x,
                        CAST(floor(value * 1048576) AS HUGEINT) AS y
                      FROM events),
                a AS (SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
                             sum(x) AS sx, sum(y) AS sy,
                             sum(x*y) AS sxy, sum(x*x) AS sxx
                      FROM e GROUP BY user_id),
                d AS (SELECT user_id, CAST(n AS BIGINT) AS n_events,
                             (n*sxy - sx*sy) AS num,
                             (n*sxx - sx*sx) AS den
                      FROM a WHERE (n*sxx - sx*sx) > 0)
           SELECT user_id, n_events,
                  CAST(num AS BIGINT) AS num,
                  CAST(den AS BIGINT) AS den,
                  CAST(CASE WHEN num < 0 THEN -1 WHEN num > 0 THEN 1
                            ELSE 0 END
                       * ((abs(num) * 1000000) // den) AS BIGINT)
                    AS slope_ppm_per_min
           FROM d ORDER BY user_id""",

      // truncated EWMA: weights 2^(7-k) over the 8 most recent rows,
      // divided by the weight mass actually present (exact partial
      // head); // and Spark div both truncate toward zero
      "ts_ewma_smooth" ->
        """WITH e AS (SELECT user_id, event_id, ts,
                        CAST(floor(value * 1048576) AS BIGINT) AS q
                      FROM events),
                l AS (SELECT user_id, event_id, q,
                        lag(q, 1) OVER w AS q1, lag(q, 2) OVER w AS q2,
                        lag(q, 3) OVER w AS q3, lag(q, 4) OVER w AS q4,
                        lag(q, 5) OVER w AS q5, lag(q, 6) OVER w AS q6,
                        lag(q, 7) OVER w AS q7
                      FROM e WINDOW w AS (PARTITION BY user_id
                                          ORDER BY ts, event_id))
           SELECT user_id, event_id, q AS value_q20,
                  (128*q + 64*coalesce(q1, 0) + 32*coalesce(q2, 0)
                   + 16*coalesce(q3, 0) + 8*coalesce(q4, 0)
                   + 4*coalesce(q5, 0) + 2*coalesce(q6, 0)
                   + coalesce(q7, 0))
                  // (128 + CASE WHEN q1 IS NULL THEN 0 ELSE 64 END
                     + CASE WHEN q2 IS NULL THEN 0 ELSE 32 END
                     + CASE WHEN q3 IS NULL THEN 0 ELSE 16 END
                     + CASE WHEN q4 IS NULL THEN 0 ELSE 8 END
                     + CASE WHEN q5 IS NULL THEN 0 ELSE 4 END
                     + CASE WHEN q6 IS NULL THEN 0 ELSE 2 END
                     + CASE WHEN q7 IS NULL THEN 0 ELSE 1 END)
                    AS ewma_q20,
                  CAST(1 + CASE WHEN q1 IS NULL THEN 0 ELSE 1 END
                     + CASE WHEN q2 IS NULL THEN 0 ELSE 1 END
                     + CASE WHEN q3 IS NULL THEN 0 ELSE 1 END
                     + CASE WHEN q4 IS NULL THEN 0 ELSE 1 END
                     + CASE WHEN q5 IS NULL THEN 0 ELSE 1 END
                     + CASE WHEN q6 IS NULL THEN 0 ELSE 1 END
                     + CASE WHEN q7 IS NULL THEN 0 ELSE 1 END AS BIGINT)
                    AS n_lags
           FROM l ORDER BY user_id, event_id""",

      // arithmetic dow/hour from epoch micros (engine-neutral week
      // start: (days+4)%7, 0=Sunday); sums clamped to BIGINT at the
      // edge (DuckDB sum would widen to HUGEINT)
      "ts_seasonal_profile" ->
        """WITH e AS (SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
                        (epoch_us(ts) // 3600000000) % 24 AS hr,
                        CAST(floor(value * 1048576) AS BIGINT) AS q
                      FROM events),
                c AS (SELECT dow, hr, count(*) AS n,
                        CAST(sum(q) AS HUGEINT) AS sum_q20
                      FROM e GROUP BY dow, hr),
                t AS (SELECT count(*) AS n_total FROM events)
           SELECT dow, hr, n, CAST(sum_q20 AS BIGINT) AS sum_q20,
                  CAST((sum_q20 * 1000) // n AS BIGINT) AS avg_q20m,
                  (n * 1000000) // n_total AS share_ppm
           FROM c CROSS JOIN t ORDER BY dow, hr""",

      // deterministic Lloyd on the sq8 lattice: init = first k ids,
      // (distance, cluster) tie-break, truncated-integer-mean update —
      // every iteration replays bit-for-bit (k=8, iters=2)
      "sim_kmeans_assign" ->
        """WITH lat AS (SELECT vec_id, i - 1 AS dim,
                          CAST(floor(embedding[i] * 128) AS BIGINT) AS qv
                        FROM embeddings
                        CROSS JOIN generate_series(1, 64) AS t(i)
                        WHERE i <= len(embedding)),
                c0 AS (SELECT vec_id AS cluster, dim, qv AS cv
                       FROM lat WHERE vec_id IN
                         (SELECT vec_id FROM embeddings
                          ORDER BY vec_id LIMIT 8)),
                d1 AS (SELECT l.vec_id, c.cluster,
                         CAST(sum((l.qv - c.cv) * (l.qv - c.cv))
                           AS BIGINT) AS d
                       FROM lat l JOIN c0 c USING (dim) GROUP BY 1, 2),
                a1 AS (SELECT vec_id, cluster, d FROM (
                         SELECT vec_id, cluster, d,
                                row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cluster) AS rn
                         FROM d1) WHERE rn = 1),
                c1 AS (SELECT a.cluster, l.dim,
                         CAST(sum(l.qv) AS BIGINT) // count(*) AS cv
                       FROM lat l JOIN a1 a USING (vec_id) GROUP BY 1, 2),
                d2 AS (SELECT l.vec_id, c.cluster,
                         CAST(sum((l.qv - c.cv) * (l.qv - c.cv))
                           AS BIGINT) AS d
                       FROM lat l JOIN c1 c USING (dim) GROUP BY 1, 2),
                a2 AS (SELECT vec_id, cluster, d FROM (
                         SELECT vec_id, cluster, d,
                                row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cluster) AS rn
                         FROM d2) WHERE rn = 1),
                sz AS (SELECT cluster, count(*) AS cluster_n
                       FROM a2 GROUP BY cluster)
           SELECT vec_id, cluster, d AS dist_q, cluster_n
           FROM a2 JOIN sz USING (cluster) ORDER BY vec_id""",

      // cell-conditioned z-score, cleared-division verdict in HUGEINT
      "ts_seasonal_anomalies" ->
        """WITH e AS (SELECT event_id,
                        ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
                        (epoch_us(ts) // 3600000000) % 24 AS hr,
                        CAST(floor(value * 1048576) AS HUGEINT) AS q
                      FROM events),
                a AS (SELECT dow, hr, sum(q) AS s, sum(q*q) AS qq,
                             count(*) AS n
                      FROM e GROUP BY dow, hr)
           SELECT event_id, dow, hr, CAST(q AS BIGINT) AS value_q20,
                  n AS n_cell
           FROM e JOIN a USING (dow, hr)
           WHERE (q*n - s)*(q*n - s) > (qq*n - s*s)*9
           ORDER BY event_id""",

      // Bernoulli-sample SUM audit: membership via the h60 sampling
      // predicate (bit-reproducible), sums in HUGEINT, estimate is a
      // pure multiply (pct divides 100), decimal at the edge
      "sketch_sample_sum_audit" ->
        s"""WITH e AS (SELECT event_type,
                        CAST(CAST(floor(value * 1048576) AS BIGINT)
                          AS HUGEINT) AS q,
                        ${h60("CAST(event_id AS VARCHAR) || ':graft'")}
                          % 100 < 10 AS in_s
                      FROM events),
                a AS (SELECT event_type, count(*) AS n,
                        CAST(sum(CASE WHEN in_s THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_sampled,
                        sum(q) AS exact_sum_q,
                        coalesce(sum(CASE WHEN in_s THEN q END), 0)
                          AS sample_sum_q
                      FROM e GROUP BY event_type),
                b AS (SELECT event_type, n, n_sampled, exact_sum_q,
                        sample_sum_q * 10 AS est_sum_q
                      FROM a)
           SELECT event_type, n, n_sampled,
                  CAST(exact_sum_q AS BIGINT) AS exact_sum_q,
                  CAST(est_sum_q AS BIGINT) AS est_sum_q,
                  CASE WHEN exact_sum_q = 0 THEN NULL
                       ELSE CAST(CASE WHEN est_sum_q < exact_sum_q THEN -1
                                      WHEN est_sum_q > exact_sum_q THEN 1
                                      ELSE 0 END
                            * ((abs(est_sum_q - exact_sum_q) * 1000000)
                               // abs(exact_sum_q)) AS BIGINT)
                  END AS err_ppm
           FROM b ORDER BY event_type""",

      "text_k_anonymity_ladder" ->
        """WITH w AS (SELECT CAST(unnest([256, 512, 1024, 2048]) AS BIGINT)
                        AS width),
                c AS (SELECT width, lang, source,
                        n_chars - (n_chars % width) AS bin, count(*) AS n
                      FROM documents CROSS JOIN w GROUP BY 1, 2, 3, 4)
           SELECT width, count(*) AS n_classes,
                  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_at_risk,
                  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                    AS docs_at_risk
           FROM c GROUP BY width ORDER BY width""",

      "text_k_anonymity" ->
        """WITH c AS (SELECT lang, source,
                        n_chars - (n_chars % 256) AS chars_bin,
                        count(*) AS n
                      FROM documents GROUP BY 1, 2, 3),
                t AS (SELECT count(*) AS n_total FROM documents)
           SELECT lang, source, chars_bin, n,
                  CAST(CASE WHEN n < 5 THEN 1 ELSE 0 END AS BIGINT)
                    AS at_risk,
                  (n * 1000000) // n_total AS share_ppm
           FROM c CROSS JOIN t ORDER BY lang, source, chars_bin""",

      "layout_zorder" ->
        """WITH pts AS (SELECT (user_id % 1024) AS x,
                          (extract(hour FROM ts) * 60
                           + extract(minute FROM ts)) // 2 AS y
                        FROM events),
                s1 AS (SELECT x, y,
                         ((x | (x << 8)) & 16711935) AS xa,
                         ((y | (y << 8)) & 16711935) AS ya FROM pts),
                s2 AS (SELECT x, y,
                         ((xa | (xa << 4)) & 252645135) AS xb,
                         ((ya | (ya << 4)) & 252645135) AS yb FROM s1),
                s3 AS (SELECT x, y,
                         ((xb | (xb << 2)) & 858993459) AS xc,
                         ((yb | (yb << 2)) & 858993459) AS yc FROM s2),
                s4 AS (SELECT x, y,
                         ((xc | (xc << 1)) & 1431655765) AS xd,
                         ((yc | (yc << 1)) & 1431655765) AS yd FROM s3),
                z AS (SELECT x, y,
                        ((xd | (yd << 1)) >> 14) AS zfile FROM s4)
           SELECT zfile, count(*) AS n_rows,
                  min(x) AS min_x, max(x) AS max_x,
                  min(y) AS min_y, max(y) AS max_y,
                  (max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS rect_area
           FROM z GROUP BY zfile ORDER BY zfile""",

      "dedup_ppjoin_exact" ->
        s"""WITH sh AS (
              SELECT doc_id,
                     CASE WHEN len(string_split($norm, ' ')) >= 3
                          THEN list_distinct(list_transform(
                            generate_series(1, len(string_split($norm, ' ')) - 2),
                            i -> string_split($norm, ' ')[i] || ' ' ||
                                 string_split($norm, ' ')[i+1] || ' ' ||
                                 string_split($norm, ' ')[i+2]))
                          ELSE [array_to_string(string_split($norm, ' '), ' ')]
                     END AS s
              FROM documents),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            dfq AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
            sz AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
            r AS (SELECT ex.doc_id, ex.g,
                    row_number() OVER (PARTITION BY ex.doc_id
                      ORDER BY dfq.df, ex.g) AS rnk,
                    sz.sz
                  FROM ex JOIN dfq USING (g) JOIN sz USING (doc_id)),
            -- prefix: rarest sz - ceil(sz/2) + 1 shingles (t = 1/2)
            pref AS (SELECT doc_id, g FROM r
                     WHERE rnk <= sz - ((sz + 1) // 2) + 1),
            cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM pref a JOIN pref b
                       ON a.g = b.g AND a.doc_id < b.doc_id),
            i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    count(*) AS inter
                  FROM ex a
                  JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
                  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
                  GROUP BY 1, 2),
            j AS (SELECT i.doc_a, i.doc_b, i.inter,
                    za.sz + zb.sz - i.inter AS uni
                  FROM i JOIN sz za ON za.doc_id = i.doc_a
                  JOIN sz zb ON zb.doc_id = i.doc_b)
           SELECT doc_a, doc_b,
                  CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
           FROM j WHERE inter * 2 >= uni
           ORDER BY doc_a, doc_b""",

      "sim_dim_stats" ->
        """WITH q AS (SELECT i - 1 AS dim,
                        CAST(floor(embedding[i] * 128) AS BIGINT) AS qv
                      FROM embeddings
                      CROSS JOIN generate_series(1, 64) AS t(i)
                      WHERE i <= len(embedding))
           SELECT dim, count(*) AS n,
                  CAST(sum(qv) AS BIGINT) AS sum_q,
                  CAST(sum(CAST(qv AS HUGEINT) * CAST(qv AS HUGEINT))
                    AS BIGINT) AS sumsq_q,
                  min(qv) AS min_q, max(qv) AS max_q,
                  CAST(sum(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_zero
           FROM q GROUP BY dim ORDER BY dim""",

      "sim_dim_covariance" ->
        """WITH q AS (SELECT vec_id, i - 1 AS dim,
                        CAST(floor(embedding[i] * 128) AS HUGEINT) AS qv
                      FROM embeddings
                      CROSS JOIN generate_series(1, 64) AS t(i)
                      WHERE i <= len(embedding) AND vec_id < 200),
                m AS (SELECT a.dim AS dim_a, b.dim AS dim_b,
                        CAST(count(*) AS HUGEINT) AS n,
                        sum(a.qv) AS s_a, sum(b.qv) AS s_b,
                        sum(a.qv * b.qv) AS s_ab
                      FROM q a JOIN q b ON a.vec_id = b.vec_id
                        AND a.dim <= b.dim
                      GROUP BY a.dim, b.dim)
           SELECT dim_a, dim_b, CAST(n AS BIGINT) AS n,
                  CAST(s_a AS BIGINT) AS s_a,
                  CAST(s_b AS BIGINT) AS s_b,
                  CAST(s_ab AS BIGINT) AS s_ab,
                  CAST(n * s_ab - s_a * s_b AS BIGINT) AS cov_n2
           FROM m ORDER BY dim_a, dim_b""",

      "q_fk_integrity" ->
        """SELECT * FROM (
             SELECT 'lineitem.orderkey' AS fk_edge,
               (SELECT count(*) FROM lineitem) AS n_child,
               (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
                 (SELECT o_orderkey FROM orders)) AS n_orphans
             UNION ALL
             SELECT 'lineitem.partkey',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
                 (SELECT p_partkey FROM part))
             UNION ALL
             SELECT 'lineitem.suppkey',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
                 (SELECT s_suppkey FROM supplier))
             UNION ALL
             SELECT 'orders.custkey',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders WHERE o_custkey NOT IN
                 (SELECT c_custkey FROM customer))
             UNION ALL
             SELECT 'customer.nationkey',
               (SELECT count(*) FROM customer),
               (SELECT count(*) FROM customer WHERE c_nationkey NOT IN
                 (SELECT n_nationkey FROM nation)))
           ORDER BY fk_edge""",

      "q_fd_violations" ->
        """WITH
            f1 AS (SELECT count(DISTINCT o_custkey) AS n_rhs, count(*) AS n_rows
                   FROM orders GROUP BY o_orderkey),
            f2 AS (SELECT count(DISTINCT l_partkey) AS n_rhs, count(*) AS n_rows
                   FROM lineitem GROUP BY l_orderkey, l_linenumber),
            f3 AS (SELECT count(DISTINCT n_regionkey) AS n_rhs, count(*) AS n_rows
                   FROM nation GROUP BY n_nationkey),
            f4 AS (SELECT count(DISTINCT event_type) AS n_rhs, count(*) AS n_rows
                   FROM events GROUP BY user_id),
            f5 AS (SELECT count(DISTINCT lang) AS n_rhs, count(*) AS n_rows
                   FROM documents GROUP BY doc_id),
            f6 AS (SELECT count(DISTINCT lang) AS n_rhs, count(*) AS n_rows
                   FROM documents GROUP BY source)
           SELECT * FROM (
             SELECT 'orders.orderkey->custkey' AS fd, count(*) AS n_groups,
               CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
               CAST(coalesce(sum(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END), 0) AS BIGINT) AS n_violating_rows
             FROM f1
             UNION ALL
             SELECT 'lineitem.order+line->partkey', count(*),
               CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(coalesce(sum(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END), 0) AS BIGINT) FROM f2
             UNION ALL
             SELECT 'nation.key->regionkey', count(*),
               CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(coalesce(sum(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END), 0) AS BIGINT) FROM f3
             UNION ALL
             SELECT 'events.user->type', count(*),
               CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(coalesce(sum(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END), 0) AS BIGINT) FROM f4
             UNION ALL
             SELECT 'documents.doc->lang', count(*),
               CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(coalesce(sum(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END), 0) AS BIGINT) FROM f5
             UNION ALL
             SELECT 'documents.source->lang', count(*),
               CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(coalesce(sum(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END), 0) AS BIGINT) FROM f6)
           ORDER BY fd""",

      "q_interval_join" ->
        """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
                         epoch_us(ts) + 600000000 AS end_us
                       FROM events WHERE event_type = 'click'),
                w AS (SELECT user_id, event_id, start_us, end_us,
                        max(end_us) OVER (PARTITION BY user_id
                          ORDER BY start_us, end_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          AS prev_max
                      FROM iv),
                f AS (SELECT user_id, event_id, start_us, end_us,
                        CASE WHEN prev_max IS NULL OR start_us > prev_max
                             THEN 1 ELSE 0 END AS new_island
                      FROM w),
                i AS (SELECT user_id, start_us, end_us,
                        sum(new_island) OVER (PARTITION BY user_id
                          ORDER BY start_us, end_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS island
                      FROM f),
                m AS (SELECT user_id, min(start_us) AS span_start,
                        max(end_us) AS span_end
                      FROM i GROUP BY user_id, island),
                p AS (SELECT user_id, epoch_us(ts) AS p_us, value
                      FROM events WHERE event_type = 'purchase')
           SELECT m.user_id, m.span_start, m.span_end,
                  count(*) AS n_purchases,
                  CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE)
                    AS purchase_value
           FROM m JOIN p ON p.user_id = m.user_id
             AND p.p_us >= m.span_start AND p.p_us <= m.span_end
           GROUP BY m.user_id, m.span_start, m.span_end
           ORDER BY m.user_id, m.span_start""",

      "q_salted_join" ->
        s"""SELECT s_nationkey, count(*) AS n_items,
                  CAST(sum($discPrice) AS DOUBLE) AS revenue
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY s_nationkey ORDER BY s_nationkey""",

      "sim_pca_power" ->
        """WITH q AS (SELECT vec_id, i - 1 AS dim,
                        CAST(floor(embedding[i] * 128) AS HUGEINT) AS qv
                      FROM embeddings
                      CROSS JOIN generate_series(1, 64) AS t(i)
                      WHERE i <= len(embedding) AND vec_id < 200),
                m AS (SELECT a.dim AS dim_a, b.dim AS dim_b,
                        CAST(count(*) AS HUGEINT) AS n,
                        sum(a.qv) AS s_a, sum(b.qv) AS s_b,
                        sum(a.qv * b.qv) AS s_ab
                      FROM q a JOIN q b ON a.vec_id = b.vec_id
                      GROUP BY a.dim, b.dim),
                c AS (SELECT dim_a, dim_b,
                        (n * s_ab - s_a * s_b) AS cv
                      FROM m),
                v1 AS (SELECT dim_a AS dim, sum(cv) AS v
                       FROM c GROUP BY dim_a),
                v2 AS (SELECT c.dim_a AS dim, sum(c.cv * v1.v) AS v
                       FROM c JOIN v1 ON v1.dim = c.dim_b GROUP BY c.dim_a),
                v3 AS (SELECT c.dim_a AS dim, sum(c.cv * v2.v) AS v
                       FROM c JOIN v2 ON v2.dim = c.dim_b GROUP BY c.dim_a)
           SELECT dim, CAST(v AS VARCHAR) AS v
           FROM v3 ORDER BY dim""",

      "sim_pca_scores" ->
        """WITH q AS (SELECT vec_id, i - 1 AS dim,
                        CAST(floor(embedding[i] * 128) AS HUGEINT) AS qv
                      FROM embeddings
                      CROSS JOIN generate_series(1, 64) AS t(i)
                      WHERE i <= len(embedding) AND vec_id < 200),
                m AS (SELECT a.dim AS dim_a, b.dim AS dim_b,
                        CAST(count(*) AS HUGEINT) AS n,
                        sum(a.qv) AS s_a, sum(b.qv) AS s_b,
                        sum(a.qv * b.qv) AS s_ab
                      FROM q a JOIN q b ON a.vec_id = b.vec_id
                      GROUP BY a.dim, b.dim),
                c AS (SELECT dim_a, dim_b,
                        (n * s_ab - s_a * s_b) AS cv
                      FROM m),
                v1 AS (SELECT dim_a AS dim, sum(cv) AS v
                       FROM c GROUP BY dim_a),
                v2 AS (SELECT c.dim_a AS dim, sum(c.cv * v1.v) AS v
                       FROM c JOIN v1 ON v1.dim = c.dim_b GROUP BY c.dim_a),
                v3 AS (SELECT c.dim_a AS dim, sum(c.cv * v2.v) AS v
                       FROM c JOIN v2 ON v2.dim = c.dim_b GROUP BY c.dim_a)
           SELECT q.vec_id,
                  CAST(sum(q.qv * v3.v) AS VARCHAR) AS score
           FROM q JOIN v3 ON v3.dim = q.dim
           GROUP BY q.vec_id
           ORDER BY abs(sum(q.qv * v3.v)) DESC, q.vec_id LIMIT 20""",

      "q_window_ranks" ->
        """SELECT l_orderkey, l_linenumber,
                  CAST(l_quantity AS BIGINT) AS qty,
                  CAST(rank() OVER w1 AS BIGINT) AS rnk,
                  CAST(dense_rank() OVER w1 AS BIGINT) AS drnk,
                  percent_rank() OVER w1 AS prnk,
                  cume_dist() OVER w1 AS cdist,
                  CAST(ntile(4) OVER w2 AS BIGINT) AS quartile
           FROM lineitem
           WINDOW w1 AS (PARTITION BY l_orderkey ORDER BY l_quantity),
                  w2 AS (PARTITION BY l_orderkey
                         ORDER BY l_quantity, l_linenumber)
           ORDER BY l_orderkey, l_linenumber""",

      "q_skew_profile" ->
        """WITH c AS (SELECT user_id AS key, count(*) AS cnt
                      FROM events GROUP BY user_id),
                s AS (SELECT count(*) AS n_keys,
                        CAST(sum(cnt) AS BIGINT) AS n_rows FROM c)
           SELECT c.key, c.cnt,
                  CAST(c.cnt AS DOUBLE) * s.n_keys / s.n_rows AS skew,
                  s.n_keys, s.n_rows
           FROM c CROSS JOIN s
           ORDER BY c.cnt DESC, c.key LIMIT 10""",

      "pipeline_data_card" ->
        s"""WITH dtot AS (SELECT count(*) AS n, sum(n_chars) AS chars,
                           count(DISTINCT source) AS srcs,
                           count(DISTINCT lang) AS langs
                         FROM documents),
                lt AS (SELECT lang, count(*) AS cnt FROM documents
                       GROUP BY lang ORDER BY cnt DESC, lang DESC LIMIT 1),
                dup AS (SELECT sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END)
                            AS g,
                          sum(n_copies - 1) AS extra, sum(n_copies) AS n
                        FROM (SELECT count(*) AS n_copies FROM documents
                              GROUP BY md5($norm))),
                ev AS (SELECT count(*) AS n,
                         count(DISTINCT user_id) AS u FROM events),
                em AS (SELECT count(*) AS n, max(len(embedding)) AS dims
                       FROM embeddings),
                dd AS (SELECT count(*) AS k FROM (
                         SELECT i - 1 AS dim,
                           min(CAST(floor(embedding[i] * 128) AS BIGINT))
                             AS mn,
                           max(CAST(floor(embedding[i] * 128) AS BIGINT))
                             AS mx
                         FROM embeddings
                         CROSS JOIN generate_series(1, 64) AS t(i)
                         WHERE i <= len(embedding)
                         GROUP BY dim) WHERE mn = mx)
           SELECT * FROM (
             SELECT 'docs_n' AS metric, CAST(n AS DOUBLE) AS value,
               '' AS detail FROM dtot
             UNION ALL
             SELECT 'docs_chars_total', CAST(chars AS DOUBLE), '' FROM dtot
             UNION ALL
             SELECT 'docs_sources_n', CAST(srcs AS DOUBLE), '' FROM dtot
             UNION ALL
             SELECT 'docs_langs_n', CAST(langs AS DOUBLE), '' FROM dtot
             UNION ALL
             SELECT 'docs_lang_top_share',
               CAST(lt.cnt AS DOUBLE) / (SELECT n FROM dtot), lt.lang
             FROM lt
             UNION ALL
             SELECT 'dup_exact_groups', CAST(g AS DOUBLE), '' FROM dup
             UNION ALL
             SELECT 'dup_exact_rate', CAST(extra AS DOUBLE) / n, '' FROM dup
             UNION ALL
             SELECT 'events_n', CAST(n AS DOUBLE), '' FROM ev
             UNION ALL
             SELECT 'events_users_n', CAST(u AS DOUBLE), '' FROM ev
             UNION ALL
             SELECT 'events_per_user', CAST(n AS DOUBLE) / u, '' FROM ev
             UNION ALL
             SELECT 'vectors_n', CAST(n AS DOUBLE), '' FROM em
             UNION ALL
             SELECT 'vectors_dims', CAST(dims AS DOUBLE), '' FROM em
             UNION ALL
             SELECT 'vectors_dead_dims', CAST(k AS DOUBLE), '' FROM dd)
           ORDER BY metric""",

      "cdc_join_maintenance" ->
        """WITH dim AS (SELECT user_id, min(epoch_us(ts)) AS first_seen_us
                        FROM events GROUP BY user_id),
                m2 AS (SELECT user_id, event_id, ts, event_type
                       FROM (SELECT *, row_number() OVER (
                               PARTITION BY user_id
                               ORDER BY event_id DESC) AS rn
                             FROM events WHERE event_id <= 8000)
                       WHERE rn = 1)
           SELECT m2.user_id, m2.event_id, epoch_us(m2.ts) AS ts_us,
                  m2.event_type, dim.first_seen_us
           FROM m2 JOIN dim USING (user_id)
           ORDER BY user_id""",

      "cdc_snapshot_diff" ->
        """WITH ev AS (SELECT event_id, ts, user_id, event_type, value,
                         props,
                         CASE WHEN event_type IN ('signup', 'purchase')
                                THEN 'I'
                              WHEN event_type IN ('click', 'view')
                                THEN 'U'
                              ELSE 'D' END AS action
                       FROM events),
                m1 AS (SELECT * FROM (
                         SELECT *, row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rn
                         FROM ev
                         WHERE ts <= TIMESTAMP '2024-01-10 00:00:00')
                       WHERE rn = 1 AND action <> 'D'),
                m2 AS (SELECT * FROM (
                         SELECT *, row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rn
                         FROM ev
                         WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
                       WHERE rn = 1 AND action <> 'D'),
                d AS (SELECT coalesce(m2.user_id, m1.user_id) AS user_id,
                        CASE WHEN m1.user_id IS NULL THEN 'I'
                             WHEN m2.user_id IS NULL THEN 'D'
                             WHEN (m1.event_id IS DISTINCT FROM m2.event_id)
                               OR (m1.ts IS DISTINCT FROM m2.ts)
                               OR (m1.event_type IS DISTINCT FROM
                                   m2.event_type)
                               OR (m1.value IS DISTINCT FROM m2.value)
                               OR (m1.props IS DISTINCT FROM m2.props)
                               OR (m1.action IS DISTINCT FROM m2.action)
                             THEN 'U' END AS diff_action,
                        CASE WHEN m2.user_id IS NULL THEN m1.event_id
                             ELSE m2.event_id END AS event_id,
                        CASE WHEN m2.user_id IS NULL THEN m1.ts
                             ELSE m2.ts END AS ts,
                        CASE WHEN m2.user_id IS NULL THEN m1.event_type
                             ELSE m2.event_type END AS event_type,
                        CASE WHEN m2.user_id IS NULL THEN m1.value
                             ELSE m2.value END AS value
                      FROM m1 FULL JOIN m2 ON m1.user_id = m2.user_id)
           SELECT user_id, diff_action, event_id, epoch_us(ts) AS ts_us,
                  event_type, value
           FROM d WHERE diff_action IS NOT NULL ORDER BY user_id""",

      "q_interval_merge" ->
        """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
                         epoch_us(ts) + 300000000 AS end_us
                       FROM events),
                w AS (SELECT user_id, event_id, start_us, end_us,
                        max(end_us) OVER (PARTITION BY user_id
                          ORDER BY start_us, end_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          AS prev_max
                      FROM iv),
                f AS (SELECT user_id, event_id, start_us, end_us,
                        CASE WHEN prev_max IS NULL OR start_us > prev_max
                             THEN 1 ELSE 0 END AS new_island
                      FROM w),
                i AS (SELECT user_id, start_us, end_us,
                        sum(new_island) OVER (PARTITION BY user_id
                          ORDER BY start_us, end_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS island
                      FROM f)
           SELECT user_id, min(start_us) AS span_start_us,
                  max(end_us) AS span_end_us, count(*) AS n_intervals
           FROM i GROUP BY user_id, island
           ORDER BY user_id, span_start_us""",

      "q_bloom_prefilter" ->
        """SELECT l_returnflag, count(*) AS n_items,
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100
                    AS BIGINT) AS sum_qty_cents
           FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                WHERE o_totalprice > 400000.0)
           GROUP BY l_returnflag ORDER BY l_returnflag""",

      "cdc_pit_enrich" ->
        """WITH h AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS version
                      FROM events
                      WHERE event_type IN ('purchase', 'error')),
                dim AS (SELECT user_id, ts_us,
                          CAST(max_by(version, version) AS BIGINT)
                            AS state_version,
                          max_by(event_type, version) AS state
                        FROM h GROUP BY 1, 2),
                f AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                      FROM events WHERE event_type = 'click')
           SELECT f.event_id, f.user_id, f.ts_us,
                  d.state_version, d.state
           FROM f ASOF LEFT JOIN dim d
             ON f.user_id = d.user_id AND f.ts_us >= d.ts_us
           ORDER BY f.event_id""",

      "cdc_state_dwell" ->
        """WITH h AS (SELECT user_id, event_type, epoch_us(ts) AS from_us,
                        epoch_us(lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id)) AS to_us
                      FROM events
                      WHERE event_type IN ('purchase', 'error')),
                hor AS (SELECT max(epoch_us(ts)) AS h_us FROM events)
           SELECT event_type AS state, count(*) AS n_intervals,
                  CAST(sum(coalesce(to_us, h_us) - from_us) AS BIGINT)
                    AS total_dwell_us,
                  max(coalesce(to_us, h_us) - from_us) AS max_dwell_us
           FROM h CROSS JOIN hor
           GROUP BY event_type ORDER BY state""",

      "layout_zonemap" ->
        """SELECT event_id // 1024 AS rg, count(*) AS n_rows,
                  min(epoch_us(ts)) AS min_d1, max(epoch_us(ts)) AS max_d1,
                  min(user_id) AS min_d2, max(user_id) AS max_d2,
                  (max(epoch_us(ts)) < 1704844800000000
                   OR min(epoch_us(ts)) > 1704931199999999) AS skip_d1,
                  (max(user_id) < 10 OR min(user_id) > 19) AS skip_d2
           FROM events GROUP BY rg ORDER BY rg""",

      "layout_compaction_plan" ->
        """SELECT source AS part, count(*) AS n_files,
                  CAST(sum(n_chars) AS BIGINT) AS total_bytes,
                  CAST(sum(CASE WHEN n_chars < 256 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_small,
                  CAST(sum(CASE WHEN n_chars < 256 THEN n_chars ELSE 0 END)
                    AS BIGINT) AS small_bytes,
                  (CAST(sum(CASE WHEN n_chars < 256 THEN n_chars ELSE 0 END)
                     AS BIGINT) + 1023) // 1024 AS n_compacted,
                  CASE WHEN sum(CASE WHEN n_chars < 256 THEN 1 ELSE 0 END) > 0
                       THEN CAST(sum(CASE WHEN n_chars < 256 THEN 1 ELSE 0 END)
                              AS BIGINT)
                            - greatest(
                                (CAST(sum(CASE WHEN n_chars < 256
                                           THEN n_chars ELSE 0 END)
                                   AS BIGINT) + 1023) // 1024, 1)
                       ELSE 0 END AS files_saved
           FROM documents GROUP BY source ORDER BY part""",

      "ts_cusum_changepoint" ->
        """WITH m AS (SELECT event_type, date_trunc('minute', ts) AS mn,
                        count(*) AS c
                      FROM events GROUP BY 1, 2),
                t AS (SELECT event_type, mn,
                        CAST(count(*) OVER (PARTITION BY event_type)
                          AS BIGINT) AS n,
                        CAST(sum(c) OVER (PARTITION BY event_type)
                          AS BIGINT) AS tot,
                        CAST(sum(c) OVER (PARTITION BY event_type
                          ORDER BY mn ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS pre,
                        CAST(row_number() OVER (PARTITION BY event_type
                          ORDER BY mn) AS BIGINT) AS k
                      FROM m),
                s AS (SELECT event_type, mn, n, tot,
                        abs(n * pre - k * tot) AS s_abs,
                        row_number() OVER (PARTITION BY event_type
                          ORDER BY abs(n * pre - k * tot) DESC, mn) AS rn
                      FROM t)
           SELECT event_type, epoch_us(mn) AS cp_minute_us,
                  CAST(s_abs AS BIGINT) AS s_abs, n AS n_minutes,
                  tot AS total_events
           FROM s WHERE rn = 1 ORDER BY event_type""",

      "mm_scene_changes" ->
        s"""WITH m AS (SELECT doc_id AS id, md5(text) AS ck,
                         ${h60("text")} AS h
                       FROM documents),
                fr AS (SELECT id, ck,
                         unnest(range(0, (h >> 32) % 240 + 1, 10)) AS f
                       FROM m),
                cu AS (SELECT id, ck, f,
                         CASE WHEN f > 0 AND
                                ${h60("ck || ':cut:' || f")} % 8 = 0
                              THEN 1 ELSE 0 END AS cut
                       FROM fr),
                sc AS (SELECT id, ck, f, cut,
                         CAST(sum(cut) OVER (PARTITION BY id ORDER BY f
                           ROWS BETWEEN UNBOUNDED PRECEDING AND
                           CURRENT ROW) AS BIGINT) AS scene
                       FROM cu),
                dh AS (SELECT id, f, cut, scene,
                         ${h60("ck || ':s:' || scene")}
                           & ((1::BIGINT << 24) - 1) AS base,
                         ${h60("ck || ':d:' || f")} AS dhash
                       FROM sc),
                ph AS (SELECT id, f, cut, scene,
                         xor(base,
                           (1::BIGINT << CAST(dhash % 24 AS INT))
                           | (1::BIGINT << CAST((dhash >> 8) % 24 AS INT)))
                           AS phv
                       FROM dh),
                lg AS (SELECT id, f, cut, scene, phv,
                         lag(phv) OVER (PARTITION BY id ORDER BY f) AS prev
                       FROM ph)
           SELECT id AS doc_id, f AS frame,
                  CAST(bit_count(xor(phv, prev)) AS BIGINT) AS hamming,
                  scene, CAST(cut AS BIGINT) AS is_true_cut
           FROM lg WHERE prev IS NOT NULL
             AND (bit_count(xor(phv, prev)) > 6 OR cut = 1)
           ORDER BY doc_id, frame""",

      "ts_gap_fill" ->
        """WITH grid AS (SELECT user_id,
                           1704844800000000 + i * 3600000000 AS ts_us
                         FROM (SELECT DISTINCT user_id FROM events)
                         CROSS JOIN (SELECT unnest(range(24)) AS i)),
                obs AS (SELECT user_id, epoch_us(ts) AS ts_us,
                          max_by(CAST(floor(value * 1048576) AS BIGINT),
                                 event_id) AS q,
                          max_by(event_id, event_id) AS src_event_id
                        FROM events GROUP BY 1, 2)
           SELECT g.user_id, g.ts_us, o.q AS value_q20, o.src_event_id,
                  g.ts_us - o.ts_us AS staleness_us
           FROM grid g ASOF LEFT JOIN obs o
             ON g.user_id = o.user_id AND g.ts_us >= o.ts_us
           ORDER BY g.user_id, g.ts_us""",

      "sketch_hll_ndv_error" ->
        s"""WITH h AS (SELECT event_type,
                         ${h60("CAST(user_id AS VARCHAR)")} AS h
                       FROM events),
                b AS (SELECT event_type, h >> 54 AS bucket,
                             h & ((1::BIGINT << 54) - 1) AS rem
                      FROM h),
                r AS (SELECT event_type, bucket,
                        max(CASE WHEN rem = 0 THEN 55
                                 ELSE 55 - length(bin(rem)) END) AS register
                      FROM b GROUP BY 1, 2),
                z AS (SELECT event_type,
                        sum(1::BIGINT << (55 - register))
                          + (64 - count(*)) * (1::BIGINT << 55) AS z
                      FROM r GROUP BY 1),
                est AS (SELECT event_type,
                          CAST((709::HUGEINT * 4096 * (1::HUGEINT << 55))
                            // (1000::HUGEINT * z) AS BIGINT)
                            AS hll_estimate
                        FROM z),
                ex AS (SELECT event_type,
                         count(DISTINCT user_id) AS exact_ndv
                       FROM events GROUP BY 1)
           SELECT ex.event_type, exact_ndv, hll_estimate,
                  CAST(CASE WHEN hll_estimate < exact_ndv THEN -1
                            WHEN hll_estimate > exact_ndv THEN 1
                            ELSE 0 END
                       * ((abs(hll_estimate - exact_ndv) * 1000000)
                          // exact_ndv) AS BIGINT) AS err_ppm
           FROM ex JOIN est USING (event_type) ORDER BY event_type""",

      "sketch_quantile_bounds" ->
        """WITH e AS (SELECT event_type,
                        CAST(floor(value * 1048576) AS BIGINT) AS q
                      FROM events),
                b AS (SELECT event_type, q,
                        CAST(CASE WHEN q > 0 THEN length(bin(q))
                                  WHEN q < 0 THEN -length(bin(-q))
                                  ELSE 0 END AS BIGINT) AS bin
                      FROM e),
                h AS (SELECT event_type, bin, count(*) AS n,
                        min(q) AS min_q, max(q) AS max_q
                      FROM b GROUP BY 1, 2),
                c AS (SELECT event_type, bin, min_q, max_q, n,
                        CAST(sum(n) OVER (PARTITION BY event_type
                          ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS cum,
                        CAST(sum(n) OVER (PARTITION BY event_type)
                          AS BIGINT) AS n_total
                      FROM h),
                p AS (SELECT c.*, q_pct
                      FROM c CROSS JOIN (SELECT unnest([50, 90, 99])
                                         AS q_pct) t
                      WHERE cum >= (q_pct * n_total + 99) // 100)
           SELECT event_type, CAST(q_pct AS INT) AS q_pct,
                  min(bin) AS bin,
                  min_by(min_q, bin) AS lo_q, min_by(max_q, bin) AS hi_q,
                  max(n_total) AS n_total
           FROM p GROUP BY event_type, q_pct
           ORDER BY event_type, q_pct""",

      "sketch_ams_join_size" ->
        s"""WITH js AS (SELECT unnest(range(16)) AS j),
                ha AS (SELECT ${h60("CAST(l_orderkey AS VARCHAR)")} AS h
                       FROM lineitem),
                hb AS (SELECT ${h60("CAST(o_orderkey AS VARCHAR)")} AS h
                       FROM orders),
                za AS (SELECT j, sum(1 - 2 * ((h >> j) & 1)) AS z
                       FROM ha CROSS JOIN js GROUP BY j),
                zb AS (SELECT j, sum(1 - 2 * ((h >> j) & 1)) AS z
                       FROM hb CROSS JOIN js GROUP BY j),
                x AS (SELECT za.z * zb.z AS x
                      FROM za JOIN zb USING (j)),
                est AS (SELECT CAST(CASE WHEN coalesce(sum(x), 0) < 0
                                         THEN -1
                                         WHEN coalesce(sum(x), 0) > 0
                                         THEN 1 ELSE 0 END
                          * (abs(coalesce(sum(x), 0)) // 16) AS BIGINT)
                          AS ams_estimate FROM x),
                ex AS (SELECT CAST(coalesce(sum(na * nb), 0)
                         AS BIGINT) AS exact_size FROM
                       (SELECT l_orderkey AS key, count(*) AS na
                        FROM lineitem GROUP BY 1) a
                       JOIN (SELECT o_orderkey AS key, count(*) AS nb
                             FROM orders GROUP BY 1) b USING (key))
           SELECT CAST(16 AS INT) AS n_estimators, exact_size,
                  ams_estimate,
                  CASE WHEN exact_size = 0 THEN NULL
                       ELSE CAST(CASE WHEN ams_estimate < exact_size
                                      THEN -1
                                      WHEN ams_estimate > exact_size
                                      THEN 1 ELSE 0 END
                            * ((abs(ams_estimate - exact_size)::HUGEINT
                                * 1000000)
                               // exact_size::HUGEINT) AS BIGINT)
                  END AS err_ppm
           FROM ex CROSS JOIN est""",

      "graph_cooccur_kcore" -> {
        // unrolled peel: 16 rounds of (degree, keep, filter) — sound
        // because peeling is idempotent after its fixpoint (the engine
        // require()s convergence within the same bound). MATERIALIZED
        // is load-bearing: DuckDB inlines plain CTEs, and each round
        // references the previous one 3× — an inlined chain is a
        // 3^16 plan blowup.
        val peel = (1 to 16).map { i =>
          s"""d$i AS MATERIALIZED (SELECT node, count(*) AS dg FROM
                 (SELECT a AS node FROM e${i - 1}
                  UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
              k$i AS MATERIALIZED (SELECT node FROM d$i WHERE dg >= 16),
              e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
                      WHERE a IN (SELECT node FROM k$i)
                        AND b IN (SELECT node FROM k$i))"""
        }.mkString(",\n")
        s"""WITH $cooccurCtes,
                e0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM cooc),
                $peel
           SELECT node AS user_id, CAST(count(*) AS BIGINT) AS core_degree
           FROM (SELECT a AS node FROM e16 UNION ALL SELECT b FROM e16)
           GROUP BY 1 ORDER BY user_id"""
      },

      "graph_link_prediction" ->
        s"""WITH $cooccurCtes,
                dirs AS (SELECT src AS node, dst AS nbr, shared FROM cooc
                         UNION ALL SELECT dst, src, shared FROM cooc),
                rk AS (SELECT node, nbr, row_number() OVER (
                         PARTITION BY node ORDER BY shared DESC, nbr)
                         AS rn FROM dirs),
                e AS MATERIALIZED
                  (SELECT least(node, nbr) AS a, greatest(node, nbr) AS b
                   FROM rk WHERE rn <= 10 GROUP BY 1, 2),
                adj AS (SELECT a AS node, b AS nbr FROM e
                        UNION ALL SELECT b, a FROM e),
                deg AS MATERIALIZED
                  (SELECT node, count(*) AS degree FROM adj GROUP BY 1),
                adjc AS MATERIALIZED
                  (SELECT adj.node, adj.nbr FROM adj
                   JOIN deg USING (node) WHERE degree <= 512),
                w AS (SELECT x.nbr AS node_a, y.nbr AS node_b
                      FROM adjc x JOIN adjc y
                        ON x.node = y.node AND x.nbr < y.nbr),
                cm AS (SELECT node_a, node_b, count(*) AS n_common
                       FROM w GROUP BY 1, 2),
                nonadj AS (SELECT cm.node_a, cm.node_b, cm.n_common FROM cm
                           LEFT JOIN e ON cm.node_a = e.a AND cm.node_b = e.b
                           WHERE e.a IS NULL)
           SELECT node_a, node_b, CAST(n_common AS BIGINT) AS n_common,
                  CAST(da.degree AS BIGINT) AS deg_a,
                  CAST(db.degree AS BIGINT) AS deg_b
           FROM nonadj JOIN deg da ON da.node = node_a
           JOIN deg db ON db.node = node_b
           WHERE n_common >= 4 ORDER BY node_a, node_b"""
    )
  }
}
