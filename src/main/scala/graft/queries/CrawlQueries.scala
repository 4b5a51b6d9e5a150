package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SchedulerConfig
import graft.functions.{TextClean, UrlFunctions => U}
import graft.operators.{Scheduler, SeenSet, Survivor}
import Tables._

/** Crawl-engine operator queries (SURVEY.md §2.1–§2.8) exposed through
  * SparkEntry for the driver's DuckDB correctness gate. Each runs the real
  * library operator over the deterministic synthetic URL universe
  * ([[Tables.urls]]); the oracle reproduces the *semantics* in ANSI SQL.
  * The frontier rules run the engine's own operators:
  *  - q_seen_antijoin → [[SeenSet.removeSeen]] (no bloom);
  *  - q_frontier_topk, q_host_budget → [[Scheduler.topKPerHost]];
  *  - q_first_seen_dedupe → [[Survivor.first]];
  *  - q_robots_gate → [[Scheduler.robotsGate]];
  *  - q_wave_schedule → [[Scheduler.schedule]] (J1 → P14 → robots →
  *    budgeted top-K) after the F1/F2 filter.
  */
object CrawlQueries {

  private val wl = Seq("/articles/", "/news/", "/markets/")
  private val bl = Seq("utm_", "/photos/")
  private val saltBuckets = SchedulerConfig().saltBuckets

  /** The synthetic host number: www.news<n>.com → n. */
  private val hostNum: Column =
    regexp_extract(col("host"), "news([0-9]+)", 1).cast("int")

  /** q_url_normalize — P1 lower + P2 host + path (scraper_utils.py:477,388). */
  private def urlNormalize(s: SparkSession, dir: String): DataFrame = {
    val u = urls(s, dir)
    u.select(col("doc_id"),
        U.normalizeUrl(col("url")).as("url_norm"),
        U.host(col("url")).as("host_parsed"),
        U.path(col("url")).as("path_parsed"))
      .orderBy("doc_id")
  }

  private val urlNormalizeSql = withUrls(
    """SELECT doc_id, lower(url) AS url_norm, host AS host_parsed,
      |  concat('/',
      |    CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'articles' WHEN 1 THEN 'news'
      |         WHEN 2 THEN 'videos' WHEN 3 THEN 'photos' ELSE 'markets' END,
      |    '/story-', CAST(doc_id + 10000 AS VARCHAR),
      |    CASE WHEN doc_id % 3 = 0 THEN '.html' ELSE '' END) AS path_parsed
      |FROM urls ORDER BY doc_id""".stripMargin)

  /** q_url_filter — F1 whitelist ∧ F2 blacklist ∧ length>9
    * (scraper_utils.py:78-129).
    */
  private def urlFilter(s: SparkSession, dir: String): DataFrame =
    urls(s, dir)
      .filter(U.retainValid(col("url"), wl) && U.notInvalid(col("url"), bl))
      .select("doc_id", "url").orderBy("doc_id")

  private val urlFilterSql = withUrls(
    """SELECT doc_id, url FROM urls
      |WHERE (contains(url,'/articles/') OR contains(url,'/news/') OR contains(url,'/markets/'))
      |  AND length(url) > 9
      |  AND NOT contains(url,'utm_') AND NOT contains(url,'/photos/')
      |ORDER BY doc_id""".stripMargin)

  /** q_seen_antijoin — J1 removeAlreadyFetchedURLs
    * (session_hist.py:349-422): candidates LEFT ANTI seen.
    */
  private def seenAntijoin(s: SparkSession, dir: String): DataFrame =
    SeenSet.removeSeen(urls(s, dir), "url", seenUrls(s, dir), "url")
      .select("doc_id", "url").orderBy("doc_id")

  private val seenAntijoinSql = withUrlsSeen(
    """SELECT u.doc_id, u.url FROM urls u
      |WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.url = u.url)
      |ORDER BY u.doc_id""".stripMargin)

  /** q_unique_id — P4 extractUniqueIDFromURL (base_plugin.py:1063-1102):
    * first matching regex of the default stack, group(3).
    */
  private def uniqueId(s: SparkSession, dir: String): DataFrame =
    urls(s, dir)
      .select(col("doc_id"),
        U.uniqueId(col("url"), U.defaultIdRegexes).as("unique_id"))
      .orderBy("doc_id")

  private val uniqueIdSql = withUrls(
    """SELECT doc_id,
      |  regexp_extract(url, '(http.+//)(www\..+\.com/.+-)([0-9]{5,})', 3) AS unique_id
      |FROM urls ORDER BY doc_id""".stripMargin)

  /** Synthetic page html embedding links (for S5). */
  private def linkHtml(idc: org.apache.spark.sql.Column) = concat(
    lit("<html><body><a href=\"/rel/"), idc.cast("string"),
    lit("\">r</a><a href=\"javascript:void(0)\">j</a><a href=\"#top\">f</a>" +
      "<a href=\"mailto:a@b.c\">m</a><a href=\"https://www.ext"),
    (idc % 5).cast("string"), lit(".com/page-"), idc.cast("string"),
    lit("\">e</a></body></html>"))

  /** q_link_extract — S5 extractLinks (scraper_utils.py:437-474):
    * href scan, relative-link resolution, junk-scheme drop, explode.
    */
  private def linkExtract(s: SparkSession, dir: String): DataFrame = {
    val u = urls(s, dir).withColumn("html", linkHtml(col("doc_id")))
    u.select(col("doc_id"),
        explode(U.extractLinks(col("url"), col("html"))).as("link"))
      .orderBy("doc_id", "link")
  }

  private val linkExtractSql = withUrls(
    """SELECT doc_id, link FROM (
      |  SELECT doc_id,
      |    concat('https://', host, '/rel/', CAST(doc_id AS VARCHAR)) AS link
      |  FROM urls
      |  UNION ALL
      |  SELECT doc_id,
      |    concat('https://www.ext', CAST(doc_id % 5 AS VARCHAR), '.com/page-',
      |           CAST(doc_id AS VARCHAR)) AS link
      |  FROM urls)
      |ORDER BY doc_id, link""".stripMargin)

  /** q_frontier_topk — W3 per-host top-K (K=3) by (priority, seq):
    * the scheduler's dequeue window (SURVEY.md §2.7).
    */
  private def frontierTopk(s: SparkSession, dir: String): DataFrame =
    Scheduler.topKPerHost(urls(s, dir), lit(3), saltBuckets)
      .select(col("host"), col("url"), col("scheduleRank").as("rn"))
      .orderBy("host", "rn")

  private val frontierTopkSql = withUrls(
    """SELECT host, url, CAST(rn AS INT) AS rn FROM (
      |  SELECT host, url,
      |    row_number() OVER (PARTITION BY host ORDER BY priority, seq) AS rn
      |  FROM urls)
      |WHERE rn <= 3 ORDER BY host, rn""".stripMargin)

  /** q_first_seen_dedupe — P14 deDupeList (scraper_utils.py:234-245):
    * first-occurrence-preserving dedupe; arrival order = seq. Five urls
    * share each dup_key (doc_id%100); the first (min seq) survives.
    */
  private def firstSeenDedupe(s: SparkSession, dir: String): DataFrame = {
    val keyed = urls(s, dir)
      .select((col("doc_id") % 100).cast("int").as("dup_key"), col("seq"),
        col("doc_id"))
    Survivor.first(keyed, Seq("dup_key"), Seq("seq"))
      .select(col("dup_key"), col("doc_id").as("first_doc"))
      .orderBy("dup_key")
  }

  private val firstSeenDedupeSql = withUrls(
    """SELECT dup_key, doc_id AS first_doc FROM (
      |  SELECT CAST(doc_id % 100 AS INT) AS dup_key, doc_id,
      |    row_number() OVER (PARTITION BY doc_id % 100 ORDER BY seq) AS rn
      |  FROM urls)
      |WHERE rn = 1 ORDER BY dup_key""".stripMargin)

  /** q_domain_route — J2 aggregator URL→plugin routing
    * (worker.py:156-187): broadcast-join urls to the host→source dim map.
    */
  private def domainRoute(s: SparkSession, dir: String): DataFrame = {
    val u = urls(s, dir)
    val dim = u.select(col("host")).distinct()
      .withColumn("route",
        concat(lit("plugin"), (hostNum % 5).cast("string")))
    u.join(broadcast(dim), Seq("host"), "inner")
      .select(col("doc_id"), col("url"), col("route"))
      .orderBy("doc_id")
  }

  private val domainRouteSql = withUrls(
    """SELECT doc_id, url,
      |  concat('plugin', CAST((doc_id % 20) % 5 AS VARCHAR)) AS route
      |FROM urls ORDER BY doc_id""".stripMargin)

  /** q_rss_route — aggregator URL allocation (worker.py:157-187
    * `aggregator_url2domain_map`): every RSS/listing-harvested URL is
    * routed to the content plugin whose `allowedDomains` claims its
    * host (queue_manager.py:346-352 builds that map), and URLs no
    * plugin claims are DROPPED (worker.py:180 only appends on a map
    * hit). Runs the REAL transcribed domain→source map
    * ([[graft.extract.SourceRegistry.routeByDomain]], 24 reference
    * domains) over harvested URLs synthesized on actual reference
    * domains plus one unclaimed host; the oracle carries the same map
    * as a VALUES relation and routes by an inner join — the same
    * semantics through an independent mechanism.
    */
  private def rssRoute(s: SparkSession, dir: String): DataFrame = {
    import graft.extract.SourceRegistry
    val doms = rssRouteDomains
    val idx = (col("doc_id") % doms.length).cast("int")
    val domain = doms.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (d, i)) => when(idx === i, d).otherwise(acc)
    }
    val url = concat(lit("https://"), domain, lit("/story-"),
      col("doc_id").cast("string"))
    documents(s, dir).select(col("doc_id"), url.as("url"))
      .withColumn("source", SourceRegistry.routeByDomain(U.host(col("url"))))
      .filter(col("source").isNotNull)
      .select("doc_id", "url", "source")
      .orderBy("doc_id")
  }

  /** Six claimed reference domains (deterministic pick) + one host no
    * plugin claims, cycled by doc_id.
    */
  private lazy val rssRouteDomains: Seq[String] =
    graft.extract.SourceRegistry.domainToSource.keys.toSeq.sorted.take(6) :+
      "www.unclaimed-news-site.com"

  private lazy val rssRouteSql = {
    val mapRows = graft.extract.SourceRegistry.domainToSource.toSeq.sorted
      .map { case (d, n) => s"('$d', '$n')" }.mkString(", ")
    val domCase = rssRouteDomains.zipWithIndex
      .map { case (d, i) => s"WHEN $i THEN '$d'" }.mkString(" ")
    s"""WITH m AS (SELECT * FROM (VALUES $mapRows) AS t(domain, source)),
       |harvested AS (
       |  SELECT doc_id,
       |    concat('https://',
       |      CASE CAST(doc_id % ${rssRouteDomains.length} AS INT) $domCase END,
       |      '/story-', CAST(doc_id AS VARCHAR)) AS url
       |  FROM documents)
       |SELECT doc_id, url, m.source
       |FROM harvested
       |JOIN m ON regexp_extract(url, 'https://([^/]+)/', 1) = m.domain
       |ORDER BY doc_id""".stripMargin
  }

  /** q_host_budget — politeness budget per host (network.py:176-199
    * rebuilt as per-wave budgets): budget(host)=2+(hostnum%3); keep the
    * first `budget` urls per host by (priority, seq).
    */
  private def hostBudget(s: SparkSession, dir: String): DataFrame = {
    val u = urls(s, dir).withColumn("budget", (lit(2) + hostNum % 3).cast("int"))
    Scheduler.topKPerHost(u, col("budget"), saltBuckets)
      .select(col("host"), col("budget"), col("url"))
      .orderBy("host", "url")
  }

  private val hostBudgetSql = withUrls(
    """SELECT host, budget, url FROM (
      |  SELECT host, url,
      |    CAST(2 + (doc_id % 20) % 3 AS INT) AS budget,
      |    row_number() OVER (PARTITION BY host ORDER BY priority, seq) AS rn
      |  FROM urls)
      |WHERE rn <= budget ORDER BY host, url""".stripMargin)

  /** q_noncontent_urls — F4 has_noncont_url (base_plugin.py:550-562 via
    * sameURLWithoutQueryParams, scraper_utils.py:415-434): drop a url iff
    * its (host, path) equals a non-content URL's (host, path) — QUERY
    * PARAMS IGNORED. The non-content list carries an extra ?ref=nc query
    * (and every 7th candidate already has ?utm_source=feed), so the test
    * passes only if the comparison really strips queries on both sides.
    */
  private def nonContentUrls(s: SparkSession, dir: String): DataFrame = {
    val u = urls(s, dir)
    val nc = u.filter(col("doc_id") % 10 === 0)
      .select(concat(col("url"), lit("?ref=nc")).as("nc_url"))
    U.dropNonContentUrls(u, "url", nc, "nc_url")
      .select("doc_id", "url").orderBy("doc_id")
  }

  private val nonContentUrlsSql = withUrls(
    """SELECT doc_id, url FROM urls
      |WHERE doc_id % 10 <> 0
      |ORDER BY doc_id""".stripMargin)

  /** robots(host, disallowPrefixes): hosts with hostnum%4=0 disallow the
    * '/articles/' path prefix.
    */
  private def robots(u: DataFrame): DataFrame =
    u.select(col("host")).distinct().filter(hostNum % 4 === 0)
      .select(col("host"), array(lit("/articles/")).as("disallowPrefixes"))

  /** q_robots_gate — north-rule robots.txt gating: hosts with
    * hostnum%4=0 disallow the '/articles/' prefix.
    */
  private def robotsGate(s: SparkSession, dir: String): DataFrame = {
    val u = urls(s, dir)
    Scheduler.robotsGate(u, robots(u))
      .select("doc_id", "url").orderBy("doc_id")
  }

  private val robotsGateSql = withUrls(
    """SELECT doc_id, url FROM urls
      |WHERE NOT ((doc_id % 20) % 4 = 0 AND doc_id % 5 = 0)
      |ORDER BY doc_id""".stripMargin)

  /** q_wave_schedule — the flagship scheduler composition (SURVEY.md §7
    * minimum slice): normalize → F1/F2 filter → first-seen dedupe → J1
    * anti-join vs seen → robots gate → per-host top-K budget → total
    * crawl order (priority, seq).
    */
  private def waveSchedule(s: SparkSession, dir: String): DataFrame = {
    val u = urls(s, dir)
    val filtered = u
      .filter(U.retainValid(col("url"), wl) && U.notInvalid(col("url"), bl))
    // the default one-hour wave gives every host a budget of at least 3
    Scheduler.schedule(filtered, seenUrls(s, dir), robots(u), 1L,
        SchedulerConfig(topKPerHost = 3))
      .select(col("host"), col("priority"), col("seq"), col("url"))
      .orderBy("priority", "seq")
  }

  private val waveScheduleSql = withUrlsSeen(
    """SELECT host, priority, seq, url FROM (
      |  SELECT host, priority, seq, url,
      |    row_number() OVER (PARTITION BY host ORDER BY priority, seq) AS rn
      |  FROM urls u
      |  WHERE (contains(url,'/articles/') OR contains(url,'/news/') OR contains(url,'/markets/'))
      |    AND length(url) > 9
      |    AND NOT contains(url,'utm_') AND NOT contains(url,'/photos/')
      |    AND NOT EXISTS (SELECT 1 FROM seen s WHERE s.url = u.url)
      |    AND NOT ((doc_id % 20) % 4 = 0 AND doc_id % 5 = 0))
      |WHERE rn <= 3 ORDER BY priority, seq""".stripMargin)

  /** q_clean_text — P7 NewsEvent.cleanText chain (news_event.py:259-314)
    * over dirtied document text (currency/dash/mojibake/sentence-gap).
    */
  private def cleanText(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val dirty = concat(lit("  Intro— "), substring(col("text"), 1, 40),
      lit(" Rs.42 or ₹99 or $7 cost.The end🙂"))
    d.select(col("doc_id"), TextClean.cleanText(dirty).as("clean"))
      .orderBy("doc_id")
  }

  private val cleanTextSql =
    """SELECT doc_id,
      |  trim(regexp_replace(
      |    replace(replace(replace(replace(replace(
      |      concat('  Intro— ', substr(text, 1, 40), ' Rs.42 or ₹99 or $7 cost.The end🙂'),
      |      '🙂', ' '), ' Rs.', ' Rupees '), '₹', ' Rupees '), '$', ' Dollars '),
      |      '—', '-'),
      |    '(\b[a-zA-Z]{2,})(\.)([A-Z][a-zA-Z])', '\1\2 \3', 'g')) AS clean
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q_collapse_repeats — P9 filterRepeatedchars (scraper_utils.py:285-297):
    * run-collapse of spaces/dots/dashes after artificially doubling them.
    */
  private def collapseRepeats(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val doubled = call_function("replace",
      concat(col("text"), lit("--end..")), lit(" "), lit("  "))
    d.select(col("doc_id"),
        TextClean.collapseRepeats(doubled, Seq(" ", "-", ".")).as("collapsed"))
      .orderBy("doc_id")
  }

  private val collapseRepeatsSql =
    """SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(
      |    replace(concat(text, '--end..'), ' ', '  '),
      |    ' {2,}', ' ', 'g'), '-{2,}', '-', 'g'), '\.{2,}', '.', 'g') AS collapsed
      |FROM documents ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_url_normalize", urlNormalize, Some(urlNormalizeSql)),
    QueryDef("q_url_filter", urlFilter, Some(urlFilterSql)),
    QueryDef("q_seen_antijoin", seenAntijoin, Some(seenAntijoinSql)),
    QueryDef("q_unique_id", uniqueId, Some(uniqueIdSql)),
    QueryDef("q_link_extract", linkExtract, Some(linkExtractSql)),
    QueryDef("q_frontier_topk", frontierTopk, Some(frontierTopkSql)),
    QueryDef("q_first_seen_dedupe", firstSeenDedupe, Some(firstSeenDedupeSql)),
    QueryDef("q_domain_route", domainRoute, Some(domainRouteSql)),
    QueryDef("q_rss_route", rssRoute, Some(rssRouteSql)),
    QueryDef("q_noncontent_urls", nonContentUrls, Some(nonContentUrlsSql)),
    QueryDef("q_host_budget", hostBudget, Some(hostBudgetSql)),
    QueryDef("q_robots_gate", robotsGate, Some(robotsGateSql)),
    QueryDef("q_wave_schedule", waveSchedule, Some(waveScheduleSql)),
    QueryDef("q_clean_text", cleanText, Some(cleanTextSql)),
    QueryDef("q_collapse_repeats", collapseRepeats, Some(collapseRepeatsSql))
  )
}
