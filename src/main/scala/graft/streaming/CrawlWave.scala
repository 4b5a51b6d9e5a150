package graft.streaming

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.core.SchedulerConfig
import graft.functions.{TextClean, UrlFunctions => U}
import graft.operators.{Scheduler, SeenSet, Survivor}
import graft.plans.{BloomStore, SnapshotTable}

/** One crawl wave = one driver-orchestrated micro-batch (SURVEY.md §2.9,
  * §3): dequeue top-K per host under the politeness budget → fetch-join
  * against the pages table (J3; the reference's network GET,
  * network.py:201-313) → extract articles (§2.4/§3.3) → discover links
  * (S5→F6→J1) → commit frontier/seen/articles snapshots with counters.
  *
  * Crash/resume: the tables commit concurrently, in no fixed order; a
  * wave is re-runnable because every stage is a deterministic function
  * of the PARENT snapshots, and per-table wave ids make re-commits
  * idempotent (a table already at this waveId skips). The engine resumes
  * from `min(latest waveId per table)` — exactly the north rule's
  * "killed job resumes mid-wave with identical crawl ordering and
  * URL-seen membership".
  *
  * Ordering: child seq = parentSeq * 1000 + linkPosition (< 1000 links
  * kept per page — base_plugin.py:1248-1251 caps at 500), a collision-free
  * total order that needs NO global row-numbering shuffle and reproduces
  * at any parallelism up to the 4-level recursion cap
  * (base_plugin.py:876-951; 10^6 seeds × 1000^4 < 2^63).
  */
final class CrawlEngine(val spark: SparkSession, val root: String,
                        pages: DataFrame, robots: DataFrame,
                        val cfg: SchedulerConfig) {

  val frontierSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("source", StringType),
    StructField("host", StringType), StructField("hostHash", IntegerType),
    StructField("priority", IntegerType),
    StructField("waveDiscovered", LongType), StructField("seq", LongType),
    StructField("attempts", IntegerType), StructField("depth", IntegerType)))

  val seenSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("source", StringType),
    StructField("status", StringType), StructField("httpCode", IntegerType),
    StructField("pubdate", DateType), StructField("rawsize", LongType),
    StructField("datasize", LongType)))

  val articleSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("uniqueId", StringType),
    StructField("module", StringType), StructField("pubdate", DateType),
    StructField("title", StringType), StructField("text", StringType),
    StructField("textSize", LongType),
    StructField("keywords", ArrayType(StringType)),
    StructField("sourceName", ArrayType(StringType)),
    StructField("industries", ArrayType(StringType)),
    StructField("category", StringType),
    // §1.1 record parity: the reference side-stores each article's raw
    // HTML (news_event.py:166-167 setHTML / the bz2 .html.bz2 sink) —
    // part of the LOGICAL record ([[articlesNow]] serves it), but stored
    // physically in a url-keyed sidecar table written ONCE per wave
    // (VERDICT r04 item 4): the payload is typically many times the rest
    // of the record, and keeping it out of the main table means the
    // enrichment / dedupe REWRITES never shuffle or rewrite payload
    // bytes — parity is about record content, not physical co-location.
    StructField("html", BinaryType),
    StructField("waveId", LongType)))

  /** Physical schema of the main articles table: the logical record
    * minus the html payload (which lives in [[htmlT]]).
    */
  val articleBaseSchema: StructType =
    StructType(articleSchema.filterNot(_.name == "html"))

  /** Html sidecar schema: one row per fetched article url, append-only.
    * Never rewritten by enrichment or dedupe (a tombstoned article's
    * payload simply goes unreferenced, like the reference's on-disk
    * .html.bz2 files surviving a DB delete).
    */
  val htmlSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("html", BinaryType)))

  /** Per-host carried crawl-delay debt ([[SchedulerConfig
    * .carryBudgetDebt]]): one row per host with urls still PENDING
    * after the last wave. Bounded by waveSeconds per host; absent
    * host = zero.
    */
  val budgetSchema: StructType = StructType(Seq(
    StructField("host", StringType), StructField("carrySecs", LongType)))

  val frontierT = new SnapshotTable(spark, s"$root/frontier")
  val seenT = new SnapshotTable(spark, s"$root/seen")
  val articlesT = new SnapshotTable(spark, s"$root/articles")
  val htmlT = new SnapshotTable(spark, s"$root/articles_html")
  val bloomStore = new BloomStore(s"$root/seen_bloom")
  val tombstonesT = new SnapshotTable(spark, s"$root/tombstones")
  val budgetT = new SnapshotTable(spark, s"$root/host_budget")

  final case class WaveStats(waveId: Long, scheduled: Long, fetched: Long,
                             failed: Long, newLinks: Long)

  private def hostHashCol(host: org.apache.spark.sql.Column) =
    pmod(xxhash64(host), lit(cfg.numPartitions.toLong)).cast("int")

  /** Initialize the frontier with seed urls `(url, source, priority, seq)`
    * — wave 0 snapshot.
    */
  def init(seedUrls: DataFrame): Unit = {
    val f = seedUrls.select(
      lower(col("url")).as("url"), col("source"),
      U.host(col("url")).as("host"),
      hostHashCol(U.host(col("url"))).as("hostHash"),
      col("priority").cast("int").as("priority"),
      lit(0L).as("waveDiscovered"), col("seq").cast("long").as("seq"),
      lit(0).as("attempts"), lit(0).as("depth"))
    frontierT.commitReplace(f, 0L, Map("seeded" -> f.count()))
    seenT.commitReplace(seenT.read(seenSchema).limit(0), 0L)
    articlesT.commitReplace(articlesT.read(articleBaseSchema).limit(0), 0L)
    htmlT.commitReplace(htmlT.read(htmlSchema).limit(0), 0L)
  }

  /** The latest committed wave of each table. The carry table counts
    * when [[SchedulerConfig.carryBudgetDebt]] is on; it has no wave-0
    * snapshot (an absent table is zero debt), so it starts at wave 0.
    */
  private def tableWaves: Seq[Long] = {
    val budget =
      if (cfg.carryBudgetDebt)
        Seq(budgetT.latest.map(_.waveId).getOrElse(0L))
      else Nil
    Seq(frontierT, seenT, articlesT, htmlT)
      .map(_.latest.map(_.waveId).getOrElse(-1L)) ++ budget
  }

  /** The wave every table has fully committed. */
  def lastCompleteWave: Long = tableWaves.min

  /** Whether a crash left the next wave committed in some tables only. */
  def waveInterrupted: Boolean = {
    val waves = tableWaves
    waves.max > waves.min
  }

  /** Article extraction pipeline (pure column expressions + the
    * per-source cascade Catalyst expression; no UDFs) — the FULL §1.1
    * NewsEvent assembly the reference performs per fetch
    * (base_plugin.py:1301-1392), not just title+text:
    *  - body via the per-source cascade (§2.4), P7 cleanText;
    *  - uniqueId via the per-plugin P4 url stacks / P5 content patterns
    *    with CRC32 fallback (SourceProfiles);
    *  - pubdate via the P6 cascade with per-plugin extras prepended
    *    (DateExtract + SourceProfiles.dateExtras), F9 future-reject;
    *  - P18 keyword-meta merge, P21 authors, P20 industries;
    *  - category: never set by any reference plugin (news_event.py:226
    *    has no plugin caller) — carried as null for record parity.
    * All dispatch is per-row on the source column — the reference's
    * per-plugin virtual calls — through [[graft.extract.SourceProfiles
    * .bySource]], which Catalyst's interpreted walker evaluates; the
    * code generated around it stays small (`ExtractionCodegenSpec`).
    */
  private[graft] def extractArticles(fetched: DataFrame, waveId: Long): DataFrame = {
    import graft.extract.SourceProfiles
    val html = col("_html")
    val body = graft.extract.SourceCascades
      .body_text_by_source(html, col("source"))
    // F7/F8 minimum length (base_plugin.py:1237, :1263): per-plugin
    // minArticleLengthInChars when enabled, else the config constant
    // (the select renames source → module, so the gate dispatches on
    // whichever carries the plugin name at its point in the plan)
    def minLenOf(src: org.apache.spark.sql.Column) =
      if (cfg.usePluginMinTextSize)
        SourceProfiles.bySource(src)(p => lit(p.minArticleLengthInChars))
      else lit(cfg.minTextSize)
    fetched
      .withColumn("_html", col("html").cast("string"))
      .filter(length(col("_html")) > minLenOf(col("source"))) // F7 raw gate
      .withColumn("_cascade", body)
      // Generic paragraph-density fallback (flag-gated; see
      // SchedulerConfig.useGenericBodyFallback): when the per-source
      // cascade comes up short the newspaper-library analog extracts
      // the densest <p> blocks — the reference's primary text path
      // (base_plugin.py:1253-1260 + plugin checkAndCleanText swap).
      // `_cascade` is bound as a REAL column first so the conditional
      // does not re-evaluate the cascade expression per branch.
      .withColumn("_body",
        if (cfg.useGenericBodyFallback)
          when(length(col("_cascade")) < minLenOf(col("source")),
            graft.functions.HtmlExtract.generic_body(col("_html")))
            .otherwise(col("_cascade"))
        else col("_cascade"))
      // cleaned text bound as a REAL column: the keywords merge below
      // consumes it when useNlpKeywords is on (newspaper nlp() runs over
      // the article text), and binding avoids re-evaluating the clean
      // chain per consumer
      .withColumn("_text",
        TextClean.cleanText(
          SourceProfiles.bySource(col("source"))(p =>
            SourceProfiles.checkAndClean(p, col("_body")))))
      .select(
        col("url"),
        SourceProfiles.bySource(col("source"))(p =>
          SourceProfiles.uniqueId(p, col("url"), html)).as("uniqueId"),
        col("source").as("module"),
        // per-source date cascade: the plugin's extras, then the 15 base
        // patterns, each branch whole inside the interpreted dispatch —
        // the base cascade compiled outside it, as one shared coalesce
        // arm, is itself a 255 KB projection class
        SourceProfiles.bySource(col("source"))(p =>
          graft.functions.DateExtract
            .publishedDate(html, current_date(), p.dateExtras)).as("pubdate"),
        // per-source title dispatch (only ndtv overrides:
        // h1[itemprop=headline], mod_en_in_ndtv.py:286-299), generic
        // <title> tag for everything else / when the override is empty
        coalesce(
          graft.extract.SourceCascades.title_by_source(html, col("source")),
          regexp_extract(html, "(?s)<title>(.*?)</title>", 1)).as("title"),
        // per-plugin checkAndCleanText (repeated-char collapse +
        // subStringsToFilter) between the cascade and P7 cleanText —
        // the reference's base_plugin.py:1321 ordering (bound above)
        col("_text").as("text"),
        length(col("_body")).cast("long").as("textSize"),
        SourceProfiles.keywords(html,
          if (cfg.useNlpKeywords) Some(col("_text")) else None).as("keywords"),
        SourceProfiles.bySource(col("source"))(p =>
          SourceProfiles.authors(p, html)).as("sourceName"),
        SourceProfiles.bySource(col("source"))(p =>
          SourceProfiles.industries(p, col("url"), html)).as("industries"),
        lit(null).cast(StringType).as("category"),
        col("html"),
        lit(waveId).as("waveId"))
      .filter(col("textSize") > minLenOf(col("module"))) // F8 text gate
  }

  /** Discover next-wave frontier rows from fetched pages (S5 link
    * extraction → F6 filters → first-seen dedupe → J1 anti-join →
    * W4's per-save cap).
    *
    * Depth cap (base_plugin.py:876-951): gated on each fetched URL's OWN
    * `depth`, not on the wave counter — with politeness budgets the
    * frontier backlogs, so a depth-1 URL may only be fetched in wave 5+;
    * the reference re-includes pending URLs in every run's recursion and
    * would still expand it. Children carry depth + 1.
    */
  private def discoverLinks(fetched: DataFrame, waveId: Long,
                            seen: DataFrame, frontier: DataFrame): DataFrame = {
    val html = col("html").cast("string")
    // array_distinct BEFORE the caps: the reference dedupes each page's
    // link list (deDupeList in extractLinksFromHTML AND inside
    // filterNonContentURLs) before slicing to 500/100, so repeated
    // hrefs must not consume cap slots; first-occurrence order is
    // preserved by both deDupeList and array_distinct. depth is
    // null-coalesced to 0 so frontier snapshots written before the
    // depth column existed keep expanding instead of being silently
    // null-filtered out.
    val links = fetched
      .filter(coalesce(col("depth"), lit(0)) < cfg.maxFrontierDepth)
      .select(
        col("url").as("parentUrl"), col("source"),
        col("priority"), col("seq").as("parentSeq"),
        (coalesce(col("depth"), lit(0)) + 1).as("depth"),
        posexplode(slice(array_distinct(U.extractLinks(col("url"), html)),
          1, math.min(cfg.maxLinksPerPage, 999))))
      .select(
        lower(col("col")).as("url"), col("col").as("_rawUrl"),
        col("source"), col("priority"),
        lit(waveId).as("waveDiscovered"),
        (col("parentSeq") * 1000 + col("pos") + 1).as("seq"),
        col("depth"))
      .filter(U.isValidUrl(col("url")))
    // Per-source crawl-config gating of discovered links (the reference
    // filters recursion candidates through filterNonContentURLs,
    // base_plugin.py:528-548): F2/F3/F5 as a per-row dispatch CASE (NO
    // F1 whitelist — recursion links are never whitelist-gated there),
    // then the F4 host+path anti-join against the ~1.1k-row broadcast
    // nonContentURLs table. Gates run on the ORIGINAL-case url — the
    // reference filters first and normalizes (lowercases) after, so its
    // mixed-case config entries (hindu's /business/Industry/ etc.)
    // match; only the surviving links keep their lowercased form.
    val gated = (if (!cfg.useSourceFilters) links else {
      import graft.extract.SourceRegistry
      import spark.implicits._
      val nc = SourceRegistry.nonContentHostPaths
        .toDF("_ncSrc", "_ncHost", "_ncPath")
      links
        .filter(SourceRegistry.keepBySource(col("source"), col("_rawUrl")))
        .join(broadcast(nc),
          col("source") === col("_ncSrc") &&
            U.host(col("_rawUrl")) === col("_ncHost") &&
            U.path(col("_rawUrl")) === col("_ncPath"),
          "left_anti")
    }).drop("_rawUrl")
    // W4's SECOND cap (worker.py:390-398): each page's filtered link
    // list is truncated to maxLinksPerSave BEFORE the already-fetched
    // filter (`additionalLinks[:100]` happens first, then
    // removeAlreadyFetchedURLs) — so a page with 100+ known links saves
    // FEWER than 100 new ones, it does not top back up. Page-local, in
    // discovery (seq) order; the parent is recoverable from the seq
    // encoding: seq DIV 1000 (integer division — floor(seq/1000.0)
    // would go through a double and mis-group parents once seq exceeds
    // 2^53 at deep recursion).
    val wSave = org.apache.spark.sql.expressions.Window
      .partitionBy(expr("seq DIV 1000")).orderBy(col("seq"))
    val capped = gated
      .withColumn("_sn", row_number().over(wSave))
      .filter(col("_sn") <= cfg.maxLinksPerSave)
      .drop("_sn")
    // first-seen dedupe within the wave (P14): smallest seq wins
    val deduped = Survivor.first(capped, Seq("url"), Seq("seq"))
    // drop anything already seen or already in the frontier (the frontier
    // is append-only and scheduled rows came from it, so seen ∪ frontier
    // covers pending + scheduled + completed)
    val known = seen.select("url").unionByName(frontier.select("url"))
    deduped.join(known, Seq("url"), "left_anti")
      .select(col("url"), col("source"),
        U.host(col("url")).as("host"),
        hostHashCol(U.host(col("url"))).as("hostHash"),
        col("priority"), col("waveDiscovered"), col("seq"),
        lit(0).as("attempts"), col("depth"))
  }

  /** Run the next wave; returns its stats. Re-running after a partial
    * commit (crash) completes the wave without duplicating effects.
    */
  def runWave(): WaveStats = {
    val waveId = lastCompleteWave + 1
    val frontier = frontierT.readAtWave(frontierSchema, waveId - 1)
    val seen = seenT.readAtWave(seenSchema, waveId - 1)
    // Incremental seen-filter: the shards persisted by the PARENT wave
    // (O(bloom bits) + this wave's delta, never a full rebuild). Only a
    // filter at exactly waveId - 1 covers the parent seen set; when a
    // crash left it missing (the seen commit and the bloom write are
    // separate), it is rebuilt once from the parent seen snapshot — the
    // rebuilt filter is bit-identical, since a bloom is the OR of its
    // urls' bits.
    val blooms = bloomStore.readAtWave(waveId - 1).getOrElse(
      SeenSet.buildShardedBloom(seen, "url", cfg.bloomShards,
        cfg.bloomExpectedTotal, cfg.bloomFpp))

    val sc = spark.sparkContext
    def phase[T](name: String)(f: => T): T = {
      sc.setJobDescription(s"wave-$waveId $name")
      try f finally sc.setJobDescription(null)
    }

    // Carried politeness debt (flagged): the previous wave's per-host
    // carry joins into the budget; read at wave-1 like every other
    // state table so a crashed wave re-schedules identically.
    val carry = if (cfg.carryBudgetDebt)
      Some(budgetT.readAtWave(budgetSchema, waveId - 1)) else None
    val scheduled = Scheduler
      .schedule(frontier, seen, robots, waveId, cfg, Some(blooms), carry)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fetchJoin = scheduled.join(
        pages.select(col("url"), col("html")), Seq("url"), "left")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fetched = fetchJoin.filter(col("html").isNotNull)
    val failed = fetchJoin.filter(col("html").isNull)

    val articles = extractArticles(fetched, waveId)
    val newSeen = fetched.select(
        col("url"), col("source"), lit("completed").as("status"),
        lit(200).as("httpCode"), lit(null).cast(DateType).as("pubdate"),
        length(col("html")).cast("long").as("rawsize"),
        lit(0L).as("datasize"))
      .unionByName(failed.select(
        col("url"), col("source"), lit("failed").as("status"),
        lit(0).as("httpCode"), lit(null).cast(DateType).as("pubdate"),
        lit(0L).as("rawsize"), lit(0L).as("datasize")))

    // Depth cap lives INSIDE discoverLinks, per fetched URL's own depth
    // (base_plugin.py:876-951) — never on the wave counter, which would
    // silently stop expanding backlogged shallow URLs once the frontier
    // outruns the politeness budgets.
    val newLinks = discoverLinks(fetched, waveId, seen, frontier)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ONE aggregation action yields the wave totals AND the north rule's
    // per-partition fetch counters, and materializes the schedule and
    // the fetch join every later phase reads
    val cells = phase("counters")(fetchJoin
      .groupBy(col("hostHash"), col("html").isNotNull.as("ok")).count()
      .collect()).map(r => (r.getInt(0), r.getBoolean(1), r.getLong(2)))
    val scheduledN = cells.map(_._3).sum
    val fetchedN = cells.filter(_._2).map(_._3).sum
    val failedN = scheduledN - fetchedN
    val perPartition = cells.groupBy(_._1).view
      .map { case (p, cs) => s"part_$p" -> cs.map(_._3).sum }.toMap

    // right-size small outputs: a wave's delta tables are often tiny
    // relative to cfg.numPartitions — writing 32 near-empty files and
    // tree-reducing 32 full-capacity bloom partials is pure constant
    // cost. repartition (NOT coalesce: coalesce would collapse the
    // upstream extraction into the same few tasks) shuffles only the
    // small delta. (At 10^10 scale rowsPerSlot keeps this at
    // cfg.numPartitions.)
    def slots(rows: Long): Int = {
      val rowsPerSlot = 250000L
      math.max(1, math.min(cfg.numPartitions,
        ((rows + rowsPerSlot - 1) / rowsPerSlot).toInt))
    }

    // The phases below read only the parent snapshots and this wave's
    // cached frames, so they run as concurrent Spark jobs, each on its
    // own thread: one driver thread issuing ~25 small jobs in a row leaves
    // the cores idle between them. A thread created here inherits this
    // thread's Spark local properties (the caller's job group); each
    // sets its own job description. Per-table commits are idempotent
    // (tables already at this wave skip), so a crash may leave any subset
    // committed and a rerun completes the rest.
    def async[T](f: => T): Future[T] = {
      val p = Promise[T]()
      val t = new Thread(() =>
        p.complete(try Success(f) catch { case e: Throwable => Failure(e) }))
      t.setDaemon(true)
      t.start()
      p.future
    }
    // the new-link count goes into every manifest's counters; manifests
    // are written after their data, so the count overlaps the writes
    // (awaiting it before each write cost ~7% of crawl-long throughput
    // on a 4-core host)
    val newLinksN = async(phase("discover-links")(newLinks.count()))
    def counters = Map(
      "scheduled" -> scheduledN, "fetched" -> fetchedN,
      "failed" -> failedN,
      "newLinks" -> Await.result(newLinksN, Duration.Inf)) ++ perPartition

    val commitSeen = async {
      if (seenT.latest.forall(_.waveId < waveId))
        phase("commit-seen")(
          seenT.commitAppend(newSeen.repartition(slots(scheduledN)),
            waveId, counters))
      // Seen-filter delta: bloom over THIS WAVE's new urls only, OR-ed
      // into the parent filter (fixed capacity keeps shards
      // bit-compatible).
      val deltaBloom = phase("bloom-delta")(SeenSet.buildShardedBloom(
        newSeen.select("url").repartition(slots(scheduledN)), "url",
        cfg.bloomShards, cfg.bloomExpectedTotal, cfg.bloomFpp))
      bloomStore.write(waveId, SeenSet.mergeSharded(blooms, deltaBloom))
    }
    // The html sidecar commits straight from the CACHED fetch join —
    // every completed fetch's raw payload, like a crawl's WARC archive —
    // NOT from `articles`: the F7/F8 length gates inside `articles`
    // depend on the extraction cascade, so projecting (url, html) out of
    // it would run the wave's heaviest CPU (the per-source regex
    // cascades) a second time just to decide which payloads to keep.
    // The payload is written exactly once per wave and never again
    // (enrichment/dedupe rewrites touch only the base table). Payload
    // rows for pages the gates later drop are tolerated orphans, exactly
    // like tombstoned articles' payloads (articlesNow joins from the
    // articles side).
    val commitHtml = async {
      if (htmlT.latest.forall(_.waveId < waveId))
        phase("commit-html")(
          htmlT.commitAppend(fetched.select(col("url"), col("html"))
            .repartition(slots(fetchedN)), waveId, counters))
    }
    val commitArticles = async {
      if (articlesT.latest.forall(_.waveId < waveId))
        phase("commit-articles")(
          articlesT.commitAppend(articles.drop("html")
            .repartition(slots(fetchedN)), waveId, counters))
    }
    // Next-wave politeness carry (flagged): the host set is the
    // STILL-PENDING frontier after this wave (raw frontier anti-joined
    // against prior seen AND this wave's delta — the append-only
    // frontier keeps consumed rows until compaction, and a fully
    // crawled host must drop out rather than bank waveSeconds of
    // credit while idle: idle time is not debt). Hosts whose first
    // urls were DISCOVERED this wave start at zero next wave for the
    // same reason. State is O(|hosts with pending urls|), replaced per
    // wave under the same idempotent guard.
    val commitBudget = async {
      if (cfg.carryBudgetDebt && budgetT.latest.forall(_.waveId < waveId)) {
        // prior-seen side goes through the SAME bloom-pruned anti-join
        // the scheduler uses (most frontier rows miss the bloom and never
        // shuffle); only this wave's small delta needs a plain anti-join
        val pendingHosts = SeenSet
          .removeSeen(frontier.select("url", "host"), "url", seen, "url",
            Some(blooms))
          .join(newSeen.select("url"), Seq("url"), "left_anti")
        phase("commit-budget")(budgetT.commitReplace(
          Scheduler.nextCarry(pendingHosts, carry.get, scheduled, waveId, cfg)
            .repartition(slots(scheduledN)), waveId, counters))
      }
    }
    // Append-only frontier: each wave writes only its newly discovered
    // links — O(delta) IO, never the O(|frontier|) rewrite the
    // reference's pending-table DELETE+INSERT implies. Consumed rows are
    // masked by the seen anti-join at read; a periodic compaction bounds
    // the masked fraction. Compaction masks with the parent seen set plus
    // this wave's delta, not the seen table's latest snapshot, which
    // this wave's seen commit may or may not have reached yet. Both read
    // `newLinks` after its count has cached it.
    val commitFrontier = async {
      val nLinks = Await.result(newLinksN, Duration.Inf)
      if (frontierT.latest.forall(_.waveId < waveId)) {
        if (cfg.compactFrontierEveryWaves > 0 &&
            waveId % cfg.compactFrontierEveryWaves == 0) {
          val pending = frontier.unionByName(newLinks)
            .join(seen.select("url").unionByName(newSeen.select("url")),
              Seq("url"), "left_anti")
          phase("compact-frontier")(frontierT.commitReplace(
            pending.repartition(cfg.numPartitions, col("hostHash")),
            waveId, counters))
        } else
          phase("commit-frontier")(frontierT.commitAppend(
            newLinks.repartition(slots(nLinks), col("hostHash")),
            waveId, counters))
      }
    }

    val phases = Seq(newLinksN, commitSeen, commitHtml, commitArticles,
      commitBudget, commitFrontier)
    try phases.foreach(Await.ready(_, Duration.Inf))
    finally {
      scheduled.unpersist(); fetchJoin.unpersist(); newLinks.unpersist()
    }
    phases.flatMap(_.value.get.failed.toOption).distinct match {
      case first +: rest =>
        rest.foreach(first.addSuppressed); throw first
      case _ =>
    }
    WaveStats(waveId, scheduled = scheduledN, fetched = fetchedN,
      failed = failedN, newLinks = newLinksN.value.get.get)
  }

  def runWaves(n: Int): Seq[WaveStats] = (1 to n).map(_ => runWave())

  /** Data-processor chain (W1 order: dataprep → keyword flags →
    * eventclass; worker.py:487-528): enrich every article in one pass
    * and commit the widened table (readers projecting the base
    * [[articleSchema]] are unaffected — parquet column projection).
    */
  def postProcessArticles(): Long = {
    val wave = lastCompleteWave
    // The raw-html payload lives in the [[htmlT]] sidecar, so the
    // enrichment pass reads, persists, and REWRITES only the base
    // record — O(article metadata) IO regardless of payload bytes, no
    // url-keyed re-join of the heaviest column per pass (VERDICT r04
    // item 4; the r04 shape joined html back at commit, shuffling the
    // payload on every enrichment).
    val enriched = graft.operators.PostProcess
      .enrich(articlesT.read(articleBaseSchema))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = enriched.count()
    articlesT.commitReplace(enriched, wave, Map("enriched" -> n))
    enriched.unpersist()
    n
  }

  /** Dedupe post-processor (J4, mod_dedupe.py:95-257): tombstone
    * near-duplicate articles (same pubdate, different module, ≤15% size
    * gap, token-cosine ≥ threshold; smaller text loses) and rewrite the
    * articles table without the victims — the reference's
    * `deleted_duplicates` bookkeeping (session_hist.py:118-125). Returns
    * the number of tombstoned articles.
    */
  def dedupeArticles(threshold: Double = 0.99, dayspan: Int = 0): Long = {
    val wave = lastCompleteWave
    // Tombstones are computed on the base article projection, but the
    // survivors REWRITE reads the table's full on-disk schema so
    // enrichment columns appended by postProcessArticles (triggerwords,
    // classification) survive regardless of processor order.
    val artsFull = articlesT.readFull(articleBaseSchema)
    val arts = artsFull.select(articleBaseSchema.fieldNames.toSeq.map(col): _*)
    val tomb = graft.operators.DedupeArticles
      .tombstones(arts, threshold, dayspan = dayspan)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = tomb.count()
    if (n > 0) {
      tombstonesT.commitAppend(tomb, wave, Map("tombstoned" -> n))
      articlesT.commitReplace(
        graft.operators.DedupeArticles.survivors(artsFull, tomb), wave,
        Map("tombstoned" -> n))
    }
    tomb.unpersist()
    n
  }

  def seenUrls(): DataFrame = seenT.read(seenSchema)

  /** Current PENDING frontier: the append-only table masked by the seen
    * set (between compactions the stored table still contains consumed
    * rows; the anti-join restores exact pending semantics).
    */
  def frontierNow(): DataFrame =
    frontierT.read(frontierSchema)
      .join(seenT.read(seenSchema).select("url"), Seq("url"), "left_anti")
  /** The full logical §1.1 article record, html payload included:
    * base table + the url-keyed sidecar ([[htmlByUrl]]). Readers that
    * do not need the payload should use [[articlesBaseNow]] and skip
    * the join entirely.
    */
  def articlesNow(): DataFrame =
    articlesT.read(articleBaseSchema)
      .join(htmlByUrl(), Seq("url"), "left")
      .select(articleSchema.fieldNames.toSeq.map(col): _*)

  /** The html sidecar, one payload per url. Url uniqueness IS an
    * invariant (the seen-table dedupe fetches a url once), but a
    * crash-retry could leave two payloads for one url; a violated
    * invariant must neither duplicate article rows nor pick a payload
    * arbitrarily, so every reader keeps the max payload — a total order
    * over the bytes, stable run-to-run (normally the duplicates are
    * byte-identical and the max IS the payload).
    */
  private def htmlByUrl(): DataFrame =
    htmlT.read(htmlSchema).groupBy("url").agg(max("html").as("html"))

  /** The base article record without the html payload — no sidecar
    * join in the plan.
    */
  def articlesBaseNow(): DataFrame = articlesT.read(articleBaseSchema)

  /** OFFLINE html-sidecar compaction (ADVICE r05): the sidecar commits
    * every fetched payload per wave (WARC semantics), so rows for pages
    * the F7/F8 gates later dropped — and tombstoned dedupe victims —
    * accumulate as orphans that cost disk but never surface through
    * [[articlesNow]]. This rewrites the sidecar against the LIVE
    * article urls (left-semi join on the 28-vs-92-MB-shaped base
    * table), dropping orphans in one O(|sidecar|) pass. Run it BETWEEN
    * crawls, never per wave: per-wave sidecar IO stays O(delta) by
    * design, and the snapshot log keeps prior payload history readable
    * at earlier snapshot ids until vacuum. The commit reuses the
    * CURRENT complete wave id — an arbitrary caller-supplied id above
    * the crawl's wave counter would make the per-wave commit-html
    * guard (`latest.waveId < waveId`) refuse every FUTURE payload
    * commit, silently losing fetched html. Returns rows kept.
    */
  def compactHtmlSidecar(): Long = {
    val live = articlesT.read(articleBaseSchema).select("url")
    val kept = htmlByUrl()
      .join(live, Seq("url"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = kept.count()
      htmlT.commitReplace(kept, lastCompleteWave, Map("html_rows_kept" -> n))
      n
    } finally { kept.unpersist(blocking = true); () }
  }
}
