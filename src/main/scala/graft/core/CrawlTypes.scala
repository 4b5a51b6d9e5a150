package graft.core

/** Configuration records of the crawl engine (SURVEY.md §1). The row
  * schemas themselves are the `StructType`s of
  * [[graft.streaming.CrawlEngine]].
  */

/** Per-source crawl configuration — the reference's plugin class
  * attributes (base_plugin.py:93-194 → SURVEY.md §1.5).
  */
final case class SourceSpec(
    name: String,
    priority: Int,
    kind: String, // news_content | data_content | aggregator | processor
    mainUrl: String,
    rssFeeds: Seq[String],
    validSubstrings: Seq[String],
    invalidSubstrings: Seq[String],
    nonContentUrls: Seq[String],
    nonContentStrings: Seq[String],
    allowedDomains: Seq[String],
    minArticleLengthInChars: Int)

/** Scheduler knobs (politeness from config.py:467-494 + north-rule
  * additions). All deterministic: the "random" politeness wait is a
  * seeded hash of (host, waveId) so budgets reproduce at any parallelism.
  */
final case class SchedulerConfig(
    topKPerHost: Int = 100,
    waveSeconds: Int = 3600,
    politenessFixedSecs: Int = 3,
    politenessRandMinSecs: Int = 2,
    politenessRandMaxSecs: Int = 5,
    numPartitions: Int = 32,
    /** Salt buckets for the two-phase per-host top-K: salting is applied
      * UNCONDITIONALLY (phase 1 bounds every (host, salt) bucket), which
      * subsumes a hot-host detection threshold — cold hosts pay one extra
      * narrow window, hot hosts can never serialize into one task.
      */
    saltBuckets: Int = 16,
    bloomShards: Int = 32,
    bloomFpp: Double = 0.01,
    /** Fixed sharded-bloom capacity (total expected seen URLs over the
      * crawl's lifetime). Fixed — not per-wave — so per-wave shard blooms
      * are bit-compatible and merge incrementally (O(bloom bits) per wave
      * instead of an O(|seen|) rebuild). Size for the target frontier:
      * at 10^10 urls / 1024 shards / fpp 0.01 each shard is ~11 MB.
      */
    bloomExpectedTotal: Long = 4L * 1024 * 1024,
    maxLinksPerPage: Int = 500,
    /** F7/F8 minimum length gate when [[usePluginMinTextSize]] is off.
      * The test/synthetic default (10) keeps the ~190-char synthetic
      * bodies flowing; faithful deployments flip the flag instead.
      */
    minTextSize: Int = 10,
    /** Use each source profile's `minArticleLengthInChars` (400 base;
      * hindu 200, ndtv/inexp 250) for the F7 raw-html and F8 text
      * gates, dispatched per row — the reference's per-plugin values.
      */
    usePluginMinTextSize: Boolean = false,
    /** Apply each source's transcribed filter chain (F2 blacklist + F3
      * validity + F5 nonContentStrings per row, plus the F4
      * nonContentURLs host+path anti-join — base_plugin.py:528-548) to
      * DISCOVERED links before they enter the frontier, exactly where
      * the reference gates its recursion. Note there is NO F1
      * whitelisting here: the reference never whitelist-gates recursion
      * links (that rule applies to listing/RSS harvests). Off by
      * default so synthetic test universes keep flowing.
      */
    useSourceFilters: Boolean = false,
    /** W4's SECOND cap (worker.py:390-398): each page's filtered link
      * list is truncated to this many BEFORE the already-fetched filter
      * (`additionalLinks[:100]`, then removeAlreadyFetchedURLs) — a page
      * whose first 100 links are mostly known saves fewer than 100 new
      * ones; it does not top back up.
      */
    maxLinksPerSave: Int = 100,
    /** Generic paragraph-density body fallback
      * ([[graft.functions.HtmlExtract.generic_body]]) when a source's
      * cascade yields less than its minimum length — the analog of the
      * reference's newspaper-library text path (base_plugin.py:1253-1260),
      * which is the ONLY body source for the empty-shell cascades
      * (livemint, business_std). Off by default: the reference's own
      * fixtures assert length 0 for those plugins, so fixture-parity
      * pins run with the flag off and real deployments flip it on.
      */
    useGenericBodyFallback: Boolean = false,
    /** Prepend deterministic NLP keywords (top-frequency non-stopword
      * terms of the extracted text, [[graft.functions.TopTerms]]) to the
      * meta-keyword merge, the way importNewspaperArticleData puts
      * `newspaperArticle.keywords` FIRST (news_event.py:379-384). Off by
      * default: the reference fixtures never exercise the newspaper
      * library, so fixture-parity pins run without it and real
      * deployments flip it on.
      */
    useNlpKeywords: Boolean = false,
    /** BFS recursion cap (base_plugin.py:876-951 stops link expansion at
      * depth ≤ 4): a fetched URL expands links only while its OWN depth
      * is below this (per-row `depth` in the frontier, seeds = 0). The
      * cap is per-URL, not per-wave: a backlogged shallow URL fetched in
      * a late wave still expands (the reference re-includes pending URLs
      * in each run's recursion).
      */
    maxFrontierDepth: Int = 4,
    /** Rewrite (compact) the append-only frontier every N waves; between
      * compactions a wave's frontier IO is O(newly discovered links), not
      * O(|frontier|) — the difference between feasible and infeasible at a
      * 10^10-URL frontier.
      */
    compactFrontierEveryWaves: Int = 8,
    /** Carry per-host crawl-delay DEBT across waves (VERDICT r05 item 8):
      * the reference drains each plugin queue on a CONTINUOUS politeness
      * clock (worker.py:943-1000 — waits don't reset between runs), but
      * a per-wave budget floor(waveSeconds / wait) resets the fractional
      * remainder at every wave boundary. With this flag on, the unused
      * remainder (and a starving host's whole unusable wave) rolls into
      * the next wave's budget: budget_w = floor((waveSeconds +
      * carry_{w-1}) / wait_w). Carry state lives in a per-host snapshot
      * table (host, carrySecs), committed per wave with the same
      * resume-idempotent guard as every other table, and is bounded by
      * [[SchedulerConfig.waveSeconds]] per host; hosts absent from the
      * wave's frontier reset to zero (idle time is not debt). Off by
      * default: the carry changes budgets, so ordering-parity pins run
      * without it.
      */
    carryBudgetDebt: Boolean = false)
