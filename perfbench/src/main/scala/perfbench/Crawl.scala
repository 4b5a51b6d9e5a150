package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SchedulerConfig
import graft.operators.{Scheduler, SeenSet}
import graft.plans.BloomStore
import graft.streaming.CrawlEngine

/** crawl-long: a fresh `CrawlEngine` per unit, initialised with seeded
  * inputs, runs small waves under a tight per-host budget. The waves cross
  * two frontier compactions, a share of the seeds dangle (the failed-fetch
  * branch runs) and a share of the seeded pages are re-served under a
  * second source; after the waves the unit runs dedupeArticles,
  * postProcessArticles and compactHtmlSidecar. Per-wave fixed costs and
  * state growth dominate; extraction is a small share.
  */
object Crawl {

  final case class Shape(pages: Long, seeds: Int, topK: Int, waveSeconds: Int, waves: Int,
                         compactEvery: Int, danglingEvery: Int, nearDupEvery: Int,
                         postCrawl: Boolean)

  /** A wave costs seconds of fixed per-wave work on a few cores whatever
    * its size, so four waves (compactions at waves 2 and 4) keep one unit
    * inside a run's time budget.
    */
  val Default: Shape = Shape(pages = 30000, seeds = 3000, topK = 1, waveSeconds = 400,
    waves = 4, compactEvery = 2, danglingEvery = 20, nearDupEvery = 25, postCrawl = true)

  /** One wave, no post-crawl operations: the warm-up unit. */
  private def warmShape(s: Shape): Shape = s.copy(waves = 1, postCrawl = false)

  def cfg(s: Shape, cores: Int): SchedulerConfig = SchedulerConfig(topKPerHost = s.topK,
    waveSeconds = s.waveSeconds, numPartitions = cores, saltBuckets = 8, bloomShards = 32,
    compactFrontierEveryWaves = s.compactEvery)

  final case class Prepared(pages: DataFrame, seeds: DataFrame, n: Long)

  /** One wave's `WaveStats`, detached from its engine instance. */
  final case class Wave(waveId: Long, scheduled: Long, fetched: Long, failed: Long, newLinks: Long)

  final case class CrawlUnit(stats: Seq[Wave], waveSecs: Seq[Double], post: Seq[(String, Double)])

  def run(ctx: Ctx): scala.Unit = run(ctx, Default)

  private def robots(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Seq[String])].toDF("host", "disallowPrefixes")
  }

  /** The pages table and seeds, written as parquet: a crawl reads its page
    * universe from storage, it does not regenerate it per wave.
    */
  def prepare(ctx: Ctx, s: Shape, dir: Path): Prepared = {
    val spark = ctx.spark
    val in = Inputs(ctx.seed)
    val n = in.universe(s.pages)
    in.pages(spark, n, s.seeds, s.nearDupEvery).write.parquet(dir.resolve("pages").toString)
    in.seedUrls(spark, n, s.seeds, s.danglingEvery, s.nearDupEvery)
      .write.parquet(dir.resolve("seeds").toString)
    Prepared(spark.read.parquet(dir.resolve("pages").toString),
      spark.read.parquet(dir.resolve("seeds").toString), n)
  }

  private var units = 0

  /** One fresh engine through all of the shape's waves (and the post-crawl
    * table operations for crawl-long). Wave wall times are the samples.
    */
  def unit(ctx: Ctx, s: Shape, p: Prepared, c: SchedulerConfig, probe: Boolean,
           timed: Boolean = true): Option[(CrawlEngine, CrawlUnit)] = {
    units += 1
    val root = ctx.work.resolve(s"engine-$units").toString
    val e = new CrawlEngine(ctx.spark, root, p.pages, robots(ctx.spark), c)
    e.init(p.seeds)
    val t = ctx.tracer
    def wave(): Wave = {
      val w = e.runWave()
      Wave(w.waveId, w.scheduled, w.fetched, w.failed, w.newLinks)
    }
    if (!timed) {
      (1 to s.waves).foreach(_ => wave())
      return None
    }
    val waves = (1 to s.waves).map { _ =>
      val r = ctx.res.op("CrawlWave.runWave")(t.span("CrawlWave.runWave")(wave()))
      if (probe && t.isActive) probeState(ctx, e, c, full = s.postCrawl)
      r
    }
    if (waves.exists(_.isEmpty)) return None
    val post = if (!s.postCrawl) Nil else Seq(
      "dedupeArticles" -> (() => e.dedupeArticles()),
      "postProcessArticles" -> (() => e.postProcessArticles()),
      "compactHtmlSidecar" -> (() => e.compactHtmlSidecar())).flatMap { case (name, f) =>
      ctx.res.op(s"CrawlEngine.$name")(t.span(s"CrawlEngine.$name")(f())).map(r => (name, r._1, r._2))
    }
    if (post.size < (if (s.postCrawl) 3 else 0)) return None
    Some((e, CrawlUnit(waves.flatten.map(_._2), waves.flatten.map(_._1),
      post.map(x => (x._1, x._2)) :+ ("tombstoned" -> post.headOption.map(_._3.toDouble).getOrElse(0.0)))))
  }

  /** Fingerprints of an engine's final seen and articles tables. */
  private def digest(e: CrawlEngine): Seq[Fingerprint] =
    Seq(Fingerprint.of(e.seenUrls(), "url", "source", "status", "rawsize"),
      Fingerprint.of(e.articlesBaseNow(), "url", "uniqueId", "module", "pubdate", "title", "text"))

  /** Traced runs only, after each wave: time the state-layer reads a wave
    * makes, then schedule the next wave from the committed state the way
    * `runWave` will (Scheduler + SeenSet, bloom-pruned). The `full` probe
    * also checks that schedule against the bloom-free one and measures how
    * the bloom routes the frontier; the N→4N rerun times the schedule only.
    */
  private def probeState(ctx: Ctx, e: CrawlEngine, c: SchedulerConfig, full: Boolean): scala.Unit = {
    val t = ctx.tracer
    val tables = Seq(e.frontierT, e.seenT, e.articlesT, e.htmlT)
    t.span("SnapshotTable.latest")(tables.foreach(_.latest))
    t.span("SnapshotTable.history")(e.seenT.history)
    val wave = e.lastCompleteWave
    val shards = t.span("BloomStore.readAtWave")(e.bloomStore.readAtWave(wave))
    val scratch = new BloomStore(ctx.work.resolve("bloom-probe").toString)
    shards.foreach(b => t.span("BloomStore.write")(scratch.write(wave, b)))

    val frontier = e.frontierT.readAtWave(e.frontierSchema, wave)
    val seen = e.seenT.readAtWave(e.seenSchema, wave)
    def next(b: Option[Array[Array[Byte]]]) =
      Scheduler.schedule(frontier, seen, robots(ctx.spark), wave + 1, c, b)
    val pruned = t.span("Scheduler.schedule")(Fingerprint.of(next(shards), "url", "scheduleRank"))
    if (full) {
      val exact = Fingerprint.of(next(None), "url", "scheduleRank")
      ctx.res.check(s"wave ${wave + 1} schedule equals the bloom-free schedule", pruned == exact,
        s"bloom-pruned $pruned != exact $exact")
      bloomProbe(ctx, frontier, seen, shards, pruned.rows)
    }
  }

  private def bloomProbe(ctx: Ctx, frontier: DataFrame, seen: DataFrame,
                         shards: Option[Array[Array[Byte]]], scheduled: Long): scala.Unit = {
    val t = ctx.tracer
    val rows = frontier.count().toDouble
    probes += ((rows, scheduled.toDouble))
    shards.foreach { b =>
      val hit = SeenSet.mightContain(ctx.spark, col("url"), b)
      val unseen = frontier.join(seen.select("url"), Seq("url"), "left_anti")
      val (pass, fp, neg) = t.span("SeenSet.mightContain") {
        (frontier.filter(hit).count(), unseen.filter(hit).count(), unseen.count())
      }
      bloomRates += ((pass / math.max(rows, 1.0), fp.toDouble / math.max(neg, 1L)))
    }
  }

  /** Per-wave probe results of the traced unit: (frontier rows, scheduled)
    * and (bloom pass fraction, observed false-positive rate).
    */
  private val probes = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
  private val bloomRates = scala.collection.mutable.ArrayBuffer[(Double, Double)]()

  def run(ctx: Ctx, s: Shape): scala.Unit = {
    val c = cfg(s, ctx.cores)
    val p = ctx.setup(reps = 3)(rep => prepare(ctx, s, ctx.work.resolve(s"inputs-$rep"))) { p =>
      // One wave on an engine seeded with a few hundred of the seeds:
      // compiles the wave's plans and JITs the extraction code.
      unit(ctx, warmShape(s), p.copy(seeds = p.seeds.limit(300)), c, probe = false, timed = false)
    }
    val untraced = loop(ctx, s, p, c)
    ctx.tracer.start()
    val traced = if (ctx.trace) loop(ctx, s, p, c) else Nil
    require(untraced.nonEmpty, "every crawl unit failed")
    val secs = untraced.flatMap(_._2.waveSecs)
    ctx.res.e2e("op_p50_ms") = Stats.median(secs) * 1e3
    ctx.res.e2e("work_per_s") = untraced.flatMap(_._2.stats).map(_.fetched).sum / secs.sum
    checks(ctx, s, p, c, untraced ++ traced)
    if (ctx.trace && traced.nonEmpty) {
      traceLayers(ctx, s, untraced.map(_._2), traced)
      ctx.tracer.stop()
      phaseEfficiency(ctx, s, c)
    }
  }

  private def loop(ctx: Ctx, s: Shape, p: Prepared, c: SchedulerConfig): Seq[(CrawlEngine, CrawlUnit)] = {
    val out = Seq.newBuilder[(CrawlEngine, CrawlUnit)]
    ctx.closedLoop(min = 1)(unit(ctx, s, p, c, probe = true).foreach(out += _))
    out.result()
  }

  // ---- output checks ------------------------------------------------------

  private def checks(ctx: Ctx, s: Shape, p: Prepared, c: SchedulerConfig,
                     done: Seq[(CrawlEngine, CrawlUnit)]): scala.Unit = {
    val res = ctx.res
    val spark = ctx.spark
    val in = Inputs(ctx.seed)
    // Every unit crawls the same inputs, so all must agree exactly.
    val (e0, u0) = done.head
    lazy val d0 = digest(e0)
    done.tail.foreach { case (e, u) =>
      res.check("wave stats repeat across engines", u.stats == u0.stats,
        s"${u.stats} != ${u0.stats}")
      val d = digest(e)
      res.check("final seen and articles tables repeat across engines", d == d0, s"$d != $d0")
    }
    u0.stats.foreach { w =>
      res.check(s"wave ${w.waveId}: scheduled = fetched + failed",
        w.scheduled == w.fetched + w.failed, s"$w")
    }
    val seen = e0.seenUrls().persist()
    val seenRows = seen.count()
    val seenDistinct = seen.select("url").distinct().count()
    res.check("no url is seen twice", seenRows == seenDistinct,
      s"$seenRows seen rows for $seenDistinct urls")
    res.check("seen rows = scheduled urls", seenRows == u0.stats.map(_.scheduled).sum,
      s"$seenRows seen rows, ${u0.stats.map(_.scheduled).sum} scheduled")
    // A fetch fails exactly when its url is not in the pages table: the
    // dangling seeds and relative junk links resolved to absent urls.
    val pageUrls = p.pages.select("url")
    val failed = seen.filter(col("status") === "failed").select("url")
    val failedPresent = failed.join(pageUrls, Seq("url"), "left_semi").count()
    val completedAbsent = seen.filter(col("status") === "completed")
      .join(pageUrls, Seq("url"), "left_anti").count()
    val danglingCompleted = seen.filter(col("status") === "completed")
      .join(in.danglingSeeds(spark, p.n, s.seeds, s.danglingEvery), Seq("url"), "left_semi").count()
    res.check("no url in the pages table failed to fetch", failedPresent == 0,
      s"$failedPresent failed urls are in the pages table")
    res.check("every fetched url is in the pages table", completedAbsent == 0,
      s"$completedAbsent fetched urls are not in the pages table")
    res.check("no dangling seed was fetched", danglingCompleted == 0,
      s"$danglingCompleted dangling seeds completed")
    res.check("failed fetches = wave failed counts", failed.count() == u0.stats.map(_.failed).sum,
      "failed seen rows differ from the waves' failed counters")
    val orphans = e0.articlesBaseNow().join(seen.filter(col("status") === "completed"),
      Seq("url"), "left_anti").count()
    res.check("every article is a completed fetch", orphans == 0, s"$orphans articles never fetched")
    // Wave 1 schedules min(budget, seeds) per host: computed here from the
    // seeds alone, independent of the engine's scheduler plan.
    val expected1 = p.seeds.groupBy(expr("parse_url(url, 'HOST')").as("host"))
      .agg(count(lit(1)).as("n"))
      .select(least(col("n"), Scheduler.hostBudget(col("host"), 1L, c)).as("k"))
      .agg(sum("k")).head().getLong(0)
    res.check("wave 1 schedules min(budget, seeds) per host", u0.stats.head.scheduled == expected1,
      s"wave 1 scheduled ${u0.stats.head.scheduled}, expected $expected1")
    if (s.postCrawl) {
      val tomb = u0.post.find(_._1 == "tombstoned").get._2.toLong
      val pairs = nearDupPairs(e0)
      res.check("tombstones = seeded near-duplicate pairs crawled", tomb == pairs && pairs > 0,
        s"$tomb tombstoned, $pairs seeded pairs crawled")
      res.selfCheck("tombstone count", !(tomb + 1 == pairs && pairs > 0))
    }
    res.selfCheck("wave stats repeat", u0.stats.map(w => w.copy(scheduled = w.scheduled + 1)) != u0.stats)
    res.selfCheck("no url seen twice", !(seenRows + 1 == seenDistinct))
    seen.unpersist()
  }

  /** Seeded near-duplicate pairs whose two copies are both articles: each
    * is one tombstone. Counted from the tombstones table's input side: the
    * surviving articles plus the tombstoned ones.
    */
  private def nearDupPairs(e: CrawlEngine): Long = {
    val tombs = e.tombstonesT.readFull(e.articleBaseSchema).select("url")
    val all = e.articlesBaseNow().select("url").unionByName(tombs).distinct()
    val alt = all.filter(col("url").contains("/alt/story-"))
      .select(regexp_replace(col("url"), "/alt/story-", "/articles/story-").as("url"))
    alt.join(all, Seq("url"), "left_semi").count()
  }

  // ---- traced run ---------------------------------------------------------

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def traceLayers(ctx: Ctx, s: Shape, untraced: Seq[CrawlUnit],
                          traced: Seq[(CrawlEngine, CrawlUnit)]): scala.Unit = {
    val t = ctx.tracer
    val l = ctx.res.layer
    val waves = t.named("CrawlWave.runWave")
    l ++= Layers.waves(t, waves, ctx.cores)
    val (e, u) = traced.head
    val st = u.stats
    val fetched = st.map(_.fetched).sum.toDouble
    l("wave.fetched_per_scheduled") = fetched / st.map(_.scheduled).sum
    l("wave.new_links_per_fetched") = st.map(_.newLinks).sum / fetched
    val articles = e.articlesBaseNow().count() + u.post.find(_._1 == "tombstoned").map(_._2).getOrElse(0.0)
    l("wave.articles_per_fetched") = articles / fetched
    l("trace.overhead_frac") = Stats.median(traced.flatMap(_._2.waveSecs)) /
      Stats.median(untraced.flatMap(_.waveSecs)) - 1
    val (sWall, sTask, sShuffle, sSpill, sSkew) = Layers.calls(t, t.named("Scheduler.schedule"))
    l("Scheduler.schedule.wall_s") = sWall
    l("Scheduler.schedule.task_s") = sTask
    l("Scheduler.schedule.shuffle_write_mb") = sShuffle
    l("Scheduler.schedule.spill_mb") = sSpill
    l("Scheduler.schedule.task_skew") = sSkew
    l("Scheduler.scheduled_per_row") = Stats.median(probes.map { case (r, k) => k / math.max(r, 1.0) }.toSeq)
    l("SeenSet.bloom_pass_frac") = Stats.median(bloomRates.map(_._1).toSeq)
    l("SeenSet.bloom_fpr") = Stats.median(bloomRates.map(_._2).toSeq)
    val seenNow = e.seenUrls()
    val built = (1 to 3).map(_ => t.span("SeenSet.buildShardedBloom") {
      SeenSet.buildShardedBloom(seenNow, "url", e.cfg.bloomShards, e.cfg.bloomExpectedTotal, e.cfg.bloomFpp)
    })
    l("SeenSet.buildShardedBloom.wall_s") = Stats.median(t.named("SeenSet.buildShardedBloom").map(_.seconds))
    (1 to 3).foreach(_ => t.span("SeenSet.mergeSharded")(SeenSet.mergeSharded(built.head, built.last)))
    l("SeenSet.mergeSharded.wall_s") = Stats.median(t.named("SeenSet.mergeSharded").map(_.seconds))
    l("SnapshotTable.latest_ms") = Stats.median(t.named("SnapshotTable.latest").map(_.seconds)) * 1e3
    l("SnapshotTable.history_ms") = Stats.median(t.named("SnapshotTable.history").map(_.seconds)) * 1e3
    l("BloomStore.readAtWave_s") = Stats.median(t.named("BloomStore.readAtWave").map(_.seconds))
    l("BloomStore.write_s") = Stats.median(t.named("BloomStore.write").map(_.seconds))
    val root = java.nio.file.Paths.get(e.root)
    l("BloomStore.bytes_per_wave") = dirBytes(root.resolve("seen_bloom")).toDouble / st.size
    val tables = Seq("frontier" -> e.frontierT, "seen" -> e.seenT, "articles" -> e.articlesT,
      "articles_html" -> e.htmlT, "tombstones" -> e.tombstonesT)
    l("SnapshotTable.manifests") = tables.map { case (n, _) =>
      Files.list(root.resolve(n).resolve("_commits")).count().toDouble }.sum
    l("SnapshotTable.data_dirs") = tables.map { case (n, _) =>
      Files.list(root.resolve(n).resolve("data")).count().toDouble }.sum
    val live = tables.map { case (n, tb) =>
      tb.latest.toSeq.flatMap(_.dirs).map(d => dirBytes(root.resolve(n).resolve("data").resolve(d))).sum
    }.sum
    val total = tables.map { case (n, _) => dirBytes(root.resolve(n).resolve("data")) }.sum
    l("SnapshotTable.live_bytes_frac") = live.toDouble / math.max(1L, total)
    if (s.postCrawl) {
      val per = untraced.map(_.waveSecs)
      l("wave_growth_ratio") = Stats.median(per.map { ws =>
        val q = math.max(1, ws.size / 4)
        Stats.median(ws.takeRight(q)) / Stats.median(ws.take(q))
      })
      val post = untraced.map(_.post.toMap)
      Seq("dedupeArticles", "postProcessArticles", "compactHtmlSidecar").foreach { n =>
        l(s"CrawlEngine.${n}_s") = Stats.median(post.map(_(n)))
      }
      l("postcrawl_s") = Stats.median(post.map(m =>
        m("dedupeArticles") + m("postProcessArticles") + m("compactHtmlSidecar")))
      l("CrawlEngine.tombstoned") = u.post.find(_._1 == "tombstoned").get._2
      l("disk_bytes_per_seen_url") = dirBytes(root).toDouble / e.seenUrls().count()
    }
  }

  /** N→4N: the first two waves of a unit (one frontier commit, one
    * compaction) rerun at local[nproc/4], per phase and for the next-wave
    * schedule probe, against the traced waves at local[nproc]. The core
    * counts go into the run's facts. Reported, not gated.
    */
  private def phaseEfficiency(ctx: Ctx, s: Shape, c: SchedulerConfig): scala.Unit = {
    val short = s.copy(waves = 2, postCrawl = false) // postCrawl off: schedule-only probes
    val t = ctx.tracer
    val full = Layers.phaseWalls(t, t.named("CrawlWave.runWave").take(short.waves))
    val fullSchedule = t.named("Scheduler.schedule").take(short.waves).map(_.seconds).sum
    val n = math.max(1, ctx.cores / 4)
    ctx.spark.stop()
    ctx.spark = Main.session(n, ctx.work)
    val quarter = new Ctx(ctx.spark, new Tracer(ctx.spark.sparkContext, enabled = true),
      ctx.res, ctx.seed, ctx.seconds, n, ctx.work, ctx.benchDir, ctx.dataDir)
    val inputs = ctx.work.resolve("inputs-3")
    val p = Prepared(ctx.spark.read.parquet(inputs.resolve("pages").toString),
      ctx.spark.read.parquet(inputs.resolve("seeds").toString), Inputs(ctx.seed).universe(s.pages))
    quarter.tracer.start()
    unit(quarter, short, p, c.copy(numPartitions = n), probe = true)
    quarter.tracer.stop()
    val qt = quarter.tracer
    val slow = Layers.phaseWalls(qt, qt.named("CrawlWave.runWave"))
    val k = ctx.cores.toDouble / n
    ctx.res.facts ++= Seq("n4n_cores_n" -> n.toString, "n4n_cores_4n" -> ctx.cores.toString)
    // thr = work / seconds on identical work, so thr(4N) / (k · thr(N)) = t(N) / (k · t(4N))
    Metrics.Phases.foreach { ph =>
      if (full(ph) > 0 && slow(ph) > 0) ctx.res.layer(s"wave.$ph.eff_n4n") = slow(ph) / (k * full(ph))
    }
    ctx.res.layer("schedule_eff_n4n") =
      qt.named("Scheduler.schedule").map(_.seconds).sum / (k * fullSchedule)
  }
}
