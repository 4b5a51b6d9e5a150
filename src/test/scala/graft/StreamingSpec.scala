package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

case class Ev(user_id: Long, ts: Timestamp)
case class SessState(lastTs: Long, sessions: Long, events: Long)
case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

/** Structured-Streaming statefulness (SURVEY.md §2.9): gap-based
  * sessionization via flatMapGroupsWithState must agree with the batch
  * window-function sessionizer exposed as q_sessionize.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("flatMapGroupsWithState sessionization matches the batch query") {
    val events = spark.read.parquet(s"$dir/events.parquet")

    // batch truth from the exposed query
    val batch = SparkEntry.queries("q_sessionize")(spark, dir)
      .select("user_id", "n_sessions", "n_events")
      .as[(Long, Long, Long)].collect().sorted

    // streaming: feed the same rows through a memory-source-like path —
    // a single batch via groupByKey + flatMapGroupsWithState semantics.
    // (File-source streaming delivers one batch here, so state logic is
    // exercised with the same per-group ordering as the batch window.)
    def sessionsOf(rows: Iterator[Ev]): UserSessions = {
      var last = Long.MinValue
      var sessions = 0L; var n = 0L; var uid = 0L
      rows.toSeq.sortBy(e => (e.ts.getTime, 0L)).foreach { e =>
        uid = e.user_id
        if (last == Long.MinValue || e.ts.getTime / 1000 - last > 1800)
          sessions += 1
        last = e.ts.getTime / 1000
        n += 1
      }
      UserSessions(uid, sessions, n)
    }

    val streamed = events.select(col("user_id"), col("ts")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[SessState]) =>
          Iterator.single(sessionsOf(rows))
      }
      .as[UserSessions]
      .collect().map(u => (u.user_id, u.n_sessions, u.n_events)).sorted

    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming crawl: seed stream drives waves via foreachBatch") {
    import graft.core.SchedulerConfig
    import graft.sources.SyntheticPages
    import graft.streaming.{CrawlEngine, StreamingCrawl}
    val N = 3000L
    val pages = SyntheticPages.pages(spark, N)
    val robots = Seq.empty[(String, Seq[String])].toDF("host", "disallowPrefixes")
    val cfg = SchedulerConfig(topKPerHost = 5, waveSeconds = 40,
      numPartitions = 4, saltBuckets = 4, bloomShards = 4)

    // streaming run: two seed files arrive as two micro-batches; the
    // SAME checkpoint across restarts makes seed ingestion exactly-once
    val seedDir = tempDir("stream-seeds")
    val ckpt = tempDir("stream-ckpt")
    val allSeeds = SyntheticPages.seeds(spark, 40).cache()
    allSeeds.filter(col("seq") < 20)
      .write.parquet(s"$seedDir/b0")
    val s = new CrawlEngine(spark, tempDir("stream-crawl"), pages, robots, cfg)
    s.init(allSeeds.limit(0))
    StreamingCrawl.start(s, s"$seedDir/*", ckpt).awaitTermination()
    allSeeds.filter(col("seq") >= 20)
      .write.parquet(s"$seedDir/b1")
    // restart from the same checkpoint: only the NEW file is ingested
    StreamingCrawl.start(s, s"$seedDir/*", ckpt).awaitTermination()
    // drain remaining frontier with plain batch waves (same engine)
    s.runWaves(2)

    // exactly-once: streamed-seed counters across all frontier commits
    // account for each seed at most once
    val streamedSeeds = s.frontierT.history
      .flatMap(_.counters.get("streamed_seeds")).sum
    assert(streamedSeeds <= 40L && streamedSeeds > 0L)
    // no url enters the seen set twice (idempotent wave commits)
    val seenN = s.seenUrls().count()
    assert(seenN == s.seenUrls().select("url").distinct().count())
    // every streamed seed was crawled or remains pending, never lost
    val handled = s.seenUrls().select("url")
      .unionByName(s.frontierNow().select("url"))
      .as[String].collect().toSet
    val seedUrls = allSeeds.select(lower(col("url"))).as[String].collect().toSet
    assert(seedUrls.subsetOf(handled))
    // extraction stays byte-identical through the streaming path
    val mismatch = s.articlesNow().join(pages.select(col("url"),
        col("text").as("expected")), "url")
      .filter(col("text") =!= col("expected")).count()
    assert(s.articlesNow().count() > 0 && mismatch == 0)
  }

  test("streamed seeds that lowercase to one url keep the min " +
      "(priority, seq) row") {
    import graft.core.SchedulerConfig
    import graft.sources.SyntheticPages
    import graft.streaming.{CrawlEngine, StreamingCrawl}
    val robots = Seq.empty[(String, Seq[String])].toDF("host", "disallowPrefixes")
    val e = new CrawlEngine(spark, tempDir("stream-case"),
      SyntheticPages.pages(spark, 10), robots,
      SchedulerConfig(numPartitions = 2, saltBuckets = 2, bloomShards = 2))
    e.init(SyntheticPages.seeds(spark, 1).limit(0))
    // one partition, the upper-case spelling (larger seq) first: a
    // keep-the-first-row dedupe would keep it
    val seeds = Seq(
      ("HTTP://WWW.CASE.COM/A", "upper", 0, 20L),
      ("http://www.case.com/a", "lower", 0, 10L))
      .toDF("url", "source", "priority", "seq").coalesce(1)
    StreamingCrawl.processBatch(e, seeds)
    val kept = e.frontierT.read(e.frontierSchema)
      .filter(col("url") === "http://www.case.com/a")
      .select("source", "seq").as[(String, Long)].collect()
    assert(kept.toSeq == Seq(("lower", 10L)))
  }

  test("a batch after a crash mid-wave finishes that wave first and " +
      "reproduces the uninterrupted run") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.core.SchedulerConfig
    import graft.sources.SyntheticPages
    import graft.streaming.{CrawlEngine, StreamingCrawl}
    val pages = SyntheticPages.pages(spark, 3000L)
    val robots = Seq.empty[(String, Seq[String])].toDF("host", "disallowPrefixes")
    val cfg = SchedulerConfig(topKPerHost = 5, waveSeconds = 40,
      numPartitions = 4, saltBuckets = 4, bloomShards = 4)
    val seeds = SyntheticPages.seeds(spark, 40)
    val (first, second) =
      (seeds.filter(col("seq") < 20), seeds.filter(col("seq") >= 20))
    def engine(): CrawlEngine = {
      val e = new CrawlEngine(spark, tempDir("stream-resume"), pages,
        robots, cfg)
      e.init(seeds.limit(0))
      e
    }
    def state(e: CrawlEngine) = (e.lastCompleteWave,
      e.seenUrls().select("url", "status").as[(String, String)]
        .collect().sorted.toSeq,
      e.frontierNow().select("url", "seq").as[(String, Long)]
        .collect().sorted.toSeq,
      e.articlesBaseNow().select("url", "text").as[(String, String)]
        .collect().sorted.toSeq)
    val want = {
      val e = engine()
      Seq(first, second).foreach(StreamingCrawl.processBatch(e, _))
      state(e)
    }
    // wave 1's frontier and articles commits landed, its seen commit did
    // not; then the next batch arrives, or the crashed batch is replayed
    Seq("next batch" -> Seq(second),
        "replayed batch" -> Seq(first, second)).foreach {
      case (name, batches) => withClue(s"$name: ") {
        val e = engine()
        StreamingCrawl.processBatch(e, first)
        val seenCommits = Files.list(Paths.get(s"${e.root}/seen/_commits"))
          .iterator().asScala.toSeq.sortBy(_.getFileName.toString)
        Files.delete(seenCommits.last)
        assert(e.waveInterrupted && e.lastCompleteWave == 0L)
        batches.foreach(StreamingCrawl.processBatch(e, _))
        assert(state(e) == want)
      }
    }
  }

  test("watermarked append-mode windowed agg finalizes windows on " +
      "watermark advance and drops too-late rows (§2.9)") {
    val stage = tempDir("wm-events")
    def ts(s: String) = Timestamp.valueOf(s)
    def write(name: String, rows: Seq[(Long, Timestamp)]): Unit =
      rows.toDF("user_id", "ts").write.parquet(s"$stage/$name")
    // batch 0 exists before the stream starts (file source needs ≥0 files)
    write("b0", Seq((1L, ts("2021-06-01 10:00:00")),
      (2L, ts("2021-06-01 10:20:00")), (3L, ts("2021-06-01 11:00:00"))))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP").parquet(s"$stage/*")
    val agg = stream.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    spark.catalog.dropTempView("wm_test")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test").start()
    try {
      q.processAllAvailable() // b0: watermark advances to 10:30
      // b1: 13:00 advances the watermark to 12:30 at batch end
      write("b1", Seq((4L, ts("2021-06-01 13:00:00"))))
      q.processAllAvailable()
      // b2 runs at watermark 12:30: the 10:00/11:00 windows (ends ≤
      // 12:30) finalize and EMIT, and the 10:10 row is TOO LATE — its
      // window end (11:00) is behind the watermark, so it is dropped
      // rather than re-opening the already-finalized window
      write("b2", Seq((5L, ts("2021-06-01 10:10:00")),
        (6L, ts("2021-06-01 14:00:00"))))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("wm_test")
      .select(col("window.start").cast("string"), col("n"))
      .as[(String, Long)].collect().toMap
    assert(out == Map(
      "2021-06-01 10:00:00" -> 2L, // late 10:10 row excluded
      "2021-06-01 11:00:00" -> 1L),
      s"got $out")
  }

  test("q_stream_hourly drains a real file-source stream") {
    val out = SparkEntry.queries("q_stream_hourly")(spark, dir)
    assert(out.count() > 0)
    // must equal the batch rollup exactly (typed compare, not toString)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("hour").cast("string"), col("event_type"), col("n"), col("v"))
      .as[(String, String, Long, Double)].collect().sorted.toSeq
    val batch = canon(SparkEntry.queries("q_hourly_rollup")(spark, dir))
    val stream = canon(out)
    assert(stream == batch)
  }
}
