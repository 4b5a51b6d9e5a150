package graft.streaming

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Survivor

/** Continuous crawling as a real Structured Streaming job (north star:
  * "each crawl wave is a Structured-Streaming-style micro-batch"): a
  * stream of seed URLs drives the engine via `foreachBatch` — every
  * micro-batch appends its (deduplicated) seeds to the frontier snapshot
  * and runs one full wave (schedule → fetch-join → extract → discover →
  * commit). Between batches the engine is exactly the batch engine, so
  * every determinism/resume guarantee of CrawlWaveSpec carries over;
  * the streaming layer adds source-side exactly-once (file-source +
  * checkpointLocation) on top of the engine's idempotent wave commits.
  *
  * Seed rows: (url STRING, source STRING, priority INT, seq LONG) — seq
  * gives new seeds their deterministic place in the crawl total order.
  */
object StreamingCrawl {

  /** Append one micro-batch of seeds to the frontier (first-seen-deduped
    * against everything known) and run one wave. Public so tests can
    * drive a single batch synchronously.
    *
    * A wave a crash left committed in some tables only is finished first,
    * from the snapshots it was planned on: seeds appended before its rerun
    * would change its schedule under the commits that already landed, or
    * sit below a frontier commit that already holds the wave. A batch
    * Structured Streaming replays after that crash brings no fresh seeds
    * (its own are in the frontier), and the finished wave is its wave.
    */
  def processBatch(engine: CrawlEngine, seeds: DataFrame): Unit = {
    val resumed = engine.waveInterrupted
    if (resumed) engine.runWave()
    val wave = engine.lastCompleteWave
    val frontier = engine.frontierT.read(engine.frontierSchema)
    val seen = engine.seenT.read(engine.seenSchema)
    val known = frontier.select("url").unionByName(seen.select("url"))
    // seeds that lowercase to one url keep the first (priority, seq) row
    val normalized = seeds.select(
      F.lower(F.col("url")).as("url"), F.col("source"),
      F.col("priority").cast("int").as("priority"),
      F.col("seq").cast("long").as("seq"))
    val fresh = Survivor.first(normalized, Seq("url"), Seq("priority", "seq"))
      .join(known, Seq("url"), "left_anti")
    if (!fresh.isEmpty) {
      val rows = fresh.select(
        F.col("url"), F.col("source"),
        graft.functions.UrlFunctions.host(F.col("url")).as("host"),
        F.pmod(F.xxhash64(graft.functions.UrlFunctions.host(F.col("url"))),
          F.lit(engine.cfg.numPartitions.toLong)).cast("int").as("hostHash"),
        F.col("priority"), F.lit(wave).as("waveDiscovered"), F.col("seq"),
        F.lit(0).as("attempts"), F.lit(0).as("depth"))
      engine.frontierT.commitAppend(rows, wave,
        Map("streamed_seeds" -> rows.count()))
      engine.runWave()
    } else if (!resumed) engine.runWave()
  }

  /** Launch the streaming crawl over a file-source directory of seed
    * parquet files. Each arriving file becomes micro-batch seeds; the
    * checkpoint makes seed ingestion exactly-once across restarts.
    */
  def start(engine: CrawlEngine, seedDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    engine.spark.readStream
      .schema("url STRING, source STRING, priority INT, seq LONG")
      .parquet(seedDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(engine, batch)
      }
      .start()
  }
}
