package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SyntheticPages

/** Seeded crawl inputs built on [[SyntheticPages]]. The hot-host skew
  * shape is fixed (3 of 2000 hosts own ~30% of pages). The seed sets the
  * universe size, and so the link graph (`SyntheticPages` links id to
  * (id*31 + 7k) mod size); which ids are seeded, and so their hosts; which
  * seeded pages get a near-duplicate; and which seeds dangle.
  */
final case class Inputs(seed: Long) {
  private val hosts = 2000
  private val hotHosts = 3

  private def h(c: Column, salt: Long): Column = xxhash64(c, lit(seed), lit(salt))

  def url(id: Column): Column = lower(SyntheticPages.urlOf(id, hosts, hotHosts))

  /** Universe size: the seed moves it, which rewires the link graph. */
  def universe(base: Long): Long = base + Math.floorMod(seed * 104729L, base / 8)

  /** First seeded page id: seeds are `count` consecutive ids from here. */
  def firstSeed(n: Long, count: Int): Long = Math.floorMod(seed * 7919L, n - count)

  /** Every seeded page with this flag is served a second time under an
    * /alt/ url by a second source, as a cross-module near-duplicate.
    */
  private def isNearDup(id: Column, every: Int): Column = pmod(h(id, 3), lit(every.toLong)) === 0

  private def storyId(urlCol: Column): Column =
    regexp_extract(urlCol, "story-([0-9]+)", 1).cast("long") - 100000L

  private def toAlt(c: Column): Column = regexp_replace(c, "/articles/story-", "/alt/story-")

  /** Pages table: the universe plus the /alt/ copies of near-dup seeds. */
  def pages(spark: SparkSession, n: Long, seeds: Int, nearDupEvery: Int): DataFrame = {
    val base = SyntheticPages.pages(spark, n, hosts, hotHosts)
    val id = storyId(col("url"))
    val first = firstSeed(n, seeds)
    val dups = base.filter(id >= first && id < first + seeds && isNearDup(id, nearDupEvery))
      .withColumn("url", toAlt(col("url")))
    base.unionByName(dups)
  }

  /** Seed frontier: `count` seeds, the first ids of the universe, except
    * that a seeded share of them point past the universe and so dangle
    * (their fetch fails). Near-dup seeds also seed their /alt/ copy, queued
    * right after the original (seq 2·id and 2·id + 1) so that both copies
    * are crawled within a few waves, ahead of the links the crawl discovers.
    */
  def seedUrls(spark: SparkSession, n: Long, count: Int, danglingEvery: Int,
               nearDupEvery: Int): DataFrame = {
    val id = col("id") + firstSeed(n, count)
    val dangling = pmod(h(id, 4), lit(danglingEvery.toLong)) === 0
    val target = when(dangling, id + n + 1000L).otherwise(id)
    val base = spark.range(count).select(url(target).as("url"),
      lit("synthetic").as("source"), lit(0).as("priority"), (col("id") * 2).as("seq"),
      (!dangling && isNearDup(id, nearDupEvery)).as("_dup"))
    val alt = base.filter(col("_dup"))
      .select(toAlt(col("url")).as("url"), lit("synthetic_alt").as("source"),
        col("priority"), (col("seq") + 1).as("seq"))
    base.drop("_dup").unionByName(alt)
  }

  /** Seeded urls that must fail to fetch. */
  def danglingSeeds(spark: SparkSession, n: Long, count: Int, danglingEvery: Int): DataFrame = {
    val id = col("id") + firstSeed(n, count)
    spark.range(count).filter(pmod(h(id, 4), lit(danglingEvery.toLong)) === 0)
      .select(url(id + n + 1000L).as("url"))
  }
}
