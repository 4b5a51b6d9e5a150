package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.SchedulerConfig

/** The frontier scheduler (north rule: partitioned priority frontier,
  * per-host politeness budgets, robots gating, hot-host salting).
  *
  * Reference semantics rebuilt:
  *  - per-plugin FIFO queues drained at a politeness-limited rate
  *    (worker.py:943-1000, network.py:176-199) → per-host budget =
  *    waveSeconds / (fixed + rand(min,max)) with a SEEDED deterministic
  *    "rand" per (host, wave) so ordering reproduces at any parallelism;
  *  - queue FIFO order → total order (priority, seq): seq is assigned
  *    deterministically at discovery (SURVEY.md §4 item 4);
  *  - robots gating is a north-rule addition (absent in the reference).
  *
  * Scale design: the per-host top-K window is the only shuffle; a skewed
  * (hot) host would serialize into one task, so top-K runs in two phases —
  * phase 1 keeps K per (host, salt) bucket, phase 2 keeps K per host over
  * the ≤ saltBuckets·K survivors. AQE handles residual skew.
  */
object Scheduler {

  /** Deterministic politeness wait for (host, waveId): fixed +
    * pseudo-random-in-[min,max] drawn from xxhash64 — reproducible on any
    * cluster size (BASELINE.md parity requirement).
    */
  def politenessWaitSecs(host: Column, waveId: Long,
                         cfg: SchedulerConfig): Column = {
    val span = (cfg.politenessRandMaxSecs - cfg.politenessRandMinSecs + 1)
      .max(1)
    lit(cfg.politenessFixedSecs) + lit(cfg.politenessRandMinSecs) +
      pmod(xxhash64(host, lit(waveId)), lit(span.toLong)).cast("int")
  }

  /** Per-host fetch budget for this wave. `carrySecs` is the carried
    * crawl-delay debt ([[SchedulerConfig.carryBudgetDebt]]): unused
    * seconds from earlier waves extend this wave's usable window.
    */
  def hostBudget(host: Column, waveId: Long, cfg: SchedulerConfig,
                 carrySecs: Column = lit(0L)): Column =
    least(
      lit(cfg.topKPerHost),
      floor((lit(cfg.waveSeconds).cast("double") +
          carrySecs.cast("double")) /
        politenessWaitSecs(host, waveId, cfg).cast("double")).cast("int"))

  /** Next-wave carry for every host in `hosts` (the caller passes the
    * STILL-PENDING frontier — see the commit-budget site in CrawlWave:
    * a host with no pending urls must drop out rather than bank credit
    * while idle), from the previous carry table and this wave's
    * scheduled counts: carry' = clamp(waveSeconds + carry −
    * scheduled·wait, 0, waveSeconds). The clamp bounds per-host state
    * by one full wave of credit. One map-side-combinable count over
    * the (small) scheduled set plus two host-keyed joins over the
    * distinct-host relation — O(|hosts with pending urls|) state.
    */
  def nextCarry(hosts: DataFrame, prevCarry: DataFrame,
                scheduled: DataFrame, waveId: Long,
                cfg: SchedulerConfig): DataFrame = {
    val counts = scheduled.groupBy("host").agg(count(lit(1)).as("_cnt"))
    hosts.select(col("host")).distinct()
      .join(prevCarry.select(col("host"),
        col("carrySecs").as("_prev")), Seq("host"), "left")
      .join(counts, Seq("host"), "left")
      .select(col("host"),
        least(lit(cfg.waveSeconds.toLong), greatest(lit(0L),
          lit(cfg.waveSeconds.toLong) + coalesce(col("_prev"), lit(0L)) -
            coalesce(col("_cnt"), lit(0L)) *
              politenessWaitSecs(col("host"), waveId, cfg).cast("long")))
          .as("carrySecs"))
  }

  /** Robots gate: drop urls whose path starts with a disallowed prefix of
    * their host. `robots(host STRING, disallowPrefixes ARRAY<STRING>)` is
    * a dimension table → broadcast left join + exists-filter (no shuffle
    * of the frontier side).
    */
  def robotsGate(frontier: DataFrame, robots: DataFrame): DataFrame = {
    val r = broadcast(robots.select(col("host"),
      col("disallowPrefixes").as("_disallow")))
    frontier.join(r, Seq("host"), "left")
      .filter(col("_disallow").isNull ||
        !exists(col("_disallow"), p =>
          try_parse_url(col("url"), lit("PATH")).startsWith(p)))
      .drop("_disallow")
  }

  /** Two-phase per-host top-K under the per-host `budget` (an INT
    * column over the frontier's columns) — the engine's only top-K path.
    * Phase 1 bounds every (host, salt) bucket to the budget so no single
    * window task ever sees more than bucket-local rows of a hot host;
    * phase 2 applies the exact per-host limit and yields the final
    * (priority, seq) crawl order as `scheduleRank`. Windows, not a typed
    * `mapGroups`, because Catalyst can push the rank limit into the
    * shuffle (WindowGroupLimit); CrawlWaveSpec checks the result
    * against a typed bounded-heap `flatMapGroups` reference.
    */
  def topKPerHost(frontier: DataFrame, budget: Column,
                  saltBuckets: Int): DataFrame = {
    val salted = frontier.withColumn("_salt",
      pmod(xxhash64(col("url")), lit(saltBuckets.toLong)).cast("int"))
    val w1 = Window.partitionBy(col("host"), col("_salt"))
      .orderBy(col("priority"), col("seq"))
    val phase1 = salted
      .withColumn("_rn1", row_number().over(w1))
      .filter(col("_rn1") <= budget) // bucket cap = host budget
      .drop("_salt", "_rn1")
    val w2 = Window.partitionBy(col("host"))
      .orderBy(col("priority"), col("seq"))
    phase1
      .withColumn("_rn", row_number().over(w2))
      .filter(col("_rn") <= budget)
      .withColumn("scheduleRank", col("_rn").cast("int"))
      .drop("_rn")
  }

  /** Full wave scheduling: first-seen URL dedupe (P14) → seen-set
    * anti-join (J1, bloom-pruned) → robots gate → per-host budgeted
    * top-K. Returns the scheduled set with its total crawl order.
    */
  def schedule(frontier: DataFrame, seen: DataFrame, robots: DataFrame,
               waveId: Long, cfg: SchedulerConfig,
               blooms: Option[Array[Array[Byte]]] = None,
               carry: Option[DataFrame] = None): DataFrame = {
    // J1 first: seen-ness is uniform per url, so pruning before the
    // first-seen dedupe cannot change which duplicate survives, and it
    // shrinks every later stage.
    val unseen = SeenSet.removeSeen(frontier, "url", seen, "url", blooms)
    val deduped = Survivor.first(unseen, Seq("url"), Seq("priority", "seq"))
    val gated = robotsGate(deduped, robots)
    // with carry state, the budget reads a per-host joined column; the
    // carry relation is O(|active hosts|) ≪ O(|frontier|), so AQE picks
    // a broadcast join at realistic sizes
    val (budgeted, carrySecs) = carry match {
      case Some(cdf) =>
        (gated.join(cdf.select(col("host"), col("carrySecs").as("_carrySecs")),
          Seq("host"), "left"), coalesce(col("_carrySecs"), lit(0L)))
      case None => (gated, lit(0L))
    }
    // NOTE: no trailing repartition — the scheduled set is small (≤ K per
    // host); downstream stages (fetch join on url, frontier commit by
    // hostHash) pick their own partitioning.
    topKPerHost(budgeted, hostBudget(col("host"), waveId, cfg, carrySecs),
      cfg.saltBuckets).drop("_carrySecs")
  }
}
