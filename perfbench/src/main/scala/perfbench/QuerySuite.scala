package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.{BenchProtocol, SparkEntry}
import graft.queries._

/** query-suite: `SparkEntry.queries` over the vendored seed-42 tables, with
  * `BenchProtocol.fresh` isolation before each query. The data is fixed, so
  * the seed only permutes the query order. Each query's full result is
  * collected and fingerprinted against the recorded fingerprints, which
  * were validated once against the DuckDB oracle (see README.md).
  *
  * A pass over all queries takes minutes on a few cores, mostly fixed
  * per-query cost, so runs time a fixed subset that covers all eight query
  * modules. The traced run adds one traced pass over the subset plus the
  * heavy queries named in [[Metrics.TracedQueries]].
  */
object QuerySuite {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Every query with the module that defines it. */
  def defs: Seq[(String, QueryDef)] = Seq(
    "TpchQueries" -> TpchQueries.defs, "CrawlQueries" -> CrawlQueries.defs,
    "TextQueries" -> TextQueries.defs, "EventQueries" -> EventQueries.defs,
    "MiscQueries" -> MiscQueries.defs, "DedupQueries" -> DedupQueries.defs,
    "VectorQueries" -> VectorQueries.defs, "ExtractQueries" -> ExtractQueries.defs)
    .flatMap { case (m, ds) => ds.map(m -> _) }

  /** One query per module, about five seconds a pass. */
  val Subset: Seq[String] = Seq("q01_pricing_summary", "q_seen_antijoin", "q_pii_scrub",
    "q_sessionize", "q_png_decode", "q_dedup_jaccard", "q_vector_topk", "q_body_extract")

  /** Timed passes per run at least: a query's time is its median over them. */
  val Passes = 3

  def expectedFile(ctx: Ctx): Path = ctx.benchDir.resolve("expected").resolve("queries.tsv")

  def expected(ctx: Ctx): Map[String, String] =
    Files.readAllLines(expectedFile(ctx)).asScala.filter(_.contains("\t"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap

  /** (seconds, fingerprint) of one isolated query, or None if it threw. */
  def timed(ctx: Ctx, q: QueryDef): Option[(Double, Fingerprint)] = {
    BenchProtocol.fresh(ctx.spark)
    ctx.res.op(q.name)(ctx.tracer.span(s"queries.${q.name}") {
      val df = q.fn(ctx.spark, ctx.dataDir)
      val rows: Array[Row] = df.collect()
      Fingerprint.ofRows(df.columns.toSeq, rows)
    })
  }

  def pass(ctx: Ctx, order: Seq[(String, QueryDef)]): Seq[(String, Double, Fingerprint)] =
    order.flatMap { case (_, q) => timed(ctx, q).map { case (s, fp) => (q.name, s, fp) } }

  def loop(ctx: Ctx, order: Seq[(String, QueryDef)]): Seq[(String, Double, Fingerprint)] = {
    val out = Seq.newBuilder[(String, Double, Fingerprint)]
    ctx.closedLoop(min = Passes)(out ++= pass(ctx, order))
    out.result()
  }

  /** Per-query median seconds over the passes. */
  def perQuery(samples: Seq[(String, Double, Fingerprint)]): Map[String, Double] =
    samples.groupBy(_._1).map { case (q, xs) => q -> Stats.median(xs.map(_._2)) }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val all = defs
    val order = new scala.util.Random(ctx.seed).shuffle(all.sortBy(_._2.name))
    val subset = order.filter { case (_, q) => Subset.contains(q.name) }
    require(subset.size == Subset.size, "a subset query is not in SparkEntry.queries")
    ctx.setup(reps = 3) { _ =>
      Tables.foreach(t => spark.read.parquet(s"${ctx.dataDir}/$t.parquet").count())
    } { _ =>
      subset.foreach { case (_, q) => BenchProtocol.fresh(spark); q.fn(spark, ctx.dataDir).collect() }
    }
    val untraced = loop(ctx, subset)
    ctx.tracer.start()
    val tracedSet = order.filter { case (_, q) =>
      Subset.contains(q.name) || Metrics.TracedQueries.contains(q.name) }
    val traced = if (ctx.trace) pass(ctx, tracedSet) else Nil
    val times = perQuery(untraced)
    require(times.nonEmpty, "every query failed")
    ctx.res.e2e("op_p50_ms") = Stats.median(times.values.toSeq) * 1e3
    ctx.res.e2e("work_per_s") = times.size / times.values.sum

    val exp = expected(ctx)
    (untraced ++ traced).map(x => (x._1, x._3.toString)).distinct.foreach { case (q, fp) =>
      ctx.res.check(s"$q result matches its recorded fingerprint", exp.get(q).contains(fp),
        s"got $fp, recorded ${exp.getOrElse(q, "nothing")}")
    }
    val ran = if (ctx.trace) tracedSet.size else subset.size
    val distinct = (untraced ++ traced).map(_._1).distinct.size
    ctx.res.check("every query ran", distinct == ran, s"${ran - distinct} of $ran queries failed")
    untraced.headOption.foreach { case (q, _, fp) =>
      ctx.res.selfCheck("query fingerprint", !exp.get(q).contains(fp.copy(rows = fp.rows + 1).toString))
    }
    if (ctx.trace && traced.nonEmpty) traceLayers(ctx, all, times, traced)
  }

  private def traceLayers(ctx: Ctx, all: Seq[(String, QueryDef)], untracedTimes: Map[String, Double],
                          traced: Seq[(String, Double, Fingerprint)]): Unit = {
    val t = ctx.tracer
    val l = ctx.res.layer
    val module = all.map { case (m, q) => q.name -> m }.toMap
    val spans = t.spans.filter(_.name.startsWith("queries.")).groupBy(_.name.stripPrefix("queries."))
    val per = spans.map { case (q, ss) =>
      val jobs = ss.map(s => t.jobsOf(s)).map(js => (js, t.stagesOf(js)))
      q -> (Stats.median(ss.map(_.seconds).toSeq), Stats.median(jobs.map(_._2.map(_.runMs).sum / 1e3).toSeq),
        Stats.median(jobs.map(_._1.size.toDouble).toSeq),
        Stats.median(jobs.map(j => Stats.mb(j._2.map(_.shuffleWriteB).sum)).toSeq))
    }
    Metrics.Modules.foreach { m =>
      val qs = per.filter { case (q, _) => module.get(q).contains(m) }.values.toSeq
      l(s"queries.$m.wall_s") = qs.map(_._1).sum
      l(s"queries.$m.task_s") = qs.map(_._2).sum
      l(s"queries.$m.jobs") = qs.map(_._3).sum
      l(s"queries.$m.shuffle_write_mb") = qs.map(_._4).sum
    }
    Metrics.TracedQueries.foreach { q =>
      per.get(q).foreach { case (w, _, j, _) =>
        l(s"queries.$q.wall_s") = w
        l(s"queries.$q.jobs") = j
      }
    }
    // Suite figures are over the traced pass: the subset plus the named
    // heavy queries.
    val tracedTimes = perQuery(traced)
    l("queries.small_fixed_s") = tracedTimes.values.filter(_ < 0.5).sum
    l("suite_s") = tracedTimes.values.sum
    l("suite_geomean_ms") = Stats.geomean(tracedTimes.values.toSeq) * 1e3
    l("trace.overhead_frac") = untracedTimes.keys.toSeq.map(tracedTimes).sum /
      untracedTimes.values.sum - 1
  }

  /** Record mode: write every query's fingerprint to the expected file and
    * its result as parquet (plus oracle_sql.json) for the DuckDB oracle.
    */
  def record(ctx: Ctx, dump: Path): Unit = {
    val lines = defs.sortBy(_._2.name).map { case (_, q) =>
      BenchProtocol.fresh(ctx.spark)
      val df = q.fn(ctx.spark, ctx.dataDir)
      val rows = df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(dump.resolve(q.name).toString)
      s"${q.name}\t${Fingerprint.ofRows(df.columns.toSeq, rows)}"
    }
    Files.createDirectories(expectedFile(ctx).getParent)
    Files.writeString(expectedFile(ctx), lines.mkString("", "\n", "\n"))
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(dump.resolve("oracle_sql.json"),
      SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
  }
}
