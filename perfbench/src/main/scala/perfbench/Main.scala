package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the tracer, the result being
  * filled in, and the run's arguments. `work` is a scratch directory the
  * run owns and deletes when it ends.
  */
final class Ctx(var spark: SparkSession, val tracer: Tracer, val res: Result,
                val seed: Long, val seconds: Int, val cores: Int, val work: Path,
                val benchDir: Path, val dataDir: String) {
  val trace: Boolean = tracer.enabled

  /** Set-up: `prepare` builds the run's inputs `reps` times (the last
    * result is used) and `warm` runs once after the first repetition so
    * JIT and codegen warm-up stay out of the timed samples. `setup_s` is the
    * JVM and Spark start before set-up, plus the warm-up, plus the median
    * prepare time: JIT happens once per process, and the repeated part is a
    * median so one slow repetition does not move it.
    */
  def setup[T](reps: Int)(prepare: Int => T)(warm: T => Unit): T = {
    val started = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    def timed[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val v = f
      ((System.nanoTime() - t0) / 1e9, v)
    }
    val first = timed(prepare(1))
    val (warmS, _) = timed(warm(first._2))
    val rest = (2 to reps).map(i => timed(prepare(i)))
    val prep = (first +: rest).map(_._1)
    res.e2e("setup_s") = started + warmS + Stats.median(prep)
    System.err.println(f"[perfbench] set-up: start $started%.3f s, warm-up $warmS%.3f s, " +
      s"prepare ${prep.map(x => f"$x%.3f").mkString(" ")} s")
    (first +: rest).last._2
  }

  /** Run timed operations until `seconds` have passed, at least `min`. */
  def closedLoop(min: Int)(op: => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) {
      op
      i += 1
    }
  }
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "crawl-long" -> Crawl.run,
    "query-suite" -> QuerySuite.run)

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    def need(n: String) = arg(args, n).getOrElse(sys.error(s"missing $n"))
    val workload = need("--workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload; one of " +
      Workloads.keys.toSeq.sorted.mkString(", ")))
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toInt
    val trace = need("--trace") == "1"
    val work = Paths.get(need("--work")).toAbsolutePath
    val outDir = Paths.get(need("--out")).toAbsolutePath
    val benchDir = Paths.get(need("--bench-dir")).toAbsolutePath
    val dataDir = arg(args, "--data").getOrElse(benchDir.resolve("data").toString)
    Files.createDirectories(work)
    Files.createDirectories(outDir)
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = session(cores, work)
    val tracer = new Tracer(spark.sparkContext, trace)
    val res = new Result
    val ctx = new Ctx(spark, tracer, res, seed, seconds, cores, work, benchDir, dataDir)
    arg(args, "--record").foreach { dump =>
      QuerySuite.record(ctx, Paths.get(dump).toAbsolutePath)
      spark.stop()
      return
    }
    val gcBefore = gcSeconds()
    run(ctx)
    tracer.stop()
    res.layer("jvm.live_heap_mb") = Stats.mb(res.liveHeapBytes)
    res.layer("jvm.gc_s") = gcSeconds() - gcBefore
    if (trace) res.layer ++= Layers.selfTimes(tracer)

    res.facts ++= Seq("workload" -> workload, "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> trace.toString,
      "nproc" -> cores.toString, "mem_total_kb" -> memTotalKb,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> ctx.spark.version, "commit" -> arg(args, "--commit").getOrElse("unknown"),
      "source_sha256" -> arg(args, "--source-hash").getOrElse("unknown"),
      "checks" -> res.checks.toString)
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    tracer.dump(outDir.resolve(s"$tag.spans.jsonl"))
    ctx.spark.stop()

    val metrics = if (trace) Metrics.perLayer(res) else Metrics.endToEnd(res)
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    val facts = res.facts.map { case (k, v) => s""""$k":"${v.replace("\"", "'")}"""" }
      .mkString("{", ",", "}")
    val line = s"""{"correct":${res.failed == 0},"attempted":${res.attempted},"failed":${res.failed},"metrics":$body}"""
    Files.writeString(outDir.resolve(s"$tag.json"), s"""{"facts":$facts,"result":$line}""" + "\n")
    metrics.foreach { case (n, v, u) => println(f"$n%-40s ${num(v)}%s $u") }
    println(s"""{"facts":$facts}""")
    println(s"checks run: ${res.checks}, operations attempted: ${res.attempted}, failed: ${res.failed}")
    println(line)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"metric is not a finite number: $v")
    else java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(10)).toString

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def memTotalKb: String =
    try Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.replaceAll("[^0-9]", "")).getOrElse("unknown")
    catch { case _: Throwable => "unknown" }
}
