package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.functions.{TextClean, UrlFunctions => U}
import graft.operators.{SeenSet, Survivor}

/** Property-based semantics checks (SURVEY.md §5): the Spark column
  * expressions are compared against direct Scala models of the
  * reference's Python functions over generated inputs. Pure functions
  * run under ScalaCheck's forAll; column expressions run once per
  * property over a seed-fixed generated dataset (one Spark job per
  * property, not per sample).
  */
class PropertySpec extends SparkTestBase {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  /** Seed-fixed sample list from a Gen (deterministic across runs). */
  private def samples[T](g: Gen[T], n: Int): List[T] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L)).get

  private val urlishGen: Gen[String] = for {
    host <- Gen.oneOf("www.site0.com", "www.news.in", "x.org", "q.co")
    segs <- Gen.listOf(Gen.oneOf("articles", "a-77701", "id=12345",
      "x", "видео", "print", "99", ""))
  } yield s"https://$host/" + segs.mkString("/")

  // -- pure functions under forAll ----------------------------------------

  test("property: bloom shardOf is total and stable in [0, shards)") {
    check(Prop.forAll(Gen.asciiPrintableStr, Gen.choose(1, 64)) {
      (s: String, shards: Int) =>
        val a = SeenSet.shardOf(s, shards)
        a == SeenSet.shardOf(s, shards) && a >= 0 && a < shards
    })
  }

  test("property: child seq encoding is collision-free and order-preserving") {
    // seq = parentSeq * 1000 + pos + 1 (CrawlWave.discoverLinks)
    val pair = for {
      p <- Gen.choose(0L, 1000000L); i <- Gen.choose(0, 998)
    } yield (p, i)
    check(Prop.forAll(pair, pair) { (a, b) =>
      val ka = a._1 * 1000 + a._2 + 1
      val kb = b._1 * 1000 + b._2 + 1
      (ka == kb) == (a == b) &&
        // within one parent, document order is preserved
        (a._1 != b._1 || (a._2 < b._2) == (ka < kb))
    })
  }

  // -- column expressions vs Scala models over generated datasets ---------

  test("property: crc32Hex matches zlib/Python hex() on generated urls") {
    import spark.implicits._
    val urls = samples(urlishGen, 400).distinct
    def model(s: String): String = {
      val c = new java.util.zip.CRC32()
      c.update(s.getBytes("UTF-8"))
      "0x" + java.lang.Long.toHexString(c.getValue)
    }
    val got = urls.toDF("url")
      .select(col("url"), U.crc32Hex(col("url")).as("h"))
      .as[(String, String)].collect().toMap
    urls.foreach(u => assert(got(u) == model(u), s"url=$u"))
  }

  test("property: F1/F2 filters match the reference predicate model") {
    import spark.implicits._
    val whitelist = Seq("/articles", "-777")
    val blacklist = Seq("video", "print")
    def modelKeep(u: String): Boolean =
      (whitelist.exists(u.contains) && u.length > 9) &&
        !blacklist.exists(u.contains)
    val urls = samples(urlishGen, 500).distinct
    val kept = urls.toDF("url")
      .filter(U.retainValid(col("url"), whitelist) &&
        U.notInvalid(col("url"), blacklist))
      .as[String].collect().toSet
    urls.foreach(u => assert(kept.contains(u) == modelKeep(u), s"url=$u"))
  }

  test("property: empty whitelist keeps everything (reference branch)") {
    import spark.implicits._
    val urls = samples(urlishGen, 100).distinct
    val kept = urls.toDF("url").filter(U.retainValid(col("url"), Seq.empty))
      .as[String].collect().toSet
    assert(kept == urls.toSet)
  }

  test("property: collapseRepeats equals the fixed-point pairwise model") {
    import spark.implicits._
    // the reference loops `replace(cc, c)` until unchanged
    def fixedPoint(s: String, ch: String): String = {
      var cur = s
      var next = cur.replace(ch + ch, ch)
      while (next != cur) { cur = next; next = cur.replace(ch + ch, ch) }
      cur
    }
    val chars = TextClean.defaultRepeatChars
    def model(s: String): String = chars.foldLeft(s)(fixedPoint)
    val textGen = Gen.listOf(
      Gen.oneOf(" ", "\t", "\n", "\r\n", "-", "_", ".", "a", "Bc", ""))
      .map(_.mkString)
    val texts = samples(textGen, 500).distinct
    val got = texts.toDF("t")
      .select(col("t"), TextClean.collapseRepeats(col("t"), chars).as("c"))
      .as[(String, String)].collect().toMap
    texts.foreach(t => assert(got(t) == model(t),
      s"input=${t.replace("\n", "\\n").replace("\r", "\\r")}"))
  }

  test("property: first-seen dedupe picks the minimal (priority, seq) row") {
    import spark.implicits._
    // model of P14 as used in Scheduler.schedule: lexicographic min of
    // (priority, seq), ties broken on the remaining column
    val rowGen = for {
      u <- Gen.choose(0, 40); p <- Gen.choose(0, 3); s <- Gen.choose(0L, 20L)
      src <- Gen.oneOf("a", "b", "c")
    } yield (s"https://h/$u", src, p, s)
    val rows = samples(rowGen, 600).distinct
    val model = rows.groupBy(_._1).view
      .mapValues(_.minBy(r => (r._3, r._4, r._2))).toMap
    val df = rows.toDF("url", "source", "priority", "seq")
    val got = Survivor.first(df, Seq("url"), Seq("priority", "seq"))
      .as[(String, String, Int, Long)].collect()
    assert(got.length == model.size)
    got.foreach(r => assert(model(r._1) == r))
  }

  test("property: politeness budget is within the clamp for any host") {
    import spark.implicits._
    import graft.core.SchedulerConfig
    import graft.operators.Scheduler
    val c = SchedulerConfig(topKPerHost = 50, waveSeconds = 400)
    val hosts = samples(Gen.alphaNumStr.suchThat(_.nonEmpty), 200).distinct
    val lo = math.min(
      c.waveSeconds / (c.politenessFixedSecs + c.politenessRandMaxSecs),
      c.topKPerHost)
    val hi = math.min(
      c.waveSeconds / (c.politenessFixedSecs + c.politenessRandMinSecs),
      c.topKPerHost)
    val budgets = hosts.toDF("host")
      .select(Scheduler.hostBudget(col("host"), 7L, c).as("b"))
      .as[Int].collect()
    budgets.foreach(b => assert(b >= lo && b <= hi, s"budget $b"))
  }
}
