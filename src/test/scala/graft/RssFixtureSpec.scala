package graft

import org.apache.spark.sql.functions._

/** S1 RSS scan parity against the reference's own RSS fixtures
  * (test-data/mod_en_in_*_rss.xml). Expected counts and first links are
  * computed INDEPENDENTLY with a strict XML parse (per <item>, first
  * <link> text, CDATA unwrapped, lowercased) — the same contract the
  * reference implements via lxml-xml (base_plugin.py:708-773). The
  * forbes fixture is actually a 404 HTML error page (zero items) —
  * pinned as yielding no links.
  */
class RssFixtureSpec extends SparkTestBase {
  import spark.implicits._

  private val pins = Seq(
    ("mod_en_in_business_std_rss.xml", 30,
      "https://www.business-standard.com/article/economy-policy/no-resumption-of-da-dr-from-july-1-for-central-govt-employees-finmin-121062601192_1.html"),
    ("mod_en_in_ecotimes_rss.xml", 50,
      "https://economictimes.indiatimes.com/news/science/covid-19-delta-variant-may-breach-vaccine-shield/articleshow/83889378.cms"),
    ("mod_en_in_hindu_rss.xml", 100,
      "https://www.thehindu.com/business/economy/petrol-crosses-100-in-bihar-after-another-round-of-price-hike/article34999017.ece"),
    ("mod_en_in_indiakanoon_rss.xml", 20,
      "https://indiankanoon.org/doc/61076172/"),
    ("mod_en_in_inexp_business_rss.xml", 100,
      "https://www.newindianexpress.com/nation/2021/jun/27/growing-up-never-imagined-that-village-boy-like-me-would-occupy-highest-post-in-nation-kovind-2322189.html"),
    ("mod_en_in_livemint_rss.xml", 35,
      "https://www.livemint.com/market/stock-market-news/analysts-list-out-factors-that-will-dictate-stock-markets-trajectory-this-week-11624778080170.html"),
    ("mod_en_in_moneycontrol_rss.xml", 15,
      "https://www.moneycontrol.com/news/travel/9-countries-thattaking-visa-applicationsindian-tourists-right-now_15233141.html"),
    ("mod_en_in_ndtv_rss.xml", 20,
      "https://www.ndtv.com/business/cairn-energy-eyes-government-companies-assets-to-recover-money-2473454"),
    ("mod_en_in_timesofindia_rss.xml", 20,
      "https://timesofindia.indiatimes.com/blogs/sonalysis/the-case-for-a-new-avenger/"),
    ("mod_en_in_trak_rss.xml", 18,
      "https://trak.in/tags/business/2021/04/22/covid19-pandemic-triggers-massive-usage-of-contactless-technology-how-it-will-shape-our-lives/"))

  private def xml(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      Fixtures.file(name).toPath),
      java.nio.charset.StandardCharsets.UTF_8)

  test("rssLinks reproduces the per-item link sets of all ten " +
      "well-formed reference RSS fixtures (count + first link)") {
    val rows = pins.map { case (f, _, _) => (f, xml(f)) }.toDF("file", "xml")
    val got = rows.select(col("file"),
        graft.functions.UrlFunctions.rssLinks(col("xml")).as("links"))
      .as[(String, Seq[String])].collect().toMap
    pins.foreach { case (f, n, first) =>
      val links = got(f)
      assert(links.size == n, s"$f: got ${links.size}, want $n")
      assert(links.head == first, s"$f: first=${links.head}")
      assert(links.forall(l => l == l.toLowerCase), s"$f: not normalized")
    }
  }

  test("the forbes RSS fixture is a 404 HTML page (zero <item>s) — " +
      "the scan must yield no links, not garbage") {
    val links = Seq(xml("mod_en_in_forbes_rss.xml")).toDF("xml")
      .select(graft.functions.UrlFunctions.rssLinks(col("xml")).as("l"))
      .as[Seq[String]].head()
    assert(links.isEmpty, s"got ${links.take(3)}")
  }
}
