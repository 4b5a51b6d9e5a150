package graft

import org.apache.spark.sql.functions._

import graft.extract.{SourceCascades, SourceProfiles}
import graft.functions.DateExtract

/** The six round-3 content-plugin profiles pinned against the reference
  * fixture corpus + the reference tests' own assertions:
  *   - hindu 30713792: id '30713792', pubdate 2020-02-01
  *     (test_mod_en_in_hindu.py:110-127, :150), authors
  *     ['Special Correspondent'] (the authorRegexps' fixture value)
  *   - moneycontrol: id '7173681' from the test URL
  *     (test_mod_en_in_moneycontrol.py:105-120, :158), fixture pubdate
  *     2021-02-18, author 'Moneycontrol News' (unsplit)
  *   - livemint: id '11613646112891' (test_mod_en_in_livemint.py:119,
  *     :150), fixture pubdate 2021-02-18, authors [] (config shell)
  *   - forbes: id '69123' from the test URL
  *     (test_mod_en_in_forbes.py:191-193), fixture pubdate 2021-07-11
  *     ('Jul 11, 2021' behind the time-prefixed datePublished)
  *   - business_std 119011800410: id + pubdate 2019-01-18
  *     (test_mod_en_in_business_std.py:129-133), author
  *     'Press Trust of India' (author meta, unsplit)
  *   - inexp_business 2238510 fixture: pubdate 2020-12-20 (both its
  *     datePublished/dateModified extra AND the '20th  December 2020'
  *     double-space form), id '2258178' from the test URL
  *     (test_mod_en_in_inexp_business.py:120-122); authors [] — the
  *     reference's extractAuthors control flow is dead (:129-152)
  */
class PluginFixtureSpec extends SparkTestBase {

  /** (source, fixture, test URL, expected id, expected pubdate,
    * expected authors joined with '|')
    */
  private val pins = Seq(
    ("hindu", "mod_en_in_hindu_30713792.html.bz2",
      "https://www.thehindu.com/business/budget/16-point-action-plan-for-agriculture-evokes-mixed-response/article30713792.ece",
      "30713792", "2020-02-01", "Special Correspondent"),
    ("moneycontrol", "mod_en_in_moneycontrol_6541471.html.bz2",
      "https://www.moneycontrol.com/news/business/ipo/zomato-ipo-improving-economics-growth-plans-and-strong-investor-appetite-7173681.html",
      "7173681", "2021-02-18", "Moneycontrol News"),
    ("livemint", "mod_en_in_livemint_11613646112891.html.bz2",
      "https://www.livemint.com/money/personal-finance/term-insurance-policy-premium-likely-to-get-costlier-11613646112891.html",
      "11613646112891", "2021-02-18", ""),
    ("forbes", "mod_en_in_forbes_69073.html.bz2",
      "https://www.forbesindia.com/article/take-one-big-story-of-the-day/dbs-bank-india-gaining-muscle-with-lvb/69123/1",
      "69123", "2021-07-11", ""),
    ("business_std", "mod_en_in_business_std_119011800410.html.bz2",
      "https://www.business-standard.com/article/pti-stories/mukesh-ambani-urges-pm-to-take-steps-against-data-colonisation-119011800410_1.html",
      "119011800410", "2019-01-18", "Press Trust of India"),
    ("inexp_business", "mod_en_in_inexp_business_2238510.html.bz2",
      "https://www.newindianexpress.com/world/2021/feb/01/myanmar-coup-biden-demands-military-cede-power-orders-sanctions-review-2258178.html",
      "2258178", "2020-12-20", ""))

  test("six plugin profiles pin id/pubdate/authors on reference fixtures") {
    import spark.implicits._
    val rows = pins.map { case (src, fix, url, _, _, _) =>
      (src, url, Fixtures.bz2Text(fix))
    }.toDF("source", "url", "html")
    val out = rows.select(col("source"),
        SourceProfiles.bySource(col("source"))(p =>
          SourceProfiles.uniqueId(p, col("url"), col("html"))).as("id"),
        coalesce(
          SourceProfiles.bySource(col("source"))(p =>
            DateExtract.cascade(col("html"),
              lit("2021-12-31").cast("date"), p.dateExtras)),
          DateExtract.publishedDate(col("html"),
            lit("2021-12-31").cast("date"))).cast("string").as("pubdate"),
        concat_ws("|", SourceProfiles.bySource(col("source"))(p =>
          SourceProfiles.authors(p, col("html")))).as("authors"))
      .as[(String, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    pins.foreach { case (src, _, _, id, date, authors) =>
      val (gotId, gotDate, gotAuthors) = out(src)
      assert(gotId == id, s"$src id: got $gotId, want $id")
      assert(gotDate == date, s"$src pubdate: got $gotDate, want $date")
      assert(gotAuthors == authors,
        s"$src authors: got '$gotAuthors', want '$authors'")
    }
  }

  test("ndtv extractArticleTitle pins the fixture headline " +
      "(h1[itemprop=headline], mod_en_in_ndtv.py:286-299); other sources " +
      "fall back to the <title> tag") {
    import spark.implicits._
    val ndtvHtml = Fixtures.bz2Text("mod_en_in_ndtv_2373245.html.bz2")
    val rows = Seq(("ndtv", ndtvHtml),
      ("livemint", "<html><head><title>Generic Headline</title></head>" +
        "<body><h1 itemprop=\"headline\">not for this source</h1></body></html>"),
      ("ndtv", "<html><head><title>TagTitle</title></head><body>no h1</body></html>"))
      .toDF("source", "html")
    val out = rows.select(col("source"),
        coalesce(SourceCascades.title_by_source(col("html"), col("source")),
          regexp_extract(col("html"), "(?s)<title>(.*?)</title>", 1))
          .as("title"))
      .as[(String, String)].collect().toSeq
    // BeautifulSoup get_text() semantics: surrounding whitespace kept
    assert(out.head._2 ==
      " Dollar Rallies On US Recovery Hopes, Bitcoin Near Record $52,640 ",
      s"ndtv title: got '${out.head._2}'")
    assert(out(1)._2 == "Generic Headline",
      "non-ndtv sources must not dispatch to the headline override")
    assert(out(2)._2 == "TagTitle",
      "ndtv page with no headline block falls back to <title> " +
        "(extractArticleTitle returns '')")
  }

  test("hindu cascade: articlestorycontent OVERRIDES p.body paras when " +
      "present (mod_en_in_hindu.py:175-192)") {
    val both =
      """<html><body><p class="body">Para one text here.</p>
        |<p class="body">Para two follows.</p>
        |<div class="articlestorycontent">The block text wins outright.</div>
        |</body></html>""".stripMargin
    val parasOnly =
      """<html><body><p class="body">Para one text here.</p>
        |<p class="body">Para two follows.</p></body></html>""".stripMargin
    assert(SourceCascades.hindu(both).contains("The block text wins"))
    assert(!SourceCascades.hindu(both).contains("Para one"),
      "paras must be overwritten when the block exists")
    assert(SourceCascades.hindu(parasOnly).contains("Para one text here."))
    // the override fires on block EXISTENCE, not non-empty text: an
    // empty container still wipes the paragraph text (reference runs
    // `articleText = body_root[0].getText()` unconditionally)
    val emptyBlock =
      """<html><body><p class="body">Para one text here.</p>
        |<div class="articlestorycontent"></div></body></html>""".stripMargin
    assert(SourceCascades.hindu(emptyBlock).isEmpty,
      "an existing-but-empty block must still override the paras")
  }

  test("checkAndCleanText: repeated-char collapse, indiakanoon newline " +
      "rule, and per-plugin subStringsToFilter removal") {
    import spark.implicits._
    val rows = Seq(
      ("livemint", "Read  this. Subscribe to Mint Newsletters now."),
      ("business_std",
        "Story body. (Only the headline and picture of this report may " +
          "have been reworked by the Business Standard staff; the rest of " +
          "the content is auto-generated from a syndicated feed.)"),
      ("indiakanoon", "Line one.\n\nLine two."),
      ("ecotimes", "Double  space--and..dots___here."))
      .toDF("source", "body")
    val out = rows.select(col("source"),
        SourceProfiles.bySource(col("source"))(p =>
          SourceProfiles.checkAndClean(p, col("body"))).as("clean"))
      .as[(String, String)].collect().toMap
    // collapse runs FIRST, then the substring replace (reference order):
    // the double space collapses, the banner becomes one space
    assert(out("livemint") == "Read this.   now.")
    assert(out("business_std") == "Story body.  ")
    // \n\n collapses to \n, then indiakanoon's replace('\n', ' ')
    assert(out("indiakanoon") == "Line one. Line two.")
    assert(out("ecotimes") == "Double space-and.dots_here.")
  }

  test("forbes/inexp/hindu/moneycontrol/livemint/business_std cascade " +
      "fixture parity (reference pins: inexp>5000, others==0)") {
    assert(SourceCascades.registry("hindu")(
      Fixtures.bz2Text("mod_en_in_hindu_30713792.html.bz2")).isEmpty)
    assert(SourceCascades.registry("moneycontrol")(
      Fixtures.bz2Text("mod_en_in_moneycontrol_6541471.html.bz2")).isEmpty)
    assert(SourceCascades.registry("livemint")(
      Fixtures.bz2Text("mod_en_in_livemint_11613646112891.html.bz2")).isEmpty)
    assert(SourceCascades.registry("business_std")(
      Fixtures.bz2Text("mod_en_in_business_std_119011800410.html.bz2")).isEmpty)
    assert(SourceCascades.registry("forbes")(
      Fixtures.bz2Text("mod_en_in_forbes_69073.html.bz2")).isEmpty)
    assert(SourceCascades.registry("inexp_business")(
      Fixtures.bz2Text("mod_en_in_inexp_business_2238510.html.bz2")).length > 5000)
  }
}
