package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HtmlExtract

/** Byte-identical extraction parity against the reference fixture corpus
  * (bz2 HTML pages, see [[Fixtures]]) — the pinned assertions from
  * the reference's own tests are the oracle (SURVEY.md §5):
  *   - ecotimes 73837853: len(extractArticleBody(html)) == 2914
  *     (test_mod_en_in_ecotimes.py:139-144)
  *   - timesofindia: len == 1210 (test_mod_en_in_timesofindia.py:139)
  *   - indiakanoon: len == 12287 (test_mod_en_in_indiakanoon.py:135)
  *   - ndtv: len > 6000 (test_mod_en_in_ndtv.py:135)
  *   - inexp_business: len > 5000 (test_mod_en_in_inexp_business.py:139)
  *   - hindu/livemint/moneycontrol/business_std/forbes/trak: len == 0
  */
class FixtureParitySpec extends AnyFunSuite {

  test("ecotimes 73837853: artText block text is exactly 2914 chars") {
    val html = Fixtures.bz2Text("mod_en_in_ecotimes_73837853.html.bz2")
    // the reference cascade resolves to format5 (div.artText) on this page
    val body = HtmlExtract.blockText(html, "div", "artText")
    assert(body.length == 2914, s"got ${body.length}")
    assert(body.startsWith("Everybody was looking for a caffeine shot"))
  }

  test("ecotimes cascade earlier formats do not match the fixture") {
    val html = Fixtures.bz2Text("mod_en_in_ecotimes_73837853.html.bz2")
    assert(HtmlExtract.blockText(html, "div", "article-body") == "")
    assert(HtmlExtract.blockText(html, "article", "artData clr paywall") == "")
    assert(HtmlExtract.blockText(html, "div", "blog-show") == "")
    // format4's "artData clr " (trailing space) never matches BS4's
    // space-joined class list — asserted so we keep that quirk.
    assert(HtmlExtract.blockText(html, "article", "artData clr ") == "")
  }

  test("timesofindia: p-children walk is exactly 1210 chars") {
    val html = Fixtures.bz2Text("mod_en_in_timesofindia_0xa2097d6c.html.bz2")
    val body = HtmlExtract.paragraphTextUntilTag(
      html, "div", "main-content single-article-content")
    assert(body.length == 1210, s"got ${body.length}")
  }

  test("ndtv: class-list paragraph extraction exceeds 6000 chars") {
    val html = Fixtures.bz2Text("mod_en_in_ndtv_2373245.html.bz2")
    val body = HtmlExtract.textOnlyParagraphs(html,
      Seq("ins_storybody", "content_text row description",
        "fullstoryCtrl_fulldetails")) +
      HtmlExtract.allBlocksTextByAttr(html, "span", "itemprop", "articleBody") +
      HtmlExtract.allBlocksTextByAttr(html, "div", "itemprop", "articleBody")
    assert(body.length > 6000, s"got ${body.length}")
  }

  test("inexp_business: articlestorycontent extraction exceeds 5000 chars") {
    val html = Fixtures.bz2Text("mod_en_in_inexp_business_2238510.html.bz2")
    val body = HtmlExtract.allBlocksText(html, "div", "articlestorycontent")
    assert(body.length > 5000, s"got ${body.length}")
  }

  test("indiakanoon 49865912: parent walk is exactly 12287 chars") {
    val html = Fixtures.bz2Text("mod_en_in_indiakanoon_49865912.html.bz2")
    val body = graft.extract.SourceCascades.indiakanoon(html)
    assert(body.length == 12287, s"got ${body.length}")
    assert(body.contains("Premium Member"))
  }

  test("per-source cascade registry reproduces each pinned length") {
    import graft.extract.SourceCascades.registry
    assert(registry("ecotimes")(
      Fixtures.bz2Text("mod_en_in_ecotimes_73837853.html.bz2")).length == 2914)
    assert(registry("timesofindia")(
      Fixtures.bz2Text("mod_en_in_timesofindia_0xa2097d6c.html.bz2")).length == 1210)
    assert(registry("indiakanoon")(
      Fixtures.bz2Text("mod_en_in_indiakanoon_49865912.html.bz2")).length == 12287)
    assert(registry("ndtv")(
      Fixtures.bz2Text("mod_en_in_ndtv_2373245.html.bz2")).length > 6000)
    assert(registry("inexp_business")(
      Fixtures.bz2Text("mod_en_in_inexp_business_2238510.html.bz2")).length > 5000)
  }

  test("non-matching fixtures extract empty (reference pins len==0)") {
    val cases = Seq(
      ("mod_en_in_hindu_30713792.html.bz2",
        () => HtmlExtract.allBlocksText(
          Fixtures.bz2Text("mod_en_in_hindu_30713792.html.bz2"), "div",
          "articlestorycontent")),
      ("mod_en_in_forbes_69073.html.bz2",
        () => HtmlExtract.allBlocksText(
          Fixtures.bz2Text("mod_en_in_forbes_69073.html.bz2"), "div",
          "articlestorycontent")))
    cases.foreach { case (name, f) =>
      assert(f().isEmpty, s"$name should extract empty")
    }
  }
}
