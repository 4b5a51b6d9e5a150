package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

import graft.functions.{UrlFunctions => U}

/** Per-source extraction profiles — the reference plugins' regex stacks
  * for unique-ID (P4 url / P5 content), publish-date extras (P6),
  * authors (P21) and industries (P20), transcribed per plugin:
  *
  *  - ecotimes: urlUniqueRegexps + Last-Modified date extra
  *    (mod_en_in_ecotimes.py:479-493), authorRegexps (:495-501 six
  *    patterns), industries = sub-domain token unless 'economictimes'
  *    (:575-593).
  *  - timesofindia: content-ID `data-articlemsid`
  *    (mod_en_in_timesofindia.py:177-219), JSON-LD Person author
  *    (:250-263, appended whole — no comma split).
  *  - trak: content-ID shortlink (mod_en_in_trak.py:144-184),
  *    article:tag industries (:186-203), post-author-name author (:127).
  *  - indiakanoon: doc-URL id regexes + the 9 ordered date extras with
  *    `%dth/%dst/%dnd`-style strptime oddities
  *    (mod_en_in_indiakanoon.py:139-164), docsource_main author
  *    (:198-211).
  *
  * Plugins with an `extractUniqueIDFromContent` use it INSTEAD of the
  * URL stack, falling back to CRC32 (base_plugin.py:1354-1377); all
  * others try the per-plugin url regexes, then the base stack, then
  * CRC32. Per-plugin date regexes are tried BEFORE the base stack
  * (each plugin's `articleDateRegexps.update(super()...)` puts its own
  * entries first in insertion order).
  */
object SourceProfiles {

  final case class Profile(
      urlIdRegexes: Seq[String] = Seq(),
      contentIdPattern: Option[String] = None,
      dateExtras: Seq[(String, String)] = Seq(),
      authorRegexes: Seq[String] = Seq(),
      splitAuthors: Boolean = true,
      industryTagPattern: Option[String] = None,
      industryFromSubdomain: Boolean = false,
      /** inexp_business prepends the BASE stack before its own regexes
        * (`super().urlUniqueRegexps + self.urlUniqueRegexps`,
        * mod_en_in_inexp_business.py:114) — every other plugin appends.
        */
      baseIdFirst: Boolean = false,
      /** Single-search industry pattern (group 2 → one-element list):
        * hindu's keywords meta (mod_en_in_hindu.py:146-151),
        * moneycontrol's market_element div
        * (mod_en_in_moneycontrol.py:392-395).
        */
      industryMetaPattern: Option[String] = None,
      /** forbes extractAuthors: two chained cutStrBetweenTags calls
        * ((start1, end1), (start2, end2)) — mod_en_in_forbes.py:149-162.
        */
      authorCutBetween: Option[((String, String), (String, String))] = None,
      /** checkAndCleanText invalid markers: any of these present (or the
        * text too short) re-runs extractArticleBody on the raw page —
        * here an identity, since the input already IS the cascade output
        * (the reference's primary path is the newspaper library).
        */
      invalidTextStrings: Seq[String] = Seq(),
      /** checkAndCleanText post-collapse substring removal (→ " "). */
      subStringsToFilter: Seq[String] = Seq(),
      /** indiakanoon's extra `replace('\n', ' ')` between the collapse
        * and the substring removal (mod_en_in_indiakanoon.py:268).
        */
      newlineToSpace: Boolean = false,
      /** F7/F8 minimum length (raw html at fetch, extracted text at
        * save): base default 400 (base_plugin.py:108); hindu 200,
        * ndtv/inexp 250, nse/bse 10000 (per-plugin overrides).
        */
      minArticleLengthInChars: Int = 400)

  /** mod_en_in_ecotimes.py:479-501. */
  val ecotimes: Profile = Profile(
    urlIdRegexes = Seq(
      "(http.+\\/economictimes\\.indiatimes\\.com)(.*\\/)([0-9]+)(\\.cms)",
      "(\\.economictimes\\.indiatimes\\.com\\/)(.+\\/)([0-9]+)",
      "(http.+\\/\\/)(.+economictimes\\.indiatimes\\.com\\/.+\\/)([0-9]{5,})"),
    dateExtras = Seq(
      // %b %d, %Y  %H:%M:%S (multi-space tolerant — publishedDate
      // normalizes runs of spaces in the captured value)
      ("(<meta http-equiv=\"Last-Modified\" content=\"[a-zA-Z]{3,}, )" +
        "([a-zA-Z]{3}[ ]+[0-9]{1,2},[ ]+20[0-9]{2}[ ]+[0-9]{1,2}:[0-9]{2}:[0-9]{2})" +
        "( [AMPamp]{2}\"\\/>)",
        "MMM d, yyyy H:mm:ss")),
    authorRegexes = Seq(
      "(agency:')([a-zA-Z0-9]+)(')",
      "(channel :  ')([a-zA-Z0-9]+)(',)",
      "(agename = ')([a-zA-Z0-9]+)(';)",
      "(<div class = \"ag tac\">)([a-zA-Z0-9]+)(<\\/div>)",
      "(\"publisher\":\\{\"@type\":\"Organization\",\"name\":\")([a-zA-Z0-9]+)(\")",
      "(\\.economictimes\\.indiatimes\\.com\\/agency\\/.+\" target = \"_blank\">)([a-zA-Z0-9]+)(<\\/a>)"),
    industryFromSubdomain = true)

  /** mod_en_in_timesofindia.py:177-219, 250-263. */
  val timesofindia: Profile = Profile(
    contentIdPattern = Some("(data\\-articlemsid=\")([0-9]{3,})(\")"),
    authorRegexes = Seq(
      "(\"author\":\\{\"@type\":\"Person\",\"name\":\")([a-zA-Z0-9 ]+)(\"\\})"),
    splitAuthors = false)

  /** mod_en_in_trak.py:127, 144-203. */
  val trak: Profile = Profile(
    contentIdPattern =
      Some("(<link rel='shortlink' href='https://trak.in/\\?p=)([0-9]{4,})(' />)"),
    authorRegexes = Seq(
      "(<span class=\\\"post-author-name\\\">By <b>)([a-zA-Z0-9 _\\-\\.]{3,})(<\\/b><\\/span>)"),
    industryTagPattern =
      Some("(<meta property=\"article:tag\" content=\")([a-zA-Z0-9 \\-_\\.]{2,})(\" \\/>)"))

  private val monthClass =
    "[January|February|March|April|May|June|July|August|September|October|November|December]{3,}"

  /** mod_en_in_indiakanoon.py:139-164, 198-211. The month "alternation"
    * is the reference's own character-class quirk, transcribed verbatim.
    */
  val indiakanoon: Profile = Profile(
    urlIdRegexes = Seq(
      "(https:\\/\\/)(indiankanoon.org\\/doc\\/)([0-9]{5,})(\\/)",
      "(https:\\/\\/)(indiankanoon.org\\/.+)([0-9]{5,})(\\.html)"),
    dateExtras = Seq(
      (s"(<TITLE>.* )([0-9]{1,2} $monthClass, [2|1][0|1][0-9]{2})",
        "d MMMM, yyyy"),
      (s"(.)([0-9]{1,2}th $monthClass [2|1][0|1][0-9]{2})",
        "d'th' MMMM yyyy"),
      (s"(.)([0-9]{1,2}st $monthClass [2|1][0|1][0-9]{2})",
        "d'st' MMMM yyyy"),
      (s"(.)([0-9]{1,2}nd $monthClass [2|1][0|1][0-9]{2})",
        "d'nd' MMMM yyyy"),
      // the reference's regex captures "5th, January 2021" but its
      // strptime format is '%dth %B, %Y' — the pair can never parse, so
      // this entry always falls through there too; transcribed verbatim
      (s"(.)([0-9]{1,2}th, $monthClass [2|1][0|1][0-9]{2})",
        "d'th' MMMM, yyyy"),
      (s"(.)([0-9]{1,2}th DAY OF $monthClass, [2|1][0|1][0-9]{2})",
        "d'th DAY OF' MMMM, yyyy"),
      ("(on )([0-9]+ [a-zA-Z]{3}, [0-9]{4})(<\\/TITLE>)", "d MMM, yyyy"),
      ("(on )([0-9]+ [a-zA-Z]{3,}, [0-9]{4})(<\\/TITLE>)", "d MMMM, yyyy"),
      ("(Date: )([0-9]{2}\\/[0-9]{2}\\/20[0-9]{2})", "dd/MM/yyyy")),
    authorRegexes = Seq(
      "(<div class=\"docsource_main\">)([a-zA-Z0-9 \\-]{4,})(</div>)"),
    // the premium-banner filter string carries HTML MARKUP while the
    // cascade output is tag-stripped text, so the replace can never fire
    // — same dead path as the reference (its newspaper text and its
    // getText re-extraction are both tag-free); transcribed verbatim
    subStringsToFilter = Seq(
      "<p>Try out our <b>Premium Member</b> services: " +
        "<b>Virtual Legal Assistant</b>, <b>Query Alert Service</b> and " +
        "an ad-free experience. <a href=\"/members/\">Free for one month" +
        "</a> and pay only if you like it.</p>"),
    newlineToSpace = true)

  /** mod_en_in_ndtv.py:201-218: url-ID stack + 3 date extras (the
    * space-padded ISO content meta, Updated-IST with full month name,
    * and a date-only datePublished); no author/industry regexes.
    */
  val ndtv: Profile = Profile(
    urlIdRegexes = Seq(
      "(^http.+\\/\\/)(www.ndtv.com\\/.+\\-)([0-9]{5,})",
      "(^http.+\\/\\/)(www.ndtv.com\\/.+\\-)([0-9]{5,})(\\?)"),
    dateExtras = Seq(
      ("(content = \")(20[0-9]{2}\\-[0-9]{2}\\-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2})(\\+05:30\")",
        "yyyy-MM-dd'T'HH:mm:ss"),
      ("(Updated: )([a-zA-Z]+ [0-9]{1,2}, 20[0-9]{2} [0-9]{1,2}:[0-9]{2})( [a-zA-Z]{2} IST)",
        "MMMM d, yyyy H:mm"),
      ("(\"datePublished\":\")([0-9]{4}-[0-9]{2}-[0-9]{2})(T[0-9]{2}:[0-9]{2}:[0-9]{2}\\+05:30\")",
        "yyyy-MM-dd")),
    minArticleLengthInChars = 250)

  /** mod_en_in_hindu.py:95-125 — 4 url-ID regexes, 2 date extras
    * (publish-date ISO meta, the literal `<none>\n`-prefixed IST form),
    * 4 author regexes (comma-split like the base), keywords-meta
    * industry (:146-151).
    */
  val hindu: Profile = Profile(
    urlIdRegexes = Seq(
      "(https\\:\\/\\/)(www.thehindu.com\\/business\\/.*\\-)([0-9]+)(\\.ece$)",
      "(https\\:\\/\\/www.thehindu.com\\/business\\/.*)(\\-)([0-9]+)(/$)",
      "(https\\:\\/\\/www.thehindu.com\\/business\\/.*)(article)([0-9]+)(\\.ece)",
      "(https:\\/\\/)(www.thehindu.com\\/news\\/.+\\/article)([0-9]{3,})(\\.ece)"),
    dateExtras = Seq(
      ("(<meta name=\"publish-date\" content=\")" +
        "(20[0-9]{2}\\-[0-9]{2}\\-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2})(\\+05:30\")",
        "yyyy-MM-dd'T'HH:mm:ss"),
      // January 22, 2015 15:30 IST (behind a literal "<none>\n" prefix)
      ("(<none>\n)([a-zA-Z]{3,} [0-9]{1,2}, 20[0-9]{2} [0-9]{1,2}:[0-9]{2})( IST)",
        "MMMM d, yyyy H:mm")),
    authorRegexes = Seq(
      "(tp.push\\(\\[\"setContentAuthor\", \")([a-zA-Z.\\- ]{3,})(\"\\]\\))",
      "(<meta property=\"article:author\" content=\")([a-zA-Z_\\-. ]{3,})(\" \\/>)",
      "('Author':')([a-zA-Z_\\-. ]{3,})(',)",
      "('authorName' : ')([a-zA-Z.\\- ]{3,})(')"),
    industryMetaPattern =
      Some("(<meta name=\"keywords\" content=\")([a-zA-Z_\\-. ]{3,})(\" />)"),
    minArticleLengthInChars = 200)

  /** mod_en_in_moneycontrol.py:354-365, 383-413 — 2 url-ID regexes, the
    * to_timestamp hidden-input date extra, whole-string author append
    * (no comma split), market_element industry.
    */
  val moneycontrol: Profile = Profile(
    urlIdRegexes = Seq(
      "(^https\\:\\/\\/www.moneycontrol.com\\/.+)(_)([0-9]{6,})(\\.html$)",
      "(https\\:\\/\\/www.moneycontrol.com\\/.+)(_)([0-9]{6,})(\\.html)"),
    dateExtras = Seq(
      ("(<input type=\"hidden\" id=\"to_timestamp\" value=\")" +
        "(20[0-9]{2}[0-9]{2}[0-9]{2}[0-9]{2}[0-9]{2}[0-9]{2})(\">)",
        "yyyyMMddHHmmss")),
    authorRegexes = Seq("(\"author\": \")([a-zA-Z0-9 \\-\\._]{3,})(\")"),
    splitAuthors = false,
    industryMetaPattern =
      Some("(<div class=\"market_element\">)([A-Za-z0-9\\-_\\. ]{3,})(<\\/div>)"))

  /** mod_en_in_livemint.py:208-260 — one url-ID regex; everything else
    * (dates, authors, industries, body) is deliberately empty in the
    * reference (extractArticleBody returns "", :254-258) — config shell.
    */
  val livemint: Profile = Profile(
    urlIdRegexes =
      Seq("(https:\\/\\/)(www\\.livemint\\.com\\/.+\\-)([0-9]{5,})(\\.html)"),
    subStringsToFilter = Seq(
      "Subscribe to Mint Newsletters",
      "Enter a valid email",
      "Thank you for subscribing to our newsletter."))

  /** mod_en_in_forbes.py:108-120, 149-162 — 3 url-ID regexes, the
    * time-prefixed datePublished extra, cutStrBetweenTags author chain;
    * extractIndustries discards its find result (:138-147) → always [].
    */
  val forbes: Profile = Profile(
    urlIdRegexes = Seq(
      "(https\\:\\/\\/www\\.forbesindia\\.com\\/.+)(\\/)([0-9]{4,})(/[0-9]+)",
      "(https\\:\\/\\/www\\.forbesindia\\.com\\/.+)(\\/)([0-9]{4,})",
      "(https\\:\\/\\/www\\.forbesindia\\.com/article/.*)(\\-)([0-9]+)(\\.html)"),
    dateExtras = Seq(
      // "datePublished": "05:52:14 PM IST Jul 11, 2021"
      ("(\"datePublished\": \"[0-9]{1,2}:[0-9]{2}:[0-9]{2} [AMP]{2} IST )" +
        "([a-zA-Z]{3} [0-9]{1,2}, [0-9]{4})(\")",
        "MMM d, yyyy")),
    authorCutBetween = Some(
      (("<span class = \"author_des\">By", "</span></span>"),
        ("target = \"_blank\">", "</a>"))))

  /** mod_en_in_business_std.py:127-156, 172-183 — 3 url-ID regexes, 3
    * date extras, author from the author meta (whole string, no split).
    */
  val business_std: Profile = Profile(
    urlIdRegexes = Seq(
      "(^http.+\\/\\/)(www.business\\-standard.com\\/.+\\-)([0-9]{5,})",
      "(^http.+\\/\\/)(www.business\\-standard.com\\/article.+\\-)([0-9]{5,})(_1.html)",
      "(^http.+\\/\\/)(www.business\\-standard.com\\/article.+article_id=)([0-9]{5,})(_*[0-9]*)"),
    dateExtras = Seq(
      ("(\"datePublished\": \")" +
        "(20[0-9]{2}\\-[0-9]{2}\\-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2})(\\+05:30\")",
        "yyyy-MM-dd'T'HH:mm:ss"),
      ("(content = \")([a-zA-Z]{3}, [0-9]{1,2} [a-zA-Z]{3} 20[0-9]{2} " +
        "[0-9]{1,2}:[0-9]{2}:[0-9]{2} \\+0530)(\">)",
        "EEE, d MMM yyyy H:mm:ss Z"),
      ("(<strong>)([a-zA-Z]{3} [0-9]{1,2}, 20[0-9]{2})(<\\/strong>)",
        "MMM d, yyyy")),
    authorRegexes =
      Seq("(<meta name=\"author\" content=\")([a-zA-Z0-9 _\\-]+)(\">)"),
    splitAuthors = false,
    invalidTextStrings = Seq(
      "Support quality journalism and subscribe to Business Standard",
      "Business Standard has always strived hard to provide up-to-date information"),
    subStringsToFilter = Seq(
      "(Only the headline and picture of this report may have been reworked" +
        " by the Business Standard staff;" +
        " the rest of the content is auto-generated from a syndicated feed.)"))

  /** mod_en_in_inexp_business.py:83-102 — 4 url-ID regexes appended
    * AFTER the base stack (:114, unique among the plugins), 2 date
    * extras (the `%dth  %B` double-space form relies on strptime's
    * whitespace-run tolerance — publishedDate's space normalization is
    * the Java equivalent). authorRegexps exist but extractAuthors
    * (:129-152) `break`s before `authors = authorStr.split(',')` on a
    * match and calls len(None) on a miss — authors are ALWAYS [] there;
    * kept dead here too.
    */
  val inexp_business: Profile = Profile(
    urlIdRegexes = Seq(
      "(^https.*)(\\-)([0-9]+)(\\.html$)",
      "(^https\\://indianexpress.com/article/.*)(\\-)([0-9]+)(/$)",
      "(^https\\://indianexpress.com/article/.*)(\\-)([0-9]+)(\\.html$)",
      "(^https\\:\\/\\/indianexpress.com\\/.*)(\\-)([0-9]{4,})(\\/)"),
    baseIdFirst = true,
    dateExtras = Seq(
      ("(\"datePublished\":\")" +
        "(20[0-9]{2}\\-[0-9]{2}\\-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2})" +
        "(\\+05:30\",\"dateModified\")",
        "yyyy-MM-dd'T'HH:mm:ss"),
      ("(Published: <span>)([0-9]{1,}th[ ]+[A-Za-z]{3,} 20[0-9]{2} " +
        "[0-9]{2}:[0-9]{2})( .M<\\/span>)",
        "d'th' MMMM yyyy H:mm")),
    minArticleLengthInChars = 250)

  /** Generic profile (synthetic sources): base url stack + the JSON-LD
    * Person author pattern with comma split (the newspaper-lib analog).
    */
  val default: Profile = Profile(
    authorRegexes = Seq(
      "(\"author\":\\{\"@type\":\"Person\",\"name\":\")([a-zA-Z0-9 ,]+)(\"\\})"))

  val registry: Map[String, Profile] = Map(
    "ecotimes" -> ecotimes,
    "timesofindia" -> timesofindia,
    "trak" -> trak,
    "indiakanoon" -> indiakanoon,
    "ndtv" -> ndtv,
    "hindu" -> hindu,
    "moneycontrol" -> moneycontrol,
    "livemint" -> livemint,
    "forbes" -> forbes,
    "business_std" -> business_std,
    "inexp_business" -> inexp_business
  ).withDefaultValue(default)

  /** Sources with non-default profiles (drives the per-row dispatch). */
  val knownSources: Seq[String] =
    Seq("ecotimes", "timesofindia", "trak", "indiakanoon", "ndtv",
      "hindu", "moneycontrol", "livemint", "forbes", "business_std",
      "inexp_business")

  // ---- per-profile column builders ----------------------------------------

  /** P4/P5 unique id. Content plugins (P5) use the content pattern with
    * CRC32 fallback (base_plugin.py:1354-1377); others run the url
    * cascade (per-plugin regexes first, then base, then CRC32).
    */
  def uniqueId(p: Profile, url: Column, html: Column): Column =
    p.contentIdPattern match {
      case Some(pat) =>
        coalesce(nullif(regexp_extract(html, pat, 2), lit("")),
          U.crc32Hex(url))
      case None =>
        U.uniqueId(url,
          if (p.baseIdFirst) U.defaultIdRegexes ++ p.urlIdRegexes
          else p.urlIdRegexes ++ U.defaultIdRegexes)
    }

  /** P21 authors: first matching regex's group(2); comma-split where the
    * plugin does (empty array when nothing matches).
    */
  def authors(p: Profile, html: Column): Column = p.authorCutBetween match {
    case Some(((s1, e1), (s2, e2))) =>
      // forbes: two chained cutStrBetweenTags; empty result → []
      val cut = graft.functions.TextClean.cutBetween(
        graft.functions.TextClean.cutBetween(html, s1, e1), s2, e2)
      when(length(cut) > 0, array(cut)).otherwise(array().cast("array<string>"))
    case None =>
    if (p.authorRegexes.isEmpty) array().cast("array<string>")
    else {
      val first = coalesce(
        p.authorRegexes.map(r => nullif(regexp_extract(html, r, 2), lit(""))): _*)
      val arr =
        if (p.splitAuthors) split(first, ",")
        else array(first)
      when(first.isNotNull, filter(arr, a => length(a) > 0))
        .otherwise(array().cast("array<string>"))
    }
  }

  /** P20 industries: sub-domain token (ecotimes) or tag findall (trak);
    * empty otherwise.
    */
  def industries(p: Profile, url: Column, html: Column): Column =
    if (p.industryFromSubdomain) {
      val token = element_at(split(U.host(url), "\\."), 1)
      when(token.isNotNull && token =!= "economictimes", array(token))
        .otherwise(array().cast("array<string>"))
    } else p.industryMetaPattern match {
      case Some(pat) =>
        // single re.search → at most one entry (hindu keywords meta,
        // moneycontrol market_element)
        val m = nullif(regexp_extract(html, pat, 2), lit(""))
        when(m.isNotNull, array(m)).otherwise(array().cast("array<string>"))
      case None => p.industryTagPattern
        .map(pat => regexp_extract_all(html, lit(pat), lit(2)))
        .getOrElse(array().cast("array<string>"))
    }

  /** Per-plugin checkAndCleanText (every plugin overrides with the same
    * shape, e.g. mod_en_in_ecotimes.py:764-785): (1) invalid-marker /
    * min-length re-extraction — an IDENTITY here because the input
    * already is the cascade output the reference would re-extract;
    * (2) filterRepeatedchars over the fixed char list; (3) indiakanoon's
    * newline→space (:268); (4) subStringsToFilter removal (→ " ").
    * Runs BETWEEN the body cascade and the P7 cleanText chain, exactly
    * where the reference applies it (base_plugin.py:1321 before
    * NewsEvent.setText's cleanText).
    */
  def checkAndClean(p: Profile, text: Column): Column = {
    import graft.functions.TextClean
    val collapsed =
      TextClean.collapseRepeats(text, TextClean.defaultRepeatChars)
    val nl =
      if (p.newlineToSpace)
        call_function("replace", collapsed, lit("\n"), lit(" "))
      else collapsed
    p.subStringsToFilter.foldLeft(nl)((c, s) =>
      call_function("replace", c, lit(s), lit(" ")))
  }

  /** P18 keyword merge (news_event.py:360-385, :206-218): newspaper-NLP
    * keywords (stand-in: [[graft.functions.TopTerms]] over the extracted
    * text — importNewspaperArticleData prepends `newspaperArticle
    * .keywords` BEFORE the two metas, news_event.py:379-384), then the
    * `keywords` + `news_keywords` metas comma-split. setKeyWords then
    * runs the FULL NewsEvent.cleanText on every keyword (guarded by the
    * reference's `len > 1` gate, news_event.py:270) and first-seen
    * dedupes AFTER cleaning (two raw keywords can collapse to one
    * cleaned form — order matters, news_event.py:206-218). A meta
    * contributes only when PRESENT (the reference checks membership in
    * `meta_data`); a present-but-empty meta contributes [''], which
    * survives — the reference never drops empty keywords.
    */
  def keywords(html: Column, nlpText: Option[Column] = None): Column = {
    def metaArr(name: String) = {
      val pat = s"<meta name=\"$name\" content=\"([^\"]*)\""
      when(regexp_like(html, lit(pat)), split(regexp_extract(html, pat, 1), ","))
        .otherwise(array().cast("array<string>"))
    }
    val nlpPart = nlpText
      .map(t => graft.functions.TopTerms.top_terms(t, 10))
      .getOrElse(array().cast("array<string>"))
    val merged = concat(nlpPart, metaArr("keywords"), metaArr("news_keywords"))
    val cleaned = transform(merged, k =>
      when(length(k) > 1, graft.functions.TextClean.cleanText(k)).otherwise(k))
    array_distinct(cleaned)
  }

  /** Per-row source-dispatched column: `f(profile)` per known source,
    * default otherwise — the Spark analog of the reference's per-plugin
    * virtual call: a 12-branch CASE tree behind one [[InterpretedEval]]
    * node, so Catalyst's interpreted walker evaluates it row by row.
    * Compiled, the crawl wave's dispatch trees of regex cascades made a
    * 1.26 MB projection class that every wave compiled again, inside one
    * task while the other cores waited. The batch assembly queries that
    * share it (q_article_assembly_full/_six at sf0.1, 4-core host) ran no
    * slower interpreted: medians of five best-of-5 runs 0.44 → 0.41 s and
    * 0.42 → 0.39 s.
    */
  def bySource(source: Column)(f: Profile => Column): Column =
    ColumnBridge.column(InterpretedEval(ColumnBridge.expression(
      knownSources.foldRight(f(default)) { (name, acc) =>
        when(source === name, f(registry(name))).otherwise(acc)
      })))
}

/** Evaluates `child` with Catalyst's interpreted walker: the generated
  * code of the enclosing projection only calls `eval` on this node, so
  * the subtree adds nothing to the compiled class.
  */
case class InterpretedEval(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "interpreted"
}
