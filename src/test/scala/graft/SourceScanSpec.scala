package graft

import java.io.{BufferedInputStream, FileInputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.ZipInputStream

import org.apache.spark.sql.functions._

/** Source-scan parity against the reference fixtures: the GDELT
  * aggregator (S8: url prep pinned by test_mod_in_gdelt.py:86-106, zip
  * TSV country-filter-project-dedupe), and the RSS item scan (S1) over
  * the nine real feed fixtures.
  */
class SourceScanSpec extends SparkTestBase {
  import spark.implicits._

  test("S8 gdelt url preparation: date-2 with yyyyMMdd (pinned)") {
    // reference pins (test_mod_in_gdelt.py): run date → url date
    val cases = Seq(
      "2021-03-02" -> "20210228",
      "2020-03-02" -> "20200229", // leap-year boundary
      "2020-01-02" -> "20191231")
    val df = cases.map(_._1).toDF("run_date").select(
      concat(lit("http://data.gdeltproject.org/events/"),
        date_format(date_sub(col("run_date").cast("date"), 2), "yyyyMMdd"),
        lit(".export.CSV.zip")).as("url"))
    val got = df.as[String].collect().toSeq
    val expected = cases.map(c =>
      s"http://data.gdeltproject.org/events/${c._2}.export.CSV.zip")
    assert(got == expected)
  }

  test("S8 gdelt zip scan: filter col51=='IN', project col57, dedupe") {
    // unzip the fixture TSV to a temp dir (the reference unzips then
    // reads; Spark reads the extracted TSV)
    val zin = new ZipInputStream(new BufferedInputStream(
      new FileInputStream(Fixtures.file("mod_in_gdelt_20210203.zip"))))
    val entry = zin.getNextEntry
    assert(entry != null)
    val tmp = Files.createTempDirectory("gdelt")
    val tsv = tmp.resolve("events.tsv")
    Files.write(tsv, zin.readAllBytes()); zin.close()

    val raw = spark.read.option("sep", "\t").csv(tsv.toString)
    val urls = raw.filter(col("_c51") === "IN")
      .select(col("_c57").as("url")).distinct()
    val n = urls.count()
    assert(n > 0, "expected Indian-event urls in the fixture")
    // cross-check against direct line parsing
    val expected = Files.readAllLines(tsv, StandardCharsets.UTF_8)
      .toArray.map(_.toString.split("\t", -1))
      .filter(r => r.length > 57 && r(51) == "IN").map(_(57)).distinct.length
    assert(n == expected)
  }

  test("S1 rss item-link scan over the nine reference feed fixtures") {
    val feeds = Fixtures.filesEndingWith("_rss.xml")
    assert(feeds.length >= 9)
    feeds.foreach { f =>
      val xml = Files.readString(f.toPath, StandardCharsets.UTF_8)
      val itemCount = "<item>".r.findAllIn(xml).length
      val links = Seq(xml).toDF("xml")
        .select(explode(
          graft.functions.UrlFunctions.rssLinks(col("xml"))).as("l"))
        .as[String].collect()
      assert(links.length == itemCount,
        s"${f.getName}: ${links.length} links != $itemCount items")
      assert(links.forall(_.startsWith("http")), f.getName)
    }
  }

  test("P13 article JSON round-trip on the reference record") {
    val json = Files.readString(
      Fixtures.file("test_readFromJSON.json").toPath, StandardCharsets.UTF_8)
    val df = spark.read.json(Seq(json).toDS())
    val row = df.select("pubdate", "uniqueID", "module").collect().head
    assert(row.getString(0) == "2019-12-23")
    assert(row.getString(1).nonEmpty)
    // rebuild the JSON with to_json(struct(...)) and re-parse: stable
    val rt = df.select(to_json(struct(df.columns.map(col): _*)).as("j"))
    val reparsed = spark.read.json(rt.as[String])
    assert(reparsed.select("pubdate").as[String].head() == "2019-12-23")
  }
}
