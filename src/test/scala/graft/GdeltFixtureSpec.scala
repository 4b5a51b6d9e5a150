package graft

import org.apache.spark.sql.functions._

/** S8 GDELT scan pinned against the reference's own fixture + test
  * assertions (test_mod_in_gdelt.py):
  *  - the export-archive URL for a run date is TWO days back, across
  *    leap and year boundaries (:85-106);
  *  - parsing the real 20210203 archive (a tab-separated 58+-column
  *    events file) and filtering column 51 == 'IN' yields exactly 215
  *    distinct URLs from column 57, including the pinned TOI story
  *    (:126-140). The engine side is the plain Spark CSV reader — the
  *    distributed analog of the reference's pandas read_csv.
  */
class GdeltFixtureSpec extends SparkTestBase {
  import spark.implicits._

  test("gdelt export URL is two days back (leap + year boundaries; " +
      "test_mod_in_gdelt.py:85-106)") {
    val cases = Seq(
      ("2021-03-02", "http://data.gdeltproject.org/events/20210228.export.CSV.zip"),
      ("2020-03-02", "http://data.gdeltproject.org/events/20200229.export.CSV.zip"),
      ("2020-01-02", "http://data.gdeltproject.org/events/20191231.export.CSV.zip"))
    val got = cases.map(_._1).toDF("d")
      .select(concat(lit("http://data.gdeltproject.org/events/"),
        date_format(date_sub(col("d").cast("date"), 2), "yyyyMMdd"),
        lit(".export.CSV.zip")).as("url"))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("parsing the real GDELT archive yields the pinned 215 India URLs " +
      "(test_mod_in_gdelt.py:126-140)") {
    // extract the zip's single .txt member to a temp dir
    val zf = new java.util.zip.ZipFile(
      Fixtures.file("mod_in_gdelt_20210203.zip"))
    val entry = {
      val es = zf.entries()
      var found: java.util.zip.ZipEntry = null
      while (es.hasMoreElements) {
        val e = es.nextElement()
        if (!e.isDirectory) found = e
      }
      found
    }
    val out = java.nio.file.Paths.get(tempDir("gdelt"), "gdelt.txt")
    val in = zf.getInputStream(entry)
    try java.nio.file.Files.copy(in, out) finally { in.close(); zf.close() }

    val df = spark.read.option("sep", "\t").csv(out.toString)
    // column 51 is the action-geo country code, column 57 the source URL
    val urls = df.filter(col("_c51") === "IN")
      .select(trim(col("_c57")).as("url"))
      .distinct()
    assert(urls.count() == 215, s"got ${urls.count()}")
    val pinned = "https://timesofindia.indiatimes.com/city/surat/" +
      "textile-traders-claim-rs-2000-cr-loss-in-75-days/articleshow/" +
      "80655048.cms"
    assert(urls.filter(col("url") === pinned).count() == 1)
  }
}
