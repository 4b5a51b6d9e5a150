package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField}

/** Output sink shapes of the reference's data-processor tail — both are
  * TODO-stubs there, with the intended behavior described in comments;
  * this is the Spark-native realization of that described contract:
  *
  *  - json-to-csv (mod_json_to_csv.py:113-130): one row per article in
  *    a per-pubdate CSV, "check if news event already exists" (→
  *    first-seen dedupe by url, deterministic min-struct pick), all
  *    attributes WITHOUT the text body; array/map/struct attributes are
  *    flattened to strings because CSV holds scalars.
  *  - solr submit (mod_solrsubmit.py:74-103): the indexable field
  *    projection with the text stripped (submitText's only concrete
  *    line strips the body).
  */
object ArticleSinks {

  /** Deduped, text-free CSV projection (column order preserved). */
  def csvRows(articles: DataFrame): DataFrame =
    Survivor.first(articles, Seq("url"), Seq()).drop("text", "html")

  /** CSV-writable frame: non-atomic columns flattened (string arrays →
    * '|'-joined, anything else → JSON).
    */
  def csvWritable(rows: DataFrame): DataFrame =
    rows.schema.fields.foldLeft(rows) { (df, f) =>
      f match {
        case StructField(n, ArrayType(StringType, _), _, _) =>
          df.withColumn(n, concat_ws("|", col(n)))
        case StructField(n, t, _, _)
            if t.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
              t.isInstanceOf[org.apache.spark.sql.types.MapType] ||
              t.isInstanceOf[org.apache.spark.sql.types.StructType] =>
          df.withColumn(n, to_json(col(n)))
        case _ => df
      }
    }

  /** Write the per-pubdate CSV tree (one directory per publish date —
    * the reference's one-CSV-per-date layout). The date cascade can find
    * nothing while textSize keeps the article, so a null pubdate is
    * coalesced to an explicit `undated` sentinel before partitionBy —
    * otherwise those rows land in __HIVE_DEFAULT_PARTITION__ and read
    * back as that literal string, breaking the one-CSV-per-real-date
    * contract.
    */
  def writeCsv(articles: DataFrame, path: String): Unit =
    csvWritable(csvRows(articles))
      .withColumn("pubdate",
        coalesce(col("pubdate").cast("string"), lit("undated")))
      .write.mode("overwrite").option("header", "true")
      .partitionBy("pubdate").csv(path)

  /** SOLR document projection (mod_solrsubmit.py:95-103). */
  def solrDocs(articles: DataFrame): DataFrame =
    articles.select(col("uniqueId").as("id"), col("url"), col("title"),
      trim(col("text")).as("text"), col("pubdate"))
}
