package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine's one deterministic survivor rule: which row stands for a
  * key when several share it (P14 first-seen dedupe, scraper_utils.py
  * :234-245; the sink's "news event already exists" check; the dedupe
  * victim's kept twin).
  */
object Survivor {

  /** One row per `keys` value: the row with the least `order` tuple,
    * ties broken on the remaining columns in frame order, so the pick
    * is total and reproduces at any parallelism. Column order is kept.
    *
    * Runs as `groupBy(keys).agg(min(struct(order ++ rest)))`: the
    * struct compares lexicographically, so its minimum IS the first
    * row. Spark plans a min over a struct buffer as a partial/final
    * `SortAggregate(min(struct(…)))`: each partition sorts its own rows
    * by key and combines them map-side, so one row per key and
    * partition crosses the shuffle — a per-partition sort, no global
    * one, and no window buffering a whole key group.
    */
  def first(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    val rest = df.columns.toSeq.filterNot(c => keys.contains(c) || order.contains(c))
    df.groupBy(keys.map(col): _*)
      .agg(min(struct((order ++ rest).map(col): _*)).as("_first"))
      .select(df.columns.toSeq.map(c =>
        if (keys.contains(c)) col(c) else col("_first").getField(c).as(c)): _*)
  }
}
