package graft.plans

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Iceberg-style snapshot layer over Parquet (SURVEY.md §7: no Iceberg
  * jar ships in this sandbox, so snapshot semantics — atomic commit,
  * lineage, resume — are provided by an append-only JSON commit log; the
  * API is kept Iceberg-shaped so a real catalog can be swapped in).
  *
  * Layout:
  * {{{
  *   <root>/data/s<snapshotId>/part-*.parquet   -- immutable data dirs
  *   <root>/_commits/<snapshotId padded>.json   -- manifest per commit
  * }}}
  * A commit json lists the data dirs LIVE at that snapshot (append keeps
  * the parent's list; replace starts fresh), plus waveId + counters.
  * Writers: data dirs are written first, then the commit json is moved
  * into place with an atomic rename — a crash before the rename leaves
  * only orphan data dirs that no manifest references (ignored on read),
  * which is exactly the Iceberg resume guarantee the north rule asks for.
  *
  * Replaces the reference's SQLite session store (session_hist.py:112-189)
  * including the single-writer DatabaseWorker (queue_manager.py:172-295):
  * snapshot isolation makes the writer thread unnecessary.
  */
final class SnapshotTable(spark: SparkSession, root: String) {

  private val dataDir = Paths.get(root, "data")
  private val commitDir = Paths.get(root, "_commits")
  Files.createDirectories(dataDir)
  Files.createDirectories(commitDir)

  final case class Commit(snapshotId: Long, parentId: Long, waveId: Long,
                          dirs: Seq[String], counters: Map[String, Long])

  // -- tiny JSON codec (flat schema, driver-side only) --------------------

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def render(c: Commit): String = {
    val dirs = c.dirs.map(d => "\"" + esc(d) + "\"").mkString("[", ",", "]")
    val ctr = c.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + esc(k) + "\":" + v }
      .mkString("{", ",", "}")
    s"""{"snapshotId":${c.snapshotId},"parentId":${c.parentId},""" +
      s""""waveId":${c.waveId},"dirs":$dirs,"counters":$ctr}"""
  }

  private def parse(json: String): Commit = {
    def longField(name: String): Long =
      s""""$name":\\s*(-?\\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
    val dirs = s""""dirs":\\[([^\\]]*)\\]""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty)
      .map(s => s.stripPrefix("\"").stripSuffix("\"")).toSeq
    val counters = s""""counters":\\{([^}]*)\\}""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val Array(k, v) = kv.split(":", 2)
        k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toLong
      }.toMap
    Commit(longField("snapshotId"), longField("parentId"),
      longField("waveId"), dirs, counters)
  }

  // -- log access ----------------------------------------------------------

  /** Committed manifests only: `<digits>.json`. A crash between
    * createTempFile and the atomic rename leaves a `.tmp-*.json` orphan
    * that must never be parsed as a commit (same discipline as
    * [[BloomStore]]); the stream is closed to avoid leaking one fd per
    * wave over a long crawl.
    */
  private def commitFiles(): Seq[Path] =
    if (!Files.isDirectory(commitDir)) Seq()
    else {
      val stream = Files.list(commitDir)
      try stream.iterator().asScala
        .filter(_.getFileName.toString.matches("\\d+\\.json"))
        .toSeq.sortBy(_.getFileName.toString)
      finally stream.close()
    }

  def latest: Option[Commit] =
    commitFiles().lastOption.map(p =>
      parse(Files.readString(p, StandardCharsets.UTF_8)))

  def history: Seq[Commit] =
    commitFiles().map(p => parse(Files.readString(p, StandardCharsets.UTF_8)))

  /** The parquet data of commit `c` read with `schema`, or with the
    * schema merged across its data dirs when `mergeSchema`; an empty
    * `schema` frame when there is no commit or it has no live dirs.
    */
  private def load(c: Option[Commit], schema: StructType,
                   mergeSchema: Boolean = false): DataFrame =
    c.filter(_.dirs.nonEmpty).map(_.dirs.map(d => s"$root/data/$d")) match {
      case Some(paths) =>
        (if (mergeSchema) spark.read.option("mergeSchema", "true")
         else spark.read.schema(schema)).parquet(paths: _*)
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Read the table at the latest snapshot. */
  def read(schema: StructType): DataFrame = load(latest, schema)

  /** Read the table at the latest snapshot with its FULL on-disk schema
    * (merged across data dirs) — for whole-table rewrites that must not
    * drop enrichment columns appended after the base schema (e.g. the
    * dedupe survivors rewrite after postProcessArticles). Falls back to
    * an empty `fallback`-schema frame when no snapshot exists.
    */
  def readFull(fallback: StructType): DataFrame =
    load(latest, fallback, mergeSchema = true)

  /** Read the table as of the LAST commit with waveId <= `wave` (resume
    * path: a crashed wave re-reads its parent snapshots).
    */
  def readAtWave(schema: StructType, wave: Long): DataFrame =
    load(history.filter(_.waveId <= wave).lastOption, schema)

  // -- commits ---------------------------------------------------------------

  private def writeCommit(c: Commit): Commit = {
    val tmp = Files.createTempFile(commitDir, ".tmp-", ".json")
    Files.writeString(tmp, render(c), StandardCharsets.UTF_8)
    val target = commitDir.resolve(f"${c.snapshotId}%012d.json")
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    c
  }

  private def writeData(df: DataFrame, snapshotId: Long): String = {
    val dir = s"s$snapshotId"
    df.write.mode("overwrite").parquet(s"$root/data/$dir")
    dir
  }

  /** Append `df` as a new snapshot (parent's dirs + the new dir).
    * `counters` is evaluated after the data is written, so a caller may
    * pass counters that another job is still computing.
    */
  def commitAppend(df: DataFrame, waveId: Long,
                   counters: => Map[String, Long] = Map()): Commit = {
    val parent = latest
    val sid = parent.map(_.snapshotId).getOrElse(0L) + 1
    val dir = writeData(df, sid)
    writeCommit(Commit(sid, parent.map(_.snapshotId).getOrElse(0L), waveId,
      parent.map(_.dirs).getOrElse(Seq()) :+ dir, counters))
  }

  /** Replace table contents with `df` (frontier rewrite per wave — the
    * reference's pending-table DELETE+INSERT, session_hist.py:149-164).
    * `counters` is evaluated after the data is written, as in
    * [[commitAppend]].
    */
  def commitReplace(df: DataFrame, waveId: Long,
                    counters: => Map[String, Long] = Map()): Commit = {
    val parent = latest
    val sid = parent.map(_.snapshotId).getOrElse(0L) + 1
    val dir = writeData(df, sid)
    writeCommit(Commit(sid, parent.map(_.snapshotId).getOrElse(0L), waveId,
      Seq(dir), counters))
  }
}
