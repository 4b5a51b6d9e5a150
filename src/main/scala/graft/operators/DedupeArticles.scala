package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's dedupe post-processor J4 (mod_dedupe.py:95-257) as an
  * engine table operation: candidate pairs must share `pubdate` and
  * differ in `module` with text sizes within 15% (the CHEAP predicates,
  * applied first exactly like the reference's pair loop,
  * mod_dedupe.py:218-237); the expensive confirmation is a deterministic
  * token-count-vector cosine ≥ threshold (stand-in for the reference's
  * spaCy similarity, mod_dedupe.py:244-257, which it ships disabled by
  * default). Docs at or below `minTextSize` are excluded from comparison
  * entirely — the reference's computeTextEmbeddingDoc returns None below
  * minAcceptableTextLength (mod_dedupe.py:239-243), so tiny docs are
  * never candidates. The SMALLER text is the victim (the reference keeps
  * the larger, mod_dedupe.py:231-237); ties break to the larger uniqueId
  * so the decision is total.
  *
  * Scale shape: candidates come from a (pubdate, sizeBucket) equi-join —
  * buckets are geometric with ratio 1/0.85, so the ≤15%-size-gap
  * predicate can only pair docs in the same or adjacent buckets; one
  * side emits its bucket ±1 and the join stays an equi-join. A day's
  * pair space is then Σ_bucket |bucket|² instead of |day|² — bounded
  * candidate generation, never a per-day cross join. The cosine runs
  * only on surviving candidate pairs via a shared-token equi-join.
  */
object DedupeArticles {

  /** Geometric size bucket: floor(ln size / ln(1/0.85)). Two sizes
    * within the 15%-of-max gap differ by at most one bucket. Guarded
    * with greatest(size, 1) so non-positive sizes can't null the log and
    * silently drop the row from the candidate join — the helper must be
    * safe independent of the caller's minTextSize filter.
    */
  private def sizeBucket(size: org.apache.spark.sql.Column) =
    floor(log(greatest(size, lit(1L)).cast("double")) /
      math.log(1.0 / 0.85)).cast("int")

  /** Victim rows (pubdate, url, keptUrl, cos) — the reference's
    * `deleted_duplicates` tombstones (session_hist.py:118-125). When one
    * victim URL matches several pairs the lexicographically smallest
    * (keptUrl, cos, pubdate) row is kept — deterministic at any
    * parallelism (the tombstones table is committed to a snapshot, so a
    * nondeterministic pick would break resume equality).
    *
    * `dayspan`: pair articles up to this many days apart — the
    * reference's `identifyFilesForDate(…, dayspan)` capability
    * (base_plugin.py:450 reads date−span…date+span), which mod_dedupe
    * invokes with the 0 default; 0 here is therefore the faithful
    * behavior. A nonzero span uses the same explode trick as the size
    * bucket: one side emits every date within ±span and the candidate
    * join STAYS an equi-join on (pubdate, bucket) — never a range
    * predicate that would force a broadcast-nested-loop. A cross-day
    * pair matches at exactly one emitted date (the a-side's own), so no
    * pair is double-counted.
    */
  def tombstones(articles: DataFrame, threshold: Double = 0.99,
                 minTextSize: Long = 30L, dayspan: Int = 0): DataFrame = {
    require(dayspan >= 0, "dayspan must be >= 0")
    val base = articles.select(
      col("url"), col("uniqueId"), col("module"), col("pubdate"),
      col("text"), col("textSize"))
      .filter(col("pubdate").isNotNull && col("textSize") > minTextSize)
    val a = base.select(col("url").as("url_a"), col("uniqueId").as("id_a"),
      col("module").as("mod_a"), col("pubdate"),
      col("pubdate").as("pub_a"),
      col("textSize").as("size_a"),
      sizeBucket(col("textSize")).as("bucket"))
    // pub_b preserves the b-side article's OWN date: the dayspan explode
    // below overwrites the join-key pubdate with every date in ±span,
    // and the tombstone row must record the VICTIM's publication date,
    // not whichever emitted date the pair happened to match on
    val b0 = base.select(col("url").as("url_b"), col("uniqueId").as("id_b"),
      col("module").as("mod_b"), col("pubdate"),
      col("pubdate").as("pub_b"),
      col("textSize").as("size_b"))
      .withColumn("bucket",
        explode(array(sizeBucket(col("size_b")) - 1,
          sizeBucket(col("size_b")), sizeBucket(col("size_b")) + 1)))
    val b =
      if (dayspan == 0) b0
      else b0.withColumn("pubdate", explode(array(
        (-dayspan to dayspan).map(d => date_add(col("pubdate"), d)): _*)))
    // shuffle-hash, never broadcast: both sides scale with the articles
    // table (b is additionally ×3 by the bucket explode) — a broadcast
    // pick from a size mis-estimate OOMs the driver at corpus scale
    val candidates = a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"), Seq("pubdate", "bucket"))
      .filter(col("url_a") < col("url_b") &&
        col("mod_a") =!= col("mod_b") &&
        abs(col("size_a") - col("size_b")) <=
          greatest(col("size_a"), col("size_b")) * 0.15)

    // whitespace tokenization, empty tokens dropped: repeated spaces must
    // not manufacture shared "" counts between unrelated texts
    val counts = base.select(col("url"),
        explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("url", "w").agg(count(lit(1)).as("n"))
    val norms = counts.groupBy("url").agg(sum(col("n") * col("n")).as("sq"))
    val dots = candidates.select("url_a", "url_b").hint("shuffle_hash")
      .join(counts.select(col("url").as("url_a"), col("w"),
        col("n").as("na")).hint("shuffle_hash"), "url_a")
      .join(counts.select(col("url").as("url_b"), col("w"),
        col("n").as("nb")).hint("shuffle_hash"), Seq("url_b", "w"))
      .groupBy("url_a", "url_b").agg(sum(col("na") * col("nb")).as("dot"))

    val pairs = candidates.join(dots, Seq("url_a", "url_b"))
      .join(norms.select(col("url").as("url_a"), col("sq").as("sqa")), "url_a")
      .join(norms.select(col("url").as("url_b"), col("sq").as("sqb")), "url_b")
      .withColumn("cos", col("dot") /
        (sqrt(col("sqa").cast("double")) * sqrt(col("sqb").cast("double"))))
      .filter(col("cos") >= threshold)
      .select(
        // the VICTIM's own publication date (pub_a/pub_b carried past
        // the dayspan explode; identical to the join date at dayspan=0)
        when(col("size_a") < col("size_b") ||
          (col("size_a") === col("size_b") && col("id_a") > col("id_b")),
          col("pub_a")).otherwise(col("pub_b")).as("pubdate"),
        when(col("size_a") < col("size_b") ||
          (col("size_a") === col("size_b") && col("id_a") > col("id_b")),
          col("url_a")).otherwise(col("url_b")).as("url"),
        when(col("size_a") < col("size_b") ||
          (col("size_a") === col("size_b") && col("id_a") > col("id_b")),
          col("url_b")).otherwise(col("url_a")).as("keptUrl"),
        round(col("cos"), 6).as("cos"))
    Survivor.first(pairs, Seq("url"), Seq("keptUrl", "cos", "pubdate"))
  }

  /** Articles minus the tombstoned victims. */
  def survivors(articles: DataFrame, tomb: DataFrame): DataFrame =
    articles.join(tomb.select("url"), Seq("url"), "left_anti")
}
