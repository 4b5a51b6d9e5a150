package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions.BindReferences
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.execution.ProjectExec

import graft.core.SchedulerConfig
import graft.sources.SyntheticPages
import graft.streaming.CrawlEngine

/** The wave's article extraction must not compile a giant class: the
  * per-source assembly (12-branch dispatch trees of regex cascades) once
  * generated a 1.26 MB projection that Spark's bounded codegen cache
  * re-compiled every wave, inside one task while the other cores waited.
  */
class ExtractionCodegenSpec extends SparkTestBase {

  /** Java source length of the `SpecificUnsafeProjection` class Spark
    * generates for `p` (ProjectExec compiles exactly this when it runs
    * outside whole-stage codegen, as the extraction does): the apply
    * body plus the class's fields, their init and its split-out methods.
    */
  private def projectionSourceSize(p: ProjectExec): Long = {
    val ctx = new CodegenContext
    val eval = GenerateUnsafeProjection.createCode(ctx,
      BindReferences.bindReferences(p.projectList, p.child.output),
      spark.sessionState.conf.subexpressionEliminationEnabled)
    Seq(eval.code.toString, ctx.declareMutableStates(),
      ctx.initMutableStates(), ctx.declareAddedFunctions())
      .map(_.length.toLong).sum
  }

  test("the wave's article extraction generates no projection above 200 KB") {
    import spark.implicits._
    val robots: DataFrame =
      Seq.empty[(String, Seq[String])].toDF("host", "disallowPrefixes")
    val pages = SyntheticPages.pages(spark, 100L)
    val e = new CrawlEngine(spark, tempDir("crawl-codegen"), pages, robots,
      SchedulerConfig(numPartitions = 2, saltBuckets = 2, bloomShards = 2))
    // materialized, like the wave's cached fetch join: the plan holds only
    // the extraction's projections, and `source` is a column the
    // optimizer cannot fold the dispatch trees over
    val fetched = pages.select(F.col("url"), F.lit("synthetic").as("source"),
      F.col("html")).localCheckpoint()
    val articles = e.extractArticles(fetched, 1L)
    val sizes = articles.queryExecution.executedPlan
      .collect { case p: ProjectExec => projectionSourceSize(p) }
    assert(sizes.nonEmpty, "the extraction plan has no projection")
    info(s"generated projection sizes: ${sizes.sorted.reverse.mkString(", ")} B")
    assert(sizes.max <= 200L * 1024,
      s"largest generated projection ${sizes.max} B; sizes: ${sizes.sorted.reverse}")
    assert(articles.count() > 0, "the extraction kept no article")
  }
}
