package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps the classes it generates for a plan in a JVM-wide cache
  * whose size is a static conf. GraftSession sizes that cache so that a
  * repeat of a query finds its classes there instead of compiling them
  * again. */
class CodegenCacheSpec extends AnyFunSuite {
  import SparkTestSession._

  // the curation queries of perfbench's curate_batch workload
  val curate = Seq("q_quality_filter", "q_pii_scrub", "q_text_repetition",
    "q_dedup_minhash", "q_dedup_jaccard_prefix", "q_decontaminate_bloom",
    "q_pipeline_curate", "q_pack_bins")

  test("the session's codegen cache has the builder's size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second pass of the curation queries compiles no generated class") {
    def pass(): Unit = curate.foreach { q =>
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
    }
    pass()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0)
  }
}
