package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the codegen cache size [[GraftExtensions]] gives its sessions: a
  * session that re-runs its plans compiles nothing the second time.
  * [[TestSpark]] is the first session of the test JVM and carries the
  * extension, so Spark's JVM-global cache was sized from its conf.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val key = "spark.sql.codegen.cache.maxEntries"

  test("a session built with the extension reports the engine's codegen cache size") {
    assert(spark.conf.get(key) == GraftExtensions.CodegenCacheEntries.toString)
  }

  test("re-running more plans than Spark's default cache holds compiles nothing") {
    // each literal is inlined into the generated code, so each plan is a
    // distinct class, and each class takes two cache keys (driver and
    // task class loaders): 80 plans are 160 keys, past Spark's 100
    val plans = (1 to 80).map(i => () =>
      spark.range(4).select((col("id") * lit(1000003L + i)).as("x")).collect())
    plans.foreach(_())
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    plans.foreach(_())
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles == 0, s"$compiles classes recompiled on the second run")
  }

  test("an explicit codegen cache size wins over the engine's default") {
    val set = new SparkConf(false).set(key, "7")
    GraftExtensions.sizeCodegenCache(set)
    assert(set.get(key) == "7")
    val unset = new SparkConf(false)
    GraftExtensions.sizeCodegenCache(unset)
    assert(unset.get(key) == GraftExtensions.CodegenCacheEntries.toString)
  }
}
