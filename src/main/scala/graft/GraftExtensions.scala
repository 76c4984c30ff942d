package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.internal.StaticSQLConf

/** Spark's standard extension entry point: build any session with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` and the
  * engine's native SQL functions (graft_dot, graft_token_hashes,
  * graft_shingle_hashes, graft_minhash_bands, graft_simhash) are available
  * in every new session's SQL surface without an explicit registration
  * call — the idiomatic way a Spark-native library installs itself on a
  * cluster (spark-defaults.conf carries the one config line; every job,
  * notebook, and Thrift session gets the functions).
  *
  * [[org.apache.spark.sql.GraftColumnBridge.registerFunctions]] remains for
  * installing into an already-built session; both paths share one function
  * table so the surfaces cannot drift.
  *
  * The extension also sizes Spark's codegen cache
  * ([[GraftExtensions.sizeCodegenCache]]), so that a session re-running
  * its plans does not recompile them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Spark's Builder applies extensions after creating the SparkContext
    // and before the new session's SharedState copies the context's conf,
    // so a static SQL conf set here reaches the session.
    GraftColumnBridge.activeContextConf.foreach(GraftExtensions.sizeCodegenCache)
    GraftColumnBridge.functionTable.foreach { case (name, arity, build) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        GraftColumnBridge.builderFor(name, arity, build)))
    }
    // Optimizer rule: naive band joins plan as a binned equi join instead
    // of a nested loop (see graft.plans.BandJoinToBinEquiJoin; kill switch
    // spark.graft.bandJoinRewrite=false).
    ext.injectOptimizerRule(_ => graft.plans.BandJoinToBinEquiJoin)
  }
}

object GraftExtensions {
  /** Entries of Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`,
    * Spark's default 100) in a session built with this extension.
    *
    * The cache is an LRU keyed by (context class loader, generated code).
    * In local mode the driver's validation compile and the task's compile
    * run under different loaders, so every distinct class takes two
    * entries. With nothing evicted, a whole run of the benchmark's `query`
    * workload fills 138 entries and one of `maintain` 167, so at 100 each
    * entry is evicted before it is used again and every pass recompiles
    * its classes in Janino (on a 4-core host: 244 compiles and 2.9 s in two
    * timed `query` passes, 160 and 1.6 s in one `maintain` cycle). 1024
    * holds the larger working set six times over. At that size the same
    * windows compile 0 and 12 classes, and metaspace use at exit does not
    * grow, because at 100 the evicted classes were unloaded and compiled
    * again.
    */
  val CodegenCacheEntries = 1024

  /** Sets [[CodegenCacheEntries]] in `conf` unless it already holds the key:
    * a value from the user, a builder option, a `-Dspark.*` property or
    * spark-defaults wins. The cache is JVM-global and sized at the first
    * compile, so a JVM whose first session was built without this
    * extension keeps Spark's 100 for its lifetime.
    */
  def sizeCodegenCache(conf: SparkConf): Unit =
    conf.setIfMissing(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      CodegenCacheEntries.toString)
}
