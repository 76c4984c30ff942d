package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared operator from SURVEY.md §2.2: a Spark implementation plus
  * (when SQL-expressible) an equivalent DuckDB oracle query. The driver
  * hash-compares the two on sf0.01 — column NAMES, row ORDER and VALUES must
  * all match, hence the determinism contract helpers below.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Bumped whenever the query's declared SCOPE/shape changes (more
      * commits, a different algorithmic formulation) so Bench's
      * per-query regression reference re-baselines instead of flagging
      * the new shape against a stale best forever (VERDICT r16 advice
      * #3 — q_delta_checkpoint_v2's r16 scope doubling). History entries
      * recorded before the mechanism existed carry an implicit 1.
      */
    shapeVersion: Int = 1)

object QueryDef {
  /** Determinism contract (SURVEY.md §2.2): double aggregation order is not
    * associative, so every SUM/AVG over doubles goes through DECIMAL(38,6)
    * on both the Spark and DuckDB side. The corpus doubles carry ≤2 decimal
    * digits, so the double→decimal(…,6) conversion is exact and never hits a
    * rounding half-boundary (where Spark HALF_UP and a hypothetical
    * banker's-rounding engine could disagree; DuckDB also rounds half away
    * from zero — verified empirically).
    *
    * OUTPUT-TYPE contract (round-3 finding, the cause of every r2 hash
    * mismatch): the driver reads the Spark parquet via pandas/pyarrow
    * (DECIMAL → python Decimal objects, str "43683.060000") but the DuckDB
    * oracle via .df() (DECIMAL/HUGEINT → float64, str "43683.06"), then
    * compares string forms — so a DECIMAL column hash-matches only when
    * every value uses all 6 fraction digits (q_dedup_ngram passed by luck).
    * Therefore: compute exactly in decimal, but the FINAL projected column
    * must be DOUBLE (`toDbl`) on both sides, and oracle integer aggregates
    * must be CAST(... AS BIGINT) (DuckDB SUM(int)→HUGEINT→float64).
    * A decimal(38,6) → double cast is correctly rounded in both engines and
    * the corpus magnitudes keep the scaled value < 2^53, so the doubles are
    * bit-identical.
    */
  val Dec38: DecimalType = DecimalType(38, 6)
  def dec(c: Column): Column = c.cast(Dec38)

  /** Final-output cast per the OUTPUT-TYPE contract above: a decimal-exact
    * intermediate becomes a DOUBLE in the projected result. Oracle twin:
    * CAST(<same decimal expression> AS DOUBLE).
    */
  def toDbl(c: Column): Column = c.cast("double")

  /** Fixed-point fast path. Every money/quantity column in the corpus
    * carries exactly ≤2 fractional digits (verified: max |x*100 −
    * round(x*100)| < 1e-9 across all 8 such columns), so `round(x*10^d)`
    * recovers the exact scaled integer and sums run as primitive-long
    * whole-stage codegen instead of BigDecimal-backed Decimal(38,6)
    * aggregation (~3-5× less agg CPU — the dominant cost of the TPC-H-Q1
    * shape). The single long→double conversion at the end is bit-identical
    * to CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE): both are correctly
    * rounded and the scaled totals stay < 2^53 at bench scale (at cluster
    * scale, per-partition partial sums keep the same headroom because the
    * final merge is also a long add; overflow needs Σ|x|·10^d > 9.2e18 —
    * rescale to d=0 cents upstream or fall back to `dec` sums there).
    */
  def cents(c: Column, digits: Int = 2): Column = {
    // Branch-free nearest-integer instead of round(): Spark's Round on
    // DoubleType goes through BigDecimal per row, while ±0.5-then-truncate
    // stays in primitive codegen. Exact here because the scaled value is
    // within 1e-9 of an integer, so the half-boundary is never in play;
    // double→long casts truncate toward zero, hence the signed offset.
    val s = math.pow(10, digits)
    val scaled = c * s
    (scaled + when(scaled >= 0, lit(0.5)).otherwise(lit(-0.5))).cast("long")
  }
  def fxSum(c: Column, digits: Int = 2): Column =
    sum(cents(c, digits)).cast("double") / math.pow(10, digits)
  /** Oracle twin: CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*). */
  def fxAvg(c: Column, digits: Int = 2): Column =
    fxSum(c, digits) / count(lit(1)).cast("double")

  /** Integer-input average: both engines sum exactly (long / hugeint), cast
    * to double, divide by the count — the same two IEEE operands on both
    * sides, hence bit-identical before the final decimal rounding.
    * Oracle twin: CAST(CAST(SUM(x) AS DOUBLE) / COUNT(x) AS DECIMAL(38,6)).
    */
  def intAvg(c: Column): Column =
    (sum(c).cast("double") / count(c).cast("double")).cast(Dec38)
}

/** Scratch tables for the declared lakehouse queries (write → commit →
  * read-back shapes): one temp dir per invocation, all recursively deleted
  * at JVM exit — Verify/bench/spec runs re-invoke these queries many times
  * and must not accumulate table copies under /tmp.
  */
object TempTables {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  sys.addShutdownHook(cleanupNow())


  /** Recursive (absPath, mtime, length) fingerprint of every parquet under
    * `root` — the ZERO-COPY gate the convert/sync queries and sink specs
    * pin (byte-identical file set across a metadata-only operation).
    */
  def parquetFingerprint(root: String): Set[(String, Long, Long)] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    walk(new java.io.File(root))
      .map(f => (f.getAbsolutePath, f.lastModified, f.length)).toSet
  }

  def create(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    created.add(dir)
    dir.toString
  }

  /** Recursively delete every table created so far. `Files.walk` is fully
    * materialized (sorted) BEFORE any delete — streaming a directory while
    * deleting its entries can skip children and leave the parent behind.
    * Also called explicitly at the end of the Verify/Bench mains, so
    * cleanup doesn't depend on shutdown-hook behavior under a harness.
    */
  def cleanupNow(): Unit = {
    var root = created.poll()
    while (root != null) {
      scala.util.Try {
        java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
      root = created.poll()
    }
  }
}

/** Executor-storage hygiene between queries (VERDICT r18 item 5): the
  * operators' lazy `localCheckpoint(false)` frames pin MEMORY_AND_DISK
  * blocks that nothing unpersists — across a 270-query bench JVM (or a
  * long-lived multi-query service at 100 TB) that is an unbounded storage
  * leak, the same class as the r17 q_rfm persist leak. Every harness
  * (Bench, Verify, Cli) calls [[releaseAll]] AFTER a query's terminal
  * action: by then every materialized frame has been consumed, no
  * cross-query frame reuse exists by contract (results must recompute from
  * the parquet inputs), and sink-internal persists are already unpersisted
  * in their own `finally` blocks — so dropping every persistent RDD is
  * exactly "release this query's working set".
  *
  * `blocking = true` returns only once the executors dropped the blocks, so
  * the eviction cannot land inside the next timed query (Bench uses it).
  */
object CachedBlocks {
  def releaseAll(spark: SparkSession, blocking: Boolean = false): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(rdd => scala.util.Try(rdd.unpersist(blocking)))
}

trait QueryModule {
  def defs: Seq[QueryDef]

  protected def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)
}
