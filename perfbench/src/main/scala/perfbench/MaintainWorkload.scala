package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.{CommitStore, DeltaSink, IcebergSink}

/** `maintain`: the lakehouse verbs on existing tables, on the local commit
  * store. Each run starts from identical seeded base tables (a
  * lineitem-shaped table with a unique key `k`), one per format, and
  * repeats a fixed cycle: a burst of small appends with range reads mixed
  * in, then one pass of each format's heavy verbs, then a read-back census.
  * One client, closed loop. A pass is one cycle; an operation is one small
  * append commit. Every read and census is checked against a live-key
  * model of the cycle.
  */
object MaintainWorkload {
  val BaseRows = 50000L
  val AppendRows = 5000L
  val AppendsPerFormat = 5
  /** The warm-up cycle's tables and appends per format: small, but enough
    * to reach every verb, a range read included.
    */
  val WarmupBaseRows = 5000L
  val WarmupAppends = 2
  val MergeRows = 2000
  val SetupReps = 2
  /** Width of one row in fixed-width form: the "input byte" of the
    * bytes-per-input-byte ratio.
    */
  val RawRowBytes = 74.0
  private val MergeKeyBase = 10000000L

  /** The seeded lineitem-shaped rows for the given keys; `salt` varies the
    * non-key values between batches over the same keys.
    */
  def rowsFor(keys: DataFrame, seed: Long, salt: Int): DataFrame = {
    def h(i: Int, m: Long) = pmod(xxhash64(col("id"), lit(seed), lit(salt * 16 + i)), lit(m))
    keys.select(
      col("id").as("k"),
      h(0, 150000L).as("l_orderkey"),
      h(1, 20000L).as("l_partkey"),
      h(2, 1000L).as("l_suppkey"),
      (h(3, 7L) + 1).cast("int").as("l_linenumber"),
      (h(4, 50L) + 1).cast("double").as("l_quantity"),
      ((h(5, 10400000L) + 90000) / 100.0).as("l_extendedprice"),
      (h(6, 11L) / 100.0).as("l_discount"),
      (h(7, 9L) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(8, 3L) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (h(9, 2L) + 1).cast("int")).as("l_linestatus"),
      date_add(lit("1995-01-01").cast("date"), h(10, 2500L).cast("int")).as("l_shipdate"))
  }

  /** One table and its model: the set of live keys. */
  final class Table(val format: String, val path: String) {
    val live = new java.util.BitSet()
    var inputRows = 0L
    def add(lo: Long, hi: Long): Unit = { live.set(lo.toInt, hi.toInt); inputRows += hi - lo }
    def addKeys(ks: Seq[Long]): Unit = { ks.foreach(k => live.set(k.toInt)); inputRows += ks.size }
    def removeWhere(m: Int, r: Int): Unit = {
      var k = live.nextSetBit(0)
      while (k >= 0) { if (k % m == r) live.clear(k); k = live.nextSetBit(k + 1) }
    }
    def countIn(lo: Long, hi: Long): Long = live.get(lo.toInt, hi.toInt + 1).cardinality.toLong
    def census: (Long, Long) = {
      var sum = 0L
      var k = live.nextSetBit(0)
      while (k >= 0) { sum += k; k = live.nextSetBit(k + 1) }
      (live.cardinality.toLong, sum)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val counters = new StoreCounters
    val store: CommitStore =
      if (ctx.traced) CountingStore(CommitStore.Local, counters, ctx.tracer) else CommitStore.Local

    def base(i: Int, n: Long): (Table, Table) = {
      val d = new Table("delta", ctx.dir(s"base-$i").resolve("delta").toString)
      val ib = new Table("iceberg", ctx.dir(s"base-$i").resolve("iceberg").toString)
      val rows = rowsFor(spark.range(0, n).toDF(), ctx.seed, 0)
      DeltaSink.write(rows, d.path)
      IcebergSink.writeWithRetry(rows, ib.path, IcebergSink.CreateExclusive)
      d.add(0, n)
      ib.add(0, n)
      (d, ib)
    }
    // set-up: both base tables, from the same seeded rows each time
    val (built, setupS) = Stats.setUp(SetupReps)(base(_, BaseRows))
    ctx.log("set-up done")

    val opTimes = ArrayBuffer.empty[Double]
    val cycleTimes = ArrayBuffer.empty[Double]
    val peaks = ArrayBuffer.empty[Double]
    var tableMetrics = Map.empty[String, Double]

    def op[T](t: Table, verb: String)(body: => T): T =
      ctx.tracer.span(s"sinks.${t.format}/$verb")(body)

    def check(what: String, t: Table)(got: => (Long, Long), want: (Long, Long)): Unit =
      ctx.tracer.span("bench/check") {
        ctx.attempt(s"maintain ${t.format} $what") {
          val g = got
          if (g != want) System.err.println(s"[perfbench] ${t.format} $what: got $g, model $want")
          g == want
        }
      }

    def census(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum(col("k")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    def cycle(c: Int, d: Table, ib: Table, appends: Int): Unit = {
      ctx.tracer.span("bench/gc")(Heap.reset())
      val t0 = System.nanoTime()
      // burst of small appends, both formats, with range reads mixed in
      (0 until appends).foreach { j =>
        val lo = BaseRows + (c.toLong * appends + j) * AppendRows
        val batch = rowsFor(spark.range(lo, lo + AppendRows).toDF(), ctx.seed, 1)
        Seq(d, ib).foreach { t =>
          val (_, s) = Stats.time(op(t, "append") {
            if (t.format == "delta") DeltaSink.append(batch, t.path, store = store)
            else IcebergSink.writeWithRetry(batch, t.path, IcebergSink.Append, store = store)
          })
          opTimes += s
          t.add(lo, lo + AppendRows)
        }
        if (j % 2 == 1) Seq(d, ib).foreach { t =>
          val (rlo, rhi) = (lo - 5 * AppendRows / 2, lo + AppendRows / 2)
          check(s"readRange [$rlo, $rhi]", t)({
            val df = op(t, "readRange") {
              if (t.format == "delta") DeltaSink.readRange(spark, t.path, "k", rlo.toString, rhi.toString)
              else IcebergSink.readRange(spark, t.path, "k", rlo.toDouble, rhi.toDouble)
            }
            // Delta's range read prunes files only; the row filter is the caller's
            (df.filter(col("k").between(rlo, rhi)).count(), 0L)
          }, (t.countIn(rlo, rhi), 0L))
        }
      }
      val mergeKeys = (0 until MergeRows / 2).map(j => (c * 7919L + j * 37L) % BaseRows) ++
        (0 until MergeRows / 2).map(j => MergeKeyBase + c.toLong * MergeRows + j)
      val source = rowsFor(mergeKeys.toDF("id"), ctx.seed, 2 + c)

      // Delta heavy verbs
      op(d, "deleteWhere")(DeltaSink.deleteWhere(spark, d.path, s"k % 997 = ${c % 997}", store = store))
      d.removeWhere(997, c % 997)
      op(d, "updateWhere")(DeltaSink.updateWhere(spark, d.path, s"k % 991 = ${c % 991}",
        Map("l_quantity" -> "l_quantity + 1"), store = store))
      op(d, "deleteWhereDV")(DeltaSink.deleteWhereDV(spark, d.path, s"k % 983 = ${c % 983}", store = store))
      d.removeWhere(983, c % 983)
      op(d, "merge")(DeltaSink.merge(spark, d.path, source, Seq("k"), store = store))
      d.addKeys(mergeKeys)
      op(d, "compact")(DeltaSink.compact(spark, d.path, store = store))
      op(d, "checkpoint")(DeltaSink.checkpoint(spark, d.path, store))
      check("census", d)(census(op(d, "read")(DeltaSink.read(spark, d.path, store = store))), d.census)

      // Iceberg heavy verbs: v3 deletion vectors, equality-delete upsert,
      // then compaction before the next cycle's DVs
      op(ib, "deleteWhereDV")(IcebergSink.deleteWhereDV(spark, ib.path, s"k % 997 = ${c % 997}", store = store))
      ib.removeWhere(997, c % 997)
      op(ib, "updateWhereDV")(IcebergSink.updateWhereDV(spark, ib.path, s"k % 991 = ${c % 991}",
        Map("l_quantity" -> "l_quantity + 1"), store = store))
      op(ib, "upsert")(IcebergSink.upsert(spark, ib.path, source, Seq("k"), store = store))
      ib.addKeys(mergeKeys)
      op(ib, "compact")(IcebergSink.compact(spark, ib.path, store = store))
      op(ib, "expireSnapshots")(IcebergSink.expireSnapshots(ib.path, keepLast = 2, store = store))
      check("census", ib)(census(op(ib, "read")(IcebergSink.read(spark, ib.path, store = store))), ib.census)
      cycleTimes += (System.nanoTime() - t0) / 1e9
      peaks += Heap.peakMb

      if (ctx.traced) ctx.tracer.span("bench/check") {
        tableMetrics = Seq(d, ib).flatMap { t =>
          val log =
            if (t.format == "delta") DeltaSink.latestVersion(t.path) + 1
            else IcebergSink.snapshots(t.path).size.toLong
          Layers.table(t.format, new java.io.File(t.path), log, t.inputRows * RawRowBytes)
        }.toMap
      }
    }

    // warm-up: a short cycle on a small spare pair of tables, so that the
    // timed cycle is not the first call of any verb in this JVM
    val (wd, wib) = base(-1, WarmupBaseRows)
    cycle(0, wd, wib, WarmupAppends)
    opTimes.clear(); cycleTimes.clear(); peaks.clear(); counters.reset()

    val (d, ib) = built.last
    ctx.log("timed window starts")
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var c = 0
    val (_, _, window) = Layers.timed(ctx) {
      while (cycleTimes.isEmpty || System.nanoTime() < deadline) { cycle(c, d, ib, AppendsPerFormat); c += 1 }
    }

    val endToEnd = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(cycleTimes.toSeq),
      "op_p50_ms" -> Stats.quantile(opTimes.toSeq, 0.5) * 1000,
      "op_p90_ms" -> Stats.quantile(opTimes.toSeq, 0.9) * 1000)
    val perLayer =
      if (!ctx.traced) Map.empty[String, Double]
      else window ++ counters.metrics ++ tableMetrics + ("trace.pass_s" -> Stats.median(cycleTimes.toSeq)) +
        ("jvm.heap_peak_mb" -> Stats.median(peaks.toSeq))
    Outcome(ctx.attempted, ctx.failed, endToEnd, perLayer, cycleTimes.toSeq)
  }
}
