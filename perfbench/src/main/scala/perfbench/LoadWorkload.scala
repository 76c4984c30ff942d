package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.sinks.{CommitStore, DeltaSink, HttpObjectStore, IcebergSink}
import graft.sources.PgCopyBinarySource

/** `load`: the paper's pipeline. Seeded COPY BINARY streams are decoded by
  * `PgCopyBinarySource` and written to a fresh Delta table and a fresh
  * Iceberg table, both through the in-process S3-shaped HTTP store. One
  * client, closed loop. A pass is one Delta write plus one Iceberg write of
  * the whole stream set; an operation is one of the two writes. Every
  * written table is read back and its row census and per-column checksums
  * compared with the generator's.
  */
object LoadWorkload {
  val Streams = 4
  val RowsPerStream = 50000
  val SetupReps = 3

  final class Store(root: Path) extends AutoCloseable {
    Files.createDirectories(root)
    val server = new HttpObjectStore.Server(root)
    val client = new HttpObjectStore.Client(server.endpoint, root)
    def counters: Seq[(String, Long)] = Seq(
      "server.multipart_completions" -> server.multipartCompletions.get.toLong,
      "server.conditional_puts" -> server.conditionalPuts.get.toLong,
      "server.object_puts" -> server.objectPuts.get.toLong,
      "server.object_gets" -> server.objectGets.get.toLong,
      "server.object_deletes" -> server.objectDeletes.get.toLong,
      "server.listings" -> server.listings.get.toLong)
    def table(name: String): String = root.resolve(name).toString
    override def close(): Unit = server.close()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = CopyGen(ctx.seed, Streams, RowsPerStream)

    // set-up: encode the streams and start a store
    val (sets, setupS) = Stats.setUp(SetupReps) { i =>
      (gen.writeAll(ctx.dir("streams")), new Store(ctx.dir(s"bucket-$i")))
    }
    sets.init.foreach(_._2.close())
    val (paths, store) = sets.last
    ctx.log("set-up done")
    val copyBytes = paths.map(p => Files.size(java.nio.file.Paths.get(p))).sum.toDouble
    val expected = CopyGen.checksum(gen.expected(spark))

    val counters = new StoreCounters
    val sinkStore: CommitStore =
      if (ctx.traced) CountingStore(store.client, counters, ctx.tracer) else store.client
    def source(ps: Seq[String]) =
      if (ctx.traced) PgCopyBinarySource(ps.map(CountingTransport(_)), CopyGen.Cols)
      else PgCopyBinarySource.fromFiles(ps, CopyGen.Cols)

    var n = 0
    val opTimes = ArrayBuffer.empty[Double]
    val passTimes = ArrayBuffer.empty[Double]
    val peaks = ArrayBuffer.empty[Double]
    var lastTables = Map.empty[String, Map[String, Double]]

    /** One write of the streams into a fresh `format` table, then its
      * check; returns the write's seconds and the heap peak during it.
      */
    def loadInto(format: String, keep: Boolean): (Double, Double) = {
      n += 1
      val table = store.table(s"$format-$n")
      ctx.tracer.span("bench/gc")(Heap.reset())
      val (_, s) = Stats.time {
        ctx.tracer.span(s"sinks.$format/write") {
          val df = ctx.tracer.span("sources/load")(source(paths).load(spark))
          if (format == "delta") DeltaSink.write(df, table, store = sinkStore)
          else IcebergSink.writeWithRetry(df, table, IcebergSink.CreateExclusive, store = sinkStore)
        }
      }
      val peak = Heap.peakMb
      ctx.tracer.span("bench/check") {
        ctx.attempt(s"load $format table $n census and checksums") {
          val back =
            if (format == "delta") DeltaSink.read(spark, table, store = sinkStore)
            else IcebergSink.read(spark, table, store = sinkStore)
          val got = CopyGen.checksum(back)
          if (got != expected) System.err.println(s"[perfbench] got $got expected $expected")
          got == expected
        }
        if (keep) {
          val log =
            if (format == "delta") DeltaSink.latestVersion(table) + 1
            else IcebergSink.snapshots(table).size.toLong
          lastTables += format -> Layers.table(format, new java.io.File(table), log, copyBytes)
        }
        deleteTree(new java.io.File(table))
      }
      (s, peak)
    }

    def pass(keep: Boolean = false): Unit = {
      val (d, pd) = loadInto("delta", keep)
      val (i, pi) = loadInto("iceberg", keep)
      opTimes ++= Seq(d, i)
      passTimes += d + i
      peaks += math.max(pd, pi)
    }

    ctx.log("expected checksums fixed")
    pass() // warm-up: JIT, first-touch class loading, store connections
    opTimes.clear(); passTimes.clear(); peaks.clear(); counters.reset()

    val serverBefore = store.counters.toMap
    val transportBefore = (TransportCounters.bytes.get, TransportCounters.nanos.get)
    ctx.log("timed window starts")
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val (_, _, window) = Layers.timed(ctx) {
      while (passTimes.size < 2 || System.nanoTime() < deadline) pass(keep = true)
    }

    val endToEnd = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(passTimes.toSeq),
      "op_p50_ms" -> Stats.quantile(opTimes.toSeq, 0.5) * 1000,
      "op_p90_ms" -> Stats.quantile(opTimes.toSeq, 0.9) * 1000)

    val perLayer =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val server = store.counters.map { case (k, v) => k -> (v - serverBefore(k)).toDouble }
        window ++ server ++ counters.metrics ++ lastTables.values.flatten ++
          sourcesProbe(ctx, paths) ++
          selfTest(ctx, paths, expected) ++ Map(
          "sources.transport_s" -> (TransportCounters.nanos.get - transportBefore._2) / 1e9,
          "sources.bytes" -> (TransportCounters.bytes.get - transportBefore._1).toDouble,
          "trace.pass_s" -> Stats.median(passTimes.toSeq),
          "jvm.heap_peak_mb" -> Stats.median(peaks.toSeq))
      }
    store.close()
    Outcome(ctx.attempted, ctx.failed, endToEnd, perLayer, passTimes.toSeq)
  }

  /** Decode-only probes, outside the timed window: the rows the decoder
    * emits for the full-size streams, the load's task time minus its
    * transport time, and the old-generation peak's growth per MB of COPY
    * input between half-size and full-size streams (near 0 for a
    * bounded-memory source, near 1 for one that buffers each stream).
    */
  private def sourcesProbe(ctx: Ctx, paths: Seq[String]): Map[String, Double] = {
    val spark = ctx.spark
    val half = CopyGen(ctx.seed, Streams, RowsPerStream / 2).writeAll(ctx.dir("streams-half"))
    def decode(ps: Seq[String]): (Long, Double, Double, Long) = {
      Heap.reset()
      val before = ctx.jobs.snapshot
      val t0 = TransportCounters.nanos.get
      val rows = PgCopyBinarySource(ps.map(CountingTransport(_)), CopyGen.Cols)
        .load(spark).queryExecution.toRdd.count()
      val d = ctx.jobs.snapshot - before
      (rows, Heap.peakMb, d.runMs / 1e3 - (TransportCounters.nanos.get - t0) / 1e9,
        ps.map(p => Files.size(java.nio.file.Paths.get(p))).sum)
    }
    val (_, peakHalf, _, bytesHalf) = decode(half)
    val (rows, peakFull, decodeS, bytesFull) = decode(paths)
    ctx.attempt("sources probe decodes every generated row")(rows == Streams.toLong * RowsPerStream)
    Map("sources.rows" -> rows.toDouble, "sources.decode_task_s" -> decodeS,
      "sources.heap_slope" -> (peakFull - peakHalf) / ((bytesFull - bytesHalf) / 1048576.0))
  }

  /** Probe self-test: one load through the raw client and one through the
    * counting wrapper, each on its own fresh store, must leave identical
    * server counters and identical table checksums.
    */
  private def selfTest(ctx: Ctx, paths: Seq[String], expected: Seq[Any]): Map[String, Double] = {
    val spark = ctx.spark
    def once(tag: String, wrap: Boolean): (Seq[(String, Long)], Seq[Seq[Any]]) = {
      val s = new Store(ctx.dir(s"selftest-$tag"))
      try {
        val st: CommitStore =
          if (wrap) CountingStore(s.client, new StoreCounters, new Tracer(false)) else s.client
        val df = PgCopyBinarySource.fromFiles(paths, CopyGen.Cols).load(spark)
        DeltaSink.write(df, s.table("d"), store = st)
        IcebergSink.writeWithRetry(df, s.table("i"), IcebergSink.CreateExclusive, store = st)
        val sums = Seq(CopyGen.checksum(DeltaSink.read(spark, s.table("d"), store = st)),
          CopyGen.checksum(IcebergSink.read(spark, s.table("i"), store = st)))
        (s.counters, sums)
      } finally s.close()
    }
    val ok = ctx.attempt("probe self-test: wrapped and unwrapped loads agree") {
      val (c0, s0) = once("raw", wrap = false)
      val (c1, s1) = once("wrapped", wrap = true)
      if (c0 != c1) System.err.println(s"[perfbench] server counters differ: $c0 vs $c1")
      c0 == c1 && s0 == s1 && s0.forall(_ == expected)
    }
    Map("probe.selftest_ok" -> (if (ok) 1.0 else 0.0))
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(): Unit
  }
}
