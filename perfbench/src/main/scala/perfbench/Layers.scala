package perfbench

/** Per-layer metrics every workload reports from its traced run, derived
  * from the benchmark's spans and the job listener.
  */
object Layers {
  val Formats = Seq("delta", "iceberg")

  /** Spark runtime and JVM over the timed window. */
  def runtime(ctx: Ctx, timed: Span, before: JobProbe.Snap, after: JobProbe.Snap,
      gcBefore: Double, gcAfter: Double): Map[String, Double] = {
    val d = after - before
    val wall = timed.end - timed.start
    val outside = wall - ctx.jobs.jobCoveredNs(timed.start, timed.end)
    Map(
      "spark.jobs" -> d.jobs.toDouble,
      "spark.tasks" -> d.tasks.toDouble,
      "spark.task_cpu_s" -> d.cpuNs / 1e9,
      "spark.shuffle_bytes" -> d.shuffleBytes.toDouble,
      "driver_only_share" -> outside.toDouble / wall,
      "jvm.gc_s" -> (gcAfter - gcBefore))
  }

  /** Sink time by format and by verb, from `sinks.<format>/<verb>` spans
    * inside the timed window: seconds, seconds outside any Spark job, and
    * jobs started.
    */
  def sinks(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    val mine = spans.filter(s => Formats.exists(f => s.layer == s"sinks.$f"))
    def jobs(ss: Seq[Span]) = ss.map(s => ctx.jobs.jobsStartedIn(s.start, s.end)).sum.toDouble
    def driverOnly(ss: Seq[Span]) =
      ss.map(s => (s.end - s.start) - ctx.jobs.jobCoveredNs(s.start, s.end)).sum / 1e9
    val perFormat = Formats.flatMap { f =>
      val ss = mine.filter(_.layer == s"sinks.$f")
      Seq(s"$f.write_s" -> ss.map(_.seconds).sum, s"$f.driver_only_s" -> driverOnly(ss),
        s"$f.jobs" -> jobs(ss))
    }
    val perVerb = mine.groupBy(s => s.layer.stripPrefix("sinks.") + "." + s.name.drop(s.layer.length + 1))
      .toSeq.flatMap { case (v, ss) =>
        Seq(s"verb.$v.s" -> ss.map(_.seconds).sum, s"verb.$v.jobs" -> jobs(ss))
      }
    (perFormat ++ perVerb).toMap
  }

  /** Span coverage of the timed window, span count, and self time by
    * layer within the window.
    */
  def trace(spans: Seq[Span], timed: Span): Map[String, Double] = {
    val inside = spans.filter(s => s.start >= timed.start && s.end <= timed.end)
    Map("trace.coverage" -> Spans.coverage(spans, timed), "trace.spans" -> inside.size.toDouble) ++
      Spans.selfTimeByLayer(inside).map { case (l, s) => s"self.${l}_s" -> s }
  }

  /** Runs `body` as the timed window (`bench/timed`) and returns the span
    * plus the runtime counters around it.
    */
  def timed[T](ctx: Ctx)(body: => T): (T, Option[Span], Map[String, Double]) = {
    val before = if (ctx.traced) Some(ctx.jobs.snapshot) else None
    val gc0 = Heap.gcSeconds
    val r = ctx.tracer.span("bench/timed")(body)
    val window = ctx.tracer.spans.find(_.name == "bench/timed")
    val extra = (before, window) match {
      case (Some(b), Some(w)) =>
        val spans = ctx.tracer.spans
        runtime(ctx, w, b, ctx.jobs.snapshot, gc0, Heap.gcSeconds) ++
          sinks(ctx, spans.filter(s => s.start >= w.start && s.end <= w.end)) ++ trace(spans, w)
      case _ => Map.empty[String, Double]
    }
    (r, window, extra)
  }

  /** Files, log entries and bytes-per-input-byte of a table directory. */
  def table(format: String, dir: java.io.File, logEntries: Long, inputBytes: Double): Map[String, Double] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(dir)
    Map(s"table.$format.files" -> files.count(_.getName.endsWith(".parquet")).toDouble,
      s"table.$format.log_entries" -> logEntries.toDouble,
      s"table.$format.bytes_per_input_byte" -> files.map(_.length).sum / inputBytes)
  }
}
