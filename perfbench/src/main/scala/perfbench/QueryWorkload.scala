package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.{CachedBlocks, SparkEntry, Tables}

/** `query`: the analytics and LLM-data surface, read-only over a seeded
  * corpus, each result written to the `noop` sink. It bypasses the sinks
  * entirely. One client, closed loop. A pass runs the `tpch` family then
  * the `llm` family; an operation is one query. Each query's result is
  * hashed once per run and compared with its DuckDB oracle's hash, fixed
  * before timing.
  */
object QueryWorkload {
  /** A run's time budget holds about a quarter of the two families: these
    * cover aggregation, joins, outer joins, subqueries, n-gram dedup, BM25
    * and sketches.
    */
  val Tpch: Seq[String] = Seq(1, 3, 13, 18).map(i => s"q_tpch_q$i")
  val Llm: Seq[String] = Seq("q_dedup_substring", "q_bm25", "q_hll_sketch")
  val Families: Seq[(String, Seq[String])] = Seq("tpch" -> Tpch, "llm" -> Llm)
  val SetupReps = 2

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val names = Families.flatMap(_._2)
    names.foreach(n => require(queries.contains(n) && oracles.contains(n), s"no query or oracle for $n"))

    // set-up: generate the corpus and register its tables
    val (corpora, setupS) = Stats.setUp(SetupReps) { i =>
      val corpus = ctx.dir(s"corpus-$i")
      ctx.python("corpus.py", "gen", "--seed", ctx.seed.toString, "--out", corpus.toString)
      Tables.all.foreach(t => Tables(spark, corpus.toString, t).schema)
      corpus
    }
    val dir = corpora.last.toString
    ctx.log("set-up done")

    // expected results, fixed before timing
    val sqlFile = ctx.work.resolve("oracle_sql.json")
    Json.mapper.writeValue(sqlFile.toFile, names.map(n => n -> oracles(n)).toMap.asJava)
    val expectedFile = ctx.work.resolve("expected.json")
    ctx.python("corpus.py", "oracle", "--dir", dir, "--sql", sqlFile.toString,
      "--out", expectedFile.toString)
    val expected = Json.mapper.readTree(expectedFile.toFile)

    ctx.log("oracle hashes fixed")
    // warm-up pass, which is also the check: every result against its oracle
    names.foreach { n =>
      ctx.attempt(s"query $n matches its oracle") {
        val df = queries(n)(spark, dir)
        val rows = df.collect()
        CachedBlocks.releaseAll(spark)
        val got = ResultHash(df.columns.toSeq, rows)
        val want = expected.get(n)
        val ok = rows.length == want.get("rows").asLong() && got == want.get("hash").asText()
        if (!ok) System.err.println(s"[perfbench] $n: ${rows.length} rows, hash $got; oracle $want")
        ok
      }
    }

    val opTimes = ArrayBuffer.empty[Double]
    val passTimes = ArrayBuffer.empty[Double]
    val familyTimes = Families.map(_._1 -> ArrayBuffer.empty[Double]).toMap
    val peaks = ArrayBuffer.empty[Double]
    val perQuery = names.map(_ -> ArrayBuffer.empty[Double]).toMap
    val phase = ArrayBuffer.empty[(String, String, Double)] // (family, build|plan|exec, s)

    def runOne(family: String, n: String): Double = {
      val t0 = System.nanoTime()
      ctx.tracer.span(s"queries/$n") {
        val (df, b) = Stats.time(ctx.tracer.span("queries/build")(queries(n)(spark, dir)))
        val (_, p) = Stats.time(ctx.tracer.span("queries/plan")(df.queryExecution.executedPlan))
        val (_, e) = Stats.time(ctx.tracer.span("queries/exec") {
          df.write.format("noop").mode("overwrite").save()
        })
        phase ++= Seq((family, "build", b), (family, "plan", p), (family, "exec", e))
        ctx.tracer.span("bench/release")(CachedBlocks.releaseAll(spark))
      }
      val s = (System.nanoTime() - t0) / 1e9
      opTimes += s
      perQuery(n) += s
      s
    }

    def pass(): Unit = {
      ctx.tracer.span("bench/gc")(Heap.reset())
      val fam = Families.map { case (f, qs) => f -> qs.map(runOne(f, _)).sum }
      fam.foreach { case (f, s) => familyTimes(f) += s }
      passTimes += fam.map(_._2).sum
      peaks += Heap.peakMb
    }

    pass() // second warm-up, through the noop sink the timed passes use
    Seq(opTimes, passTimes, peaks, phase).foreach(_.clear())
    familyTimes.values.foreach(_.clear())
    perQuery.values.foreach(_.clear())

    ctx.log("timed window starts")
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val (_, _, window) = Layers.timed(ctx) {
      while (passTimes.size < 2 || System.nanoTime() < deadline) pass()
    }

    val endToEnd = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(passTimes.toSeq),
      "op_p50_ms" -> Stats.quantile(opTimes.toSeq, 0.5) * 1000,
      "op_p90_ms" -> Stats.quantile(opTimes.toSeq, 0.9) * 1000)
    val perLayer =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val w = ctx.tracer.spans.find(_.name == "bench/timed").get
        val jobs = ctx.tracer.spans
          .filter(s => s.name.startsWith("queries/q_") && s.start >= w.start && s.end <= w.end)
          .map(s => ctx.jobs.jobsStartedIn(s.start, s.end)).sum
        window ++
          phase.groupBy(p => (p._1, p._2)).map { case ((f, ph), xs) =>
            s"query.$f.${ph}_s" -> xs.map(_._3).sum / passTimes.size
          } ++
          perQuery.map { case (n, xs) => s"query.$n.s" -> Stats.median(xs.toSeq) } ++
          familyTimes.map { case (f, xs) => s"query.${f}_pass_s" -> Stats.median(xs.toSeq) } +
          ("query.jobs" -> jobs.toDouble / passTimes.size) +
          ("trace.pass_s" -> Stats.median(passTimes.toSeq)) +
          ("jvm.heap_peak_mb" -> Stats.median(peaks.toSeq))
      }
    Outcome(ctx.attempted, ctx.failed, endToEnd, perLayer, passTimes.toSeq)
  }
}

/** The exact, engine-neutral result hash `corpus.py oracle` also computes:
  * columns in name order, rows in result order, doubles by their bits,
  * timestamps as epoch microseconds. It covers the output types queries
  * may declare (QueryDef's output-type contract) plus decimals and arrays;
  * any other type fails the check.
  */
object ResultHash {
  def apply(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update((order.map(i => enc(r.get(i))).mkString("\u0001") + "\n").getBytes(StandardCharsets.UTF_8))
    }
    md.digest().take(16).map("%02x".format(_)).mkString
  }

  private def micros(seconds: Long, nanos: Int): Long = seconds * 1000000L + nanos / 1000

  def enc(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => s"I$x"
    case x: Short => s"I$x"
    case x: Int => s"I$x"
    case x: Long => s"I$x"
    case x: Float => "D" + f"${java.lang.Double.doubleToLongBits(x.toDouble)}%016x"
    case x: Double => "D" + f"${java.lang.Double.doubleToLongBits(x)}%016x"
    case s: String => "S" + s
    case t: java.sql.Timestamp => "M" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC); "M" + micros(i.getEpochSecond, i.getNano)
    case t: java.time.Instant => "M" + micros(t.getEpochSecond, t.getNano)
    case d: java.sql.Date => "E" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "E" + d.toEpochDay
    case d: java.math.BigDecimal => "X" + d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => "X" + d.bigDecimal.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(enc).mkString("[", ",", "]")
  }
}
