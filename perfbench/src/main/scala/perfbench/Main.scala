package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: the operation tallies, the end-to-end
  * metrics (printed by an untraced run) and the per-layer metrics (printed
  * by a traced run).
  */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], perLayer: Map[String, Double], passes: Seq[Double])

/** Everything a workload needs: the session, the seeded inputs' home, the
  * measuring budget and the probes.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: Path, python: String, tools: Path) {
  val tracer = new Tracer(traced)
  val jobs: JobProbe = JobProbe.install(spark)
  private var failures = 0L
  private var attempts = 0L

  /** Runs one checked operation: counts it, and counts it failed when it
    * throws or its check returns false. The message of a failure goes to
    * stderr so that a run with failures can be diagnosed.
    */
  def attempt(what: String)(check: => Boolean): Boolean = {
    attempts += 1
    val ok =
      try check
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $what threw: $e")
        e.printStackTrace(System.err)
        false
      }
    if (!ok) {
      failures += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
    ok
  }

  private val born = System.nanoTime()

  /** Progress on stderr, with seconds since the workload started. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $what")

  def attempted: Long = attempts
  def failed: Long = failures

  /** Runs one of the benchmark's python tools to completion. */
  def python(script: String, args: String*): Unit = {
    val p = new ProcessBuilder((Seq(python, tools.resolve(script).toString) ++ args): _*)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val code = p.waitFor()
    require(code == 0, s"$script ${args.headOption.getOrElse("")} exited with $code")
  }

  def dir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }
}

/** `Main --workload <load|maintain|query> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --benchmark <BENCHMARK.json> --python <exe>
  * --tools <dir>`: runs one workload in this JVM and prints, as its last
  * stdout line, the result object `{correct, attempted, failed, metrics}`
  * with each metric's value and unit. With `--trace 1` spans and the store
  * and transport probes are live, the span dump is written to
  * `<work>/spans.json`, and the per-layer metrics are printed instead of the
  * end-to-end ones. The job listener runs in both modes.
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val t0 = System.nanoTime()
    val exit =
      try {
        val ctx = new Ctx(spark, seed, seconds, traced, work, opts("python"),
          Paths.get(opts("tools")))
        val out = workload match {
          case "load" => LoadWorkload.run(ctx)
          case "maintain" => MaintainWorkload.run(ctx)
          case "query" => QueryWorkload.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload: $other")
        }
        System.err.println(s"[perfbench] pass seconds: ${out.passes.mkString(" ")}; " +
          f"process CPU ${Heap.cpuSeconds}%.2f s, workload wall ${(System.nanoTime() - t0) / 1e9}%.2f s")
        if (traced) ctx.tracer.dump(work.resolve("spans.json"), s"$workload-$seed")
        val (metrics, key) =
          if (traced) (out.perLayer, "per_layer") else (out.endToEnd, "end_to_end")
        if (traced) System.err.println("[perfbench] measured: " +
          metrics.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
        val declared = Json.declared(Paths.get(opts("benchmark")), key)
        println(Json.result(out.failed == 0, out.attempted, out.failed, metrics,
          declared, zeroFill = traced))
        0
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $workload aborted: $e")
        e.printStackTrace(System.err)
        1
      } finally {
        graft.TempTables.cleanupNow()
        spark.stop()
      }
    System.exit(exit)
  }
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A measured value as printed: a ratio over an empty base reads 0. */
  def num(v: Double): Double = if (v.isNaN || v.isInfinite) 0.0 else v

  /** The result line. `declared` is BENCHMARK.json's list for
    * this mode, in order: every declared metric is printed, a per-layer one
    * the workload does not touch as 0.
    */
  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, Double], declared: Seq[(String, String)],
      zeroFill: Boolean): String = {
    val undeclared = metrics.keySet -- declared.map(_._1)
    require(undeclared.isEmpty, s"metrics missing from BENCHMARK.json: ${undeclared.toSeq.sorted}")
    val root = mapper.createObjectNode()
    root.put("correct", correct).put("attempted", attempted).put("failed", failed)
    val ms = root.putObject("metrics")
    declared.foreach { case (k, unit) =>
      val v = metrics.getOrElse(k,
        if (zeroFill) 0.0 else throw new IllegalStateException(s"metric $k not measured"))
      ms.putObject(k).put("value", num(v)).put("unit", unit)
    }
    mapper.writeValueAsString(root)
  }

  /** (name, unit) of the metrics BENCHMARK.json declares under `key`. */
  def declared(benchmarkJson: Path, key: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(benchmarkJson.toFile).get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
  }
}

/** Order statistics over timings. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Runs a workload's set-up `reps + 1` times and returns every result
    * with `setup_s`: the median seconds of all but the first run, whose
    * class loading and JIT would otherwise decide the spread.
    */
  def setUp[T](reps: Int)(body: Int => T): (Seq[T], Double) = {
    val runs = (0 to reps).map(i => time(body(i)))
    (runs.map(_._1), median(runs.tail.map(_._2)))
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Old-generation heap peak since the last [[Heap.reset]] (a full GC and
  * a peak reset): where promoted objects and G1's humongous objects, such
  * as a whole buffered COPY stream, live.
  */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  private def oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))

  def reset(): Unit = {
    System.gc()
    oldPools.foreach(_.resetPeakUsage())
  }

  def peakMb: Double = oldPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}
