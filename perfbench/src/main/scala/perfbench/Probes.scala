package perfbench

import java.nio.file.{FileAlreadyExistsException, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.sinks.{CommitStore, ObjectStore, TaskIO}
import graft.sources.{CopyTransport, FileTransport}

/** One timed interval of the benchmark's own code, around a call into a
  * layer. `name` is `<layer>/<what>`; times are epoch nanoseconds.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '/')
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the single client thread. Calls from other
  * threads (store calls made by a sink's helper pools) run untraced; their
  * counts still reach the counters. A disabled tracer only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  private val owner = Thread.currentThread()
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def now: Long = System.nanoTime() + epochOffset

  def span[T](name: String)(body: => T): T =
    if (!enabled || (Thread.currentThread() ne owner)) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = now
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, name, t0, now)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Writes every span as one JSON array (name, start, end, parent, run). */
  def dump(path: Path, runId: String): Unit = {
    val rows = Json.mapper.createArrayNode()
    done.sortBy(_.id).foreach { s =>
      rows.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("start_ns", s.start).put("end_ns", s.end).put("run", runId)
    }
    Json.mapper.writeValue(path.toFile, rows)
  }
}

object Spans {
  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Self time per layer: each span's duration minus what its children
    * cover, summed by the span's layer.
    */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        (s.end - s.start - covered(ch, s.start, s.end)) / 1e9
      }.sum
    }
  }

  /** Share of `root`'s duration its direct children cover. */
  def coverage(spans: Seq[Span], root: Span): Double = {
    val ch = spans.filter(_.parent == root.id).map(c => (c.start, c.end))
    covered(ch, root.start, root.end).toDouble / math.max(1L, root.end - root.start)
  }
}

/** Spark runtime counters, from a listener the benchmark registers: jobs
  * with their wall intervals, tasks, task CPU and shuffle bytes.
  */
final class JobProbe(spark: SparkSession) extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, Long]()
  private val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  val jobs = new AtomicLong()
  val tasks = new AtomicLong()
  val taskCpuNs = new AtomicLong()
  val taskRunMs = new AtomicLong()
  val shuffleBytes = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    starts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach(t0 => intervals.add((t0 * 1000000L, e.time * 1000000L)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    tasks.incrementAndGet()
    taskCpuNs.addAndGet(m.executorCpuTime)
    taskRunMs.addAndGet(m.executorRunTime)
    shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
  }

  /** Blocks until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)

  /** Epoch-ns time within [lo, hi] during which at least one job ran. */
  def jobCoveredNs(lo: Long, hi: Long): Long = Spans.covered(intervals.asScala.toSeq, lo, hi)

  /** Jobs that started within [lo, hi] (epoch ns). */
  def jobsStartedIn(lo: Long, hi: Long): Int =
    intervals.asScala.count { case (a, _) => a >= lo && a <= hi }

  def snapshot: JobProbe.Snap = {
    drain()
    JobProbe.Snap(jobs.get, tasks.get, taskCpuNs.get, taskRunMs.get, shuffleBytes.get)
  }
}

object JobProbe {
  final case class Snap(jobs: Long, tasks: Long, cpuNs: Long, runMs: Long, shuffleBytes: Long) {
    def -(o: Snap): Snap =
      Snap(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs, shuffleBytes - o.shuffleBytes)
  }

  def install(spark: SparkSession): JobProbe = {
    val p = new JobProbe(spark)
    spark.sparkContext.addSparkListener(p)
    p
  }
}

/** Per-operation tallies of a [[CountingStore]]: count, bytes and seconds
  * for each store operation, plus lost put-if-absent races.
  */
final class StoreCounters {
  private val counts = new ConcurrentHashMap[String, (AtomicLong, AtomicLong, AtomicLong)]()
  val conflicts = new AtomicLong()

  /** Forgets every tally, so that a warm-up does not count. */
  def reset(): Unit = { counts.clear(); conflicts.set(0L) }

  def record[T](op: String, bytes: => Long)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val c = counts.computeIfAbsent(op, _ => (new AtomicLong, new AtomicLong, new AtomicLong))
      c._1.incrementAndGet()
      c._2.addAndGet(bytes)
      c._3.addAndGet(System.nanoTime() - t0)
    }
  }

  def metrics: Map[String, Double] =
    CountingStore.Ops.flatMap { op =>
      val (n, b, ns) = Option(counts.get(op)).map(c => (c._1.get, c._2.get, c._3.get)).getOrElse((0L, 0L, 0L))
      Seq(s"store.$op.count" -> n.toDouble, s"store.$op.bytes" -> b.toDouble,
        s"store.$op.s" -> ns / 1e9)
    }.toMap + ("store.conflicts" -> conflicts.get.toDouble)
}

/** Delegating store wrappers: every call is forwarded unchanged, counted
  * and (on the client thread) traced as a `sinks.store` span. `taskIO` is
  * forwarded too, so the sinks keep their task-side publish path.
  */
object CountingStore {
  val Ops = Seq("putIfAbsent", "putObject", "readObject", "listPrefix", "deleteObject")

  def apply(inner: CommitStore, c: StoreCounters, t: Tracer): CommitStore = inner match {
    case o: ObjectStore => new CountingObjectStore(o, c, t)
    case s => new CountingCommitStore(s, c, t)
  }

  private[perfbench] def putIfAbsent(inner: CommitStore, c: StoreCounters, t: Tracer,
      target: Path, bytes: Array[Byte]): Unit =
    t.span("sinks.store/putIfAbsent") {
      c.record("putIfAbsent", bytes.length.toLong) {
        try inner.putIfAbsent(target, bytes)
        catch { case e: FileAlreadyExistsException => c.conflicts.incrementAndGet(); throw e }
      }
    }
}

final class CountingCommitStore(inner: CommitStore, c: StoreCounters, t: Tracer)
    extends CommitStore {
  override def putIfAbsent(target: Path, bytes: Array[Byte]): Unit =
    CountingStore.putIfAbsent(inner, c, t, target, bytes)
  override def taskIO: Option[TaskIO] = inner.taskIO
}

final class CountingObjectStore(inner: ObjectStore, c: StoreCounters, t: Tracer)
    extends ObjectStore {
  override def putIfAbsent(target: Path, bytes: Array[Byte]): Unit =
    CountingStore.putIfAbsent(inner, c, t, target, bytes)
  override def taskIO: Option[TaskIO] = inner.taskIO
  override def putObject(target: Path, bytes: Array[Byte]): Unit =
    t.span("sinks.store/putObject") {
      c.record("putObject", bytes.length.toLong)(inner.putObject(target, bytes))
    }
  override def deleteObject(target: Path): Unit =
    t.span("sinks.store/deleteObject")(c.record("deleteObject", 0L)(inner.deleteObject(target)))
  override def listPrefix(prefix: Path): Seq[Path] =
    t.span("sinks.store/listPrefix")(c.record("listPrefix", 0L)(inner.listPrefix(prefix)))
  override def listPrefixMeta(prefix: Path): Seq[(Path, Long)] =
    t.span("sinks.store/listPrefix")(c.record("listPrefix", 0L)(inner.listPrefixMeta(prefix)))
  override def readObject(target: Path): Array[Byte] =
    t.span("sinks.store/readObject") {
      var n = 0L
      c.record("readObject", n) { val b = inner.readObject(target); n = b.length.toLong; b }
    }
}

/** A [[FileTransport]] that also adds its stream's bytes and read time to
  * [[TransportCounters]]. It runs in the load's tasks, which under
  * `local[4]` share the driver's JVM, so process-wide counters see every
  * task. (Accumulators would not: a transport travels as partition data,
  * which is deserialized before a task context exists to register them.)
  */
final case class CountingTransport(path: String) extends CopyTransport {
  override def copyOut(): Array[Byte] = {
    val t0 = System.nanoTime()
    val b = FileTransport(path).copyOut()
    TransportCounters.nanos.addAndGet(System.nanoTime() - t0)
    TransportCounters.bytes.addAndGet(b.length.toLong)
    b
  }
}

object TransportCounters {
  val bytes = new AtomicLong()
  val nanos = new AtomicLong()
}
