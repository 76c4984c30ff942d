package graft.sinks

import java.io.File
import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.FileFormatWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** The one data-file write both sinks use: a single Spark parquet write
  * whose TASKS describe and publish their own files, so the driver only
  * ever sees KB-scale descriptors — never a data byte, never a footer.
  * The shape of Delta Lake's `DelayedCommitProtocol`: one
  * `FileFormatWriter.write` under a commit protocol that
  *
  *  - names each file from (txn, task partition, per-dir file counter) at
  *    [[CommitStore.stagingFor]] of the output dir — in place on a local
  *    store, a temp dir apart from the table on an [[ObjectStore]];
  *  - on task commit runs the sink's `describe` over each file's footer
  *    (zero-row parts it rejects are deleted), publishes it through the
  *    store's [[TaskIO.publish]] when it was staged apart, and returns the
  *    descriptors as the task's commit message;
  *  - hands the descriptors, sorted by path, back to the sink, which keeps
  *    its log or manifest step and its commit.
  *
  * A failed publish does not fail its task: the failure travels back in
  * the commit message, so the job ends with every task finished before
  * the driver aborts it and rethrows the store's own exception. A task
  * that fails while writing rows deletes its own files. An aborted job
  * sweeps the output dir for the txn's names, so an uncommitted write
  * leaves no bytes behind. No `_temporary`, `_SUCCESS` or `.crc` entry is
  * ever left in the output dir.
  */
private[sinks] object TaskWrite {

  /** One published file: its path relative to the write's output dir, its
    * size and mtime, and the sink's stats for it.
    */
  final case class Written[S](rel: String, size: Long, mtime: Long, stats: S)

  /** A file's path under its partition dir from (txn, task partition,
    * per-dir file counter). Names must carry the txn: the abort sweep
    * finds a write's files by it.
    */
  type Naming = (String, Int, Int) => String

  /** Spark's own name shape, `part-<task>-<txn>-c<counter>.snappy.parquet`. */
  val sparkNames: Naming =
    (txn, task, n) => f"part-$task%05d-$txn-c$n%03d.snappy.parquet"

  /** Writes `df` under `outDir` (Hive-layout under `partitionBy`) and
    * returns what the tasks published, sorted by path. `describe(file,
    * conf)` runs in the task that wrote `file`; None drops the file.
    */
  def apply[S](store: CommitStore, df: DataFrame, outDir: File,
      partitionBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = DeltaSink.MaxRecordsPerFile,
      txn: String = java.util.UUID.randomUUID().toString,
      naming: Naming = sparkNames)(
      describe: (File, Configuration) => Option[S]): Seq[Written[S]] = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val staging = store.stagingFor(outDir)
    val io = if (staging == outDir) None else Some(store.taskIO.getOrElse(
      throw new IllegalStateException(s"$store stages data files but has no task-side IO")))
    val protocol = new Protocol[S](store, staging.getAbsolutePath,
      outDir.getAbsolutePath, txn, io, naming, describe)
    val options = Map("compression" -> "snappy",
      "maxRecordsPerFile" -> maxRecordsPerFile.toString)
    val qe = spark.sessionState.executePlan(df.queryExecution.logical)
    try {
      SQLExecution.withNewExecutionId(qe, Some("graft task write")) {
        val plan = qe.executedPlan
        val resolver = spark.sessionState.conf.resolver
        FileFormatWriter.write(spark, plan, new ParquetFileFormat(), protocol,
          FileFormatWriter.OutputSpec(staging.getAbsolutePath, Map.empty, plan.output),
          spark.sessionState.newHadoopConfWithOptions(options),
          partitionBy.map(c => plan.output.find(a => resolver(a.name, c)).getOrElse(
            throw new IllegalArgumentException(s"no partition column $c in ${df.columns.mkString(", ")}"))),
          None, Nil, options)
      }
      protocol.written
    } finally {
      if (staging != outDir) CommitStore.deleteTree(staging)
      else if (protocol.written.isEmpty) outDir.delete(): Unit // only if left empty
    }
  }

  private final class Protocol[S](@transient store: CommitStore, staging: String, outDir: String,
      txn: String, io: Option[TaskIO], naming: Naming,
      describe: (File, Configuration) => Option[S])
      extends FileCommitProtocol with Serializable {

    // task side: this attempt's files, relative to the staging dir
    @transient private var files: ArrayBuffer[String] = _
    @transient private var counters: scala.collection.mutable.Map[String, Int] = _
    // driver side
    @transient private var result: Seq[Written[S]] = Nil

    def written: Seq[Written[S]] = result

    override def setupJob(job: JobContext): Unit = ()

    override def setupTask(ctx: TaskAttemptContext): Unit = {
      files = ArrayBuffer()
      counters = scala.collection.mutable.Map()
    }

    override def newTaskTempFile(ctx: TaskAttemptContext, dir: Option[String],
        spec: FileNameSpec): String = {
      val d = dir.map(_ + "/").getOrElse("")
      val n = counters.getOrElse(d, 0)
      counters(d) = n + 1
      val rel = d + naming(txn, ctx.getTaskAttemptID.getTaskID.getId, n)
      files += rel
      new File(staging, rel).getPath
    }

    override def newTaskTempFileAbsPath(ctx: TaskAttemptContext, absoluteDir: String,
        spec: FileNameSpec): String =
      throw new UnsupportedOperationException("custom partition locations")

    /** The staged file and its Hadoop checksum sibling. */
    private def staged(rel: String): (File, File) = {
      val f = new File(staging, rel)
      (f, new File(f.getParentFile, s".${f.getName}.crc"))
    }

    /** A task the driver already gave up on publishes nothing more and
      * keeps no file written in place.
      */
    private def abandoned(): Unit =
      if (Option(TaskContext.get()).exists(_.isInterrupted()))
        throw new TaskKilledException("write abandoned")

    private def dropStaged(): Unit = if (files != null) files.foreach { rel =>
      val (f, crc) = staged(rel)
      f.delete(); crc.delete()
    }

    /** Reports the files this task published, or the failure of a
      * describe or publish.
      */
    override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
      val conf = ctx.getConfiguration
      val out = ArrayBuffer[Written[S]]()
      val outcome: Either[Throwable, Seq[Written[S]]] =
        try {
          files.foreach { rel =>
            val (f, crc) = staged(rel)
            crc.delete()
            describe(f, conf) match {
              case None => f.delete()
              case Some(stats) =>
                val w = Written(rel, f.length(), f.lastModified(), stats)
                abandoned()
                io.foreach(_.publish(f.getPath, new File(outDir, rel).getPath))
                out += w
            }
          }
          abandoned()
          Right(out.toSeq)
        } catch { case NonFatal(e) => dropStaged(); Left(e) }
      new TaskCommitMessage(outcome)
    }

    override def abortTask(ctx: TaskAttemptContext): Unit = dropStaged()

    override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit = {
      val outcomes = msgs.map(_.obj.asInstanceOf[Either[Throwable, Seq[Written[S]]]])
      outcomes.collectFirst { case Left(e) => throw e }
      result = outcomes.flatMap(_.getOrElse(Nil)).sortBy(_.rel)
    }

    /** Reclaims every object the write published — whatever under the
      * output dir carries the txn, so a task that finished after the job
      * failed is swept too.
      */
    override def abortJob(job: JobContext): Unit =
      scala.util.Try(store.listPrefix(Paths.get(outDir))).getOrElse(Nil)
        .filter(_.getFileName.toString.contains(txn))
        .foreach(p => scala.util.Try(store.deleteObject(p)))
  }
}
