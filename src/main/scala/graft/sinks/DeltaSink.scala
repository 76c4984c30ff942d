package graft.sinks

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types._

/** Hand-rolled Delta Lake sink + reader (reference P10).
  *
  * delta-spark is absent from /opt/spark/jars (SURVEY.md §7.1), so — exactly
  * like the reference, which hand-rolls the commit protocol in Rust
  * (/root/reference/src/delta_destination.rs:392-477) — this writes the
  * `_delta_log` JSON actions directly:
  *
  *  - refuse-unless-overwrite when the target already contains data
  *    (delta_destination.rs:414-427: logs and returns without writing);
  *  - overwrite deletes existing contents first (:429-432);
  *  - version 0 commit = protocol action PINNED TO v1 readers/writers
  *    (:446-458) + metaData;
  *  - version 1 commit = one Add action per data file with numRecords stats
  *    (:460-470) — the exact two-commit create/append shape asserted by the
  *    reference's integration test (tests/basic_integration.rs:48-58);
  *  - every version leads with a `commitInfo` naming its operation, with
  *    delta-spark's `operationParameters`/`operationMetrics` — every log
  *    version is written by ONE encoder, [[commitVersion]].
  *
  * Beyond the reference's create/overwrite (it never appends to Delta and
  * has no maintenance verbs), the sink completes the protocol the way a
  * long-lived 100 TB table needs:
  *
  *  - [[append]]: one new log version per transaction with OCC retry;
  *    `mergeSchema=true` additionally evolves the table by APPENDING new
  *    nullable columns (common prefix matched by name+type; the updated
  *    metaData action commits atomically with the adds; table id and
  *    createdTime preserved) — delta-spark's append-time schema
  *    evolution. A concurrent schema change aborts the evolving append
  *    with ConcurrentModificationException (delta-spark's
  *    MetadataChangedException contract) instead of clobbering it;
  *  - partitioned layout: `partitionBy` writes Hive-style `col=value/` dirs,
  *    records `partitionColumns` in metaData and per-file `partitionValues`
  *    in every add action — the reader hands Spark the partition dirs so
  *    Catalyst partition-prunes scans on those columns for free;
  *  - [[checkpoint]]: parquet snapshot of the log state + `_last_checkpoint`
  *    pointer, so readers replay O(commits-since-checkpoint) JSON files
  *    instead of the whole history (a daily-append table is unreadable at
  *    version 10k otherwise). Auto-taken every [[CheckpointInterval]]
  *    appends, mirroring delta-spark's default cadence;
  *  - [[compact]]: bin-packs live files into `maxRecordsPerFile`-sized ones
  *    per partition and commits remove+add with `dataChange=false` — the
  *    OPTIMIZE verb; small-file pileup is the first thing that kills scan
  *    throughput under frequent appends.
  *
  * Data files are written by Spark's parquet writer with snappy compression
  * and maxRecordsPerFile = 2,097,152 (reference P7/P8 constants,
  * delta_destination.rs:43,439). Divergence: the reference also pins
  * 122,880-ROW parquet row groups; parquet-java sizes row groups in BYTES
  * (parquet.block.size), so the row-count knob has no direct equivalent —
  * the write path keeps the writer default. Log commits are atomic via
  * [[CommitStore.putIfAbsent]] — the single-writer equivalent of the reference's
  * conditional-put (delta_destination.rs:377-389 downgrades
  * copy_if_not_exists the same way).
  *
  * PROTOCOL: a table starts at Delta protocol (1, 1) — the reference's
  * pin (delta_destination.rs:446-458) — unless its schema holds a VARIANT
  * column, and only an opt-in verb raises it, in the commit that starts
  * using the feature. [[Features]] is the feature table (each feature's
  * legacy pair, whether readers must know it, the verb that turns it on);
  * the encoder picks the protocol from it once for every verb. Deletion
  * vectors are spec-format sidecars (framed + CRC'd portable
  * RoaringBitmapArray, base85 "u" descriptors) external readers parse.
  * [[resolve]]'s reader gate refuses a reader feature outside the table,
  * and [[writable]] a writer version above 7.
  */
object DeltaSink {
  private val mapper = new ObjectMapper()
  val MaxRecordsPerFile = 2097152L

  /** Appends auto-checkpoint at every multiple of this version number —
    * delta-spark's default `delta.checkpointInterval` is likewise 10.
    */
  val CheckpointInterval = 10

  private def logDir(table: String) = Paths.get(table, "_delta_log")
  private def versionFile(table: String, v: Long) =
    logDir(table).resolve(f"$v%020d.json")
  private def checkpointFile(table: String, v: Long) =
    logDir(table).resolve(f"$v%020d.checkpoint.parquet")
  private def lastCheckpointFile(table: String) =
    logDir(table).resolve("_last_checkpoint")

  private def esc(s: String): String = mapper.writeValueAsString(s)

  /** COLUMN MAPPING (Delta protocol reader 2 / writer 5, mode "name"):
    * once [[renameColumn]]/[[dropColumn]] enable it, every field carries
    * `delta.columnMapping.physicalName` (+ a stable `.id`) in the schema
    * metadata; data files store PHYSICAL column names (existing columns
    * upgrade with physicalName = their then-current name, so every file
    * ever written is already physical), renames change only the LOGICAL
    * name, and drops remove the field while its physical column stays in
    * old files, unread. Readers project physical→logical; writers rename
    * logical→physical before staging.
    */
  private val PhysNameKey = "delta.columnMapping.physicalName"
  private val MapIdKey = "delta.columnMapping.id"
  /** Spec key: a generated column's SQL expression rides its StructField
    * metadata in schemaString (Delta spec §Generated Columns).
    */
  private val GenExprKey = "delta.generationExpression"

  private def physName(f: StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
    else f.name

  private def mappingEnabled(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(PhysNameKey))

  /** The table properties a column-mapped table must DECLARE in its
    * metaData action's configuration (Delta spec: a reader defaults to
    * mode "none" and would resolve parquet by logical names — silently
    * reading NULLs after any rename — unless the mode property says
    * otherwise): mode "name" plus the high-water column id.
    */
  private def mappingConfig(schema: StructType): Map[String, String] =
    if (!mappingEnabled(schema)) Map.empty
    else Map(
      "delta.columnMapping.mode" -> "name",
      "delta.columnMapping.maxColumnId" -> maxMapId(schema).toString)

  /** Highest assigned column-mapping id anywhere in the schema, nested
    * fields included — the `delta.columnMapping.maxColumnId` property and
    * the floor fresh ids are minted above.
    */
  private def maxMapId(dt: DataType): Long = dt match {
    case st: StructType => st.fields.map(f => math.max(
      if (f.metadata.contains(MapIdKey)) f.metadata.getLong(MapIdKey) else 0L,
      maxMapId(f.dataType))).foldLeft(0L)(math.max)
    case ArrayType(et, _) => maxMapId(et)
    case MapType(k, v, _) => math.max(maxMapId(k), maxMapId(v))
    case _ => 0L
  }

  /** Logical→physical rename for staging writes (no-op without mapping);
    * columns outside the schema (e.g. `_change_type`) pass through.
    */
  private def toPhysical(df: DataFrame, schema: StructType): DataFrame = {
    if (!mappingEnabled(schema)) return df
    import org.apache.spark.sql.functions.col
    val byName = schema.fields.map(f => f.name -> physName(f)).toMap
    df.select(df.columns.toIndexedSeq.map { c =>
      byName.get(c).filter(_ != c).map(p => col(c).as(p)).getOrElse(col(c))
    }: _*)
  }

  /** The schema as data files carry it: physical names, no mapping
    * metadata anywhere (the parquet reader must not chase it). Nested
    * fields keep their names — only top-level columns are
    * rename-addressable, so nested physical names always equal their
    * logical ones; their stamped metadata still has to go.
    */
  private def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      f.copy(name = physName(f),
        dataType = clearMappingMeta(f.dataType),
        metadata = org.apache.spark.sql.types.Metadata.empty)))

  private def clearMappingMeta(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f => f.copy(
      dataType = clearMappingMeta(f.dataType),
      metadata = org.apache.spark.sql.types.Metadata.empty)))
    case ArrayType(et, n) => ArrayType(clearMappingMeta(et), n)
    case MapType(k, v, n) => MapType(clearMappingMeta(k), clearMappingMeta(v), n)
    case other => other
  }

  /** A deletion-vector descriptor on an add action (reader v3 / writer
    * v7), in the Delta spec's own vocabulary: `storageType` "u" stores
    * `pathOrInlineDv` = `<prefix><RFC-1924-base85 uuid>` with the sidecar
    * at `<table>/<prefix>/deletion_vector_<uuid>.bin`; "p" stores an
    * absolute path (this engine also accepts a table-RELATIVE "p" for its
    * own pre-spec descriptors). `offset` addresses the DV's blob inside
    * the spec-framed file; `sizeInBytes` is the blob's dataSize (not the
    * file length); `cardinality` lets metadata-only consumers (fileStats)
    * subtract without opening anything.
    */
  private[sinks] case class DvInfo(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Long, cardinality: Long)

  /** The prefix DV sidecars are written under — one directory per table,
    * so [[vacuum]] sweeps a single listing (real writers scatter random
    * prefixes for S3 key sharding; a prefix is an arbitrary string per
    * the spec, and locality beats sharding on every store that isn't
    * 2010-era S3).
    */
  private[sinks] val DvPrefix = "deletion_vectors"

  /** Table-relative sidecar path of a DV descriptor, or None when the
    * descriptor has no sidecar at all ("i" carries its bits inline) or
    * points outside the table (an absolute "p" elsewhere) — those are
    * never vacuum-tracked.
    */
  private def dvRelPath(table: String, dv: DvInfo): Option[String] = dv.storageType match {
    case "u" =>
      val prefix = dv.pathOrInlineDv.dropRight(20)
      val uuid = graft.functions.DeletionVector.decodeUuid(dv.pathOrInlineDv.takeRight(20))
      Some((if (prefix.isEmpty) "" else prefix + "/") + s"deletion_vector_$uuid.bin")
    case "p" if !dv.pathOrInlineDv.startsWith("/") => Some(dv.pathOrInlineDv)
    case "p" =>
      val tableAbs = new File(table).getAbsolutePath + "/"
      if (dv.pathOrInlineDv.startsWith(tableAbs))
        Some(dv.pathOrInlineDv.stripPrefix(tableAbs))
      else None
    case "i" => None
    case other => throw new IllegalArgumentException(
      s"unsupported deletion-vector storageType: $other")
  }

  /** The sidecar file a DV descriptor resolves to. */
  private def dvFile(table: String, dv: DvInfo): File =
    dvRelPath(table, dv).map(rel => new File(table, rel))
      .getOrElse(new File(dv.pathOrInlineDv))

  /** Reads + parses a descriptor's bitmap: INLINE descriptors ("i",
    * spec: pathOrInlineDv = base85 of the raw portable bitmap, no file)
    * decode in place; spec-framed sidecars (offset present) verify
    * version/size/CRC/magic; sidecar descriptors WITHOUT an offset are
    * this engine's pre-spec raw-Roaring64 files, kept readable so
    * r13-era tables replay. `read` is the caller's byte I/O, so a TASK
    * can run it too (executors hold a [[TaskIO]], never the driver's
    * store handle).
    */
  private[sinks] def dvBitmapBytes(table: String, dv: DvInfo,
      read: String => Array[Byte]): Array[Byte] = {
    if (dv.storageType == "i") {
      // base85 works in 4-byte blocks, so encoders zero-pad the tail;
      // sizeInBytes recovers the true payload length
      val decoded = graft.functions.DeletionVector.base85Decode(dv.pathOrInlineDv)
      require(decoded.length >= dv.sizeInBytes,
        s"inline DV shorter than its declared size: ${decoded.length} < ${dv.sizeInBytes}")
      return graft.functions.DeletionVector.serialize(
        graft.functions.DeletionVector.fromPortable(
          decoded.take(dv.sizeInBytes.toInt)))
    }
    val raw = read(dvFile(table, dv).getAbsolutePath)
    dv.offset match {
      case Some(off) => graft.functions.DeletionVector.serialize(
        graft.functions.DeletionVector.readDvFile(raw, off, dv.sizeInBytes))
      case None => raw
    }
  }

  /** Touched files per DV SHARD file — the DV write path shards touched
    * files by path hash and each shard packs this many files' bitmaps in
    * ONE task into ONE multi-DV sidecar (bounded task memory), so a
    * 10^6-file delete lands ~1k sidecar objects — not 10^6 tiny blobs and
    * never one driver-assembled monolith. Point deletes (≤ this many
    * touched files) keep producing a single sidecar per commit.
    * Test/tuning override: -Dgraft.dv.filesPerShard=N.
    */
  private[sinks] def FilesPerDvShard: Int =
    sys.props.get("graft.dv.filesPerShard").map(_.toInt).getOrElse(1024)

  /** Live adds per v2-checkpoint sidecar BUCKET. Buckets are the unit of
    * incremental reuse: a re-checkpoint rewrites only buckets whose
    * content changed, so smaller buckets mean finer reuse but more
    * objects. 50k adds ≈ a few MB of parquet per sidecar; a 10^6-file
    * table carries ~32 buckets (power-of-two ratchet). Test/tuning
    * override: -Dgraft.ckpt.addsPerSidecar=N.
    */
  private[sinks] def AddsPerCkptSidecar: Long =
    sys.props.get("graft.ckpt.addsPerSidecar").map(_.toLong).getOrElse(50000L)

  /** Packs ONE shard of (file → fresh bitmap bytes) into ONE spec multi-DV
    * sidecar file ([[DvPlane.Packer]]): merges each file's fresh bitmap
    * with its existing descriptor's (vectors are cumulative in Delta —
    * OR-merge) and frames all payloads back to back
    * ([[graft.functions.DeletionVector.frameDvFileMulti]]). Pure function
    * of its inputs, so a task and the driver pack the same bytes.
    */
  private[sinks] def packDvShard(table: String, shardId: Int,
      entries: Seq[(String, Array[Byte])], oldByRel: Map[String, DvInfo],
      read: String => Array[Byte]): (Array[Byte], Seq[DvPlane.DvDesc]) = {
    val D = graft.functions.DeletionVector
    val merged = entries.sortBy(_._1).map { case (rel, fresh) =>
      val freshCard = D.deserialize(fresh).getLongCardinality
      val bytes = oldByRel.get(rel) match {
        case Some(old) => D.merge(dvBitmapBytes(table, old, read), fresh)
        case None => fresh
      }
      val bm = D.deserialize(bytes)
      (rel, D.toPortable(bm), bm.getLongCardinality, freshCard)
    }
    val (fileBytes, offsets) = D.frameDvFileMulti(merged.map(_._2))
    val descs = merged.zip(offsets).map {
      case ((rel, _, card, freshCard), (offset, dataSize)) =>
        DvPlane.DvDesc(rel, shardId, fileBytes.length.toLong, offset.toLong,
          dataSize.toLong, card, freshCard)
    }
    (fileBytes, descs)
  }

  /** Table-relative path of a DV write's shard sidecar. */
  private def dvShardRel(txn: java.util.UUID, shard: Int): String =
    s"$DvPrefix/deletion_vector_${DvPlane.shardUuid(txn, shard)}.bin"

  /** A data file's absolute location: add paths are table-relative,
    * except a SHALLOW CLONE's ([[cloneTable]]), which are absolute
    * pointers into the source table (spec: add.path may be either).
    */
  private def dataAbs(table: String, path: String): String =
    if (path.startsWith("/")) path
    else new File(table, path).getAbsolutePath

  /** One live data file in the replayed table state. `baseRowId`: row
    * tracking (spec §Row Tracking) — the id of this file's first row.
    */
  private case class AddEntry(path: String, partitionValues: Map[String, String],
      size: Long, modificationTime: Long, stats: String,
      dv: Option[DvInfo] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  /** One resolved snapshot of the `_delta_log` ([[resolve]]): the
    * metadata plane (id, schema, layout, protocol and its feature lists,
    * table configuration, domain metadata) and the live adds, sorted by
    * path. `txns` is the streaming-writer watermark map: appId → highest
    * committed transaction version (Delta's `txn` action).
    */
  private case class Snapshot(version: Long, id: String, createdTime: Long,
      schema: StructType, partitionColumns: Seq[String],
      minReader: Int, minWriter: Int,
      readerFeatures: Seq[String], writerFeatures: Seq[String],
      configuration: Map[String, String], domains: Map[String, String],
      txns: Map[String, Long], live: Seq[AddEntry])

  /** Clusters rows by the table's partition columns before a PARTITIONED
    * write (guide §6 — Iceberg's `write.distribution-mode=hash`, Delta's
    * optimized write): without it every write task emits one file per
    * partition value it happens to hold, so a day-partitioned ingest at
    * T tasks × D days commits T·D tiny files — measured as
    * q_delta_generated running 48 s at the 5× corpus (~2400 files per
    * write, ~19× the 1× time). Hash-clustering makes the file count ∝
    * distinct partition values (linear in data), `maxRecordsPerFile`
    * still splits an oversized partition into multiple files, and AQE may
    * coalesce the REPARTITION_BY_COL output. Known trade at 100 TB: one
    * giant partition value funnels into one task — split such tables by a
    * finer transform (that is a layout decision, not a writer default).
    */
  private def clusterByPartitions(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df
    else df.repartition(cols.map(org.apache.spark.sql.functions.col): _*)

  /** Writes `df` as a brand-new Delta table. Returns true if written; false
    * if the target was non-empty and overwrite was not requested (the
    * reference's refuse-and-return, delta_destination.rs:421-427).
    * `partitionBy` lays the table out in Hive-style partition directories
    * recorded in the log (see object doc).
    */
  def write(df: DataFrame, table: String, overwrite: Boolean = false,
      maxRecordsPerFile: Long = MaxRecordsPerFile,
      partitionBy: Seq[String] = Nil,
      store: CommitStore = CommitStore.Local): Boolean = {
    val dir = new File(table)
    val existing = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    if (existing.nonEmpty) {
      if (!overwrite) return false
      existing.foreach(CommitStore.deleteTree)
    }
    // Data files: a local store lets the write tasks put them straight
    // into the table; on an ObjectStore each task PUBLISHES its files
    // through the store's multipart upload — the reference's single
    // pipeline (delta_destination.rs:70-229: upload data files, then
    // conditionally put the commit). The refuse-unless-overwrite decision
    // was already taken above, and the target has been emptied by then.
    // A lost claim reclaims the files; a failed v1 leaves an empty table
    Txn(store) { txn =>
      val adds = writeStaged(txn, dir, clusterByPartitions(df, partitionBy),
        partitionBy, maxRecordsPerFile, java.util.UUID.randomUUID().toString,
        TaskWrite.sparkNames)
      // Reference semantics: sink schemas are nullable-by-default (SURVEY.md
      // §1.2; pg_arrow_source.rs:233 sets nullable=true unconditionally), and
      // Spark file scans surface nullable columns anyway.
      create(txn, table, freshTable(),
        Commit("CREATE TABLE", schema = Some(nullable(df.schema)),
          partitionColumns = Some(partitionBy),
          features = if (hasVariant(df.schema)) Set("variantType") else Set.empty),
        Commit("WRITE", Seq("mode" -> (if (overwrite) "Overwrite" else "ErrorIfExists"),
          "partitionBy" -> jsonList(partitionBy)), adds = adds))
    }
    true
  }

  /** THE create, shared by [[write]], [[convertFromIceberg]] and
    * [[cloneTable]]: `meta` commits version 0 (protocol + metaData) over
    * `base`, the fresh-table skeleton, and `data` version 1 (the adds) —
    * the reference's two-commit layout. `dropOnFailure` deletes version 0
    * again when version 1 fails, so a metadata-only create leaves no table
    * behind.
    */
  private def create(t: Txn, table: String, base: Snapshot, meta: Commit,
      data: Commit, dropOnFailure: Boolean = false): Unit = {
    Files.createDirectories(logDir(table))
    commitVersion(t, table, base, 0L, meta)
    try commitVersion(t, table, base, 1L, data)
    catch { case e: Throwable if dropOnFailure =>
      scala.util.Try(t.store.deleteObject(versionFile(table, 0)))
      throw e
    }
  }

  /** The base a create commits over: no version yet, a fresh id, born
    * now, protocol (1, 1).
    */
  private def freshTable(): Snapshot =
    Snapshot(-1L, java.util.UUID.randomUUID().toString, System.currentTimeMillis(),
      new StructType(), Nil, 1, 1, Nil, Nil, Map.empty, Map.empty, Map.empty, Nil)

  /** CREATES a Delta table with GENERATED COLUMNS (spec §Generated
    * Columns, `delta.generationExpression` field metadata + writer v4):
    * each (name → SQL expression) column is computed from the frame,
    * appended to the schema with its expression stamped in the field
    * metadata, and from then on EVERY append either computes the column
    * (when omitted) or verifies the provided values in-plan — see
    * [[append]]. The headline use at 100 TB is Delta's answer to hidden
    * partitioning: partition by a generated `date(ts)` column and writers
    * never hand-maintain it, while readers partition-prune on it.
    */
  def writeGenerated(df: DataFrame, table: String,
      generated: Map[String, String],
      partitionBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = MaxRecordsPerFile,
      store: CommitStore = CommitStore.Local): Boolean = {
    import org.apache.spark.sql.functions.expr
    require(generated.nonEmpty, "writeGenerated needs at least one column")
    generated.keys.foreach(n => require(!df.columns.contains(n),
      s"generated column $n already exists in the frame"))
    val withCols = generated.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, ex)) =>
      val m = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(GenExprKey, ex).build()
      d.withColumn(n, expr(ex).as(n, m))
    }
    val ok = write(withCols, table, overwrite = false, maxRecordsPerFile,
      partitionBy, store)
    // generated columns are a WRITER feature: legacy v4 (spec) — bumped
    // in a follow-up protocol commit so pre-v4 writers refuse the table
    if (ok) Txn(store)(commitVersion(_, table, resolve(df.sparkSession, table, None),
      2L, Commit("UPGRADE PROTOCOL", features = Set("generatedColumns"))))
    ok
  }

  /** CONVERT an Iceberg table to Delta IN PLACE — METADATA-ONLY (the
    * reverse of [[IcebergSink.convertFromDelta]]; together they are the
    * UniForm pattern in both directions): mints the standard two-commit
    * `_delta_log` (protocol + metaData, then one add per live Iceberg
    * data file with its manifest record_count as numRecords stats and its
    * typed partition values stringified into the Hive codec) alongside
    * `metadata/`, moving zero data bytes. Identity partitioning maps
    * 1:1 — both formats drop the column from the files and carry the
    * value in table metadata; hidden (transform) partitioning,
    * partition-evolved layouts and live MoR deletes refuse. Both
    * front-ends then evolve independently; each side's janitor treats the
    * other's live files as referenced ([[vacuum]] /
    * [[IcebergSink.expireSnapshots]] guards). Returns the file count.
    */
  def convertFromIceberg(spark: SparkSession, table: String,
      store: CommitStore = CommitStore.Local): Int = {
    require(!Files.exists(logDir(table)), s"$table is already a Delta table")
    val (schema, partCols, files) = IcebergSink.inventoryForConvert(table)
    val dir = new File(table)
    def strPv(v: Any, colName: String): String = v match {
      case null => null
      case i: Integer if schema(colName).dataType ==
        org.apache.spark.sql.types.DateType =>
        java.time.LocalDate.ofEpochDay(i.toLong).toString
      case other => String.valueOf(other)
    }
    val adds = files.map { case (absPath, pvals, n) =>
      val f = new File(absPath)
      require(f.getAbsolutePath.startsWith(dir.getAbsolutePath + File.separator),
        s"data file outside the table root cannot convert: $absPath")
      AddEntry(dir.toPath.relativize(f.toPath).toString,
        partCols.map(c => c -> strPv(pvals.getOrElse(c, null), c)).toMap,
        f.length(), f.lastModified(), s"""{"numRecords":$n}""")
    }
    val params = Seq("sourceFormat" -> "iceberg")
    Txn(store)(create(_, table, freshTable(),
      Commit("CONVERT", params, schema = Some(nullable(schema)),
        partitionColumns = Some(partCols)),
      Commit("CONVERT", params, adds = adds), dropOnFailure = true))
    adds.size
  }

  /** SHALLOW CLONE — a zero-copy table copy (Delta CLONE semantics): the
    * clone gets its OWN log (fresh table id, version 0/1) whose add
    * actions point at the SOURCE's data files by absolute path (spec:
    * `add.path` may be relative or absolute — absolute is exactly the
    * shallow-clone encoding). No data byte moves at any table size, so a
    * 100 TB production table clones in milliseconds for experimentation;
    * the clone then evolves independently — appends land clone-local
    * files, CoW/DV deletes rewrite or mask only what they touch, vacuum
    * on the clone never reclaims source files (they live outside its
    * root). Deletion-vector descriptors absolutize the same way ("u"
    * sidecars become absolute-"p" pointers into the source). The source's
    * protocol (feature lists included) and column-mapping schema carry
    * over verbatim — physical names keep resolving the source's parquet.
    * Partitioned sources refuse for now: this reader derives partition
    * values via directory discovery under the table root, which absolute
    * outside paths cannot join. CAVEAT (same as every shallow-clone
    * implementation): vacuuming the SOURCE can reclaim files the clone
    * still references — retention policy must outlive clones. Returns
    * the number of files referenced.
    */
  def cloneTable(spark: SparkSession, source: String, target: String,
      store: CommitStore = CommitStore.Local): Int = {
    val meta = resolve(spark, source, None)
    require(meta.partitionColumns.isEmpty,
      "shallow clone of a partitioned table is not supported yet: the " +
        "reader derives partition values by directory discovery, which " +
        "absolute source paths cannot join")
    val dir = new File(target)
    require(Option(dir.listFiles()).forall(_.isEmpty),
      s"clone target is not empty: $target")
    val adds = meta.live.map { a =>
      a.copy(path = dataAbs(source, a.path),
        dv = a.dv.map { d =>
          if (d.storageType == "i") d // inline bits travel in the log itself
          else DvInfo("p", dvFile(source, d).getAbsolutePath,
            d.offset, d.sizeInBytes, d.cardinality)
        })
    }
    // the clone starts from the source's protocol and carries its table
    // properties — CHECK constraints included (real CLONE copies them).
    // An ICT source's clone RESTARTS its own commit clock: the encoder
    // re-pins the enablement properties at the clone's v0, which it stamps
    val params = Seq("source" -> source, "sourceVersion" -> meta.version.toString,
      "isShallow" -> "true")
    Txn(store)(create(_, target, freshTable().copy(minReader = meta.minReader,
        minWriter = meta.minWriter, readerFeatures = meta.readerFeatures,
        writerFeatures = meta.writerFeatures),
      Commit("CLONE", params, schema = Some(meta.schema),
        configuration = Some(meta.configuration)),
      Commit("CLONE", params, adds = adds)))
    adds.size
  }

  /** Appends `df` to an existing Delta table as ONE new log version, with
    * optimistic-concurrency commit retry — the natural completion of the
    * reference's create/overwrite-only Delta sink (its Iceberg sink already
    * appends with OCC, iceberg_destination.rs:326-341 + lib.rs:168-196; the
    * same protocol applies here: write data files, then claim version N+1
    * with an atomic CREATE_NEW, re-reading table state on collision).
    * Append never conflicts on content (no removes), so a collision only
    * needs a version bump. The positional schema gate (P14) guards the
    * append exactly as on the Iceberg path. Respects the table's declared
    * partition layout. Returns the committed version.
    *
    * Each transaction's write tasks name their data files after its txn
    * ([[TaskWrite]]) — concurrent appenders never share a staging dir and
    * can never claim each other's files, the same unique-file-name
    * discipline real Delta writers use.
    */
  def append(df: DataFrame, table: String,
      store: CommitStore = CommitStore.Local,
      mergeSchema: Boolean = false): Long =
    append(df, table, None, store, mergeSchema)

  /** Exactly-once append for streaming writers: the commit carries a
    * `txn` action recording (appId, txnVersion), and a batch whose
    * txnVersion is ≤ the table's recorded watermark for that appId is
    * SKIPPED — so a foreachBatch sink that dies between "committed to
    * Delta" and "checkpointed by Spark" simply replays the batch into a
    * no-op instead of double-writing it. This is Delta's streaming-sink
    * idempotence protocol. Returns the committed version, or -1 if the
    * batch was already in the table.
    */
  def appendExactlyOnce(df: DataFrame, table: String, appId: String,
      txnVersion: Long, store: CommitStore = CommitStore.Local): Long =
    append(df, table, Some((appId, txnVersion)), store, mergeSchema = false)

  private def append(df0: DataFrame, table: String,
      txn0: Option[(String, Long)], store: CommitStore,
      mergeSchema: Boolean): Long = {
    val dir = new File(table)
    require(logDir(table).toFile.isDirectory, s"not a Delta table (no _delta_log): $table")
    val state = writable(df0.sparkSession, table)
    // GENERATED COLUMNS (spec §Generated Columns): a batch may OMIT a
    // generated column — the writer computes it (in schema order, so a
    // generated column may reference an earlier one) — and a batch that
    // PROVIDES one has its values verified in-plan (null-safe equality →
    // raise_error), the same zero-extra-pass discipline as CHECK
    // constraints. Both happen before the positional gate, which then
    // sees the full declared width.
    val df: DataFrame = {
      import org.apache.spark.sql.functions.{col, expr, lit, raise_error, when}
      val genCols = state.schema.fields.filter(_.metadata.contains(GenExprKey))
      genCols.foldLeft(df0) { (d, f) =>
        val ex = expr(f.metadata.getString(GenExprKey)).cast(f.dataType)
        if (!d.columns.contains(f.name)) d.withColumn(f.name, ex)
        else {
          val first = d.columns.head
          val dt = d.schema.head.dataType
          d.withColumn(first,
            when(col(f.name) <=> ex, col(first))
              .otherwise(raise_error(lit(
                s"generated column ${f.name} mismatch: expected " +
                  s"${f.metadata.getString(GenExprKey)}")).cast(dt)))
        }
      }
    }
    txn0.foreach { case (appId, v) =>
      if (state.txns.get(appId).exists(_ >= v)) return -1L
    }
    // Schema evolution (mergeSchema=true, delta-spark's append option):
    // new columns may be APPENDED — the common prefix must match by name
    // and type (stricter than the positional P14 gate: evolved metadata is
    // read by name, so a silent positional rename would orphan data), and
    // a narrower frame may omit trailing nullable columns (its files just
    // lack them; the declared-schema read fills nulls). When the table
    // schema widens, the SAME commit carries an updated metaData action —
    // atomic with the adds, table id preserved.
    def evolveAgainst(existing: StructType): Option[StructType] = {
      val n = math.min(df.schema.length, existing.length)
      val mismatches = existing.fields.take(n).zip(df.schema.fields.take(n))
        .zipWithIndex.collect {
          case ((old, nw), i) if old.name != nw.name || old.dataType != nw.dataType =>
            s"field $i: table has ${old.name}: ${old.dataType.sql}, " +
              s"incoming has ${nw.name}: ${nw.dataType.sql}"
          case ((old, nw), i) if !old.nullable && nw.nullable =>
            // same direction rule as the P14 gate: never put possibly-null
            // data into a column the table declares required
            s"field $i (${old.name}) is required in the table but nullable in the incoming data"
        }
      require(mismatches.isEmpty,
        "mergeSchema only appends new columns; common prefix must match: " +
          mismatches.mkString("; "))
      if (df.schema.length > existing.length) {
        // appended names must be fresh under Spark's default
        // case-insensitive resolution — a duplicate would commit a schema
        // spark.read.schema() rejects, bricking every subsequent read
        val taken = existing.fields.map(_.name.toLowerCase).toSet
        val fresh = df.schema.fields.drop(n).map(_.name)
        val dupes = fresh.filter(f => taken.contains(f.toLowerCase)) ++
          fresh.groupBy(_.toLowerCase).collect { case (_, vs) if vs.length > 1 => vs.head }
        require(dupes.isEmpty,
          s"mergeSchema appended columns collide (case-insensitive): ${dupes.mkString(", ")}")
        // under column mapping, ADDED columns get FRESH physical names
        // (real Delta assigns UUIDs): re-adding a dropped or renamed
        // logical name must NEVER resurrect old files' physical column of
        // that name, and toPhysical must never emit duplicates
        val nextId = existing.fields
          .filter(_.metadata.contains(MapIdKey))
          .map(_.metadata.getLong(MapIdKey)).foldLeft(0L)(math.max)
        Some(StructType(existing.fields ++
          df.schema.fields.drop(n).zipWithIndex.map { case (f, k) =>
            val f1 = f.copy(nullable = true)
            if (!mappingEnabled(existing)) f1
            else f1.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f1.metadata)
                .putLong(MapIdKey, nextId + k + 1)
                .putString(PhysNameKey,
                  s"col-${java.util.UUID.randomUUID()}").build())
          }))
      } else {
        require(existing.fields.drop(n).forall(_.nullable),
          "incoming data omits non-nullable trailing columns")
        None
      }
    }
    val evolvedSchema: Option[StructType] =
      if (!mergeSchema) { SchemaGate.enforce(df.schema, state.schema); None }
      else evolveAgainst(state.schema)
    val txn = java.util.UUID.randomUUID().toString
    val rowTracked = state.configuration.get(RowTrackingConf).contains("true")
    val (operation, params) = txn0 match {
      case Some((appId, v)) => ("STREAMING UPDATE",
        Seq("outputMode" -> "Append", "queryId" -> appId, "epochId" -> v.toString))
      case None => ("WRITE", Seq("mode" -> "Append",
        "partitionBy" -> jsonList(state.partitionColumns), "mergeSchema" -> mergeSchema.toString))
    }
    Txn(store, Txn.Retries) { t =>
      // stage under the EVOLVED mapping: an added column's fresh physical
      // name must reach the file, not its logical name
      val adds = writeStaged(t, dir, toPhysical(
          clusterByPartitions(withConstraintCheck(df, state.configuration),
            state.partitionColumns),
          evolvedSchema.getOrElse(state.schema)),
        state.partitionColumns, MaxRecordsPerFile, txn, txnNames(".snappy.parquet"))
      // Version floor proven by conditional-put failures: a putIfAbsent that
      // throws AlreadyExists is AUTHORITATIVE evidence the version exists even
      // when the store's LISTING hasn't surfaced it yet (an eventually-
      // consistent object store; see CommitStore.DelayedVisibilityLocal).
      // Without this floor a writer racing a lagging listing re-claims the
      // same version until its retries burn out instead of advancing.
      var minNext = state.version + 1
      t.attempt { _ =>
        val latest = latestVersion(table)
        val next = math.max(latest + 1, minNext)
        minNext = next + 1 // a lost claim at `next` proves `next` exists
        // The snapshot this attempt commits over, re-read when a commit
        // landed since ours and the commit depends on it: the txn watermark
        // (a replay of THIS batch — two speculative executions of one
        // foreachBatch — can land at any version without colliding with us;
        // CREATE_NEW at `next` then proves none landed since the check), an
        // evolved schema (delta-spark's MetadataChangedException: the caller
        // re-runs), the row-id high-water mark (racing appends never mint
        // overlapping ids).
        val base =
          if (latest > state.version &&
              (txn0.isDefined || evolvedSchema.isDefined || rowTracked))
            resolve(df.sparkSession, table, None)
          else state
        // a batch already in the table ends the transaction uncommitted
        if (txn0.exists { case (appId, v) => base.txns.get(appId).exists(_ >= v) }) -1L
        else {
          if (evolvedSchema.isDefined && base.schema != state.schema)
            throw new java.util.ConcurrentModificationException(
              "table schema changed concurrently during a mergeSchema append; re-run the append")
          // evolved metaData (if any) rides in the SAME commit as the adds:
          // either both land or neither — a reader never sees files whose
          // columns the declared schema doesn't know about
          commitVersion(t, table, base, next, Commit(operation, params,
            newRows = adds, txn = txn0, schema = evolvedSchema))
          // The append is committed at this point: an auto-checkpoint failure
          // (IO error) must not surface as an append failure — the caller
          // would retry and double-write the batch. Best-effort only.
          if (next % CheckpointInterval == 0)
            scala.util.Try(checkpoint(df.sparkSession, table, store))
          next
        }
      }
    }
  }

  /** RESTORE — the undo verb (Delta RESTORE semantics): commits a NEW
    * version whose live set is exactly `asOfVersion`'s, re-adding the
    * pinned version's files missing from the current live set and removing
    * current files the pinned version doesn't reference. Metadata-only: no
    * data file is read, moved or rewritten — cost scales with the file-set
    * DIFF, never the table. Actions carry dataChange=true (a restore
    * changes table contents; incremental consumers must see it). History
    * is preserved: the undone commits stay replayable, so time travel
    * FORWARD to them still works until vacuum reclaims their files — and
    * the re-added files are live again, protected from future vacuum by
    * construction. Precondition (same as Delta RESTORE): the pinned
    * version's files must not have been vacuumed yet.
    * Returns (filesReAdded, filesRemoved); (0, 0) with no commit when the
    * current state already equals the target.
    */
  def restore(spark: SparkSession, table: String, asOfVersion: Long,
      store: CommitStore = CommitStore.Local): (Int, Int) = {
    val target = resolve(spark, table, Some(asOfVersion))
    Txn(store, Txn.Retries)(t => t.attempt { _ =>
      // diff against FRESH state every attempt: a concurrent commit
      // changes the current live set, and a restore computed against a
      // stale one would resurrect or orphan its files
      val current = writable(spark, table)
      require(current.schema == target.schema,
        "restore across a schema change is not supported: restore the data " +
          "first, then evolve, or vice versa")
      val targetPaths = target.live.map(_.path).toSet
      val currentByPath = current.live.map(a => a.path -> a.dv).toMap
      // a path live in BOTH states but under a DIFFERENT deletion-vector
      // (a DV delete landed after the restore point) must be re-added
      // with the target's descriptor — the path diff alone would leave
      // the later delete silently in force
      val readds = target.live.filter(a =>
        !currentByPath.get(a.path).contains(a.dv))
      val removes = current.live.filterNot(a => targetPaths.contains(a.path))
      // Claim exactly the version AFTER the one the diff was computed
      // against (writers only claim latestVersion+1): a commit landing
      // between the replay above and this claim then collides and
      // triggers the re-diff retry — re-reading latestVersion here would
      // let that interleaved commit (e.g. a concurrent compact) be
      // silently built over with a stale diff, resurrecting files it
      // removed.
      if (readds.nonEmpty || removes.nonEmpty)
        commitVersion(t, table, current, current.version + 1, Commit("RESTORE",
          Seq("version" -> asOfVersion.toString), adds = readds, removes = removes))
      (readds.size, removes.size)
    })
  }

  /** Bin-packs the table's live files into `maxRecordsPerFile`-sized files
    * (per partition, preserving the declared layout) and commits the rewrite
    * as remove+add actions with `dataChange=false` — the OPTIMIZE verb.
    * Readers at any version still resolve: old files stay on disk, only the
    * log stops referencing them (vacuum = physical deletion is the caller's
    * retention decision). Returns (filesRewritten, filesAfter) — on an
    * unclustered or first-clustering run filesRewritten is every live
    * file; on an INCREMENTAL liquid run (see below) it is only the
    * unclustered tail, and (0, 0) means the table was already fully
    * clustered and no commit was made.
    *
    * `zorderBy` additionally CLUSTERS the rewrite on a Z-order curve over
    * the given numeric columns (OPTIMIZE ZORDER): each column is scaled to
    * 8-bit buckets between its min and max (one broadcast agg row — no
    * driver collect), the bucket bits are interleaved into a z-value, and
    * the rewrite range-partitions + sorts on it. Rows close in the
    * multi-column space land in the same parquet files, so min/max
    * file-skipping prunes scans filtered on ANY prefix of those columns —
    * the layout lever for multi-dimensional predicates at 100 TB.
    */
  def compact(spark: SparkSession, table: String,
      maxRecordsPerFile: Long = MaxRecordsPerFile,
      zorderBy: Seq[String] = Nil,
      store: CommitStore = CommitStore.Local): (Int, Int) = {
    import org.apache.spark.sql.functions._
    val dir = new File(table)
    val state = writable(spark, table)
    // ROW TRACKING: an id-preserving compaction MATERIALIZES `_row_id`
    // AND `_row_commit_version` into the rewritten parquet (spec:
    // dataChange=false rewrites must carry row lineage explicitly) — the
    // rewritten adds' baseRowId/defaultRowCommitVersion stay null and
    // [[readWithRowIds]] picks both columns up from the files, so the
    // rewrite's own version never claims the repacked rows
    val rowTracking = state.configuration.get(RowTrackingConf).contains("true")
    val current0 =
      if (rowTracking) readWithRowIds(spark, table, store)
      else readState(spark, table, state, store)
    // LIQUID CLUSTERING: on a clustered table a plain OPTIMIZE clusters
    // implicitly by the declared columns (the spec's contract — the
    // declaration is metadata-only, the NEXT rewrite realizes it); an
    // explicit zorderBy still overrides for a one-off layout
    val clusterPhys = clusteringPhysical(state.domains)
    val clusterCols =
      if (zorderBy.nonEmpty) zorderBy
      else clusterPhys.map { phys =>
        state.schema.fields.find(f => physName(f) == phys)
          .map(_.name).getOrElse(phys)
      }
    val txn = java.util.UUID.randomUUID().toString
    // INCREMENTAL liquid: a declared-columns OPTIMIZE re-clusters ONLY
    // the unclustered TAIL — files written by a previous clustering
    // rewrite carry forward untouched. Clustered generations are tracked
    // in the graft-owned [[LiquidDomain]] as the rewrite txn uuids, which
    // every rewritten file carries in its NAME (real Delta stamps ZCube
    // ids in add tags; the domain spelling keeps this engine's replayed
    // add schema lean while staying KB-bounded — one uuid per OPTIMIZE,
    // pruned to generations still live). A file re-joins the tail when a
    // DV lands on it (the rewrite purges the mask) or when the declared
    // columns changed (the old layout no longer clusters the new key).
    // Row-tracking tables keep the full id-materializing rewrite.
    val liquid = zorderBy.isEmpty && clusterPhys.nonEmpty
    val prevGens: Set[String] = state.domains.get(LiquidDomain)
      .map(c => mapper.readTree(c))
      .filter(n => n.path("columns").elements().asScala
        .map(_.asText()).toSeq == clusterPhys)
      .map(_.path("generations").elements().asScala.map(_.asText()).toSet)
      .getOrElse(Set.empty)
    val (carried, tail) =
      if (!liquid || rowTracking || prevGens.isEmpty) (Nil, state.live)
      else state.live.partition(a =>
        a.dv.isEmpty && prevGens.exists(g => a.path.contains(g)))
    if (tail.isEmpty) return (0, 0) // fully clustered already — no-op
    // Bin-pack target for the REWRITTEN set: live row count from the
    // log's own numRecords stats minus each file's deletion-vector
    // cardinality (the same metadata-only subtraction fileStats makes —
    // a post-delete compact must size for the survivors, not the masked
    // rows; no data scan either way); maxRecordsPerFile still caps each
    // file, so the result is the minimal file count at the declared size.
    val tailRows = tail.map(liveRowsOf).sum
    val nTailFiles = math.max(1,
      ((tailRows + maxRecordsPerFile - 1) / maxRecordsPerFile).toInt)
    val source =
      if (carried.isEmpty) current0
      else readState(spark, table, state.copy(live = tail), store)
    val current =
      if (clusterCols.isEmpty) source
      else ZOrder.cluster(source, clusterCols, nTailFiles) // shared with IcebergSink
    // coalesce is shuffle-free and hits the bin-pack formula when the
    // inputs are evenly sized (append-written files are); a DV-masked
    // input's SURVIVORS are arbitrarily skewed, so only a round-robin
    // repartition keeps every bin under maxRecordsPerFile — the shuffle
    // is bounded by the live rows the compaction rewrites anyway
    val packed =
      if (clusterCols.nonEmpty) current // ZOrder.cluster already sized it
      else if (tail.exists(_.dv.isDefined)) current.repartition(nTailFiles)
      else current.coalesce(nTailFiles)
    // record the new clustered generation (this txn + the carried ones
    // still live) in the same commit; a one-off ZORDER over a clustered
    // table RESETS the generations — its layout is not the declared key's
    val domains =
      if (liquid) {
        val liveGens = (prevGens.filter(g => carried.exists(_.path.contains(g)))
          .toSeq.sorted :+ txn)
        Seq(LiquidDomain ->
          s"""{"columns":${jsonList(clusterPhys)},"generations":${jsonList(liveGens)}}""")
      } else if (zorderBy.nonEmpty && state.domains.contains(LiquidDomain))
        Seq(LiquidDomain -> """{"columns":[],"generations":[]}""")
      else Nil
    commitRewrite(spark, store, table, state, tail,
      superseded = s"concurrent compaction of $table; compaction aborted",
      contended = s"concurrent writers on $table; compaction aborted") { t =>
      val adds = writeStaged(t, dir, toPhysical(packed, state.schema),
        state.partitionColumns, maxRecordsPerFile, txn, txnNames())
      (Commit("OPTIMIZE", Seq("zOrderBy" -> jsonList(clusterCols)), adds = adds,
        removes = tail, dataChange = false, domains = domains), (tail.size, adds.size))
    }
  }

  /** Commits a layout rewrite ([[compact]], [[reorgPurge]]) of `inputs`,
    * read from `state`: `stage` writes the new files and returns the
    * commit with the verb's result, then up to [[Txn.Retries]] lost claims
    * retry before the transaction fails with `contended`. The rewrite
    * stays valid only while every file it read is STILL live — a
    * concurrent append only adds files (compatible; ours remove nothing of
    * theirs), but a concurrent rewrite already removed our inputs, and
    * committing on top of it would leave BOTH rewrites live and duplicate
    * every row (fail with `superseded`). That competing rewrite may have
    * committed at an intermediate version while ours was staging, i.e.
    * WITHOUT ever colliding with our claim — so the liveness check runs
    * before EVERY claim, not only after a collision. A successful
    * CREATE_NEW at `latest + 1` then guarantees all earlier versions were
    * visible at validation time (writers only claim latestVersion+1),
    * closing the window.
    */
  private def commitRewrite[A](spark: SparkSession, store: CommitStore,
      table: String, state: Snapshot, inputs: Seq[AddEntry],
      superseded: String, contended: String)(
      stage: Txn => (Commit, A)): A =
    Txn(store, Txn.Retries, e => new IllegalStateException(contended, e)) { t =>
      val (commit, result) = stage(t)
      val inputPaths = inputs.map(_.path).toSet
      var base = state
      t.attempt { _ =>
        val latest = latestVersion(table)
        if (latest > base.version) {
          base = resolve(spark, table, None)
          if (!inputPaths.subsetOf(base.live.map(_.path).toSet))
            throw new IllegalStateException(superseded)
        }
        commitVersion(t, table, base, latest + 1, commit)
      }
      result
    }

  /** REORG … APPLY (PURGE) — materialize deletion vectors: rewrites ONLY
    * the DV-carrying live files as their survivor rows and drops the DVs,
    * leaving every clean file untouched (the scale contract vs [[compact]],
    * which rewrites the whole table: after a 0.1% DV delete on a 100 TB
    * table, purge cost ∝ the touched files, not the table). The commit is
    * layout-only (`dataChange:false` on both sides — a CDF reader sees no
    * row change, exactly the spec's semantics for OPTIMIZE/REORG), and the
    * orphaned DV sidecars age out through [[vacuum]]'s existing
    * superseded-descriptor sweep. Same concurrency discipline as compact:
    * a commit may land between snapshot and claim only if every input
    * file is still live (concurrent appends wave through; a competing
    * rewrite aborts this one). Returns (dvFilesRewritten, rowsPurged).
    */
  def reorgPurge(spark: SparkSession, table: String,
      maxRecordsPerFile: Long = MaxRecordsPerFile,
      store: CommitStore = CommitStore.Local): (Int, Long) = {
    val dir = new File(table)
    val state = writable(spark, table)
    val dvAdds = state.live.filter(_.dv.isDefined)
    if (dvAdds.isEmpty) return (0, 0L)
    // a row-tracked table's DV debt retires through COMPACT, whose
    // rewrite materializes `_row_id` — this per-file purge would reassign
    // survivor positions and silently break every row's id
    require(!state.configuration.get(RowTrackingConf).contains("true"),
      s"$table has row tracking enabled — retire DV debt with compact " +
        "(id-materializing) instead of reorgPurge")
    val purgedRows = dvAdds.map(_.dv.get.cardinality).sum
    // survivors of the touched files only — the clean files never enter
    // the job; bin sizing from log stats (numRecords − DV cardinality),
    // no data scan to plan
    val survivorRows = dvAdds.map(liveRowsOf).sum
    val nFiles = math.max(1,
      ((survivorRows + maxRecordsPerFile - 1) / maxRecordsPerFile).toInt)
    val survivors = readState(spark, table, state.copy(live = dvAdds), store)
    val txn = java.util.UUID.randomUUID().toString
    // DV-masked survivors are arbitrarily skewed across the touched
    // files — round-robin repartition keeps every bin under the cap
    // (the same reasoning as compact's DV branch)
    commitRewrite(spark, store, table, state, dvAdds,
      superseded = s"concurrent rewrite of $table; reorg aborted",
      contended = s"concurrent writers on $table; reorg aborted") { t =>
      val adds = writeStaged(t, dir,
        toPhysical(survivors.repartition(nFiles), state.schema),
        state.partitionColumns, maxRecordsPerFile, txn, txnNames())
      (Commit("REORG", Seq("applyPurge" -> "true"), adds = adds, removes = dvAdds,
        dataChange = false), (dvAdds.size, purgedRows))
    }
  }

  /** MERGE INTO: keyed upsert / delete against the current snapshot —
    * a read-modify-write of ONLY the files that can contain a source key.
    *
    *  - A matched table row is replaced by its source row; a source row
    *    with no match is inserted; a source row whose `deleteCol` is true
    *    deletes its match (and inserts nothing).
    *  - File selection is two-stage: the per-file [min,max] stats every
    *    add records prune by the source's key range (metadata only, no
    *    data read), then ONE semi-join scan of the surviving candidates
    *    finds the files that truly contain a source key. Every other file
    *    is carried over verbatim — at 100 TB a merge touching one key
    *    rewrites one file, not the table.
    *  - Source keys must be unique on `keys` (validated INSIDE the rewrite
    *    job — a window count + raise_error — so the check costs no extra
    *    pass over the source; duplicate source rows would make the rewrite
    *    nondeterministic and fail the job before the commit). NULL keys
    *    never match, mirroring SQL MERGE equality.
    *  - Concurrency: strict OCC. ANY commit landing between this merge's
    *    snapshot and its version claim aborts it — unlike [[compact]], a
    *    concurrent append cannot be waved through, because it may add rows
    *    for a merged key that this rewrite never saw (the re-run sees
    *    them). The conflict surfaces as IllegalStateException; the caller
    *    re-runs the merge.
    *
    * The reference's loader writes whole tables (overwrite/append,
    * delta_destination.rs:414-470); MERGE is the keyed refinement of that
    * contract.
    *
    * @return (filesRewritten, filesSkipped, filesAdded)
    */
  /** Observability/test seam: how many live files survived the last
    * merge's stage-1 stats pruning (before the semi-join refinement) —
    * the number SinkSpec pins to prove composite-key bounds actually
    * narrow the candidate set.
    */
  @volatile private[graft] var lastMergeCandidates: Int = -1

  def merge(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], deleteCol: Option[String] = None,
      store: CommitStore = CommitStore.Local,
      changeDataFeed: Boolean = true): (Int, Int, Int) = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "merge requires at least one key column")
    val dir = new File(table)
    val state = writable(spark, table)
    val tableCols = state.schema.fieldNames.toSeq
    // Delete-marked source rows remove their match and insert nothing.
    // The key-uniqueness guard rides the rewrite itself (a window count +
    // raise_error inside the plan that writes the new files) instead of a
    // separate eager groupBy job — at scale that was a full extra pass
    // over the source before any work (VERDICT r4 "what's wrong" #3).
    // Guarding `writes` (the inserted side) is what matters: duplicate
    // INSERTED rows are the nondeterministic outcome; a delete-marked row
    // sharing its key with one update resolves deterministically (the
    // match is dropped via srcKeys, the update row is inserted = replace).
    val u = java.util.UUID.randomUUID().toString.take(8)
    val dupN = s"__graft_dup_$u"
    val wDup = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val writes = deleteCol
      .map(c => source.filter(!coalesce(col(c), lit(false))).drop(c))
      .getOrElse(source)
      .select(tableCols.map(col): _*)
      .withColumn(dupN, count(lit(1)).over(wDup))
      .filter(when(col(dupN) > 1, raise_error(
        lit(s"merge source must be unique on (${keys.mkString(", ")})")))
        .otherwise(lit(true)))
      .drop(dupN)
    val srcKeys = source.select(keys.map(col): _*)
    // one aggregate computes [min, max] for EVERY key column; a composite
    // key then prunes on the intersection of all ranges (r9)
    val boundAggs = keys.flatMap(k => Seq(
      min(col(k)).cast("string").as(s"lo_$k"),
      max(col(k)).cast("string").as(s"hi_$k")))
    val bounds = source.agg(boundAggs.head, boundAggs.tail: _*).collect()(0)
    if (bounds.isNullAt(0)) return (0, state.live.size, 0) // empty source
    // stage 1: stats range pruning on all key columns (no data read)
    val keyBounds = keys.zipWithIndex.map { case (k, i) =>
      (k, bounds.getString(2 * i), bounds.getString(2 * i + 1))
    }
    val candAdds = statsPruned(spark, state, keyBounds)
    lastMergeCandidates = candAdds.size
    // stage 2: semi-join the candidates' rows against the source keys —
    // only files with a TRUE match are rewritten
    val touched: Seq[AddEntry] =
      if (candAdds.isEmpty) Nil
      else {
        val fileCol = s"__graft_mf_${java.util.UUID.randomUUID().toString.take(8)}"
        // Match scanned-file URIs back to AddEntry paths by SUFFIX, not by
        // java.io.File relativization: input_file_name() yields a scheme'd
        // URI (file://…, s3a://bucket/…) that File/Path relativization
        // only handles on a local FS (ADVICE r4). AddEntry paths are
        // table-relative and txn-unique, so a suffix hit is unambiguous.
        val hitPaths = readState(spark, table, state.copy(live = candAdds), store)
          .withColumn(fileCol, input_file_name())
          .join(srcKeys, keys, "left_semi")
          .select(fileCol).distinct().collect()
          .map(_.getString(0))
          .map(u => try new java.net.URI(u).getPath catch { case _: Exception => u })
          .toSet
        candAdds.filter(a =>
          hitPaths.exists(p => p == a.path || p.endsWith("/" + a.path)))
      }
    // stage 3: rewrite touched files (matched rows swapped out) + inserts
    val kept = readState(spark, table, state.copy(live = touched), store)
      .join(srcKeys, keys, "left_anti")
    val newData = kept.unionByName(writes)
    val txn = java.util.UUID.randomUUID().toString
    strict(store, table, "merge") { t =>
      // CHECK constraints gate the merge's inserted/updated rows inside the
      // same write job (kept rows re-pass trivially)
      val adds = writeStaged(t, dir,
        toPhysical(withConstraintCheck(newData, state.configuration), state.schema),
        state.partitionColumns, MaxRecordsPerFile, txn, txnNames())
      if ((touched ++ adds).nonEmpty) { // else nothing to change
        // CHANGE DATA FEED: the merge's row-level change images, written as
        // CDC files in the SAME commit (Delta CDF's design — computing the
        // images at merge time costs two delta-sized joins over the touched
        // files the rewrite already planned; reconstructing them later would
        // cost a full diff of the rewritten files). Classification: a source
        // row whose key matched a touched row is an update (pre image = the
        // old row, post image = the new), a delete-marked match is a delete,
        // an unmatched non-delete source row is an insert. Readers take a
        // commit's change rows from its cdc actions ([[readCdf]]); the main
        // table replay ignores them (dataChange=false, unknown action field).
        val cdcAdds: Seq[AddEntry] = if (!changeDataFeed) Nil else {
          val ct = "_change_type"
          val touchedRows = readState(spark, table, state.copy(live = touched), store)
          val touchedKeys = touchedRows.select(keys.map(col): _*)
          val updPre = touchedRows
            .join(writes.select(keys.map(col): _*), keys, "left_semi")
            .withColumn(ct, lit("update_preimage"))
          // a key that is BOTH delete-marked and updated in one source resolves
          // as a replace (merge contract) — its images are update_pre/postimage,
          // so the delete class must exclude keys the writes side carries, or
          // the old row would be double-classified (delete + update_preimage)
          val delPre = deleteCol.map { c =>
            val delOnlyKeys = source.filter(coalesce(col(c), lit(false)))
              .select(keys.map(col): _*)
              .join(writes.select(keys.map(col): _*), keys, "left_anti")
            touchedRows.join(delOnlyKeys, keys, "left_semi")
              .withColumn(ct, lit("delete"))
          }
          val updPost = writes.join(touchedKeys, keys, "left_semi")
            .withColumn(ct, lit("update_postimage"))
          val ins = writes.join(touchedKeys, keys, "left_anti")
            .withColumn(ct, lit("insert"))
          val cdcDf = (Seq(updPre) ++ delPre.toSeq ++ Seq(updPost, ins))
            .reduce(_.unionByName(_))
          writeStaged(t, dir, toPhysical(cdcDf, state.schema), Nil,
            MaxRecordsPerFile, txn, cdcNames)
        }
        commitVersion(t, table, state, state.version + 1, Commit("MERGE",
          Seq("matchKeys" -> jsonList(keys)), adds = adds, removes = touched,
          cdc = cdcAdds))
      }
      (touched.size, state.live.size - touched.size, adds.size)
    }
  }

  /** DELETE WHERE — row-level delete (Delta DELETE semantics,
    * copy-on-write): ONE commit rewrites ONLY the files that contain a
    * matching row, with the matches dropped; every other file is carried
    * untouched, so cost scales with the files the predicate TOUCHES, never
    * the table. The touched set comes from a predicate scan that shuffles
    * nothing but matched file paths (map-side distinct). With the feed on,
    * the deleted rows are written as cdc delete images in the same commit
    * — [[readCdf]] then serves the DELETE without re-diffing the rewrite.
    * Returns the number of rows deleted; no commit when nothing matches.
    */
  def deleteWhere(spark: SparkSession, table: String, predicate: String,
      store: CommitStore = CommitStore.Local,
      changeDataFeed: Boolean = true): Long = {
    import org.apache.spark.sql.functions.lit
    rewriteTouched(spark, table, predicate, "delete",
      replacementOf = (_, _) => None,
      imagesOf = (matched, _) => matched.withColumn("_change_type", lit("delete")),
      imageRowsPerMatch = 1, store, changeDataFeed)
  }

  /** Shared copy-on-write machinery behind [[deleteWhere]]/[[updateWhere]]:
    * finds the files holding a TRUE match of `predicate` (a scan that
    * shuffles nothing but matched file paths), rewrites exactly those
    * files as kept-rows ∪ `replacementOf(matched)` — rows where the
    * predicate is NULL are carried UNCHANGED (SQL semantics; a bare !pred
    * filter would silently erase them) — stages `imagesOf` as cdc files
    * when the feed is on, and commits removes + adds + cdc atomically.
    * Returns the matched-row count (free from the cdc footers when the
    * feed is on — `imageRowsPerMatch` divides pre+post pairs back to
    * rows — else one count job).
    */
  private def rewriteTouched(spark: SparkSession, table: String,
      predicate: String, opName: String,
      replacementOf: (DataFrame, StructType) => Option[DataFrame],
      imagesOf: (DataFrame, Option[DataFrame]) => DataFrame,
      imageRowsPerMatch: Int,
      store: CommitStore, changeDataFeed: Boolean): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, input_file_name, lit}
    val dir = new File(table)
    val state = writable(spark, table)
    val fileCol = s"__graft_rf_${java.util.UUID.randomUUID().toString.take(8)}"
    // which files hold a match: URI→path suffix match, same contract as merge
    val hitPaths = readState(spark, table, state, store)
      .withColumn(fileCol, input_file_name())
      .filter(expr(predicate))
      .select(fileCol).distinct().collect()
      .map(_.getString(0))
      .map(u => try new java.net.URI(u).getPath catch { case _: Exception => u })
      .toSet
    val touched = state.live.filter(a =>
      hitPaths.exists(p => p == a.path || p.endsWith("/" + a.path)))
    if (touched.isEmpty) return 0L
    val touchedRows = readState(spark, table, state.copy(live = touched), store)
    val matched = touchedRows.filter(expr(predicate))
    val replacement = replacementOf(matched, state.schema)
    val keptRows = touchedRows.filter(!coalesce(expr(predicate), lit(false)))
    val rewrite = replacement.map(keptRows.unionByName(_)).getOrElse(keptRows)
    val txn = java.util.UUID.randomUUID().toString
    strict(store, table, opName) { t =>
      val adds = writeStaged(t, dir,
        toPhysical(withConstraintCheck(rewrite, state.configuration), state.schema),
        state.partitionColumns, MaxRecordsPerFile, txn, txnNames())
      val cdcAdds: Seq[AddEntry] =
        if (!changeDataFeed) Nil
        else writeStaged(t, dir, toPhysical(imagesOf(matched, replacement),
          state.schema), Nil, MaxRecordsPerFile, txn, cdcNames)
      val matchedRows =
        if (changeDataFeed) cdcAdds.map(rowsOf).sum / imageRowsPerMatch
        else matched.count()
      val (operation, rowsMetric) = dmlOperation(replacement)
      commitVersion(t, table, state, state.version + 1, Commit(operation,
        Seq("predicate" -> predicate), adds = adds, removes = touched, cdc = cdcAdds,
        metrics = Seq(rowsMetric -> matchedRows)))
      matchedRows
    }
  }

  /** A row-level DML commit's operation and row-count metric: an UPDATE
    * when the matched rows have a replacement, else a DELETE.
    */
  private def dmlOperation(replacement: Option[DataFrame]): (String, String) =
    if (replacement.isDefined) ("UPDATE", "numUpdatedRows") else ("DELETE", "numDeletedRows")

  /** UPDATE WHERE — row-level update (Delta UPDATE semantics,
    * copy-on-write): ONE commit rewrites only the files containing a
    * matching row, with the matches transformed by the `set` expressions
    * (column → SQL expression over the pre-update row); every other file
    * is carried untouched, so cost scales with the touched files, never
    * the table. With the feed on, the pre/post images ride the same
    * commit as cdc files — [[readCdf]] classifies the UPDATE without
    * re-diffing. Returns the number of rows updated.
    */
  def updateWhere(spark: SparkSession, table: String, predicate: String,
      set: Map[String, String],
      store: CommitStore = CommitStore.Local,
      changeDataFeed: Boolean = true): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    require(set.nonEmpty, "update requires at least one SET column")
    rewriteTouched(spark, table, predicate, "update",
      replacementOf = (matched, schema) => {
        set.keys.foreach(c => require(schema.fieldNames.contains(c),
          s"no such column: $c"))
        // all SET expressions evaluate against the PRE-update row (SQL
        // UPDATE semantics): one select, not sequential withColumns
        Some(matched.select(schema.fieldNames.map(c =>
          set.get(c).map(e => expr(e).cast(schema(c).dataType).as(c))
            .getOrElse(col(c))).toIndexedSeq: _*))
      },
      imagesOf = (matched, replacement) =>
        matched.withColumn("_change_type", lit("update_preimage"))
          .unionByName(replacement.get
            .withColumn("_change_type", lit("update_postimage"))),
      imageRowsPerMatch = 2, store, changeDataFeed)
  }

  /** DELETE WHERE via DELETION VECTORS — merge-on-read, the opt-in
    * protocol extension (reader v3 / writer v7; the reference pins v1,
    * delta_destination.rs:446-458, so like `evolve` this is an explicit
    * verb, never a default). Where [[deleteWhere]] rewrites every touched
    * file, this commits each touched file's add action again carrying a
    * deletion-vector sidecar — a roaring bitmap of the matched row
    * indexes — so NO data file is read back or rewritten: a 1-row delete
    * in a 2-GB file costs KBs at any table size. The first DV use bumps
    * the table protocol in the SAME commit; re-deletes OR-merge into one
    * descriptor per file; CDC images ride the commit as cdc files when
    * the feed is on (default — readCdf then classifies without
    * reconstruction). Matches evaluate against the MERGED view, so
    * already-deleted rows can never re-match (re-delete is a no-op).
    * Returns the number of rows deleted.
    */
  def deleteWhereDV(spark: SparkSession, table: String, predicate: String,
      store: CommitStore = CommitStore.Local,
      changeDataFeed: Boolean = true): Long = {
    import org.apache.spark.sql.functions.lit
    dvRewrite(spark, table, predicate, "deleteWhereDV",
      replacementOf = (_, _) => None,
      imagesOf = (matched, _) => matched.withColumn("_change_type", lit("delete")),
      store, changeDataFeed)
  }

  /** UPDATE WHERE via DELETION VECTORS — the merge-on-read twin of
    * [[updateWhere]], completing the MoR DML plane: ONE commit masks the
    * matched rows out of their files with deletion-vector sidecars (no
    * touched file read back or rewritten) and appends the transformed
    * replacements as NEW files — cost ∝ matched rows at any file size,
    * where the copy-on-write path pays a full rewrite of every touched
    * file. Every SET expression evaluates against the PRE-update row (SQL
    * UPDATE semantics); pre/post images ride the commit as cdc files;
    * first DV use bumps the protocol like [[deleteWhereDV]]. Returns the
    * number of rows updated.
    */
  def updateWhereDV(spark: SparkSession, table: String, predicate: String,
      set: Map[String, String],
      store: CommitStore = CommitStore.Local,
      changeDataFeed: Boolean = true): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    require(set.nonEmpty, "update requires at least one SET column")
    dvRewrite(spark, table, predicate, "updateWhereDV",
      replacementOf = (matched, schema) => {
        set.keys.foreach(c => require(schema.fieldNames.contains(c),
          s"no such column: $c"))
        Some(matched.select(schema.fieldNames.map(c =>
          set.get(c).map(e => expr(e).cast(schema(c).dataType).as(c))
            .getOrElse(col(c))).toIndexedSeq: _*))
      },
      imagesOf = (matched, replacement) =>
        matched.withColumn("_change_type", lit("update_preimage"))
          .unionByName(replacement.get
            .withColumn("_change_type", lit("update_postimage"))),
      store, changeDataFeed)
  }

  /** Shared merge-on-read machinery behind [[deleteWhereDV]] /
    * [[updateWhereDV]] — the DV twin of [[rewriteTouched]].
    */
  private def dvRewrite(spark: SparkSession, table: String, predicate: String,
      opName: String,
      replacementOf: (DataFrame, StructType) => Option[DataFrame],
      imagesOf: (DataFrame, Option[DataFrame]) => DataFrame,
      store: CommitStore,
      changeDataFeed: Boolean): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val dir = new File(table)
    val state = writable(spark, table)
    // (file → new deleted positions) against the MERGED view; each row's
    // rel path arrives by its file's keys, never by parsing the reader's URI
    val matched = DvPlane.attach(
        readStateMerged(spark, table, state, keepLineage = true, store)
          .filter(expr(predicate)),
        state.live.map(a => (dataAbs(table, a.path), Row(a.path))),
        StructType(Seq(StructField("_gf_rel", StringType))),
        s"$opName: matched row from unmapped file ")
      // the matched scan feeds BOTH the bitmap build and the CDC images —
      // persist so the table is scanned once, not twice
      .persist()
    try {
    // each shard of touched files OR-merges with any existing vector and
    // packs + PUBLISHES its own spec multi-DV sidecar file (version byte,
    // then each file's size-framed + CRC'd portable RoaringBitmapArray
    // back to back; each descriptor = storageType "u" with its shard's
    // base85 uuid + its own offset). A point delete (≤ one shard) still
    // lands a single sidecar object.
    val txnUuid = java.util.UUID.randomUUID()
    val tableAbs = dir.getAbsolutePath
    val descs = DvPlane.write(store,
      matched.select(col("_gf_rel"), col(DvPlane.PosCol)),
      state.live.flatMap(a => a.dv.map(a.path -> _)).toMap,
      shard => new File(tableAbs, dvShardRel(txnUuid, shard)).getAbsolutePath,
      packDvShard(tableAbs, _, _, _, _))
    if (descs.isEmpty) return 0L
    strict(store, table, opName) { t =>
      t.record(descs.map(_.shard).distinct.map(i => Paths.get(table, dvShardRel(txnUuid, i))): _*)
      val txn = java.util.UUID.randomUUID().toString.take(8)
      val matchedRows = matched.select(state.schema.fieldNames.map(col).toIndexedSeq: _*)
      val replacement = replacementOf(matchedRows, state.schema)
      // replacement rows (an update's post-images) land as NEW files in the
      // table's layout — cost ∝ matched rows, never the touched files
      // (CHECK constraints gate them too); CDC images cost ∝ matched rows,
      // same as the CoW path
      val dataAdds: Seq[AddEntry] = replacement.toSeq.flatMap(rep => writeStaged(t, dir,
        toPhysical(withConstraintCheck(rep, state.configuration), state.schema),
        state.partitionColumns, MaxRecordsPerFile, txn, txnNames()))
      val cdcAdds: Seq[AddEntry] = if (!changeDataFeed) Nil else
        writeStaged(t, dir, toPhysical(imagesOf(matchedRows, replacement),
          state.schema), Nil, MaxRecordsPerFile, txn, cdcNames)
      // re-add each touched file (same path, new descriptor — last add per
      // path wins in replay; the data file is untouched). Metadata-only: the
      // descriptors came back from the shards, no bitmap is reopened.
      val now = System.currentTimeMillis()
      val byRel: Map[String, AddEntry] = state.live.map(a => a.path -> a).toMap
      val newAdds = descs.sortBy(_.file).map { d =>
        val add = byRel.getOrElse(d.file,
          throw new IllegalStateException(s"matched file not live: ${d.file}"))
        val encoded = DvPrefix + graft.functions.DeletionVector.encodeUuid(
          DvPlane.shardUuid(txnUuid, d.shard))
        add.copy(modificationTime = now,
          dv = Some(DvInfo("u", encoded, Some(d.offset.toInt), d.size,
            d.cardinality)))
      }
      // ROW TRACKING: an update's replacement rows are NEW rows — they take
      // fresh ids above the high-water mark (the Iceberg twin's contract);
      // the touched files' re-adds keep their baseRowId via add.copy above
      val (operation, rowsMetric) = dmlOperation(replacement)
      val rows = descs.map(_.freshCardinality).sum
      commitVersion(t, table, state, state.version + 1, Commit(operation,
        Seq("predicate" -> predicate), adds = newAdds, newRows = dataAdds,
        cdc = cdcAdds, features = Set("deletionVectors"),
        metrics = Seq(rowsMetric -> rows)))
      rows
    }
    } finally matched.unpersist(): Unit
  }

  /** RENAME a column — METADATA-ONLY (Delta column mapping, mode "name",
    * the Delta twin of IcebergSink.evolveRename): the first rename/drop
    * enables mapping by stamping every existing field with physicalName =
    * its then-current name (every file ever written is therefore already
    * physical) and bumps the protocol to reader 2 / writer 5 in the SAME
    * commit; the rename itself changes ONLY the logical name — no data
    * file is read or touched at any table size. Partition columns refuse
    * (their names key the Hive layout and the log's partitionValues).
    */
  def renameColumn(spark: SparkSession, table: String, from: String,
      to: String, store: CommitStore = CommitStore.Local): Unit =
    columnMappingOp(spark, table, store, from, "RENAME COLUMN",
        Seq("oldColumnPath" -> from, "newColumnPath" -> to)) { (schema, idx) =>
      require(!schema.fieldNames.contains(to), s"column $to already exists")
      StructType(schema.fields.updated(idx, schema.fields(idx).copy(name = to)))
    }

  /** DROP a column — METADATA-ONLY (column mapping): the field leaves the
    * declared schema; its physical column stays in old files, unread
    * (readers project by physical name, so it is simply never selected).
    */
  def dropColumn(spark: SparkSession, table: String, column: String,
      store: CommitStore = CommitStore.Local): Unit =
    columnMappingOp(spark, table, store, column, "DROP COLUMNS",
        Seq("columns" -> jsonList(Seq(column)))) { (schema, idx) =>
      require(schema.fields.length > 1, "cannot drop the last column")
      StructType(schema.fields.patch(idx, Nil, 1))
    }

  private def columnMappingOp(spark: SparkSession, table: String,
      store: CommitStore, column: String, operation: String,
      params: Seq[(String, String)])(op: (StructType, Int) => StructType): Unit = {
    val meta = writable(spark, table)
    require(!meta.partitionColumns.contains(column),
      s"cannot rename or drop partition column $column")
    // stored SQL expressions (CHECK constraints, generated columns) name
    // columns LOGICALLY: after a rename the stored text still says the
    // old name and every subsequent append/update/merge fails at
    // analysis time — the table is write-bricked until the constraint is
    // dropped. A drop bricks identically. Upstream Delta blocks both, so
    // refuse up front with the fix in the message.
    def exprRefs(sql: String): Set[String] =
      try spark.sessionState.sqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase
      }.toSet
      catch { case _: Exception => Set(column.toLowerCase) } // unparseable → refuse
    val lcol = column.toLowerCase
    meta.configuration.foreach { case (k, v) =>
      if (k.startsWith("delta.constraints.") && exprRefs(v).contains(lcol))
        throw new IllegalArgumentException(
          s"column $column is referenced by CHECK constraint " +
            s"${k.stripPrefix("delta.constraints.")} ($v); drop the " +
            "constraint first (dropCheckConstraint), evolve, then re-add")
    }
    meta.schema.fields.foreach { f =>
      if (f.name != column && f.metadata.contains(GenExprKey) &&
          exprRefs(f.metadata.getString(GenExprKey)).contains(lcol))
        throw new IllegalArgumentException(
          s"column $column is referenced by generated column ${f.name}'s " +
            "generation expression; drop the generated column first")
    }
    // stamp EVERY unmapped field, not just on first enable: a column
    // added (mergeSchema) after mapping was enabled may lack metadata —
    // its files carry the logical name, so physicalName = current name is
    // exactly right; skipping it would let a later rename silently NULL
    // its pre-rename data. NESTED fields stamp too (spec: every field of
    // a column-mapped schema carries id + physicalName); they are not
    // rename-addressable here, so physical always equals logical below
    // the top level.
    var nextId = maxMapId(meta.schema)
    def freshId(): Long = { nextId += 1; nextId }
    def stampNested(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val meta1 =
          if (f.metadata.contains(PhysNameKey)) f.metadata
          else new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(MapIdKey, freshId())
            .putString(PhysNameKey, f.name).build()
        f.copy(metadata = meta1, dataType = stampNested(f.dataType))
      })
      case ArrayType(et, n) => ArrayType(stampNested(et), n)
      case MapType(k, v, n) => MapType(stampNested(k), stampNested(v), n)
      case other => other
    }
    val mapped = StructType(meta.schema.fields.map { f =>
      val f1 =
        if (f.metadata.contains(PhysNameKey)) f
        else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(MapIdKey, freshId())
          .putString(PhysNameKey, f.name).build())
      f1.copy(dataType = stampNested(f1.dataType))
    })
    val idx = mapped.fieldNames.indexOf(column)
    require(idx >= 0, s"no such column: $column")
    val evolved = op(mapped, idx)
    // the metaData carries delta.columnMapping.mode=name (ADVICE r13):
    // without it an external reader defaults to mode none and NULLs every
    // post-rename read
    strict(store, table, "column evolution")(commitVersion(_, table, meta,
      meta.version + 1, Commit(operation, params, schema = Some(nullable(evolved)),
        features = Set("columnMapping"))))
  }

  /** The table's CHECK constraints, from the replayed configuration
    * (spec: `delta.constraints.<name>` = SQL expression).
    */
  private def constraintsOf(config: Map[String, String]): Seq[(String, String)] =
    config.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        (k.stripPrefix("delta.constraints."), v)
    }.sortBy(_._1)

  /** Plants CHECK-constraint enforcement INTO the write plan: the first
    * column is wrapped in `when(constraint) col else raise_error`, so a
    * violating row fails the write JOB before anything commits — zero
    * extra pass over the data (the alternative, a separate
    * `filter(!c).count()`, scans the batch twice). SQL CHECK semantics:
    * NULL satisfies (only FALSE violates), hence the coalesce(.., true).
    */
  private def withConstraintCheck(df: DataFrame,
      config: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit,
      raise_error, when}
    val cs = constraintsOf(config)
    if (cs.isEmpty) return df
    val first = df.columns.head
    val dt = df.schema.head.dataType
    cs.foldLeft(df) { case (d, (n, ex)) =>
      d.withColumn(first,
        when(coalesce(expr(ex).cast("boolean"), lit(true)), col(first))
          .otherwise(raise_error(
            lit(s"CHECK constraint $n violated: ($ex)")).cast(dt)))
    }
  }

  /** ADD a CHECK constraint (Delta spec §CheckConstraints,
    * `delta.constraints.<name>`): the declarative data-quality gate — once
    * added, EVERY ingest path (append, update rewrites, merge) plants the
    * predicate into its own write plan and a violating batch fails before
    * one byte commits. Adding validates the EXISTING rows first (the
    * spec's ALTER TABLE contract — one scan, the unavoidable cost), then
    * commits a metaData re-emission carrying the constraint in
    * configuration plus the protocol the feature requires (legacy writer
    * v3, or the checkConstraints writer feature on v7 tables). At 100 TB
    * this is what keeps a million-file table clean WITHOUT a nightly
    * full-scan audit: the invariant is enforced at the only place data
    * enters.
    */
  def addCheckConstraint(spark: SparkSession, table: String, name: String,
      expression: String, store: CommitStore = CommitStore.Local): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be alphanumeric: $name")
    val meta = writable(spark, table)
    val key = s"delta.constraints.$name"
    require(!meta.configuration.contains(key), s"constraint $name already exists")
    val bad = readStateMerged(spark, table, meta, keepLineage = false, store)
      .filter(not(coalesce(expr(expression).cast("boolean"), lit(true))))
      .limit(1).count()
    require(bad == 0L,
      s"cannot add constraint $name: existing rows violate ($expression)")
    commitConstraintConfig(table, store, meta, "ADD CONSTRAINT",
      Seq("name" -> name, "expr" -> expression), meta.configuration + (key -> expression))
  }

  /** ENABLE in-commit timestamps (Delta spec §in-commit-timestamps,
    * writer feature `inCommitTimestamp`): every commit from this one on
    * leads with a commitInfo action whose `inCommitTimestamp` is the
    * commit's DURABLE clock — monotonic by construction (max(wall clock,
    * prev + 1), stamped by [[commitVersion]]). Why it matters: the
    * pre-ICT timestamp rule is commit-file MTIME, which an rsync, a
    * bucket migration, or a `touch` silently rewrites — after which
    * "the table at 09:00" resolves to the wrong version. ICT lives IN
    * the committed bytes; copying the log cannot move it. The enablement
    * commit records `delta.inCommitTimestampEnablementVersion`/
    * `...Timestamp` (spec) so readers know where the ICT clock starts;
    * [[versionAtTimestamp]] prefers ICT per commit and falls back to
    * mtime for pre-enablement history. Protocol: writer v7 + the
    * `inCommitTimestamp` writer feature (reader unchanged — the feature
    * is writer-only).
    */
  def enableInCommitTimestamps(spark: SparkSession, table: String,
      store: CommitStore = CommitStore.Local): Unit = {
    val meta = writable(spark, table)
    require(!meta.configuration.get(IctConf).contains("true"),
      s"in-commit timestamps already enabled on $table")
    strict(store, table, "ICT enablement")(commitVersion(_, table, meta,
      meta.version + 1, Commit("SET TBLPROPERTIES",
        Seq("properties" -> s"""{"$IctConf":"true"}"""),
        configuration = Some(meta.configuration + (IctConf -> "true")),
        features = Set("inCommitTimestamp"))))
  }

  /** DROPs a CHECK constraint — metadata-only. */
  def dropCheckConstraint(spark: SparkSession, table: String, name: String,
      store: CommitStore = CommitStore.Local): Unit = {
    val meta = writable(spark, table)
    val key = s"delta.constraints.$name"
    require(meta.configuration.contains(key), s"no such constraint: $name")
    commitConstraintConfig(table, store, meta, "DROP CONSTRAINT", Seq("name" -> name),
      meta.configuration - key)
  }

  /** A CHECK-constraint change: `config` replaces the configuration and
    * the table needs the checkConstraints feature (legacy writer 3).
    */
  private def commitConstraintConfig(table: String, store: CommitStore,
      meta: Snapshot, operation: String, params: Seq[(String, String)],
      config: Map[String, String]): Unit =
    strict(store, table, "constraint change")(commitVersion(_, table, meta,
      meta.version + 1, Commit(operation, params, configuration = Some(config),
        features = Set("checkConstraints"))))

  /** Writes a parquet checkpoint of the current log state plus the
    * `_last_checkpoint` pointer. Readers then start from the checkpoint and
    * replay only newer JSON commits — O(delta) instead of O(history).
    * Older JSON commits are retained so `asOfVersion` time travel before the
    * checkpoint still works. A table already on V2 checkpoints (the
    * pointer names a manifest, or one sits at the pointed version) is
    * re-checkpointed by [[checkpointV2]].
    */
  def checkpoint(spark: SparkSession, table: String): Long =
    checkpoint(spark, table, CommitStore.Local)

  def checkpoint(spark: SparkSession, table: String, store: CommitStore): Long = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    // a table already on V2 checkpoints STAYS on them: a classic rewrite
    // of the pointer would strand the manifest + `_sidecars` set with no
    // reclaimer and silently downgrade the layout a caller opted into
    // (ADVICE r15) — route through the v2 path, which also reclaims
    // correctly
    if (lastCheckpoint(table).exists(_._2.isDefined))
      return checkpointV2(spark, table, store)
    val meta = resolve(spark, table, None)
    // Metadata plane (protocol, metaData, txn watermarks) and data plane
    // (one add row per live file of the resolved snapshot, through
    // [[liveFrame]]) become one frame; Spark writes it as the parts.
    val (protocol, metaData) = checkpointMeta(meta)
    val metaRows: Seq[Row] =
      (Row(protocol, null, null, null, null) +: Row(null, metaData, null, null, null) +:
      meta.txns.toSeq.sortBy(_._1).map { case (app, v) =>
        Row(null, null, null, Row(app, v), null)
      }) ++
      // active domain metadata (the row-tracking high-water mark above
      // all) survives the checkpoint, or a replay-from-checkpoint would
      // REUSE removed files' row ids
      meta.domains.toSeq.sortBy(_._1).map { case (d, c) =>
        Row(null, null, null, null, Row(d, c, false))
      }
    def nullAs(field: String) =
      lit(null).cast(CheckpointSchema(field).dataType).as(field)
    val df = spark.createDataFrame(metaRows.asJava, CheckpointSchema)
      .unionByName(liveFrame(spark, meta).select(
        nullAs("protocol"), nullAs("metaData"),
        struct(col("path"), col("partitionValues"), col("size"),
          col("modificationTime"), lit(true).as("dataChange"),
          col("stats"), col("deletionVector"), col("baseRowId"),
          col("defaultRowCommitVersion")).as("add"),
        nullAs("txn"), nullAs("domainMetadata")))
    // Multi-part checkpoint: the PARQUET DIRECTORY is the checkpoint
    // ([[resolve]] folds every part under it, as it folds the single-file
    // form older tables carry) — one writer task per frame partition, no
    // single giant file at scale. The new parts are
    // published FIRST (each put replaces atomically, so a same-version
    // re-checkpoint never empties an already-published dir, and a failed
    // re-publish leaves _last_checkpoint on a complete checkpoint), THEN
    // only the stale keys not in the new part set are reclaimed (a failed
    // partial publish or a different part count would otherwise strand
    // orphan parts that shadow-pad snapshot reads forever). The pointer
    // flips last, with an atomic put: a concurrent reader never sees a
    // partial _last_checkpoint.
    val target = checkpointFile(table, meta.version)
    val staging = Files.createTempDirectory("graft-ckpt-stage").toFile
    try {
      df.write.mode("overwrite").option("compression", "snappy")
        .parquet(staging.getPath)
      val fresh = CommitStore.partFiles(staging).map { src =>
        val key = target.resolve(src.getName)
        store.publish(src.toPath, key)
        key
      }.toSet
      store.listPrefix(target).filterNot(fresh).foreach(store.deleteObject)
    } finally CommitStore.deleteTree(staging)
    putPointer(store, table, s"""{"version":${meta.version}}""")
    meta.version
  }

  /** V2 CHECKPOINT (Delta spec §v2-checkpoints, feature `v2Checkpoint`):
    * the checkpoint splits into a tiny MANIFEST
    * (`<v>.checkpoint.<uuid>.parquet` — protocol, metaData, txn
    * watermarks, a checkpointMetadata stamp, and one `sidecar` row per
    * part) plus SIDECAR parquet files under `_delta_log/_sidecars/`
    * holding the add actions. Why this is the 100 TB posture where the
    * classic form is not: the sidecar list is REUSABLE — an incremental
    * re-checkpoint can carry unchanged sidecars forward and rewrite only
    * the parts whose files changed, and N readers fetch the KB-scale
    * manifest then scan sidecars in parallel, instead of every reader
    * listing one monolithic checkpoint directory. The feature is gated:
    * this commits a protocol action (reader 3 / writer 7, `v2Checkpoint`
    * on BOTH lists) FIRST, so a reader that cannot resolve through a v2
    * checkpoint refuses the table instead of silently replaying the
    * whole JSON log past it (or worse, mis-reading). The pointer file
    * carries the manifest name; the sidecars are written by Spark from
    * [[liveFrame]], like the classic parts.
    */
  def checkpointV2(spark: SparkSession, table: String,
      store: CommitStore = CommitStore.Local): Long = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    locally {
      val meta0 = writable(spark, table)
      if (!(meta0.minReader >= 3 && meta0.readerFeatures.contains("v2Checkpoint")))
        strict(store, table, "v2Checkpoint enablement")(commitVersion(_, table, meta0,
          meta0.version + 1, Commit("UPGRADE PROTOCOL", features = Set("v2Checkpoint"))))
    }
    val meta = resolve(spark, table, None)
    val live = liveFrame(spark, meta)
    val sidecarDir = logDir(table).resolve("_sidecars")
    // the PREVIOUS v2 generation: its manifest name is the reclaim fence
    // (kept one generation, so a reader mid-resolve on the old pointer
    // never loses its sidecars — ADVICE r15) and its sidecar rows are the
    // reuse candidates
    val prevManifest: Option[String] = lastCheckpoint(table).flatMap(_._2)
      .filter(n => Files.exists(logDir(table).resolve(n)))
    val prevSidecars: Map[String, (Long, Long)] = prevManifest.map { name =>
      spark.read.schema(V2ManifestSchema)
        .parquet(logDir(table).resolve(name).toString)
        .where(col("sidecar").isNotNull)
        .select("sidecar.path", "sidecar.sizeInBytes",
          "sidecar.modificationTime")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    }.getOrElse(Map.empty)
    // INCREMENTAL data plane: the live set buckets DETERMINISTICALLY by
    // path hash (bucket count = smallest power of two keeping buckets
    // under AddsPerCkptSidecar, so the layout only reshuffles on a size
    // ratchet); each bucket's sidecar is CONTENT-ADDRESSED — its name
    // carries an order-independent xxhash64-XOR over every
    // replay-relevant add field — and a bucket whose name the previous
    // manifest already lists CARRIES FORWARD without a byte written. A
    // nightly re-checkpoint of a 100 TB table rewrites only the buckets
    // its day's commits touched; N readers still fan out over the full
    // sidecar list in parallel (this is the layout's point — SURVEY
    // §2.2 q_delta_checkpoint_v2).
    val sidecars: Seq[(String, Long, Long)] = {
      import org.apache.spark.sql.functions.{coalesce, count, expr, pmod,
        to_json, xxhash64}
      val liveCount = live.count()
      var buckets = 1
      while (buckets.toLong * AddsPerCkptSidecar < liveCount) buckets *= 2
      val withB = live
        .withColumn("_b",
          pmod(xxhash64(col("path")), lit(buckets.toLong)).cast("int"))
        .withColumn("_rh", xxhash64(col("path"), col("size"),
          col("modificationTime"), coalesce(col("stats"), lit("")),
          coalesce(col("deletionVector.storageType"), lit("")),
          coalesce(col("deletionVector.pathOrInlineDv"), lit("")),
          coalesce(col("deletionVector.offset"), lit(-1)),
          coalesce(col("deletionVector.sizeInBytes"), lit(-1L)),
          coalesce(col("deletionVector.cardinality"), lit(-1L)),
          coalesce(col("baseRowId"), lit(-1L)),
          coalesce(col("defaultRowCommitVersion"), lit(-1L)),
          to_json(col("partitionValues"))))
      val bucketInfo: Seq[(Int, Long)] = withB.groupBy(col("_b"))
        .agg(expr("bit_xor(_rh)").as("h"), count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)
      def sidecarName(b: Int, h: Long) =
        f"inc-$buckets%05d-$b%05d-$h%016x.parquet"
      val (carried, changed) = bucketInfo.partition { case (b, h) =>
        prevSidecars.contains(sidecarName(b, h))
      }
      val staging = Files.createTempDirectory("graft-ckpt2-stage").toFile
      // identical content by construction if a sidecar name already exists
      // (an older generation outside the reuse fence): publish replaces
      val written: Seq[(String, Long, Long)] =
        if (changed.isEmpty) Nil
        else try {
          val changedIds = changed.map(_._1)
          withB.where(col("_b").isin(changedIds: _*))
            .select(struct(col("path"), col("partitionValues"), col("size"),
              col("modificationTime"), lit(true).as("dataChange"),
              col("stats"), col("deletionVector"), col("baseRowId"),
              col("defaultRowCommitVersion")).as("add"),
              col("_b"))
            .repartition(col("_b"))
            .write.mode("overwrite").option("compression", "snappy")
            .partitionBy("_b").parquet(staging.getPath)
          val hashById = changed.toMap
          changedIds.map { b =>
            val parts = CommitStore.partFiles(new File(staging, s"_b=$b"))
            // repartition(col) pins a bucket to exactly one task; a split
            // bucket would break content addressing, so fail loudly
            require(parts.length == 1,
              s"bucket $b staged ${parts.length} parts; expected exactly one")
            val src = parts.head
            val name = sidecarName(b, hashById(b))
            val size = src.length()
            store.publish(src.toPath, sidecarDir.resolve(name))
            (name, size, System.currentTimeMillis())
          }
        } finally CommitStore.deleteTree(staging)
      carried.map { case (b, h) =>
        val name = sidecarName(b, h)
        val (sz, mt) = prevSidecars(name)
        (name, sz, mt)
      } ++ written
    }
    // metadata plane + sidecar list → the manifest (driver-side, KBs)
    val (protocol, metaData) = checkpointMeta(meta)
    val metaRows: Seq[Row] =
      (Row(protocol, null, null, null, null, null) +:
      Row(null, metaData, null, null, null, null) +:
      Row(null, null, Row(meta.version), null, null, null) +:
      (meta.txns.toSeq.sortBy(_._1).map { case (app, v) =>
        Row(null, null, null, Row(app, v), null, null)
      } ++
      meta.domains.toSeq.sortBy(_._1).map { case (d, c) =>
        Row(null, null, null, null, null, Row(d, c, false))
      })) ++ sidecars.map { case (n, sz, mt) =>
        Row(null, null, null, null, Row(n, sz, mt), null)
      }
    val manifestName =
      f"${meta.version}%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"
    val mStaging = Files.createTempDirectory("graft-ckpt2-man").toFile
    try {
      spark.createDataFrame(metaRows.asJava, V2ManifestSchema)
        .coalesce(1).write.mode("overwrite").parquet(mStaging.getPath)
      store.publish(CommitStore.partFiles(mStaging).head.toPath,
        logDir(table).resolve(manifestName))
    } finally CommitStore.deleteTree(mStaging)
    // pointer flip LAST — the manifest name rides the pointer, so a
    // reader either resolves the complete new checkpoint or the old one
    putPointer(store, table,
      s"""{"version":${meta.version},"path":${esc(manifestName)}}""")
    // stale-artifact reclaim with an N-1 FENCE: the new generation AND
    // the immediately-previous one (manifest + every sidecar either
    // references) survive — a reader that resolved the old pointer just
    // before the flip, or a racing checkpointV2 that lost, still finds
    // its whole generation; everything older is dead (readers resolve
    // pointer → manifest → sidecars) and without this a nightly
    // re-checkpoint strands one manifest + sidecar set per run that no
    // janitor would ever sweep (ADVICE r15). Classic checkpoint
    // DIRECTORIES (<v>.checkpoint.parquet) don't match the uuid'd
    // manifest pattern and are left alone.
    def reclaim(f: File): Unit = store.deleteObject(f.toPath)
    val keepManifests = Set(manifestName) ++ prevManifest
    val keepSidecars = sidecars.map(_._1).toSet ++ prevSidecars.keySet
    Option(logDir(table).toFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.matches("\\d{20}\\.checkpoint\\..+\\.parquet") &&
        !keepManifests.contains(f.getName))
      .foreach(reclaim)
    Option(sidecarDir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet") &&
        !keepSidecars.contains(f.getName))
      .foreach(reclaim)
    meta.version
  }

  /** A checkpoint's protocol and metaData structs: the replayed protocol
    * (feature lists only at reader 3 / writer 7, per the spec, so a reader
    * starting there keeps them) and the full configuration, column-mapping
    * keys re-derived from the schema stamps.
    */
  private def checkpointMeta(meta: Snapshot): (Row, Row) =
    (Row(meta.minReader, meta.minWriter,
      if (meta.minReader >= 3) meta.readerFeatures else null,
      if (meta.minWriter >= 7) meta.writerFeatures else null),
     Row(meta.id, Row("parquet"), nullable(meta.schema).json, meta.partitionColumns,
      meta.configuration ++ mappingConfig(meta.schema),
      if (meta.createdTime != 0L) meta.createdTime else System.currentTimeMillis()))

  /** Flips `_last_checkpoint` with an atomic put: a concurrent reader
    * never sees a partial pointer (it would fail the JSON parse).
    */
  private def putPointer(store: CommitStore, table: String, ptr: String): Unit =
    store.putObject(lastCheckpointFile(table), (ptr + "\n").getBytes(StandardCharsets.UTF_8))

  private val V2ManifestSchema = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("checkpointMetadata", StructType(Seq(
      StructField("version", LongType)))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))),
    StructField("sidecar", StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))),
    StructField("domainMetadata", StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType))))))

  private val CheckpointSchema = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      // spec: a v3/v7 protocol action REQUIRES its feature lists — a
      // checkpoint dropping them would strip a DV or column-mapped
      // table's capabilities for any reader starting there (ADVICE r13)
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", LongType),
        StructField("cardinality", LongType)))),
      // ROW TRACKING (spec §Row Tracking, writer feature `rowTracking`):
      // the id of this file's first row; rows derive baseRowId + position,
      // and their commit version inherits defaultRowCommitVersion unless a
      // rewrite materialized the per-row column
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))),
    // domain metadata (spec §Domain Metadata): the row-tracking high-water
    // mark lives in domain "delta.rowTracking" — a checkpoint dropping it
    // would let a replay-from-checkpoint REUSE removed files' row ids
    StructField("domainMetadata", StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType))))))

  /** Highest committed streaming-transaction version for `appId`, or -1 —
    * the watermark [[appendExactlyOnce]] consults.
    */
  def lastTxnVersion(spark: SparkSession, table: String, appId: String): Long =
    resolve(spark, table, None).txns.getOrElse(appId, -1L)

  // ---- ROW TRACKING (Delta spec §Row Tracking — the format twin of
  // IcebergSink row lineage, closing cross-format id symmetry) ----

  private[sinks] val RowTrackingDomain = "delta.rowTracking"
  private val RowTrackingConf = "delta.enableRowTracking"
  private val IctConf = "delta.enableInCommitTimestamps"

  /** The highest row id assigned so far (the spec's rowIdHighWaterMark,
    * stored in the `delta.rowTracking` domain metadata; -1 = none).
    */
  private def rowIdHighWaterMark(domains: Map[String, String]): Option[Long] =
    domains.get(RowTrackingDomain)
      .map(c => mapper.readTree(c).path("rowIdHighWaterMark").asLong(-1L))

  private def rowsOf(a: AddEntry): Long =
    Option(a.stats).map(s => mapper.readTree(s).path("numRecords").asLong(0L))
      .getOrElse(0L)

  /** A file's rows its deletion vector leaves live. */
  private def liveRowsOf(a: AddEntry): Long = rowsOf(a) - a.dv.fold(0L)(_.cardinality)

  /** ENABLE ROW TRACKING (spec writer features `rowTracking` +
    * `domainMetadata`): every row gets a STABLE id — `baseRowId +
    * position` — that survives appends, DV deletes (positions never
    * move) and id-materializing compaction. ONE metadata-only commit
    * re-adds every live file with a retroactive baseRowId (path order,
    * cumulative by the log's own numRecords — no data file opened),
    * bumps the protocol (writer 7 listing every active feature), stamps `delta.enableRowTracking` into the
    * configuration and seeds the `delta.rowTracking` high-water-mark
    * domain. Returns the rows assigned.
    */
  def enableRowTracking(spark: SparkSession, table: String,
      store: CommitStore = CommitStore.Local): Long = {
    val state = writable(spark, table)
    require(!state.configuration.get(RowTrackingConf).contains("true"),
      s"row tracking already enabled on $table")
    // retroactive enablement cannot recover pre-feature per-row commit
    // versions — like delta-spark's backfill, the enable commit's own
    // version stamps every re-added file
    strict(store, table, "enableRowTracking")(commitVersion(_, table, state,
      state.version + 1, Commit("SET TBLPROPERTIES",
        Seq("properties" -> s"""{"$RowTrackingConf":"true"}"""),
        newRows = state.live.sortBy(_.path), dataChange = false,
        configuration = Some(state.configuration + (RowTrackingConf -> "true")),
        features = Set("rowTracking", "domainMetadata"))))
    state.live.map(rowsOf).sum
  }

  /** Whether the table tracks row ids (the janitor's action selector). */
  private[sinks] def rowTrackingEnabled(spark: SparkSession, table: String): Boolean =
    resolve(spark, table, None).configuration.get(RowTrackingConf).contains("true")

  /** ROW-ID READ — the current merged view plus `_row_id`
    * ([[IcebergSink.readWithLineage]]'s format twin): `baseRowId +
    * position` for manifest-assigned files, the MATERIALIZED `_row_id`
    * column for files an id-preserving compaction rewrote, null for
    * files predating enablement. DV deletes apply exactly as in [[read]];
    * survivors keep their ids because deletes never move positions.
    */
  def readWithRowIds(spark: SparkSession, table: String,
      store: CommitStore = CommitStore.Local): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    val state0 = resolve(spark, table, None)
    // widen the read schema by the physical lineage columns: files an
    // id-preserving compaction materialized carry them; all others read
    // null and inherit from the add's manifest fields
    val withRid = state0.copy(schema = StructType(state0.schema.fields ++ Seq(
      StructField("_row_id", LongType, nullable = true),
      StructField("_row_commit_version", LongType, nullable = true))))
    val base = readStateMerged(spark, table, withRid, keepLineage = true, store)
    DvPlane.attach(base,
      state0.live.map(a => (dataAbs(table, a.path),
        Row(a.baseRowId.map(Long.box).orNull,
          a.defaultRowCommitVersion.map(Long.box).orNull))),
      StructType(Seq(StructField("_gf_brid", LongType, nullable = true),
        StructField("_gf_bdrcv", LongType, nullable = true))),
      "readWithRowIds: row from unmapped file ")
      .withColumn("_row_id",
        coalesce(col("_row_id"), col("_gf_brid") + col("_gf_pos")))
      // ROW COMMIT VERSION (spec §Row Tracking's second column): the
      // file's defaultRowCommitVersion unless a materializing rewrite
      // preserved the per-row value physically
      .withColumn("_row_commit_version",
        coalesce(col("_row_commit_version"), col("_gf_bdrcv")))
      .select((state0.schema.fieldNames.toIndexedSeq ++
        Seq("_row_id", "_row_commit_version")).map(col): _*)
  }

  // ---- TABLE STATISTICS ([[IcebergStats]]'s format twin; graft
  // EXTENSION, documented rather than hidden: the Delta spec has no
  // table-statistics slot — per-file stats ride add.stats — so the
  // registration lives in a `graft.stats` metadata DOMAIN, exactly what
  // domain metadata exists for: engine-owned named configuration) ----

  private[sinks] val StatsDomain = "graft.stats"

  /** Computes one theta sketch PER COLUMN in a single distributed pass
    * (constant ≤K×8 B per partition shipped), packs them into ONE Puffin
    * file of `apache-datasketches-theta-v1` blobs under
    * `_delta_log/_graft_stats/`, and registers (path, table version,
    * per-column `ndv`) in the `graft.stats` domain via a METADATA-ONLY
    * commit — writer v7 + the `domainMetadata` feature (reader version
    * untouched; domains are writer-plane and unknown ones are ignored).
    * Blob identity is the COLUMN NAME in blob properties (Delta has no
    * Iceberg field ids outside column mapping). Re-running replaces the
    * registration and deletes the superseded Puffin. Why at 100 TB: the
    * broadcast decision wants the build side's cardinality BEFORE any
    * scan — the domain row is an O(1) read off the replayed log head,
    * no data file or per-file stats walk ([[statsNdv]]/[[scanForJoin]]).
    * Returns the per-column NDV estimates (exact below the sketch's K).
    */
  def writeStats(spark: SparkSession, table: String, columns: Seq[String],
      store: CommitStore = CommitStore.Local): Map[String, Long] = {
    import org.apache.spark.sql.functions.col
    require(columns.nonEmpty, "writeStats needs at least one column")
    val meta = writable(spark, table)
    val df = read(spark, table)
    val T = graft.functions.ThetaSketch
    val aggs = columns.map(c => T.sketch(T.hashFor(col(c))).as(s"_sk_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val sketches: Seq[(String, Array[Long])] = columns.zipWithIndex.map {
      case (c, i) => c -> row.getSeq[Long](i).toArray
    }
    // Puffin: magic, blobs back to back, JSON footer (same public layout
    // as [[IcebergStats.writeStats]]; payloads are raw CompactSketches)
    val bos = new java.io.ByteArrayOutputStream()
    val magic = Array[Byte]('P', 'F', 'A', '1')
    bos.write(magic)
    val blobMeta = sketches.map { case (c, sk) =>
      val payload = IcebergStats.compactThetaBytes(sk)
      val off = bos.size().toLong
      bos.write(payload)
      (c, off, payload.length.toLong, IcebergStats.ndvEstimate(sk))
    }
    val footerStart = bos.size()
    val blobsJson = blobMeta.map { case (c, off, len, ndv) =>
      s"""{"type":"apache-datasketches-theta-v1","fields":[],""" +
        s""""offset":$off,"length":$len,""" +
        s""""properties":{"ndv":"$ndv","column":${esc(c)}}}"""
    }.mkString(",")
    val footerPayload =
      s"""{"blobs":[$blobsJson],"properties":{"created-by":"graft-stats"}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    bos.write(magic)
    bos.write(footerPayload)
    val pl = footerPayload.length
    bos.write(Array[Byte]((pl & 0xFF).toByte, ((pl >> 8) & 0xFF).toByte,
      ((pl >> 16) & 0xFF).toByte, ((pl >> 24) & 0xFF).toByte))
    bos.write(Array[Byte](0, 0, 0, 0)) // footer flags
    bos.write(magic)
    val fileBytes = bos.toByteArray
    val statsRel = s"_delta_log/_graft_stats/stats-${java.util.UUID.randomUUID()}.puffin"
    val ndvs = blobMeta.map { case (c, _, _, ndv) => c -> ndv }.toMap
    val ndvJson = columns.map(c => s"${esc(c)}:${ndvs(c)}")
      .mkString("{", ",", "}")
    // TABLE-RELATIVE path in the domain row, like every add-file path in
    // the log: a relocated table resolves its own stats (absolute legacy
    // rows still resolve through dataAbs)
    val conf = s"""{"path":${esc(statsRel)},""" +
      s""""tableVersion":${meta.version},"ndv":$ndvJson}"""
    val superseded = meta.domains.get(StatsDomain)
      .map(c => mapper.readTree(c).path("path").asText()).filter(_.nonEmpty)
    strict(store, table, "writeStats") { t =>
      t.record(Paths.get(table, statsRel))
      store.putObject(Paths.get(table, statsRel), fileBytes)
      commitVersion(t, table, meta, meta.version + 1, Commit("COMPUTE STATS",
        Seq("columns" -> jsonList(columns)), domains = Seq(StatsDomain -> conf),
        features = Set("domainMetadata")))
    }
    // the replaced stats file is dead the moment the domain row moved
    // (domain rows carry table-relative paths; resolve before reclaiming)
    superseded.foreach(p => scala.util.Try(store.deleteObject(Paths.get(dataAbs(table, p)))))
    ndvs
  }

  /** The column's registered NDV (from the `graft.stats` domain — an
    * O(1) read off the log head; the Puffin is never opened). None when
    * the table carries no statistics for the column.
    */
  def statsNdv(spark: SparkSession, table: String, column: String): Option[Long] = {
    resolve(spark, table, None).domains.get(StatsDomain).flatMap { c =>
      val n = mapper.readTree(c).path("ndv").path(column)
      if (n.isMissingNode || n.isNull) None else Some(n.asLong())
    }
  }

  /** The NDV-driven BROADCAST decision ([[IcebergStats.scanForJoin]]'s
    * format twin): reads the table for a join and marks it
    * broadcast-able when the registered NDV of its join key — for a
    * dimension keyed by that column, an upper-bound row-count proxy —
    * sits under `broadcastMaxNdv`. Without statistics the scan is
    * returned unhinted (Catalyst's size-based estimate decides).
    */
  def scanForJoin(spark: SparkSession, table: String, joinKey: String,
      broadcastMaxNdv: Long = 1000000L): DataFrame = {
    val df = read(spark, table)
    if (statsNdv(spark, table, joinKey).exists(_ <= broadcastMaxNdv))
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  // ---- LIQUID CLUSTERING (Delta spec §Clustered Table — the
  // `clustering` writer feature; columns live in the `delta.clustering`
  // metadata domain) ----

  private[sinks] val ClusteringDomain = "delta.clustering"

  /** Graft-owned INCREMENTAL-liquid state: `{"columns": [physical...],
    * "generations": [txn-uuid...]}` — the rewrite txns whose output files
    * (txn uuid in the file name) are already clustered by `columns`.
    * Written by [[compact]] in the same commit as the rewrite; KB-bounded
    * (one uuid per OPTIMIZE, pruned to live generations). The spec slot
    * [[ClusteringDomain]] stays exactly spec-shaped.
    */
  private[sinks] val LiquidDomain = "graft.clustering"

  /** CLUSTER BY — declares the table's clustering columns (Delta spec
    * §Clustered Table): ONE metadata-only commit bumping the protocol to
    * writer v7 with the `clustering` + `domainMetadata` features (reader
    * untouched — clustering is a write-time layout contract readers need
    * not know) and recording `{"clusteringColumns":[["c"],…]}` in the
    * `delta.clustering` domain, the spec's slot (each entry a physical
    * column-name path). NO file moves at declaration time — the liquid
    * posture: [[compact]] (OPTIMIZE) clusters implicitly from then on,
    * and re-running clusterBy with different columns re-points future
    * OPTIMIZE runs without rewriting history (the mobility partitioning
    * can't offer). Read side: the clustered layout's tight per-file
    * [min, max] stats are exactly what [[readRange]]/[[readRanges]]
    * prune on — no new read machinery, just far fewer surviving files.
    */
  def clusterBy(spark: SparkSession, table: String, columns: Seq[String],
      store: CommitStore = CommitStore.Local): Unit = {
    require(columns.nonEmpty, "clusterBy needs at least one column")
    val meta = writable(spark, table)
    columns.foreach(c => require(meta.schema.fieldNames.contains(c),
      s"no such column: $c"))
    // data files carry PHYSICAL names; record those (spec contract)
    val paths = columns.map(c => jsonList(Seq(physName(meta.schema(c))))).mkString("[", ",", "]")
    strict(store, table, "clusterBy")(commitVersion(_, table, meta, meta.version + 1,
      Commit("CLUSTER BY", Seq("clusteringColumns" -> jsonList(columns)),
        domains = Seq(ClusteringDomain -> s"""{"clusteringColumns":$paths}"""),
        features = Set("clustering", "domainMetadata"))))
  }

  /** The declared clustering columns as LOGICAL names (empty when the
    * table is not clustered) — the domain stores physical paths, mapped
    * back through the schema's column-mapping stamps.
    */
  def clusteringColumns(spark: SparkSession, table: String): Seq[String] = {
    val state = resolve(spark, table, None)
    clusteringPhysical(state.domains).map { phys =>
      state.schema.fields.find(f => physName(f) == phys)
        .map(_.name).getOrElse(phys)
    }
  }

  private def clusteringPhysical(domains: Map[String, String]): Seq[String] =
    domains.get(ClusteringDomain).toSeq.flatMap { c =>
      mapper.readTree(c).path("clusteringColumns").elements().asScala.toSeq
        // a multi-segment path is a nested column; join to the dotted form
        .map(_.elements().asScala.map(_.asText()).mkString("."))
    }

  /** Physically deletes data files no longer referenced by the LATEST
    * snapshot whose on-disk mtime is older than `retentionMs` — the VACUUM
    * verb that reclaims space after [[compact]]/overwriting appends. Like
    * real Delta vacuum this also sweeps orphans (files from crashed
    * writers that never committed). Time travel to versions that
    * referenced a deleted file stops working — that's the retention
    * tradeoff the caller chooses. Returns the number of files deleted.
    */
  def vacuum(spark: SparkSession, table: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      store: CommitStore = CommitStore.Local): Int = {
    val dir = new File(table)
    val liveAdds = resolve(spark, table, None).live
    // dual-format guard (convertFromDelta/convertFromIceberg): a file the
    // ICEBERG plane still references — any snapshot — is not a tombstone,
    // whatever the Delta log thinks of it
    val icebergLive: Set[String] =
      IcebergSink.referencedDataFiles(table).flatMap { p =>
        val f = new File(p)
        if (f.getAbsolutePath.startsWith(dir.getAbsolutePath + File.separator))
          Some(dir.toPath.relativize(f.toPath).toString)
        else None
      }
    val liveNow = liveAdds.map(_.path).toSet ++ icebergLive
    val cutoff = System.currentTimeMillis() - retentionMs
    val dead = CommitStore.partFiles(dir).filter { f =>
      val rel = dir.toPath.relativize(f.toPath).toString
      !liveNow.contains(rel) && f.lastModified() < cutoff
    }
    // reclamation travels the store protocol when one is given (a real
    // bucket has no local unlink); empty-prefix cleanup below is a local
    // nicety — object stores have no directories to sweep
    dead.foreach(f => store.deleteObject(f.toPath))
    // CDC files are never referenced by a snapshot — they age out on the
    // same retention clock (Delta CDF's consume-within-retention contract)
    val deadCdc = Option(new File(dir, "_change_data").listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet") && f.lastModified() < cutoff)
    deadCdc.foreach(f => store.deleteObject(f.toPath))
    // deletion-vector sidecars: superseded descriptors (a re-delete
    // OR-merged them away, or a rewrite/compact dropped the DV) reclaim
    // on the same clock; live-referenced ones never do
    val liveDvs = liveAdds.flatMap(_.dv.flatMap(dvRelPath(table, _))).toSet
    val deadDv = Option(new File(dir, DvPrefix).listFiles()).toSeq.flatten
      .filter { f =>
        val rel = dir.toPath.relativize(f.toPath).toString
        f.getName.endsWith(".bin") && !liveDvs.contains(rel) &&
          f.lastModified() < cutoff
      }
    deadDv.foreach(f => store.deleteObject(f.toPath))
    // drop partition dirs emptied by the sweep
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName != "_delta_log" &&
        Option(d.listFiles()).forall(_.isEmpty))
      .foreach(_.delete())
    dead.size + deadCdc.size + deadDv.size
  }

  /** Total rows the live set's deletion vectors mask — the REORG-purge
    * trigger, from descriptors alone (no sidecar opened).
    */
  def dvMaskedRows(spark: SparkSession, table: String): Long =
    resolve(spark, table, None).live
      .flatMap(_.dv.map(_.cardinality)).sum

  /** DESCRIBE HISTORY — one row per commit, METADATA-ONLY (the Delta twin
    * of [[IcebergSink.metaTable]]("history")): version, commit timestamp
    * (in-commit timestamp when the commit carries one, else file mtime —
    * same clock as [[versionAtTimestamp]]), and the OPERATION inferred
    * from the commit's action shape (every version's leading commitInfo
    * names its delta-spark operation too; these shape classes are the
    * vocabulary `q_delta_history` pins), each unambiguous for the verbs
    * this engine commits:
    * CREATE (metaData at v0) / METADATA (metaData later — constraints,
    * column mapping, schema evolution) / PROTOCOL (protocol-only) /
    * APPEND (adds only) / STREAMING (adds + txn watermark) /
    * MERGE_ON_READ (adds carrying deletion vectors) / OPTIMIZE
    * (removes + adds, dataChange=false — compact/reorg/clone shapes) /
    * REWRITE (removes + adds, dataChange=true — CoW delete/update/merge) /
    * DELETE (removes only). Runs as one distributed pass over the log
    * tail; the ops dashboard query at any table size.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = logFiles(table)
    require(files.nonEmpty, s"not a Delta table (no _delta_log): $table")
    import spark.implicits._
    val mtimes = files
      .map(f => (f.getName.stripSuffix(".json").toLong,
        ictOfFile(f).getOrElse(f.lastModified()))) // ICT when present
      .toDF("version", "timestamp_ms")
    val acts = actionsDF(spark, files)
      .groupBy("version")
      .agg(
        count(col("add")).as("n_added"),
        count(col("remove")).as("n_removed"),
        max(col("metaData").isNotNull).as("has_meta"),
        max(col("protocol").isNotNull).as("has_protocol"),
        max(col("txn").isNotNull).as("has_txn"),
        max(col("add.deletionVector").isNotNull).as("has_dv"),
        min(coalesce(col("add.dataChange"), lit(true)) &&
          coalesce(col("remove.dataChange"), lit(true))).as("data_change"))
    acts.join(broadcast(mtimes), Seq("version"))
      .select(col("version"), col("timestamp_ms"),
        when(col("has_meta") && col("version") === 0, "CREATE")
          .when(col("has_meta"), "METADATA")
          .when(col("n_added") > 0 && col("has_dv"), "MERGE_ON_READ")
          .when(col("n_added") > 0 && col("n_removed") > 0 && !col("data_change"),
            "OPTIMIZE")
          .when(col("n_added") > 0 && col("n_removed") > 0, "REWRITE")
          .when(col("n_added") > 0 && col("has_txn"), "STREAMING")
          .when(col("n_added") > 0, "APPEND")
          .when(col("n_removed") > 0, "DELETE")
          .otherwise("PROTOCOL").as("operation"),
        col("n_added"), col("n_removed"))
      .orderBy("version")
  }

  /** Declared schema of a Delta table (no data scan). */
  def tableSchema(spark: SparkSession, table: String): StructType =
    resolve(spark, table, None).schema

  /** Latest committed log version of a Delta table. */
  def latestVersion(table: String): Long =
    logFiles(table).lastOption
      .map(_.getName.stripSuffix(".json").toLong)
      .getOrElse(-1L)

  private def logFiles(table: String): Seq[File] =
    Option(logDir(table).toFile.listFiles())
      .map(_.toSeq).getOrElse(Nil)
      .filter(_.getName.matches("\\d{20}\\.json"))
      .sortBy(_.getName)

  /** Reads a Delta table by replaying the `_delta_log`: from the newest
    * parquet checkpoint at or below the target version (if any), then the
    * JSON commits after it — add actions accumulate, removes retract.
    * `asOfVersion` stops the replay at that commit — snapshot time travel
    * over the same log.
    */
  def read(spark: SparkSession, table: String, asOfVersion: Option[Long] = None,
      store: CommitStore = CommitStore.Local): DataFrame =
    readState(spark, table, resolve(spark, table, asOfVersion), store)

  /** TIMESTAMP → VERSION resolution (delta-spark's `timestampAsOf`):
    * the LAST version committed at or before `tsMs`. Per-commit clock:
    * the commit's in-commit timestamp when it carries one
    * ([[enableInCommitTimestamps]] — the durable clock that survives a
    * log copy/rsync/touch), else the commit file's modification time —
    * the spec's pre-ICT rule (each mtime is its atomic-rename instant,
    * commit-ordered on one filesystem clock). On a table enabled
    * mid-history this is exactly the spec's split: ICT from the
    * enablement version on, mtime before it. Before the first commit →
    * error, mirroring delta-spark.
    */
  def versionAtTimestamp(table: String, tsMs: Long): Long = {
    val clocks = logFiles(table)
      .map(f => (f.getName.stripSuffix(".json").toLong,
        ictOfFile(f), f.lastModified()))
      .sortBy(_._1)
    // the ICT region starts at the enablement commit (the first to carry
    // one) and is SELF-CONTAINED: a target inside it resolves by ICT
    // alone, so copy-mangled mtimes on older commits cannot corrupt it
    val ictRegion = clocks.dropWhile(_._2.isEmpty)
    val resolved =
      if (ictRegion.nonEmpty && ictRegion.head._2.exists(_ <= tsMs))
        ictRegion.takeWhile(_._2.exists(_ <= tsMs)).lastOption.map(_._1)
      else
        clocks.takeWhile(c => c._2.isEmpty && c._3 <= tsMs).lastOption.map(_._1)
    require(resolved.isDefined,
      s"no commit at or before timestamp $tsMs in $table")
    resolved.get
  }

  /** Time travel by TIMESTAMP — the audit-friendly twin of the version
    * read ("what did the table serve at 09:00").
    */
  def readAsOfTimestamp(spark: SparkSession, table: String, tsMs: Long,
      store: CommitStore = CommitStore.Local): DataFrame =
    read(spark, table, Some(versionAtTimestamp(table, tsMs)), store)

  /** Stats-based FILE SKIPPING read: only files whose recorded
    * [min, max] range for `column` overlaps [lo, hi] enter the scan —
    * the read-side payoff of the per-file stats every add action records
    * and of OPTIMIZE ZORDER's clustering (tight per-file ranges ⇒ most
    * files skipped). At 100 TB this is the difference between opening
    * every file and opening the few that can match.
    *
    * The pruning predicate is a Spark filter over the snapshot's live
    * adds (stats parsed with `from_json`; the live set comes from the one
    * driver fold every read uses). Files without recorded stats for the column are always kept —
    * absent stats can never wrongly prune. Supported domains: numerics
    * (compared as double), strings (verbatim), dates (ISO text). The
    * result is a files-level superset of the matching rows: apply the
    * exact row filter on top, which Spark then also pushes into the
    * surviving files' row groups.
    */
  def readRange(spark: SparkSession, table: String, column: String,
      lo: String, hi: String, asOfVersion: Option[Long] = None): DataFrame =
    readRanges(spark, table, Seq((column, lo, hi)), asOfVersion)

  /** MULTI-COLUMN [[readRange]] — the clustered-table read path: a file
    * survives only when EVERY column's recorded [min, max] overlaps its
    * bound (bounds AND together; one stats parse serves all columns). On
    * a [[clusterBy]]'d table OPTIMIZE interleaves the declared columns
    * (Z-order), so a slice over any prefix/subset of them keeps tight
    * per-file ranges on each — the multi-dimensional skipping liquid
    * clustering exists for.
    */
  def readRanges(spark: SparkSession, table: String,
      bounds: Seq[(String, String, String)],
      asOfVersion: Option[Long] = None): DataFrame = {
    val snap = resolve(spark, table, asOfVersion)
    readState(spark, table, snap.copy(live = statsPruned(spark, snap, bounds)))
  }

  /** METADATA-ONLY file inventory of a snapshot: one row per live data
    * file — (path, partitionValues, num_records, size_bytes) — derived
    * entirely from the `_delta_log` (the numRecords stats every add action
    * records; reference delta_destination.rs writer stats). No data file
    * is opened: per-partition/table COUNT(*) and file-layout audits
    * ("DESCRIBE DETAIL"-shape questions) answer from KBs of log instead
    * of a 100 TB scan. One Spark projection over [[liveFrame]].
    */
  def fileStats(spark: SparkSession, table: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, from_json}
    val statsSchema = StructType(Seq(StructField("numRecords", LongType)))
    // a DV'd file's stats count the PHYSICAL rows; the descriptor's
    // cardinality subtracts the deleted ones without opening anything —
    // exactly what the cardinality field exists for
    liveFrame(spark, resolve(spark, table, asOfVersion))
      .select(col("path"), col("partitionValues"),
        (from_json(col("stats"), statsSchema).getField("numRecords") -
          org.apache.spark.sql.functions.coalesce(
            col("deletionVector.cardinality"),
            org.apache.spark.sql.functions.lit(0L)))
          .as("num_records"),
        col("size").as("size_bytes"))
  }

  /** The live adds of `snap` whose recorded [min, max] overlaps EVERY
    * bound (bounds AND together — the r8 advice fix: a composite-key
    * merge pruning only on `keys.head` scans every file overlapping the
    * first key's range even when a second key rules it out) — plus any
    * file without stats for a column (absent stats can never wrongly
    * prune). One stats parse serves all columns, as a Spark filter over
    * [[liveFrame]]; the surviving paths select the snapshot's adds.
    */
  private def statsPruned(spark: SparkSession, snap: Snapshot,
      bounds: Seq[(String, String, String)]): Seq[AddEntry] = {
    import org.apache.spark.sql.functions.{col, from_json, lit}
    val statsSchema = StructType(Seq(
      StructField("numRecords", LongType),
      StructField("minValues", MapType(StringType, StringType)),
      StructField("maxValues", MapType(StringType, StringType))))
    val parsed = liveFrame(spark, snap)
      .withColumn("__st", from_json(col("stats"), statsSchema))
    val keep = bounds.map { case (column, lo, hi) =>
      val dt = snap.schema(column).dataType
      // stats come from the file footers, which carry PHYSICAL names
      val phys = physName(snap.schema(column))
      val mn = col("__st.minValues")(phys)
      val mx = col("__st.maxValues")(phys)
      val overlaps = dt match {
        case _: NumericType =>
          mx.cast("double") >= lit(lo).cast("double") &&
            mn.cast("double") <= lit(hi).cast("double")
        case StringType | DateType =>
          mx >= lit(lo) && mn <= lit(hi)
        case _ => lit(true) // domain without a recorded ordering: no pruning
      }
      mn.isNull || mx.isNull || overlaps
    }.reduce(_ && _)
    val kept = parsed.filter(keep).select("path").collect().map(_.getString(0)).toSet
    snap.live.filter(a => kept.contains(a.path))
  }

  /** Change feed: the rows ADDED in versions (`sinceVersion`, latest] —
    * what an incremental consumer processes after its last checkpoint.
    * Only `dataChange=true` adds count: compaction rewrites the same rows
    * into new files with `dataChange=false`, and a feed that re-emitted
    * them would double-process every OPTIMIZE. Conversely, a file
    * tombstoned by a later compaction still belongs to the feed — it stays
    * on disk until [[vacuum]], which is why feeds must be consumed within
    * the vacuum retention window (the same contract as Delta CDF).
    * Returns rows in the table's declared schema.
    */
  def readChangesSince(spark: SparkSession, table: String, sinceVersion: Long): DataFrame =
    readChangesBetween(spark, table, sinceVersion, Long.MaxValue)

  /** [[readChangesSince]] with an inclusive upper version bound — the form
    * a streaming consumer needs: the rows of versions (since, until] and
    * nothing newer, so a commit racing the offset read can't leak into the
    * batch and duplicate on the next one.
    */
  def readChangesBetween(spark: SparkSession, table: String, sinceVersion: Long,
      untilVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, max_by, to_json}
    val state = resolve(spark, table, None)
    val files = logFiles(table)
      .filter { f =>
        val v = f.getName.stripSuffix(".json").toLong
        v > sinceVersion && v <= untilVersion
      }
    if (files.isEmpty) return readState(spark, table, state.copy(live = Nil))
    val feed = actionsDF(spark, files)
      .where(col("add").isNotNull &&
        (col("add.dataChange").isNull || col("add.dataChange")))
      .groupBy(col("add.path"))
      .agg(max_by(col("add"), col("version")).as("add"))
      // each path's last add, back as JSON through the log's own decoder
      .select(to_json(col("add"))).collect()
      .map(r => Js.add(mapper.readTree(r.getString(0)))).toSeq.sortBy(_.path)
    readState(spark, table, state.copy(live = feed))
  }

  /** Change-data feed with row-level classification — the CDF surface a
    * merge-aware incremental consumer reads. Returns the rows changed in
    * versions (`sinceVersion`, `untilVersion`] with the standard
    * `_change_type` column (insert / update_preimage / update_postimage /
    * delete) plus `_commit_version`. A commit carrying cdc actions (a
    * MERGE with the feed on) contributes EXACTLY its change files — the
    * images [[merge]] computed and wrote at merge time, so the feed never
    * re-diffs the rewrite. Other dataChange commits reconstruct from the
    * log at file granularity: adds emit their rows as insert, removes as
    * delete (an append is pure inserts; a restore's re-adds and removes
    * are genuine inserts/deletes to a consumer); dataChange=false
    * rewrites (OPTIMIZE) emit nothing, same as [[readChangesBetween]].
    * Cost scales with the CHANGED files of the range, never the table;
    * tombstoned and CDC files must still be on disk — the same
    * consume-within-retention contract as the plain feed and [[vacuum]].
    */
  def readCdf(spark: SparkSession, table: String, sinceVersion: Long,
      untilVersion: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val state = resolve(spark, table, None)
    val ctField = StructField("_change_type", StringType)
    val outSchema = StructType(state.schema.fields :+ ctField :+
      StructField("_commit_version", LongType))
    val versions = logFiles(table)
      .map(_.getName.stripSuffix(".json").toLong)
      .filter(v => v > sinceVersion && v <= untilVersion).sorted
    val frames = versions.flatMap { v =>
      // one commit's action list = the files THAT commit touched —
      // metadata-scale, driver-parsed like every other log-plane read
      val lines = Files.readAllLines(versionFile(table, v)).asScala
        .map(mapper.readTree).toSeq
      val cdc = lines.flatMap(n => Option(n.get("cdc"))).map(_.get("path").asText())
      if (cdc.nonEmpty) {
        // cdc files carry PHYSICAL column names under column mapping
        import org.apache.spark.sql.functions.col
        Seq(spark.read
          .schema(StructType(physicalSchema(state.schema).fields :+ ctField))
          .parquet(cdc.map(p => new File(table, p).getAbsolutePath): _*)
          .select(state.schema.fields.toIndexedSeq.map(f =>
            col(physName(f)).as(f.name)) :+ col("_change_type"): _*)
          .withColumn("_commit_version", lit(v)))
      } else {
        // an add keeps its log entry whole: its partition values (the
        // truth for files outside Hive-style dirs) and its DV (its insert
        // images are the SURVIVORS, never the deleted rows)
        def actionsOf(key: String) = lines.flatMap(n => Option(n.get(key)))
          .filter(n => Option(n.get("dataChange")).forall(_.asBoolean(true)))
          .map(Js.add)
        val adds0 = actionsOf("add")
        val removes0 = actionsOf("remove")
        // the predecessor state's descriptors feed two reconstructions: a
        // REMOVED file may have carried a DV at remove time (its delete
        // images are that DV's survivors), and a RE-ADDED path whose DV
        // changed is a feed-off DV delete/update — the newly masked rows
        // are genuine 'delete' images, the newly unmasked ones (a restore
        // shrinking a DV) genuine 'insert's; without the diff, replaying
        // the feed would reconstruct the deleted rows as still alive
        // computed only when the commit carries a signal that needs it
        // (removes, or an add with a descriptor) — a plain append never
        // pays the extra replay; a restore re-add WITHOUT a descriptor
        // stays at the documented file-granularity reconstruction
        val prev: Map[String, AddEntry] =
          if (v == 0 || (removes0.isEmpty && adds0.forall(_.dv.isEmpty))) Map.empty
          else resolve(spark, table, Some(v - 1)).live.map(a => a.path -> a).toMap
        // a removed file reads as the predecessor's entry (its partition
        // values and its DV at remove time): remove actions need not carry
        // either
        val removes = removes0.map(r => prev.getOrElse(r.path, r.copy(dv = None)))
        val (reAdds, newAdds) = adds0.partition(a => prev.contains(a.path))
        // per re-added file: rows masked by (new \ old) → delete images,
        // rows unmasked by (old \ new) → insert images; the probe is the
        // same packed-bitmap expression the merged read plants, here
        // filtering FOR membership in the diff
        def bitmapOf(dv: Option[DvInfo]) = dv match {
          case Some(d) => graft.functions.DeletionVector.deserialize(
            dvBitmapBytes(table, d,
              p => CommitStore.Local.readObject(Paths.get(p))))
          case None => new org.roaringbitmap.longlong.Roaring64Bitmap()
        }
        // each re-added file's (new, old) bitmap pair loads ONCE and feeds
        // both diff directions; the two change-type frames then share one
        // lineage scan of the re-added files
        def andNot(a: org.roaringbitmap.longlong.Roaring64Bitmap,
            b: org.roaringbitmap.longlong.Roaring64Bitmap) = {
          val r = a.clone().asInstanceOf[org.roaringbitmap.longlong.Roaring64Bitmap]
          r.andNot(b); r
        }
        val dvPairs = reAdds.map(a => (a, bitmapOf(a.dv), bitmapOf(prev(a.path).dv)))
        def diffMapOf(pick: (org.roaringbitmap.longlong.Roaring64Bitmap,
            org.roaringbitmap.longlong.Roaring64Bitmap) =>
            org.roaringbitmap.longlong.Roaring64Bitmap): Map[String, Array[Byte]] =
          dvPairs.flatMap { case (a, nw, old) =>
            val diff = pick(nw, old)
            if (diff.isEmpty) Nil
            else {
              val bytes = graft.functions.DeletionVector.serialize(diff)
              DvPlane.keysOf(dataAbs(table, a.path)).map(_ -> bytes)
            }
          }.toMap
        val delMap = diffMapOf((nw, old) => andNot(nw, old))
        val insMap = diffMapOf((nw, old) => andNot(old, nw))
        lazy val diffBase = readStateFiles(spark, table,
          state.copy(live = reAdds.map(_.copy(dv = None))), withLineage = true)
        def diffFrames(ct: String, diffMap: Map[String, Array[Byte]]): Seq[DataFrame] =
          if (diffMap.isEmpty) Nil
          else {
            val packed = graft.functions.DeletionVector.packMap(diffMap)
            Seq(diffBase.filter(graft.functions.DeletionVector.dvDeleted(packed,
                DvPlane.stripScheme(col(DvPlane.UriCol)), col(DvPlane.PosCol)))
              .select(state.schema.fieldNames.toIndexedSeq.map(col): _*)
              .withColumn("_change_type", lit(ct)))
          }
        val dvDeletes = diffFrames("delete", delMap)
        val dvInserts = diffFrames("insert", insMap)
        val ins =
          if (newAdds.isEmpty) Nil
          else Seq(readState(spark, table, state.copy(live = newAdds))
            .withColumn("_change_type", lit("insert")))
        val del =
          if (removes.isEmpty) Nil
          else Seq(readState(spark, table, state.copy(live = removes))
            .withColumn("_change_type", lit("delete")))
        (ins ++ del ++ dvDeletes ++ dvInserts)
          .map(_.withColumn("_commit_version", lit(v)))
      }
    }
    if (frames.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), outSchema)
    else frames.reduce(_.unionByName(_))
  }

  private def readState(spark: SparkSession, table: String, state: Snapshot,
      store: CommitStore = CommitStore.Local): DataFrame =
    readStateMerged(spark, table, state, keepLineage = false, store)

  /** Past this packed-map size the DV probe ships as a BROADCAST instead
    * of a plan literal: a literal serializes into EVERY task binary (at
    * 10k tasks a 16 MB map is 160 GB of task bytes), a broadcast once per
    * executor. Under it the literal wins — no broadcast bookkeeping, and
    * the map rides plan caching. (var: PlanSpec lowers it to drive the
    * broadcast path with test-sized bitmaps.)
    */
  private[graft] var DvLiteralMaxBytes: Int = 8 * 1024 * 1024

  /** Total DV bytes (by descriptor sizeInBytes — decided WITHOUT reading
    * a byte) past which the merged read stops materializing bitmaps on
    * the driver and applies deletes as a distributed anti-join (tasks
    * read vectors via TaskIO and explode positions). Broadcast carries
    * comfortably to a few hundred MB; beyond that the join is the
    * honest plan. Test override via the var.
    */
  private[graft] var DvBroadcastMaxBytes: Long = 256L * 1024 * 1024

  /** The MERGED view of a snapshot: the live files' rows minus what their
    * deletion vectors erase. Zero overhead when no live add carries a DV
    * (the plain scan is returned untouched — no lineage columns read, no
    * filter planted). With DVs, every row's (file, row_index) — free from
    * the parquet reader's `_metadata` struct — meets the vectors of
    * exactly THIS state's files (a stats-pruned readRange applies only
    * the survivors' DVs) through [[DvPlane.applyVectors]]. `keepLineage`
    * keeps `_gf_uri`/`_gf_pos` for [[deleteWhereDV]]'s provenance.
    */
  private def readStateMerged(spark: SparkSession, table: String,
      state: Snapshot, keepLineage: Boolean,
      store: CommitStore = CommitStore.Local): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dvAdds = state.live.filter(_.dv.isDefined)
    if (dvAdds.isEmpty && !keepLineage)
      return readStateFiles(spark, table, state, withLineage = false)
    val base = readStateFiles(spark, table, state, withLineage = true)
    val merged =
      if (dvAdds.isEmpty) base
      else DvPlane.applyVectors(store, base,
        DvPlane.stripScheme(col(DvPlane.UriCol)),
        dvAdds.map(a => (dataAbs(table, a.path), a.dv.get.sizeInBytes, a.dv.get)),
        (dv: DvInfo, read: String => Array[Byte]) =>
          dvBitmapBytes(table, dv, read))
    if (keepLineage) merged
    else merged.select(state.schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  private def readStateFiles(spark: SparkSession, table: String, state: Snapshot,
      withLineage: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val lineageCols = Seq(col("_metadata.file_path").as("_gf_uri"),
      col("_metadata.row_index").as("_gf_pos"))
    val paths = state.live.map(a => dataAbs(table, a.path))
    if (paths.isEmpty) {
      val lineageFields =
        if (!withLineage) Array.empty[StructField]
        else Array(StructField("_gf_uri", StringType),
          StructField("_gf_pos", LongType))
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(state.schema.fields ++ lineageFields))
    } else if (state.partitionColumns.isEmpty) {
      // data files carry PHYSICAL column names (= logical until a
      // rename/drop enables column mapping); project back to logical
      val base = spark.read.schema(physicalSchema(state.schema)).parquet(paths: _*)
      val cols = state.schema.fields.toIndexedSeq.map(f =>
        col(physName(f)).as(f.name)) ++ (if (withLineage) lineageCols else Nil)
      if (!mappingEnabled(state.schema) && !withLineage) base
      else base.select(cols: _*)
    } else if (state.live.forall(_.path.startsWith(
        state.partitionColumns.head + "="))) {
      // Hive-style dirs + basePath: Spark's partition discovery restores the
      // partition columns (typed per the declared schema) and Catalyst
      // partition-prunes on them; select() pins the declared column order.
      // Partition columns refuse rename/drop, so their physical names are
      // their logical ones and directory discovery is mapping-agnostic.
      spark.read.schema(physicalSchema(state.schema)).option("basePath", table)
        .parquet(paths: _*)
        .select(state.schema.fields.toIndexedSeq.map(f =>
          col(physName(f)).as(f.name)) ++
          (if (withLineage) lineageCols else Nil): _*)
    } else {
      // NON-standard layout (a convertFromIceberg table, whose files sit
      // under data/stage-*/col=v/): directory discovery would choke on the
      // mixed depths, so partition values come from the LOG's
      // add.partitionValues — the spec's actual source of truth — injected
      // as typed literals per value group. One scan per distinct partition
      // tuple, same shape as the Iceberg reader's readEntries.
      import org.apache.spark.sql.functions.lit
      val dataSchema = StructType(physicalSchema(state.schema).fields
        .filterNot(f => state.partitionColumns.contains(f.name)))
      state.live.groupBy(_.partitionValues).toSeq.map { case (pv, adds) =>
        val base = spark.read.schema(dataSchema)
          .parquet(adds.map(a => dataAbs(table, a.path)): _*)
        val cols = state.schema.fields.toIndexedSeq.map { f =>
          if (state.partitionColumns.contains(f.name))
            lit(pv.getOrElse(f.name, null)).cast(f.dataType).as(f.name)
          else col(physName(f)).as(f.name)
        } ++ (if (withLineage) lineageCols else Nil)
        base.select(cols: _*)
      }.reduce(_.unionAll(_))
    }
  }

  /** JSON commit actions, as a Spark schema: what [[actionsDF]] extracts
    * from the log tail. PERMISSIVE json read turns a protocol line into
    * all-null columns — filtered out downstream, never an error.
    */
  private val JsonActionSchema = StructType(Seq(
    StructField("protocol", CheckpointSchema("protocol").dataType),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("createdTime", LongType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))),
    StructField("add", CheckpointSchema("add").dataType),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("dataChange", BooleanType)))),
    StructField("txn", CheckpointSchema("txn").dataType),
    StructField("domainMetadata", CheckpointSchema("domainMetadata").dataType)))

  /** The given commit files as a DataFrame of actions tagged with their
    * commit version — for the verbs that aggregate over a version range
    * ([[history]], [[readChangesBetween]]); snapshots resolve through
    * [[resolve]].
    */
  private def actionsDF(spark: SparkSession, files: Seq[File]): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}
    // FAILFAST: a truncated/garbled commit line must abort the read, as it
    // aborts the driver fold — PERMISSIVE would turn it into an all-null
    // row that the action filters silently drop, and the adds it carried
    // would vanish without an error.
    spark.read.schema(JsonActionSchema).option("mode", "FAILFAST")
      .json(files.map(_.getPath): _*)
      .withColumn("version",
        regexp_extract(input_file_name(), "(\\d{20})\\.json", 1).cast("long"))
  }

  /** The live-set columns of [[liveFrame]], as an explicit schema. */
  private lazy val LiveSetSchema: StructType = {
    val add = CheckpointSchema("add").dataType.asInstanceOf[StructType]
    StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", add("partitionValues").dataType),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("stats", StringType),
      StructField("deletionVector", add("deletionVector").dataType),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))
  }

  /** A snapshot's live adds as a local relation of [[LiveSetSchema]]: the
    * frame of the verbs that run Spark expressions over the live set (the
    * checkpoint writers, [[fileStats]], [[statsPruned]]).
    */
  private def liveFrame(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.createDataFrame(snap.live.map { a =>
      Row(a.path, a.partitionValues, a.size, a.modificationTime, a.stats,
        a.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
          d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull,
        a.baseRowId.map(Long.box).orNull,
        a.defaultRowCommitVersion.map(Long.box).orNull)
    }.asJava, LiveSetSchema)

  /** Null-safe field access over a parsed JSON commit line: the commit
    * decoder of [[Fold]], also used for the adds [[readChangesBetween]]
    * and [[readCdf]] read.
    */
  private object Js {
    import com.fasterxml.jackson.databind.JsonNode
    def field(n: JsonNode, f: String): Option[JsonNode] =
      Option(n.get(f)).filterNot(_.isNull)
    def txt(n: JsonNode, f: String): String = field(n, f).map(_.asText).orNull
    def lng(n: JsonNode, f: String): Option[Long] = field(n, f).map(_.asLong)
    def int(n: JsonNode, f: String): Option[Int] = field(n, f).map(_.asInt)
    def strSeq(n: JsonNode, f: String): Option[Seq[String]] =
      field(n, f).map(_.elements().asScala.map(_.asText).toSeq)
    def strMap(n: JsonNode, f: String): Option[Map[String, String]] =
      field(n, f).map(_.properties().asScala
        .map(e => e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText))
        .toMap)
    def dv(d: JsonNode): DvInfo =
      DvInfo(Option(txt(d, "storageType")).getOrElse("p"), txt(d, "pathOrInlineDv"),
        int(d, "offset"), lng(d, "sizeInBytes").getOrElse(0L),
        lng(d, "cardinality").getOrElse(0L))
    def add(a: JsonNode): AddEntry =
      AddEntry(txt(a, "path"), strMap(a, "partitionValues").getOrElse(Map.empty),
        lng(a, "size").getOrElse(0L), lng(a, "modificationTime").getOrElse(0L),
        txt(a, "stats"), field(a, "deletionVector").map(dv),
        lng(a, "baseRowId"), lng(a, "defaultRowCommitVersion"))
  }

  /** Null-safe field access over parquet [[org.apache.parquet.example.data.Group]]
    * rows: the checkpoint decoder of [[Fold]]. List/map accessors resolve
    * the repeated inner group's NAME from the file schema, so both the
    * standard layout (list/element, key_value) and a legacy writer's
    * (array/bag) read identically.
    */
  private object Gp {
    import org.apache.parquet.example.data.Group
    def has(g: Group, f: String): Boolean =
      g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0
    def str(g: Group, f: String): String =
      if (has(g, f)) g.getString(f, 0) else null
    def lng(g: Group, f: String): Option[Long] =
      if (has(g, f)) Some(g.getLong(f, 0)) else None
    def int(g: Group, f: String): Option[Int] =
      if (has(g, f)) Some(g.getInteger(f, 0)) else None
    def bool(g: Group, f: String): Option[Boolean] =
      if (has(g, f)) Some(g.getBoolean(f, 0)) else None
    def sub(g: Group, f: String): Option[Group] =
      if (has(g, f)) Some(g.getGroup(f, 0)) else None
    def strList(g: Group, f: String): Option[Seq[String]] = sub(g, f).map { lg =>
      val t = lg.getType
      if (t.getFieldCount == 0) Nil
      else {
        val rep = t.getType(0).getName // "list" (standard) / "array"|"bag" (legacy)
        (0 until lg.getFieldRepetitionCount(rep)).map { i =>
          val e = lg.getGroup(rep, i)
          if (e.getFieldRepetitionCount(0) > 0) e.getString(0, 0) else null
        }
      }
    }
    def strMap(g: Group, f: String): Option[Map[String, String]] = sub(g, f).map { mg =>
      val t = mg.getType
      if (t.getFieldCount == 0) Map.empty[String, String]
      else {
        val rep = t.getType(0).getName // "key_value" (standard) / "map" (legacy)
        (0 until mg.getFieldRepetitionCount(rep)).map { i =>
          val kv = mg.getGroup(rep, i)
          val v =
            if (kv.getType.getFieldCount > 1 && kv.getFieldRepetitionCount(1) > 0)
              kv.getString(1, 0)
            else null
          kv.getString(0, 0) -> v
        }.toMap
      }
    }
    def add(a: Group): AddEntry =
      AddEntry(str(a, "path"), strMap(a, "partitionValues").getOrElse(Map.empty),
        lng(a, "size").getOrElse(0L), lng(a, "modificationTime").getOrElse(0L),
        str(a, "stats"),
        sub(a, "deletionVector").map(d =>
          DvInfo(Option(str(d, "storageType")).getOrElse("p"), str(d, "pathOrInlineDv"),
            int(d, "offset"), lng(d, "sizeInBytes").getOrElse(0L),
            lng(d, "cardinality").getOrElse(0L))),
        lng(a, "baseRowId"), lng(a, "defaultRowCommitVersion"))
  }

  /** The ONE Delta log replay (spec §Action Reconciliation): checkpoint
    * rows first, then the JSON commits in (version, line) order, each
    * through its decoder ([[group]], [[json]]) into the same rules,
    * written once here. Last action per path wins and a remove retracts;
    * the metadata plane follows the rules on each method below.
    */
  private final class Fold {
    import com.fasterxml.jackson.databind.JsonNode
    import org.apache.parquet.example.data.Group
    private var schema: Option[StructType] = None
    private var partCols: Seq[String] = Nil
    private var tableId: String = null
    private var createdTime = 0L
    private var configuration = Map.empty[String, String]
    private var minReader = 1
    private var minWriter = 1
    private var readerFeatures: Seq[String] = Nil
    private var writerFeatures: Seq[String] = Nil
    private val txns = scala.collection.mutable.Map.empty[String, Long]
    private val domains = scala.collection.mutable.Map.empty[String, String]
    private val live = scala.collection.mutable.HashMap.empty[String, AddEntry]

    /** A metaData action replaces the schema, layout and configuration
      * wholesale (spec: each carries the complete map); the first
      * non-zero createdTime is the table's birth, which later metaData
      * actions (schema evolution) repeat.
      */
    private def metaData(id: String, created: Option[Long], schemaString: String,
        pc: Option[Seq[String]], conf: Option[Map[String, String]]): Unit = {
      schema = Some(DataType.fromJson(schemaString).asInstanceOf[StructType])
      partCols = pc.getOrElse(Nil)
      if (id != null) tableId = id
      configuration = conf.getOrElse(Map.empty)
      if (createdTime == 0L) createdTime = created.getOrElse(0L)
    }

    /** Versions only ratchet up; a feature list REPLACES the previous one
      * (spec), and a checkpoint written before the lists existed reads
      * none, keeping whatever the tail establishes.
      */
    private def protocol(r: Option[Int], w: Option[Int],
        rf: Option[Seq[String]], wf: Option[Seq[String]]): Unit = {
      r.foreach(v => minReader = math.max(minReader, v))
      w.foreach(v => minWriter = math.max(minWriter, v))
      rf.foreach(readerFeatures = _)
      wf.foreach(writerFeatures = _)
    }

    /** A streaming writer's watermark only moves forward. */
    private def txn(appId: String, version: Long): Unit =
      if (txns.get(appId).forall(_ < version)) txns(appId) = version

    private def domain(name: String, conf: String, removed: Boolean): Unit =
      if (name != null) {
        if (removed) domains -= name else domains(name) = conf
      }

    /** One JSON commit line. */
    def json(n: JsonNode): Unit = {
      Js.field(n, "metaData").foreach(m => metaData(Js.txt(m, "id"),
        Js.lng(m, "createdTime"), Js.txt(m, "schemaString"),
        Js.strSeq(m, "partitionColumns"), Js.strMap(m, "configuration")))
      Js.field(n, "protocol").foreach(p => protocol(Js.int(p, "minReaderVersion"),
        Js.int(p, "minWriterVersion"), Js.strSeq(p, "readerFeatures"),
        Js.strSeq(p, "writerFeatures")))
      Js.field(n, "txn").foreach(t => txn(Js.txt(t, "appId"), t.get("version").asLong))
      Js.field(n, "domainMetadata").foreach(d => domain(Js.txt(d, "domain"),
        Js.txt(d, "configuration"), Js.field(d, "removed").exists(_.asBoolean)))
      Js.field(n, "add").foreach { a => val e = Js.add(a); live(e.path) = e }
      Js.field(n, "remove").foreach(r => live -= Js.txt(r, "path"))
    }

    /** One checkpoint row: a classic part's, a V2 manifest's or a
      * sidecar's.
      */
    def group(g: Group): Unit = {
      Gp.sub(g, "metaData").foreach(m => metaData(Gp.str(m, "id"),
        Gp.lng(m, "createdTime"), Gp.str(m, "schemaString"),
        Gp.strList(m, "partitionColumns"), Gp.strMap(m, "configuration")))
      Gp.sub(g, "protocol").foreach(p => protocol(Gp.int(p, "minReaderVersion"),
        Gp.int(p, "minWriterVersion"), Gp.strList(p, "readerFeatures"),
        Gp.strList(p, "writerFeatures")))
      Gp.sub(g, "txn").foreach(t => txn(Gp.str(t, "appId"), Gp.lng(t, "version").get))
      Gp.sub(g, "domainMetadata").foreach(d => domain(Gp.str(d, "domain"),
        Gp.str(d, "configuration"), Gp.bool(d, "removed").contains(true)))
      Gp.sub(g, "add").foreach { a => val e = Gp.add(a); live(e.path) = e }
    }

    /** The reader gates, then the folded [[Snapshot]] at `version`. */
    def snapshot(table: String, version: Long): Snapshot = {
      require(schema.isDefined, s"Delta log has no metaData action: $table")
      // PROTOCOL GATE: refuse tables demanding reader capabilities beyond
      // this engine's (v3 + the features below). Silently mis-reading a
      // table whose protocol promises semantics we don't implement is the
      // one unforgivable failure mode of a log-replicated format.
      require(minReader <= 3,
        s"unsupported Delta protocol: table requires reader version $minReader, " +
          "this engine supports up to 3 (deletion vectors)")
      // v3 reader features gate the same way (spec: a reader must refuse a
      // table listing a feature it does not implement)
      val unknownReader = readerFeatures.toSet -- SupportedReaderFeatures
      require(unknownReader.isEmpty,
        s"unsupported Delta reader feature(s) ${unknownReader.toSeq.sorted.mkString(", ")}: " +
          s"this engine implements ${SupportedReaderFeatures.toSeq.sorted.mkString(", ")}")
      // An external log whose metaData carries no id (allowed by the
      // spec's readers, written by some engines) would otherwise thread
      // `null` downstream (ADVICE r7). Derive it DETERMINISTICALLY from the
      // table location, so every replay — two concurrent ones that each
      // re-write metaData included — agrees; the first persisted metaData
      // then fixes it for the table's remaining lifetime.
      val id = Option(tableId).getOrElse(java.util.UUID.nameUUIDFromBytes(
        logDir(table).toAbsolutePath.normalize.toString
          .getBytes(StandardCharsets.UTF_8)).toString)
      Snapshot(version, id, createdTime, schema.get, partCols, minReader,
        minWriter, readerFeatures, writerFeatures, configuration, domains.toMap,
        txns.toMap, live.values.toSeq.sortBy(_.path))
    }
  }

  /** Streams every row of the given LOCAL parquet files to `f`, one
    * parquet Group at a time (driver, no Spark job).
    */
  private def parquetGroups(files: Seq[File], conf: Configuration)(
      f: org.apache.parquet.example.data.Group => Unit): Unit =
    files.foreach { file =>
      val rd = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(file.getPath))
        .withConf(conf).build()
      try {
        var g = rd.read()
        while (g != null) { f(g); g = rd.read() }
      } finally rd.close()
    }

  /** Each action line of the given commit files, parsed, in (version,
    * line) order. A malformed line throws.
    */
  private def jsonActions(files: Seq[File])(
      f: com.fasterxml.jackson.databind.JsonNode => Unit): Unit =
    for (file <- files; line <- Files.readAllLines(file.toPath).asScala
         if line.trim.nonEmpty)
      f(mapper.readTree(line))

  /** The `_last_checkpoint` pointer — the ONE reader of it: the
    * checkpointed version and, for a V2 checkpoint, its manifest's file
    * name. The spec finds V2 checkpoints by the
    * `<v>.checkpoint.<uuid>.parquet` NAME PATTERN, so a pointer without
    * this engine's `path` hint (an external writer's) still resolves a
    * V2-named manifest FILE at the pointed version; classic checkpoints
    * are directories and never match. None when there is no pointer.
    */
  private def lastCheckpoint(table: String): Option[(Long, Option[String])] = {
    val f = lastCheckpointFile(table)
    if (!Files.exists(f)) None
    else {
      val node = mapper.readTree(Files.readString(f))
      val v = node.get("version").asLong()
      Some((v, Js.field(node, "path").map(_.asText).orElse(
        Option(logDir(table).toFile.listFiles()).toSeq.flatten
          .filter(m => m.isFile &&
            m.getName.matches(f"$v%020d\\.checkpoint\\..+\\.parquet"))
          .map(_.getName).sorted.lastOption)))
    }
  }

  /** Streams the rows of the checkpoint at version `v` to `f`: the V2
    * `manifest` then its sidecars, or the classic checkpoint's parts. A
    * manifest's own add rows count only when it lists no sidecar (the
    * spec permits inline file actions in a sidecar-less manifest). A
    * missing manifest, sidecar or checkpoint fails naming the file.
    */
  private def checkpointRows(spark: SparkSession, table: String, v: Long,
      manifest: Option[String])(
      f: org.apache.parquet.example.data.Group => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def present(file: File, what: String): File = {
      require(file.exists, s"Delta $what is missing: $file")
      file
    }
    manifest match {
      case Some(name) =>
        val sidecars = Seq.newBuilder[File]
        val inline = Seq.newBuilder[org.apache.parquet.example.data.Group]
        parquetGroups(Seq(present(logDir(table).resolve(name).toFile,
            "checkpoint manifest")), conf) { g =>
          Gp.sub(g, "sidecar").foreach(s => sidecars += present(logDir(table)
            .resolve("_sidecars").resolve(Gp.str(s, "path")).toFile, "checkpoint sidecar"))
          if (Gp.has(g, "add")) inline += g else f(g)
        }
        val listed = sidecars.result()
        if (listed.isEmpty) inline.result().foreach(f)
        parquetGroups(listed, conf)(f)
      case None =>
        val c = present(checkpointFile(table, v).toFile, "checkpoint")
        parquetGroups(if (c.isDirectory) CommitStore.partFiles(c) else Seq(c), conf)(f)
    }
  }

  /** Resolves the snapshot at `asOfVersion` (or the latest): one [[Fold]]
    * on the driver takes the checkpoint `_last_checkpoint` points at, when
    * it is at or below the target, then the JSON commits after it. No
    * Spark job runs; the driver holds one [[AddEntry]] per live file.
    */
  private def resolve(spark: SparkSession, table: String,
      asOfVersion: Option[Long]): Snapshot = {
    val ckpt = lastCheckpoint(table).filter(c => asOfVersion.forall(_ >= c._1))
    val tail = logFiles(table).filter { f =>
      val v = f.getName.stripSuffix(".json").toLong
      asOfVersion.forall(v <= _) && ckpt.forall(v > _._1)
    }
    require(tail.nonEmpty || ckpt.isDefined,
      s"not a Delta table (no _delta_log): $table")
    val fold = new Fold
    ckpt.foreach { case (v, manifest) =>
      checkpointRows(spark, table, v, manifest)(fold.group) }
    jsonActions(tail)(fold.json)
    fold.snapshot(table,
      tail.lastOption.map(_.getName.stripSuffix(".json").toLong).getOrElse(ckpt.get._1))
  }

  /** Metadata-only live-file inventory for format interop
    * ([[IcebergSink.convertFromDelta]]'s UniForm-style convert): the
    * current snapshot's schema, partition columns, live adds as
    * (relative path, partitionValues, hasDeletionVector), and whether
    * column mapping is enabled. No data file is opened.
    */
  private[sinks] def liveInventory(spark: SparkSession, table: String)
      : (StructType, Seq[String], Seq[(String, Map[String, String], Boolean)],
         Boolean) = {
    val st = resolve(spark, table, None)
    (st.schema, st.partitionColumns,
      st.live.map(a => (a.path, a.partitionValues, a.dv.isDefined)),
      mappingEnabled(st.schema))
  }

  /** EVERY data path ANY version of the log ever added — tombstones
    * included. The protection set the Iceberg-plane janitors honor on a
    * dual-format table: a Delta tombstone still inside vacuum's retention
    * window serves time travel and restore, so it is NOT an orphan and
    * not reclaimable by the other plane. Read on the driver from every
    * JSON commit and the pointed checkpoint, through the fold's decoders.
    */
  private[sinks] def allReferencedFiles(spark: SparkSession, table: String)
      : Set[String] = {
    val paths = Set.newBuilder[String]
    jsonActions(logFiles(table))(n =>
      Js.field(n, "add").foreach(a => paths += Js.txt(a, "path")))
    lastCheckpoint(table).foreach { case (v, manifest) =>
      checkpointRows(spark, table, v, manifest)(g =>
        Gp.sub(g, "add").foreach(a => paths += Gp.str(a, "path")))
    }
    paths.result()
  }

  /** The latest snapshot, behind the WRITER-side protocol gate
    * (symmetrical to resolve()'s reader gate): committing to a table whose
    * protocol demands a writer version beyond 7 would violate invariants
    * we don't implement.
    */
  private def writable(spark: SparkSession, table: String): Snapshot = {
    val state = resolve(spark, table, None)
    require(state.minWriter <= 7,
      s"unsupported Delta protocol: $table requires writer version " +
        s"${state.minWriter}, this engine supports up to 7 (deletion vectors)")
    state
  }

  /** A table feature's legacy (reader, writer) protocol pair, if it has
    * one, and whether readers must implement it (spec §Table Features).
    */
  private case class Feature(legacy: Option[(Int, Int)], reader: Boolean)

  /** THE feature table: every feature this engine writes, and
    * `timestampNtz`, which it only reads. Its reader features are the
    * reader gate's allowlist ([[resolve]] refuses any other).
    */
  private val Features: Map[String, Feature] = Map(
    "checkConstraints" -> Feature(Some((1, 3)), reader = false), // addCheckConstraint
    "generatedColumns" -> Feature(Some((1, 4)), reader = false), // writeGenerated
    "columnMapping" -> Feature(Some((2, 5)), reader = true), // renameColumn, dropColumn
    "deletionVectors" -> Feature(None, reader = true), // deleteWhereDV, updateWhereDV
    "v2Checkpoint" -> Feature(None, reader = true), // checkpointV2
    "variantType" -> Feature(None, reader = true), // a create with a VARIANT column
    "timestampNtz" -> Feature(None, reader = true), // read only
    "inCommitTimestamp" -> Feature(None, reader = false), // enableInCommitTimestamps
    "rowTracking" -> Feature(None, reader = false), // enableRowTracking
    "domainMetadata" -> Feature(None, reader = false), // the above, writeStats, clusterBy
    "clustering" -> Feature(None, reader = false)) // clusterBy

  private val SupportedReaderFeatures =
    Features.collect { case (f, Feature(_, true)) => f }.toSet

  /** The features a table with this schema and configuration uses. */
  private def activeFeatures(schema: StructType,
      config: Map[String, String]): Seq[String] = {
    val rowTracked = config.get(RowTrackingConf).contains("true")
    Seq("columnMapping" -> mappingEnabled(schema),
      "checkConstraints" -> config.keys.exists(_.startsWith("delta.constraints.")),
      "generatedColumns" -> schema.fields.exists(_.metadata.contains(GenExprKey)),
      "variantType" -> hasVariant(schema),
      "inCommitTimestamp" -> config.get(IctConf).contains("true"),
      "rowTracking" -> rowTracked, "domainMetadata" -> rowTracked)
      .collect { case (f, true) => f }
  }

  /** A VARIANT anywhere in the type (Delta 4.0 spec §Variant Data Type:
    * readers that can't decode the binary encoding must refuse the table).
    */
  private def hasVariant(dt: DataType): Boolean = dt match {
    case _: VariantType => true
    case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
    case a: ArrayType => hasVariant(a.elementType)
    case m: MapType => hasVariant(m.keyType) || hasVariant(m.valueType)
    case _ => false
  }

  /** THE protocol rule: the protocol action of a commit over `base` that
    * needs `need` — None when base's protocol covers it (a create always
    * writes one). Otherwise legacy versions while every feature listed,
    * used (`active`) or needed has a legacy pair; else writer 7 listing
    * them all, reader 3 only for a reader feature (lists exist only at
    * reader 3 / writer 7).
    */
  private def protocolLine(base: Snapshot, need: Set[String], active: Seq[String],
      create: Boolean): Option[String] = {
    def isReader(f: String) = Features.get(f).exists(_.reader)
    def covered(f: String) =
      if (base.minWriter >= 7)
        base.writerFeatures.contains(f) && (!isReader(f) || base.readerFeatures.contains(f))
      else Features.get(f).flatMap(_.legacy).exists { case (r, w) =>
        base.minReader >= r && base.minWriter >= w
      }
    val keep = need.forall(covered)
    if (keep && !create) return None
    val all = (base.readerFeatures ++ base.writerFeatures ++ active ++ need).distinct
    val legacy = all.flatMap(Features.get(_).flatMap(_.legacy))
    val (r, w, rf, wf) =
      if (keep) (base.minReader, base.minWriter, base.readerFeatures, base.writerFeatures)
      else if (base.minWriter < 7 && legacy.size == all.size)
        ((base.minReader +: legacy.map(_._1)).max,
          (base.minWriter +: legacy.map(_._2)).max, Nil, Nil)
      else {
        val rf = base.readerFeatures ++ all.filter(isReader)
        (if (rf.nonEmpty) 3 else base.minReader, 7, rf, all)
      }
    Some(s"""{"protocol":{"minReaderVersion":$r,"minWriterVersion":$w""" +
      (if (r >= 3) s""","readerFeatures":${jsonList(rf.distinct.sorted)}""" else "") +
      (if (w >= 7) s""","writerFeatures":${jsonList(wf.distinct.sorted)}""" else "") + "}}")
  }

  /** One Delta log version as a verb hands it to [[commitVersion]]:
    * operation and parameters, adds and removes (written with
    * `dataChange`), `newRows` (adds whose rows are new), cdc files, domain
    * metadata, the `txn` watermark, an optional schema, partition-column
    * or configuration change, the features it needs, the verb's metrics.
    */
  private case class Commit(operation: String,
      parameters: Seq[(String, String)] = Nil,
      adds: Seq[AddEntry] = Nil, newRows: Seq[AddEntry] = Nil,
      removes: Seq[AddEntry] = Nil, dataChange: Boolean = true,
      cdc: Seq[AddEntry] = Nil, domains: Seq[(String, String)] = Nil,
      txn: Option[(String, Long)] = None,
      schema: Option[StructType] = None,
      partitionColumns: Option[Seq[String]] = None,
      configuration: Option[Map[String, String]] = None,
      features: Set[String] = Set.empty,
      metrics: Seq[(String, Long)] = Nil)

  /** THE Delta commit encoder: writes log version `version` over `base`
    * and claims it through `t`, actions in one fixed order —
    *  - `commitInfo`: operation, parameters, [[commitMetrics]] and the
    *    in-commit timestamp, max(wall clock, previous + 1) when the
    *    previous version carries one (probed from its first line), the
    *    wall clock when this commit turns the feature on (its enablement
    *    version and timestamp then join the configuration);
    *  - the protocol action of [[protocolLine]];
    *  - `metaData` at version 0 or on a schema, partition or configuration
    *    change: base's id and birth time (now if the log omits it), the
    *    schema and the FULL configuration — a metaData action replaces it
    *    wholesale — with the column-mapping keys re-derived;
    *  - `txn`, removes, adds, cdc files, domain metadata. On a row-tracked
    *    table `newRows` take contiguous baseRowIds above base's high-water
    *    mark, which moves in the same version.
    */
  private def commitVersion(t: Txn, table: String, base: Snapshot, version: Long,
      c: Commit): Unit = {
    val now = System.currentTimeMillis()
    val schema = c.schema.getOrElse(nullable(base.schema))
    val conf = c.configuration.getOrElse(base.configuration)
    val enablesIct = conf.get(IctConf).contains("true") &&
      !base.configuration.get(IctConf).contains("true")
    val ict =
      if (enablesIct) Some(now)
      else if (version == 0) None
      else ictOfFile(versionFile(table, version - 1).toFile).map(p => math.max(now, p + 1))
    val config = conf ++ mappingConfig(schema) ++ (if (!enablesIct) Nil else Seq(
      "delta.inCommitTimestampEnablementVersion" -> version.toString,
      "delta.inCommitTimestampEnablementTimestamp" -> now.toString))
    val rowTracked = c.newRows.nonEmpty && config.get(RowTrackingConf).contains("true")
    var hwm = rowIdHighWaterMark(base.domains).getOrElse(-1L)
    val added = c.adds ++ (if (!rowTracked) c.newRows else c.newRows.map { a =>
      val stamped = a.copy(baseRowId = Some(hwm + 1), defaultRowCommitVersion = Some(version))
      hwm += rowsOf(a)
      stamped
    })
    val domains = c.domains ++
      (if (rowTracked) Seq(RowTrackingDomain -> s"""{"rowIdHighWaterMark":$hwm}""") else Nil)
    def obj(kvs: Seq[(String, Any)]) =
      kvs.map { case (k, v) => s"${esc(k)}:${esc(v.toString)}" }.mkString("{", ",", "}")
    val metaData = version == 0 || c.schema.isDefined || c.partitionColumns.isDefined ||
      c.configuration.isDefined
    val lines = Seq(s"""{"commitInfo":{""" +
        ict.fold("")(i => s""""inCommitTimestamp":$i,""") +
        s""""timestamp":${ict.getOrElse(now)},"operation":${esc(c.operation)},""" +
        s""""operationParameters":${obj(c.parameters)},""" +
        s""""operationMetrics":${obj(commitMetrics(base, c, added))}}}""") ++
      protocolLine(base, c.features, activeFeatures(schema, config), version == 0) ++
      (if (!metaData) Nil else Seq(
        s"""{"metaData":{"id":"${base.id}","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${esc(schema.json)},""" +
          s""""partitionColumns":${jsonList(c.partitionColumns.getOrElse(base.partitionColumns))},""" +
          s""""configuration":${obj(config.toSeq.sortBy(_._1))},""" +
          s""""createdTime":${if (base.createdTime != 0L) base.createdTime else now}}}""")) ++
      c.txn.map { case (appId, v) => s"""{"txn":{"appId":${esc(appId)},"version":$v}}""" } ++
      c.removes.map(a => s"""{"remove":{"path":${esc(a.path)},""" +
        s""""deletionTimestamp":$now,"dataChange":${c.dataChange}}}""") ++
      added.map(addJson(_, c.dataChange)) ++
      c.cdc.map(a => s"""{"cdc":{"path":${esc(a.path)},"partitionValues":{},""" +
        s""""size":${a.size},"dataChange":false}}""") ++
      domains.map { case (d, dc) => s"""{"domainMetadata":{"domain":${esc(d)},""" +
        s""""configuration":${esc(dc)},"removed":false}}""" }
    t.claim(versionFile(table, version),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** A commit's `operationMetrics` in delta-spark's names, from its own
    * actions and the verb's counts (no job runs): the WRITE trio
    * numFiles/numOutputRows/numOutputBytes when it only adds files, else
    * numAdded/RemovedFiles, numAdded/RemovedBytes and
    * numDeletionVectorsAdded; numAddedChangeFiles for cdc files.
    */
  private def commitMetrics(base: Snapshot, c: Commit,
      added: Seq[AddEntry]): Seq[(String, Long)] = {
    def bytes(as: Seq[AddEntry]) = as.map(_.size).sum
    val dvs =
      if (!added.exists(_.dv.isDefined)) 0L
      else {
        val before = base.live.map(a => a.path -> a.dv).toMap
        added.count(a => a.dv.isDefined && !before.get(a.path).contains(a.dv)).toLong
      }
    val files =
      if (added.isEmpty && c.removes.isEmpty) Nil
      else if (c.removes.isEmpty && dvs == 0)
        Seq("numFiles" -> added.size.toLong, "numOutputRows" -> added.map(rowsOf).sum,
          "numOutputBytes" -> bytes(added))
      else Seq("numAddedFiles" -> added.size.toLong,
        "numRemovedFiles" -> c.removes.size.toLong, "numAddedBytes" -> bytes(added),
        "numRemovedBytes" -> bytes(c.removes)) ++
        (if (dvs > 0) Seq("numDeletionVectorsAdded" -> dvs) else Nil)
    files ++ (if (c.cdc.isEmpty) Nil else Seq("numAddedChangeFiles" -> c.cdc.size.toLong)) ++
      c.metrics
  }

  private def jsonList(xs: Seq[String]): String = xs.map(esc).mkString("[", ",", "]")

  private def nullable(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

  private def addJson(a: AddEntry, dataChange: Boolean = true): String = {
    val pv = a.partitionValues.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${esc(k)}:${if (v == null) "null" else esc(v)}" }
      .mkString("{", ",", "}")
    val dv = a.dv.map(d =>
      s""","deletionVector":{"storageType":${esc(d.storageType)},""" +
        s""""pathOrInlineDv":${esc(d.pathOrInlineDv)},""" +
        d.offset.map(o => s""""offset":$o,""").getOrElse("") +
        s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}""")
      .getOrElse("")
    val brid = a.baseRowId.map(b => s""","baseRowId":$b""").getOrElse("")
    val drcv = a.defaultRowCommitVersion
      .map(v => s""","defaultRowCommitVersion":$v""").getOrElse("")
    s"""{"add":{"path":${esc(a.path)},"partitionValues":$pv,"size":${a.size},""" +
      s""""modificationTime":${a.modificationTime},"dataChange":$dataChange,""" +
      s""""stats":${if (a.stats == null) "null" else esc(a.stats)}$dv$brid$drcv}}"""
  }

  /** One Spark parquet write of `df` (Hive-layout under `partitionBy`)
    * into the table `dir` through [[TaskWrite]]: each task reads its
    * files' footers into their log stats and publishes them, named by
    * `naming` under `txn`.
    */
  private def writeStaged(txn: Txn, dir: File, df: DataFrame,
      partitionBy: Seq[String], maxRecordsPerFile: Long, txnId: String,
      naming: TaskWrite.Naming): Seq[AddEntry] = {
    val written = TaskWrite(txn.store, df, dir, partitionBy, maxRecordsPerFile,
      txnId, naming)((f, conf) => Some(statsJson(f, conf)))
    txn.record(written.map(w => new File(dir, w.rel).toPath): _*)
    written.map(w => AddEntry(w.rel, partitionValuesOf(w.rel), w.size, w.mtime, w.stats))
  }

  /** Txn-unique data-file names: task partition and file counter. */
  private def txnNames(suffix: String = ".c000.snappy.parquet"): TaskWrite.Naming =
    (txn, task, n) => f"part-$task%05d-$n%03d-$txn$suffix"

  /** Txn-unique change-data-feed file names. */
  private val cdcNames: TaskWrite.Naming =
    (txn, task, n) => f"_change_data/cdc-$task%05d-$n%03d-$txn.snappy.parquet"


  /** Partition values from a table path's Hive-style dir segments
    * (col=value), Hive escaping undone; the marker dir name means a null
    * partition value.
    */
  private def partitionValuesOf(rel: String): Map[String, String] =
    rel.split('/').dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val v = ExternalCatalogUtils.unescapePathName(seg.substring(i + 1))
        Some(seg.substring(0, i) ->
          (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else v))
      }
    }.toMap

  /** A data file's log `stats` JSON, from its footer ([[fileStats]]). */
  private def statsJson(f: File, conf: Configuration): String = {
    val (rows, mins, maxs) = fileStats(f, conf)
    val st = mapper.createObjectNode()
    st.put("numRecords", rows)
    val mnNode = st.putObject("minValues")
    mins.toSeq.sortBy(_._1).foreach { case (k, v) => mnNode.put(k, v) }
    val mxNode = st.putObject("maxValues")
    maxs.toSeq.sortBy(_._1).foreach { case (k, v) => mxNode.put(k, v) }
    st.toString
  }

  /** Row count + per-column min/max from the parquet footer (no data
    * read — the same footer open that was already counting rows). The
    * min/max maps hold STRING encodings ordered consistently with the
    * column's own ordering — numerics as decimal text (compared after a
    * double cast), strings verbatim, DATE as ISO (lexicographic ==
    * chronological). Columns whose domain doesn't stringify
    * order-faithfully (timestamps' variable ISO precision, booleans,
    * nested fields) are skipped — absent stats mean "never pruned",
    * not "wrongly pruned". This is the log-level data-skipping surface
    * [[readRange]] consumes and OPTIMIZE ZORDER exists to sharpen.
    */
  private def fileStats(f: File, conf: Configuration)
      : (Long, Map[String, String], Map[String, String]) = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def encode(c: ParquetFooter.Column, v: Any): Option[String] = {
      val logical = c.prim.getLogicalTypeAnnotation
      c.prim.getPrimitiveTypeName match {
        case INT32 if logical.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
          Some(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Integer].longValue()).toString)
        case INT32 | INT64 | FLOAT | DOUBLE
          if !logical.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] &&
            !logical.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
          Some(v.toString)
        case BINARY if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
        case _ => None
      }
    }
    val (rows, cols) = ParquetFooter.read(f, conf)
    val bounds = for {
      (name, c) <- cols.toSeq
      st <- c.bounds
      mn <- encode(c, st.genericGetMin)
      mx <- encode(c, st.genericGetMax)
    } yield (name, mn, mx)
    (rows, bounds.map(b => b._1 -> b._2).toMap, bounds.map(b => b._1 -> b._3).toMap)
  }

  /** First-line in-commit timestamp of a commit file, if the commit
    * carries one. The feature requires commitInfo to be the FIRST action
    * of every commit (the encoder writes it first in every version), so
    * one line is the whole probe — no replay, no full-file read.
    */
  private val IctRe = """"inCommitTimestamp"\s*:\s*(\d+)""".r
  private def ictOfFile(f: File): Option[Long] = {
    if (!f.exists()) return None
    val in = new java.io.BufferedReader(new java.io.FileReader(f))
    try Option(in.readLine()).filter(_.startsWith("""{"commitInfo""""))
      .flatMap(l => IctRe.findFirstMatchIn(l).map(_.group(1).toLong))
    finally in.close()
  }

  /** A single-shot verb's transaction (no OCC retry): a lost claim fails
    * the verb and leaves the table at its pre-state.
    */
  private def strict[A](store: CommitStore, table: String, verb: String)(
      body: Txn => A): A =
    Txn(store, conflict = e => new IllegalStateException(
      s"concurrent commit on $table during $verb; re-run the $verb", e))(body)
}
