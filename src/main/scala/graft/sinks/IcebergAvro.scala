package graft.sinks

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

/** Genuine Avro OCF manifests and manifest lists for the Iceberg sink,
  * per the Iceberg V2 table-spec Avro schemas (field-id annotated
  * `manifest_entry` / `manifest_file` records, the required key-metadata
  * entries) — what the reference emits through iceberg-rust's
  * ManifestWriter/ManifestListWriter
  * (/root/reference/src/iceberg_destination.rs:271-324). The optional
  * per-column stats fields (`value_counts` / `null_value_counts` /
  * `lower_bounds` / `upper_bounds`, spec-standard k/v-pair maps keyed by
  * field id) ARE emitted, from the same parquet-footer open that counts
  * rows — that is what lets an external Iceberg reader skip files on these
  * tables. `column_sizes`/`nan_value_counts` stay omitted (spec-permitted).
  * avro-1.12 ships in Spark's own jars, so this closes the earlier
  * JSON-manifest divergence without new dependencies.
  *
  * Reading is one function per file kind: [[readManifestList]] for a
  * manifest list and [[readManifest]] for a manifest, which returns every
  * field of every LIVE entry (status 2 DELETED entries are dropped there,
  * once, for every read path). [[mergeManifests]] copies live records
  * verbatim and so reads raw records itself, applying the same rule.
  */
private[graft] object IcebergAvro {

  /** One identity-partition field of the manifest's partition struct
    * (r102): `avroType` is the plain Avro primitive ("string" / "int" /
    * "long" / "boolean"), `logicalType` the optional Iceberg annotation
    * ("date" for DateType partitions), `fieldId` the spec's partition
    * field id (1000+). All fields are written optional (union with null):
    * a Hive `__HIVE_DEFAULT_PARTITION__` directory is a NULL partition
    * value.
    */
  case class PartitionField(name: String, avroType: String, fieldId: Int,
      logicalType: Option[String] = None)

  /** Builds the manifest_entry schema with the given partition struct —
    * the static [[EntrySchema]] is the unpartitioned (empty-struct) case.
    * Splices the partition fields into the raw JSON template (NOT into a
    * parsed schema's toString, whose property ordering Avro normalizes).
    */
  def entrySchemaFor(pf: Seq[PartitionField]): Schema =
    if (pf.isEmpty) EntrySchema
    else {
      val fieldsJson = pf.map { f =>
        val t = f.logicalType match {
          case Some(lt) => s"""{"type":"${f.avroType}","logicalType":"$lt"}"""
          case None => "\"" + f.avroType + "\""
        }
        s"""{"name":"${f.name}","type":["null",$t],"default":null,"field-id":${f.fieldId}}"""
      }.mkString(",")
      new Schema.Parser().parse(EntryJson.replace(PartitionHole, fieldsJson))
    }

  private val PartitionHole = "/*PARTITION-FIELDS*/"

  private val EntryJson: String =
    s"""{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int","field-id":134},
      |{"name":"file_path","type":"string","field-id":100},
      |{"name":"file_format","type":"string","field-id":101},
      |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[/*PARTITION-FIELDS*/]}},
      |{"name":"record_count","type":"long","field-id":103},
      |{"name":"file_size_in_bytes","type":"long","field-id":104},
      |{"name":"value_counts","field-id":109,"default":null,"type":["null",
      |  {"type":"array","logicalType":"map","items":{"type":"record","name":"k119_v120","fields":[
      |    {"name":"key","type":"int","field-id":119},{"name":"value","type":"long","field-id":120}]}}]},
      |{"name":"null_value_counts","field-id":110,"default":null,"type":["null",
      |  {"type":"array","logicalType":"map","items":{"type":"record","name":"k121_v122","fields":[
      |    {"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]}}]},
      |{"name":"lower_bounds","field-id":125,"default":null,"type":["null",
      |  {"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[
      |    {"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]}}]},
      |{"name":"upper_bounds","field-id":128,"default":null,"type":["null",
      |  {"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[
      |    {"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]}}]},
      |{"name":"equality_ids","field-id":135,"default":null,"type":["null",
      |  {"type":"array","items":"int","element-id":136}]},
      |{"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},
      |{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
      |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
      |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}
      |]}}]}""".stripMargin

  val EntrySchema: Schema =
    new Schema.Parser().parse(EntryJson.replace(PartitionHole, ""))

  private val DataFileSchema = EntrySchema.getField("data_file").schema()

  val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  /** Per-column stats keyed by Iceberg field id; bounds hold the spec's
    * single-value binary serialization. Empty maps → the optional manifest
    * fields stay null.
    */
  case class ColumnStats(
      valueCounts: Map[Int, Long] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty)

  /** `partitionValues` align positionally with the spec's partition
    * fields: String / java.lang.Integer / java.lang.Long /
    * java.lang.Boolean, or null for a Hive default (null) partition.
    */
  /** `dv`: V3 deletion-vector linkage for a content=1 entry — the Puffin
    * blob's (referenced_data_file, content_offset, content_size_in_bytes),
    * spec v3 field ids 143/144/145; absPath is then the Puffin file.
    */
  /** `firstRowId`: V3 row lineage — the id assigned to this file's first
    * row at commit (spec v3 field id 142); rows derive
    * `_row_id = first_row_id + position`. None for delete entries, for
    * files predating lineage enablement, and for rewrites that
    * MATERIALIZE `_row_id` into the parquet instead.
    */
  case class DataFileInfo(absPath: String, sizeBytes: Long, recordCount: Long,
      stats: ColumnStats = ColumnStats(), partitionValues: Seq[Any] = Nil,
      dv: Option[(String, Long, Long)] = None,
      firstRowId: Option[Long] = None)

  private def kvLongs(sch: Schema, m: Map[Int, Long]): GenericData.Array[GenericRecord] = {
    val itemSchema = sch.getElementType
    val arr = new GenericData.Array[GenericRecord](m.size, sch)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(itemSchema)
      r.put("key", k); r.put("value", v); arr.add(r)
    }
    arr
  }

  private def kvBytes(sch: Schema, m: Map[Int, Array[Byte]]): GenericData.Array[GenericRecord] = {
    val itemSchema = sch.getElementType
    val arr = new GenericData.Array[GenericRecord](m.size, sch)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(itemSchema)
      r.put("key", k); r.put("value", java.nio.ByteBuffer.wrap(v)); arr.add(r)
    }
    arr
  }

  private def arraySchemaOf(fieldName: String): Schema =
    DataFileSchema.getField(fieldName).schema().getTypes.asScala
      .find(_.getType == Schema.Type.ARRAY).get

  /** Writes one manifest; returns its byte length (the manifest list
    * records it). `content` is the V2 file-content code shared by the
    * manifest meta and every entry's data_file record: 0 = DATA,
    * 1 = POSITION_DELETES (spec §Manifests / §Delete Formats).
    */
  /** `entrySeqs`: paths whose entries must carry an EXPLICIT data
    * sequence (status EXISTING) instead of inheriting the new snapshot's
    * — a replace manifest re-listing files an earlier snapshot added
    * (UniForm sync) writes them this way so sequence-scoped consumers
    * (streaming tail, MoR delete application) see no change.
    */
  def writeManifest(target: File, files: Seq[DataFileInfo], snapshotId: Long,
      icebergSchemaJson: String, partitionSpecJson: String,
      partitionFields: Seq[PartitionField] = Nil, content: Int = 0,
      equalityIds: Seq[Int] = Nil, specId: Int = 0,
      entrySeqs: Map[String, Long] = Map.empty): Long = {
    val entrySchema = entrySchemaFor(partitionFields)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partitionSchema = dataFileSchema.getField("partition").schema()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](entrySchema))
    w.setMeta("schema", icebergSchemaJson)
    w.setMeta("schema-id", "0")
    w.setMeta("partition-spec", partitionSpecJson)
    w.setMeta("partition-spec-id", specId.toString)
    w.setMeta("format-version", "2")
    w.setMeta("content", if (content == 0) "data" else "deletes")
    w.create(entrySchema, target)
    try files.foreach { f =>
      val df = new GenericData.Record(dataFileSchema)
      df.put("content", content)
      df.put("file_path", f.absPath)
      df.put("file_format", "PARQUET")
      val part = new GenericData.Record(partitionSchema)
      partitionFields.zip(f.partitionValues).foreach { case (pf, v) =>
        part.put(pf.name, v)
      }
      df.put("partition", part)
      df.put("record_count", f.recordCount)
      df.put("file_size_in_bytes", f.sizeBytes)
      if (f.stats.valueCounts.nonEmpty)
        df.put("value_counts", kvLongs(arraySchemaOf("value_counts"), f.stats.valueCounts))
      if (f.stats.nullCounts.nonEmpty)
        df.put("null_value_counts", kvLongs(arraySchemaOf("null_value_counts"), f.stats.nullCounts))
      if (f.stats.lowerBounds.nonEmpty)
        df.put("lower_bounds", kvBytes(arraySchemaOf("lower_bounds"), f.stats.lowerBounds))
      if (f.stats.upperBounds.nonEmpty)
        df.put("upper_bounds", kvBytes(arraySchemaOf("upper_bounds"), f.stats.upperBounds))
      if (equalityIds.nonEmpty) {
        // V2 equality-delete entries carry the schema field ids their
        // delete rows equate on (spec field 135)
        val idsSchema = dataFileSchema.getField("equality_ids").schema()
          .getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
        val arr = new GenericData.Array[Integer](equalityIds.size, idsSchema)
        equalityIds.foreach(i => arr.add(Int.box(i)))
        df.put("equality_ids", arr)
      }
      f.dv.foreach { case (ref, off, size) =>
        df.put("referenced_data_file", ref)
        df.put("content_offset", off)
        df.put("content_size_in_bytes", size)
      }
      f.firstRowId.foreach(id => df.put("first_row_id", id))
      val e = new GenericData.Record(entrySchema)
      entrySeqs.get(f.absPath) match {
        case Some(seq) =>
          e.put("status", 0) // EXISTING, original sequence preserved
          e.put("sequence_number", seq)
          e.put("file_sequence_number", seq)
        case None =>
          e.put("status", 1) // ADDED; sequence numbers inherit from the snapshot
      }
      e.put("snapshot_id", snapshotId)
      e.put("data_file", df)
      w.append(e)
    } finally w.close()
    target.length()
  }

  /** One LIVE manifest entry — every field any read path needs, so no
    * verb re-opens a manifest for another projection. `pvals`: partition
    * values by field name, from the manifest's own partition struct
    * (Iceberg readers take partition values from the manifest, never
    * from file paths). `seq`: the entry's data sequence — its explicit
    * `sequence_number` when it carries one (a rewritten manifest's
    * EXISTING entries keep their original sequence that way), else the
    * inherited manifest-list row's. `firstRowId` and `dv` are None in
    * manifests whose writer schema predates fields 142-145.
    */
  case class Entry(content: Int, path: String, pvals: Map[String, Any],
      recordCount: Long, sizeBytes: Long, seq: Long, firstRowId: Option[Long],
      equalityIds: Seq[Int], stats: ColumnStats, dv: Option[(String, Long, Long)])

  /** A manifest as [[readManifest]] returns it: its Avro key metadata,
    * its partition fields rebuilt from the writer schema (everything
    * [[writeManifest]] needs to re-emit entries under the same struct)
    * and its live entries.
    */
  case class Manifest(keyMeta: Map[String, String],
      partitionFields: Seq[PartitionField], entries: Seq[Entry]) {
    /** The Iceberg schema JSON the manifest was written under. */
    def schemaJson: Option[String] = keyMeta.get("schema")
    def specId: Int = keyMeta.get("partition-spec-id").map(_.toInt).getOrElse(0)
    def specJson: String =
      keyMeta.getOrElse("partition-spec", """{"spec-id":0,"fields":[]}""")
  }

  private val KeyMetaKeys = Seq("schema", "schema-id", "partition-spec",
    "partition-spec-id", "format-version", "content")

  private def keyMetaOf(r: DataFileReader[GenericRecord]): Map[String, String] =
    KeyMetaKeys.flatMap(k => Option(r.getMetaString(k)).map(k -> _)).toMap

  /** A manifest's key metadata from its Avro header alone: no entry is
    * decoded.
    */
  def readKeyMeta(f: File): Map[String, String] = {
    val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
    try keyMetaOf(r) finally r.close()
  }

  /** THE manifest reader: one open with the file's own writer schema (any
    * partition struct shape round-trips), returning the key metadata and
    * the LIVE entries — status 2 (DELETED) entries are not part of the
    * snapshot (spec §Manifests) and no caller ever sees them. Entries
    * without an explicit sequence take `inheritedSeq`, the sequence of
    * the manifest-list row that references this manifest.
    */
  def readManifest(f: File, inheritedSeq: Long = 0L): Manifest = {
    def longs(v: Option[AnyRef]): Map[Int, Long] =
      v.toSeq.flatMap(_.asInstanceOf[java.util.Collection[GenericRecord]].asScala)
        .map(r => r.get("key").asInstanceOf[Int] -> r.get("value").asInstanceOf[Long])
        .toMap
    def bytes(v: Option[AnyRef]): Map[Int, Array[Byte]] =
      v.toSeq.flatMap(_.asInstanceOf[java.util.Collection[GenericRecord]].asScala)
        .map { r =>
          val bb = r.get("value").asInstanceOf[java.nio.ByteBuffer]
          val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out)
          r.get("key").asInstanceOf[Int] -> out
        }.toMap
    val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
    try {
      val partition = r.getSchema.getField("data_file").schema()
        .getField("partition").schema()
      val fields = partition.getFields.asScala.toSeq.map { pf =>
        val t = pf.schema().getTypes.asScala.find(_.getType != Schema.Type.NULL).get
        PartitionField(pf.name(), t.getName,
          Option(pf.getObjectProp("field-id")).map(_.toString.toInt).getOrElse(1000),
          Option(t.getObjectProp("logicalType")).map(_.toString))
      }
      val entries = r.iterator().asScala
        .filter(_.get("status").asInstanceOf[Int] != 2)
        .map { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          // optional fields: absent from older writer schemas entirely
          def opt(rec: GenericRecord, k: String): Option[AnyRef] =
            if (rec.hasField(k)) Option(rec.get(k)) else None
          val part = df.get("partition").asInstanceOf[GenericRecord]
          Entry(
            content = df.get("content").asInstanceOf[Int],
            path = df.get("file_path").toString,
            pvals = fields.map(pf => pf.name -> (part.get(pf.name) match {
              case u: org.apache.avro.util.Utf8 => u.toString
              case other => other
            })).toMap,
            recordCount = df.get("record_count").asInstanceOf[Long],
            sizeBytes = df.get("file_size_in_bytes").asInstanceOf[Long],
            seq = opt(e, "sequence_number").map(_.asInstanceOf[Long])
              .getOrElse(inheritedSeq),
            firstRowId = opt(df, "first_row_id").map(_.asInstanceOf[Long]),
            equalityIds = opt(df, "equality_ids").toSeq
              .flatMap(_.asInstanceOf[java.util.Collection[Integer]].asScala.map(_.intValue)),
            stats = ColumnStats(longs(opt(df, "value_counts")),
              longs(opt(df, "null_value_counts")),
              bytes(opt(df, "lower_bounds")), bytes(opt(df, "upper_bounds"))),
            dv = opt(df, "referenced_data_file").map(ref => (ref.toString,
              df.get("content_offset").asInstanceOf[Long],
              df.get("content_size_in_bytes").asInstanceOf[Long])))
        }.toList
      Manifest(keyMetaOf(r), fields, entries)
    } finally r.close()
  }

  /** Merges several manifests written under the SAME spec/schema into one
    * (the metadata-compaction half of Iceberg's rewrite_manifests): every
    * live entry is copied VERBATIM (partition tuple, stats, bounds — the
    * writer schema and key metadata come from the first source), with
    * status flipped to 0 = EXISTING and its data sequence made EXPLICIT
    * (the entry's own if it already carries one, else the source
    * manifest-list row's — inheritance from the NEW snapshot would
    * corrupt delete-application ordering). No data file is opened.
    * Returns (byte length, entries, total rows, min sequence).
    */
  def mergeManifests(target: File, sources: Seq[(File, Long)])
      : (Long, Int, Long, Long) = {
    require(sources.nonEmpty, "mergeManifests needs at least one source")
    val first = new DataFileReader[GenericRecord](sources.head._1,
      new GenericDatumReader[GenericRecord]())
    val (writerSchema, keyMeta) =
      try (first.getSchema, keyMetaOf(first)) finally first.close()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](writerSchema))
    keyMeta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(writerSchema, target)
    var (n, rows, minSeq) = (0, 0L, Long.MaxValue)
    try sources.foreach { case (src, listSeq) =>
      val r = new DataFileReader[GenericRecord](src,
        new GenericDatumReader[GenericRecord]())
      // a DELETED entry (status 2) is not live (spec §Manifests, the rule
      // readManifest applies): merging drops it instead of reviving it
      try r.iterator().asScala.filter(_.get("status").asInstanceOf[Int] != 2).foreach { e =>
        val seq = Option(e.get("sequence_number"))
          .map(_.asInstanceOf[Long]).getOrElse(listSeq)
        e.put("status", 0) // EXISTING
        e.put("sequence_number", seq)
        e.put("file_sequence_number", seq)
        w.append(e)
        n += 1
        rows += e.get("data_file").asInstanceOf[GenericRecord]
          .get("record_count").asInstanceOf[Long]
        minSeq = math.min(minSeq, seq)
      } finally r.close()
    } finally w.close()
    (target.length(), n, rows, if (minSeq == Long.MaxValue) 0L else minSeq)
  }

  /** manifest_file row for a REWRITTEN manifest: all entries EXISTING,
    * min_sequence_number preserved from the merged entries so
    * sequence-based pruning stays exact.
    */
  def manifestRowExisting(absPath: String, length: Long, commitSeq: Long,
      minSeq: Long, snapshotId: Long, nFiles: Int, nRows: Long,
      specId: Int): GenericRecord = {
    val r = new GenericData.Record(ManifestFileSchema)
    r.put("manifest_path", absPath)
    r.put("manifest_length", length)
    r.put("partition_spec_id", specId)
    r.put("content", 0)
    r.put("sequence_number", commitSeq)
    r.put("min_sequence_number", minSeq)
    r.put("added_snapshot_id", snapshotId)
    r.put("added_files_count", 0)
    r.put("existing_files_count", nFiles)
    r.put("deleted_files_count", 0)
    r.put("added_rows_count", 0L)
    r.put("existing_rows_count", nRows)
    r.put("deleted_rows_count", 0L)
    r
  }

  /** manifest_file row for a manifest newly written by `snapshotId`;
    * `content` 0 = data manifest, 1 = deletes manifest (field 517).
    */
  def manifestRow(absPath: String, length: Long, sequenceNumber: Long,
      snapshotId: Long, addedFiles: Int, addedRows: Long,
      content: Int = 0, specId: Int = 0): GenericRecord = {
    val r = new GenericData.Record(ManifestFileSchema)
    r.put("manifest_path", absPath)
    r.put("manifest_length", length)
    r.put("partition_spec_id", specId)
    r.put("content", content)
    r.put("sequence_number", sequenceNumber)
    r.put("min_sequence_number", sequenceNumber)
    r.put("added_snapshot_id", snapshotId)
    r.put("added_files_count", addedFiles)
    r.put("existing_files_count", 0)
    r.put("deleted_files_count", 0)
    r.put("added_rows_count", addedRows)
    r.put("existing_rows_count", 0L)
    r.put("deleted_rows_count", 0L)
    r
  }

  /** Writes a manifest list: carried-forward rows first (append keeps the
    * previous snapshot's manifests verbatim, reference :302-312), the new
    * manifest last.
    */
  def writeManifestList(target: File, rows: Seq[GenericRecord],
      snapshotId: Long, sequenceNumber: Long): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](ManifestFileSchema))
    w.setMeta("snapshot-id", snapshotId.toString)
    w.setMeta("sequence-number", sequenceNumber.toString)
    w.setMeta("format-version", "2")
    w.create(ManifestFileSchema, target)
    try rows.foreach(w.append) finally w.close()
  }

  def readManifestList(f: File): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](f,
      new GenericDatumReader[GenericRecord](ManifestFileSchema))
    try r.iterator().asScala.toList finally r.close()
  }

}
