package graft.sinks

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Hand-rolled Iceberg-style table sink + reader (reference P12/P13/P14/P15).
  *
  * iceberg-spark-runtime is absent from /opt/spark/jars (SURVEY.md §7.1), so
  * — like the reference, which hand-rolls the whole Iceberg V2 commit in
  * Rust (/root/reference/src/iceberg_destination.rs:152-377) — this writes
  * the metadata layout directly:
  *
  *  - `metadata/version-hint.text` holds the current version; a new table
  *    commits v0 (iceberg_destination.rs:174-199, 346-374; layout asserted
  *    by tests/basic_integration.rs:97-108);
  *  - CreateExclusive on an existing table errors: "Table exists. Pass the
  *    overwrite flag" (:177-180); overwrite+append together error (:163-167);
  *  - append/overwrite first load v{hint}.metadata.json and run the
  *    POSITIONAL schema gate (SchemaGate, :200-234);
  *  - a snapshot with sequence number = last+1 references a manifest list;
  *    append carries the previous snapshot's manifests forward (:302-312),
  *    create/overwrite reference only the new manifest (:304);
  *  - the new metadata is committed with an IF-NOT-EXISTS put
  *    (`write_exclusive`, :349-367) — [[CommitStore.putIfAbsent]] here; a concurrent commit
  *    surfaces as [[OptimisticConcurrencyException]], retried whole-write ≤3
  *    times by [[writeWithRetry]] (reference OPTIMISTIC_CONCURRENCY_RETRIES,
  *    src/lib.rs:82,168-196);
  *  - version-hint.text is updated last (:370-374).
  *
  * Manifests and manifest lists are genuine Avro OCF per the V2 table
  * spec ([[IcebergAvro]] — avro-1.12 ships in Spark's jar dir), matching
  * the reference's ManifestWriter/ManifestListWriter output
  * (iceberg_destination.rs:271-324); the table metadata file is JSON, as
  * the spec itself requires. The metadata JSON additionally carries the
  * full Spark schema under `properties."graft.spark-schema"` alongside
  * the Iceberg-shaped field list, and the reader uses that.
  */
object IcebergSink {
  private val mapper = new ObjectMapper()
  final class OptimisticConcurrencyException(key: String)
    extends RuntimeException(s"optimistic concurrency conflict committing $key")

  /** One Iceberg commit transaction: a claim lost with no retry left
    * surfaces as [[OptimisticConcurrencyException]].
    */
  private[sinks] def txn[A](store: CommitStore, retries: Int = 0)(body: Txn => A): A =
    Txn(store, retries, e => new OptimisticConcurrencyException(
      Paths.get(e.getFile).getFileName.toString).initCause(e))(body)

  sealed trait WriteMode
  case object CreateExclusive extends WriteMode
  case object Overwrite extends WriteMode
  case object Append extends WriteMode

  /** (overwrite, append) flag resolution, reference WriteMode match
    * (iceberg_destination.rs:159-168).
    */
  def resolveMode(overwrite: Boolean, append: Boolean): WriteMode = (overwrite, append) match {
    case (false, false) => CreateExclusive
    case (true, false)  => Overwrite
    case (false, true)  => Append
    case (true, true) =>
      throw new IllegalArgumentException("Cannot use overwrite flag with append flag")
  }

  private def metaDir(table: String) = Paths.get(table, "metadata")
  private def hintFile(table: String) = metaDir(table).resolve("version-hint.text")
  private[sinks] def metaFile(table: String, v: Long) = metaDir(table).resolve(s"v$v.metadata.json")

  /** Spark type → Iceberg primitive type string (reference maps the same
    * closed set via arrow_schema_to_schema, iceberg_destination.rs:66-85;
    * byte/short collapse to int as in Arrow→Iceberg).
    */
  private[sinks] def icebergType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType | IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case _: TimestampNTZType => "timestamp"
    case _: TimestampType => "timestamptz"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => other.catalogString // nested types: Spark catalog form
  }

  /** One field of an Iceberg schema as the read/write paths need it: the
    * STABLE field id (survives renames; retired by drops; never
    * positional after an evolution), the name, and the Spark type the
    * Iceberg type string maps back to.
    */
  /** `initialDefault`: the v3 default-values pillar — what readers
    * surface for rows written BEFORE the field existed (spec: files
    * lacking the field's id project `initial-default`, not null).
    */
  private[sinks] case class IField(id: Int, name: String, dt: DataType,
      initialDefault: Option[Any] = None)

  /** A schema field's JSON default as a literal-able value. */
  private def jsonDefault(d: com.fasterxml.jackson.databind.JsonNode): Any =
    if (d.isTextual) d.asText()
    else if (d.isBoolean) d.asBoolean()
    else if (d.isIntegralNumber) d.asLong()
    else d.asDouble()

  /** Inverse of [[icebergType]] (lossy for int-family/timestamp flavors —
    * callers that need the EXACT Spark type take it from the stored Spark
    * schema; this type is the file-level truth for widen-aware reads).
    */
  private[sinks] def sparkTypeOfIceberg(t: String): DataType = t match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "binary" => BinaryType
    case "date" => DateType
    case "timestamp" => TimestampNTZType
    case "timestamptz" => TimestampType
    case d if d.startsWith("decimal(") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")")
        .split(",").map(_.trim.toInt)
      DecimalType(p, s)
    case other =>
      DataType.fromDDL(s"c $other").asInstanceOf[StructType].fields.head.dataType
  }

  /** Parses an Iceberg schema JSON node's field list. */
  private def ifieldsOf(node: com.fasterxml.jackson.databind.JsonNode): Seq[IField] =
    node.get("fields").elements().asScala.map { f =>
      IField(f.get("id").asInt(), f.get("name").asText(),
        sparkTypeOfIceberg(f.get("type").asText()),
        Option(f.get("initial-default")).map(jsonDefault))
    }.toSeq

  /** The CURRENT schema's fields (stable ids) from a table's metadata —
    * positionally aligned with `graft.spark-schema` by construction
    * (every writer mints them together). Falls back to ordinal ids when
    * the node can't be resolved (pre-evolution tables are ordinal anyway).
    */
  private def curFieldsOf(meta: com.fasterxml.jackson.databind.JsonNode,
      schema: StructType): Seq[IField] =
    scala.util.Try(ifieldsOf(currentSchema(meta)))
      .toOption
      .filter(fs => fs.map(_.name) == schema.fieldNames.toSeq)
      .getOrElse(schema.fields.zipWithIndex.map { case (f, i) =>
        IField(i + 1, f.name, f.dataType)
      }.toSeq)

  /** (rowCount, per-column Iceberg stats) from one parquet-footer open —
    * no data pages read. Bounds use the Iceberg spec's single-value binary
    * serialization (little-endian numerics, UTF-8 strings); columns whose
    * type isn't covered (decimal, boolean, nested) keep their value/null
    * counts but omit bounds — absent stats mean "never skipped", never
    * "wrongly skipped" (same discipline as the Delta side's fileStats).
    */
  private def footerStats(f: File, conf: org.apache.hadoop.conf.Configuration,
      fieldIds: Map[String, Int]): (Long, IcebergAvro.ColumnStats) = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def le(fill: java.nio.ByteBuffer => Unit, n: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      fill(b); b.array()
    }
    def ser(c: ParquetFooter.Column, v: Any): Option[Array[Byte]] =
      c.prim.getPrimitiveTypeName match {
        case INT32 => Some(le(_.putInt(v.asInstanceOf[Integer].intValue()), 4))
        case INT64 => Some(le(_.putLong(v.asInstanceOf[java.lang.Long].longValue()), 8))
        case FLOAT => Some(le(_.putFloat(v.asInstanceOf[java.lang.Float].floatValue()), 4))
        case DOUBLE => Some(le(_.putDouble(v.asInstanceOf[java.lang.Double].doubleValue()), 8))
        case BINARY if c.prim.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        case _ => None
      }
    val (rows, all) = ParquetFooter.read(f, conf)
    val cols = all.toSeq.collect { case (n, c) if fieldIds.contains(n) => fieldIds(n) -> c }
    val bounds = for {
      (id, c) <- cols
      st <- c.bounds
      mn <- ser(c, st.genericGetMin)
      mx <- ser(c, st.genericGetMax)
    } yield (id, mn, mx)
    (rows, IcebergAvro.ColumnStats(
      cols.map { case (id, c) => id -> c.values }.toMap,
      cols.flatMap { case (id, c) => c.nulls.map(id -> _) }.toMap,
      bounds.map(b => b._1 -> b._2).toMap,
      bounds.map(b => b._1 -> b._3).toMap))
  }

  /** One entry of a partition spec, as requested via `partitionBy`:
    * `"col"` (identity) or `"day(col)"` (Iceberg HIDDEN partitioning — the
    * table partitions on a TRANSFORM of a source column; readers query the
    * source column and never see the derived value, which exists only in
    * the directory layout and each file's manifest partition struct).
    */
  private[sinks] case class PartSpec(raw: String, source: String, transform: String) {
    /** Staging/manifest column name; for identity it IS the source column
      * (removed from data files by Spark's partitioned writer), for a
      * transform (`day`, `bucket[N]`) a derived name absent from the
      * table schema (so data files keep the source column —
      * hidden-partition semantics).
      */
    def derivedName: String = transform match {
      case "identity" => source
      case "day" | "month" | "year" | "hour" => s"${source}_$transform"
      case b if b.startsWith("bucket[") => s"${source}_bucket"
      case t if t.startsWith("truncate[") => s"${source}_trunc"
      case other => throw new IllegalArgumentException(s"unsupported transform $other")
    }
    def bucketN: Int =
      transform.stripPrefix("bucket[").stripSuffix("]").toInt
    def truncW: Int =
      transform.stripPrefix("truncate[").stripSuffix("]").toInt
  }

  private val BucketRe = "bucket\\((\\d+),([^)]+)\\)".r

  private val TruncateRe = "truncate\\((\\d+),([^)]+)\\)".r

  private val TemporalRe = "(day|month|year|hour)\\(([^)]+)\\)".r

  private[sinks] def parsePartSpec(s: String): PartSpec = s match {
    case TemporalRe(tf, col) => PartSpec(s, col.trim, tf)
    case BucketRe(n, col) =>
      require(n.toInt > 0, s"bucket count must be positive in $s")
      PartSpec(s, col.trim, s"bucket[$n]")
    case TruncateRe(w, col) =>
      // truncate(0, c) would make `c % 0` NULL in Spark and silently send
      // every row to the null partition — reject it here
      require(w.toInt > 0, s"truncate width must be positive in $s")
      PartSpec(s, col.trim, s"truncate[$w]")
    case other if other.contains("(") =>
      // a paren that matched no transform is a typo (DAY(ts), days(ts),
      // bucket(4, id) with a space once split wrongly…) — failing fast
      // beats silently identity-partitioning on a column named "DAY(ts)"
      throw new IllegalArgumentException(
        s"unrecognized partition transform: $other " +
          "(supported: col, day(col), month(col), year(col), hour(col), " +
          "bucket(N,col), truncate(W,col))")
    case ident => PartSpec(s, ident, "identity")
  }

  /** Reverse of [[parsePartSpec]] from a metadata spec field. */
  private def rawOfSpecField(name: String, transform: String): String =
    transform match {
      case "identity" => name
      case "day" | "month" | "year" | "hour" =>
        s"$transform(${name.stripSuffix(s"_$transform")})"
      case b if b.startsWith("bucket[") =>
        s"bucket(${b.stripPrefix("bucket[").stripSuffix("]")},${name.stripSuffix("_bucket")})"
      case t if t.startsWith("truncate[") =>
        s"truncate(${t.stripPrefix("truncate[").stripSuffix("]")},${name.stripSuffix("_trunc")})"
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform in table metadata: $other")
    }

  /** Spark → Iceberg partition plumbing: supported partition column types,
    * their Iceberg/Avro manifest representation, and the Hive-style
    * directory-name codec Spark's partitioned parquet writer produces.
    * Values live in the MANIFEST (partition struct per data file) — the
    * read path never parses paths. A `day` transform always yields an int
    * date ordinal (Iceberg spec §partition-transforms).
    */
  private def partitionFieldsOf(schema: StructType, specs: Seq[PartSpec])
      : Seq[IcebergAvro.PartitionField] =
    specs.zipWithIndex.map { case (ps, i) =>
      val f = schema.fields.lift(schema.fieldIndex(ps.source)).get
      val (avro, logical) = ps.transform match {
        case tf @ ("day" | "month" | "year" | "hour") =>
          f.dataType match {
            case org.apache.spark.sql.types.TimestampType =>
              // Iceberg result types: day → date ordinal (logical date),
              // month/year/hour → plain int ordinals since 1970
              if (tf == "day") ("int", Some("date")) else ("int", None)
            case org.apache.spark.sql.types.DateType if tf != "hour" =>
              if (tf == "day") ("int", Some("date")) else ("int", None)
            case other => throw new IllegalArgumentException(
              s"$tf() partition transform needs timestamp${if (tf == "hour") "" else "/date"}, " +
                s"got $other for ${ps.source}")
          }
        case b if b.startsWith("bucket[") =>
          // bucket id is a plain int whatever the source type (which
          // IcebergBucketExpr type-checks at write time)
          ("int", None)
        case t if t.startsWith("truncate[") =>
          f.dataType match {
            case org.apache.spark.sql.types.StringType => ("string", None)
            case org.apache.spark.sql.types.IntegerType
               | org.apache.spark.sql.types.ShortType
               | org.apache.spark.sql.types.ByteType => ("int", None)
            case org.apache.spark.sql.types.LongType => ("long", None)
            case other => throw new IllegalArgumentException(
              s"truncate() partition transform needs string/int/long, got $other for ${ps.source}")
          }
        case _ => f.dataType match {
          case org.apache.spark.sql.types.StringType => ("string", None)
          case org.apache.spark.sql.types.IntegerType
             | org.apache.spark.sql.types.ShortType
             | org.apache.spark.sql.types.ByteType => ("int", None)
          case org.apache.spark.sql.types.LongType => ("long", None)
          case org.apache.spark.sql.types.BooleanType => ("boolean", None)
          case org.apache.spark.sql.types.DateType => ("int", Some("date"))
          case other => throw new IllegalArgumentException(
            s"unsupported Iceberg identity-partition type for column ${ps.source}: $other " +
              "(supported: string, int/short/byte, long, boolean, date)")
        }
      }
      IcebergAvro.PartitionField(ps.derivedName, avro, 1000 + i, logical)
    }

  private val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Decodes one `col=value` path segment into the manifest's typed value
    * (Avro-friendly boxed types; date → epoch days int).
    */
  private def partitionValueOf(segment: String, dt: DataType): Any = {
    val raw = segment.substring(segment.indexOf('=') + 1)
    if (raw == HiveNullPartition) null
    else {
      // Hive-style unescape: ONLY %xx sequences. URLDecoder would also
      // turn a literal '+' into a space, but Spark's escapePathName does
      // not escape '+' — decoding it would silently corrupt the value.
      val s = {
        val sb = new java.lang.StringBuilder(raw.length)
        var i = 0
        while (i < raw.length) {
          val c = raw.charAt(i)
          if (c == '%' && i + 2 < raw.length) {
            sb.append(Integer.parseInt(raw.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } else { sb.append(c); i += 1 }
        }
        sb.toString
      }
      dt match {
        case org.apache.spark.sql.types.StringType => s
        case org.apache.spark.sql.types.IntegerType
           | org.apache.spark.sql.types.ShortType
           | org.apache.spark.sql.types.ByteType => Int.box(s.toInt)
        case org.apache.spark.sql.types.LongType => Long.box(s.toLong)
        case org.apache.spark.sql.types.BooleanType => Boolean.box(s.toBoolean)
        case org.apache.spark.sql.types.DateType =>
          Int.box(java.time.LocalDate.parse(s).toEpochDay.toInt)
        case other => throw new IllegalArgumentException(s"unsupported $other")
      }
    }
  }

  /** Aligns an append frame to the stored schema's column names (shared
    * by [[write]]'s Append mode and [[appendBranch]]): a frame carrying
    * every stored name reorders BY NAME — a gate-passing frame whose
    * columns arrive reordered (a select after a join, say) must never
    * have its values positionally swapped into the wrong columns; any
    * extra (evolve) columns keep their frame order at the tail. Genuinely
    * divergent names rename positionally (the gate is positional; files
    * must carry table names) — but PARTIAL overlap at non-matching
    * positions refuses (ADVICE r13): (b, c) onto stored (a, b) would
    * silently reassign values to different logical columns.
    */
  private def alignToStored(df0: DataFrame, stored: Array[String]): DataFrame = {
    if (stored.forall(df0.columns.contains) &&
        df0.columns.toSet.size == df0.columns.length) {
      val ordered = stored ++ df0.columns.filterNot(stored.contains)
      if (df0.columns.sameElements(ordered)) df0
      else df0.select(ordered.toIndexedSeq.map(df0.col): _*)
    } else {
      val misplaced = df0.columns.zipWithIndex.flatMap { case (c, i) =>
        val at = stored.indexOf(c)
        if (at >= 0 && at != i)
          Some(s"$c (frame position $i, stored position $at)")
        else None
      }
      require(misplaced.isEmpty,
        "append frame reuses stored column names at different positions" +
          s" — ambiguous alignment: ${misplaced.mkString(", ")};" +
          " rename or reorder the frame columns")
      val names = stored ++ df0.columns.drop(stored.length)
      if (df0.columns.sameElements(names)) df0
      else df0.toDF(names.toIndexedSeq: _*)
    }
  }

  /** `extraPhysicalCols`: columns of `df0` written INTO the parquet files
    * but excluded from the declared table schema and the schema gate —
    * the lineage-preserving compaction's materialized `_row_id` (spec v3
    * §Row Lineage: a rewrite must carry row ids explicitly). Overwrite
    * verbs only; normal reads never select them. A lost version claim
    * fails the write ([[writeWithRetry]] retries it).
    */
  def write(df0: DataFrame, table: String, mode: WriteMode,
      store: CommitStore = CommitStore.Local,
      partitionBy: Seq[String] = Nil,
      summaryProps: Map[String, String] = Map.empty,
      evolveSchema: Boolean = false,
      operationOverride: Option[String] = None,
      extraPhysicalCols: Set[String] = Set.empty): Unit =
    txn(store)(writeAttempt(_, df0, table, mode, partitionBy, summaryProps,
      evolveSchema, operationOverride, extraPhysicalCols))

  /** Whole-write OCC retry (reference src/lib.rs:168-196, ≤3 retries):
    * each attempt re-reads the version hint and re-plans the commit.
    */
  def writeWithRetry(df: DataFrame, table: String, mode: WriteMode,
      store: CommitStore = CommitStore.Local,
      partitionBy: Seq[String] = Nil,
      summaryProps: Map[String, String] = Map.empty,
      evolveSchema: Boolean = false,
      operationOverride: Option[String] = None,
      extraPhysicalCols: Set[String] = Set.empty): Unit =
    txn(store, Txn.Retries)(t => t.attempt(_ => writeAttempt(t, df, table, mode,
      partitionBy, summaryProps, evolveSchema, operationOverride, extraPhysicalCols)))

  /** One attempt of [[write]]: gates the frame against the stored schema,
    * resolves the declared schema's id and field ids and the partition
    * spec's id, stages the data files, then hands one [[Commit]] to
    * [[commitSnapshot]] over the table head (or a fresh-table skeleton).
    */
  private def writeAttempt(t: Txn, df0: DataFrame, table: String, mode: WriteMode,
      partitionBy: Seq[String], summaryProps: Map[String, String],
      evolveSchema: Boolean, operationOverride: Option[String],
      extraPhysicalCols: Set[String]): Unit = {
    require(extraPhysicalCols.isEmpty || mode != Append,
      "extraPhysicalCols is an overwrite/rewrite facility")
    val prevHead = headOption(table)
    if (prevHead.isDefined && mode == CreateExclusive)
      throw new IllegalStateException(
        "Table exists. Pass the overwrite flag to overwrite data")

    val previous = prevHead.map(_.meta)
    // Existing columns keep the STORED schema's names: the positional gate
    // never compares names, so a gate-passing append may arrive with
    // divergent column names — writing its data files under those names
    // would leave a table whose files resolve by DIFFERENT names than the
    // declared schema (the parquet reader matches by name → silent NULLs).
    // Appends therefore align to the stored names positionally; an
    // overwrite re-declares the schema and keeps the frame's own names.
    val storedSchema: Option[StructType] = previous.map(sparkSchemaOf)
    // the stored schema's Iceberg field nodes (none for a new table)
    val storedFields: Seq[com.fasterxml.jackson.databind.JsonNode] =
      previous.toSeq.flatMap(currentSchema(_).get("fields").elements().asScala)
    // v3 WRITE-DEFAULTS (spec §Default values): an append whose frame
    // omits TRAILING stored columns gets each missing one filled with its
    // write-default — the spec's writer contract for defaulted columns
    // added after the producer was built. Columns without a default still
    // gate-fail (nothing is silently null-filled).
    val df0b: DataFrame = storedSchema match {
      case Some(st) if mode == Append &&
          df0.columns.length < st.fieldNames.length =>
        val missing = st.fields.drop(df0.columns.length).toSeq
        val fills = missing.map(f => f -> storedFields
          .find(n => n.get("name").asText() == f.name)
          .flatMap(n => Option(n.get("write-default")).map(jsonDefault)))
        if (fills.forall(_._2.isDefined))
          fills.foldLeft(df0) { case (d, (f, dv)) =>
            d.withColumn(f.name,
              org.apache.spark.sql.functions.lit(dv.get).cast(f.dataType))
          }
        else df0
      case _ => df0
    }
    val df: DataFrame = storedSchema match {
      case Some(st) if mode == Append &&
          df0b.columns.length >= st.fieldNames.length =>
        alignToStored(df0b, st.fieldNames)
      case _ => df0b
    }
    // the DECLARED schema never carries the extra physical columns — they
    // exist only inside the parquet files
    val gateSchema = StructType(
      df.schema.fields.filterNot(f => extraPhysicalCols.contains(f.name)))
    previous.foreach { prev =>
      val existingSchema = sparkSchemaOf(prev)
      if (!evolveSchema) SchemaGate.enforce(gateSchema, existingSchema)
      else {
        // Opt-in ADD-COLUMN evolution (the standard Iceberg add-column
        // flow): existing columns still pass the positional gate — only
        // NEW columns appended at the end are admitted. Appending keeps
        // every existing ordinal field id stable and allocates the new
        // ids from last-column-id upward, exactly the spec's
        // id-assignment rule.
        require(mode == Append, "schema evolution is an append verb — " +
          "overwrite rewrites the table and may declare any schema")
        require(df.schema.fields.length >= existingSchema.fields.length,
          "schema evolution cannot drop columns")
        SchemaGate.enforce(
          StructType(df.schema.fields.take(existingSchema.fields.length)),
          existingSchema)
      }
    }
    // The DECLARED table schema: a non-evolve append reuses the STORED
    // schema VERBATIM (the gate passed positionally, and re-declaring
    // from the frame would tighten nullable columns back to required —
    // toDF-literal frames are non-nullable — re-introducing the
    // IS-NOT-NULL mis-pruning hazard over old files, and would mutate
    // this schema-id's content in place against the spec's
    // schemas-are-immutable-per-id rule). An evolving append keeps the
    // stored prefix verbatim and widens the added tail to nullable
    // regardless of the frame's own nullability: old data files have no
    // value for the new columns, so every reader must surface NULL for
    // them. Only an overwrite re-declares from the frame.
    val declaredSchema: StructType = storedSchema match {
      case Some(st) if evolveSchema =>
        StructType(st.fields ++
          df.schema.fields.drop(st.fields.length).map(_.copy(nullable = true)))
      case Some(st) if mode == Append => st
      case _ => gateSchema
    }
    // Partition-spec continuity: an append/overwrite onto an existing table
    // adopts its spec when none is requested, and refuses a CONFLICTING
    // spec — silently committing files of a different layout would corrupt
    // partition pruning for every reader.
    val previousSpecCols: Seq[String] = previous.toSeq.flatMap(p =>
      storedSpecsOf(p).find(_._1 == p.get("default-spec-id").asInt()).toSeq
        .flatMap(_._2.map(f => rawOfSpecField(f.name, f.transform))))
    // No-request adoption applies to Append AND Overwrite (a routine
    // --overwrite must not silently de-partition the table); an EXPLICIT
    // different spec is a re-layout, legal only under Overwrite (which
    // rewrites the visible data), never under Append (whose old files
    // would stop matching the spec).
    val effectivePartitionBy =
      if (partitionBy.isEmpty && previous.nonEmpty) previousSpecCols
      else partitionBy
    // Compare PARSED (source, transform) pairs, not raw strings: the stored
    // spec is reconstructed canonically ("bucket(4,id)") while the user's
    // request keeps its formatting ("bucket(4, id)") — a cosmetic variant
    // of the identical spec must not be rejected as a mismatch.
    def specKey(cols: Seq[String]): Seq[(String, String)] =
      cols.map(parsePartSpec).map(p => (p.source, p.transform))
    if (mode == Append && previous.nonEmpty &&
        specKey(effectivePartitionBy) != specKey(previousSpecCols))
      throw new IllegalStateException(
        s"partition spec mismatch: table is partitioned by $previousSpecCols, " +
          s"append requested $effectivePartitionBy")
    val partSpecs = effectivePartitionBy.map(parsePartSpec)
    val partFields = partitionFieldsOf(df.schema, partSpecs)

    // Data files: Spark parquet write into a per-commit staging directory
    // (Hive-layout subdirectories when partitioned). Transform partitions
    // stage through a DERIVED column (day(ts) → ts_day); Spark drops the
    // partition column from the files, so identity sources leave the data
    // files while transform sources (hidden partitioning) stay in them.
    partSpecs.filterNot(_.transform == "identity").foreach { ps =>
      // withColumn would silently OVERWRITE (and the partitioned writer
      // then drop) a real data column that collides with the derived name
      require(!df.columns.contains(ps.derivedName),
        s"partition transform ${ps.raw} derives column ${ps.derivedName}, " +
          "which already exists in the data — rename one of them")
    }
    val stageDf = partSpecs.filterNot(_.transform == "identity").foldLeft(df) { (d, ps) =>
      import org.apache.spark.sql.functions.{col => c, expr, floor, substring, trunc}
      // Temporal ordinals are UTC BY SPEC (Iceberg §partition-transforms) —
      // derive every one of them from epoch arithmetic, never the
      // session-timezone to_date, so the same instant lands on the same
      // day/month/year/hour for us AND for an external Iceberg reader
      // whatever spark.sql.session.timeZone says.
      def utcDate =
        expr(s"date_add(DATE'1970-01-01', " +
          s"cast(floor(cast(`${ps.source}` as double) / 86400.0) as int))")
      val derived = ps.transform match {
        case "day" =>
          if (df.schema(ps.source).dataType == org.apache.spark.sql.types.DateType)
            c(ps.source)
          else utcDate
        case "month" =>
          if (df.schema(ps.source).dataType == org.apache.spark.sql.types.DateType)
            trunc(c(ps.source), "month")
          else trunc(utcDate, "month")
        case "year" =>
          if (df.schema(ps.source).dataType == org.apache.spark.sql.types.DateType)
            trunc(c(ps.source), "year")
          else trunc(utcDate, "year")
        case "hour" =>
          // hours since epoch; floor (not int-div) so pre-1970 stamps
          // land in the right bucket too
          floor(c(ps.source).cast("double") / 3600.0).cast("int")
        case t if t.startsWith("truncate[") =>
          df.schema(ps.source).dataType match {
            case org.apache.spark.sql.types.StringType =>
              substring(c(ps.source), 1, ps.truncW)
            case _ =>
              // Iceberg truncate for integers: v - (((v % W) + W) % W)
              // (true floor mod, negatives truncate DOWN)
              (c(ps.source) -
                (((c(ps.source) % ps.truncW) + ps.truncW) % ps.truncW))
                .cast(df.schema(ps.source).dataType)
          }
        case _ => IcebergTransforms.bucketExpr(c(ps.source), ps.bucketN) // spec murmur3
      }
      d.withColumn(ps.derivedName, derived)
    }
    // Every artifact — data files, manifests, manifest list, version hint
    // — goes through the store, with the metadata JSON claiming the
    // version via the conditional put below: on an ObjectStore nothing
    // touches the table via the local FS, mirroring the reference's single
    // pipeline (iceberg_destination.rs:152-377 over an object store).
    val dataDir = newDataDir(table, "stage")
    // hash distribution-mode (guide §6, Iceberg's write.distribution-mode
    // =hash — the 1.2+ default): cluster rows by the DERIVED partition
    // values so the file count is ∝ distinct partition values, not
    // tasks × values (a day(ts) ingest at the 5× corpus wrote ~2400 tiny
    // files per commit without this — q_iceberg_hidden_day 20 s).
    // maxRecordsPerFile still splits an oversized partition.
    val clustered =
      if (partSpecs.isEmpty) stageDf
      else stageDf.repartition(partSpecs.map(ps =>
        org.apache.spark.sql.functions.col(ps.derivedName)): _*)
    // per-file partition values from the written layout (write side only —
    // readers use the manifest)
    val partValuesOf: String => Seq[Any] =
      if (partSpecs.isEmpty) _ => Nil
      else { rel =>
        val segments = rel.split('/').toSeq.dropRight(1)
        partSpecs.zip(segments).map { case (ps, seg) =>
          require(seg.startsWith(ps.derivedName + "="),
            s"unexpected partition segment $seg for ${ps.derivedName}")
          // a transform segment's dir codec follows the DERIVED column type
          // (temporal → ISO date dir, bucket → int dir), not the source's;
          // month/year then re-map the parsed epoch-day to their Iceberg
          // ordinal (months/years since 1970)
          ps.transform match {
            case "day" =>
              partitionValueOf(seg, org.apache.spark.sql.types.DateType)
            case "month" =>
              Option(partitionValueOf(seg, org.apache.spark.sql.types.DateType))
                .map { d =>
                  val ld = java.time.LocalDate.ofEpochDay(d.asInstanceOf[Int].toLong)
                  Int.box((ld.getYear - 1970) * 12 + (ld.getMonthValue - 1))
                }.orNull
            case "year" =>
              Option(partitionValueOf(seg, org.apache.spark.sql.types.DateType))
                .map { d =>
                  Int.box(java.time.LocalDate.ofEpochDay(
                    d.asInstanceOf[Int].toLong).getYear - 1970)
                }.orNull
            case "hour" =>
              partitionValueOf(seg, org.apache.spark.sql.types.IntegerType)
            case b if b.startsWith("bucket[") =>
              partitionValueOf(seg, org.apache.spark.sql.types.IntegerType)
            case t if t.startsWith("truncate[") =>
              partitionValueOf(seg, df.schema(ps.source).dataType)
            case _ =>
              partitionValueOf(seg, df.schema(ps.source).dataType)
          }
        }
      }

    // Field ids are STABLE, never positional, once the table has evolved:
    //  - unchanged schema → the stored Iceberg schema stays as it is (ids
    //    untouched, content never re-minted under its id);
    //  - evolving append → stored fields verbatim + the added tail minted
    //    from last-column-id upward (spec id-assignment rule);
    //  - overwrite re-declaring the schema → ids assigned by NAME
    //    continuity (a field keeps its stored id; genuinely new names
    //    continue from last-column-id) so pre-overwrite snapshots keep
    //    resolving their files by id;
    //  - fresh table → ordinal 1..n.
    val schemaChanged = storedSchema.exists(_.json != declaredSchema.json)
    val storedIds: Seq[(String, Int)] =
      storedFields.map(f => f.get("name").asText() -> f.get("id").asInt())
    val prevLastColumnId = previous.fold(0)(p =>
      Option(p.get("last-column-id")).map(_.asInt()).getOrElse(storedIds.map(_._2).max))
    val declaredIds: Seq[Int] = (previous, schemaChanged) match {
      case (Some(_), false) => storedIds.map(_._2)
      case (Some(_), true) if evolveSchema =>
        var next = prevLastColumnId
        storedIds.map(_._2) ++ declaredSchema.fields.drop(storedIds.length).map { _ =>
          next += 1; next
        }
      case (Some(_), true) =>
        val byName = storedIds.toMap
        var next = prevLastColumnId
        declaredSchema.fields.map(f => byName.getOrElse(f.name, { next += 1; next })).toSeq
      case _ => declaredSchema.fields.indices.map(_ + 1)
    }
    val fieldIds = declaredSchema.fieldNames.zip(declaredIds).toMap
    // ANY write whose declared schema differs from the stored one (an
    // evolving append, or an overwrite re-declaring nullability/names)
    // mints the NEXT schema-id; the previous schemas stay in the metadata
    // (spec §schemas) — schema-ids are immutable-per-id, never edited in
    // place. Field attributes the Spark schema cannot EXPRESS (the v3
    // initial-default / write-default pair) carry over from the stored
    // field with the same id when name+type still agree, or one overwrite
    // would silently strip a defaulted column's value for every
    // pre-evolution row.
    val newSchema: Option[TableSchema] =
      if (previous.isDefined && !schemaChanged) None
      else {
        val storedById = storedFields.map(f => f.get("id").asInt() -> f).toMap
        Some(TableSchema(previous.fold(0)(_.get("current-schema-id").asInt() + 1),
          declaredSchema.fields.toSeq.zip(declaredIds).map { case (f, id) =>
            val n = fieldNode(id, f)
            storedById.get(id).filter(sn => sn.get("name").asText() == f.name &&
                sn.get("type").asText() == n.get("type").asText())
              .foreach(sn => Seq("initial-default", "write-default").foreach(k =>
                Option(sn.get(k)).foreach(v =>
                  n.set[com.fasterxml.jackson.databind.JsonNode](k, v.deepCopy()): Unit)))
            n
          }, declaredSchema))
      }

    // Data files with their manifest stats (real per-file row counts +
    // per-column value/null counts and bounds from the same footer open),
    // read by each write task from the file it wrote, before publishing
    // it; manifests always reference the file's TABLE path.
    val infos0 = TaskWrite(t.store, clustered, dataDir,
        partSpecs.map(_.derivedName)) { (f, conf) =>
      Some(footerStats(f, conf, fieldIds))
    }.map { w =>
      IcebergAvro.DataFileInfo(new File(dataDir, w.rel).getAbsolutePath,
        w.size, w.stats._1, w.stats._2, partValuesOf(w.rel))
    }
    t.record(infos0.map(i => Paths.get(i.absPath)): _*)
    // V3 row lineage (spec §Row Lineage): on a lineage-enabled table every
    // ADDED data file takes its first_row_id from the table clock —
    // except a materialized-`_row_id` rewrite, whose files carry the ids
    // themselves (manifest assignment stays null there by design)
    val infos = previous.filterNot(_ => extraPhysicalCols.contains("_row_id"))
      .fold(infos0)(withFirstRowIds(_, infos0))
    // partition spec (Iceberg spec §partitioning): field-ids from 1000,
    // source-id = the schema field id of the SOURCE column (for a hidden
    // day() transform that is the timestamp column, not the derived name).
    // PARTITION EVOLUTION (spec §partition-evolution): a table carries
    // EVERY spec it has ever written under a stable spec-id, and every
    // manifest is stamped with the spec its files were laid out by. A
    // write whose (source, transform) sequence matches a stored spec
    // reuses that spec's id AND field-ids verbatim (spec rule: a
    // partition field keeps its id for as long as it exists); a
    // re-layout (Overwrite with a new explicit spec) mints the next
    // spec-id, reusing field-ids for any (source, transform) pair seen
    // before and allocating fresh ones past last-partition-id otherwise.
    val prevSpecs: Seq[(Int, Seq[StoredSpecField])] =
      previous.toSeq.flatMap(storedSpecsOf)
    val reqSpecKey = partSpecs.zip(partFields).map { case (ps, pf) =>
      (fieldIds(ps.source), ps.transform, pf.name)
    }
    val spec = resolveSpecIds(prevSpecs,
      previous.map(_.path("last-partition-id").asInt(999)).getOrElse(999),
      reqSpecKey, partFields)
    // format-version RATCHETS, never resets (the encoder keeps the
    // table's own when higher). A VARIANT column is a V3 type (spec
    // §Variant), so a schema carrying one claims v3 from creation —
    // pre-v3 readers must refuse rather than choke on the unknown type.
    val needsV3 = declaredSchema.fields.exists(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.VariantType])
    commitSnapshot(t, table, prevHead.getOrElse(freshHead(table)), Commit(
      // spec §snapshots: the summary must carry the snapshot's TRUE
      // operation — an Overwrite of existing data is "overwrite" (a
      // sequence-scoped consumer must not mistake the rewritten rows for
      // appends), a rewrite that changes no logical rows (compact) stamps
      // "replace" via the override, and a first/append commit is "append"
      operationOverride.getOrElse(
        if (mode == Overwrite && previous.isDefined) "overwrite" else "append"),
      Seq(AddManifest(0, infos, spec)),
      // an append carries the previous snapshot's manifests forward;
      // create/overwrite start fresh
      carried = if (mode == Append) None else Some(Nil),
      schema = newSchema,
      spec = Some(spec).filter(s => previous.forall(_.get("default-spec-id").asInt() != s.id)),
      formatVersion = if (needsV3) 3 else 2,
      summary = summaryProps)): Unit
  }

  /** ADD-COLUMN schema evolution — the opt-in extension verb ([[write]]'s
    * positional [[SchemaGate]] stays the reference-faithful default): an
    * append whose frame may carry NEW nullable columns after the table's
    * existing ones. The evolved schema mints the next schema-id (previous
    * schemas retained in the metadata, spec §schemas), existing ordinal
    * field ids stay stable and new ids continue from last-column-id —
    * the standard Iceberg add-column flow. Old data files simply lack the
    * new columns; every reader surfaces NULL for them (the parquet scan
    * fills missing columns), so evolution is pure metadata — no file is
    * rewritten at any table size. Reads — including time travel —
    * surface the CURRENT schema.
    */
  def evolve(df: DataFrame, table: String,
      store: CommitStore = CommitStore.Local,
      partitionBy: Seq[String] = Nil): Unit = {
    writeWithRetry(df, table, Append, store = store,
      partitionBy = partitionBy, evolveSchema = true)
  }

  /** DROP-column evolution — METADATA-ONLY (Iceberg spec: data files are
    * untouched; the field id is retired, never reused, and readers stop
    * selecting it by id). Refused for partition-spec sources (the spec's
    * derived names and continuity checks are name-keyed) and for columns
    * live equality-delete files key on (their predicate could no longer
    * apply — compact first).
    */
  def evolveDrop(table: String, column: String,
      store: CommitStore = CommitStore.Local): Unit =
    commitEvolvedSchema(table, store) { (meta, pairs) =>
      val idx = pairs.indexWhere(_._2.name == column)
      require(idx >= 0, s"no such column: $column")
      require(pairs.length > 1, "cannot drop the last column")
      val id = pairs(idx)._1.get("id").asInt()
      require(!partitionSourceIds(meta).contains(id),
        s"cannot drop partition source column $column")
      val liveEq = snapshotEntries(table, None).deletes
        .filter(_.content == 2).flatMap(_.equalityIds).toSet
      require(!liveEq.contains(id),
        s"cannot drop $column: live equality-delete files key on it — compact first")
      pairs.patch(idx, Nil, 1)
    }

  /** ADD-COLUMN with DEFAULT VALUES — METADATA-ONLY (Iceberg spec v3
    * §Default values, closing the v3 pillar set beside deletion vectors
    * and row lineage): the classic `ALTER TABLE ADD COLUMN ... DEFAULT`.
    * The new field mints the next id and carries `initial-default` (what
    * readers surface for every row written BEFORE the column existed —
    * id-resolved reads project it instead of null) and `write-default`
    * (what [[write]] fills for an appending producer that omits the
    * trailing column). No data file is touched at any table size; time
    * travel to pre-evolution snapshots reads THAT snapshot's schema.
    * `default = None` adds a plain nullable column (old rows read null).
    */
  def evolveAddColumn(table: String, column: String, icebergTypeName: String,
      default: Option[Any] = None,
      store: CommitStore = CommitStore.Local): Unit =
    commitEvolvedSchema(table, store) { (meta, pairs) =>
      require(!pairs.exists(_._2.name == column),
        s"column $column already exists")
      val nextId = math.max(
        Option(meta.get("last-column-id")).map(_.asInt()).getOrElse(0),
        pairs.map(_._1.get("id").asInt()).max) + 1
      val dt = sparkTypeOfIceberg(icebergTypeName)
      val n = fieldNode(nextId, StructField(column, dt)).put("type", icebergTypeName)
      default.foreach { d =>
        def put(key: String): Unit = d match {
          case s: String => n.put(key, s): Unit
          case i: Int => n.put(key, i): Unit
          case l: Long => n.put(key, l): Unit
          case x: Double => n.put(key, x): Unit
          case b: Boolean => n.put(key, b): Unit
          case other => throw new IllegalArgumentException(
            s"unsupported default value type: ${other.getClass.getName}")
        }
        put("initial-default"); put("write-default")
      }
      pairs :+ ((n, StructField(column, dt, nullable = true)))
    }

  /** RENAME-column evolution — METADATA-ONLY: the field keeps its id (and
    * its data files their written name — reads resolve by id), only the
    * declared name changes.
    */
  def evolveRename(table: String, from: String, to: String,
      store: CommitStore = CommitStore.Local): Unit =
    commitEvolvedSchema(table, store) { (meta, pairs) =>
      val idx = pairs.indexWhere(_._2.name == from)
      require(idx >= 0, s"no such column: $from")
      require(!pairs.exists(_._2.name == to), s"column $to already exists")
      val (n, sf) = pairs(idx)
      require(!partitionSourceIds(meta).contains(n.get("id").asInt()),
        s"cannot rename partition source column $from")
      n.put("name", to)
      pairs.updated(idx, (n, sf.copy(name = to)))
    }

  /** TYPE-WIDEN evolution — METADATA-ONLY, int→long or float→double only
    * (the spec's safe promotions: every stored value embeds losslessly;
    * readers cast old files' narrow values up after the id-resolved read).
    */
  def evolveWiden(table: String, column: String,
      store: CommitStore = CommitStore.Local): Unit =
    commitEvolvedSchema(table, store) { (meta, pairs) =>
      val idx = pairs.indexWhere(_._2.name == column)
      require(idx >= 0, s"no such column: $column")
      val (n, sf) = pairs(idx)
      require(!partitionSourceIds(meta).contains(n.get("id").asInt()),
        s"cannot widen partition source column $column")
      val (newIce, newDt) = sf.dataType match {
        case IntegerType => ("long", LongType)
        case FloatType => ("double", DoubleType)
        case other => throw new IllegalArgumentException(
          s"only int→long and float→double widen; $column is ${other.simpleString}")
      }
      n.put("type", newIce)
      pairs.updated(idx, (n, sf.copy(dataType = newDt)))
    }

  private def partitionSourceIds(
      meta: com.fasterxml.jackson.databind.JsonNode): Set[Int] =
    meta.get("partition-specs").elements().asScala
      .flatMap(_.get("fields").elements().asScala)
      .map(_.get("source-id").asInt()).toSet

  /** One stored partition-spec field, as written in the metadata JSON. */
  private[sinks] case class StoredSpecField(name: String, transform: String,
      sourceId: Int, fieldId: Int)

  private def storedSpecsOf(meta: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(Int, Seq[StoredSpecField])] =
    meta.get("partition-specs").elements().asScala.map { sp =>
      sp.get("spec-id").asInt() -> sp.get("fields").elements().asScala.map(f =>
        StoredSpecField(f.get("name").asText(),
          Option(f.get("transform")).map(_.asText()).getOrElse("identity"),
          f.get("source-id").asInt(), f.get("field-id").asInt())).toSeq
    }.toSeq

  /** The spec §partition-evolution id-stability rule, shared by [[write]]
    * and [[evolvePartition]]: a requested layout matching a stored spec's
    * (source, transform, name) sequence reuses that spec-id and field-ids
    * VERBATIM; otherwise the next spec-id is minted, with field-ids for
    * (source, transform) pairs seen in ANY spec reused and genuinely new
    * ones continuing past `lastPartitionId`. Returns the spec with its
    * final ids; `reqKey` holds each field's (source id, transform, name).
    */
  private def resolveSpecIds(
      existing: Seq[(Int, Seq[StoredSpecField])], lastPartitionId: Int,
      reqKey: Seq[(Int, String, String)],
      partFields: Seq[IcebergAvro.PartitionField]): Spec = {
    val (id, fields) =
      existing.find(_._2.map(f => (f.sourceId, f.transform, f.name)) == reqKey) match {
        case Some((id, flds)) =>
          (id, partFields.zip(flds).map { case (pf, sf) => pf.copy(fieldId = sf.fieldId) })
        case None if existing.nonEmpty =>
          val seenPairs: Map[(Int, String), Int] =
            existing.flatMap(_._2.map(f => (f.sourceId, f.transform) -> f.fieldId)).toMap
          var nextPid = lastPartitionId
          val fin = reqKey.zip(partFields).map { case ((srcId, tf, _), pf) =>
            seenPairs.get((srcId, tf)) match {
              case Some(fid) => pf.copy(fieldId = fid)
              case None => nextPid += 1; pf.copy(fieldId = nextPid)
            }
          }
          (existing.map(_._1).max + 1, fin)
        case None => (0, partFields)
      }
    Spec(id, fields.zip(reqKey).map { case (pf, (srcId, tf, _)) => SpecField(pf, tf, srcId) })
  }

  /** PARTITION EVOLUTION — METADATA-ONLY (Iceberg spec
    * §partition-evolution): re-layouts the table's FUTURE writes without
    * touching a single existing file. The new spec is appended to
    * `partition-specs` under the next spec-id (or, when the requested
    * layout matches a spec the table already carries, `default-spec-id`
    * just repoints at it); field-ids for (source, transform) pairs seen
    * before are reused and genuinely new ones continue past
    * `last-partition-id` — the spec's id-stability rule, so an external
    * reader can correlate the same partition field across specs. Existing
    * manifests keep their own spec stamp and their files read exactly as
    * before (the read path takes partition truth per-manifest and treats
    * pruning keys a file lacks as "keep"); appends after the evolution
    * adopt the new default automatically. This is THE 100 TB re-layout
    * verb: switching a petabyte table from identity(region) to day(ts)
    * costs one metadata version, not a rewrite — OPTIMIZE/compact later
    * migrates old files incrementally if wanted. Returns the now-default
    * spec-id.
    */
  def evolvePartition(table: String, partitionBy: Seq[String],
      store: CommitStore = CommitStore.Local): Int = {
    val Head(hint, meta) = head(table)
    val schema = sparkSchemaOf(meta)
    val specs = partitionBy.map(parsePartSpec)
    val partFields = partitionFieldsOf(schema, specs) // validates source/transform types
    val idByName: Map[String, Int] =
      ifieldsOf(currentSchema(meta))
        .map(f => f.name -> f.id).toMap
    val existing = storedSpecsOf(meta)
    val reqKey = specs.zip(partFields).map { case (ps, pf) =>
      (idByName(ps.source), ps.transform, pf.name)
    }
    val spec = resolveSpecIds(existing,
      meta.path("last-partition-id").asInt(999), reqKey, partFields)
    if (spec.id == meta.get("default-spec-id").asInt()) return spec.id // no-op
    val newMeta = meta.deepCopy[ObjectNode]()
    putSpec(newMeta, spec)
    commitMetadata(table, store, hint, newMeta)
    spec.id
  }

  /** Shared metadata-only evolution commit: `op` transforms the parallel
    * (iceberg field node, spark field) pairs — ids are carried by the
    * nodes and NEVER reassigned here. Mints the next schema-id and
    * writes it through [[putSchema]], the schema writer data commits use
    * too, then claims version hint+1 under the same OCC protocol as
    * writes. No snapshot is added — there is no data change to snapshot.
    */
  private def commitEvolvedSchema(table: String, store: CommitStore)(
      op: (com.fasterxml.jackson.databind.JsonNode,
           Seq[(com.fasterxml.jackson.databind.node.ObjectNode, StructField)])
        => Seq[(com.fasterxml.jackson.databind.node.ObjectNode, StructField)])
      : Unit = {
    val Head(hint, meta) = head(table)
    val sparkSchema = sparkSchemaOf(meta)
    val cur = currentSchema(meta)
    val pairs = cur.get("fields").elements().asScala.toSeq
      .map(_.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]())
      .zip(sparkSchema.fields.toSeq)
    require(pairs.map(_._1.get("name").asText()) == pairs.map(_._2.name),
      "corrupt metadata: iceberg schema and spark schema disagree")
    val evolved = op(meta, pairs)
    val newMeta = meta.deepCopy[ObjectNode]()
    putSchema(newMeta, TableSchema(meta.get("current-schema-id").asInt() + 1,
      evolved.map(_._1), StructType(evolved.map(_._2))))
    commitMetadata(table, store, hint, newMeta)
  }

  private val TxnAppKey = "graft.txn-app-id"
  private val TxnBatchKey = "graft.txn-batch-id"

  /** Highest batch id committed for `appId`, from the snapshot summaries
    * (−1 if none). The Iceberg twin of DeltaSink.lastTxnVersion — the
    * summary map is the format's standard home for engine bookkeeping, and
    * it survives expireSnapshots as long as any stamped snapshot does.
    */
  def lastTxnBatch(table: String, appId: String): Long = {
    val meta = headOption(table).getOrElse(return -1L).meta
    meta.get("snapshots").elements().asScala.flatMap { s =>
      Option(s.get("summary")).filter(su =>
        su.has(TxnAppKey) && su.get(TxnAppKey).asText() == appId)
        .map(_.get(TxnBatchKey).asText().toLong)
    }.foldLeft(-1L)(math.max)
  }

  /** Exactly-once streaming append: commits the batch as one snapshot
    * stamped with (appId, batchId) in its summary; a replay of an
    * already-committed batch id (crash between Iceberg commit and the
    * stream's own checkpoint — foreachBatch's at-least-once gap) no-ops.
    * Returns the committed snapshot's sequence number, or −1 on replay.
    * The table must already exist (create via [[write]]).
    */
  def appendExactlyOnce(df: DataFrame, table: String, appId: String,
      batchId: Long, store: CommitStore = CommitStore.Local,
      branch: Option[String] = None): Long = {
    // ONE watermark per appId across main and every branch — lastTxnBatch
    // scans all snapshots, so a pipeline moved from a branch to main (or
    // publishing mid-stream via fastForward) never double-applies a batch
    if (batchId <= lastTxnBatch(table, appId)) return -1L
    val txnProps = Map(TxnAppKey -> appId, TxnBatchKey -> batchId.toString)
    branch match {
      case Some(b) =>
        // streaming write-audit-publish: micro-batches land on a staging
        // ref exactly-once; main serves the last published head until a
        // fastForward promotes the audited stream
        appendBranch(df, table, b, store, summaryProps = txnProps): Unit
        // an all-empty batch commits NOTHING on the branch (appendBranch
        // skips the snapshot), so the watermark did not advance — return
        // 0 rather than the previous snapshot's sequence (the same no-op
        // sentinel contract as upsertExactlyOnce, r13 advice)
        if (lastTxnBatch(table, appId) < batchId) return 0L
      case None =>
        writeWithRetry(df, table, Append, store = store,
          summaryProps = txnProps)
    }
    snapshots(table).last._2
  }

  /** Exactly-once streaming UPSERT: one atomic [[upsert]] snapshot per
    * micro-batch, stamped with (appId, batchId) in its summary; a replay
    * of an already-committed batch id no-ops — the CDC-ingestion twin of
    * [[appendExactlyOnce]]. Returns the committed snapshot's sequence
    * number, or −1 on replay.
    */
  def upsertExactlyOnce(df: DataFrame, table: String, appId: String,
      batchId: Long, keys: Seq[String],
      store: CommitStore = CommitStore.Local): Long = {
    if (batchId <= lastTxnBatch(table, appId)) return -1L
    val upserted = upsert(df.sparkSession, table, df, keys, store,
      summaryProps = Map(TxnAppKey -> appId, TxnBatchKey -> batchId.toString))
    // An empty (or all-empty-part) source commits NOTHING — upsert()
    // returns 0 without a snapshot, so the (appId, batchId) watermark did
    // not advance. Return 0 (sequence numbers start at 1) rather than the
    // PREVIOUS snapshot's sequence, so a caller can't mistake a no-op for
    // a commit.
    if (upserted == 0L) 0L else snapshots(table).last._2
  }

  /** Reads the table at its current version (hint → metadata → current
    * snapshot → manifest list → manifests → data files), or — snapshot
    * time travel — at `asOfSnapshotId`: every snapshot in the metadata
    * keeps its own manifest list, so reading an older one is just
    * resolving that list instead of the current ref.
    */
  def read(spark: SparkSession, table: String,
      asOfSnapshotId: Option[Long] = None,
      store: CommitStore = CommitStore.Local): DataFrame = {
    val snap = snapshotEntries(table, asOfSnapshotId)
    readMerged(spark, snap.schema, snap.data, snap.deletes,
      curFields = snap.curFields, fileFields = snap.fileFields, store = store)
  }

  /** One resolved snapshot: the head it was resolved from, and the LIVE
    * entries of its data and delete manifests, each manifest opened once.
    * Every entry carries its resolved data sequence: explicit in
    * rewritten manifests, else the manifest_file row's — appends carry
    * prior manifests forward verbatim, so every file keeps the sequence
    * it was committed at, which is what scopes delete application (a
    * delete never touches data appended after it). `fileFields`: per
    * data or delete file, the schema its MANIFEST was written under (its
    * "schema" key metadata) — the id-resolution truth that lets a read
    * project files written before a rename/drop/widen into the current
    * schema.
    */
  private[sinks] case class Snapshot(head: Head, schema: StructType,
      data: Seq[IcebergAvro.Entry],
      deletes: Seq[IcebergAvro.Entry],
      curFields: Seq[IField],
      fileFields: Map[String, Seq[IField]])

  /** Shared snapshot resolution for [[read]]/[[readDays]]/… . Partition
    * truth comes from each manifest's OWN partition struct (its Avro
    * writer schema), NOT from the current metadata's default spec:
    * snapshots written under an older spec must time-travel with the
    * columns they were written with — resolving the current spec here
    * would read old files with the wrong column split after an overwrite
    * changes the layout. Manifests split by their V2 content code: data
    * manifests feed the scan, deletes manifests (content=1, written by
    * [[deleteWhere]]) feed the merge-on-read anti-join.
    */
  private def snapshotEntries(table: String, asOfSnapshotId: Option[Long])
      : Snapshot = {
    val h = head(table)
    val schema = sparkSchemaOf(h.meta)
    val list = manifestListOf(h.meta, asOfSnapshotId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot " +
        s"${asOfSnapshotId.getOrElse(h.meta.get("current-snapshot-id").asLong())} " +
        s"in $table (expired or never committed)"))
    val manifests = manifestRefs(table, list).map(r => r -> readManifest(table, r))
    def entriesOf(content: Int) =
      manifests.filter(_._1.content == content).flatMap(_._2.entries)
    val fileFields = manifests.flatMap { case (_, m) =>
      m.schemaJson
        .flatMap(s => scala.util.Try(ifieldsOf(mapper.readTree(s))).toOption)
        .toSeq.flatMap(wf => m.entries.map(_.path -> wf))
    }.toMap
    Snapshot(h, schema, entriesOf(0), entriesOf(1),
      curFieldsOf(h.meta, schema), fileFields)
  }

  /** METADATA-ONLY file inventory of a snapshot: one row per live data
    * file — (path, partitionValues, num_records) — derived entirely from
    * the manifest list + manifests (the record_count every data_file
    * entry carries; Iceberg spec §Manifests). No data file is opened:
    * per-partition COUNT(*) and layout audits answer from the KB-scale
    * metadata tree, the Iceberg twin of [[DeltaSink.fileStats]].
    * Partition values come from each manifest's OWN partition struct
    * (same contract as [[snapshotEntries]]), stringified for a uniform
    * map<string,string> column.
    */
  def fileStats(spark: SparkSession, table: String,
      asOfSnapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshotEntries(table, asOfSnapshotId)
    // num_records reports LIVE rows ([[DeltaSink.fileStats]]'s contract):
    // a V3 deletion vector's cardinality subtracts from its referenced
    // file without opening anything — highest-sequence vector per file
    // (the supersede rule), read from delete-manifest record counts
    val maskByFile = liveDvs(snap.deletes).map { case (ref, d) => ref -> d.recordCount }
    val rows = snap.data.map { e =>
      (e.path, e.pvals.map { case (k, v) => k -> String.valueOf(v) },
        e.recordCount - maskByFile.getOrElse(e.path, 0L))
    }
    import spark.implicits._
    rows.toDF("path", "partitionValues", "num_records")
  }

  /** INSPECTION (metadata) TABLES — the `table$snapshots`-style surface
    * every Iceberg engine exposes (snapshots / history / refs / manifests
    * / files), as DataFrames answered ENTIRELY from the metadata tree:
    * no data file is opened at any table size, so "how many rows landed
    * per snapshot", "which files serve partition X", "what does the tag
    * pin" are KB-scale queries on a 100 TB table.
    *
    *  - `snapshots`: snapshot_id, parent_id, sequence_number,
    *    committed_at_ms, operation, manifest_list
    *  - `history`:  snapshots + is_current (ancestry of the main ref)
    *  - `refs`:     name, type, snapshot_id
    *  - `manifests`: path, length, partition_spec_id, content,
    *    sequence_number, added/existing file+row counts
    *  - `files`:    content (0 data / 1 delete manifest — the
    *    manifest-plane code), file_path, record_count, partition values —
    *    one row per entry of the CURRENT snapshot's manifests
    */
  def metaTable(spark: SparkSession, table: String, kind: String): DataFrame = {
    import spark.implicits._
    val meta = head(table).meta
    kind match {
      case "snapshots" | "history" =>
        val cur = meta.get("current-snapshot-id").asLong()
        val rows = meta.get("snapshots").elements().asScala.toSeq.map { s =>
          (s.get("snapshot-id").asLong(),
            Option(s.get("parent-snapshot-id")).map(_.asLong()),
            s.get("sequence-number").asLong(),
            s.get("timestamp-ms").asLong(),
            Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
              .map(_.asText()).getOrElse("append"),
            s.get("manifest-list").asText())
        }.sortBy(_._3)
        val df = rows.toDF("snapshot_id", "parent_id", "sequence_number",
          "committed_at_ms", "operation", "manifest_list")
        if (kind == "snapshots") df
        else df.withColumn("is_current",
          org.apache.spark.sql.functions.col("snapshot_id") === cur)
      case "refs" =>
        val rows =
          if (!meta.has("refs") || !meta.get("refs").isObject) Nil
          else meta.get("refs").properties().asScala.toSeq.map(e =>
            (e.getKey, e.getValue.get("type").asText(),
              e.getValue.get("snapshot-id").asLong()))
        rows.sortBy(_._1).toDF("name", "type", "snapshot_id")
      case "manifests" =>
        val rows = manifestListOf(meta).toSeq.flatMap(p => IcebergAvro.readManifestList(
          new File(requireAvro(abs(table, p))))).map { r =>
          (r.get("manifest_path").toString,
            r.get("manifest_length").asInstanceOf[Long],
            r.get("partition_spec_id").asInstanceOf[Int],
            r.get("content").asInstanceOf[Int],
            r.get("sequence_number").asInstanceOf[Long],
            r.get("added_files_count").asInstanceOf[Int],
            r.get("existing_files_count").asInstanceOf[Int],
            r.get("added_rows_count").asInstanceOf[Long],
            r.get("existing_rows_count").asInstanceOf[Long])
        }
        rows.toDF("path", "length", "partition_spec_id", "content",
          "sequence_number", "added_files_count", "existing_files_count",
          "added_rows_count", "existing_rows_count")
      case "files" =>
        val rows = manifestListOf(meta).toSeq
          .flatMap(p => manifestRefs(table, p)).flatMap { mr =>
            readManifest(table, mr).entries.map(e => (mr.content, e.path,
              e.recordCount, e.pvals.map { case (k, v) => k -> String.valueOf(v) }))
          }
        rows.toDF("content", "file_path", "record_count", "partition")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' " +
          "(snapshots | history | refs | manifests | files)")
    }
  }

  /** Day-partition-pruned read over a hidden `day(tsCol)` table: only data
    * files whose manifest day ordinal falls in [fromDay, untilDay) are
    * scanned (files without the partition value are kept — pruning is an
    * optimization, never a correctness filter), then the exact timestamp
    * predicate re-applies. This is what hidden partitioning buys: the
    * reader filters on the SOURCE column and never names the transform.
    * Returns (frame, scanned-file-count, total-file-count) so tests can
    * pin that pruning actually happened.
    */
  /** [[readDays]] plus the pruning census: (frame, dataKept, dataTotal,
    * deleteFilesKept, deleteFilesTotal).
    */
  private[graft] def planDays(spark: SparkSession, table: String, tsCol: String,
      fromDay: java.time.LocalDate, untilDay: java.time.LocalDate)
      : (DataFrame, Int, Int, Int, Int) = {
    val snap = snapshotEntries(table, asOfSnapshotId = None)
    val (schema, entries) = (snap.schema, snap.data)
    val key = s"${tsCol}_day"
    val (lo, hi) = (fromDay.toEpochDay, untilDay.toEpochDay)
    val kept = entries.filter { e =>
      e.pvals.get(key) match {
        case Some(d: Int) => d >= lo && d < hi
        case _ => true
      }
    }
    // exact re-filter on the SAME UTC day arithmetic as the write-side
    // transform (session-TZ to_date would disagree with the manifest
    // ordinals on non-UTC sessions). A DateType source has no double cast
    // in Spark — its ordinal IS the epoch day (datediff from 1970-01-01),
    // matching the write side's identity use of the date column.
    import org.apache.spark.sql.functions.{col, datediff, floor, lit}
    val utcDay = schema(tsCol).dataType match {
      case org.apache.spark.sql.types.DateType =>
        datediff(col(tsCol), lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
      case _ => floor(col(tsCol).cast("double") / 86400.0)
    }
    // partition-scoped DELETE manifests prune too: a delete file stamped
    // with another day's partition value can't touch this window's rows;
    // files without the value (equality deletes, pre-scoping snapshots,
    // cross-partition groups) are kept — pruning is an optimization,
    // never a correctness filter
    val keptDeletes = snap.deletes.filter { d =>
      d.pvals.get(key) match {
        case Some(x: Int) => x >= lo && x < hi
        case _ => true
      }
    }
    val df = readMerged(spark, schema, kept, keptDeletes,
        curFields = snap.curFields, fileFields = snap.fileFields)
      .filter(utcDay >= lo && utcDay < hi)
    (df, kept.size, entries.size, keptDeletes.size, snap.deletes.size)
  }

  def readDays(spark: SparkSession, table: String, tsCol: String,
      fromDay: java.time.LocalDate, untilDay: java.time.LocalDate)
      : (DataFrame, Int, Int) = {
    val (df, kd, td, _, _) = planDays(spark, table, tsCol, fromDay, untilDay)
    (df, kd, td)
  }

  /** Bucket-pruned POINT read over a `bucket[N](keyCol)` table (r9): the
    * probe key hashes through the spec murmur3 to its bucket ordinal, and
    * only data files whose manifest bucket value matches are scanned
    * (files without the value are kept — pruning is an optimization,
    * never a correctness filter), then the exact key predicate
    * re-applies. This is what bucket partitioning buys a key-value-style
    * lookup on a 100 TB table: 1/N of the files touched, no layout
    * knowledge needed by the reader. Returns (frame, scanned, total).
    */
  def readBucket(spark: SparkSession, table: String, keyCol: String,
      value: Long): (DataFrame, Int, Int) = {
    val snap = snapshotEntries(table, asOfSnapshotId = None)
    val (schema, entries) = (snap.schema, snap.data)
    val meta = snap.head.meta
    val derivedName = s"${keyCol}_bucket"
    val n = meta.get("partition-specs").elements().asScala
      .find(s => s.get("spec-id").asInt() == meta.get("default-spec-id").asInt())
      .toSeq.flatMap(_.get("fields").elements().asScala)
      .collectFirst {
        case f if f.get("name").asText() == derivedName &&
            f.get("transform").asText().startsWith("bucket[") =>
          f.get("transform").asText().stripPrefix("bucket[").stripSuffix("]").toInt
      }
      .getOrElse(throw new IllegalArgumentException(
        s"$table is not bucket-partitioned on $keyCol"))
    val b = IcebergTransforms.bucketOfHash(IcebergTransforms.hashLong(value), n)
    val kept = entries.filter { e =>
      e.pvals.get(derivedName) match {
        case Some(x: Int) => x == b
        case _ => true
      }
    }
    val keptDeletes = snap.deletes.filter { d =>
      d.pvals.get(derivedName) match {
        case Some(x: Int) => x == b
        case _ => true
      }
    }
    import org.apache.spark.sql.functions.col
    val df = readMerged(spark, schema, kept, keptDeletes,
        curFields = snap.curFields, fileFields = snap.fileFields)
      .filter(col(keyCol) === value)
    (df, kept.size, entries.size)
  }

  /** Identity-partition-pruned POINT read: only data files whose manifest
    * partition value for `partitionCol` equals `value` are scanned (files
    * without the value are kept — pruning is an optimization, never a
    * correctness filter), then the exact predicate re-applies.
    * Partition-scoped delete manifests prune on the same rule. `value` is
    * compared stringified against the manifest value (the same uniform
    * spelling [[fileStats]] and the partition-statistics census use).
    * Returns (frame, scanned, total). See
    * [[IcebergStats.readPartition]] for the statistics-consulting wrapper
    * that can answer empty partitions without this manifest walk.
    */
  def readPartition(spark: SparkSession, table: String, partitionCol: String,
      value: String): (DataFrame, Int, Int) = {
    val snap = snapshotEntries(table, asOfSnapshotId = None)
    val (schema, entries) = (snap.schema, snap.data)
    val kept = entries.filter { e =>
      e.pvals.get(partitionCol) match {
        case Some(x) => String.valueOf(x) == value
        case None => true
      }
    }
    val keptDeletes = snap.deletes.filter { d =>
      d.pvals.get(partitionCol) match {
        case Some(x) => String.valueOf(x) == value
        case None => true
      }
    }
    import org.apache.spark.sql.functions.{col, lit}
    val df = readMerged(spark, schema, kept, keptDeletes,
        curFields = snap.curFields, fileFields = snap.fileFields)
      .filter(col(partitionCol) === lit(value).cast(schema(partitionCol).dataType))
    (df, kept.size, entries.size)
  }

  /** (file, manifest partition values) → DataFrame: one group per
    * (partition-column-set, values), so mixed-spec snapshots (retained
    * history across a re-layout) read correctly side by side.
    */
  /** Incremental append scan — the Iceberg twin of
    * [[DeltaSink.readChangesSince]]: the rows of data files added AFTER
    * `sinceSnapshotId`, i.e. what an incremental consumer processes after
    * its last checkpoint. Every snapshot keeps its own manifest list and
    * appends carry prior manifests forward, so the delta is the CURRENT
    * snapshot's file set minus the pinned one's (path-keyed set diff over
    * manifest entries — metadata-scale; no data file is opened to plan).
    * Cost then scales with the appended files, never the table. The
    * pinned snapshot must still be retained ([[expireSnapshots]] breaks
    * time travel to expired ids by construction — same consume-within-
    * retention contract as the Delta feed and CDF generally).
    */
  def readAppendedSince(spark: SparkSession, table: String,
      sinceSnapshotId: Long): DataFrame = {
    val current = snapshotEntries(table, None)
    val pinned = snapshotEntries(table, Some(sinceSnapshotId))
    val seen = pinned.data.map(_.path).toSet
    // current deletes still apply to the appended files (a consumer must
    // never see a row the table has already deleted); deletes older than
    // an appended file's sequence are no-ops by the >= scope in readMerged
    readMerged(spark, current.schema,
      current.data.filterNot(e => seen.contains(e.path)), current.deletes,
      curFields = current.curFields, fileFields = current.fileFields)
  }

  /** BOUNDED incremental scan by SEQUENCE NUMBER — the contract the
    * streaming tail ([[graft.streaming.IcebergTailSource]]) needs: the
    * rows of data files whose data sequence lies in (sinceSeq, untilSeq],
    * resolved against the latest snapshot at-or-under untilSeq so a
    * commit racing the offset read can never leak into the batch. Uses
    * per-entry sequences (so a rewriteManifests merge between offsets
    * never re-emits old files) and applies the boundary snapshot's
    * deletes. Sequence numbers are the natural streaming offset: strictly
    * monotonic per commit, branch-shared, never reused.
    *
    * DATA-CHANGING NON-APPEND snapshots in the range are the tail's
    * poison (upstream Iceberg's skip-overwrite-snapshots contract):
    *  - `replace` (compact / rewriteManifests) rewrites EXISTING rows
    *    into new files carrying the new sequence — entries at a replace
    *    sequence are excluded, or every compaction between offsets would
    *    re-deliver the whole rewritten table. (rewriteManifests is
    *    doubly safe: its EXISTING entries keep their original sequences
    *    explicitly.) EXCEPTION: a UniForm sync ([[syncFromDelta]], also
    *    a `replace`, marked `graft.synced-from` in its summary) assigns
    *    the new sequence ONLY to files the Delta plane appended since
    *    the last sync — logical appends riding a replace commit — so
    *    those entries deliver; its carried-over files keep their
    *    original sequences and stay invisible, exactly like a
    *    manifest rewrite.
    *  - `overwrite`/`delete` (upsert, MoR update/delete) change which
    *    rows exist; an append-only tail cannot represent that, so by
    *    default the batch FAILS LOUDLY rather than silently re-deliver
    *    rewritten rows. `skipOverwrites = true` opts into upstream's
    *    skip semantics: those sequences' entries are excluded and the
    *    feed stays append-only (downstream sees inserts only).
    * Entries whose snapshot already expired resolve as `append` — a file
    * still live at the boundary is deliverable data regardless of the
    * operation that once minted it.
    */
  def readAppendedBetween(spark: SparkSession, table: String,
      sinceSeq: Long, untilSeq: Long,
      skipOverwrites: Boolean = false): DataFrame = {
    val meta = head(table).meta
    // untilSeq <= sinceSeq: nothing to deliver. Short-circuit BEFORE
    // boundary-snapshot resolution — on restart Spark re-plans the last
    // checkpointed batch with EQUAL offsets, and if maintenance expired
    // that boundary snapshot in the meantime the lookup below would
    // crash a stream whose batch is empty anyway.
    if (untilSeq <= 0 || untilSeq <= sinceSeq) {
      val schema = sparkSchemaOf(meta)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
    // the boundary is the EXACT snapshot at untilSeq — offsets only ever
    // come from [[mainHeadSequence]] or [[branchHeadSequence]], so that
    // snapshot is the head that MINTED the sequence and its manifest list
    // contains exactly its own lineage's state (main feed → main state;
    // branch feed → that branch's state). A max-seq-≤-until fallback
    // would instead let one lineage's head serve the other's feed
    // (sequences are branch-shared) and leak unaudited WAP staging rows,
    // or a rolled-back snapshot's bad rows, into the feed.
    val boundary = meta.get("snapshots").elements().asScala.toSeq
      .find(_.get("sequence-number").asLong() == untilSeq)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot at sequence $untilSeq in $table (expired?) — " +
          "the tail must consume within the retention window"))
    val snap = snapshotEntries(table, Some(boundary.get("snapshot-id").asLong()))
    val opBySeq: Map[Long, String] = meta.get("snapshots").elements().asScala
      .map { s =>
        val op = Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
          .map(_.asText()).getOrElse("append")
        val isSync = Option(s.get("summary"))
          .exists(x => x.has("graft.synced-from"))
        // a UniForm sync's new-sequence entries are the Delta plane's
        // appends — logical inserts, deliverable; every other replace's
        // new-sequence entries are rewrites of already-delivered rows
        s.get("sequence-number").asLong() ->
          (if (op == "replace" && isSync) "append" else op)
      }.toMap
    val inRange = snap.data.filter(e => e.seq > sinceSeq && e.seq <= untilSeq)
    def opOf(seq: Long) = opBySeq.getOrElse(seq, "append")
    val nonRewrites = inRange.filterNot(e => opOf(e.seq) == "replace")
    // the fail-loudly guard keys off the SNAPSHOT ops in range, not the
    // in-range data entries: a pure MoR delete (deleteWhere/deleteKeys/
    // deleteWhereDV) adds ONLY delete manifests — no data entry carries
    // its sequence — yet its boundary deletes would silently suppress
    // not-yet-delivered rows, which is exactly the row-set change the
    // contract must surface (ADVICE r15)
    val dataChanging = opBySeq.toSeq.filter { case (seq, op) =>
      seq > sinceSeq && seq <= untilSeq && (op == "delete" || op == "overwrite")
    }
    if (dataChanging.nonEmpty && !skipOverwrites)
      throw new IllegalStateException(
        s"snapshot(s) at sequence(s) ${dataChanging.map(_._1).distinct.sorted.mkString(",")} " +
          s"of $table are ${dataChanging.map(_._2).distinct.sorted.mkString("/")} " +
          "operations - an append-only tail would re-deliver rewritten rows " +
          "or silently drop deleted ones. " +
          "Set skipOverwrites (.option(\"skip-overwrite-snapshots\", true) on " +
          "the stream source) to skip them, or tail an append-only table.")
    val kept = if (skipOverwrites) nonRewrites.filter(e => opOf(e.seq) == "append")
      else nonRewrites
    readMerged(spark, snap.schema, kept, snap.deletes,
      curFields = snap.curFields, fileFields = snap.fileFields)
  }

  /** TIMESTAMP → SNAPSHOT resolution (Iceberg's `as-of-timestamp`): the
    * last MAIN-ancestry snapshot committed at or before `tsMs`, by the
    * `timestamp-ms` every snapshot records. Branch snapshots never
    * resolve — "the table at 09:00" means what main-line readers saw,
    * not unpublished staging. Before the first snapshot → error.
    */
  def snapshotAtTimestamp(table: String, tsMs: Long): Long = {
    val meta = head(table).meta
    val all = meta.get("snapshots").elements().asScala.toSeq
    // main-line = snapshots without a parent pointer (main commits never
    // record one; branch commits do) PLUS the current main head's
    // ancestry (what fastForward published). Unpublished staging is
    // never "the table at 09:00".
    val byId = all.map(s => s.get("snapshot-id").asLong() -> s).toMap
    val mainChain = {
      val out = scala.collection.mutable.Set.empty[Long]
      var cur = Option(meta.get("current-snapshot-id").asLong())
      while (cur.isDefined && out.add(cur.get))
        cur = byId.get(cur.get)
          .flatMap(n => Option(n.get("parent-snapshot-id")).map(_.asLong()))
      out.toSet
    }
    val candidates = all
      .filter(s => !s.has("parent-snapshot-id") ||
        mainChain.contains(s.get("snapshot-id").asLong()))
      .filter(_.get("timestamp-ms").asLong() <= tsMs)
      .sortBy(s => (s.get("timestamp-ms").asLong(), s.get("sequence-number").asLong()))
    require(candidates.nonEmpty,
      s"no snapshot at or before timestamp $tsMs in $table")
    candidates.last.get("snapshot-id").asLong()
  }

  /** Time travel by TIMESTAMP — resolves via [[snapshotAtTimestamp]]. */
  def readAsOfTimestamp(spark: SparkSession, table: String, tsMs: Long)
      : DataFrame =
    read(spark, table, Some(snapshotAtTimestamp(table, tsMs)))

  /** A named ref head's sequence number — the BRANCH-targeted tail's
    * offset ([[mainHeadSequence]]'s twin for a WAP audit pipeline that
    * consumes the staging branch BEFORE publish). -1 when the table has
    * no snapshots yet; error when the ref does not exist (a typo'd
    * branch must not silently read as an empty feed).
    */
  def branchHeadSequence(table: String, branch: String): Long =
    headOption(table).map { case Head(_, meta) =>
      require(meta.has("refs") && meta.get("refs").has(branch),
        s"no such ref on $table: $branch")
      val id = meta.get("refs").get(branch).get("snapshot-id").asLong()
      meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == id)
        .map(_.get("sequence-number").asLong()).getOrElse(-1L)
    }.getOrElse(-1L)

  /** The MAIN head's sequence number — the streaming tail's offset. NOT
    * `last-sequence-number`: branch commits bump that too, and an offset
    * taken from a branch head would deliver unpublished staging rows.
    */
  def mainHeadSequence(table: String): Long =
    headOption(table).map { case Head(_, meta) =>
      val cur = meta.get("current-snapshot-id").asLong()
      meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == cur)
        .map(_.get("sequence-number").asLong()).getOrElse(-1L)
    }.getOrElse(-1L)

  /** Declared Spark schema of the table, straight off the metadata JSON —
    * no manifest is opened (what a stats-pruned empty read needs to type
    * its frame).
    */
  def tableSchema(table: String): StructType =
    sparkSchemaOf(head(table).meta)

  private def readEntries(spark: SparkSession, schema: StructType,
      entries: Seq[IcebergAvro.Entry],
      withLineage: Boolean = false,
      curFields: Seq[IField] = Nil,
      fileFields: Map[String, Seq[IField]] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val lineageFields =
      if (!withLineage) Array.empty[org.apache.spark.sql.types.StructField]
      else Array(
        org.apache.spark.sql.types.StructField("_gf_uri",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_gf_pos",
          org.apache.spark.sql.types.LongType))
    if (entries.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(schema.fields ++ lineageFields))
    val outCols = schema.fieldNames.map(col) ++
      (if (withLineage) Seq(col("_gf_uri"), col("_gf_pos")) else Nil)
    val lineageCols = Seq(col("_metadata.file_path").as("_gf_uri"),
      col("_metadata.row_index").as("_gf_pos"))
    // files group by (partition values, WRITING schema) — both determine
    // the group's read plan: files written before a rename/drop/widen
    // resolve their columns BY FIELD ID against the current schema.
    // curFields may cover a PREFIX of the schema: trailing fields beyond
    // it (the lineage columns a materializing rewrite wrote physically)
    // have no table field id and read BY NAME, null for files lacking
    // them — this is what lets a lineage read compose with rename/drop
    // id-projection (r17; previously lineage reads were name-only)
    val idProjected = curFields.nonEmpty &&
      curFields.length <= schema.fields.length
    val (idFields, nameFields) = schema.fields.splitAt(curFields.length)
    val groups = entries
      .groupBy(e => (e.pvals, if (idProjected) fileFields.get(e.path) else None))
      .view.mapValues(_.map(_.path)).toSeq
    val parts = groups.map { case ((pvals, wfOpt), files) =>
      val specCols = schema.fieldNames.filter(pvals.contains).toSeq
      val base = wfOpt match {
        case Some(wf) =>
          // FIELD-ID projection (Iceberg §schema-evolution read rule):
          // each current column reads from the file column carrying ITS
          // id — under the WRITTEN name (rename) and the written type
          // when the current one is a widening (int→long, float→double;
          // cast after read) — and NULL-fills ids the file predates;
          // file columns whose id was dropped are simply never selected.
          val wById = wf.map(f => f.id -> f).toMap
          val plan = idFields.zip(curFields).map { case (sf, cf) =>
            (sf, cf, if (specCols.contains(sf.name)) None else wById.get(cf.id))
          }
          val fileSchema = StructType(plan.collect { case (sf, _, Some(w)) =>
            val readDt = (w.dt, sf.dataType) match {
              case (IntegerType, LongType) => IntegerType
              case (FloatType, DoubleType) => FloatType
              case _ => sf.dataType
            }
            org.apache.spark.sql.types.StructField(w.name, readDt, nullable = true)
          } ++ nameFields.map(_.copy(nullable = true)))
          val base0 = spark.read.schema(fileSchema).parquet(files: _*)
          val dataCols = plan.flatMap {
            case (sf, _, Some(w)) =>
              val c0 = col(w.name)
              val c1 = if (fileSchema(w.name).dataType == sf.dataType) c0
                       else c0.cast(sf.dataType)
              Some(c1.as(sf.name))
            case (sf, _, None) if specCols.contains(sf.name) => None // pvals below
            case (sf, cf, None) =>
              // ids the file predates: the v3 INITIAL-DEFAULT when the
              // field declares one (spec §Default values), else null
              Some(cf.initialDefault.map(lit).getOrElse(lit(null))
                .cast(sf.dataType).as(sf.name))
          } ++ nameFields.map(f => col(f.name))
          base0.select(dataCols ++ (if (withLineage) lineageCols else Nil): _*)
        case None =>
          // name-based read (manifests predating schema key metadata)
          val fileSchema =
            StructType(schema.fields.filterNot(f => specCols.contains(f.name)))
          val base0 = spark.read.schema(fileSchema).parquet(files: _*)
          // file/row provenance for merge-on-read and deleteWhere: the
          // parquet reader's _metadata struct carries both at zero extra I/O
          if (withLineage) base0.select(col("*") +: lineageCols: _*) else base0
      }
      specCols.foldLeft(base) { (acc, c) =>
        val dt = schema(c).dataType
        val litCol = (pvals(c), dt) match {
          case (null, _) => lit(null).cast(dt)
          case (days: Int, org.apache.spark.sql.types.DateType) =>
            lit(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong)))
          case (other, _) => lit(other).cast(dt)
        }
        acc.withColumn(c, litCol)
      }.select(outCols: _*)
    }
    parts.reduce(_.unionAll(_))
  }

  /** Merge-on-read: rows of the snapshot's data files minus what its
    * delete files erase, scoped by sequence number per the V2 read
    * contract — POSITIONAL deletes (content 1, (path, pos) pairs) apply
    * to data files of sequence ≤ their own; EQUALITY deletes (content 2,
    * key-tuple rows + equality_ids) apply STRICTLY below theirs, which is
    * what lets one [[upsert]] snapshot delete a key's old row and land
    * its replacement at the same sequence. Zero overhead when the
    * snapshot has no delete files: the plain scan is returned untouched,
    * no lineage columns are read and no join is planned. With deletes,
    * each data row carries its file provenance from the parquet reader's
    * `_metadata` struct (no extra I/O), its data sequence arrives via a
    * broadcast of the metadata-scale file→sequence map, and each delete
    * set — proportional to deleted rows, not table size — anti-joins it
    * away (AQE broadcasts the small delete side). `keepLineage`
    * additionally returns `_gf_mpath` (the file's manifest path) and
    * `_gf_pos` — [[deleteWhere]]'s provenance for writing new delete
    * files against the CURRENT merged view.
    */
  /** One equality-delete file's key rows projected into the CURRENT
    * schema's names and types: columns resolve by field id through the
    * schema the file's manifest was written under (written name + written
    * type, cast up when the current type is a widening), so deletes keep
    * applying across renames and widens.
    */
  private def readEqDeleteFile(spark: SparkSession, schema: StructType,
      d: IcebergAvro.Entry, wf: Option[Seq[IField]],
      curNameOf: Int => String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = d.equalityIds.map { id =>
      val curName = curNameOf(id)
      val curDt = schema(curName).dataType
      wf.flatMap(_.find(_.id == id)) match {
        case Some(w) =>
          val readDt = (w.dt, curDt) match {
            case (IntegerType, LongType) => IntegerType
            case (FloatType, DoubleType) => FloatType
            case _ => curDt
          }
          (w.name, readDt, curName, curDt)
        case None => (curName, curDt, curName, curDt)
      }
    }
    val fileSchema = StructType(cols.map { case (wn, rd, _, _) =>
      org.apache.spark.sql.types.StructField(wn, rd, nullable = true) })
    spark.read.schema(fileSchema).parquet(d.path)
      .select(cols.map { case (wn, rd, cn, cd) =>
        (if (rd == cd) col(wn) else col(wn).cast(cd)).as(cn)
      }: _*)
  }

  private def readMerged(spark: SparkSession, schema: StructType,
      dataEntries: Seq[IcebergAvro.Entry],
      deletes: Seq[IcebergAvro.Entry],
      keepLineage: Boolean = false,
      curFields: Seq[IField] = Nil,
      fileFields: Map[String, Seq[IField]] = Map.empty,
      store: CommitStore = CommitStore.Local): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    if (deletes.isEmpty && !keepLineage)
      return readEntries(spark, schema, dataEntries,
        curFields = curFields, fileFields = fileFields)
    val data = readEntries(spark, schema, dataEntries,
      withLineage = true, curFields = curFields, fileFields = fileFields)
    // each row's manifest path and data sequence, by its file's keys
    val keyed = DvPlane.attach(data,
        dataEntries.map(e => (e.path, Row(Long.box(e.seq), e.path))),
        StructType(Seq(StructField("_gf_seq", LongType),
          StructField("_gf_mpath", StringType))),
        "merge-on-read: data row from unmapped file ")
      // canonical key for delete application: the manifest's RAW path
      // (what deleteWhere writes into positional delete files), so the
      // (file, pos) anti-join never compares an encoded URI to a raw path
      .withColumn("_gf_dkey", DvPlane.stripScheme(col("_gf_mpath")))
    val dvs = liveDvs(deletes)
    val afterDv =
      if (dvs.isEmpty) keyed
      else DvPlane.applyVectors(store, keyed, col("_gf_dkey"),
        dvs.toSeq.map { case (ref, d) => val blob = dvBlob(d); (ref, blob._3, blob) },
        (blob: (String, Long, Long), read: String => Array[Byte]) =>
          graft.functions.DeletionVector.serialize(dvBitmap(blob, read)))
    val positional = deletes.filter(d => d.content == 1 && d.dv.isEmpty)
    val afterPos =
      if (positional.isEmpty) afterDv
      else {
        val delDf = positional.map { d =>
          spark.read
            .schema("file_path STRING, pos BIGINT")
            .parquet(d.path)
            .select(
              DvPlane.stripScheme(col("file_path")).as("_gfd_key"),
              col("pos").as("_gfd_pos"),
              lit(d.seq).as("_gfd_seq"))
        }.reduce(_.unionAll(_))
        afterDv.join(delDf,
          col("_gf_dkey") === col("_gfd_key") &&
            col("_gf_pos") === col("_gfd_pos") &&
            col("_gfd_seq") >= col("_gf_seq"),
          "left_anti")
      }
    // equality deletes, one anti-join per distinct key-column set (null
    // keys match null — Iceberg equality semantics → null-safe equality).
    // Key columns resolve BY FIELD ID on both sides: the data side via the
    // current schema, each delete FILE via the schema its manifest was
    // written under (a rename between the delete and the read must not
    // break — or worse, null out — the key comparison).
    def curNameOf(id: Int): String =
      curFields.find(_.id == id).map(_.name).getOrElse {
        // ordinal fallback ONLY when no id mapping exists at all (legacy
        // caller); a MISSING id in a real mapping means the column was
        // dropped after this delete was written — resolving it ordinally
        // would anti-join on the WRONG column, so refuse loudly
        if (curFields.isEmpty) schema.fields(id - 1).name
        else throw new IllegalStateException(
          s"equality delete references dropped field id $id — compact " +
            "before dropping its key column, or read a newer snapshot")
      }
    val merged = deletes.filter(_.content == 2).groupBy(_.equalityIds).toSeq
      .foldLeft(afterPos) { case (acc, (eqIds, ds)) =>
        require(eqIds.nonEmpty, "equality delete file without equality_ids")
        val keyNames = eqIds.map(curNameOf)
        val delDf = ds.map(d =>
            readEqDeleteFile(spark, schema, d, fileFields.get(d.path), curNameOf)
            .select(keyNames.map(k => col(k).as(s"_gfe_$k")) :+
              lit(d.seq).as("_gfe_seq"): _*))
          .reduce(_.unionAll(_))
        val cond = keyNames.map(k => acc(k) <=> delDf(s"_gfe_$k"))
          .reduce(_ && _) && delDf("_gfe_seq") > acc.col("_gf_seq")
        acc.join(delDf, cond, "left_anti")
      }
    val outCols = schema.fieldNames.map(col) ++
      (if (keepLineage) Seq(col("_gf_mpath"), col("_gf_pos")) else Nil)
    merged.select(outCols: _*)
  }

  /** Manifest-stats file pruning for a numeric range predicate — the
    * Iceberg twin of DeltaSink.readRange: a file is scanned only when its
    * manifest [lower, upper] bounds for `column` intersect [lo, hi].
    * Bounds missing or of an undecodable type keep the file (pruning is
    * an optimization, never a correctness filter); the exact predicate is
    * re-applied after the scan. Returns the pruned frame; see
    * [[planRangeFiles]] for the file-count evidence the tests pin.
    */
  def readRange(spark: SparkSession, table: String, column: String,
      lo: Double, hi: Double): DataFrame = {
    val (snap, kept, _) = planRange(table, column, lo, hi)
    import org.apache.spark.sql.functions.col
    readMerged(spark, snap.schema, kept, snap.deletes,
        curFields = snap.curFields, fileFields = snap.fileFields)
      .filter(col(column) >= lo && col(column) <= hi)
  }

  /** The pruning plan behind [[readRange]]: (schema, kept entries, total
    * file count).
    */
  def planRangeFiles(spark: SparkSession, table: String, column: String,
      lo: Double, hi: Double): (StructType, Seq[(String, Map[String, Any])], Int) = {
    val (snap, kept, total) = planRange(table, column, lo, hi)
    (snap.schema, kept.map(e => (e.path, e.pvals)), total)
  }

  /** ONE snapshot resolution serves both the pruning plan and the merged
    * read: resolving twice (as a plan + read pair would naively do) both
    * doubles the metadata I/O and opens a race where the kept set and the
    * file→sequence map come from different snapshots — a file missing
    * from the second read would default its sequence and mis-scope every
    * equality delete against it.
    */
  private def planRange(table: String, column: String, lo: Double, hi: Double)
      : (Snapshot, Seq[IcebergAvro.Entry], Int) = {
    val snap = snapshotEntries(table, None)
    val schema = snap.schema
    val fieldId = snap.curFields.find(_.name == column).map(_.id)
      .getOrElse(throw new IllegalArgumentException(s"no such column: $column"))
    val dt = schema(column).dataType
    def dec(b: Array[Byte]): Option[Double] = {
      val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      dt match {
        case org.apache.spark.sql.types.IntegerType if b.length == 4 => Some(bb.getInt.toDouble)
        case org.apache.spark.sql.types.LongType if b.length == 8 => Some(bb.getLong.toDouble)
        // files written BEFORE an int→long widen carry 4-byte int bounds
        case org.apache.spark.sql.types.LongType if b.length == 4 => Some(bb.getInt.toDouble)
        case org.apache.spark.sql.types.FloatType if b.length == 4 => Some(bb.getFloat.toDouble)
        case org.apache.spark.sql.types.DoubleType if b.length == 8 => Some(bb.getDouble)
        // files written BEFORE a float→double widen carry 4-byte float bounds
        case org.apache.spark.sql.types.DoubleType if b.length == 4 => Some(bb.getFloat.toDouble)
        case _ => None
      }
    }
    val kept = snap.data.filter { e =>
      (for {
        l <- e.stats.lowerBounds.get(fieldId).flatMap(dec)
        u <- e.stats.upperBounds.get(fieldId).flatMap(dec)
      } yield u >= lo && l <= hi).getOrElse(true) // no decodable bounds → must scan
    }
    (snap, kept, snap.data.size)
  }

  /** Bin-packing compaction, the Delta-compact twin: rewrites the CURRENT
    * visible rows as one Overwrite snapshot sized to ~128 MB outputs
    * (history retained — [[expireSnapshots]] reclaims the small files
    * later). Adopts the table's partition spec. Returns (files before,
    * files after).
    */
  def compact(spark: SparkSession, table: String,
      store: CommitStore = CommitStore.Local,
      zorderBy: Seq[String] = Nil,
      targetFiles: Option[Int] = None): (Int, Int) = {
    // one snapshot resolution serves the plan and the rewrite's read;
    // sizes come from the manifests' file_size_in_bytes (no data file is
    // stat-ed)
    val snap = snapshotEntries(table, None)
    val meta = snap.head.meta
    val before = snap.data.size
    val totalBytes = snap.data.map(_.sizeBytes).sum
    val target = targetFiles.getOrElse(
      math.max(1, math.ceil(totalBytes / 134217728.0).toInt))
    // re-assert the TABLE's schema (read() surfaces everything nullable;
    // the rows come from the table itself, so its required-ness holds by
    // construction) — otherwise the schema gate would reject the rewrite
    // and an all-nullable schema would drift into the metadata
    val schema = snap.schema
    // a lineage-enabled table's compaction must PRESERVE row lineage
    // (spec v3 §Row Lineage: rewritten files carry it explicitly): the
    // rewrite reads the merged view WITH `_row_id` and
    // `_last_updated_sequence_number` and MATERIALIZES both into the
    // compacted parquet as extra physical columns — manifest first_row_id
    // stays null for these files, the rewrite's own (new) data sequence
    // never claims the repacked rows, and lineage reads pick both columns
    // up by name
    val lineage = meta.has("next-row-id")
    val readSchema =
      if (!lineage) schema
      else StructType(schema.fields ++ Seq(
        StructField("_row_id", LongType, nullable = true),
        StructField("_last_updated_sequence_number", LongType,
          nullable = true)))
    val source =
      if (lineage) lineageView(spark, snap, CommitStore.Local)
      else readMerged(spark, snap.schema, snap.data, snap.deletes,
        curFields = snap.curFields, fileFields = snap.fileFields)
    val df = spark.createDataFrame(source.rdd, readSchema)
    val packed =
      if (zorderBy.isEmpty) df.coalesce(target)
      else ZOrder.cluster(df, zorderBy, target) // OPTIMIZE ZORDER, shared with DeltaSink
    // a compaction changes no logical row: its snapshot is a `replace`
    // (spec §snapshots), which sequence-scoped consumers (the streaming
    // tail) skip rather than re-deliver or fail on
    writeWithRetry(packed, table, Overwrite, store = store,
      operationOverride = Some("replace"),
      extraPhysicalCols =
        if (lineage) Set("_row_id", "_last_updated_sequence_number")
        else Set.empty)
    (before, snapshotEntries(table, None).data.size)
  }

  /** REWRITE MANIFESTS — METADATA-ONLY maintenance (Iceberg's
    * rewrite_manifests): merges the current snapshot's data manifests into
    * ONE per (spec, schema) group, committing a `replace` snapshot whose
    * list references the merged manifest(s) plus the delete manifests
    * verbatim. NO data file is touched. Why it matters at 100 TB: every
    * query plans by opening every manifest of the snapshot, so a table
    * built by 10k streaming appends pays 10k manifest opens per query
    * until this runs — after it, one. Entries keep their ORIGINAL data
    * sequence explicitly (status EXISTING; see
    * [[IcebergAvro.mergeManifests]]), so merge-on-read delete application
    * and sequence-pruned incremental reads are unchanged. Like-written
    * manifests only merge within their (partition-spec, schema) group —
    * a partition-evolved or schema-evolved history keeps one merged
    * manifest per layout generation. Returns (manifestsBefore,
    * manifestsAfter) over data manifests.
    */
  def rewriteManifests(table: String,
      store: CommitStore = CommitStore.Local): (Int, Int) =
    txn(store, Txn.Retries)(t => t.attempt { _ =>
      val h = head(table)
      val list = manifestListOf(h.meta).getOrElse(return (0, 0))
      val rows = IcebergAvro.readManifestList(
        new File(requireAvro(abs(table, list))))
      val (dataRows, deleteRows) =
        rows.partition(_.get("content").asInstanceOf[Int] == 0)
      if (dataRows.size <= 1) return (dataRows.size, dataRows.size)
      val groups = dataRows.groupBy { r =>
        val m = IcebergAvro.readKeyMeta(
          new File(requireAvro(abs(table, r.get("manifest_path").toString))))
        (m.getOrElse("partition-spec-id", "0"), m.getOrElse("partition-spec", ""),
          m.getOrElse("schema", ""))
      }
      if (groups.size == dataRows.size) return (dataRows.size, dataRows.size)
      val merged = groups.toSeq
        .sortBy(_._2.map(_.get("sequence_number").asInstanceOf[Long]).min)
        .map { case ((specId, _, _), grp) =>
          MergeManifests(specId.toInt, grp.map(r => (
            new File(requireAvro(abs(table, r.get("manifest_path").toString))),
            r.get("sequence_number").asInstanceOf[Long])))
        }
      commitSnapshot(t, table, h, Commit("replace", merged,
        carried = Some(deleteRows),
        summary = Map("manifests-replaced" -> dataRows.size.toString,
          "manifests-created" -> merged.size.toString)))
      (dataRows.size, merged.size)
    })

  /** CONVERT a Delta table to Iceberg IN PLACE — METADATA-ONLY (the
    * UniForm pattern: one copy of the parquet, two format front-ends).
    * Builds a fresh Iceberg metadata tree — v0 metadata JSON, one V2
    * manifest whose entries reference the Delta table's live parquet by
    * ABSOLUTE path with real footer stats (row counts, value/null counts,
    * bounds — so stats-pruned Iceberg reads work day one), identity
    * partition spec mirroring the Delta layout with values typed from the
    * log's partitionValues — alongside `_delta_log`, never moving a byte
    * of data at any table size. Both front-ends stay live: Delta commits
    * keep working (the Iceberg view is AS-OF the conversion; re-run to
    * refresh), Iceberg reads plan off the manifest. Refused for
    * deletion-vector tables (run [[DeltaSink.reorgPurge]] first — a DV
    * mask has no Iceberg expression without delete files) and
    * column-mapped tables (physical names would not resolve by the
    * minted field ids). Returns the converted live-file count.
    */
  /** Delta partition-value strings → the typed values Iceberg manifests
    * carry (shared by convert and sync).
    */
  private def typedDeltaPv(schema: StructType, pv: Map[String, String],
      colName: String): Any =
    pv.get(colName).flatMap(Option(_)).filter(_ != HiveNullPartition) match {
      case None => null
      case Some(s) => schema(colName).dataType match {
        case org.apache.spark.sql.types.IntegerType => Int.box(s.toInt)
        case org.apache.spark.sql.types.LongType => Long.box(s.toLong)
        case org.apache.spark.sql.types.BooleanType => Boolean.box(s.toBoolean)
        case org.apache.spark.sql.types.DateType =>
          Int.box(java.time.LocalDate.parse(s).toEpochDay.toInt)
        case _ => s
      }
    }

  /** REFRESHES the Iceberg view of a [[convertFromDelta]] dual-format
    * table — the continuous half of the UniForm pattern: after Delta
    * commits (appends, compactions, CoW rewrites), one sync commits a
    * `replace` Iceberg snapshot whose single manifest references the
    * Delta log's CURRENT live files (footer stats re-read, so pruning
    * stays exact). Metadata-only; a no-op (returns 0) when the two planes
    * already agree. Prior Iceberg snapshots remain time-travelable and
    * expire normally — with the Delta-live guard keeping shared files on
    * disk. Refuses the same shapes as convert (DVs, column mapping) plus
    * any schema/layout divergence (evolve the Iceberg view explicitly
    * instead of silently re-declaring).
    */
  def syncFromDelta(spark: SparkSession, table: String,
      store: CommitStore = CommitStore.Local): Int = {
    val Head(hint, meta) = headOption(table).getOrElse(throw new IllegalArgumentException(
      s"$table carries no Iceberg metadata — run convertFromDelta first"))
    require(Files.exists(Paths.get(table, "_delta_log")),
      s"not a Delta table: $table")
    val (schema, partCols, files, mapped) = DeltaSink.liveInventory(spark, table)
    require(!mapped, "column-mapped Delta tables do not sync")
    require(files.forall(!_._3),
      "deletion-vector tables do not sync: purge the DVs first")
    val stored = sparkSchemaOf(meta)
    require(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      stored.fields.map(f => (f.name, f.dataType)).toSeq,
      "Delta schema diverged from the Iceberg view — re-declare explicitly")
    val spec = defaultSpec(meta, schema)
    require(spec.fields.map(_.field.name) == partCols &&
      spec.fields.forall(_.transform == "identity"),
      "Delta partition layout diverged from the Iceberg spec")
    // no-op when the planes already agree (path-set equality); files the
    // Iceberg view already lists keep their ORIGINAL data sequence in the
    // replace manifest (explicit per-entry seq, status EXISTING) so a
    // sequence-scoped consumer — the streaming tail above all — never
    // sees a sync as a whole-table re-delivery
    val curSnap = snapshotEntries(table, None)
    val curEntries = curSnap.data
    val curFiles = curEntries.map(_.path).toSet
    val prevSeqByPath: Map[String, Long] =
      curEntries.map(e => e.path -> e.seq).toMap
    val deltaFiles = files.map(f => new File(table, f._1).getAbsolutePath)
    if (deltaFiles.toSet == curFiles) return 0
    // Iceberg-plane MoR deletes don't change the data-file set, so the
    // path-set no-op guard above cannot see them — and the replace
    // commit below carries carriedOverride = Nil, which would silently
    // DROP the delete manifests: rows deleted via deleteWhere would
    // reappear to Iceberg readers after the sync. Refuse, consistent
    // with the schema/layout-divergence refusals: compact the Iceberg
    // plane (or route the delete through Delta) first.
    require(curSnap.deletes.isEmpty,
      "Iceberg-plane delete files present - a sync would discard them and " +
        "resurrect deleted rows; compact the Iceberg plane first or issue " +
        "the delete through the Delta plane")
    val idByName: Map[String, Int] =
      ifieldsOf(currentSchema(meta))
        .map(f => f.name -> f.id).toMap
    val conf = spark.sessionState.newHadoopConf()
    val infos = files.map { case (rel, pv, _) =>
      val f = new File(table, rel)
      val (rows, stats) = footerStats(f, conf, idByName)
      IcebergAvro.DataFileInfo(f.getAbsolutePath, f.length(), rows, stats,
        spec.fields.map(sf => typedDeltaPv(schema, pv, sf.field.name)))
    }
    txn(store)(t => commitSnapshot(t, table, Head(hint, meta), Commit("replace",
      Seq(AddManifest(0, infos, spec, entrySeqs = prevSeqByPath)),
      carried = Some(Nil),
      summary = Map("graft.synced-from" -> "delta",
        "synced-files" -> infos.size.toString)))): Unit
    infos.size
  }

  def convertFromDelta(spark: SparkSession, table: String,
      store: CommitStore = CommitStore.Local): Int = {
    require(headOption(table).isEmpty, s"$table already carries Iceberg metadata")
    require(Files.exists(Paths.get(table, "_delta_log")),
      s"not a Delta table: $table")
    val (schema, partCols, files, mapped) = DeltaSink.liveInventory(spark, table)
    require(!mapped, "column-mapped Delta tables do not convert: physical " +
      "names would not resolve by Iceberg field id")
    require(files.forall(!_._3), "deletion-vector tables do not convert: " +
      "purge the DVs first (DeltaSink.reorgPurge)")
    val fieldIds = schema.fieldNames.zip(schema.fields.indices.map(_ + 1)).toMap
    val partSpecs = partCols.map(parsePartSpec)
    val spec = Spec(0, partitionFieldsOf(schema, partSpecs).zip(partSpecs).map {
      case (pf, ps) => SpecField(pf, ps.transform, fieldIds(ps.source)) })
    // typed partition values from the Delta log's string map (the log is
    // the truth — identity-partitioned Delta files don't store the column)
    val conf = spark.sessionState.newHadoopConf()
    val infos = files.map { case (rel, pv, _) =>
      val f = new File(table, rel)
      val (rows, stats) = footerStats(f, conf, fieldIds)
      IcebergAvro.DataFileInfo(f.getAbsolutePath, f.length(), rows, stats,
        partSpecs.map(ps => typedDeltaPv(schema, pv, ps.source)))
    }
    txn(store)(t => commitSnapshot(t, table,
      freshHead(table, "graft.converted-from" -> "delta"),
      Commit("append", Seq(AddManifest(0, infos, spec)),
        schema = Some(TableSchema(0,
          schema.fields.toSeq.map(f => fieldNode(fieldIds(f.name), f)), schema)),
        spec = Some(spec)))): Unit
    infos.size
  }

  /** ROLLBACK — Iceberg's undo verb (the format twin of
    * [[DeltaSink.restore]]): commits a new metadata version whose
    * current-snapshot-id / main branch ref point at `snapshotId`, which
    * must still be retained. PURE metadata: no manifest or data file is
    * touched, so cost is O(1) regardless of table size. History is
    * preserved — every snapshot stays in the metadata, so reading (or
    * rolling) FORWARD to the undone snapshots still works; only
    * [[expireSnapshots]] removes them, and its retention now always keeps
    * the current snapshot even when a rollback made it an old one.
    * `last-sequence-number` is monotonic and survives the rollback, so
    * subsequent appends continue with fresh sequence numbers and carry
    * forward the rolled-back-to snapshot's manifests — the "undo the bad
    * run, then continue loading" operational flow.
    */
  def rollback(table: String, snapshotId: Long,
      store: CommitStore = CommitStore.Local): Unit = {
    val Head(hint, meta) = head(table)
    val known = meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong()).toSet
    require(known.contains(snapshotId),
      s"no snapshot $snapshotId in $table (already expired?)")
    if (meta.get("current-snapshot-id").asLong() == snapshotId) return
    val newMeta = meta.deepCopy[ObjectNode]()
    newMeta.put("current-snapshot-id", snapshotId)
    // Iceberg rollback semantics: redirect ONLY the main branch ref —
    // other branch/tag refs (if any) are untouched
    val refs =
      if (newMeta.has("refs") && newMeta.get("refs").isObject)
        newMeta.get("refs").asInstanceOf[ObjectNode]
      else newMeta.putObject("refs")
    refs.putObject("main")
      .put("snapshot-id", snapshotId).put("type", "branch")
    commitMetadata(table, store, hint, newMeta)
  }

  /** FAST-FORWARDS main to a branch head — the PUBLISH step of
    * write-audit-publish ([[appendBranch]] stages, the audit reads the
    * branch, this promotes): a metadata-only commit pointing
    * current-snapshot-id + refs.main at the branch's head, O(1) at any
    * table size. Refuses unless the move is a genuine fast-forward —
    * main's current head must appear on the branch head's
    * parent-snapshot-id chain, so a main that advanced after the branch
    * was cut can never be silently overwritten (rebase the branch by
    * re-running its appends, or pick [[rollback]] explicitly). The branch
    * ref itself is untouched and can keep advancing or be [[dropRef]]ed.
    */
  def fastForward(table: String, branch: String,
      store: CommitStore = CommitStore.Local): Long = {
    require(branch != "main", "main cannot fast-forward to itself")
    val Head(hint, meta) = head(table)
    require(meta.has("refs") && meta.get("refs").has(branch),
      s"no such ref: $branch")
    val branchHead = meta.get("refs").get(branch).get("snapshot-id").asLong()
    val mainHead = meta.get("current-snapshot-id").asLong()
    if (branchHead == mainHead) return branchHead // already published
    // ancestry walk: branch head → parent chain must reach main's head
    val byId = meta.get("snapshots").elements().asScala
      .map(n => n.get("snapshot-id").asLong() -> n).toMap
    var cursor = Option(branchHead)
    var found = false
    while (cursor.isDefined && !found) {
      if (cursor.get == mainHead) found = true
      else cursor = byId.get(cursor.get)
        .flatMap(n => Option(n.get("parent-snapshot-id")).map(_.asLong()))
    }
    require(found,
      s"not a fast-forward: main's head $mainHead is not an ancestor of " +
        s"$branch's head $branchHead — main advanced after the branch was cut")
    val newMeta = meta.deepCopy[ObjectNode]()
    newMeta.put("current-snapshot-id", branchHead)
    newMeta.get("refs").asInstanceOf[ObjectNode].putObject("main")
      .put("snapshot-id", branchHead).put("type", "branch")
    commitMetadata(table, store, hint, newMeta)
    branchHead
  }

  /** The commit every Iceberg verb ends with: claims version hint+1 with
    * `newMeta` by IF-NOT-EXISTS put (the reference's write_exclusive,
    * iceberg_destination.rs:349-367), then advances the version hint with
    * an atomic put, so a reader never sees a half-written hint. A hint put
    * that fails after the claim landed leaves the hint one version behind;
    * [[headOption]] probes past it, so the landed claim stays the head.
    */
  private def commitMetadataVersion(table: String, txn: Txn,
      hint: Long, newMeta: ObjectNode): Unit = {
    val newVersion = hint + 1
    txn.claim(metaFile(table, newVersion),
      newMeta.toString.getBytes(StandardCharsets.UTF_8))
    txn.store.putObject(hintFile(table), newVersion.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** A metadata-only commit of `newMeta` over version `hint`: publishes
    * each of `files` (a statistics file the new metadata registers) as an
    * artifact of the transaction, then claims the version.
    */
  private[sinks] def commitMetadata(table: String, store: CommitStore,
      hint: Long, newMeta: ObjectNode,
      files: Seq[(java.nio.file.Path, Array[Byte])] = Nil): Unit =
    txn(store) { t =>
      files.foreach { case (p, bytes) => t.record(p); store.putObject(p, bytes) }
      newMeta.put("last-updated-ms", System.currentTimeMillis())
      commitMetadataVersion(table, t, hint, newMeta)
    }

  /** Creates (or repoints) a NAMED REF — Iceberg's tags and branches
    * (spec §refs): a metadata-only commit adding `refs[name]` pointed at
    * `snapshotId`. A TAG pins its snapshot for as long as the ref exists
    * ([[expireSnapshots]] never expires a ref-pinned snapshot) — the
    * audit/reproducibility primitive ("the exact table this model
    * trained on") at O(1) cost regardless of table size. A BRANCH is the
    * same pointer with branch type, and is WRITABLE: [[appendBranch]]
    * advances it on commit while main stays untouched. Read through
    * [[readRef]].
    */
  def createRef(table: String, name: String, snapshotId: Long,
      refType: String = "tag",
      store: CommitStore = CommitStore.Local,
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None): Unit = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be tag or branch, got $refType")
    require(name != "main", "main is managed by commits and rollback")
    require(name.nonEmpty, "ref name must be non-empty")
    require(refType == "branch" ||
      (minSnapshotsToKeep.isEmpty && maxSnapshotAgeMs.isEmpty),
      "min-snapshots-to-keep / max-snapshot-age-ms are branch retention " +
        "fields (spec §refs); tags carry only max-ref-age-ms")
    val Head(hint, meta) = head(table)
    val known = meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong()).toSet
    require(known.contains(snapshotId),
      s"no snapshot $snapshotId in $table (already expired?)")
    val newMeta = meta.deepCopy[ObjectNode]()
    val refs =
      if (newMeta.has("refs") && newMeta.get("refs").isObject)
        newMeta.get("refs").asInstanceOf[ObjectNode]
      else newMeta.putObject("refs")
    val node = refs.putObject(name)
      .put("snapshot-id", snapshotId).put("type", refType)
    // spec §refs retention fields — [[expireSnapshots]] honors them:
    // a ref past max-ref-age-ms is dropped by expiry; a branch's ancestor
    // chain keeps min-snapshots-to-keep and snapshots within
    // max-snapshot-age-ms (absent fields keep today's protect-everything
    // behavior — the safe superset)
    maxRefAgeMs.foreach(v => node.put("max-ref-age-ms", v): Unit)
    minSnapshotsToKeep.foreach(v => node.put("min-snapshots-to-keep", v): Unit)
    maxSnapshotAgeMs.foreach(v => node.put("max-snapshot-age-ms", v): Unit)
    commitMetadata(table, store, hint, newMeta)
  }

  /** Drops a named ref (its snapshot becomes expirable again). */
  def dropRef(table: String, name: String,
      store: CommitStore = CommitStore.Local): Unit = {
    require(name != "main", "main cannot be dropped")
    val Head(hint, meta) = head(table)
    require(meta.has("refs") && meta.get("refs").has(name),
      s"no such ref: $name")
    val newMeta = meta.deepCopy[ObjectNode]()
    newMeta.get("refs").asInstanceOf[ObjectNode].remove(name): Unit
    commitMetadata(table, store, hint, newMeta)
  }

  /** Every named ref of the table: name → (snapshot-id, type). */
  def listRefs(table: String): Map[String, (Long, String)] = {
    val meta = head(table).meta
    if (!meta.has("refs") || !meta.get("refs").isObject) Map.empty
    else meta.get("refs").properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("snapshot-id").asLong(),
        Option(e.getValue.get("type")).map(_.asText()).getOrElse("branch"))
    }.toMap
  }

  /** Reads the table AT a named ref — the time-travel-by-name surface. */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame = {
    val id = listRefs(table).getOrElse(name,
      throw new IllegalArgumentException(s"no such ref: $name"))._1
    read(spark, table, Some(id))
  }

  /** Appends `df` to a NAMED BRANCH (spec §refs: branch refs advance on
    * commit, main untouched) — the writable half of [[createRef]]: the
    * new snapshot continues from the BRANCH head's manifest list (not
    * main's), records it as parent, and the commit repoints only
    * `refs[branch]`; main-line readers never see the rows, [[readRef]]
    * sees them immediately, and [[expireSnapshots]] keeps every ref head
    * alive. The staging/audit workflow at 100 TB: write-audit-publish
    * lands candidate data on a branch as O(new-data) cost, promotion is a
    * metadata pointer move, abandonment is a [[dropRef]]. The branch must
    * exist with branch type (tags are immutable pins — refuse); create it
    * first with `createRef(..., refType = "branch")`. Same positional
    * schema gate and IF-NOT-EXISTS version claim as a main append.
    * Returns the branch's new head snapshot id.
    */
  def appendBranch(df: DataFrame, table: String, branch: String,
      store: CommitStore = CommitStore.Local,
      summaryProps: Map[String, String] = Map.empty): Long = {
    val Head(hint, meta) = head(table)
    requireBranchHead(meta, branch): Unit
    val schema = sparkSchemaOf(meta)
    // align BY NAME before the positional gate, exactly like a main
    // append — a gate-passing frame arriving reordered must never have
    // its values positionally renamed into the wrong logical columns
    // (a branch would quietly publish the corruption via fastForward)
    val aligned = alignToStored(df, schema.fieldNames)
    SchemaGate.enforce(aligned.schema, schema)
    txn(store, Txn.Retries) { t =>
      val infos = stageWrite(t, table, "branch-" + branch,
        aligned.toDF(schema.fieldNames.toIndexedSeq: _*))
      if (infos.map(_.recordCount).sum == 0L)
        return meta.get("refs").get(branch).get("snapshot-id").asLong()
      // OCC retry parity with a main append (writeWithRetry): a benign
      // concurrent commit — a main append, a compaction, another branch —
      // must not kill the staging lane (a streaming WAP pipeline routes
      // every micro-batch through here). The staged data files are
      // reusable across attempts; each retry re-reads the metadata,
      // re-validates the branch, and re-claims the next version.
      t.attempt { n =>
        val h = if (n == 0) Head(hint, meta) else head(table)
        requireBranchHead(h.meta, branch): Unit
        commitSnapshot(t, table, h, Commit("append", Seq(AddManifest(0, infos)),
          summary = summaryProps, branch = Some(branch)))
      }
    }
  }

  /** Avro artifact `name` in the table's metadata dir, an artifact of
    * `txn`: written where the store stages it (in place on a local store),
    * then published.
    */
  private def writeAvroArtifact(table: String, txn: Txn,
      name: String)(write: File => Long): (java.nio.file.Path, Long) = {
    val target = metaDir(table).resolve(name)
    txn.record(target)
    val staged = txn.store.stagingFor(target.toFile)
    try {
      val len = write(staged)
      txn.store.publish(staged.toPath, target)
      (target, len)
    } finally if (staged != target.toFile) staged.delete(): Unit
  }

  /** A partition spec: ONE value serves the metadata's `partition-specs`
    * node ([[putSpec]]) and a manifest's `partition-spec` key metadata
    * and partition struct.
    */
  private[sinks] case class Spec(id: Int, fields: Seq[SpecField]) {
    def partitionFields: Seq[IcebergAvro.PartitionField] = fields.map(_.field)
    def node: ObjectNode = {
      val n = mapper.createObjectNode().put("spec-id", id)
      val arr = n.putArray("fields")
      fields.foreach(f => arr.addObject().put("name", f.field.name)
        .put("transform", f.transform).put("source-id", f.sourceId)
        .put("field-id", f.field.fieldId): Unit)
      n
    }
    def json: String = node.toString
  }
  private[sinks] case class SpecField(field: IcebergAvro.PartitionField,
      transform: String, sourceId: Int)
  private val Unpartitioned = Spec(0, Nil)

  /** The table's default spec as stored: its id, field ids and sources. */
  private def defaultSpec(meta: com.fasterxml.jackson.databind.JsonNode,
      schema: StructType): Spec = {
    val id = meta.get("default-spec-id").asInt()
    val stored = storedSpecsOf(meta).find(_._1 == id).map(_._2).getOrElse(Nil)
    val fields = partitionFieldsOf(schema,
      stored.map(f => parsePartSpec(rawOfSpecField(f.name, f.transform))))
    Spec(id, fields.zip(stored).map { case (pf, sf) =>
      SpecField(pf.copy(fieldId = sf.fieldId), sf.transform, sf.sourceId) })
  }

  /** The spec a manifest was written under, from its key metadata. */
  private def specOf(m: IcebergAvro.Manifest): Spec = {
    val fields = mapper.readTree(m.specJson).path("fields")
    Spec(m.specId, m.partitionFields.zipWithIndex.map { case (pf, i) =>
      SpecField(pf, fields.path(i).path("transform").asText("identity"),
        fields.path(i).path("source-id").asInt()) })
  }

  /** A table schema: its id, its Iceberg field nodes, and the Spark schema
    * they declare (`graft.spark-schema`) — the value [[putSchema]] writes.
    */
  private case class TableSchema(id: Int, fields: Seq[ObjectNode], spark: StructType) {
    def node: ObjectNode = {
      val n = mapper.createObjectNode().put("type", "struct").put("schema-id", id)
      n.putArray("fields").addAll(fields.asJava)
      n
    }
  }

  /** An Iceberg schema field node for `f` under field id `id`. */
  private def fieldNode(id: Int, f: StructField): ObjectNode =
    mapper.createObjectNode().put("id", id).put("name", f.name)
      .put("required", !f.nullable).put("type", icebergType(f.dataType))

  /** THE schema writer, for data commits and metadata-only evolution
    * alike: makes `s` the current schema of `meta`. Every other schema
    * stays (spec §schemas: retained snapshots keep resolving theirs by
    * id); last-column-id never falls; `graft.spark-schema` moves in step.
    */
  private def putSchema(meta: ObjectNode, s: TableSchema): Unit = {
    putById(meta, "schemas", "schema-id", s.node)
    meta.put("current-schema-id", s.id)
    meta.put("last-column-id",
      (s.fields.map(_.get("id").asInt()) :+ meta.path("last-column-id").asInt(0)).max)
    meta.get("properties").asInstanceOf[ObjectNode]
      .put("graft.spark-schema", s.spark.json): Unit
  }

  /** THE spec writer: makes `s` the default spec of `meta`. Every spec
    * ever written stays (spec §partition-specs: retained manifests
    * reference theirs by id); last-partition-id never falls.
    */
  private def putSpec(meta: ObjectNode, s: Spec): Unit = {
    putById(meta, "partition-specs", "spec-id", s.node)
    meta.put("default-spec-id", s.id)
    meta.put("last-partition-id",
      (s.fields.map(_.field.fieldId) :+ meta.path("last-partition-id").asInt(999)).max): Unit
  }

  /** Adds `node` to the array `key` of `meta`, replacing the element with
    * the same `idKey`.
    */
  private def putById(meta: ObjectNode, key: String, idKey: String,
      node: ObjectNode): Unit = {
    val kept = meta.path(key).elements().asScala
      .filter(_.get(idKey).asInt() != node.get(idKey).asInt()).toSeq
    meta.putArray(key).addAll(kept.asJava).add(node): Unit
  }

  /** The one fresh-table skeleton a create or convert commits over: no
    * schema, spec or snapshot yet (its commit sets them), version -1.
    */
  private def freshHead(table: String, properties: (String, String)*): Head = {
    val m = mapper.createObjectNode()
    m.put("format-version", 2)
      .put("table-uuid", java.util.UUID.randomUUID().toString)
      .put("location", table)
      .put("last-sequence-number", 0L)
      .put("last-updated-ms", 0L)
      .put("last-column-id", 0)
    m.putArray("schemas")
    m.put("current-schema-id", 0)
    m.putArray("partition-specs")
    m.put("default-spec-id", 0).put("last-partition-id", 999)
    m.putArray("sort-orders").addObject().put("order-id", 0).putArray("fields")
    m.put("default-sort-order-id", 0)
    val props = m.putObject("properties")
    properties.foreach { case (k, v) => props.put(k, v) }
    m.putArray("snapshots")
    m.put("current-snapshot-id", -1L)
    m.putObject("refs")
    Head(-1L, m)
  }

  /** A manifest a snapshot commit adds. */
  private sealed trait NewManifest

  /** A manifest written from `files`, every entry of one `content` (0 data,
    * 1 position deletes or deletion vectors, 2 equality deletes on
    * `equalityIds`). `schemaJson` defaults to the commit's schema. A file
    * in `entrySeqs` is an EXISTING entry that keeps that data sequence;
    * every other file is ADDED at the commit's.
    */
  private case class AddManifest(content: Int, files: Seq[IcebergAvro.DataFileInfo],
      spec: Spec = Unpartitioned, schemaJson: Option[String] = None,
      equalityIds: Seq[Int] = Nil, entrySeqs: Map[String, Long] = Map.empty)
    extends NewManifest

  /** One manifest merged from `sources` — (manifest, its list row's
    * sequence), all of spec `specId` — by [[IcebergAvro.mergeManifests]].
    */
  private case class MergeManifests(specId: Int, sources: Seq[(File, Long)])
    extends NewManifest

  /** What a snapshot commit changes. `carried`: None inherits the manifest
    * list of the target ref's head, Some(rows) replaces it. `schema` and
    * `spec` become current; `formatVersion` is a floor (versions only
    * ratchet up); `summary` holds the verb's own summary keys.
    */
  private case class Commit(operation: String, manifests: Seq[NewManifest],
      carried: Option[Seq[org.apache.avro.generic.GenericRecord]] = None,
      schema: Option[TableSchema] = None, spec: Option[Spec] = None,
      formatVersion: Int = 2, summary: Map[String, String] = Map.empty,
      branch: Option[String] = None)

  /** THE Iceberg commit encoder — every commit that adds a snapshot ends
    * here, in the reference's fixed sequence (manifests, manifest list,
    * snapshot, then the exclusive claim; iceberg_destination.rs:271-374).
    * From `base` (the head, or [[freshHead]]) it mints the snapshot id and
    * sequence number, writes `c`'s manifests and the list (the carried
    * rows, then the new ones), and deep-copies the base metadata: every
    * field the commit does not set is kept — statistics registrations,
    * foreign properties, refs, retained schemas and specs. It writes the
    * commit's schema and spec, appends the snapshot with its summary
    * (operation, the spec's `added-*` counts of the new manifests, the
    * verb's keys), advances the row-lineage clock by the rows of the
    * added data files that carry a first_row_id, moves the target ref
    * (main also moves current-snapshot-id; a branch commit records its
    * parent), and claims version base+1 through `t`. Returns the new
    * snapshot's id.
    */
  private def commitSnapshot(t: Txn, table: String, base: Head, c: Commit): Long = {
    val snapshotId = math.abs(new java.util.Random().nextLong())
    val seq = base.meta.get("last-sequence-number").asLong() + 1
    val parent = c.branch.map(b => base.meta.get("refs").get(b).get("snapshot-id").asLong())
    // the key metadata every new manifest carries by default
    val schemaJson = c.schema.fold(currentSchema(base.meta))(_.node).toString
    Files.createDirectories(metaDir(table))
    def avro(prefix: String)(write: File => Long) =
      writeAvroArtifact(table, t, s"$prefix-${java.util.UUID.randomUUID()}.avro")(write)
    val newRows = c.manifests.map {
      case m: AddManifest =>
        val (path, len) = avro("manifest")(f => IcebergAvro.writeManifest(f, m.files,
          snapshotId, m.schemaJson.getOrElse(schemaJson), m.spec.json,
          m.spec.partitionFields, m.content, m.equalityIds, m.spec.id, m.entrySeqs))
        val rows = m.files.map(_.recordCount).sum
        val existing = m.files.flatMap(f => m.entrySeqs.get(f.absPath))
        if (m.content == 0 && m.files.nonEmpty && existing.size == m.files.size)
          IcebergAvro.manifestRowExisting(path.toFile.getAbsolutePath, len, seq,
            existing.min, snapshotId, m.files.size, rows, m.spec.id)
        else
          // the list row's content is 1 (deletes) for either delete content
          IcebergAvro.manifestRow(path.toFile.getAbsolutePath, len, seq, snapshotId,
            m.files.size, rows, content = math.min(m.content, 1), specId = m.spec.id)
      case m: MergeManifests =>
        var merged = (0L, 0, 0L, 0L)
        val (path, len) = avro("manifest") { f =>
          merged = IcebergAvro.mergeManifests(f, m.sources); merged._1
        }
        IcebergAvro.manifestRowExisting(path.toFile.getAbsolutePath, len, seq,
          merged._4, snapshotId, merged._2, merged._3, m.specId)
    }
    // the new snapshot continues from its TARGET ref's head: main (the
    // current snapshot) by default, a named branch's head when targeted
    val carried = c.carried.getOrElse(manifestListOf(base.meta, parent)
      .map(p => IcebergAvro.readManifestList(new File(requireAvro(abs(table, p)))))
      .getOrElse(Nil))
    val (listPath, _) = avro("manifest-list") { f =>
      IcebergAvro.writeManifestList(f, carried ++ newRows, snapshotId, seq); 0L
    }
    val now = System.currentTimeMillis()
    val meta = base.meta.deepCopy[ObjectNode]()
    meta.put("last-sequence-number", seq).put("last-updated-ms", now)
    if (meta.get("format-version").asInt() < c.formatVersion)
      meta.put("format-version", c.formatVersion)
    c.schema.foreach(putSchema(meta, _))
    c.spec.foreach(putSpec(meta, _))
    val snap = meta.get("snapshots").asInstanceOf[ArrayNode].addObject()
      .put("snapshot-id", snapshotId)
      .put("sequence-number", seq)
      .put("timestamp-ms", now)
      .put("manifest-list", s"metadata/${listPath.getFileName}")
      .put("schema-id", meta.get("current-schema-id").asInt())
    // V3 row lineage (spec §Row Lineage): on a lineage-enabled table EVERY
    // snapshot records its first-row-id — the start of the id range this
    // commit assigned — and the table clock advances by the rows its data
    // files carry an assignment for (0 for pure deletes, replaces, and
    // materialized-`_row_id` rewrites)
    Option(meta.get("next-row-id")).map(_.asLong()).foreach { next =>
        val assigned = c.manifests.collect { case m: AddManifest if m.content == 0 =>
          m.files.filter(_.firstRowId.isDefined).map(_.recordCount).sum }.sum
        snap.put("first-row-id", next)
        meta.put("next-row-id", next + assigned)
      }
    val summary = snap.putObject("summary").put("operation", c.operation)
    (addedCounts(c.manifests) ++ c.summary).foreach { case (k, v) => summary.put(k, v) }
    parent.foreach(snap.put("parent-snapshot-id", _))
    val refs = meta.get("refs") match {
      case o: ObjectNode => o
      case _ => meta.putObject("refs")
    }
    c.branch match {
      case None =>
        meta.put("current-snapshot-id", snapshotId)
        refs.putObject("main").put("snapshot-id", snapshotId).put("type", "branch")
      case Some(b) =>
        // a branch commit advances ONLY its ref, keeping the ref's other
        // fields (spec retention: max-ref-age-ms etc.)
        refs.get(b).asInstanceOf[ObjectNode]
          .put("snapshot-id", snapshotId).put("type", "branch")
    }
    commitMetadataVersion(table, t, base.version, meta)
    snapshotId
  }

  /** The spec's `added-*` summary counts (https://iceberg.apache.org/spec/#snapshots)
    * of the files a commit's manifests ADD — EXISTING entries add nothing;
    * a deletion vector counts as a delete file, its cardinality as
    * position deletes and its blob as the added size. Zero counts are
    * left out, as Iceberg's own writers do.
    */
  private def addedCounts(manifests: Seq[NewManifest]): Seq[(String, String)] = {
    val added = manifests.flatMap {
      case m: AddManifest =>
        m.files.filterNot(f => m.entrySeqs.contains(f.absPath)).map(m.content -> _)
      case _ => Nil
    }
    def of(p: ((Int, IcebergAvro.DataFileInfo)) => Boolean) = added.filter(p).map(_._2)
    val data = of(_._1 == 0)
    val dvs = of { case (c, f) => c == 1 && f.dv.isDefined }
    val pos = of { case (c, f) => c == 1 && f.dv.isEmpty }
    val eq = of(_._1 == 2)
    def rows(fs: Seq[IcebergAvro.DataFileInfo]) = fs.map(_.recordCount).sum
    Seq("added-data-files" -> data.size.toLong,
      "added-records" -> rows(data),
      "added-files-size" -> added.map(_._2).map(f => f.dv.fold(f.sizeBytes)(_._3)).sum,
      "added-delete-files" -> (dvs.size + pos.size + eq.size).toLong,
      "added-position-delete-files" -> pos.size.toLong,
      "added-equality-delete-files" -> eq.size.toLong,
      "added-position-deletes" -> rows(pos ++ dvs),
      "added-equality-deletes" -> rows(eq),
      "added-dvs" -> dvs.size.toLong)
      .collect { case (k, n) if n > 0 => k -> n.toString }
  }

  /** The current schema's node (by current-schema-id). */
  private def currentSchema(
      meta: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode = {
    val schemaId = meta.get("current-schema-id").asInt()
    meta.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == schemaId)
      .getOrElse(meta.get("schemas").get(0))
  }


  /** DELETE WHERE — V2 merge-on-read row-level deletes: writes POSITIONAL
    * delete files (parquet of spec columns `file_path` string /
    * 2147483546, `pos` long / 2147483545, sorted by both) for every
    * current row matching `predicate`, commits them under a
    * deletes-content manifest (content=1) at the next sequence number, and
    * leaves every data file untouched — the delete costs a predicate scan
    * plus a write proportional to the MATCHED rows, never a table rewrite.
    * [[read]] (and every pruned/incremental reader) applies the deletes by
    * (file, position) anti-join scoped by sequence number, so rows
    * appended after the delete are never touched and pre-delete snapshots
    * still time-travel intact. Positions are evaluated against the CURRENT
    * merged view, so re-running a predicate never re-deletes rows.
    * Compaction ([[compact]]) naturally materializes deletes — it rewrites
    * the merged view and starts a fresh manifest list. The delete manifest
    * carries an empty partition struct (deletes apply by file path, not by
    * partition — a spec-permitted global scope; partition-scoped delete
    * pruning is an optimization this writer doesn't take). Returns the
    * number of rows deleted; no commit happens when the predicate matches
    * nothing. Concurrency: same IF-NOT-EXISTS version claim as every other
    * commit — a losing race reclaims its staged files and throws
    * [[OptimisticConcurrencyException]].
    */
  def deleteWhere(spark: SparkSession, table: String, predicate: String,
      store: CommitStore = CommitStore.Local,
      branch: Option[String] = None): Long =
    posRewrite(spark, table, predicate, None, store, branch)

  /** V3 DELETION VECTORS (Iceberg spec v3 §Deletion Vectors; Puffin
    * `deletion-vector-v1` blobs) — the MoR delete whose per-file state
    * stays ONE roaring bitmap no matter how many deletes accumulate,
    * where [[deleteWhere]]'s v2 positional files pile up rows until
    * compaction. Matched positions build one bitmap per touched file
    * (distributed — only roaring bytes reach the driver); each touched
    * file's new vector is the UNION of its live vector and the fresh
    * positions (the spec's supersede rule: at most one DV per data file,
    * a new DV replaces the old); every vector packs into ONE Puffin file
    * (spec layout: magic, framed blobs, JSON footer) and a delete
    * manifest commits entries carrying referenced_data_file /
    * content_offset / content_size_in_bytes (spec v3 field ids
    * 143/144/145). The commit ratchets format-version to 3. Readers
    * apply DVs through the same O(1)-per-row native probe as the Delta
    * side — no join, no shuffle — keeping only the highest-sequence DV
    * per file, so superseded vectors stop applying with zero cleanup.
    * The two MoR delete planes are now symmetric across formats.
    * Refuses while v2 positional delete FILES are live (v3 forbids
    * mixing — compact first); coexists with equality deletes. Returns
    * rows newly deleted; no commit when the predicate matches nothing.
    */
  def deleteWhereDV(spark: SparkSession, table: String, predicate: String,
      store: CommitStore = CommitStore.Local): Long =
    dvRewrite(spark, table, predicate, None, store)

  /** UPDATE WHERE via V3 DELETION VECTORS — the MoR update twin of
    * [[deleteWhereDV]] and the Iceberg answer to
    * [[DeltaSink.updateWhereDV]], completing cross-format MoR DML
    * symmetry: ONE atomic `overwrite` snapshot masks the matched rows
    * with Puffin vectors (superseding per file) AND appends their
    * transformed replacements as new data files. Every SET expression
    * evaluates against the PRE-update row (SQL UPDATE semantics); no
    * existing file is read back or rewritten — an update of k rows
    * costs O(k) at any table size. Returns rows updated.
    */
  def updateWhereDV(spark: SparkSession, table: String, predicate: String,
      set: Map[String, String],
      store: CommitStore = CommitStore.Local): Long = {
    require(set.nonEmpty, "update requires at least one SET column")
    dvRewrite(spark, table, predicate, Some(set), store)
  }

  /** ENABLE V3 ROW LINEAGE (Iceberg spec v3 §Row Lineage) — the third v3
    * pillar beside deletion vectors: every row gets a STABLE id that
    * survives appends, MoR deletes (positions don't move) and
    * lineage-preserving compaction (ids materialize into rewritten
    * files). One `replace` commit assigns `first_row_id` to every LIVE
    * data file retroactively — entries ordered by (data sequence, path),
    * ids cumulative by record count, original sequences preserved
    * (status EXISTING, the rewriteManifests discipline) so MoR delete
    * application and the streaming tail see no change — stamps
    * `next-row-id` into the metadata, `first-row-id` = 0 onto the
    * snapshot, and ratchets format-version to 3. Every later commit
    * advances the clock ([[write]] assigns to added files; MoR
    * replacement files assign too). Metadata-only: no data file is read
    * or written at any table size. Partitioned (and partition-/schema-
    * evolved) tables rewrite one manifest per source manifest, each
    * keeping its own partition struct, spec id and schema metadata
    * (r16). Returns the rows assigned.
    */
  def enableRowLineage(spark: SparkSession, table: String,
      store: CommitStore = CommitStore.Local): Long = {
    val Head(hint, meta) = head(table)
    require(!meta.has("next-row-id"),
      s"row lineage already enabled on $table")
    val list = manifestListOf(meta).getOrElse(
      throw new IllegalStateException(s"no current snapshot on $table"))
    val listRows = IcebergAvro.readManifestList(new File(requireAvro(abs(table, list))))
    // one rewritten manifest PER SOURCE MANIFEST — each keeps its OWN
    // partition struct (rebuilt from its Avro writer schema), spec id and
    // schema key metadata, so partitioned, partition-evolved and
    // schema-evolved histories all retro-assign faithfully. Metadata
    // scale throughout: no data file is opened.
    val manifests = listRows.map(manifestRefOf).filter(_.content == 0)
      .map(readManifest(table, _)).filter(_.entries.nonEmpty)
    val data = manifests.flatMap(_.entries)
    val seqByPath: Map[String, Long] = data.map(e => e.path -> e.seq).toMap
    // GLOBAL id order: (data sequence, path) across every manifest
    val rowsByPath: Map[String, Long] = data.map(e => e.path -> e.recordCount).toMap
    val ordered = data.map(_.path).distinct.sortBy(p => (seqByPath(p), p))
    var next = 0L
    val fridByPath: Map[String, Long] = ordered.map { p =>
      val id = next; next += rowsByPath(p); p -> id
    }.toMap
    // delete manifests carry forward verbatim — their (file, pos)
    // references stay valid because every data entry kept its sequence
    val carriedDeletes = listRows.filter(_.get("content").asInstanceOf[Int] == 1)
    // the base starts the v3 row-id clock at 0; the commit advances it by
    // the rows it assigns
    val base = Head(hint, meta.deepCopy[ObjectNode]().put("next-row-id", 0L))
    txn(store)(t => commitSnapshot(t, table, base, Commit("replace",
      manifests.map { m =>
        AddManifest(0, m.entries.map { e =>
          IcebergAvro.DataFileInfo(e.path, e.sizeBytes, e.recordCount, e.stats,
            m.partitionFields.map(x => e.pvals.getOrElse(x.name, null)),
            firstRowId = Some(fridByPath(e.path)))
        }, specOf(m), m.schemaJson, entrySeqs = seqByPath)
      },
      carried = Some(carriedDeletes), formatVersion = 3,
      summary = Map("graft.row-lineage" -> "enabled", "assigned-rows" -> next.toString)))): Unit
    next
  }

  /** LINEAGE READ — the current merged view plus `_row_id` AND
    * `_last_updated_sequence_number` (spec v3 §Row Lineage):
    *
    *  - `_row_id`: `first_row_id + position` for manifest-assigned files,
    *    the MATERIALIZED `_row_id` column for files a lineage-preserving
    *    compaction rewrote, null for files predating enablement (and for
    *    MoR replacement rows until their commit assigned — which it does).
    *  - `_last_updated_sequence_number`: inherited from each data file's
    *    DATA SEQUENCE NUMBER (the snapshot that last wrote the row's file
    *    version — an updateWhereDV's replacement rows land in a new file
    *    at the update's sequence, while a DV delete leaves survivors'
    *    files, hence their sequence, untouched), unless the file
    *    MATERIALIZES the column (a compaction rewrite, whose new data
    *    sequence would otherwise wrongly claim every row it repacked).
    *
    * DV and positional deletes apply exactly as in [[read]]; surviving
    * rows keep their ids because deletes never move positions.
    */
  def readWithLineage(spark: SparkSession, table: String,
      store: CommitStore = CommitStore.Local): DataFrame =
    lineageView(spark, snapshotEntries(table, None), store)

  private def lineageView(spark: SparkSession, snap: Snapshot,
      store: CommitStore): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col}
    // manifest-assigned first row ids (none before [[enableRowLineage]]);
    // files a lineage-preserving rewrite materialized carry none — their
    // ids live in the parquet
    val lineageOn = snap.head.meta.has("next-row-id")
    val withRid = StructType(snap.schema.fields ++ Seq(
      StructField("_row_id", LongType, nullable = true),
      StructField("_last_updated_sequence_number", LongType, nullable = true)))
    // FIELD-ID projection for the data columns (curFields covers the
    // schema prefix — lineage reads compose with rename/drop/widen like
    // plain reads, r17); the two trailing lineage columns have no table
    // field id and read BY NAME, null for files that never materialized
    // them
    val base = readMerged(spark, withRid, snap.data, snap.deletes,
      keepLineage = true, curFields = snap.curFields,
      fileFields = snap.fileFields, store = store)
    val rows = spark.createDataFrame(
      snap.data.map(e => org.apache.spark.sql.Row(e.path,
        e.firstRowId.filter(_ => lineageOn).map(Long.box).orNull,
        Long.box(e.seq))).asJava,
      StructType(Seq(StructField("_gf_fpath", StringType),
        StructField("_gf_frid", LongType, nullable = true),
        StructField("_gf_fseq", LongType, nullable = true))))
    base.join(broadcast(rows), col("_gf_mpath") === col("_gf_fpath"), "left")
      .withColumn("_row_id",
        coalesce(col("_row_id"), col("_gf_frid") + col("_gf_pos")))
      .withColumn("_last_updated_sequence_number",
        coalesce(col("_last_updated_sequence_number"), col("_gf_fseq")))
      .select((snap.schema.fieldNames.toIndexedSeq ++
        Seq("_row_id", "_last_updated_sequence_number")).map(col): _*)
  }

  private def dvRewrite(spark: SparkSession, table: String, predicate: String,
      setOpt: Option[Map[String, String]], store: CommitStore): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    val snap = snapshotEntries(table, None)
    val meta = snap.head.meta
    require(snap.deletes.forall(d => d.content != 1 || d.dv.isDefined),
      "live positional delete files present - v3 forbids mixing them " +
        "with deletion vectors; compact first")
    // SET plan validation BEFORE any staging (posRewrite's contract)
    setOpt.foreach { set =>
      set.keys.foreach(c => require(snap.schema.fieldNames.contains(c),
        s"no such column: $c"))
      set.values.foreach(e =>
        spark.sessionState.sqlParser.parseExpression(e): Unit)
    }
    val matched0 = readMerged(spark, snap.schema, snap.data, snap.deletes,
      keepLineage = true, curFields = snap.curFields,
      fileFields = snap.fileFields, store = store).filter(expr(predicate))
    val matched = if (setOpt.isDefined) matched0.persist() else matched0
    try {
    // each shard of touched files union-merges with the file's live vector
    // (v3 supersede rule) and packs + PUBLISHES its own Puffin file (the
    // spec permits many DV files per commit). A point delete (≤ one
    // shard) still lands a single Puffin object.
    val txnUuid = java.util.UUID.randomUUID()
    val metaAbs = metaDir(table).toFile.getAbsolutePath
    def puffinAbs(shard: Int): String =
      new File(metaAbs, s"dv-${DvPlane.shardUuid(txnUuid, shard)}.puffin")
        .getAbsolutePath
    val descs = DvPlane.write(store,
      matched.select(col("_gf_mpath"), col(DvPlane.PosCol)),
      liveDvs(snap.deletes).view.mapValues(dvBlob).toMap, puffinAbs, packPuffinShard)
    if (descs.isEmpty) return 0L
    txn(store) { t =>
      t.record(descs.map(_.shard).distinct.map(i => Paths.get(puffinAbs(i))): _*)
      val infos = descs.sortBy(_.file).map { d =>
        IcebergAvro.DataFileInfo(puffinAbs(d.shard), d.shardLength, d.cardinality,
          dv = Some((d.file, d.offset, d.size)))
      }
      // an UPDATE stages the transformed replacements as new data files in
      // the SAME snapshot — SET expressions evaluate against the PRE-update
      // row (matched is persisted; one merged-view scan feeds both planes).
      // Replacement rows are NEW rows (update = delete + insert).
      val replacement = setOpt.map { set =>
        val schema = snap.schema
        val rep = matched.select(schema.fieldNames.map(c =>
          set.get(c).map(e => expr(e).cast(schema(c).dataType).as(c))
            .getOrElse(col(c))).toIndexedSeq: _*)
        AddManifest(0, withFirstRowIds(meta, stageWrite(t, table, "update", rep)))
      }
      commitSnapshot(t, table, snap.head, Commit(
        if (setOpt.isDefined) "overwrite" else "delete",
        AddManifest(1, infos) +: replacement.toSeq, formatVersion = 3))
      descs.map(_.freshCardinality).sum
    }
    } finally matched.unpersist(): Unit
  }

  /** Total rows the LIVE V3 deletion vectors mask — the janitor's
    * DV-debt trigger ([[DeltaSink.dvMaskedRows]]'s format twin), from
    * delete-manifest record counts alone (the Puffin files are never
    * opened): per referenced file only the highest-sequence vector
    * applies, so superseded vectors don't double-count.
    */
  def dvMaskedRows(table: String): Long = {
    val meta = head(table).meta
    if (Option(meta.get("current-snapshot-id")).forall(_.asLong() <= 0)) return 0L
    val list = manifestListOf(meta).getOrElse(return 0L)
    liveDvs(manifestRefs(table, list).filter(_.content == 1)
      .flatMap(readManifest(table, _).entries)).values.map(_.recordCount).sum
  }

  /** The live V3 deletion-vector entry per referenced data file: the
    * HIGHEST-sequence one (spec supersede rule — each new vector
    * replaces the previous for its file).
    */
  private def liveDvs(deletes: Seq[IcebergAvro.Entry]): Map[String, IcebergAvro.Entry] =
    deletes.filter(d => d.content == 1 && d.dv.isDefined)
      .groupBy(_.dv.get._1).map { case (ref, ds) => ref -> ds.maxBy(_.seq) }

  /** A deletion-vector entry's blob as (Puffin path, offset, blob length). */
  private def dvBlob(d: IcebergAvro.Entry): (String, Long, Long) = {
    val (_, off, size) = d.dv.get
    (d.path, off, size)
  }

  /** The bitmap of one `deletion-vector-v1` blob at (Puffin path,
    * offset, blob length).
    */
  private def dvBitmap(blob: (String, Long, Long), read: String => Array[Byte])
      : org.roaringbitmap.longlong.Roaring64Bitmap = {
    val (path, off, size) = blob
    graft.functions.DeletionVector.readFramedAt(read(path), off.toInt, size - 8)
  }

  /** Packs ONE shard of (data file → fresh bitmap bytes) into ONE Puffin
    * file of `deletion-vector-v1` blobs ([[DvPlane.Packer]]): each file's
    * fresh bitmap unions with its LIVE vector first (the v3 supersede rule
    * makes every new vector TOTAL for its file, not incremental). Pure
    * function of its inputs, so a task and the driver pack the same bytes.
    */
  private[sinks] def packPuffinShard(shardId: Int,
      entries: Seq[(String, Array[Byte])],
      liveDvRefs: Map[String, (String, Long, Long)],
      read: String => Array[Byte]): (Array[Byte], Seq[DvPlane.DvDesc]) = {
    val D = graft.functions.DeletionVector
    val vectors = entries.sortBy(_._1).map { case (p, freshBytes) =>
      val bm = D.deserialize(freshBytes)
      val freshCard = bm.getLongCardinality
      liveDvRefs.get(p).foreach(blob => bm.or(dvBitmap(blob, read)))
      (p, bm, freshCard)
    }
    val (fileBytes, blobMeta) = buildPuffin(vectors.map { case (p, bm, _) =>
      (p, D.toPortable(bm), bm.getLongCardinality)
    })
    val freshByRef = vectors.map(v => v._1 -> v._3).toMap
    val descs = blobMeta.map { case (ref, off, blobLen, card) =>
      DvPlane.DvDesc(ref, shardId, fileBytes.length.toLong, off, blobLen,
        card, freshByRef(ref))
    }
    (fileBytes, descs)
  }

  /** Minimal Puffin writer (public Puffin spec layout: leading magic,
    * blobs back to back, footer = magic + JSON payload + payload size
    * (4 bytes LE) + flags + magic). Each `deletion-vector-v1` blob
    * carries the Delta-compatible framing the v3 spec adopted
    * ([dataSize BE][portable roaring bitmap][CRC-32 BE]); its footer
    * entry records the referenced data file and cardinality. Returns
    * (fileBytes, per-blob (referencedFile, offset, blobLength,
    * cardinality)).
    */
  private def buildPuffin(dvs: Seq[(String, Array[Byte], Long)])
      : (Array[Byte], Seq[(String, Long, Long, Long)]) = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    val magic = Array[Byte]('P', 'F', 'A', '1')
    out.write(magic)
    val blobs = dvs.map { case (ref, payload, card) =>
      val off = bos.size().toLong
      val crc = new java.util.zip.CRC32(); crc.update(payload)
      out.writeInt(payload.length)
      out.write(payload)
      out.writeInt(crc.getValue.toInt)
      (ref, off, payload.length.toLong + 8L, card)
    }
    out.write(magic)
    val blobsJson = blobs.map { case (ref, off, len, card) =>
      s"""{"type":"deletion-vector-v1","fields":[],"offset":$off,""" +
        s""""length":$len,"properties":{""" +
        s""""referenced-data-file":${mapper.writeValueAsString(ref)},""" +
        s""""cardinality":"$card"}}"""
    }.mkString(",")
    val payload =
      s"""{"blobs":[$blobsJson],"properties":{"created-by":"graft"}}"""
        .getBytes(StandardCharsets.UTF_8)
    out.write(payload)
    out.write(Array[Byte](
      (payload.length & 0xFF).toByte, ((payload.length >> 8) & 0xFF).toByte,
      ((payload.length >> 16) & 0xFF).toByte,
      ((payload.length >> 24) & 0xFF).toByte))
    out.writeInt(0) // footer flags: none set
    out.write(magic)
    out.flush()
    (bos.toByteArray, blobs)
  }

  /** UPDATE WHERE — predicate-based row-level update, MERGE-ON-READ (the
    * positional-delete twin of the keyed [[upsert]], and the Iceberg
    * answer to [[DeltaSink.updateWhereDV]]): ONE atomic snapshot commits
    * positional delete files masking the matched rows PLUS new data files
    * carrying their transformed replacements — no existing file is read
    * back or rewritten, so an update of k rows costs O(k) at any table
    * size. Every SET expression evaluates against the PRE-update row (SQL
    * UPDATE semantics). Replacement files land unpartitioned (same
    * documented contract as [[upsert]]: pruned readers keep files without
    * partition values); positional deletes are path-keyed, so they can
    * never touch the replacements committed at the same sequence.
    * [[readChangelog]] surfaces the snapshot as delete + insert rows (an
    * honest decomposition — a predicate update has no key to pair images
    * by). Returns the number of rows updated.
    */
  def updateWhere(spark: SparkSession, table: String, predicate: String,
      set: Map[String, String],
      store: CommitStore = CommitStore.Local,
      branch: Option[String] = None): Long = {
    require(set.nonEmpty, "update requires at least one SET column")
    posRewrite(spark, table, predicate, Some(set), store, branch)
  }

  /** The head a branch-targeted verb continues from, validated the same
    * way [[appendBranch]] does: the ref must exist with branch type
    * (tags are immutable pins).
    */
  private def requireBranchHead(
      meta: com.fasterxml.jackson.databind.JsonNode, branch: String): Long = {
    require(branch != "main",
      "main is managed by plain commits — target a non-main branch")
    require(meta.has("refs") && meta.get("refs").has(branch),
      s"no such branch: $branch — create it with createRef(refType = \"branch\")")
    require(Option(meta.get("refs").get(branch).get("type"))
        .forall(_.asText() == "branch"),
      s"ref $branch is a tag — tags pin immutably; commits need a branch ref")
    meta.get("refs").get(branch).get("snapshot-id").asLong()
  }

  private def posRewrite(spark: SparkSession, table: String, predicate: String,
      setOpt: Option[Map[String, String]],
      store: CommitStore, branch: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    val Head(hint, meta) = head(table)
    // a branch-targeted rewrite matches against the BRANCH's merged view
    // and commits to its ref — the audit-fix loop of write-audit-publish
    val snap = snapshotEntries(table,
      branch.map(b => requireBranchHead(meta, b)))
    // validate the SET plan BEFORE any staging: a bad column or an
    // unparsable expression must fail with zero bytes written (the delete
    // artifacts are published before the replacement would be built, and
    // expiry only reclaims manifest-referenced paths)
    setOpt.foreach { set =>
      set.keys.foreach(c => require(snap.schema.fieldNames.contains(c),
        s"no such column: $c"))
      // functions.expr defers parsing until the plan is built — force it
      // through the session parser so a syntax error surfaces HERE
      set.values.foreach(e =>
        spark.sessionState.sqlParser.parseExpression(e): Unit)
    }
    val matched0 = readMerged(spark, snap.schema, snap.data, snap.deletes,
      keepLineage = true, curFields = snap.curFields,
      fileFields = snap.fileFields, store = store).filter(expr(predicate))
    // an update reads the matched set twice (delete rows + replacements) —
    // persist so the merged view is scanned once
    val matched = if (setOpt.isDefined) matched0.persist() else matched0
    try {
    val fpMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", 2147483546L).build()
    val posMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", 2147483545L).build()
    // PARTITION SCOPE (r13): on a partitioned table, delete rows group by
    // their TARGET file's partition (a broadcast of the metadata-scale
    // file→group map) and each group lands its own delete file(s), so the
    // delete manifest's entries carry partition values and pruned readers
    // (readDays/readBucket) skip delete files of other partitions — on a
    // table carrying millions of delete rows across many partitions, a
    // one-day read stops opening every delete file ever written.
    val delSpec = defaultSpec(meta, snap.schema)
    val delPartFields = delSpec.partitionFields
    val groupKeys: IndexedSeq[Map[String, Any]] =
      snap.data.map(_.pvals).distinct.toIndexedSeq
    val gidByPvals = groupKeys.zipWithIndex.toMap
    import spark.implicits._
    val base = matched
      .select(col("_gf_mpath").as("file_path", fpMeta),
        col("_gf_pos").as("pos", posMeta))
    val dels =
      if (delPartFields.isEmpty) base
        // spec: delete rows sorted by file_path then pos; range
        // partitioning keeps each output file covering a contiguous slice
        // (AQE coalesces the mostly-empty shuffle partitions)
        .repartitionByRange(col("file_path"), col("pos"))
        .sortWithinPartitions("file_path", "pos")
      else {
        import org.apache.spark.sql.functions.{broadcast, coalesce => cl, lit}
        val gidLookup = snap.data.map(e => (e.path, gidByPvals(e.pvals)))
          .toDF("file_path", "_gf_gid")
        base.join(broadcast(gidLookup), Seq("file_path"), "left")
          .withColumn("_gf_gid", cl(col("_gf_gid"), lit(-1)))
          .repartitionByRange(col("_gf_gid"), col("file_path"), col("pos"))
          .sortWithinPartitions("_gf_gid", "file_path", "pos")
      }
    // a part file's partition values come from its _gf_gid=N directory —
    // -1 (an old-spec file whose pvals don't key the current spec) and the
    // unpartitioned path both stamp nulls, which every reader KEEPS
    def partValuesOfPart(rel: String): Seq[Any] =
      if (delPartFields.isEmpty) Nil
      else {
        val gid = rel.split('/').head.stripPrefix("_gf_gid=").toInt
        if (gid >= 0 && gid < groupKeys.length)
          delPartFields.map(pf => groupKeys(gid).getOrElse(pf.name, null))
        else delPartFields.map(_ => null)
      }
    txn(store) { t =>
      val infos = stageWrite(t, table, "delete", dels,
        if (delPartFields.isEmpty) Nil else Seq("_gf_gid"), partValuesOfPart)
      if (infos.isEmpty) return 0L
      // an UPDATE additionally stages the transformed replacements as new
      // data files in the SAME snapshot — SET expressions evaluate against
      // the PRE-update row (matched is persisted; one merged-view scan)
      val replacement = setOpt.map { set =>
        val schema = snap.schema
        val rep = matched.select(schema.fieldNames.map(c =>
          set.get(c).map(e => expr(e).cast(schema(c).dataType).as(c))
            .getOrElse(col(c))).toIndexedSeq: _*)
        AddManifest(0, withFirstRowIds(meta, stageWrite(t, table, "update", rep)))
      }
      // the delete manifest carries the table's default spec (its id and
      // field ids) so its entries' values are interpretable by any reader
      commitSnapshot(t, table, Head(hint, meta), Commit(
        if (setOpt.isDefined) "overwrite" else "delete",
        AddManifest(1, infos, delSpec) +: replacement.toSeq, branch = branch))
      infos.map(_.recordCount).sum
    }
    } finally { if (setOpt.isDefined) matched.unpersist(): Unit }
  }

  /** UPSERT — keyed merge-on-read (the Flink-CDC Iceberg pattern, and the
    * format twin of [[DeltaSink.merge]] without any file rewrite): ONE
    * atomic snapshot commits the source rows as new data files TOGETHER
    * with an EQUALITY delete file of the source keys (content=2 entries
    * carrying `equality_ids`). Both land at the same sequence number, and
    * equality deletes apply STRICTLY below their own sequence (V2 read
    * contract) — so every pre-existing row of an upserted key dies, the
    * replacement survives, and a reader either sees all of the upsert or
    * none of it. Cost is a write proportional to the SOURCE batch: no
    * existing file is read, touched, or rewritten at any table size
    * (contrast copy-on-write merge, which rewrites every touched file —
    * readers pay the anti-join until [[compact]] materializes). The
    * source must be unique on `keys` (duplicate keys in one batch have no
    * deterministic winner) — enforced inside the write plan itself, the
    * same zero-extra-pass guard as Delta merge. Upsert batches land
    * unpartitioned whatever the table's spec (partition pruning simply
    * keeps them; OPTIMIZE re-layouts them into the spec later). Returns
    * the number of rows upserted; an empty source commits nothing.
    */
  def upsert(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], store: CommitStore = CommitStore.Local,
      summaryProps: Map[String, String] = Map.empty,
      branch: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, raise_error, when}
    require(keys.nonEmpty, "upsert requires at least one key column")
    val Head(hint, meta) = head(table)
    branch.foreach(requireBranchHead(meta, _): Unit)
    val schema = sparkSchemaOf(meta)
    val tableCols = schema.fieldNames.toSeq
    keys.foreach(k => require(tableCols.contains(k), s"no such key column: $k"))
    val curF = curFieldsOf(meta, schema)
    val eqIds = keys.map(k => curF.find(_.name == k).get.id)
    val dupN = s"__graft_dup_${java.util.UUID.randomUUID().toString.take(8)}"
    val wDup = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val rows = source.select(tableCols.map(col): _*)
    SchemaGate.enforce(rows.schema, schema)
    val guarded = rows
      .withColumn(dupN, count(lit(1)).over(wDup))
      .filter(when(col(dupN) > 1, raise_error(
        lit(s"upsert source must be unique on (${keys.mkString(", ")})")))
        .otherwise(lit(true)))
      .drop(dupN)
    txn(store) { t =>
      val dataInfos = withFirstRowIds(meta, stageWrite(t, table, "upsert", guarded))
      val upserted = dataInfos.map(_.recordCount).sum
      if (upserted == 0L) return 0L
      // equality-delete rows = the source keys (unique by the guard above,
      // re-read from the written files so the guarded plan runs ONCE),
      // stamped with the table's field ids per the spec
      val keyMeta = keys.zip(eqIds).map { case (k, id) =>
        k -> new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", id.toLong).build()
      }.toMap
      // written with the same per-file discipline as data files (NOT
      // coalesce(1)): a CDC micro-batch still lands one small file, while
      // a giant backfill upsert fans its key rows across tasks instead of
      // funneling every key through one. The read side union-reads all
      // delete files of a snapshot, so file count is free.
      val delInfos = stageWrite(t, table, "upsert-del",
        spark.read.schema(StructType(schema.fields.filter(f => keys.contains(f.name))))
          .parquet(new File(dataInfos.head.absPath).getParent)
          .select(keys.map(k => col(k).as(k, keyMeta(k))): _*))
      commitSnapshot(t, table, Head(hint, meta), Commit("overwrite",
        Seq(AddManifest(0, dataInfos), AddManifest(2, delInfos, equalityIds = eqIds)),
        summary = summaryProps, branch = branch))
      upserted
    }
  }

  /** A fresh table dir `data/<tag>-<uuid>` for one write's files. */
  private def newDataDir(table: String, tag: String): File =
    new File(s"$table/data/$tag-${java.util.UUID.randomUUID()}")

  /** One Spark parquet write of `df` into a fresh [[newDataDir]] through
    * [[TaskWrite]]: each task publishes its non-empty files with their
    * row counts; zero-row parts are deleted in the task, since they would
    * never enter a manifest (expiry only reclaims manifest-referenced
    * paths). `partValuesOf` maps a file's dir-relative path to its
    * partition values.
    */
  private def stageWrite(txn: Txn, table: String, tag: String,
      df: DataFrame, partitionBy: Seq[String] = Nil,
      partValuesOf: String => Seq[Any] = _ => Nil): Seq[IcebergAvro.DataFileInfo] = {
    val dir = newDataDir(table, tag)
    val infos = TaskWrite(txn.store, df, dir, partitionBy) { (f, conf) =>
      Some(ParquetFooter.read(f, conf)._1).filter(_ > 0L)
    }.map(w => IcebergAvro.DataFileInfo(new File(dir, w.rel).getAbsolutePath,
      w.size, w.stats, partitionValues = partValuesOf(w.rel)))
    txn.record(infos.map(i => Paths.get(i.absPath)): _*)
    infos
  }

  /** Row lineage (spec §Row Lineage): on a lineage-enabled table, ADDED
    * rows are NEW rows and take consecutive ids from the table clock.
    */
  private def withFirstRowIds(meta: com.fasterxml.jackson.databind.JsonNode,
      infos: Seq[IcebergAvro.DataFileInfo]): Seq[IcebergAvro.DataFileInfo] =
    if (!meta.has("next-row-id")) infos
    else {
      var next = meta.get("next-row-id").asLong()
      infos.map { i => val o = i.copy(firstRowId = Some(next)); next += i.recordCount; o }
    }

  /** Equality-delete-ONLY snapshot — the CDC DELETE verb (the Flink-CDC
    * shape [[upsert]]'s doc describes, minus the replacement rows):
    * erases every row whose key tuple appears in `keys`, without reading
    * or rewriting ANY data file (merge-on-read; cost ∝ the key batch,
    * never the table). One atomic snapshot. Returns the number of
    * distinct key rows committed (0 = empty source, nothing committed).
    * [[readChangelog]] classifies the erased rows as `delete` (their
    * keys have no replacement row in the snapshot).
    */
  def deleteKeys(spark: SparkSession, table: String, keys: DataFrame,
      keyCols: Seq[String], store: CommitStore = CommitStore.Local): Long =
    deleteKeyGroups(spark, table, Seq((keys, keyCols)), store)

  /** Multi-group form of [[deleteKeys]]: one snapshot carrying one
    * equality-delete file PER key-column set — the mixed-equality-id
    * snapshot an external CDC writer with evolving keys produces, which
    * the read and changelog paths classify per group.
    */
  private[graft] def deleteKeyGroups(spark: SparkSession, table: String,
      groups: Seq[(DataFrame, Seq[String])],
      store: CommitStore = CommitStore.Local): Long = {
    import org.apache.spark.sql.functions.col
    require(groups.nonEmpty, "deleteKeys requires at least one key group")
    val Head(hint, meta) = head(table)
    val schema = sparkSchemaOf(meta)
    // stage one parquet key file set per group, stamped with the table's
    // field ids per the spec (readers resolve equality_ids against them)
    txn(store) { t =>
      val staged = groups.map { case (keys, keyCols) =>
        keyCols.foreach(k => require(schema.fieldNames.contains(k),
          s"no such key column: $k"))
        val eqIds = keyCols.map(k => curFieldsOf(meta, schema)
          .find(_.name == k).get.id)
        val keyMeta = keyCols.zip(eqIds).map { case (k, id) =>
          k -> new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", id.toLong).build()
        }.toMap
        eqIds -> stageWrite(t, table, "delete-keys",
          keys.select(keyCols.map(k => col(k).cast(schema(k).dataType)
            .as(k, keyMeta(k))): _*).distinct())
      }
      val total = staged.flatMap(_._2).map(_.recordCount).sum
      if (total > 0L)
        commitSnapshot(t, table, Head(hint, meta), Commit("delete",
          staged.filter(_._2.nonEmpty).map { case (eqIds, infos) =>
            AddManifest(2, infos, equalityIds = eqIds)
          })): Unit
      total
    }
  }

  /** CHANGELOG scan — the Iceberg twin of [[DeltaSink.readCdf]]: the
    * row-level changes committed AFTER `sinceSnapshotId`, classified with
    * the standard `_change_type` column (insert / update_preimage /
    * update_postimage / delete) plus `_commit_snapshot_id`. Per snapshot,
    * the change set is reconstructed from the manifest diff vs its
    * predecessor:
    *  - appended data files → their rows as `insert`;
    *  - new POSITIONAL delete files → the erased rows materialized by a
    *    (file, pos) join against ONLY the files the delete rows reference
    *    (cost ∝ the touched files, never the table) as `delete`;
    *  - new EQUALITY delete files (an [[upsert]] snapshot) → the erased
    *    images come from a key semi-join against the predecessor's merged
    *    state (cost: one scan of the predecessor per upsert snapshot —
    *    the honest price of equality-delete changelogs, which is why CDC
    *    consumers should prefer bounded ranges); the snapshot's own new
    *    rows then split into `update_postimage` (key had a pre-image) and
    *    `insert` (it didn't), and the images surface as
    *    `update_preimage`.
    * Snapshots in the range must still be retained (same
    * consume-within-retention contract as every feed here). Scope: the
    * feed covers append / deleteWhere / upsert snapshots; a full
    * OVERWRITE (or a rollback interleaving) surfaces only its added rows
    * — a table rewrite is not a row-level change, re-bootstrap consumers
    * across those instead.
    */
  def readChangelog(spark: SparkSession, table: String,
      sinceSnapshotId: Long,
      store: CommitStore = CommitStore.Local): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val metaSnaps = snapshots(table) // (id, seq, ts) oldest-first
    val fromIdx = metaSnaps.indexWhere(_._1 == sinceSnapshotId)
    require(fromIdx >= 0, s"no snapshot $sinceSnapshotId in $table (expired?)")
    val schema = snapshotEntries(table, Some(sinceSnapshotId)).schema
    val ctField = org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType)
    val outSchema = StructType(schema.fields :+ ctField :+
      org.apache.spark.sql.types.StructField("_commit_snapshot_id",
        org.apache.spark.sql.types.LongType))
    val ct = "_change_type"
    // each snapshot resolves ONCE: pair i's `cur` is carried forward as
    // pair i+1's `prev` (a sliding-pair re-resolution would double the
    // metadata I/O — every resolution reads the manifest list + manifests)
    var prevCarried = snapshotEntries(table, Some(sinceSnapshotId))
    val frames = metaSnaps.drop(fromIdx + 1).flatMap {
      case (curId, _, _) =>
        val prev = prevCarried
        val cur = snapshotEntries(table, Some(curId))
        prevCarried = cur
        val prevPaths = prev.data.map(_.path).toSet
        val dataAdded = cur.data.filterNot(e => prevPaths.contains(e.path))
        val prevDel = prev.deletes.map(_.path).toSet
        val delAdded = cur.deletes.filterNot(d => prevDel.contains(d.path))
        val newRows =
          if (dataAdded.isEmpty) None
          else Some(readEntries(spark, schema, dataAdded,
            curFields = cur.curFields, fileFields = cur.fileFields))
        val posImages: Option[DataFrame] = {
          val (dvDels, pos) = delAdded.filter(_.content == 1)
            .partition(_.dv.isDefined)
          // V3 deletion vectors decode to the NEWLY masked positions —
          // the committed vector minus the file's previous one (vectors
          // are cumulative by the supersede rule). Materializing them is
          // OUTPUT-bounded, not table-bounded: the changelog emits one
          // pre-image row per position anyway.
          val read = (p: String) => store.readObject(Paths.get(p))
          val dvRows: Seq[(String, Long)] = dvDels.flatMap { d =>
            val ref = d.dv.get._1
            val bm = dvBitmap(dvBlob(d), read)
            liveDvs(prev.deletes).get(ref)
              .foreach(p => bm.andNot(dvBitmap(dvBlob(p), read)))
            val it = bm.getLongIterator
            val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
            while (it.hasNext) out += ((ref, it.next()))
            out
          }
          if (pos.isEmpty && dvRows.isEmpty) None
          else {
            import spark.implicits._
            val parquetRows = pos.map(d =>
              spark.read.schema("file_path STRING, pos BIGINT").parquet(d.path))
            val dvFrame =
              if (dvRows.isEmpty) Nil
              else Seq(dvRows.toDF("file_path", "pos"))
            val delRows = (parquetRows ++ dvFrame)
              .reduce(_.unionAll(_))
              .select(DvPlane.stripScheme(col("file_path")).as("_gfd_key"),
                col("pos").as("_gfd_pos"))
            // only the files the delete rows reference are read back
            val touched = delRows.select("_gfd_key").distinct()
              .collect().map(_.getString(0)).toSet
            val touchedEntries = prev.data
              .filter(e => touched.contains(DvPlane.stripScheme(e.path)))
            // each row takes its file's raw key (the delete rows' form)
            // by its file's keys, so an encoded URI still finds its deletes
            Some(DvPlane.attach(
                readEntries(spark, schema, touchedEntries, withLineage = true,
                  curFields = prev.curFields, fileFields = prev.fileFields),
                touchedEntries.map(e => (e.path, Row(DvPlane.stripScheme(e.path)))),
                StructType(Seq(StructField("_gf_key", StringType))),
                "changelog: data row from unmapped file ")
              .join(broadcast(delRows),
                col("_gf_key") === col("_gfd_key") &&
                  col("_gf_pos") === col("_gfd_pos"))
              .select(schema.fieldNames.map(col): _*))
          }
        }
        // Equality deletes classify PER GROUP of distinct equality-id
        // sets: a Flink-CDC-shaped writer with evolving keys can land two
        // delete files with DIFFERENT key sets in one snapshot. Pre-images
        // split off the previous state by first-match-wins over the groups
        // (deterministic order), so a row erased by two groups — say an
        // (id) delete and an (id, src) delete hitting the same row —
        // images exactly ONCE; the same split classifies new rows.
        val eqGroups = delAdded.filter(_.content == 2).groupBy(_.equalityIds)
          .toSeq.sortBy(_._1.mkString(","))
        def curNameOf(id: Int): String =
          cur.curFields.find(_.id == id).map(_.name).getOrElse {
            if (cur.curFields.isEmpty) schema.fields(id - 1).name
            else throw new IllegalStateException(
              s"changelog equality delete references dropped field id $id — " +
                "bound the range before the drop, or compact first")
          }
        val eqInfo: Seq[(DataFrame, Seq[String])] = eqGroups.map {
          case (eqIds, ds) =>
            val keyNames = eqIds.map(curNameOf)
            val keysDf = ds.map(d => readEqDeleteFile(spark, schema, d,
                cur.fileFields.get(d.path), curNameOf))
              .reduce(_.unionAll(_))
            (keysDf, keyNames)
        }
        val classified: Seq[DataFrame] =
          if (eqInfo.nonEmpty) {
            val prevState = readMerged(spark, schema, prev.data, prev.deletes,
              curFields = prev.curFields, fileFields = prev.fileFields)
            var rem = prevState
            val images = eqInfo.map { case (keysDf, keyNames) =>
              val keyed = broadcast(keysDf.select(
                keyNames.map(k => col(k).as(s"_gfe_$k")): _*))
              val cond = keyNames.map(k => rem(k) <=> col(s"_gfe_$k"))
                .reduce(_ && _)
              val matched = rem.join(keyed, cond, "left_semi")
              rem = rem.join(keyed, cond, "left_anti")
              matched
            }
            // new rows: update_postimage when their key-tuple had a
            // pre-image under ANY group's key set (first match wins),
            // insert otherwise
            val newSplit = newRows.toSeq.flatMap { nr =>
              var leftover = nr
              val posts = eqInfo.zip(images).map { case ((_, keyNames), img) =>
                val imageKeys = img.select(
                  keyNames.map(k => col(k).as(s"_gfk_$k")): _*).distinct()
                val cond = keyNames.map(k => leftover(k) <=> col(s"_gfk_$k"))
                  .reduce(_ && _)
                val matched = leftover.join(broadcast(imageKeys), cond, "left_semi")
                leftover = leftover.join(broadcast(imageKeys), cond, "left_anti")
                matched
              }
              posts.map(_.withColumn(ct, lit("update_postimage"))) :+
                leftover.withColumn(ct, lit("insert"))
            }
            // an erased row whose key has a replacement in THIS snapshot
            // is an update pre-image; one without (a delete-only equality
            // snapshot, e.g. [[deleteKeys]]) is a plain delete
            val imageFrames = eqInfo.zip(images).flatMap {
              case ((_, keyNames), img) =>
                newRows match {
                  case Some(nr) =>
                    val nk = broadcast(nr.select(
                      keyNames.map(k => col(k).as(s"_gfn_$k")): _*).distinct())
                    val cond = keyNames.map(k => img(k) <=> col(s"_gfn_$k"))
                      .reduce(_ && _)
                    Seq(
                      img.join(nk, cond, "left_semi")
                        .withColumn(ct, lit("update_preimage")),
                      img.join(nk, cond, "left_anti")
                        .withColumn(ct, lit("delete")))
                  case None => Seq(img.withColumn(ct, lit("delete")))
                }
            }
            imageFrames ++ newSplit
          } else {
            newRows.map(_.withColumn(ct, lit("insert"))).toSeq ++
              posImages.map(_.withColumn(ct, lit("delete"))).toSeq
          }
        // a positional delete inside an upsert snapshot would classify as
        // plain deletes too
        val posExtra = if (eqInfo.nonEmpty)
          posImages.map(_.withColumn(ct, lit("delete"))).toSeq else Nil
        (classified ++ posExtra)
          .map(_.withColumn("_commit_snapshot_id", lit(curId)))
    }.toSeq
    if (frames.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        outSchema)
    else frames.reduce(_.unionByName(_))
  }

  /** (snapshot-id, sequence-number, timestamp-ms) of every snapshot the
    * current metadata retains, oldest first — the discovery surface for
    * [[read]]'s time travel and [[expireSnapshots]]' retention choice.
    */
  def snapshots(table: String): Seq[(Long, Long, Long)] = {
    val meta = head(table).meta
    meta.get("snapshots").elements().asScala.map { s =>
      (s.get("snapshot-id").asLong(), s.get("sequence-number").asLong(),
        s.get("timestamp-ms").asLong())
    }.toSeq.sortBy(_._2)
  }

  /** Retention: keeps the `keepLast` most recent snapshots (always
    * including the current one), commits a new metadata version without
    * the expired ones (IF-NOT-EXISTS put, same OCC protocol as writes),
    * and physically deletes manifests and data files referenced ONLY by
    * expired snapshots. Time travel to an expired snapshot then fails by
    * construction — that's the retention contract. Returns the number of
    * data files deleted.
    */
  def expireSnapshots(table: String, keepLast: Int = 2,
      store: CommitStore = CommitStore.Local): Int = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val Head(hint, meta) = head(table)
    val all = meta.get("snapshots").elements().asScala.map(_.deepCopy[ObjectNode]()).toSeq
      .sortBy(_.get("sequence-number").asLong())
    if (all.size <= keepLast) return 0
    // "keep the newest N" must never expire the CURRENT snapshot (after a
    // rollback the current ref points at an OLD sequence number, and
    // dropping it would brick every read) — NOR any snapshot a named ref
    // (tag/branch, [[createRef]]) still pins: a dangling ref is a read
    // that fails tomorrow for a retention choice made today
    val curId = meta.get("current-snapshot-id").asLong()
    val byIdAll = all.map(n => n.get("snapshot-id").asLong() -> n).toMap
    val nowMs = System.currentTimeMillis()
    def tsOf(id: Long): Long =
      byIdAll.get(id).map(_.get("timestamp-ms").asLong()).getOrElse(Long.MaxValue)
    // refs past their OWN max-ref-age-ms (spec §refs) retire WITH this
    // expiry — their pins release in the same pass; main never expires
    val allRefs: Seq[(String, ObjectNode)] =
      if (!meta.has("refs") || !meta.get("refs").isObject) Nil
      else meta.get("refs").properties().asScala.toSeq
        .map(e => e.getKey -> e.getValue.deepCopy[ObjectNode]())
    val (agedOutRefs, keptRefs) = allRefs.partition { case (n, node) =>
      n != "main" && node.has("max-ref-age-ms") &&
        nowMs - tsOf(node.get("snapshot-id").asLong()) >
          node.get("max-ref-age-ms").asLong()
    }
    // protect each surviving ref head's parent chain — bounded by the
    // ref's OWN branch-retention fields when present (spec §refs:
    // min-snapshots-to-keep / max-snapshot-age-ms); absent fields keep
    // the whole chain (the safe superset), so main-line behavior and
    // fastForward's ancestry walk are unchanged
    def chainOf(id: Long, minKeep: Int, maxAgeMs: Option[Long]): Set[Long] = {
      val out = scala.collection.mutable.Set.empty[Long]
      var cur = Option(id)
      while (cur.isDefined && !out.contains(cur.get) &&
          (out.size < minKeep ||
            maxAgeMs.forall(a => nowMs - tsOf(cur.get) <= a))) {
        out.add(cur.get): Unit
        cur = byIdAll.get(cur.get)
          .flatMap(n => Option(n.get("parent-snapshot-id")).map(_.asLong()))
      }
      out.toSet
    }
    val refIds: Set[Long] = (keptRefs.map { case (_, node) =>
      (node.get("snapshot-id").asLong(),
        Option(node.get("min-snapshots-to-keep")).map(_.asInt()).getOrElse(1),
        Option(node.get("max-snapshot-age-ms")).map(_.asLong()))
    } :+ ((curId, Int.MaxValue, None: Option[Long])))
      .flatMap { case (id, minKeep, maxAge) =>
        // no retention fields at all → whole chain, exactly as before
        if (maxAge.isEmpty) chainOf(id, Int.MaxValue, None)
        else chainOf(id, minKeep, maxAge)
      }.toSet
    val (expired0, kept0) = all.splitAt(all.size - keepLast)
    val (expCur, expired) = expired0.partition(s =>
      refIds.contains(s.get("snapshot-id").asLong()))
    val kept = expCur ++ kept0
    // an aged-out ref must still commit its removal even when no snapshot
    // expires this pass (its pin would otherwise survive forever)
    if (expired.isEmpty && agedOutRefs.isEmpty) return 0

    val (keptFiles, expFiles) = snapshotFiles(table, kept ++ expired).splitAt(kept.size)
    val (keptMeta, keptData) = unionFiles(keptFiles)
    val (expMeta, expData) = unionFiles(expFiles)

    // dual-format guard, resolved BEFORE the metadata commit: on a
    // converted table the DELTA log may still reference files every kept
    // Iceberg snapshot has retired — they are not reclaimable (mirror of
    // DeltaSink.vacuum's icebergLive guard). The active-session
    // requirement must also fail HERE: failing after the pruned metadata
    // committed would leave the expiry half-done (history gone, data
    // files unreclaimed forever).
    val deltaLive: Set[String] =
      if (!Files.exists(Paths.get(table, "_delta_log"))) Set.empty
      else org.apache.spark.sql.SparkSession.getActiveSession match {
        // EVERY Delta-logged path, tombstones included — a file inside
        // vacuum's retention still serves Delta time travel/restore
        case Some(s) => DeltaSink.allReferencedFiles(s, table)
          .map(rel => new File(table, rel).getAbsolutePath)
        case None => throw new IllegalStateException(
          "expiring a dual-format table needs an active SparkSession " +
            "to read the Delta plane's reference set")
      }

    // rewrite metadata without the expired snapshots (and without the
    // refs whose max-ref-age-ms lapsed — their pins release here)
    val newMeta = meta.deepCopy[ObjectNode]()
    if (agedOutRefs.nonEmpty) {
      val refsNode = newMeta.get("refs").asInstanceOf[ObjectNode]
      agedOutRefs.foreach { case (n, _) => refsNode.remove(n): Unit }
    }
    val arr = newMeta.putArray("snapshots")
    kept.foreach(arr.add)
    // a statistics registration computed at an expired snapshot names a
    // snapshot that no longer exists: it leaves with it, file and all
    val expiredIds = expired.map(_.get("snapshot-id").asLong()).toSet
    val deadStats = Seq("statistics", "partition-statistics").flatMap { key =>
      val (gone, live) = newMeta.path(key).elements().asScala.toSeq
        .partition(e => expiredIds.contains(e.get("snapshot-id").asLong()))
      if (gone.nonEmpty) newMeta.putArray(key).addAll(live.asJava): Unit
      gone.map(e => abs(table, e.get("statistics-path").asText()))
    }
    commitMetadata(table, store, hint, newMeta)
    def unlink(p: String): Unit = store.deleteObject(Paths.get(p))
    (expMeta -- keptMeta).foreach(unlink)
    deadStats.foreach(unlink)
    val deadData = expData -- keptData -- deltaLive
    deadData.foreach(unlink)
    deadData.size
  }

  /** REMOVE ORPHAN FILES — the crash-janitor verb ([[expireSnapshots]]
    * reclaims what RETIRED snapshots referenced; this reclaims what NO
    * snapshot ever did): parquet under the table location and Avro under
    * metadata/ that none of the current metadata's snapshots reference
    * and that is older than `olderThanMs` (a writer mid-stage has fresh
    * mtimes — the age gate is what makes the sweep safe to run next to
    * live commits, same contract as Spark's remove_orphan_files). On a
    * DUAL-FORMAT table ([[convertFromDelta]]), the Delta log's live files
    * are counted as referenced too — a Delta append the Iceberg view
    * hasn't absorbed yet is not an orphan. Cost is one listing + the
    * metadata tree, never a data read. Returns the reclaimed paths.
    */
  def removeOrphanFiles(spark: SparkSession, table: String,
      olderThanMs: Long = 3L * 24 * 3600 * 1000,
      store: CommitStore = CommitStore.Local): Seq[String] = {
    val (metaRefs, dataRefs) = unionFiles(snapshotFiles(table,
      head(table).meta.get("snapshots").elements().asScala.toSeq))
    // dual-format guard: EVERY path the Delta log ever added — a
    // tombstone inside vacuum's retention window still serves time
    // travel/restore and is not an orphan (DeltaSink.vacuum owns it)
    val deltaRefs: Set[String] =
      if (Files.exists(Paths.get(table, "_delta_log")))
        DeltaSink.allReferencedFiles(spark, table)
          .map(rel => new File(table, rel).getAbsolutePath)
      else Set.empty
    val referenced = metaRefs ++ dataRefs ++ deltaRefs
    val cutoff = System.currentTimeMillis() - olderThanMs
    val root = new File(table)
    // LISTING is the sweep's real cost at 100 TB (the referenced set and
    // the per-key decision are metadata-cheap): a store-backed table
    // lists through the store protocol — ONE recursive ListObjectsV2-
    // shaped call whose pages already carry LastModified, because a real
    // bucket has no local File.walk — and a local table walks the tree.
    // For a tree too large for one listing, shard the sweep: each key's
    // verdict is independent (name, mtime, membership in `referenced`),
    // so parallel sweeps over partition-directory prefixes compose —
    // the same contract as distributed remove_orphan_files.
    // Delta-plane artifacts have their own janitors (DeltaSink.vacuum).
    val skipDirs = Set("_delta_log", "_change_data", DeltaSink.DvPrefix)
    val rootPath = root.toPath.toAbsolutePath.normalize()
    val candidates: Seq[(File, Long)] =
      store.listPrefixMeta(rootPath).flatMap { case (p, mtime) =>
        val rel = rootPath.relativize(p.toAbsolutePath.normalize())
        val dirSegs = (0 until rel.getNameCount - 1).map(rel.getName(_).toString)
        if (dirSegs.exists(skipDirs.contains)) None
        else Some((p.toFile, mtime))
      }
    val orphans = candidates.filter { case (f, mtime) =>
      val name = f.getName
      val sweepable =
        if (f.getParentFile.getName == "metadata")
          name.endsWith(".avro") // never metadata JSONs or the version hint
        else name.endsWith(".parquet")
      sweepable && mtime < cutoff && !referenced.contains(f.getAbsolutePath)
    }
    orphans.map { case (f, _) => store.deleteObject(f.toPath); f.getAbsolutePath }
  }

  /** Inventory for [[DeltaSink.convertFromIceberg]]: (schema, identity
    * partition sources, entries as (absPath, typedPartitionValues,
    * recordCount)). Refuses the shapes Delta cannot express: transform
    * (hidden) partitioning, partition-evolved mixed layouts, and live
    * merge-on-read delete files.
    */
  private[sinks] def inventoryForConvert(table: String)
      : (StructType, Seq[String], Seq[(String, Map[String, Any], Long)]) = {
    val snap = snapshotEntries(table, None)
    val specs = storedSpecsOf(snap.head.meta)
    require(specs.size == 1, "partition-evolved Iceberg tables do not " +
      "convert to Delta (mixed per-file layouts); compact first")
    val default = specs.head._2
    require(default.forall(_.transform == "identity"),
      "hidden (transform) partitioning has no Delta equivalent")
    require(snap.deletes.isEmpty,
      "merge-on-read delete files do not convert to Delta; compact first")
    (snap.schema, default.map(_.name),
      snap.data.map(e => (e.path, e.pvals, e.recordCount)))
  }

  /** EVERY data file any snapshot of the current metadata references —
    * the protection set the Delta-plane janitor (vacuum) honors on a
    * dual-format table; empty when the table carries no Iceberg metadata.
    */
  private[sinks] def referencedDataFiles(table: String): Set[String] =
    headOption(table).toSeq.flatMap(h => snapshotFiles(table,
      h.meta.get("snapshots").elements().asScala.toSeq)).flatMap(_._2).toSet

  /** The reference walk behind expiry, orphan removal and the vacuum
    * guard: per snapshot, (its manifest list and manifests, the files
    * their live entries name — data and delete files alike). Each
    * distinct manifest is opened once however many snapshots share it.
    */
  private def snapshotFiles(table: String,
      snaps: Seq[com.fasterxml.jackson.databind.JsonNode])
      : Seq[(Set[String], Set[String])] = {
    val lists = snaps.map(s => abs(table, s.get("manifest-list").asText()))
    val refsByList = lists.distinct.map(l => l -> manifestRefs(table, l)).toMap
    val filesByManifest = refsByList.values.flatten.toSeq.distinctBy(_.path)
      .map(r => r.path -> readManifest(table, r).entries.map(_.path)).toMap
    lists.map { l =>
      val manifests = refsByList(l).map(_.path)
      (manifests.toSet + l, manifests.flatMap(filesByManifest).toSet)
    }
  }

  private def unionFiles(files: Seq[(Set[String], Set[String])])
      : (Set[String], Set[String]) =
    (files.flatMap(_._1).toSet, files.flatMap(_._2).toSet)

  /** The table head: the version the hint names and that version's
    * parsed metadata JSON.
    */
  private[sinks] case class Head(version: Long,
      meta: com.fasterxml.jackson.databind.JsonNode)

  /** THE read of the table head (version hint → `vN.metadata.json` →
    * parse) every verb starts from; None when the table carries no
    * Iceberg metadata. The hint is a floor, as in Hadoop-catalog tables:
    * the head is the newest `vN.metadata.json` from it on, so a claim
    * that landed before its hint put failed is what readers and writers
    * see (a missing hint probes from v0). The probe stops at a version
    * that does not parse — a claim a store without atomic puts is still
    * writing, or one whose writer died mid-put: the head is the last
    * complete version, and a claim past it conflicts like any lost race.
    */
  private[sinks] def headOption(table: String): Option[Head] = {
    val f = hintFile(table)
    val floor =
      if (Files.exists(f)) Some(Files.readString(f).trim.toLong)
      else Some(0L).filter(v => Files.exists(metaFile(table, v)))
    def complete(v: Long) = {
      val m = metaFile(table, v)
      if (!Files.exists(m)) None
      else scala.util.Try(mapper.readTree(Files.readString(m))).toOption.filter(_.isObject)
    }
    @scala.annotation.tailrec
    def probe(h: Head): Head = complete(h.version + 1) match {
      case Some(meta) => probe(Head(h.version + 1, meta))
      case None => h
    }
    floor.map(v => probe(Head(v, mapper.readTree(Files.readString(metaFile(table, v))))))
  }

  private[sinks] def head(table: String): Head = headOption(table).getOrElse(
    throw new IllegalArgumentException(
      s"not an Iceberg table (no version-hint.text): $table"))

  /** The declared Spark schema a table metadata JSON carries. */
  private[sinks] def sparkSchemaOf(
      meta: com.fasterxml.jackson.databind.JsonNode): StructType =
    DataType.fromJson(meta.get("properties").get("graft.spark-schema").asText())
      .asInstanceOf[StructType]

  /** The manifest list of snapshot `snapshotId` (default: the current
    * one) in `meta`; None when no such snapshot is retained.
    */
  private[sinks] def manifestListOf(meta: com.fasterxml.jackson.databind.JsonNode,
      snapshotId: Option[Long] = None): Option[String] = {
    val id = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == id)
      .map(_.get("manifest-list").asText())
  }

  /** Paths inside Avro records are absolute (the spec stores full
    * locations, as the reference's target_url-based paths do); the
    * metadata JSON's manifest-list pointers stay table-relative so a
    * relocated table still resolves its own current state.
    */
  private[sinks] def abs(table: String, p: String): String =
    if (p.startsWith("/")) p else new File(table, p).getAbsolutePath

  private[sinks] def requireAvro(p: String): String = {
    // pre-Avro tables wrote manifest-list-*.json; surface a diagnosable
    // error instead of DataFileReader's raw "Not an Avro data file"
    require(!p.endsWith(".json"),
      s"legacy JSON manifest '$p': this table predates Avro manifests — rewrite it with overwrite")
    p
  }

  /** (path, V2 content code, sequence number) of every manifest_file row
    * in a manifest list — the read planner's split between data manifests
    * (content 0) and positional-delete manifests (content 1).
    */
  private[sinks] case class ManifestRef(path: String, content: Int, seq: Long)
  private[sinks] def manifestRefs(table: String, listPath: String): Seq[ManifestRef] =
    IcebergAvro.readManifestList(new File(requireAvro(abs(table, listPath))))
      .map(manifestRefOf)

  private def manifestRefOf(r: org.apache.avro.generic.GenericRecord): ManifestRef =
    ManifestRef(r.get("manifest_path").toString,
      r.get("content").asInstanceOf[Int],
      r.get("sequence_number").asInstanceOf[Long])

  /** The manifest a list row references, its entries' sequences
    * inherited from that row.
    */
  private[sinks] def readManifest(table: String, r: ManifestRef): IcebergAvro.Manifest =
    IcebergAvro.readManifest(new File(requireAvro(abs(table, r.path))), r.seq)
}
