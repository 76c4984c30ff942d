package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sinks.{CommitStore, DeltaSink, IcebergSink, IcebergStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sink e2e tests porting the reference's layout assertions:
  * Delta two-commit create shape (tests/basic_integration.rs:48-58) and
  * Iceberg version-hint/metadata layout, re-create refusal, schema gate,
  * append sequence (tests/basic_integration.rs:67-218).
  */
class SinkSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def tmp(): String = Files.createTempDirectory("graft-sink").toString

  private def sampleDf = {
    val s = spark
    import s.implicits._
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "name", "v")
  }

  test("Delta create writes the exact two-commit log layout") {
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    val logs = new File(table, "_delta_log").listFiles().map(_.getName).sorted
    // the reference asserts exactly …0.json and …1.json (basic_integration.rs:48-58)
    assert(logs.toSeq == Seq("00000000000000000000.json", "00000000000000000001.json"))
    val v0 = Files.readString(Paths.get(table, "_delta_log", logs(0)))
    assert(v0.contains(""""minReaderVersion":1""") && v0.contains(""""minWriterVersion":1"""))
    assert(v0.contains("metaData"))
    val v1 = Files.readString(Paths.get(table, "_delta_log", logs(1)))
    assert(v1.contains(""""add""""))
    assert(v1.contains("numRecords"))
    val parquets = new File(table).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parquets.nonEmpty)
  }

  test("Delta refuses non-empty target without overwrite, overwrites with it") {
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    assert(!DeltaSink.write(sampleDf.limit(1), table)) // refused, untouched
    assert(DeltaSink.read(spark, table).count() == 3)
    assert(DeltaSink.write(sampleDf.limit(1), table, overwrite = true))
    assert(DeltaSink.read(spark, table).count() == 1)
  }

  test("Delta read-back equals the written frame") {
    val table = tmp()
    DeltaSink.write(sampleDf, table)
    val back = DeltaSink.read(spark, table)
    // nullable-by-default contract (SURVEY.md §1.2): names and types match,
    // every column surfaces as nullable
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      sampleDf.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.schema.fields.forall(_.nullable))
    assert(back.orderBy("id").collect().toSeq == sampleDf.orderBy("id").collect().toSeq)
  }

  test("Delta file splitting mirrors the reference's batch-split shape") {
    // the reference proves 25,001 rows split 10000/10000/5001 at
    // batch_size=10000 (tests/basic_integration.rs:220-241); same semantic
    // here: 2,500 rows at maxRecordsPerFile=1000 → files of 1000/1000/500
    val s = spark
    import s.implicits._
    val table = tmp()
    val df = (1 to 2500).map(i => (i.toLong, s"r$i")).toDF("id", "name").coalesce(1)
    assert(DeltaSink.write(df, table, maxRecordsPerFile = 1000))
    val counts = Files.readAllLines(Paths.get(table, "_delta_log",
        "00000000000000000001.json"))
      .toArray.map(_.toString)
      .filter(_.contains("numRecords"))
      .map(l => "\\\\\"numRecords\\\\\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
      .sorted
    assert(counts.toSeq == Seq(500L, 1000L, 1000L))
    assert(DeltaSink.read(spark, table).count() == 2500)
  }

  test("Iceberg create writes v0.metadata.json + version-hint.text") {
    val table = tmp()
    IcebergSink.write(sampleDf, table, IcebergSink.CreateExclusive)
    // layout per tests/basic_integration.rs:97-108
    assert(Files.exists(Paths.get(table, "metadata", "v0.metadata.json")))
    assert(Files.readString(Paths.get(table, "metadata", "version-hint.text")).trim == "0")
    assert(IcebergSink.read(spark, table).count() == 3)
  }

  test("Iceberg create on existing table errors without overwrite") {
    val table = tmp()
    IcebergSink.write(sampleDf, table, IcebergSink.CreateExclusive)
    val e = intercept[IllegalStateException] {
      IcebergSink.write(sampleDf, table, IcebergSink.CreateExclusive)
    }
    assert(e.getMessage.contains("Table exists"))
  }

  test("Iceberg manifests are genuine V2 Avro with real row counts") {
    val table = tmp()
    IcebergSink.write(sampleDf, table, IcebergSink.CreateExclusive)
    val metaDir = new File(table, "metadata")
    val listFile = metaDir.listFiles().find(_.getName.startsWith("manifest-list-")).get
    val manifestFile = metaDir.listFiles()
      .find(f => f.getName.startsWith("manifest-") && !f.getName.startsWith("manifest-list-")).get
    assert(listFile.getName.endsWith(".avro") && manifestFile.getName.endsWith(".avro"))
    // manifest list: one manifest_file row with accurate length/counts
    val rows = graft.sinks.IcebergAvro.readManifestList(listFile)
    assert(rows.size == 1)
    val row = rows.head
    assert(row.get("manifest_path").toString == manifestFile.getAbsolutePath)
    assert(row.get("manifest_length").asInstanceOf[Long] == manifestFile.length())
    assert(row.get("added_rows_count").asInstanceOf[Long] == 3L)
    assert(row.get("sequence_number").asInstanceOf[Long] == 1L)
    // manifest: ADDED entries with real parquet row counts, required V2
    // key metadata present and readable by a stock Avro reader
    val files = graft.sinks.IcebergAvro.readManifest(manifestFile)
      .entries.map(e => (e.path, e.recordCount))
    assert(files.map(_._2).sum == 3L)
    files.foreach { case (p, _) => assert(new File(p).isFile) }
    val r = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      manifestFile, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try {
      assert(r.getMetaString("format-version") == "2")
      assert(r.getMetaString("content") == "data")
      assert(r.getMetaString("partition-spec-id") == "0")
      assert(r.getMetaString("schema").contains(""""name":"id""""))
    } finally r.close()
  }

  test("Iceberg manifest column stats round-trip with spec binary bounds") {
    val s = spark
    import s.implicits._
    val table = tmp()
    // a null in `name` so null_value_counts has something to say
    val df = Seq((1L, Option("a"), 1.5), (2L, None, 2.5), (3L, Option("c"), 3.5))
      .toDF("id", "name", "v")
    IcebergSink.write(df, table, IcebergSink.CreateExclusive)
    val metaDir = new File(table, "metadata")
    val manifestFile = metaDir.listFiles()
      .find(f => f.getName.startsWith("manifest-") && !f.getName.startsWith("manifest-list-")).get
    val stats = graft.sinks.IcebergAvro.readManifest(manifestFile)
      .entries.map(e => e.path -> e.stats)
    assert(stats.nonEmpty)
    // field ids are positional: id=1, name=2, v=3
    val agg = stats.map(_._2)
    assert(agg.map(_.valueCounts.getOrElse(1, 0L)).sum == 3L)
    assert(agg.map(_.valueCounts.getOrElse(2, 0L)).sum == 3L)
    assert(agg.map(_.nullCounts.getOrElse(2, 0L)).sum == 1L)
    assert(agg.map(_.nullCounts.getOrElse(1, 0L)).sum == 0L)
    def leLong(b: Array[Byte]) =
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    def leDouble(b: Array[Byte]) =
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble
    // bounds across all files must bracket the data per the spec encoding
    assert(agg.flatMap(_.lowerBounds.get(1)).map(leLong).min == 1L)
    assert(agg.flatMap(_.upperBounds.get(1)).map(leLong).max == 3L)
    assert(agg.flatMap(_.lowerBounds.get(3)).map(leDouble).min == 1.5)
    assert(agg.flatMap(_.upperBounds.get(3)).map(leDouble).max == 3.5)
    val nameLowers = agg.flatMap(_.lowerBounds.get(2)).map(new String(_, "UTF-8"))
    assert(nameLowers.min == "a")
    val nameUppers = agg.flatMap(_.upperBounds.get(2)).map(new String(_, "UTF-8"))
    assert(nameUppers.max == "c")
  }

  test("Iceberg append bumps version/sequence and keeps previous data") {
    val table = tmp()
    IcebergSink.write(sampleDf, table, IcebergSink.CreateExclusive)
    IcebergSink.write(sampleDf.withColumn("v", col("v") * 2), table, IcebergSink.Append)
    assert(Files.readString(Paths.get(table, "metadata", "version-hint.text")).trim == "1")
    assert(Files.exists(Paths.get(table, "metadata", "v1.metadata.json")))
    assert(IcebergSink.read(spark, table).count() == 6)
    val meta = new String(Files.readAllBytes(Paths.get(table, "metadata", "v1.metadata.json")))
    assert(meta.contains(""""last-sequence-number":2"""))
  }

  test("Iceberg overwrite replaces visible data") {
    val table = tmp()
    IcebergSink.write(sampleDf, table, IcebergSink.CreateExclusive)
    IcebergSink.write(sampleDf.limit(1), table, IcebergSink.Overwrite)
    assert(IcebergSink.read(spark, table).count() == 1)
  }

  test("Iceberg append with incompatible schema is rejected by the gate") {
    val table = tmp()
    IcebergSink.write(sampleDf, table, IcebergSink.CreateExclusive)
    val bad = sampleDf.withColumn("v", col("v").cast("string"))
    val e = intercept[IllegalArgumentException] {
      IcebergSink.write(bad, table, IcebergSink.Append)
    }
    assert(e.getMessage.contains("incompatible"))
    // positionally-renamed columns are fine (reference renamed-positive case)
    IcebergSink.write(
      sampleDf.toDF("id2", "name2", "v2"), table, IcebergSink.Append)
  }

  test("Iceberg OCC conflict raises after bounded retries") {
    val table = tmp()
    IcebergSink.write(sampleDf, table, IcebergSink.CreateExclusive)
    // A concurrent writer wins every version this one claims: right before
    // each claim a real append commits that version, so every attempt
    // re-reads the head, re-plans, and loses the IF-NOT-EXISTS put again
    // (lib.rs:168-196 shape).
    val alwaysLoses = new CommitStore {
      override def putIfAbsent(t: java.nio.file.Path, b: Array[Byte]): Unit = {
        IcebergSink.write(sampleDf, table, IcebergSink.Append)
        CommitStore.Local.putIfAbsent(t, b)
      }
    }
    intercept[IcebergSink.OptimisticConcurrencyException] {
      IcebergSink.writeWithRetry(sampleDf, table, IcebergSink.Append, store = alwaysLoses)
    }
    // the winners' commits all landed, the loser's none
    assert(IcebergSink.read(spark, table).count() == 3L * 5)
  }

  test("Iceberg head read stops at a metadata version still being written") {
    val table = tmp()
    IcebergSink.write(sampleDf, table, IcebergSink.CreateExclusive)
    IcebergSink.write(sampleDf, table, IcebergSink.Append)
    val next = Paths.get(table, "metadata", "v2.metadata.json")
    // a claim visible before its bytes: empty, then a partial prefix
    Seq("", "{\"format-version\":2,\"table-").foreach { partial =>
      Files.writeString(next, partial)
      assert(IcebergSink.read(spark, table).count() == 6)
      assert(IcebergSink.snapshots(table).size == 2)
      // a writer's claim of that version loses like any race
      intercept[IcebergSink.OptimisticConcurrencyException] {
        IcebergSink.write(sampleDf, table, IcebergSink.Append)
      }
    }
    Files.delete(next)
    IcebergSink.write(sampleDf, table, IcebergSink.Append)
    assert(IcebergSink.read(spark, table).count() == 9)
  }

  test("Iceberg OCC: three concurrent appenders all commit through retries") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val table = tmp()
    IcebergSink.write(sampleDf, table, IcebergSink.CreateExclusive)
    // 3 writers race on the IF-NOT-EXISTS metadata put; each loses at most
    // 2 races, under the 3-retry bound (lib.rs:82), so ALL must succeed.
    val writers = (1 to 3).map { i =>
      Future {
        val s = spark
        import s.implicits._
        IcebergSink.writeWithRetry(
          Seq((100L + i, s"w$i", i.toDouble)).toDF("id", "name", "v"),
          table, IcebergSink.Append)
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(IcebergSink.read(spark, table).count() == 3 + 3)
    val hint = Files.readString(Paths.get(table, "metadata", "version-hint.text")).trim.toInt
    assert(hint == 3) // v0 create + three append commits
  }

  test("write-mode resolution matches the reference flag matrix") {
    assert(IcebergSink.resolveMode(overwrite = false, append = false) == IcebergSink.CreateExclusive)
    assert(IcebergSink.resolveMode(overwrite = true, append = false) == IcebergSink.Overwrite)
    assert(IcebergSink.resolveMode(overwrite = false, append = true) == IcebergSink.Append)
    intercept[IllegalArgumentException] {
      IcebergSink.resolveMode(overwrite = true, append = true)
    }
  }

  test("Delta append commits one new version; time travel reads old snapshots") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    assert(DeltaSink.latestVersion(table) == 1L)
    val v2 = DeltaSink.append(Seq((4L, "d", 4.5)).toDF("id", "name", "v"), table)
    assert(v2 == 2L)
    val v3 = DeltaSink.append(Seq((5L, "e", 5.5)).toDF("id", "name", "v"), table)
    assert(v3 == 3L)
    assert(DeltaSink.read(spark, table).count() == 5)
    // snapshot isolation: version 1 = the original 3 rows; version 2 = 4 rows
    assert(DeltaSink.read(spark, table, asOfVersion = Some(1L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(DeltaSink.read(spark, table, asOfVersion = Some(2L)).count() == 4)
  }

  test("Delta append enforces the positional schema gate") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    val bad = Seq((9L, "x")).toDF("id", "name") // wrong field count
    val e = intercept[IllegalArgumentException] {
      DeltaSink.append(bad, table)
    }
    assert(e.getMessage.contains("incompatible"))
  }

  test("Delta OCC: three concurrent appenders all commit distinct versions") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val versions = Await.result(Future.sequence((10 to 12).map { i =>
      Future(DeltaSink.append(Seq((i.toLong, s"u$i", i.toDouble)).toDF("id", "name", "v"), table))
    }), 2.minutes)
    assert(versions.toSet.size == 3 && versions.forall(_ >= 2))
    assert(DeltaSink.read(spark, table).count() == 6)
  }

  test("Delta OCC under delayed visibility: appenders advance past invisible commits") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    // one store instance = one bucket: the claims registry is the
    // authoritative key space every writer shares
    val store = new graft.sinks.CommitStore.DelayedVisibilityLocal(150)
    // Sequential appends faster than the visibility delay: each append's
    // LISTING still shows version 1, so without the AlreadyExists⇒minNext
    // floor every append after the first would burn its retries re-claiming
    // version 2. With it: v2, then conflict→v3, then conflict→conflict→v4.
    val v1 = DeltaSink.append(Seq((10L, "u10", 10.0)).toDF("id", "name", "v"), table, store = store)
    val v2 = DeltaSink.append(Seq((11L, "u11", 11.0)).toDF("id", "name", "v"), table, store = store)
    val v3 = DeltaSink.append(Seq((12L, "u12", 12.0)).toDF("id", "name", "v"), table, store = store)
    assert(Seq(v1, v2, v3) == Seq(2L, 3L, 4L))
    store.awaitVisible()
    assert(DeltaSink.latestVersion(table) == 4L)
    assert(DeltaSink.read(spark, table).count() == 6)
  }

  test("Delta merge OCC under delayed visibility: invisible commit still conflicts, rerun lands") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    val store = new graft.sinks.CommitStore.DelayedVisibilityLocal(150)
    // an append this store has ACCEPTED but not yet materialized: merge's
    // replay cannot see it, yet the strongly-consistent conditional put
    // must still refuse the merge's claim of the same version
    DeltaSink.append(Seq((9L, "raced", 0.0)).toDF("id", "name", "v"), table, store = store)
    val source = Seq((1L, "updated", 5.0)).toDF("id", "name", "v")
    val e = intercept[IllegalStateException](
      DeltaSink.merge(spark, table, source, Seq("id"), store = store))
    assert(e.getMessage.contains("re-run the merge"))
    store.awaitVisible()
    // once visible, the re-run merges on the newer snapshot and keeps the
    // raced append
    val (rw, _, _) = DeltaSink.merge(spark, table, source, Seq("id"), store = store)
    assert(rw >= 1)
    store.awaitVisible()
    val out = DeltaSink.read(spark, table)
    assert(out.filter(col("name") === "updated").count() == 1)
    assert(out.filter(col("name") === "raced").count() == 1)
  }

  test("entry() flagship: Q1 through Delta and back") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("sum_disc_price"))
  }

  test("Delta partitioned write: layout, partitionValues, typed read-back") {
    val s = spark
    import s.implicits._
    val table = tmp()
    val df = Seq((1L, "en", 1.5), (2L, "en", 2.5), (3L, "de", 3.5), (4L, null, 9.0))
      .toDF("id", "lang", "v")
    assert(DeltaSink.write(df, table, partitionBy = Seq("lang")))
    // Hive-style partition dirs on disk
    val dirs = new File(table).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.contains("lang=en") && dirs.contains("lang=de"))
    // metaData declares the partition column; adds carry partitionValues
    val v0 = Files.readString(Paths.get(table, "_delta_log", "00000000000000000000.json"))
    assert(v0.contains(""""partitionColumns":["lang"]"""))
    val v1 = Files.readString(Paths.get(table, "_delta_log", "00000000000000000001.json"))
    assert(v1.contains(""""lang":"en"""") && v1.contains(""""lang":"de""""))
    // read-back restores partition column with declared type and order
    val back = DeltaSink.read(spark, table)
    assert(back.schema.fieldNames.toSeq == Seq("id", "lang", "v"))
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, null)))
  }

  test("Delta partitioned read prunes partitions at planning time") {
    val s = spark
    import s.implicits._
    val table = tmp()
    val df = (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "en" else "de", i * 1.0))
      .toDF("id", "lang", "v")
    assert(DeltaSink.write(df, table, partitionBy = Seq("lang")))
    val q = DeltaSink.read(spark, table).filter(col("lang") === "en")
    assert(q.count() == 50)
    // the filter lands in the scan's PartitionFilters, not a post-scan Filter
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
    val scans = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty))
  }

  test("Delta partitioned append respects the table layout") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(
      Seq((1L, "en", 1.0)).toDF("id", "lang", "v"), table, partitionBy = Seq("lang")))
    DeltaSink.append(Seq((2L, "fr", 2.0)).toDF("id", "lang", "v"), table)
    assert(new File(table, "lang=fr").isDirectory)
    val back = DeltaSink.read(spark, table)
    assert(back.count() == 2)
    assert(back.filter(col("lang") === "fr").select("id").head().getLong(0) == 2L)
  }

  test("Delta checkpoint: reader starts from the parquet snapshot, time travel intact") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    (4 to 8).foreach { i =>
      DeltaSink.append(Seq((i.toLong, s"r$i", i * 1.0)).toDF("id", "name", "v"), table)
    }
    val v = DeltaSink.checkpoint(spark, table)
    assert(v == DeltaSink.latestVersion(table))
    assert(Files.exists(Paths.get(table, "_delta_log", f"$v%020d.checkpoint.parquet")))
    assert(Files.readString(Paths.get(table, "_delta_log", "_last_checkpoint"))
      .contains(s""""version":$v"""))
    // post-checkpoint read = full state; appends after checkpoint replay on top
    assert(DeltaSink.read(spark, table).count() == 8)
    DeltaSink.append(Seq((99L, "z", 0.0)).toDF("id", "name", "v"), table)
    assert(DeltaSink.read(spark, table).count() == 9)
    // time travel to a pre-checkpoint version still replays the JSON log
    assert(DeltaSink.read(spark, table, asOfVersion = Some(2L)).count() == 4)
  }

  test("Delta auto-checkpoint fires at the CheckpointInterval append") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table)) // versions 0, 1
    (1 to (DeltaSink.CheckpointInterval - 1)).foreach { i =>
      DeltaSink.append(Seq((100L + i, s"a$i", 0.1)).toDF("id", "name", "v"), table)
    } // last append commits version CheckpointInterval
    assert(Files.exists(Paths.get(table, "_delta_log", "_last_checkpoint")))
  }

  test("Iceberg snapshot time travel reads older manifest lists") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(sampleDf, table, IcebergSink.CreateExclusive)
    IcebergSink.writeWithRetry(Seq((4L, "d", 4.5)).toDF("id", "name", "v"),
      table, IcebergSink.Append)
    val snaps = IcebergSink.snapshots(table)
    assert(snaps.length == 2 && snaps.map(_._2) == Seq(1L, 2L))
    // current = 4 rows; time travel to the first snapshot = 3
    assert(IcebergSink.read(spark, table).count() == 4)
    assert(IcebergSink.read(spark, table, Some(snaps.head._1)).count() == 3)
  }

  test("Iceberg incremental append scan: current-minus-pinned file diff (r11)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(sampleDf, table, IcebergSink.CreateExclusive)
    val s0 = IcebergSink.snapshots(table).last._1
    IcebergSink.writeWithRetry(Seq((4L, "d", 4.5)).toDF("id", "name", "v"),
      table, IcebergSink.Append)
    val s1 = IcebergSink.snapshots(table).last._1
    IcebergSink.writeWithRetry(Seq((5L, "e", 5.5)).toDF("id", "name", "v"),
      table, IcebergSink.Append)
    // consumer checkpointed at s0: both appends; at s1: only the last;
    // at current: empty (nothing new). Appends carry prior manifests
    // forward, so the diff must NOT re-emit the bootstrap rows.
    def ids(since: Long) = IcebergSink.readAppendedSince(spark, table, since)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(s0) == Seq(4L, 5L))
    assert(ids(s1) == Seq(5L))
    assert(ids(IcebergSink.snapshots(table).last._1).isEmpty)
  }

  test("Iceberg rollback: metadata-only undo, continue-loading, expiry keeps current (r11)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(sampleDf, table, IcebergSink.CreateExclusive)
    val s0 = IcebergSink.snapshots(table).last._1
    IcebergSink.writeWithRetry(Seq((4L, "d", 4.5)).toDF("id", "name", "v"),
      table, IcebergSink.Append)
    val s1 = IcebergSink.snapshots(table).last._1
    IcebergSink.rollback(table, s0)
    // current = the pinned snapshot; the undone one still time-travels
    assert(IcebergSink.read(spark, table).count() == 3)
    assert(IcebergSink.read(spark, table, Some(s1)).count() == 4)
    // rollback to the state the table is in is a no-op (no new version)
    val hint = IcebergSink.snapshots(table).length
    IcebergSink.rollback(table, s0)
    assert(IcebergSink.snapshots(table).length == hint)
    // continue loading after the undo: the append carries forward s0's
    // manifests, not the rolled-back s1's
    IcebergSink.writeWithRetry(Seq((9L, "z", 9.9)).toDF("id", "name", "v"),
      table, IcebergSink.Append)
    assert(IcebergSink.read(spark, table).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 9L))
    // retention never expires the current snapshot, even when a rollback
    // made it an old sequence number
    IcebergSink.rollback(table, s0)
    IcebergSink.expireSnapshots(table, keepLast = 1)
    assert(IcebergSink.read(spark, table).count() == 3)
  }

  test("Iceberg positional delete (V2 merge-on-read): round-trip, snapshot continuity, idempotency") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry((1L to 50L).map(i => (i, s"n$i")).toDF("id", "name"),
      table, IcebergSink.CreateExclusive)
    IcebergSink.writeWithRetry((51L to 100L).map(i => (i, s"n$i")).toDF("id", "name"),
      table, IcebergSink.Append)
    val preDelete = IcebergSink.snapshots(table).last._1

    val n1 = IcebergSink.deleteWhere(spark, table, "id % 10 = 0")
    assert(n1 == 10L)
    val ids = IcebergSink.read(spark, table).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.length == 90 && !ids.exists(_ % 10 == 0))
    // pre-delete snapshot unaffected (the q_iceberg_delete bad_travels gate)
    assert(IcebergSink.read(spark, table, Some(preDelete)).count() == 100)

    // delete-manifest round-trip: the new list carries a content=1 row and
    // the delete parquet holds (file_path, pos) sorted, paths = manifest paths
    val meta = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(Files.readString(Paths.get(table, "metadata",
        s"v${Files.readString(Paths.get(table, "metadata", "version-hint.text")).trim}.metadata.json")))
    val listRel = meta.get("snapshots").elements().asScala.toSeq
      .find(_.get("snapshot-id").asLong() == meta.get("current-snapshot-id").asLong())
      .get.get("manifest-list").asText()
    val rows = graft.sinks.IcebergAvro.readManifestList(new File(table, listRel))
    assert(rows.count(_.get("content").asInstanceOf[Int] == 1) == 1)
    assert(rows.count(_.get("content").asInstanceOf[Int] == 0) == 2)
    val delManifest = rows.find(_.get("content").asInstanceOf[Int] == 1).get
      .get("manifest_path").toString
    val delFiles = graft.sinks.IcebergAvro.readManifest(new File(delManifest))
      .entries.map(e => (e.path, e.recordCount))
    assert(delFiles.nonEmpty && delFiles.map(_._2).sum == 10L)
    val delRows = spark.read.parquet(delFiles.map(_._1): _*)
    assert(delRows.columns.toSeq == Seq("file_path", "pos"))
    val dataPaths = IcebergSink.fileStats(spark, table)
      .select("path").collect().map(_.getString(0)).toSet
    assert(delRows.select("file_path").collect().map(_.getString(0))
      .forall(dataPaths.contains), "delete rows must reference manifest data-file paths")

    // overlapping second delete: only NOT-yet-deleted rows match (id%5=0
    // minus the already-gone id%10=0), and both delete sets apply
    val n2 = IcebergSink.deleteWhere(spark, table, "id % 5 = 0")
    assert(n2 == 10L)
    assert(IcebergSink.read(spark, table).count() == 80)

    // append after delete: earlier deletes (lower sequence) never touch the
    // new file's positions, so a re-added id is visible
    IcebergSink.writeWithRetry(Seq((10L, "again")).toDF("id", "name"),
      table, IcebergSink.Append)
    val after = IcebergSink.read(spark, table).select("id").collect().map(_.getLong(0))
    assert(after.length == 81 && after.count(_ == 10L) == 1)

    // no-match delete: no commit, same snapshot count
    val snaps = IcebergSink.snapshots(table).length
    assert(IcebergSink.deleteWhere(spark, table, "id > 1000000") == 0L)
    assert(IcebergSink.snapshots(table).length == snaps)
  }

  test("Iceberg positional delete: pruned reads apply deletes; compact materializes; expire reclaims") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(
      (1L to 100L).map(i => (i, i % 4, s"n$i")).toDF("id", "grp", "name"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("grp"))
    IcebergSink.deleteWhere(spark, table, "id <= 20")
    // partition-pruned path still merges the deletes
    assert(IcebergSink.read(spark, table).filter(col("grp") === 0).count() ==
      (21L to 100L).count(_ % 4 == 0))
    // incremental feed after the delete snapshot: nothing appended
    val delSnap = IcebergSink.snapshots(table).last._1
    IcebergSink.writeWithRetry(Seq((5L, 1L, "re-add")).toDF("id", "grp", "name"),
      table, IcebergSink.Append)
    val feed = IcebergSink.readAppendedSince(spark, table, delSnap)
    assert(feed.count() == 1 && feed.select("id").head().getLong(0) == 5L)
    // compact rewrites the MERGED view and drops the delete files from the
    // new snapshot's manifest list
    IcebergSink.compact(spark, table)
    assert(IcebergSink.read(spark, table).count() == 81)
    val meta = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(Files.readString(Paths.get(table, "metadata",
        s"v${Files.readString(Paths.get(table, "metadata", "version-hint.text")).trim}.metadata.json")))
    val listRel = meta.get("snapshots").elements().asScala.toSeq
      .find(_.get("snapshot-id").asLong() == meta.get("current-snapshot-id").asLong())
      .get.get("manifest-list").asText()
    assert(graft.sinks.IcebergAvro.readManifestList(new File(table, listRel))
      .forall(_.get("content").asInstanceOf[Int] == 0))
    // expiry reclaims the now-unreferenced delete files from disk
    IcebergSink.expireSnapshots(table, keepLast = 1)
    val dataDir = new File(table, "data")
    def walk(f: File): Seq[File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
    assert(!walk(dataDir).exists(f => f.getName.endsWith(".parquet") &&
        f.getParentFile.getName.startsWith("delete-")),
      "expired delete files must be reclaimed")
    assert(IcebergSink.read(spark, table).count() == 81)
  }

  test("Iceberg add-column schema evolution: round-trip, stable ids, gate stays default (r12)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(sampleDf, table, IcebergSink.CreateExclusive)
    val s0 = IcebergSink.snapshots(table).last._1
    // a plain append with an extra column is still REJECTED (the
    // reference-faithful positional gate is the default)
    intercept[Exception] {
      IcebergSink.writeWithRetry(Seq((4L, "d", 4.5, 0.9)).toDF("id", "name", "v", "score"),
        table, IcebergSink.Append)
    }
    // the evolve verb admits appended nullable columns
    IcebergSink.evolve(Seq((4L, "d", 4.5, 0.9), (5L, "e", 5.5, 0.7))
      .toDF("id", "name", "v", "score"), table)
    val back = IcebergSink.read(spark, table).orderBy("id").collect()
    assert(back.length == 5)
    assert(back.take(3).forall(_.isNullAt(3)), "old rows must read NULL for the new column")
    assert(back(3).getDouble(3) == 0.9 && back(4).getDouble(3) == 0.7)
    // metadata: next schema-id minted, previous schema retained
    val meta = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(Files.readString(Paths.get(table, "metadata",
        s"v${Files.readString(Paths.get(table, "metadata", "version-hint.text")).trim}.metadata.json")))
    assert(meta.get("current-schema-id").asInt() == 1)
    assert(meta.get("schemas").size() == 2)
    assert(meta.get("last-column-id").asInt() == 4)
    // existing ordinal field ids are stable; the new column continues them
    val evolved = meta.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == 1).get
    assert(evolved.get("fields").elements().asScala.map(f =>
      (f.get("id").asInt(), f.get("name").asText())).toSeq ==
      Seq((1, "id"), (2, "name"), (3, "v"), (4, "score")))
    // the added column is declared OPTIONAL whatever the frame said: old
    // files have no value for it, so readers must be allowed to surface NULL
    assert(!evolved.get("fields").elements().asScala
      .find(_.get("name").asText() == "score").get.get("required").asBoolean())
    // a further PLAIN append with the evolved schema passes the gate
    IcebergSink.writeWithRetry(Seq((6L, "f", 6.5, 0.1)).toDF("id", "name", "v", "score"),
      table, IcebergSink.Append)
    assert(IcebergSink.read(spark, table).count() == 6)
    // the pre-evolution snapshot still time-travels (current schema, NULL tail)
    assert(IcebergSink.read(spark, table, Some(s0)).count() == 3)
    // added columns must be nullable; existing columns must not change;
    // evolution is an append verb
    intercept[Exception] { // type change of an existing column
      IcebergSink.evolve(Seq((7, "g", 7.5, 0.2)).toDF("id", "name", "v", "score"), table)
    }
    intercept[Exception] { // evolution never rides an overwrite
      IcebergSink.write(Seq((8L, "h", 8.5, 0.3, 1L)).toDF("id", "name", "v", "score", "x"),
        table, IcebergSink.Overwrite, evolveSchema = true)
    }
  }

  test("Iceberg upsert (equality deletes): atomic keyed merge-on-read, layering, isolation (r12)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(
      (1L to 100L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "v"),
      table, IcebergSink.CreateExclusive)
    val s0 = IcebergSink.snapshots(table).last._1
    // one snapshot: updates to 10/20, insert 101
    val n1 = IcebergSink.upsert(spark, table,
      Seq((10L, "u10", 110.0), (20L, "u20", 120.0), (101L, "i101", 1.0))
        .toDF("id", "name", "v"), Seq("id"))
    assert(n1 == 3L)
    assert(IcebergSink.snapshots(table).length == 2, "upsert is ONE atomic snapshot")
    val out = IcebergSink.read(spark, table)
    assert(out.count() == 101)
    assert(out.filter(col("id") === 10).head().getDouble(2) == 110.0)
    assert(out.filter(col("id") === 20).head().getDouble(2) == 120.0)
    assert(out.filter(col("id") === 101).head().getString(1) == "i101")
    assert(out.filter(col("id") === 50).head().getString(1) == "n50") // untouched
    // pre-upsert snapshot unaffected
    val pre = IcebergSink.read(spark, table, Some(s0))
    assert(pre.count() == 100 && pre.filter(col("id") === 10).head().getDouble(2) == 10.0)
    // successive upserts layer: the strictly-below sequence scope lets the
    // second upsert's delete kill the FIRST upsert's row while its own
    // replacement (same sequence) survives
    IcebergSink.upsert(spark, table,
      Seq((10L, "uu10", 210.0)).toDF("id", "name", "v"), Seq("id"))
    val again = IcebergSink.read(spark, table)
    assert(again.count() == 101)
    assert(again.filter(col("id") === 10).collect().map(_.getDouble(2)).toSeq == Seq(210.0))
    // duplicate source keys are rejected inside the write plan
    intercept[Exception] {
      IcebergSink.upsert(spark, table,
        Seq((7L, "a", 1.0), (7L, "b", 2.0)).toDF("id", "name", "v"), Seq("id"))
    }
    // empty source commits nothing
    val snaps = IcebergSink.snapshots(table).length
    assert(IcebergSink.upsert(spark, table,
      Seq.empty[(Long, String, Double)].toDF("id", "name", "v"), Seq("id")) == 0L)
    assert(IcebergSink.snapshots(table).length == snaps)
    // deletes compose: a positional deleteWhere over the upserted state
    IcebergSink.deleteWhere(spark, table, "id = 101")
    assert(IcebergSink.read(spark, table).count() == 100)
    // compaction materializes everything and drops all delete manifests
    IcebergSink.compact(spark, table)
    assert(IcebergSink.read(spark, table).count() == 100)
    assert(IcebergSink.read(spark, table).filter(col("id") === 10)
      .head().getDouble(2) == 210.0)
  }

  test("Iceberg changelog: classifies appends, positional deletes, and upserts (r12)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(
      (1L to 20L).map(i => (i, i.toDouble)).toDF("id", "v"), table,
      IcebergSink.CreateExclusive)
    val s0 = IcebergSink.snapshots(table).last._1
    IcebergSink.writeWithRetry(
      (21L to 30L).map(i => (i, i.toDouble)).toDF("id", "v"), table, IcebergSink.Append)
    IcebergSink.upsert(spark, table,
      Seq((5L, 500.0), (31L, 31.0)).toDF("id", "v"), Seq("id"))
    IcebergSink.deleteWhere(spark, table, "id = 7")
    val feed = IcebergSink.readChangelog(spark, table, s0).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getLong(0), r.getDouble(1)))
    val byType = feed.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(byType("insert") == ((21L to 30L).map(i => (i, i.toDouble)).toSet + ((31L, 31.0))),
      s"inserts wrong: ${byType.get("insert")}")
    assert(byType("update_preimage") == Set((5L, 5.0)))
    assert(byType("update_postimage") == Set((5L, 500.0)))
    assert(byType("delete") == Set((7L, 7.0)))
    // commit snapshot ids tag each change to its snapshot
    val snapIds = IcebergSink.readChangelog(spark, table, s0)
      .select("_commit_snapshot_id").distinct().count()
    assert(snapIds == 3)
  }

  test("Iceberg expireSnapshots drops old snapshots and reclaims their files") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(sampleDf, table, IcebergSink.CreateExclusive)
    IcebergSink.writeWithRetry(Seq((4L, "d", 4.5)).toDF("id", "name", "v"),
      table, IcebergSink.Append)
    // overwrite: snapshot 3 references ONLY its own files, so expiring
    // 1-2 must delete their data files
    IcebergSink.writeWithRetry(Seq((9L, "z", 9.9)).toDF("id", "name", "v"),
      table, IcebergSink.Overwrite)
    val old = IcebergSink.snapshots(table)
    val deleted = IcebergSink.expireSnapshots(table, keepLast = 1)
    assert(deleted >= 2) // create's files + append's files
    assert(IcebergSink.snapshots(table).length == 1)
    assert(IcebergSink.read(spark, table).count() == 1)
    // expired snapshot is gone for time travel
    intercept[IllegalArgumentException] {
      IcebergSink.read(spark, table, Some(old.head._1))
    }
  }

  test("Delta restore: metadata-only undo, history preserved, noop detected (r11)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table)) // ids 1-3
    val goodV = DeltaSink.latestVersion(table)
    DeltaSink.append(Seq((4L, "d", 4.5)).toDF("id", "name", "v"), table)
    // compact rewrites the layout: restore must re-add the ORIGINAL files
    DeltaSink.compact(spark, table)
    val badV = DeltaSink.latestVersion(table)
    val (readded, removed) = DeltaSink.restore(spark, table, goodV)
    assert(readded >= 1 && removed >= 1)
    // current state = the pinned version's rows
    assert(DeltaSink.read(spark, table).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // history preserved: forward travel to the undone version still works
    assert(DeltaSink.read(spark, table, asOfVersion = Some(badV)).count() == 4)
    // restoring to the state the table is already in commits nothing
    val v = DeltaSink.latestVersion(table)
    assert(DeltaSink.restore(spark, table, v) == ((0, 0)))
    assert(DeltaSink.latestVersion(table) == v)
    // the re-added files are live again: vacuum must NOT reclaim them
    DeltaSink.vacuum(spark, table, retentionMs = 0L)
    assert(DeltaSink.read(spark, table).count() == 3)
  }

  test("Delta change feed: adds since a version, compaction rewrites excluded") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table)) // versions 0,1: ids 1-3
    val v2 = DeltaSink.append(Seq((4L, "d", 4.5)).toDF("id", "name", "v"), table)
    DeltaSink.append(Seq((5L, "e", 5.5)).toDF("id", "name", "v"), table)
    // consumer checkpointed at v2: sees only the v3 append
    val feed = DeltaSink.readChangesSince(spark, table, v2)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(feed == Seq(5L))
    // compaction must NOT re-emit rows into the feed...
    DeltaSink.compact(spark, table)
    val afterCompact = DeltaSink.readChangesSince(spark, table, v2)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(afterCompact == Seq(5L))
    // ...and an append-then-compact window still yields the appended rows
    // even though compaction tombstoned their original files
    val all = DeltaSink.readChangesSince(spark, table, 1L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(all == Seq(4L, 5L))
  }

  test("Delta z-order compact clusters files into narrow, non-overlapping ranges") {
    val s = spark
    import s.implicits._
    val table = tmp()
    // shuffled ids so the initial layout has full-range files
    val rnd = new scala.util.Random(7)
    val df = rnd.shuffle((1 to 4000).toList).map(i => (i.toLong, i % 100, s"r$i"))
      .toDF("id", "bucket", "s").repartition(4)
    assert(DeltaSink.write(df, table))
    // rewrite 4 full-range files into 4 z-ordered (here: range-ordered) ones
    val (before, after) = DeltaSink.compact(spark, table,
      maxRecordsPerFile = 1000, zorderBy = Seq("id"))
    // range-partition sampling is approximate, so a task can roll an extra
    // file at the maxRecordsPerFile cap — the clustering properties below
    // are the contract, not the exact count
    assert(before == 4 && after >= 4 && after <= 8)
    // every file now covers a narrow id range instead of the full 4000
    val ranges = new File(table).listFiles()
      .filter(f => f.getName.contains(".c000.") && f.getName.endsWith(".parquet"))
      .map { f =>
        val ids = spark.read.parquet(f.getPath).select("id").collect().map(_.getLong(0))
        (ids.min, ids.max)
      }.sortBy(_._1)
    assert(ranges.length == after)
    ranges.foreach { case (lo, hi) => assert(hi - lo < 2000, s"file range [$lo,$hi] too wide") }
    // ranges are non-overlapping up to one 8-bit z-bucket (4000/256 = 16
    // ids): rows sharing a bucket value are unordered within it, so
    // adjacent files may interleave inside a single bucket but never
    // beyond it — that is the clustering contract the scan pruning uses
    val bucketWidth = 4000 / 256 + 1
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo + bucketWidth, s"files overlap beyond a z-bucket: $hi vs $lo")
    }
    assert(DeltaSink.read(spark, table).count() == 4000)
    // two-column z-order also runs and preserves the data
    val t2 = tmp()
    assert(DeltaSink.write(df, t2))
    DeltaSink.compact(spark, t2, maxRecordsPerFile = 1000, zorderBy = Seq("id", "bucket"))
    assert(DeltaSink.read(spark, t2).select(sum("id")).head().getLong(0) ==
      4000L * 4001 / 2)
  }

  test("Delta compact aborts when a concurrent compaction removed its inputs") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    DeltaSink.append(Seq((4L, "d", 4.5)).toDF("id", "name", "v"), table)
    // compaction A completes; then a stale compactor (same inputs already
    // rewritten) collides: simulate by compacting, appending nothing, and
    // compacting again from a pre-compaction view — the second direct
    // commit attempt must fail the subset check, not duplicate rows.
    val (b1, a1) = DeltaSink.compact(spark, table)
    assert(b1 > 1 && a1 == 1)
    // normal follow-up compaction (inputs = current live set) still works
    val (b2, a2) = DeltaSink.compact(spark, table)
    assert(b2 == 1 && a2 == 1)
    assert(DeltaSink.read(spark, table).count() == 4) // no duplication ever
  }

  test("Delta z-order compact is safe for tables with a column named __z") {
    val s = spark
    import s.implicits._
    val table = tmp()
    val df = (1 to 100).map(i => (i.toLong, i * 2L)).toDF("id", "__z")
    assert(DeltaSink.write(df, table))
    DeltaSink.compact(spark, table, maxRecordsPerFile = 50, zorderBy = Seq("id"))
    val back = DeltaSink.read(spark, table).orderBy("id").collect()
    assert(back.length == 100)
    // the user's __z column survives with its own values, not Morton codes
    assert(back.forall(r => r.getLong(1) == r.getLong(0) * 2))
  }

  test("Delta compact bin-packs small files; data and history unchanged") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    (4 to 9).foreach { i =>
      DeltaSink.append(Seq((i.toLong, s"r$i", i * 1.0)).toDF("id", "name", "v"), table)
    }
    val beforeIds = DeltaSink.read(spark, table).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val (before, after) = DeltaSink.compact(spark, table)
    assert(before > after && after >= 1)
    // same rows, fewer live files; one new log version with dataChange=false
    val afterIds = DeltaSink.read(spark, table).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(afterIds == beforeIds)
    val lastLog = Files.readString(Paths.get(table, "_delta_log",
      f"${DeltaSink.latestVersion(table)}%020d.json"))
    assert(lastLog.contains(""""remove"""") && lastLog.contains(""""dataChange":false"""))
    // pre-compaction snapshots still readable (old files remain until vacuum)
    assert(DeltaSink.read(spark, table, asOfVersion = Some(2L)).count() == 4)
  }

  test("readRange skips files outside the requested range after z-order") {
    val s = spark
    import s.implicits._
    val table = tmp()
    val rnd = new scala.util.Random(11)
    val df = rnd.shuffle((1 to 4000).toList)
      .map(i => (i.toLong, s"name-$i", java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d")))
      .toDF("id", "nm", "d").repartition(4)
    assert(DeltaSink.write(df, table))
    // cluster on id so per-file id ranges are tight and skippable
    DeltaSink.compact(spark, table, maxRecordsPerFile = 1000, zorderBy = Seq("id"))
    val total = DeltaSink.read(spark, table).inputFiles.length
    val prunedDf = DeltaSink.readRange(spark, table, "id", "100", "200")
    assert(prunedDf.inputFiles.length < total,
      s"no files skipped: ${prunedDf.inputFiles.length} of $total")
    // files-level superset + exact row filter == plain filtered read
    val exact = DeltaSink.read(spark, table)
      .filter(col("id").between(100, 200)).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val viaPruned = prunedDf.filter(col("id").between(100, 200)).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaPruned == exact && exact.size == 101)
    // string-domain pruning is also recorded and never loses rows
    val byName = DeltaSink.readRange(spark, table, "nm", "name-1", "name-2")
      .filter(col("nm") >= "name-1" && col("nm") <= "name-2")
    assert(byName.count() ==
      DeltaSink.read(spark, table)
        .filter(col("nm") >= "name-1" && col("nm") <= "name-2").count())
    // a column of an unsupported stats domain prunes nothing, loses nothing
    assert(DeltaSink.readRange(spark, table, "d", "2024-01-01", "2024-01-05")
      .filter(col("d") <= java.sql.Date.valueOf("2024-01-05")).count() ==
      DeltaSink.read(spark, table)
        .filter(col("d") <= java.sql.Date.valueOf("2024-01-05")).count())
  }

  test("Delta merge: upsert updates matched, inserts unmatched, skips untouched files") {
    val s = spark
    import s.implicits._
    val table = tmp()
    // two single-file batches with disjoint id ranges → stats-skippable
    assert(DeltaSink.write(
      (1 to 100).map(i => (i.toLong, s"n$i", 0.0)).toDF("id", "name", "v").coalesce(1), table))
    DeltaSink.append(
      (101 to 200).map(i => (i.toLong, s"n$i", 0.0)).toDF("id", "name", "v").coalesce(1), table)
    val vBefore = DeltaSink.latestVersion(table)
    val source = Seq((150L, "updated", 9.9), (999L, "inserted", 1.1)).toDF("id", "name", "v")
    val (rewritten, skipped, added) = DeltaSink.merge(spark, table, source, Seq("id"))
    // the low-range file never matched a source key: stats-pruned, not rewritten
    assert(rewritten == 1 && skipped == 1 && added >= 1, s"($rewritten, $skipped, $added)")
    assert(DeltaSink.latestVersion(table) == vBefore + 1) // ONE merge commit
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 201)
    val r150 = out.filter(col("id") === 150).collect()
    assert(r150.length == 1 && r150(0).getString(1) == "updated" && r150(0).getDouble(2) == 9.9)
    assert(out.filter(col("id") === 999).count() == 1)
    assert(out.filter(col("id") === 50).collect()(0).getString(1) == "n50") // untouched
  }

  test("Delta merge: composite-key stats pruning ANDs every key's bounds (r9)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    // four single-file batches: k1 spans [0, 96] in EVERY file (first-key
    // pruning alone keeps all four), k2 is constant per file — the second
    // key's bounds are what separate them
    assert(DeltaSink.write(
      (0 until 25).map(i => (i.toLong * 4, 0L, s"a$i")).toDF("k1", "k2", "v").coalesce(1), table))
    (1 to 3).foreach { b =>
      DeltaSink.append(
        (0 until 25).map(i => (i.toLong * 4, b.toLong, s"b$b-$i")).toDF("k1", "k2", "v").coalesce(1),
        table)
    }
    val source = Seq((12L, 2L, "upd"), (16L, 2L, "upd2")).toDF("k1", "k2", "v")
    val (rewritten, skipped, _) = DeltaSink.merge(spark, table, source, Seq("k1", "k2"))
    // stage-1 candidates: ONLY the k2=2 file — with first-key-only pruning
    // this was 4 (every file overlaps k1 ∈ [12, 16])
    assert(DeltaSink.lastMergeCandidates == 1,
      s"expected 1 stats-pruning candidate, got ${DeltaSink.lastMergeCandidates}")
    assert(rewritten == 1 && skipped == 3, s"($rewritten, $skipped)")
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 100)
    assert(out.filter(col("k1") === 12 && col("k2") === 2).collect()(0).getString(2) == "upd")
    assert(out.filter(col("k1") === 12 && col("k2") === 1).collect()(0).getString(2) == "b1-3")
  }

  test("Delta merge: delete-marked source rows remove their match") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    val source = Seq(
      (1L, "one", 1.0, false),  // update
      (2L, "x", 0.0, true),     // delete (payload ignored)
      (4L, "four", 4.0, false)) // insert
      .toDF("id", "name", "v", "del")
    DeltaSink.merge(spark, table, source, Seq("id"), deleteCol = Some("del"))
    val rows = DeltaSink.read(spark, table).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
    assert(rows(0).getString(1) == "one" && rows(2).getString(1) == "four")
  }

  test("Delta CDF classifies a merge into update pre/post images, deletes, inserts (r12)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(
      (1 to 10).map(i => (i.toLong, s"n$i", i.toDouble)).toDF("id", "name", "v").coalesce(1),
      table))
    val v0 = DeltaSink.latestVersion(table)
    val source = Seq(
      (1L, "u1", 11.0, false), (2L, "u2", 12.0, false), // updates
      (4L, "x", 0.0, true), (5L, "x", 0.0, true),       // deletes
      (11L, "i11", 21.0, false), (12L, "i12", 22.0, false)) // inserts
      .toDF("id", "name", "v", "del")
    DeltaSink.merge(spark, table, source, Seq("id"), deleteCol = Some("del"))
    val v1 = DeltaSink.latestVersion(table)
    val feed = DeltaSink.readCdf(spark, table, v0, v1).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[Double]("v"))).toSet
    assert(feed == Set(
      ("update_preimage", 1L, 1.0), ("update_preimage", 2L, 2.0),
      ("update_postimage", 1L, 11.0), ("update_postimage", 2L, 12.0),
      ("delete", 4L, 4.0), ("delete", 5L, 5.0),
      ("insert", 11L, 21.0), ("insert", 12L, 22.0)), s"got $feed")
    // the create commit reconstructs as pure inserts; commit versions tag rows
    val created = DeltaSink.readCdf(spark, table, -1L, v0)
    assert(created.count() == 10 &&
      created.select("_change_type").distinct().head().getString(0) == "insert")
    assert(created.select("_commit_version").distinct().head().getLong(0) == v0)
    // OPTIMIZE emits nothing into the feed
    DeltaSink.compact(spark, table)
    assert(DeltaSink.readCdf(spark, table, v1).count() == 0)
    // the plain rows-only feed over the merge window is unchanged semantics:
    // the rewritten files' surviving rows + inserts (adds of the commit)
    assert(DeltaSink.readChangesBetween(spark, table, v0, v1).count() ==
      DeltaSink.read(spark, table).count())
    // retention-expired CDC files are vacuumed away
    val swept = DeltaSink.vacuum(spark, table, retentionMs = 0L)
    assert(swept > 0)
    assert(!new java.io.File(table, "_change_data").exists() ||
      new java.io.File(table, "_change_data").listFiles()
        .forall(!_.getName.endsWith(".parquet")))
  }

  test("Delta deleteWhere: copy-on-write rewrite of touched files only, CDC images, isolation (r12)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    // two single-file batches with disjoint id ranges: the low file never
    // matches the predicate and must NOT be rewritten
    assert(DeltaSink.write(
      (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v").coalesce(1), table))
    DeltaSink.append(
      (101 to 200).map(i => (i.toLong, i.toDouble)).toDF("id", "v").coalesce(1), table)
    val v0 = DeltaSink.latestVersion(table)
    val fileOf = (id: Int) => DeltaSink.read(spark, table)
      .filter(col("id") === id)
      .select(org.apache.spark.sql.functions.input_file_name()).head().getString(0)
    val lowFileBefore = fileOf(50)
    val n = DeltaSink.deleteWhere(spark, table, "id > 150")
    assert(n == 50L)
    assert(DeltaSink.latestVersion(table) == v0 + 1) // ONE commit
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 150 && out.filter(col("id") > 150).count() == 0)
    assert(fileOf(50) == lowFileBefore, "untouched file must not be rewritten")
    // CDF: the delete commit feeds exactly the deleted rows as 'delete'
    val feed = DeltaSink.readCdf(spark, table, v0)
    assert(feed.count() == 50)
    assert(feed.select("_change_type").distinct().head().getString(0) == "delete")
    // pre-delete time travel intact; no-match delete commits nothing
    assert(DeltaSink.read(spark, table, Some(v0)).count() == 200)
    assert(DeltaSink.deleteWhere(spark, table, "id > 10000") == 0L)
    assert(DeltaSink.latestVersion(table) == v0 + 1)
  }

  test("Delta updateWhere: SET against pre-update row, touched files only, CDC pre/post (r12)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(
      (1 to 100).map(i => (i.toLong, i.toDouble, i.toDouble)).toDF("id", "a", "b").coalesce(1),
      table))
    DeltaSink.append(
      (101 to 200).map(i => (i.toLong, i.toDouble, i.toDouble)).toDF("id", "a", "b").coalesce(1),
      table)
    val v0 = DeltaSink.latestVersion(table)
    // both SETs read the PRE-update row: swapping a and b must not chain
    val n = DeltaSink.updateWhere(spark, table, "id > 150",
      Map("a" -> "b + 1", "b" -> "a + 2"))
    assert(n == 50L)
    assert(DeltaSink.latestVersion(table) == v0 + 1)
    val r160 = DeltaSink.read(spark, table).filter(col("id") === 160).head()
    assert(r160.getDouble(1) == 161.0 && r160.getDouble(2) == 162.0,
      s"SET must evaluate against pre-update values, got $r160")
    assert(DeltaSink.read(spark, table).filter(col("id") === 50).head().getDouble(1) == 50.0)
    // CDF pairs pre and post images
    val feed = DeltaSink.readCdf(spark, table, v0)
    assert(feed.filter(col("_change_type") === "update_preimage").count() == 50)
    assert(feed.filter(col("_change_type") === "update_postimage").count() == 50)
    assert(feed.filter(col("_change_type") === "update_postimage" && col("id") === 160)
      .head().getDouble(1) == 161.0)
    // unknown SET column and no-match predicate
    intercept[Exception] {
      DeltaSink.updateWhere(spark, table, "id > 0", Map("nope" -> "1"))
    }
    assert(DeltaSink.updateWhere(spark, table, "id > 99999", Map("a" -> "0")) == 0L)
  }

  test("Delta delete/update WHERE: NULL predicate results keep the row (SQL semantics, r12 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(
      Seq((1L, Some(20.0)), (2L, None), (3L, Some(5.0)))
        .toDF("id", "v").coalesce(1), table))
    // v > 10 is NULL for id=2: the row must SURVIVE the delete untouched
    assert(DeltaSink.deleteWhere(spark, table, "v > 10") == 1L)
    val afterDel = DeltaSink.read(spark, table).orderBy("id").collect()
    assert(afterDel.map(_.getLong(0)).toSeq == Seq(2L, 3L),
      s"NULL-predicate row must survive: ${afterDel.mkString(",")}")
    assert(afterDel(0).isNullAt(1))
    // same for update: NULL-predicate rows carried unchanged
    assert(DeltaSink.updateWhere(spark, table, "v < 10", Map("v" -> "v + 1")) == 1L)
    val afterUpd = DeltaSink.read(spark, table).orderBy("id").collect()
    assert(afterUpd.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(afterUpd(0).isNullAt(1) && afterUpd(1).getDouble(1) == 6.0)
  }

  test("Delta merge CDC: a delete-marked key that is also updated classifies as update only (r12 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").coalesce(1), table))
    val v0 = DeltaSink.latestVersion(table)
    // key 1 is BOTH delete-marked and updated: merge resolves as replace,
    // so the feed must carry update images, never a delete for it
    DeltaSink.merge(spark, table,
      Seq((1L, 0.0, true), (1L, 11.0, false), (2L, 0.0, true))
        .toDF("id", "v", "del"), Seq("id"), deleteCol = Some("del"))
    val feed = DeltaSink.readCdf(spark, table, v0).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getLong(0), r.getDouble(1)))
    assert(feed.toSet == Set(
      ("update_preimage", 1L, 1.0), ("update_postimage", 1L, 11.0),
      ("delete", 2L, 2.0)), s"got ${feed.mkString(",")}")
  }

  test("Iceberg: a plain append after evolution keeps every referenced schema (r12 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(sampleDf, table, IcebergSink.CreateExclusive)
    IcebergSink.evolve(Seq((4L, "d", 4.5, 0.9)).toDF("id", "name", "v", "score"), table)
    IcebergSink.writeWithRetry(Seq((5L, "e", 5.5, 0.5)).toDF("id", "name", "v", "score"),
      table, IcebergSink.Append)
    val meta = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(Files.readString(Paths.get(table, "metadata",
        s"v${Files.readString(Paths.get(table, "metadata", "version-hint.text")).trim}.metadata.json")))
    val ids = meta.get("schemas").elements().asScala.map(_.get("schema-id").asInt()).toSeq
    assert(ids.sorted == Seq(0, 1),
      s"the bootstrap snapshot still references schema-id 0; schemas must keep it, got $ids")
    assert(IcebergSink.read(spark, table).count() == 5)
  }

  test("Delta merge rejects duplicate source keys before committing anything") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    val dup = Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("id", "name", "v")
    // the guard rides the rewrite job (raise_error), so it surfaces as a
    // Spark job failure whose cause chain carries the message
    val e = intercept[Exception](DeltaSink.merge(spark, table, dup, Seq("id")))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("unique"), msgs)
    // nothing committed, table unchanged
    assert(DeltaSink.latestVersion(table) == 1L)
    assert(DeltaSink.read(spark, table).count() == 3)
  }

  test("Delta merge aborts when a commit lands in the snapshot-to-claim window") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    // the "concurrent writer": an append that commits between merge's
    // snapshot and its version claim — exactly the window strict OCC guards
    val racing = new graft.sinks.CommitStore.HookedLocal((_, attempt) =>
      if (attempt == 0)
        DeltaSink.append(Seq((9L, "raced", 0.0)).toDF("id", "name", "v"), table))
    val source = Seq((1L, "updated", 5.0)).toDF("id", "name", "v")
    val e = intercept[IllegalStateException](
      DeltaSink.merge(spark, table, source, Seq("id"), store = racing))
    assert(e.getMessage.contains("re-run the merge"))
    // table holds the racer's append and NO merge changes
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 4)
    assert(out.filter(col("name") === "updated").count() == 0)
    // the re-run (default store) then succeeds on the newer snapshot
    val (rw, _, _) = DeltaSink.merge(spark, table, source, Seq("id"))
    assert(rw >= 1)
    assert(DeltaSink.read(spark, table).filter(col("name") === "updated").count() == 1)
  }

  test("Delta merge on a partitioned table keeps the layout") {
    val s = spark
    import s.implicits._
    val table = tmp()
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)).toDF("id", "name", "v")
    assert(DeltaSink.write(df, table, partitionBy = Seq("name")))
    val source = Seq((2L, "b", 9.0), (4L, "c", 4.0)).toDF("id", "name", "v")
    DeltaSink.merge(spark, table, source, Seq("id"))
    val out = DeltaSink.read(spark, table).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out(1).getDouble(2) == 9.0)
    // new partition dir materialized hive-style
    assert(new File(table, "name=c").exists())
  }

  test("10k-add synthetic log checkpoints through Spark, not a driver replay") {
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    val realAdds = Files.readString(Paths.get(table, "_delta_log",
      "00000000000000000001.json")).linesIterator.count(_.contains(""""add""""))
    // Hand-written commits: v2 adds 10k files, v3 removes half of them —
    // the shape (one huge compaction-scale commit) whose driver-side JSON
    // replay is the classic metadata-plane OOM at 100 TB. The add list
    // must flow log → resolution → checkpoint entirely through Spark.
    def addLine(i: Int) =
      s"""{"add":{"path":"f$i.parquet","partitionValues":{},"size":10,""" +
        s""""modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":1}"}}"""
    def removeLine(i: Int) =
      s"""{"remove":{"path":"f$i.parquet","deletionTimestamp":2,"dataChange":true}}"""
    Files.write(Paths.get(table, "_delta_log", "00000000000000000002.json"),
      ((0 until 10000).map(addLine).mkString("\n") + "\n").getBytes)
    Files.write(Paths.get(table, "_delta_log", "00000000000000000003.json"),
      ((0 until 5000).map(removeLine).mkString("\n") + "\n").getBytes)
    assert(DeltaSink.checkpoint(spark, table) == 3L)
    // checkpoint carries exactly the surviving adds (multi-part parquet dir)
    val ck = spark.read.parquet(
      Paths.get(table, "_delta_log", "00000000000000000003.checkpoint.parquet").toString)
    assert(ck.where(col("add").isNotNull).count() == realAdds + 5000)
    assert(ck.where(col("metaData").isNotNull).count() == 1)
    assert(Files.readString(Paths.get(table, "_delta_log", "_last_checkpoint"))
      .contains(""""version":3"""))
    // a fresh append replays from the checkpoint and commits v4
    val s = spark
    import s.implicits._
    assert(DeltaSink.append(Seq((9L, "z", 9.9)).toDF("id", "name", "v"), table) == 4L)
  }

  test("Delta mergeSchema append widens the table; old rows read NULL for new columns") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    // plain append of a wider frame is refused by the gate…
    val wider = Seq((4L, "d", 4.5, "en")).toDF("id", "name", "v", "lang")
    intercept[IllegalArgumentException] { DeltaSink.append(wider, table) }
    // …and accepted with mergeSchema, committing metaData + adds atomically
    val v = DeltaSink.append(wider, table, mergeSchema = true)
    val back = DeltaSink.read(spark, table)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "v", "lang"))
    val byId = back.collect().map(r => r.getLong(0) -> r.getAs[String]("lang")).toMap
    assert(byId(4L) == "en")
    assert(Seq(1L, 2L, 3L).forall(byId(_) == null)) // pre-evolution files fill NULL
    // time travel BEFORE the evolution still shows the narrow schema
    val before = DeltaSink.read(spark, table, Some(v - 1))
    assert(before.schema.fieldNames.toSeq == Seq("id", "name", "v"))
    // a narrower frame omitting the (nullable) new tail column still appends
    assert(DeltaSink.append(Seq((5L, "e", 5.5)).toDF("id", "name", "v"), table,
      mergeSchema = true) == v + 1)
    val all = DeltaSink.read(spark, table)
    assert(all.count() == 5 && all.schema.fieldNames.length == 4)
    // prefix type changes are still rejected even with mergeSchema
    intercept[IllegalArgumentException] {
      DeltaSink.append(Seq(("x", "d", 4.5)).toDF("id", "name", "v"), table,
        mergeSchema = true)
    }
  }

  test("Delta table id survives evolution and checkpoints") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(sampleDf, table))
    def metaIds(): Seq[String] = {
      val logs = new File(table, "_delta_log").listFiles()
        .filter(_.getName.endsWith(".json")).sortBy(_.getName)
      logs.flatMap { f =>
        Files.readAllLines(f.toPath).asScala.collect {
          case l if l.contains("\"metaData\"") =>
            l.split("\"id\":\"")(1).takeWhile(_ != '"')
        }
      }.toSeq
    }
    val idAtCreate = metaIds().head
    DeltaSink.append(Seq((4L, "d", 4.5, 7L)).toDF("id", "name", "v", "extra"),
      table, mergeSchema = true)
    assert(metaIds().distinct == Seq(idAtCreate),
      "schema evolution must preserve the table id")
    DeltaSink.checkpoint(spark, table)
    val ckptMeta = spark.read
      .parquet(new File(table, "_delta_log").listFiles()
        .filter(_.getName.endsWith(".checkpoint.parquet")).head.getPath)
      .where(col("metaData").isNotNull).select("metaData.id").head().getString(0)
    assert(ckptMeta == idAtCreate, "checkpoint must carry the table id, not mint one")
  }

  test("an external log whose metaData lacks an id gets ONE minted id, not \"null\" (ADVICE r7)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    // hand-write an external-engine log: protocol + metaData WITHOUT an id
    val logDir = new File(table, "_delta_log"); logDir.mkdirs()
    val schemaJson = Seq((1L, "a")).toDF("id", "name").schema.json
      .replace("\"", "\\\"")
    Files.write(new File(logDir, "00000000000000000000.json").toPath,
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":1}}
          |{"metaData":{"format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}
          |""".stripMargin).getBytes("UTF-8"))
    // an evolving append must not record the literal string "null" as id
    DeltaSink.append(Seq((1L, "a", 9L)).toDF("id", "name", "extra"),
      table, mergeSchema = true)
    val written = new File(logDir, "00000000000000000001.json")
    val metaLine = Files.readAllLines(written.toPath).asScala
      .find(_.contains("\"metaData\"")).get
    val id = metaLine.split("\"id\":\"")(1).takeWhile(_ != '"')
    assert(id != "null" && java.util.UUID.fromString(id) != null)
    // the mint is DETERMINISTIC (location-derived): two concurrent replays
    // that each re-write metaData before either persists still agree
    val expected = java.util.UUID.nameUUIDFromBytes(
      logDir.toPath.toAbsolutePath.normalize.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    assert(id == expected, "minted id must be derived from the table location")
    // and a checkpoint reuses the id the evolution persisted — no drift
    DeltaSink.checkpoint(spark, table)
    val ckptId = spark.read
      .parquet(new File(logDir.getPath).listFiles()
        .filter(_.getName.endsWith(".checkpoint.parquet")).head.getPath)
      .where(col("metaData").isNotNull).select("metaData.id").head().getString(0)
    assert(ckptId == id, "checkpoint must reuse the minted id, not mint another")
  }

  test("Iceberg identity-partitioned create: layout, spec, manifest values, read-back") {
    val s2 = spark
    import s2.implicits._
    val df = Seq(
      (1L, "en", 10.0), (2L, "en", 20.0), (3L, "de", 30.0), (4L, "fr", 40.0))
      .toDF("id", "lang", "v")
    val table = tmp()
    IcebergSink.write(df, table, IcebergSink.CreateExclusive,
      partitionBy = Seq("lang"))
    // Hive-layout staging directories per partition value
    val dataDirs = new File(table, "data").listFiles().filter(_.isDirectory)
    val partDirs = dataDirs.flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName)
    assert(partDirs.toSet == Set("lang=en", "lang=de", "lang=fr"))
    // metadata carries the identity spec with 1000+ field ids
    val meta = Files.readString(Paths.get(table, "metadata", "v0.metadata.json"))
    assert(meta.contains("\"transform\":\"identity\""))
    assert(meta.contains("\"field-id\":1000"))
    assert(meta.contains("\"last-partition-id\":1000"))
    // manifest entries carry per-file partition values (the reader's truth)
    val manifestFile = new File(table, "metadata").listFiles()
      .filter(f => f.getName.startsWith("manifest-") && !f.getName.startsWith("manifest-list"))
      .head
    val parts = graft.sinks.IcebergAvro.readManifest(manifestFile)
      .entries.map(e => (e.path, e.pvals))
    assert(parts.map(_._2("lang").asInstanceOf[String]).toSet == Set("en", "de", "fr"))
    // read-back reconstructs the partition column from the manifest
    val back = IcebergSink.read(spark, table)
    assert(back.columns.toSeq == Seq("id", "lang", "v"))
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "en", 10.0), (2L, "en", 20.0), (3L, "de", 30.0), (4L, "fr", 40.0)))
  }

  test("Iceberg hidden day(ts) partitioning: layout, spec, pruned reads, append continuity (r8)") {
    val s2 = spark
    import s2.implicits._
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d $h%02d:00:00")
    val df = Seq(
      (1L, ts(1, 9), 10.0), (2L, ts(1, 17), 20.0),
      (3L, ts(2, 8), 30.0), (4L, ts(3, 12), 40.0))
      .toDF("id", "ts", "v")
    val table = tmp()
    IcebergSink.write(df, table, IcebergSink.CreateExclusive,
      partitionBy = Seq("day(ts)"))
    // staging layout is the derived day directory, one per distinct day
    val dataDirs = new File(table, "data").listFiles().filter(_.isDirectory)
    val partDirs = dataDirs.flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName)
    assert(partDirs.toSet ==
      Set("ts_day=2024-03-01", "ts_day=2024-03-02", "ts_day=2024-03-03"))
    // the spec records the TRANSFORM against the ts source column
    val meta = Files.readString(Paths.get(table, "metadata", "v0.metadata.json"))
    assert(meta.contains("\"transform\":\"day\""))
    assert(meta.contains("\"name\":\"ts_day\""))
    // manifest partition values are day ordinals (epoch days)
    val manifestFile = new File(table, "metadata").listFiles()
      .filter(f => f.getName.startsWith("manifest-") && !f.getName.startsWith("manifest-list"))
      .head
    val parts = graft.sinks.IcebergAvro.readManifest(manifestFile)
      .entries.map(e => (e.path, e.pvals))
    assert(parts.map(_._2("ts_day").asInstanceOf[Int]).toSet ==
      Set(1, 2, 3).map(d => java.time.LocalDate.of(2024, 3, d).toEpochDay.toInt))
    // HIDDEN: the table schema has no ts_day, and data files keep ts —
    // read-back returns exactly the written frame
    val back = IcebergSink.read(spark, table)
    assert(back.columns.toSeq == Seq("id", "ts", "v"))
    assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // day-pruned read: only day-1 files scanned, exact rows returned
    val (pruned, scanned, total) = IcebergSink.readDays(spark, table, "ts",
      java.time.LocalDate.of(2024, 3, 1), java.time.LocalDate.of(2024, 3, 2))
    // day-2 and day-3 files are skipped without being opened
    assert(scanned <= total - 2, s"expected pruning, scanned $scanned of $total")
    assert(pruned.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // append with no explicit partitioning adopts day(ts); a second day-1
    // row lands in the existing day's partition value
    IcebergSink.write(Seq((5L, ts(1, 23), 50.0)).toDF("id", "ts", "v"),
      table, IcebergSink.Append)
    val (pruned2, _, total2) = IcebergSink.readDays(spark, table, "ts",
      java.time.LocalDate.of(2024, 3, 1), java.time.LocalDate.of(2024, 3, 2))
    assert(total2 > total)
    assert(pruned2.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L))
    // a conflicting explicit spec is still refused on append
    val e = intercept[IllegalStateException] {
      IcebergSink.write(Seq((6L, ts(2, 1), 6.0)).toDF("id", "ts", "v"),
        table, IcebergSink.Append, partitionBy = Seq("id"))
    }
    assert(e.getMessage.contains("partition spec mismatch"))
  }

  test("Iceberg partitioned append adopts the spec and refuses a conflicting one") {
    val s2 = spark
    import s2.implicits._
    val df = Seq((1L, "en", 1.0), (2L, "de", 2.0)).toDF("id", "lang", "v")
    val table = tmp()
    IcebergSink.write(df, table, IcebergSink.CreateExclusive, partitionBy = Seq("lang"))
    // append with no explicit partitioning adopts lang
    IcebergSink.write(Seq((3L, "en", 3.0)).toDF("id", "lang", "v"), table, IcebergSink.Append)
    assert(IcebergSink.read(spark, table).count() == 3)
    assert(IcebergSink.read(spark, table).filter(col("lang") === "en").count() == 2)
    // a conflicting spec is refused
    val e = intercept[IllegalStateException] {
      IcebergSink.write(Seq((4L, "fr", 4.0)).toDF("id", "lang", "v"), table,
        IcebergSink.Append, partitionBy = Seq("id"))
    }
    assert(e.getMessage.contains("partition spec mismatch"))
  }

  test("Iceberg partitioning round-trips null and date partition values") {
    val s2 = spark
    import s2.implicits._
    val df = Seq(
      (1L, Option("en"), java.sql.Date.valueOf("2024-01-01")),
      (2L, Option.empty[String], java.sql.Date.valueOf("2024-02-15")))
      .toDF("id", "lang", "d")
    val table = tmp()
    IcebergSink.write(df, table, IcebergSink.CreateExclusive,
      partitionBy = Seq("lang", "d"))
    val back = IcebergSink.read(spark, table).orderBy("id").collect()
    assert(back(0).getString(1) == "en" &&
      back(0).getDate(2) == java.sql.Date.valueOf("2024-01-01"))
    assert(back(1).isNullAt(1) &&
      back(1).getDate(2) == java.sql.Date.valueOf("2024-02-15"))
  }

  test("Iceberg rejects unsupported partition column types with a clear error") {
    val s2 = spark
    import s2.implicits._
    val df = Seq((1L, 1.5)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      IcebergSink.write(df, tmp(), IcebergSink.CreateExclusive, partitionBy = Seq("v"))
    }
    assert(e.getMessage.contains("unsupported Iceberg identity-partition type"))
  }

  test("Iceberg partition values with '+' and '%' round-trip exactly") {
    val s2 = spark
    import s2.implicits._
    val df = Seq((1L, "a+b", 1.0), (2L, "c%2Fd", 2.0), (3L, "sp ace", 3.0))
      .toDF("id", "tag", "v")
    val table = tmp()
    IcebergSink.write(df, table, IcebergSink.CreateExclusive, partitionBy = Seq("tag"))
    val back = IcebergSink.read(spark, table).orderBy("id").collect()
    assert(back.map(_.getString(1)).toSeq == Seq("a+b", "c%2Fd", "sp ace"))
  }

  test("Iceberg time travel reads a pre-re-layout snapshot with ITS OWN partition columns") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    IcebergSink.write(Seq((1L, "en", 1.0), (2L, "de", 2.0)).toDF("id", "lang", "v"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("lang"))
    val snap1 = IcebergSink.snapshots(table).head._1
    // explicit re-layout on overwrite: now partitioned by id
    IcebergSink.write(Seq((3L, "fr", 3.0)).toDF("id", "lang", "v"),
      table, IcebergSink.Overwrite, partitionBy = Seq("id"))
    // current read sees the new layout
    assert(IcebergSink.read(spark, table).collect().map(_.getLong(0)).toSeq == Seq(3L))
    // time travel to the old snapshot reconstructs lang from ITS manifests,
    // not from the current (id) spec
    val old = IcebergSink.read(spark, table, asOfSnapshotId = Some(snap1))
      .orderBy("id").collect()
    assert(old.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "en"), (2L, "de")))
  }

  test("Iceberg overwrite without an explicit spec keeps the table partitioned") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    IcebergSink.write(Seq((1L, "en", 1.0)).toDF("id", "lang", "v"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("lang"))
    IcebergSink.write(Seq((2L, "de", 2.0)).toDF("id", "lang", "v"),
      table, IcebergSink.Overwrite) // no partitionBy → adopt, don't de-partition
    val meta = Files.readString(Paths.get(table, "metadata", "v1.metadata.json"))
    assert(meta.contains("\"transform\":\"identity\"") && meta.contains("\"name\":\"lang\""))
    val back = IcebergSink.read(spark, table).collect()
    assert(back.map(_.getString(1)).toSeq == Seq("de"))
  }

  test("Iceberg partition evolution: metadata-only re-layout, mixed-spec reads, id reuse (r14)") {
    val s2 = spark
    import s2.implicits._
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d $h%02d:00:00")
    val table = tmp()
    // spec 0: identity(lang)
    IcebergSink.write(
      Seq((1L, "en", ts(1, 9)), (2L, "de", ts(2, 9))).toDF("id", "lang", "ts"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("lang"))
    val snapPre = IcebergSink.snapshots(table).last._1
    val filesPre = IcebergSink.fileStats(spark, table)
      .select("path").collect().map(_.getString(0)).toSet
    // evolve the default spec to hidden day(ts): ONE metadata version, no
    // snapshot, zero data/manifest I/O
    assert(IcebergSink.evolvePartition(table, Seq("day(ts)")) == 1)
    val meta = Files.readString(Paths.get(table, "metadata", "v1.metadata.json"))
    assert(meta.contains("\"default-spec-id\":1"))
    assert(meta.contains("\"spec-id\":0") && meta.contains("\"spec-id\":1"))
    assert(meta.contains("\"last-partition-id\":1001")) // lang=1000, ts_day=1001
    assert(IcebergSink.fileStats(spark, table)
      .select("path").collect().map(_.getString(0)).toSet == filesPre)
    // an append now adopts day(ts); old files keep their identity layout
    IcebergSink.write(
      Seq((3L, "en", ts(1, 12)), (4L, "fr", ts(3, 12))).toDF("id", "lang", "ts"),
      table, IcebergSink.Append)
    val back = IcebergSink.read(spark, table).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "en"), (2L, "de"), (3L, "en"), (4L, "fr")))
    // the new manifest is stamped with ITS spec id; the old one keeps 0
    val listFile = new File(table, "metadata").listFiles()
      .filter(_.getName.startsWith("manifest-list-"))
      .maxBy(_.lastModified())
    val specStamps = graft.sinks.IcebergAvro.readManifestList(listFile)
      .map(_.get("partition_spec_id").asInstanceOf[Int]).toSet
    assert(specStamps == Set(0, 1), s"expected mixed spec stamps, got $specStamps")
    // day-pruned read: the day-3 NEW-spec file is pruned; OLD-spec files
    // (no ts_day value) are kept and the exact re-filter applies
    val (pruned, scanned, total) = IcebergSink.readDays(spark, table, "ts",
      java.time.LocalDate.of(2024, 3, 1), java.time.LocalDate.of(2024, 3, 2))
    assert(scanned < total, s"expected pruning, scanned $scanned of $total")
    assert(pruned.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // time travel to the pre-evolution snapshot is unaffected
    val old = IcebergSink.read(spark, table, asOfSnapshotId = Some(snapPre))
      .orderBy("id").collect()
    assert(old.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "en"), (2L, "de")))
    // evolving BACK to a layout the table already carries repoints the
    // default at the EXISTING spec — no new spec node is minted
    assert(IcebergSink.evolvePartition(table, Seq("lang")) == 0)
    assert(IcebergSink.evolvePartition(table, Seq("lang")) == 0) // idempotent no-op
    // a composite spec reuses BOTH known field-ids (spec id-stability rule)
    assert(IcebergSink.evolvePartition(table, Seq("lang", "day(ts)")) == 2)
    val hint = Files.readString(Paths.get(table, "metadata", "version-hint.text")).trim.toLong
    val meta2 = Files.readString(Paths.get(table, "metadata", s"v$hint.metadata.json"))
    val spec2 = mapperFields(meta2, 2)
    assert(spec2 == Seq(("lang", "identity", 1000), ("ts_day", "day", 1001)))
    // an append under the composite spec lays out two levels and reads back
    IcebergSink.write(Seq((5L, "de", ts(2, 15))).toDF("id", "lang", "ts"),
      table, IcebergSink.Append)
    assert(IcebergSink.read(spark, table).count() == 5)
    assert(IcebergSink.read(spark, table).filter(col("lang") === "de")
      .orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(2L, 5L))
  }

  test("Iceberg removeOrphanFiles: reclaims unreferenced files, spares live + fresh + Delta-plane (r14)") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    val df = (1L to 20L).map(i => (i, i.toDouble)).toDF("id", "v")
    IcebergSink.write(df, table, IcebergSink.CreateExclusive)
    IcebergSink.write(df.filter(col("id") <= 5), table, IcebergSink.Append)
    val old = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
    // plant orphans: a crashed writer's parquet + a dangling manifest avro
    val orphanData = new File(table, "data/stage-dead/part-junk.parquet")
    orphanData.getParentFile.mkdirs()
    Files.write(orphanData.toPath, Array[Byte](1, 2, 3))
    assert(orphanData.setLastModified(old))
    val orphanAvro = new File(table, "metadata/manifest-dead.avro")
    Files.write(orphanAvro.toPath, Array[Byte](4, 5))
    assert(orphanAvro.setLastModified(old))
    // a FRESH unreferenced file (a writer mid-stage) must survive the sweep
    val fresh = new File(table, "data/stage-live/part-fresh.parquet")
    fresh.getParentFile.mkdirs()
    Files.write(fresh.toPath, Array[Byte](6))
    val gone = IcebergSink.removeOrphanFiles(spark, table,
      olderThanMs = 24L * 3600 * 1000)
    assert(gone.toSet == Set(orphanData.getAbsolutePath, orphanAvro.getAbsolutePath))
    assert(fresh.exists())
    // referenced files all intact: full read + time travel still work
    assert(IcebergSink.read(spark, table).count() == 25)
    val s0 = IcebergSink.snapshots(table).head._1
    assert(IcebergSink.read(spark, table, Some(s0)).count() == 20)
    // dual-format guard: a Delta-live file the Iceberg view doesn't know
    // is NOT an orphan
    val t2 = tmp()
    DeltaSink.write(df, t2)
    IcebergSink.convertFromDelta(spark, t2)
    DeltaSink.append(df.filter(col("id") > 15), t2)
    // age every parquet so only the referenced-set logic protects them
    def walkP(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) walkP(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    walkP(new File(t2)).foreach(f => assert(f.setLastModified(old)))
    assert(IcebergSink.removeOrphanFiles(spark, t2,
      olderThanMs = 24L * 3600 * 1000).isEmpty)
    assert(DeltaSink.read(spark, t2).count() == 25)
    assert(IcebergSink.read(spark, t2).count() == 20)
    // Delta TOMBSTONES inside vacuum's retention are not orphans either
    // (r14 review): a CoW update rewrites the live set — the superseded
    // files still serve Delta time travel and only DeltaSink.vacuum may
    // reclaim them on ITS retention clock
    val vPre = DeltaSink.latestVersion(t2)
    DeltaSink.updateWhere(spark, t2, "id = 1", Map("v" -> "99.0"))
    walkP(new File(t2)).foreach(f => assert(f.setLastModified(old)))
    assert(IcebergSink.removeOrphanFiles(spark, t2,
      olderThanMs = 24L * 3600 * 1000).isEmpty)
    assert(DeltaSink.read(spark, t2, Some(vPre)).count() == 25)
  }

  test("Delta->Iceberg in-place convert (UniForm): zero copy, both front-ends live (r14)") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    val df = (1L to 100L).map(i => (i, s"g${i % 3}", i.toDouble)).toDF("id", "lang", "v")
    assert(DeltaSink.write(df, table, partitionBy = Seq("lang")))
    def parquets() = graft.TempTables.parquetFingerprint(table)
    val before = parquets()
    val n = IcebergSink.convertFromDelta(spark, table)
    assert(n == before.size, s"expected ${before.size} files, got $n")
    // ZERO COPY: not one parquet byte moved or minted
    assert(parquets() == before)
    // the Iceberg front-end reads the same rows, partition column included
    val ice = IcebergSink.read(spark, table)
    assert(ice.count() == 100)
    assert(ice.filter(col("lang") === "g1").count() ==
      DeltaSink.read(spark, table).filter(col("lang") === "g1").count())
    assert(ice.agg(sum(col("id"))).head().getLong(0) == 5050L)
    // footer stats made it into the manifest: a range read prunes nothing
    // here (single file per partition spans all ids) but must stay exact
    assert(IcebergSink.readRange(spark, table, "id", 10.0, 20.0).count() == 11)
    // metadata-only census answers from the manifest record counts
    assert(IcebergSink.fileStats(spark, table)
      .agg(sum(col("num_records"))).head().getLong(0) == 100L)
    // the DELTA front-end keeps working; the Iceberg view is as-of convert
    DeltaSink.append(df.filter(col("id") <= 10L), table)
    assert(DeltaSink.read(spark, table).count() == 110)
    assert(IcebergSink.read(spark, table).count() == 100)
    // refusals: double convert, DV-carrying, column-mapped
    assert(intercept[IllegalArgumentException] {
      IcebergSink.convertFromDelta(spark, table)
    }.getMessage.contains("already carries"))
    val t2 = tmp()
    DeltaSink.write(df, t2)
    DeltaSink.deleteWhereDV(spark, t2, "id <= 5")
    assert(intercept[IllegalArgumentException] {
      IcebergSink.convertFromDelta(spark, t2)
    }.getMessage.contains("purge"))
    val t3 = tmp()
    DeltaSink.write(df, t3)
    DeltaSink.renameColumn(spark, t3, "v", "val")
    assert(intercept[IllegalArgumentException] {
      IcebergSink.convertFromDelta(spark, t3)
    }.getMessage.contains("column-mapped"))
  }

  test("UniForm sync: Delta commits refresh the Iceberg view incrementally (r14)") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    val df = (1L to 50L).map(i => (i, s"g${i % 2}", i.toDouble)).toDF("id", "lang", "v")
    assert(DeltaSink.write(df, table, partitionBy = Seq("lang")))
    IcebergSink.convertFromDelta(spark, table)
    val snap0 = IcebergSink.snapshots(table).last._1
    // planes agree → sync is a no-op
    assert(IcebergSink.syncFromDelta(spark, table) == 0)
    // Delta evolves: append + compact (rewrites the live set)
    DeltaSink.append(df.filter(col("id") <= 10)
      .select(col("id") + 100, col("lang"), col("v")).toDF("id", "lang", "v"), table)
    assert(IcebergSink.read(spark, table).count() == 50) // stale until sync
    val seqPre = IcebergSink.mainHeadSequence(table)
    val n = IcebergSink.syncFromDelta(spark, table)
    assert(n > 0)
    // the sync's replace manifest keeps ALREADY-KNOWN files' sequences
    // explicit: a sequence-scoped consumer sees ONLY the new rows, never
    // a whole-table re-delivery
    assert(IcebergSink.readAppendedBetween(spark, table,
      seqPre, IcebergSink.mainHeadSequence(table)).count() == 10)
    val ice = IcebergSink.read(spark, table)
    assert(ice.count() == 60)
    assert(ice.filter(col("id") > 100).count() == 10)
    // partition values still reconstruct through the synced manifest
    assert(ice.filter(col("lang") === "g1").count() ==
      DeltaSink.read(spark, table).filter(col("lang") === "g1").count())
    // the pre-sync Iceberg snapshot still time-travels
    assert(IcebergSink.read(spark, table, Some(snap0)).count() == 50)
    // idempotent again after the sync
    assert(IcebergSink.syncFromDelta(spark, table) == 0)
    // a Delta CoW delete then syncs through as a replace
    DeltaSink.deleteWhere(spark, table, "id <= 5")
    assert(IcebergSink.syncFromDelta(spark, table) > 0)
    assert(IcebergSink.read(spark, table).count() == 55)
    // DV-carrying Delta state refuses to sync
    DeltaSink.deleteWhereDV(spark, table, "id = 6")
    assert(intercept[IllegalArgumentException] {
      IcebergSink.syncFromDelta(spark, table)
    }.getMessage.contains("purge"))
  }

  test("Iceberg->Delta in-place convert: zero copy, partition mapping, janitor guards (r14)") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    val df = (1L to 100L).map(i => (i, s"g${i % 3}", i.toDouble)).toDF("id", "lang", "v")
    IcebergSink.write(df, table, IcebergSink.CreateExclusive, partitionBy = Seq("lang"))
    def parquets() = graft.TempTables.parquetFingerprint(table)
    val before = parquets()
    val n = DeltaSink.convertFromIceberg(spark, table)
    assert(n == before.size)
    assert(parquets() == before) // zero copy
    // the Delta front-end reads the same rows, partition column included
    val back = DeltaSink.read(spark, table)
    assert(back.count() == 100)
    assert(back.filter(col("lang") === "g1").agg(count(lit(1))).head().getLong(0) ==
      IcebergSink.read(spark, table).filter(col("lang") === "g1").count())
    assert(back.agg(sum(col("id"))).head().getLong(0) == 5050L)
    assert(DeltaSink.fileStats(spark, table)
      .agg(sum(col("num_records"))).head().getLong(0) == 100L)
    // independent evolution: a Delta append is invisible to Iceberg and
    // an Iceberg append invisible to Delta
    DeltaSink.append(df.filter(col("id") <= 10), table)
    IcebergSink.write(df.filter(col("id") > 95), table, IcebergSink.Append)
    assert(DeltaSink.read(spark, table).count() == 110)
    assert(IcebergSink.read(spark, table).count() == 105)
    // JANITOR GUARD 1: Delta vacuum at retention 0 must spare the
    // Iceberg-only file (referenced by the other plane, unknown to Delta)
    DeltaSink.vacuum(spark, table, retentionMs = 0L)
    assert(IcebergSink.read(spark, table).count() == 105)
    assert(DeltaSink.read(spark, table).count() == 110)
    // JANITOR GUARD 2: Iceberg expiry must spare Delta-live files its own
    // kept snapshots retired (overwrite references only the new files)
    IcebergSink.write(df.filter(col("id") > 90), table, IcebergSink.Overwrite,
      partitionBy = Seq("lang"))
    IcebergSink.expireSnapshots(table, keepLast = 1)
    assert(DeltaSink.read(spark, table).count() == 110)
    assert(IcebergSink.read(spark, table).count() == 10)
    // refusals: hidden partitioning, MoR deletes, already-Delta
    val t2 = tmp()
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d 09:00:00")
    IcebergSink.write(Seq((1L, ts(1))).toDF("id", "ts"), t2,
      IcebergSink.CreateExclusive, partitionBy = Seq("day(ts)"))
    assert(intercept[IllegalArgumentException] {
      DeltaSink.convertFromIceberg(spark, t2)
    }.getMessage.contains("no Delta equivalent"))
    val t3 = tmp()
    IcebergSink.write(df, t3, IcebergSink.CreateExclusive)
    IcebergSink.deleteWhere(spark, t3, "id = 1")
    assert(intercept[IllegalArgumentException] {
      DeltaSink.convertFromIceberg(spark, t3)
    }.getMessage.contains("compact first"))
    assert(intercept[IllegalArgumentException] {
      DeltaSink.convertFromIceberg(spark, table)
    }.getMessage.contains("already a Delta table"))
  }

  test("timestamp time travel: Delta mtime resolution; Iceberg excludes unpublished staging (r14)") {
    val s2 = spark
    import s2.implicits._
    val df1 = Seq((1L, 1.0)).toDF("id", "v")
    val df2 = Seq((2L, 2.0)).toDF("id", "v")
    // Delta: boundary between two commits resolves to the earlier one
    val dt = tmp()
    assert(DeltaSink.write(df1, dt))
    Thread.sleep(20)
    val dBoundary = System.currentTimeMillis()
    Thread.sleep(20)
    DeltaSink.append(df2, dt)
    assert(DeltaSink.readAsOfTimestamp(spark, dt, dBoundary).count() == 1)
    assert(DeltaSink.readAsOfTimestamp(spark, dt,
      System.currentTimeMillis()).count() == 2)
    intercept[IllegalArgumentException] {
      DeltaSink.versionAtTimestamp(dt, 0L) // before the first commit
    }
    // Iceberg: a LATER branch commit never resolves — "the table at T"
    // is main-line only, until fastForward publishes
    val it = tmp() + "/tbl"
    IcebergSink.write(df1, it, IcebergSink.CreateExclusive)
    val head = IcebergSink.snapshots(it).last._1
    IcebergSink.createRef(it, "staged", head, refType = "branch")
    Thread.sleep(20)
    IcebergSink.appendBranch(df2, it, "staged")
    val after = System.currentTimeMillis()
    assert(IcebergSink.readAsOfTimestamp(spark, it, after).count() == 1)
    IcebergSink.fastForward(it, "staged")
    assert(IcebergSink.readAsOfTimestamp(spark, it,
      System.currentTimeMillis()).count() == 2)
    intercept[IllegalArgumentException] {
      IcebergSink.snapshotAtTimestamp(it, 0L)
    }
  }

  test("Iceberg ref retention policies: max-ref-age drops refs, branch chains bound protection (r14)") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    def batch(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "v")
    IcebergSink.write(batch(1, 5), table, IcebergSink.CreateExclusive)
    val s0 = IcebergSink.snapshots(table).last._1
    IcebergSink.write(batch(6, 10), table, IcebergSink.Append)
    val s1 = IcebergSink.snapshots(table).last._1
    IcebergSink.write(batch(11, 15), table, IcebergSink.Append)
    // an AGED ref (max-ref-age-ms=1) releases its pin at expiry; an
    // ageless ref pins forever
    IcebergSink.createRef(table, "old_tag", s0, maxRefAgeMs = Some(1L))
    IcebergSink.createRef(table, "pin", s1)
    Thread.sleep(10)
    IcebergSink.expireSnapshots(table, keepLast = 1)
    val refs = IcebergSink.listRefs(table)
    assert(!refs.contains("old_tag") && refs.contains("pin"))
    assert(IcebergSink.read(spark, table, Some(s1)).count() == 10) // pinned
    intercept[IllegalArgumentException] {
      IcebergSink.read(spark, table, Some(s0)).count() // pin released, expired
    }
    // BRANCH chain retention: min-snapshots-to-keep=1 + tiny
    // max-snapshot-age-ms protect only the branch HEAD; the intermediate
    // branch snapshot expires while an unbounded branch keeps its chain
    val head = IcebergSink.snapshots(table).last._1
    IcebergSink.createRef(table, "bounded", head, refType = "branch",
      minSnapshotsToKeep = Some(1), maxSnapshotAgeMs = Some(50L))
    IcebergSink.appendBranch(batch(16, 20), table, "bounded")
    val mid = IcebergSink.listRefs(table)("bounded")._1
    IcebergSink.appendBranch(batch(21, 25), table, "bounded")
    Thread.sleep(80) // both appends now older than max-snapshot-age-ms
    IcebergSink.appendBranch(batch(26, 30), table, "bounded") // fresh head
    IcebergSink.expireSnapshots(table, keepLast = 1)
    // the branch still reads at its head (min-keep guards it)...
    assert(IcebergSink.readRef(spark, table, "bounded").count() == 30)
    // ...but the aged intermediate snapshot is gone
    intercept[IllegalArgumentException] {
      IcebergSink.read(spark, table, Some(mid)).count()
    }
    // retention fields survived the branch advances (they did the work
    // above); tags refuse branch-only fields
    intercept[IllegalArgumentException] {
      IcebergSink.createRef(table, "bad", head, refType = "tag",
        minSnapshotsToKeep = Some(2))
    }
  }

  test("Iceberg compact migrates a partition-evolved table to the default spec (r14)") {
    val s2 = spark
    import s2.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d 09:00:00")
    val table = tmp()
    IcebergSink.write(
      Seq((1L, "en", ts(1)), (2L, "de", ts(2))).toDF("id", "lang", "ts"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("lang"))
    IcebergSink.evolvePartition(table, Seq("day(ts)"))
    IcebergSink.write(
      Seq((3L, "en", ts(1)), (4L, "fr", ts(3))).toDF("id", "lang", "ts"),
      table, IcebergSink.Append)
    // the evolution's migrate path: compact rewrites EVERYTHING under the
    // current default spec — afterwards the whole table is day-laid-out
    IcebergSink.compact(spark, table)
    val (pruned, scanned, total) = IcebergSink.readDays(spark, table, "ts",
      java.time.LocalDate.of(2024, 3, 1), java.time.LocalDate.of(2024, 3, 2))
    // EVERY file now carries a day ordinal: day-2 and day-3 files prune
    assert(total - scanned >= 2, s"expected full-layout pruning, $scanned of $total")
    assert(pruned.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // nothing lost; lang survives as a data column post-migration
    val all = IcebergSink.read(spark, table).orderBy("id").collect()
    assert(all.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "en"), (2L, "de"), (3L, "en"), (4L, "fr")))
  }

  test("Iceberg rewriteManifests: metadata-only compaction keeps reads, deletes, history (r14)") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, (i % 3).toString)).toDF("id", "g")
    IcebergSink.write(batch(1, 10), table, IcebergSink.CreateExclusive)
    IcebergSink.write(batch(11, 20), table, IcebergSink.Append)
    IcebergSink.write(batch(21, 30), table, IcebergSink.Append)
    IcebergSink.write(batch(31, 40), table, IcebergSink.Append)
    // a merge-on-read positional delete rides its own DELETE manifest
    IcebergSink.deleteWhere(spark, table, "id <= 5")
    assert(IcebergSink.read(spark, table).count() == 35)
    val preSnap = IcebergSink.snapshots(table).last._1
    val dataFilesPre = IcebergSink.fileStats(spark, table)
      .select("path").collect().map(_.getString(0)).toSet
    val (before, after) = IcebergSink.rewriteManifests(table)
    assert(before >= 4 && after == 1, s"expected >=4 -> 1, got $before -> $after")
    // idempotent: a second rewrite finds nothing to merge
    assert(IcebergSink.rewriteManifests(table) == ((1, 1)))
    // data file set identical — METADATA-only, and the incremental feed
    // since the pre-rewrite snapshot is EMPTY (no data file was added)
    assert(IcebergSink.fileStats(spark, table)
      .select("path").collect().map(_.getString(0)).toSet == dataFilesPre)
    assert(IcebergSink.readAppendedSince(spark, table, preSnap).count() == 0)
    // reads are unchanged, and the positional delete still applies:
    // merged entries carry their ORIGINAL sequence numbers explicitly
    val out = IcebergSink.read(spark, table)
    assert(out.count() == 35)
    assert(out.agg(min(col("id"))).head().getLong(0) == 6L)
    // pre-rewrite history still time-travels through its own list
    assert(IcebergSink.read(spark, table, Some(preSnap)).count() == 35)
    // the table keeps working: append after the rewrite carries the merged
    // manifest forward and a fresh delete still scopes correctly
    IcebergSink.write(batch(41, 50), table, IcebergSink.Append)
    assert(IcebergSink.read(spark, table).count() == 45)
    IcebergSink.deleteWhere(spark, table, "id = 40")
    assert(IcebergSink.read(spark, table).count() == 44)
  }

  /** Parses spec `specId`'s (name, transform, field-id) triples out of a
    * metadata JSON string (test-side mirror of the reader's spec lookup).
    */
  private def mapperFields(metaJson: String, specId: Int): Seq[(String, String, Int)] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(metaJson)
    val it = m.get("partition-specs").elements()
    var out = Seq.empty[(String, String, Int)]
    while (it.hasNext) {
      val sp = it.next()
      if (sp.get("spec-id").asInt() == specId) {
        val fit = sp.get("fields").elements()
        while (fit.hasNext) {
          val f = fit.next()
          out :+= ((f.get("name").asText(), f.get("transform").asText(),
            f.get("field-id").asInt()))
        }
      }
    }
    out
  }

  test("Iceberg compact bin-packs small files; data and history unchanged") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    IcebergSink.write(Seq((1L, 1.0)).toDF("id", "v"), table, IcebergSink.CreateExclusive)
    IcebergSink.write(Seq((2L, 2.0)).toDF("id", "v"), table, IcebergSink.Append)
    IcebergSink.write(Seq((3L, 3.0)).toDF("id", "v"), table, IcebergSink.Append)
    val preSnaps = IcebergSink.snapshots(table).size
    val (before, after) = IcebergSink.compact(spark, table)
    assert(before >= 3 && after < before, s"$before -> $after")
    assert(IcebergSink.read(spark, table).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // compaction is one more snapshot; the old ones stay time-travelable
    assert(IcebergSink.snapshots(table).size == preSnaps + 1)
  }

  test("Iceberg readRange prunes files via manifest bounds and keeps results exact") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    IcebergSink.write((1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v"),
      table, IcebergSink.CreateExclusive)
    IcebergSink.write((1000L to 1100L).map(i => (i, i * 1.0)).toDF("id", "v"),
      table, IcebergSink.Append)
    val (_, kept, total) = IcebergSink.planRangeFiles(spark, table, "id", 1000.0, 1050.0)
    assert(total >= 2 && kept.size < total,
      s"bounds must prune the low-range file: kept ${kept.size} of $total")
    val rows = IcebergSink.readRange(spark, table, "id", 1000.0, 1050.0)
      .orderBy("id").collect().map(_.getLong(0))
    assert(rows.toSeq == (1000L to 1050L).toSeq)
  }

  test("Iceberg DELETED manifest entries are not live on any read path") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    IcebergSink.write((1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v").repartition(2),
      table, IcebergSink.CreateExclusive)
    val meta = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(Files.readString(Paths.get(table, "metadata", "v0.metadata.json")))
    val listRel = meta.get("snapshots").elements().next().get("manifest-list").asText()
    val manifest = new File(graft.sinks.IcebergAvro.readManifestList(new File(table, listRel))
      .head.get("manifest_path").toString)
    // rewrite the data manifest under its own writer schema and key
    // metadata, its first entry marked status 2 (DELETED, spec §Manifests)
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val r = new DataFileReader[GenericRecord](manifest, new GenericDatumReader[GenericRecord]())
    val (schema, keyMeta, entries) =
      try (r.getSchema, r.getMetaKeys.asScala.toSeq.map(k => k -> r.getMetaString(k))
        .filterNot(_._1.startsWith("avro.")), r.iterator().asScala.toList)
      finally r.close()
    assert(entries.size == 2, "the write must produce two data files")
    entries.head.put("status", 2)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    keyMeta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, manifest)
    try entries.foreach(w.append) finally w.close()
    val gone = entries.head.get("data_file").asInstanceOf[GenericRecord]
    val gonePath = gone.get("file_path").toString
    val liveRows = 10L - gone.get("record_count").asInstanceOf[Long]
    assert(IcebergSink.read(spark, table).count() == liveRows)
    val stats = IcebergSink.fileStats(spark, table).collect()
    assert(stats.map(_.getAs[Long]("num_records")).sum == liveRows)
    assert(!stats.map(_.getAs[String]("path")).contains(gonePath))
    val (_, kept, total) = IcebergSink.planRangeFiles(spark, table, "id", 0.0, 100.0)
    assert(total == 1 && !kept.map(_._1).contains(gonePath))
    // rewriteManifests merges live entries only: the DELETED one stays gone
    IcebergSink.write(Seq((11L, 11.0)).toDF("id", "v"), table, IcebergSink.Append)
    assert(IcebergSink.rewriteManifests(table) == ((2, 1)))
    assert(IcebergSink.read(spark, table).count() == liveRows + 1)
    val merged = IcebergSink.fileStats(spark, table).collect()
    assert(merged.map(_.getAs[Long]("num_records")).sum == liveRows + 1)
    assert(!merged.map(_.getAs[String]("path")).contains(gonePath))
  }

  test("Iceberg compact preserves the partition layout") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    IcebergSink.write(Seq((1L, "en", 1.0), (2L, "de", 2.0)).toDF("id", "lang", "v"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("lang"))
    IcebergSink.write(Seq((3L, "en", 3.0)).toDF("id", "lang", "v"),
      table, IcebergSink.Append)
    IcebergSink.compact(spark, table)
    val meta = Files.readString(Paths.get(table, "metadata", "v2.metadata.json"))
    assert(meta.contains("\"name\":\"lang\""), "spec must survive compaction")
    assert(IcebergSink.read(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "en"), (2L, "de"), (3L, "en")))
  }

  test("Iceberg z-order compact clusters files into narrow, prunable ranges") {
    val s2 = spark
    import s2.implicits._
    val table = tmp()
    // interleaved writes: ids round-robin across files so every file
    // initially spans the whole id range (no pruning possible)
    IcebergSink.write((1L to 400L by 2).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1),
      table, IcebergSink.CreateExclusive)
    IcebergSink.write((2L to 400L by 2).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1),
      table, IcebergSink.Append)
    val (_, keptBefore, totalBefore) =
      IcebergSink.planRangeFiles(spark, table, "id", 1.0, 50.0)
    assert(keptBefore.size == totalBefore, "interleaved layout cannot prune")
    val (b, a) = IcebergSink.compact(spark, table,
      zorderBy = Seq("id"), targetFiles = Some(4))
    assert(a >= 4, s"$b -> $a")
    val (_, keptAfter, totalAfter) =
      IcebergSink.planRangeFiles(spark, table, "id", 1.0, 50.0)
    assert(keptAfter.size < totalAfter,
      s"z-order must make the range prunable: ${keptAfter.size} of $totalAfter")
    val rows = IcebergSink.readRange(spark, table, "id", 1.0, 50.0)
      .orderBy("id").collect().map(_.getLong(0))
    assert(rows.toSeq == (1L to 50L).toSeq)
  }

  test("Iceberg upsert into a PARTITIONED table: pruned reads see the merged state (r13)") {
    val s = spark
    import s.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:00")
    val table = tmp()
    IcebergSink.write(
      Seq((1L, ts(1), 10.0), (2L, ts(1), 20.0), (3L, ts(2), 30.0))
        .toDF("id", "ts", "v"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("day(ts)"))
    // update id=3 (day 2) and insert id=4 on day 2; the upsert's files land
    // UNPARTITIONED — the documented contract is that partition-pruned
    // readers KEEP files without partition values and the exact re-filter
    // settles membership
    IcebergSink.upsert(spark, table,
      Seq((3L, ts(2), 300.0), (4L, ts(2), 40.0)).toDF("id", "ts", "v"), Seq("id"))
    val d2 = java.time.LocalDate.of(2024, 3, 2)
    val (day2, _, _) = IcebergSink.readDays(spark, table, "ts", d2, d2.plusDays(1))
    assert(day2.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      Seq((3L, 300.0), (4L, 40.0)),
      "a day-pruned read must apply the upsert's equality deletes")
    val d1 = java.time.LocalDate.of(2024, 3, 1)
    val (day1, _, _) = IcebergSink.readDays(spark, table, "ts", d1, d1.plusDays(1))
    assert(day1.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "day-1 rows are untouched and day-2 rows must not leak in")
    assert(IcebergSink.read(spark, table).count() == 4)
    // bucket-partitioned point read through an upsert
    val tableB = tmp()
    IcebergSink.write((1L to 40L).map(i => (i, i.toDouble)).toDF("id", "v"),
      tableB, IcebergSink.CreateExclusive, partitionBy = Seq("bucket(4, id)"))
    IcebergSink.upsert(spark, tableB,
      Seq((7L, 700.0)).toDF("id", "v"), Seq("id"))
    val (probe, _, _) = IcebergSink.readBucket(spark, tableB, "id", 7L)
    assert(probe.collect().map(_.getDouble(1)).toSeq == Seq(700.0),
      "a bucket-pruned point read must surface the upserted row, not the stale one")
  }

  test("Iceberg partition-scoped delete manifests: pruned reads skip other partitions' delete files (r13)") {
    val s = spark
    import s.implicits._
    def ts(day: Int, i: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d ${8 + i % 10}%02d:00:00")
    val table = tmp()
    IcebergSink.write(
      (1L to 30L).map(i => (i, ts(if (i <= 15) 1 else 2, i.toInt), i.toDouble))
        .toDF("id", "ts", "v"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("day(ts)"))
    // delete rows living ONLY in day 1
    val n = IcebergSink.deleteWhere(spark, table, "id <= 5")
    assert(n == 5L)
    val d1 = java.time.LocalDate.of(2024, 3, 1)
    val d2 = java.time.LocalDate.of(2024, 3, 2)
    // the day-2 read must not open ANY delete file; day 1 keeps them
    val (day2, _, _, delKept2, delTotal) =
      IcebergSink.planDays(spark, table, "ts", d2, d2.plusDays(1))
    assert(delTotal >= 1)
    assert(delKept2 == 0,
      s"day-2 read kept $delKept2 of $delTotal delete files — partition scope not applied")
    assert(day2.count() == 15)
    val (day1, _, _, delKept1, _) =
      IcebergSink.planDays(spark, table, "ts", d1, d1.plusDays(1))
    assert(delKept1 >= 1, "day-1 read must keep its own delete files")
    assert(day1.orderBy("id").collect().map(_.getLong(0)).toSeq == (6L to 15L).toSeq)
    // unscoped delete files (equality deletes from upsert) are KEPT by
    // every pruned read — pruning is an optimization, never a filter
    IcebergSink.upsert(spark, table, Seq((20L, ts(2, 0), 2000.0)).toDF("id", "ts", "v"), Seq("id"))
    val (day2b, _, _, delKept2b, delTotalB) =
      IcebergSink.planDays(spark, table, "ts", d2, d2.plusDays(1))
    assert(delKept2b == delTotalB - delKept1 || delKept2b >= 1,
      "the unscoped equality delete must be kept")
    assert(day2b.filter(col("id") === 20L).head().getDouble(2) == 2000.0)
    // full read still applies everything
    assert(IcebergSink.read(spark, table).count() == 25)
  }

  test("Iceberg named refs: tags pin snapshots through expiry, branches read (r13)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(Seq((1L, 1.0)).toDF("id", "v"), table,
      IcebergSink.CreateExclusive)
    val s0 = IcebergSink.snapshots(table).last._1
    IcebergSink.writeWithRetry(Seq((2L, 2.0)).toDF("id", "v"), table, IcebergSink.Append)
    IcebergSink.writeWithRetry(Seq((3L, 3.0)).toDF("id", "v"), table, IcebergSink.Append)
    IcebergSink.writeWithRetry(Seq((4L, 4.0)).toDF("id", "v"), table, IcebergSink.Append)
    // tag the bootstrap snapshot; a branch ref on a mid snapshot
    IcebergSink.createRef(table, "v1.0", s0)
    val sMid = IcebergSink.snapshots(table)(2)._1
    IcebergSink.createRef(table, "audit", sMid, refType = "branch")
    assert(IcebergSink.listRefs(table).keySet == Set("main", "v1.0", "audit"))
    assert(IcebergSink.readRef(spark, table, "v1.0").count() == 1)
    assert(IcebergSink.readRef(spark, table, "audit").count() == 3)
    // EXPIRY keeps ref-pinned snapshots: keepLast=1 would normally expire
    // everything but the newest, but the tag and branch pin theirs
    IcebergSink.expireSnapshots(table, keepLast = 1)
    assert(IcebergSink.readRef(spark, table, "v1.0").count() == 1,
      "a tagged snapshot must survive expiry")
    assert(IcebergSink.readRef(spark, table, "audit").count() == 3)
    assert(IcebergSink.read(spark, table).count() == 4)
    // the UNPINNED middle snapshot is gone
    val s1 = IcebergSink.snapshots(table).map(_._1).toSet
    assert(!s1.contains(IcebergSink.snapshots(table).headOption.map(_ => -1L).getOrElse(-1L)))
    // dropping the tag makes its snapshot expirable again
    IcebergSink.dropRef(table, "v1.0")
    IcebergSink.expireSnapshots(table, keepLast = 1)
    intercept[Exception](IcebergSink.readRef(spark, table, "v1.0"))
    assert(IcebergSink.readRef(spark, table, "audit").count() == 3,
      "the branch ref still pins")
    // guards
    intercept[Exception](IcebergSink.createRef(table, "main", s0))
    intercept[Exception](IcebergSink.createRef(table, "x", 123456789L))
    intercept[Exception](IcebergSink.dropRef(table, "main"))
    intercept[Exception](IcebergSink.dropRef(table, "nope"))
  }

  test("Iceberg updateWhere: merge-on-read predicate update in one snapshot (r13)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(
      (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v"), table,
      IcebergSink.CreateExclusive)
    val s0 = IcebergSink.snapshots(table).last._1
    def dataFilesNow() = new File(table, "data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet ++
      Option(new File(table, "data").listFiles()).toSeq.flatten
        .filter(_.isDirectory).flatMap(d => d.listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified, f.length))).toSet
    val before = dataFilesNow()
    val n = IcebergSink.updateWhere(spark, table, "id % 10 = 0",
      Map("v" -> "v + 1000"))
    assert(n == 10L)
    assert(IcebergSink.snapshots(table).length == 2, "update is ONE atomic snapshot")
    assert(before.subsetOf(dataFilesNow()),
      "an MoR update must not rewrite any existing data file")
    val out = IcebergSink.read(spark, table)
    assert(out.count() == 100)
    assert(out.filter(col("id") === 10).collect().map(_.getDouble(1)).toSeq == Seq(1010.0))
    assert(out.filter(col("id") === 7).head().getDouble(1) == 7.0)
    // pre-update snapshot intact
    assert(IcebergSink.read(spark, table, Some(s0))
      .filter(col("id") === 10).head().getDouble(1) == 10.0)
    // updates COMPOSE: the second update masks the replacement files' rows
    assert(IcebergSink.updateWhere(spark, table, "id % 10 = 0",
      Map("v" -> "v + 1000")) == 10L)
    assert(IcebergSink.read(spark, table).filter(col("id") === 10)
      .collect().map(_.getDouble(1)).toSeq == Seq(2010.0))
    // changelog decomposes each update snapshot into delete + insert rows
    val feed = IcebergSink.readChangelog(spark, table, s0)
    assert(feed.filter(col("_change_type") === "delete").count() == 20)
    assert(feed.filter(col("_change_type") === "insert").count() == 20)
    // no-match update commits nothing
    val snaps = IcebergSink.snapshots(table).length
    assert(IcebergSink.updateWhere(spark, table, "id = -1", Map("v" -> "0.0")) == 0L)
    assert(IcebergSink.snapshots(table).length == snaps)
    // compaction materializes the masked state
    IcebergSink.compact(spark, table)
    assert(IcebergSink.read(spark, table).filter(col("id") === 10)
      .head().getDouble(1) == 2010.0)
    assert(IcebergSink.read(spark, table).count() == 100)
  }

  test("Iceberg deleteKeys: equality-delete-only CDC snapshot (r13)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(
      (1L to 10L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "v"),
      table, IcebergSink.CreateExclusive)
    val s0 = IcebergSink.snapshots(table).last._1
    val n = IcebergSink.deleteKeys(spark, table,
      Seq(Tuple1(3L), Tuple1(7L)).toDF("id"), Seq("id"))
    assert(n == 2L)
    assert(IcebergSink.snapshots(table).length == 2, "deleteKeys is ONE atomic snapshot")
    // no data file was read or rewritten: the original data files are intact
    assert(IcebergSink.read(spark, table).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 4L, 5L, 6L, 8L, 9L, 10L))
    assert(IcebergSink.read(spark, table, Some(s0)).count() == 10, "snapshot isolation")
    // empty source commits nothing and returns 0
    val snaps = IcebergSink.snapshots(table).length
    assert(IcebergSink.deleteKeys(spark, table,
      Seq.empty[Tuple1[Long]].toDF("id"), Seq("id")) == 0L)
    assert(IcebergSink.snapshots(table).length == snaps)
    // deleting keys that no longer exist is a read-level no-op
    IcebergSink.deleteKeys(spark, table, Seq(Tuple1(3L)).toDF("id"), Seq("id"))
    assert(IcebergSink.read(spark, table).count() == 8)
    // the changelog classifies erased rows as DELETE (no replacement row)
    val feed = IcebergSink.readChangelog(spark, table, s0)
      .filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(feed == Set(3L, 7L), s"got $feed")
  }

  test("Iceberg mixed equality-id delete sets in ONE snapshot: per-group reads + changelog (r13)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0))
        .toDF("id", "name", "v"),
      table, IcebergSink.CreateExclusive)
    val s0 = IcebergSink.snapshots(table).last._1
    // one snapshot, TWO equality-id groups: (id) deletes id=1; (name)
    // deletes name="a" (the SAME row — must image once) and name="d"
    val n = IcebergSink.deleteKeyGroups(spark, table, Seq(
      (Seq(Tuple1(1L)).toDF("id"), Seq("id")),
      (Seq(Tuple1("a"), Tuple1("d")).toDF("name"), Seq("name"))))
    assert(n == 3L)
    assert(IcebergSink.snapshots(table).length == 2)
    assert(IcebergSink.read(spark, table).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 3L))
    val feed = IcebergSink.readChangelog(spark, table, s0).collect()
    assert(feed.forall(_.getString(3) == "delete"))
    assert(feed.map(_.getLong(0)).toSet == Set(1L, 4L),
      "a row erased by two groups must image exactly once; got " +
        feed.map(r => (r.getLong(0), r.getString(3))).mkString(","))
    assert(feed.length == 2)
  }

  test("Iceberg plain append preserves the stored schema verbatim (r13 advice)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(sampleDf, table, IcebergSink.CreateExclusive)
    IcebergSink.evolve(Seq((4L, "d", 4.5, 0.9)).toDF("id", "name", "v", "score"), table)
    // a plain append whose frame declares the evolved tail NON-nullable
    // (toDF literals are non-nullable) must NOT flip schemas[1].score back
    // to required, and must NOT mutate schema-id 1's content in place
    IcebergSink.writeWithRetry(
      Seq((5L, "e", 5.5, 0.5)).toDF("id", "name", "v", "score"),
      table, IcebergSink.Append)
    def meta() = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(Files.readString(Paths.get(table, "metadata",
        s"v${Files.readString(Paths.get(table, "metadata", "version-hint.text")).trim}.metadata.json")))
    val m1 = meta()
    assert(m1.get("current-schema-id").asInt() == 1, "plain append keeps the schema-id")
    val sc1 = m1.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == 1).get
    assert(!sc1.get("fields").elements().asScala
      .find(_.get("name").asText() == "score").get.get("required").asBoolean(),
      "append must not tighten the evolved tail back to required")
    assert(!org.apache.spark.sql.types.DataType.fromJson(
      m1.get("properties").get("graft.spark-schema").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]("score").nullable == false,
      "graft.spark-schema must keep the stored nullability")
    // a gate-passing append under DIFFERENT column names keeps the stored
    // names — and its data files are written under them, so they read back
    IcebergSink.writeWithRetry(
      Seq((6L, "f", 6.5, 0.7)).toDF("pk", "label", "value", "extra"),
      table, IcebergSink.Append)
    val m2 = meta()
    assert(m2.get("current-schema-id").asInt() == 1)
    assert(org.apache.spark.sql.types.DataType.fromJson(
      m2.get("properties").get("graft.spark-schema").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("id", "name", "v", "score"))
    val back = IcebergSink.read(spark, table).orderBy("id").collect()
    assert(back.length == 6)
    assert(back.last.getLong(0) == 6L && back.last.getString(1) == "f" &&
      back.last.getDouble(3) == 0.7,
      "renamed-frame rows must read back under the stored names, never as NULLs")
    // an OVERWRITE re-declaring the schema mints the NEXT schema-id
    // rather than mutating the current one in place
    IcebergSink.write(Seq((9L, "z", 9.9, 0.1)).toDF("id", "name", "v", "score"),
      table, IcebergSink.Overwrite)
    val m3 = meta()
    assert(m3.get("current-schema-id").asInt() == 2,
      s"overwrite with a tightened schema must mint a new id, got ${m3.get("current-schema-id")}")
    assert(m3.get("schemas").size() == 3, "previous schemas stay retained")
  }

  test("Delta deletion vectors: merge-on-read delete, no rewrite, protocol bump (r13)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write((1L to 100L).map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "v"), table))
    val filesBefore = new File(table).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val v0 = DeltaSink.latestVersion(table)
    // DV delete: rows gone, data files byte-identical
    val n = DeltaSink.deleteWhereDV(spark, table, "id % 10 = 0")
    assert(n == 10L)
    val filesAfter = new File(table).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    assert(filesBefore == filesAfter, "a DV delete must not touch any data file")
    assert(new File(table, "deletion_vectors").listFiles().exists(_.getName.endsWith(".bin")))
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 90)
    assert(out.filter(col("id") % 10 === 0).count() == 0)
    // protocol bumped IN the delete's commit
    val commit = Files.readString(Paths.get(table, "_delta_log",
      f"${v0 + 1}%020d.json"))
    assert(commit.contains("\"minReaderVersion\":3") &&
      commit.contains("\"minWriterVersion\":7") &&
      commit.contains("deletionVectors"))
    // pre-delete version still reads all rows
    assert(DeltaSink.read(spark, table, Some(v0)).count() == 100)
    // re-delete is a no-op: matches evaluate against the merged view
    assert(DeltaSink.deleteWhereDV(spark, table, "id % 10 = 0") == 0L)
    // a second DV delete on the same files OR-merges into ONE descriptor
    assert(DeltaSink.deleteWhereDV(spark, table, "id % 7 = 0") == 13L)
    val out2 = DeltaSink.read(spark, table)
    assert(out2.count() == 77)
    assert(out2.filter(col("id") % 7 === 0 || col("id") % 10 === 0).count() == 0)
    // CDF classifies the DV delete without reconstruction
    val cdf = DeltaSink.readCdf(spark, table, v0)
    assert(cdf.filter(col("_change_type") === "delete").count() == 23)
    // metadata-only count subtracts DV cardinality
    assert(DeltaSink.fileStats(spark, table)
      .agg(sum(col("num_records"))).head().getLong(0) == 77L)
  }

  test("Delta column mapping: rename/drop are metadata-only, physical names round-trip (r13)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(
      Seq((1L, 10, "a"), (2L, 20, "b")).toDF("id", "qty", "note").coalesce(1), table))
    def files() = new File(table).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val before = files()
    val v0 = DeltaSink.latestVersion(table)
    // RENAME: logical only; the pre-rename file keeps its physical name
    DeltaSink.renameColumn(spark, table, "qty", "quantity")
    assert(files() == before, "rename must not touch any data file")
    val commit = Files.readString(Paths.get(table, "_delta_log", f"${v0 + 1}%020d.json"))
    assert(commit.contains("\"minReaderVersion\":2") &&
      commit.contains("columnMapping.physicalName"))
    val r1 = DeltaSink.read(spark, table)
    assert(r1.columns.toSeq == Seq("id", "quantity", "note"))
    assert(r1.orderBy("id").collect().map(_.getInt(1)).toSeq == Seq(10, 20),
      "pre-rename files must surface values under the NEW name, not NULLs")
    // append under the NEW logical name: the file lands under the
    // physical name and reads back merged
    DeltaSink.append(Seq((3L, 30, "c")).toDF("id", "quantity", "note"), table)
    assert(DeltaSink.read(spark, table).orderBy("id").collect()
      .map(_.getInt(1)).toSeq == Seq(10, 20, 30))
    // DROP: metadata-only; the physical column stays in files, unread
    DeltaSink.dropColumn(spark, table, "note")
    val r2 = DeltaSink.read(spark, table)
    assert(r2.columns.toSeq == Seq("id", "quantity"))
    assert(before.subsetOf(files()), "drop must not touch any data file")
    // stats pruning keys by PHYSICAL name under the logical column
    assert(DeltaSink.readRange(spark, table, "quantity", "25", "35")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // CoW update through the mapping: rewrite stages under physical names
    DeltaSink.updateWhere(spark, table, "id = 1", Map("quantity" -> "quantity + 100"))
    assert(DeltaSink.read(spark, table).filter(col("id") === 1)
      .head().getInt(1) == 110)
    // the CDF carries LOGICAL names
    val feed = DeltaSink.readCdf(spark, table, v0)
    assert(feed.columns.contains("quantity"))
    assert(feed.filter(col("_change_type") === "update_postimage")
      .head().getInt(1) == 110)
    // checkpoint keeps the mapping; reads still resolve
    DeltaSink.checkpoint(spark, table)
    assert(DeltaSink.read(spark, table).count() == 3)
    // time travel BEFORE the rename reads that version's own schema
    assert(DeltaSink.read(spark, table, Some(v0)).columns.toSeq ==
      Seq("id", "qty", "note"))
    // guards
    intercept[Exception](DeltaSink.renameColumn(spark, table, "quantity", "id"))
    intercept[Exception](DeltaSink.dropColumn(spark, table, "nope"))
    val pt = tmp()
    assert(DeltaSink.write(Seq((1L, "en", 1.0)).toDF("id", "lang", "v"), pt,
      partitionBy = Seq("lang")))
    intercept[Exception](DeltaSink.renameColumn(spark, pt, "lang", "language"))
    intercept[Exception](DeltaSink.dropColumn(spark, pt, "lang"))
  }

  test("Delta column mapping interplay: merge CDF, evolve-after-mapping, drop-then-readd (r13 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(
      Seq((1L, 10, "a"), (2L, 20, "b")).toDF("id", "qty", "note").coalesce(1), table))
    DeltaSink.renameColumn(spark, table, "qty", "quantity")
    // merge CDF images must carry the renamed column's VALUES, not NULLs
    val v1 = DeltaSink.latestVersion(table)
    DeltaSink.merge(spark, table,
      Seq((1L, 100, "a2"), (3L, 30, "c")).toDF("id", "quantity", "note"), Seq("id"))
    val feed = DeltaSink.readCdf(spark, table, v1)
    assert(feed.filter(col("_change_type") === "update_postimage")
      .head().getInt(1) == 100,
      "merge cdc files must be written under physical names")
    assert(feed.filter(col("_change_type") === "insert").head().getInt(1) == 30)
    // a column ADDED after mapping was enabled gets a FRESH physical name;
    // renaming it later must keep its pre-rename data readable
    DeltaSink.append(Seq((4L, 40, "d", true)).toDF("id", "quantity", "note", "flag"),
      table, mergeSchema = true)
    DeltaSink.renameColumn(spark, table, "flag", "active")
    val r = DeltaSink.read(spark, table).orderBy("id").collect()
    assert(r.length == 4)
    assert(r(3).getBoolean(3) == true,
      "pre-rename data of a post-mapping column must survive the rename")
    // drop-then-readd must NOT resurrect the dropped column's old data
    DeltaSink.dropColumn(spark, table, "note")
    DeltaSink.append(Seq((5L, 50, false, "fresh"))
      .toDF("id", "quantity", "active", "note"), table, mergeSchema = true)
    val back = DeltaSink.read(spark, table).orderBy("id").collect()
    assert(back.take(4).forall(_.isNullAt(back.head.fieldIndex("note"))),
      "re-adding a dropped logical name must read NULL for old rows, " +
        s"never the pre-drop values: ${back.mkString(",")}")
    assert(back(4).getString(back.head.fieldIndex("note")) == "fresh")
  }

  test("Iceberg updateWhere: a bad SET fails before any artifact is staged (r13 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(Seq((1L, 1.0)).toDF("id", "v"), table,
      IcebergSink.CreateExclusive)
    def dataTree() = {
      def walk(f: File): Seq[String] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f.getName)
      walk(new File(table, "data")).sorted
    }
    val before = dataTree()
    intercept[Exception](
      IcebergSink.updateWhere(spark, table, "id > 0", Map("nosuch" -> "1")))
    intercept[Exception](
      IcebergSink.updateWhere(spark, table, "id > 0", Map("v" -> "not a ( expr")))
    assert(dataTree() == before, "a rejected SET must leak zero artifacts")
    assert(IcebergSink.snapshots(table).length == 1)
  }

  test("Delta updateWhereDV: merge-on-read update masks old rows and appends replacements (r13)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(
      (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v"), table))
    val before = new File(table).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val v0 = DeltaSink.latestVersion(table)
    val n = DeltaSink.updateWhereDV(spark, table, "id % 10 = 0",
      Map("v" -> "v + 1000"))
    assert(n == 10L)
    // originals untouched; replacements are NEW files
    val after = new File(table).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    assert(before.subsetOf(after), "an MoR update must not rewrite any touched file")
    assert(after.size > before.size, "replacements land as new files")
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 100)
    assert(out.filter(col("id") === 10).head().getDouble(1) == 1010.0)
    assert(out.filter(col("id") === 10).count() == 1, "no duplicate row after the mask+append")
    assert(out.filter(col("v") === 20.0).count() == 0, "id=20's old value must be masked") // id 20 -> 1020
    assert(out.filter(col("id") === 20).head().getDouble(1) == 1020.0)
    // SET evaluates against the PRE-update row; a second MoR update
    // composes (masks the replacement file's rows this time)
    assert(DeltaSink.updateWhereDV(spark, table, "id % 10 = 0",
      Map("v" -> "v + 1000")) == 10L)
    assert(DeltaSink.read(spark, table).filter(col("id") === 10)
      .head().getDouble(1) == 2010.0)
    // CDF triple census over both commits
    val feed = DeltaSink.readCdf(spark, table, v0)
    assert(feed.filter(col("_change_type") === "update_preimage").count() == 20)
    assert(feed.filter(col("_change_type") === "update_postimage").count() == 20)
    // time travel to the pre-update version
    assert(DeltaSink.read(spark, table, Some(v0))
      .filter(col("id") === 10).head().getDouble(1) == 10.0)
    // DV delete composes over the MoR-updated state
    assert(DeltaSink.deleteWhereDV(spark, table, "id = 10") == 1L)
    assert(DeltaSink.read(spark, table).count() == 99)
  }

  test("Delta generated columns: computed on write, auto-filled and verified on append (r14)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d 09:00:00")
    val df = Seq((1L, ts(1), 1.0), (2L, ts(2), 2.0), (3L, ts(3), 3.0))
      .toDF("id", "ts", "v")
    assert(DeltaSink.writeGenerated(df, table,
      generated = Map("event_date" -> "CAST(ts AS DATE)"),
      partitionBy = Seq("event_date")))
    // schema carries the expression; protocol demands writer v4
    val log0 = Files.readString(Paths.get(table, "_delta_log",
      "00000000000000000000.json"))
    assert(log0.contains("delta.generationExpression"))
    assert(Files.readString(Paths.get(table, "_delta_log",
      "00000000000000000002.json")).contains("\"minWriterVersion\":4"))
    // Hive layout on the generated column
    assert(new File(table).listFiles().exists(_.getName == "event_date=2024-03-01"))
    val back = DeltaSink.read(spark, table)
    assert(back.columns.toSeq == Seq("id", "ts", "v", "event_date"))
    assert(back.filter(col("event_date") === "2024-03-02").count() == 1)
    // append WITHOUT the column: computed automatically, lands partitioned
    DeltaSink.append(Seq((4L, ts(1), 4.0)).toDF("id", "ts", "v"), table)
    assert(DeltaSink.read(spark, table)
      .filter(col("event_date") === "2024-03-01").count() == 2)
    // append WITH a correct value: verified, passes
    DeltaSink.append(Seq((5L, ts(2), 5.0)).toDF("id", "ts", "v")
      .withColumn("event_date", to_date(col("ts"))), table)
    assert(DeltaSink.read(spark, table).count() == 5)
    // append WITH a WRONG value: the write job fails, nothing commits
    val vBefore = DeltaSink.latestVersion(table)
    intercept[Exception] {
      DeltaSink.append(Seq((6L, ts(2), 6.0)).toDF("id", "ts", "v")
        .withColumn("event_date", lit(java.sql.Date.valueOf("1999-01-01"))), table)
    }
    assert(DeltaSink.latestVersion(table) == vBefore)
    assert(DeltaSink.read(spark, table).count() == 5)
  }

  test("Delta CHECK constraints: add validates, every ingest path enforces, drop releases (r14)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    def rows(r: Range, v: Double) = r.map(i => (i.toLong, v)).toDF("id", "v")
    assert(DeltaSink.write(rows(1 to 10, 1.5), table))
    val v0 = DeltaSink.latestVersion(table)
    DeltaSink.addCheckConstraint(spark, table, "v_pos", "v > 0")
    val commit = Files.readString(Paths.get(table, "_delta_log", f"${v0 + 1}%020d.json"))
    assert(commit.contains("delta.constraints.v_pos") &&
      commit.contains("\"minWriterVersion\":3"))
    // valid append passes; NULL satisfies (SQL CHECK semantics)
    DeltaSink.append(rows(11 to 15, 2.0), table)
    DeltaSink.append(Seq((16L, null.asInstanceOf[java.lang.Double]))
      .toDF("id", "v").selectExpr("id", "cast(v as double) as v"), table)
    assert(DeltaSink.read(spark, table).count() == 16)
    // a violating append fails the WRITE JOB — nothing commits
    val vBefore = DeltaSink.latestVersion(table)
    intercept[Exception] { DeltaSink.append(rows(17 to 18, -1.0), table) }
    assert(DeltaSink.latestVersion(table) == vBefore)
    assert(DeltaSink.read(spark, table).count() == 16)
    // adding a constraint the EXISTING data violates is refused
    assert(intercept[IllegalArgumentException] {
      DeltaSink.addCheckConstraint(spark, table, "id_high", "id > 5")
    }.getMessage.contains("existing rows violate"))
    // an UPDATE whose post-image violates fails too (CoW path)
    intercept[Exception] {
      DeltaSink.updateWhere(spark, table, "id = 3", Map("v" -> "-9.0"))
    }
    assert(DeltaSink.read(spark, table).filter(col("v") < 0).count() == 0)
    // a MERGE inserting a violating row fails
    intercept[Exception] {
      DeltaSink.merge(spark, table, Seq((99L, -5.0)).toDF("id", "v"), Seq("id"))
    }
    assert(DeltaSink.read(spark, table).count() == 16)
    // the constraint survives a checkpoint (configuration rides it)
    DeltaSink.checkpoint(spark, table)
    intercept[Exception] { DeltaSink.append(rows(20 to 21, -2.0), table) }
    // a mergeSchema (evolving) append re-emits metaData — the constraint
    // must ride the re-emission, not vanish (r14 review)
    DeltaSink.append(Seq((17L, 3.0, "x")).toDF("id", "v", "tag"), table,
      mergeSchema = true)
    intercept[Exception] {
      DeltaSink.append(Seq((18L, -3.0, "y")).toDF("id", "v", "tag"), table)
    }
    // a SHALLOW CLONE carries the constraint (real CLONE copies properties)
    val clone = tmp() + "/clone"
    DeltaSink.cloneTable(spark, table, clone)
    intercept[Exception] {
      DeltaSink.append(Seq((19L, -4.0, "z")).toDF("id", "v", "tag"), clone)
    }
    // a column-mapping rename re-emits metaData too — constraint survives
    DeltaSink.renameColumn(spark, table, "tag", "label")
    intercept[Exception] {
      DeltaSink.append(Seq((19L, -4.0, "z")).toDF("id", "v", "label"), table)
    }
    assert(DeltaSink.read(spark, table).filter(col("v") < 0).count() == 0)
    // DROP releases: the same batch now lands
    DeltaSink.dropCheckConstraint(spark, table, "v_pos")
    DeltaSink.append(Seq((20L, -2.0, "w"), (21L, -2.0, "w"))
      .toDF("id", "v", "label"), table)
    assert(DeltaSink.read(spark, table).count() == 19)
    // v7 (DV) table: the constraint rides the checkConstraints writer feature
    val t2 = tmp()
    assert(DeltaSink.write(rows(1 to 10, 1.0), t2))
    DeltaSink.deleteWhereDV(spark, t2, "id = 1") // bumps to v3/v7
    val v2 = DeltaSink.latestVersion(t2)
    DeltaSink.addCheckConstraint(spark, t2, "v_pos", "v > 0")
    val c2 = Files.readString(Paths.get(t2, "_delta_log", f"${v2 + 1}%020d.json"))
    assert(c2.contains("checkConstraints") && c2.contains("\"minWriterVersion\":7"))
    intercept[Exception] {
      DeltaSink.updateWhereDV(spark, t2, "id = 2", Map("v" -> "-1.0"))
    }
    assert(DeltaSink.read(spark, t2).filter(col("v") < 0).count() == 0)
  }

  test("Delta REORG purge: rewrites only DV files, drops DVs, layout-only commit (r14)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    // 2500 rows at maxRecordsPerFile=1000 → files of 1000/1000/500
    assert(DeltaSink.write((1L to 2500L).map(i => (i, i.toDouble))
      .toDF("id", "v").coalesce(1), table, maxRecordsPerFile = 1000))
    // the predicate masks rows in the FIRST file only
    assert(DeltaSink.deleteWhereDV(spark, table, "id <= 300") == 300L)
    def liveByPath() = DeltaSink.fileStats(spark, table)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val pre = liveByPath()
    val dvCommit = DeltaSink.latestVersion(table)
    val (rewritten, purged) = DeltaSink.reorgPurge(spark, table)
    assert((rewritten, purged) == ((1, 300L)))
    val post = liveByPath()
    // clean files survive the purge verbatim; the DV file's replacement
    // carries exactly its survivors
    val untouched = pre.keySet.intersect(post.keySet)
    assert(untouched.size == 2, s"expected 2 untouched files, got $untouched")
    assert(untouched.forall(p => pre(p) == post(p)))
    assert(post.values.sum == 2200L)
    // no descriptor anywhere: a second purge is a no-op
    assert(DeltaSink.reorgPurge(spark, table) == ((0, 0L)))
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 2200)
    assert(out.agg(min(col("id"))).head().getLong(0) == 301L)
    // layout-only: the CDF feed over the purge commit is EMPTY
    assert(DeltaSink.readCdf(spark, table, dvCommit).count() == 0)
    // the orphaned sidecar reclaims through vacuum's superseded sweep
    assert(new File(table, "deletion_vectors").listFiles()
      .exists(_.getName.endsWith(".bin")))
    DeltaSink.vacuum(spark, table, retentionMs = 0L)
    assert(Option(new File(table, "deletion_vectors").listFiles()).toSeq.flatten
      .forall(!_.getName.endsWith(".bin")))
  }

  test("Delta deletion vectors: checkpoint/vacuum/restore/CoW interplay + protocol gate (r13)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write((1L to 50L).map(i => (i, i.toDouble)).toDF("id", "v"), table))
    val v0 = DeltaSink.latestVersion(table)
    DeltaSink.deleteWhereDV(spark, table, "id <= 5")
    // a checkpoint must carry the DV descriptor AND the bumped protocol
    DeltaSink.checkpoint(spark, table)
    assert(DeltaSink.read(spark, table).count() == 45,
      "checkpointed state must keep applying the deletion vector")
    // copy-on-write UPDATE over a DV'd file: reads the merged view,
    // rewrites survivors, and the rewritten file carries NO DV
    DeltaSink.updateWhere(spark, table, "id = 10", Map("v" -> "v + 1000"))
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 45)
    assert(out.filter(col("id") === 10).head().getDouble(1) == 1010.0)
    assert(out.filter(col("id") <= 5).count() == 0,
      "the rewrite must not resurrect DV-deleted rows")
    // restore to the pre-DV version re-adds the no-DV descriptors
    // (BEFORE any vacuum — vacuum legitimately forecloses restore past it)
    DeltaSink.restore(spark, table, v0)
    assert(DeltaSink.read(spark, table).count() == 50)
    // vacuum sweeps superseded DV sidecars (the update above dropped one)
    // but never a live-referenced one
    DeltaSink.deleteWhereDV(spark, table, "id = 11")
    val swept = DeltaSink.vacuum(spark, table, retentionMs = 0L)
    assert(swept >= 1)
    assert(DeltaSink.read(spark, table).count() == 49,
      "vacuum must keep live DV sidecars")
    // protocol gate: a table demanding reader v5 refuses to read
    val alien = tmp()
    assert(DeltaSink.write(Seq((1L, 1.0)).toDF("id", "v"), alien))
    val vNext = DeltaSink.latestVersion(alien) + 1
    Files.writeString(Paths.get(alien, "_delta_log", f"$vNext%020d.json"),
      """{"protocol":{"minReaderVersion":5,"minWriterVersion":9}}""" + "\n")
    val e = intercept[Exception](DeltaSink.read(spark, alien).count())
    assert(e.getMessage.contains("unsupported Delta protocol"), e.getMessage)
  }

  test("Iceberg evolve2: rename/widen/drop are metadata-only and id-resolved (r13)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(
      Seq((1L, "a", 1, 1.5f), (2L, "b", 2, 2.5f))
        .toDF("id", "name", "qty", "score"),
      table, IcebergSink.CreateExclusive)
    val dataFilesBefore = new File(table, "data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    // RENAME: old files keep the written name; reads resolve by field id
    IcebergSink.evolveRename(table, "qty", "quantity")
    val r1 = IcebergSink.read(spark, table)
    assert(r1.columns.toSeq == Seq("id", "name", "quantity", "score"))
    assert(r1.orderBy("id").collect().map(_.getInt(2)).toSeq == Seq(1, 2),
      "pre-rename files must surface their values under the NEW name, not NULLs")
    // append under the new name, then WIDEN int→long
    IcebergSink.writeWithRetry(
      Seq((3L, "c", 3, 3.5f)).toDF("id", "name", "quantity", "score"),
      table, IcebergSink.Append)
    IcebergSink.evolveWiden(table, "quantity")
    val r2 = IcebergSink.read(spark, table)
    assert(r2.schema("quantity").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(r2.orderBy("id").collect().map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L),
      "pre-widen int values must cast up")
    // append a value beyond int range, widen score too, then DROP name
    IcebergSink.writeWithRetry(
      Seq((4L, "d", 400000000000L, 4.5f)).toDF("id", "name", "quantity", "score"),
      table, IcebergSink.Append)
    IcebergSink.evolveWiden(table, "score")
    IcebergSink.evolveDrop(table, "name")
    val r3 = IcebergSink.read(spark, table)
    assert(r3.columns.toSeq == Seq("id", "quantity", "score"))
    assert(r3.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 1L, 1.5), (2L, 2L, 2.5), (3L, 3L, 3.5), (4L, 400000000000L, 4.5)))
    // all three verbs were METADATA-ONLY: no data file touched
    val dataFilesAfter = new File(table, "data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    assert(dataFilesBefore.subsetOf(dataFilesAfter), "evolution must not rewrite data files")
    // metadata: ids minted sequentially, previous schemas retained, field
    // ids STABLE (name's id 2 retired, never reused)
    val meta = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(Files.readString(Paths.get(table, "metadata",
        s"v${Files.readString(Paths.get(table, "metadata", "version-hint.text")).trim}.metadata.json")))
    assert(meta.get("current-schema-id").asInt() == 4)
    assert(meta.get("schemas").size() == 5)
    val cur = meta.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == 4).get
    assert(cur.get("fields").elements().asScala.map(f =>
      (f.get("id").asInt(), f.get("name").asText(), f.get("type").asText())).toSeq ==
      Seq((1, "id", "long"), (3, "quantity", "long"), (4, "score", "double")))
    assert(meta.get("last-column-id").asInt() == 4, "drop retires ids, never shrinks the counter")
    // stats pruning still works across the widen (old 4-byte int bounds)
    assert(IcebergSink.readRange(spark, table, "quantity", 2.0, 3.0)
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // appends now follow the evolved 3-column shape; upsert keys by the
    // renamed column's id
    IcebergSink.upsert(spark, table,
      Seq((4L, 440000000000L, 44.0)).toDF("id", "quantity", "score"), Seq("id"))
    assert(IcebergSink.read(spark, table).filter(col("id") === 4L)
      .head().getLong(1) == 440000000000L)
    // guards
    intercept[Exception](IcebergSink.evolveWiden(table, "id")) // long already
    intercept[Exception](IcebergSink.evolveRename(table, "score", "quantity"))
    intercept[Exception](IcebergSink.evolveDrop(table, "nope"))
    // partition sources refuse all three
    val pt = tmp()
    IcebergSink.write(Seq((1L, "en", 1.0)).toDF("id", "lang", "v"), pt,
      IcebergSink.CreateExclusive, partitionBy = Seq("lang"))
    intercept[Exception](IcebergSink.evolveRename(pt, "lang", "language"))
    intercept[Exception](IcebergSink.evolveDrop(pt, "lang"))
    // a column live equality deletes key on refuses drop
    val et = tmp()
    IcebergSink.write(Seq((1L, "x", 1.0)).toDF("id", "k", "v"), et,
      IcebergSink.CreateExclusive)
    IcebergSink.deleteKeys(spark, et, Seq(Tuple1("x")).toDF("k"), Seq("k"))
    intercept[Exception](IcebergSink.evolveDrop(et, "k"))
  }

  test("Iceberg evolve2: equality deletes keep applying across a rename (r13)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(
      (1L to 6L).map(i => (i, i.toDouble)).toDF("id", "v"),
      table, IcebergSink.CreateExclusive)
    // upsert (equality deletes keyed on id), THEN rename the key column:
    // the delete files carry the old written name — reads must resolve
    // them by field id or the upsert would silently un-apply
    IcebergSink.upsert(spark, table,
      Seq((3L, 300.0)).toDF("id", "v"), Seq("id"))
    IcebergSink.evolveRename(table, "id", "pk")
    val out = IcebergSink.read(spark, table).orderBy("pk").collect()
    assert(out.length == 6)
    assert(out.map(_.getLong(0)).toSeq == (1L to 6L).toSeq)
    assert(out(2).getDouble(1) == 300.0,
      "the pre-rename equality delete must still erase the old row")
    // and the changelog still classifies it under the NEW name
    val s0 = IcebergSink.snapshots(table).head._1
    val feed = IcebergSink.readChangelog(spark, table, s0)
    assert(feed.filter(col("_change_type") === "update_postimage")
      .head().getDouble(1) == 300.0)
  }

  test("Iceberg append with REORDERED columns aligns by name, never swaps values (r13 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(
      Seq((1L, 100L), (2L, 200L)).toDF("x", "y"), table,
      IcebergSink.CreateExclusive)
    // same names, same types, DIFFERENT order: the positional gate passes
    // (types long/long) — the append must align by NAME, not relabel
    // y's values as x
    IcebergSink.writeWithRetry(
      Seq((300L, 3L)).toDF("y", "x"), table, IcebergSink.Append)
    val back = IcebergSink.read(spark, table).orderBy("x").collect()
    assert(back.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 100L), (2L, 200L), (3L, 300L)),
      s"reordered append must not swap column values: ${back.mkString(",")}")
  }

  test("Iceberg time travel to an equality delete on a dropped column refuses loudly (r13 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "k", "v"), table,
      IcebergSink.CreateExclusive)
    IcebergSink.upsert(spark, table, Seq((3L, "a", 10.0)).toDF("id", "k", "v"), Seq("k"))
    val preCompact = IcebergSink.snapshots(table).last._1
    IcebergSink.compact(spark, table) // materializes the deletes away
    IcebergSink.evolveDrop(table, "k") // now legal: no LIVE eq delete keys on it
    assert(IcebergSink.read(spark, table).count() == 2)
    // the RETAINED pre-compact snapshot still references eq deletes keyed
    // on the dropped id — resolving them ordinally would anti-join the
    // wrong column; it must refuse instead
    val e = intercept[Exception](IcebergSink.read(spark, table, Some(preCompact)).count())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("dropped field id"), msgs)
  }

  test("Delta readCdf reconstruction honors the predecessor's DV on removed files (r13 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(
      (1L to 20L).map(i => (i, i.toDouble)).toDF("id", "v").coalesce(1), table))
    DeltaSink.deleteWhereDV(spark, table, "id <= 5", changeDataFeed = false)
    val v2 = DeltaSink.latestVersion(table)
    // CoW update over the DV'd file with the feed OFF: reconstruction must
    // image the removed file's SURVIVORS (15), never its 20 physical rows
    DeltaSink.updateWhere(spark, table, "id = 10", Map("v" -> "v + 1"),
      changeDataFeed = false)
    val feed = DeltaSink.readCdf(spark, table, v2)
    assert(feed.filter(col("_change_type") === "delete").count() == 15,
      "delete images of a removed DV'd file must exclude already-deleted rows")
    assert(feed.filter(col("_change_type") === "delete" && col("id") <= 5).count() == 0)
  }

  test("Iceberg upsertExactlyOnce: an empty batch is a visible no-op, not a commit (r13 advice)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.writeWithRetry(
      Seq((1L, 1.0)).toDF("id", "v"), table, IcebergSink.CreateExclusive)
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(IcebergSink.upsertExactlyOnce(empty, table, "app", 1L, Seq("id")) == 0L,
      "an empty batch must not report the PREVIOUS snapshot's sequence")
    // the watermark did not advance: the same batchId re-applies with data
    val seq = IcebergSink.upsertExactlyOnce(
      Seq((2L, 2.0)).toDF("id", "v"), table, "app", 1L, Seq("id"))
    assert(seq == 2L, s"retry of a no-op batch must commit, got $seq")
    assert(IcebergSink.read(spark, table).count() == 2)
    // a genuinely applied batch replays as -1
    assert(IcebergSink.upsertExactlyOnce(
      Seq((2L, 2.0)).toDF("id", "v"), table, "app", 1L, Seq("id")) == -1L)
  }

  test("Delta DV sidecars are spec files: u-descriptor, framing, CRC, portable bitmap (r14)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write((0L until 64L).map(i => (i, i * 2)).toDF("id", "x")
      .coalesce(1), table))
    val v0 = DeltaSink.latestVersion(table)
    assert(DeltaSink.deleteWhereDV(spark, table, "id < 5") == 5L)
    // the commit's descriptor is the spec's "u" shape
    val commit = Files.readString(Paths.get(table, "_delta_log", f"${v0 + 1}%020d.json"))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val dv = commit.linesIterator.map(m.readTree)
      .flatMap(n => Option(n.get("add")).flatMap(a => Option(a.get("deletionVector"))))
      .toSeq.head
    assert(dv.get("storageType").asText() == "u")
    assert(dv.get("cardinality").asLong() == 5L)
    val offset = dv.get("offset").asInt()
    val encoded = dv.get("pathOrInlineDv").asText()
    // derive the sidecar path the way an external reader does: optional
    // prefix + deletion_vector_<base85-decoded uuid>.bin
    val uuid = graft.functions.DeletionVector.decodeUuid(encoded.takeRight(20))
    val prefix = encoded.dropRight(20)
    val sidecar = new File(table,
      (if (prefix.isEmpty) "" else prefix + "/") + s"deletion_vector_$uuid.bin")
    assert(sidecar.isFile, s"derived sidecar path must exist: $sidecar")
    val bytes = Files.readAllBytes(sidecar.toPath)
    // spec framing: version byte 1; BE dataSize at offset; CRC-32 after payload
    assert(bytes(0) == 1)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.position(offset)
    val dataSize = bb.getInt
    assert(dataSize.toLong == dv.get("sizeInBytes").asLong(),
      "descriptor sizeInBytes must equal the framed dataSize")
    val payload = new Array[Byte](dataSize); bb.get(payload)
    val crc = new java.util.zip.CRC32(); crc.update(payload)
    assert(bb.getInt == crc.getValue.toInt, "CRC-32 over the payload must match")
    // payload: portable RoaringBitmapArray (LE magic 1681511377), parsed
    // back to exactly the masked row indexes
    assert(java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt ==
      graft.functions.DeletionVector.PortableMagic)
    val bm = graft.functions.DeletionVector.fromPortable(payload)
    assert(bm.getLongCardinality == 5L)
    assert((0L until 5L).forall(bm.contains), "masked positions are rows 0-4 of the single file")
    // base85 round-trip sanity
    assert(graft.functions.DeletionVector.encodeUuid(uuid) == encoded.takeRight(20))
  }

  test("Delta column mapping declares mode + maxColumnId in configuration (r13 advice)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(Seq((1L, 10, "a")).toDF("id", "qty", "note"), table))
    DeltaSink.renameColumn(spark, table, "qty", "quantity")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def lastMeta(): com.fasterxml.jackson.databind.JsonNode = {
      val logs = new File(table, "_delta_log").listFiles()
        .filter(_.getName.endsWith(".json")).sortBy(_.getName)
      logs.reverse.flatMap(f =>
        Files.readAllLines(f.toPath).asScala.map(m.readTree)
          .flatMap(n => Option(n.get("metaData")))).head
    }
    val conf = lastMeta().get("configuration")
    assert(conf.get("delta.columnMapping.mode").asText() == "name",
      "external readers default to mode none without the property")
    assert(conf.get("delta.columnMapping.maxColumnId").asLong() == 3L)
    // an evolving append re-emits metaData — the properties must ride it,
    // and the added column raises the high-water id
    DeltaSink.append(Seq((2L, 20, "b", 1.5)).toDF("id", "quantity", "note", "w"),
      table, mergeSchema = true)
    val conf2 = lastMeta().get("configuration")
    assert(conf2.get("delta.columnMapping.mode").asText() == "name")
    assert(conf2.get("delta.columnMapping.maxColumnId").asLong() == 4L)
    assert(DeltaSink.read(spark, table).columns.toSeq ==
      Seq("id", "quantity", "note", "w"))
  }

  test("Delta checkpoint persists v3/v7 feature lists and configuration (r13 advice)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write((1L to 40L).map(i => (i, i % 4)).toDF("id", "g"), table))
    DeltaSink.renameColumn(spark, table, "g", "grp")   // reader 2 / writer 5
    DeltaSink.deleteWhereDV(spark, table, "id <= 4")   // bump to 3/7 with features
    DeltaSink.checkpoint(spark, table)
    val v = DeltaSink.latestVersion(table)
    val ckpt = spark.read.parquet(
      Paths.get(table, "_delta_log", f"$v%020d.checkpoint.parquet").toString)
    val proto = ckpt.filter(col("protocol").isNotNull)
      .select("protocol.minReaderVersion", "protocol.minWriterVersion",
        "protocol.readerFeatures", "protocol.writerFeatures").head()
    assert(proto.getInt(0) == 3 && proto.getInt(1) == 7)
    assert(proto.getSeq[String](2).toSet == Set("deletionVectors", "columnMapping"),
      s"checkpointed readerFeatures lost: ${proto.getSeq[String](2)}")
    assert(proto.getSeq[String](3).toSet == Set("deletionVectors", "columnMapping"))
    val conf = ckpt.filter(col("metaData").isNotNull)
      .select("metaData.configuration").head()
      .getMap[String, String](0)
    assert(conf.get("delta.columnMapping.mode").contains("name"))
    // a reader starting FROM the checkpoint still sees everything
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 36 && out.columns.contains("grp"))
  }

  test("Delta readCdf diffs a feed-off DV delete into delete images (r13 advice)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write((1L to 30L).map(i => (i, s"n$i")).toDF("id", "name"), table))
    val v0 = DeltaSink.latestVersion(table)
    // feed OFF: the commit carries only DV re-adds, no cdc, no removes
    assert(DeltaSink.deleteWhereDV(spark, table, "id <= 10",
      changeDataFeed = false) == 10L)
    val cdf = DeltaSink.readCdf(spark, table, v0)
    val dels = cdf.filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(dels == (1L to 10L).toSet,
      s"reconstructed delete images must be exactly the masked rows, got $dels")
    assert(cdf.filter(col("_change_type") === "insert").count() == 0,
      "a DV re-add is not an insert — survivors must not re-emit")
    // a second feed-off delete diffs against the MERGED prior DV
    assert(DeltaSink.deleteWhereDV(spark, table, "id <= 15",
      changeDataFeed = false) == 5L)
    val cdf2 = DeltaSink.readCdf(spark, table, v0 + 1)
    val dels2 = cdf2.filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(dels2 == (11L to 15L).toSet, s"only the NEWLY masked rows, got $dels2")
  }

  test("Delta OPTIMIZE sizes the rewrite by live rows, not masked ones (r14)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write((1L to 1000L).map(i => (i, i % 7)).toDF("id", "g")
      .repartition(8), table))
    assert(DeltaSink.deleteWhereDV(spark, table, "id > 100") == 900L)
    // 100 live rows at 50/file = exactly 2 files — sizing by the raw
    // numRecords (1000) would cut 20
    val (before, after) = DeltaSink.compact(spark, table, maxRecordsPerFile = 50)
    assert(before == 8)
    assert(after == 2, s"ceil(live 100 / 50) = 2 files, got $after")
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 100 && out.agg(max(col("id"))).head().getLong(0) == 100L)
  }

  test("Iceberg writable branches: branch advances, main isolated, refs expire-safe (r14)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.write((1L to 20L).map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "v"), table, IcebergSink.CreateExclusive)
    val mainHead = IcebergSink.snapshots(table).last._1
    // commits need a BRANCH ref; a tag refuses, an absent ref refuses
    intercept[IllegalArgumentException] {
      IcebergSink.appendBranch(Seq((21L, "x", 0.0)).toDF("id", "name", "v"),
        table, "nope")
    }
    IcebergSink.createRef(table, "pin", mainHead, refType = "tag")
    intercept[IllegalArgumentException] {
      IcebergSink.appendBranch(Seq((21L, "x", 0.0)).toDF("id", "name", "v"),
        table, "pin")
    }
    IcebergSink.createRef(table, "audit", mainHead, refType = "branch")
    // two branch appends: the ref advances each time, main never moves
    val b1 = IcebergSink.appendBranch(
      (21L to 30L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "v"),
      table, "audit")
    assert(IcebergSink.listRefs(table)("audit") == (b1, "branch"))
    val b2 = IcebergSink.appendBranch(
      (31L to 35L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "v"),
      table, "audit")
    assert(IcebergSink.listRefs(table)("audit") == (b2, "branch"))
    assert(IcebergSink.listRefs(table)("main")._1 == mainHead,
      "a branch commit must not advance main")
    assert(IcebergSink.read(spark, table).count() == 20,
      "main-line readers must not see branch rows")
    assert(IcebergSink.readRef(spark, table, "audit").count() == 35,
      "the branch head carries base + both branch appends")
    // a MAIN append after branch work: branch untouched, main advances
    IcebergSink.write(Seq((100L, "m", 1.0)).toDF("id", "name", "v"),
      table, IcebergSink.Append)
    assert(IcebergSink.read(spark, table).count() == 21)
    assert(IcebergSink.readRef(spark, table, "audit").count() == 35)
    // expiry keeps every ref head: tag + branch + current all survive
    // keepLast=1 and both still read (ref-aware expiry across the
    // branch's history)
    IcebergSink.expireSnapshots(table, keepLast = 1)
    assert(IcebergSink.readRef(spark, table, "audit").count() == 35)
    assert(IcebergSink.readRef(spark, table, "pin").count() == 20)
    assert(IcebergSink.read(spark, table).count() == 21)
    // promotion: repoint main-line consumers by tagging the audited head
    IcebergSink.dropRef(table, "audit")
    IcebergSink.expireSnapshots(table, keepLast = 1)
    intercept[IllegalArgumentException] {
      IcebergSink.read(spark, table, Some(b2))
    }
  }

  test("Iceberg append refuses partial name overlap at wrong positions (r13 advice)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.write(Seq((1L, 2L)).toDF("a", "b"), table,
      IcebergSink.CreateExclusive)
    // frame (b, c) onto stored (a, b): gate-passing types, but 'b' sits at
    // a non-matching position — a positional rename would silently pour
    // the frame's b into logical a
    val e = intercept[IllegalArgumentException] {
      IcebergSink.write(Seq((10L, 20L)).toDF("b", "c"), table,
        IcebergSink.Append)
    }
    assert(e.getMessage.contains("ambiguous"))
    // full-name reorder still aligns BY NAME (the existing contract)
    IcebergSink.write(Seq((5L, 4L)).toDF("b", "a"), table, IcebergSink.Append)
    val out = IcebergSink.read(spark, table).orderBy("a").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (4L, 5L)))
    // fully divergent names keep the documented positional rename
    IcebergSink.write(Seq((7L, 8L)).toDF("x", "y"), table, IcebergSink.Append)
    assert(IcebergSink.read(spark, table).count() == 3)
  }

  test("Delta reads INLINE deletion vectors (storageType i) from external logs (r14)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write((0L until 20L).map(i => (i, i * 3)).toDF("id", "x")
      .coalesce(1), table))
    // an external writer masks rows 0,1,5 with an inline descriptor:
    // base85(portable bitmap) rides pathOrInlineDv, no sidecar file
    val bm = graft.functions.DeletionVector.bitmapOf(Iterator(0L, 1L, 5L))
    val payload = graft.functions.DeletionVector.toPortable(bm)
    val padded = payload ++ Array.fill((4 - payload.length % 4) % 4)(0.toByte)
    val inline = graft.functions.DeletionVector.base85Encode(padded)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val v1 = Files.readString(Paths.get(table, "_delta_log",
      "00000000000000000001.json"))
    val add = m.readTree(v1.linesIterator.find(_.contains("\"add\"")).get)
      .get("add")
    val commit = Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}""",
      s"""{"add":{"path":${m.writeValueAsString(add.get("path").asText())},""" +
        s""""partitionValues":{},"size":${add.get("size").asLong()},""" +
        s""""modificationTime":${add.get("modificationTime").asLong()},""" +
        s""""dataChange":true,"stats":${m.writeValueAsString(add.get("stats").asText())},""" +
        s""""deletionVector":{"storageType":"i",""" +
        s""""pathOrInlineDv":${m.writeValueAsString(inline)},""" +
        s""""sizeInBytes":${payload.length},"cardinality":3}}}""")
    Files.write(Paths.get(table, "_delta_log", "00000000000000000002.json"),
      (commit.mkString("\n") + "\n").getBytes("UTF-8"))
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 17)
    assert(out.filter(col("id").isin(0L, 1L, 5L)).count() == 0,
      "inline-masked rows must not surface")
    // metadata-only count subtracts the inline cardinality too
    assert(DeltaSink.fileStats(spark, table)
      .agg(sum(col("num_records"))).head().getLong(0) == 17L)
    // vacuum must not trip over a descriptor with no sidecar
    assert(DeltaSink.vacuum(spark, table, retentionMs = Long.MaxValue) == 0)
  }

  test("Delta DV delete + update on a PARTITIONED table keep the layout (r14)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write(
      (1L to 60L).map(i => (i, s"p${i % 3}", i.toDouble)).toDF("id", "part", "v"),
      table, partitionBy = Seq("part")))
    val filesBefore = new File(table).listFiles().flatMap(d =>
      Option(d.listFiles()).toSeq.flatten).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getPath, f.length)).toSet
    assert(DeltaSink.deleteWhereDV(spark, table, "id % 4 = 0") == 15L)
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 45)
    assert(out.filter(col("id") % 4 === 0).count() == 0)
    // partition pruning still applies over the merged view
    assert(out.filter(col("part") === "p1").count() ===
      (1L to 60L).count(i => i % 3 == 1 && i % 4 != 0))
    // update: replacements land INSIDE the partition layout
    assert(DeltaSink.updateWhereDV(spark, table, "id = 5",
      Map("v" -> "v * 10")) == 1L)
    val back = DeltaSink.read(spark, table)
    assert(back.filter(col("id") === 5L).head().getDouble(2) == 50.0)
    assert(back.count() == 45)
    val touched = new File(table).listFiles()
      .filter(_.getName != "_change_data").flatMap(d =>
      Option(d.listFiles()).toSeq.flatten).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getPath, f.length)).toSet
    assert(filesBefore.subsetOf(touched),
      "DV ops must never rewrite or shrink existing partition files")
    assert((touched -- filesBefore).forall(_._1.contains("part=p2")),
      s"the replacement file must land in id=5's partition dir (part=p2)")
  }

  test("Iceberg fastForward publishes a branch; refuses diverged main (r14)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.write((1L to 10L).map(i => (i, i * 2)).toDF("id", "x"),
      table, IcebergSink.CreateExclusive)
    val cut = IcebergSink.snapshots(table).last._1
    IcebergSink.createRef(table, "wap", cut, refType = "branch")
    IcebergSink.appendBranch((11L to 15L).map(i => (i, i * 2)).toDF("id", "x"),
      table, "wap")
    val head = IcebergSink.appendBranch(
      (16L to 20L).map(i => (i, i * 2)).toDF("id", "x"), table, "wap")
    // publish: main fast-forwards across BOTH branch commits
    assert(IcebergSink.fastForward(table, "wap") == head)
    assert(IcebergSink.read(spark, table).count() == 20)
    assert(IcebergSink.listRefs(table)("main")._1 == head)
    // idempotent re-publish
    assert(IcebergSink.fastForward(table, "wap") == head)
    // a MAIN append after publish, then more branch work from the OLD
    // head: the branch no longer contains main's head -> refuse
    IcebergSink.write(Seq((100L, 0L)).toDF("id", "x"), table, IcebergSink.Append)
    IcebergSink.appendBranch(Seq((200L, 0L)).toDF("id", "x"), table, "wap")
    val e = intercept[IllegalArgumentException] {
      IcebergSink.fastForward(table, "wap")
    }
    assert(e.getMessage.contains("not a fast-forward"))
    assert(IcebergSink.read(spark, table).count() == 21,
      "a refused publish must leave main exactly where it was")
  }

  test("Delta DV commit packs every touched file's bitmap into ONE sidecar (r14)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    assert(DeltaSink.write((0L until 400L).map(i => (i, i % 5)).toDF("id", "g")
      .repartition(4), table))
    def sidecars() = Option(new File(table, "deletion_vectors").listFiles())
      .toSeq.flatten.filter(_.getName.endsWith(".bin"))
    // one delete matching rows in all 4 files -> exactly ONE sidecar object
    assert(DeltaSink.deleteWhereDV(spark, table, "id % 2 = 0") == 200L)
    assert(sidecars().length == 1,
      s"a wide delete must pack one sidecar, got ${sidecars().length}")
    // all descriptors share the file (same pathOrInlineDv), distinct offsets
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val v = DeltaSink.latestVersion(table)
    val dvs = Files.readString(Paths.get(table, "_delta_log", f"$v%020d.json"))
      .linesIterator.map(m.readTree)
      .flatMap(n => Option(n.get("add")).flatMap(a => Option(a.get("deletionVector"))))
      .toSeq
    assert(dvs.length == 4)
    assert(dvs.map(_.get("pathOrInlineDv").asText()).distinct.length == 1,
      "every descriptor must point at the one packed sidecar")
    assert(dvs.map(_.get("offset").asInt()).distinct.length == 4,
      "each descriptor must carry its own offset into the packed file")
    // every blob parses independently at its offset and the merged read holds
    val bytes = Files.readAllBytes(sidecars().head.toPath)
    dvs.foreach { d =>
      val bm = graft.functions.DeletionVector.readDvFile(
        bytes, d.get("offset").asInt(), d.get("sizeInBytes").asLong())
      assert(bm.getLongCardinality == d.get("cardinality").asLong())
    }
    assert(dvs.map(_.get("cardinality").asLong()).sum == 200L)
    val out = DeltaSink.read(spark, table)
    assert(out.count() == 200 && out.filter(col("id") % 2 === 0).count() == 0)
    // a second delete OR-merges per file into a NEW packed sidecar; the
    // old one is superseded everywhere and vacuumable
    assert(DeltaSink.deleteWhereDV(spark, table, "id % 3 = 0") == 67L)
    assert(sidecars().length == 2)
    assert(DeltaSink.read(spark, table).count() == 133)
    assert(DeltaSink.vacuum(spark, table, retentionMs = -1000L) >= 1)
    assert(sidecars().length == 1, "the superseded packed sidecar reclaims")
    assert(DeltaSink.read(spark, table).count() == 133)
  }

  test("Delta DV fan-out: a wide delete shards sidecars from executors, descriptors only on the driver (r16)") {
    val s = spark
    import s.implicits._
    val prev = sys.props.get("graft.dv.filesPerShard")
    sys.props("graft.dv.filesPerShard") = "2"
    try {
      val table = tmp()
      assert(DeltaSink.write((0L until 600L).map(i => (i, i % 7)).toDF("id", "g")
        .repartition(6), table))
      def sidecars() = Option(new File(table, "deletion_vectors").listFiles())
        .toSeq.flatten.filter(_.getName.endsWith(".bin"))
      // 6 touched files at 2 files/shard → 3 task-published sidecars in
      // ONE commit (the multi-DV-artifact posture the spec permits)
      assert(DeltaSink.deleteWhereDV(spark, table, "id % 2 = 0") == 300L)
      // hash placement may leave a shard empty; what matters is that ONE
      // commit published MULTIPLE task-written sidecars
      val shardFiles = sidecars().length
      assert(shardFiles >= 2 && shardFiles <= 3,
        s"expected 2-3 shard sidecars, got $shardFiles")
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val v = DeltaSink.latestVersion(table)
      val dvs = Files.readString(Paths.get(table, "_delta_log", f"$v%020d.json"))
        .linesIterator.map(m.readTree)
        .flatMap(n => Option(n.get("add")).flatMap(a => Option(a.get("deletionVector"))))
        .toSeq
      assert(dvs.length == 6)
      assert(dvs.map(_.get("pathOrInlineDv").asText()).distinct.length == shardFiles,
        "descriptors must spread across the shard files")
      // every descriptor still derives + parses like any external reader
      dvs.foreach { d =>
        val uuid = graft.functions.DeletionVector.decodeUuid(
          d.get("pathOrInlineDv").asText().takeRight(20))
        val sidecar = new File(table,
          s"deletion_vectors/deletion_vector_$uuid.bin")
        assert(sidecar.isFile, s"derived shard sidecar must exist: $sidecar")
        val bm = graft.functions.DeletionVector.readDvFile(
          Files.readAllBytes(sidecar.toPath),
          d.get("offset").asInt(), d.get("sizeInBytes").asLong())
        assert(bm.getLongCardinality == d.get("cardinality").asLong())
      }
      val out = DeltaSink.read(spark, table)
      assert(out.count() == 300 && out.filter(col("id") % 2 === 0).count() == 0)
      // a second wide delete OR-merges ACROSS shard files (tasks read the
      // old shard sidecars through TaskIO), superseding all three
      assert(DeltaSink.deleteWhereDV(spark, table, "id % 3 = 0") == 100L)
      assert(DeltaSink.read(spark, table).count() == 200)
      assert(DeltaSink.vacuum(spark, table, retentionMs = -1000L) >= shardFiles)
      assert(DeltaSink.read(spark, table).count() == 200)
      // updateWhereDV rides the same sharded path
      assert(DeltaSink.updateWhereDV(spark, table, "id = 1",
        Map("g" -> "99")) == 1L)
      assert(DeltaSink.read(spark, table).filter(col("g") === 99).count() == 1)
      // the driver-streamed fallback (a store with no task-side I/O)
      // produces the identical table state
      val table2 = tmp()
      assert(DeltaSink.write((0L until 600L).map(i => (i, i % 7)).toDF("id", "g")
        .repartition(6), table2))
      val hooked = new CommitStore.HookedLocal((_, _) => ())
      assert(DeltaSink.deleteWhereDV(spark, table2, "id % 2 = 0",
        store = hooked) == 300L)
      assert(Option(new File(table2, "deletion_vectors").listFiles())
        .toSeq.flatten.count(_.getName.endsWith(".bin")) == 3,
        "fallback chunks at the same shard size")
      assert(DeltaSink.read(spark, table2).count() == 300)
    } finally {
      prev match {
        case Some(p) => sys.props("graft.dv.filesPerShard") = p
        case None => sys.props -= "graft.dv.filesPerShard"
      }
    }
  }

  test("Iceberg V3 row lineage: ids stable across append, DV delete, compaction; fresh ids on update (r16)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write((1L to 40L).map(i => (i, s"n$i")).toDF("id", "name")
      .coalesce(2), table, IcebergSink.CreateExclusive)
    // enablement assigns retroactively: one metadata-only replace commit,
    // ids a permutation of 0..39
    assert(IcebergSink.enableRowLineage(spark, table) == 40L)
    def ids(): Map[Long, Long] = IcebergSink.readWithLineage(spark, table)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    // the read contract's second half (r17): every row also carries
    // _last_updated_sequence_number, inherited from its data file's
    // sequence — enablement kept the ORIGINAL entry sequences, so every
    // retro-assigned row reads the CREATE commit's sequence (1), not the
    // enable replace's (2)
    def seqs(): Map[Long, Long] = IcebergSink.readWithLineage(spark, table)
      .select("id", "_last_updated_sequence_number").as[(Long, Long)]
      .collect().toMap
    val before = ids()
    assert(before.values.toSet == (0L until 40L).toSet)
    assert(seqs().values.toSet == Set(1L),
      "retro-assigned rows must inherit their file's original sequence")
    val mdir = new File(table, "metadata")
    def newestMeta() = Files.readString(mdir.listFiles()
      .filter(_.getName.endsWith(".metadata.json")).maxBy(_.getName).toPath)
    assert(newestMeta().contains(""""format-version":3"""))
    assert(newestMeta().contains(""""next-row-id":40"""))
    assert(newestMeta().contains(""""first-row-id":0"""))
    // append: new rows continue the clock, existing ids untouched
    IcebergSink.write((41L to 50L).map(i => (i, s"n$i")).toDF("id", "name"),
      table, IcebergSink.Append)
    val after1 = ids()
    before.foreach { case (k, v) => assert(after1(k) == v) }
    assert(after1.values.toSet == (0L until 50L).toSet)
    assert(newestMeta().contains(""""next-row-id":50"""))
    // appended rows inherit the APPEND's sequence (3: create 1, enable 2);
    // pre-existing rows keep 1
    val seqAfterAppend = seqs()
    assert((1L to 40L).forall(seqAfterAppend(_) == 1L))
    assert((41L to 50L).forall(seqAfterAppend(_) == 3L))
    // DV delete: survivors keep their ids (positions never move)
    assert(IcebergSink.deleteWhereDV(spark, table, "id % 2 = 0") == 25L)
    val after2 = ids()
    assert(after2.keySet == (1L to 49L by 2).toSet)
    after2.foreach { case (k, v) => assert(after1(k) == v) }
    // ...and a DV delete never bumps survivors' last-updated sequence —
    // their files, hence their inherited sequences, are untouched
    val seqAfterDelete = seqs()
    after2.keySet.foreach(k => assert(seqAfterDelete(k) == seqAfterAppend(k)))
    // compaction MATERIALIZES the ids into the rewritten parquet — the
    // lineage read is identical through the rewrite
    IcebergSink.compact(spark, table)
    assert(ids() == after2)
    // ...BOTH columns: the rewrite's own (new) sequence must never claim
    // the repacked rows — _last_updated_sequence_number rides the parquet
    assert(seqs() == seqAfterDelete,
      "compaction must materialize last-updated sequences, not re-inherit")
    // ...and the declared schema never grows the physical columns
    assert(IcebergSink.read(spark, table).columns.toSeq == Seq("id", "name"))
    // a DV UPDATE's replacement row is a NEW row: fresh id from the clock
    assert(IcebergSink.updateWhereDV(spark, table, "id = 1",
      Map("name" -> "'upd'")) == 1L)
    val after4 = ids()
    assert(after4(1L) >= 50L, s"replacement must take a fresh id, got ${after4(1L)}")
    (after2 - 1L).foreach { case (k, v) => assert(after4(k) == v) }
    // the replacement row's last-updated sequence is the UPDATE commit's
    // (strictly newer than every survivor's); untouched rows keep theirs
    val seqAfterUpdate = seqs()
    assert(seqAfterUpdate(1L) > seqAfterDelete.values.max,
      s"updated row must carry the update's sequence, got ${seqAfterUpdate(1L)}")
    (after2.keySet - 1L).foreach(k =>
      assert(seqAfterUpdate(k) == seqAfterDelete(k)))
    // an UPSERT's rows are new rows too — clock keeps advancing
    assert(IcebergSink.upsert(spark, table,
      Seq((99L, "new")).toDF("id", "name"), Seq("id")) == 1L)
    val after5 = ids()
    assert(after5(99L) > after4(1L))
    assert(seqs()(99L) > seqAfterUpdate(1L),
      "upserted row must carry the upsert's sequence")
    // PARTITIONED tables retro-assign too (r16): one rewritten manifest
    // per source manifest keeps each partition struct intact — pruned
    // reads still work and ids stay stable through an append
    val pt = tmp() + "/pt"
    IcebergSink.write((1L to 20L).map(i => (i, s"g${i % 2}")).toDF("id", "g"),
      pt, IcebergSink.CreateExclusive, partitionBy = Seq("g"))
    assert(IcebergSink.enableRowLineage(spark, pt) == 20L)
    def pids(): Map[Long, Long] = IcebergSink.readWithLineage(spark, pt)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    val pBefore = pids()
    assert(pBefore.values.toSet == (0L until 20L).toSet)
    IcebergSink.write(Seq((21L, "g1")).toDF("id", "g"), pt, IcebergSink.Append)
    val pAfter = pids()
    pBefore.foreach { case (k, v) => assert(pAfter(k) == v) }
    assert(pAfter(21L) == 20L)
    // the rewritten manifests kept partition values: pruned reads hold
    assert(IcebergSink.read(spark, pt).filter(col("g") === "g0").count() == 10)
  }

  test("Iceberg DV fan-out: a wide delete shards Puffin files from executors (r16)") {
    val s = spark
    import s.implicits._
    val prev = sys.props.get("graft.dv.filesPerShard")
    sys.props("graft.dv.filesPerShard") = "2"
    try {
      val table = tmp() + "/tbl"
      IcebergSink.write((0L until 600L).map(i => (i, i % 7)).toDF("id", "g")
        .repartition(6), table, IcebergSink.CreateExclusive)
      // 6 touched files at 2 files/shard → multiple task-published Puffin
      // files in ONE snapshot (the spec permits many DV files per commit)
      assert(IcebergSink.deleteWhereDV(spark, table, "id % 2 = 0") == 300L)
      val mDir = new File(table, "metadata")
      def puffins() = mDir.listFiles().filter(_.getName.endsWith(".puffin"))
      val shardFiles = puffins().length
      assert(shardFiles >= 2 && shardFiles <= 3,
        s"expected 2-3 shard Puffin files, got $shardFiles")
      assert(IcebergSink.read(spark, table).count() == 300)
      // supersede-by-union works ACROSS shard files (tasks read the prior
      // shard's blobs through TaskIO)
      assert(IcebergSink.deleteWhereDV(spark, table, "id % 3 = 0") == 100L)
      assert(IcebergSink.read(spark, table).count() == 200)
      // the DV-adjusted metadata census agrees without opening any Puffin
      assert(IcebergSink.fileStats(spark, table)
        .agg(sum(col("num_records"))).head().getLong(0) == 200L)
      // updateWhereDV rides the same sharded path
      assert(IcebergSink.updateWhereDV(spark, table, "id = 1",
        Map("g" -> "99")) == 1L)
      assert(IcebergSink.read(spark, table).filter(col("g") === 99).count() == 1)
    } finally {
      prev match {
        case Some(p) => sys.props("graft.dv.filesPerShard") = p
        case None => sys.props -= "graft.dv.filesPerShard"
      }
    }
  }

  test("Iceberg branch-targeted MoR verbs: audit-fix on the branch, main isolated (r14)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.write((1L to 10L).map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "v"), table, IcebergSink.CreateExclusive)
    val cut = IcebergSink.snapshots(table).last._1
    IcebergSink.createRef(table, "stage", cut, refType = "branch")
    // stage a batch that carries junk (v < 0) and a wrong row (id 15)
    IcebergSink.appendBranch(
      (11L to 20L).map(i => (i, s"n$i", if (i % 5 == 0) -1.0 else i.toDouble))
        .toDF("id", "name", "v"), table, "stage")
    // AUDIT finds the junk; FIX it on the branch: MoR delete + update
    assert(IcebergSink.deleteWhere(spark, table, "v < 0 AND id = 20",
      branch = Some("stage")) == 1L)
    assert(IcebergSink.updateWhere(spark, table, "id = 15",
      Map("v" -> "15.0"), branch = Some("stage")) == 1L)
    // and a keyed correction lands via branch upsert
    assert(IcebergSink.upsert(spark, table,
      Seq((11L, "n11-fixed", 11.0)).toDF("id", "name", "v"), Seq("id"),
      branch = Some("stage")) > 0L)
    // main never saw ANY of it
    assert(IcebergSink.read(spark, table).count() == 10)
    val branchRows = IcebergSink.readRef(spark, table, "stage")
    assert(branchRows.count() == 19) // 10 base + 10 staged - 1 deleted
    assert(branchRows.filter(col("v") < 0).count() == 0, "junk fixed on the branch")
    assert(branchRows.filter(col("id") === 15L).head().getDouble(2) == 15.0)
    assert(branchRows.filter(col("id") === 11L).head().getString(1) == "n11-fixed")
    // tags refuse MoR verbs like they refuse appends
    IcebergSink.createRef(table, "pin14", cut, refType = "tag")
    intercept[IllegalArgumentException] {
      IcebergSink.deleteWhere(spark, table, "id = 1", branch = Some("pin14"))
    }
    // PUBLISH the audited branch; main now serves the corrected batch
    IcebergSink.fastForward(table, "stage")
    val main = IcebergSink.read(spark, table)
    assert(main.count() == 19)
    assert(main.filter(col("v") < 0).count() == 0)
  }

  test("Delta shallow clone: zero-copy, independent evolution, DV carry-over (r14)") {
    val s = spark
    import s.implicits._
    val src = tmp()
    assert(DeltaSink.write((1L to 100L).map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "v"), src))
    // a DV delete on the source BEFORE cloning — the clone must inherit it
    assert(DeltaSink.deleteWhereDV(spark, src, "id > 90") == 10L)
    val dst = tmp()
    assert(DeltaSink.cloneTable(spark, src, dst) >= 1)
    // zero copy: the clone root holds NO parquet bytes
    def localParquets(t: String) = Option(new File(t).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
    assert(localParquets(dst).isEmpty, "a shallow clone must move no data")
    val out = DeltaSink.read(spark, dst)
    assert(out.count() == 90, "the clone reads the source's merged view")
    assert(out.filter(col("id") > 90).count() == 0)
    // metadata-only census works off absolute adds too
    assert(DeltaSink.fileStats(spark, dst)
      .agg(sum(col("num_records"))).head().getLong(0) == 90L)
    // the clone EVOLVES independently: append + CoW delete + DV delete
    DeltaSink.append(Seq((200L, "x", 0.0)).toDF("id", "name", "v"), dst)
    assert(DeltaSink.deleteWhere(spark, dst, "id <= 10") == 10L)
    assert(DeltaSink.deleteWhereDV(spark, dst, "id = 50") == 1L)
    assert(DeltaSink.read(spark, dst).count() == 80) // 90 + 1 - 10 - 1
    // ... while the SOURCE is untouched, byte for byte
    assert(DeltaSink.read(spark, src).count() == 90)
    assert(DeltaSink.read(spark, src).filter(col("id") <= 10).count() == 10)
    // vacuum on the clone reclaims only clone-local tombstones — the CoW
    // rewrite replaced source-referenced files with local ones, but the
    // originals belong to the source and must survive
    val srcFiles = localParquets(src).map(_.getName).toSet
    DeltaSink.vacuum(spark, dst, retentionMs = -1000L)
    assert(localParquets(src).map(_.getName).toSet == srcFiles,
      "vacuum on a clone must never reclaim source files")
    assert(DeltaSink.read(spark, dst).count() == 80)
    assert(DeltaSink.read(spark, src).count() == 90)
    // partitioned sources refuse with a diagnosable message
    val psrc = tmp()
    assert(DeltaSink.write(Seq((1L, "a")).toDF("id", "p"), psrc,
      partitionBy = Seq("p")))
    val e = intercept[IllegalArgumentException] {
      DeltaSink.cloneTable(spark, psrc, tmp())
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("Delta shallow clone carries column mapping and protocol verbatim (r14)") {
    val s = spark
    import s.implicits._
    val src = tmp()
    assert(DeltaSink.write(Seq((1L, 10, "a"), (2L, 20, "b"))
      .toDF("id", "qty", "note"), src))
    DeltaSink.renameColumn(spark, src, "qty", "quantity") // -> reader 2 / writer 5
    val dst = tmp()
    DeltaSink.cloneTable(spark, src, dst)
    val out = DeltaSink.read(spark, dst).orderBy("id")
    assert(out.columns.toSeq == Seq("id", "quantity", "note"),
      "the clone must see the RENAMED logical schema")
    assert(out.collect().map(_.getInt(1)).toSeq == Seq(10, 20),
      "physical-name projection must keep resolving the source parquet")
    val v0 = Files.readString(Paths.get(dst, "_delta_log", "00000000000000000000.json"))
    assert(v0.contains("\"minReaderVersion\":2") &&
      v0.contains("\"minWriterVersion\":5"),
      s"the clone must inherit the source protocol, got: $v0")
    assert(v0.contains("delta.columnMapping.mode"),
      "the mode property must ride the clone's metaData")
    // a rename on the CLONE stays clone-local
    DeltaSink.renameColumn(spark, dst, "note", "comment")
    assert(DeltaSink.read(spark, dst).columns.toSeq ==
      Seq("id", "quantity", "comment"))
    assert(DeltaSink.read(spark, src).columns.toSeq ==
      Seq("id", "quantity", "note"))
  }

  test("appendBranch aligns reordered frames by name, refuses partial overlap (r14 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.write(Seq((1L, 2L)).toDF("a", "b"), table,
      IcebergSink.CreateExclusive)
    val cut = IcebergSink.snapshots(table).last._1
    IcebergSink.createRef(table, "st", cut, refType = "branch")
    // a reordered same-typed frame must land by NAME, not position
    IcebergSink.appendBranch(Seq((40L, 30L)).toDF("b", "a"), table, "st")
    val rows = IcebergSink.readRef(spark, table, "st").orderBy("a").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 2L), (30L, 40L)),
      s"branch append must align by name, got $rows")
    // partial overlap at wrong positions refuses, same as main appends
    val e = intercept[IllegalArgumentException] {
      IcebergSink.appendBranch(Seq((9L, 9L)).toDF("b", "c"), table, "st")
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("fastForward survives expiry of intermediate branch snapshots (r14 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.write((1L to 5L).map(i => (i, i)).toDF("id", "x"), table,
      IcebergSink.CreateExclusive)
    val cut = IcebergSink.snapshots(table).last._1
    IcebergSink.createRef(table, "st", cut, refType = "branch")
    IcebergSink.appendBranch(Seq((6L, 6L)).toDF("id", "x"), table, "st")
    IcebergSink.appendBranch(Seq((7L, 7L)).toDF("id", "x"), table, "st")
    // retention between staging and publish: the branch chain survives,
    // so the publish's ancestry gate still proves main never diverged
    IcebergSink.expireSnapshots(table, keepLast = 1)
    IcebergSink.fastForward(table, "st")
    assert(IcebergSink.read(spark, table).count() == 7)
  }

  test("Iceberg tail guard: compaction rewrites excluded; overwrites fail loudly unless skipped (r15)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table,
      IcebergSink.CreateExclusive)
    val seq0 = IcebergSink.mainHeadSequence(table)
    IcebergSink.write(Seq((3L, "c")).toDF("id", "s"), table, IcebergSink.Append)
    val seq1 = IcebergSink.mainHeadSequence(table)
    assert(IcebergSink.readAppendedBetween(spark, table, seq0, seq1).count() == 1)
    // a DATA compaction between offsets re-adds every row in new files at
    // the new sequence — the tail must deliver NONE of them
    IcebergSink.compact(spark, table)
    val seq2 = IcebergSink.mainHeadSequence(table)
    assert(IcebergSink.readAppendedBetween(spark, table, seq1, seq2).count() == 0)
    // restart replan: equal offsets short-circuit to empty without
    // resolving a boundary snapshot
    assert(IcebergSink.readAppendedBetween(spark, table, seq2, seq2).count() == 0)
    // an upsert commits an `overwrite` snapshot: the batch fails loudly...
    IcebergSink.upsert(spark, table, Seq((2L, "B"), (4L, "d")).toDF("id", "s"),
      Seq("id"))
    val seq3 = IcebergSink.mainHeadSequence(table)
    val e = intercept[IllegalStateException](
      IcebergSink.readAppendedBetween(spark, table, seq2, seq3).count())
    assert(e.getMessage.contains("skip-overwrite-snapshots"))
    // ...unless the caller opts into upstream's skip contract
    assert(IcebergSink.readAppendedBetween(spark, table, seq2, seq3,
      skipOverwrites = true).count() == 0)
    // appends after the skipped overwrite still flow
    IcebergSink.write(Seq((9L, "z")).toDF("id", "s"), table, IcebergSink.Append)
    val seq4 = IcebergSink.mainHeadSequence(table)
    assert(IcebergSink.readAppendedBetween(spark, table, seq3, seq4)
      .select("id").as[Long].collect().toSeq == Seq(9L))
    // equal offsets whose boundary snapshot maintenance already expired:
    // the short-circuit means the (empty) batch still plans on restart
    IcebergSink.expireSnapshots(table, keepLast = 1)
    assert(IcebergSink.readAppendedBetween(spark, table, seq1, seq1).count() == 0)
  }

  test("Iceberg tail guard: a PURE delete snapshot (no data entries) fails loudly too (r16 advice)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write((1L to 4L).map(i => (i, s"v$i")).toDF("id", "s"), table,
      IcebergSink.CreateExclusive)
    val seq0 = IcebergSink.mainHeadSequence(table)
    IcebergSink.write(Seq((5L, "e"), (6L, "f")).toDF("id", "s"), table,
      IcebergSink.Append)
    // a MoR delete adds ONLY delete manifests — no data entry carries its
    // sequence — yet its boundary deletes suppress not-yet-delivered rows;
    // the r15 guard (keyed off in-range DATA entries) let it slip through
    IcebergSink.deleteWhereDV(spark, table, "id = 5")
    val head = IcebergSink.mainHeadSequence(table)
    val e = intercept[IllegalStateException](
      IcebergSink.readAppendedBetween(spark, table, seq0, head).count())
    assert(e.getMessage.contains("delete"))
    assert(e.getMessage.contains("skip-overwrite-snapshots"))
    // opting into skip semantics: the appended rows deliver with the
    // boundary deletes applied (id=5 masked), feed stays append-only
    assert(IcebergSink.readAppendedBetween(spark, table, seq0, head,
      skipOverwrites = true).select("id").as[Long].collect().toSet == Set(6L))
    // a range strictly after the delete is clean again
    IcebergSink.write(Seq((9L, "z")).toDF("id", "s"), table, IcebergSink.Append)
    val seq3 = IcebergSink.mainHeadSequence(table)
    assert(IcebergSink.readAppendedBetween(spark, table, head, seq3)
      .select("id").as[Long].collect().toSeq == Seq(9L))
  }

  test("UniForm sync refuses while the Iceberg plane carries live delete files (r15 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 20L).map(i => (i, i.toDouble)).toDF("id", "v"), table)
    IcebergSink.convertFromDelta(spark, table)
    // an Iceberg-plane MoR delete changes NO data file, so the sync's
    // path-set no-op guard cannot see it — only the refusal protects it
    IcebergSink.deleteWhere(spark, table, "id <= 3")
    DeltaSink.append(Seq((21L, 21.0)).toDF("id", "v"), table)
    val e = intercept[IllegalArgumentException](
      IcebergSink.syncFromDelta(spark, table))
    assert(e.getMessage.contains("delete files"))
    // the deletes stayed live for Iceberg readers
    assert(IcebergSink.read(spark, table).count() == 17)
    // remedy: fold the delete files (compact), route the delete through
    // the DELTA plane — the planes then converge through the sync
    IcebergSink.compact(spark, table)
    DeltaSink.deleteWhere(spark, table, "id <= 3")
    assert(IcebergSink.syncFromDelta(spark, table) > 0)
    assert(IcebergSink.read(spark, table).count() == 18)
    assert(DeltaSink.read(spark, table).count() == 18)
  }

  test("column evolution refuses constraint- and generation-referenced columns (r15 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write(Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "v", "tag"),
      table)
    DeltaSink.addCheckConstraint(spark, table, "v_pos", "v > 0")
    // renaming (or dropping) a constrained column would leave the stored
    // SQL naming a ghost — every later write fails analysis; refuse instead
    val e1 = intercept[IllegalArgumentException](
      DeltaSink.renameColumn(spark, table, "v", "value"))
    assert(e1.getMessage.contains("v_pos"))
    val e2 = intercept[IllegalArgumentException](
      DeltaSink.dropColumn(spark, table, "v"))
    assert(e2.getMessage.contains("v_pos"))
    // unconstrained columns still evolve freely
    DeltaSink.renameColumn(spark, table, "tag", "label")
    // dropping the constraint unlocks the rename, and writes keep working
    DeltaSink.dropCheckConstraint(spark, table, "v_pos")
    DeltaSink.renameColumn(spark, table, "v", "value")
    DeltaSink.append(Seq((3L, 30.0, "c")).toDF("id", "value", "label"), table)
    assert(DeltaSink.read(spark, table).count() == 3)
    // a generated column pins its SOURCE columns the same way
    val t2 = tmp()
    assert(DeltaSink.writeGenerated(Seq((1L, 2.0)).toDF("id", "v"), t2,
      Map("v2" -> "v * 2")))
    val e3 = intercept[IllegalArgumentException](
      DeltaSink.renameColumn(spark, t2, "v", "w"))
    assert(e3.getMessage.contains("generated"))
    // renaming the generated column ITSELF is fine — the stored
    // expression names its sources, not the column
    DeltaSink.renameColumn(spark, t2, "v2", "twice")
    assert(DeltaSink.read(spark, t2).columns.toSeq == Seq("id", "v", "twice"))
  }

  test("dual-format expiry aborts before commit when the Delta guard cannot resolve (r15 review)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 10L).map(i => (i, i)).toDF("id", "x"), table)
    IcebergSink.convertFromDelta(spark, table)
    DeltaSink.append(Seq((11L, 11L)).toDF("id", "x"), table)
    IcebergSink.syncFromDelta(spark, table)
    val before = IcebergSink.snapshots(table).size
    // the Delta-plane protection set needs an active session; failing
    // that requirement must abort the WHOLE expiry, not strand it after
    // the pruned metadata already committed (history gone, files leaked)
    org.apache.spark.sql.SparkSession.clearActiveSession()
    try {
      val e = intercept[IllegalStateException](
        IcebergSink.expireSnapshots(table, keepLast = 1))
      assert(e.getMessage.contains("active SparkSession"))
    } finally org.apache.spark.sql.SparkSession.setActiveSession(s)
    assert(IcebergSink.snapshots(table).size == before) // untouched
    assert(IcebergSink.read(spark, table).count() == 11)
    // with a session the same expiry completes, Delta plane intact
    IcebergSink.expireSnapshots(table, keepLast = 1)
    assert(IcebergSink.read(spark, table).count() == 11)
    assert(DeltaSink.read(spark, table).count() == 11)
  }

  test("in-commit timestamps: time travel survives a copy-mangled log (r15)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write(Seq((1L, "a")).toDF("id", "s"), table)  // v0+v1: mtime clock
    DeltaSink.enableInCommitTimestamps(spark, table)        // v2: ICT epoch starts
    DeltaSink.append(Seq((2L, "b")).toDF("id", "s"), table) // v3
    Thread.sleep(5)
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    DeltaSink.append(Seq((3L, "c")).toDF("id", "s"), table) // v4
    // every post-enablement commit LEADS with commitInfo carrying a
    // strictly monotonic inCommitTimestamp — including commits from
    // verbs that never heard of ICT (the choke-point invariant)
    DeltaSink.deleteWhere(spark, table, "id = 1")           // v5
    val log = new File(table, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
    val icts = log.drop(2).map { f =>
      val first = Files.readString(f.toPath).linesIterator.next()
      assert(first.startsWith("""{"commitInfo""""), f.getName)
      """"inCommitTimestamp":(\d+)""".r.findFirstMatchIn(first).get.group(1).toLong
    }
    assert(icts.sorted.sameElements(icts) && icts.distinct.length == icts.length)
    // protocol: writer v7 listing the inCommitTimestamp feature
    assert(Files.readString(log(2).toPath).contains("inCommitTimestamp\""))
    // an rsync/copy/touch rewrites every MTIME — the pre-ICT clock is
    // gone, but ICT lives in the committed bytes and cannot move
    log.foreach(f => assert(f.setLastModified(System.currentTimeMillis() + 3600000L)))
    assert(DeltaSink.versionAtTimestamp(table, between) == 3L)
    assert(DeltaSink.readAsOfTimestamp(spark, table, between).count() == 2)
    // "now" resolves to the head even with every mtime in the future
    assert(DeltaSink.readAsOfTimestamp(spark, table,
      System.currentTimeMillis() + 60000L).count() == 2) // 3 rows - 1 deleted
    // history surfaces the ICT clock for stamped commits
    val hist = DeltaSink.history(spark, table)
      .filter(col("version") >= 2).select("timestamp_ms")
      .collect().map(_.getLong(0))
    assert(hist.sameElements(icts))
    // double-enable refuses
    assert(intercept[IllegalArgumentException](
      DeltaSink.enableInCommitTimestamps(spark, table))
      .getMessage.contains("already enabled"))
    // a CLONE of an ICT table restarts its OWN clock: v0 leads with a
    // commitInfo (so the probe chain starts), enablement re-pins at the
    // clone's v0, and later commits keep stamping — config must never
    // claim ICT over unstamped commits
    val cl = tmp()
    DeltaSink.cloneTable(spark, table, cl)
    val clLog = new File(cl, "_delta_log")
    assert(Files.readString(new File(clLog, f"${0L}%020d.json").toPath)
      .startsWith("""{"commitInfo""""))
    DeltaSink.append(Seq((9L, "z")).toDF("id", "s"), cl)
    assert(Files.readString(new File(clLog, f"${2L}%020d.json").toPath)
      .startsWith("""{"commitInfo""""))
    assert(intercept[IllegalArgumentException](
      DeltaSink.enableInCommitTimestamps(spark, cl))
      .getMessage.contains("already enabled"))
  }

  test("v2 re-checkpoint is INCREMENTAL: unchanged sidecar buckets carry forward by name (r16)") {
    val s = spark
    import s.implicits._
    val prevProp = sys.props.get("graft.ckpt.addsPerSidecar")
    sys.props("graft.ckpt.addsPerSidecar") = "4"
    try {
      val table = tmp()
      // 30 live files at ≤4 adds/bucket → 8 deterministic hash buckets
      // (and +1 file stays under the 8→16 ratchet boundary)
      DeltaSink.write((1L to 300L).map(i => (i, i.toDouble)).toDF("id", "v")
        .repartition(30), table)
      DeltaSink.checkpointV2(spark, table)
      val log = new File(table, "_delta_log")
      val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
      def pointerNode() = jackson.readTree(
        Files.readString(Paths.get(table, "_delta_log", "_last_checkpoint")))
      def pointerManifest() = pointerNode().get("path").asText()
      def sidecarNamesOf(manifest: String): Set[String] =
        spark.read.parquet(new File(log, manifest).getPath)
          .where(col("sidecar").isNotNull)
          .select("sidecar.path").collect().map(_.getString(0)).toSet
      val m1 = pointerManifest()
      val s1 = sidecarNamesOf(m1)
      assert(s1.size >= 4, s"expected several buckets, got ${s1.size}")
      assert(s1.forall(_.startsWith("inc-")), "content-addressed names")
      // ONE appended file touches ONE bucket: the re-checkpoint rewrites
      // only that bucket and carries every other sidecar forward BY NAME
      DeltaSink.append(Seq((301L, 301.0)).toDF("id", "v").coalesce(1), table)
      DeltaSink.checkpointV2(spark, table)
      val m2 = pointerManifest()
      val s2 = sidecarNamesOf(m2)
      assert(m2 != m1)
      assert((s2 -- s1).size == 1,
        s"exactly one bucket rewrites, got new = ${(s2 -- s1).size}")
      assert((s1 -- s2).size <= 1,
        "every untouched bucket must carry forward by name")
      // cold replay through the incremental checkpoint alone stays exact
      log.listFiles().filter(_.getName.endsWith(".json"))
        .foreach(f => assert(f.delete()))
      val cold = DeltaSink.read(spark, table)
      assert(cold.count() == 301)
      assert(cold.agg(sum(col("id"))).head().getLong(0) == (1L to 301L).sum)
      // classic checkpoint() on a v2 table must NOT strand the v2 plane:
      // it routes through checkpointV2, the pointer keeps naming a
      // manifest (ADVICE r15)
      DeltaSink.append(Seq((302L, 302.0)).toDF("id", "v").coalesce(1), table)
      DeltaSink.checkpoint(spark, table)
      assert(pointerNode().has("path"),
        "classic checkpoint() must keep the v2 layout")
      assert(DeltaSink.read(spark, table).count() == 302)
      // SPEC-style discovery: an external writer's pointer may omit the
      // non-spec "path" hint — the reader falls back to the
      // <v>.checkpoint.<uuid>.parquet name pattern
      val ver = pointerNode().get("version").asLong()
      Files.writeString(Paths.get(table, "_delta_log", "_last_checkpoint"),
        s"""{"version":$ver}""" + "\n")
      assert(DeltaSink.read(spark, table).count() == 302)
    } finally {
      prevProp match {
        case Some(p) => sys.props("graft.ckpt.addsPerSidecar") = p
        case None => sys.props -= "graft.ckpt.addsPerSidecar"
      }
    }
  }

  test("v2 checkpoint: manifest + sidecars round-trip; un-featured readers refuse (r15)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 50L).map(i => (i, i % 5, i.toDouble)).toDF("id", "g", "v"),
      table)
    DeltaSink.append((51L to 60L).map(i => (i, i % 5, i.toDouble)).toDF("id", "g", "v"),
      table)
    DeltaSink.deleteWhereDV(spark, table, "id <= 5") // DVs must survive the trip
    val v = DeltaSink.checkpointV2(spark, table)
    val log = new File(table, "_delta_log")
    // layout: ONE manifest + sidecars under _sidecars/, pointer names it
    val manifests = log.listFiles()
      .filter(_.getName.matches("\\d{20}\\.checkpoint\\..*\\.parquet"))
    assert(manifests.length == 1)
    assert(new File(log, "_sidecars").listFiles().exists(_.getName.endsWith(".parquet")))
    assert(Files.readString(Paths.get(table, "_delta_log", "_last_checkpoint"))
      .contains(manifests.head.getName))
    // the feature gate committed FIRST: reader 3 + v2Checkpoint both sides
    val protoCommit = Files.readString(new File(log, f"$v%020d.json").toPath)
    assert(protoCommit.contains(""""minReaderVersion":3"""))
    assert(protoCommit.contains("v2Checkpoint"))
    // COLD replay resolves THROUGH the checkpoint alone: delete every
    // JSON commit — only manifest + sidecars can serve the state now
    log.listFiles().filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    val cold = DeltaSink.read(spark, table)
    assert(cold.count() == 55) // 60 - 5 DV-deleted
    assert(cold.agg(sum(col("id"))).head().getLong(0) == (6L to 60L).sum)
    // the table keeps working past the checkpoint: append + read
    DeltaSink.append(Seq((61L, 1L, 61.0)).toDF("id", "g", "v"), table)
    assert(DeltaSink.read(spark, table).count() == 56)
    // a RE-checkpoint keeps an N-1 FENCE: the new manifest plus the
    // immediately-previous one survive (a reader that resolved the old
    // pointer just before the flip keeps its whole generation — ADVICE
    // r15); anything older reclaims, so a nightly run never strands a
    // set and the dir never grows past two generations
    DeltaSink.checkpointV2(spark, table)
    def manifestNames() = log.listFiles()
      .filter(_.getName.matches("\\d{20}\\.checkpoint\\..+\\.parquet"))
      .map(_.getName).sorted.toSeq
    assert(manifestNames().length == 2)
    val gen2 = manifestNames()
    DeltaSink.append(Seq((62L, 1L, 62.0)).toDF("id", "g", "v"), table)
    DeltaSink.checkpointV2(spark, table)
    val gen3 = manifestNames()
    assert(gen3.length == 2, "the oldest generation must reclaim")
    assert(gen3.intersect(gen2).length == 1, "the N-1 manifest survives")
    assert(DeltaSink.read(spark, table).count() == 57)
    // the Iceberg-plane protection-set reader resolves v2 pointers too:
    // a dual-format janitor sweep reads the Delta reference set through
    // the v2 manifest + sidecars (a classic-only reader would throw on
    // the pointer's path field)
    val dual = tmp()
    DeltaSink.write((1L to 10L).map(i => (i, i.toDouble)).toDF("id", "v"), dual)
    IcebergSink.convertFromDelta(spark, dual)
    DeltaSink.checkpointV2(spark, dual)
    assert(IcebergSink.removeOrphanFiles(spark, dual).isEmpty)
    assert(IcebergSink.read(spark, dual).count() == 10)
    // an "old reader" — one without the feature — must REFUSE such a
    // table rather than replay past a manifest it cannot resolve; our
    // own gate demonstrates the contract on a future unknown feature
    val t2 = tmp()
    DeltaSink.write(sampleDf, t2)
    Files.write(Paths.get(t2, "_delta_log", f"${2L}%020d.json"),
      ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["futureFeature"],"writerFeatures":["futureFeature"]}}""" +
        "\n").getBytes)
    val e = intercept[IllegalArgumentException](DeltaSink.read(spark, t2).count())
    assert(e.getMessage.contains("futureFeature"))
  }

  test("Iceberg V3 deletion vectors: Puffin blobs, supersede rule, format ratchet (r15)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write((1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v"),
      table, IcebergSink.CreateExclusive)
    IcebergSink.write((101L to 120L).map(i => (i, i.toDouble)).toDF("id", "v"),
      table, IcebergSink.Append)
    val preSnap = IcebergSink.snapshots(table).last._1
    assert(IcebergSink.deleteWhereDV(spark, table, "id <= 10") == 10L)
    assert(IcebergSink.read(spark, table).count() == 110)
    // supersede: the second DV on a file is the UNION — both deletes
    // stay dead while only the newest vector applies
    assert(IcebergSink.deleteWhereDV(spark, table, "id > 110") == 10L)
    val back = IcebergSink.read(spark, table)
    assert(back.count() == 100)
    assert(back.agg(min(col("id"))).head().getLong(0) == 11L)
    assert(back.agg(max(col("id"))).head().getLong(0) == 110L)
    // masked rows match nothing again — no re-delete, no commit
    assert(IcebergSink.deleteWhereDV(spark, table, "id <= 10") == 0L)
    // the commit ratcheted the table format to v3
    val mDir = new File(table, "metadata")
    val newestMeta = mDir.listFiles()
      .filter(_.getName.endsWith(".metadata.json")).maxBy(_.getName)
    assert(Files.readString(newestMeta.toPath).contains(""""format-version":3"""))
    // the vectors live in Puffin files: spec magic at head and tail
    val puffins = mDir.listFiles().filter(_.getName.endsWith(".puffin"))
    assert(puffins.length == 2)
    puffins.foreach { p =>
      val b = Files.readAllBytes(p.toPath)
      assert(b.take(4).sameElements("PFA1".getBytes) &&
        b.takeRight(4).sameElements("PFA1".getBytes))
      assert(new String(b).contains("deletion-vector-v1"))
    }
    // the metadata-only census is DV-aware: num_records reports LIVE
    // rows (the Delta twin's contract), no Puffin or data file opened
    assert(IcebergSink.fileStats(spark, table)
      .agg(sum(col("num_records"))).head().getLong(0) == 100L)
    // pre-delete snapshots still time-travel whole
    assert(IcebergSink.read(spark, table, Some(preSnap)).count() == 120)
    // v2 positional files and v3 vectors must not mix (spec)
    IcebergSink.deleteWhere(spark, table, "id = 50")
    assert(intercept[IllegalArgumentException](
      IcebergSink.deleteWhereDV(spark, table, "id = 51"))
      .getMessage.contains("compact"))
    assert(IcebergSink.read(spark, table).count() == 99) // both planes apply
    // compaction materializes everything; a clean v3 slate follows
    IcebergSink.compact(spark, table)
    assert(IcebergSink.read(spark, table).count() == 99)
    assert(IcebergSink.deleteWhereDV(spark, table, "id = 60") == 1L)
    assert(IcebergSink.read(spark, table).count() == 98)
  }

  test("Iceberg updateWhereDV: one overwrite snapshot masks + replaces (r15)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write((1L to 50L).map(i => (i, i.toDouble)).toDF("id", "v"),
      table, IcebergSink.CreateExclusive)
    val preSnaps = IcebergSink.snapshots(table).size
    assert(IcebergSink.updateWhereDV(spark, table, "id <= 5",
      Map("v" -> "v + 1000")) == 5L)
    // exactly ONE snapshot: vectors + replacements committed atomically
    assert(IcebergSink.snapshots(table).size == preSnaps + 1)
    val back = IcebergSink.read(spark, table)
    assert(back.count() == 50)
    assert(back.filter(col("v") > 1000.0).count() == 5)
    assert(back.agg(sum(col("v"))).head().getDouble(0) ==
      (1L to 50L).map(_.toDouble).sum + 5 * 1000.0)
    // SET sees the PRE-update row: a second update compounds correctly
    assert(IcebergSink.updateWhereDV(spark, table, "id = 1",
      Map("v" -> "v * 2")) == 1L)
    assert(IcebergSink.read(spark, table).filter(col("id") === 1L)
      .head().getDouble(1) == 2002.0)
    // a bad SET column fails before anything stages or commits
    val snapsNow = IcebergSink.snapshots(table).size
    intercept[IllegalArgumentException](
      IcebergSink.updateWhereDV(spark, table, "id = 2", Map("nope" -> "1")))
    assert(IcebergSink.snapshots(table).size == snapsNow)
  }

  test("maintainIceberg compacts away V3 deletion-vector debt (r15)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write((1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v"),
      table, IcebergSink.CreateExclusive)
    IcebergSink.deleteWhereDV(spark, table, "id <= 20") // 20% masked
    assert(IcebergSink.dvMaskedRows(table) == 20L)
    val (_, _, _, dvCompacted) = graft.sinks.Maintenance
      .maintainIceberg(s, table, keepLast = 1)
    assert(dvCompacted)
    // the compaction materialized the vectors; expiry reclaimed the
    // superseded snapshots AND their Puffin files
    assert(IcebergSink.dvMaskedRows(table) == 0L)
    assert(IcebergSink.read(spark, table).count() == 80)
    assert(!new File(table, "metadata").listFiles()
      .exists(_.getName.endsWith(".puffin")))
    // below the ratio the janitor leaves the vectors alone (each action
    // costs only the debt it retires)
    IcebergSink.deleteWhereDV(spark, table, "id = 21") // ~1.2% masked
    val (_, _, _, dc2) = graft.sinks.Maintenance
      .maintainIceberg(s, table, keepLast = 1)
    assert(!dc2)
    assert(IcebergSink.dvMaskedRows(table) == 1L)
    assert(IcebergSink.read(spark, table).count() == 79)
  }

  test("row-tracking domain + baseRowId survive a V2 checkpoint cold replay (r16)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 30L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(2), table)
    assert(DeltaSink.enableRowTracking(spark, table) == 30L)
    def ids(): Map[Long, Long] = DeltaSink.readWithRowIds(spark, table)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    val before = ids()
    // the V2 manifest carries the domainMetadata row AND the sidecars
    // carry baseRowId — a cold replay through manifest + sidecars alone
    // must neither lose nor reuse ids
    DeltaSink.checkpointV2(spark, table)
    new File(table, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    assert(ids() == before)
    DeltaSink.append(Seq((31L, 31.0)).toDF("id", "v"), table)
    val after = ids()
    assert(after(31L) == 30L,
      "the high-water mark must continue through the v2 checkpoint")
    before.foreach { case (k, v) => assert(after(k) == v) }
    // and the INCREMENTAL re-checkpoint keeps tracking state exact too
    DeltaSink.checkpointV2(spark, table)
    new File(table, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    assert(ids() == after)
  }

  test("DV reads past broadcast scale apply as a distributed anti-join, bit-identical (r16)") {
    val s = spark
    import s.implicits._
    import graft.sinks.DeltaSink
    val dt = tmp()
    DeltaSink.write((1L to 300L).map(i => (i, i.toDouble)).toDF("id", "v")
      .repartition(4), dt)
    assert(DeltaSink.deleteWhereDV(spark, dt, "id % 3 = 0") == 100L)
    val it = tmp() + "/tbl"
    IcebergSink.write((1L to 300L).map(i => (i, i.toDouble)).toDF("id", "v")
      .repartition(4), it, IcebergSink.CreateExclusive)
    assert(IcebergSink.deleteWhereDV(spark, it, "id % 3 = 0") == 100L)
    def census(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      (df.count(), df.agg(sum(col("id"))).head().getLong(0))
    val dBase = census(DeltaSink.read(spark, dt))
    val iBase = census(IcebergSink.read(spark, it))
    val prev = DeltaSink.DvBroadcastMaxBytes
    DeltaSink.DvBroadcastMaxBytes = 0L // force the third tier
    try {
      val d = DeltaSink.read(spark, dt)
      assert(d.queryExecution.executedPlan.toString.contains("LeftAnti"),
        "past the threshold the deletes must apply as an anti-join")
      assert(census(d) == dBase)
      val i = IcebergSink.read(spark, it)
      assert(i.queryExecution.executedPlan.toString.contains("LeftAnti"))
      assert(census(i) == iBase)
      // a second DV delete under the join tier still merges correctly
      assert(DeltaSink.deleteWhereDV(spark, dt, "id % 5 = 0") == 40L)
      assert(DeltaSink.read(spark, dt).count() == 160)
    } finally DeltaSink.DvBroadcastMaxBytes = prev
  }

  test("DV delete, merged read, row-id read and changelog hold at a path the reader percent-encodes") {
    val s = spark
    import s.implicits._
    // `_metadata.file_path` renders a space and a '%' encoded while the
    // log and manifests store them raw: only the dual-key match ties the
    // rows of this table to their files
    val root = new File(tmp(), "odd dir 100%")
    val rows = (1L to 60L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(2)
    val survivors = (1L to 60L).filter(_ % 3 != 0).toSet
    val dt = new File(root, "delta").getPath
    assert(DeltaSink.write(rows, dt))
    assert(DeltaSink.enableRowTracking(spark, dt) == 60L)
    def deltaIds(): Map[Long, Long] = DeltaSink.readWithRowIds(spark, dt)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    val dBefore = deltaIds()
    assert(dBefore.values.toSet == (0L until 60L).toSet)
    assert(DeltaSink.deleteWhereDV(spark, dt, "id % 3 = 0") == 20L)
    assert(DeltaSink.read(spark, dt).count() == 40)
    assert(DeltaSink.deleteWhereDV(spark, dt, "id % 3 = 0") == 0L)
    val dAfter = deltaIds()
    assert(dAfter.keySet == survivors)
    dAfter.foreach { case (k, v) => assert(dBefore(k) == v) }
    val it = new File(root, "iceberg").getPath
    IcebergSink.write(rows, it, IcebergSink.CreateExclusive)
    assert(IcebergSink.enableRowLineage(spark, it) == 60L)
    def icebergIds(): Map[Long, Long] = IcebergSink.readWithLineage(spark, it)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    val iBefore = icebergIds()
    assert(iBefore.values.toSet == (0L until 60L).toSet)
    val preDelete = IcebergSink.snapshots(it).last._1
    assert(IcebergSink.deleteWhereDV(spark, it, "id % 3 = 0") == 20L)
    assert(IcebergSink.read(spark, it).count() == 40)
    assert(IcebergSink.deleteWhereDV(spark, it, "id % 3 = 0") == 0L)
    val iAfter = icebergIds()
    assert(iAfter.keySet == survivors)
    iAfter.foreach { case (k, v) => assert(iBefore(k) == v) }
    // the changelog images exactly the DV-deleted rows
    assert(IcebergSink.readChangelog(spark, it, preDelete)
      .filter(col("_change_type") === "delete").select("id").as[Long]
      .collect().toSet == (3L to 60L by 3).toSet)
  }

  test("Delta liquid clustering: clusterBy metadata, implicit OPTIMIZE clustering, pruned reads (r17)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    // values scattered across files so the unclustered layout can't prune
    DeltaSink.write((0L until 4000L).map(i => (i, i % 97, (i * 31) % 101))
      .toDF("id", "a", "b").repartition(8), table)
    DeltaSink.clusterBy(spark, table, Seq("a", "b"))
    assert(DeltaSink.clusteringColumns(spark, table) == Seq("a", "b"))
    // declaration is ONE metadata-only commit: protocol v7 + clustering +
    // domainMetadata features, the delta.clustering domain, no file moved
    val v = DeltaSink.latestVersion(table)
    val commit = Files.readString(
      Paths.get(table, "_delta_log", f"$v%020d.json"))
    assert(commit.contains("\"clustering\"") &&
      commit.contains("domainMetadata") &&
      commit.contains("delta.clustering") && !commit.contains("\"add\""))
    // a plain OPTIMIZE now clusters implicitly by the declared columns
    DeltaSink.compact(spark, table, maxRecordsPerFile = 500)
    assert(DeltaSink.read(spark, table).count() == 4000)
    // the clustered layout's tight per-file ranges prune a 2-D slice
    val slice = DeltaSink.readRanges(spark, table,
      Seq(("a", "10", "20"), ("b", "0", "50")))
    val total = DeltaSink.read(spark, table).inputFiles.length
    assert(slice.inputFiles.length < total,
      s"clustered slice must skip files: ${slice.inputFiles.length}/$total")
    // the files-level superset + exact filter equals the direct answer
    assert(slice.filter(col("a").between(10, 20) && col("b") <= 50).count() ==
      (0L until 4000L).count(i => i % 97 >= 10 && i % 97 <= 20 && (i * 31) % 101 <= 50))
    // liquid mobility: re-declaring re-points future OPTIMIZE runs only
    DeltaSink.clusterBy(spark, table, Seq("b"))
    assert(DeltaSink.clusteringColumns(spark, table) == Seq("b"))
    // the domain survives a checkpointed cold replay
    DeltaSink.checkpoint(spark, table)
    assert(DeltaSink.clusteringColumns(spark, table) == Seq("b"))
  }

  test("Delta variant column: variantType feature stamped, binary round-trip, shredded stats prune (r18)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    val df = (0L until 1000L).map(i => (i, s"""{"k": ${i % 100}, "s": "v$i"}"""))
      .toDF("id", "j")
      .withColumn("pv", parse_json(col("j")))
      .withColumn("k_shred", variant_get(col("pv"), "$.k", "long"))
    DeltaSink.write(df.repartitionByRange(4, col("k_shred")), table)
    // the v0 protocol carries the variantType reader+writer feature —
    // engines that can't decode the binary refuse instead of misreading
    val p0 = Files.readString(Paths.get(table, "_delta_log",
      "00000000000000000000.json"))
    assert(p0.contains("\"variantType\"") &&
      p0.contains("\"minReaderVersion\":3"))
    // binary round-trip: values extract from the variant after the rewrite
    val back = DeltaSink.read(spark, table)
    assert(back.schema("pv").dataType.typeName == "variant")
    assert(back.filter(variant_get(col("pv"), "$.k", "long") =!= col("k_shred"))
      .isEmpty)
    assert(back.select(variant_get(col("pv"), "$.s", "string")).distinct()
      .count() == 1000)
    // shredded-column stats prune the range slice
    val slice = DeltaSink.readRange(spark, table, "k_shred", "0", "24")
    assert(slice.inputFiles.length < back.inputFiles.length)
    assert(slice.filter(col("k_shred") <= 24).count() == 250)
    // a variant-free table keeps the minimal legacy protocol
    val plain = tmp()
    DeltaSink.write((1L to 5L).toDF("id"), plain)
    assert(!Files.readString(Paths.get(plain, "_delta_log",
      "00000000000000000000.json")).contains("variantType"))
  }

  test("Iceberg variant column: v3 type, format-version ratchet, manifest-stats prune (r18)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    val df = (0L until 1000L).map(i => (i, s"""{"k": ${i % 100}}"""))
      .toDF("id", "j")
      .withColumn("pv", parse_json(col("j")))
      .withColumn("k_shred", variant_get(col("pv"), "$.k", "long"))
    IcebergSink.write(df.repartitionByRange(4, col("k_shred")), table,
      IcebergSink.CreateExclusive)
    // the schema maps to the V3 `variant` type string and the table
    // claims format-version 3 from creation
    val hint = Files.readString(
      Paths.get(table, "metadata", "version-hint.text")).trim
    val meta = Files.readString(
      Paths.get(table, "metadata", s"v$hint.metadata.json"))
    assert(meta.contains("\"format-version\" : 3") ||
      meta.contains("\"format-version\":3"))
    assert(meta.contains("\"variant\""))
    // round-trip + manifest-bounds pruning on the shredded sibling
    val back = IcebergSink.read(spark, table)
    assert(back.schema("pv").dataType.typeName == "variant")
    assert(back.filter(variant_get(col("pv"), "$.k", "long") =!= col("k_shred"))
      .isEmpty)
    val (_, kept, total) = IcebergSink.planRangeFiles(spark, table,
      "k_shred", 0.0, 24.0)
    assert(kept.size < total, s"expected pruning: ${kept.size}/$total")
    assert(IcebergSink.readRange(spark, table, "k_shred", 0.0, 24.0)
      .count() == 250)
  }

  test("Delta incremental liquid: a second OPTIMIZE rewrites only the unclustered tail (r18)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((0L until 4000L).map(i => (i, i % 97))
      .toDF("id", "a").repartition(8), table)
    DeltaSink.clusterBy(spark, table, Seq("a"))
    // first OPTIMIZE clusters everything
    val (r1, w1) = DeltaSink.compact(spark, table, maxRecordsPerFile = 500)
    assert(r1 == 8 && w1 >= 8) // range split + 500-row cap can overshoot
    // a small append leaves ONE unclustered tail file
    DeltaSink.append((4000L until 4100L).map(i => (i, i % 97)).toDF("id", "a")
      .coalesce(1), table)
    val liveBefore = DeltaSink.read(spark, table).inputFiles.length
    assert(liveBefore == w1 + 1)
    // second OPTIMIZE rewrites ONLY the tail; the clustered files of
    // generation 1 carry forward untouched
    val (r2, w2) = DeltaSink.compact(spark, table, maxRecordsPerFile = 500)
    assert(r2 == 1 && w2 == 1,
      s"expected a tail-only rewrite, got ($r2, $w2)")
    assert(DeltaSink.read(spark, table).count() == 4100)
    assert(DeltaSink.read(spark, table).inputFiles.length == w1 + 1)
    // fully clustered: a third OPTIMIZE is a commitless no-op
    val vBefore = DeltaSink.latestVersion(table)
    assert(DeltaSink.compact(spark, table, maxRecordsPerFile = 500) == ((0, 0)))
    assert(DeltaSink.latestVersion(table) == vBefore)
    // a DV delete pulls its file back into the tail (the rewrite purges
    // the mask); clustered files elsewhere still carry forward
    assert(DeltaSink.deleteWhereDV(spark, table, "id = 4050") == 1L)
    val (r4, w4) = DeltaSink.compact(spark, table, maxRecordsPerFile = 500)
    assert(r4 == 1 && w4 == 1, s"DV'd file alone re-clusters, got ($r4, $w4)")
    assert(DeltaSink.read(spark, table).count() == 4099)
    // re-declaring DIFFERENT columns invalidates every generation: the
    // next OPTIMIZE is a full re-cluster under the new key
    DeltaSink.clusterBy(spark, table, Seq("id"))
    val (r5, _) = DeltaSink.compact(spark, table, maxRecordsPerFile = 500)
    assert(r5 == w1 + 1, s"changed key must re-cluster everything, got $r5")
    assert(DeltaSink.read(spark, table).count() == 4099)
  }

  test("Delta row-id reads compose with column-mapping renames (r17)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 30L).map(i => (i, i.toDouble)).toDF("id", "v"),
      table)
    assert(DeltaSink.enableRowTracking(spark, table) == 30L)
    assert(DeltaSink.deleteWhereDV(spark, table, "id % 5 = 0") == 6L)
    DeltaSink.compact(spark, table) // materializes _row_id/_row_commit_version
    val pre = DeltaSink.readWithRowIds(spark, table)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    // column mapping: data columns project by PHYSICAL name; the
    // materialized tracking columns keep their own names
    DeltaSink.renameColumn(spark, table, "v", "score")
    val after = DeltaSink.readWithRowIds(spark, table)
    assert(after.columns.toSeq ==
      Seq("id", "score", "_row_id", "_row_commit_version"))
    val rows = after.select("id", "score", "_row_id")
      .as[(Long, Double, Long)].collect()
    assert(rows.length == 24)
    rows.foreach { case (id, score, rid) =>
      assert(score == id.toDouble && rid == pre(id),
        s"rename must not disturb tracked reads: $id")
    }
    DeltaSink.append(Seq((99L, 99.0)).toDF("id", "score"), table)
    val fresh = DeltaSink.readWithRowIds(spark, table)
      .filter(col("id") === 99L).select("score", "_row_id")
      .as[(Double, Long)].head()
    assert(fresh._1 == 99.0 && fresh._2 >= 30L)
  }

  test("Iceberg lineage reads compose with rename/widen id-projection (r17)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write((1L to 30L).map(i => (i, i.toDouble)).toDF("id", "v"),
      table, IcebergSink.CreateExclusive)
    assert(IcebergSink.enableRowLineage(spark, table) == 30L)
    IcebergSink.deleteWhereDV(spark, table, "id % 5 = 0")
    // compaction MATERIALIZES _row_id/_last_updated_sequence_number into
    // the rewritten file...
    IcebergSink.compact(spark, table)
    val pre = IcebergSink.readWithLineage(spark, table)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    // ...then a RENAME evolves the schema: the lineage read must project
    // the data columns by field id (old files carry the written name)
    // while still picking the materialized lineage columns up by name
    IcebergSink.evolveRename(table, "v", "score")
    val after = IcebergSink.readWithLineage(spark, table)
    assert(after.columns.toSeq ==
      Seq("id", "score", "_row_id", "_last_updated_sequence_number"))
    val rows = after.select("id", "score", "_row_id")
      .as[(Long, Double, Long)].collect()
    assert(rows.length == 24)
    rows.foreach { case (id, score, rid) =>
      assert(score == id.toDouble, s"renamed column must project by id: $id")
      assert(rid == pre(id), s"materialized _row_id lost through rename: $id")
    }
    // post-rename append: fresh ids, values under the new name
    IcebergSink.write(Seq((99L, 99.0)).toDF("id", "score"), table,
      IcebergSink.Append)
    val fresh = IcebergSink.readWithLineage(spark, table)
      .filter(col("id") === 99L).select("score", "_row_id")
      .as[(Double, Long)].head()
    assert(fresh._1 == 99.0 && fresh._2 >= 30L)
  }

  test("Iceberg partition statistics: manifest census to a registered stats parquet (r17)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write((1L to 300L).map(i => (i, s"g${i % 3}")).toDF("id", "g"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("g"))
    IcebergSink.write((301L to 320L).map(i => (i, "g0")).toDF("id", "g"),
      table, IcebergSink.Append)
    // DV delete spans partitions; the vectors attribute to their
    // referenced files' partitions
    assert(IcebergSink.deleteWhereDV(spark, table, "id % 10 = 1") == 32L)
    assert(IcebergStats.writePartitionStats(spark, table) == 3)
    val st = IcebergStats.partitionStats(spark, table).get
      .select(element_at(col("partition"), "g").as("g"),
        col("data_record_count"), col("position_delete_record_count"),
        col("live_record_count"), col("data_file_count"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // ids ≡ 1 (mod 10) cycle g1,g2,g0 over 1..300 (10 deletes each) and
    // add 301/311 from the all-g0 append → 12/10/10 per partition
    assert(st("g0")._1 == 120L && st("g0")._2 == 12L && st("g0")._3 == 108L)
    assert(st("g0")._4 >= 2L, "g0 holds files from two snapshots")
    assert(st("g1")._1 == 100L && st("g1")._2 == 10L && st("g1")._3 == 90L)
    assert(st("g2")._3 == 90L)
    // the stats census equals the merged read exactly
    val direct = IcebergSink.read(spark, table).groupBy("g").count()
      .as[(String, Long)].collect().toMap
    st.foreach { case (g, (_, _, live, _)) => assert(direct(g) == live) }
    // the optional last-updated pair: g0's newest file came from the
    // APPEND snapshot; g1/g2 last gained files at the CREATE
    val snaps = IcebergSink.snapshots(table)
    val lu = IcebergStats.partitionStats(spark, table).get
      .select(element_at(col("partition"), "g").as("g"),
        col("last_updated_snapshot_id")).as[(String, Long)].collect().toMap
    assert(lu("g0") == snaps(1)._1, "g0 must point at the append snapshot")
    assert(lu("g1") == snaps.head._1 && lu("g2") == snaps.head._1)
    // re-run replaces the registration and reclaims the superseded file
    def statsFiles() = new File(table, "metadata").listFiles()
      .filter(_.getName.startsWith("partition-stats-"))
    assert(statsFiles().length == 1)
    val first = statsFiles().head.getName
    assert(IcebergSink.deleteWhereDV(spark, table, "id % 10 = 2") == 32L)
    IcebergStats.writePartitionStats(spark, table)
    assert(statsFiles().length == 1 && statsFiles().head.getName != first,
      "superseded partition-stats parquet must be reclaimed")
    assert(IcebergStats.partitionStats(spark, table).get
      .agg(sum(col("live_record_count"))).head().getLong(0) ==
      IcebergSink.read(spark, table).count())
  }

  test("Iceberg partition statistics count classic v2 positional deletes and survive a table move (r18)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write((1L to 300L).map(i => (i, s"g${i % 3}")).toDF("id", "g"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("g"))
    // CLASSIC v2 positional delete files (no deletion vector, no
    // referenced_data_file) — still written by deleteWhere; r17's census
    // silently dropped them, overcounting live rows (ADVICE medium)
    assert(IcebergSink.deleteWhere(spark, table, "id % 10 = 1") == 30L)
    assert(IcebergStats.writePartitionStats(spark, table) == 3)
    val st = IcebergStats.partitionStats(spark, table).get
      .select(element_at(col("partition"), "g").as("g"),
        col("position_delete_record_count"),
        col("position_delete_file_count"), col("live_record_count"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // ids ≡ 1 (mod 10) cycle g1,g2,g0 — 10 v2-positional deletes each
    Seq("g0", "g1", "g2").foreach { g =>
      assert(st(g)._1 == 10L, s"$g v2 positional rows: ${st(g)._1}")
      assert(st(g)._2 >= 1L)
      assert(st(g)._3 == 90L, s"$g live: ${st(g)._3}")
    }
    val direct = IcebergSink.read(spark, table).groupBy("g").count()
      .as[(String, Long)].collect().toMap
    st.foreach { case (g, (_, _, live)) => assert(direct(g) == live) }
    // the registration is TABLE-RELATIVE (ADVICE r17): a moved table still
    // resolves its stats file through abs() — the metadata-JSON plane's
    // relocation contract (manifest-internal Avro paths stay absolute by
    // spec, so the census itself is a separate, pre-move concern)
    val moved = tmp() + "/moved"
    Files.move(Paths.get(table), Paths.get(moved))
    val mst = IcebergStats.partitionStats(spark, moved).get
    assert(mst.agg(sum(col("live_record_count"))).head().getLong(0) == 270L)
  }

  test("Iceberg stats-consulting partition read: empty partitions answer with no manifest open; small ones broadcast (r18)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write((1L to 300L).map(i => (i, s"g${i % 3}")).toDF("id", "g"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("g"))
    // fully DV-delete one partition, census the snapshot
    assert(IcebergSink.deleteWhereDV(spark, table, "g = 'g1'") == 100L)
    IcebergStats.writePartitionStats(spark, table)
    // HIDE every Avro (manifest list + manifests): the stats-pruned empty
    // read must still answer — its plan is metadata JSON + the KB stats
    // parquet, never a manifest walk — while a plain read now fails
    val metaDir = new File(table, "metadata")
    val avros = metaDir.listFiles().filter(_.getName.endsWith(".avro"))
    avros.foreach(f => Files.move(f.toPath,
      f.toPath.resolveSibling(f.getName + ".hidden")))
    try {
      val empty = IcebergStats.readPartition(spark, table, "g", "g1")
      assert(empty.count() == 0)
      assert(empty.schema.fieldNames.toSeq == Seq("id", "g"))
      intercept[Exception] { IcebergSink.read(spark, table).count() }
    } finally avros.foreach(f => Files.move(
      f.toPath.resolveSibling(f.getName + ".hidden"), f.toPath))
    // a small live partition: pruned scan, BROADCAST-hinted off the stats
    val g0 = IcebergStats.readPartition(spark, table, "g", "g0")
    assert(g0.count() == 100)
    val joined = IcebergSink.read(spark, table).join(
      g0.select(col("id").as("jid")), col("id") === col("jid"))
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    // STALE statistics never gate correctness: rows land in g1 after the
    // census — the read must walk manifests again, not claim empty
    IcebergSink.write(Seq((1000L, "g1"), (1001L, "g1")).toDF("id", "g"),
      table, IcebergSink.Append)
    assert(IcebergStats.readPartition(spark, table, "g", "g1").count() == 2)
    // pruning gate: the underlying identity-pruned scan opened fewer data
    // files than the table holds
    val (_, scanned, total) = IcebergSink.readPartition(spark, table, "g", "g0")
    assert(scanned < total && scanned >= 1)
  }

  test("Delta table statistics: theta-sketch NDV through the graft.stats domain (r17)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 500L).map(i => (i, i % 7, s"g${i % 3}"))
      .toDF("id", "bucket", "grp").coalesce(2), table)
    // one pass, one metadata-only commit; small-cardinality columns are
    // exact under the sketch's K
    val ndvs = DeltaSink.writeStats(spark, table, Seq("bucket", "grp"))
    assert(ndvs == Map("bucket" -> 7L, "grp" -> 3L))
    assert(DeltaSink.statsNdv(spark, table, "bucket").contains(7L))
    assert(DeltaSink.statsNdv(spark, table, "grp").contains(3L))
    assert(DeltaSink.statsNdv(spark, table, "id").isEmpty,
      "unregistered column must read no NDV")
    // the commit bumped to writer v7 + domainMetadata, reader untouched
    val v = DeltaSink.latestVersion(table)
    val commit = Files.readString(
      Paths.get(table, "_delta_log", f"$v%020d.json"))
    assert(commit.contains("\"minWriterVersion\":7") &&
      commit.contains("domainMetadata") && commit.contains("graft.stats"))
    assert(!commit.contains("\"add\""), "stats commit must be metadata-only")
    // the Puffin landed under the log's stats dir
    def puffins() = Paths.get(table, "_delta_log", "_graft_stats").toFile
      .listFiles().filter(_.getName.endsWith(".puffin"))
    assert(puffins().length == 1)
    val firstPuffin = puffins().head.getName
    // planner hook: the NDV-hinted side broadcasts
    val hinted = DeltaSink.read(spark, table)
      .join(DeltaSink.scanForJoin(spark, table, "grp")
        .select(col("grp")).distinct(), "grp")
    assert(hinted.queryExecution.sparkPlan.toString
      .contains("BroadcastHashJoin"))
    // ...and above the threshold the scan comes back unhinted
    assert(DeltaSink.scanForJoin(spark, table, "grp", broadcastMaxNdv = 2)
      .queryExecution.logical.toString != "broadcast")
    // re-running replaces the registration and reclaims the old Puffin
    DeltaSink.append(Seq((501L, 99L, "g9")).toDF("id", "bucket", "grp"), table)
    val ndvs2 = DeltaSink.writeStats(spark, table, Seq("bucket", "grp"))
    assert(ndvs2 == Map("bucket" -> 8L, "grp" -> 4L))
    assert(puffins().length == 1 && puffins().head.getName != firstPuffin,
      "superseded stats Puffin must be deleted")
    assert(DeltaSink.statsNdv(spark, table, "grp").contains(4L))
    // the domain survives a checkpoint + cold replay
    DeltaSink.checkpoint(spark, table)
    assert(DeltaSink.statsNdv(spark, table, "grp").contains(4L))
  }

  test("Delta row tracking: ids stable across append, DV delete, compaction, checkpointed replay (r16)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 40L).map(i => (i, s"n$i")).toDF("id", "name")
      .coalesce(2), table)
    assert(DeltaSink.enableRowTracking(spark, table) == 40L)
    def ids(): Map[Long, Long] = DeltaSink.readWithRowIds(spark, table)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    // the second row-tracking column (r17): _row_commit_version inherits
    // each file's defaultRowCommitVersion unless a rewrite materialized
    // the per-row value. Retroactive enablement stamps the ENABLE
    // commit's version (pre-feature history is unrecoverable — the
    // delta-spark backfill convention), so every row reads 1 here.
    def rcvs(): Map[Long, Long] = DeltaSink.readWithRowIds(spark, table)
      .select("id", "_row_commit_version").as[(Long, Long)].collect().toMap
    val before = ids()
    assert(before.values.toSet == (0L until 40L).toSet)
    val vEnable = DeltaSink.latestVersion(table)
    assert(rcvs().values.toSet == Set(vEnable),
      "retro-enabled rows carry the enable commit's version")
    // the enablement commit carries the protocol features + the domain
    val v1 = DeltaSink.latestVersion(table)
    val enableCommit = Files.readString(
      Paths.get(table, "_delta_log", f"$v1%020d.json"))
    assert(enableCommit.contains("rowTracking") &&
      enableCommit.contains("domainMetadata") &&
      enableCommit.contains("rowIdHighWaterMark"))
    // append: fresh ids above the high-water mark; existing ids untouched
    DeltaSink.append((41L to 50L).map(i => (i, s"n$i")).toDF("id", "name"), table)
    val after1 = ids()
    before.foreach { case (k, v) => assert(after1(k) == v) }
    assert(after1.values.toSet == (0L until 50L).toSet)
    // appended rows carry the APPEND's commit version; old rows keep the
    // enable version
    val vAppend = DeltaSink.latestVersion(table)
    val rcvAfterAppend = rcvs()
    assert((1L to 40L).forall(rcvAfterAppend(_) == vEnable))
    assert((41L to 50L).forall(rcvAfterAppend(_) == vAppend))
    // DV delete: survivors keep their ids (positions never move)
    assert(DeltaSink.deleteWhereDV(spark, table, "id % 2 = 0") == 25L)
    val after2 = ids()
    assert(after2.keySet == (1L to 49L by 2).toSet)
    after2.foreach { case (k, v) => assert(after1(k) == v) }
    // ...and a DV delete never bumps survivors' commit version — the
    // re-added touched files PRESERVE their defaultRowCommitVersion
    val rcvAfterDelete = rcvs()
    after2.keySet.foreach(k => assert(rcvAfterDelete(k) == rcvAfterAppend(k)))
    // a DV UPDATE's replacement row takes a FRESH id; survivors untouched
    assert(DeltaSink.updateWhereDV(spark, table, "id = 1",
      Map("name" -> "'upd'")) == 1L)
    val after3 = ids()
    assert(after3(1L) >= 50L, s"replacement must take a fresh id, got ${after3(1L)}")
    (after2 - 1L).foreach { case (k, v) => assert(after3(k) == v) }
    // the replacement row carries the UPDATE's version, newer than all
    val rcvAfterUpdate = rcvs()
    assert(rcvAfterUpdate(1L) > rcvAfterDelete.values.max)
    (after2.keySet - 1L).foreach(k =>
      assert(rcvAfterUpdate(k) == rcvAfterDelete(k)))
    // compaction MATERIALIZES the ids into the rewritten parquet
    DeltaSink.compact(spark, table)
    assert(ids() == after3)
    assert(rcvs() == rcvAfterUpdate,
      "compaction must materialize row commit versions, not re-inherit")
    assert(DeltaSink.read(spark, table).columns.toSeq == Seq("id", "name"),
      "the declared schema never grows the physical columns")
    // reorgPurge refuses — DV debt on a tracked table retires via compact
    DeltaSink.deleteWhereDV(spark, table, "id = 3")
    assert(intercept[IllegalArgumentException](
      DeltaSink.reorgPurge(spark, table))
      .getMessage.contains("row tracking"))
    val after4 = ids()
    // CLASSIC checkpoint + cold replay: baseRowId and the high-water-mark
    // DOMAIN both survive the checkpoint — ids identical, and the next
    // append continues the clock instead of reusing ids
    DeltaSink.checkpoint(spark, table)
    new File(table, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    assert(ids() == after4)
    DeltaSink.append(Seq((99L, "z")).toDF("id", "name"), table)
    val after5 = ids()
    assert(after5(99L) > after4.values.max,
      "the clock must continue past the checkpointed high-water mark")
    after4.foreach { case (k, v) => assert(after5(k) == v) }
    // ...and the post-checkpoint append's commit version rides through
    // the checkpointed replay (defaultRowCommitVersion survives both the
    // checkpoint parquet and the materialized compact files)
    val rcvFinal = rcvs()
    assert(rcvFinal(99L) > rcvAfterUpdate.values.max)
    assert(rcvFinal(5L) == rcvAfterUpdate(5L))
  }

  test("Iceberg V3 default values: ALTER ADD COLUMN DEFAULT is metadata-only; old rows read the default (r16)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write((1L to 10L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(1), table, IcebergSink.CreateExclusive)
    val preSnap = IcebergSink.snapshots(table).last._1
    val filesBefore = new File(table, "data").listFiles()
      .map(_.getName).toSet
    // metadata-only ADD COLUMN ... DEFAULT: zero data bytes move
    IcebergSink.evolveAddColumn(table, "src", "string", Some("legacy"))
    assert(new File(table, "data").listFiles().map(_.getName).toSet
      == filesBefore)
    val after = IcebergSink.read(spark, table)
    assert(after.columns.toSeq == Seq("id", "v", "src"))
    // every pre-evolution row surfaces the INITIAL default, never null
    assert(after.filter(col("src") === "legacy").count() == 10)
    // an explicit append keeps its own values
    IcebergSink.write(Seq((11L, 11.0, "fresh")).toDF("id", "v", "src"),
      table, IcebergSink.Append)
    val mixed = IcebergSink.read(spark, table)
    assert(mixed.filter(col("src") === "legacy").count() == 10)
    assert(mixed.filter(col("src") === "fresh").count() == 1)
    // ...and the defaults survive that append's metadata rebuild
    IcebergSink.write(Seq((12L, 12.0, "fresh")).toDF("id", "v", "src"),
      table, IcebergSink.Append)
    assert(IcebergSink.read(spark, table)
      .filter(col("src") === "legacy").count() == 10)
    // an OLD-SHAPE producer (no src column) appends: the WRITE-default
    // fills the omitted trailing column (the spec's writer contract)
    IcebergSink.write(Seq((13L, 13.0)).toDF("id", "v"), table,
      IcebergSink.Append)
    val withWd = IcebergSink.read(spark, table)
    assert(withWd.filter(col("id") === 13L).head().getString(2) == "legacy")
    assert(withWd.count() == 13)
    // a defaultless added column still reads null for old rows and still
    // gate-fails an omitting writer
    IcebergSink.evolveAddColumn(table, "score", "double")
    assert(IcebergSink.read(spark, table)
      .filter(col("score").isNull).count() == 13)
    intercept[Exception] {
      IcebergSink.write(Seq((14L, 14.0, "x")).toDF("id", "v", "src"),
        table, IcebergSink.Append)
    }
    // time travel reads under the CURRENT schema (this engine's
    // established evolution contract) — pre-evolution rows surface the
    // default there too, never null
    val tt = IcebergSink.read(spark, table, Some(preSnap))
    assert(tt.columns.toSeq == Seq("id", "v", "src", "score"))
    assert(tt.filter(col("src") === "legacy").count() == 10)
    // MoR deletes compose with defaults (merged read is id-projected)
    IcebergSink.deleteWhereDV(spark, table, "id <= 5")
    val merged = IcebergSink.read(spark, table)
    assert(merged.count() == 8)
    // survivors: ids 6-10 (initial-default) + id 13 (write-default)
    assert(merged.filter(col("src") === "legacy").count() == 6)
  }

  test("Iceberg table statistics: theta blobs in a Puffin stats file, ndv property, NDV-driven broadcast (r16)") {
    val s = spark
    import s.implicits._
    import graft.sinks.IcebergStats
    val dim = tmp() + "/dim"
    IcebergSink.write((1L to 100L).map(i => (i, s"n$i")).toDF("k", "name"),
      dim, IcebergSink.CreateExclusive)
    val fact = tmp() + "/fact"
    IcebergSink.write((1L to 5000L).map(i => (i % 100 + 1, i.toDouble))
      .toDF("k", "v"), fact, IcebergSink.CreateExclusive)
    val ndvs = IcebergStats.writeStats(spark, dim, Seq("k", "name"))
    assert(ndvs("k") == 100L) // under K=256 → the sketch is exact
    assert(IcebergStats.ndv(dim, "k").contains(100L))
    assert(IcebergStats.ndv(dim, "nope").isEmpty)
    // the stats file is a spec Puffin; blobs carry the DataSketches
    // CompactSketch v3 header (serVer 3, family 3, COMPACT|ORDERED flags)
    val statsFiles = new File(dim, "metadata").listFiles()
      .filter(_.getName.startsWith("stats-"))
    assert(statsFiles.length == 1)
    val bytes = Files.readAllBytes(statsFiles.head.toPath)
    assert(bytes.take(4).sameElements("PFA1".getBytes) &&
      bytes.takeRight(4).sameElements("PFA1".getBytes))
    assert(new String(bytes, "ISO-8859-1").contains("apache-datasketches-theta-v1"))
    assert(new String(bytes, "ISO-8859-1").contains(""""ndv":"100""""))
    assert(bytes(4 + 1) == 3 && bytes(4 + 2) == 3, "serVer 3, family COMPACT")
    assert((bytes(4 + 5) & 0x18) == 0x18, "COMPACT|ORDERED flags")
    // estimating regime (>K distinct): estimate inside 4 RSE of truth
    val big = tmp() + "/big"
    IcebergSink.write((1L to 20000L).map(i => (i, i % 7)).toDF("k", "g"),
      big, IcebergSink.CreateExclusive)
    val est = IcebergStats.writeStats(spark, big, Seq("k"))("k")
    assert(math.abs(est - 20000.0) / 20000.0 < 4.0 / math.sqrt(254.0),
      s"NDV estimate $est outside 4 RSE of 20000")
    // a re-write REPLACES the statistics entry; the superseded file reclaims
    assert(IcebergStats.writeStats(spark, big, Seq("g"))("g") == 7L)
    assert(new File(big, "metadata").listFiles()
      .count(_.getName.startsWith("stats-")) == 1)
    assert(IcebergStats.ndv(big, "k").isEmpty, "replaced stats drop old columns")
    // the planner hook: with size-based auto-broadcast OFF, the NDV hint
    // is the only broadcast path — hinted joins broadcast, unhinted don't
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.ExplainMode
      val factDf = IcebergSink.read(spark, fact)
      val hinted = factDf.join(IcebergStats.scanForJoin(spark, dim, "k"), "k")
      val hp = hinted.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(hp.contains("BroadcastHashJoin"), s"NDV hint must broadcast:\n$hp")
      val unhinted = factDf.join(IcebergSink.read(spark, dim), "k")
      val up = unhinted.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!up.contains("BroadcastHashJoin"),
        "without stats the scan must stay unhinted")
      assert(hinted.count() == 5000)
      // NDV above the ceiling → no hint either
      val nh = factDf.join(IcebergStats.scanForJoin(spark, dim, "k",
        broadcastMaxNdv = 10L), "k")
      assert(!nh.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .contains("BroadcastHashJoin"))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("maintain reports per-step timings; idle triggers leave the data plane untouched (r16)") {
    val s = spark
    import s.implicits._
    // DELTA: a quiet table (few files, no DVs) — only checkpoint+vacuum
    // run, no data byte moves, and the report names every step
    val dt = tmp()
    DeltaSink.write((1L to 50L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(2), dt)
    def dataState(dir: File): Set[(String, Long)] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(dir).filter(_.getName.endsWith(".parquet"))
        .filterNot(_.getAbsolutePath.contains("_delta_log")) // checkpoints are metadata
        .map(f => (f.getAbsolutePath, f.lastModified())).toSet
    }
    val dBefore = dataState(new File(dt))
    val ((purged, compacted, _, synced), dSteps) =
      graft.sinks.Maintenance.maintainDeltaReport(s, dt)
    assert(!purged && !compacted && !synced)
    assert(dSteps.map(_.step) == Seq("triggers(log-stats)", "reorg-purge",
      "optimize", "checkpoint", "vacuum", "uniform-sync"))
    assert(dSteps.forall(_.ms >= 0))
    // unfired steps report fired=false; the always-on steps report true
    assert(dSteps.filter(t => Seq("reorg-purge", "optimize", "uniform-sync")
      .contains(t.step)).forall(!_.fired))
    assert(dataState(new File(dt)) == dBefore,
      "an idle janitor pass must not touch the data plane")
    info("maintainDelta idle timings: " +
      dSteps.map(t => s"${t.step}=${t.ms}ms").mkString(", "))
    // ICEBERG: same contract
    val it = tmp() + "/tbl"
    IcebergSink.write((1L to 50L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(2), it, IcebergSink.CreateExclusive)
    val iBefore = dataState(new File(it, "data"))
    val ((rewrote, _, _, dvCompacted), iSteps) =
      graft.sinks.Maintenance.maintainIcebergReport(s, it)
    assert(!rewrote && !dvCompacted)
    assert(iSteps.map(_.step) == Seq("trigger(dv-debt)", "dv-compact",
      "trigger(manifest-count)", "rewrite-manifests", "expire-snapshots",
      "orphan-sweep"))
    assert(dataState(new File(it, "data")) == iBefore,
      "an idle janitor pass must not touch the data plane")
    info("maintainIceberg idle timings: " +
      iSteps.map(t => s"${t.step}=${t.ms}ms").mkString(", "))
  }

  test("changelog decodes V3 DV snapshots into exact pre-image deletes (r15)") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    IcebergSink.write((1L to 20L).map(i => (i, i.toDouble)).toDF("id", "v"),
      table, IcebergSink.CreateExclusive)
    val s0 = IcebergSink.snapshots(table).last._1
    IcebergSink.deleteWhereDV(spark, table, "id <= 3")
    // the second vector SUPERSEDES (union) — the changelog must image
    // only the NEWLY masked position, never re-emit the first three
    IcebergSink.deleteWhereDV(spark, table, "id = 10")
    val log = IcebergSink.readChangelog(spark, table, s0)
    val dels = log.filter(col("_change_type") === "delete")
    assert(dels.count() == 4)
    assert(dels.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 10L))
    // the two snapshots attribute their own rows
    assert(dels.select("_commit_snapshot_id").distinct().count() == 2)
  }

  test("maintainDelta preserves the v2 checkpoint flavor (r15)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 30L).map(i => (i, i.toDouble)).toDF("id", "v"), table)
    DeltaSink.checkpointV2(spark, table)
    (1 to 3).foreach(i =>
      DeltaSink.append(Seq((30L + i, 1.0)).toDF("id", "v"), table))
    graft.sinks.Maintenance.maintainDelta(s, table,
      maxSmallFiles = 2, vacuumRetentionMs = 0L)
    // the janitor's checkpoint kept the operator's chosen layout
    assert(Files.readString(Paths.get(table, "_delta_log", "_last_checkpoint"))
      .contains("\"path\""))
    assert(DeltaSink.read(spark, table).count() == 33)
  }

  test("maintainDelta re-syncs the Iceberg plane of a dual-format table (r15)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 40L).map(i => (i, i.toDouble)).toDF("id", "v"), table)
    IcebergSink.convertFromDelta(spark, table)
    (1 to 4).foreach(i =>
      DeltaSink.append(Seq((40L + i, 1.0)).toDF("id", "v"), table))
    assert(IcebergSink.read(spark, table).count() == 40) // stale until sync
    val (_, compacted, _, synced) = graft.sinks.Maintenance.maintainDelta(
      s, table, maxSmallFiles = 2, vacuumRetentionMs = 0L)
    assert(compacted && synced)
    // the janitor leaves the Iceberg view CURRENT — post-compaction
    // files, appended rows absorbed, census equal across planes
    assert(IcebergSink.read(spark, table).count() == 44)
    assert(DeltaSink.read(spark, table).count() == 44)
  }

  test("a v2 manifest that lists sidecars ignores its own inline adds, with a 9 MiB tail too") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 40L).map(i => (i, i.toDouble)).toDF("id", "v")
      .repartition(4), table)
    DeltaSink.checkpointV2(spark, table)
    val log = new File(table, "_delta_log")
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    val ptr = jackson.readTree(Files.readString(Paths.get(table, "_delta_log", "_last_checkpoint")))
    val v = ptr.get("version").asLong()
    val sidecarAdds = spark.read.parquet(new File(log, "_sidecars").getPath).select("add")
    val sidecarPaths = sidecarAdds.select("add.path").as[String].collect().toSet
    assert(sidecarPaths.size == 4)
    // an external writer's manifest carrying BOTH a sidecar list and an
    // inline add the sidecars do not hold (a file that does not exist)
    val ghost = sidecarAdds.limit(1)
      .select(col("add").withField("path", lit("part-ghost.parquet")).as("add"))
    val staging = Files.createTempDirectory("graft-manifest").toFile
    spark.read.parquet(new File(log, ptr.get("path").asText()).getPath)
      .unionByName(ghost, allowMissingColumns = true)
      .coalesce(1).write.parquet(new File(staging, "m").getPath)
    val name = f"$v%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"
    Files.move(new File(staging, "m").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath, log.toPath.resolve(name))
    Files.writeString(Paths.get(table, "_delta_log", "_last_checkpoint"),
      s"""{"version":$v,"path":"$name"}""")
    def liveNames(): Set[String] =
      DeltaSink.read(spark, table).inputFiles.map(f => new File(new java.net.URI(f)).getName).toSet
    assert(liveNames() == sidecarPaths)
    assert(DeltaSink.read(spark, table).count() == 40)
    // the same fold resolves a 9 MiB JSON tail over the checkpoint
    val out = Files.newOutputStream(Paths.get(table, "_delta_log", f"${v + 1}%020d.json"))
    try {
      out.write("""{"commitInfo":{"timestamp":0,"pad":"""".getBytes)
      out.write(Array.fill[Byte](9 << 20)('x'))
      out.write("\"}}\n".getBytes)
    } finally out.close()
    assert(liveNames() == sidecarPaths)
    assert(DeltaSink.read(spark, table).count() == 40)
  }

  test("a v2 table whose pointer lost its manifest hint re-checkpoints as v2") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 40L).map(i => (i, i.toDouble)).toDF("id", "v")
      .repartition(4), table)
    DeltaSink.checkpointV2(spark, table)
    val log = Paths.get(table, "_delta_log")
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    val v = jackson.readTree(Files.readString(log.resolve("_last_checkpoint")))
      .get("version").asLong()
    // the spec locates a v2 checkpoint by its manifest's name; the
    // pointer's `path` is only a hint an external writer may omit
    Files.writeString(log.resolve("_last_checkpoint"), s"""{"version":$v}""")
    DeltaSink.append(Seq((41L, 41.0)).toDF("id", "v"), table)
    val v2 = DeltaSink.checkpoint(spark, table)
    val ptr = jackson.readTree(Files.readString(log.resolve("_last_checkpoint")))
    assert(ptr.get("version").asLong() == v2 && ptr.has("path"), ptr.toString)
    assert(Files.isRegularFile(log.resolve(ptr.get("path").asText())))
    assert(!Files.exists(log.resolve(f"$v2%020d.checkpoint.parquet")))
    assert(DeltaSink.read(spark, table).count() == 41)
  }

  test("Iceberg janitors on a converted table read a hint-less v2 pointer's manifest") {
    val s = spark
    import s.implicits._
    val table = tmp()
    DeltaSink.write((1L to 40L).map(i => (i, i.toDouble)).toDF("id", "v")
      .repartition(4), table)
    DeltaSink.checkpointV2(spark, table)
    val ptrFile = Paths.get(table, "_delta_log", "_last_checkpoint")
    val v = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(ptrFile)).get("version").asLong()
    Files.writeString(ptrFile, s"""{"version":$v}""")
    IcebergSink.convertFromDelta(spark, table)
    val deltaFiles = DeltaSink.read(spark, table).inputFiles
      .map(f => new File(new java.net.URI(f))).toSeq
    assert(deltaFiles.size == 4)
    // age every parquet so only the referenced sets protect them
    val old = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
    def walkP(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) walkP(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    walkP(new File(table)).foreach(f => assert(f.setLastModified(old)))
    assert(IcebergSink.removeOrphanFiles(spark, table,
      olderThanMs = 24L * 3600 * 1000).isEmpty)
    // an Iceberg compaction retires the converted files from the current
    // snapshot; expiring the convert snapshot must leave them to Delta
    IcebergSink.compact(spark, table)
    IcebergSink.expireSnapshots(table, keepLast = 1)
    assert(deltaFiles.forall(_.exists()))
    assert(DeltaSink.read(spark, table).count() == 40)
    assert(IcebergSink.read(spark, table).count() == 40)
  }

  test("a row-id frame built before a DV update reads the same rows after it commits") {
    val s = spark
    import s.implicits._
    val rows = (1L to 40L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(2)
    // the frame the lineage queries collect while the update commits: its
    // files and deletion vectors were fixed when it was built
    def sameAfterUpdate(frame: org.apache.spark.sql.DataFrame, update: () => Unit,
        fresh: () => org.apache.spark.sql.DataFrame): Unit = {
      val before = frame.orderBy("id").collect().toSeq
      update()
      assert(frame.orderBy("id").collect().toSeq == before)
      assert(fresh().orderBy("id").collect().toSeq != before, "the update must land")
    }
    val delta = tmp()
    DeltaSink.write(rows, delta)
    DeltaSink.enableRowTracking(spark, delta)
    DeltaSink.deleteWhereDV(spark, delta, "id % 10 = 3")
    sameAfterUpdate(DeltaSink.readWithRowIds(spark, delta),
      () => DeltaSink.updateWhereDV(spark, delta, "id % 10 = 6",
        Map("name" -> "concat(name, '!')")): Unit,
      () => DeltaSink.readWithRowIds(spark, delta))
    val iceberg = tmp() + "/tbl"
    IcebergSink.write(rows, iceberg, IcebergSink.CreateExclusive)
    IcebergSink.enableRowLineage(spark, iceberg)
    IcebergSink.deleteWhereDV(spark, iceberg, "id % 10 = 3")
    sameAfterUpdate(IcebergSink.readWithLineage(spark, iceberg),
      () => IcebergSink.updateWhereDV(spark, iceberg, "id % 10 = 6",
        Map("name" -> "concat(name, '!')")): Unit,
      () => IcebergSink.readWithLineage(spark, iceberg))
  }

  /** The summary of snapshot `id` in the table's newest metadata, its
    * `added-*` counts as numbers (an absent count is 0).
    */
  private def addedCounts(table: String, id: Long): Map[String, Long] = {
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new File(table, "metadata").listFiles()
        .filter(_.getName.endsWith(".metadata.json"))
        .maxBy(_.getName.stripPrefix("v").takeWhile(_.isDigit).toLong).toPath.toFile)
    meta.get("snapshots").elements().asScala.find(_.get("snapshot-id").asLong() == id).get
      .get("summary").properties().asScala
      .collect { case e if e.getKey.startsWith("added-") => e.getKey -> e.getValue.asText().toLong }
      .toMap.withDefaultValue(0L)
  }

  test("Iceberg snapshot summaries count the files and rows each verb committed") {
    val s = spark
    import s.implicits._
    val table = tmp() + "/tbl"
    def rows(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"g${i % 3}", i * 0.5)).toDF("id", "g", "v").repartition(2)
    // (content, path, record_count) of every entry of the current snapshot
    def entries(): Seq[(Int, String, Long)] =
      if (!new File(table, "metadata").exists()) Nil
      else IcebergSink.metaTable(spark, table, "files")
        .select("content", "file_path", "record_count").as[(Int, String, Long)].collect().toSeq
    /** Runs `verb`, then checks the new snapshot's counts against the
      * entries it added; returns the counts and the verb's result.
      */
    def committed[A](name: String)(verb: => A): (Map[String, Long], A) = {
      val before = entries()
      val out = verb
      val added = entries().diff(before)
      val c = addedCounts(table, IcebergSink.snapshots(table).last._1)
      val (data, deletes) = added.partition(_._1 == 0)
      assert(c("added-data-files") == data.size, s"$name: $c")
      assert(c("added-records") == data.map(_._3).sum, s"$name: $c")
      assert(c("added-delete-files") == deletes.size, s"$name: $c")
      assert(c("added-position-delete-files") + c("added-equality-delete-files") +
        c("added-dvs") == deletes.size, s"$name: $c")
      assert(c("added-position-deletes") + c("added-equality-deletes") ==
        deletes.map(_._3).sum, s"$name: $c")
      // a deletion vector's added size is its blob, not its Puffin file
      if (c("added-dvs") == 0)
        assert(c("added-files-size") ==
          added.map(_._2).distinct.map(new File(_).length()).sum, s"$name: $c")
      (c, out)
    }
    assert(committed("create")(IcebergSink.write(rows(1, 30), table,
      IcebergSink.CreateExclusive))._1("added-records") == 30L)
    assert(committed("append")(IcebergSink.write(rows(31, 40), table,
      IcebergSink.Append))._1("added-records") == 10L)
    assert(committed("overwrite")(IcebergSink.write(rows(1, 40), table,
      IcebergSink.Overwrite))._1("added-records") == 40L)
    IcebergSink.write(rows(41, 50), table, IcebergSink.Append)
    assert(committed("compact")(IcebergSink.compact(spark, table))._1("added-records") == 50L)
    val (del, n1) = committed("deleteWhere")(IcebergSink.deleteWhere(spark, table, "id <= 3"))
    assert(n1 == 3L && del("added-position-deletes") == 3L && del("added-data-files") == 0L)
    IcebergSink.compact(spark, table) // v3 deletion vectors refuse live v2 delete files
    val (dv, n2) = committed("deleteWhereDV")(
      IcebergSink.deleteWhereDV(spark, table, "id between 10 and 14"))
    assert(n2 == 5L && dv("added-position-deletes") == 5L && dv("added-dvs") >= 1L &&
      dv("added-position-delete-files") == 0L && dv("added-files-size") > 0L)
    val (up, n3) = committed("updateWhereDV")(IcebergSink.updateWhereDV(spark, table,
      "id between 20 and 21", Map("v" -> "v + 1")))
    // a deletion vector replaces its file's previous one, so its
    // cardinality counts that file's 5 earlier deletes too
    assert(n3 == 2L && up("added-records") == 2L && up("added-position-deletes") == 7L)
    val (ups, n4) = committed("upsert")(IcebergSink.upsert(spark, table,
      Seq((30L, "g0", 9.0), (100L, "g1", 9.0)).toDF("id", "g", "v"), Seq("id")))
    assert(n4 == 2L && ups("added-records") == 2L && ups("added-equality-deletes") == 2L &&
      ups("added-equality-delete-files") >= 1L)
    val (dk, n5) = committed("deleteKeys")(IcebergSink.deleteKeys(spark, table,
      Seq(31L, 32L, 33L).toDF("id"), Seq("id")))
    assert(n5 == 3L && dk("added-equality-deletes") == 3L && dk("added-data-files") == 0L)
    // a branch commit: main's entries do not move, the branch head's do
    IcebergSink.createRef(table, "audit", IcebergSink.snapshots(table).last._1,
      refType = "branch")
    def branchFiles() = IcebergSink.fileStats(spark, table,
      Some(IcebergSink.listRefs(table)("audit")._1)).select("path", "num_records")
      .as[(String, Long)].collect().toSeq
    val onBranch = branchFiles()
    val head = IcebergSink.appendBranch(rows(200, 206), table, "audit")
    val br = addedCounts(table, head)
    val branchAdded = branchFiles().diff(onBranch)
    assert(br("added-records") == 7L && br("added-records") == branchAdded.map(_._2).sum)
    assert(br("added-data-files") == branchAdded.size)
  }

  test("Iceberg commits keep statistics, partition statistics, refs and foreign properties") {
    val s = spark
    import s.implicits._
    val table = tmp()
    def rows(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"g${i % 3}", i * 0.5)).toDF("id", "g", "v").repartition(2)
    DeltaSink.write(rows(1, 30), table)
    IcebergSink.convertFromDelta(spark, table)
    IcebergSink.createRef(table, "pinned", IcebergSink.snapshots(table).last._1)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def meta() = mapper.readTree(new File(table, "metadata").listFiles()
      .filter(_.getName.endsWith(".metadata.json"))
      .maxBy(_.getName.stripPrefix("v").takeWhile(_.isDigit).toLong))
    def register(): Unit = {
      IcebergStats.writeStats(spark, table, Seq("id"))
      IcebergStats.writePartitionStats(spark, table)
      assert(IcebergStats.ndv(table, "id").isDefined)
      assert(IcebergStats.partitionStats(spark, table).isDefined)
    }
    register()
    val verbs: Seq[(String, () => Any)] = Seq(
      "append" -> (() => IcebergSink.write(rows(31, 40), table, IcebergSink.Append)),
      "overwrite" -> (() => IcebergSink.write(rows(1, 40), table, IcebergSink.Overwrite)),
      "compact" -> (() => IcebergSink.compact(spark, table)),
      "deleteWhereDV" -> (() => IcebergSink.deleteWhereDV(spark, table, "id <= 2")),
      "upsert" -> (() => IcebergSink.upsert(spark, table,
        Seq((5L, "g2", 1.0)).toDF("id", "g", "v"), Seq("id"))),
      "rewriteManifests" -> (() => assert(IcebergSink.rewriteManifests(table)._2 == 1)))
    verbs.foreach { case (verb, run) =>
      val before = IcebergSink.snapshots(table).size
      run()
      assert(IcebergSink.snapshots(table).size == before + 1, verb)
      val m = meta()
      assert(m.path("statistics").size() == 1, verb)
      assert(m.path("partition-statistics").size() == 1, verb)
      assert(m.path("refs").has("pinned"), verb)
      assert(m.path("properties").path("graft.converted-from").asText() == "delta", verb)
      // a carried registration never answers for the snapshot that moved past it
      assert(IcebergStats.ndv(table, "id").isEmpty, verb)
      assert(IcebergStats.partitionStats(spark, table).isEmpty, verb)
      register()
    }
    // expiring the snapshot a registration was computed at takes the
    // registration and its file with it
    val files = Seq("statistics", "partition-statistics")
      .map(k => new File(table, meta().path(k).get(0).get("statistics-path").asText()))
    assert(files.forall(_.exists()))
    IcebergSink.write(rows(41, 45), table, IcebergSink.Append)
    IcebergSink.expireSnapshots(table, keepLast = 1)
    val m = meta()
    assert(m.path("statistics").size() == 0 && m.path("partition-statistics").size() == 0)
    assert(!files.exists(_.exists()))
    assert(m.path("refs").has("pinned"))
    register()
  }

  test("Delta change feed keeps partition values on commits without change files") {
    val s = spark
    import s.implicits._
    val table = tmp()
    IcebergSink.write((1L to 30L).map(i => (i, s"g${i % 3}", i * 0.5)).toDF("id", "lang", "v"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("lang"))
    DeltaSink.convertFromIceberg(spark, table)
    val all = DeltaSink.readCdf(spark, table, -1)
    assert(all.count() == 30)
    assert(all.filter(col("lang").isNull).count() == 0)
    assert(all.groupBy("lang").count().as[(String, Long)].collect().toMap ==
      Map("g0" -> 10L, "g1" -> 10L, "g2" -> 10L))
    DeltaSink.deleteWhere(spark, table, "id % 10 = 1", changeDataFeed = false)
    val v = DeltaSink.latestVersion(table)
    val changed = DeltaSink.readCdf(spark, table, v - 1, v)
    assert(changed.filter(col("_change_type") === "delete").count() > 0)
    assert(changed.filter(col("lang").isNull).count() == 0)
    // the delete images are the deleted rows' files' rows, each in its partition
    assert(changed.filter(col("_change_type") === "delete" && col("id") % 10 === 1)
      .select("lang").as[String].collect().toSet == Set("g0", "g1", "g2"))
  }

  test("Iceberg delete manifests carry the table's default partition spec") {
    val s = spark
    import s.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d 09:00:00")
    val table = tmp() + "/tbl"
    IcebergSink.write(Seq((1L, "en", ts(1)), (2L, "de", ts(2))).toDF("id", "lang", "ts"),
      table, IcebergSink.CreateExclusive, partitionBy = Seq("lang"))
    // spec 0 = identity(lang) field 1000; spec 1 = day(ts) field 1001
    IcebergSink.evolvePartition(table, Seq("day(ts)"))
    IcebergSink.write(Seq((3L, "en", ts(3))).toDF("id", "lang", "ts"), table,
      IcebergSink.Append)
    assert(IcebergSink.deleteWhere(spark, table, "id = 3") == 1L)
    val deletes = IcebergSink.metaTable(spark, table, "manifests")
      .filter(col("content") === 1).select("path", "partition_spec_id")
      .as[(String, Int)].collect().toSeq
    assert(deletes.map(_._2) == Seq(1))
    val m = graft.sinks.IcebergAvro.readManifest(new File(deletes.head._1))
    assert(m.specId == 1 && m.specJson.contains("\"field-id\":1001"))
    assert(m.partitionFields.map(f => (f.name, f.fieldId)) == Seq(("ts_day", 1001)))
    assert(IcebergSink.read(spark, table).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The parsed actions of Delta log version `v`, in file order. */
  private def logActions(table: String, v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] =
    Files.readAllLines(Paths.get(table, "_delta_log", f"$v%020d.json")).asScala.toSeq
      .map(json.readTree)

  test("Delta protocol rule: legacy pairs while they suffice, else writer 7 listing every active feature") {
    val s = spark
    import s.implicits._
    def lastProtocol(table: String) = (0L to DeltaSink.latestVersion(table)).reverseIterator
      .flatMap(v => logActions(table, v).flatMap(n => Option(n.get("protocol")))).next()
    def versions(p: com.fasterxml.jackson.databind.JsonNode) =
      (p.get("minReaderVersion").asInt, p.get("minWriterVersion").asInt)
    def features(p: com.fasterxml.jackson.databind.JsonNode, key: String) =
      p.get(key).elements().asScala.map(_.asText).toSet
    def rows() = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    // generated columns sit on legacy (1,4); table statistics need
    // domainMetadata, which has no legacy pair: writer 7 then lists both,
    // and a reader-1 protocol carries no readerFeatures list
    val gen = tmp()
    assert(DeltaSink.writeGenerated(rows(), gen, Map("w" -> "v * 2")))
    assert(versions(lastProtocol(gen)) == ((1, 4)))
    DeltaSink.writeStats(spark, gen, Seq("id"))
    val p1 = lastProtocol(gen)
    assert(versions(p1) == ((1, 7)))
    assert(features(p1, "writerFeatures") == Set("domainMetadata", "generatedColumns"))
    assert(!p1.has("readerFeatures"), p1.toString)
    // a CHECK constraint sits on legacy (1,3); deletion vectors are a
    // reader feature, so the bump goes to (3,7) and keeps checkConstraints
    val cc = tmp()
    assert(DeltaSink.write(rows(), cc))
    DeltaSink.addCheckConstraint(spark, cc, "v_pos", "v > 0")
    assert(versions(lastProtocol(cc)) == ((1, 3)))
    DeltaSink.deleteWhereDV(spark, cc, "id = 1")
    val p2 = lastProtocol(cc)
    assert(versions(p2) == ((3, 7)))
    assert(features(p2, "writerFeatures") == Set("checkConstraints", "deletionVectors"))
    assert(features(p2, "readerFeatures") == Set("deletionVectors"))
    // in-commit timestamps are a writer-only feature
    val ict = tmp()
    assert(DeltaSink.write(rows(), ict))
    DeltaSink.enableInCommitTimestamps(spark, ict)
    val p3 = lastProtocol(ict)
    assert(versions(p3) == ((1, 7)))
    assert(features(p3, "writerFeatures") == Set("inCommitTimestamp"))
    assert(!p3.has("readerFeatures"), p3.toString)
    // column mapping stays on its legacy pair; a covered feature writes no
    // protocol action
    val cm = tmp()
    assert(DeltaSink.write(rows(), cm))
    DeltaSink.renameColumn(spark, cm, "v", "value")
    assert(versions(lastProtocol(cm)) == ((2, 5)))
    DeltaSink.renameColumn(spark, cm, "value", "val")
    assert(!logActions(cm, DeltaSink.latestVersion(cm)).exists(_.has("protocol")))
  }

  test("Delta commitInfo names every version's operation; its metrics match the log and the census") {
    val s = spark
    import s.implicits._
    type J = com.fasterxml.jackson.databind.JsonNode
    def info(table: String, v: Long): J = {
      val first = logActions(table, v).head
      assert(first.has("commitInfo"), s"version $v must lead with commitInfo: $first")
      first.get("commitInfo")
    }
    def census(table: String): Long = DeltaSink.read(spark, table).count()
    // version v's operation, and its file metrics against its own actions
    // (a removed file is priced by the add that brought it)
    def check(table: String, v: Long, op: String): Map[String, Long] = {
      val i = info(table, v)
      assert(i.get("operation").asText == op, i.toString)
      assert(i.has("timestamp") && i.has("operationParameters"), i.toString)
      val m = i.get("operationMetrics").properties().asScala
        .map(e => e.getKey -> e.getValue.asText.toLong).toMap
      assert(!m.contains("numRecords"))
      val acts = logActions(table, v)
      def of(kind: String) = acts.flatMap(n => Option(n.get(kind)))
      val (adds, removes) = (of("add"), of("remove"))
      val addBytes = adds.map(_.get("size").asLong).sum
      if (removes.isEmpty && !adds.exists(_.has("deletionVector"))) {
        assert(m("numFiles") == adds.size && m("numOutputBytes") == addBytes, m)
        assert(m("numOutputRows") == adds.map(a =>
          json.readTree(a.get("stats").asText).get("numRecords").asLong).sum, m)
      } else {
        val sizes = (0L until v).flatMap(logActions(table, _)).flatMap(n => Option(n.get("add")))
          .map(a => a.get("path").asText -> a.get("size").asLong).toMap
        assert(m("numAddedFiles") == adds.size && m("numAddedBytes") == addBytes, m)
        assert(m("numRemovedFiles") == removes.size, m)
        assert(m("numRemovedBytes") == removes.map(r => sizes(r.get("path").asText)).sum, m)
        assert(m.getOrElse("numDeletionVectorsAdded", 0L) ==
          adds.count(_.has("deletionVector")), m)
      }
      assert(m.getOrElse("numAddedChangeFiles", 0L) == of("cdc").size, m)
      m
    }
    val table = tmp()
    // the verb, then its version's checked metrics and the rows it removed
    def step(op: String)(verb: => Unit): (Map[String, Long], Long) = {
      val before = census(table)
      verb
      (check(table, DeltaSink.latestVersion(table), op), before - census(table))
    }
    val base = (1 to 100).map(i => (i.toLong, i % 7, i.toDouble)).toDF("id", "g", "v")
    assert(DeltaSink.write(base.coalesce(2), table))
    assert(info(table, 0).get("operation").asText == "CREATE TABLE")
    assert(check(table, 1, "WRITE")("numOutputRows") == census(table))
    assert(info(table, 1).get("operationParameters").get("mode").asText == "ErrorIfExists")
    val (appended, a) = step("WRITE") {
      DeltaSink.append((101 to 120).map(i => (i.toLong, i % 7, i.toDouble))
        .toDF("id", "g", "v"), table)
    }
    assert(appended("numOutputRows") == 20L && a == -20L)
    val (deleted, d) = step("DELETE")(DeltaSink.deleteWhere(spark, table, "id % 10 = 0"))
    assert(deleted("numDeletedRows") == 12L && d == 12L)
    assert(info(table, DeltaSink.latestVersion(table)).get("operationParameters")
      .get("predicate").asText == "id % 10 = 0")
    val (dvDeleted, dd) = step("DELETE")(DeltaSink.deleteWhereDV(spark, table, "id % 10 = 1"))
    assert(dvDeleted("numDeletedRows") == 12L && dd == 12L)
    assert(dvDeleted("numDeletionVectorsAdded") > 0)
    val (updated, u) = step("UPDATE") {
      DeltaSink.updateWhere(spark, table, "id % 10 = 2", Map("v" -> "-1.0"))
    }
    assert(u == 0L && updated("numUpdatedRows") ==
      DeltaSink.read(spark, table).filter(col("v") === -1.0).count())
    var merged = (0, 0, 0)
    val (mergeM, mg) = step("MERGE") {
      merged = DeltaSink.merge(spark, table,
        Seq((3L, 3, 30.0), (500L, 3, 5.0)).toDF("id", "g", "v"), Seq("id"))
    }
    assert(mg == -1L && mergeM("numRemovedFiles") == merged._1 &&
      mergeM("numAddedFiles") == merged._3)
    var compacted = (0, 0)
    val (optimized, o) = step("OPTIMIZE") { compacted = DeltaSink.compact(spark, table) }
    assert(o == 0L && optimized("numRemovedFiles") == compacted._1 &&
      optimized("numAddedFiles") == compacted._2)
    val clone = tmp()
    val cloned = DeltaSink.cloneTable(spark, table, clone)
    assert(info(clone, 0).get("operation").asText == "CLONE")
    val cm = check(clone, 1, "CLONE")
    assert(cm("numFiles") == cloned && cm("numOutputRows") == census(clone))
    var restored = (0, 0)
    val (restoreM, _) = step("RESTORE") { restored = DeltaSink.restore(spark, table, 1L) }
    assert(restoreM("numAddedFiles") == restored._1 &&
      restoreM("numRemovedFiles") == restored._2 && census(table) == 100L)
  }
}
