package graft

import java.io.File

import graft.sinks.{IcebergSink, IcebergTransforms}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Iceberg bucket-transform faithfulness: the spec's published Appendix B
  * test vectors pin the murmur3 value hashing (so our buckets and an
  * external Iceberg reader's buckets agree — interoperable pruning), and a
  * bucketed write/read exercises the layout, spec JSON, manifest values
  * and append continuity.
  */
class IcebergTransformSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("bucket hashing matches the Iceberg spec's published test vectors") {
    // Iceberg spec, Appendix B "32-bit Hash Requirements"
    assert(IcebergTransforms.hashLong(34L) == 2017239379, "int/long 34")
    assert(IcebergTransforms.hashString("iceberg") == 1210000089, "string")
    val dateDays = java.time.LocalDate.of(2017, 11, 16).toEpochDay
    assert(IcebergTransforms.hashLong(dateDays) == -653330422, "date 2017-11-16")
    val micros = java.time.LocalDateTime.of(2017, 11, 16, 22, 31, 8)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    assert(IcebergTransforms.hashLong(micros) == -2047944441,
      "timestamp 2017-11-16T22:31:08")
    // ints widen to longs before hashing (spec: bucket(34:int)==bucket(34:long))
    assert(IcebergTransforms.hashLong(34) == IcebergTransforms.hashLong(34L))
  }

  test("spec parsing: CLI top-level split, typo rejection, zero-width rejection (r8)") {
    // --partition-by keeps transform-argument commas intact
    assert(Cli.splitSpecs("bucket(4,id),day(ts),lang") ==
      Seq("bucket(4,id)", "day(ts)", "lang"))
    assert(Cli.splitSpecs("truncate(10, name )") == Seq("truncate(10, name )"))
    // a paren that matches no transform fails fast instead of silently
    // identity-partitioning on a column named "DAY(ts)"
    val table = java.nio.file.Files.createTempDirectory("graft-ib-bad").toString + "/t"
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a")).toDF("id", "name")
    val e1 = intercept[IllegalArgumentException] {
      IcebergSink.write(df, table, IcebergSink.CreateExclusive,
        partitionBy = Seq("DAY(id)"))
    }
    assert(e1.getMessage.contains("unrecognized partition transform"))
    // truncate(0,...) would null every partition value — rejected
    val e2 = intercept[IllegalArgumentException] {
      IcebergSink.write(df, table, IcebergSink.CreateExclusive,
        partitionBy = Seq("truncate(0,id)"))
    }
    assert(e2.getMessage.contains("truncate width"))
    // a derived-name collision with a real data column is refused, not
    // silently overwritten
    val dfClash = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Date.valueOf("2024-01-01"))).toDF("id", "ts", "ts_day")
    val e3 = intercept[IllegalArgumentException] {
      IcebergSink.write(dfClash, table, IcebergSink.CreateExclusive,
        partitionBy = Seq("day(ts)"))
    }
    assert(e3.getMessage.contains("already exists"))
  }

  test("bucketExpr evaluates the spec hash per row and respects nulls") {
    val s = spark
    import s.implicits._
    val df = Seq(Some(34L), None, Some(0L)).toDF("v")
    val rows = df.select(IcebergTransforms.bucketExpr(col("v"), 16).as("b")).collect()
    assert(rows(0).getInt(0) == IcebergTransforms.bucketOfHash(2017239379, 16))
    assert(rows(1).isNullAt(0))
    val sRows = Seq("iceberg").toDF("s")
      .select(IcebergTransforms.bucketExpr(col("s"), 7).as("b")).collect()
    assert(sRows(0).getInt(0) == IcebergTransforms.bucketOfHash(1210000089, 7))
  }

  test("month(ts) hidden partitioning: ordinals, layout, read-back (r8)") {
    val s = spark
    import s.implicits._
    def ts(m: Int, d: Int) = java.sql.Timestamp.valueOf(f"2024-$m%02d-$d%02d 10:00:00")
    val df = Seq((1L, ts(1, 5)), (2L, ts(1, 20)), (3L, ts(2, 1)), (4L, ts(12, 31)))
      .toDF("id", "ts")
    val table = java.nio.file.Files
      .createTempDirectory("graft-iceberg-month").toString + "/tbl"
    IcebergSink.write(df, table, IcebergSink.CreateExclusive,
      partitionBy = Seq("month(ts)"))
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(table, "metadata", "v0.metadata.json"))
    assert(meta.contains("\"transform\":\"month\""))
    val manifestFile = new File(table, "metadata").listFiles()
      .filter(f => f.getName.startsWith("manifest-") && !f.getName.startsWith("manifest-list"))
      .head
    val parts = graft.sinks.IcebergAvro.readManifest(manifestFile)
      .entries.map(e => (e.path, e.pvals))
    // Iceberg month ordinal = months since 1970-01: 2024-01 → 648
    assert(parts.map(_._2("ts_month").asInstanceOf[Int]).toSet ==
      Set(648, 649, 659))
    val back = IcebergSink.read(spark, table)
    assert(back.columns.toSeq == Seq("id", "ts"))
    assert(back.count() == 4)
    // append adopts month(ts)
    IcebergSink.write(Seq((5L, ts(1, 9))).toDF("id", "ts"), table, IcebergSink.Append)
    assert(IcebergSink.read(spark, table).count() == 5)
  }

  test("hour(ts) and truncate(10,id) hidden partitioning round-trip (r8)") {
    val s = spark
    import s.implicits._
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val dfH = Seq((1L, ts(0, 10)), (2L, ts(0, 50)), (3L, ts(5, 0))).toDF("id", "ts")
    val tH = java.nio.file.Files.createTempDirectory("graft-ib-hour").toString + "/t"
    IcebergSink.write(dfH, tH, IcebergSink.CreateExclusive, partitionBy = Seq("hour(ts)"))
    val mH = new File(tH, "metadata").listFiles()
      .filter(f => f.getName.startsWith("manifest-") && !f.getName.startsWith("manifest-list")).head
    val hours = graft.sinks.IcebergAvro.readManifest(mH)
      .entries.map(e => (e.path, e.pvals))
      .map(_._2("ts_hour").asInstanceOf[Int]).toSet
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) / 3600
    assert(hours == Set(base.toInt, base.toInt + 5))
    assert(IcebergSink.read(spark, tH).count() == 3)

    val dfT = Seq((1L, "alpha"), (17L, "alphabetical"), (23L, "beta")).toDF("id", "name")
    val tT = java.nio.file.Files.createTempDirectory("graft-ib-trunc").toString + "/t"
    IcebergSink.write(dfT, tT, IcebergSink.CreateExclusive,
      partitionBy = Seq("truncate(10,id)", "truncate(4,name)"))
    val mT = new File(tT, "metadata").listFiles()
      .filter(f => f.getName.startsWith("manifest-") && !f.getName.startsWith("manifest-list")).head
    val pvals = graft.sinks.IcebergAvro.readManifest(mT)
      .entries.map(_.pvals)
    // long truncation floors to the bucket base; strings cut to 4 chars
    assert(pvals.map(p => (p("id_trunc"), p("name_trunc"))).toSet ==
      Set((0L, "alph"), (10L, "alph"), (20L, "beta")))
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(tT, "metadata", "v0.metadata.json"))
    assert(meta.contains("\"transform\":\"truncate[10]\""))
    assert(IcebergSink.read(spark, tT).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 17L, 23L))
  }

  test("bucket(4,id)-partitioned Iceberg table: layout, spec, manifests, append (r8)") {
    val s = spark
    import s.implicits._
    val df = (1L to 40L).map(i => (i, s"row$i", i * 1.5)).toDF("id", "name", "v")
    val table = java.nio.file.Files.createTempDirectory("graft-iceberg-bucket").toString + "/tbl"
    IcebergSink.write(df, table, IcebergSink.CreateExclusive,
      partitionBy = Seq("bucket(4,id)"))
    // staging layout: id_bucket=<0..3> dirs
    val dataDirs = new File(table, "data").listFiles().filter(_.isDirectory)
    val partDirs = dataDirs.flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName)
    assert(partDirs.forall(_.startsWith("id_bucket=")), partDirs.mkString(","))
    assert(partDirs.length > 1, "40 ids must spread over >1 of 4 buckets")
    // the spec records the Iceberg transform string against the source col
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(table, "metadata", "v0.metadata.json"))
    assert(meta.contains("\"transform\":\"bucket[4]\""))
    assert(meta.contains("\"name\":\"id_bucket\""))
    // manifest values agree with the spec hash, per file
    val manifestFile = new File(table, "metadata").listFiles()
      .filter(f => f.getName.startsWith("manifest-") && !f.getName.startsWith("manifest-list"))
      .head
    val parts = graft.sinks.IcebergAvro.readManifest(manifestFile)
      .entries.map(e => (e.path, e.pvals))
    assert(parts.nonEmpty)
    parts.foreach { case (path, pvals) =>
      val b = pvals("id_bucket").asInstanceOf[Int]
      val ids = spark.read.parquet(path).select("id").collect().map(_.getLong(0))
      ids.foreach { id =>
        assert(IcebergTransforms.bucketOfHash(IcebergTransforms.hashLong(id), 4) == b,
          s"id $id in bucket-$b file")
      }
    }
    // hidden: schema keeps (id, name, v); read-back is the written frame
    val back = IcebergSink.read(spark, table)
    assert(back.columns.toSeq == Seq("id", "name", "v"))
    assert(back.count() == 40)
    // append adopts bucket(4,id); a conflicting spec is refused
    IcebergSink.write(Seq((41L, "row41", 1.0)).toDF("id", "name", "v"),
      table, IcebergSink.Append)
    assert(IcebergSink.read(spark, table).count() == 41)
    val e = intercept[IllegalStateException] {
      IcebergSink.write(Seq((42L, "x", 1.0)).toDF("id", "name", "v"),
        table, IcebergSink.Append, partitionBy = Seq("bucket(8,id)"))
    }
    assert(e.getMessage.contains("partition spec mismatch"))
    // a COSMETIC variant of the identical spec ("bucket(4, id)" with a
    // space) is the same parsed (source, transform) pair — accepted (r9)
    IcebergSink.write(Seq((42L, "row42", 2.0)).toDF("id", "name", "v"),
      table, IcebergSink.Append, partitionBy = Seq("bucket(4, id)"))
    assert(IcebergSink.read(spark, table).count() == 42)
  }

  test("readDays on a day(datecol)-partitioned DATE-typed table prunes and filters (r9)") {
    val s = spark
    import s.implicits._
    // day() on DateType: the write path uses the date column itself as the
    // derived partition; readDays must re-filter via epochDay (datediff),
    // not an (invalid-for-DateType) double cast
    val df = (0 until 20).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(i / 2)))
    }.toDF("id", "d")
    val table = java.nio.file.Files.createTempDirectory("graft-iceberg-datep").toString + "/tbl"
    IcebergSink.write(df, table, IcebergSink.CreateExclusive,
      partitionBy = Seq("day(d)"))
    val (pruned, scanned, total) = IcebergSink.readDays(spark, table, "d",
      java.time.LocalDate.of(2024, 3, 3), java.time.LocalDate.of(2024, 3, 6))
    assert(pruned.count() == 6, "3 days x 2 rows")
    assert(scanned < total, s"pruning must skip files ($scanned of $total scanned)")
    val days = pruned.select("d").collect().map(_.getDate(0).toLocalDate).distinct.sorted
    assert(days.head == java.time.LocalDate.of(2024, 3, 3))
    assert(days.last == java.time.LocalDate.of(2024, 3, 5))
  }
}
