package perfbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, xxhash64}

/** Seeded Postgres COPY BINARY encoder over the reference fixture's
  * 14-type column set. Stream `s` holds `rows` tuples whose values are a
  * pure function of (seed, s, row), so the same seed gives byte-identical
  * streams. Stream 0 opens with the all-NULL row (only the key set) and the
  * `numeric(8,3)` edge values; elsewhere every nullable field is NULL one
  * time in 50.
  */
final case class CopyGen(seed: Long, streams: Int, rows: Int) {
  import CopyGen._

  /** The row's 14 values as the Spark external types the decoder yields;
    * null for NULL.
    */
  def values(stream: Int, i: Int, rnd: SplittableRandom): Array[Any] = {
    val id = stream.toLong * rows + i
    val v = new Array[Any](Cols.size)
    v(0) = id
    if (stream == 0 && i == 0) return v
    def maybe(x: => Any): Any = if (rnd.nextInt(50) == 0) null else x
    v(1) = maybe(rnd.nextBoolean())
    v(2) = maybe(rnd.nextInt(256).-(128).toByte)
    v(3) = maybe(rnd.nextInt(65536).-(32768).toShort)
    v(4) = maybe(rnd.nextInt())
    v(5) = maybe(rnd.nextLong())
    v(6) = maybe((rnd.nextInt(2000000) - 1000000) / 64.0f)
    v(7) = maybe(rnd.nextDouble() * 2e6 - 1e6)
    v(8) = maybe(ntz(Epoch2024Micros + rnd.nextLong(-TenYearsMicros, TenYearsMicros)))
    v(9) = maybe(tz(Epoch2024Micros + rnd.nextLong(-TenYearsMicros, TenYearsMicros)))
    v(10) = maybe(LocalDate.ofEpochDay(Epoch2024Days + rnd.nextInt(-3650, 3650)))
    val edge = if (stream == 0 && i <= NumericEdges.size) Some(NumericEdges(i - 1)) else None
    v(11) = edge.map(u => java.math.BigDecimal.valueOf(u, 3))
      .getOrElse(maybe(java.math.BigDecimal.valueOf(rnd.nextLong(-99999999L, 100000000L), 3)))
    v(12) = maybe {
      val n = rnd.nextInt(25)
      val sb = new StringBuilder
      (0 until n).foreach(_ => sb += TextAlphabet.charAt(rnd.nextInt(TextAlphabet.length)))
      sb.toString
    }
    v(13) = maybe {
      val b = new Array[Byte](rnd.nextInt(17))
      rnd.nextBytes(b)
      b
    }
    v
  }

  def rowsOf(stream: Int): Iterator[Array[Any]] = {
    val rnd = new SplittableRandom(seed * 1000003L + stream)
    Iterator.range(0, rows).map(i => values(stream, i, rnd))
  }

  /** Writes stream `s` to `dir/stream-s.copy`; returns the paths. */
  def writeAll(dir: Path): Seq[String] = (0 until streams).map { s =>
    val p = dir.resolve(s"stream-$s.copy")
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(p.toFile), 1 << 16))
    try {
      out.write(Signature)
      out.writeInt(0)
      out.writeInt(0)
      rowsOf(s).foreach { v =>
        out.writeShort(Cols.size)
        v.zipWithIndex.foreach { case (x, c) => writeField(out, Cols(c)._2, x) }
      }
      out.writeShort(-1)
    } finally out.close()
    p.toString
  }

  /** The generated rows as a DataFrame built without the program's decoder:
    * the reference side of the load's checksum check.
    */
  def expected(spark: SparkSession): DataFrame = {
    val gen = this
    val rdd = spark.sparkContext.parallelize(0 until streams, streams)
      .flatMap(s => gen.rowsOf(s).map(v => Row.fromSeq(v.toSeq)))
    spark.createDataFrame(rdd, graft.sources.PgTypeMapping.toSchema(Cols))
  }
}

object CopyGen {
  val Cols: Seq[(String, String, Int)] = Seq(
    ("id", "int8", -1), ("cbool", "bool", -1), ("cchar", "char", -1),
    ("cint2", "int2", -1), ("cint4", "int4", -1), ("cint8", "int8", -1),
    ("cfloat4", "float4", -1), ("cfloat8", "float8", -1),
    ("ctimestamp", "timestamp", -1), ("ctimestamptz", "timestamptz", -1),
    ("cdate", "date", -1), ("cnumeric", "numeric", ((8 << 16) | 3) + 4),
    ("ctext", "text", -1), ("cbytea", "bytea", -1))

  val Signature: Array[Byte] =
    Array('P', 'G', 'C', 'O', 'P', 'Y', '\n', 0xFF, '\r', '\n', 0x00).map(_.toByte)

  /** Unscaled `numeric(8,3)` edges: zero, ±0.001, base-10000 group
    * boundaries, and ±99999.999.
    */
  val NumericEdges: Seq[Long] =
    Seq(0L, 1L, -1L, 9999L, 10000L, 10000000L, 99999999L, -99999999L, 123456L, -10L)

  private val TextAlphabet = "abcdefghijklmnopqrstuvwxyz ABCXYZ0123456789-_éüß日本語"
  private val Epoch2024Micros = 1704067200000000L
  private val Epoch2024Days = 19723L
  private val TenYearsMicros = 3650L * 86400L * 1000000L
  private val J2000Micros = 946684800000000L
  private val J2000Days = 10957

  private def ntz(us: Long) = LocalDateTime.ofEpochSecond(
    Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt, ZoneOffset.UTC)
  private def tz(us: Long) =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000)

  private def micros(t: LocalDateTime): Long = {
    val i = t.toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def writeField(out: DataOutputStream, pgType: String, v: Any): Unit = {
    if (v == null) { out.writeInt(-1); return }
    pgType match {
      case "bool" => out.writeInt(1); out.writeByte(if (v.asInstanceOf[Boolean]) 1 else 0)
      case "char" => out.writeInt(1); out.writeByte(v.asInstanceOf[Byte].toInt)
      case "int2" => out.writeInt(2); out.writeShort(v.asInstanceOf[Short].toInt)
      case "int4" => out.writeInt(4); out.writeInt(v.asInstanceOf[Int])
      case "int8" => out.writeInt(8); out.writeLong(v.asInstanceOf[Long])
      case "float4" => out.writeInt(4); out.writeFloat(v.asInstanceOf[Float])
      case "float8" => out.writeInt(8); out.writeDouble(v.asInstanceOf[Double])
      case "timestamp" => out.writeInt(8); out.writeLong(micros(v.asInstanceOf[LocalDateTime]) - J2000Micros)
      case "timestamptz" =>
        val i = v.asInstanceOf[Instant]
        out.writeInt(8); out.writeLong(i.getEpochSecond * 1000000L + i.getNano / 1000 - J2000Micros)
      case "date" => out.writeInt(4); out.writeInt((v.asInstanceOf[LocalDate].toEpochDay - J2000Days).toInt)
      case "numeric" => val b = numeric(v.asInstanceOf[java.math.BigDecimal]); out.writeInt(b.length); out.write(b)
      case "text" => val b = v.asInstanceOf[String].getBytes(StandardCharsets.UTF_8); out.writeInt(b.length); out.write(b)
      case "bytea" => val b = v.asInstanceOf[Array[Byte]]; out.writeInt(b.length); out.write(b)
    }
  }

  /** PG binary numeric: ndigits, weight, sign, dscale, then base-10000
    * digit groups, most significant first, for a value of scale ≤ 4.
    */
  def numeric(d: java.math.BigDecimal): Array[Byte] = {
    val scale = d.scale
    require(scale >= 0 && scale <= 4, s"scale $scale")
    val abs = d.unscaledValue.abs.longValueExact
    val pow = math.pow(10, scale).toLong
    val (intPart, frac) = (abs / pow, (abs % pow) * math.pow(10, 4 - scale).toLong)
    var groups = List.empty[Int]
    var x = intPart
    while (x > 0) { groups = (x % 10000).toInt :: groups; x /= 10000 }
    val weight = groups.size - 1
    val digits0 = (groups :+ frac.toInt).dropWhile(_ == 0)
    val lead = (groups :+ frac.toInt).size - digits0.size
    val digits = digits0.reverse.dropWhile(_ == 0).reverse
    val bb = java.nio.ByteBuffer.allocate(8 + 2 * digits.size)
    bb.putShort(digits.size.toShort)
    bb.putShort((if (digits.isEmpty) 0 else weight - lead).toShort)
    bb.putShort((if (d.signum < 0) 0x4000 else 0).toShort)
    bb.putShort(scale.toShort)
    digits.foreach(g => bb.putShort(g.toShort))
    bb.array()
  }

  /** count and xor-of-xxhash64 per column: the load's table checksum. */
  def checksum(df: DataFrame): Seq[Any] = {
    val agg = Cols.flatMap { case (c, _, _) => Seq(count(col(c)), bit_xor(xxhash64(col(c)))) }
    df.agg(agg.head, agg.tail: _*).head().toSeq
  }
}
