package graft.sinks

import java.io.File
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The per-row (file, position) plane of deletion vectors, shared by
  * [[DeltaSink]] and [[IcebergSink]]. Delta deletion vectors and Iceberg
  * v3 `deletion-vector-v1` blobs carry the same bitmap in the same
  * `[size][portable roaring][CRC]` framing; only the container differs (a
  * multi-DV sidecar with a base85 descriptor vs a Puffin file with a
  * delete manifest). Each sink keeps its container packer, its
  * descriptors-to-log step and its commit; this object owns the rest:
  *
  *  - path keys: how a row's `_metadata.file_path` (a Hadoop-rendered URI)
  *    meets the raw path the log or manifest stores;
  *  - the bitmap build: (file, position) rows to one fresh bitmap per file;
  *  - the sharded publish of packed containers, from tasks or the driver;
  *  - the merged read: rows minus what the live vectors delete.
  */
private[sinks] object DvPlane {

  /** The reader's per-row file URI and row index, as every lineage read
    * names them.
    */
  val UriCol = "_gf_uri"
  val PosCol = "_gf_pos"

  private val Scheme = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"

  /** Strips any URI scheme, so the reader's `file:///x` compares equal to
    * the log's `/x`.
    */
  def stripScheme(p: String): String = p.replaceFirst(Scheme, "/")

  def stripScheme(c: Column): Column =
    org.apache.spark.sql.functions.regexp_replace(c, Scheme, "/")

  /** Both keys a data file's rows may arrive under: the raw path and its
    * URI rendering, which percent-encodes characters such as a space or
    * '%' that the log and manifests store raw (deduped when identical).
    */
  def keysOf(path: String): Seq[String] =
    Seq(stripScheme(path), stripScheme(new File(path).toURI.toString)).distinct

  /** Attaches per-file columns to rows by their [[UriCol]]: a broadcast
    * LEFT join on both keys of each file. `files` pairs a file's path
    * with its values for `fields`. A row whose file is in no entry fails
    * the query with `unmapped` + its URI, through a raise_error riding
    * the first field: an inner join would silently drop it, and a null
    * would silently keep it alive.
    */
  def attach(rows: DataFrame, files: Seq[(String, Row)], fields: StructType,
      unmapped: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, concat, lit,
      raise_error, when}
    val lookup = rows.sparkSession.createDataFrame(
      files.flatMap { case (path, vals) =>
        keysOf(path).map(k => Row.fromSeq(k +: vals.toSeq))
      }.asJava,
      StructType(StructField("_gf_fkey", StringType) +: fields.fields))
    val guarded = fields.head.name
    rows.join(broadcast(lookup),
        stripScheme(col(UriCol)) === col("_gf_fkey"), "left")
      .withColumn(guarded, when(col("_gf_fkey").isNull,
        raise_error(concat(lit(unmapped), col(UriCol))))
        .otherwise(col(guarded)))
      .drop("_gf_fkey")
  }

  /** One file's vector in a published shard: the shard's id and length,
    * the blob's offset and size inside it, the vector's cardinality and
    * how many of its positions this write added. The only thing the
    * vector write returns to the driver (never bitmap bytes).
    */
  case class DvDesc(file: String, shard: Int, shardLength: Long,
      offset: Long, size: Long, cardinality: Long, freshCardinality: Long)

  /** Packs one shard: (shard id, each file's fresh bitmap bytes, every
    * file's live vector, byte reader) to (container bytes, descriptors).
    */
  type Packer[O] = (Int, Seq[(String, Array[Byte])], Map[String, O],
    String => Array[Byte]) => (Array[Byte], Seq[DvDesc])

  /** A shard's uuid: the txn uuid ⊕ shard id. Deterministic, so a retried
    * task republishes the same bytes at the same key.
    */
  def shardUuid(txn: java.util.UUID, shard: Int): java.util.UUID =
    new java.util.UUID(txn.getMostSignificantBits,
      txn.getLeastSignificantBits ^ shard.toLong)

  /** Builds and publishes the vectors of `rows` (file, position): a
    * partial bitmap per (partition, file) map-side, so the shuffle
    * carries KB-scale blobs rather than every position, then one OR-merge
    * per file. The touched files shard by path hash,
    * [[DeltaSink.FilesPerDvShard]] to a shard; `pack` merges each with
    * its live vector in `old` and frames the container, published at
    * `shardPath(id)`. With a [[TaskIO]] tasks pack and publish, and a
    * failure sweeps every candidate shard name (absent keys are a no-op).
    * A store without one streams shard-sized chunks through the driver:
    * at most one shard's bitmaps in memory, never the full touched set.
    * Empty when nothing matched. Bitmap OR is order-independent and the
    * packers re-canonicalize from content, so the bytes do not depend on
    * partitioning.
    */
  def write[O](store: CommitStore, rows: DataFrame, old: Map[String, O],
      shardPath: Int => String, pack: Packer[O]): Seq[DvDesc] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val fresh = rows.as[(String, Long)]
      .mapPartitions { it =>
        val D = graft.functions.DeletionVector
        val m = scala.collection.mutable.HashMap
          .empty[String, org.roaringbitmap.longlong.Roaring64Bitmap]
        it.foreach { case (file, pos) =>
          m.getOrElseUpdate(file,
            new org.roaringbitmap.longlong.Roaring64Bitmap).addLong(pos)
        }
        m.iterator.map { case (file, bm) => (file, D.serialize(bm)) }
      }
      .groupByKey(_._1)
      .mapGroups { (file, it) =>
        (file, it.map(_._2).reduce(graft.functions.DeletionVector.merge))
      }
      .persist()
    def sweep(shards: Iterable[Int]): Unit = shards.foreach(i =>
      scala.util.Try(store.deleteObject(Paths.get(shardPath(i)))))
    try {
      val touched = fresh.count()
      if (touched == 0L) return Nil
      val perShard = DeltaSink.FilesPerDvShard
      val shards = math.max(1, ((touched + perShard - 1) / perShard).toInt)
      store.taskIO match {
        case Some(io) =>
          val bOld = spark.sparkContext.broadcast(old)
          try {
            fresh.rdd
              .partitionBy(new org.apache.spark.HashPartitioner(shards))
              .mapPartitionsWithIndex { (i, it) =>
                val entries = it.toVector
                if (entries.isEmpty) Iterator.empty
                else {
                  val (bytes, ds) = pack(i, entries, bOld.value, io.read)
                  io.write(shardPath(i), bytes)
                  ds.iterator
                }
              }.collect().toSeq
          } catch { case e: Throwable =>
            sweep(0 until shards)
            throw e
          } finally bOld.destroy()
        case None =>
          val published = scala.collection.mutable.ArrayBuffer[Int]()
          try {
            fresh.toLocalIterator().asScala.grouped(perShard)
              .zipWithIndex.flatMap { case (chunk, i) =>
                val (bytes, ds) = pack(i, chunk, old,
                  p => store.readObject(Paths.get(p)))
                store.putObject(Paths.get(shardPath(i)), bytes)
                published += i
                ds
              }.toVector
          } catch { case e: Throwable =>
            sweep(published)
            throw e
          }
      }
    } finally fresh.unpersist(): Unit
  }

  /** Content-keyed reuse cache for over-threshold DV broadcasts: without
    * it every read of a large-DV snapshot would mint a fresh multi-MB
    * broadcast at PLAN-BUILD time (several per DML verb) and rely on the
    * driver GC + ContextCleaner to reap them eventually. Eviction
    * unpersists (executors drop the blocks; a straggler plan re-fetches
    * from the driver, so an evicted-but-still-referenced broadcast stays
    * usable — destroy() would fail it).
    */
  private val dvBroadcasts =
    new java.util.LinkedHashMap[String,
        org.apache.spark.broadcast.Broadcast[Array[Byte]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            org.apache.spark.broadcast.Broadcast[Array[Byte]]]): Boolean = {
        val evict = size() > 8
        if (evict) scala.util.Try(e.getValue.unpersist())
        evict
      }
    }

  private def dvBroadcast(spark: org.apache.spark.sql.SparkSession,
      packed: Array[Byte]): org.apache.spark.broadcast.Broadcast[Array[Byte]] =
    dvBroadcasts.synchronized {
      val key = java.security.MessageDigest.getInstance("SHA-256")
        .digest(packed).map("%02x".format(_)).mkString
      Option(dvBroadcasts.get(key)).getOrElse {
        val bc = spark.sparkContext.broadcast(packed)
        dvBroadcasts.put(key, bc)
        bc
      }
    }

  /** The merged view: `rows` minus the positions the live vectors delete.
    * `key` is each row's file key and [[PosCol]] its position; `vectors`
    * gives, per data file, its path, its vector's size by descriptor and
    * the descriptor `decode` turns into serialized Roaring64 bytes. The
    * tier is chosen from descriptor sizes, before a byte is read:
    *
    *  - up to [[DeltaSink.DvBroadcastMaxBytes]] the driver packs every
    *    bitmap into one map probed by ONE native expression, O(1) per row,
    *    never a join: a plan literal, or past
    *    [[DeltaSink.DvLiteralMaxBytes]] a broadcast (a literal serializes
    *    into every task binary, a broadcast ships once per executor);
    *  - past it, with a [[TaskIO]], the driver never materializes bitmap
    *    bytes: tasks decode the vectors, explode them to (key, position)
    *    rows and the deletes apply as a shuffled anti-join, O(deleted rows).
    */
  def applyVectors[V](store: CommitStore, rows: DataFrame, key: Column,
      vectors: Seq[(String, Long, V)],
      decode: (V, String => Array[Byte]) => Array[Byte]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = rows.sparkSession
    store.taskIO match {
      case Some(io) if vectors.map(_._2).sum > DeltaSink.DvBroadcastMaxBytes =>
        import spark.implicits._
        val descs = vectors.map { case (path, _, v) => (keysOf(path), v) }
        val shards = math.max(1, math.min(descs.size,
          spark.sessionState.conf.numShufflePartitions))
        val delRows = spark.sparkContext.parallelize(descs, shards)
          .flatMap { case (keys, v) =>
            val it = graft.functions.DeletionVector
              .deserialize(decode(v, io.read)).getLongIterator
            val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
            while (it.hasNext) { val p = it.next(); keys.foreach(k => out += ((k, p))) }
            out
          }.toDF("_gfd_key", "_gfd_pos")
        rows.join(delRows,
          key === col("_gfd_key") && col(PosCol) === col("_gfd_pos"),
          "left_anti")
      case _ =>
        val D = graft.functions.DeletionVector
        val packed = D.packMap(vectors.flatMap { case (path, _, v) =>
          val bytes = decode(v, p => store.readObject(Paths.get(p)))
          keysOf(path).map(_ -> bytes)
        }.toMap)
        val probe =
          if (packed.length <= DeltaSink.DvLiteralMaxBytes)
            D.dvDeleted(packed, key, col(PosCol))
          else D.dvDeletedBroadcast(dvBroadcast(spark, packed), key, col(PosCol))
        rows.filter(!probe)
    }
  }
}
