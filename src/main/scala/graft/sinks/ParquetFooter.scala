package graft.sinks

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType

import scala.jdk.CollectionConverters._

/** The footer walk both sinks' per-file stats start from: one footer
  * open, no data page read. Each top-level leaf column is merged across
  * row groups with parquet's own merge, in the column's NATIVE order (a
  * string min/max over numeric encodings would order "9" above "10");
  * each format then encodes the merged bounds its own way.
  */
private[sinks] object ParquetFooter {

  /** One top-level leaf column over every row group. `nulls` is set only
    * when every row group records a null count — a partial sum would
    * understate it and let a reader wrongly skip the file on IS NULL
    * (ADVICE r5). `bounds` is None when any row group lacks a non-null
    * min/max: absent bounds mean "never skipped", not "wrongly skipped".
    */
  final case class Column(prim: PrimitiveType, values: Long,
      nulls: Option[Long], bounds: Option[Statistics[_]])

  /** (row count, top-level leaf columns by name) of one parquet file. */
  def read(f: File, conf: Configuration): (Long, Map[String, Column]) = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val cols = scala.collection.mutable.Map.empty[String, Column]
      for (block <- blocks; c <- block.getColumns.asScala
           if c.getPath.toArray.length == 1) {
        val st = c.getStatistics
        val set = st != null && !st.isEmpty
        val nulls = if (set && st.isNumNullsSet) Some(st.getNumNulls) else None
        val bounds = if (set && st.hasNonNullValue) Some(st) else None
        val name = c.getPath.toArray.head
        cols(name) = cols.get(name) match {
          case None =>
            Column(c.getPrimitiveType, c.getValueCount, nulls, bounds.map(_.copy()))
          case Some(acc) =>
            Column(acc.prim, acc.values + c.getValueCount,
              for (a <- acc.nulls; n <- nulls) yield a + n,
              for (a <- acc.bounds; b <- bounds) yield { merge(a, b); a })
        }
      }
      (blocks.map(_.getRowCount).sum, cols.toMap)
    } finally reader.close()
  }

  /** Erasure bridge for parquet's self-comparable Statistics generic. */
  private def merge[T <: Comparable[T]](acc: Statistics[_], s: Statistics[_]): Unit =
    acc.asInstanceOf[Statistics[T]].mergeStatistics(s.asInstanceOf[Statistics[T]])
}
