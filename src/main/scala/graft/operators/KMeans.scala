package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic Lloyd's k-means over an embedding column — the clustering
  * primitive behind corpus diversity balancing, semantic sharding, and
  * cluster-based dedup/selection in training-data pipelines.
  *
  * Scale posture (100 TB):
  *  - Assignment is a pure map-side projection: the k centroids are closed
  *    over as array LITERALS, so each row computes k codegen'd dot products
  *    ([[graft.functions.VectorExpressions.dot]]) against in-register
  *    constants — no crossJoin row blowup, no shuffle, no UDF.
  *  - The update step aggregates per-(cluster, dimension) partial sums:
  *    one shuffle of k·dim groups with map-side combine, so network cost is
  *    O(partitions · k · dim), independent of corpus size. Only the k·dim
  *    summed coordinates ever reach the driver (the centroid update is
  *    inherently a tiny driver-side reduction; ~5 KB at k=10, dim=64).
  *  - Nearest-centroid uses the standard argmax of (v·c − |c|²/2), which
  *    equals argmin Euclidean distance without materializing |v|².
  *
  * Determinism contract: init is the k lowest-`idCol` vectors (no RNG);
  * per-cluster coordinate sums run in DECIMAL(38,12) — order-independent,
  * unlike double addition — so centroids, and therefore assignments, are
  * bit-identical across partitionings and reruns. Ties in the argmax take
  * the lowest cluster index (array_position finds the first maximum).
  */
object KMeans {

  /** `(idCol, cluster)` after `iters` Lloyd iterations with k clusters.
    * `vecCol` must be array<float|double>; all vectors the same length.
    * An emptied cluster keeps its previous centroid (standard fallback,
    * deterministic).
    */
  def assign(em0: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame =
    assignImpl(em0, idCol, vecCol, k, iters, top2 = false)

  /** Like [[assign]] but also emits `cluster2`, the RUNNER-UP (second
    * nearest) centroid index — the Voronoi-boundary secondary key
    * [[SemDeDup]] sub-splits mega-clusters by. Same determinism contract;
    * with a score tie for the max, the tied cluster is skipped for the
    * runner-up too (masking is by value), and with k = 1 `cluster2 ==
    * cluster`. Still one map-side projection: both argmaxes read the same
    * per-row literal-centroid score array.
    */
  def assignTop2(em0: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame =
    assignImpl(em0, idCol, vecCol, k, iters, top2 = true)

  /** Like [[assign]] but the output also carries `vecCol` — read straight
    * off the algorithm's own materialized (id, vec) working set, so a
    * consumer that needs (id, cluster, vec) — a WCSS pass, a within-cluster
    * pair join — skips the id-keyed join back onto the source (two
    * exchanges + a sort it would otherwise pay; r19, guide §2.4).
    */
  def assignWithVec(em0: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame =
    assignImpl(em0, idCol, vecCol, k, iters, top2 = false, keepVec = true)

  /** [[assignTop2]] + [[assignWithVec]] combined: (id, cluster, cluster2,
    * vec), all map-side over the materialized working set.
    */
  def assignTop2WithVec(em0: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame =
    assignImpl(em0, idCol, vecCol, k, iters, top2 = true, keepVec = true)

  private def assignImpl(em0: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, top2: Boolean, keepVec: Boolean = false): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    val SumDec = DecimalType(38, 12)
    // Null/empty/null-element vectors are EXCLUDED up front (ADVICE r7):
    // unguarded, a null seed element threw MatchError and a null/empty
    // vector nulled every score, so array_position returned 0 and the row
    // silently landed in cluster -1. Rows without a usable vector have no
    // defined cluster; callers wanting them keep-left-join the result.
    val filtered = em0.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0 &&
      forall(col(vecCol), _.isNotNull))
    // r18 (guide §5, §2.3): the frame is consumed iters+2 times (seed
    // scan, one update pass per Lloyd iteration, the final assignment).
    // Project to the two columns the algorithm reads and materialize ONCE
    // (lazy localCheckpoint — the seed collect below is the first action),
    // so every iteration reads cached (id, vec) blocks instead of
    // re-running the source scan + filter. At corpus scale this turns
    // iters+2 parquet passes into one scan + iters+1 block reads — the
    // standard iterative-ML working-set pattern. iters=0 keeps the plain
    // plan (2 passes; a materialization would cost what it saves).
    // Superstep durability (r19, VERDICT r18 item 9 — the same escape
    // hatch Ops.connectedComponents exposes): localCheckpoint blocks die
    // with an executor, so a long 100 TB Lloyd run sets
    // spark.graft.kmeansCheckpointDir and the working set materializes
    // with RELIABLE checkpoint() files instead. Default stays
    // localCheckpoint for short interactive jobs.
    val em = if (iters >= 1) {
      val slim = filtered.select(col(idCol), col(vecCol))
      em0.sparkSession.conf.getOption("spark.graft.kmeansCheckpointDir") match {
        case Some(d) =>
          org.apache.spark.sql.GraftColumnBridge.withCheckpointDir(
            em0.sparkSession.sparkContext, Some(d))(slim.checkpoint(eager = true))
        case None => slim.localCheckpoint(false)
      }
    } else filtered

    var cents: Array[Array[Double]] =
      em.orderBy(idCol).limit(k).select(vecCol).collect()
        .map(_.getSeq[Any](0).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray)
    require(cents.length == k, s"need at least $k rows to seed $k centroids")

    def scores(vec: Column): Column = array(cents.map { c =>
      graft.functions.VectorExpressions.dot(vec, typedLit(c)) -
        lit(c.map(x => x * x).sum / 2.0)
    }.toIndexedSeq: _*)
    def argmax(sc: Column): Column =
      (array_position(sc, array_max(sc)) - 1).cast("int")
    def cluster(vec: Column): Column = argmax(scores(vec))

    for (_ <- 1 to iters) {
      val sums = em
        .select(cluster(col(vecCol)).as("cluster"), posexplode(col(vecCol)))
        .groupBy("cluster", "pos")
        .agg(sum(col("col").cast(SumDec)).as("s"), count(lit(1)).as("c"))
        .collect() // k·dim rows — the centroid table itself, never data
      val byCluster = sums.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, j) =>
        byCluster.get(j).fold(old) { rows =>
          val next = old.clone()
          rows.foreach { r =>
            next(r.getInt(1)) = r.getDecimal(2).doubleValue() / r.getLong(3)
          }
          next
        }
      }
    }
    val tail = if (keepVec) Seq(col(vecCol)) else Nil
    if (!top2)
      em.select(col(idCol) +: cluster(col(vecCol)).as("cluster") +: tail: _*)
    else {
      // mask the best score(s) by VALUE and re-argmax — one shared score
      // array per row, both argmaxes map-side.
      val best = array_max(col("scores"))
      val masked = transform(col("scores"),
        x => when(x === best, lit(Double.NegativeInfinity)).otherwise(x))
      em.select(col(idCol) +: scores(col(vecCol)).as("scores") +: tail: _*)
        .select(col(idCol) +: argmax(col("scores")).as("cluster") +:
          argmax(masked).as("cluster2") +: tail: _*)
    }
  }
}
