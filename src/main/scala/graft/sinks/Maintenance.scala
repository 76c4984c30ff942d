package graft.sinks

import org.apache.spark.sql.SparkSession

/** POLICY-DRIVEN table maintenance — the nightly janitor loop every
  * long-lived lakehouse table needs, composed from the individual verbs
  * so each threshold decision is METADATA-ONLY (log stats / manifest
  * counts; nothing is scanned to decide):
  *
  *  - Delta: purge deletion vectors once the masked-row ratio crosses
  *    `dvPurgeRatio` (REORG touches only DV files), bin-pack once the
  *    live-file count exceeds `maxSmallFiles` (OPTIMIZE), then checkpoint
  *    (O(delta) replay for every future reader) and vacuum on the
  *    caller's retention clock.
  *  - Iceberg: merge manifests once the data-manifest count exceeds
  *    `maxManifests` (planning cost O(appends) → O(1)), expire snapshots
  *    past `keepLast` (ref-pinned and policy-retained history survives),
  *    and sweep age-gated orphans.
  *
  * At 100 TB the point is WHAT EACH STEP COSTS: every trigger reads KBs
  * of metadata, and every action's cost is proportional to the debt it
  * retires (DV files, small files, manifests, orphans) — never to the
  * table. Both runners return what they did, and the `*Report` variants
  * additionally return PER-STEP wall-clock (VERDICT r15 item 6: when the
  * composite's cost moves, the decomposition says which verb moved it).
  *
  * COMPACTION vs STREAMING TAILS: an Iceberg data compaction commits a
  * `replace` snapshot; [[IcebergSink.readAppendedBetween]] (and so the
  * `graft-iceberg-tail` source) excludes replace-sequence entries, so a
  * janitor compaction landing BETWEEN a tail's offsets never re-delivers
  * the rewritten table. The Delta tail is safe the same way through the
  * log's `dataChange=false` flag on OPTIMIZE adds. Tails must still
  * consume within the retention window this janitor enforces — expiry/
  * vacuum of a not-yet-consumed snapshot breaks the feed by contract.
  */
object Maintenance {

  /** One maintenance step's outcome: `fired` = its trigger crossed the
    * threshold and the action ran (always-on steps like checkpoint report
    * true); `ms` = wall-clock of the WHOLE step — trigger read plus the
    * action when it fired — so an idle trigger's cost is visible too.
    */
  case class StepTiming(step: String, fired: Boolean, ms: Long)

  private def timed[A](out: scala.collection.mutable.ArrayBuffer[StepTiming],
      step: String)(body: => (Boolean, A)): A = {
    val t0 = System.nanoTime()
    val (fired, a) = body
    out += StepTiming(step, fired, (System.nanoTime() - t0) / 1000000L)
    a
  }

  /** @return (dvPurged, compacted, vacuumedFiles, uniformSynced) —
    * `uniformSynced` is true when the table is dual-format
    * ([[IcebergSink.convertFromDelta]]) and its Iceberg view is CURRENT
    * when this returns (a sync committed, or the planes already agreed):
    * the nightly loop must not leave a UniForm table serving a stale
    * Iceberg plane after compact/vacuum moved the Delta plane. The sync
    * is skipped (false) when the planes cannot sync cleanly by policy —
    * live DVs below the purge threshold, or Iceberg-plane MoR deletes
    * ([[IcebergSink.syncFromDelta]] refuses both).
    */
  def maintainDelta(spark: SparkSession, table: String,
      maxSmallFiles: Int = 64,
      dvPurgeRatio: Double = 0.1,
      vacuumRetentionMs: Long = 7L * 24 * 3600 * 1000,
      store: CommitStore = CommitStore.Local): (Boolean, Boolean, Int, Boolean) =
    maintainDeltaReport(spark, table, maxSmallFiles, dvPurgeRatio,
      vacuumRetentionMs, store)._1

  /** [[maintainDelta]] plus the per-step timing table. */
  def maintainDeltaReport(spark: SparkSession, table: String,
      maxSmallFiles: Int = 64,
      dvPurgeRatio: Double = 0.1,
      vacuumRetentionMs: Long = 7L * 24 * 3600 * 1000,
      store: CommitStore = CommitStore.Local)
      : ((Boolean, Boolean, Int, Boolean), Seq[StepTiming]) = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    val steps = scala.collection.mutable.ArrayBuffer[StepTiming]()
    // one metadata pass answers both triggers: live-file count, physical
    // rows (numRecords) and masked rows (DV cardinality)
    val (nFiles, purge) = timed(steps, "triggers(log-stats)") {
      val stats = DeltaSink.fileStats(spark, table) // num_records is LIVE rows
      // one aggregate answers both triggers (file count + live rows) —
      // the trigger pass is the decomposition's priciest step, and a
      // second job over the same log replay would double it
      val agg = stats.agg(count(lit(1)), coalesce(sum(col("num_records")), lit(0L)))
        .head()
      val nFiles = agg.getLong(0)
      val live = agg.getLong(1)
      val masked = DeltaSink.dvMaskedRows(spark, table)
      val purge = live + masked > 0 &&
        masked.toDouble / (live + masked).toDouble >= dvPurgeRatio
      (false, (nFiles, purge))
    }
    // a ROW-TRACKED table's DV debt retires through compact (the
    // id-materializing rewrite); reorgPurge would break row ids and
    // refuses there by contract
    val rowTracked = DeltaSink.rowTrackingEnabled(spark, table)
    timed(steps, "reorg-purge") {
      if (purge && !rowTracked)
        DeltaSink.reorgPurge(spark, table, store = store): Unit
      (purge && !rowTracked, ())
    }
    val compactNeeded = nFiles > maxSmallFiles || (purge && rowTracked)
    timed(steps, "optimize") {
      if (compactNeeded) DeltaSink.compact(spark, table, store = store): Unit
      (compactNeeded, ())
    }
    // checkpoint keeps the table's checkpoint FLAVOR: a v2-checkpointed
    // table re-checkpoints as v2 — the janitor must never silently
    // downgrade the layout an operator chose
    timed(steps, "checkpoint") {
      DeltaSink.checkpoint(spark, table, store): Unit
      (true, ())
    }
    val vacuumed = timed(steps, "vacuum") {
      (true, DeltaSink.vacuum(spark, table, vacuumRetentionMs, store))
    }
    // UniForm: a dual-format table (Iceberg metadata beside _delta_log)
    // re-syncs its Iceberg view after the Delta plane moved, so the
    // nightly loop never leaves Iceberg readers on pre-compaction files
    // that vacuum is about to reclaim. Metadata-only no-op when the
    // planes already agree.
    val synced = timed(steps, "uniform-sync") {
      val dualFormat = IcebergSink.headOption(table).isDefined
      val synced = dualFormat && {
        val dvRemain = DeltaSink.dvMaskedRows(spark, table) > 0
        val iceDeletes = IcebergSink.metaTable(spark, table, "manifests")
          .filter(col("content") =!= 0).count() > 0
        if (dvRemain || iceDeletes) false
        else { IcebergSink.syncFromDelta(spark, table, store): Unit; true }
      }
      (synced, synced)
    }
    ((purge, compactNeeded, vacuumed, synced), steps.toSeq)
  }

  /** @return (manifestsMerged, snapshotsExpiredFiles, orphansRemoved,
    * dvCompacted) — `dvCompacted` is the V3 deletion-vector debt trigger
    * ([[maintainDelta]]'s dvPurgeRatio twin): once the masked-row ratio
    * crosses `dvCompactRatio`, a compaction materializes the vectors
    * (rewrites the merged view, drops every DV) so reads stop paying the
    * probe and the Puffin files become expirable. The trigger reads
    * manifest record counts only — no Puffin or data file opens.
    */
  def maintainIceberg(spark: SparkSession, table: String,
      maxManifests: Int = 64,
      keepLast: Int = 5,
      orphanAgeMs: Long = 3L * 24 * 3600 * 1000,
      dvCompactRatio: Double = 0.1,
      store: CommitStore = CommitStore.Local): (Boolean, Int, Int, Boolean) =
    maintainIcebergReport(spark, table, maxManifests, keepLast, orphanAgeMs,
      dvCompactRatio, store)._1

  /** [[maintainIceberg]] plus the per-step timing table. */
  def maintainIcebergReport(spark: SparkSession, table: String,
      maxManifests: Int = 64,
      keepLast: Int = 5,
      orphanAgeMs: Long = 3L * 24 * 3600 * 1000,
      dvCompactRatio: Double = 0.1,
      store: CommitStore = CommitStore.Local)
      : ((Boolean, Int, Int, Boolean), Seq[StepTiming]) = {
    val steps = scala.collection.mutable.ArrayBuffer[StepTiming]()
    val dvCompact = timed(steps, "trigger(dv-debt)") {
      val masked = IcebergSink.dvMaskedRows(table)
      val fire = masked > 0 && {
        // fileStats' num_records is LIVE rows (DV-adjusted) — the ratio
        // denominator is physical rows, same as maintainDelta's
        val live = IcebergSink.fileStats(spark, table)
          .agg(org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.col("num_records")),
            org.apache.spark.sql.functions.lit(0L))).head().getLong(0)
        live + masked > 0 &&
          masked.toDouble / (live + masked).toDouble >= dvCompactRatio
      }
      (false, fire)
    }
    timed(steps, "dv-compact") {
      if (dvCompact) IcebergSink.compact(spark, table, store): Unit
      (dvCompact, ())
    }
    val rewrite = timed(steps, "trigger(manifest-count)") {
      val manifests = IcebergSink.metaTable(spark, table, "manifests")
        .filter(org.apache.spark.sql.functions.col("content") === 0).count()
      (false, manifests > maxManifests)
    }
    timed(steps, "rewrite-manifests") {
      if (rewrite) IcebergSink.rewriteManifests(table, store): Unit
      (rewrite, ())
    }
    val expired = timed(steps, "expire-snapshots") {
      (true, IcebergSink.expireSnapshots(table, keepLast, store))
    }
    val orphans = timed(steps, "orphan-sweep") {
      (true, IcebergSink.removeOrphanFiles(spark, table, orphanAgeMs, store))
    }
    ((rewrite, expired, orphans.size, dvCompact), steps.toSeq)
  }
}
