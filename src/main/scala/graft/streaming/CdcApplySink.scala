package graft.streaming

import graft.sources.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC REPLICATION: apply a change feed to a replica table — the
  * `APPLY CHANGES INTO` topology (source table → ChangeFeedSource →
  * foreachBatch apply → replica SnapshotStore), and the scale-native form
  * of the reference's poll-and-copy pipeline closed end-to-end.
  *
  * Per micro-batch (which may span several source commit versions):
  *   1. drop `update_preimage` rows (the pre-image is audit payload; the
  *      post-image carries the row's new state);
  *   2. keep each key's LATEST effective action by `_commit_version` —
  *      within one version a key has exactly one effective row
  *      (insert / update_postimage / delete) by the feed's construction,
  *      so the per-key winner is deterministic under replay;
  *   3. apply as one transaction: anti-join the replica on ALL touched
  *      keys, then union back the non-delete winners.
  *
  * Exactly-once end-to-end: the feed's offsets are commit versions
  * (checkpoint-replayed ranges are byte-identical), and the apply
  * transaction is stamped `(appId, batchId)` so a replayed batch is a
  * no-op — the same [[SnapshotMergeSink]] contract, specialized to typed
  * change rows. Scale shape: the anti-join touches the replica snapshot
  * and the micro-batch's keys only (broadcastable by construction);
  * commits move pointers, not data.
  */
object CdcApplySink {

  /** The foreachBatch body: `feed.writeStream.foreachBatch(
    *   CdcApplySink.applyBatch(replicaRoot, "id", "replicator") _)`.
    *
    * Schema evolution: a feed carrying columns the replica lacks (the
    * source was ALTERed) first evolves the replica with a metadata-only
    * [[SnapshotStore.alterSchema]] — silently projecting the new column
    * away would lose replicated data. Replay-safe: on a replayed batch the
    * columns already exist, so no second ALTER lands; columns only the
    * replica has null-fill.
    */
  def applyBatch(root: String, keyCol: String, appId: String)(
      batch: DataFrame, batchId: Long): Unit = {
    if (!batch.isEmpty) {
      val tc = SnapshotStore.ChangeTypeCol
      val vc = SnapshotStore.CommitVersionCol
      val spark = batch.sparkSession
      val feedData = batch.schema.filterNot(f => f.name == tc || f.name == vc)
      val replicaSchema = SnapshotStore.readSchema(spark, SnapshotStore.latest(root))
      val added = feedData.filterNot(f =>
        replicaSchema.exists(_.name.equalsIgnoreCase(f.name)))
      if (added.nonEmpty)
        SnapshotStore.alterSchema(spark, root, s =>
          added.foldLeft(s)((acc, f) => acc.add(f.name, f.dataType, nullable = true)))
      val w = Window.partitionBy(col(keyCol)).orderBy(desc(vc))
      val latest = batch.filter(col(tc) =!= "update_preimage")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .persist() // transform reruns on commit conflict
      try {
        val txn = Some(SnapshotStore.Txn(appId, batchId))
        def winnersAligned(base: DataFrame): DataFrame =
          latest.filter(col(tc) =!= "delete")
            .select(base.columns.toIndexedSeq.map { c =>
              (if (latest.columns.exists(_.equalsIgnoreCase(c))) col(c)
               else lit(null).cast(base.schema(c).dataType)).as(c)
            }: _*)
        // every touched key's row leaves, the non-delete winners arrive.
        // The apply names no change rows: a replica that itself feeds a
        // change log takes the full rewrite, whose generic diff emits them
        SnapshotStore.upsertRows(spark, root, txn, keyCol, latest)(
          winnersAligned)(None)
      } finally latest.unpersist()
    }
  }
}
