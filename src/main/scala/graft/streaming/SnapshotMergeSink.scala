package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.SnapshotStore

/** Streaming MERGE into the table format: a `foreachBatch` body that
  * upserts each micro-batch into a [[SnapshotStore]] table as one
  * optimistic transaction stamped with `(appId, batchId)`. Spark replays
  * micro-batches after a crash; the stamp makes the replay a no-op, so the
  * pipeline is exactly-once END-TO-END — state-store offsets guarantee
  * each batch is produced once, the txn stamp guarantees it is APPLIED
  * once, and the commit CAS arbitrates with any concurrent batch/compaction
  * writers (this is the public Delta `foreachBatch + txn` recipe over our
  * own snapshot machinery).
  *
  * Scale shape: the anti-join touches only the base snapshot and the
  * micro-batch keys (broadcastable — a micro-batch is small by
  * construction); commits move pointers, not data. On CDC tables the
  * change set comes from the upsert's OWN batch⋈base join (statement-
  * integrated emission, per-commit cost O(batch ⋈ base-keys)) instead of
  * the generic post-hoc diff, which would full-outer join BOTH complete
  * snapshots per micro-batch — the same optimization SqlDml's statements
  * carry, and the difference between O(batch) and O(table) per commit on
  * a streaming ingest path. The events come from
  * `SnapshotStore.changeRows`, the encoder `diffChanges` uses. Callers
  * must hand in batches unique per key (dedupe upstream — arbitrary pick
  * here would be nondeterministic under replay).
  */
object SnapshotMergeSink {

  /** The foreachBatch body: `stream.writeStream.foreachBatch(
    *   SnapshotMergeSink.upsertBatch(root, "k", "my-app") _)`.
    */
  def upsertBatch(root: String, keyCol: String, appId: String)(
      batch: DataFrame, batchId: Long): Unit = {
    if (!batch.isEmpty) {
      val rows = batch.persist() // transform reruns on commit conflict
      try {
        val txn = Some(SnapshotStore.Txn(appId, batchId))
        /** The batch⋈base change set (statement-integrated CDC); correct
          * for any `base` that contains AT LEAST every base row whose key
          * the batch touches — the full snapshot, the touched partitions
          * and the key-matched subset alike, since unmatched batch keys
          * surface as inserts through the left join either way.
          */
        def changesFor(base: DataFrame): DataFrame = {
          val cols = base.columns.toIndexedSeq
          val b = base.select(cols.map(col): _*)
            .withColumn("__b", lit(true)).alias("b")
          val n = rows.select(cols.map(col): _*).alias("n")
          val j = n.join(b, col(s"n.$keyCol") <=> col(s"b.$keyCol"), "left")
          SnapshotStore.changeRows(j, cols, Seq(keyCol))(
            col("b.__b").isNotNull, c => col(s"b.$c"), lit(true), c => col(s"n.$c"))
        }
        SnapshotStore.upsertRows(batch.sparkSession, root, txn, keyCol, rows)(
          base => rows.select(base.columns.toIndexedSeq.map(col): _*))(
          Some(changesFor))
      } finally rows.unpersist()
    }
  }
}
