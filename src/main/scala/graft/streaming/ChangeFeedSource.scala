package graft.streaming

import graft.sources.SnapshotStore
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Streaming CHANGE-DATA-FEED source over a [[SnapshotStore]] table — the
  * scale-native form of the reference's poll-the-table change pipeline
  * (`Server/main.go:284-320` polls employees and re-reads rows to detect
  * change; here every committed version already carries its typed change
  * rows) and the streaming twin of q70's batch snapshot diff.
  *
  * Shape: the source tails the table's `_commits/` log. Offsets ARE commit
  * versions — the log is the stream. A micro-batch is the half-open version
  * range (start, end]; its rows are the `_changes/` parquet each of those
  * commits landed (insert / delete / update_preimage / update_postimage +
  * `_commit_version`). Because snapshots and their change files are
  * immutable once committed, `getBatch` is a deterministic pure function of
  * the offset range — which is exactly what makes checkpoint replay
  * exactly-once: a restarted query re-reads the same versions and gets
  * byte-identical rows.
  *
  * Spark-first note: this is the v1 `Source` API (`getBatch` returns a
  * planned DataFrame) rather than a DSv2 `MicroBatchStream` — deliberately,
  * and for the same reason the public Delta streaming source sits on this
  * API: the batch of a log-structured table source IS a parquet scan, and
  * returning the planned scan keeps the vectorized reader, column pruning
  * and predicate pushdown that a hand-rolled DSv2 row-by-row
  * `PartitionReader` would forfeit. (The DSv2 path in this repo —
  * `HttpIngestSource` — is for rows that exist nowhere as files.)
  *
  * Scale: `latestOffset` lists one tiny directory; a micro-batch plans one
  * distributed scan over only the NEW versions' change files (change
  * volume, not table volume). Version-count per batch is bounded by commit
  * cadence. Retention interplay: reading versions older than the VACUUM
  * window fails loudly, the Delta/Iceberg contract.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.streaming.ChangeFeedSource")
  *     .option("path", tableRoot)       // SnapshotStore root (CDC-enabled)
  *     .option("startVersion", "0")     // default 0 = initial rows as inserts;
  *                                      // or a tag name = changes AFTER it
  *     .load()
  * }}}
  */
class ChangeFeedSource extends StreamSourceProvider {

  /** `path` may be a SnapshotStore root or a catalog-resolvable table name
    * (`'ns.t'` via the graft catalog's warehouse, `'cat.ns.t'` via any
    * registered catalog) — the same rule as the table_changes TVF, so the
    * streaming and batch feed surfaces address tables identically.
    */
  private def rootOf(parameters: Map[String, String]): String =
    graft.GraftExtensions.resolveRoot(
      parameters.getOrElse("path", parameters.getOrElse("table",
        throw new IllegalArgumentException(
          "option 'path' (SnapshotStore root or table name) is required"))))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("graft-change-feed", ChangeFeedSource.schemaFor(sqlContext, rootOf(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val root = rootOf(parameters)
    // numeric, or a TAG name: `startVersion = 'blessed'` subscribes from
    // the pinned snapshot's SUCCESSOR (changes AFTER the blessing) — and
    // because tags also pin retention, the subscription point can't be
    // vacuumed out from under a late-starting consumer
    val raw = parameters.getOrElse("startVersion", "0")
    val startVersion = raw.toLongOption
      .getOrElse(SnapshotStore.resolveRef(root, raw) + 1L)
    val maxPerBatch = parameters.get("maxVersionsPerBatch").map(_.toLong)
    require(maxPerBatch.forall(_ > 0), "maxVersionsPerBatch must be positive")
    require(SnapshotStore.cdcKeys(root).nonEmpty,
      s"table at $root has no change feed (init it with cdcKeys)")
    new ChangeFeedStream(sqlContext, root, startVersion, maxPerBatch)
  }
}

object ChangeFeedSource {
  /** Feed schema = the table's data schema + the CDF metadata columns.
    * Goes through [[SnapshotStore.readSchema]] so an ALTER-evolved table
    * (schema pinned in its snapshot record, files unchanged) serves its
    * EVOLVED schema, not what the parquet footers alone would infer.
    */
  def schemaFor(sqlContext: SQLContext, root: String): StructType = {
    val data = SnapshotStore.readSchema(
      sqlContext.sparkSession, SnapshotStore.latest(root))
    data.add(SnapshotStore.ChangeTypeCol, StringType)
      .add(SnapshotStore.CommitVersionCol, LongType)
  }
}

/** One running feed: offset N = "versions ≤ N are emitted".
  *
  * Admission control (`maxVersionsPerBatch`): a feed that fell far behind —
  * or starts from version 0 of a long-lived table — must not drain the
  * whole backlog as ONE giant micro-batch; the cap bounds each batch to N
  * commits' change volume so checkpoints land incrementally (the
  * maxFilesPerTrigger idea applied to the commit log). The first batch
  * after (re)start is uncapped by design: the engine's recovery
  * `getBatch` is what teaches the source its high-water mark, and capping
  * before that is known only to the checkpoint would risk offering the
  * engine an offset BEHIND what it already committed.
  */
private class ChangeFeedStream(sqlContext: SQLContext, root: String,
    startVersion: Long, maxPerBatch: Option[Long]) extends Source {

  override val schema: StructType = ChangeFeedSource.schemaFor(sqlContext, root)

  @volatile private var lastServedEnd: Option[Long] = None

  /** Newest committed version (capped to maxVersionsPerBatch past the last
    * served batch), or None while nothing ≥ startVersion exists.
    */
  override def getOffset: Option[Offset] = {
    val latest = SnapshotStore.latest(root).version
    val capped = (maxPerBatch, lastServedEnd) match {
      case (Some(m), Some(e)) => math.min(latest, e + m)
      case _ => latest
    }
    if (capped >= startVersion) Some(LongOffset(capped)) else None
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    lastServedEnd = Some(asLong(end))
    val lo = start.map(asLong(_) + 1L).getOrElse(startVersion)
    val hi = asLong(end)
    val versions = lo to hi
    // conform every version's change frame to the DECLARED source schema
    // (fixed at stream start, per the Source contract): versions before an
    // ALTER TABLE ADD COLUMN lack the new column (null-fill), versions
    // before a DROP carry a dead one (projected away) — a feed spanning a
    // schema boundary must still serve one stable shape. RENAME COLUMN
    // resolves through the feed rename log BOTH ways — a declared name
    // maps to whatever the column was CALLED at each frame's version
    // (stream declared before the rename reading new frames, or after it
    // reading old ones).
    // ALTER COLUMN TYPE widening rider: frames written before the widen
    // carry the NARROW type and upcast losslessly into the declared
    // (widened) schema; a frame WIDER than the declared type means the
    // table widened after this stream started — casting down would
    // silently truncate, so refuse with the restart instruction (the
    // Delta non-additive-schema-change rule).
    def conform(df: DataFrame, v: Long): DataFrame = {
      import org.apache.spark.sql.functions.{col, lit, struct, when}
      df.select(schema.map { f =>
        val atV = SnapshotStore.feedNameAt(root, f.name, v, hi)
        (df.columns.find(_.equalsIgnoreCase(atV)) match {
          case None => lit(null).cast(f.dataType)
          case Some(c) =>
            val actual = df.schema(c).dataType
            (f.dataType, actual) match {
              case (dt, at) if at == dt => col(c)
              case (st: org.apache.spark.sql.types.StructType,
                  at: org.apache.spark.sql.types.StructType) =>
                // STRUCT-shape drift (nested rename / add / drop / widen
                // across the frame's era): rebuild the declared struct —
                // each declared field resolves to its era name through the
                // dotted feed log, missing fields null-fill, narrow stored
                // leaves upcast; whole-struct NULLs survive
                val inner = st.fields.toIndexedSeq.map { nf =>
                  val nAtV = SnapshotStore
                    .feedNameAt(root, s"${f.name}.${nf.name}", v, hi)
                    .split('.').last
                  (at.fields.find(_.name.equalsIgnoreCase(nAtV)) match {
                    case Some(af) => col(s"$c.${af.name}").cast(nf.dataType)
                    case None => lit(null).cast(nf.dataType)
                  }).as(nf.name)
                }
                when(col(c).isNotNull, struct(inner: _*))
                  .otherwise(lit(null)).cast(st)
              case (dt, at) if org.apache.spark.sql.catalyst.expressions
                  .Cast.canUpCast(at, dt) => col(c).cast(dt)
              case (dt, at) if org.apache.spark.sql.catalyst.expressions
                  .Cast.canUpCast(dt, at) =>
                throw new IllegalStateException(
                  s"change frame at version $v of $root carries '${f.name}' " +
                    s"as ${at.simpleString}, wider than this stream's " +
                    s"declared ${dt.simpleString} — the table's type " +
                    "widened mid-stream; restart the stream to pick up the " +
                    "widened schema")
              case _ => col(c) // non-struct shape drift: served as stored
            }
        }).as(f.name)
      }.toIndexedSeq: _*)
    }
    val batch =
      if (versions.isEmpty)
        sqlContext.sparkSession.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      else versions.map(v => conform(
          SnapshotStore.changesAt(sqlContext.sparkSession, root, v), v))
        .reduce(_.unionByName(_))
    GraftSqlShim.asStreamingDF(batch) // re-flag as streaming
  }

  private def asLong(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.toLong // SerializedOffset from a checkpoint
  }

  override def stop(): Unit = ()
}
