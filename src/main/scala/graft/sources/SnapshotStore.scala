package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Optimistic-concurrency commit protocol over immutable parquet snapshots —
  * the missing WRITE-side arbitration for the warehouse surface (q23c
  * keyed-latest, CompactionSpec's MERGE-shaped compaction, q70's snapshot
  * diff). Without it, two writers compacting/appending the same table race:
  * both stage correctly, but the last `overwrite` wins and the other
  * writer's committed rows silently vanish. This is the public
  * Delta/Iceberg idea (optimistic concurrency over an atomic log append),
  * re-expressed minimally:
  *
  *   - A table is a ROOT directory with `data/<uuid>/` snapshot dirs
  *     (immutable once committed — never rewritten, only superseded) and a
  *     `_commits/` log of version files `%020d.commit`, each containing the
  *     data dir its version pins.
  *   - COMMIT v(N+1) = atomically create `_commits/<N+1>.commit`
  *     (`Files.createFile` — EEXIST means another writer won version N+1).
  *     The create-if-absent is the whole arbitration: exactly one writer
  *     can own a version number. On an object store the same contract is a
  *     conditional PUT (S3 If-None-Match) or a DynamoDB-style CAS — the
  *     protocol above this line is unchanged.
  *   - A losing writer RETRIES: re-resolve the latest snapshot, re-derive
  *     its output against the new base (the rebase), stage, attempt the
  *     next version. Readers are wait-free: they resolve the newest commit
  *     file and read its (immutable) data dir — a half-written staging dir
  *     is unreachable because no commit file points at it yet, so torn
  *     reads cannot exist by construction.
  *
  * Scale shape: commits move POINTERS, not data — the log entry is one tiny
  * file regardless of table size; data writes stay fully distributed; the
  * only driver-side work is directory listing + one file create per
  * attempt. Snapshot immutability is also what makes q70-style snapshot
  * diff / time travel safe under concurrent writers: a reader holding
  * version N keeps a consistent view even while N+1..N+k land.
  *
  * Reference context: the reference leans on MySQL's row locks for this
  * (`Server/main.go:279-282` UPDATE employees — InnoDB arbitrates). A
  * file-based warehouse has no lock manager; optimistic commits are the
  * public-art replacement.
  */
object SnapshotStore {

  final case class Snapshot(version: Long, dataDir: String)

  /** Streaming-writer transaction stamp: `(appId, version)` recorded in the
    * commit file — the public Delta `txn` idea. A replayed micro-batch
    * (same appId, version ≤ the highest already committed) is skipped, so
    * foreachBatch + transact is exactly-once end-to-end even though Spark
    * replays batches after a crash.
    */
  final case class Txn(appId: String, version: Long)

  /** Thrown when `maxAttempts` successive commit attempts all lost the
    * version race — the caller's signal to back off or fail the job.
    */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** A stamped transaction found its pinned reads stale: another writer
    * advanced one (but not all) of the commit's app stamps, or the caller's
    * `pinCheck` failed. Re-running the pinned transform would apply stale
    * data over the other writer's newer state, so the transaction aborts
    * WITHOUT committing — the caller restarts from fresh high-water marks
    * ([[MatView.refresh]]/[[MatView.refreshJoin]] do this automatically).
    */
  final class StaleStampException(msg: String) extends RuntimeException(msg)

  /** Thrown when a transaction's output violates a table constraint — the
    * commit is aborted BEFORE any pointer moves, so committed snapshots
    * always satisfy their invariants (the public Delta CHECK-constraint
    * contract).
    */
  final class ConstraintViolationException(msg: String) extends RuntimeException(msg)

  /** A concurrent commit flipped the table's partition-layout state
    * (spec evolved, or a migration healed it) between a write router's
    * decision ([[routeWrite]], [[rewriteRows]]) and its staging attempt —
    * the router re-routes onto the path matching the NEW state
    * ([[rerouted]]). Checked per optimistic attempt, so the window the
    * routing decision alone would leave is closed.
    */
  private final class LayoutChangedException(msg: String)
    extends IllegalStateException(msg)

  private def commitsDir(root: String): Path = Paths.get(root, "_commits")
  private def commitFile(root: String, v: Long): Path =
    commitsDir(root).resolve(f"$v%020d.commit")

  // ---- the table-config record ---------------------------------------------
  // What a table declares outside its versioned snapshots lives in ONE
  // root file, `_table.tsv`: one line per entry, `kind TAB fields`. Every
  // change goes through [[editConfig]], which publishes a whole new file
  // (temp + ATOMIC_MOVE) under [[withRootLock]]: a reader sees the old
  // record or the new one, never a torn one, and two editors never lose
  // each other's update. The record is not versioned with the commits;
  // RESTORE, clones and branch publishes carry their fields explicitly
  // after their CAS win. Namespace dirs keep their properties in the same
  // record.

  /** A table's root-level configuration: the change-feed keys (empty = no
    * feed, see [[init]]), the current WRITE partition spec, the DML mode,
    * the CHECK constraints (name → predicate SQL, in add order), the
    * partition transform specs, the opaque user properties, and the
    * append-only feed rename log `(version, old, new)` ([[feedRenames]]).
    */
  private[sources] final case class TableConfig(
      cdcKeys: Seq[String] = Nil,
      partitionCols: Seq[String] = Nil,
      dmlMode: String = CopyOnWrite,
      constraints: Seq[(String, String)] = Nil,
      transforms: Seq[TransformSpec] = Nil,
      properties: Map[String, String] = Map.empty,
      renames: Seq[(Long, String, String)] = Nil)

  private def configFile(root: String): Path = Paths.get(root, "_table.tsv")

  /** The line codec of both records (this one and the snapshot record,
    * [[readState]]): the non-empty lines of `f` folded from `empty`, each
    * handed to `entry` as its kind and its TAB-split fields. An entry kind
    * `entry` does not know is refused.
    */
  private def readEntries[R](f: Path, empty: R)(
      entry: PartialFunction[(R, String, Array[String]), R]): R =
    Files.readString(f).linesIterator.filter(_.nonEmpty).foldLeft(empty) { (r, l) =>
      val Array(kind, rest) = l.split("\t", 2)
      entry.applyOrElse((r, kind, rest.split("\t", -1)), (_: (R, String, Array[String])) =>
        throw new IllegalStateException(s"unknown entry '$kind' in $f"))
    }

  /** One `kind TAB fields` line per entry, the inverse of [[readEntries]]. */
  private def renderEntries(entries: Seq[Seq[Any]]): String =
    entries.map(_.mkString("\t")).mkString("", "\n", "\n")

  private def readConfig(root: String): TableConfig = {
    val f = configFile(root)
    if (!Files.exists(f)) return TableConfig()
    readEntries(f, TableConfig()) {
      case (c, "cdc", Array(k)) => c.copy(cdcKeys = c.cdcKeys :+ k)
      case (c, "partition", Array(p)) => c.copy(partitionCols = c.partitionCols :+ p)
      case (c, "dml", Array(m)) => c.copy(dmlMode = m)
      case (c, "constraint", Array(n, sql @ _*)) =>
        c.copy(constraints = c.constraints :+ (n -> sql.mkString("\t")))
      case (c, "transform", Array(pcol, k, src, arg, tz)) =>
        c.copy(transforms =
          c.transforms :+ TransformSpec(pcol, k, src, arg.toInt, tz))
      case (c, "property", Array(k, v)) =>
        c.copy(properties = c.properties + (k -> v))
      case (c, "rename", Array(v, o, n)) =>
        c.copy(renames = c.renames :+ ((v.toLong, o, n)))
    }
  }

  private def renderConfig(c: TableConfig): String = renderEntries(
    c.cdcKeys.map(k => Seq("cdc", k)) ++
      c.partitionCols.map(p => Seq("partition", p)) ++
      Seq(Seq("dml", c.dmlMode)) ++
      c.constraints.map { case (n, sql) => Seq("constraint", n, sql) } ++
      c.transforms.map(s => Seq("transform", s.pcol, s.kind, s.src, s.arg, s.tz)) ++
      c.properties.toSeq.sortBy(_._1).map { case (k, v) => Seq("property", k, v) } ++
      c.renames.map { case (v, o, n) => Seq("rename", v, o, n) })

  /** Test seam: fires inside [[editConfig]] after it reads the record and
    * before it moves the new one into place (TableConfigSpec drives
    * deterministic interleaves through it).
    */
  private[graft] var configTestHook: () => Unit = () => ()

  /** The one writer of the record: read it, apply `f`, check the result,
    * publish it by temp file + ATOMIC_MOVE, all under [[withRootLock]].
    * Returns the record `f` was applied to. `f` runs under the lock, so it
    * must not run a Spark job; a throw from `f` or the check aborts the
    * edit with nothing published.
    */
  private[sources] def editConfig(root: String)(
      f: TableConfig => TableConfig): TableConfig =
    withRootLock(root) {
      val cur = readConfig(root)
      val next = f(cur)
      require(next.dmlMode == CopyOnWrite || next.dmlMode == MergeOnRead,
        s"unknown DML mode '${next.dmlMode}' (use $CopyOnWrite or $MergeOnRead)")
      next.properties.foreach { case (k, v) =>
        require(!s"$k$v".exists(ch => ch == '\t' || ch == '\n'),
          s"table property keys/values must not contain tabs or newlines ($k)")
      }
      configTestHook()
      if (next != cur) {
        val tmp = Files.createTempFile(Paths.get(root), ".table", ".tmp")
        try {
          Files.writeString(tmp, renderConfig(next))
          Files.move(tmp, configFile(root),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } finally Files.deleteIfExists(tmp)
      }
      cur
    }

  // ---- the snapshot record -------------------------------------------------
  // What it takes to read one snapshot dir lives in the dir itself, in ONE
  // file, `_snapshot.tsv`, in the config record's `kind TAB fields` lines:
  // the pinned schema, the identity high-water mark, the partition-spec
  // eras and the RENAME COLUMN chains. It is versioned with the data: every
  // commit has its own immutable dir, so RESTORE, clones and time travel
  // see each version's own record. Every staged dir gets its record from
  // [[writeState]] (via [[carryTableState]], or [[init]] for v0) before
  // anything reads the dir or CASes it; a committed dir is never written
  // again, so the record needs no lock. A dir without one predates the
  // record and is refused.

  /** A snapshot dir's record: its schema (pinned by every version, so
    * field metadata and partition-column types never come from footer
    * inference), the next unallocated identity value ([[identityNext]]),
    * the partition-spec eras it spans ([[readSpecs]]) and its rename
    * chains ([[readRenames]]).
    */
  private final case class SnapshotState(
      schema: org.apache.spark.sql.types.StructType,
      identityNext: Option[Long] = None,
      specs: Seq[(String, Seq[String])] = Nil,
      renames: Map[String, Seq[String]] = Map.empty)

  private def stateFile(dir: String): Path = Paths.get(dir, "_snapshot.tsv")

  /** Snapshot dir `dir`'s record; refuses a dir that has none (written by
    * a build that kept the record in separate files, whose spec eras and
    * rename chains this build cannot see).
    */
  private def readState(dir: String): SnapshotState = {
    val f = stateFile(dir)
    val empty = SnapshotState(new org.apache.spark.sql.types.StructType())
    try readEntries(f, empty) {
      case (s, "schema", Array(json)) => s.copy(schema =
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      case (s, "identity", Array(n)) => s.copy(identityNext = Some(n.toLong))
      case (s, "spec", Array(sub, cols)) =>
        s.copy(specs = s.specs :+ (sub -> cols.split(",").toSeq.filter(_.nonEmpty)))
      case (s, "rename", Array(logical, olds @ _*)) =>
        s.copy(renames = s.renames + (logical.toLowerCase -> olds))
    } catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new IllegalStateException(
          if (!Files.isDirectory(Paths.get(dir))) s"snapshot dir $dir does not exist"
          else s"snapshot dir $dir has no record (${f.getFileName}): it was " +
            "written by an older build, which kept its schema, spec eras and " +
            "rename chains in separate files; reading it here could lose " +
            "rows or null columns")
    }
  }

  /** The one writer of a staged dir's record. */
  private def writeState(dir: String, s: SnapshotState): Unit =
    Files.writeString(stateFile(dir), renderEntries(
      Seq(Seq("schema", s.schema.json)) ++
        s.identityNext.map(n => Seq("identity", n)) ++
        s.specs.map { case (sub, cols) => Seq("spec", sub, cols.mkString(",")) } ++
        s.renames.toSeq.sortBy(_._1).map { case (k, olds) => "rename" +: k +: olds }))

  /** The table's hive-style partition columns (empty = unpartitioned).
    * Set at [[init]]; every staged snapshot lays its files out as
    * `col=value/` dirs, so reads prune whole directories on partition
    * predicates BEFORE any file is opened — the coarse-grained complement
    * to per-file manifest skipping, and the first-order scan lever at
    * 100 TB (a day-partitioned event table answers a one-day query by
    * listing one directory).
    */
  def partitionCols(root: String): Seq[String] = readConfig(root).partitionCols

  // ---- partition-spec evolution (the Iceberg contract) ---------------------
  //
  // `ALTER ... SET PARTITION SPEC` must not rewrite 100 TB of history:
  // committed files KEEP their layout; only data written after the change
  // uses the new one. A snapshot that spans specs records them as `spec`
  // entries of its record — one per spec, `subdir TAB cols,csv` —
  // where subdir "." is the dir's top level (the original layout) and
  // each later spec lives under `_spec<i>/` (underscore-prefixed, so
  // Spark's own listing of the top level never descends into it). Reads
  // plan PER SPEC and union ([[readDir]]'s era loop): partition predicates
  // prune directories in new-spec subtrees and fall back to row-group
  // stats on old files — exactly Iceberg's split planning. Any full
  // rewrite (OPTIMIZE, INSERT OVERWRITE, full-COW DML) stages entirely in
  // the CURRENT spec and drops the eras: migration is one compaction,
  // and the table heals back to single-spec. Partition-SCOPED operations
  // (partial DML/compaction, MoR) refuse on a spanning table — their
  // "touched partitions" contract has no meaning across two layouts.

  /** True when snapshot dir `dir` spans more than one partition spec. */
  private[graft] def isEvolved(dir: String): Boolean = readSpecs(dir).nonEmpty

  /** True when the table's HEAD snapshot spans partition specs — the
    * probe [[rewriteRows]] routes on to pick the per-era scoped
    * copy-on-write path ([[transactPartialWithChanges]] with
    * `evolvedScoped`).
    */
  private[graft] def spansSpecs(root: String): Boolean =
    isEvolved(latest(root).dataDir)

  /** The specs a snapshot dir spans, oldest first: (subdir, cols).
    * Empty when the dir predates any evolution (single implicit spec).
    */
  private[graft] def readSpecs(dir: String): Seq[(String, Seq[String])] =
    readState(dir).specs

  /** The hive partition columns a single-spec snapshot dir PHYSICALLY
    * lays out, read from its deepest `col=value` dir chain — the
    * version-pinned truth for `$specs` on snapshots that predate (or
    * healed away) any spec eras. Empty = flat files.
    */
  private[graft] def layoutCols(dir: String): Seq[String] = {
    def descend(p: Path, acc: Seq[String]): Seq[String] = {
      val sub = listDir(p).filter(d => Files.isDirectory(d) &&
        d.getFileName.toString.contains("=") &&
        !d.getFileName.toString.startsWith("_"))
      sub.headOption match {
        case Some(d) =>
          descend(d, acc :+ d.getFileName.toString.takeWhile(_ != '='))
        case None => acc
      }
    }
    descend(Paths.get(dir), Nil)
  }

  /** Any data parquet under `dir` (outside metadata subtrees)? Cheap
    * walk, stops at the first hit.
    */
  private def hasDataFiles(dir: String): Boolean = {
    val base = Paths.get(dir)
    val s = Files.walk(base)
    try s.iterator().asScala.exists { p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
        isDataSegs(base.relativize(p).iterator().asScala.map(_.toString).toSeq)
    } finally s.close()
  }

  /** Relative path segments of a DATA file (vs commit metadata): the
    * plain tree, or a `_spec<i>/` evolution subtree with no metadata dir
    * beneath it — the ONE rule shared by linking, file metadata, and
    * existence probes, so the three can never disagree on what counts
    * as data.
    */
  private def isDataSegs(segs: Seq[String]): Boolean =
    (segs.head.startsWith("_spec") && !segs.tail.exists(_.startsWith("_"))) ||
      !segs.exists(_.startsWith("_"))

  /** Change the table's partition spec WITHOUT rewriting data — a
    * metadata-only commit (hard-linked files + the new spec era), the
    * Iceberg partition-evolution shape. New appends land under the new
    * spec; history keeps its layout; reads span both; OPTIMIZE migrates.
    * A `_dv` deletion-vector sidecar rides the evolve untouched: its
    * `(file, pos)` keys are snapshot-dir-relative and the link preserves
    * every relative path, so per-era reads ([[readDir]]), scoped
    * DML ([[transactPartialWithChanges]]) and MoR DML ([[transactMoR]]) all keep
    * honoring it until a full rewrite materializes it away. A RENAME
    * COLUMN mapping rides the same way: the per-era scans apply the
    * [[DirRead]] coalesce projection, so files carrying pre-rename
    * physical names in any era resolve to the logical name. Refused
    * where a second layout would corrupt an existing contract: identity
    * tables (their appends require the unpartitioned staging) and specs
    * referencing columns the table lacks.
    */
  def alterPartitionSpec(spark: SparkSession, root: String,
      newCols: Seq[String], maxAttempts: Int = 10): Snapshot =
    commitLoop(root, maxAttempts, guarded = false) { base =>
      val schema = readSchema(spark, base)
      val missing = newCols.filterNot(c =>
        schema.fields.exists(_.name.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"partition spec references missing column(s): ${missing.mkString(", ")}")
      require(!newCols.exists(c => schema.fields.exists(f =>
        f.name.equalsIgnoreCase(c) && f.metadata.contains("identity.start"))),
        s"cannot partition $root by its identity column: every row gets a " +
          "unique value, so the layout degenerates to one directory per row")
      val current = readSpecs(base.dataDir) match {
        case Nil => Seq(("." , partitionCols(root)))
        case s => s
      }
      require(current.last._2.map(_.toLowerCase) !=
        newCols.map(_.toLowerCase),
        s"partition spec of $root is already (${newCols.mkString(", ")})")
      val specs = current :+ (s"_spec${current.size}", newCols)
      val dir = freshDir(root)
      linkParquetTree(base.dataDir, dir)
      carryTableState(base.dataDir, dir, edit = _.copy(specs = specs))
      // the stats manifest is deliberately NOT carried: a manifest is a
      // COMPLETE file list (absent file = pruned away), and files appended
      // under later specs would be absent — skipping resumes when the
      // migrating OPTIMIZE rebuilds it
      writeChanges(root, dir, noChanges(spark, schema)) // not a row change
      // current WRITE spec: root-level config, like init's. Written after
      // the CAS win; appends derive their layout from the committed
      // sidecar, so a crash here costs nothing but a stale partitionCols()
      // listing (healed by the next alter/clone)
      Staged(dir, onWin = _ =>
        editConfig(root)(_.copy(partitionCols = newCols)))
    }

  /** Table-level CHECK constraints (name → boolean predicate SQL), the
    * public Delta CHECK-constraint contract: EVERY commit to the table —
    * SQL DML, catalog INSERT, compaction, any transact — validates its
    * output in one aggregate job BEFORE a pointer moves, so committed
    * snapshots always satisfy their invariants. NULL predicates pass
    * (SQL CHECK semantics: only FALSE violates).
    */
  def tableConstraints(root: String): Seq[(String, String)] =
    readConfig(root).constraints

  /** Add a named CHECK constraint. EXISTING rows are validated first (one
    * short-circuiting scan) — a constraint the current snapshot violates
    * refuses, exactly as Delta's ALTER TABLE ADD CONSTRAINT does. The scan
    * runs before the edit takes the lock; the edit re-checks the name.
    */
  def addTableConstraint(spark: SparkSession, root: String, name: String,
      predicateSql: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(!name.contains("\t") && !predicateSql.contains("\n"),
      "constraint name/SQL must be single-line")
    def absent(c: Seq[(String, String)]): Unit =
      require(!c.exists(_._1 == name), s"constraint '$name' already exists")
    absent(tableConstraints(root))
    val bad = read(spark, root)
      .filter(not(coalesce(expr(predicateSql), lit(true)))).limit(1)
    require(bad.isEmpty,
      s"cannot add constraint '$name': existing rows violate ($predicateSql)")
    editConfig(root) { c =>
      absent(c.constraints)
      c.copy(constraints = c.constraints :+ (name -> predicateSql))
    }
  }

  /** The constraints as they stand — for callers whose schema change
    * CASCADES constraint edits (DROP COLUMN, SET NOT NULL) and must leave
    * the table untouched when the schema commit itself aborts
    * ([[restoreConstraintsNamed]]).
    */
  private[graft] def snapshotConstraints(root: String): Seq[(String, String)] =
    tableConstraints(root)

  /** Restore ONLY the `names`-matched constraints to their `saved` state,
    * leaving every other entry of the CURRENT record intact — a wholesale
    * restore would silently discard a concurrent session's ADD/DROP
    * CONSTRAINT landing between the snapshot and a failed ALTER's restore
    * (a lost update that quietly drops an enforced constraint). Names
    * match case-insensitively (engine constraint names derive from column
    * names, which the catalog matches that way).
    */
  private[graft] def restoreConstraintsNamed(root: String,
      saved: Seq[(String, String)], names: Set[String]): Unit = {
    val lower = names.map(_.toLowerCase)
    def touched(e: (String, String)): Boolean = lower(e._1.toLowerCase)
    if (names.nonEmpty) editConfig(root)(c => c.copy(constraints =
      c.constraints.filterNot(touched) ++ saved.filter(touched)))
  }

  /** Drop a named CHECK constraint; returns whether it existed. */
  def dropTableConstraint(root: String, name: String): Boolean =
    editConfig(root)(c => c.copy(constraints =
      c.constraints.filterNot(_._1 == name))).constraints.exists(_._1 == name)

  /** Create the table: version 0 pins the initial snapshot.
    * `statsCols` opts the snapshot into a per-file min/max manifest
    * (see [[writeManifest]]).
    *
    * `cdcKeys` opts the table into a CHANGE DATA FEED (the public Delta
    * CDF idea): every commit also lands the rows it changed — typed
    * `insert` / `delete` / `update_preimage` / `update_postimage` — as
    * parquet under the snapshot dir's `_changes/` (underscore prefix:
    * invisible to normal reads, immutable with the snapshot, pinned by the
    * same commit pointer). Version 0's feed is the initial rows as
    * inserts. Keys must be row-unique per snapshot — CDC is a KEYED diff.
    */
  def init(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String] = Nil, cdcKeys: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil): Snapshot = {
    // partitioning and stats manifests COMPOSE: directories prune the
    // partition dims, per-file [min,max] intervals prune within each
    // partition on clustered non-partition columns — and the manifest
    // survives partitioned writes (partial COW carries it by nested
    // relative path)
    Files.createDirectories(commitsDir(root))
    // clustered by its partition columns (REBALANCE: AQE coalesces slivers
    // AND splits hot values — §2.5): the user's df arrives with arbitrary
    // partitioning, and an unclustered partitionBy write of the table's
    // BIGGEST write (the initial load) would fan tasks × dirs sliver files
    val dir = writeStaged(root, Some(df), partitionBy)._1
    // v0's record pins its schema; every later version carries its base's
    // record ([[carryTableState]])
    writeState(dir, SnapshotState(df.schema))
    if (statsCols.nonEmpty) writeManifest(spark, dir, statsCols)
    if (cdcKeys.nonEmpty && !linkInsertChanges(Paths.get(dir))) {
      // partitioned layout (or zero staged files): the linked-frame
      // convention cannot represent it — write the frame the legacy way
      import org.apache.spark.sql.functions.lit
      readDir(spark, dir).withColumn(ChangeTypeCol, lit("insert"))
        .write.mode("overwrite").parquet(s"$dir/_changes")
    }
    if (!tryCommit(root, expectedCurrent = -1L, dir))
      throw new CommitConflictException(s"table at $root already initialized")
    // the CDC keys land only AFTER the v0 commit is won: an init that
    // loses the race must not leave them behind on a table someone else
    // created without CDC (it would flip cdcKeys on and every later
    // transact would emit _changes over a feed with no v0)
    editConfig(root)(_.copy(cdcKeys = cdcKeys, partitionCols = partitionBy))
    Snapshot(0L, dir)
  }

  /** CDC column names — the public Delta CDF vocabulary. */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** The CDC key columns this table was initialized with (empty = no feed). */
  def cdcKeys(root: String): Seq[String] = readConfig(root).cdcKeys

  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"

  /** The table's DML strategy: [[CopyOnWrite]] (default — UPDATE/DELETE
    * rewrite the files/partitions they touch) or [[MergeOnRead]]
    * (UPDATE/DELETE commit a deletion-vector sidecar + appended rows and
    * never rewrite a data file — see [[transactMoR]]).
    */
  def dmlMode(root: String): String = readConfig(root).dmlMode

  def setDmlMode(root: String, mode: String): Unit =
    editConfig(root)(_.copy(dmlMode = mode))

  // ---- partition transform specs ---------------------------------------------
  // `PARTITIONED BY (days(ts) / months / years / hours / bucket(n, c))`
  // desugars to a GENERATED partition column (the Delta
  // generated-partition idiom: computed on write, CHECK-guarded, hive
  // layout). The config record keeps (pcol, kind, src, arg) so the read
  // side can DERIVE partition filters from predicates on the SOURCE
  // column — the hidden-partitioning payoff: `WHERE ts >= X` prunes
  // `ts_day=` directories without the user ever naming the derived
  // column.

  /** `tz` freezes the CREATE-time session timezone: the time transforms
    * (day/month/year/hour) are timezone-DEPENDENT functions of the
    * timestamp instant, so read-side filter derivation is only sound in
    * the same zone the writer bucketed under — a reader in another zone
    * skips derivation (correct, just unpruned) instead of silently
    * pruning directories that hold matching rows. bucket/truncate are
    * zone-free.
    */
  final case class TransformSpec(pcol: String, kind: String, src: String,
      arg: Int, tz: String = "UTC")

  def transformSpecs(root: String): Seq[TransformSpec] =
    readConfig(root).transforms

  // ---- user table properties -------------------------------------------------
  // Free-form `SET/UNSET TBLPROPERTIES` key-values (comments, owners,
  // tooling tags — the Delta/Iceberg opaque-property contract), stored in
  // the config record. Engine-interpreted keys (`dml.mode`, `cdc.keys`)
  // never land here: the catalog routes them to their own config (or
  // refuses) before this store is consulted.

  def tableProperties(root: String): Map[String, String] =
    readConfig(root).properties

  def setTableProperty(root: String, key: String, value: String): Unit =
    editConfig(root)(c => c.copy(properties = c.properties + (key -> value)))

  /** Returns whether the key existed (UNSET is idempotent either way). */
  def removeTableProperty(root: String, key: String): Boolean =
    editConfig(root)(c => c.copy(properties = c.properties - key))
      .properties.contains(key)

  /** Materialize a directory listing and CLOSE the underlying stream —
    * Files.list holds an open directory fd until closed, and a long
    * streaming MERGE workload calls these helpers once per micro-batch,
    * so leaking the stream leaks fds until GC (ADVICE r9).
    */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Recursive listing, deepest-first (delete order), stream closed. */
  private def walkDeepestFirst(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse finally s.close()
  }

  /** Commit file layout: line 1 = data dir; lines 2..n (optional) =
    * "appId<TAB>txnVersion" writer stamps for idempotence — one line per
    * app, the Delta multi-`txn`-action shape. Most commits carry zero or
    * one; a refresh that consumes SEVERAL upstream feeds (the join MV)
    * records every source's high-water mark atomically in its one commit,
    * so a crash can never leave the marks disagreeing.
    */
  private def parseCommit(f: Path): (String, Seq[Txn]) = {
    val lines = Files.readString(f).trim.linesIterator.toSeq
    val txns = lines.drop(1).map { l =>
      val Array(app, v) = l.split("\t", 2)
      Txn(app, v.toLong)
    }
    (lines.head, txns)
  }

  // ---- the O(1) head pointer ----------------------------------------------
  // `_commits/_head` holds the newest committed version as a HINT (the
  // Delta `_last_checkpoint` idea applied to the head itself): `latest`
  // reads it and probes FORWARD until the first missing version, so the
  // common case is two stat calls instead of an O(commits) directory
  // listing — which matters because latest() runs inside the optimizer
  // (MvRewrite freshness pins), per micro-batch, and per DML statement; at
  // a long-lived warehouse's 10⁴–10⁵ commits the listing was the planner
  // tax behind the r17 CDC-gate regressions. Safety: the hint is only ever
  // BEHIND the truth (updated after the commit CAS; crash in between
  // leaves it one short), probe-forward always lands on the true head
  // because versions are dense going up — the commit CAS allocates them
  // contiguously and VACUUM only deletes commits with ≥ keepLast ≥ 1 LIVE
  // commits above them, so no gap can sit between a live hint and the
  // head. A missing/corrupt/vacuumed hint falls back to the full listing
  // (legacy tables) and heals the pointer for the next reader. Every
  // commits-dir listing filters on the `.commit` suffix, so the pointer
  // (and its staging temp files) are invisible to the log readers.

  private def headFile(root: String): Path =
    commitsDir(root).resolve("_head")

  private def readHeadHint(root: String): Option[Long] =
    try {
      val f = headFile(root)
      if (Files.exists(f)) Some(Files.readString(f).trim.toLong) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Best-effort, monotonic, atomic (temp + ATOMIC_MOVE — a reader never
    * observes a torn hint; a parse failure falls back to listing anyway).
    * Failures are swallowed (temp cleaned up): the pointer is a pure
    * accelerator. The check-then-move runs under [[withRootLock]] — the
    * PER-ROOT monitor plus the OS file lock — so it is serialized against
    * every other publisher in THIS process and in any other (two
    * maintenance jobs on one warehouse is a normal deployment), and
    * unrelated tables never contend (ADVICE r18). The cross-process lock
    * is what makes the monotonic guard sound: a writer stalled between
    * reading the hint and moving its own value could otherwise clobber a
    * NEWER hint vacuum's heal just published — and if vacuum also opened
    * a retention gap (tagged commits survive under deleted ones), the
    * post-move probe-forward walk cannot cross the gap to self-correct,
    * leaving `latest()` stale and the next commit CAS free to land in the
    * vacuumed slot, forking the log (ADVICE r18). Under the lock the
    * read-check-move is atomic with respect to the heal, so the hint
    * never regresses; the post-move walk remains as the catch-up for
    * commits that landed while we published.
    */
  private def updateHead(root: String, v: Long): Unit = {
    def publish(x: Long): Unit = withRootLock(root) {
      if (readHeadHint(root).forall(_ < x)) {
        val tmp = Files.createTempFile(commitsDir(root), ".head", ".tmp")
        try {
          Files.writeString(tmp, x.toString)
          Files.move(tmp, headFile(root),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } finally Files.deleteIfExists(tmp)
      }
    }
    try {
      publish(v)
      // post-move catch-up: commits may have landed past ours while we
      // published — walk to the newest dense version and re-publish
      var w = v
      while (Files.exists(commitFile(root, w + 1))) w += 1
      if (w > v) publish(w)
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Newest committed snapshot. Readers go through this and only ever see
    * fully-committed, immutable data dirs.
    */
  def latest(root: String): Snapshot = {
    readHeadHint(root)
      .filter(h => Files.exists(commitFile(root, h))) match {
      case Some(h) =>
        var v = h
        while (Files.exists(commitFile(root, v + 1))) v += 1
        Snapshot(v, parseCommit(commitFile(root, v))._1)
      case None =>
        val newest = listDir(commitsDir(root)).iterator
          .filter(_.getFileName.toString.endsWith(".commit"))
          .maxByOption(_.getFileName.toString)
          .getOrElse(throw new IllegalStateException(s"no commits at $root"))
        val v = newest.getFileName.toString.stripSuffix(".commit").toLong
        updateHead(root, v) // heal the pointer for the next reader
        Snapshot(v, parseCommit(newest)._1)
    }
  }

  /** Pin a specific committed version — q70-style time travel / diff. */
  def at(root: String, version: Long): Snapshot = {
    val f = commitFile(root, version)
    require(Files.exists(f), s"version $version not committed at $root")
    Snapshot(version, parseCommit(f)._1)
  }

  /** Highest transaction version this app has committed: the folded
    * checkpoint's per-app high-water mark plus a scan of only the commit
    * files NEWER than the checkpoint. Without the checkpoint this read
    * parses every commit file ever written — and it runs on EVERY
    * micro-batch of every streaming sink and on every MV refresh, so a
    * long-lived feed pays O(commits) per batch, quadratic over the
    * stream's life. The checkpoint (the Delta checkpoint idea applied to
    * `txn` actions) caps the scan at the fold interval.
    */
  def lastTxnVersion(root: String, appId: String): Option[Long] =
    lastTxnVersions(root, Set(appId)).get(appId)

  /** Per-ATTEMPT stamp + pin guard. MUST run AFTER the attempt pins its
    * `base = latest(root)`: any commit landing after the guard passes
    * also bumps the version past `base`, so the staging attempt loses
    * the CAS and retries back through the guard. The reverse order
    * (guard, then read base) leaves a window where a racer's commit is
    * neither guarded against nor CAS-caught — a stamped batch could
    * double-apply. Returns true when EVERY stamp is already covered
    * (replayed batch — the caller no-ops with `base`); a stamp strictly
    * EXCEEDED, or a failed pin, aborts with [[StaleStampException]]
    * (a merely EQUAL mark is the legitimate one-source-ahead shape and
    * proceeds).
    */
  /** Write-side timezone invariant for hidden time partitioning: the
    * time transforms (day/month/year/hour) bucket by a timezone-DEPENDENT
    * function, evaluated by the writer's generation SQL under ITS session
    * zone — while read-side filter derivation is pinned to the CREATE-time
    * zone ([[TransformSpec.tz]]). A writer in a different zone would land
    * rows in directories the derivation doesn't expect, and a reader in
    * the create zone would then silently prune directories holding
    * matching rows (missing results). Refuse loudly instead — the same
    * idiom as every other silent-wrongness hazard. bucket/truncate are
    * zone-free and never refuse.
    */
  private def requireWriterTz(root: String): Unit = {
    val tzSpecs = transformSpecs(root)
      .filter(sp => sp.kind != "bucket" && sp.kind != "truncate")
    if (tzSpecs.nonEmpty) {
      // the ACTIVE session's conf, not SQLConf.get: commit paths run on
      // driver threads where the thread-local SQLConf may be the fallback
      // (JVM-default zone), which would silently pass a mismatched writer
      val session = org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sessionState.conf.sessionLocalTimeZone)
        .getOrElse(
          org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      // ZoneId-normalized comparison: 'UTC' and 'Etc/UTC' bucket
      // identically — refusing on raw string inequality would reject a
      // legitimately-zoned writer (ADVICE r17)
      val bad = tzSpecs.filterNot(sp => MatView.sameZone(sp.tz, session))
      require(bad.isEmpty,
        s"cannot write to $root: time partition transform(s) " +
          bad.map(sp => s"${sp.kind}(${sp.src})").mkString(", ") +
          s" bucket under the create-time session timezone " +
          s"'${bad.headOption.fold("?")(_.tz)}' but this writer's session " +
          s"timezone is '$session' — generated partition values would land " +
          "in directories the read-side filter derivation (pinned to the " +
          "create-time zone) silently prunes; set " +
          s"spark.sql.session.timeZone = '${bad.headOption.fold("?")(_.tz)}' " +
          "to write to this table")
    }
  }

  private def stampGuard(root: String, txns: Seq[Txn],
      pinCheck: () => Boolean): Boolean = {
    // every data-staging commit funnels through this guard (the unguarded
    // commits of [[commitLoop]] do not — ALTERs stay legal from any zone)
    requireWriterTz(root)
    if (txns.nonEmpty) {
      val marks = lastTxnVersions(root, txns.map(_.appId).toSet)
      if (txns.forall(t => marks.get(t.appId).exists(_ >= t.version)))
        return true
      val exceeded = txns.filter(t =>
        marks.get(t.appId).exists(_ > t.version))
      if (exceeded.nonEmpty)
        throw new StaleStampException(
          s"commit at $root: ${exceeded.map(_.appId).mkString(", ")} " +
            "already advanced past this commit's pinned version by a " +
            "concurrent writer; restart from fresh high-water marks")
    }
    if (!pinCheck())
      throw new StaleStampException(
        s"commit at $root: pinned inputs went stale before commit; " +
          "restart from fresh high-water marks")
    false
  }

  /** Commit files with version in `(afterV, head]`, probed DIRECTLY by
    * version through the `_head` pointer instead of listing the whole
    * commits dir — the same O(1)-per-read argument `latest()` uses,
    * applied to the txn-tail scans. The listing was the remaining
    * planner tax on MV-bearing tables (VERDICT r18 #1): the checkpoint
    * caps which files get PARSED, but `listDir` still enumerated all of
    * them first, and MvRewrite's freshness pins run per plan node. The
    * probe is O(head − afterV) stat calls — bounded by the checkpoint
    * fold interval (64) in steady state — independent of total commit
    * count. A vacuumed version inside the range is safely skipped: the
    * fold-then-delete contract means a missing commit's stamps are
    * already folded (its version ≤ some checkpoint ≤ afterV in practice).
    * No hint → the legacy full listing (young/legacy tables).
    */
  private def tailCommitFiles(root: String, afterV: Long): Seq[Path] = {
    def legacyList: Seq[Path] =
      listDir(commitsDir(root))
        .filter(_.getFileName.toString.endsWith(".commit"))
        .filter(_.getFileName.toString.stripSuffix(".commit").toLong > afterV)
    readHeadHint(root)
      .filter(h => Files.exists(commitFile(root, h))) match {
      case Some(h) =>
        var head = h
        while (Files.exists(commitFile(root, head + 1))) head += 1
        // a walked head BELOW afterV means the hint is provably stale (the
        // checkpoint proves commits ≥ afterV existed) and the walk-forward
        // was stranded under a vacuum-retention gap; an empty tail here
        // would silently UNDER-report high-water marks — the
        // double-apply/duplicate-load direction for ledger dedup and
        // refresh replay guards. Fall back to the full listing
        // (ADVICE r19, low).
        if (head < afterV) legacyList
        else {
          val probed = (afterV + 1 to head).iterator
            .map(commitFile(root, _)).filter(Files.exists(_)).toSeq
          // a MISSING version strictly inside (afterV, head] proves a
          // vacuum gap in the live range — and a gap means the hint's
          // walk-forward may equally have been stranded UNDER a second
          // gap above `head` with live commits beyond it (ADVICE r20,
          // low: the same truncated-tail/under-reported-high-water-marks
          // hazard as head < afterV). Gaps never exist in steady state
          // (vacuum drops a contiguous prefix and heals the hint), so
          // the fallback costs nothing on the hot path.
          if (probed.length == (head - afterV).toInt) probed
          else legacyList
        }
      case None => legacyList
    }
  }

  /** Bulk [[lastTxnVersion]]: the high-water mark of EVERY app in
    * `appIds`, from ONE checkpoint read + ONE commit-log tail scan. A
    * COPY INTO batch asserts one stamp per file; probing them one
    * lastTxnVersion call each would re-parse the log tail per file —
    * O(files × tail) — where this is O(tail).
    */
  def lastTxnVersions(root: String, appIds: Set[String]): Map[String, Long] = {
    val (ckptV, base) = readTxnCheckpoint(root)
    val tail = tailCommitFiles(root, ckptV).iterator
      .flatMap(f => parseCommit(f)._2)
      .filter(t => appIds(t.appId))
      .toSeq
    (base.view.filterKeys(appIds).toSeq ++
      tail.map(t => t.appId -> t.version))
      .groupMapReduce(_._1)(_._2)(math.max)
  }

  /** Every app id starting with `prefix` that has EVER stamped a commit,
    * with its high-water mark — one checkpoint read + a tail scan, shared
    * by ledger-style consumers (COPY INTO's per-file ingest stamps) that
    * would otherwise pay one [[lastTxnVersion]] log scan PER entry. The
    * checkpoint fold keeps this log-scale and vacuum-proof: a stamp in an
    * expired commit survives in the fold, so "was this file ever loaded"
    * stays answerable forever.
    */
  def txnAppsWithPrefix(root: String, prefix: String): Map[String, Long] = {
    val (ckptV, base) = readTxnCheckpoint(root)
    val tail = tailCommitFiles(root, ckptV).iterator
      .flatMap(f => parseCommit(f)._2)
      .filter(_.appId.startsWith(prefix))
      .toSeq
    (base.view.filterKeys(_.startsWith(prefix)).toSeq ++
      tail.map(t => t.appId -> t.version))
      .groupMapReduce(_._1)(_._2)(math.max)
  }

  /** Fold txn stamps of commits ≤ some version into one tiny summary
    * file, cut every [[TxnCheckpointInterval]] commits and — critically —
    * BEFORE expireSnapshots deletes old commit files: stamps recorded only
    * in expired commits would otherwise vanish, and a crashed streaming
    * writer replaying a pre-vacuum batch would double-apply it. Delta
    * survives this exact scenario because checkpoints carry `txn` actions
    * past log truncation; this is that contract.
    *
    * Format (TSV): `version\tV` then one `app\thighWater` line per app,
    * meaning "every stamp in commits ≤ V is folded here". Readers treat
    * a MISSING file as V = -1 (full scan — always correct); an
    * UNREADABLE one throws, see [[readTxnCheckpoint]].
    * Published via temp-file + atomic rename; a lost update race between
    * two concurrent folders leaves the OLDER checkpoint, which only
    * lengthens the tail scan, never loses a stamp (commit files ≤ V are
    * deleted only by expireSnapshots, which folds first).
    */
  private[graft] val TxnCheckpointInterval = 64L

  private def txnCheckpointFile(root: String): Path =
    commitsDir(root).resolve("_txn_checkpoint")

  /** (covered version, app → high-water); (-1, empty) = no checkpoint.
    * An UNREADABLE checkpoint throws: after a VACUUM the fold is the ONLY
    * copy of the expired commits' stamps, so "degrade to a full scan"
    * would silently forget the ledger — a recovering streaming writer
    * would double-apply and COPY INTO would reload every ingested file.
    * Corruption is also genuinely exceptional: the writer publishes via
    * temp-file + atomic link, so readers never see a partial file.
    */
  private def readTxnCheckpoint(root: String): (Long, Map[String, Long]) = {
    val f = txnCheckpointFile(root)
    if (!Files.exists(f)) return (-1L, Map.empty)
    try {
      val lines = Files.readString(f).trim.linesIterator.toSeq
      val Array(tag, v) = lines.head.split("\t", 2)
      require(tag == "version")
      (v.toLong, lines.drop(1).map { l =>
        val Array(app, hv) = l.split("\t", 2)
        app -> hv.toLong
      }.toMap)
    } catch {
      case e: Exception => throw new IllegalStateException(
        s"txn checkpoint at $f is unreadable — refusing to treat it as " +
          "absent (stamps folded from vacuumed commits would be " +
          "forgotten, breaking exactly-once replay); restore the file " +
          "or re-create it from a log backup", e)
    }
  }

  /** Per-root monitor serializing checkpoint folds against the
    * fold-then-delete phase of [[expireSnapshots]] within this JVM. The
    * hazard it closes: a fold that read a STALE checkpoint version, then
    * listed the commit dir AFTER a concurrent expire folded and deleted
    * old commit files, would build its fold from an empty base plus only
    * the surviving tail — and its atomic move, carrying a HIGHER covered
    * version, would replace the good checkpoint, permanently losing the
    * deleted commits' stamps (broken exactly-once: recovering streaming
    * writers double-apply, COPY INTO reloads ingested files).
    */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(root: String): Object = rootLocks.computeIfAbsent(
    Paths.get(root).toAbsolutePath.normalize.toString, _ => new Object)

  /** The monitor PLUS a cross-process guard: an OS-level exclusive
    * advisory lock on `_commits/.ckpt.lock` (on `.ckpt.lock` in the dir
    * itself for a namespace dir, which must never grow a `_commits/`: that
    * is what makes a dir a table), held for the duration of `body`. The
    * in-JVM monitor alone cannot serialize a fold in THIS process against
    * an expire's fold-then-delete in ANOTHER (two maintenance jobs on one
    * warehouse is a normal deployment); the optimistic re-validation
    * narrows that window but a fold that passed validation can still be
    * overtaken before its atomic move lands. The
    * file lock closes it: both writers of the checkpoint (fold and
    * expire) hold the same OS lock across their read-modify-move, and so
    * does [[editConfig]] across the config record's.
    * Reentrant per thread (expire's pre-delete fold runs under the lock
    * it already holds); `java.nio` FileLocks are not, so depth-track.
    */
  private val rootLockDepth: ThreadLocal[scala.collection.mutable.Map[String, Int]] =
    ThreadLocal.withInitial(() => scala.collection.mutable.Map.empty[String, Int])
  private def withRootLock[T](root: String)(body: => T): T = {
    val key = Paths.get(root).toAbsolutePath.normalize.toString
    lockFor(root).synchronized {
      val depths = rootLockDepth.get()
      if (depths.getOrElse(key, 0) > 0) {
        depths(key) += 1
        try body finally { depths(key) -= 1; () }
      } else {
        val lockDir = if (Files.isDirectory(commitsDir(root))) commitsDir(root)
          else Paths.get(root)
        val ch = java.nio.channels.FileChannel.open(
          lockDir.resolve(".ckpt.lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val l = ch.lock()
          depths(key) = 1
          try body
          finally { depths(key) = 0; l.release() }
        } finally ch.close()
      }
    }
  }

  /** Test seam: fires after the fold reads its base checkpoint and before
    * it lists the commit dir — the exact window the fold-vs-expire race
    * needs (SnapshotStoreSpec drives a deterministic interleave through it).
    */
  private[graft] var txnFoldTestHook: () => Unit = () => ()

  private[graft] def writeTxnCheckpoint(root: String, upTo: Long): Unit =
    withRootLock(root) {
      var done = false
      while (!done) {
        val (ckptV, base) = readTxnCheckpoint(root)
        if (ckptV >= upTo) return
        txnFoldTestHook()
        val folded = listDir(commitsDir(root)).iterator
          .filter(_.getFileName.toString.endsWith(".commit"))
          .filter { f =>
            val v = f.getFileName.toString.stripSuffix(".commit").toLong
            v > ckptV && v <= upTo
          }
          .flatMap(f => parseCommit(f)._2)
          .foldLeft(base) { case (m, t) =>
            m.updated(t.appId, math.max(m.getOrElse(t.appId, Long.MinValue), t.version))
          }
        // optimistic validation (belt to the monitor's suspenders, and the
        // cross-process guard): if ANOTHER folder advanced the checkpoint
        // while we listed, its fold may cover commits a concurrent expire
        // has since deleted — our fold base is stale, so retry from the
        // NEW checkpoint instead of replacing it with a lossy one
        val (nowV, _) = readTxnCheckpoint(root)
        if (nowV == ckptV) {
          val tmp = Files.createTempFile(commitsDir(root), ".ckpt", ".tmp")
          Files.writeString(tmp, s"version\t$upTo" +
            folded.toSeq.sortBy(_._1).map { case (a, v) => s"\n$a\t$v" }.mkString)
          Files.move(tmp, txnCheckpointFile(root),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          done = true
        }
      }
    }

  /** The table's commit history as a DataFrame — the DESCRIBE HISTORY
    * audit surface: one row per committed version with its data dir and
    * any streaming-writer txn stamp. Log-scale (one tiny file per
    * version), driver-side listing only.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    listDir(commitsDir(root))
      .filter(_.getFileName.toString.endsWith(".commit"))
      .sortBy(_.getFileName.toString)
      .map { f =>
        val v = f.getFileName.toString.stripSuffix(".commit").toLong
        val (dir, txns) = parseCommit(f)
        // flat columns carry the first stamp (the single-stamp norm reads
        // unchanged); txn_stamps carries the FULL set so multi-stamp
        // commits (join-MV refreshes: both feeds' high-water marks in one
        // commit) are auditable — a replay decision depends on every stamp
        (v, dir, txns.headOption.map(_.appId), txns.headOption.map(_.version),
          txns.map(t => (t.appId, t.version)))
      }
      .toDF("version", "data_dir", "txn_app_id", "txn_version", "txn_stamps")
      .withColumn("txn_stamps", org.apache.spark.sql.functions.expr(
        "transform(txn_stamps, s -> named_struct('app_id', s._1, 'version', s._2))"))
  }

  /** The snapshot's schema, as its record pins it: every version pins
    * one (v0 at [[init]], each later version through [[carryTableState]];
    * [[alterSchema]] pins the evolved one), so it is never inferred from
    * parquet footers.
    */
  def readSchema(spark: SparkSession, snap: Snapshot):
      org.apache.spark.sql.types.StructType =
    readState(snap.dataDir).schema

  def read(spark: SparkSession, snap: Snapshot): DataFrame =
    // the pinned schema: evolved columns null-fill in the vectorized
    // reader (ALTER), partition values keep their committed types and
    // positions (partitioned layouts) — see readDir
    readDir(spark, snap.dataDir)

  def read(spark: SparkSession, root: String): DataFrame =
    read(spark, latest(root))

  /** Metadata-only schema evolution — the `ALTER TABLE ADD/DROP COLUMN`
    * engine path. Commits a NEW version whose data dir hard-links every
    * parquet file of the base snapshot (zero data movement — at 100 TB a
    * column add that rewrites the table is a non-starter; on an object
    * store the same commit just re-references the files in a manifest) and
    * pins the evolved schema in its record, which [[read]] honors.
    * Added columns must be nullable (existing rows null-fill at read).
    * Runs under the same optimistic CAS as any transaction. The new
    * version carries no `_manifest` (stats columns may have changed); on a
    * CDC table it lands an EMPTY change set — schema changes are not row
    * changes.
    *
    * `renames` (`newName -> oldName`, applied AFTER `evolve`) is the
    * `ALTER TABLE RENAME COLUMN` path: the field keeps its type and
    * metadata under the new name, files are hard-linked untouched, and the
    * record's rename chains ([[readRenames]]) make every read resolve the old
    * physical name into the new logical one (the Iceberg field-id /
    * Delta column-mapping trick, by name chain instead of id). Chained
    * renames compose; a later full-rewrite commit heals the mapping.
    * On CDC tables the feed survives a rename: each version's change
    * frame carries the names current at ITS commit, [[changes]] resolves
    * old frames through the chain, and a renamed CDC KEY remaps the
    * record's CDC keys.
    * Refused when it could silently corrupt:
    *   - partition columns (directory names ARE the physical layout),
    *   - columns referenced by CHECK constraints or generated/default
    *     expressions (stored as SQL text — a rename would dangle them),
    *   - a target name that files still carry physically (a dropped or
    *     previously-renamed column's stored values would alias into the
    *     new column through the coalesce chain).
    */
  def alterSchema(spark: SparkSession, root: String,
      evolve: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType,
      maxAttempts: Int = 10,
      renames: Map[String, String] = Map.empty): Snapshot = {
    commitLoop(root, maxAttempts, guarded = false) { base =>
      val baseSchema = readSchema(spark, base)
      val evolved = evolve(baseSchema)
      val baseRen = readRenames(base.dataDir)
      val (next, ren) =
        if (renames.isEmpty)
          // prune chains of columns/fields the evolve dropped: a later ADD
          // of a dropped name must not inherit its stale physical chain
          (evolved, baseRen.filter { case (k, _) =>
            logicalPathExists(evolved, k) })
        else
          applyRenames(spark, root, base, baseSchema, evolved, baseRen, renames)
      val added = next.filterNot(f => baseSchema.exists(_.name == f.name) ||
        renames.keySet.exists(_.equalsIgnoreCase(f.name)))
      require(added.forall(_.nullable),
        s"added columns must be nullable (existing rows null-fill): " +
          added.filterNot(_.nullable).map(_.name).mkString(", "))
      // an added column must not collide with a physical name some file
      // still carries (its stored values would bleed in through the chain)
      val physicalNames = ren.values.flatten.map(_.toLowerCase).toSet
      val collide = added.filter(f => physicalNames.contains(f.name.toLowerCase))
      require(collide.isEmpty,
        s"column name(s) ${collide.map(_.name).mkString(", ")} are still " +
          s"carried physically by pre-rename files of $root; OPTIMIZE " +
          "(full rewrite) first, then add")
      // same rule one struct level down: a nested ADD must not reuse a
      // field name pre-rename files still physically carry in that struct
      next.fields.foreach { f =>
        f.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            val chains = ren.collect {
              case (k, olds) if k.startsWith(f.name.toLowerCase + ".") =>
                olds.map(_.split('.').last.toLowerCase)
            }.flatten.toSet
            val clash = st.fieldNames.map(_.toLowerCase).toSet
              .intersect(chains)
            require(clash.isEmpty,
              s"field name(s) ${clash.mkString(", ")} of ${f.name} are " +
                s"still carried physically by pre-rename files of $root; " +
                "OPTIMIZE (full rewrite) first, then add")
          case _ => ()
        }
      }
      // on a CDC table a RETIRED feed name (the old side of any feed-log
      // rename) is never reusable — not for ADD, not as a rename target:
      // pre-rename change FRAMES carry it physically forever (the feed log
      // is append-only and a healing OPTIMIZE only drops the per-snapshot
      // rename chains, never the frames), so a reused name would serve the OLD
      // column's frame values through changes()'s unguarded head leg and
      // feedNameAt would forward-walk the new column into the rename
      // target. The per-snapshot chain guard above cannot see this after a
      // heal; the feed log can.
      if (cdcKeys(root).nonEmpty) {
        val retiredAt = feedRenames(root).map(r => r._2.toLowerCase -> r._1).toMap
        // every CURRENT path (top-level and one struct level down) must
        // avoid every retired feed name: a current path can only equal a
        // retired one through ADD or a rename TARGET — both reuses
        val paths = next.fields.toIndexedSeq.flatMap { f =>
          f.name +: (f.dataType match {
            case st: org.apache.spark.sql.types.StructType =>
              st.fields.toIndexedSeq.map(nf => s"${f.name}.${nf.name}")
            case _ => Nil
          })
        }
        val reuse = paths.filter(n => retiredAt.contains(n.toLowerCase))
        require(reuse.isEmpty,
          s"column name(s) ${reuse.distinct.mkString(", ")} were retired by " +
            s"RENAME COLUMN (at version(s) ${reuse.distinct.map(n =>
              retiredAt(n.toLowerCase)).mkString(", ")}) and live on in " +
            s"$root's historical change frames; a CDC table cannot reuse a " +
            "retired name — pick a distinct one")
      }
      // every spec the snapshot spans keys files by its columns — a
      // schema change may not orphan any of them
      val specCols = readSpecs(base.dataDir).flatMap(_._2) ++ partitionCols(root)
      val lostSpec = specCols.distinct.filterNot(c =>
        next.exists(_.name.equalsIgnoreCase(c)))
      require(lostSpec.isEmpty,
        s"cannot drop/rename partition-spec column(s) " +
          s"${lostSpec.mkString(", ")} of $root (directory layout)")
      val dir = freshDir(root)
      linkParquetTree(base.dataDir, dir)
      // the evolved mapping replaces the carried one
      carryTableState(base.dataDir, dir, Some(next), edit = _.copy(renames = ren))
      writeChanges(root, dir, noChanges(spark, next))
      // the append-only FEED rename log ([[feedRenames]]): unlike the
      // per-snapshot rename chains, this survives healing rewrites — old
      // change frames keep their written names forever. A renamed CDC KEY
      // column remaps the record's keys in the same edit — after the CAS
      // win, like the partition spec in alterPartitionSpec (the narrow
      // crash window costs a failed diff on the NEXT transact, never a
      // wrong feed)
      Staged(dir, onWin = v => if (renames.nonEmpty) editConfig(root)(c =>
        c.copy(
          renames = c.renames ++ renames.map { case (nw, old) => (v, old, nw) },
          cdcKeys = c.cdcKeys.map(k =>
            renames.find(_._2.equalsIgnoreCase(k)).map(_._1).getOrElse(k)))))
    }
  }

  /** Every column any era's directory LAYOUT depends on: the current
    * partition spec plus every evolved era's spec (their subtree dirs
    * still encode the old columns). Renaming or dropping one would
    * orphan directories.
    */
  private[graft] def allLayoutCols(root: String): Set[String] =
    (partitionCols(root) ++
      readSpecs(latest(root).dataDir).flatMap(_._2)).map(_.toLowerCase).toSet

  /** Validate + apply `newName -> oldName` renames to `evolved`, composing
    * the physical-name chains (see [[alterSchema]]'s refusal list).
    */
  private def applyRenames(spark: SparkSession, root: String, base: Snapshot,
      baseSchema: org.apache.spark.sql.types.StructType,
      evolved: org.apache.spark.sql.types.StructType,
      baseRen: Map[String, Seq[String]], renames: Map[String, String]):
      (org.apache.spark.sql.types.StructType, Map[String, Seq[String]]) = {
    // CDC tables are FINE to rename on: each version's change frame is
    // written under the names current at ITS commit, and [[changes]]
    // resolves old frames' physical names through the same chain reads
    // use — the feed never forks. Renamed CDC KEY columns remap the CDC
    // keys after the commit wins (see alterSchema). Spanning tables are
    // fine too: the per-era reads apply the same coalesce projection, and
    // the spec-column guard below keeps every era's layout columns named.
    val parts = allLayoutCols(root)
    // SQL-text references a rename would dangle: CHECK constraints,
    // generated columns, column defaults
    val exprTexts = tableConstraints(root).map(_._2) ++
      evolved.fields.flatMap { f =>
        Seq(GraftCatalog.GenerationExprKey, "CURRENT_DEFAULT", "EXISTS_DEFAULT")
          .filter(f.metadata.contains).map(f.metadata.getString)
      }
    var schema = evolved
    var ren = baseRen
    renames.foreach { case (newName, oldName) =>
      if (newName.contains('.') || oldName.contains('.')) {
        // NESTED rename (`props.language` -> `props.lang`, or deeper:
        // `a.b.c` -> `a.b.d`): same metadata-only commit, chain keyed by
        // the DOTTED logical path, physical names stored dotted too (so
        // they never collide with top-level guards). Any depth, like
        // nested ADD/widen — the rename stays inside its own struct (only
        // the LEAF segment changes, Spark's RenameColumn contract).
        val np = newName.split('.'); val op = oldName.split('.')
        require(np.length == op.length && np.length >= 2 &&
          np.init.zip(op.init).forall { case (a, b) => a.equalsIgnoreCase(b) },
          s"nested rename must stay inside its struct: $oldName -> $newName")
        val parentPath = op.init.toSeq
        val oldF = op.last; val newF = np.last
        val parentKey = parentPath.map(_.toLowerCase).mkString(".")
        val oldKey = s"$parentKey.${oldF.toLowerCase}"
        // CDC feeds resolve nested renames through dotted feed-log
        // entries (changes() rebuilds the struct with version-guarded
        // legs) — but composing that with a rename of ANY ancestor (or of
        // the field's own subtree) has no sound one-pass resolution;
        // refuse those combinations
        if (cdcKeys(root).nonEmpty) {
          val log = feedRenames(root)
          (1 to parentPath.length).map(i => parentPath.take(i).mkString("."))
            .foreach { anc =>
              require(feedChain(log, anc).isEmpty,
                s"ancestor $anc of $oldName was itself renamed earlier on " +
                  "this CDC table; a nested rename inside it cannot compose " +
                  "with that feed chain — OPTIMIZE (full rewrite) first")
            }
          require(!log.exists(r =>
            r._2.toLowerCase.startsWith(oldKey + ".") ||
              r._3.toLowerCase.startsWith(oldKey + ".")),
            s"fields inside $oldName carry nested feed-rename chains on " +
              "this CDC table; renaming the struct field itself cannot " +
              "compose with them — OPTIMIZE (full rewrite) first")
        }
        // the SIDECAR chains break the same way on ANY table (CDC or
        // not): a nested chain after an ancestor rename would rebuild the
        // struct ignoring the ancestor's coalesce legs, silently reading
        // pre-rename nested values as NULL. Refuse while any ancestor
        // still carries a live chain (in this batch or a prior commit),
        // and refuse renaming a struct field whose OWN subtree carries
        // chains; OPTIMIZE clears the chains and re-enables both.
        (1 to parentPath.length).map(i =>
          parentPath.take(i).map(_.toLowerCase).mkString("."))
          .foreach { ancKey =>
            require(!ren.contains(ancKey),
              s"ancestor $ancKey of $oldName was itself renamed and its " +
                "files not yet rewritten; a nested rename inside it cannot " +
                "compose with that sidecar chain — OPTIMIZE (full rewrite) " +
                "first")
          }
        require(!ren.keys.exists(_.startsWith(oldKey + ".")),
          s"fields inside $oldName carry rename chains and their files " +
            "are not yet rewritten; renaming the struct field itself " +
            "cannot compose with them — OPTIMIZE (full rewrite) first")
        val st = structAtPath(schema, parentPath).getOrElse(
          throw new IllegalArgumentException(
            s"${parentPath.mkString(".")} of $root is not a struct path"))
        val oIdx = st.fields.indexWhere(_.name.equalsIgnoreCase(oldF))
        require(oIdx >= 0, s"no such field $oldName in $root")
        require(!st.exists(_.name.equalsIgnoreCase(newF)),
          s"field $newName already exists in $root")
        val refd = exprTexts.filter(_.matches("(?is).*\\b" +
          parentPath.map(java.util.regex.Pattern.quote)
            .mkString("", "\\s*\\.\\s*", "\\s*\\.\\s*") +
          java.util.regex.Pattern.quote(oldF) + "\\b.*"))
        require(refd.isEmpty,
          s"cannot rename $oldName: referenced by stored SQL expression(s) " +
            s"(constraint/default/generated): ${refd.take(2).mkString("; ")}")
        // stale-shadow guard, inside the struct: no file may still
        // physically carry the target field name
        val physInStruct =
          structAtPath(spark.read.parquet(base.dataDir).schema, parentPath)
            .toSeq.flatMap(_.fieldNames.toSeq).map(_.toLowerCase).toSet ++
          ren.collect { case (k, olds) if k.startsWith(s"$parentKey.") =>
            olds.map(_.split('.').last.toLowerCase) }.flatten
        require(!physInStruct.contains(newF.toLowerCase),
          s"files of $root still physically carry a field named $newName " +
            "(dropped or renamed-away); OPTIMIZE (full rewrite) first")
        val nf = st.fields(oIdx)
        schema = GraftCatalog.renameNestedField(schema, parentPath, oldF, newF)
        val chain = s"${parentPath.mkString(".")}.${nf.name}" +:
          ren.getOrElse(oldKey, Nil)
        ren = (ren - oldKey) + (s"$parentKey.${newF.toLowerCase}" -> chain)
      } else {
      val idx = schema.fields.indexWhere(_.name.equalsIgnoreCase(oldName))
      require(idx >= 0, s"no such column $oldName in $root " +
        s"(columns: ${schema.fields.map(_.name).mkString(", ")})")
      require(!schema.exists(_.name.equalsIgnoreCase(newName)),
        s"column $newName already exists in $root")
      require(!parts.contains(oldName.toLowerCase),
        s"cannot rename partition column $oldName (directory layout)")
      // the mirror of the nested-branch guard: renaming a struct column
      // whose FIELDS carry dotted feed chains cannot compose either
      if (cdcKeys(root).nonEmpty)
        require(!feedRenames(root).exists(r =>
          r._2.toLowerCase.startsWith(oldName.toLowerCase + ".") ||
            r._3.toLowerCase.startsWith(oldName.toLowerCase + ".")),
          s"fields inside $oldName carry nested feed-rename chains on this " +
            "CDC table; renaming the struct column itself cannot compose " +
            "with them — OPTIMIZE (full rewrite) first")
      // sidecar mirror, any table: renaming the parent would re-key away
      // from the dotted chains (the prune below would silently drop them
      // and pre-rename files' nested values would read as NULL)
      require(!ren.keys.exists(_.startsWith(oldName.toLowerCase + ".")),
        s"fields inside $oldName carry nested rename chains and their " +
          "files are not yet rewritten; renaming the struct column itself " +
          "cannot compose with them — OPTIMIZE (full rewrite) first")
      val refd = exprTexts.filter(
        _.matches(s"(?is).*\\b${java.util.regex.Pattern.quote(oldName)}\\b.*"))
      require(refd.isEmpty,
        s"cannot rename $oldName: referenced by stored SQL expression(s) " +
          s"(constraint/default/generated): ${refd.take(2).mkString("; ")}")
      // stale-shadow guard: no file may still PHYSICALLY carry the target
      // name (a dropped column's stored values would alias in via the
      // coalesce chain). Footer union of the current snapshot = the full
      // physical name set.
      val physical = spark.read.parquet(base.dataDir).schema
        .map(_.name.toLowerCase).toSet ++ ren.values.flatten.map(_.toLowerCase)
      require(!physical.contains(newName.toLowerCase),
        s"files of $root still physically carry a column named $newName " +
          "(dropped or renamed-away); OPTIMIZE (full rewrite) first")
      val f = schema.fields(idx)
      schema = org.apache.spark.sql.types.StructType(
        schema.fields.updated(idx, f.copy(name = newName)))
      val oldKey = f.name.toLowerCase
      val chain = f.name +: ren.getOrElse(oldKey, Nil)
      ren = (ren - oldKey) + (newName.toLowerCase -> chain)
      }
    }
    // prune chains whose logical column (or dotted field path) is gone
    (schema, ren.filter { case (k, _) => logicalPathExists(schema, k) })
  }

  /** Does the (possibly dotted, any depth) logical path exist in `s`?
    * The rename-chain prune rule: a chain whose column or struct field
    * was dropped must not survive (a later ADD of the name would inherit
    * the stale physical chain).
    */
  private def logicalPathExists(s: org.apache.spark.sql.types.StructType,
      key: String): Boolean = {
    val parts = key.split('.').toSeq
    structAtPath(s, parts.init)
      .exists(_.fields.exists(_.name.equalsIgnoreCase(parts.last)))
  }

  /** The struct at the dotted `path` (the root when empty), or None when
    * any segment is missing or not a struct.
    */
  private def structAtPath(s: org.apache.spark.sql.types.StructType,
      path: Seq[String]): Option[org.apache.spark.sql.types.StructType] =
    path match {
      case Seq() => Some(s)
      case head +: rest =>
        s.fields.find(_.name.equalsIgnoreCase(head)).flatMap(_.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            structAtPath(st, rest)
          case _ => None
        })
    }

  /** RESTORE: roll the table back to an earlier committed version as a NEW
    * commit (history stays immutable and linear — the public Delta
    * `RESTORE TABLE … TO VERSION AS OF` semantics). METADATA-ONLY: the
    * target version's parquet files are hard-linked into the new version's
    * dir (on an object store this is a manifest re-reference), and its
    * snapshot record travels with them, so a restore across an ALTER
    * boundary rolls the schema back too. Zero data rewrite regardless of
    * table size — the property that makes "undo the bad batch" an O(files)
    * operation at 100 TB.
    *
    * The restored rows also get one pass through the table's CHECK
    * constraints (a constraint added AFTER `toVersion` may reject the old
    * data — refusing is the only honest outcome), and on CDC tables the
    * commit emits the keyed diff current→restored so downstream feeds and
    * replicas converge to the restored state instead of silently
    * diverging. The links additionally pin the restored files against a
    * later `expireSnapshots` of the original version (inodes survive the
    * old dir's deletion).
    */
  def restore(spark: SparkSession, root: String, toVersion: Long,
      maxAttempts: Int = 10): Snapshot = {
    import org.apache.spark.sql.functions.{col, lit}
    val target = at(root, toVersion)
    require(Files.exists(Paths.get(target.dataDir)),
      s"version $toVersion of $root was vacuumed; cannot restore")
    commitLoop(root, maxAttempts, guarded = false) { base =>
      if (base.version == toVersion) Settled(base) // restore to head: no-op
      else {
        val restored = read(spark, target)
        // one pass of the restored rows through the CHECK constraints, as
        // observed metrics of a sink-less write
        if (tableConstraints(root).nonEmpty)
          checkedWrite(root, restored)(
            _.write.format("noop").mode("overwrite").save())
        val dir = freshDir(root)
        linkParquetTree(target.dataDir, dir)
        // the snapshot record — pinned schema, spec eras, rename chains and
        // identity high-water mark — travels WITH the snapshot: restoring
        // to a pre-evolution version must also restore the write-side spec
        // (or the next append would lay out rows by a spec the restored
        // snapshot never had), and the identity mark rolls back with the
        // data (ids re-allocated after the restore can repeat values that
        // exist only in the undone, still-time-travelable versions)
        carryTableState(target.dataDir, dir)
        val effectiveSpec = readSpecs(target.dataDir) match {
          case s if s.nonEmpty => Some(s.last._2)
          case _ =>
            // era-less target WITH files: its PHYSICAL layout is the
            // truth — the current head's eras are NOT (after
            // evolve→heal→re-evolve, the head's first era is the
            // HEAL-time layout, which the target may predate). An EMPTY
            // target has no physical truth; the best record is the head's
            // ORIGINAL spec (exact for a plain pending
            // evolution; after a heal the original is unrecorded and the
            // declared spec stands)
            if (hasDataFiles(target.dataDir)) {
              val phys = layoutCols(target.dataDir)
              if (phys.map(_.toLowerCase) !=
                  partitionCols(root).map(_.toLowerCase)) Some(phys) else None
            } else readSpecs(base.dataDir) match {
              case s if s.nonEmpty => Some(s.head._2)
              case _ => None
            }
        }
        writeChanges(root, dir, {
          // feed schema = the RESTORED version's columns (the table's schema
          // from this commit on); a column the head grew and the restore
          // removes simply leaves the feed — consumers track live schema
          val cols = restored.columns.toIndexedSeq
          val head = read(spark, base)
          val headAligned = head.select(cols.map(c =>
            (if (head.columns.contains(c)) col(c)
             else lit(null).cast(restored.schema(c).dataType)).as(c)): _*)
          diffChanges(headAligned, restored, cdcKeys(root))
        })
        Staged(dir, onWin = _ => effectiveSpec.foreach(cols =>
          editConfig(root)(_.copy(partitionCols = cols))))
      }
    }
  }

  /** SHALLOW CLONE: create a NEW independent table whose v0 is the
    * source's current snapshot, without copying data — hard-links again
    * (Delta `CREATE TABLE … SHALLOW CLONE src`). Writes to either table
    * after the clone never touch the other (each commit stages a fresh
    * dir; the shared inodes are immutable), and table-level config travels:
    * the whole config record except the feed rename log (keyed by the
    * source's versions) is copied, so DML mode, constraints, transform
    * specs and properties hold on the clone, and on CDC sources the clone
    * keeps the keys with the cloned rows as its v0 `insert` feed (a replica built
    * from the clone's feed starts from the cloned state). The dominant use
    * is zero-cost dev/test forks of production tables.
    */
  def shallowClone(spark: SparkSession, srcRoot: String, dstRoot: String,
      srcSnap: Option[Snapshot] = None): Snapshot = {
    import org.apache.spark.sql.functions.lit
    val src = srcSnap.getOrElse(latest(srcRoot))
    require(!Files.exists(commitsDir(dstRoot)) ||
      listDir(commitsDir(dstRoot)).isEmpty,
      s"clone target $dstRoot already exists")
    Files.createDirectories(commitsDir(dstRoot))
    val dir = freshDir(dstRoot)
    linkParquetTree(src.dataDir, dir)
    // the snapshot record travels: schema, spec eras and rename chains, and
    // the clone continues identity numbering
    carryTableState(src.dataDir, dir)
    val cfg = readConfig(srcRoot)
    if (cfg.cdcKeys.nonEmpty && !linkInsertChanges(Paths.get(dir)))
      // non-flat clone (partition/spec subtrees, a _dv sidecar whose
      // deleted positions must not enter the feed, renamed physical
      // names): materialize the resolved read the legacy way
      readDir(spark, dir).withColumn(ChangeTypeCol, lit("insert"))
        .write.mode("overwrite").parquet(s"$dir/_changes")
    if (!tryCommit(dstRoot, expectedCurrent = -1L, dir))
      throw new CommitConflictException(s"clone target $dstRoot already initialized")
    // config lands only after the v0 commit is won (same race rule as
    // init); the feed rename log stays behind: its versions are the source's
    editConfig(dstRoot)(_ => cfg.copy(renames = Nil))
    Snapshot(0L, dir)
  }

  // ---- WRITE-AUDIT-PUBLISH branches ----------------------------------------
  // The Iceberg staged-commit pattern from zero-copy forks: createBranch
  // shallow-clones the current snapshot under `root/_branches/<name>`
  // (hard links — no data moves) and records the fork base version. The
  // branch IS a table, so a pipeline stages through every normal API
  // (DML, append, OPTIMIZE, SqlDml) and auditors read it, while the
  // production table never sees a staged row. publishBranch SQUASHES the
  // branch head back onto the source as ONE commit that hard-links the
  // branch head's files — O(#files) metadata, zero data movement —
  // REFUSED if the source advanced past the fork base: staged work was
  // audited against a snapshot that no longer exists, so publish is
  // first-writer-wins, never a silent merge (re-fork and re-stage). On
  // CDC tables the published commit's change set is the squash diff
  // against the source head — audited-away intermediate states never
  // reach downstream consumers.

  private def branchesDir(root: String): Path = Paths.get(root, "_branches")

  /** The branch's own table root — every SnapshotStore/SqlDml API works
    * on it directly.
    */
  def branchRoot(root: String, name: String): String = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"invalid branch name '$name'")
    branchesDir(root).resolve(name).toString
  }

  /** Fork `root`'s current snapshot into branch `name` (zero-copy).
    * Returns the branch's v0; the fork base is recorded for publish's
    * staleness check.
    */
  def createBranch(spark: SparkSession, root: String, name: String): Snapshot = {
    val br = branchRoot(root, name)
    val base = latest(root)
    val snap = shallowClone(spark, root, br, srcSnap = Some(base))
    Files.writeString(Paths.get(br, "_base"), base.version.toString)
    snap
  }

  /** Branches of `root`: (name, fork base version, branch head version). */
  def branches(root: String): Seq[(String, Long, Long)] = {
    val d = branchesDir(root)
    if (!Files.isDirectory(d)) Nil
    else listDir(d).filter(p => Files.isDirectory(p) &&
      Files.exists(p.resolve("_base"))).map { p =>
      val name = p.getFileName.toString
      (name, Files.readString(p.resolve("_base")).trim.toLong,
        latest(p.toString).version)
    }.sortBy(_._1)
  }

  /** Squash-publish branch `name`'s head onto `root` as one commit.
    * Layout/config changes staged on the branch (partition spec, CHECK
    * constraints) follow the publish, like RESTORE. The branch itself is
    * left in place for [[dropBranch]] — publishing twice is refused by the
    * staleness/overlap checks (the publish itself advanced the source
    * and touched the branch's own keys).
    *
    * A source that ADVANCED past the fork base (live ingest during a long
    * audit — the q91 topology) takes the REBASE path ([[rebasePublish]]):
    * when the table has a change feed and the interim source commits
    * touch a key set disjoint from the branch's squash diff, the diff
    * replays onto the current head as one keyed merge — sound, because no
    * interim commit invalidated anything the audit saw. Overlap, schema
    * drift, or a feed-less table still refuse loudly — publish never
    * silently merges conflicting edits.
    */
  def publishBranch(spark: SparkSession, root: String, name: String): Snapshot = {
    var restarts = 0
    while (true) {
      try return publishBranchOnce(spark, root, name)
      catch {
        case e: StaleStampException =>
          // a writer landed between the rebase's disjointness proof and
          // its commit — re-derive the proof against the new head
          restarts += 1
          if (restarts >= 5) throw e
        case e: CommitConflictException =>
          // a writer landed between the fast path's latest(root) and its
          // tryCommit — the retry re-derives and takes the rebase path
          // (exactly the case rebase-publish exists for)
          restarts += 1
          if (restarts >= 5) throw e
      }
    }
    sys.error("unreachable")
  }

  private def publishBranchOnce(spark: SparkSession, root: String,
      name: String): Snapshot = {
    val br = branchRoot(root, name)
    require(Files.exists(Paths.get(br, "_base")),
      s"no branch '$name' on $root")
    val baseV = Files.readString(Paths.get(br, "_base")).trim.toLong
    val head = latest(br)
    val cur = latest(root)
    // nothing staged → publish is a no-op, EVEN IF the source advanced
    // (an empty rebase would otherwise trip netChanges' empty-range guard)
    if (head.version == 0L) return cur
    if (cur.version != baseV)
      return rebasePublish(spark, root, name, br, baseV, head, cur)
    val dir = freshDir(root)
    linkParquetTree(head.dataDir, dir)
    carryTableState(head.dataDir, dir)
    // the branch's own feed-rename history (a fork starts with an empty
    // log, so every entry is branch-staged): the squash diff must align
    // a column RENAMED on the branch onto its old values in the source
    // head — a typed-NULL pad would report every row as changed with
    // null preimages — and the source's feed log must learn the rename
    // (re-versioned to the publish commit) or feeds spanning the publish
    // would null-fill pre-publish frames of the renamed column
    val brLog = feedRenames(br)
    def nameAtForkBase(c: String): String = {
      var n = c
      brLog.reverseIterator.foreach { case (_, old, nw) =>
        if (nw.equalsIgnoreCase(n)) n = old }
      n
    }
    // the BRANCH's key names: a CDC key renamed on the branch keeps the
    // branch config current (alterSchema remaps it), and the published
    // frame carries the new names — the root config follows after the CAS
    val keys = cdcKeys(br)
    if (keys.nonEmpty) {
      // schema staged on the branch may have grown columns the source
      // head lacks — align the head onto the published shape (typed-NULL
      // pads for genuinely-new columns, the restore rule; rename-chain
      // resolution for renamed ones) before the squash diff
      import org.apache.spark.sql.functions.{col, lit}
      val published = readDir(spark, dir)
      val curDf = read(spark, cur)
      val curAligned = curDf.select(published.columns.toIndexedSeq.map { c =>
        val atBase = nameAtForkBase(c)
        (if (curDf.columns.exists(_.equalsIgnoreCase(atBase))) col(atBase)
         else lit(null).cast(published.schema(c).dataType)).as(c)
      }: _*)
      diffChanges(curAligned, published, keys)
        .write.mode("overwrite").parquet(s"$dir/_changes")
    }
    if (!tryCommit(root, cur.version, dir))
      throw new CommitConflictException(
        s"$root advanced while publishing branch '$name'; re-fork")
    // config staged on the branch follows the publish — written after the
    // CAS win (the restore/alterPartitionSpec crash-window rule): the
    // partition spec, and the CHECK constraints added/dropped on the
    // branch (part of the audited state). Branch-staged RENAME COLUMNs
    // re-version into the SOURCE's feed log at the publish commit:
    // pre-publish frames of the source then resolve through the chain
    // (guarded `cv < publishVersion`) instead of null-filling, and the CDC
    // keys follow a renamed key
    val brCfg = readConfig(br)
    editConfig(root)(c => c.copy(
      partitionCols = brCfg.partitionCols,
      constraints = brCfg.constraints,
      renames = c.renames ++
        brLog.map { case (_, old, nw) => (cur.version + 1, old, nw) },
      cdcKeys = if (brLog.nonEmpty && keys.nonEmpty) keys else c.cdcKeys))
    Snapshot(cur.version + 1, dir)
  }

  /** Is the branch's schema delta vs its fork base the ADDITIVE subset a
    * rebase can replay — every base column still present (case-insensitive)
    * at the same or a widened type, every new column nullable, recursing
    * one rule for structs? Returns the refusal reason, or None when sound.
    */
  private def additiveDeltaRefusal(
      base: org.apache.spark.sql.types.StructType,
      head: org.apache.spark.sql.types.StructType): Option[String] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    def additive(from: DataType, to: DataType): Boolean = (from, to) match {
      case (f: StructType, t: StructType) =>
        f.fields.forall(ff => t.fields
          .find(_.name.equalsIgnoreCase(ff.name))
          .exists(tf => additive(ff.dataType, tf.dataType))) &&
          t.fields.forall(tf =>
            f.exists(_.name.equalsIgnoreCase(tf.name)) || tf.nullable)
      case (f, t) => f.catalogString == t.catalogString || GraftCatalog.widens(f, t)
    }
    val dropped = base.fields.filterNot(bf =>
      head.exists(_.name.equalsIgnoreCase(bf.name)))
    if (dropped.nonEmpty)
      return Some(s"the branch dropped/renamed column(s) " +
        s"${dropped.map(_.name).mkString(", ")} — only additive evolution " +
        "(nullable ADD COLUMN / type widening) replays onto an advanced head")
    val reshaped = base.fields.filter { bf =>
      val tf = head.fields.find(_.name.equalsIgnoreCase(bf.name)).get
      !additive(bf.dataType, tf.dataType)
    }
    if (reshaped.nonEmpty)
      return Some(s"the branch narrowed/reshaped column(s) " +
        s"${reshaped.map(_.name).mkString(", ")} — only additive evolution " +
        "(nullable ADD COLUMN / type widening) replays onto an advanced head")
    val added = head.fields.filterNot(tf =>
      base.exists(_.name.equalsIgnoreCase(tf.name)))
    val nonNull = added.filterNot(_.nullable)
    if (nonNull.nonEmpty)
      return Some(s"the branch added non-nullable column(s) " +
        s"${nonNull.map(_.name).mkString(", ")} — interim rows have no value " +
        "to fill")
    None
  }

  /** Apply `head`'s (validated-additive) delta onto `s`: matched columns
    * take head's (possibly wider / field-grown) type keeping `s`'s name
    * and metadata; head-only columns append as head declares them
    * (default metadata travels). `s`'s column order is preserved so the
    * ALTER composes with the root's own pinned schema, not the branch's.
    */
  private def evolveOnto(s: org.apache.spark.sql.types.StructType,
      head: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType = {
    val updated = s.fields.map { f =>
      head.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(hf) if f.dataType.catalogString != hf.dataType.catalogString =>
          f.copy(dataType = hf.dataType)
        case _ => f
      }
    }
    val added = head.fields.filterNot(hf =>
      s.exists(_.name.equalsIgnoreCase(hf.name)))
    org.apache.spark.sql.types.StructType(updated ++ added)
  }

  /** Rename a (possibly nested, dotted-path) field of `s` to `newLeaf`,
    * keeping its position/type/metadata — the schema-side image of one
    * branch-staged rename leg, used to express the fork base in the
    * branch's names when classifying a rename+evolution combo.
    */
  private def renameInSchema(s: org.apache.spark.sql.types.StructType,
      oldPath: Seq[String], newLeaf: String):
      org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map { f =>
      if (!f.name.equalsIgnoreCase(oldPath.head)) f
      else if (oldPath.length == 1) f.copy(name = newLeaf)
      else f.dataType match {
        case st: org.apache.spark.sql.types.StructType =>
          f.copy(dataType = renameInSchema(st, oldPath.tail, newLeaf))
        case _ => f
      }
    })

  /** FAST-FORWARD / REBASE publish (the Iceberg cherry-pick answer to
    * "WAP collides with live ingest"): the source advanced past the fork
    * base, so the plain squash would overwrite interim commits. When it
    * can be done SOUNDLY, replay the branch's squash diff (vs its fork
    * base) onto the CURRENT head as one keyed merge:
    *
    *   - the table must have a change feed: the interim commits' touched
    *     keys are provable from their change frames, nothing else;
    *   - the interim key set and the branch diff's key set must be
    *     DISJOINT — every row the audit saw is then still exactly what
    *     the source holds, so the replayed statement is the audited one;
    *   - neither side may have changed schema / layout / constraints /
    *     renames mid-flight (a pure keyed replay has no sound answer for
    *     those — re-fork).
    *
    * Anything else refuses with the re-fork message. Cost is O(diff)
    * under the table's own DML granularity: touched partitions rewrite,
    * untouched ones hard-link (the transactPartial machinery), so a long
    * audit next to continuous COPY INTO publishes without re-staging.
    * A writer landing between the disjointness proof and the commit fails
    * the version pin → StaleStampException → [[publishBranch]] re-derives
    * the proof.
    */
  private def rebasePublish(spark: SparkSession, root: String, name: String,
      br: String, baseV: Long, head: Snapshot, cur: Snapshot,
      baseSchemaOverride: Option[org.apache.spark.sql.types.StructType] = None): Snapshot = {
    import org.apache.spark.sql.functions.col
    def refuse(why: String): Nothing = throw new IllegalArgumentException(
      s"$root advanced past branch '$name''s fork base (forked at $baseV, " +
        s"source is at ${cur.version}) and $why — re-fork and re-stage " +
        "(publish never silently merges)")
    val keys = cdcKeys(br)
    if (keys.isEmpty) refuse("the table has no change feed to prove the " +
      "interim commits touch a disjoint key set (rebase-publish needs cdcKeys)")
    // interim frames normally prove the touched keys; when a retention
    // sweep (VACUUM) expired some of them, the TWO-SNAPSHOT keyed diff
    // fork-base → head nets to the same key set (CdcSpec: netChanges over
    // a feed slice ≡ the keyed diff of its endpoint snapshots), so a long
    // audit survives VACUUM as long as the fork-base snapshot itself does
    // (it is what the audit read — tag it to pin it through retention)
    def versionIntact(v: Long): Boolean =
      Files.exists(commitFile(root, v)) &&
        Files.exists(Paths.get(at(root, v).dataDir))
    val baseIntact = versionIntact(baseV)
    val interimExpired = (baseV + 1 to cur.version).exists(v => !versionIntact(v))
    if (interimExpired && !baseIntact)
      refuse("interim versions were expired (VACUUM) and the fork-base " +
        "snapshot is gone too — neither the feed slice nor the " +
        "two-snapshot diff can prove the interim key set")
    // a pure keyed replay has no sound answer for mid-flight metadata
    // drift on EITHER side. Compare the name→type SHAPE as a set:
    // nullability, field metadata and column ORDER legitimately differ
    // between footer-inferred and pinned schemas of identical tables
    // (partitioned staging reorders partition columns), and the replay
    // addresses every column by NAME
    def shape(s: org.apache.spark.sql.types.StructType): Map[String, String] =
      s.fields.map(f => f.name.toLowerCase -> f.dataType.catalogString).toMap
    // the fork base is only READ when something actually needs it (a
    // schema delta to classify, or the VACUUM-fallback diff) — a vacuumed
    // base must not fail a rebase that never touches it
    lazy val baseSnap = at(root, baseV)
    lazy val baseSchema = baseSchemaOverride.getOrElse {
      if (!baseIntact) refuse("the fork-base snapshot was expired (VACUUM); " +
        "the branch's schema delta cannot be classified against it")
      readSchema(spark, baseSnap)
    }
    val headSchema = readSchema(spark, head)
    val curSchema = readSchema(spark, cur)
    val (brCfg, rootCfg) = (readConfig(br), readConfig(root))
    if (brCfg.partitionCols != rootCfg.partitionCols)
      refuse("the partition layout diverged")
    if (brCfg.constraints != rootCfg.constraints)
      refuse("the CHECK constraints diverged")
    // the key-only disjointness proof — shared by the schema-evolution
    // path (which must prove BEFORE committing the branch's ALTER onto
    // the root: a refused publish may never mutate the source) and the
    // standard path below
    def interimKeyFrame(): DataFrame =
      if (!interimExpired)
        changes(spark, root, baseV + 1, cur.version)
          .select(keys.map(col): _*).distinct()
      else {
        import org.apache.spark.sql.functions.lit
        val curDf = read(spark, cur)
        val baseDf = read(spark, baseSnap)
        val aligned = baseDf.select(curDf.schema.fields.toIndexedSeq.map {
          f =>
            (if (baseDf.columns.exists(_.equalsIgnoreCase(f.name)))
               col(f.name).cast(f.dataType)
             else lit(null).cast(f.dataType)).as(f.name)
        }: _*)
        diffChanges(aligned, curDf, keys).select(keys.map(col): _*).distinct()
      }
    def refuseOnKeyClash(branchKeys: DataFrame): Unit = {
      val clash = branchKeys.alias("b").join(interimKeyFrame().alias("i"),
          keys.map(k => col(s"b.$k") <=> col(s"i.$k")).reduce(_ && _),
          "left_semi")
        .limit(1).collect()
      if (clash.nonEmpty)
        refuse(s"the interim commits touch key(s) the branch also staged " +
          s"(e.g. ${keys.zip(clash.head.toSeq).map { case (k, v) =>
            s"$k=$v" }.mkString(", ")}): overlapping edits cannot replay " +
          "soundly")
    }
    // ---- branch-staged RENAME COLUMN replays (round 17) -------------------
    // A rename is METADATA-ONLY under the sidecar-chain design (files keep
    // their physical names; reads coalesce down the chain), so rebasing it
    // onto the advanced head = committing the SAME metadata-only ALTER
    // there: interim rows written under the old physical name resolve
    // through the chain exactly like any pre-rename file (the mixed-era
    // read rule). Refusals, all BEFORE anything mutates the source: a
    // renamed CDC key (the keyed replay's own addressing), interim schema
    // drift (the audit never saw it), and the key-overlap proof. Renames
    // apply SEQUENTIALLY in branch-version order so multi-hop chains
    // (a→b, then b→c) re-key one leg at a time, then the publish recurses
    // into the now-rename-free shape (additive evolution, if also staged,
    // composes on the next pass).
    // branch feed starts empty at fork, so its log is exactly the staged
    // set; legs already present in the ROOT's log were replayed by an
    // earlier pass of this very publish (the recursion after the ALTER)
    val rootLegs = feedRenames(root)
      .map { case (_, o, n) => (o.toLowerCase, n.toLowerCase) }.toSet
    val branchRenames = feedRenames(br).filter { case (_, o, n) =>
      !rootLegs((o.toLowerCase, n.toLowerCase)) }
    if (branchRenames.nonEmpty) {
      val keySet = keys.map(_.toLowerCase).toSet
      branchRenames.foreach { case (_, o, n) =>
        if (keySet(o.toLowerCase) || keySet(n.toLowerCase))
          refuse(s"the branch renamed CDC key column $o -> $n — the keyed " +
            "replay addresses rows by exactly that key")
      }
      if (shape(curSchema) != shape(baseSchema))
        refuse("the interim commits changed the source schema while the " +
          "branch staged RENAME COLUMN")
      refuseOnKeyClash(netChanges(spark, br, 1L, head.version, keys)
        .select(keys.map(col): _*).distinct())
      // the recursion classifies any ALSO-staged additive evolution
      // against the fork base AS THE BRANCH NAMES IT — without the
      // override, our own just-committed rename would read as "interim
      // schema drift" and refuse a sound combo
      val renamedBase = branchRenames.sortBy(_._1)
        .foldLeft(baseSchema) { case (acc, (_, o, n)) =>
          renameInSchema(acc, o.split("\\.").toSeq, n.split("\\.").last)
        }
      // classify the WHOLE remaining delta before any ALTER lands: a
      // branch that renamed AND dropped/narrowed must refuse with the
      // source untouched (a refused publish never mutates the source)
      if (shape(renamedBase) != shape(headSchema))
        additiveDeltaRefusal(renamedBase, headSchema).foreach(refuse)
      branchRenames.sortBy(_._1).foreach { case (_, o, n) =>
        alterSchema(spark, root, identity, renames = Map(n -> o))
      }
      return rebasePublish(spark, root, name, br, baseV, head, latest(root),
        baseSchemaOverride = Some(renamedBase))
    }

    if (shape(curSchema) != shape(headSchema)) {
      // the sides disagree on schema. Interim evolution refuses (the
      // audit never saw those columns); branch-staged ADDITIVE evolution
      // (nullable ADD COLUMN / type widening, incl. one struct level
      // down) replays SOUNDLY — the primary WAP use case is exactly
      // "fork, ALTER + backfill, audit, publish" while live ingest lands:
      // commit the branch's evolved schema onto the advanced head as the
      // same metadata-only ALTER (interim rows null-fill / upcast at
      // read, the mixed-era read rule), then the standard keyed replay
      // runs against the altered head. Drops, renames, narrowing and
      // reshaping still refuse — a keyed replay has no sound answer.
      if (shape(curSchema) != shape(baseSchema))
        refuse("the interim commits changed the source schema")
      additiveDeltaRefusal(baseSchema, headSchema).foreach(refuse)
      // EVERY refusal this publish could hit runs before the ALTER lands
      refuseOnKeyClash(
        netChanges(spark, br, 1L, head.version, keys)
          .select(keys.map(col): _*).distinct())
      alterSchema(spark, root, s => evolveOnto(s, headSchema))
      return rebasePublish(spark, root, name, br, baseV, head, latest(root),
        baseSchemaOverride = Some(headSchema))
    }
    // the branch's squash diff vs its fork base, netted from the BRANCH's
    // own change feed — O(staged change volume), never a two-snapshot
    // join (intermediate churn collapses away, exactly as in the
    // fast-path publish). Emit in the CURRENT head's column order — the
    // replay addresses columns by name, the staged commit keeps the
    // head's shape
    val cols = curSchema.fieldNames.toIndexedSeq
    val diff = netChanges(spark, br, 1L, head.version, keys)
      .select((cols :+ ChangeTypeCol).map(col): _*).persist()
    try {
      val branchKeys = diff.select(keys.map(col): _*).distinct().persist()
      try {
        // DISJOINTNESS PROOF: no interim commit touched a branch-staged
        // key. Key source: the feed slice when every interim frame
        // survives; the equivalent two-snapshot keyed diff vs the fork
        // base when VACUUM expired some (the fork base aligns onto the
        // head's columns first — additive evolution means the added
        // columns are NULL on both sides until the replay writes them)
        refuseOnKeyClash(branchKeys)
        if (diff.isEmpty) return cur // audited, but nothing actually changed
        val arriving = diff
          .filter(col(ChangeTypeCol).isin("insert", "update_postimage"))
          .select(cols.map(col): _*)
        def replay(df: DataFrame): DataFrame =
          df.alias("t").join(branchKeys.alias("k"),
              keys.map(k => col(s"t.$k") <=> col(s"k.$k")).reduce(_ && _),
              "left_anti")
            .select(cols.map(col): _*)
            .unionByName(arriving)
        // a writer landing after the proof above must abort the commit —
        // its keys were never checked
        val pin = () => latest(root).version == cur.version
        if (partitionCols(root).nonEmpty && !isEvolved(cur.dataDir))
          // partition-scoped replay: only partitions holding a branch key
          // rewrite; interim-commit partitions hard-link through untouched
          transactPartialWithChanges(spark, root, pinCheck = pin)(
            baseL => baseL.alias("t").join(branchKeys.alias("k"),
              keys.map(k => col(s"t.$k") <=> col(s"k.$k")).reduce(_ && _),
              "left_semi")) { touched =>
            (replay(touched), diff)
          }
        else
          transactImpl(spark, root, maxAttempts = 10, statsCols = Nil,
            txn = None, constraints = Nil, pinCheck = pin)(
            df => (replay(df), Some(diff)))
      } finally { branchKeys.unpersist(); () }
    } finally { diff.unpersist(); () }
  }

  /** Discard branch `name` (its data files are hard links — deleting
    * them never touches the source's bytes).
    */
  def dropBranch(root: String, name: String): Unit = {
    val br = Paths.get(branchRoot(root, name))
    if (!Files.isDirectory(br)) return
    val s = Files.walk(br)
    val all = try s.iterator().asScala.toSeq.reverse finally s.close()
    all.foreach(Files.deleteIfExists(_))
  }

  /** Constraint metrics FUSED into the staged write (one job, many
    * metrics): attach a CollectMetrics node to `out` and return the
    * observed frame plus a `check` thunk. The caller writes the observed
    * frame — its write job computes the violation counts as observed
    * metrics, for free — then calls `check()`, which throws the same
    * ConstraintViolationException the standalone pass threw. This removes
    * one full execution of the commit's output plan per constrained
    * commit (the old shape ran `out.agg(...).head()` AND the write — two
    * passes over base ⋈ batch; measured ~0.2–0.9 s of gate time each on
    * the WAP/DML gates, and at 100 TB a whole extra table pass).
    *
    * Contract: `check()` must be called strictly AFTER the one-and-only
    * action on the returned frame (the staged write), and any caller
    * probing the frame with a short-circuiting action first (isEmpty's
    * limit(1)) must do that on the UNOBSERVED frame — metrics under a
    * limit would be partial. Violations surface after staging; the
    * caller deletes the fresh dir (same orphan rule as a lost CAS).
    */
  private def constraintsObserved(out: DataFrame,
      allConstraints: Seq[(String, org.apache.spark.sql.Column)])
      : (DataFrame, () => Unit) = {
    import org.apache.spark.sql.functions.{coalesce, lit, sum, when}
    if (allConstraints.isEmpty) (out, () => ())
    else {
      val obs = new org.apache.spark.sql.Observation()
      // positional metric names: caller-supplied constraint names may
      // legally collide with the table's own
      val aggs = allConstraints.zipWithIndex.map { case ((_, c), i) =>
        coalesce(sum(when(!c, lit(1L)).otherwise(lit(0L))), lit(0L))
          .as(s"_c$i")
      }
      val observed = out.observe(obs, aggs.head, aggs.tail: _*)
      (observed, () => {
        val row = obs.get
        val bad = allConstraints.zipWithIndex.collect {
          case ((name, _), i) if row(s"_c$i").asInstanceOf[Long] > 0 =>
            s"$name (${row(s"_c$i")} rows)"
        }
        if (bad.nonEmpty)
          throw new ConstraintViolationException(
            s"commit rejected, constraints violated: ${bad.mkString(", ")}")
      })
    }
  }

  /** Delete a freshly staged dir after a post-write refusal (observed
    * constraint violation): never required for correctness — an
    * uncommitted dir is invisible and cleanOrphans food — but keeps the
    * refusal's disk footprint identical to the pre-write-check shape.
    */
  private def dropStagedDir(dir: String): Unit =
    try walkDeepestFirst(Paths.get(dir)).foreach(Files.deleteIfExists(_))
    catch { case _: Exception => () }

  /** The one constraint checker: runs `write` (the frame's one action)
    * over `out` with the caller's constraints plus the table's own CHECK
    * constraints observed in the same job, then throws on any violation,
    * after `onViolation` cleans up. Staged writes go through it
    * ([[writeStaged]]), and so does RESTORE's sink-less pass over the
    * restored rows.
    */
  private def checkedWrite(root: String, out: DataFrame,
      constraints: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      onViolation: () => Unit = () => ())(write: DataFrame => Unit): Unit = {
    import org.apache.spark.sql.functions.expr
    val (observed, check) = constraintsObserved(out, constraints ++
      tableConstraints(root).map { case (n, sql) => (n, expr(sql)) })
    write(observed)
    try check() catch { case e: Throwable => onViolation(); throw e }
  }

  // ---- identity columns (GENERATED … AS IDENTITY) ----------------------

  /** The next unallocated identity value: the `identity` entry of the
    * current snapshot's record, `start` if none was ever written. The mark
    * is SNAPSHOT STATE — it rides commits with the pinned schema (carried
    * forward by [[carryTableState]] through DML/OPTIMIZE, RESTORE and
    * CLONE), so the high-water mark is versioned with the data and
    * protected by the same commit CAS: a writer that read a stale mark
    * loses the CAS and reassigns on rebase.
    */
  def identityNext(root: String, start: Long): Long =
    readState(latest(root).dataDir).identityNext.getOrElse(start)

  /** Append with distributed identity assignment — the engine path behind
    * `GENERATED ALWAYS/BY DEFAULT AS IDENTITY (START WITH s STEP k)`.
    *
    * Assignment is ONE cached pass plus a partition-count job, never a
    * global window or a driver loop: each input row carries
    * `monotonically_increasing_id()` (partition ordinal in the high bits,
    * partition-local ordinal in the low 33), per-partition row counts
    * prefix-sum into partition offsets (one tiny collect — #partitions
    * rows), and the id is the pure projection
    * `hwm + step * (offset(partition) + local ordinal)`. Explicit values
    * (BY DEFAULT tables) keep their row's ordinal — their slot burns as a
    * gap, which the identity contract allows; uniqueness and monotone
    * allocation are what it promises. GENERATED ALWAYS refuses explicit
    * non-NULL values loudly. The cache pins the partition layout across
    * the count and assignment jobs (a recomputation could repartition a
    * nondeterministic source). The new high-water mark lands in the
    * staged dir's record via the transaction hook, so a lost commit race discards
    * it and the rebase reassigns against the winner's mark — ids are
    * unique under concurrency by the same CAS that orders the commits.
    */
  def appendWithIdentity(spark: SparkSession, root: String, rows: DataFrame,
      idCol: String, start: Long, step: Long, allowExplicit: Boolean,
      overwrite: Boolean = false, maxAttempts: Int = 10,
      txn: Option[Txn] = None, extraTxns: Seq[Txn] = Nil,
      pinCheck: () => Boolean = () => true,
      onReplay: () => Unit = () => ()): Snapshot = {
    import org.apache.spark.sql.functions._
    require(step != 0, s"identity step of $root.$idCol must be non-zero")
    require(cdcKeys(root).isEmpty,
      s"identity columns are supported on non-CDC tables ($root)")
    var newNext = 0L
    val cached = scala.collection.mutable.ListBuffer[DataFrame]()
    try {
      // the staged dir already holds its carried record
      val hook: String => Unit = dir =>
        writeState(dir, readState(dir).copy(identityNext = Some(newNext)))
      def assignInto(base: DataFrame): DataFrame = {
        val idType = base.schema(base.schema.fieldIndex(idCol)).dataType
        val withCol =
          if (rows.columns.exists(_.equalsIgnoreCase(idCol))) rows
          else rows.withColumn(idCol, lit(null).cast(idType))
        val tagged = withCol
          .withColumn("__graft_mid", monotonically_increasing_id()).cache()
        cached += tagged
        val stats = tagged
          .groupBy(shiftright(col("__graft_mid"), 33).as("__pid"))
          .agg(count(lit(1)).as("__n"),
            max(col(idCol).cast("long")).as("__maxExp"),
            min(col(idCol).cast("long")).as("__minExp"))
          .collect()
        // explicit-value detection rides the SAME cached stats pass the
        // offsets come from — no second scan, and the checked rows ARE the
        // assigned rows even on a nondeterministic source
        val expBound =
          if (step > 0) stats.flatMap(r => Option(r.get(2)).map(_ => r.getLong(2)))
            .maxOption.map(_ + step)
          else stats.flatMap(r => Option(r.get(3)).map(_ => r.getLong(3)))
            .minOption.map(_ + step)
        require(allowExplicit || expBound.isEmpty,
          s"$idCol is GENERATED ALWAYS AS IDENTITY — explicit values refuse")
        val counts = stats.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        var acc = 0L
        val offs = counts.map { case (p, n) => val o = acc; acc += n; (p, o) }
        // auto-sync past explicit values BEFORE assigning (the Delta SYNC
        // IDENTITY rule, applied eagerly): raising the mark first means a
        // generated id can collide neither with history nor with an
        // explicit id in the SAME batch (generated values all start beyond
        // the batch's own max explicit)
        val hwm0 = identityNext(root, start)
        val hwm = expBound match {
          case Some(b) if (step > 0 && b > hwm0) || (step < 0 && b < hwm0) => b
          case _ => hwm0
        }
        newNext = hwm + step * acc
        import spark.implicits._
        val offDf = offs.toSeq.toDF("__pid", "__off")
        val assigned = tagged
          .withColumn("__pid", shiftright(col("__graft_mid"), 33))
          .join(broadcast(offDf), Seq("__pid"), "left")
          .withColumn(idCol, coalesce(col(idCol),
            (lit(hwm) + lit(step) * (col("__off") +
              (col("__graft_mid") % lit(1L << 33)))).cast(idType)))
          .drop("__graft_mid", "__pid", "__off")
        val have = assigned.columns.map(_.toLowerCase).toSet
        // pinned-schema metadata overlay — same stripping hazard as
        // append's aligned (partitioned read-back loses field metadata)
        val pinnedMeta = readSchema(spark, latest(root)).fields
          .map(f => f.name.toLowerCase -> f.metadata).toMap
        base.schema.fields.toIndexedSeq.map { f0 =>
          val f = f0.copy(metadata =
            pinnedMeta.getOrElse(f0.name.toLowerCase, f0.metadata))
          columnFor(f, have(f.name.toLowerCase)).cast(f.dataType).as(f.name)
        } match { case cols => assigned.select(cols: _*) }
      }
      // assignment is layout-agnostic; the high-water mark rides the
      // staged hook on every route
      routeWrite(spark, root, overwrite, maxAttempts, txn, extraTxns,
        pinCheck, onReplay, hook)(assignInto)
    } finally cached.foreach(_.unpersist())
  }

  /** The write-side value of a table column given the incoming rows:
    * a STORED generated column is ALWAYS computed from its expression
    * (deterministic by construction, so the derivation is authoritative —
    * a provided value that disagreed would fail the table's automatic
    * `col <=> (expr)` CHECK anyway); an omitted column fills with its
    * declared CURRENT_DEFAULT when the schema carries one (constant by
    * construction — the catalog refuses non-literal defaults), typed NULL
    * otherwise. Shared by every writer that pads columns, so
    * direct-API/SqlDml/streaming appends honor column DEFAULTs and
    * generation exactly like the catalog INSERT path.
    */
  private def columnFor(f: org.apache.spark.sql.types.StructField,
      present: Boolean): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    if (f.metadata.contains(GraftCatalog.GenerationExprKey))
      expr(f.metadata.getString(GraftCatalog.GenerationExprKey))
    else if (present) col(f.name)
    else if (f.metadata.contains("CURRENT_DEFAULT"))
      expr(f.metadata.getString("CURRENT_DEFAULT"))
    else lit(null)
  }

  /** The generated columns of `schema` (STORED generation expressions in
    * field metadata) and the projection that recomputes them — for write
    * paths that assemble rows themselves (partition-spec overwrites) and
    * guards that must know the set (MERGE insert arms).
    */
  def generatedCols(schema: org.apache.spark.sql.types.StructType):
      Seq[org.apache.spark.sql.types.StructField] =
    schema.fields.toIndexedSeq
      .filter(_.metadata.contains(GraftCatalog.GenerationExprKey))

  def deriveGenerated(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.expr
    generatedCols(schema).foldLeft(df)((acc, f) => acc.withColumn(f.name,
      expr(f.metadata.getString(GraftCatalog.GenerationExprKey))
        .cast(f.dataType)))
  }

  /** Append (or whole-table replace, `overwrite`) through the commit
    * protocol — the INSERT INTO path shared by SqlDml and the catalog's V1
    * write fallback. Columns are aligned BY NAME against the live table
    * schema and cast; missing nullable columns null-fill (the MERGE INSERT
    * arm convention). On CDC tables an append enforces key freshness (one
    * left-semi probe against the base — an `insert` change for a live key
    * corrupts downstream apply) and emits the appended rows as its change
    * set; an overwrite falls back to the generic keyed diff.
    *
    * @param onReplay invoked (instead of staging) when the stamp guard
    *   proves EVERY asserted stamp already covered — the commit was a
    *   replayed batch and this call wrote nothing. Callers that report
    *   per-invocation effects (COPY INTO's files_loaded) need the signal;
    *   the returned Snapshot alone cannot distinguish "my commit" from
    *   "a racer's covering commit".
    */
  def append(spark: SparkSession, root: String, rows: DataFrame,
      overwrite: Boolean = false, maxAttempts: Int = 10,
      txn: Option[Txn] = None, extraTxns: Seq[Txn] = Nil,
      pinCheck: () => Boolean = () => true,
      onReplay: () => Unit = () => ()): Snapshot = {
    // identity tables assign ids on EVERY write path — a direct-API,
    // SqlDml, or streaming append must never pad the identity column with
    // NULL just because it skipped the catalog's insert surface
    readSchema(spark, latest(root)).fields
      .find(_.metadata.contains("identity.start")) match {
      case Some(f) =>
        return appendWithIdentity(spark, root, rows, f.name,
          start = f.metadata.getLong("identity.start"),
          step = f.metadata.getLong("identity.step"),
          allowExplicit = f.metadata.getBoolean("identity.allowExplicitInsert"),
          overwrite = overwrite, maxAttempts = maxAttempts, txn = txn,
          extraTxns = extraTxns, pinCheck = pinCheck, onReplay = onReplay)
      case None => ()
    }
    def aligned(base: DataFrame): DataFrame = {
      val have = rows.columns.map(_.toLowerCase).toSet
      val extra = rows.columns.filterNot(c =>
        base.columns.exists(_.equalsIgnoreCase(c)))
      require(extra.isEmpty,
        s"appended columns not in table: ${extra.mkString(", ")}")
      // field METADATA from the PINNED table schema, never the read-back
      // frame: a partitioned read-back strips field metadata (the file
      // source rebuilds partition-column attributes bare), which would
      // silently skip generated-column derivation / column DEFAULTs on
      // every append after the first into a hidden-partitioned table
      val pinnedMeta = readSchema(spark, latest(root)).fields
        .map(f => f.name.toLowerCase -> f.metadata).toMap
      base.schema.fields.toIndexedSeq.map { f0 =>
        val f = f0.copy(metadata =
          pinnedMeta.getOrElse(f0.name.toLowerCase, f0.metadata))
        columnFor(f, have(f.name.toLowerCase)).cast(f.dataType).as(f.name)
      } match { case cols => rows.select(cols: _*) }
    }
    routeWrite(spark, root, overwrite, maxAttempts, txn, extraTxns,
      pinCheck, onReplay)(aligned)
  }

  /** The write router shared by [[append]] and [[appendWithIdentity]]
    * (`rows` maps the base to the rows to write):
    *   - an append stages O(batch) under the pinned base's current layout
    *     ([[appendLinked]]);
    *   - a dynamic partition overwrite (`partitionOverwriteMode=dynamic`
    *     on a partitioned table, the standard Spark contract) replaces
    *     ONLY the partitions present in the incoming data
    *     ([[overwritePartitions]]). It has no cross-layout meaning, so it
    *     refuses while a spec evolution is pending;
    *   - any other overwrite rewrites the table in the current spec,
    *     which also HEALS a spanning table back to single-spec.
    * A partition-scoped attempt that finds the layout changed under it
    * ([[LayoutChangedException]]) is re-routed against the new state.
    */
  private def routeWrite(spark: SparkSession, root: String,
      overwrite: Boolean, maxAttempts: Int, txn: Option[Txn],
      extraTxns: Seq[Txn], pinCheck: () => Boolean, onReplay: () => Unit,
      stagedHook: String => Unit = _ => ())(
      rows: DataFrame => DataFrame): Snapshot = rerouted {
    import org.apache.spark.sql.functions.{broadcast, col}
    val dynamic = overwrite &&
      spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        .equalsIgnoreCase("dynamic")
    require(!dynamic || !isEvolved(latest(root).dataDir),
      s"dynamic partition overwrite on $root while a partition-spec " +
        "evolution is pending; OPTIMIZE (full rewrite) to migrate first")
    val parts = partitionCols(root)
    if (!overwrite)
      appendLinked(spark, root, maxAttempts, txn.toSeq ++ extraTxns,
        pinCheck, onReplay, stagedHook)(rows)
    else if (dynamic && parts.nonEmpty)
      overwritePartitions(spark, root, maxAttempts, txn, extraTxns, pinCheck,
          onReplay, stagedHook)({ base =>
        val newVals = broadcast(rows(base).select(parts.map(col): _*).distinct())
        (base.join(newVals, parts, "left_semi"), base.join(newVals, parts, "left_anti"))
      })(rows)
    else
      transactImpl(spark, root, maxAttempts, Nil, txn, Nil,
        stagedHook = stagedHook, extraTxns = extraTxns, pinCheck = pinCheck,
        onReplay = onReplay)(base => (rows(base), None))
  }

  /** Run `route` again while a partition-scoped attempt finds the layout
    * changed under it ([[LayoutChangedException]]) — e.g. a migrating
    * OPTIMIZE heals a spanning table to an UNPARTITIONED single-spec layout
    * mid-statement, leaving the partial route no granularity to scope by.
    * `route` reads the layout itself, so each retry routes against the
    * CURRENT state; the race never surfaces as "re-run the statement".
    */
  private def rerouted(route: => Snapshot): Snapshot = {
    var reroutes = 0
    while (true) {
      try return route
      catch {
        case e: LayoutChangedException =>
          reroutes += 1
          if (reroutes > 3) throw e // a flapping layout is not a race
      }
    }
    sys.error("unreachable")
  }

  /** Partition overwrite — the copy-on-write staging of partial DML with
    * a replacement instead of a transform: `replaced` splits the base into
    * (the rows of the partitions being overwritten, every other row), the
    * first set is replaced by `rows` and every other partition hard-links.
    * Shared by static `INSERT OVERWRITE … PARTITION (…)` and the dynamic
    * overwrite of [[routeWrite]]. On a CDC table the new rows must not carry
    * a key live in a KEPT partition (table-wide key uniqueness: its feed
    * would emit 'insert' for a live key — replica poison), and the change
    * set is the keyed diff of the replaced partitions against the new rows.
    */
  private[graft] def overwritePartitions(spark: SparkSession, root: String,
      maxAttempts: Int = 10, txn: Option[Txn] = None, extraTxns: Seq[Txn] = Nil,
      pinCheck: () => Boolean = () => true, onReplay: () => Unit = () => (),
      stagedHook: String => Unit = _ => ())(
      replaced: DataFrame => (DataFrame, DataFrame))(
      rows: DataFrame => DataFrame): Snapshot = {
    val keys = cdcKeys(root)
    transactPartialWithChanges(spark, root, maxAttempts, txn,
        extraTxns = extraTxns, pinCheck = pinCheck, onReplay = onReplay,
        stagedHook = stagedHook)({ base =>
      val (touched, kept) = replaced(base)
      if (keys.nonEmpty) {
        val clash = rows(base).join(kept, keys, "left_semi").limit(1)
        require(clash.isEmpty,
          s"partition overwrite of $root carries key(s) " +
            s"(${keys.mkString(", ")}) already live in a kept partition")
      }
      touched
    })(orRows { old =>
      val a = rows(old)
      (a, Option.when(keys.nonEmpty)(diffChanges(old, a, keys)))
    })
  }

  /** O(batch) append: the new version's dir hard-links every base data
    * file (metadata-only; `_dv` deletion state travels as table state)
    * and writes ONLY the batch as fresh files, under the pinned base's
    * current layout — flat, hive-partitioned (REBALANCE-clustered by the
    * partition columns; the fresh files' `col=value/` dirs merge with the
    * linked ones), or the newest `_spec<i>/` subtree of a snapshot
    * spanning specs (old layouts ride untouched). The layout is read per
    * attempt, so an evolve or heal landing mid-append only changes the
    * retry's layout. Without this, an append pays a full table rewrite
    * per batch — O(table × batches) under streaming ingest. CHECK
    * constraints validate the APPENDED rows only (linked rows were
    * validated by the commits that wrote them — the partial
    * copy-on-write rule). On CDC tables the batch's keys must be fresh
    * (one left-semi probe against the base: an `insert` change for a
    * live key corrupts downstream apply) and the change set is exactly
    * the appended rows as `insert`s. The accreted small files are
    * OPTIMIZE's job to re-pack, as on any table format.
    */
  private def appendLinked(spark: SparkSession, root: String,
      maxAttempts: Int, txns: Seq[Txn], pinCheck: () => Boolean,
      onReplay: () => Unit, stagedHook: String => Unit)(
      newRows: DataFrame => DataFrame): Snapshot =
    commitLoop(root, maxAttempts, txns, pinCheck, onReplay) { base =>
      import org.apache.spark.sql.functions.lit
      val baseDf = read(spark, base)
      val rows = newRows(baseDf)
      val keys = cdcKeys(root)
      if (keys.nonEmpty)
        require(rows.join(baseDf, keys, "left_semi").limit(1).isEmpty,
          s"append to CDC table $root carries already-live key(s) " +
            s"(${keys.mkString(", ")}) — use MERGE for upserts")
      val (sub, parts) = currentLayout(root, base)
      val (dir, files) = writeStaged(root, Some(rows), parts, sub)
      linkParquetTree(base.dataDir, dir)
      carryTableState(base.dataDir, dir)
      stagedHook(dir) // e.g. the identity high-water mark
      // file-skipping stays live across appends: manifest rows for the
      // linked files carry over, the new batch's files get their own —
      // O(batch), like the staging itself
      carryManifestLinked(spark, base.dataDir, dir, files)
      // change frame = the batch's staged files, never a re-execution of
      // the batch transform: the data write already materialized the rows
      // (re-running them re-pays the caller's whole upstream plan, and a
      // non-deterministic batch would write DIFFERENT rows to the feed).
      // Flat files are HARD-LINKED (see [[linkInsertChanges]]); partition
      // values live only in directory names, so a laid-out batch is
      // written from its read-back, and ZERO files need a schema-correct
      // empty frame, which rows.limit(0) gives without executing the plan
      if (keys.nonEmpty && parts.isEmpty && sub == "." && files.nonEmpty)
        linkInsertChangeFiles(Paths.get(dir), files.map(Paths.get(_)))
      else writeChanges(root, dir,
        (if (files.isEmpty) rows.limit(0)
         else spark.read.schema(readSchema(spark, base))
           .option("basePath", Paths.get(dir, sub).normalize.toString)
           .parquet(files: _*))
          .withColumn(ChangeTypeCol, lit("insert")))
      Staged(dir)
    }

  /** Latest version whose commit landed at or before `tsMicros` (epoch
    * microseconds) — the `TIMESTAMP AS OF` resolution rule, driven by
    * commit-file mtimes exactly as Delta resolves timestamps from its log.
    */
  def versionAsOf(root: String, tsMicros: Long): Long =
    listDir(commitsDir(root))
      .filter(_.getFileName.toString.endsWith(".commit"))
      .filter(f => Files.getLastModifiedTime(f).toMillis * 1000L <= tsMicros)
      .map(_.getFileName.toString.stripSuffix(".commit").toLong)
      .maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"no version committed at or before t=$tsMicros at $root"))

  /** Earliest version whose commit landed at or after `tsMicros` — the
    * change-feed FROM-timestamp resolution (Delta's startingTimestamp
    * rule: start at the first commit the window could have observed; the
    * TO bound uses [[versionAsOf]]'s latest-at-or-before).
    */
  def versionSince(root: String, tsMicros: Long): Long =
    listDir(commitsDir(root))
      .filter(_.getFileName.toString.endsWith(".commit"))
      .filter(f => Files.getLastModifiedTime(f).toMillis * 1000L >= tsMicros)
      .map(_.getFileName.toString.stripSuffix(".commit").toLong)
      .minOption
      .getOrElse(throw new IllegalArgumentException(
        s"no version committed at or after t=$tsMicros at $root"))

  /** Change rows landed by commit `version` (data columns +
    * [[ChangeTypeCol]] + [[CommitVersionCol]]). A committed version on a
    * CDC table always has a `_changes/` dir; versions older than the
    * table's CDC opt-in (none today — CDC is set at init) would read as
    * empty rather than failing, matching Delta's "no CDF before
    * enablement" contract.
    */
  def changesAt(spark: SparkSession, root: String, version: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val dir = s"${at(root, version).dataDir}/_changes"
    val base =
      if (Files.exists(Paths.get(dir))) {
        val raw = spark.read.parquet(hiddenDirPaths(spark, Seq(dir)): _*)
        // a hard-linked all-inserts frame (see linkInsertChanges) stores
        // no _change_type — the convention means every row is an insert
        if (raw.columns.exists(_.equalsIgnoreCase(ChangeTypeCol))) raw
        else raw.withColumn(ChangeTypeCol, lit("insert"))
      }
      else read(spark, at(root, version)).limit(0)
        .withColumn(ChangeTypeCol, lit("insert"))
    base.withColumn(CommitVersionCol, lit(version))
  }

  /** Batch table-changes read over a version range (inclusive), the
    * `table_changes(...)` surface. ONE multi-path vectorized parquet scan
    * over every version's `_changes/` dir — plan size stays O(1) in the
    * version count (a per-version union would build a 10⁴-node plan on a
    * long-lived table and hurt the driver long before any data moves).
    * Spark's file listing is per feed file, not per version (see
    * [[hiddenDirPaths]]). `_commit_version` is recovered from each file's
    * snapshot-dir UUID via a broadcast lookup (one tiny row per version).
    */
  def changes(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromVersion <= toVersion,
      s"empty version range [$fromVersion, $toVersion]")
    val snaps = (fromVersion to toVersion).map(v => v -> at(root, v))
    val withFeed = snaps.filter { case (_, s) =>
      Files.exists(Paths.get(s.dataDir, "_changes")) }
    if (withFeed.isEmpty)
      changesAt(spark, root, toVersion) // schema-preserving empty
    else {
      import spark.implicits._
      val lookup = withFeed.map { case (v, s) =>
        (Paths.get(s.dataDir).getFileName.toString, v) }
        .toDF("__dir", CommitVersionCol)
      val paths = hiddenDirPaths(spark, withFeed.map { case (_, s) => s"${s.dataDir}/_changes" })
      val schema = readSchema(spark, at(root, toVersion))
      val log = feedRenames(root).filter(_._1 <= toVersion)
      // ONE multi-path scan under an EXPLICIT requested schema (not
      // mergeSchema): the head fields at their HEAD types — the parquet
      // reader null-fills a column a frame predates, clips a nested
      // struct against the requested shape, and serves NARROW stored
      // values through a widened requested type (the q90b read rule), so
      // frames spanning ALTER COLUMN TYPE boundaries read as one feed
      // where schema merging would refuse the type conflict — plus every
      // RETIRED feed name (the rename log's old sides), each typed as its
      // chain target. Dropped columns are simply never requested: the
      // feed serves the LIVE schema, the Delta CDF contract.
      val headNames = schema.fieldNames.map(_.toLowerCase).toSet
      val retired = schema.fields.toIndexedSeq.flatMap { f =>
        feedChain(log, f.name).map { case (old, _) => (old, f.dataType) }
      }.filterNot { case (old, _) => headNames(old.toLowerCase) }
        .distinctBy(_._1.toLowerCase)
      // NESTED rename chains (dotted log entries, any depth): per dotted
      // logical path, the retired leaf names with their guard versions —
      // each enclosing struct grows the olds (typed at the HEAD field's
      // type, so a widen composes) and the select below rebuilds
      // per-field, recursively
      def nestedLegsOf(st: org.apache.spark.sql.types.StructType,
          prefix: String): Map[String, Seq[(String, Long)]] =
        st.fields.toIndexedSeq.flatMap { nf =>
          val path = s"$prefix${nf.name}"
          val own = feedChain(log, path).collect {
            case (old, rv) if old.contains('.') =>
              (old.split('.').last, rv)
          }
          val mine = if (own.isEmpty) Map.empty[String, Seq[(String, Long)]]
            else Map(path.toLowerCase -> own)
          mine ++ (nf.dataType match {
            case inner: org.apache.spark.sql.types.StructType =>
              nestedLegsOf(inner, s"$path.")
            case _ => Map.empty[String, Seq[(String, Long)]]
          })
        }.toMap
      val nestedLegs = nestedLegsOf(schema, "")
      def extStruct(st: org.apache.spark.sql.types.StructType,
          prefix: String): org.apache.spark.sql.types.StructType = {
        val recursed = st.fields.map { nf =>
          val f2 = nf.dataType match {
            case inner: org.apache.spark.sql.types.StructType =>
              nf.copy(dataType =
                extStruct(inner, s"$prefix${nf.name.toLowerCase}."))
            case _ => nf
          }
          f2.copy(nullable = true)
        }
        val extra = recursed.flatMap { nf =>
          nestedLegs.getOrElse(s"$prefix${nf.name.toLowerCase}", Nil)
            .map { case (old, _) =>
              org.apache.spark.sql.types.StructField(old, nf.dataType,
                nullable = true)
            }
        }.distinctBy(_.name.toLowerCase)
          .filterNot(e => st.exists(_.name.equalsIgnoreCase(e.name)))
        org.apache.spark.sql.types.StructType(recursed ++ extra)
      }
      val ext = org.apache.spark.sql.types.StructType(
        extStruct(schema, "").fields ++
          retired.map { case (old, dt) =>
            org.apache.spark.sql.types.StructField(old, dt, nullable = true) } :+
          org.apache.spark.sql.types.StructField(ChangeTypeCol,
            org.apache.spark.sql.types.StringType))
      val merged = spark.read.schema(ext).parquet(paths: _*)
        // a HARD-LINKED all-inserts frame (init/clone/append — see
        // linkInsertChanges) has no stored _change_type; the requested
        // schema null-fills it, and NULL can only mean 'insert' (every
        // written frame carries the column non-null)
        .withColumn(ChangeTypeCol,
          coalesce(col(ChangeTypeCol), lit("insert")))
        .withColumn("__dir",
          regexp_extract(input_file_name(), "/data/([^/]+)/_changes/", 1))
        .join(broadcast(lookup), "__dir")
        .drop("__dir")
      // RENAME COLUMN resolution: a frame from before a rename carries
      // the THEN-current name — an immutable historical fact the data
      // files' per-snapshot rename chains cannot serve (a healing full
      // rewrite drops it while old frames persist), so the durable
      // root-level rename LOG drives the feed instead. Each head field
      // resolves as a version-GUARDED coalesce down its chain:
      // `coalesce(f, when(cv < rv₁, old₁), when(cv < rv₂, old₂) …)` —
      // the guard scopes every old leg to the frames that actually wrote
      // it, and alterSchema refuses to ever reuse a retired name, so the
      // unguarded head leg is sound by construction.
      if (log.isEmpty) merged
      else {
        // rebuild each field with a version-GUARDED coalesce down its
        // chain, recursively through struct levels (preserving
        // whole-struct NULLs) — a struct with chains anywhere beneath it
        // rebuilds; a field (or whole-struct rename) coalesces in place
        def guardedCol(path: String, keyPrefix: String,
            fld: org.apache.spark.sql.types.StructField):
            org.apache.spark.sql.Column = {
          val key = s"$keyPrefix${fld.name.toLowerCase}"
          val self = s"$path${fld.name}"
          fld.dataType match {
            case st: org.apache.spark.sql.types.StructType
                if nestedLegs.keysIterator.exists(_.startsWith(s"$key.")) =>
              // chains strictly BENEATH (a field renamed within its own
              // subtree renaming is refused at commit, so own-chain and
              // beneath-chain never coexist)
              val inner = st.fields.toIndexedSeq.map { nf =>
                guardedCol(s"$self.", s"$key.", nf).as(nf.name)
              }
              when(col(self).isNotNull, struct(inner: _*))
                .otherwise(lit(null))
            case _ =>
              val myLegs = Seq(col(self)) ++
                nestedLegs.getOrElse(key, Nil).map { case (old, rv) =>
                  when(col(CommitVersionCol) < rv, col(s"$path$old"))
                }
              myLegs match {
                case Seq(one) => one
                case many => coalesce(many: _*)
              }
          }
        }
        merged.select(schema.fields.toIndexedSeq.map { f =>
          val base: org.apache.spark.sql.Column =
            if (nestedLegs.keysIterator.exists(
                _.startsWith(s"${f.name.toLowerCase}.")))
              guardedCol("", "", f)
            else {
              val legs = Seq(col(f.name)) ++
                feedChain(log, f.name).collect {
                  case (old, rv) if !old.contains('.') &&
                      !headNames(old.toLowerCase) =>
                    when(col(CommitVersionCol) < rv, col(old))
                }
              legs match {
                case Seq(one) => one
                case many => coalesce(many: _*)
              }
            }
          base.cast(f.dataType).as(f.name)
        } ++ Seq(col(ChangeTypeCol), col(CommitVersionCol)): _*)
      }
    }
  }

  // ---- FEED rename log ------------------------------------------------------
  // The config record's `rename TAB version TAB old TAB new` entries, one
  // per renamed column of a RENAME COLUMN commit, append-only, NEVER
  // healed — the change feed's name history. Data reads resolve renames
  // from each snapshot record's rename chains (dropped when a full
  // rewrite re-stages files under logical names); change FRAMES are
  // immutable history, so their resolution must survive that heal.

  /** The rename log, oldest first: (version, oldName, newName). */
  private[graft] def feedRenames(root: String): Seq[(Long, String, String)] =
    readConfig(root).renames.sortBy(_._1)

  /** Walk `name`'s chain BACKWARD through the log: the (oldName,
    * renamedAtVersion) legs, newest first — a frame committed before
    * `renamedAtVersion` wrote that leg's name.
    */
  private def feedChain(log: Seq[(Long, String, String)],
      name: String): Seq[(String, Long)] = {
    var cur = name
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    log.reverseIterator.foreach { case (v, old, nw) =>
      if (nw.equalsIgnoreCase(cur)) { out += ((old, v)); cur = old }
    }
    out.toSeq
  }

  /** The name column `name` (valid at version `head`) carried at
    * `version` — forward-walk to `head`, then backward to `version`. For
    * feed consumers (ChangeFeedSource) conforming per-version frames to
    * a declared schema across RENAME COLUMN boundaries in either
    * direction (stream declared before the rename, or frames written
    * before it).
    */
  private[graft] def feedNameAt(root: String, name: String, version: Long,
      head: Long): String = {
    val log = feedRenames(root)
    var cur = name
    log.foreach { case (v, old, nw) =>
      if (v <= head && old.equalsIgnoreCase(cur)) cur = nw }
    log.reverseIterator.foreach { case (v, old, nw) =>
      if (v > version && nw.equalsIgnoreCase(cur)) cur = old }
    cur
  }

  /** The NET keyed diff of a change-feed slice — semantically what
    * [[diffChanges]](state@`fromVersion`−1, state@`toVersion`) produces,
    * computed from O(feed volume) change rows instead of joining two full
    * snapshots. Per key: the earliest frame fixes the before-image (an
    * `insert` first frame means the key did not exist), the latest fixes
    * the after-image (`delete` last means it no longer does); intermediate
    * churn collapses away and keys whose values round-trip emit nothing.
    * This is the squash-diff primitive for branch publishes: a branch that
    * staged k changed rows on a 100 TB table nets its diff from k·O(1)
    * frames, never from two table-wide shuffles.
    */
  private[graft] def netChanges(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val feed = changes(spark, root, fromVersion, toVersion)
    val cols = feed.columns.toIndexedSeq
      .filterNot(c => c == ChangeTypeCol || c == CommitVersionCol)
    val tc = col(ChangeTypeCol)
    // within one version a key carries at most an update's pre+post pair:
    // the preimage is that version's "before", the postimage its "after"
    val ord = when(tc.isin("update_preimage", "delete"), 0).otherwise(1)
    // first/last event per key via min_by/max_by over the (version, ord)
    // struct — NOT two row_number windows, which cost two full sorts and
    // two sort-based max(struct) aggregates per call. This is ONE
    // aggregation: a map-side partial SortAggregate, ONE exchange on the
    // key, then the final SortAggregate (min_by/max_by keep a struct
    // buffer, which hash aggregation cannot hold). Equivalent because
    // (version, ord) is unique per key — a version holds at most one event
    // per key except an update's pre(0)/post(1) pair — so
    // "row_number()==1" IS the min/max. The event-type guards ride inside
    // the picked struct.
    val ordKey = struct(col(CommitVersionCol).as("v"), ord.as("o"))
    val rowStructT = struct((cols.map(col) :+ tc.as(ChangeTypeCol)): _*)
    val firstLast = feed
      .groupBy(keys.map(col): _*)
      .agg(min_by(rowStructT, ordKey).as("__f"),
        max_by(rowStructT, ordKey).as("__l"))
    val agg = firstLast.select((keys.map(col) :+
      when(col("__f").getField(ChangeTypeCol)
        .isin("delete", "update_preimage"), col("__f")).as("__b") :+
      when(col("__l").getField(ChangeTypeCol)
        .isin("insert", "update_postimage"), col("__l")).as("__a")): _*)
    changeRows(agg, cols, keys)(col("__b").isNotNull, col("__b").getField,
      col("__a").isNotNull, col("__a").getField)
  }

  /** The keyed snapshot diff behind the change feed: ONE null-safe
    * full-outer join base⋈next on the CDC keys, classified by
    * [[changeRows]] in the join's own stage. Emitted change rows carry
    * the full row payload, so downstream consumers never re-join the
    * snapshot.
    *
    * Scale: the join shuffles both snapshots on the key — the honest cost
    * of CDC for an arbitrary whole-frame `transact` transform. The row-level
    * writes (SQL UPDATE/MERGE, the streaming upsert) avoid it by handing
    * their own plan's before/after pairs to [[changeRows]] — the feed's
    * on-disk contract stays identical, only the producer changes.
    */
  private[graft] def diffChanges(base: DataFrame, next: DataFrame,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val cols = next.columns.toIndexedSeq
    require(keys.forall(cols.contains), s"CDC keys $keys not all in $cols")
    val b = base.select(cols.map(col): _*).withColumn("__b", lit(true)).alias("b")
    val n = next.select(cols.map(col): _*).withColumn("__n", lit(true)).alias("n")
    val j = b.join(n, keys.map(k => col(s"b.$k") <=> col(s"n.$k")).reduce(_ && _),
      "full_outer")
    changeRows(j, cols, keys)(col("b.__b").isNotNull, c => col(s"b.$c"),
      col("n.__n").isNotNull, c => col(s"n.$c"))
  }

  /** The change-feed event encoding, the one place it is decided. Each
    * row of `pairs` holds one key's before-image (`before(c)` per column,
    * present when `hasBefore`) and after-image (`after(c)`, present when
    * `hasAfter`):
    *   - a new key is an `insert`, a removed key a `delete`;
    *   - a row whose CDC key columns moved is a `delete` + `insert` (the
    *     keyed diff sees two keys; pre/post images would strand the old
    *     key in every downstream replica);
    *   - changed values are an `update_preimage` + `update_postimage` pair;
    *   - an unchanged row emits nothing.
    * Comparisons are null-safe. A column whose before and after are the
    * same expression (an UPDATE's unassigned column) cannot differ and is
    * not compared. One typed event array per row, exploded in the
    * producer's own stage; an unchanged row's sentinel keeps the array
    * typed and is dropped right after. Returns `cols` plus [[ChangeTypeCol]].
    */
  private[graft] def changeRows(pairs: DataFrame, cols: Seq[String],
      keys: Seq[String])(hasBefore: Column, before: String => Column,
      hasAfter: Column, after: String => Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val (keyCols, valueCols) = cols.partition(keys.contains)
    def differs(cs: Seq[String]): Column = cs.filterNot(c => before(c) == after(c))
      .map(c => !(before(c) <=> after(c))).foldLeft(lit(false))(_ || _)
    def image(v: String => Column, kind: String): Column =
      struct(cols.map(c => v(c).as(c)) :+ lit(kind).as(ChangeTypeCol): _*)
    val events = when(hasBefore && !hasAfter, array(image(before, "delete")))
      .when(!hasBefore && hasAfter, array(image(after, "insert")))
      .when(hasBefore && differs(keyCols),
        array(image(before, "delete"), image(after, "insert")))
      .when(hasBefore && differs(valueCols),
        array(image(before, "update_preimage"), image(after, "update_postimage")))
      .otherwise(array(image(before, "unchanged")))
    pairs.select(explode(events).as("__e")).select(col("__e.*"))
      .filter(col(ChangeTypeCol) =!= "unchanged")
  }

  /** Per-file min/max manifest — the Iceberg/Delta data-skipping idea. One
    * distributed pass derives `(file, n_rows, min_c, max_c, …)` per data
    * file and lands it as parquet under `<dataDir>/_manifest/` BEFORE the
    * snapshot commits, so manifests share the snapshot's immutability (the
    * leading underscore keeps Spark's FileIndex from reading it as data).
    *
    * Scale rationale: at 100 TB a filtered read that consults only footers
    * still LISTS and OPENS tens of thousands of files on the driver before
    * the first byte of data moves. The manifest is one row per file — the
    * planner reads one tiny table, keeps the files whose [min,max] interval
    * intersects the predicate, and hands the scan a file list that is
    * already mostly pruned. Range-clustered layouts (repartitionByRange /
    * q51 z-order) are what make the intervals tight enough to skip.
    */
  private def writeManifest(spark: SparkSession, dataDir: String,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = 100000L): Unit = {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(dataDir)
    val aggs = manifestAggs(statsCols, bloomCols, bloomExpectedItems)
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1) // one row per data file — manifest-scale, not data-scale
      .write.mode("overwrite").parquet(s"$dataDir/_manifest")
  }

  /** The per-file stats aggregates manifests are built from — shared by
    * the full-snapshot manifest write and [[optimizeSmallFiles]]' merge
    * (which computes rows for just the freshly packed files).
    */
  private def manifestAggs(statsCols: Seq[String], bloomCols: Seq[String],
      bloomExpectedItems: Long): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    // per-file BLOOM sketch over xxhash64(col) — the point-lookup
    // complement to [min,max] intervals: a high-cardinality column whose
    // values SCATTER across files (ids, fingerprints) has useless
    // intervals (every file spans the whole domain), but a ~1%-fpp bloom
    // answers "could file F hold value v" at planning time. The same
    // sketch Spark's own runtime filtering uses (BloomFilterAggregate /
    // bloom_might_contain) — probed driver-side in GraftPrunedScanBuilder.
    def bloomAgg(c: String): org.apache.spark.sql.Column = {
      // clamp to BloomFilterAggregate's own limits (the runtime-filter
      // confs) — optimize(targetRows > maxNumItems) must degrade to a
      // coarser sketch, not fail analysis
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val items = math.min(bloomExpectedItems,
        conf.getConf(org.apache.spark.sql.internal.SQLConf
          .RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS))
      val numBits = math.min(
        org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(items, 0.01),
        conf.getConf(org.apache.spark.sql.internal.SQLConf
          .RUNTIME_BLOOM_FILTER_MAX_NUM_BITS))
      org.apache.spark.sql.GraftSqlShim.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          org.apache.spark.sql.GraftSqlShim.expression(xxhash64(col(c))),
          org.apache.spark.sql.catalyst.expressions.Literal(items),
          org.apache.spark.sql.catalyst.expressions.Literal(numBits))
          .toAggregateExpression())
    }
    count(lit(1)).as("n_rows") +:
      (statsCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
        bloomCols.map(c => bloomAgg(c).as(s"bloom_$c")))
  }

  /** Carry a manifest across a LINKED staging commit (append /
    * small-file compaction): kept files' rows are reused with their path
    * rewritten into the new snapshot dir (manifest rows key files by
    * absolute path, and a row pointing into a vacuumable old dir is a
    * read-after-vacuum failure); the freshly written files get rows
    * computed by scanning JUST them — O(new data), the whole point of
    * linked staging. The stats surface is inherited from the existing
    * manifest. No-op when the base carries no manifest.
    *
    * Before this, any append DROPPED the manifest (carrying it stale
    * would hide the new file from pruned reads — a file missing from the
    * manifest is never scanned), so a single INSERT disabled file
    * skipping until the next full OPTIMIZE; under streaming ingest that
    * is "always".
    */
  private def carryManifestLinked(spark: SparkSession, baseDir: String,
      newDir: String, newFiles: Seq[String],
      keptRel: Option[Set[String]] = None,
      dropDirs: Set[String] = Set.empty,
      bloomExpectedItems: Long = 100000L): Unit = {
    import org.apache.spark.sql.functions.{col, concat, expr, input_file_name, lit, regexp_replace}
    val oldManifest = Paths.get(baseDir, "_manifest")
    if (!Files.isDirectory(oldManifest)) return
    val old = spark.read.parquet(hiddenDirPaths(spark, Seq(oldManifest.toString)): _*)
    val statsCols = old.columns.toSeq.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_") }
    val bloomCols = old.columns.toSeq.collect {
      case c if c.startsWith("bloom_") => c.stripPrefix("bloom_") }
    // rewrite by the dir-RELATIVE path, never the basename: hive layouts
    // nest files under col=value/ dirs, and a basename rewrite would
    // flatten them onto paths that don't exist
    val uuidSlash = Paths.get(baseDir).getFileName.toString + "/"
    val rel = expr(
      s"substring(file, instr(file, '${uuidSlash}') + ${uuidSlash.length})")
    val relDir = regexp_replace(rel, "/[^/]+$", "") // top-level: = filename
    val fromKept = keptRel.fold(old)(ks =>
      old.filter(rel.isin(ks.toSeq: _*)))
    val carried = (if (dropDirs.isEmpty) fromKept
      else fromKept.filter(!relDir.isin(dropDirs.toSeq: _*)))
      .withColumn("file", concat(lit(s"$newDir/"), rel))
    val aggs = manifestAggs(statsCols, bloomCols, bloomExpectedItems)
    val newRows =
      if (newFiles.isEmpty) carried.limit(0)
      else spark.read.schema(readSchema(spark, Snapshot(-1L, newDir)))
        .option("basePath", newDir) // partition values for nested files
        .parquet(newFiles: _*)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
    carried.unionByName(newRows).coalesce(1)
      .write.mode("overwrite").parquet(s"$newDir/_manifest")
  }

  def manifest(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.read.parquet(hiddenDirPaths(spark, Seq(s"${snap.dataDir}/_manifest")): _*)

  /** File-skipping read: keep the files whose manifest row satisfies
    * `mayMatch` (a predicate over `min_*` / `max_*` — e.g.
    * `max_d >= lo && min_d <= hi` for a range query; it must be
    * conservative: true whenever the file COULD hold a matching row).
    * Returns the pruned DataFrame plus (files kept, files total) so
    * callers can assert skipping actually happened. The caller still
    * applies the exact row-level filter — pruning is a superset, never a
    * substitute.
    */
  def readPruned(spark: SparkSession, snap: Snapshot,
      mayMatch: org.apache.spark.sql.Column): (DataFrame, Int, Int) = {
    val m = manifest(spark, snap)
    val total = m.count().toInt
    val files = m.filter(mayMatch).select("file")
      .collect().map(_.getString(0)) // bounded: one row per kept file
    val df =
      if (files.isEmpty) read(spark, snap).limit(0) // schema-preserving empty
      // basePath: kept LEAF files may live under `col=value/` dirs
      // (partitioned snapshot) — without it the partition columns would
      // silently read NULL, the same hazard GraftPrunedScanBuilder pins
      else spark.read.option("basePath", snap.dataDir)
        .parquet(files.toIndexedSeq: _*)
    (df, files.length, total)
  }

  /** The staged frame's names/types with top-level field METADATA overlaid
    * from the table's current pinned schema. Read-back frames and aliased
    * transforms STRIP field metadata (the file source rebuilds
    * partition-column attributes bare; `Alias` of a non-named child has
    * none), so a successor pin taken verbatim from them would silently
    * drop generation expressions / column DEFAULTs / identity specs —
    * after which the next INSERT pads NULL where it should derive or
    * default. Only EMPTY metadata fills in (a transform that set explicit
    * metadata wins); nested metadata is not carried (the engine's specs
    * are all top-level).
    */
  private def mergePinnedMetadata(spark: SparkSession, root: String,
      written: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType = {
    val baseMeta = readSchema(spark, latest(root)).fields
      .map(f => f.name.toLowerCase -> f.metadata).toMap
    org.apache.spark.sql.types.StructType(written.fields.map { f =>
      if (f.metadata == org.apache.spark.sql.types.Metadata.empty)
        f.copy(metadata = baseMeta.getOrElse(f.name.toLowerCase, f.metadata))
      else f
    })
  }

  /** Read a staged/committed snapshot dir — the ONE scan behind [[read]],
    * the staged read-backs and the DML lineage reads. The dir is a list of
    * partition-spec ERAS ([[readSpecs]]; the single era "." when it spans
    * none), each scanned at its own root under the rename-extended pinned
    * schema: the top level never descends into the `_spec<i>` subtrees
    * (underscore prefix), each later era scans with `basePath` at its
    * subtree so ITS partition columns materialize from its own layout, and
    * an era declared with nothing appended under it yet is skipped.
    * Catalyst pushes deterministic predicates through the Union into every
    * branch: partition filters prune directories per era, data filters
    * reach the parquet row groups — the Iceberg split-planning shape. A
    * RENAME COLUMN mapping applies as the [[DirRead]] coalesce projection
    * on every branch, so files written under pre-rename physical names in
    * ANY era resolve to the logical name; eras union in schema order.
    *
    * `files` (snapshot-dir-relative, in the URI-encoded [[DvFileCol]] form)
    * narrows every era to its share of those files — the planning-time
    * pruned re-read of a partial DML's touched files.
    *
    * A `_dv` deletion vector applies one of two ways. Plain reads filter
    * every era branch with the codegen'd [[GraftDvFilter]] predicate on the
    * RAW scan (it needs `_metadata`; see [[dvKeepBroadcast]]). `lineage`
    * reads carry [[DvFileCol]]/[[DvPosCol]] and drop deleted rows with one
    * BROADCAST anti-join on `(file, pos)` instead: GraftDvFilter is
    * nondeterministic, so it would stop DML `matchedRows` predicates from
    * being pushed into the scan. DV keys are snapshot-dir-relative, so one
    * vector serves every era. A single-era dir with no vector and no
    * rename reads as the bare `spark.read.schema(pinned).parquet(dir)`.
    */
  private def readDir(spark: SparkSession, dir: String, lineage: Boolean = false,
      files: Option[Set[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, expr}
    val SnapshotState(schema, _, specs, renames) = readState(dir)
    // a fresh reader per era: DataFrameReader options accumulate
    def reader = spark.read.schema(renameExtSchema(schema, renames))
    val eras = if (specs.isEmpty) Seq(".") else specs.map(_._1)
    def eraOf(rel: String): String =
      eras.filter(s => s != "." && rel.startsWith(s + "/")).lastOption.getOrElse(".")
    val eraScans = eras.flatMap { sub =>
      val at = if (sub == ".") dir else s"$dir/$sub"
      files match {
        case None if sub == "." => Some(reader.parquet(dir))
        case None if !Files.isDirectory(Paths.get(at)) => None // nothing appended yet
        case None => Some(reader.option("basePath", at)
          .parquet(hiddenDirPaths(spark, Seq(at)): _*))
        case Some(fs) =>
          val share = fs.filter(eraOf(_) == sub).toSeq.sorted
          if (share.isEmpty) None
          else Some(reader.option("basePath", at)
            .parquet(share.map(rel => s"$dir/${decodeRel(rel)}"): _*))
      }
    }
    // a file list no era holds reads as the empty top-level scan
    val raw = if (eraScans.nonEmpty) eraScans else Seq(reader.parquet(dir).limit(0))
    val extra = if (lineage) Seq(DvFileCol, DvPosCol) else Nil
    // lineage relativizes against the snapshot dir's unique uuid segment:
    // the recording side (transactMoR) and the anti-join below derive the
    // SAME string from _metadata.file_path, so URI escaping of partition
    // values never has to round-trip through a filesystem walk
    val uuid = Paths.get(dir).getFileName.toString
    val scans = if (!lineage) raw else raw.map(_
      .withColumn(DvFileCol, expr(s"substring_index(_metadata.file_path, '$uuid/', -1)"))
      .withColumn(DvPosCol, col("_metadata.row_index")))
    val kept =
      if (lineage || !hasDv(dir)) scans
      else dvKeepBroadcast(spark, dir, scans.reduce(_.unionByName(_))) match {
        case None => scans // no data files: nothing to filter
        case Some(bc) => scans.map(_.where(
          org.apache.spark.sql.GraftDvFilter.keepColumn(col("_metadata.row_index"), bc)))
      }
    // the rename projection ends the `_metadata`-bearing scan relation, so
    // it goes above the DV filter
    val branches = kept.map(DirRead(_, schema, renames).project(extra))
    val out =
      if (specs.isEmpty) branches.head
      else branches.reduce(_.unionByName(_))
        .select((schema.fieldNames.toIndexedSeq ++ extra).map(col): _*)
    if (!lineage || !hasDv(dir)) out
    else {
      val dv = dvFrame(spark, dir)
      out.join(broadcast(dv),
        out(DvFileCol) === dv("file") && out(DvPosCol) === dv("pos"), "left_anti")
    }
  }

  /** DV-applied read WITHOUT lineage columns — the hot path every normal
    * read takes. The deletion vector is applied by [[GraftDvFilter]], a
    * codegen'd per-row predicate directly above the scan: the current file
    * resolves once per file (reference compare after that) and the row
    * index binary-searches that file's sorted deletions. An anti-join on
    * the `_metadata` columns measured ~5× the plain scan at 10M rows
    * (every row materializes + hashes a path string); this shape measures
    * within noise of the plain scan.
    *
    * The broadcast `file → sorted positions` map is built once per
    * snapshot dir (immutable) and cached. Its driver-side footprint is the
    * deletes-since-last-OPTIMIZE — the same bound the alternative (a
    * driver-built broadcast hash relation) would pay, and the bound
    * OPTIMIZE's vector materialization exists to enforce.
    */
  // LRU-bounded: a long-running streaming MoR writer touches a NEW
  // snapshot dir every micro-batch; an unbounded cache would pin every
  // batch's broadcast in driver memory for the life of the session.
  // Evicted entries are unpersisted (executor-side blocks freed NOW,
  // driver-side value reclaimed by GC once the last plan referencing the
  // handle goes away — destroy() would break an unexecuted plan that
  // still holds it); an evicted dir read again just rebuilds.
  private val dvBroadcastCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        String, org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]](
        16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          String, org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]])
          : Boolean = {
        val evict = size() > 64
        if (evict) try e.getValue.unpersist() catch { case _: Exception => () }
        evict
      }
    })
  /** The cached broadcast `full file path → sorted deleted positions`
    * map for DV-bearing snapshot dir `dir`, keyed bit-exactly with what
    * InputFileBlockHolder serves at scan time — the prefix is sampled
    * from input_file_name() over `sampleFrom` (the holder's own
    * rendering) rather than reconstructed from Hadoop's URI form. None
    * when the dir has no data files (nothing to filter). Shared by every
    * era branch of a plain [[readDir]]: DV `file` keys are
    * snapshot-dir-relative, so ONE map serves every era.
    */
  private def dvKeepBroadcast(spark: SparkSession, dir: String,
      sampleFrom: DataFrame):
      Option[org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]] = {
    import org.apache.spark.sql.functions.input_file_name
    var bc = dvBroadcastCache.get(dir)
    if (bc == null) {
      val sample = sampleFrom.select(input_file_name()).take(1)
      if (sample.isEmpty) return None // no data files: nothing to filter
      val uuid = Paths.get(dir).getFileName.toString
      val p = sample.head.getString(0)
      val at = p.indexOf(uuid + "/")
      // a miss would make every broadcast-map key mismatch and the DV
      // filter keep ALL rows — deleted rows would resurrect silently
      require(at >= 0, s"deletion-vector read of $dir: scanned file path " +
        s"'$p' does not contain the snapshot dir segment '$uuid/' — " +
        "cannot key the DV map; refusing the read")
      val prefix = p.substring(0, at + uuid.length + 1)
      val dvMap = dvFrame(spark, dir)
        .collect() // bounded: deletes since last OPTIMIZE (see scaladoc)
        .groupBy(_.getAs[String]("file"))
        .map { case (f, rows) =>
          (prefix + f, rows.map(_.getAs[Long]("pos")).sorted)
        }
      bc = spark.sparkContext.broadcast(dvMap)
      val prev = dvBroadcastCache.putIfAbsent(dir, bc)
      if (prev != null) { // lost a concurrent build: free our copy eagerly
        try bc.unpersist() catch { case _: Exception => () }
        bc = prev
      }
    }
    Some(bc)
  }

  /** A snapshot dir's RAW scan (physical column names, `_metadata` still
    * addressable) plus the projection onto logical names — the split that
    * lets DV/lineage readers interpose `_metadata`-dependent filters
    * BEFORE the rename projection ends the file-scan relation.
    */
  private final case class DirRead(raw: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      renames: Map[String, Seq[String]]) {
    import org.apache.spark.sql.functions.{coalesce, col, lit, struct, when}
    /** Logical view: per renamed column, `coalesce(new, old₁, old₂ …)` —
      * any one file physically holds exactly one of the chain's names
      * (the others read as NULL), so the coalesce picks the stored value
      * whichever era wrote the file. NESTED renames (dotted chain keys,
      * `parent.child` → dotted physical names) rebuild the parent struct
      * with the same per-field coalesce, preserving whole-struct NULLs.
      * `extraCols` pass through untouched (lineage columns).
      */
    def project(extraCols: Seq[String] = Nil): DataFrame =
      if (renames.isEmpty) raw
      else
        raw.select(schema.fields.toIndexedSeq.map(fld =>
          fieldCol("", "", fld).getOrElse(col(fld.name))
            .as(fld.name, fld.metadata)) ++
          extraCols.map(col): _*)

    /** One field's logical column at access path `path` / chain-key prefix
      * `keyPrefix` (both ""-or-dot-terminated) — None when untouched (the
      * stored value serves as-is, keeping its type and nullability). A
      * struct with chains ANYWHERE beneath it rebuilds recursively with
      * the when/struct shape (whole-struct NULLs preserved; every
      * expression here must stay EVALUABLE without optimizer help —
      * DvReadRewrite splices this plan in post-optimization, where e.g.
      * UpdateFields would never be replaced); a leaf — or a struct renamed
      * as a whole, whose chain olds are same-typed sibling columns in the
      * extended read schema — coalesces down its own chain.
      */
    private def fieldCol(path: String, keyPrefix: String,
        fld: org.apache.spark.sql.types.StructField):
        Option[org.apache.spark.sql.Column] = {
      val key = s"$keyPrefix${fld.name.toLowerCase}"
      val self = s"$path${fld.name}"
      fld.dataType match {
        case st: org.apache.spark.sql.types.StructType
            if renames.keysIterator.exists(_.startsWith(s"$key.")) =>
          val inner = st.fields.toIndexedSeq.map(nf =>
            fieldCol(s"$self.", s"$key.", nf)
              .getOrElse(col(s"$self.${nf.name}")).as(nf.name))
          // cast target relaxes nullability at every level: the rebuilt
          // coalesce legs are statically nullable even when the stored
          // fields were NOT NULL, and the values are identical either way
          Some(when(col(self).isNotNull,
              struct(inner: _*).cast(asNullable(st)))
            .otherwise(lit(null).cast(asNullable(st))))
        case _ =>
          val olds = renames.getOrElse(key, Nil)
          if (olds.isEmpty) None
          else Some(coalesce(col(self) +:
            olds.map(o => col(s"$path${o.split('.').last}")): _*))
      }
    }
  }

  /** `dt` with every struct field (at any depth) marked nullable. */
  private def asNullable(dt: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.DataType = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(st.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case other => other
  }

  /** The read schema extended with each rename chain's PHYSICAL names
    * (same type, nullable): files from before the rename bind their
    * stored column, files from after bind the logical one — the
    * [[DirRead]] coalesce projection then picks whichever is non-null.
    */
  private def renameExtSchema(schema: org.apache.spark.sql.types.StructType,
      renames: Map[String, Seq[String]]):
      org.apache.spark.sql.types.StructType =
    if (renames.isEmpty) schema
    else renameExtStruct(schema, renames, prefix = "")

  /** Recursive body of [[renameExtSchema]]: each struct level (root when
    * `prefix` is "") grows, per field whose dotted logical path carries a
    * chain, the chain's old LEAF names as extra same-typed nullable
    * siblings — pre-rename files bind their stored field there.
    */
  private def renameExtStruct(st: org.apache.spark.sql.types.StructType,
      renames: Map[String, Seq[String]], prefix: String):
      org.apache.spark.sql.types.StructType = {
    val recursed = st.fields.map { fld =>
      fld.dataType match {
        case inner: org.apache.spark.sql.types.StructType =>
          fld.copy(dataType = renameExtStruct(inner, renames,
            s"$prefix${fld.name.toLowerCase}."))
        case _ => fld
      }
    }
    val extra = recursed.flatMap { fld =>
      renames.getOrElse(s"$prefix${fld.name.toLowerCase}", Nil).map(o =>
        org.apache.spark.sql.types.StructField(o.split('.').last,
          fld.dataType, nullable = true))
    }
    org.apache.spark.sql.types.StructType(recursed ++ extra)
  }

  /** `ALTER TABLE RENAME COLUMN` read mapping: logical (current) name →
    * the chain of PHYSICAL names files may still carry, newest first.
    * Stored as `rename` entries of the snapshot record (logical TAB old₁
    * TAB old₂ …) of every snapshot dir whose files predate a rename; a
    * full-rewrite commit stages fresh files under the logical names and
    * drops them — renames heal on the next rewrite. Keys are lowercase.
    */
  private[graft] def readRenames(dir: String): Map[String, Seq[String]] =
    readState(dir).renames

  /** Physical data files of a snapshot dir with size and parquet-footer
    * row counts — the `$files` metadata-table backing. Driver-side walk +
    * one footer read per file (the footer is the file's own tail — no data
    * pages move), O(files of ONE snapshot): the same metadata-query shape
    * as Iceberg's `files` table, which production engines answer from
    * manifests for exactly this reason. Row counts are PHYSICAL (a
    * deletion-vector-bearing snapshot's logical count is lower); sidecar
    * dirs (`_dv`, `_manifest`, `_changes`) are excluded.
    */
  private[graft] def dataFileMeta(dir: String): Seq[(String, Long, Long)] = {
    val base = Paths.get(dir)
    val s = Files.walk(base)
    val files =
      try s.iterator().asScala.toSeq.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
          isDataSegs(base.relativize(p).iterator().asScala.map(_.toString).toSeq)
      } finally s.close()
    val conf = new org.apache.hadoop.conf.Configuration()
    files.map(p => base.relativize(p).toString -> p).sortBy(_._1)
      .map { case (rel, p) =>
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toUri), conf))
        val n = try rdr.getRecordCount finally rdr.close()
        (rel, Files.size(p), n)
      }
  }

  /** Lineage column names for the merge-on-read path: the row's data file
    * RELATIVE to its snapshot dir, and its row index within that file.
    * Relative paths are what make deletion vectors version-portable: every
    * later version hard-links the same files under the same relative
    * layout, so a `(file, pos)` recorded against version N still names the
    * same physical row in version N+k's dir.
    */
  private[graft] val DvFileCol = "__graft_dv_file"
  private[graft] val DvPosCol = "__graft_dv_pos"
  private def dvDir(dir: String): Path = Paths.get(dir, "_dv")
  private[graft] def hasDv(dir: String): Boolean = Files.isDirectory(dvDir(dir))

  /** Snapshot dir `dir`'s deletion vector: one `(file, pos)` row per
    * deleted position.
    */
  private def dvFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(hiddenDirPaths(spark, Seq(dvDir(dir).toString)): _*)

  /** What to read underscore-named dirs `dirs` by — the sidecars (`_dv`,
    * `_changes`, `_manifest`, all flat parquet) and a later spec era's
    * `_spec<i>` root (`col=value` dirs, or the files of an unpartitioned
    * era; read with `basePath` = the era root): their visible top-level
    * entries, since Spark's hidden-path filter flags an underscore-named
    * root and logs "All paths were ignored" although it reads the files.
    * Spark checks and lists each entry root as it would a dir root, so a
    * many-file read pays per file: a `changes` feed over 1000 four-file
    * versions builds in 1.4–1.7× the time of its 1000 dir roots on a
    * 4-core box (a `*.parquet` glob per dir costs the same). The dirs stay
    * the roots only where the entries alone would cross the
    * parallel-listing threshold and the dirs would not: listing that many
    * roots costs Spark a job.
    */
  private def hiddenDirPaths(spark: SparkSession, dirs: Seq[String]): Seq[String] = {
    val files = dirs.flatMap { d =>
      val s = Files.list(Paths.get(d))
      try s.iterator().asScala.filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }.map(_.toString).toList.sorted
      finally s.close()
    }
    val limit = spark.sessionState.conf.parallelPartitionDiscoveryThreshold
    if (files.isEmpty || (files.size > limit && dirs.size <= limit)) dirs else files
  }

  /** Write deletion vector `dv` as staged dir `dir`'s sidecar — one tiny
    * file: the vector is bounded by deletes since the last OPTIMIZE, not by
    * table size.
    */
  private def writeDv(dv: DataFrame, dir: String): Unit =
    dv.coalesce(1).write.mode("overwrite").parquet(dvDir(dir).toString)

  /** Carry `from`'s deletion vector into staged `dir`, minus the entries
    * `dropped` selects: those of files the stage rewrote, whose live rows
    * moved to fresh files — a kept entry would dangle (harmless at read,
    * but accumulating forever). No sidecar when nothing is left.
    */
  private def carryDv(spark: SparkSession, from: String, dir: String,
      dropped: org.apache.spark.sql.Column): Unit =
    if (hasDv(from)) {
      val kept = dvFrame(spark, from).filter(!dropped)
      if (!kept.isEmpty) writeDv(kept, dir)
    }

  /** The on-disk relative path of a URI-encoded [[DvFileCol]] value. */
  private def decodeRel(enc: String): String =
    Paths.get(java.net.URI.create("file:///" + enc)).toString.stripPrefix("/")

  /** All-inserts change frame by HARD LINK instead of a second full write
    * of the data (init / clone / append staged exactly the rows the feed
    * must carry, all typed `insert`). The linked files lack the
    * `_change_type` column; both feed readers ([[changes]]'s explicit
    * requested schema, [[changesAt]]'s inference) null-fill it and
    * coalesce NULL → 'insert' — sound because every legally linked frame
    * is all-inserts by construction, and every WRITTEN frame carries the
    * column non-null. Returns false (caller must write the frame the
    * legacy way) when the layout cannot be represented by flat links:
    * partition/spec subdirectories (the multi-path feed scan must never
    * mix partition-discovered and flat layouts), a `_dv` sidecar (linked
    * rows would resurrect deleted positions into the feed), rename
    * chains in the staged record (linked files carry retired physical
    * names the DEST root's feed log may not know), or zero staged files
    * (an empty inferred read would fail). At 100 TB this turns init/clone
    * feed emission from a second copy of the table into O(files) metadata.
    */
  private def linkInsertChanges(stagedDir: Path): Boolean = {
    if (readRenames(stagedDir.toString).nonEmpty) return false
    val entries = {
      val s = Files.list(stagedDir)
      try s.iterator().asScala.toSeq finally s.close()
    }
    // `_manifest/` is per-file stats metadata, not feed data: a flat
    // init/clone with BOTH statsCols and cdcKeys must still link (ADVICE
    // r20 — the isDirectory refusal was silently sending every
    // stats+CDC table down the legacy full second write). The refusal
    // stays for everything else: partition/spec subtrees and `_dv`.
    if (entries.exists(p => Files.isDirectory(p) &&
      p.getFileName.toString != "_manifest")) return false
    val files = entries.filter(_.getFileName.toString.endsWith(".parquet"))
    if (files.isEmpty) return false
    linkInsertChangeFiles(stagedDir, files)
    true
  }

  /** Link an explicit flat file list as the staged dir's all-inserts
    * change frame — the append path's shape, where the staged dir also
    * holds the base's linked files and ONLY the new batch belongs in the
    * feed. Callers guarantee the files are flat staged parquet.
    */
  private def linkInsertChangeFiles(stagedDir: Path, files: Seq[Path]): Unit = {
    val ch = stagedDir.resolve("_changes")
    Files.createDirectories(ch)
    files.foreach(f => Files.createLink(ch.resolve(f.getFileName), f))
  }

  /** Hard-link every data file under `from` whose `from`-relative path
    * passes `keep` into `to`, preserving the (possibly hive-partitioned
    * or spec-spanning) directory layout — the metadata-only copy behind
    * every staged write: all of the base for ALTER / RESTORE / CLONE /
    * appends / MoR, the untouched files for partial DML and small-file
    * compaction.
    */
  private def linkParquetTree(fromDir: String, toDir: String,
      withDv: Boolean = true, keep: Path => Boolean = _ => true): Unit = {
    val (from, to) = (Paths.get(fromDir), Paths.get(toDir))
    val s = Files.walk(from)
    try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet") && {
        // never carry snapshot-local metadata (_changes/_manifest): each
        // version's change set and stats belong to its OWN commit. The
        // `_dv` deletion vector is the exception — it is TABLE STATE, not
        // commit metadata: dropping it on a metadata-only link (RESTORE /
        // CLONE / ALTER) would silently resurrect deleted rows.
        // `withDv = false` is for the paths that write their own pruned
        // or merged vector instead (partial DML, [[transactMoR]]).
        val rel = from.relativize(f)
        val segs = rel.iterator().asScala.map(_.toString).toSeq
        ((withDv && segs.head == "_dv") || isDataSegs(segs)) && keep(rel)
      })
      .foreach { f =>
        val dest = to.resolve(from.relativize(f))
        Files.createDirectories(dest.getParent)
        Files.createLink(dest, f)
      }
    finally s.close()
  }

  // ---- the commit pipeline --------------------------------------------------
  // Every staged write runs the same steps: pin the base, stage a fresh
  // dir, write the data with its constraints observed, link the kept base
  // files, carry table state, write the change frame, CAS, and retry on a
  // lost race. [[commitLoop]] owns the pin, the stamp guard, the CAS and
  // the retry; each path's attempt function owns only what differs.

  /** What one staging attempt produced: a dir for the CAS plus the work
    * that may run only after the CAS is won (root-level config, given the
    * committed version), or a snapshot to return without committing.
    */
  private sealed trait Attempt
  private final case class Staged(dir: String,
      onWin: Long => Unit = _ => ()) extends Attempt
  private final case class Settled(snap: Snapshot) extends Attempt

  /** Test seam: fires in every commit attempt after staging, just before
    * the CAS — the window a racing commit must land in to make the
    * attempt lose (SqlDmlSpec and SnapshotStoreSpec drive deterministic
    * interleaves through it).
    */
  private[graft] var commitTestHook: () => Unit = () => ()

  /** The optimistic-commit loop behind every write path. Each attempt
    * pins `latest(root)` BEFORE the stamp guard (see [[stampGuard]]),
    * stages against that base, and CASes version base+1; a lost race
    * re-runs `stage` against the winner's snapshot (the rebase) — so it
    * MUST be a pure function of the base. A replayed stamp
    * fires `onReplay` and returns the head unchanged. `guarded = false`
    * is for commits that carry no stamps and write no generated
    * partition values (ALTER, RESTORE, small-file compaction): they skip
    * the guard's writer-zone check and stay legal from any session zone.
    */
  private def commitLoop(root: String, maxAttempts: Int,
      txns: Seq[Txn] = Nil, pinCheck: () => Boolean = () => true,
      onReplay: () => Unit = () => (), guarded: Boolean = true)(
      stage: Snapshot => Attempt): Snapshot = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val base = latest(root)
      if (guarded && stampGuard(root, txns, pinCheck)) { onReplay(); return base }
      stage(base) match {
        case Settled(snap) => return snap
        case Staged(dir, onWin) =>
          commitTestHook()
          if (tryCommit(root, base.version, dir, txns)) {
            onWin(base.version + 1)
            return Snapshot(base.version + 1, dir)
          }
      }
      attempt += 1 // lost the race: the orphaned dir is cleanOrphans food
    }
    throw new CommitConflictException(
      s"lost the commit race $maxAttempts times at $root")
  }

  /** A fresh staging dir: unreachable by readers until a commit points
    * at it.
    */
  private def freshDir(root: String): String =
    Files.createDirectories(
      Paths.get(root, "data", UUID.randomUUID().toString)).toString

  /** The one staged data write: a fresh dir; `out` (when given) written
    * with its constraints observed in the same job ([[checkedWrite]]),
    * REBALANCE-clustered by `parts` when `rebalance`, laid out by
    * `partitionBy(parts)` under the `sub` subtree (a `_spec<i>` era, or
    * "." for the dir itself); a violation deletes the dir before it
    * throws. Returns the dir and the freshly written files — listed
    * before any base file is linked in.
    *
    * REBALANCE (not a plain repartition) co-locates each partition's rows
    * before the fan-out write: an unclustered partitionBy write makes
    * every task write a sliver into every dir (tasks × dirs files — on a
    * high-cardinality layout like hours(ts), thousands), and a bare
    * hash-by-partition-cols serializes a hot value through one writer.
    * REBALANCE keeps the one-file-per-dir goal bounded: AQE coalesces
    * slivers AND splits a hot value across writer tasks (guide §2.5
    * skew). Callers whose frame is already shaped (OPTIMIZE's range/
    * z-order repack, small-file compaction) pass `rebalance = false`.
    */
  private def writeStaged(root: String, out: Option[DataFrame],
      parts: Seq[String] = Nil, sub: String = ".", rebalance: Boolean = true,
      constraints: Seq[(String, org.apache.spark.sql.Column)] = Nil):
      (String, Seq[String]) = {
    val dir = freshDir(root)
    val tgt = Paths.get(dir, sub).normalize
    out.foreach(df => checkedWrite(root, df, constraints,
        () => dropStagedDir(dir)) { observed =>
      val w = (if (rebalance && parts.nonEmpty)
        observed.hint("rebalance", parts: _*) else observed).write.mode("append")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(tgt.toString)
    })
    val files =
      if (!Files.isDirectory(tgt)) Nil
      else {
        val s = Files.walk(tgt)
        try s.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq
        finally s.close()
      }
    (dir, files)
  }

  /** The layout new rows are written under: the newest spec's subtree and
    * columns on a snapshot spanning specs, else the table's partition
    * columns at the top level.
    */
  private def currentLayout(root: String, base: Snapshot): (String, Seq[String]) =
    readSpecs(base.dataDir).lastOption.getOrElse((".", partitionCols(root)))

  /** Give staged dir `dir` its record: snapshot dir `from`'s record,
    * edited. The pinned schema becomes `schema` when given, the identity
    * high-water mark ([[identityNext]]) carries as is (without it a
    * DML/OPTIMIZE commit would silently reset identity allocation), and
    * the spec eras and rename chains — which describe how to read the
    * files linked from `from` — carry only for dirs that link them
    * (`linked`). Full rewrites pass `linked = false`: their files are born
    * in the current spec under logical names, which heals both away.
    * `edit` then applies the stager's own change (a new spec era, a new
    * rename mapping).
    */
  private def carryTableState(from: String, dir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      linked: Boolean = true,
      edit: SnapshotState => SnapshotState = s => s): Unit = {
    val base = readState(from)
    writeState(dir, edit(if (linked) base.copy(schema = schema.getOrElse(base.schema))
      else SnapshotState(schema.getOrElse(base.schema), base.identityNext)))
  }

  /** Write the commit's change frame under the staged dir — CDC tables
    * only, so `changes` is never built on a table without a feed.
    */
  private def writeChanges(root: String, dir: String, changes: => DataFrame): Unit =
    if (cdcKeys(root).nonEmpty) {
      val ch = changes
      require(ch.columns.contains(ChangeTypeCol),
        s"supplied change frame lacks $ChangeTypeCol")
      ch.write.mode("overwrite").parquet(s"$dir/_changes")
    }

  /** The empty change frame of a commit that changes no rows (ALTER,
    * layout-only compaction): schema-correct, so feed reads span it.
    */
  private def noChanges(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      schema.add(ChangeTypeCol, org.apache.spark.sql.types.StringType))

  /** The CAS: own version expectedCurrent+1 iff nobody else does yet.
    * The pointer content is written to a temp file first, then published
    * via `Files.createLink` — link(2) is atomic create-if-absent on POSIX
    * (EEXIST = lost the race) AND the target appears with its full content
    * already in place, so a concurrent reader can never observe an empty or
    * half-written pointer. (A createFile-then-move sequence would expose an
    * empty reservation; a plain move without REPLACE_EXISTING is a
    * non-atomic check-then-rename in java.nio — both are torn-read bugs.)
    * Readers filter on the `.commit` suffix, so staged temp files are
    * invisible to them.
    */
  private def tryCommit(root: String, expectedCurrent: Long, dataDir: String,
      txns: Seq[Txn] = Nil): Boolean = {
    val target = commitFile(root, expectedCurrent + 1)
    val tmp = Files.createTempFile(commitsDir(root), ".staged", ".tmp")
    Files.writeString(tmp,
      dataDir + txns.map(t => s"\n${t.appId}\t${t.version}").mkString)
    try {
      Files.createLink(target, tmp)
      val v = expectedCurrent + 1
      // head pointer AFTER the CAS lands — a crash in between leaves the
      // hint one behind, which probe-forward in latest() absorbs
      updateHead(root, v)
      // periodic txn-stamp fold — after the pointer is live, so a crash
      // here at worst delays the next fold (readers rescan the tail)
      if (v > 0 && v % TxnCheckpointInterval == 0) writeTxnCheckpoint(root, v)
      true
    }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** OPTIMIZE: bin-pack the current snapshot into files of ~`targetRows`
    * rows — the small-file compaction every table format ships (Delta
    * OPTIMIZE / Iceberg rewrite_data_files). Streaming ingest and frequent
    * commits accrete many tiny files; at 100 TB scan cost is dominated by
    * file COUNT (open/footer/seek per file) long before byte count, so
    * periodic bin-packing is what keeps read amplification flat. Runs as a
    * normal optimistic transaction (concurrent writers arbitrate through
    * the same commit CAS); data is byte-identical, only layout changes.
    * `clusterBy` range-clusters while packing — pairing it with
    * `statsCols` manifests is what makes q74-style file skipping
    * effective (tight per-file intervals).
    *
    * `zorderBy` (exactly two numeric columns, exclusive with `clusterBy`)
    * clusters by a Morton curve key instead — the multi-dimension layout:
    * range-clustering on column A makes per-file [min,max] intervals tight
    * on A and USELESS on B (every file spans B's whole domain), while the
    * z-curve trades a little per-dim tightness for tightness on BOTH, so
    * manifests prune range predicates on either column (the Delta/Iceberg
    * OPTIMIZE ZORDER layout). Each dim is first normalized to a dense
    * 0..255 rank via approximate-quantile cut points ([[graft.plans
    * .RankBucket]] — one bounded-memory sketch pass, skew-proof where
    * linear min/max scaling is not), then interleaved
    * ([[graft.plans.InterleaveBits]]) and range-repartitioned + sorted by
    * the curve key; the key is layout-only and never lands in the data.
    */
  def optimize(spark: SparkSession, root: String, targetRows: Long,
      clusterBy: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      partitionPredicate: Option[String] = None,
      bloomCols: Seq[String] = Nil, zorderBy: Seq[String] = Nil): Snapshot = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "cluster_by and zorder_by are exclusive: one layout key per OPTIMIZE")
    require(zorderBy.isEmpty || zorderBy.size == 2,
      s"zorder_by takes exactly two columns (got ${zorderBy.mkString(",")}); " +
        "more dims dilute every per-dim interval — pick the two you filter by")
    val hive = partitionCols(root)
    // layout-only curve key: quantile-rank each dim to 0..255 (one
    // approxQuantile sketch pass over both columns), morton-interleave
    def zkey(df: DataFrame): org.apache.spark.sql.Column = {
      val probs = (1 until 256).map(_ / 256.0).toArray
      val cuts = df.stat.approxQuantile(zorderBy.toArray, probs, 0.001)
      val ranks = zorderBy.zip(cuts).map { case (c, cut) =>
        graft.plans.RankBucket(
          org.apache.spark.sql.GraftSqlShim.expression(col(c).cast("double")),
          cut.toIndexedSeq)
      }
      org.apache.spark.sql.GraftSqlShim.column(
        graft.plans.InterleaveBits(ranks(0), ranks(1)))
    }
    // evolved-transform backfill: a metadata-only partition-transform
    // evolution (set_partition_spec('t', 'hours(ts)') on a days(ts)
    // table) leaves pre-evolution rows with NULL in the new GENERATED
    // column — they predate it. The migrating OPTIMIZE is the one full
    // rewrite in such a table's lifetime, so it fills the derivation
    // here: afterwards derived-filter pruning covers EVERY row (no
    // __HIVE_DEFAULT_PARTITION__ escape dir). Stored non-null values
    // pass through untouched (their __gen_ CHECK pinned them equal).
    def withGen(df: DataFrame): DataFrame =
      readSchema(spark, latest(root)).fields
        .filter(f => f.metadata.contains(GraftCatalog.GenerationExprKey) &&
          df.columns.exists(_.equalsIgnoreCase(f.name)))
        .foldLeft(df)((acc, f) => acc.withColumn(f.name,
          org.apache.spark.sql.functions.coalesce(col(f.name),
            expr(f.metadata.getString(GraftCatalog.GenerationExprKey))
              .cast(f.dataType))))
    def repack(df: DataFrame): DataFrame = {
      val n = df.count()
      val parts = math.max(1, ((n + targetRows - 1) / targetRows).toInt)
      if (zorderBy.nonEmpty) {
        val zc = "__graft_z"
        val keyed = df.withColumn(zc, zkey(df))
        // range-repartition puts curve-adjacent rows in the same file;
        // sortWithinPartitions keeps row-group stats tight inside each
        // file too. Projecting the key away moves no rows.
        keyed.repartitionByRange(parts, (hive.map(col) :+ col(zc)): _*)
          .sortWithinPartitions((hive.map(col) :+ col(zc)): _*)
          .drop(zc)
      } else if (hive.nonEmpty)
        // partitioned table: shuffle BY the partition columns (plus any
        // cluster key for in-partition order) so each hive partition's
        // rows co-locate into few tasks — a global round-robin would make
        // every task write a sliver into every partition dir, exploding
        // file count by tasks × partitions instead of shrinking it
        df.repartitionByRange(parts, (hive ++ clusterBy).distinct.map(col): _*)
      else if (clusterBy.nonEmpty)
        df.repartitionByRange(parts, clusterBy.map(col): _*)
      else df.repartition(parts)
    }
    partitionPredicate match {
      case Some(pred) =>
        // PARTITION-SCOPED compaction: bin-pack only the partitions the
        // predicate selects, hard-link the rest — maintenance stays
        // O(compacted partitions) on a table where only the hot partition
        // fragments (streaming appends land in today's dir; yesterday's
        // files never move again). Layout-only: the change set is EMPTY
        // (the q88 OPTIMIZE-silence contract).
        require(hive.nonEmpty,
          s"partition-scoped optimize requires a partitioned table ($root)")
        transactPartialWithChanges(spark, root)(
          base => base.filter(expr(pred)))(touched =>
          (repack(withGen(touched)),
            touched.limit(0).withColumn(ChangeTypeCol, lit("insert"))))
      case None =>
        // bloom sizing: after bin-packing each file holds ~targetRows rows
        transact(spark, root, statsCols = statsCols, bloomCols = bloomCols,
          bloomExpectedItems = math.max(targetRows, 1000L))(
          df => repack(withGen(df)))
    }
  }

  /** INCREMENTAL compaction: rewrite ONLY the files holding fewer than
    * `smallFileRows` rows, hard-link every already-compacted file
    * untouched. A full-table OPTIMIZE is O(table) every time it runs; on
    * an append-heavy table the steady state is a few large compacted
    * files plus the trickle of small recent ones, so maintenance should
    * cost O(small files) — the Delta/Iceberg bin-pack contract (only
    * under-sized files are rewrite candidates). At 100 TB this is the
    * difference between a compaction cadence you can afford hourly and
    * one you can't afford at all.
    *
    * Manifest handling is the sharp edge: manifest rows key files by
    * ABSOLUTE path, and a file missing from the manifest is invisible to
    * pruned reads — so kept files' rows are carried over with their path
    * rewritten into the new snapshot dir, and freshly packed files get
    * rows computed by scanning just them. The stats surface is inherited
    * from the existing manifest (caller-passed cols must match it
    * exactly, or be empty); growing the surface requires a full OPTIMIZE,
    * refused loudly below rather than silently serving a manifest with
    * holes.
    *
    * On a PARTITIONED table the same contract holds at partition grain:
    * small files group by their partition directory, only directories
    * holding ≥2 small files participate (a lone small file has nothing
    * to merge with — compaction never crosses a partition boundary), the
    * participating files read back in ONE job (partition columns
    * materialize from their directories) and re-pack co-located by
    * partition key, and every large or lone file hard-links in place.
    *
    * Loud refusals, not silent fallbacks (the caller asked for O(small)
    * and must not quietly get O(table) or wrong data):
    * deletion-vector snapshots (physical footer counts overcount; compact
    * via full OPTIMIZE which merges the DV), renamed-column tables (data
    * files carry pre-rename names; a raw subset read would null-fill).
    */
  def optimizeSmallFiles(spark: SparkSession, root: String, targetRows: Long,
      smallFileRows: Long, maxAttempts: Int = 10): Snapshot = {
    import org.apache.spark.sql.functions.col
    val hive = partitionCols(root)
    commitLoop(root, maxAttempts, guarded = false) { base =>
      require(!isEvolved(base.dataDir),
        s"optimizeSmallFiles on $root while a partition-spec evolution is " +
          "pending; run a full OPTIMIZE (it also migrates the layout)")
      require(!Files.isDirectory(Paths.get(base.dataDir, "_dv")),
        s"optimizeSmallFiles on a deletion-vector snapshot ($root): footer " +
          "row counts overcount live rows — run a full OPTIMIZE (merges the DV)")
      require(readRenames(base.dataDir).isEmpty,
        s"optimizeSmallFiles on a renamed-column table ($root): data files " +
          "carry pre-rename names — run a full OPTIMIZE first")
      val meta = dataFileMeta(base.dataDir)
      val (smallAll, keptLarge) = meta.partition(_._3 < smallFileRows)
      // partitioned: a small file only participates when its OWN directory
      // holds another one — merging never crosses a partition boundary
      val (small, keptLone) =
        if (hive.isEmpty) (smallAll, Nil)
        else smallAll.groupBy(f => f._1.take(f._1.lastIndexOf('/').max(0)))
          .values.partition(_.size >= 2) match {
            case (groups, lone) => (groups.flatten.toSeq, lone.flatten.toSeq)
          }
      val kept = keptLarge ++ keptLone
      if (small.size <= 1) Settled(base) // nothing to gain from a rewrite
      else {
        val schema = readSchema(spark, base)
        val smallPaths = small.map(f => s"${base.dataDir}/${f._1}")
        val nSmall = small.map(_._3).sum
        val parts = math.max(1, ((nSmall + targetRows - 1) / targetRows).toInt)
        // all-empty smalls: dropping them IS the compaction. Partitioned:
        // one job for ALL fragmented partitions — basePath materializes
        // each file's partition values from its directory, and the range
        // shuffle co-locates each partition's rows so file count stays
        // O(fragmented partitions), never tasks × partitions
        val packed =
          if (nSmall == 0) None
          else if (hive.isEmpty)
            Some(spark.read.schema(schema).parquet(smallPaths: _*)
              .repartition(parts))
          else Some(spark.read.schema(schema).option("basePath", base.dataDir)
            .parquet(smallPaths: _*).repartitionByRange(parts, hive.map(col): _*))
        val (dir, packedFiles) = writeStaged(root, packed, hive, rebalance = false)
        val smallRel = small.map(_._1).toSet
        linkParquetTree(base.dataDir, dir,
          keep = rel => !smallRel(rel.toString))
        carryTableState(base.dataDir, dir)
        // layout-only: byte-identical data, EMPTY change set (the q88
        // OPTIMIZE-silence contract)
        writeChanges(root, dir, noChanges(spark, schema))
        carryManifestLinked(spark, base.dataDir, dir, packedFiles,
          keptRel = Some(kept.map(_._1).toSet),
          bloomExpectedItems = math.max(targetRows, 1000L))
        Staged(dir)
      }
    }
  }

  /** VACUUM: drop all but the newest `keepLast` versions and delete their
    * now-unreferenced data dirs from disk. Commit files are removed FIRST
    * (oldest-first), so a crash mid-vacuum leaves only unreferenced dirs
    * behind (re-vacuumable garbage), never a commit pointing at deleted
    * data. Retention is the reader contract, exactly as in Delta/Iceberg:
    * a reader pinning a version older than the retention window races with
    * vacuum by definition — pick `keepLast` ≥ the longest reader lease.
    * Returns the expired versions.
    */
  def expireSnapshots(root: String, keepLast: Int): Seq[Long] =
    expireSnapshots(root, keepLast, olderThanMs = Long.MaxValue)

  /** Retention by COUNT and AGE together: expire versions beyond the
    * newest `keepLast` whose commit is older than `olderThanMs` (commit
    * mtime — the same clock TIMESTAMP AS OF resolves against). The age
    * guard is the Delta-style retention window: `keepLast = 1,
    * olderThanMs = 7 days` keeps a week of time travel regardless of
    * commit cadence, while a hot table committing every second still
    * expires down to its window.
    */
  def expireSnapshots(root: String, keepLast: Int, olderThanMs: Long): Seq[Long] =
    // the monitor + OS file lock serialize fold-then-delete against any
    // concurrent checkpoint fold — in THIS JVM and in any other process
    // (see withRootLock): a tryCommit-triggered fold that read a stale
    // checkpoint must never list the commit dir while this delete loop is
    // mid-flight, or its replacement checkpoint forgets the deleted
    // commits' stamps
    withRootLock(root) {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val cutoff =
      if (olderThanMs == Long.MaxValue) Long.MaxValue
      else System.currentTimeMillis() - olderThanMs
    val tagged = refs(root).map(_._2).toSet // tag = retention pin (Iceberg)
    val commits = listDir(commitsDir(root))
      .filter(_.getFileName.toString.endsWith(".commit"))
      .sortBy(_.getFileName.toString)
    val dropped = commits.dropRight(keepLast)
      .filter(c => Files.getLastModifiedTime(c).toMillis <= cutoff)
      .filterNot(c =>
        tagged(c.getFileName.toString.stripSuffix(".commit").toLong))
    // fold txn stamps BEFORE any commit file disappears: stamps recorded
    // only in expired commits must survive vacuum or replayed batches
    // from a recovering streaming writer would double-apply
    if (dropped.nonEmpty) writeTxnCheckpoint(root,
      dropped.map(_.getFileName.toString.stripSuffix(".commit").toLong).max)
    val expired = dropped.flatMap { c =>
      val v = c.getFileName.toString.stripSuffix(".commit").toLong
      // re-check the refs IMMEDIATELY before deleting: a tag created
      // mid-vacuum (after the entry snapshot above) passed createTag's
      // commit-file existence check, so deleting anyway would leave a
      // dangling ref resolving to an unreadable version — skip it, the
      // version is pinned now
      if (refs(root).exists(_._2 == v)) None
      else {
        val dataDir = Paths.get(parseCommit(c)._1)
        Files.delete(c) // unreference before any data byte disappears
        if (Files.exists(dataDir)) {
          walkDeepestFirst(dataDir).foreach(Files.delete)
        }
        Some(v)
      }
    }
    // heal the head hint under the root lock: vacuum may have just
    // created a GAP above a tagged low commit — if a crashed/raced writer
    // left the hint pointing at such a commit, probe-forward in latest()
    // would stop below the true head. The entry listing's newest commit
    // always survives (dropRight(keepLast), keepLast >= 1).
    commits.lastOption.foreach(c => updateHead(root,
      c.getFileName.toString.stripSuffix(".commit").toLong))
    expired
    }

  // ---- NAMED REFS (tags) --------------------------------------------------
  // The Iceberg tag idea: a human-named, immutable pointer to a committed
  // version, stored one tiny file per ref under `_refs/` so creation is
  // atomic (createFile fails on a duplicate — no lock manager needed) and
  // the ref listing is log-scale. Tags serve two contracts at once:
  //   1. addressability — `VERSION AS OF 'release-2026-08'` resolves
  //      through the ref store (GraftCatalog), so a pipeline can pin "the
  //      blessed corpus" by NAME while commits keep landing; and
  //   2. retention — expireSnapshots never drops a tagged version, so the
  //      pin survives VACUUM (drop the tag to release it).
  // Writable branches are deliberately NOT a ref kind here: a writable
  // fork of a table is what [[shallowClone]] already is (hard-linked v0,
  // its own commit log), without teaching every commit path a second head.

  private def refsDir(root: String): Path = Paths.get(root, "_refs")
  private val RefName = "[A-Za-z][A-Za-z0-9_.-]*".r

  /** Create tag `name` → `version` (default: the latest committed).
    * Refuses names that could parse as a version number (the `AS OF`
    * grammar must stay unambiguous), uncommitted versions, duplicates.
    */
  def createTag(root: String, name: String, version: Option[Long] = None): Long = {
    require(RefName.matches(name),
      s"invalid tag name '$name' (want ${RefName.regex}: it must never " +
        "collide with a numeric version in VERSION AS OF)")
    val v = version.getOrElse(latest(root).version)
    require(Files.exists(commitFile(root, v)),
      s"cannot tag uncommitted version $v at $root")
    Files.createDirectories(refsDir(root))
    try Files.write(refsDir(root).resolve(s"$name.ref"),
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"tag '$name' already exists at $root (version " +
            s"${resolveRef(root, name)}); tags are immutable — drop it first")
    }
    v
  }

  /** Drop tag `name`; its version becomes expirable again. Loud on miss. */
  def dropTag(root: String, name: String): Long = {
    val v = resolveRef(root, name)
    Files.delete(refsDir(root).resolve(s"$name.ref"))
    v
  }

  /** All refs as (name, version), name-sorted. Log-scale listing. */
  def refs(root: String): Seq[(String, Long)] = {
    val d = refsDir(root)
    if (!Files.isDirectory(d)) return Nil
    listDir(d).filter(_.getFileName.toString.endsWith(".ref"))
      .map(f => (f.getFileName.toString.stripSuffix(".ref"),
        Files.readString(f).trim.toLong))
      .sortBy(_._1)
  }

  /** Resolve ref → version; loud with the known-ref list on a miss. */
  def resolveRef(root: String, name: String): Long = {
    val f = refsDir(root).resolve(s"$name.ref")
    if (!Files.exists(f)) throw new NoSuchElementException(
      s"no ref '$name' at $root (have: " +
        s"${refs(root).map(_._1).mkString(", ")})")
    Files.readString(f).trim.toLong
  }

  /** GC for ORPHANED staging dirs — the garbage [[expireSnapshots]] does
    * not cover: a writer that stages and then loses the commit race (or
    * crashes before committing) leaves a data dir no commit file ever
    * references. Deletes unreferenced dirs older than `minAgeMillis`; the
    * age guard is the race protection (a freshly staged dir whose commit
    * attempt is still in flight is never older than its own transaction),
    * exactly the public Delta/Iceberg VACUUM retention argument applied to
    * uncommitted files. Returns the deleted dir paths.
    */
  def cleanOrphans(root: String, minAgeMillis: Long = 3600000L): Seq[String] = {
    val dataRoot = Paths.get(root, "data")
    if (!Files.exists(dataRoot)) return Nil
    val referenced = listDir(commitsDir(root))
      .filter(_.getFileName.toString.endsWith(".commit"))
      .map(f => Paths.get(parseCommit(f)._1).toAbsolutePath.normalize).toSet
    val cutoff = System.currentTimeMillis() - minAgeMillis
    listDir(dataRoot)
      .filter(d => Files.isDirectory(d))
      .filter(d => !referenced.contains(d.toAbsolutePath.normalize))
      .filter(d => Files.getLastModifiedTime(d).toMillis < cutoff)
      .map { d =>
        walkDeepestFirst(d).foreach(Files.delete)
        d.toString
      }
  }

  /** Optimistic transaction: derive a new snapshot from the latest one,
    * stage it, attempt the commit; on conflict re-derive against the
    * winner's snapshot and try again. `transform` MUST be a pure function
    * of the base snapshot (it reruns on rebase).
    *
    * Returns the committed snapshot. The transform recomputation is the
    * optimistic-concurrency cost model: cheap when conflicts are rare,
    * which is the warehouse norm (compaction cadence >> commit latency).
    */
  /** @param txn streaming-writer stamp: if this app has already committed
    *   a version ≥ txn.version, the transaction is a no-op returning the
    *   latest snapshot — the exactly-once contract for replayed
    *   micro-batches. The check re-runs after every lost race, so a replay
    *   interleaved with other writers still cannot double-apply.
    */
  /** @param constraints named row invariants (CHECK constraints) the
    *   transaction output must satisfy; validated in ONE aggregate job
    *   over the output BEFORE anything is staged or committed. Violations
    *   throw [[ConstraintViolationException]] with per-constraint counts
    *   and leave the table untouched.
    */
  /** @param extraTxns additional writer stamps recorded ATOMICALLY with
    *   `txn` in the same commit — a refresh consuming several upstream
    *   feeds (the join MV) pins every source's high-water mark in one
    *   commit line set; replay is a no-op only when ALL stamps are covered.
    */
  def transact(spark: SparkSession, root: String, maxAttempts: Int = 10,
      statsCols: Seq[String] = Nil, txn: Option[Txn] = None,
      constraints: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      bloomCols: Seq[String] = Nil, bloomExpectedItems: Long = 100000L,
      stagedHook: String => Unit = _ => (), extraTxns: Seq[Txn] = Nil,
      pinCheck: () => Boolean = () => true,
      onReplay: () => Unit = () => ())(
      transform: DataFrame => DataFrame): Snapshot =
    transactImpl(spark, root, maxAttempts, statsCols, txn, constraints,
      bloomCols, bloomExpectedItems, stagedHook, extraTxns, pinCheck,
      onReplay)(df => (transform(df), None))

  /** The row-level write router behind UPDATE, DELETE, MERGE, TRUNCATE
    * and the streaming upsert/apply sinks. `matched`, when given, selects
    * the rows the write touches (a row-preserving filter or semi-join over
    * its input); `build` maps the rows to rewrite to (their replacement,
    * the commit's change rows when the caller can name them). The route
    * depends only on the table and the call:
    *   1. `matched` given, merge-on-read table → deletion vectors
    *      ([[transactMoR]]): `build` sees the matched rows;
    *   2. `matched` given, partitioned or spec-spanning table → partial
    *      copy-on-write ([[transactPartialWithChanges]], per era on a
    *      spanning table): `build` sees the touched partitions or files;
    *   3. otherwise → the full rewrite ([[transactImpl]]): `build` sees the
    *      whole snapshot.
    * `matched = None` (a statement that may change any row: MERGE with a
    * NOT MATCHED BY SOURCE arm, TRUNCATE) always takes the full rewrite.
    * So must a write to a CDC table whose `build` names no change rows (a
    * CDC replica's apply, [[upsertRows]]): the full rewrite's generic keyed
    * diff of the staged read-back supplies them, while a scoped route
    * refuses the missing frame ([[orRows]]). Change rows are never
    * evaluated on a table without a feed. A layout change mid-statement
    * re-routes ([[rerouted]]).
    */
  private[graft] def rewriteRows(spark: SparkSession, root: String,
      maxAttempts: Int = 10, txn: Option[Txn] = None)(
      matched: Option[DataFrame => DataFrame])(
      build: DataFrame => (DataFrame, Option[DataFrame])): Snapshot = rerouted {
    matched match {
      case Some(m) if dmlMode(root) == MergeOnRead =>
        transactMoR(spark, root, maxAttempts, txn)(m)(orRows(build))
      case Some(m) if partitionCols(root).nonEmpty || spansSpecs(root) =>
        transactPartialWithChanges(spark, root, maxAttempts, txn,
          evolvedScoped = true)(m)(orRows(build))
      case _ => transactImpl(spark, root, maxAttempts, Nil, txn, Nil)(build)
    }
  }

  /** A keyed upsert through the [[rewriteRows]] routes, behind the
    * streaming upsert and CDC-apply sinks: every row whose `keyCol` value
    * `keys` carries is replaced by `rows` (the new rows, aligned to the
    * columns of the frame they are given); `changes`, when given, names
    * the change rows against any frame holding every row the keys touch.
    * The key match is handed over only on a merge-on-read table, and there
    * only with `changes` or without a feed (a CDC table's generic diff
    * needs the full rewrite). A copy-on-write upsert takes the full
    * rewrite on any layout: a micro-batch's keys scatter over the
    * partitions, and there the partial route's touched-partition and
    * touched-file scans and its shuffle by partition cost more than the
    * partitions it leaves alone (`LayerProbes cow`: a 1000-key batch over
    * all 24 partitions of 10M rows takes 11 jobs and 5.0–5.3 s partial
    * against 5 jobs and 3.2–3.6 s full, 4-core box). On merge-on-read
    * every matched row is deleted, so the replacement is `rows` alone: the
    * anti-join the full rewrite keeps neighbors with would be empty there,
    * but Spark cannot see that and would run its stages on every action
    * over the replacement.
    */
  private[graft] def upsertRows(spark: SparkSession, root: String,
      txn: Option[Txn], keyCol: String, keys: DataFrame)(
      rows: DataFrame => DataFrame)(
      changes: Option[DataFrame => DataFrame]): Snapshot = {
    import org.apache.spark.sql.functions.broadcast
    val touched = keys.select(keyCol).distinct()
    if (dmlMode(root) == MergeOnRead && (changes.nonEmpty || cdcKeys(root).isEmpty))
      rewriteRows(spark, root, txn = txn)(Some(
        base => base.join(broadcast(touched), Seq(keyCol), "left_semi")))(
        m => (rows(m), changes.map(_(m))))
    else rewriteRows(spark, root, txn = txn)(None)(
      base => (base.join(touched, Seq(keyCol), "left_anti")
        .unionByName(rows(base)), changes.map(_(base))))
  }

  /** `build` in the `(rows, change rows)` shape of the scoped stagings. An
    * absent change frame stands in as the rows themselves: it is never
    * read on a table without a feed, and [[writeChanges]] refuses it (no
    * [[ChangeTypeCol]]) on one.
    */
  private def orRows(build: DataFrame => (DataFrame, Option[DataFrame])):
      DataFrame => (DataFrame, DataFrame) =
    df => { val (out, ch) = build(df); (out, ch.getOrElse(out)) }

  /** COPY-ON-WRITE transaction over a PARTITIONED table — the DML staging
    * that survives 100 TB. A statement that edits rows in k of n
    * partitions must not rewrite the other n−k: `matchedRows` selects the
    * statement's matched rows (a filter over the base), the partitions
    * containing at least one match are REWRITTEN (transform maps all
    * their rows — matched rows change, neighbors pass through), and every
    * untouched partition directory is HARD-LINKED into the new version
    * (an object store re-references the files in a manifest). Write cost
    * is O(touched partitions), not O(table) — the public Delta/Iceberg
    * copy-on-write granularity, at partition level.
    *
    * Touched partitions are identified twice, consistently by layout: by
    * VALUE (one distinct over the matched rows' partition columns,
    * broadcast into a semi-join that defines the rewrite set) and by
    * DIRECTORY (the matched rows' `input_file_name` parents — exactly the
    * dirs the rewrite replaces; everything else links). The collected
    * listing is file-name metadata of touched partitions only.
    *
    * CHECK constraints validate the REWRITTEN rows (linked rows were
    * validated by the commit that wrote them or by ADD CONSTRAINT's
    * existing-row scan — the Delta rule). `transform` must return the
    * table's full schema; change rows (CDC tables) come from the
    * statement's own plan, as on every route of [[rewriteRows]].
    */
  def transactPartialWithChanges(spark: SparkSession, root: String,
      maxAttempts: Int = 10, txn: Option[Txn] = None,
      extraTxns: Seq[Txn] = Nil, pinCheck: () => Boolean = () => true,
      onReplay: () => Unit = () => (), evolvedScoped: Boolean = false,
      stagedHook: String => Unit = _ => ())(
      matchedRows: DataFrame => DataFrame)(
      transform: DataFrame => (DataFrame, DataFrame)): Snapshot = {
    import org.apache.spark.sql.functions.{broadcast, col, regexp_replace}
    val parts = partitionCols(root)
    require(parts.nonEmpty || evolvedScoped,
      s"transactPartialWithChanges requires a partitioned table ($root)")
    // NO entry-time layout require: the per-attempt check below throws
    // LayoutChangedException, which the routers absorb by re-routing
    // ([[rerouted]]) — an entry require would turn the route-then-evolve
    // race into a user-facing abort on the one path built to absorb it
    commitLoop(root, maxAttempts, txn.toSeq ++ extraTxns, pinCheck,
        onReplay) { base =>
      if (isEvolved(base.dataDir)) {
        if (!evolvedScoped)
          throw new LayoutChangedException(
            s"$root spans partition specs (evolution pending); partition-" +
              "scoped operations have no meaning across two layouts — " +
              "OPTIMIZE (full rewrite) to migrate to the current spec first")
        Staged(stagePartialEvolved(spark, root, base, matchedRows,
          transform, stagedHook))
      }
      else if (parts.isEmpty)
        // only reachable with evolvedScoped: a concurrent migration healed
        // the span to an UNPARTITIONED layout mid-statement — the partial
        // machinery has no partition granularity left to scope by
        throw new LayoutChangedException(
          s"$root healed to an unpartitioned single-spec layout " +
            "mid-statement; re-run the statement")
      else {
      // lineage-bearing read: the touched-file probe reads the matched
      // rows' files off the DvFileCol column (input_file_name() refuses
      // multi-source plans, which a DV base's anti-join is); callers'
      // matchedRows are row-preserving filters/semi-joins, so the lineage
      // columns flow through them untouched
      val baseL = readDir(spark, base.dataDir, lineage = true)
      val baseDf = baseL.drop(DvFileCol, DvPosCol)
      val matched = matchedRows(baseL)
      val touchedVals = matched.select(parts.map(col): _*).distinct()
      // bounded collect: one row per TOUCHED PARTITION (never per data
      // row). A single-column layout turns the rewrite-set selection into
      // a literal IN over the partition column, which FileSourceStrategy
      // prunes at planning time — the rewrite scan reads ONLY touched
      // partition dirs instead of semi-joining a full-table scan.
      val touchedValRows = touchedVals.collect()
      val rowsTouched =
        if (parts.length == 1 && touchedValRows.nonEmpty)
          baseDf.filter(col(parts.head).isin(
            touchedValRows.map(_.get(0)).toIndexedSeq: _*))
        else baseDf.join(broadcast(touchedVals), parts, "left_semi")
      val (out, changes) = transform(rowsTouched)
      // touched partition DIRS from the matched rows' own files — in the
      // URI-ENCODED relative form the lineage column carries, and decoded
      // to on-disk names for the link-exclusion below
      val rawTouched = matched.select(col(DvFileCol)).distinct()
        .collect().map(_.getString(0))
      val touchedDirsEnc = rawTouched.flatMap { rel =>
        val j = rel.lastIndexOf('/')
        if (j < 0) None else Some(rel.substring(0, j))
      }.toSet
      val touchedDirs = touchedDirsEnc.map(decodeRel)
      val (dir, freshFiles) = writeStaged(root, Some(out), parts)
      // link every untouched partition's files into the new version
      linkParquetTree(base.dataDir, dir, withDv = false,
        keep = rel => !touchedDirs(Option(rel.getParent).fold("")(_.toString)))
      // names/types from the linked layout's read, metadata from the
      // base pin — the read-back strips it (see mergePinnedMetadata)
      carryTableState(base.dataDir, dir,
        Some(mergePinnedMetadata(spark, root, baseDf.schema)))
      stagedHook(dir) // e.g. the identity high-water mark
      // file-skipping continuity on partitioned tables: untouched files'
      // manifest rows carry path-rewritten (their relative layout is
      // link-preserved), touched partitions' rows drop and their fresh
      // files re-aggregate — O(manifest) + O(rewritten batch), so a
      // post-OPTIMIZE stats manifest survives appends and partial DML
      // instead of dying on the first write
      carryManifestLinked(spark, base.dataDir, dir, freshFiles,
        dropDirs = touchedDirsEnc)
      // deletion-vector carry-forward: linked files keep their deleted
      // positions; entries pointing into REWRITTEN partitions prune by
      // touched dir. The prune can only KEEP a superset: an escaping
      // surprise fails the isin match and keeps the row, never drops a
      // live one.
      carryDv(spark, base.dataDir, dir, regexp_replace(col("file"), "/[^/]+$", "")
        .isin(touchedDirsEnc.toSeq: _*))
      writeChanges(root, dir, changes)
      Staged(dir)
      }
    }
  }

  /** One staging attempt of PER-ERA scoped copy-on-write on a snapshot
    * that SPANS partition specs (evolution pending migration) — the
    * Iceberg contract that DML before the migrating OPTIMIZE stays
    * O(touched), never O(table). Each era knows its own layout from the
    * record's spec eras, so the statement:
    *
    *   - scans every era (the lineage-bearing [[readDir]]: one scan per
    *     spec, unioned, plus `_metadata` file lineage),
    *   - collects the matched rows' FILES (bounded: one row per touched
    *     file), reads exactly those files back per era (the same
    *     [[readDir]] narrowed to `files`: planning-time pruned — the scan
    *     lists only touched paths),
    *   - rewrites their rows under the CURRENT spec's subtree (touched
    *     data migrates forward, shrinking the eventual OPTIMIZE),
    *   - hard-links every other data file in place, each under its own
    *     era's layout.
    *
    * Granularity is the FILE (not the partition): a flat-era file and a
    * partitioned-era directory both rewrite exactly when they hold a
    * matched row. A `_dv` deletion vector (carried through the evolve)
    * anti-joins out of both the match scan and the touched-file re-read —
    * a DV-deleted row can neither match nor resurrect into the rewrite —
    * and carries forward pruned to the UNTOUCHED files (rewritten files'
    * live rows migrated; their DV entries would dangle). Rename chains
    * ride through: each era scans with the rename-extended schema and the
    * DirRead coalesce resolves physical names, touched rows REWRITE under
    * their logical names (healed), and the sidecar carries forward for
    * the linked files that still store physical ones. Spanning snapshots
    * carry no stats manifest.
    * Returns the staged dir; the caller's commit loop owns the CAS.
    */
  private def stagePartialEvolved(spark: SparkSession, root: String,
      base: Snapshot,
      matchedRows: DataFrame => DataFrame,
      transform: DataFrame => (DataFrame, DataFrame),
      stagedHook: String => Unit): String = {
    import org.apache.spark.sql.functions.col
    val matched = matchedRows(readDir(spark, base.dataDir, lineage = true))
    // bounded collect: one row per TOUCHED FILE (never per data row) —
    // in the URI-encoded relative form `_metadata.file_path` carries,
    // decoded to on-disk names for the link exclusion
    val touchedEnc = matched.select(col(DvFileCol)).distinct()
      .collect().map(_.getString(0)).toSet
    val touchedDisk = touchedEnc.map(decodeRel)
    // the rewrite scan lists EXACTLY the touched files, per era; its
    // anti-join drops DV-deleted rows in them — a rewrite that copied them
    // would resurrect them (the new files carry no DV entries)
    val rowsTouched = readDir(spark, base.dataDir, lineage = true,
      files = Some(touchedEnc)).drop(DvFileCol, DvPosCol)
    val (out, changes) = transform(rowsTouched)
    // rewritten rows stage under the CURRENT spec — touched data migrates
    // forward (the same direction the eventual OPTIMIZE takes the rest)
    val (curSub, curCols) = readSpecs(base.dataDir).last
    val (dir, _) = writeStaged(root, Some(out), curCols, curSub)
    // hard-link every data file OUTSIDE the touched set, in place — each
    // keeps its own era's layout
    linkParquetTree(base.dataDir, dir, withDv = false,
      keep = rel => !touchedDisk(rel.toString))
    // rename carry: the linked (untouched) files still hold physical
    // pre-rename names; the rewritten files were just staged under
    // logical names and read fine either way (coalesce legs null-fill)
    carryTableState(base.dataDir, dir)
    stagedHook(dir) // e.g. the identity high-water mark
    // deletion-vector carry: linked (untouched) files keep their deleted
    // positions; entries for REWRITTEN files drop
    carryDv(spark, base.dataDir, dir, col("file").isin(touchedEnc.toSeq: _*))
    // no manifest carry: spanning snapshots hold none (alterPartitionSpec
    // drops it); the migrating OPTIMIZE rebuilds stats
    writeChanges(root, dir, changes)
    dir
  }

  /** MERGE-ON-READ transaction — deletion-vector DML, the public
    * Delta-DV / Iceberg-positional-delete shape. A statement that
    * invalidates k rows of a 100 TB table must not rewrite even one data
    * file (copy-on-write's floor is the touched FILE/PARTITION; a GDPR
    * delete cascade whose keys scatter across every file would rewrite
    * the whole table). Instead the commit:
    *
    *   - hard-links EVERY base data file unchanged (metadata-only),
    *   - appends the statement's replacement rows (UPDATE post-images;
    *     none for DELETE) as fresh files,
    *   - writes `_dv/` = base's deletion vector ∪ the matched rows'
    *     `(file, pos)` positions — one tiny row per invalidated position.
    *
    * Plain reads apply `_dv` as the [[GraftDvFilter]] predicate above the
    * scan, and DML lineage reads as a broadcast anti-join on `(file, pos)`
    * ([[readDir]]), so read overhead is a lookup per row against
    * deletes-since-last-OPTIMIZE (OPTIMIZE and every full-rewrite
    * transaction materialize the vector away — the Delta compaction
    * contract).
    *
    * `matched` selects the rows the statement invalidates — it must be
    * row-preserving (filter/semi-join) over its input, which carries the
    * [[DvFileCol]]/[[DvPosCol]] lineage. `replace` maps those rows (sans
    * lineage) to (replacement rows, CDC change rows). CHECK constraints
    * validate the REPLACEMENT rows only (linked rows were validated by
    * the commits that wrote them — the same rule as partial copy-on-write).
    */
  def transactMoR(spark: SparkSession, root: String, maxAttempts: Int = 10,
      txn: Option[Txn] = None)(
      matched: DataFrame => DataFrame)(
      replace: DataFrame => (DataFrame, DataFrame)): Snapshot = {
    import org.apache.spark.sql.functions.col
    commitLoop(root, maxAttempts, txn.toSeq) { base =>
      // a spanning snapshot reads per era (the shared `_dv` applies to
      // every branch — DV keys are snapshot-dir-relative, unique across
      // eras); replacement rows land under the CURRENT spec's subtree so
      // the MoR commit migrates touched data the same direction the
      // eventual OPTIMIZE takes the rest
      val m = matched(readDir(spark, base.dataDir, lineage = true))
      require(m.columns.contains(DvFileCol) && m.columns.contains(DvPosCol),
        "transactMoR: matched() must preserve the lineage columns " +
          s"($DvFileCol, $DvPosCol) — use filters/semi-joins, not projections")
      val (out, changes) = replace(m.drop(DvFileCol, DvPosCol))
      // replacement rows first (fresh uuid-named files — no collision with
      // the links), then the metadata-only link of every base data file.
      // The isEmpty probe stays on the UNOBSERVED frame (metrics under its
      // limit(1) would be partial — [[constraintsObserved]] contract); an
      // empty replacement writes nothing and trivially satisfies every
      // row constraint.
      val (sub, cols) = currentLayout(root, base)
      val (dir, _) = writeStaged(root, if (out.isEmpty) None else Some(out),
        cols, sub)
      linkParquetTree(base.dataDir, dir, withDv = false)
      // pin the schema: the dir now mixes linked and fresh files, and on
      // partitioned layouts the committed column types/order must not be
      // re-inferred from directory names
      carryTableState(base.dataDir, dir)
      val newDv = m.select(col(DvFileCol).cast("string").as("file"),
        col(DvPosCol).cast("long").as("pos"))
      // a no-match statement on a vector-less base writes NO sidecar — an
      // empty _dv would flip every later read onto the filter path (hasDv
      // rides the hard links forever) for a vector that filters nothing
      if (hasDv(base.dataDir))
        writeDv(dvFrame(spark, base.dataDir).unionByName(newDv), dir)
      else if (!newDv.isEmpty) writeDv(newDv, dir)
      writeChanges(root, dir, changes)
      Staged(dir)
    }
  }

  /** The full-rewrite transaction behind [[transact]] and the full route
    * of [[rewriteRows]]: the transform's output is staged as the
    * whole new snapshot in the current spec (healing any spec span and
    * rename mapping), with no cluster columns — OPTIMIZE hands it frames
    * already range- or z-order-shaped. EVERY staged version pins its
    * schema: field METADATA (column DEFAULT values, identity specs) does
    * not survive parquet-footer inference, so a post-ALTER write that
    * relied on inference would silently drop the table's defaults for
    * every later INSERT. The written names/types pin as-is; metadata
    * merges from the current pin (see [[mergePinnedMetadata]]).
    */
  private def transactImpl(spark: SparkSession, root: String, maxAttempts: Int,
      statsCols: Seq[String], txn: Option[Txn],
      constraints: Seq[(String, org.apache.spark.sql.Column)],
      bloomCols: Seq[String] = Nil, bloomExpectedItems: Long = 100000L,
      stagedHook: String => Unit = _ => (), extraTxns: Seq[Txn] = Nil,
      pinCheck: () => Boolean = () => true,
      onReplay: () => Unit = () => ())(
      transform: DataFrame => (DataFrame, Option[DataFrame])): Snapshot =
    commitLoop(root, maxAttempts, txn.toSeq ++ extraTxns, pinCheck,
        onReplay) { base =>
      val (out, suppliedChanges) = transform(read(spark, base))
      val dir = writeStaged(root, Some(out), partitionCols(root),
        rebalance = false, constraints = constraints)._1
      carryTableState(base.dataDir, dir,
        Some(mergePinnedMetadata(spark, root, out.schema)), linked = false)
      stagedHook(dir) // e.g. the identity high-water-mark for THIS attempt
      if (statsCols.nonEmpty || bloomCols.nonEmpty)
        writeManifest(spark, dir, statsCols, bloomCols, bloomExpectedItems)
      // statement-integrated changes when supplied; otherwise the generic
      // keyed diff of what was WRITTEN (the staged read-back — avoids
      // recomputing the transform and captures write-time
      // canonicalization). Rebase reruns this whole block against the
      // winner's snapshot, so the feed always reflects committed states.
      writeChanges(root, dir, suppliedChanges.getOrElse {
        val baseDf = read(spark, base)
        // first write onto an EMPTY base (createJoin's v1, any
        // init-then-transact shape): every staged row is an insert —
        // skip the generic keyed diff, whose two-sided key shuffle
        // re-sorts the entire staged output to conclude exactly that
        if (baseDf.isEmpty)
          readDir(spark, dir).withColumn(ChangeTypeCol,
            org.apache.spark.sql.functions.lit("insert"))
        else diffChanges(baseDf, readDir(spark, dir), cdcKeys(root))
      })
      Staged(dir)
    }
}
