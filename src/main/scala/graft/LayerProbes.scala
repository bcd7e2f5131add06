package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, Metadata, MetadataBuilder,
  StructField, StructType}
import graft.sources.{CopyInto, GraftCatalog, MatView, MvRewrite,
  SnapshotStore, SqlDml}
import graft.streaming.SnapshotMergeSink

/** Per-layer scale probes: one table of probes, each timing the phases of
  * one engine layer (commit plane, maintenance, planning, read, gate) at 1×
  * and 10× its size. Beside every wall time stand the deterministic counts
  * of the same span, so a growth claim never rests on a wall time alone:
  * the Spark jobs, stages, shuffle-write bytes and task time credited to
  * the phase by its job group, and the data files it wrote.
  *
  * Each probe's claim is that its cost tracks the work it names (change
  * volume, batch, file count, commit-log tail), not the table: growth from
  * the 1× to the 10× row of a phase that should be flat is the finding.
  *
  * Usage: runMain graft.LayerProbes [probe ...]
  *   No names runs every probe in [[probes]] and writes all rows to
  *   BENCH_LAYERS.json once every probe has finished; a run of named probes
  *   only prints its rows. A name that is no probe but a
  *   [[SparkEntry.queries]] key runs that query as a `gate` probe. Gate
  *   probes read the sf tier SPARK_GRAFT_SF_DIR names at 1× and its sibling
  *   ten times larger at 10× (Bench's sf0.1 → sf1; `graft.GenScale` writes
  *   larger tiers); both are checked before any probe runs. The session is
  *   [[Bench]]'s (SPARK_GRAFT_CPUS). Each phase prints one JSON row, and
  *   every job of a phase logs a `[profile]` line with its wall time and
  *   call site on stderr.
  */
object LayerProbes {
  /** One probe: `setup(spark, n)` builds its tables at size `n` (rows,
    * commits or files; the 10× run passes `10 * n`) and returns its timed
    * phases in run order. A phase that returns a [[Note]] reports it in
    * its row.
    */
  final case class Probe(layer: String, name: String, n: Long,
      setup: (SparkSession, Long) => Seq[(String, () => Any)])

  /** A count a phase reports beside its timing, e.g. the files a pruned
    * read keeps.
    */
  final case class Note(text: String)

  /** One phase at one scale. `files` counts the data files the phase wrote:
    * new parquet files under the gate scratch root, where a hard link to an
    * existing file is not one.
    */
  final case class Result(layer: String, probe: String, phase: String,
      scale: Long, wallS: Double, jobs: Long, stages: Long, shuffleBytes: Long,
      files: Long, taskS: Double, note: String) {
    def json: String =
      s"""{"layer": "$layer", "probe": "$probe", "phase": "$phase", """ +
        f""""scale": $scale, "wall_s": $wallS%.4f, "jobs": $jobs, """ +
        f""""stages": $stages, "shuffle_bytes": $shuffleBytes, """ +
        f""""files": $files, "task_s": $taskS%.3f, "note": "$note"}"""
  }

  private val GroupPrefix = "layer-probe:"

  /** Credits each job whose job group is a phase's to that phase: the job,
    * its completed stages, their shuffle-write bytes and task run time. A
    * job in any other group, or none, is credited to no phase. Every
    * credited job logs its wall time and call site as a `[profile]` line:
    * its SQL execution's, since Spark runs a query's jobs on pool threads
    * whose own call site names no caller.
    */
  final class PhaseListener extends SparkListener {
    final class Totals { var jobs, stages, shuffleBytes, taskMs = 0L }
    private val totals = mutable.Map.empty[String, Totals]
    private val stagePhase = mutable.Map.empty[Int, String]
    private val started = mutable.Map.empty[Int, (Long, String)]
    private val sqlSite = mutable.Map.empty[String, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlSite(s.executionId.toString) = s.description
        case s: SparkListenerSQLExecutionEnd => sqlSite.remove(s.executionId.toString)
        case _ =>
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      prop("spark.jobGroup.id").filter(_.startsWith(GroupPrefix)).foreach { g =>
        totals.getOrElseUpdate(g, new Totals).jobs += 1
        e.stageIds.foreach(stagePhase(_) = g)
        val site = prop("spark.sql.execution.id").flatMap(sqlSite.get).filter(_.nonEmpty)
          .orElse(prop("callSite.short")).getOrElse("")
        started(e.jobId) = (e.time, s"${g.stripPrefix(GroupPrefix)} $site")
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, label) =>
        System.err.println(s"[profile] job ${e.jobId} ${e.time - t0} ms $label")
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stagePhase.remove(e.stageInfo.stageId).foreach { g =>
          val t = totals(g)
          t.stages += 1
          Option(e.stageInfo.taskMetrics).foreach { m =>
            t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            t.taskMs += m.executorRunTime
          }
        }
      }

    /** The phases credited with anything so far. */
    def phases: Set[String] = synchronized(totals.keySet.toSet)
    /** `group`'s totals, removed from the listener. */
    def take(group: String): Totals =
      synchronized(totals.remove(group).getOrElse(new Totals))
  }

  /** Runs each probe once at 1× untimed (the warm-up: JIT, codegen, parquet
    * paths), then at 1× and 10×, and returns one result per phase per
    * scale. Only the phases run under a job group; the warm-up and setup
    * work are credited nowhere.
    */
  def run(spark: SparkSession, chosen: Seq[Probe]): Seq[Result] = {
    val sc = spark.sparkContext
    val listener = new PhaseListener
    sc.addSparkListener(listener)
    try chosen.flatMap { p =>
      p.setup(spark, p.n).foreach(_._2())
      Seq(1L, 10L).flatMap { s =>
        p.setup(spark, s * p.n).map { case (phase, work) =>
          val group = s"$GroupPrefix${p.name}/$phase@${s}x"
          val before = dataFiles()
          sc.setJobGroup(group, null)
          val t0 = System.nanoTime()
          val out = try work() finally sc.clearJobGroup()
          val wall = (System.nanoTime() - t0) / 1e9
          GraftSqlShim.drainListeners(spark)
          val t = listener.take(group)
          val note = out match { case Note(text) => text; case _ => "" }
          val r = Result(p.layer, p.name, phase, s, wall, t.jobs, t.stages,
            t.shuffleBytes, (dataFiles() -- before).size, t.taskMs / 1e3, note)
          println(r.json)
          r
        }
      }
    } finally sc.removeSparkListener(listener)
  }

  /** Inode and mtime of every parquet file under the gate scratch root: a
    * hard link shares both with its file, and a file written into an inode
    * freed meanwhile differs in mtime.
    */
  private def dataFiles(): Set[(AnyRef, AnyRef)] =
    if (!Files.isDirectory(GateTmp.root)) Set.empty
    else {
      val s = Files.walk(GateTmp.root)
      try s.iterator().asScala
        .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
        .map { f =>
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          (a.fileKey, a.lastModifiedTime)
        }.toSet
      finally s.close()
    }

  /** A fresh table at scratch dir `name` holding `df`. */
  private def table(spark: SparkSession, name: String, df: DataFrame,
      partitionBy: Seq[String] = Nil, cdcKeys: Seq[String] = Nil): String = {
    val root = GateTmp.freshDir(name)
    SnapshotStore.init(spark, root, df, partitionBy = partitionBy, cdcKeys = cdcKeys)
    root
  }

  private def dml(spark: SparkSession, root: String, sql: String): () => Any =
    () => SqlDml.execute(spark, sql, Map("t" -> root))

  private def reps(k: Int)(f: => Any): () => Any = () => (1 to k).foreach(_ => f)

  private def rows(spark: SparkSession, from: Long, to: Long, cols: String*): DataFrame =
    spark.range(from, to).selectExpr("id" +: cols: _*)

  private def padded(spark: SparkSession, from: Long, to: Long): DataFrame =
    rows(spark, from, to, "id * 3 AS v", "repeat('x', 64) AS pad")

  /** A long commit log, fabricated cheaply: versions up to `upTo` re-point
    * at the last real commit's content (data dir and txn stamps, the shape
    * of repeated metadata-only rewrites), the head pointer advances and the
    * txn checkpoint is cut at the last fold boundary, as a commit would
    * have. Metadata reads see only the log's size, so driving that many
    * real one-row appends would measure the same files far slower.
    */
  private def fabricate(root: String, upTo: Long): Unit = {
    val dir = Paths.get(root, "_commits")
    val last = SnapshotStore.latest(root)
    val content = Files.readString(dir.resolve(f"${last.version}%020d.commit"))
    for (v <- last.version + 1 to upTo)
      Files.writeString(dir.resolve(f"$v%020d.commit"), content)
    Files.writeString(dir.resolve("_head"), upTo.toString)
    val ckpt = upTo - (upTo % SnapshotStore.TxnCheckpointInterval)
    if (ckpt > 0) SnapshotStore.writeTxnCheckpoint(root, ckpt)
  }

  /** A 10-row table whose log holds one txn-stamped append, grown to `n`
    * commits.
    */
  private def commitLog(spark: SparkSession, name: String, n: Long): String = {
    val root = table(spark, name, rows(spark, 0, 10, "id AS v"))
    SnapshotStore.append(spark, root, rows(spark, 1000, 1001, "id AS v").coalesce(1),
      txn = Some(SnapshotStore.Txn("probe", 1L)))
    fabricate(root, n)
    root
  }

  /** The MV probes' fact: `n` CDC rows over 10k join keys, clustered on the
    * key so localized refreshes row-group-prune.
    */
  private def fact(spark: SparkSession, name: String, n: Long): String = {
    val root = table(spark, name, rows(spark, 0, n, "id * 3 AS v",
      "CAST(id % 10000 AS STRING) AS k"), cdcKeys = Seq("id"))
    SnapshotStore.optimize(spark, root, targetRows = math.max(n / 32, 1000L),
      clusterBy = Seq("k"))
    root
  }

  private def dim(spark: SparkSession, name: String, cols: String*): String =
    table(spark, name, spark.range(10000).selectExpr(
      ("CAST(id AS STRING) AS k" +: cols): _*), cdcKeys = Seq("k"))

  /** The join-view probes' fixed change: 1000 fact rows and one dim row. */
  private def fixedChange(spark: SparkSession, fact: String, dim: String): () => Any = () => {
    dml(spark, fact, "UPDATE t SET v = v + 1 WHERE id < 1000")()
    dml(spark, dim, "UPDATE t SET w = w + 1 WHERE k = '42'")()
  }

  private def useWarehouse(spark: SparkSession, wh: String): Unit = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
  }

  val probes: Seq[Probe] = Seq(
    // Copy-on-write UPDATE touching one of 24 partitions: pinned to that
    // partition's rewrite plus O(#files) links; the all-partition UPDATE is
    // the O(table) contrast. The streaming upsert sink's 1000-row keyed
    // micro-batches (one inside one partition, one spread over all 24)
    // take the full rewrite: the sink's cost beside the partial route's.
    Probe("commit", "cow", 1000000, (spark, n) => {
      def parted(from: Long, to: Long, v: String): DataFrame =
        rows(spark, from, to, v, "CAST(id % 24 AS STRING) AS part")
      val root = table(spark, s"probe_cow_$n", parted(0, n, "id * 3 AS v"),
        partitionBy = Seq("part"))
      def upsert(batchId: Long, batch: DataFrame): () => Any = () =>
        SnapshotMergeSink.upsertBatch(root, "id", "probe-cow")(batch, batchId)
      Seq("one-partition" -> dml(spark, root, "UPDATE t SET v = v + 1 WHERE part = '7'"),
        "all-partitions" -> dml(spark, root, "UPDATE t SET v = v + 1 WHERE id >= 0"),
        "upsert-one-partition" -> upsert(0,
          parted(0, 24000, "id * 3 + 2 AS v").where("part = '7'")),
        "upsert-all-partitions" -> upsert(1, parted(0, 1000, "id * 3 + 3 AS v")))
    }),
    // A scattered DELETE (one row per thousand) under both DML modes:
    // copy-on-write rewrites every partition holding a match (3 of the 24,
    // as 1000 ≡ 16 mod 24), merge-on-read writes only the matched
    // positions. The scans expose the read overhead of the GraftDvFilter
    // predicate.
    Probe("commit", "dv", 1000000, (spark, n) => {
      val Seq(cow, mor) = Seq(SnapshotStore.CopyOnWrite, SnapshotStore.MergeOnRead).map { mode =>
        val root = table(spark, s"probe_dv_${mode}_$n", padded(spark, 0, n)
          .selectExpr("*", "CAST(id % 24 AS STRING) AS part"), partitionBy = Seq("part"))
        SnapshotStore.setDmlMode(root, mode)
        root
      }
      def scan(): DataFrame = SnapshotStore.read(spark, mor).selectExpr("sum(v)")
      // the first read of the new version pays the once-per-dir
      // prefix-sample job and a fresh plan; the later reads are the honest
      // DV-filter overhead, the last one on a reused plan
      lazy val reused = scan()
      Seq("scan-before" -> (() => scan().collect()),
        "cow-delete" -> dml(spark, cow, "DELETE FROM t WHERE id % 1000 = 7"),
        "mor-delete" -> dml(spark, mor, "DELETE FROM t WHERE id % 1000 = 7"),
        "scan-after-dv-cold" -> (() => scan().collect()),
        "scan-after-dv" -> (() => reused.collect()),
        "scan-after-dv-reused" -> (() => reused.collect()))
    }),
    // Identity assignment adds two batch-sized jobs (per-partition counts,
    // the assigning write), so it must track the plain append's growth.
    Probe("commit", "identity", 1000000, (spark, n) => {
      val meta = new MetadataBuilder().putLong("identity.start", 1L)
        .putLong("identity.step", 1L)
        .putBoolean("identity.allowExplicitInsert", false).build()
      val schema = StructType(Seq(StructField("id", LongType, nullable = true, meta),
        StructField("v", LongType)))
      def empty(name: String, s: StructType): String =
        table(spark, name, spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s))
      val root = empty(s"probe_id_$n", schema)
      // control: an identity-free twin
      val twin = empty(s"probe_idc_$n",
        StructType(schema.fields.map(_.copy(metadata = Metadata.empty))))
      val batch = spark.range(n).selectExpr("id * 3 AS v")
      Seq("identity-append" -> (() => SnapshotStore.append(spark, root, batch)),
        "plain-append" -> (() => SnapshotStore.append(spark, twin,
          batch.selectExpr("CAST(NULL AS BIGINT) AS id", "v"))))
    }),
    // A fixed 10k-row append: linked staging makes it O(batch) plus
    // O(#files) link metadata, near-flat in table size.
    Probe("commit", "append", 1000000, (spark, n) => {
      val root = table(spark, s"probe_app_$n", padded(spark, 0, n).repartition(32))
      Seq("append-10k" -> (() =>
        SnapshotStore.append(spark, root, padded(spark, n, n + 10000))))
    }),
    // Write-audit-publish: fork and publish are hard-link walks and the
    // staged DML is partition-scoped, so the cycle stays near-flat. The
    // rebase leg runs on a CDC twin (rebase needs the feed for its
    // disjointness proof): a fixed staged edit, then live ingest landing
    // on the source mid-audit, so its publish nets the branch's O(staged)
    // change frames and replays them partition-scoped.
    Probe("commit", "branch", 1000000, (spark, n) => {
      def parted(from: Long, to: Long): DataFrame =
        padded(spark, from, to).selectExpr("*", "CAST(id % 24 AS STRING) AS p")
      val Seq(root, rroot) = Seq("probe_br" -> Nil, "probe_brr" -> Seq("id")).map {
        case (name, keys) => table(spark, s"${name}_$n", parted(0, n).repartition(32),
          partitionBy = Seq("p"), cdcKeys = keys)
      }
      SnapshotStore.createBranch(spark, rroot, "rel")
      dml(spark, SnapshotStore.branchRoot(rroot, "rel"),
        "UPDATE t SET v = v + 1 WHERE p = '7' AND id < 24000")()
      SnapshotStore.append(spark, rroot, parted(10 * n, 10 * n + 10000))
      Seq("fork" -> (() => SnapshotStore.createBranch(spark, root, "rel")),
        "stage" -> dml(spark, SnapshotStore.branchRoot(root, "rel"),
          "UPDATE t SET v = v + 1 WHERE p = '7'"),
        "publish" -> (() => SnapshotStore.publishBranch(spark, root, "rel")),
        "rebase-publish" -> (() => SnapshotStore.publishBranch(spark, rroot, "rel")))
    }),
    // A fixed 10-file ingest against a ledger of n loaded files: candidate
    // listing is O(zone) names and the ledger probe one checkpoint read plus
    // a bounded log tail, so nothing tracks the files ever ingested.
    Probe("commit", "copy-into", 50, (spark, n) => {
      val root = table(spark, s"probe_ci_$n", rows(spark, 0, 0, "id AS v"))
      val drop = GateTmp.freshDir(s"probe_ci_drop_$n")
      def file(id: Long, name: String): Unit =
        rows(spark, id, id + 1, "id AS v").coalesce(1).write.parquet(s"$drop/$name")
      // the history lands 10 files per commit, so the ledger spans commits
      for (g <- 0L until n / 10) {
        for (i <- g * 10 until g * 10 + 10) file(i, s"old_$i")
        CopyInto.run(spark, root, drop)
      }
      for (i <- 0 until 10) file(1000000L + i, s"new_$i")
      Seq("copy-into-10" -> (() => {
        val r = CopyInto.run(spark, root, drop)
        require(r.filesLoaded == 10L && r.filesSkipped == n, s"probe invariant: $r")
      }))
    }),
    // lastTxnVersion, the per-micro-batch idempotence read of every
    // streaming sink, on a log with its tail since the last fold (at most
    // 64 commits) and on the same log fully folded.
    Probe("commit", "txn-checkpoint", 150, (spark, n) => {
      val Seq(tailed, folded) =
        Seq("tail", "fold").map(s => commitLog(spark, s"probe_ckpt_${s}_$n", n))
      SnapshotStore.writeTxnCheckpoint(folded, n)
      Seq("tailed" -> reps(200)(SnapshotStore.lastTxnVersion(tailed, "probe")),
        "folded" -> reps(200)(SnapshotStore.lastTxnVersion(folded, "probe")))
    }),
    // An UPDATE of a fixed 1000 rows: the aggregate view's refresh reads
    // the change feed only, so it stays flat while the DML grows.
    Probe("maintenance", "mv", 1000000, (spark, n) => {
      val src = table(spark, s"probe_mv_src_$n", rows(spark, 0, n, "id * 3 AS v",
        "CAST(id % 24 AS STRING) AS g"), cdcKeys = Seq("id"))
      val mv = GateTmp.freshDir(s"probe_mv_mv_$n")
      MatView.create(spark, src, mv, Seq("g"), "v")
      Seq("dml" -> dml(spark, src, "UPDATE t SET v = v + 1 WHERE id < 1000"),
        "refresh" -> (() => MatView.refresh(spark, src, mv, Seq("g"), "v")))
    }),
    // A join view under a fixed 1000-row fact UPDATE plus one dim row:
    // refreshJoin is partial recompute, so growth must track the candidate
    // scan, never the full join. Scattered keys hash into ~all buckets (the
    // worst case for bucket scoping); one dim key rewrites one bucket.
    Probe("maintenance", "join-mv", 1000000, (spark, n) => {
      val l = fact(spark, s"probe_mvj_l_$n", n)
      val r = dim(spark, s"probe_mvj_r_$n", "id + 7 AS w")
      val mv = GateTmp.freshDir(s"probe_mvj_mv_$n")
      MatView.createJoin(spark, l, r, mv, Seq("k"))
      def refresh(): Any = MatView.refreshJoin(spark, l, r, mv, Seq("k"))
      Seq("dml" -> fixedChange(spark, l, r),
        "scattered" -> (() => refresh()),
        "dim-update" -> dml(spark, r, "UPDATE t SET w = w + 5 WHERE k = '7'"),
        "localized" -> (() => refresh()))
    }),
    // A 4-view diamond (g0 over the fact, jmv = fact ⋈ dim emitting
    // changes, g1/g2 over jmv) after the same fixed change, refreshed by
    // one refreshAll per sink: the walk is O(#views) and shared upstreams
    // refresh once, so it must track change volume, never table size.
    Probe("maintenance", "mv-diamond", 300000, (spark, n) => {
      val f = fact(spark, s"probe_dag_fact_$n", n)
      val d = dim(spark, s"probe_dag_dim_$n", "CAST(id % 50 AS STRING) AS region", "id + 7 AS w")
      val Seq(jmv, g0, g1, g2) =
        Seq("jmv", "g0", "g1", "g2").map(s => GateTmp.freshDir(s"probe_dag_${s}_$n"))
      MatView.create(spark, f, g0, Seq("k"), "v")
      MatView.createJoin(spark, f, d, jmv, Seq("k"), emitChanges = true)
      MatView.create(spark, jmv, g1, Seq("region"), "v")
      MatView.create(spark, jmv, g2, Seq("k"), "w")
      Seq("dml" -> fixedChange(spark, f, d),
        "refresh-all" -> (() => Seq(g0, g1, g2).foreach(MatView.refreshAll(spark, _))))
    }),
    // OPTIMIZE ZORDER is one quantile sketch pass plus one range shuffle
    // and sort, so it must grow ~linearly. The middle-fifth rectangle keeps
    // a constant fraction of the files at either size (the plan-pruned
    // note); the full scan is the control.
    Probe("maintenance", "zorder", 1000000, (spark, n) => {
      val root = table(spark, s"probe_z_$n", spark.range(n).selectExpr(
        "abs(hash(id * 2 + 1)) % 1000000 AS x", "abs(hash(id * 2)) % 1000000 AS y",
        "repeat('x', 64) AS pad").repartition(8))
      val (lo, hi) = (400000L, 600000L)
      val rect = col("x").between(lo, hi) && col("y").between(lo, hi)
      def count(df: DataFrame): Any = df.filter(rect).selectExpr("count(*)").collect()
      var pruned: DataFrame = null
      Seq("optimize" -> (() => SnapshotStore.optimize(spark, root,
          targetRows = math.max(1, n / 64), statsCols = Seq("x", "y"), zorderBy = Seq("x", "y"))),
        "plan-pruned" -> (() => {
          val (df, kept, total) = SnapshotStore.readPruned(spark, SnapshotStore.latest(root),
            col("max_x") >= lo && col("min_x") <= hi && col("max_y") >= lo && col("min_y") <= hi)
          require(kept > 0 && kept * 4 < total, s"probe invariant: kept $kept/$total")
          pruned = df
          Note(s"kept $kept/$total")
        }),
        "pruned-rect" -> (() => count(pruned)),
        "full-rect" -> (() => count(SnapshotStore.read(spark, SnapshotStore.latest(root)))))
    }),
    // A fixed trickle (5 single-file 2k-row appends) on a compacted,
    // manifest-bearing table: the incremental rewrite reads only the
    // trickle and links the rest, so it tracks file count; the full
    // OPTIMIZE it avoids is the contrast.
    Probe("maintenance", "small-optimize", 1000000, (spark, n) => {
      val root = table(spark, s"probe_sopt_$n", padded(spark, 0, n))
      SnapshotStore.optimize(spark, root, targetRows = n / 20, clusterBy = Seq("id"),
        statsCols = Seq("id"))
      for (i <- 0 until 5) SnapshotStore.append(spark, root,
        padded(spark, n + i * 2000, n + (i + 1) * 2000).coalesce(1))
      Seq("incremental" -> (() => SnapshotStore.optimizeSmallFiles(spark, root,
          targetRows = n / 20, smallFileRows = n / 40)),
        "full" -> (() => SnapshotStore.optimize(spark, root, targetRows = n / 20,
          statsCols = Seq("id"))))
    }),
    // On a flat 32-file table: SET PARTITION SPEC is metadata-only (links),
    // a fixed 10k-row append stages O(batch) under the new spec, a
    // partition-predicate read prunes the new era while the old one scans
    // its row groups, and a fixed ~100-row UPDATE while the span is pending
    // rewrites only the files holding matches in each era.
    Probe("maintenance", "spec-evolution", 1000000, (spark, n) => {
      def keyed(from: Long, to: Long): DataFrame =
        rows(spark, from, to, "CAST(id % 16 AS STRING) AS k", "repeat('x', 64) AS pad")
      val root = table(spark, s"probe_pe_$n", keyed(0, n).repartition(32))
      Seq("evolve" -> (() => SnapshotStore.alterPartitionSpec(spark, root, Seq("k"))),
        "append-10k" -> (() => SnapshotStore.append(spark, root, keyed(n, n + 10000))),
        "pruned-read" -> (() => require(SnapshotStore.read(spark, root)
          .filter(col("k") === "3").count() > 0, "probe invariant: partition-filtered rows exist")),
        "spanning-dml" -> (() => {
          dml(spark, root, s"UPDATE t SET pad = 'y' WHERE id >= $n AND id < ${n + 100}")()
          require(SnapshotStore.isEvolved(SnapshotStore.latest(root).dataDir),
            "probe invariant: scoped DML must keep the span")
        }))
    }),
    // latest() with the `_head` hint (one read and one forward stat) and
    // with the hint deleted before every call (the legacy full listing).
    // It runs inside the optimizer, per DML statement and per micro-batch.
    Probe("planning", "latest", 300, (spark, n) => {
      val root = commitLog(spark, s"probe_head_$n", n)
      val head = Paths.get(root, "_commits", "_head")
      Seq("head" -> reps(300)(SnapshotStore.latest(root)),
        "listing" -> reps(300) { Files.deleteIfExists(head); SnapshotStore.latest(root) })
    }),
    // Planning a two-aggregate UNION (two rewrite candidates) over a table
    // carrying two views, rewrite rule on and off. The freshness pins read
    // a bounded txn tail and MvRewrite memoizes per pass, so the overhead
    // must be flat in commit count. The views are created at the source's
    // fabricated head (the serving path), then their own logs grow.
    Probe("planning", "mv-plan-tax", 300, (spark, n) => {
      GraftExtensions.install(spark)
      val wh = GateTmp.freshDir(s"probe_mvtax_$n")
      useWarehouse(spark, wh)
      spark.sql(s"DROP TABLE IF EXISTS graft.t$n")
      spark.sql(s"CREATE TABLE graft.t$n (id BIGINT, v BIGINT, g STRING, " +
        "g2 STRING) TBLPROPERTIES ('cdc.keys' = 'id')")
      rows(spark, 0, 1000, "id * 3 AS v", "CAST(id % 16 AS STRING) AS g",
        "CAST(id % 8 AS STRING) AS g2").createOrReplaceTempView(s"probe_mvtax_src_$n")
      spark.sql(s"INSERT INTO graft.t$n SELECT * FROM probe_mvtax_src_$n")
      fabricate(s"$wh/t$n", n)
      for (g <- Seq("g", "g2")) {
        val mv = GateTmp.freshDir(s"probe_mvtax_${g}_$n")
        MatView.create(spark, s"$wh/t$n", mv, Seq(g), "v")
        fabricate(mv, n)
      }
      val q = s"""SELECT g AS k, count(*) AS c, sum(v) AS s FROM graft.t$n GROUP BY g
        |UNION ALL
        |SELECT g2 AS k, count(*) AS c, sum(v) AS s FROM graft.t$n GROUP BY g2""".stripMargin
      def plan(k: Int): () => Any = reps(k)(spark.sql(q).queryExecution.optimizedPlan)
      plan(10)()
      Seq("plan-on" -> plan(50), "plan-off" -> (() => {
        spark.conf.set(MvRewrite.EnabledKey, "false")
        try plan(50)() finally spark.conf.set(MvRewrite.EnabledKey, "true")
      }))
    }),
    // One-partition one-band query on an 8-way partitioned, id-clustered
    // table with a stats manifest: directories prune the partition dim at
    // listing time and the manifest intervals most of the rest at planning
    // time, so the scan touches ~the band's files at either size. The
    // manifest-prune note is the files whose id interval meets the band,
    // over all 8 partitions.
    Probe("read", "compose-prune", 1000000, (spark, n) => {
      val wh = GateTmp.freshDir(s"probe_cp_$n")
      useWarehouse(spark, wh)
      val t = s"cp$n"
      spark.sql(s"CREATE TABLE graft.$t (id BIGINT, seg BIGINT, v BIGINT) PARTITIONED BY (seg)")
      rows(spark, 0, n, "id % 8 AS seg", "id * 3 AS v").createOrReplaceTempView(s"src_$t")
      spark.sql(s"INSERT INTO graft.$t SELECT * FROM src_$t")
      spark.sql(s"CALL graft.system.optimize('$t', ${math.max(n / 64, 1000L)}, 'id', 'id')")
      Seq("manifest-prune" -> (() => {
        val (_, kept, total) = SnapshotStore.readPruned(spark,
          SnapshotStore.latest(s"$wh/$t"), col("max_id") >= n / 100 && col("min_id") <= n / 50)
        require(kept > 0 && kept * 4 < total, s"probe invariant: kept $kept/$total")
        Note(s"kept $kept/$total")
      }),
        "band-query" -> (() => require(spark.sql(s"SELECT count(*), sum(v) FROM graft.$t " +
        s"WHERE seg = 3 AND id BETWEEN ${n / 100} AND ${n / 50}").head().getLong(0) > 0,
        "probe invariant: band is non-empty")))
    })
  ) ++ Seq("q97_sql_statements", "q95d_join_agg_mv", "q115d_join_mv_fk",
    "q110b_transform_evolution", "q86_wcc").map(gate)

  /** The sf tier `scale` times the one SPARK_GRAFT_SF_DIR names. */
  private def tier(scale: Long): java.nio.file.Path = {
    val base = Paths.get(sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("gate probes read the sf tier SPARK_GRAFT_SF_DIR names")))
    val sf = (BigDecimal(base.getFileName.toString.stripPrefix("sf")) * scale)
      .bigDecimal.stripTrailingZeros.toPlainString
    base.resolveSibling(s"sf$sf")
  }

  /** Query `name` as a noop write, like [[Bench]], over the sf tier `n`
    * times the one SPARK_GRAFT_SF_DIR names.
    */
  def gate(name: String): Probe = Probe("gate", name, 1, (spark, n) => {
    val query = SparkEntry.queries(name)
    spark.catalog.clearCache()
    Seq("query" -> (() => query(spark, tier(n).toString)
      .write.format("noop").mode("overwrite").save()))
  })

  /** The probe named `name`, or the gate probe of the query so named. */
  def probe(name: String): Probe = probes.find(_.name == name).getOrElse {
    require(SparkEntry.queries.contains(name), s"no probe or query named $name")
    gate(name)
  }

  def main(args: Array[String]): Unit = {
    val chosen = if (args.isEmpty) probes else args.toSeq.map(probe)
    if (chosen.exists(_.layer == "gate")) for (s <- Seq(1L, 10L))
      require(Files.isDirectory(tier(s)), s"no sf tier at ${tier(s)}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val rows = run(spark, chosen)
      if (args.isEmpty) Files.writeString(Paths.get("BENCH_LAYERS.json"),
        rows.map(_.json).mkString("[\n", ",\n", "\n]\n"))
    } finally {
      graft.streaming.HttpIngestSource.stopAll()
      spark.stop()
    }
  }
}
