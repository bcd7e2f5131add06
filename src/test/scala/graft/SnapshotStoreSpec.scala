package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.functions._

import graft.sources.SnapshotStore

/** Concurrent-writer arbitration for the warehouse surface
  * (sources/SnapshotStore.scala): optimistic commits over immutable parquet
  * snapshots. CompactionSpec proves the single-writer MERGE-shaped
  * compaction; this spec proves the multi-writer story VERDICT r8 called
  * out as the missing piece — two writers racing the same table both land
  * (serially, one via rebase-retry), readers are never torn, and a pinned
  * version stays frozen while newer commits arrive (the q70 snapshot-diff
  * read-isolation contract).
  */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_snap").toString

  test("latest() head pointer: exact under staleness, corruption, deletion, vacuum") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, spark.range(5).selectExpr("id", "id AS v"))
    for (i <- 1 to 5)
      SnapshotStore.append(spark, root,
        spark.range(1).selectExpr(s"id + ${1000 + i} AS id", "id AS v")
          .coalesce(1))
    val head = java.nio.file.Paths.get(root, "_commits", "_head")
    val v = SnapshotStore.latest(root).version
    assert(java.nio.file.Files.exists(head), "commits must maintain the hint")
    assert(java.nio.file.Files.readString(head).trim.toLong == v)
    // a STALE hint (crash between commit CAS and pointer update, or a
    // monotonicity-race writer) heals by probe-forward — never a stale read
    java.nio.file.Files.writeString(head, (v - 3).toString)
    assert(SnapshotStore.latest(root).version == v,
      "probe-forward must land on the true head from a stale hint")
    // a MISSING hint (legacy table) falls back to the listing and heals
    java.nio.file.Files.delete(head)
    assert(SnapshotStore.latest(root).version == v)
    assert(java.nio.file.Files.exists(head) &&
      java.nio.file.Files.readString(head).trim.toLong == v,
      "the listing fallback must heal the pointer for the next reader")
    // a CORRUPT hint falls back too (and gets replaced)
    java.nio.file.Files.writeString(head, "not-a-version")
    assert(SnapshotStore.latest(root).version == v)
    assert(java.nio.file.Files.readString(head).trim.toLong == v)
    // vacuum deletes old commits but never the head's keepLast window —
    // the pointer stays exact, and later commits keep advancing it
    SnapshotStore.expireSnapshots(root, keepLast = 2)
    assert(SnapshotStore.latest(root).version == v)
    SnapshotStore.append(spark, root,
      spark.range(1).selectExpr("id + 2000 AS id", "id AS v").coalesce(1))
    assert(SnapshotStore.latest(root).version == v + 1)
    assert(java.nio.file.Files.readString(head).trim.toLong == v + 1)
  }

  test("two concurrent writers both commit; the loser rebases and retries") {
    val root = tmpRoot()
    val base = queries.RelationalPipeline.employeeView(spark, sf)
      .select($"id", $"name", $"salary", $"segment")
    SnapshotStore.init(spark, root, base)

    // Both writers are forced to derive from v0 before either commits (the
    // barrier releases them together), so exactly one must lose the v1 CAS
    // and rebase. Writer A bumps BUILDING salaries (the compaction-shaped
    // rewrite); writer B appends a wave of new rows in a segment A's
    // predicate can't touch — the serial outcome is the same either order,
    // which is what lets the test assert exact content.
    val transformCalls = new AtomicInteger(0)
    val bothRead = new CyclicBarrier(2)
    val failure = new AtomicReference[Throwable]()
    def writer(body: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      new Thread(() =>
        try SnapshotStore.transact(spark, root) { df =>
          // only the first attempt per writer synchronizes (calls 1 and 2
          // are the racing pair); the rebase retry (call 3) proceeds alone
          if (transformCalls.incrementAndGet() <= 2)
            try bothRead.await(10, TimeUnit.SECONDS) catch { case _: Exception => () }
          body(df)
        } catch { case t: Throwable => failure.set(t) })

    val a = writer(df => df.withColumn("salary",
      when($"segment" === "BUILDING", $"salary" + 1000L).otherwise($"salary")))
    val appended = Seq((90001L, "new_a", 100L, "APPENDWAVE"),
      (90002L, "new_b", 200L, "APPENDWAVE")).toDF("id", "name", "salary", "segment")
    val b = writer(df => df.unionByName(appended))
    a.start(); b.start(); a.join(30000); b.join(30000)
    assert(failure.get() == null, s"writer failed: ${failure.get()}")

    val last = SnapshotStore.latest(root)
    assert(last.version == 2L, s"both writers must commit: got v${last.version}")
    assert(transformCalls.get() == 3,
      s"exactly one rebase retry expected, saw ${transformCalls.get()} transform calls")
    // serial outcome: every BUILDING salary bumped AND the append wave present
    val fin = SnapshotStore.read(spark, root).cache()
    val expected = base.withColumn("salary",
        when($"segment" === "BUILDING", $"salary" + 1000L).otherwise($"salary"))
      .unionByName(appended)
    assert(fin.exceptAll(expected).count() + expected.exceptAll(fin).count() == 0,
      "final snapshot must equal the serial application of both writers")
    fin.unpersist()
  }

  test("readers never observe a torn snapshot while commits land") {
    val root = tmpRoot()
    // every snapshot is uniform in `gen`: any read mixing two gens, or
    // seeing a partial row count, is a torn read
    val n = 500
    SnapshotStore.init(spark, root,
      spark.range(n).select($"id", lit(0L).as("gen")))

    val stop = new CountDownLatch(1)
    val readerFailure = new AtomicReference[String]()
    val reader = new Thread(() => {
      while (stop.getCount > 0 && readerFailure.get() == null) {
        val rows = SnapshotStore.read(spark, root)
          .agg(count(lit(1)).as("n"), countDistinct($"gen").as("gens")).head()
        if (rows.getLong(0) != n || rows.getLong(1) != 1L)
          readerFailure.set(s"torn read: ${rows.getLong(0)} rows, ${rows.getLong(1)} gens")
      }
    })
    reader.start()
    for (_ <- 1 to 6)
      SnapshotStore.transact(spark, root)(df => df.withColumn("gen", $"gen" + 1L))
    stop.countDown(); reader.join(30000)
    assert(readerFailure.get() == null, s"${readerFailure.get()}")
    assert(SnapshotStore.latest(root).version == 6L)
  }

  test("a pinned version is isolated from later commits (q70 diff contract)") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      spark.range(100).select($"id", ($"id" * 10L).as("price")))
    SnapshotStore.transact(spark, root)(df =>
      df.withColumn("price", when($"id" % 7 === 0, $"price" + 1L).otherwise($"price")))

    def diffCount(): Long = {
      val v0 = SnapshotStore.read(spark, SnapshotStore.at(root, 0))
      val v1 = SnapshotStore.read(spark, SnapshotStore.at(root, 1))
      v0.as("a").join(v1.as("b"), "id")
        .filter(col("a.price") =!= col("b.price")).count()
    }
    val before = diffCount()
    assert(before == 100L / 7 + 1, s"unexpected diff size $before")
    // later commits — including a full rewrite — must not move the pinned diff
    SnapshotStore.transact(spark, root)(df => df.withColumn("price", $"price" * 2L))
    SnapshotStore.transact(spark, root)(df => df.filter($"id" < 10))
    assert(diffCount() == before,
      "diff between pinned versions changed after later commits — isolation broken")
    assert(SnapshotStore.latest(root).version == 3L)
  }

  test("manifest pruning: skips files, never rows (q74 contract)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_snap_manifest").toString
    // 1000 rows range-clustered on k into 10 files → tight per-file [min,max]
    val df = spark.range(1000).select($"id".as("k"), ($"id" * 3).as("v"))
      .repartitionByRange(10, $"k")
    SnapshotStore.init(spark, root, df, statsCols = Seq("k"))
    val snap = SnapshotStore.latest(root)
    val m = SnapshotStore.manifest(spark, snap)
    assert(m.count() == 10, "expected one manifest row per data file")
    // a 150-wide slice must keep ≤ 3 of 10 files and return exactly the rows
    val (pruned, kept, total) = SnapshotStore.readPruned(spark, snap,
      col("max_k") >= 400 && col("min_k") <= 549)
    assert(total == 10 && kept <= 3, s"pruning too weak: kept $kept of $total")
    val got = pruned.filter($"k".between(400, 549)).select($"k", $"v")
    val want = SnapshotStore.read(spark, snap)
      .filter($"k".between(400, 549)).select($"k", $"v")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "pruned read changed the result")
    // a window outside every file prunes everything and keeps the schema
    val (empty, kept0, _) = SnapshotStore.readPruned(spark, snap,
      col("max_k") >= 5000 && col("min_k") <= 6000)
    assert(kept0 == 0 && empty.columns.toSeq == Seq("k", "v") && empty.isEmpty)
  }

  test("optimize compacts files without changing rows; vacuum deletes expired dirs") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_snap_optim").toString
    SnapshotStore.init(spark, root,
      spark.range(500).select($"id".as("k"), ($"id" * 7).as("v")).repartition(16),
      statsCols = Seq("k"))
    SnapshotStore.transact(spark, root)(df => df.filter($"k" =!= 42L))
    val want = SnapshotStore.read(spark, root).orderBy("k").collect().toSeq
    val filesBefore = SnapshotStore.read(spark, root).inputFiles.length
    SnapshotStore.optimize(spark, root, targetRows = 250,
      clusterBy = Seq("k"), statsCols = Seq("k"))
    val filesAfter = SnapshotStore.read(spark, root).inputFiles.length
    assert(filesAfter < filesBefore && filesAfter <= 2,
      s"optimize: $filesBefore -> $filesAfter files")
    assert(SnapshotStore.read(spark, root).orderBy("k").collect().toSeq == want,
      "optimize changed the data")
    assert(SnapshotStore.manifest(spark, SnapshotStore.latest(root)).count() == filesAfter,
      "optimize must refresh the manifest")

    // expire everything but the newest 1: old dirs leave the disk, pinned
    // old versions become unreadable, the latest stays intact
    val v0dir = SnapshotStore.at(root, 0).dataDir
    val expired = SnapshotStore.expireSnapshots(root, keepLast = 1)
    assert(expired == Seq(0L, 1L), s"expired $expired")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(v0dir)),
      "vacuum left the expired data dir on disk")
    intercept[IllegalArgumentException](SnapshotStore.at(root, 0))
    assert(SnapshotStore.read(spark, root).orderBy("k").collect().toSeq == want,
      "vacuum touched the retained snapshot")
    assert(SnapshotStore.latest(root).version == 2L)
  }

  test("streaming merge is exactly-once: replayed batches are no-ops") {
    import spark.implicits._
    import graft.streaming.SnapshotMergeSink
    val root = java.nio.file.Files.createTempDirectory("graft_snap_stream").toString
    SnapshotStore.init(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    def rows() = SnapshotStore.read(spark, root).orderBy("k")
      .as[(Long, String)].collect().toSeq

    val apply = SnapshotMergeSink.upsertBatch(root, "k", "ingest") _
    apply(Seq((2L, "b2"), (4L, "d")).toDF("k", "v"), 0L)
    assert(rows() == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
    val vAfterBatch0 = SnapshotStore.latest(root).version

    // crash-replay of batch 0 with (possibly stale) recomputed data: no-op
    apply(Seq((2L, "STALE"), (4L, "STALE")).toDF("k", "v"), 0L)
    assert(SnapshotStore.latest(root).version == vAfterBatch0,
      "replayed batch committed a new version")
    assert(rows() == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))

    // an interleaved foreign writer must not unmask the replay
    SnapshotStore.transact(spark, root)(df => df.filter($"k" =!= 3L))
    apply(Seq((2L, "STALE")).toDF("k", "v"), 0L)
    assert(rows() == Seq((1L, "a"), (2L, "b2"), (4L, "d")),
      "replay after a foreign commit double-applied")

    // the NEXT batch applies normally on top of everything
    apply(Seq((1L, "a2"), (5L, "e")).toDF("k", "v"), 1L)
    assert(rows() == Seq((1L, "a2"), (2L, "b2"), (4L, "d"), (5L, "e")))
    assert(SnapshotStore.lastTxnVersion(root, "ingest").contains(1L))
    assert(SnapshotStore.lastTxnVersion(root, "other").isEmpty)
  }

  test("txn checkpoint: stamps survive vacuum; folded reads match full scans") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, Seq((1L, "a")).toDF("k", "v"))
    // v1..v4 carry stamps from two apps (interleaved high-water marks)
    for (i <- 1L to 4L)
      SnapshotStore.transact(spark, root,
        txn = Some(SnapshotStore.Txn(if (i % 2 == 0) "appB" else "appA", i)))(
        df => df.withColumn("v", concat($"v", lit(i.toString))))
    assert(SnapshotStore.lastTxnVersion(root, "appA").contains(3L))
    assert(SnapshotStore.lastTxnVersion(root, "appB").contains(4L))

    // an explicit fold covering part of the log must not change answers:
    // folded baseline + tail scan ≡ the full scan it replaced
    SnapshotStore.writeTxnCheckpoint(root, 2L)
    assert(SnapshotStore.lastTxnVersion(root, "appA").contains(3L),
      "tail stamp (v3 > checkpoint) must override the folded baseline")
    assert(SnapshotStore.lastTxnVersion(root, "appB").contains(4L))
    // a stale fold attempt is a no-op (never regresses coverage)
    SnapshotStore.writeTxnCheckpoint(root, 1L)
    assert(SnapshotStore.lastTxnVersion(root, "appB").contains(4L))

    // VACUUM past every stamped commit: without the pre-delete fold the
    // stamps would vanish with their commit files and a recovering writer
    // replaying an old batch would double-apply
    val expired = SnapshotStore.expireSnapshots(root, keepLast = 1)
    assert(expired == Seq(0L, 1L, 2L, 3L), s"expired $expired")
    assert(SnapshotStore.lastTxnVersion(root, "appA").contains(3L),
      "stamps recorded only in expired commits must survive vacuum")
    assert(SnapshotStore.lastTxnVersion(root, "appB").contains(4L))
    val vBefore = SnapshotStore.latest(root).version
    SnapshotStore.transact(spark, root, // replayed batch: must be a no-op
      txn = Some(SnapshotStore.Txn("appA", 3L)))(
      df => df.withColumn("v", lit("DOUBLE-APPLIED")))
    assert(SnapshotStore.latest(root).version == vBefore,
      "replay of a pre-vacuum batch committed")

    // an unreadable checkpoint is LOUD: post-vacuum it is the only copy
    // of the folded stamps — silently rescanning would forget the ledger
    // and double-apply replayed batches
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_commits", "_txn_checkpoint"), "garbage")
    val e = intercept[IllegalStateException] {
      SnapshotStore.lastTxnVersion(root, "appB")
    }
    assert(e.getMessage.contains("unreadable"), e.getMessage)
  }

  test("a fold racing expireSnapshots cannot lose folded stamps") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, Seq((1L, "a")).toDF("k", "v"))
    for (i <- 1L to 4L)
      SnapshotStore.transact(spark, root,
        txn = Some(SnapshotStore.Txn(if (i % 2 == 0) "appB" else "appA", i)))(
        df => df.withColumn("v", concat($"v", lit(i.toString))))
    // deterministic interleave: the fold reads its (absent) base
    // checkpoint, then — IN the window before it lists the commit dir — a
    // concurrent expire folds and deletes every old commit file. Without
    // the post-list validation the stale fold would rebuild from an empty
    // base plus only the surviving tail and replace the good checkpoint
    // with one that has forgotten appA's folded stamp (broken
    // exactly-once: a recovering appA writer would double-apply).
    var fired = false
    SnapshotStore.txnFoldTestHook = () => {
      if (!fired) {
        fired = true
        val expired = SnapshotStore.expireSnapshots(root, keepLast = 1)
        assert(expired == Seq(0L, 1L, 2L, 3L), s"expired $expired")
      }
    }
    try SnapshotStore.writeTxnCheckpoint(root, 2L)
    finally SnapshotStore.txnFoldTestHook = () => ()
    assert(SnapshotStore.lastTxnVersion(root, "appA").contains(3L),
      "appA's stamp (folded by the concurrent expire) must survive the race")
    assert(SnapshotStore.lastTxnVersion(root, "appB").contains(4L))
  }

  test("cross-process fold-vs-expire: a lock-bypassing interloper cannot lose stamps") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, Seq((1L, "a")).toDF("k", "v"))
    for (i <- 1L to 4L)
      SnapshotStore.transact(spark, root,
        txn = Some(SnapshotStore.Txn(if (i % 2 == 0) "appB" else "appA", i)))(
        df => df.withColumn("v", concat($"v", lit(i.toString))))
    // simulate ANOTHER PROCESS's expire with RAW file operations — no
    // monitor, no OS file lock (a second JVM's locks are invisible to
    // this one's mutexes; the OS lock is what really serializes two
    // processes, and this interloper deliberately skips it too): fold
    // commits ≤ 3 into a checkpoint and delete them, mid-window between
    // our fold's base read and its commit-dir listing. The optimistic
    // re-validation alone must detect the advanced checkpoint and retry
    // from the interloper's base instead of writing a lossy one.
    var fired = false
    SnapshotStore.txnFoldTestHook = () => {
      if (!fired) {
        fired = true
        val cd = java.nio.file.Paths.get(root, "_commits")
        val tmp = java.nio.file.Files.createTempFile(cd, ".ckpt", ".tmp")
        java.nio.file.Files.writeString(tmp, "version\t3\nappA\t3\nappB\t2")
        java.nio.file.Files.move(tmp, cd.resolve("_txn_checkpoint"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        (0L to 3L).foreach(v =>
          java.nio.file.Files.delete(cd.resolve(f"$v%020d.commit")))
      }
    }
    try SnapshotStore.writeTxnCheckpoint(root, 2L)
    finally SnapshotStore.txnFoldTestHook = () => ()
    assert(SnapshotStore.lastTxnVersion(root, "appA").contains(3L),
      "appA's stamp (folded only by the interloper) must survive")
    assert(SnapshotStore.lastTxnVersion(root, "appB").contains(4L),
      "appB's head stamp (still in the surviving tail) must survive")
  }

  test("a tag created mid-vacuum pins its version instead of dangling") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, Seq((1L, "a")).toDF("k", "v"))
    for (i <- 1L to 3L)
      SnapshotStore.transact(spark, root,
        txn = Some(SnapshotStore.Txn("w", i)))(
        df => df.withColumn("v", lit(i.toString)))
    // the vacuum snapshots its tagged set at entry; the tag lands AFTER
    // that (inside the pre-delete fold — the hook window) but BEFORE the
    // delete loop reaches v1. Without the per-commit re-check, v1's commit
    // file and data dir would be deleted under a live ref.
    var fired = false
    SnapshotStore.txnFoldTestHook = () => {
      if (!fired) {
        fired = true
        SnapshotStore.createTag(root, "pinned", Some(1L))
      }
    }
    val expired =
      try SnapshotStore.expireSnapshots(root, keepLast = 1)
      finally SnapshotStore.txnFoldTestHook = () => ()
    assert(expired == Seq(0L, 2L), s"v1 must be skipped (pinned): $expired")
    assert(SnapshotStore.resolveRef(root, "pinned") == 1L)
    // the ref resolves to a READABLE version — the dangling-ref hazard
    assert(SnapshotStore.read(spark, SnapshotStore.at(root, 1L))
      .head().getString(1) == "1")
  }

  test("append onto an identity table reports replay (onReplay threads through)") {
    import org.apache.spark.sql.types._
    val root = tmpRoot()
    val idMeta = new MetadataBuilder().putLong("identity.start", 1L)
      .putLong("identity.step", 1L)
      .putBoolean("identity.allowExplicitInsert", false).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, idMeta),
      StructField("v", StringType)))
    SnapshotStore.init(spark, root, spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
    SnapshotStore.append(spark, root, Seq("a").toDF("v"),
      txn = Some(SnapshotStore.Txn("ing", 1L)))
    // a batch whose stamp is already covered (the racing-twin shape COPY
    // INTO hits) must surface the replay signal on the identity route too,
    // so files_loaded/rows_loaded report 0 instead of a phantom load
    var replayed = false
    SnapshotStore.append(spark, root, Seq("b").toDF("v"),
      txn = Some(SnapshotStore.Txn("ing", 1L)),
      onReplay = () => { replayed = true })
    assert(replayed, "identity append dropped the onReplay signal")
    assert(SnapshotStore.read(spark, root).count() == 1L)
  }

  test("CHECK constraints reject a violating commit before any pointer moves") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_snap_check").toString
    SnapshotStore.init(spark, root,
      Seq((1L, 100L), (2L, 200L), (3L, 300L)).toDF("k", "bal"))
    val checks = Seq(
      "bal_non_negative" -> (col("bal") >= 0L),
      "k_not_null" -> col("k").isNotNull)
    // a valid transaction passes with constraints on
    SnapshotStore.transact(spark, root, constraints = checks)(
      df => df.withColumn("bal", $"bal" + 10L))
    assert(SnapshotStore.latest(root).version == 1L)
    val before = SnapshotStore.read(spark, root).orderBy("k").collect().toSeq
    // a violating transaction throws, names the constraint, moves nothing
    val e = intercept[SnapshotStore.ConstraintViolationException] {
      SnapshotStore.transact(spark, root, constraints = checks)(
        df => df.withColumn("bal", $"bal" - 1000L))
    }
    assert(e.getMessage.contains("bal_non_negative"))
    assert(SnapshotStore.latest(root).version == 1L, "violating commit moved the pointer")
    assert(SnapshotStore.read(spark, root).orderBy("k").collect().toSeq == before)
    // the check is observed metrics ON the staged write (one job, not a
    // separate aggregate pass), so the violating attempt stages files
    // first — the refusal must clean its dir up, leaving exactly the two
    // committed versions' dirs behind
    locally {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
      val dirs = try s.iterator().asScala.toSeq finally s.close()
      assert(dirs.size == 2, s"violating commit left a staged dir: $dirs")
    }
    // an empty output trivially satisfies row constraints
    SnapshotStore.transact(spark, root, constraints = checks)(df => df.filter($"k" < 0))
    assert(SnapshotStore.read(spark, root).isEmpty)
  }

  test("cleanOrphans deletes only old unreferenced staging dirs") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_gc").toString
    SnapshotStore.init(spark, root, Seq((1L, "a")).toDF("k", "v"))
    SnapshotStore.transact(spark, root)(df => df.withColumn("v", lit("b")))
    // plant two orphans (the lost-race / crashed-writer shape): one stale,
    // one fresh enough to still be a racing writer
    val stale = Paths.get(root, "data", "orphan-stale")
    val fresh = Paths.get(root, "data", "orphan-fresh")
    Seq(stale, fresh).foreach { d =>
      Files.createDirectories(d); Files.writeString(d.resolve("part.bin"), "x")
    }
    Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L))
    val deleted = SnapshotStore.cleanOrphans(root, minAgeMillis = 3600000L)
    assert(deleted == Seq(stale.toString), s"deleted $deleted")
    assert(!Files.exists(stale) && Files.exists(fresh),
      "GC must take the stale orphan and spare the possibly-racing fresh one")
    // every committed version still reads
    assert(SnapshotStore.read(spark, SnapshotStore.at(root, 0)).count() == 1)
    assert(SnapshotStore.read(spark, root).select("v").head().getString(0) == "b")
  }

  test("unpartitioned append links base files, writes only the batch") {
    import java.nio.file.{Files, Paths}
    def parquetKeys(dir: String): Set[Object] = {
      val s = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(f => Files.readAttributes(f,
            classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
          .toSet
      } finally s.close()
    }
    val root = tmpRoot() + "/t"
    SnapshotStore.init(spark,
      root, spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(4))
    val v0 = SnapshotStore.latest(root)
    val v0Keys = parquetKeys(v0.dataDir)
    assert(v0Keys.size >= 4)
    // append a small batch: the new version must HARD-LINK every base file
    // (fileKey identity — O(batch) staging, never a table rewrite) and add
    // only fresh batch files
    SnapshotStore.append(spark, root,
      spark.range(1000, 1010).selectExpr("id", "id * 2 AS v"))
    val v1 = SnapshotStore.latest(root)
    val v1Keys = parquetKeys(v1.dataDir)
    assert(v0Keys.subsetOf(v1Keys),
      "append must link every base file, not rewrite")
    assert(v1Keys.size > v0Keys.size, "append must add fresh batch files")
    assert(SnapshotStore.read(spark, v1).count() == 1010)
    assert(SnapshotStore.read(spark, v1).agg(sum($"v")).head().getLong(0)
      == (0L until 1010L).map(_ * 2).sum)
    // the CDC variant stays O(batch) too, with the change set = the batch
    val rootC = tmpRoot() + "/tc"
    SnapshotStore.init(spark, rootC,
      spark.range(100).selectExpr("id", "id AS v").repartition(3),
      cdcKeys = Seq("id"))
    val c0Keys = parquetKeys(SnapshotStore.latest(rootC).dataDir)
    SnapshotStore.append(spark, rootC,
      spark.range(100, 105).selectExpr("id", "id AS v"))
    val c1 = SnapshotStore.latest(rootC)
    assert(c0Keys.subsetOf(parquetKeys(c1.dataDir)))
    val ch = SnapshotStore.changes(spark, rootC, 1, 1)
    assert(ch.count() == 5 &&
      ch.filter($"_change_type" === "insert").count() == 5)
    // a live-key append still refuses before anything commits
    intercept[Exception](SnapshotStore.append(spark, rootC,
      spark.range(99, 101).selectExpr("id", "id AS v")))
    assert(SnapshotStore.latest(rootC).version == 1L)
  }

  test("multi-app txn stamps: atomic recording, all-covered replay, partial-coverage abort") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, spark.range(10).selectExpr("id", "id AS v"))
    val a5 = SnapshotStore.Txn("appA", 5L)
    val b7 = SnapshotStore.Txn("appB", 7L)
    // one commit records BOTH stamps atomically
    SnapshotStore.transact(spark, root, txn = Some(a5), extraTxns = Seq(b7))(
      df => df.filter($"id" < 8))
    assert(SnapshotStore.lastTxnVersion(root, "appA").contains(5L))
    assert(SnapshotStore.lastTxnVersion(root, "appB").contains(7L))
    // the audit surface exposes the FULL stamp set of the commit
    val h = SnapshotStore.history(spark, root)
      .filter($"version" === SnapshotStore.latest(root).version)
      .selectExpr("explode(txn_stamps) AS s").selectExpr("s.app_id", "s.version")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(h == Set(("appA", 5L), ("appB", 7L)), s"txn_stamps: $h")
    // replay: ALL stamps covered -> stamped no-op, nothing commits
    val vBefore = SnapshotStore.latest(root).version
    SnapshotStore.transact(spark, root, txn = Some(a5), extraTxns = Seq(b7))(
      df => df.limit(0))
    assert(SnapshotStore.latest(root).version == vBefore,
      "fully-covered stamp set must be a no-op")
    // INTERLEAVED-PIN race (the lost-update hazard): this commit pins
    // appB@6, but a concurrent refresh already applied appB@7 — its mark
    // STRICTLY EXCEEDS the pin, so re-running the pinned transform would
    // overwrite newer state with stale reads. Must abort BEFORE the
    // transform runs, committing nothing.
    var ran = false
    intercept[SnapshotStore.StaleStampException](
      SnapshotStore.transact(spark, root,
        txn = Some(SnapshotStore.Txn("appA", 6L)),
        extraTxns = Seq(SnapshotStore.Txn("appB", 6L)))(df => { ran = true; df }))
    assert(!ran, "stale-pinned stamps must abort BEFORE the transform runs")
    assert(SnapshotStore.latest(root).version == vBefore)
    // one-source-ahead is legitimate: appA merely RE-ASSERTED at its
    // current mark (equal, not exceeded) while appB advances — proceeds
    SnapshotStore.transact(spark, root, txn = Some(a5),
      extraTxns = Seq(SnapshotStore.Txn("appB", 8L)))(df => df)
    assert(SnapshotStore.lastTxnVersion(root, "appB").contains(8L))
    // a failed pinCheck aborts the same way on the FIRST attempt
    intercept[SnapshotStore.StaleStampException](
      SnapshotStore.transact(spark, root,
        txn = Some(SnapshotStore.Txn("appA", 6L)),
        pinCheck = () => false)(df => df))
    assert(SnapshotStore.lastTxnVersion(root, "appA").contains(5L))
  }

  test("partition-scoped OPTIMIZE interleaving partial DML: loser rebases, neither effect lost") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "p", "v"),
      partitionBy = Seq("p"))
    // fragment both partitions across several append commits
    for (i <- 3L to 8L)
      SnapshotStore.append(spark, root,
        Seq((i, if (i % 2 == 0) "b" else "a", i * 10L)).toDF("id", "p", "v"))
    val base = SnapshotStore.latest(root)
    // deterministic interleave via the DML's own matchedRows callback
    // (fires per attempt, after the base pin, before staging — the same
    // shape as the mid-append evolve race): the injected partition-scoped
    // OPTIMIZE commits FIRST, so the DML stages from a stale base, MUST
    // lose the CAS, and rebase-retries onto the compacted snapshot
    var injected = false
    SnapshotStore.transactPartialWithChanges(spark, root)(b => {
      if (!injected) {
        injected = true
        SnapshotStore.optimize(spark, root, 1000000L,
          partitionPredicate = Some("p = 'b'"))
      }
      b.filter($"p" === "a" && $"id" === 1L)
    })(touched =>
      (touched.withColumn("v",
        when($"id" === 1L, $"v" + 1000L).otherwise($"v")),
        touched.limit(0).withColumn(SnapshotStore.ChangeTypeCol,
          lit("insert"))))
    assert(injected, "the competing OPTIMIZE must have fired")
    val head = SnapshotStore.latest(root)
    assert(head.version == base.version + 2,
      "compaction commit + the DML's rebased retry")
    // neither effect lost: the update landed on the rebased snapshot…
    val got = SnapshotStore.read(spark, root).select($"id", $"p", $"v")
      .as[(Long, String, Long)].collect().toSet
    assert(got.contains((1L, "a", 1010L)), s"update lost in the rebase: $got")
    assert(got.size == 8 && got.filter(_._2 == "b") ==
      Set((2L, "b", 20L), (4L, "b", 40L), (6L, "b", 60L), (8L, "b", 80L)),
      s"rows lost or duplicated across the interleave: $got")
    // …and the compaction survived the DML's hard-link carry (the retry
    // touched only p=a, so p=b keeps the optimized single file)
    val bFiles = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(head.dataDir, "p=b"))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    assert(bFiles == 1,
      s"the rebase must not lose the compaction (p=b has $bFiles files)")
  }

  test("rebase-retry after a lost commit race preserves every stamp") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, spark.range(10).selectExpr("id", "id AS v"))
    // stagedHook fires after staging, before the CAS: inject a competing
    // commit there exactly once, so the stamped writer LOSES its first
    // attempt and must rebase-retry — the retry's commit must still carry
    // both stamps
    var injected = false
    SnapshotStore.transact(spark, root,
      txn = Some(SnapshotStore.Txn("appX", 3L)),
      extraTxns = Seq(SnapshotStore.Txn("appY", 4L)),
      stagedHook = _ => if (!injected) {
        injected = true
        SnapshotStore.transact(spark, root)(df => df.filter($"id" =!= 0))
      })(df => df.filter($"id" < 9))
    assert(injected, "the competing commit must have fired")
    assert(SnapshotStore.latest(root).version == 2L,
      "init (v0) + interloper (v1) + stamped retry (v2)")
    assert(SnapshotStore.lastTxnVersion(root, "appX").contains(3L))
    assert(SnapshotStore.lastTxnVersion(root, "appY").contains(4L))
    // the rebased transform ran against the interloper's snapshot
    assert(SnapshotStore.read(spark, root).count() == 8)
  }

  test("nested and top-level renames of one struct refuse to compose on ANY table") {
    // non-CDC table: the SIDECAR chains (not the feed log) are what break —
    // a nested chain under a renamed parent would rebuild the struct
    // ignoring the parent's coalesce legs and read pre-rename values as
    // NULL. Both orders refuse; a healing OPTIMIZE re-enables each.
    val root = tmpRoot()
    SnapshotStore.init(spark, root, // no cdcKeys
      spark.range(1, 4).selectExpr("id",
        "named_struct('sal', id * 10, 'tag', 'x') AS props"))
    // order 1: nested rename first, then the parent — refuse
    SnapshotStore.alterSchema(spark, root, identity,
      renames = Map("props.salary" -> "props.sal"))
    val e1 = intercept[IllegalArgumentException](
      SnapshotStore.alterSchema(spark, root, identity,
        renames = Map("attrs" -> "props")))
    assert(e1.getMessage.contains("nested rename chains"), e1.getMessage)
    // pre-rename values must still resolve (the condition under guard)
    assert(SnapshotStore.read(spark, root).selectExpr("props.salary")
      .as[Long].collect().toSet == Set(10L, 20L, 30L))
    // a full rewrite heals the chain; the parent rename then composes
    SnapshotStore.optimize(spark, root, targetRows = 1000000L)
    SnapshotStore.alterSchema(spark, root, identity,
      renames = Map("attrs" -> "props"))
    assert(SnapshotStore.read(spark, root).selectExpr("attrs.salary")
      .as[Long].collect().toSet == Set(10L, 20L, 30L))
    // order 2: parent renamed (live chain), then a nested rename — refuse
    val e2 = intercept[IllegalArgumentException](
      SnapshotStore.alterSchema(spark, root, identity,
        renames = Map("attrs.wage" -> "attrs.salary")))
    assert(e2.getMessage.contains("cannot compose"), e2.getMessage)
    SnapshotStore.optimize(spark, root, targetRows = 1000000L)
    SnapshotStore.alterSchema(spark, root, identity,
      renames = Map("attrs.wage" -> "attrs.salary"))
    assert(SnapshotStore.read(spark, root).selectExpr("attrs.wage")
      .as[Long].collect().toSet == Set(10L, 20L, 30L))
  }
  test("tailCommitFiles: a head hint stranded below the checkpoint falls back to the listing") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, Seq((1L, "a")).toDF("k", "v")) // v0
    for (i <- 1L to 8L)
      SnapshotStore.transact(spark, root,
        txn = Some(SnapshotStore.Txn("app", i)))(df => df)
    // checkpoint folds stamps up to v4; the newest stamp (app -> 8) lives
    // only in the commit tail (v5..v8)
    SnapshotStore.writeTxnCheckpoint(root, 4L)
    assert(SnapshotStore.lastTxnVersion(root, "app").contains(8L))
    // fabricate the stranded-hint shape (ADVICE r19): pointer at v2 with a
    // retention gap right above it (commit v3 gone), live commits above
    // the checkpoint. The probe walks 2 -> (3 missing) and lands BELOW
    // afterV = 4; an empty tail would silently under-report the
    // high-water mark (the double-apply direction) -- the fallback must
    // list instead.
    val commits = java.nio.file.Paths.get(root, "_commits")
    java.nio.file.Files.writeString(commits.resolve("_head"), "2")
    java.nio.file.Files.delete(commits.resolve(f"${3L}%020d.commit"))
    assert(SnapshotStore.lastTxnVersion(root, "app").contains(8L),
      "a stranded hint must fall back to the full listing, never " +
        "under-report high-water marks")
  }

  test("overwrite appends report replay: a recommitted txn fires onReplay, version unchanged") {
    val mode = "spark.sql.sources.partitionOverwriteMode"
    // the plain, dynamic-partition and spanning-layout overwrite routes
    for ((route, dynamic, evolve) <- Seq(("plain", false, false),
        ("dynamic", true, false), ("spanning-layout", false, true))) {
      val root = tmpRoot()
      SnapshotStore.init(spark, root,
        Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "k", "v"),
        partitionBy = if (evolve) Nil else Seq("k"))
      if (evolve) SnapshotStore.alterPartitionSpec(spark, root, Seq("k"))
      val prev = spark.conf.getOption(mode)
      spark.conf.set(mode, if (dynamic) "dynamic" else "static")
      try {
        val txn = Some(SnapshotStore.Txn("ow", 1L))
        val batch = Seq((3L, "a", 30L)).toDF("id", "k", "v")
        SnapshotStore.append(spark, root, batch, overwrite = true, txn = txn)
        val v = SnapshotStore.latest(root).version
        var replayed = false
        SnapshotStore.append(spark, root, batch, overwrite = true, txn = txn,
          onReplay = () => { replayed = true })
        assert(replayed, s"$route overwrite dropped the onReplay signal")
        assert(SnapshotStore.latest(root).version == v,
          s"$route overwrite replay must not commit")
      } finally prev match {
        case Some(p) => spark.conf.set(mode, p)
        case None => spark.conf.unset(mode)
      }
    }
  }

  test("every write path that loses its CAS to a racer retries exactly once") {
    import org.apache.spark.sql.types.StringType
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, s"k${i % 3}", i * 10L)).toDF("id", "k", "v")
    def seed(root: String, parts: Seq[String] = Nil): Unit =
      SnapshotStore.init(spark, root, rows(0L until 12L), partitionBy = parts)
    def add(root: String, from: Long): Unit =
      SnapshotStore.append(spark, root, rows(Seq(from, from + 1)))
    // (path, table set-up, the commit under test); the racer is always one
    // non-conflicting append
    val cases: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("flat append", r => seed(r), r => add(r, 50L)),
      ("partitioned append", r => seed(r, Seq("k")), r => add(r, 50L)),
      ("spanning-layout append", r => {
        seed(r); SnapshotStore.alterPartitionSpec(spark, r, Seq("k"))
        add(r, 40L)
      }, r => add(r, 50L)),
      ("alterSchema ADD COLUMN", r => seed(r),
        r => SnapshotStore.alterSchema(spark, r, _.add("note", StringType))),
      ("alterPartitionSpec", r => seed(r),
        r => SnapshotStore.alterPartitionSpec(spark, r, Seq("k"))),
      ("restore", r => { seed(r); add(r, 40L) },
        r => SnapshotStore.restore(spark, r, toVersion = 0L)),
      ("optimizeSmallFiles", r => { seed(r); add(r, 40L); add(r, 42L) },
        r => SnapshotStore.optimizeSmallFiles(spark, r, targetRows = 1000L,
          smallFileRows = 100L)),
      ("MoR DELETE", r => {
        seed(r); SnapshotStore.setDmlMode(r, SnapshotStore.MergeOnRead)
      }, r => SnapshotStore.transactMoR(spark, r)(_.filter($"id" < 3L))(m =>
        (m.limit(0), m.withColumn(SnapshotStore.ChangeTypeCol, lit("delete"))))),
      ("partial-COW UPDATE", r => seed(r, Seq("k")),
        r => SnapshotStore.transactPartialWithChanges(spark, r)(
          _.filter($"k" === "k1"))(t => (t.withColumn("v", $"v" + 1L),
          t.withColumn(SnapshotStore.ChangeTypeCol, lit("update_postimage"))))))
    def contents(root: String): (Seq[String], Seq[String]) = {
      val df = SnapshotStore.read(spark, root)
      val cols = df.columns.sorted.toSeq
      (cols, df.select(cols.map(col): _*).collect()
        .map(_.toSeq.mkString("|")).toSeq.sorted)
    }
    for ((path, setup, op) <- cases) {
      // serial reference: the racer's commit, then the commit under test
      val serial = tmpRoot()
      setup(serial); add(serial, 100L); op(serial)
      val root = tmpRoot()
      setup(root)
      val before = SnapshotStore.latest(root).version
      // the hook fires in each attempt between staging and CAS; the first
      // time, the racer commits — so the attempt must lose and retry. The
      // racer's own commit attempt fires the hook too: not counted
      var attempts = 0
      var racing = false
      SnapshotStore.commitTestHook = () => if (!racing) {
        attempts += 1
        if (attempts == 1) {
          racing = true
          try add(root, 100L) finally racing = false
        }
      }
      try op(root) finally SnapshotStore.commitTestHook = () => ()
      assert(attempts == 2, s"$path: expected exactly one retry, got " +
        s"${attempts - 1}")
      assert(SnapshotStore.latest(root).version == before + 2,
        s"$path: the racer and the retried commit must each land once")
      assert(contents(root) == contents(serial),
        s"$path: the retried commit must equal the serial application")
    }
  }
}
