package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, SnapshotStore}

/** Merge-on-read DML via deletion vectors (SnapshotStore.transactMoR +
  * DvReadRewrite): a DELETE/UPDATE on a merge-on-read table must commit a
  * `_dv/` positional sidecar plus appended post-images and NEVER rewrite a
  * data file — the Delta-DV / Iceberg-positional-delete shape that keeps a
  * scattered point-delete O(matched rows), not O(touched files), at 100 TB.
  * The read side (Scala API and catalog SQL alike) filters the vector out
  * with the GraftDvFilter predicate (DML lineage reads anti-join it);
  * OPTIMIZE and full-rewrite commits materialize it away.
  */
class DvSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_dv").toString

  /** Data files of a snapshot dir (relative paths, `_*` metadata excluded). */
  private def dataFiles(dir: String): Set[String] = {
    val base = Paths.get(dir)
    val s = Files.walk(base)
    try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet") &&
        !base.relativize(f).iterator().asScala.exists(_.toString.startsWith("_")))
      .map(f => base.relativize(f).toString).toSet
    finally s.close()
  }

  private def hasDv(dir: String): Boolean =
    Files.isDirectory(Paths.get(dir, "_dv"))

  test("MoR DELETE links every base file unchanged and lands only a _dv sidecar") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      (1L to 1000L).toDF("id").withColumn("v", $"id" * 10).repartition(4))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)
    val v0 = SnapshotStore.latest(root)

    graft.sources.SqlDml.execute(spark, "DELETE FROM t WHERE id % 7 = 0",
      Map("t" -> root))
    val v1 = SnapshotStore.latest(root)
    assert(v1.version == 1)

    // every v0 data file is present BY THE SAME RELATIVE NAME in v1 (hard
    // links — nothing was rewritten), and the only addition is the sidecar
    assert(dataFiles(v1.dataDir) == dataFiles(v0.dataDir),
      "MoR delete must not add or rewrite data files")
    dataFiles(v0.dataDir).foreach { rel =>
      assert(Files.isSameFile(Paths.get(v0.dataDir, rel), Paths.get(v1.dataDir, rel)),
        s"$rel must be a hard link of the v0 file")
    }
    assert(hasDv(v1.dataDir) && !hasDv(v0.dataDir))

    // read correctness + time travel isolation
    assert(SnapshotStore.read(spark, root).count() == 1000 - 142)
    assert(SnapshotStore.read(spark, v0).count() == 1000)
    assert(SnapshotStore.read(spark, root).filter($"id" % 7 === 0).isEmpty)
  }

  test("MoR UPDATE appends post-images; chained statements accumulate one vector") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      (1L to 500L).toDF("id").withColumn("v", $"id"))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)
    val files0 = dataFiles(SnapshotStore.latest(root).dataDir)

    graft.sources.SqlDml.execute(spark,
      "UPDATE t SET v = v + 1000 WHERE id <= 10", Map("t" -> root))
    val v1 = SnapshotStore.latest(root)
    // old files all linked; post-image rows arrive as NEW files
    assert(files0.subsetOf(dataFiles(v1.dataDir)))
    assert(dataFiles(v1.dataDir).size > files0.size)

    graft.sources.SqlDml.execute(spark, "DELETE FROM t WHERE id IN (5, 1005)",
      Map("t" -> root)) // id 5 was updated; its POST-image row must die too
    val out = SnapshotStore.read(spark, root).orderBy($"id")
    assert(out.count() == 499)
    val got = out.filter($"id" <= 10).select($"id", $"v").as[(Long, Long)]
      .collect().toSeq
    assert(got == Seq((1L, 1001L), (2L, 1002L), (3L, 1003L), (4L, 1004L),
      (6L, 1006L), (7L, 1007L), (8L, 1008L), (9L, 1009L), (10L, 1010L)))
    // the remainder kept their original v
    assert(SnapshotStore.read(spark, root).filter($"id" > 10 && $"v" =!= $"id").isEmpty)
  }

  test("OPTIMIZE materializes the vector away; append keeps deletions live") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, (1L to 300L).toDF("id"))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)
    graft.sources.SqlDml.execute(spark, "DELETE FROM t WHERE id > 250",
      Map("t" -> root))
    assert(hasDv(SnapshotStore.latest(root).dataDir))

    // append after a DV commit: the new rows land, deletions stay deleted
    SnapshotStore.append(spark, root, (301L to 320L).toDF("id"))
    assert(SnapshotStore.read(spark, root).count() == 250 + 20)

    SnapshotStore.optimize(spark, root, targetRows = 1000)
    val opt = SnapshotStore.latest(root)
    assert(!hasDv(opt.dataDir), "full OPTIMIZE must materialize the DV away")
    assert(SnapshotStore.read(spark, root).count() == 270)
    assert(SnapshotStore.read(spark, root).filter($"id" > 250 && $"id" <= 300).isEmpty)
  }

  test("partitioned: copy-on-write rewrite carries the other partitions' vectors") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      (1L to 400L).toDF("id")
        .withColumn("p", ($"id" % 4).cast("string"))
        .withColumn("v", $"id"),
      partitionBy = Seq("p"))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)

    // MoR delete hits partitions p=0 and p=1
    graft.sources.SqlDml.execute(spark,
      "DELETE FROM t WHERE id % 4 <= 1 AND id <= 100", Map("t" -> root))
    assert(SnapshotStore.read(spark, root).count() == 350)

    // switch the table back to copy-on-write and UPDATE only p=0: that
    // partition rewrites clean, and p=1's deletion vector must carry
    SnapshotStore.setDmlMode(root, SnapshotStore.CopyOnWrite)
    graft.sources.SqlDml.execute(spark,
      "UPDATE t SET v = v + 1 WHERE p = '0' AND id > 100", Map("t" -> root))
    val v2 = SnapshotStore.latest(root)
    assert(hasDv(v2.dataDir), "p=1 deletions must survive the p=0 rewrite")
    // pruned vector: no surviving entry points into the rewritten p=0 dir
    val dv = spark.read.parquet(s"${v2.dataDir}/_dv")
    assert(dv.filter($"file".startsWith("p=0/")).isEmpty,
      "rewritten partition's DV entries must be pruned")
    val out = SnapshotStore.read(spark, root)
    assert(out.count() == 350)
    assert(out.filter($"id" % 4 <= 1 && $"id" <= 100).isEmpty)
    assert(out.filter($"p" === "0" && $"id" > 100 && $"v" =!= $"id" + 1).isEmpty)
    assert(out.filter($"p" === "1" && $"v" =!= $"id").isEmpty)
  }

  test("a no-match statement on a vector-less MoR table writes no sidecar") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, (1L to 50L).toDF("id"))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)
    graft.sources.SqlDml.execute(spark, "DELETE FROM t WHERE id > 999",
      Map("t" -> root)) // matches nothing
    val v1 = SnapshotStore.latest(root)
    assert(v1.version == 1 && !hasDv(v1.dataDir),
      "an empty vector would flip every later read onto the filter path")
    assert(SnapshotStore.read(spark, root).count() == 50)
  }

  test("RESTORE across a DV boundary rolls deletions back and forward") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, (1L to 100L).toDF("id"))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)
    graft.sources.SqlDml.execute(spark, "DELETE FROM t WHERE id > 90",
      Map("t" -> root)) // v1
    assert(SnapshotStore.read(spark, root).count() == 90)

    SnapshotStore.restore(spark, root, toVersion = 0) // v2: rows back
    assert(SnapshotStore.read(spark, root).count() == 100)
    assert(!hasDv(SnapshotStore.latest(root).dataDir) ||
      spark.read.parquet(s"${SnapshotStore.latest(root).dataDir}/_dv").isEmpty)

    SnapshotStore.restore(spark, root, toVersion = 1) // v3: deleted again
    assert(SnapshotStore.read(spark, root).count() == 90,
      "restore to a DV version must carry its _dv (links alone resurrect rows)")
  }

  test("catalog SQL end-to-end: dml.mode property, DELETE/UPDATE, reads via rule") {
    val wh = Files.createTempDirectory("graft_dv_wh").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    GraftExtensions.install(spark)

    spark.sql("""CREATE TABLE graft.dvt (id BIGINT, p STRING, v BIGINT)
      PARTITIONED BY (p) TBLPROPERTIES ('dml.mode' = 'merge-on-read')""")
    (1L to 200L).toDF("id")
      .withColumn("p", ($"id" % 2).cast("string")).withColumn("v", $"id")
      .createOrReplaceTempView("dv_src")
    spark.sql("INSERT INTO graft.dvt SELECT id, p, v FROM dv_src")

    spark.sql("DELETE FROM graft.dvt WHERE id % 10 = 0")
    spark.sql("UPDATE graft.dvt SET v = -id WHERE id <= 4")

    // data files were never rewritten: the statement surface stayed MoR
    val v = SnapshotStore.latest(s"$wh/dvt")
    assert(hasDv(v.dataDir))

    // reads through the catalog relation go through DvReadRewrite:
    // count, partition-filtered (the scan-consumed-filter recovery path),
    // point lookup, and time travel
    assert(spark.sql("SELECT count(*) AS n FROM graft.dvt").as[Long].head() == 180)
    assert(spark.sql("SELECT count(*) AS n FROM graft.dvt WHERE p = '0'")
      .as[Long].head() == 80) // evens minus the 20 deleted multiples of 10
    assert(spark.sql("SELECT v FROM graft.dvt WHERE id = 3").as[Long].head() == -3L)
    assert(spark.sql("SELECT count(*) FROM graft.dvt WHERE id % 10 = 0")
      .as[Long].head() == 0)
    assert(spark.sql("SELECT count(*) FROM graft.dvt VERSION AS OF 1")
      .as[Long].head() == 200)
    // a join over the DV table also binds through the substituted relation
    val joined = spark.sql(
      """SELECT count(*) FROM graft.dvt a JOIN graft.dvt b ON a.id = b.id""")
      .as[Long].head()
    assert(joined == 180)
    spark.sql("DROP TABLE graft.dvt")
  }

  test("DV reads keep predicate pushdown + partition pruning beneath the vector filter") {
    // the DV probe is NONDETERMINISTIC, so anything placed above it is
    // stuck above it — DvReadRewrite must re-apply recovered predicates
    // BENEATH the probe or every post-DML read becomes a full scan
    val wh = Files.createTempDirectory("graft_dv_push").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("""CREATE TABLE graft.pp (id BIGINT, p STRING, v BIGINT)
      PARTITIONED BY (p) TBLPROPERTIES ('dml.mode' = 'merge-on-read')""")
    (1L to 1000L).toDF("id").withColumn("p", ($"id" % 4).cast("string"))
      .withColumn("v", $"id").createOrReplaceTempView("pp_src")
    spark.sql("INSERT INTO graft.pp SELECT id, p, v FROM pp_src")
    spark.sql("DELETE FROM graft.pp WHERE id % 10 = 0")
    assert(hasDv(SnapshotStore.latest(s"$wh/pp").dataDir))

    val q = spark.sql("SELECT v FROM graft.pp WHERE p = '1' AND id <= 100")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_dv_keep"), s"DV filter must guard the scan:\n$plan")
    assert(plan.contains("LessThanOrEqual(id,100)"),
      s"data predicate must reach the parquet scan as a pushed filter:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("= 1"),
      s"partition pruning must survive the DV rewrite:\n$plan")
    // and the rows are right: p=1 holds ids ≡1 (mod 4), none ≡0 (mod 10)
    assert(q.count() == 25)
    // deleted rows stay dead WITH the pushed filters in play (p=2 holds
    // ids ≡2 (mod 4); 10,30,50,70,90 of its 25 ids ≤100 are deleted)
    assert(spark.sql(
      "SELECT v FROM graft.pp WHERE p = '2' AND id <= 100").count() == 20)
    assert(spark.sql(
      "SELECT v FROM graft.pp WHERE p = '2' AND id <= 100 AND id % 10 = 0")
      .isEmpty)
    spark.sql("DROP TABLE graft.pp")
  }

  test("MoR MERGE: DV on matched rows, post-images + inserts appended; ALTER flips the mode") {
    val wh = Files.createTempDirectory("graft_dv_mrg").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    GraftExtensions.install(spark)

    spark.sql("CREATE TABLE graft.mt (id BIGINT, v BIGINT)")
    (1L to 100L).toDF("id").withColumn("v", $"id").createOrReplaceTempView("mt_src")
    spark.sql("INSERT INTO graft.mt SELECT id, v FROM mt_src")
    // flip the strategy through DDL — the enableDeletionVectors shape
    spark.sql("ALTER TABLE graft.mt SET TBLPROPERTIES ('dml.mode' = 'merge-on-read')")
    assert(SnapshotStore.dmlMode(s"$wh/mt") == SnapshotStore.MergeOnRead)

    val files1 = dataFiles(SnapshotStore.latest(s"$wh/mt").dataDir)
    spark.sql(
      """MERGE INTO graft.mt t
        |USING (SELECT id * 2 AS mid, id * 1000 AS mv FROM range(40, 60)) s
        |ON t.id = s.mid
        |WHEN MATCHED AND s.mid >= 90 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.mv
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.mid, s.mv)
        |""".stripMargin)
    val v = SnapshotStore.latest(s"$wh/mt")
    assert(hasDv(v.dataDir), "matched rows must be deletion-vectored")
    assert(files1.subsetOf(dataFiles(v.dataDir)),
      "MoR MERGE must link every pre-merge file unchanged")

    val out = SnapshotStore.read(spark, s"$wh/mt")
    // ids 80..88 even: updated to id/2*1000; 90..100 even: deleted (6);
    // 102..118 even: inserted (9)
    assert(out.count() == 100 - 6 + 9)
    assert(out.filter($"id" === 84L).select($"v").as[Long].head() == 42000L)
    assert(out.filter($"id" === 90L).isEmpty)
    assert(out.filter($"id" === 110L).select($"v").as[Long].head() == 55000L)
    assert(out.filter($"id" < 80 && $"v" =!= $"id").isEmpty)

    // flipping back routes the next statement through copy-on-write
    spark.sql("ALTER TABLE graft.mt UNSET TBLPROPERTIES ('dml.mode')")
    assert(SnapshotStore.dmlMode(s"$wh/mt") == SnapshotStore.CopyOnWrite)
    spark.sql("DELETE FROM graft.mt WHERE id = 1")
    assert(!hasDv(SnapshotStore.latest(s"$wh/mt").dataDir),
      "CoW full rewrite materializes the vector away")
    assert(SnapshotStore.read(spark, s"$wh/mt").count() == 102)
    spark.sql("DROP TABLE graft.mt")
  }

  test("CDC: MoR statements feed the change log like their CoW twins") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "name", "v"),
      cdcKeys = Seq("id"))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)

    graft.sources.SqlDml.execute(spark, "DELETE FROM t WHERE id = 2",
      Map("t" -> root)) // v1
    graft.sources.SqlDml.execute(spark,
      "UPDATE t SET v = 99 WHERE id = 3", Map("t" -> root)) // v2

    val ch1 = SnapshotStore.changesAt(spark, root, 1)
      .select($"id", col(SnapshotStore.ChangeTypeCol).as("ct"))
      .as[(Long, String)].collect().toSet
    assert(ch1 == Set((2L, "delete")))
    val ch2 = SnapshotStore.changesAt(spark, root, 2)
      .select($"id", $"v", col(SnapshotStore.ChangeTypeCol).as("ct"))
      .as[(Long, Long, String)].collect().toSet
    assert(ch2 == Set((3L, 30L, "update_preimage"), (3L, 99L, "update_postimage")))

    // the generic keyed diff of committed states agrees with the
    // statement-integrated feed (the contract on change rows a caller of
    // SnapshotStore.rewriteRows supplies)
    val diff = SnapshotStore.diffChanges(
      SnapshotStore.read(spark, SnapshotStore.at(root, 1)),
      SnapshotStore.read(spark, SnapshotStore.at(root, 2)), Seq("id"))
      .select($"id", $"v", col(SnapshotStore.ChangeTypeCol).as("ct"))
      .as[(Long, Long, String)].collect().toSet
    assert(diff == ch2)
  }

  test("DV on partition values needing path escaping stays bit-exact") {
    // 'a b', 'x/y', 'p%q' force hive dir-name escaping AND URI escaping —
    // the two encodings the DV file keys must round-trip consistently
    // (recording via _metadata.file_path, probing via InputFileBlockHolder)
    val root = tmpRoot()
    val parts = Seq("a b", "x/y", "p%q", "plain")
    SnapshotStore.init(spark, root,
      (1L to 400L).toDF("id")
        .withColumn("p", element_at(
          array(parts.map(lit): _*), ($"id" % 4 + 1).cast("int")))
        .withColumn("v", $"id"),
      partitionBy = Seq("p"))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)
    graft.sources.SqlDml.execute(spark, "DELETE FROM t WHERE id % 10 = 0",
      Map("t" -> root))
    val out = SnapshotStore.read(spark, root)
    assert(out.count() == 360, "40 deletions must land across escaped partitions")
    assert(out.filter($"id" % 10 === 0).isEmpty)
    // multiples of 10 have id%4 in {0,2}: exactly 'a b' and 'p%q' each
    // lose 20 rows, the other two stay whole
    val expect = Map("a b" -> 80L, "x/y" -> 100L, "p%q" -> 80L, "plain" -> 100L)
    parts.foreach { p =>
      val n = out.filter($"p" === p).count()
      assert(n == expect(p), s"partition '$p' expected ${expect(p)} rows, got $n")
    }
    // and an UPDATE post-image lands back in its escaped partition dir
    graft.sources.SqlDml.execute(spark,
      "UPDATE t SET v = -1 WHERE id = 2", Map("t" -> root)) // p = 'p%q'
    val row = SnapshotStore.read(spark, root).filter($"id" === 2L)
      .select($"p", $"v").as[(String, Long)].head()
    assert(row == ("p%q", -1L))
    assert(SnapshotStore.read(spark, root).count() == 360)
  }

  test("MoR UPDATE that changes a partition value moves the row between dirs") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      (1L to 100L).toDF("id")
        .withColumn("p", ($"id" % 2).cast("string")).withColumn("v", $"id"),
      partitionBy = Seq("p"))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)
    val files0 = dataFiles(SnapshotStore.latest(root).dataDir)

    // ids 2 and 4 move from p=0 to p=9: DV kills their old positions, the
    // post-images land as fresh files under the NEW partition dir
    graft.sources.SqlDml.execute(spark,
      "UPDATE t SET p = '9' WHERE id IN (2, 4)", Map("t" -> root))
    val v1 = SnapshotStore.latest(root)
    assert(files0.subsetOf(dataFiles(v1.dataDir)))
    assert(dataFiles(v1.dataDir).exists(_.startsWith("p=9/")),
      "post-images must land under the new partition dir")
    val out = SnapshotStore.read(spark, root)
    assert(out.count() == 100)
    assert(out.filter($"p" === "9").select($"id").as[Long].collect().toSet ==
      Set(2L, 4L))
    assert(out.filter($"id" === 2L).count() == 1, "old-partition copy must be dead")
    // partition pruning on the evolved layout still answers correctly
    assert(out.filter($"p" === "0").count() == 48)
  }

  test("streaming upsert into a merge-on-read table appends batches, never rewrites") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      (1L to 100L).toDF("id").withColumn("v", $"id"), cdcKeys = Seq("id"))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)
    val files0 = dataFiles(SnapshotStore.latest(root).dataDir)

    // batch 0: update keys 1..10, insert 101..105
    val b0 = ((1L to 10L) ++ (101L to 105L)).toDF("id").withColumn("v", -$"id")
    graft.streaming.SnapshotMergeSink.upsertBatch(root, "id", "dv-stream")(b0, 0L)
    val v1 = SnapshotStore.latest(root)
    assert(files0.subsetOf(dataFiles(v1.dataDir)),
      "MoR upsert must link every pre-batch file (write cost O(batch))")
    assert(hasDv(v1.dataDir))
    val out = SnapshotStore.read(spark, root)
    assert(out.count() == 105)
    assert(out.filter($"id" <= 10 && $"v" =!= -$"id").isEmpty)
    assert(out.filter($"id" > 10 && $"id" <= 100 && $"v" =!= $"id").isEmpty)
    assert(out.filter($"id" > 100 && $"v" =!= -$"id").isEmpty)

    // the statement-integrated change set matches the committed-state diff
    val ch = SnapshotStore.changesAt(spark, root, 1)
      .select($"id", $"v", col(SnapshotStore.ChangeTypeCol).as("ct"))
      .as[(Long, Long, String)].collect().toSet
    val diff = SnapshotStore.diffChanges(
      SnapshotStore.read(spark, SnapshotStore.at(root, 0)),
      SnapshotStore.read(spark, v1), Seq("id"))
      .select($"id", $"v", col(SnapshotStore.ChangeTypeCol).as("ct"))
      .as[(Long, Long, String)].collect().toSet
    assert(ch == diff, "MoR upsert change feed must equal the keyed diff")

    // replayed batch is a no-op; a fresh batch advances
    graft.streaming.SnapshotMergeSink.upsertBatch(root, "id", "dv-stream")(b0, 0L)
    assert(SnapshotStore.latest(root).version == v1.version)
    graft.streaming.SnapshotMergeSink.upsertBatch(root, "id", "dv-stream")(
      Seq((1L, 777L)).toDF("id", "v"), 1L)
    assert(SnapshotStore.read(spark, root).filter($"id" === 1L)
      .select($"v").as[Long].head() == 777L)
    assert(SnapshotStore.read(spark, root).count() == 105)
  }

  test("CDC replication applies batches onto a merge-on-read replica O(batch)") {
    val replica = tmpRoot()
    SnapshotStore.init(spark, replica,
      (1L to 50L).toDF("id").withColumn("v", $"id"))
    SnapshotStore.setDmlMode(replica, SnapshotStore.MergeOnRead)
    val files0 = dataFiles(SnapshotStore.latest(replica).dataDir)

    val tc = SnapshotStore.ChangeTypeCol
    val vc = SnapshotStore.CommitVersionCol
    val batch = Seq(
      (5L, 500L, "update_postimage", 3L), (5L, 5L, "update_preimage", 3L),
      (7L, 7L, "delete", 3L), (60L, 600L, "insert", 4L))
      .toDF("id", "v", tc, vc)
    graft.streaming.CdcApplySink.applyBatch(replica, "id", "dv-repl")(batch, 0L)
    val v1 = SnapshotStore.latest(replica)
    assert(files0.subsetOf(dataFiles(v1.dataDir)),
      "MoR replica apply must link every pre-batch file")
    val out = SnapshotStore.read(spark, replica)
    assert(out.count() == 50)
    assert(out.filter($"id" === 5L).select($"v").as[Long].head() == 500L)
    assert(out.filter($"id" === 7L).isEmpty)
    assert(out.filter($"id" === 60L).select($"v").as[Long].head() == 600L)
  }

  test("two concurrent MoR deletes both land; the loser rebases onto the winner's vector") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, (1L to 1000L).toDF("id"))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def writer(cond: String): Thread = {
      val t = new Thread(() => {
        try {
          // both writers derive from v0 before either commits: exactly one
          // loses the CAS and must rebase — its matched() RERUN (no barrier
          // on retries) reads the winner's DV-filtered snapshot, so the
          // union vector is complete
          var firstAttempt = true
          SnapshotStore.transactMoR(spark, root)(base => {
            if (firstAttempt) {
              firstAttempt = false
              barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
            }
            base.filter(expr(cond))
          })(m => (m.limit(0),
            m.withColumn(SnapshotStore.ChangeTypeCol, lit("delete"))))
          ()
        } catch { case e: Throwable => failure.compareAndSet(null, e); () }
      })
      t.start(); t
    }
    val a = writer("id % 10 = 0") // 100 rows
    val b = writer("id % 7 = 3")  // 143 rows, disjoint-ish (overlap: id%70=10 -> 14 rows... none: id%10=0 && id%7=3 -> id%70=50: 14 rows overlap)
    a.join(60000); b.join(60000)
    assert(failure.get() == null, s"writer failed: ${failure.get()}")
    assert(SnapshotStore.latest(root).version == 2, "both commits must land")
    val out = SnapshotStore.read(spark, root)
    // survivors: neither multiple of 10 nor ≡3 mod 7
    val expected = (1L to 1000L).count(i => i % 10 != 0 && i % 7 != 3)
    assert(out.count() == expected)
    assert(out.filter($"id" % 10 === 0 || $"id" % 7 === 3).isEmpty)
  }

  test("shallow clone of a DV table keeps deletions; exactly-once txn stamp") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, (1L to 50L).toDF("id"))
    SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)
    graft.sources.SqlDml.execute(spark, "DELETE FROM t WHERE id > 40",
      Map("t" -> root))

    val clone = tmpRoot() + "/clone"
    SnapshotStore.shallowClone(spark, root, clone)
    assert(SnapshotStore.read(spark, clone).count() == 40)

    // a replayed MoR transaction (same appId+version) is a no-op
    val txn = Some(SnapshotStore.Txn("dv-app", 7L))
    def once() = SnapshotStore.transactMoR(spark, root, txn = txn)(
      b => b.filter($"id" === 1L))(m => (m.limit(0), m))
    val s1 = once(); val s2 = once()
    assert(s1.version == s2.version, "replay must not double-apply")
    assert(SnapshotStore.read(spark, root).count() == 39)
  }

  test("DV read conforms pruned MAP value structs (nested pruning of map types)") {
    // Spark's nested schema pruning can narrow a MapType's VALUE struct;
    // the substitute's output conformance must reshape through the
    // higher-order map transforms instead of refusing at planning
    val wh = Files.createTempDirectory("graft_dv_map").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql(
      """CREATE TABLE graft.mp (id BIGINT,
        |  m MAP<STRING, STRUCT<a: BIGINT, b: STRING, c: DOUBLE>>)
        |TBLPROPERTIES ('dml.mode' = 'merge-on-read')""".stripMargin)
    (1L to 50L).toDF("id")
      .withColumn("m", map(lit("k"),
        struct($"id".as("a"), concat(lit("s"), $"id").as("b"),
          ($"id" * 1.5).as("c"))))
      .createOrReplaceTempView("mp_src")
    spark.sql("INSERT INTO graft.mp SELECT id, m FROM mp_src")
    spark.sql("DELETE FROM graft.mp WHERE id % 5 = 0")
    assert(hasDv(SnapshotStore.latest(s"$wh/mp").dataDir))
    // projection reads ONE field of the map's value struct — the shape
    // that narrows the map value type under nested pruning
    val got = spark.sql(
      "SELECT id, m['k'].a AS a FROM graft.mp WHERE id <= 10 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (1L to 10L).filterNot(_ % 5 == 0).map(i => (i, i)),
      got.toString)
    // two fields of three, plus the full map, both stay consistent
    assert(spark.sql("SELECT sum(m['k'].a) FROM graft.mp").head().getLong(0) ==
      (1L to 50L).filterNot(_ % 5 == 0).sum)
    val full = spark.sql("SELECT m FROM graft.mp WHERE id = 7").head()
      .getMap[String, org.apache.spark.sql.Row](0)
    assert(full("k").getAs[String]("b") == "s7")
    spark.sql("DROP TABLE graft.mp")
  }
}
