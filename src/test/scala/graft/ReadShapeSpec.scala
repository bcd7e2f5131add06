package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.SnapshotStore

/** The read shapes of a snapshot dir (sources/SnapshotStore.readDir): every
  * combination of layout (flat, hive-partitioned, spanning two partition
  * specs), deletes (none, or a merge-on-read deletion vector) and renames
  * (none, or a RENAME COLUMN) must read back the live rows under their
  * logical names and stay writable by merge-on-read and partial
  * copy-on-write DML; the hot read (one era, no vector, no rename) must
  * stay a bare file-source relation.
  */
class ReadShapeSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_readshape").toString

  private def rows(ids: Seq[Long]) =
    ids.map(i => (i, s"k${i % 3}", i * 10L)).toDF("id", "k", "v")

  /** Ids 0–11 at `root` in `layout`: flat, hive-partitioned by k, or
    * spanning two specs (ids 0–5 flat, 6–11 under the k spec).
    */
  private def layoutTable(layout: String, root: String = tmpRoot(),
      cdcKeys: Seq[String] = Nil): String = {
    if (layout == "spanning") {
      SnapshotStore.init(spark, root, rows(0L until 6L), cdcKeys = cdcKeys)
      SnapshotStore.alterPartitionSpec(spark, root, Seq("k"))
      SnapshotStore.append(spark, root, rows(6L until 12L))
    } else SnapshotStore.init(spark, root, rows(0L until 12L), cdcKeys = cdcKeys,
      partitionBy = if (layout == "hive") Seq("k") else Nil)
    root
  }

  test("read-shape matrix: layout x deletion vector x rename reads and DML") {
    val deleted = Set(1L, 7L) // one id in each era of the spanning layout
    val updated = Set(2L, 8L)
    for (layout <- Seq("flat", "hive", "spanning"); dv <- Seq(false, true);
         renamed <- Seq(false, true)) {
      val row = s"$layout${if (dv) " +dv" else ""}${if (renamed) " +rename" else ""}"
      val vName = if (renamed) "amount" else "v"
      def build(): String = {
        val root = layoutTable(layout)
        if (dv)
          SnapshotStore.transactMoR(spark, root)(
            _.filter($"id".isin(deleted.toSeq: _*)))(m =>
            (m.limit(0), m.withColumn(SnapshotStore.ChangeTypeCol, lit("delete"))))
        if (renamed)
          SnapshotStore.alterSchema(spark, root, identity,
            renames = Map("amount" -> "v"))
        root
      }
      val live = (0L until 12L).filterNot(i => dv && deleted(i))
        .map(i => (i, s"k${i % 3}", i * 10L)).toSet
      val afterUpdate = live.map { case (i, k, v) =>
        (i, k, if (updated(i) || deleted(i)) v + 1000L else v) }
      def contents(root: String): Set[(Long, String, Long)] = {
        val df = SnapshotStore.read(spark, root)
        assert(df.columns.toSet == Set("id", "k", vName),
          s"$row: logical names expected, got ${df.columns.mkString(", ")}")
        df.select($"id", $"k", col(vName)).as[(Long, String, Long)]
          .collect().toSet
      }
      // the statement also names the ids a vector deletes: where one is
      // present they must neither match nor resurrect
      val matches = $"id".isin((updated ++ deleted).toSeq: _*)
      def bump(df: org.apache.spark.sql.DataFrame) =
        df.withColumn(vName, when(matches, col(vName) + 1000L)
          .otherwise(col(vName)))

      val r = build()
      assert(contents(r) == live, s"$row: read")

      val mor = build()
      SnapshotStore.transactMoR(spark, mor)(_.filter(matches))(m =>
        (bump(m), m.withColumn(SnapshotStore.ChangeTypeCol,
          lit("update_postimage"))))
      assert(contents(mor) == afterUpdate, s"$row: merge-on-read UPDATE")

      val cow = build()
      def partialUpdate(scoped: Boolean) =
        SnapshotStore.transactPartialWithChanges(spark, cow,
          evolvedScoped = scoped)(_.filter(matches))(t =>
          (bump(t), t.withColumn(SnapshotStore.ChangeTypeCol,
            lit("update_postimage"))))
      val head = SnapshotStore.latest(cow).version
      layout match {
        case "flat" =>
          intercept[IllegalArgumentException](partialUpdate(scoped = false))
          assert(SnapshotStore.latest(cow).version == head,
            s"$row: a refused partial update must not commit")
        case "hive" =>
          partialUpdate(scoped = false)
          assert(contents(cow) == afterUpdate, s"$row: partial COW UPDATE")
        case "spanning" =>
          val e = intercept[IllegalStateException](partialUpdate(scoped = false))
          assert(e.getMessage.contains("spans partition specs"), e.getMessage)
          assert(SnapshotStore.latest(cow).version == head,
            s"$row: a refused partial update must not commit")
          partialUpdate(scoped = true)
          assert(contents(cow) == afterUpdate, s"$row: scoped partial COW UPDATE")
      }
    }
  }

  test("row-level write router: statement x layout x DML mode commits the rows and takes the route") {
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    import graft.sources.SqlDml
    import graft.streaming.{CdcApplySink, SnapshotMergeSink}
    type Rows = Set[(Long, String, Long)]
    val wh = tmpRoot()
    spark.conf.set("spark.sql.catalog.rrt", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rrt.warehouse", wh)
    val base: Rows = (0L until 12L).map(i => (i, s"k${i % 3}", i * 10L)).toSet
    def upsert(rs: Rows, ids: Seq[(Long, String, Long)]): Rows =
      rs.filterNot(r => ids.exists(_._1 == r._1)) ++ ids
    val newRows = Seq((2L, "k2", 5L), (8L, "k2", 5L), (100L, "k1", 7L))
    newRows.toDF("id", "k", "v").createOrReplaceTempView("router_src")
    val feedBatch = Seq((2L, "k2", 5L, "update_postimage", 1L),
      (8L, "k2", 80L, "delete", 1L), (100L, "k1", 7L, "insert", 1L))
      .toDF("id", "k", "v", SnapshotStore.ChangeTypeCol, SnapshotStore.CommitVersionCol)
    val applied = upsert(base, Seq((2L, "k2", 5L), (100L, "k1", 7L))).filterNot(_._1 == 8L)
    val merge = "MERGE INTO t USING router_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v"
    def sql(stmt: String): String => Unit =
      root => SqlDml.execute(spark, stmt, Map("t" -> root))
    // the scoped routes a write may take: a statement's matched rows scope
    // it on both, a keyed upsert's only on merge-on-read; any other write
    // takes the full rewrite
    val both = Set("merge-on-read", "partial")
    val morOnly = Set("merge-on-read")
    val none = Set.empty[String]
    // (name, CDC table, its scoped routes, the statement, the rows it commits)
    val statements: Seq[(String, Boolean, Set[String], String => Unit, Rows)] = Seq(
      ("UPDATE", false, both, sql("UPDATE t SET v = v + 1000 WHERE id IN (2, 8)"),
        base.map { case (i, k, v) => (i, k, if (i == 2 || i == 8) v + 1000 else v) }),
      ("DELETE", false, both, sql("DELETE FROM t WHERE id IN (2, 8)"),
        base.filterNot(r => r._1 == 2 || r._1 == 8)),
      ("MERGE", false, both, sql(s"$merge WHEN NOT MATCHED THEN INSERT *"),
        upsert(base, newRows)),
      ("MERGE NOT MATCHED BY SOURCE", false, none,
        sql(s"$merge WHEN NOT MATCHED BY SOURCE AND t.id = 5 THEN DELETE"),
        upsert(base, newRows.take(2)).filterNot(_._1 == 5L)),
      ("upsertBatch", false, morOnly, root => SnapshotMergeSink.upsertBatch(root, "id",
        "router")(newRows.toDF("id", "k", "v"), 0L), upsert(base, newRows)),
      ("upsertBatch (CDC table)", true, morOnly, root => SnapshotMergeSink.upsertBatch(
        root, "id", "router")(newRows.toDF("id", "k", "v"), 0L), upsert(base, newRows)),
      ("applyBatch", false, morOnly,
        root => CdcApplySink.applyBatch(root, "id", "router")(feedBatch, 0L), applied),
      ("applyBatch (CDC replica)", true, none,
        root => CdcApplySink.applyBatch(root, "id", "router")(feedBatch, 0L), applied),
      ("TRUNCATE", false, none,
        root => spark.sql(s"TRUNCATE TABLE rrt.${Paths.get(root).getFileName}"),
        Set.empty))
    val matchedIds = Set(2L, 8L) // every scoped statement matches exactly these
    // data files of a snapshot dir (era subtrees included, sidecars not):
    // relative path → inode
    def dataFiles(dir: String): Map[String, AnyRef] = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map { p =>
        Paths.get(dir).relativize(p) }.filterNot(_.iterator().asScala.exists { seg =>
          seg.toString.startsWith("_") && !seg.toString.startsWith("_spec") })
        .map(rel => rel.toString -> Files.getAttribute(Paths.get(dir).resolve(rel), "unix:ino"))
        .toMap
      finally s.close()
    }
    val failures = Seq.newBuilder[String]
    var n = 0
    for (layout <- Seq("flat", "hive", "spanning");
         mode <- Seq(SnapshotStore.CopyOnWrite, SnapshotStore.MergeOnRead);
         (name, feed, scopes, run, want) <- statements) {
      val row = s"$name on $layout $mode"
      n += 1
      val root = layoutTable(layout, s"$wh/t$n", if (feed) Seq("id") else Nil)
      SnapshotStore.setDmlMode(root, mode)
      val before = SnapshotStore.latest(root).dataDir
      val uuid = Paths.get(before).getFileName.toString
      // the base files (partition dirs on a hive layout) holding a matched row
      val holders = SnapshotStore.read(spark, root)
        .filter($"id".isin(matchedIds.toSeq: _*))
        .select(input_file_name()).as[String].collect()
        .map(p => java.net.URI.create(p).getPath.split(s"$uuid/").last).toSet
      def touched(rel: String): Boolean =
        if (layout == "hive") holders.exists(h => Paths.get(h).getParent ==
          Paths.get(rel).getParent)
        else holders(rel)
      val baseFiles = dataFiles(before)
      run(root)
      val after = SnapshotStore.latest(root).dataDir
      val kept = dataFiles(after).values.toSet
      val linked = baseFiles.filter { case (_, ino) => kept(ino) }.keySet
      val route =
        if (Files.isDirectory(Paths.get(after, "_dv")) && linked == baseFiles.keySet)
          "merge-on-read"
        else if (linked.isEmpty) "full"
        else if (linked == baseFiles.keySet.filterNot(touched)) "partial"
        else s"linked ${linked.size}/${baseFiles.size} base files"
      val scoped =
        if (mode == SnapshotStore.MergeOnRead) "merge-on-read"
        else if (layout == "flat") "full"
        else "partial"
      val wantRoute = if (scopes(scoped)) scoped else "full"
      val got = SnapshotStore.read(spark, root).select("id", "k", "v")
        .as[(Long, String, Long)].collect().toSet
      if (got != want) failures += s"$row: rows ${got -- want} committed, ${want -- got} missing"
      if (route != wantRoute) failures += s"$row: took $route, expected $wantRoute"
    }
    val failed = failures.result()
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("the hot read is a bare file-source relation: flat and hive layouts") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, Project, Union}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    for (parts <- Seq(Nil, Seq("k"))) {
      val root = tmpRoot()
      SnapshotStore.init(spark, root, rows(0L until 12L), partitionBy = parts)
      SnapshotStore.append(spark, root, rows(12L until 15L))
      val plan = SnapshotStore.read(spark, root).queryExecution.optimizedPlan
      assert(plan.isInstanceOf[LogicalRelation],
        s"partitionBy ${parts.mkString(",")}: expected a bare relation\n$plan")
      assert(plan.collect { case p @ (_: Union | _: Project | _: Filter | _: Join) =>
        p }.isEmpty, s"partitionBy ${parts.mkString(",")}:\n$plan")
    }
  }

  test("sidecar reads (deletion vector, change feed, manifest) log no path warning") {
    import graft.sources.SqlDml
    val dv = tmpRoot()
    SnapshotStore.init(spark, dv, rows(0L until 12L))
    SnapshotStore.setDmlMode(dv, SnapshotStore.MergeOnRead)
    SqlDml.execute(spark, "DELETE FROM t WHERE id IN (1, 7)", Map("t" -> dv))
    val feed = tmpRoot()
    SnapshotStore.init(spark, feed, rows(0L until 12L), cdcKeys = Seq("id"))
    SqlDml.execute(spark, "UPDATE t SET v = 0 WHERE id = 3", Map("t" -> feed))
    val head = SnapshotStore.latest(feed)
    val stats = tmpRoot()
    SnapshotStore.init(spark, stats, rows(0L until 12L), statsCols = Seq("id"))
    // a table spanning two partition specs: the later era lives under _spec1
    val spanning = tmpRoot()
    SnapshotStore.init(spark, spanning, rows(0L until 6L))
    SnapshotStore.alterPartitionSpec(spark, spanning, Seq("k"))
    SnapshotStore.append(spark, spanning, rows(6L until 12L))
    // DataSource flags an underscore-named root; FileStreamSink warns on a
    // single read path it cannot stat
    val warned = logged("DataSource", "FileStreamSink") {
      assert(SnapshotStore.read(spark, dv).select("id").as[Long].collect().sorted.toSeq ==
        (0L until 12L).filterNot(Set(1L, 7L)))
      assert(SnapshotStore.changesAt(spark, feed, head.version).count() == 2)
      assert(SnapshotStore.changes(spark, feed, 0, head.version).count() == 14)
      assert(SnapshotStore.manifest(spark, SnapshotStore.latest(stats)).count() > 0)
      assert(SnapshotStore.read(spark, spanning).select("id").as[Long].collect()
        .sorted.toSeq == (0L until 12L))
    }
    assert(warned.isEmpty, warned.mkString("\n"))
  }
}
