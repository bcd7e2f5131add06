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

  test("read-shape matrix: layout x deletion vector x rename reads and DML") {
    val deleted = Set(1L, 7L) // one id in each era of the spanning layout
    val updated = Set(2L, 8L)
    for (layout <- Seq("flat", "hive", "spanning"); dv <- Seq(false, true);
         renamed <- Seq(false, true)) {
      val row = s"$layout${if (dv) " +dv" else ""}${if (renamed) " +rename" else ""}"
      val vName = if (renamed) "amount" else "v"
      def build(): String = {
        val root = tmpRoot()
        if (layout == "spanning") {
          SnapshotStore.init(spark, root, rows(0L until 6L))
          SnapshotStore.alterPartitionSpec(spark, root, Seq("k"))
          SnapshotStore.append(spark, root, rows(6L until 12L))
        } else SnapshotStore.init(spark, root, rows(0L until 12L),
          partitionBy = if (layout == "hive") Seq("k") else Nil)
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
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
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
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("sidecar-capture", null, null, true,
      Property.EMPTY_ARRAY) {
      // DataSource flags an underscore-named root; FileStreamSink warns
      // on a single read path it cannot stat
      override def append(e: LogEvent): Unit =
        if (Seq("DataSource", "FileStreamSink").exists(e.getLoggerName.endsWith))
          warned.add(e.getMessage.getFormattedMessage)
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    capture.start()
    root.addAppender(capture)
    try {
      assert(SnapshotStore.read(spark, dv).select("id").as[Long].collect().sorted.toSeq ==
        (0L until 12L).filterNot(Set(1L, 7L)))
      assert(SnapshotStore.changesAt(spark, feed, head.version).count() == 2)
      assert(SnapshotStore.changes(spark, feed, 0, head.version).count() == 14)
      assert(SnapshotStore.manifest(spark, SnapshotStore.latest(stats)).count() > 0)
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
    assert(warned.isEmpty, warned.asScala.mkString("\n"))
  }
}
