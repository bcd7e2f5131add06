package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import graft.sources.{GraftCatalog, SnapshotStore, SqlDml}

/** The table-config record (`SnapshotStore.editConfig`): one root file
  * holds CDC keys, the write partition spec, DML mode, CHECK constraints,
  * transform specs, user properties and the feed rename log. Every
  * writer goes through one locked, atomic edit, so concurrent edits both
  * land and a reader never sees a half-written record. The interleave
  * specs pause one edit at `SnapshotStore.configTestHook`, between its
  * read and its move.
  */
class TableConfigSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft_cfg_wh").toString
    spark.conf.set("spark.sql.catalog.graft_cfg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cfg.warehouse", dir)
    GraftExtensions.install(spark)
    dir
  }

  /** Every accessor of the record, in one comparable value. */
  private case class Cfg(keys: Seq[String], parts: Seq[String], mode: String,
      checks: Set[String], transforms: Seq[String], props: Map[String, String],
      renames: Seq[(String, String)])

  private def cfg(root: String): Cfg = Cfg(
    SnapshotStore.cdcKeys(root), SnapshotStore.partitionCols(root),
    SnapshotStore.dmlMode(root),
    SnapshotStore.tableConstraints(root).map(_._1).toSet,
    SnapshotStore.transformSpecs(root).map(_.pcol),
    SnapshotStore.tableProperties(root),
    SnapshotStore.feedRenames(root).map(r => (r._2, r._3)))

  private val oldSidecars = Seq("_cdc", "_partitions", "_constraints",
    "_dmlmode", "_transform_specs.tsv", "_table_properties.tsv",
    "_column_renames.tsv")

  test("one record carries every config kind through the table lifecycle") {
    wh
    spark.sql(
      """CREATE TABLE graft_cfg.life (id BIGINT, ts TIMESTAMP, v BIGINT,
        |  twice BIGINT GENERATED ALWAYS AS (v * 2))
        |PARTITIONED BY (days(ts))
        |TBLPROPERTIES ('cdc.keys' = 'id', 'dml.mode' = 'merge-on-read',
        |  'team' = 'data-eng')""".stripMargin)
    val root = s"$wh/life"
    spark.sql("INSERT INTO graft_cfg.life (id, ts, v) VALUES " +
      "(1, timestamp'2024-05-05 10:00:00', 5), " +
      "(2, timestamp'2024-05-06 11:00:00', 7)")
    val created = Cfg(Seq("id"), Seq("ts_day"), SnapshotStore.MergeOnRead,
      Set("__gen_twice", "__gen_ts_day"), Seq("ts_day"),
      Map("team" -> "data-eng"), Nil)
    assert(cfg(root) == created)

    spark.sql("ALTER TABLE graft_cfg.life ADD CONSTRAINT pos CHECK (v >= 0)")
    spark.sql("ALTER TABLE graft_cfg.life ADD CONSTRAINT gone CHECK (v < 100)")
    assert(cfg(root) == created.copy(checks = created.checks + "pos" + "gone"))
    spark.sql("ALTER TABLE graft_cfg.life DROP CONSTRAINT gone")
    val checked = created.copy(checks = created.checks + "pos")
    assert(cfg(root) == checked)

    spark.sql("ALTER TABLE graft_cfg.life RENAME COLUMN id TO pk")
    val renamed = checked.copy(keys = Seq("pk"), renames = Seq(("id", "pk")))
    assert(cfg(root) == renamed)
    assert(SnapshotStore.feedRenames(root).map(_._1) ==
      Seq(SnapshotStore.latest(root).version))
    val beforeEvolve = SnapshotStore.latest(root).version

    SnapshotStore.alterPartitionSpec(spark, root, Seq("v"))
    assert(cfg(root) == renamed.copy(parts = Seq("v")))

    // back to the pre-evolution layout: the write spec follows the restore
    SnapshotStore.restore(spark, root, toVersion = beforeEvolve)
    assert(cfg(root) == renamed)

    // a clone carries the whole record but the feed rename log, whose
    // versions are the source's
    val clone = Files.createTempDirectory("graft_cfg_clone").toString
    SnapshotStore.shallowClone(spark, root, clone)
    val carried = renamed.copy(renames = Nil)
    assert(cfg(clone) == carried)

    // a branch is a clone (so its UPDATE runs merge-on-read); its
    // constraint edit publishes with its rows
    SnapshotStore.createBranch(spark, root, "audit")
    val br = SnapshotStore.branchRoot(root, "audit")
    assert(cfg(br) == carried)
    SnapshotStore.addTableConstraint(spark, br, "small", "v < 1000")
    SqlDml.execute(spark, "UPDATE t SET v = 9, twice = 18 WHERE pk = 1",
      Map("t" -> br))
    assert(SnapshotStore.hasDv(SnapshotStore.latest(br).dataDir))
    assert(cfg(br) == carried.copy(checks = carried.checks + "small"))
    SnapshotStore.publishBranch(spark, root, "audit")
    assert(cfg(root) == renamed.copy(checks = renamed.checks + "small"))
    assert(SnapshotStore.read(spark, root).filter($"pk" === 1L)
      .select($"v").as[Long].collect().toSeq == Seq(9L))

    Seq(root, clone, br).foreach { r =>
      assert(Files.exists(Paths.get(r, "_table.tsv")), r)
      val left = oldSidecars.filter(n => Files.exists(Paths.get(r, n)))
      assert(left.isEmpty, s"$r still holds $left")
    }
  }

  /** Runs `edit` on its own thread, holds it inside its config edit (after
    * the read, before the move), runs `whilePaused`, then lets it finish.
    */
  private def pausedIn(edit: => Unit)(whilePaused: => Unit): Unit = {
    val inside = new CountDownLatch(1)
    val go = new CountDownLatch(1)
    val failure = new AtomicReference[Throwable]()
    val t = new Thread(() => try edit catch { case e: Throwable => failure.set(e) })
    SnapshotStore.configTestHook = () =>
      if (Thread.currentThread eq t) { inside.countDown(); go.await() }
    try {
      t.start()
      assert(inside.await(120, TimeUnit.SECONDS), "the edit never reached the seam")
      whilePaused
    } finally {
      go.countDown()
      t.join(120000)
      SnapshotStore.configTestHook = () => ()
    }
    Option(failure.get).foreach(throw _)
  }

  /** Starts `edit` on its own thread and returns it once the thread waits
    * for the root lock (or has finished, which an unlocked writer would).
    */
  private def racing(edit: => Unit): (Thread, AtomicReference[Throwable]) = {
    val failure = new AtomicReference[Throwable]()
    val t = new Thread(() => try edit catch { case e: Throwable => failure.set(e) })
    t.start()
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
    while (t.isAlive && System.nanoTime() < deadline &&
      !(t.getState == Thread.State.BLOCKED &&
        t.getStackTrace.exists(_.getMethodName.contains("withRootLock"))))
      Thread.sleep(5)
    (t, failure)
  }

  private def joined(r: (Thread, AtomicReference[Throwable])): Unit = {
    r._1.join(120000)
    Option(r._2.get).foreach(throw _)
  }

  private def table(name: String): String = {
    wh
    spark.sql(s"CREATE TABLE graft_cfg.$name (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO graft_cfg.$name VALUES (1, 10), (2, 20)")
    s"$wh/$name"
  }

  test("two SET TBLPROPERTIES on distinct keys both land") {
    val root = table("props_race")
    var second: (Thread, AtomicReference[Throwable]) = null
    pausedIn(spark.sql("ALTER TABLE graft_cfg.props_race SET TBLPROPERTIES ('a' = '1')")) {
      second = racing(spark.sql(
        "ALTER TABLE graft_cfg.props_race SET TBLPROPERTIES ('b' = '2')"))
    }
    joined(second)
    assert(SnapshotStore.tableProperties(root) == Map("a" -> "1", "b" -> "2"))
  }

  test("an ADD CONSTRAINT racing a DROP CONSTRAINT of another name both land") {
    val root = table("checks_race")
    spark.sql("ALTER TABLE graft_cfg.checks_race ADD CONSTRAINT old CHECK (v > 0)")
    // the ADD's validation scan runs while the DROP holds the lock; only
    // its edit waits
    var add: (Thread, AtomicReference[Throwable]) = null
    pausedIn(spark.sql("ALTER TABLE graft_cfg.checks_race DROP CONSTRAINT old")) {
      add = racing(spark.sql(
        "ALTER TABLE graft_cfg.checks_race ADD CONSTRAINT fresh CHECK (v < 100)"))
    }
    joined(add)
    assert(SnapshotStore.tableConstraints(root) == Seq("fresh" -> "v < 100"))
  }

  test("a reader during an edit sees the old config whole") {
    val root = table("reader_race")
    spark.sql("ALTER TABLE graft_cfg.reader_race SET TBLPROPERTIES " +
      "('a' = '1', 'b' = '2')")
    spark.sql("ALTER TABLE graft_cfg.reader_race ADD CONSTRAINT pos CHECK (v > 0)")
    val before = cfg(root)
    pausedIn(spark.sql("ALTER TABLE graft_cfg.reader_race SET TBLPROPERTIES " +
        "('c' = '3')")) {
      assert(cfg(root) == before)
    }
    assert(cfg(root) == before.copy(props = before.props + ("c" -> "3")))
  }

  test("four threads setting distinct properties lose none") {
    val root = Files.createTempDirectory("graft_cfg_ns").toString
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 50).foreach(i =>
        SnapshotStore.setTableProperty(root, s"k${t}_$i", "v")))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(SnapshotStore.tableProperties(root).size == 200)
    assert(!Files.exists(Paths.get(root, "_commits")),
      "a property edit must not turn a plain dir into a table")
  }
}
