package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{GraftCatalog, SnapshotStore, SqlDml}

/** The snapshot record (`SnapshotStore.readState`): one `_snapshot.tsv` in
  * every snapshot dir holds the pinned schema, the identity high-water
  * mark, the partition-spec eras and the rename chains. It is versioned
  * with the data, so RESTORE rolls it back, clones and branches carry it,
  * and a full rewrite heals its eras and chains away.
  */
class SnapshotRecordSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft_rec_wh").toString
    spark.conf.set("spark.sql.catalog.graft_rec", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rec.warehouse", dir)
    GraftExtensions.install(spark)
    dir
  }

  private val oldFiles =
    Seq("_schema.json", "_identity.json", "_specs.tsv", "_renames.tsv")

  /** Every committed dir of `root` holds the record and no old file. */
  private def assertRecords(root: String): Unit =
    (0L to SnapshotStore.latest(root).version).foreach { v =>
      val dir = SnapshotStore.at(root, v).dataDir
      assert(Files.exists(Paths.get(dir, "_snapshot.tsv")), s"$root v$v")
      val left = oldFiles.filter(n => Files.exists(Paths.get(dir, n)))
      assert(left.isEmpty, s"$root v$v still holds $left")
    }

  private def head(root: String): String = SnapshotStore.latest(root).dataDir
  private def mark(root: String): Long = SnapshotStore.identityNext(root, 1L)
  private def ids(root: String): Seq[Long] =
    SnapshotStore.read(spark, root).select($"id").as[Long].collect().toSeq.sorted

  private def add(root: String, rows: (String, Long)*): Unit =
    SnapshotStore.append(spark, root, rows.toDF("k", "w"))

  test("the record rides an identity table's lifecycle") {
    wh
    spark.sql("CREATE TABLE graft_rec.life (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY, k STRING, v BIGINT) TBLPROPERTIES ('dml.mode' = 'merge-on-read')")
    val root = s"$wh/life"
    spark.sql("INSERT INTO graft_rec.life (k, v) VALUES ('a', 1), ('b', 2), ('a', 3)")
    assert(ids(root) == Seq(1L, 2L, 3L) && mark(root) == 4L)

    spark.sql("ALTER TABLE graft_rec.life RENAME COLUMN v TO w")
    val beforeEvolve = SnapshotStore.latest(root).version
    assert(SnapshotStore.readRenames(head(root)) == Map("w" -> Seq("v")))

    SnapshotStore.alterPartitionSpec(spark, root, Seq("k"))
    add(root, "c" -> 4L)
    assert(ids(root) == Seq(1L, 2L, 3L, 4L) && mark(root) == 5L)
    SqlDml.execute(spark, "DELETE FROM t WHERE id = 2", Map("t" -> root))
    assert(SnapshotStore.hasDv(head(root)), "the DELETE ran merge-on-read")
    assert(SnapshotStore.readSpecs(head(root)).map(_._2) == Seq(Nil, Seq("k")))
    assert(SnapshotStore.readRenames(head(root)).nonEmpty)

    // the mark rolls back with the data: id 4 lives only in undone versions
    SnapshotStore.restore(spark, root, beforeEvolve)
    assert(ids(root) == Seq(1L, 2L, 3L) && mark(root) == 4L)
    assert(!SnapshotStore.isEvolved(head(root)))

    SnapshotStore.alterPartitionSpec(spark, root, Seq("k"))
    assert(SnapshotStore.isEvolved(head(root)) &&
      SnapshotStore.readRenames(head(root)).nonEmpty)
    SnapshotStore.optimize(spark, root, targetRows = 1000000L)
    assert(!SnapshotStore.isEvolved(head(root)) &&
      SnapshotStore.readRenames(head(root)).isEmpty, "the full rewrite heals")
    assert(mark(root) == 4L, "the heal keeps the mark")
    assert(SnapshotStore.read(spark, root).filter($"id" === 3L)
      .select($"w").as[Long].head() == 3L)

    // the clone continues the numbering
    val clone = Files.createTempDirectory("graft_rec_clone").toString
    SnapshotStore.shallowClone(spark, root, clone)
    add(clone, "d" -> 5L)
    assert(ids(clone) == Seq(1L, 2L, 3L, 4L) && mark(clone) == 5L)
    assert(mark(root) == 4L, "the clone's append leaves the source alone")

    // a branch of the merge-on-read table deletes by deletion vector, and
    // its head's record (mark included) publishes with its rows
    SnapshotStore.createBranch(spark, root, "audit")
    val br = SnapshotStore.branchRoot(root, "audit")
    add(br, "e" -> 6L, "e" -> 7L)
    SqlDml.execute(spark, "DELETE FROM t WHERE id = 1", Map("t" -> br))
    assert(SnapshotStore.hasDv(head(br)), "the branch DELETE ran merge-on-read")
    SnapshotStore.publishBranch(spark, root, "audit")
    assert(ids(root) == Seq(2L, 3L, 4L, 5L) && mark(root) == 6L)

    Seq(root, clone, br).foreach(assertRecords)
  }

  test("a snapshot dir without a record (an older build's) is refused") {
    val root = Files.createTempDirectory("graft_rec_old").toString
    SnapshotStore.init(spark, root, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    val copy = Files.createTempDirectory("graft_rec_old_dir")
    val from = Paths.get(head(root))
    val s = Files.walk(from)
    try s.iterator().asScala.toSeq.foreach { (p: Path) =>
      val to = copy.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally s.close()
    Files.deleteIfExists(copy.resolve("_snapshot.tsv"))
    val e = intercept[IllegalStateException](
      SnapshotStore.read(spark, SnapshotStore.Snapshot(-1L, copy.toString)).count())
    assert(e.getMessage.contains(copy.toString), e.getMessage)
  }
}
