package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, SnapshotStore}

/** The warehouse's SQL surface (sources/GraftCatalog.scala): named tables
  * in `spark.sql`, DDL, DML through the V1 write fallback, time travel,
  * and the table_changes / table_history TVFs. Every statement here is the
  * literal text a lakehouse user types — the point of the catalog is that
  * none of them need the Scala API.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft_cat_wh").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", dir)
    GraftExtensions.install(spark)
    dir
  }

  test("CREATE TABLE + INSERT INTO + SELECT by name round-trips") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns")
    spark.sql("CREATE TABLE graft.ns.emp (id BIGINT, name STRING, salary BIGINT)")
    spark.sql(
      "INSERT INTO graft.ns.emp VALUES (1, 'ada', 100), (2, 'bob', 200)")
    spark.sql("INSERT INTO graft.ns.emp (id, name) VALUES (3, 'cyd')")
    val got = spark.sql(
      "SELECT id, name, salary FROM graft.ns.emp ORDER BY id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "ada"), (2L, "bob"), (3L, "cyd")))
    assert(got(2).isNullAt(2), "unlisted column must insert as typed NULL")
    // physical identity: root really is a SnapshotStore table
    assert(SnapshotStore.latest(s"$wh/ns/emp").version == 2L)
  }

  test("VERSION AS OF / TIMESTAMP AS OF pin history; pinned tables refuse writes") {
    wh
    spark.sql("CREATE TABLE graft.tt (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.tt VALUES (1, 10)") // v1
    spark.sql("INSERT OVERWRITE graft.tt VALUES (1, 99), (2, 20)") // v2
    assert(spark.sql("SELECT * FROM graft.tt VERSION AS OF 1").count() == 1L)
    assert(spark.sql(
      "SELECT v FROM graft.tt VERSION AS OF 2 WHERE id = 1").head().getLong(0) == 99L)
    // far-future timestamp resolves to the latest version (commit mtimes)
    assert(spark.sql(
      "SELECT * FROM graft.tt TIMESTAMP AS OF '2099-01-01'").count() == 2L)
    val e = intercept[Exception](spark.sql(
      "INSERT INTO graft.tt VERSION AS OF 1 VALUES (9, 9)"))
    assert(e.getMessage != null)
  }

  test("CTAS lands a committed v0; DROP TABLE removes it") {
    wh
    spark.range(5).select($"id", ($"id" * 2).as("dbl"))
      .createOrReplaceTempView("cat_ctas_src")
    spark.sql("CREATE TABLE graft.ctas AS SELECT * FROM cat_ctas_src")
    assert(spark.sql("SELECT sum(dbl) FROM graft.ctas").head().getLong(0) == 20L)
    spark.sql("DROP TABLE graft.ctas")
    assert(!Files.exists(Paths.get(s"$wh/ctas")),
      "DROP TABLE must remove the root")
    intercept[Exception](spark.sql("SELECT * FROM graft.ctas").collect())
  }

  test("ALTER TABLE ADD COLUMN is metadata-only; DROP COLUMN hides data") {
    wh
    spark.sql("CREATE TABLE graft.ev (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.ev VALUES (1, 10), (2, 20)")
    val filesBefore = Files.list(Paths.get(SnapshotStore.latest(s"$wh/ev").dataDir))
      .count()
    spark.sql("ALTER TABLE graft.ev ADD COLUMN tag STRING")
    // old rows null-fill; new rows carry the column
    spark.sql("INSERT INTO graft.ev VALUES (3, 30, 'x')")
    val rows = spark.sql("SELECT id, tag FROM graft.ev ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq == Seq((1L, null), (2L, null), (3L, "x")))
    // the ALTER version's dir holds HARD LINKS, not copies: same file count,
    // no data rewrite (metadata-only evolution)
    val alterDir = SnapshotStore.at(s"$wh/ev", 2L).dataDir
    val linked = Files.list(Paths.get(alterDir)).iterator()
    var parquets = 0
    while (linked.hasNext) {
      val p = linked.next()
      if (p.getFileName.toString.endsWith(".parquet")) parquets += 1
    }
    assert(parquets > 0 && parquets <= filesBefore, "ALTER must link, not rewrite")
    // time travel BEFORE the alter shows the old schema
    assert(!spark.sql("SELECT * FROM graft.ev VERSION AS OF 1")
      .columns.contains("tag"))
    spark.sql("ALTER TABLE graft.ev DROP COLUMN v")
    assert(spark.sql("SELECT * FROM graft.ev").columns.toSeq == Seq("id", "tag"))
  }

  test("catalog reads keep pushdown + pruning (vectorized parquet underneath)") {
    wh
    spark.sql("CREATE TABLE graft.push (id BIGINT, a BIGINT, b STRING)")
    spark.sql("INSERT INTO graft.push SELECT id, id * 2, 'r' || id FROM range(100)")
    val plan = spark.sql("SELECT a FROM graft.push WHERE id = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,7)]"),
      s"predicate must reach the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint,a:bigint>"),
      s"column pruning must reach the scan:\n$plan")
  }

  test("table_changes/table_history TVFs read the feed and log through SQL") {
    wh
    spark.sql("CREATE TABLE graft.cdc (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.sql("INSERT INTO graft.cdc VALUES (1, 10), (2, 20)") // v1: 2 inserts
    graft.sources.SqlDml.execute(spark,
      "UPDATE t SET v = v + 1 WHERE id = 1", Map("t" -> s"$wh/cdc")) // v2
    val ch = spark.sql(
      "SELECT _change_type, count(*) AS n FROM table_changes('cdc', 1, 2) " +
        "GROUP BY 1 ORDER BY 1").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ch == Seq(("insert", 2L), ("update_postimage", 1L),
      ("update_preimage", 1L)), s"got $ch")
    // catalog-qualified and path forms resolve to the same feed
    assert(spark.sql(s"SELECT * FROM table_changes('graft.cdc', 1, 2)").count() ==
      spark.sql(s"SELECT * FROM table_changes('$wh/cdc', 1, 2)").count())
    val hist = spark.sql(
      "SELECT version FROM table_history('cdc') ORDER BY version").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }

  test("streaming change feed addresses tables by catalog name, like the TVF") {
    wh
    spark.sql("CREATE TABLE graft.feedname (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    val feed = spark.readStream.format("graft.streaming.ChangeFeedSource")
      .option("path", "feedname").load() // bare name -> graft warehouse
    assert(feed.columns.contains("_change_type") &&
      feed.columns.contains("_commit_version"))
  }

  test("appending a live key to a CDC table through SQL INSERT refuses") {
    wh
    spark.sql("CREATE TABLE graft.cdk (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.sql("INSERT INTO graft.cdk VALUES (1, 10)")
    intercept[Exception](
      spark.sql("INSERT INTO graft.cdk VALUES (1, 99)"))
    assert(spark.sql("SELECT * FROM graft.cdk").count() == 1L)
  }

  test("CALL graft.system.optimize / expire_snapshots / clean_orphans maintain tables") {
    wh
    spark.sql("CREATE TABLE graft.mt (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.mt SELECT id, id * 3 FROM range(2000)")
    // fragment: many more files than needed
    SnapshotStore.transact(spark, s"$wh/mt")(df => df.repartition(16))
    val dirBefore = SnapshotStore.latest(s"$wh/mt").dataDir
    val before = Files.list(Paths.get(dirBefore)).filter(_.toString.endsWith(".parquet")).count()
    val opt = spark.sql("CALL graft.system.optimize('mt', 2000)").collect().head
    assert(opt.getLong(0) == 3L, "optimize must commit a new version")
    assert(opt.getLong(1) < before, s"optimize must shrink files ($before -> ${opt.getLong(1)})")
    assert(spark.sql("SELECT sum(v) FROM graft.mt").head().getLong(0) ==
      3L * 2000 * 1999 / 2, "optimize moves bytes, never rows")
    val exp = spark.sql("CALL graft.system.expire_snapshots('mt', 1)").collect().head
    assert(exp.getLong(0) == 3L && exp.getLong(1) == 3L, s"expired ${exp.toSeq}")
    assert(!Files.exists(Paths.get(dirBefore)), "expired data dirs are deleted")
    assert(spark.sql("CALL graft.system.clean_orphans('mt', 0)").collect()
      .head.getLong(0) == 0L)
    // pin the NAME SET, not a count: a new procedure extends this list
    // deliberately instead of tripping an arity check
    val shown = spark.sql("SHOW PROCEDURES IN graft.system")
    val nameCol = shown.columns.find(_.toLowerCase.contains("procedure"))
      .getOrElse(fail(s"no procedure-name column in ${shown.columns.toSeq}"))
    val procs = shown.select(nameCol).collect().map(_.getString(0)).toSet
    assert(procs == Set("optimize", "expire_snapshots", "clean_orphans",
      "restore", "clone", "create_mv", "refresh_mv", "refresh_all_mv",
      "create_join_mv", "refresh_join_mv", "create_tag", "drop_tag",
      "copy_into", "set_partition_spec",
      "create_branch", "publish_branch", "drop_branch"),
      s"procedure surface: $procs")
  }

  test("incremental OPTIMIZE(small_file_rows): big files hard-linked, manifest merged") {
    wh
    spark.sql("CREATE TABLE graft.inc (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.inc SELECT id, id * 3 FROM range(50000)")
    spark.sql("CALL graft.system.optimize(`table` => 'inc', " +
      "target_rows => 25000, cluster_by => 'k', stats_cols => 'k')")
    val root = s"$wh/inc"
    def files(dir: String): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
      finally s.close()
    }
    val compacted = files(SnapshotStore.latest(root).dataDir)
    assert(compacted.size == 2, s"expected 2 packed files, got $compacted")
    val keptInodes = compacted.map(p =>
      Files.getAttribute(p, "unix:ino").asInstanceOf[Long]).toSet
    for (i <- 0 until 5) // the append trickle: 5 small files
      spark.sql("INSERT INTO graft.inc SELECT /*+ COALESCE(1) */ " +
        s"id, id FROM range(${50000 + i * 200}, ${50000 + (i + 1) * 200})")
    assert(files(SnapshotStore.latest(root).dataDir).size == 7)
    // appends carry the manifest forward (one row per file, paths live):
    // file skipping must not die with the first INSERT after OPTIMIZE
    val mAfterAppend = SnapshotStore
      .manifest(spark, SnapshotStore.latest(root)).collect()
    assert(mAfterAppend.length == 7, s"append-carried manifest: " +
      s"${mAfterAppend.length} rows")
    assert(mAfterAppend.forall(_.getAs[String]("file")
      .contains(SnapshotStore.latest(root).dataDir)))

    val out = spark.sql("CALL graft.system.optimize(`table` => 'inc', " +
      "target_rows => 25000, small_file_rows => 1000)").collect().head
    assert(out.getLong(1) == 3L, s"2 kept + 1 packed, got ${out.getLong(1)}")
    val now = SnapshotStore.latest(root)
    val after = files(now.dataDir)
    // the two big files were NEVER rewritten: same inodes, hard-linked
    val afterInodes = after.map(p =>
      Files.getAttribute(p, "unix:ino").asInstanceOf[Long]).toSet
    assert(keptInodes.subsetOf(afterInodes),
      "already-compacted files must be hard-linked, not rewritten")
    // content identical
    assert(spark.sql("SELECT count(*), sum(k), sum(v) FROM graft.inc")
      .head().toSeq == Seq(51000L, 50999L * 51000L / 2,
        49999L * 50000L / 2 * 3 + (50000L until 51000L).sum))
    // manifest merged: one row per file, every path inside the NEW dir,
    // and k-pruning still works across kept + new rows
    val m = SnapshotStore.manifest(spark, now).collect()
    assert(m.length == 3)
    assert(m.forall(_.getAs[String]("file").contains(now.dataDir)),
      "kept files' manifest rows must be path-rewritten to the new dir")
    val (_, keptN, total) = SnapshotStore.readPruned(spark, now,
      col("max_k") >= 50000L)
    assert(total == 3 && keptN < 3, s"pruning: $keptN/$total")
    // converged: nothing small left, re-running is a version no-op
    spark.sql("CALL graft.system.optimize(`table` => 'inc', " +
      "target_rows => 25000, small_file_rows => 1000)")
    assert(SnapshotStore.latest(root).version == now.version,
      "no small files -> no new version")
    // refusal: layout keys compose with the full rewrite only
    intercept[Exception](spark.sql("CALL graft.system.optimize(" +
      "`table` => 'inc', target_rows => 10, small_file_rows => 5, " +
      "cluster_by => 'k')"))
  }

  test("incremental OPTIMIZE on a PARTITIONED table: per-dir pack, lone smalls link") {
    wh
    spark.sql(
      "CREATE TABLE graft.incp (k BIGINT, seg STRING) PARTITIONED BY (seg)")
    // seg=a fragments (4 small files), seg=b holds ONE small file (lone —
    // nothing to merge with, must hard-link), seg=c one big file
    for (i <- 0 until 4)
      spark.sql("INSERT INTO graft.incp SELECT /*+ COALESCE(1) */ id, 'a' " +
        s"FROM range(${i * 100}, ${(i + 1) * 100})")
    spark.sql("INSERT INTO graft.incp SELECT /*+ COALESCE(1) */ id, 'b' " +
      "FROM range(100)")
    spark.sql("INSERT INTO graft.incp SELECT /*+ COALESCE(1) */ id, 'c' " +
      "FROM range(5000)")
    val root = s"$wh/incp"
    def filesUnder(dir: String, sub: String): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(dir, sub))
      try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
      finally s.close()
    }
    def ino(p: java.nio.file.Path): Long =
      Files.getAttribute(p, "unix:ino").asInstanceOf[Long]
    val before = SnapshotStore.latest(root).dataDir
    assert(filesUnder(before, "seg=a").size == 4)
    val loneIno = ino(filesUnder(before, "seg=b").head)
    val bigIno = ino(filesUnder(before, "seg=c").head)
    val out = spark.sql("CALL graft.system.optimize(`table` => 'incp', " +
      "target_rows => 100000, small_file_rows => 1000)").collect().head
    val now = SnapshotStore.latest(root).dataDir
    assert(filesUnder(now, "seg=a").size == 1,
      "the fragmented partition must pack to one file")
    assert(ino(filesUnder(now, "seg=b").head) == loneIno,
      "a lone small file has nothing to merge with — link, don't rewrite")
    assert(ino(filesUnder(now, "seg=c").head) == bigIno,
      "large files hard-link")
    assert(out.getLong(1) == 3L, s"files after: ${out.getLong(1)}")
    // content identical, partition pruning intact
    assert(spark.sql("SELECT count(*) FROM graft.incp").head().getLong(0)
      == 5500L)
    assert(spark.sql(
      "SELECT count(*), sum(k) FROM graft.incp WHERE seg = 'a'")
      .head().toSeq == Seq(400L, (0L until 400L).sum))
    // converged: re-running is a version no-op
    val v = SnapshotStore.latest(root).version
    spark.sql("CALL graft.system.optimize(`table` => 'incp', " +
      "target_rows => 100000, small_file_rows => 1000)")
    assert(SnapshotStore.latest(root).version == v)
  }

  test("tags: named refs pin versions by name and survive expire_snapshots") {
    wh
    spark.sql("CREATE TABLE graft.tagt (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.tagt SELECT id, id FROM range(10)") // v1
    spark.sql("INSERT INTO graft.tagt SELECT id, id FROM range(10, 30)") // v2
    spark.sql("INSERT INTO graft.tagt SELECT id, id FROM range(30, 40)") // v3
    // tag v2 explicitly; tag the latest (v3) by default
    val made = spark.sql(
      "CALL graft.system.create_tag('tagt', 'baseline', 2)").collect().head
    assert((made.getString(0), made.getLong(1)) == ("baseline", 2L))
    assert(spark.sql("CALL graft.system.create_tag('tagt', 'latest-blessed')")
      .collect().head.getLong(1) == 3L)
    // VERSION AS OF '<name>' resolves through the ref store
    assert(spark.sql(
      "SELECT count(*) FROM graft.tagt VERSION AS OF 'baseline'")
      .head().getLong(0) == 30L)
    // $refs lists the live tags; composes with the $files metadata table
    assert(spark.sql(
      "SELECT name, version FROM graft.`tagt$refs` ORDER BY name").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("baseline", 2L), ("latest-blessed", 3L)))
    assert(spark.sql(
      "SELECT sum(row_count) FROM graft.`tagt$files` VERSION AS OF 'baseline'")
      .head().getLong(0) == 30L)
    // refusals: duplicate, numeric-parsing name, unknown ref, bad version
    intercept[Exception](spark.sql(
      "CALL graft.system.create_tag('tagt', 'baseline', 1)"))
    intercept[Exception](spark.sql(
      "CALL graft.system.create_tag('tagt', '42')"))
    intercept[Exception](spark.sql(
      "SELECT * FROM graft.tagt VERSION AS OF 'nope'").collect())
    intercept[Exception](spark.sql(
      "CALL graft.system.create_tag('tagt', 'future', 99)"))
    // retention: keep_last=1 would drop v0..v2, but tagged v2 is pinned
    spark.sql("CALL graft.system.expire_snapshots('tagt', 1)")
    assert(spark.sql(
      "SELECT count(*) FROM graft.tagt VERSION AS OF 'baseline'")
      .head().getLong(0) == 30L, "tagged version must survive vacuum")
    intercept[Exception](spark.sql(
      "SELECT * FROM graft.tagt VERSION AS OF 1").collect())
    // drop_tag releases the pin: the next vacuum takes v2 with it
    assert(spark.sql("CALL graft.system.drop_tag('tagt', 'baseline')")
      .collect().head.getLong(1) == 2L)
    spark.sql("CALL graft.system.expire_snapshots('tagt', 1)")
    intercept[Exception](spark.sql(
      "SELECT * FROM graft.tagt VERSION AS OF 2").collect())
    intercept[Exception](spark.sql("CALL graft.system.drop_tag('tagt', 'gone')"))
    assert(spark.sql("SELECT name FROM graft.`tagt$refs`").collect()
      .map(_.getString(0)).toSeq == Seq("latest-blessed"))
  }

  test("ALTER TABLE RENAME COLUMN: metadata-only, mixed-era files read right, refusals hold") {
    wh
    spark.sql("CREATE TABLE graft.rn (id BIGINT, bal BIGINT)")
    spark.sql("INSERT INTO graft.rn SELECT id, id * 10 FROM range(100)")
    val filesBefore = SnapshotStore.latest(s"$wh/rn").dataDir
    spark.sql("ALTER TABLE graft.rn RENAME COLUMN bal TO balance")
    // zero data movement: the rename version hard-links the same inodes
    val dirAfter = SnapshotStore.latest(s"$wh/rn").dataDir
    def inodes(d: String) = Files.list(Paths.get(d)).filter(
      _.toString.endsWith(".parquet")).map(p =>
      Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        .fileKey().toString).sorted.toArray.toSeq
    assert(inodes(filesBefore) == inodes(dirAfter), "rename must move no data")
    // old physical name resolves through the mapping; values intact
    assert(spark.sql("SELECT sum(balance) FROM graft.rn").head().getLong(0)
      == 10L * 99 * 100 / 2)
    // mixed-era dir: post-rename INSERT writes files under the NEW name,
    // links keep the old — the coalesce chain reads both eras
    spark.sql("INSERT INTO graft.rn SELECT id + 100, id FROM range(5)")
    assert(spark.sql("SELECT count(*) FROM graft.rn WHERE balance IS NOT NULL")
      .head().getLong(0) == 105L)
    assert(spark.sql(
      "SELECT balance FROM graft.rn WHERE id = 101").head().getLong(0) == 1L)
    // time travel before the rename serves the OLD name
    assert(spark.sql("SELECT * FROM graft.rn VERSION AS OF 1")
      .columns.toSeq == Seq("id", "bal"))
    // chained rename composes the physical chain
    spark.sql("ALTER TABLE graft.rn RENAME COLUMN balance TO bal2")
    assert(spark.sql("SELECT sum(bal2) FROM graft.rn").head().getLong(0)
      == 10L * 99 * 100 / 2 + 10L)
    // re-adding a name that files still carry physically refuses loudly
    val eAdd = intercept[Exception](
      spark.sql("ALTER TABLE graft.rn ADD COLUMN bal BIGINT"))
    assert(eAdd.getMessage.contains("physically"), eAdd.getMessage)
    // CDC tables rename cleanly: pre-rename feed frames resolve through
    // the rename log into the new name on the SQL table_changes surface
    spark.sql("CREATE TABLE graft.rncdc (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.sql("INSERT INTO graft.rncdc VALUES (1, 10)") // v1, written as 'v'
    spark.sql("ALTER TABLE graft.rncdc RENAME COLUMN v TO w")
    spark.sql("INSERT INTO graft.rncdc VALUES (2, 20)") // v3, written as 'w'
    val feed = spark.sql(
      "SELECT id, w, _change_type FROM table_changes('graft.rncdc', 1, 3) " +
        "ORDER BY id")
    assert(feed.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2))).toSeq == Seq((1L, 10L, "insert"), (2L, 20L, "insert")),
      "pre-rename frames must serve under the new name")
  }

  test("nested struct evolution: ADD/DROP inside a struct is metadata-only") {
    wh
    spark.sql("CREATE TABLE graft.ns (id BIGINT, props STRUCT<a: BIGINT, b: STRING>)")
    spark.sql("INSERT INTO graft.ns SELECT id, " +
      "named_struct('a', id * 2, 'b', CAST(id AS STRING)) FROM range(5)")
    def inodes(d: String) = Files.list(Paths.get(d)).filter(
      _.toString.endsWith(".parquet")).map(p =>
      Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        .fileKey().toString).sorted.toArray.toSeq
    val dirBefore = SnapshotStore.latest(s"$wh/ns").dataDir
    spark.sql("ALTER TABLE graft.ns ADD COLUMN props.c BIGINT")
    assert(inodes(dirBefore) == inodes(SnapshotStore.latest(s"$wh/ns").dataDir),
      "nested ADD must move no data")
    // rows written before the field existed null-fill it at read
    assert(spark.sql("SELECT props.c FROM graft.ns").collect()
      .forall(_.isNullAt(0)))
    // new-shape rows store values; the dir mixes struct eras
    spark.sql("INSERT INTO graft.ns SELECT id + 10, " +
      "named_struct('a', id, 'b', 'x', 'c', id * 3) FROM range(2)")
    assert(spark.sql("SELECT sum(props.c) FROM graft.ns").head().getLong(0) == 3L)
    // DROP a nested field: mixed-era files project it away, no rewrite
    val dirMid = SnapshotStore.latest(s"$wh/ns").dataDir
    spark.sql("ALTER TABLE graft.ns DROP COLUMN props.b")
    assert(inodes(dirMid) == inodes(SnapshotStore.latest(s"$wh/ns").dataDir),
      "nested DROP must move no data")
    assert(spark.sql("SELECT props.* FROM graft.ns").columns.toSeq ==
      Seq("a", "c"))
    assert(spark.sql("SELECT count(*) FROM graft.ns").head().getLong(0) == 7L)
    // time travel serves the pre-evolution shape
    assert(spark.sql("SELECT props.b FROM graft.ns VERSION AS OF 1")
      .collect().length == 5)
    // refusals: non-struct parent, duplicate add, missing drop
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE graft.ns ADD COLUMN id.x BIGINT"))
    assert(e1.getMessage.contains("not a struct"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE graft.ns ADD COLUMN props.a BIGINT"))
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    // DROP of a missing field is refused by Spark's own analyzer before
    // it reaches the catalog (UNRESOLVED_COLUMN); the catalog's guard is
    // the backstop for callers below the SQL surface
    val e3 = intercept[Exception](
      spark.sql("ALTER TABLE graft.ns DROP COLUMN props.zz"))
    assert(e3.getMessage.contains("no such field") ||
      e3.getMessage.contains("cannot be resolved"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](
      GraftCatalog.dropNestedField(
        spark.table("graft.ns").schema, Seq("props", "zz")))
    assert(e4.getMessage.contains("no such field"), e4.getMessage)
  }

  test("ALTER COLUMN TYPE widens metadata-only; narrowing refuses; CDC feeds span it") {
    wh
    spark.sql("CREATE TABLE graft.wd (id BIGINT, x INT, f FLOAT)")
    spark.sql("INSERT INTO graft.wd SELECT id, CAST(id AS INT), " +
      "CAST(id AS FLOAT) / 4 FROM range(50)")
    val dirBefore = SnapshotStore.latest(s"$wh/wd").dataDir
    spark.sql("ALTER TABLE graft.wd ALTER COLUMN x TYPE BIGINT")
    spark.sql("ALTER TABLE graft.wd ALTER COLUMN f TYPE DOUBLE")
    def inodes(d: String) = Files.list(Paths.get(d)).filter(
      _.toString.endsWith(".parquet")).map(p =>
      Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        .fileKey().toString).sorted.toArray.toSeq
    assert(inodes(dirBefore) == inodes(SnapshotStore.latest(s"$wh/wd").dataDir),
      "widening must move no data")
    // narrow stored values serve through the wide schema; mixed-era insert
    spark.sql("INSERT INTO graft.wd VALUES (100, 5000000000, 0.5)")
    val r = spark.sql("SELECT sum(x), sum(f) FROM graft.wd").head()
    assert(r.getLong(0) == (0L until 50).sum + 5000000000L)
    assert(math.abs(r.getDouble(1) - ((0 until 50).map(_ / 4.0f).sum + 0.5)) < 1e-6)
    assert(spark.sql("SELECT * FROM graft.wd VERSION AS OF 1")
      .schema("x").dataType.simpleString == "int", "old versions stay narrow")
    intercept[Exception](
      spark.sql("ALTER TABLE graft.wd ALTER COLUMN x TYPE INT")) // narrowing
    intercept[Exception]( // reshaping
      spark.sql("ALTER TABLE graft.wd ALTER COLUMN f TYPE STRING"))
    // a CDC table widens too — the feed spans the boundary at the wide type
    spark.sql("CREATE TABLE graft.wdc (id BIGINT, v INT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.sql("INSERT INTO graft.wdc VALUES (1, 10)") // v1: narrow frame
    spark.sql("ALTER TABLE graft.wdc ALTER COLUMN v TYPE BIGINT") // v2
    spark.sql("INSERT INTO graft.wdc VALUES (2, 5000000000)") // v3: wide frame
    val feed = SnapshotStore.changes(spark, s"$wh/wdc", 1L, 3L)
    assert(feed.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(feed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 5000000000L)),
      "narrow frames must upcast into the widened feed")
    // NESTED widening: a field inside a struct widens by the same
    // metadata-only commit; old files' narrow stored values serve through
    // the widened requested schema
    spark.sql("CREATE TABLE graft.wdn (id BIGINT, " +
      "props STRUCT<x: INT, tag: STRING>)")
    spark.sql("INSERT INTO graft.wdn SELECT id, " +
      "named_struct('x', CAST(id AS INT), 'tag', 'a') FROM range(20)")
    val nBefore = SnapshotStore.latest(s"$wh/wdn").dataDir
    spark.sql("ALTER TABLE graft.wdn ALTER COLUMN props.x TYPE BIGINT")
    assert(inodes(nBefore) == inodes(SnapshotStore.latest(s"$wh/wdn").dataDir),
      "nested widening must move no data")
    spark.sql("INSERT INTO graft.wdn SELECT 100, " +
      "named_struct('x', 5000000000, 'tag', 'b')")
    assert(spark.sql("SELECT sum(props.x) FROM graft.wdn").head().getLong(0)
      == (0L until 20).sum + 5000000000L)
    intercept[Exception]( // nested narrowing refuses the same way
      spark.sql("ALTER TABLE graft.wdn ALTER COLUMN props.x TYPE INT"))
  }

  test("nested RENAME COLUMN: dotted chain resolves mixed-era struct files") {
    wh
    spark.sql("CREATE TABLE graft.nrn (id BIGINT, " +
      "props STRUCT<x: INT, tag: STRING>)")
    spark.sql("INSERT INTO graft.nrn SELECT id, " +
      "named_struct('x', CAST(id AS INT), 'tag', 'a') FROM range(10)")
    spark.sql("ALTER TABLE graft.nrn RENAME COLUMN props.x TO score")
    spark.sql("INSERT INTO graft.nrn SELECT 100 + id, " +
      "named_struct('score', CAST(id AS INT), 'tag', 'b') FROM range(5)")
    // mixed-era read: era-1 files store `x`, era-2 files store `score` —
    // both serve under the renamed field
    assert(spark.sql("SELECT sum(props.score) FROM graft.nrn")
      .head().getLong(0) == (0 until 10).sum + (0 until 5).sum)
    // whole-struct NULLs survive the rebuild projection
    spark.sql("INSERT INTO graft.nrn VALUES (999, NULL)")
    assert(spark.sql("SELECT count(*) FROM graft.nrn WHERE props IS NULL")
      .head().getLong(0) == 1L)
    // nested WIDEN of the renamed field composes: era-1 narrow values
    // upcast THROUGH the chain
    spark.sql("ALTER TABLE graft.nrn ALTER COLUMN props.score TYPE BIGINT")
    spark.sql("INSERT INTO graft.nrn SELECT 200, " +
      "named_struct('score', CAST(5000000000 AS BIGINT), 'tag', 'w')")
    assert(spark.sql("SELECT sum(props.score) FROM graft.nrn")
      .head().getLong(0) == (0 until 10).sum + (0 until 5).sum + 5000000000L)
    // stale-shadow guards, one struct level down: renaming TO a field
    // files still carry refuses; re-ADDing the retired name refuses
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.nrn RENAME COLUMN props.tag TO x"))
    assert(e.getMessage.contains("physically"), e.getMessage)
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE graft.nrn ADD COLUMN props.x INT"))
    assert(e2.getMessage.contains("physically"), e2.getMessage)
    // a full rewrite heals the chain; the retired field name frees up
    spark.sql("CALL graft.system.optimize('nrn', 1000000)")
    spark.sql("ALTER TABLE graft.nrn ADD COLUMN props.x INT")
    assert(spark.sql("SELECT count(props.x) FROM graft.nrn")
      .head().getLong(0) == 0L, "the re-added field must read as all-NULL")
    // time travel across the rename serves the old shape
    assert(spark.sql("SELECT * FROM graft.nrn VERSION AS OF 1")
      .schema("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("x"))
  }

  test("DEEP nested RENAME (two struct levels): chains resolve, refusals compose") {
    wh
    spark.sql("CREATE TABLE graft.dnr (id BIGINT, " +
      "a STRUCT<b: STRUCT<x: INT, tag: STRING>, top: INT>)")
    spark.sql("INSERT INTO graft.dnr SELECT id, named_struct(" +
      "'b', named_struct('x', CAST(id AS INT), 'tag', 'a'), " +
      "'top', CAST(id AS INT)) FROM range(10)")
    spark.sql("ALTER TABLE graft.dnr RENAME COLUMN a.b.x TO score")
    spark.sql("INSERT INTO graft.dnr SELECT 100 + id, named_struct(" +
      "'b', named_struct('score', CAST(id AS INT), 'tag', 'b'), " +
      "'top', 0) FROM range(5)")
    // mixed-era read two levels down: era-1 files store a.b.x, era-2
    // files a.b.score — both serve under the renamed leaf
    assert(spark.sql("SELECT sum(a.b.score) FROM graft.dnr")
      .head().getLong(0) == (0 until 10).sum + (0 until 5).sum)
    // sibling fields at every level pass through untouched
    assert(spark.sql("SELECT sum(a.top) FROM graft.dnr")
      .head().getLong(0) == (0 until 10).sum)
    // whole-struct NULLs survive at both levels
    spark.sql("INSERT INTO graft.dnr VALUES (999, NULL)")
    spark.sql("INSERT INTO graft.dnr SELECT 998, " +
      "named_struct('b', CAST(NULL AS STRUCT<score: INT, tag: STRING>), " +
      "'top', 7)")
    assert(spark.sql("SELECT count(*) FROM graft.dnr WHERE a IS NULL")
      .head().getLong(0) == 1L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.dnr WHERE a IS NOT NULL AND a.b IS NULL")
      .head().getLong(0) == 1L)
    // composing a rename of the ANCESTOR struct with a live inner chain
    // refuses (either order), until a rewrite heals the chains
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE graft.dnr RENAME COLUMN a TO a2"))
    assert(e1.getMessage.contains("cannot compose"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE graft.dnr RENAME COLUMN a.b TO b2"))
    assert(e2.getMessage.contains("cannot compose"), e2.getMessage)
    spark.sql("CALL graft.system.optimize('dnr', 1000000)")
    // healed: the intermediate struct rename goes through, and the
    // renamed-as-a-whole struct still serves its (previously renamed) leaf
    spark.sql("ALTER TABLE graft.dnr RENAME COLUMN a.b TO b2")
    assert(spark.sql("SELECT sum(a.b2.score) FROM graft.dnr")
      .head().getLong(0) == (0 until 10).sum + (0 until 5).sum)
    // and a fresh leaf rename INSIDE the renamed intermediate refuses
    // while its chain is live
    val e3 = intercept[Exception](
      spark.sql("ALTER TABLE graft.dnr RENAME COLUMN a.b2.tag TO label"))
    assert(e3.getMessage.contains("cannot compose"), e3.getMessage)
    // time travel across both renames serves the era's shape
    assert(spark.sql("SELECT * FROM graft.dnr VERSION AS OF 1")
      .schema("a").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .apply("b").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("x"))
  }

  test("SET/UNSET TBLPROPERTIES: opaque user properties persist; reserved keys refuse") {
    wh
    spark.sql("CREATE TABLE graft.props (id BIGINT)")
    spark.sql("ALTER TABLE graft.props SET TBLPROPERTIES " +
      "('comment' = 'orders staging', 'team' = 'data-eng')")
    def props: Map[String, String] = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty[String], "props"))
        .properties().asScala.toMap
    }
    assert(props.get("comment").contains("orders staging"))
    assert(props.get("team").contains("data-eng"))
    // update in place + unset
    spark.sql("ALTER TABLE graft.props SET TBLPROPERTIES ('team' = 'ml')")
    assert(props.get("team").contains("ml"))
    spark.sql("ALTER TABLE graft.props UNSET TBLPROPERTIES ('comment')")
    assert(!props.contains("comment"))
    // UNSET of a missing key is idempotent (IF EXISTS semantics by default)
    spark.sql("ALTER TABLE graft.props UNSET TBLPROPERTIES IF EXISTS ('nope')")
    // engine-managed keys refuse: the feed identity cannot be re-keyed
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE graft.props SET TBLPROPERTIES ('cdc.keys' = 'id')"))
    assert(e.getMessage.contains("engine-managed"), e.getMessage)
    // dml.mode still routes to its own config, not the opaque store
    spark.sql("ALTER TABLE graft.props SET TBLPROPERTIES " +
      "('dml.mode' = 'merge-on-read')")
    assert(props.get("dml.mode").contains("merge-on-read"))
    assert(SnapshotStore.tableProperties(s"$wh/props") == Map("team" -> "ml"),
      "dml.mode must live in its own config, not the user-property sidecar")
  }

  test("ALTER COLUMN: NOT NULL validates+enforces, COMMENT, SET/DROP DEFAULT, FIRST/AFTER") {
    wh
    spark.sql("CREATE TABLE graft.alt (id BIGINT, v BIGINT, note STRING)")
    spark.sql("INSERT INTO graft.alt VALUES (1, 10, 'a'), (2, 20, NULL)")
    // SET NOT NULL: Spark's analyzer blocks the SQL form for V2 catalogs
    // outright (Delta ships parser extensions for it) — the capability
    // lives at the TableCatalog API. Existing NULLs refuse (validated
    // through the CHECK machinery)
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val ident = Identifier.of(Array.empty[String], "alt")
    val e = intercept[Exception](cat.alterTable(ident,
      TableChange.updateColumnNullability(Array("note"), false)))
    assert(e.getMessage.toLowerCase.contains("null"), e.getMessage)
    // on a clean column it lands, shows in the schema, and ENFORCES
    cat.alterTable(ident,
      TableChange.updateColumnNullability(Array("v"), false))
    assert(!spark.table("graft.alt").schema("v").nullable)
    val e2 = intercept[Exception](
      spark.sql("INSERT INTO graft.alt VALUES (3, NULL, 'c')"))
    assert(e2.getMessage.toLowerCase.contains("null"), e2.getMessage)
    spark.sql("ALTER TABLE graft.alt ALTER COLUMN v DROP NOT NULL")
    assert(spark.table("graft.alt").schema("v").nullable)
    spark.sql("INSERT INTO graft.alt VALUES (3, NULL, 'c')") // now fine
    // COMMENT rides field metadata through DESCRIBE
    spark.sql("ALTER TABLE graft.alt ALTER COLUMN v COMMENT 'cents'")
    assert(spark.sql("DESCRIBE graft.alt").collect()
      .exists(r => r.getString(0) == "v" && r.getString(2) == "cents"))
    // SET DEFAULT governs future inserts; DROP DEFAULT reverts to NULL
    spark.sql("ALTER TABLE graft.alt ALTER COLUMN note SET DEFAULT 'unset'")
    spark.sql("INSERT INTO graft.alt (id, v) VALUES (4, 40)")
    assert(spark.sql("SELECT note FROM graft.alt WHERE id = 4")
      .head().getString(0) == "unset")
    val e3 = intercept[Exception](spark.sql(
      "ALTER TABLE graft.alt ALTER COLUMN note SET DEFAULT current_date()"))
    assert(e3.getMessage.contains("literal defaults only"), e3.getMessage)
    spark.sql("ALTER TABLE graft.alt ALTER COLUMN note DROP DEFAULT")
    spark.sql("INSERT INTO graft.alt (id, v) VALUES (5, 50)")
    assert(spark.sql("SELECT note FROM graft.alt WHERE id = 5").head().isNullAt(0))
    // FIRST / AFTER reorder the served schema; values stay bound by name
    spark.sql("ALTER TABLE graft.alt ALTER COLUMN note FIRST")
    assert(spark.table("graft.alt").schema.fieldNames.head == "note")
    spark.sql("ALTER TABLE graft.alt ALTER COLUMN note AFTER v")
    assert(spark.table("graft.alt").schema.fieldNames.toSeq ==
      Seq("id", "v", "note"))
    assert(spark.sql("SELECT v FROM graft.alt WHERE id = 1").head().getLong(0)
      == 10L, "values must stay name-bound across reorders")
  }

  test("ALTER NAMESPACE SET/UNSET PROPERTIES persist through DESCRIBE") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsp")
    spark.sql("ALTER NAMESPACE graft.nsp SET PROPERTIES " +
      "('team' = 'data-eng', 'tier' = 'gold')")
    def meta: Map[String, String] = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsNamespaces]
        .loadNamespaceMetadata(Array("nsp")).asScala.toMap
    }
    assert(meta.get("team").contains("data-eng"))
    assert(meta.get("tier").contains("gold"))
    spark.sql("ALTER NAMESPACE graft.nsp UNSET PROPERTIES ('tier')")
    assert(!meta.contains("tier") && meta.get("team").contains("data-eng"))
    // the property edits lock the namespace dir without turning it into a
    // table: it still lists as a namespace and never as a table
    val namespaces = spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).toSet
    assert(namespaces("nsp"), namespaces.toString)
    val tables = spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).toSet
    assert(!tables("nsp"), tables.toString)
    // DESCRIBE NAMESPACE EXTENDED surfaces them through SQL
    val desc = spark.sql("DESCRIBE NAMESPACE EXTENDED graft.nsp")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.getOrElse("Properties", "").contains("team"), desc.toString)
    // CREATE NAMESPACE ... WITH PROPERTIES round-trips too
    spark.sql("CREATE NAMESPACE graft.nsp2 WITH PROPERTIES ('kind' = 'raw')")
    import scala.jdk.CollectionConverters._
    assert(spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsNamespaces]
      .loadNamespaceMetadata(Array("nsp2")).asScala.get("kind").contains("raw"))
  }

  test("expire_snapshots honors the age window (older_than_ms)") {
    wh
    spark.sql("CREATE TABLE graft.ret (id BIGINT)")
    spark.sql("INSERT INTO graft.ret VALUES (1)") // v1
    spark.sql("INSERT INTO graft.ret VALUES (2)") // v2
    spark.sql("INSERT INTO graft.ret VALUES (3)") // v3
    // backdate v0/v1 commits beyond a 1-hour window; v2 stays recent
    Seq(0L, 1L).foreach { v =>
      val f = Paths.get(s"$wh/ret/_commits/" + f"$v%020d.commit")
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * 3600 * 1000L))
    }
    val out = spark.sql(
      "CALL graft.system.expire_snapshots('ret', 1, " + (3600 * 1000L) + "L)")
      .head()
    assert(out.getLong(0) == 2L, s"only the BACKDATED versions expire: $out")
    // v2 is older than keep_last=1 but inside the window — still readable
    assert(spark.sql("SELECT count(*) FROM graft.ret VERSION AS OF 2")
      .head().getLong(0) == 2L)
    intercept[Exception](
      spark.sql("SELECT * FROM graft.ret VERSION AS OF 1").collect())
  }

  test("stats-maintained tables skip files at planning time in the SQL path") {
    wh
    spark.sql("CREATE TABLE graft.skip (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.skip SELECT id, id * 2 FROM range(10000)")
    // range-cluster into 8 files with an id manifest: tight [min,max]
    spark.sql("CALL graft.system.optimize('skip', 1250, 'id', 'id')")
    def scanFiles(sql: String): Int = {
      val scans = spark.sql(sql).queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2
            .parquet.ParquetScan].fileIndex.inputFiles.length
      }
      scans.sum
    }
    val total = scanFiles("SELECT * FROM graft.skip")
    assert(total >= 8, s"expected a fragmented layout, got $total files")
    // point lookup: one file's interval can hold id=42
    val point = scanFiles("SELECT v FROM graft.skip WHERE id = 42")
    assert(point == 1, s"point lookup must plan 1 file, got $point")
    // range: a quarter of the key space -> about a quarter of the files
    val range = scanFiles("SELECT v FROM graft.skip WHERE id BETWEEN 1000 AND 3000")
    assert(range < total / 2, s"range scan must prune, got $range of $total")
    // non-stats predicates keep everything (conservative)
    assert(scanFiles("SELECT * FROM graft.skip WHERE v = 10") == total)
    // and the pruned plan still answers correctly (superset + exact filter)
    assert(spark.sql("SELECT sum(v) FROM graft.skip WHERE id BETWEEN 1000 AND 3000")
      .head().getLong(0) == (1000L to 3000L).map(_ * 2).sum)
    assert(spark.sql("SELECT v FROM graft.skip WHERE id = 42").head().getLong(0) == 84L)
  }

  test("bloom manifests prune point lookups that min/max intervals cannot") {
    wh
    spark.sql("CREATE TABLE graft.bl (id BIGINT, fp STRING, v BIGINT)")
    // fp = md5(id): VALUES scatter uniformly, so after clustering by id
    // every file's fp [min,max] interval spans ~the whole hex domain —
    // interval skipping is useless for fp point lookups by construction
    spark.sql("""INSERT INTO graft.bl
      SELECT id, md5(CAST(id AS STRING)), id * 2 FROM range(10000)""")
    spark.sql("CALL graft.system.optimize('bl', 1250, 'id', 'id,fp', '', 'fp')")
    def scanFiles(sql: String): Int = {
      val scans = spark.sql(sql).queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2
            .parquet.ParquetScan].fileIndex.inputFiles.length
      }
      scans.sum
    }
    val total = scanFiles("SELECT * FROM graft.bl")
    assert(total >= 8, s"expected a fragmented layout, got $total files")
    // intervals alone keep every file for an fp probe (scattered values)…
    val probe = spark.sql("SELECT md5('4242')").head().getString(0)
    // …but the per-file bloom identifies the one holding it (1% fpp: a
    // false-positive extra file is possible, a dropped one is not)
    val point = scanFiles(s"SELECT v FROM graft.bl WHERE fp = '$probe'")
    assert(point <= 2, s"bloom point lookup planned $point of $total files")
    assert(spark.sql(s"SELECT v FROM graft.bl WHERE fp = '$probe'")
      .head().getLong(0) == 8484L)
    // an absent value prunes everything (or a rare false positive) and
    // still answers correctly through the row-level filter
    val absent = scanFiles("SELECT v FROM graft.bl WHERE fp = 'not-a-hash'")
    assert(absent <= 1, s"absent-value lookup planned $absent files")
    assert(spark.sql("SELECT count(*) FROM graft.bl WHERE fp = 'not-a-hash'")
      .head().getLong(0) == 0L)
    // IN lists probe per value; range predicates on fp stay conservative
    val in2 = scanFiles(s"SELECT v FROM graft.bl WHERE fp IN ('$probe', 'nope')")
    assert(in2 <= 3, s"IN probe planned $in2 files")
    assert(scanFiles("SELECT * FROM graft.bl WHERE fp > 'aa'") == total)
    spark.sql("DROP TABLE graft.bl")
  }

  test("DML statements resolve catalog-qualified names without a root map") {
    wh
    spark.sql("CREATE TABLE graft.dml (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.dml VALUES (1, 10), (2, 20), (3, 30)")
    graft.sources.SqlDml.execute(spark, "UPDATE graft.dml SET v = v + 1 WHERE id <= 2")
    graft.sources.SqlDml.execute(spark, "DELETE FROM graft.dml WHERE id = 3")
    val got = spark.sql("SELECT id, v FROM graft.dml ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 11L), (2L, 21L)))
    // unresolvable names refuse with a pointer at the fix
    val e = intercept[Exception](
      graft.sources.SqlDml.execute(spark, "UPDATE graft.nosuch SET v = 1"))
    assert(e.getMessage.contains("not a SnapshotStore table"), e.getMessage)
  }

  test("CHECK constraints: ADD validates existing rows, every later commit enforces") {
    wh
    spark.sql("CREATE TABLE graft.ck (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.ck VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE graft.ck ADD CONSTRAINT v_pos CHECK (v > 0)")
    // violating INSERT refuses BEFORE any pointer moves. Two enforcement
    // layers fire depending on path: Spark 4's own per-row check (it reads
    // Table.constraints() and injects validation into V2 writes -> a
    // SparkRuntimeException mid-write, nothing committed) and the store's
    // commit-time aggregate (ConstraintViolationException) for paths that
    // bypass the catalog (SqlDml, raw transact).
    intercept[Exception](spark.sql("INSERT INTO graft.ck VALUES (3, -5)"))
    assert(spark.sql("SELECT count(*) FROM graft.ck").head().getLong(0) == 2L)
    intercept[SnapshotStore.ConstraintViolationException](
      graft.sources.SqlDml.execute(spark, "UPDATE graft.ck SET v = v - 100"))
    assert(spark.sql("SELECT min(v) FROM graft.ck").head().getLong(0) == 10L)
    // a constraint existing rows violate refuses to attach
    intercept[Exception](
      spark.sql("ALTER TABLE graft.ck ADD CONSTRAINT v_big CHECK (v > 15)"))
    assert(SnapshotStore.tableConstraints(s"$wh/ck").map(_._1) == Seq("v_pos"))
    // NULL predicate passes (SQL CHECK semantics), and DROP re-opens the gate
    spark.sql("ALTER TABLE graft.ck ADD COLUMN w BIGINT")
    spark.sql("ALTER TABLE graft.ck ADD CONSTRAINT w_pos CHECK (w > 0)")
    spark.sql("INSERT INTO graft.ck VALUES (4, 40, NULL)") // null w: passes
    spark.sql("ALTER TABLE graft.ck DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO graft.ck VALUES (5, -1, 1)") // v_pos gone
    assert(spark.sql("SELECT count(*) FROM graft.ck").head().getLong(0) == 4L)
  }

  test("listTables / listNamespaces / renameTable surface the warehouse layout") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    spark.sql("CREATE TABLE graft.meta.t1 (id BIGINT)")
    assert(spark.sql("SHOW TABLES IN graft.meta").collect()
      .map(_.getString(1)).contains("t1"))
    spark.sql("ALTER TABLE graft.meta.t1 RENAME TO graft.meta.t2")
    assert(Files.exists(Paths.get(s"$wh/meta/t2/_commits")))
    assert(!Files.exists(Paths.get(s"$wh/meta/t1")))
  }

  test("PARTITIONED BY: hive layout, directory pruning, DML, evolution, restore") {
    wh
    spark.sql(
      """CREATE TABLE graft.pt (id BIGINT, v BIGINT, seg STRING)
        |PARTITIONED BY (seg)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pt
        |SELECT id, id * 10, CASE WHEN id % 3 = 0 THEN 'a'
        |  WHEN id % 3 = 1 THEN 'b' ELSE 'c' END
        |FROM range(90)""".stripMargin) // v1
    // physical layout: hive-style partition dirs
    val v1dir = Paths.get(SnapshotStore.latest(s"$wh/pt").dataDir)
    assert(Files.isDirectory(v1dir.resolve("seg=a")) &&
      Files.isDirectory(v1dir.resolve("seg=b")) &&
      Files.isDirectory(v1dir.resolve("seg=c")), "expected seg=X dirs")
    // committed types and column order survive the read-back
    val df = spark.sql("SELECT * FROM graft.pt")
    assert(df.columns.toSeq == Seq("id", "v", "seg"))
    assert(df.schema("id").dataType.typeName == "long")
    assert(spark.sql("SELECT sum(v) FROM graft.pt").head().getLong(0) ==
      (0L until 90L).map(_ * 10).sum)
    // partition predicate prunes whole DIRECTORIES at planning time —
    // observe the PLANNED files (fileIndex.inputFiles is the raw listing)
    def plannedFiles(sql: String): Seq[String] =
      spark.sql(sql).queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().toSeq.flatMap {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.map(_.filePath.toString).toSeq
            case other => Seq(s"?" + other.getClass.getName)
          }
      }.flatten
    val total = plannedFiles("SELECT * FROM graft.pt").length
    val pruned = plannedFiles("SELECT * FROM graft.pt WHERE seg = 'a'")
    assert(pruned.length < total,
      s"partition filter must prune files (${pruned.length}/$total)")
    assert(pruned.forall(_.contains("seg=a")), "only seg=a files may be planned")
    // DML rewrites keep the partitioned layout
    graft.sources.SqlDml.execute(spark,
      "UPDATE graft.pt SET v = v + 1 WHERE seg = 'b'") // v2
    val v2dir = Paths.get(SnapshotStore.latest(s"$wh/pt").dataDir)
    assert(Files.isDirectory(v2dir.resolve("seg=b")), "DML must keep layout")
    assert(spark.sql("SELECT sum(v) FROM graft.pt WHERE seg = 'b'")
      .head().getLong(0) == (0L until 90L).filter(_ % 3 == 1).map(_ * 10 + 1).sum)
    // metadata-only evolution + restore both link the partition TREE
    spark.sql("ALTER TABLE graft.pt ADD COLUMN tag STRING") // v3
    assert(spark.sql("SELECT * FROM graft.pt").columns.contains("tag"))
    spark.sql("CALL graft.system.restore('pt', 1)") // v4
    assert(spark.sql("SELECT * FROM graft.pt").columns.toSeq ==
      Seq("id", "v", "seg"))
    assert(spark.sql("SELECT sum(v) FROM graft.pt").head().getLong(0) ==
      (0L until 90L).map(_ * 10).sum, "restore must return v1 rows")
    val v4dir = Paths.get(SnapshotStore.latest(s"$wh/pt").dataDir)
    assert(Files.isDirectory(v4dir.resolve("seg=c")),
      "restore must preserve the partition tree")
    // SHOW CREATE surfaces the partitioning
    assert(spark.sql("SHOW CREATE TABLE graft.pt").head().getString(0)
      .contains("PARTITIONED BY"))
  }

  test("multi-level partitioning + partition-aware OPTIMIZE") {
    wh
    spark.sql(
      """CREATE TABLE graft.ml (id BIGINT, v BIGINT, y STRING, m STRING)
        |PARTITIONED BY (y, m)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.ml
        |SELECT id, id, CAST(2020 + id % 2 AS STRING),
        |       CAST(1 + id % 3 AS STRING)
        |FROM range(600)""".stripMargin)
    // nested hive dirs
    val d1 = Paths.get(SnapshotStore.latest(s"$wh/ml").dataDir)
    assert(Files.isDirectory(d1.resolve("y=2020/m=1")) &&
      Files.isDirectory(d1.resolve("y=2021/m=3")), "expected y=/m= nesting")
    // both-level predicate prunes to the one leaf dir
    def planned(sql: String): Seq[String] =
      spark.sql(sql).queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().toSeq.flatMap {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.map(_.filePath.toString).toSeq
            case _ => Nil
          }
      }.flatten
    val leaf = planned("SELECT * FROM graft.ml WHERE y = '2020' AND m = '2'")
    assert(leaf.nonEmpty && leaf.forall(_.contains("y=2020/m=2")))
    // copy-on-write works on the nested tree: DELETE in one leaf links the rest
    graft.sources.SqlDml.execute(spark,
      "DELETE FROM graft.ml WHERE y = '2020' AND m = '2'")
    assert(spark.sql("SELECT count(*) FROM graft.ml").head().getLong(0) ==
      600L - (0L until 600L).count(i => i % 2 == 0 && i % 3 == 1))
    // partition-aware OPTIMIZE shrinks files without cross-partition slivers
    SnapshotStore.transact(spark, s"$wh/ml")(df => df.repartition(16)) // fragment
    val before = planned("SELECT * FROM graft.ml").length
    spark.sql("CALL graft.system.optimize('ml', 1000)")
    val after = planned("SELECT * FROM graft.ml").length
    assert(after < before, s"optimize must shrink files ($before -> $after)")
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM graft.ml")
      .head().getLong(0) ==
      (0L until 600L).filterNot(i => i % 2 == 0 && i % 3 == 1).sum,
      "optimize moves bytes, never rows")
  }

  test("partitioned DML is copy-on-write: untouched partitions hard-link") {
    wh
    spark.sql(
      """CREATE TABLE graft.cow (id BIGINT, v BIGINT, seg STRING)
        |PARTITIONED BY (seg) TBLPROPERTIES ('cdc.keys' = 'id')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.cow
        |SELECT id, id * 10, CASE WHEN id % 3 = 0 THEN 'a'
        |  WHEN id % 3 = 1 THEN 'b' ELSE 'c' END
        |FROM range(60)""".stripMargin) // v1
    def filesOf(v: Long): Map[String, Object] = {
      val dir = Paths.get(SnapshotStore.at(s"$wh/cow", v).dataDir)
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet") &&
            !dir.relativize(f).toString.startsWith("_"))
          .map(f => (dir.relativize(f).toString,
            Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
              .fileKey())).toMap
      } finally s.close()
    }
    // UPDATE touching only seg=b rewrites seg=b; seg=a/seg=c files are the
    // SAME inodes as v1's (hard links, zero rewrite)
    graft.sources.SqlDml.execute(spark,
      "UPDATE graft.cow SET v = v + 1 WHERE seg = 'b' AND id < 10") // v2
    val v1 = filesOf(1); val v2 = filesOf(2)
    val (v1b, v1rest) = v1.partition(_._1.startsWith("seg=b"))
    val (v2b, v2rest) = v2.partition(_._1.startsWith("seg=b"))
    assert(v2rest == v1rest, "untouched partitions must be the same inodes")
    assert(v2b.keySet.intersect(v1b.keySet).isEmpty ||
      v2b.forall { case (k, fk) => !v1b.get(k).contains(fk) },
      "the touched partition must be rewritten, not linked")
    // the statement's CDC set is exactly the matched rows
    assert(spark.sql(
      """SELECT count(*) FROM table_changes('cow', 2, 2)
        |WHERE _change_type = 'update_postimage'""".stripMargin)
      .head().getLong(0) == 3L) // seg=b rows with id < 10: ids 1, 4, 7
    // DELETE emptying a whole partition removes its directory
    graft.sources.SqlDml.execute(spark, "DELETE FROM graft.cow WHERE seg = 'c'") // v3
    val v3 = filesOf(3)
    assert(!v3.keySet.exists(_.startsWith("seg=c")), "emptied partition gone")
    assert(v3.filter(_._1.startsWith("seg=a")) == v1.filter(_._1.startsWith("seg=a")),
      "partitions untouched by the DELETE stay linked")
    // APPEND links every existing file and only writes the new rows
    spark.sql("INSERT INTO graft.cow VALUES (100, 1000, 'a'), (101, 1010, 'd')") // v4
    val v4 = filesOf(4)
    assert(v3.forall { case (k, fk) => v4.get(k).contains(fk) },
      "append must link all pre-existing files unchanged")
    assert(v4.keySet.exists(_.startsWith("seg=d")), "new partition dir born")
    assert(spark.sql("SELECT count(*) FROM graft.cow").head().getLong(0) ==
      40L + 2L) // 60 - 20 (seg=c) + 2 appended
    // correctness after all the linking: full read matches a replay
    assert(spark.sql("SELECT sum(v) FROM graft.cow WHERE seg = 'b'")
      .head().getLong(0) ==
      (0L until 60L).filter(_ % 3 == 1).map(_ * 10).sum + 3L)
  }

  test("INSERT OVERWRITE PARTITION replaces one partition, links the rest") {
    wh
    spark.sql(
      """CREATE TABLE graft.pov (id BIGINT, v BIGINT, seg STRING)
        |PARTITIONED BY (seg) TBLPROPERTIES ('cdc.keys' = 'id')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pov
        |SELECT id, id * 10, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END
        |FROM range(20)""".stripMargin) // v1
    def files(v: Long): Map[String, Object] = {
      val dir = Paths.get(SnapshotStore.at(s"$wh/pov", v).dataDir)
      val st = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet") &&
            !dir.relativize(f).toString.startsWith("_"))
          .map(f => (dir.relativize(f).toString,
            Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
              .fileKey())).toMap
      } finally st.close()
    }
    // the backfill: rebuild seg=a with fewer rows and new values
    graft.sources.SqlDml.execute(spark,
      """INSERT OVERWRITE graft.pov PARTITION (seg = 'a')
        |SELECT id * 2, id * 100 FROM range(4)""".stripMargin) // v2
    val v1 = files(1); val v2 = files(2)
    assert(v2.filter(_._1.startsWith("seg=b")) == v1.filter(_._1.startsWith("seg=b")),
      "the untouched partition must stay hard-linked")
    assert(spark.sql("SELECT count(*) FROM graft.pov WHERE seg = 'a'")
      .head().getLong(0) == 4L)
    assert(spark.sql("SELECT v FROM graft.pov WHERE id = 2").head().getLong(0) == 100L)
    assert(spark.sql("SELECT count(*) FROM graft.pov WHERE seg = 'b'")
      .head().getLong(0) == 10L)
    // CDC: the overwrite lands as a keyed diff of that partition only
    val ch = spark.sql(
      """SELECT _change_type, count(*) AS n FROM table_changes('pov', 2, 2)
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // old seg=a: ids 0,2,...,18 (v=id*10). new: 0,2,4,6 (v=0,100,200,300).
    // id 0 is value-unchanged (0 -> 0) so it emits nothing; 2/4/6 update;
    // 8..18 delete — the keyed diff of exactly one partition
    assert(ch == Seq(("delete", 6L),
      ("update_postimage", 3L), ("update_preimage", 3L)), s"got $ch")
    // a key live in ANOTHER partition refuses (feed would see a live-key
    // insert — replica poison)
    intercept[Exception](graft.sources.SqlDml.execute(spark,
      "INSERT OVERWRITE graft.pov PARTITION (seg = 'a') SELECT 1, 1"))
    // appends must not carry a partition spec
    intercept[Exception](graft.sources.SqlDml.execute(spark,
      "INSERT INTO graft.pov PARTITION (seg = 'a') SELECT id, id FROM range(2)"))
  }

  test("partitioned CTAS and TRUNCATE TABLE through the catalog") {
    wh
    spark.range(40).selectExpr("id", "id * 2 AS v",
      "CAST(id % 4 AS STRING) AS bucket").createOrReplaceTempView("pctas_src")
    spark.sql(
      """CREATE TABLE graft.pctas PARTITIONED BY (bucket)
        |AS SELECT * FROM pctas_src""".stripMargin)
    val dir = Paths.get(SnapshotStore.latest(s"$wh/pctas").dataDir)
    assert(Files.isDirectory(dir.resolve("bucket=0")) &&
      Files.isDirectory(dir.resolve("bucket=3")),
      "CTAS must land the hive layout")
    assert(SnapshotStore.partitionCols(s"$wh/pctas") == Seq("bucket"))
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM graft.pctas")
      .head().getLong(0) == (0L until 40L).map(_ * 2).sum)
    spark.sql("TRUNCATE TABLE graft.pctas")
    assert(spark.sql("SELECT count(*) FROM graft.pctas").head().getLong(0) == 0L)
    // truncation is a COMMIT, not a deletion: history serves the old rows
    val vs = SnapshotStore.history(spark, s"$wh/pctas").count()
    assert(spark.sql(
      s"SELECT count(*) FROM graft.pctas VERSION AS OF ${vs - 2}")
      .head().getLong(0) == 40L, "pre-truncate version must still read")
    // and the table keeps working (schema + partitioning intact)
    spark.sql("INSERT INTO graft.pctas VALUES (100, 1, '9')")
    assert(spark.sql("SELECT bucket FROM graft.pctas").head().getString(0) == "9")
  }

  test("plain spark.sql UPDATE / DELETE / MERGE work on catalog tables") {
    wh
    spark.sql(
      """CREATE TABLE graft.dmlp (id BIGINT, v BIGINT, seg STRING)
        |PARTITIONED BY (seg) TBLPROPERTIES ('cdc.keys' = 'id')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.dmlp
        |SELECT id, id * 10, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END
        |FROM range(20)""".stripMargin)
    // no SqlDml.execute, no root map — the bare statements:
    spark.sql("UPDATE graft.dmlp SET v = v + 1 WHERE seg = 'a'")
    assert(spark.sql("SELECT sum(v) FROM graft.dmlp WHERE seg = 'a'")
      .head().getLong(0) == (0L until 20L by 2).map(_ * 10 + 1).sum)
    spark.sql("DELETE FROM graft.dmlp WHERE id >= 16")
    assert(spark.sql("SELECT count(*) FROM graft.dmlp").head().getLong(0) == 16L)
    // MERGE with a SUBQUERY source (the analyzed path admits any plan)
    spark.sql(
      """MERGE INTO graft.dmlp t
        |USING (SELECT id AS sid, id * 1000 AS sv FROM range(14, 18)) s
        |ON t.id = s.sid
        |WHEN MATCHED THEN UPDATE SET v = s.sv
        |WHEN NOT MATCHED THEN INSERT (id, v, seg) VALUES (s.sid, s.sv, 'z')
        |""".stripMargin)
    assert(spark.sql("SELECT v FROM graft.dmlp WHERE id = 14").head().getLong(0) == 14000L)
    assert(spark.sql("SELECT seg FROM graft.dmlp WHERE id = 17").head().getString(0) == "z")
    assert(spark.sql("SELECT count(*) FROM graft.dmlp").head().getLong(0) == 18L)
    // the statement surface keeps every store invariant: CDC feed rows
    // landed for each statement, partitioned copy-on-write staging held
    val types = spark.sql(
      """SELECT DISTINCT _change_type FROM table_changes('dmlp', 2, 4)""")
      .collect().map(_.getString(0)).toSet
    assert(types == Set("insert", "delete", "update_preimage", "update_postimage"),
      s"got $types")
    // a time-traveled relation refuses DML loudly
    intercept[Exception](
      spark.sql("DELETE FROM graft.dmlp VERSION AS OF 1 WHERE id = 1"))
  }

  test("partition-scoped OPTIMIZE compacts one partition, links the rest") {
    wh
    spark.sql(
      """CREATE TABLE graft.po (id BIGINT, v BIGINT, seg STRING)
        |PARTITIONED BY (seg) TBLPROPERTIES ('cdc.keys' = 'id')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.po
        |SELECT id, id, CASE WHEN id % 2 = 0 THEN 'hot' ELSE 'cold' END
        |FROM range(2000)""".stripMargin)
    // fragment the hot partition with 8 small appends
    (0 until 8).foreach { i =>
      spark.sql(s"INSERT INTO graft.po VALUES (${10000 + i}, $i, 'hot')")
    }
    def filesUnder(v: Long, pfx: String): Map[String, Object] = {
      val dir = Paths.get(SnapshotStore.at(s"$wh/po", v).dataDir)
      val st = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet") &&
            !dir.relativize(f).toString.startsWith("_") &&
            dir.relativize(f).toString.startsWith(pfx))
          .map(f => (dir.relativize(f).toString,
            Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
              .fileKey())).toMap
      } finally st.close()
    }
    val vBefore = SnapshotStore.latest(s"$wh/po").version
    val hotBefore = filesUnder(vBefore, "seg=hot").size
    spark.sql("CALL graft.system.optimize('po', 100000, '', '', \"seg = 'hot'\")")
    val vAfter = SnapshotStore.latest(s"$wh/po").version
    assert(filesUnder(vAfter, "seg=hot").size < hotBefore,
      s"hot partition must compact ($hotBefore files before)")
    assert(filesUnder(vAfter, "seg=cold") == filesUnder(vBefore, "seg=cold"),
      "the cold partition's files must stay hard-linked")
    // layout-only: the OPTIMIZE commit's change set is EMPTY
    assert(spark.sql(
      s"SELECT count(*) FROM table_changes('po', $vAfter, $vAfter)")
      .head().getLong(0) == 0L)
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM graft.po")
      .head().getLong(0) == (0L until 2000L).sum + (0 until 8).sum)
  }

  test("copy-on-write survives partition values that need path escaping") {
    wh
    // space, colon and percent all get Spark path-escaping in dir names;
    // the COW touched-dir derivation (input_file_name URI → decoded path)
    // must round-trip them exactly or files would silently double/vanish
    spark.sql(
      """CREATE TABLE graft.esc (id BIGINT, v BIGINT, seg STRING)
        |PARTITIONED BY (seg)""".stripMargin)
    Seq((1L, 10L, "a b"), (2L, 20L, "c:d"), (3L, 30L, "e%f"), (4L, 40L, "plain"))
      .toDF("id", "v", "seg").createOrReplaceTempView("esc_src")
    spark.sql("INSERT INTO graft.esc SELECT * FROM esc_src")
    graft.sources.SqlDml.execute(spark,
      "UPDATE graft.esc SET v = v + 1 WHERE seg = 'a b'")
    val got = spark.sql("SELECT id, v FROM graft.esc ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L)), s"got $got")
    graft.sources.SqlDml.execute(spark,
      "DELETE FROM graft.esc WHERE seg = 'e%f'")
    assert(spark.sql("SELECT count(*) FROM graft.esc").head().getLong(0) == 3L)
    assert(spark.sql("SELECT sum(v) FROM graft.esc").head().getLong(0) == 71L)
  }

  test("dynamic partitionOverwriteMode replaces only the partitions in the data") {
    wh
    spark.sql(
      """CREATE TABLE graft.dyn (id BIGINT, v BIGINT, seg STRING)
        |PARTITIONED BY (seg)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.dyn
        |SELECT id, id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END
        |FROM range(10)""".stripMargin) // v1
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // data only names seg=a -> seg=b survives untouched. (Routed through
      // SqlDml: Spark's catalog planner would demand a DSv2 dynamic
      // overwrite writer; the statement path honors the conf itself.)
      graft.sources.SqlDml.execute(spark,
        "INSERT OVERWRITE graft.dyn SELECT id, id * 100, 'a' FROM range(2)") // v2
      val rows = spark.sql("SELECT seg, count(*) AS n FROM graft.dyn GROUP BY seg")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(rows == Map("a" -> 2L, "b" -> 5L), s"got $rows")
      assert(spark.sql(
        "SELECT v FROM graft.dyn WHERE id = 1 AND seg = 'b'").head().getLong(0) == 1L,
        "kept partition's rows untouched")
      // static mode (the Spark default) replaces the whole table
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      spark.sql(
        "INSERT OVERWRITE graft.dyn SELECT id, id, 'c' FROM range(3)") // v3
      assert(spark.sql("SELECT count(*) FROM graft.dyn").head().getLong(0) == 3L)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("partitioned MERGE is copy-on-write unless NOT MATCHED BY SOURCE") {
    wh
    spark.sql(
      """CREATE TABLE graft.mcw (id BIGINT, v BIGINT, seg STRING)
        |PARTITIONED BY (seg)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.mcw
        |SELECT id, id * 10, CASE WHEN id % 3 = 0 THEN 'a'
        |  WHEN id % 3 = 1 THEN 'b' ELSE 'c' END
        |FROM range(30)""".stripMargin) // v1
    def filesOf(v: Long): Map[String, Object] = {
      val dir = Paths.get(SnapshotStore.at(s"$wh/mcw", v).dataDir)
      val st = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet") &&
            !dir.relativize(f).toString.startsWith("_"))
          .map(f => (dir.relativize(f).toString,
            Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
              .fileKey())).toMap
      } finally st.close()
    }
    // source touches only seg=b targets (ids 1,4) + one brand-new id
    Seq((1L, 111L, "b"), (4L, 444L, "b"), (100L, 1L, "z"))
      .toDF("id", "v", "seg").createOrReplaceTempView("mcw_src")
    graft.sources.SqlDml.execute(spark,
      """MERGE INTO graft.mcw t USING mcw_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v, seg) VALUES (s.id, s.v, s.seg)
        |""".stripMargin) // v2
    val v1 = filesOf(1); val v2 = filesOf(2)
    assert(v2.filter(_._1.startsWith("seg=a")) == v1.filter(_._1.startsWith("seg=a")) &&
      v2.filter(_._1.startsWith("seg=c")) == v1.filter(_._1.startsWith("seg=c")),
      "partitions without matches must stay hard-linked")
    assert(v2.keySet.exists(_.startsWith("seg=z")), "insert lands a new partition")
    assert(spark.sql("SELECT v FROM graft.mcw WHERE id = 1").head().getLong(0) == 111L)
    assert(spark.sql("SELECT count(*) FROM graft.mcw").head().getLong(0) == 31L)
    // WHEN NOT MATCHED BY SOURCE can touch any row -> full rewrite fallback
    graft.sources.SqlDml.execute(spark,
      """MERGE INTO graft.mcw t USING mcw_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 1
        |""".stripMargin) // v3
    val v3 = filesOf(3)
    assert(v3.forall { case (k, fk) => !v2.get(k).contains(fk) },
      "an NMBS merge rewrites everything (no stale links)")
    assert(spark.sql("SELECT v FROM graft.mcw WHERE id = 2").head().getLong(0) == 21L)
  }

  test("CALL restore: rolls data AND schema back across an ALTER boundary") {
    wh
    spark.sql("CREATE TABLE graft.rs (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.rs VALUES (1, 10), (2, 20)") // v1
    spark.sql("ALTER TABLE graft.rs ADD COLUMN tag STRING") // v2
    spark.sql("INSERT INTO graft.rs VALUES (3, 30, 'late')") // v3
    val out = spark.sql("CALL graft.system.restore('rs', 1)").head()
    assert((out.getLong(0), out.getLong(1)) == (1L, 4L))
    // data back to v1, schema back too (the ALTER's column is gone)
    val t = spark.sql("SELECT * FROM graft.rs ORDER BY id")
    assert(t.columns.toSeq == Seq("id", "v"))
    assert(t.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L)))
    // history stays linear and immutable: the undone state is still there
    assert(spark.sql("SELECT * FROM graft.rs VERSION AS OF 3").count() == 3L)
    // the table keeps working after a restore
    spark.sql("INSERT INTO graft.rs VALUES (4, 40)") // v5
    assert(spark.sql("SELECT count(*) FROM graft.rs").head().getLong(0) == 3L)
    // restore to the current head is a no-op, not a new commit
    spark.sql("CALL graft.system.restore('rs', 5)")
    assert(SnapshotStore.latest(s"$wh/rs").version == 5L)
    // tag-addressed rollback: the blessing pins retention, so the target
    // can never have been vacuumed out from under the restore point
    spark.sql("CALL graft.system.create_tag('rs', 'stable', 5)")
    spark.sql("INSERT INTO graft.rs VALUES (9, 90)") // v6
    val byTag = spark.sql(
      "CALL graft.system.restore('rs', tag => 'stable')").head()
    assert((byTag.getLong(0), byTag.getLong(1)) == (5L, 7L))
    assert(spark.sql("SELECT count(*) FROM graft.rs").head().getLong(0) == 3L)
    // neither a version nor a tag: loud
    intercept[Exception](spark.sql("CALL graft.system.restore('rs')"))
  }

  test("CALL restore: a constraint added after the target version still gates") {
    wh
    spark.sql("CREATE TABLE graft.rc (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.rc VALUES (1, -5)") // v1: negative v
    graft.sources.SqlDml.execute(spark, "UPDATE graft.rc SET v = 5 WHERE id = 1") // v2
    spark.sql("ALTER TABLE graft.rc ADD CONSTRAINT v_pos CHECK (v > 0)")
    // restoring to v1 would resurrect a violating row — must refuse
    intercept[Exception](spark.sql("CALL graft.system.restore('rc', 1)"))
    assert(SnapshotStore.latest(s"$wh/rc").version == 2L,
      "refused restore must not commit")
    assert(spark.sql("SELECT v FROM graft.rc").head().getLong(0) == 5L)
  }

  test("restore on a CDC table emits the convergence diff as its change set") {
    wh
    spark.sql(
      """CREATE TABLE graft.rf (id BIGINT, v BIGINT)
        |TBLPROPERTIES ('cdc.keys' = 'id')""".stripMargin)
    spark.sql("INSERT INTO graft.rf VALUES (1, 10), (2, 20), (3, 30)") // v1
    graft.sources.SqlDml.execute(spark, "DELETE FROM graft.rf WHERE id = 2") // v2
    graft.sources.SqlDml.execute(spark, "UPDATE graft.rf SET v = 99 WHERE id = 3") // v3
    spark.sql("CALL graft.system.restore('rf', 1)") // v4
    val ch = spark.sql(
      """SELECT _change_type, id, v FROM table_changes('rf', 4, 4)
        |ORDER BY id, _change_type""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // deleted key comes back as insert; updated key rolls back as a full
    // update pair — exactly what a replica needs to converge
    assert(ch == Seq(("insert", 2L, 20L),
      ("update_postimage", 3L, 30L), ("update_preimage", 3L, 99L)))
  }

  test("CALL clone: shallow, independent, carries constraints and CDC keys") {
    wh
    spark.sql(
      """CREATE TABLE graft.cs (id BIGINT, v BIGINT)
        |TBLPROPERTIES ('cdc.keys' = 'id')""".stripMargin)
    spark.sql("INSERT INTO graft.cs VALUES (1, 10), (2, 20)") // v1
    spark.sql("ALTER TABLE graft.cs ADD CONSTRAINT v_pos CHECK (v > 0)")
    val out = spark.sql("CALL graft.system.clone('cs', 'cd')").head()
    assert((out.getLong(0), out.getLong(1)) == (1L, 2L))
    // shallow: the clone's v0 files ARE the source's files (hard links)
    val srcDir = Paths.get(SnapshotStore.latest(s"$wh/cs").dataDir)
    val dstDir = Paths.get(SnapshotStore.latest(s"$wh/cd").dataDir)
    def pq(p: java.nio.file.Path) = {
      val s = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(f => (f.getFileName.toString,
            Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
              .fileKey())).toMap
      } finally s.close()
    }
    assert(pq(srcDir) == pq(dstDir), "clone must link, not copy")
    // independence: diverging writes never touch the other table
    spark.sql("INSERT INTO graft.cd VALUES (3, 30)")
    graft.sources.SqlDml.execute(spark, "UPDATE graft.cs SET v = 11 WHERE id = 1")
    assert(spark.sql("SELECT count(*) FROM graft.cs").head().getLong(0) == 2L)
    assert(spark.sql(
      "SELECT v FROM graft.cd WHERE id = 1").head().getLong(0) == 10L)
    // table-level config traveled: constraint enforces, feed starts at v0
    intercept[Exception](spark.sql("INSERT INTO graft.cd VALUES (9, -1)"))
    assert(spark.sql(
      """SELECT count(*) FROM table_changes('cd', 0, 0)
        |WHERE _change_type = 'insert'""".stripMargin).head().getLong(0) == 2L)
    // cloning onto an existing table refuses
    intercept[Exception](spark.sql("CALL graft.system.clone('cs', 'cd')"))
  }

  test("CALL clone counts the clone's live rows: deletion vectors and spec eras") {
    wh
    spark.sql("CREATE TABLE graft.cmor (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('dml.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO graft.cmor VALUES (1, 10), (2, 20), (3, 30)")
    graft.sources.SqlDml.execute(spark, "DELETE FROM graft.cmor WHERE id = 2")
    assert(SnapshotStore.hasDv(SnapshotStore.latest(s"$wh/cmor").dataDir))
    val mor = spark.sql("CALL graft.system.clone('cmor', 'cmor2')").head()
    assert(mor.getLong(1) == 2L, s"deleted row counted: $mor")

    spark.sql("CREATE TABLE graft.cera (id BIGINT, k STRING)")
    spark.sql("INSERT INTO graft.cera VALUES (1, 'a')")
    spark.sql("CALL graft.system.set_partition_spec('cera', 'k')")
    spark.sql("INSERT INTO graft.cera VALUES (2, 'b')")
    val eras = spark.sql("CALL graft.system.clone('cera', 'cera2')").head()
    assert(eras.getLong(1) == 2L, s"a spec era skipped: $eras")
    assert(spark.sql("SELECT count(*) FROM graft.cera2").head().getLong(0) == 2L)
  }

  test("ADD COLUMN DEFAULT backfills old rows at scan time, no rewrite") {
    wh
    spark.sql("CREATE TABLE graft.dft (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.dft SELECT id, id * 2 FROM range(5)") // v1: no 'tier'
    val v1files = Files.list(Paths.get(SnapshotStore.latest(s"$wh/dft").dataDir))
    val before = {
      import scala.jdk.CollectionConverters._
      try v1files.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(f => Files.readAttributes(f,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).toSet
      finally v1files.close()
    }
    spark.sql("ALTER TABLE graft.dft ADD COLUMN tier BIGINT DEFAULT 7")
    // metadata-only: v2 hard-links v1's files (no rewrite "backfill")
    val v2files = Files.list(Paths.get(SnapshotStore.latest(s"$wh/dft").dataDir))
    val after = {
      import scala.jdk.CollectionConverters._
      try v2files.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(f => Files.readAttributes(f,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).toSet
      finally v2files.close()
    }
    assert(after == before, "ALTER with DEFAULT must link, not rewrite")
    // pre-ALTER rows read the existence default
    assert(spark.sql("SELECT tier FROM graft.dft WHERE id = 3")
      .head().getLong(0) == 7L)
    // INSERT omitting the column gets the current default, not NULL
    spark.sql("INSERT INTO graft.dft (id, v) VALUES (100, 200)")
    assert(spark.sql("SELECT tier FROM graft.dft WHERE id = 100")
      .head().getLong(0) == 7L)
    // an explicit NULL written AFTER the ALTER stays NULL (the default is
    // an absence-filler, not a null-rewriter)
    spark.sql("INSERT INTO graft.dft VALUES (101, 202, NULL)")
    assert(spark.sql("SELECT tier FROM graft.dft WHERE id = 101").head().isNullAt(0))
    // and an explicit value wins
    spark.sql("INSERT INTO graft.dft VALUES (102, 204, 9)")
    assert(spark.sql(
      "SELECT CAST(sum(coalesce(tier, -1)) AS BIGINT) FROM graft.dft")
      .head().getLong(0) == 5 * 7 + 7 - 1 + 9)
    // time travel: v1 predates the column entirely
    assert(!spark.sql("SELECT * FROM graft.dft VERSION AS OF 1")
      .columns.contains("tier"))
    // non-constant defaults refuse loudly (EXISTS_DEFAULT must be frozen)
    intercept[Exception](spark.sql(
      "ALTER TABLE graft.dft ADD COLUMN ts_added STRING DEFAULT uuid()"))
    // CREATE TABLE with a DEFAULT column: the capability routes the
    // default through the created schema's metadata, and INSERTs omitting
    // the column fill it from day one
    spark.sql(
      "CREATE TABLE graft.dft2 (id BIGINT, tier BIGINT DEFAULT 3)")
    spark.sql("INSERT INTO graft.dft2 (id) VALUES (1)")
    assert(spark.sql("SELECT tier FROM graft.dft2 WHERE id = 1")
      .head().getLong(0) == 3L)
    // REGRESSION: defaults survive intervening writes — every staged
    // version pins its schema (metadata does not survive parquet-footer
    // inference, so without the pin the SECOND implicit insert would
    // silently land NULL)
    spark.sql("INSERT INTO graft.dft2 (id) VALUES (2)")
    assert(spark.sql("SELECT tier FROM graft.dft2 WHERE id = 2")
      .head().getLong(0) == 3L)
    spark.sql("INSERT INTO graft.dft (id, v) VALUES (103, 206)")
    assert(spark.sql("SELECT tier FROM graft.dft WHERE id = 103")
      .head().getLong(0) == 7L)
  }

  test("GENERATED ALWAYS AS IDENTITY: distributed assignment, HWM survives DML") {
    wh
    spark.sql(
      "CREATE TABLE graft.idt (id BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT)")
    // multi-partition insert: per-partition offsets must compose into a
    // dense, duplicate-free allocation whatever the partition count
    spark.sql("INSERT INTO graft.idt (v) SELECT id * 10 FROM range(1000)")
    val ids = spark.sql("SELECT id FROM graft.idt ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == (1L to 1000L), s"expected dense 1..1000, got ${ids.take(5)}...")
    spark.sql("INSERT INTO graft.idt (v) VALUES (5)")
    assert(spark.sql("SELECT id FROM graft.idt WHERE v = 5")
      .head().getLong(0) == 1001L)
    // GENERATED ALWAYS refuses explicit values
    intercept[Exception](spark.sql("INSERT INTO graft.idt VALUES (9999, 1)"))
    // the high-water mark is snapshot state: a DELETE of the top rows must
    // NOT let ids be reused (the sidecar carries through DML commits)
    spark.sql("DELETE FROM graft.idt WHERE id > 900")
    spark.sql("INSERT INTO graft.idt (v) VALUES (6)")
    assert(spark.sql("SELECT id FROM graft.idt WHERE v = 6")
      .head().getLong(0) == 1002L)
    assert(spark.sql("SELECT count(*), count(DISTINCT id) FROM graft.idt")
      .head() match { case r => r.getLong(0) == r.getLong(1) })
    // REGRESSION: INSERT OVERWRITE rewrites every row — the pinned schema
    // of the new version must keep the identity metadata (a projection
    // alias drops field metadata; the staged schema pin merges it back) so
    // assignment still runs afterwards
    spark.sql("INSERT OVERWRITE graft.idt (v) SELECT id FROM range(3)")
    spark.sql("INSERT INTO graft.idt (v) VALUES (77)")
    val afterOw = spark.sql("SELECT id FROM graft.idt WHERE v = 77").head()
    assert(!afterOw.isNullAt(0) && afterOw.getLong(0) > 1002L,
      s"identity must survive INSERT OVERWRITE, got $afterOw")
    // REGRESSION: the direct-API write path assigns too (identity routing
    // lives in SnapshotStore.append, not just the catalog insert surface)
    SnapshotStore.append(spark,
      s"$wh/idt", spark.range(1).selectExpr("CAST(88 AS BIGINT) AS v"))
    assert(!spark.sql("SELECT id FROM graft.idt WHERE v = 88")
      .head().isNullAt(0), "direct append must assign identity ids")
  }

  test("identity columns: DML that would bypass allocation refuses") {
    wh
    spark.sql(
      "CREATE TABLE graft.idg (id BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT)")
    spark.sql("INSERT INTO graft.idg (v) SELECT id FROM range(10)")
    // UPDATE may touch data columns, never the identity column
    graft.sources.SqlDml.execute(spark,
      "UPDATE graft.idg SET v = v + 1 WHERE v < 3")
    intercept[Exception](graft.sources.SqlDml.execute(spark,
      "UPDATE graft.idg SET id = 999 WHERE v = 5"))
    // MERGE insert arms bypass appendWithIdentity — refuse
    spark.range(5).selectExpr("id AS k", "id * 2 AS nv")
      .createOrReplaceTempView("idg_src")
    intercept[Exception](graft.sources.SqlDml.execute(spark,
      """MERGE INTO graft.idg t USING idg_src s ON t.v = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (v) VALUES (s.nv)""".stripMargin))
    // a matched-only MERGE not touching the id commits fine
    graft.sources.SqlDml.execute(spark,
      """MERGE INTO graft.idg t USING idg_src s ON t.v = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv + 100""".stripMargin)
    // ...but one assigning the id refuses
    intercept[Exception](graft.sources.SqlDml.execute(spark,
      """MERGE INTO graft.idg t USING idg_src s ON t.v = s.k
        |WHEN MATCHED THEN UPDATE SET id = s.k""".stripMargin))
    assert(spark.sql(
      "SELECT count(*), count(DISTINCT id), count(id) FROM graft.idg")
      .head() match { case r =>
        r.getLong(0) == 10L && r.getLong(1) == 10L && r.getLong(2) == 10L })
  }

  test("BY DEFAULT identity: explicit + generated in ONE batch never collide") {
    wh
    spark.sql(
      """CREATE TABLE graft.idt4 (
        |  id BIGINT GENERATED BY DEFAULT AS IDENTITY, v BIGINT)""".stripMargin)
    // one statement mixing an explicit id that sits exactly where naive
    // allocation would land (start=1) with generated rows — the mark must
    // sync past the batch's own explicit values BEFORE assigning
    spark.sql(
      """INSERT INTO graft.idt4
        |SELECT CASE WHEN id = 0 THEN 2 ELSE NULL END, id * 10
        |FROM range(5)""".stripMargin)
    val r = spark.sql(
      "SELECT count(*), count(DISTINCT id), count(id) FROM graft.idt4").head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 5L && r.getLong(2) == 5L,
      s"expected 5 distinct non-null ids, got $r")
  }

  test("GENERATED BY DEFAULT AS IDENTITY: explicit values allowed, slots burn") {
    wh
    spark.sql(
      """CREATE TABLE graft.idt2 (
        |  id BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 100 INCREMENT BY 5),
        |  v BIGINT)""".stripMargin)
    spark.sql("INSERT INTO graft.idt2 VALUES (7, 1)") // explicit: allowed, burns a slot
    spark.sql("INSERT INTO graft.idt2 (v) VALUES (2)") // assigned: 105 (slot 100 burned)
    spark.sql("INSERT INTO graft.idt2 (v) VALUES (3)") // continues: 110
    val got = spark.sql("SELECT v, id FROM graft.idt2 ORDER BY v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got(0) == (1L, 7L), s"explicit id must persist: $got")
    assert(got(1) == (2L, 105L),
      s"assigned ids continue past the explicit row's burned slot: $got")
    assert(got(2) == (3L, 110L), s"later ids step by 5: $got")
    // auto-sync: an explicit id ABOVE the mark bumps allocation past it
    // (the Delta SYNC IDENTITY rule, applied eagerly — a later generated
    // id must never collide with it)
    spark.sql("INSERT INTO graft.idt2 VALUES (500, 4)")
    spark.sql("INSERT INTO graft.idt2 (v) VALUES (5)")
    val after = spark.sql("SELECT id FROM graft.idt2 WHERE v = 5")
      .head().getLong(0)
    assert(after > 500L, s"generated id must clear the explicit 500, got $after")
    assert(spark.sql("SELECT count(*), count(DISTINCT id) FROM graft.idt2")
      .head() match { case r => r.getLong(0) == r.getLong(1) })
    // identity composes with hive partitioning: the batch stages under
    // its partition dirs, everything else hard-links, the high-water
    // sidecar rides the staged hook — allocation stays collision-free
    spark.sql(
      """CREATE TABLE graft.idt3 (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY, seg STRING)
        |PARTITIONED BY (seg)""".stripMargin)
    spark.sql("INSERT INTO graft.idt3 (seg) VALUES ('a'), ('b'), ('a')")
    spark.sql("INSERT INTO graft.idt3 (seg) VALUES ('b'), ('c')")
    assert(spark.sql(
      "SELECT count(*), count(DISTINCT id) FROM graft.idt3")
      .head() match { case r => r.getLong(0) == 5L && r.getLong(1) == 5L })
    // partition pruning still plans on the partitioned identity table
    assert(spark.sql("SELECT count(*) FROM graft.idt3 WHERE seg = 'a'")
      .head().getLong(0) == 2L)
    // …but partitioning BY the identity column refuses (one dir per row)
    val ePart = intercept[Exception](spark.sql(
      """CREATE TABLE graft.idtp (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY, seg STRING)
        |PARTITIONED BY (id)""".stripMargin))
    assert(ePart.getMessage.contains("identity column"), ePart.getMessage)
    // …and CDC still refuses (v1 scope — loud refusal beats misallocation)
    intercept[Exception](spark.sql(
      """CREATE TABLE graft.idtc (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT)
        |TBLPROPERTIES ('cdc.keys' = 'id')""".stripMargin))
  }

  test("STORED generated columns: computed on write, staleness refuses at commit") {
    wh
    spark.sql(
      """CREATE TABLE graft.gen (
        |  id BIGINT, amount BIGINT,
        |  bucket BIGINT GENERATED ALWAYS AS (amount % 10))""".stripMargin)
    spark.sql(
      "INSERT INTO graft.gen (id, amount) SELECT id, id * 7 FROM range(20)")
    // the stored value IS the derivation — on every row
    assert(spark.sql(
      "SELECT count(*) FROM graft.gen WHERE bucket <> amount % 10")
      .head().getLong(0) == 0L)
    assert(spark.sql("SELECT bucket FROM graft.gen WHERE id = 3")
      .head().getLong(0) == 21L % 10L)
    // UPDATE re-deriving the column in the same statement commits; the
    // assignment RHS reads PRE-update values, so re-derive from the same
    val beforeV = SnapshotStore.latest(s"$wh/gen").version
    graft.sources.SqlDml.execute(spark,
      "UPDATE graft.gen SET amount = amount + 1, bucket = (amount + 1) % 10 " +
        "WHERE id = 3")
    assert(spark.sql("SELECT amount, bucket FROM graft.gen WHERE id = 3")
      .head() match { case r => r.getLong(0) == 22L && r.getLong(1) == 2L })
    // an UPDATE that touches the input WITHOUT re-deriving would leave the
    // stored value stale — the automatic CHECK refuses the commit and the
    // table is untouched
    intercept[Exception](graft.sources.SqlDml.execute(spark,
      "UPDATE graft.gen SET amount = amount + 5 WHERE id = 4"))
    assert(SnapshotStore.latest(s"$wh/gen").version == beforeV + 1)
    // direct-API appends compute the column too (the write-side derivation
    // lives in SnapshotStore, not the catalog surface)
    SnapshotStore.append(spark, s"$wh/gen",
      spark.range(1).selectExpr("CAST(100 AS BIGINT) AS id",
        "CAST(123 AS BIGINT) AS amount"))
    assert(spark.sql("SELECT bucket FROM graft.gen WHERE id = 100")
      .head().getLong(0) == 3L)
    // a provided value is overridden by the authoritative derivation
    spark.sql("INSERT INTO graft.gen VALUES (101, 45, 999)")
    assert(spark.sql("SELECT bucket FROM graft.gen WHERE id = 101")
      .head().getLong(0) == 5L)
    // non-deterministic generation expressions refuse at CREATE
    intercept[Exception](spark.sql(
      """CREATE TABLE graft.gen2 (
        |  id BIGINT, r BIGINT GENERATED ALWAYS AS (CAST(rand() * 10 AS BIGINT))
        |)""".stripMargin))
    // time-dependent expressions refuse at CREATE too: current_date() is
    // "deterministic" to Spark but re-evaluates per statement — the
    // consistency CHECK would refuse every later full-rewrite DML on rows
    // stamped under an earlier clock
    intercept[Exception](spark.sql(
      """CREATE TABLE graft.gen3 (
        |  id BIGINT, d DATE GENERATED ALWAYS AS (current_date()))""".stripMargin))
    // chained generation (a generated column referencing another) refuses
    // at CREATE: the derivation runs against the raw input, where the
    // sibling is not yet derived
    intercept[Exception](spark.sql(
      """CREATE TABLE graft.gen4 (
        |  a BIGINT, b BIGINT GENERATED ALWAYS AS (a + 1),
        |  c BIGINT GENERATED ALWAYS AS (b * 2))""".stripMargin))
    // MERGE insert arms must write the derivation themselves (the
    // nested-CASE pads unassigned columns with NULL, which the CHECK
    // would reject with a cryptic violation) — refused up front...
    spark.range(3).selectExpr("id + 200 AS nid", "id * 11 AS namount")
      .createOrReplaceTempView("gen_src")
    intercept[Exception](graft.sources.SqlDml.execute(spark,
      """MERGE INTO graft.gen t USING gen_src s ON t.id = s.nid
        |WHEN NOT MATCHED THEN INSERT (id, amount) VALUES (s.nid, s.namount)
        |""".stripMargin))
    // ...and the arm that derives commits, CHECK-clean
    graft.sources.SqlDml.execute(spark,
      """MERGE INTO graft.gen t USING gen_src s ON t.id = s.nid
        |WHEN NOT MATCHED THEN INSERT (id, amount, bucket)
        |  VALUES (s.nid, s.namount, s.namount % 10)""".stripMargin)
    assert(spark.sql("SELECT bucket FROM graft.gen WHERE id = 201")
      .head().getLong(0) == 1L)
  }

  test("generated columns in PARTITION-spec overwrites are engine-derived") {
    wh
    spark.sql(
      """CREATE TABLE graft.genps (
        |  id BIGINT, amount BIGINT,
        |  band BIGINT GENERATED ALWAYS AS (amount % 3), seg STRING)
        |PARTITIONED BY (seg)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.genps (id, amount, seg)
        |SELECT id, id * 5, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END
        |FROM range(20)""".stripMargin)
    // the backfill query supplies ONLY plain data columns — the partition
    // literal attaches and the generated column derives engine-side
    graft.sources.SqlDml.execute(spark,
      """INSERT OVERWRITE graft.genps PARTITION (seg = 'a')
        |SELECT id + 100, (id + 100) * 7 FROM range(5)""".stripMargin)
    assert(spark.sql(
      "SELECT count(*) FROM graft.genps WHERE band <> amount % 3")
      .head().getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) FROM graft.genps WHERE seg = 'a'")
      .head().getLong(0) == 5L)
    assert(spark.sql("SELECT count(*) FROM graft.genps WHERE seg = 'b'")
      .head().getLong(0) == 10L)
  }

  test("PARTITIONED BY a generated column: computed on write, prunes on read") {
    wh
    // the Delta generated-partition idiom: partition by a derived bucket,
    // writers never supply it, queries filtering on the bucket prune dirs
    spark.sql(
      """CREATE TABLE graft.genp (
        |  id BIGINT, ts_day BIGINT,
        |  day_bucket BIGINT GENERATED ALWAYS AS (ts_day % 4))
        |PARTITIONED BY (day_bucket)""".stripMargin)
    spark.sql(
      "INSERT INTO graft.genp (id, ts_day) SELECT id, id % 31 FROM range(400)")
    // computed + partitioned: hive dirs exist for each bucket value
    val dataDir = Paths.get(SnapshotStore.latest(s"$wh/genp").dataDir)
    val dirs = {
      val st = Files.list(dataDir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("day_bucket=")).toSet
      } finally st.close()
    }
    assert(dirs == Set("day_bucket=0", "day_bucket=1", "day_bucket=2",
      "day_bucket=3"), s"expected 4 hive dirs, got $dirs")
    // a bucket predicate prunes to that partition's files at planning time
    // (partition-filter pushdown shows in the PLANNED partitions, not the
    // pre-pruning fileIndex listing)
    val planned = spark.sql(
      "SELECT id FROM graft.genp WHERE day_bucket = 2")
      .queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().toSeq.flatMap {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.map(_.filePath.toString).toSeq
            case _ => Nil
          }
      }.flatten
    assert(planned.nonEmpty && planned.forall(_.contains("day_bucket=2")),
      s"bucket predicate must prune to one partition dir: $planned")
    // values are the derivation, everywhere
    assert(spark.sql(
      "SELECT count(*) FROM graft.genp WHERE day_bucket <> ts_day % 4")
      .head().getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) FROM graft.genp").head().getLong(0) == 400L)
  }

  test("hidden partitioning: days(ts)/bucket(n,id) derive partition filters from source predicates") {
    wh
    spark.sql(
      """CREATE TABLE graft.hp (id BIGINT, ts TIMESTAMP, v BIGINT)
        |PARTITIONED BY (days(ts), bucket(8, id))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.hp (id, ts, v)
        |SELECT id, timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id*977),
        |       id * 3
        |FROM range(2000)""".stripMargin)
    // desugared generated partition columns landed as hive dirs
    val dataDir = Paths.get(SnapshotStore.latest(s"$wh/hp").dataDir)
    val dayDirs = {
      val st = Files.list(dataDir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("ts_day=")).toSet
      } finally st.close()
    }
    assert(dayDirs.size > 10, s"expected many day dirs, got $dayDirs")
    def planned(sql: String): Seq[String] =
      spark.sql(sql).queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().toSeq.flatMap {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.map(_.filePath.toString).toSeq
            case _ => Nil
          }
      }.flatten
    // a ts RANGE predicate — never naming ts_day — prunes to the boundary
    // day dirs (the hidden-partitioning payoff)
    val all = planned("SELECT v FROM graft.hp")
    val ranged = planned("SELECT v FROM graft.hp WHERE " +
      "ts >= timestamp'2024-03-05 00:00:00' AND ts < timestamp'2024-03-07 00:00:00'")
    assert(ranged.nonEmpty && ranged.size < all.size / 3,
      s"ts range must prune day dirs: ${ranged.size} of ${all.size}")
    assert(ranged.forall(p => p.contains("ts_day=2024-03-05") ||
      p.contains("ts_day=2024-03-06") || p.contains("ts_day=2024-03-07")),
      s"kept files must sit in the boundary days: ${ranged.take(3)}")
    // an id EQUALITY predicate prunes to ONE bucket dir
    val point = planned("SELECT v FROM graft.hp WHERE id = 137")
    assert(point.nonEmpty && point.forall(_.contains("id_bucket=")))
    assert(point.map(p => p.replaceAll(".*id_bucket=([0-9]+).*", "$1"))
      .toSet.size == 1, s"id = k must prune to one bucket: ${point.take(3)}")
    assert(point.size < all.size / 4, s"${point.size} of ${all.size}")
    // and the answers stay right under the derived filters
    assert(spark.sql("SELECT sum(v) FROM graft.hp WHERE id = 137")
      .head().getLong(0) == 411L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.hp WHERE ts >= timestamp'2024-03-05 00:00:00'" +
        " AND ts < timestamp'2024-03-07 00:00:00'").head().getLong(0) ==
      spark.sql("SELECT count(*) FROM graft.hp").head().getLong(0) -
        spark.sql(
          "SELECT count(*) FROM graft.hp WHERE ts < timestamp'2024-03-05 00:00:00'" +
            " OR ts >= timestamp'2024-03-07 00:00:00'").head().getLong(0))
    // non-literal / unrecognized shapes derive nothing (conservative)
    assert(planned("SELECT v FROM graft.hp WHERE ts >= ts").size == all.size)

    // truncate(n, col): monotone for strings (prefix) AND ints (floor) —
    // ranges derive too
    spark.sql(
      """CREATE TABLE graft.hpt (name STRING, amt BIGINT)
        |PARTITIONED BY (truncate(1, name), truncate(1000, amt))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.hpt (name, amt)
        |SELECT concat(CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'm'
        |  ELSE 'z' END, CAST(id AS STRING)), id * 7
        |FROM range(1000)""".stripMargin)
    val allT = planned("SELECT amt FROM graft.hpt")
    val pref = planned("SELECT amt FROM graft.hpt WHERE name >= 'm' AND name < 'n'")
    assert(pref.nonEmpty && pref.forall(_.contains("name_trunc=m")),
      s"string range must prune to the prefix dir: ${pref.take(3)}")
    val amtR = planned("SELECT amt FROM graft.hpt WHERE amt >= 2000 AND amt < 3000")
    assert(amtR.nonEmpty && amtR.forall(_.contains("amt_trunc=2000")),
      s"int range must prune to the floor dir: ${amtR.take(3)}")
    assert(pref.size < allT.size && amtR.size < allT.size)
    assert(spark.sql(
      "SELECT count(*) FROM graft.hpt WHERE amt >= 2000 AND amt < 3000")
      .head().getLong(0) ==
      (0L until 1000L).count(i => i * 7 >= 2000 && i * 7 < 3000))
  }

  test("DROP COLUMN guards: layout columns, referenced columns refuse; own checks cascade") {
    wh
    spark.sql(
      """CREATE TABLE graft.dg (id BIGINT, ts TIMESTAMP, v BIGINT,
        |  twice BIGINT GENERATED ALWAYS AS (v * 2))
        |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql("ALTER TABLE graft.dg ADD CONSTRAINT pos CHECK (v >= 0)")
    // partition/layout columns refuse (both the derived col and its
    // would-be orphaned dirs)
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE graft.dg DROP COLUMN ts_day"))
    assert(e1.getMessage.contains("layout"), e1.getMessage)
    // a column referenced by a generation expression or a user CHECK
    // refuses (the ts reference lives in ts_day's generation expr; v sits
    // in both twice's expr and the CHECK)
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE graft.dg DROP COLUMN ts"))
    assert(e2.getMessage.contains("referenced"), e2.getMessage)
    val e3 = intercept[Exception](
      spark.sql("ALTER TABLE graft.dg DROP COLUMN v"))
    assert(e3.getMessage.contains("referenced"), e3.getMessage)
    // dropping the GENERATED column itself cascades its own __gen_ check
    // away and succeeds (it is not a partition column here)
    spark.sql("ALTER TABLE graft.dg DROP COLUMN twice")
    assert(!spark.table("graft.dg").schema.fieldNames.contains("twice"))
    // ...after which v is only held by the user CHECK; drop that, then v
    spark.sql("ALTER TABLE graft.dg DROP CONSTRAINT pos")
    spark.sql("ALTER TABLE graft.dg DROP COLUMN v")
    assert(spark.table("graft.dg").schema.fieldNames.toSeq ==
      Seq("id", "ts", "ts_day"))
    // writes still work after the cascaded drops
    spark.sql("INSERT INTO graft.dg (id, ts) VALUES " +
      "(1, timestamp'2024-05-05 10:00:00')")
    assert(spark.sql("SELECT ts_day FROM graft.dg").head()
      .getDate(0).toString == "2024-05-05")
  }

  test("hidden partitioning composes with DML: scoped updates, derived-col consistency") {
    wh
    spark.sql(
      """CREATE TABLE graft.hpd (id BIGINT, ts TIMESTAMP, v BIGINT)
        |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.hpd (id, ts, v)
        |SELECT id, timestamp'2024-03-01 00:00:00' +
        |  make_interval(0, 0, 0, CAST(id % 5 AS INT), 0, 0, 0), id
        |FROM range(100)""".stripMargin)
    // DML not touching the source column stays partition-sound
    spark.sql("UPDATE graft.hpd SET v = v + 1000 WHERE id < 10")
    assert(spark.sql("SELECT sum(v) FROM graft.hpd").head().getLong(0) ==
      (0L until 100L).sum + 10 * 1000L)
    // DML that moves the SOURCE column either re-derives the partition
    // column or refuses via the __gen_ consistency CHECK — it can never
    // silently leave a row in the wrong day directory
    val moved = try {
      spark.sql("UPDATE graft.hpd SET ts = ts + INTERVAL 10 DAYS, " +
        "ts_day = CAST(ts + INTERVAL 10 DAYS AS DATE) WHERE id = 3")
      true
    } catch { case e: Exception =>
      assert(e.getMessage.contains("__gen_") ||
        e.getMessage.toLowerCase.contains("constraint"), e.getMessage)
      false
    }
    if (moved) {
      // the moved row reads back consistent: dir value == derivation
      assert(spark.sql(
        "SELECT count(*) FROM graft.hpd WHERE ts_day <> CAST(ts AS DATE)")
        .head().getLong(0) == 0L)
    }
    // an UPDATE of ts WITHOUT re-deriving refuses loudly (the CHECK)
    val e = intercept[Exception](spark.sql(
      "UPDATE graft.hpd SET ts = ts + INTERVAL 30 DAYS WHERE id = 4"))
    assert(e.getMessage.contains("__gen_") ||
      e.getMessage.toLowerCase.contains("constraint") ||
      e.getMessage.toLowerCase.contains("generated"), e.getMessage)
  }

  test("small catalog tables auto-broadcast from scan statistics (no hint)") {
    wh
    spark.sql("CREATE TABLE graft.bdim (k BIGINT, label STRING)")
    spark.sql(
      "INSERT INTO graft.bdim SELECT id, concat('l', id) FROM range(100)")
    spark.range(0, 200000).selectExpr("id", "id % 100 AS k")
      .createOrReplaceTempView("bfact")
    // no broadcast() hint anywhere: the decision must come from the DSv2
    // scan's reported statistics (file bytes of the snapshot dir) being
    // under autoBroadcastJoinThreshold — the stats surface a 100 TB
    // planner lives on (a dim table behind an opaque scan with no stats
    // would sort-merge and shuffle the fact side)
    val joined = spark.sql(
      """SELECT f.id, d.label FROM bfact f
        |JOIN graft.bdim d ON f.k = d.k""".stripMargin)
    joined.collect()
    def hasBhj(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        hasBhj(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        hasBhj(q.plan) // stages report no children
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
      case other => other.children.exists(hasBhj)
    }
    assert(hasBhj(joined.queryExecution.executedPlan),
      s"expected auto-broadcast join:\n${joined.queryExecution.executedPlan}")
  }

  test("metadata tables: $history / $files are SQL-queryable, versioned, read-only") {
    wh
    spark.sql("CREATE TABLE graft.meta1 (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.meta1 SELECT id, id * 2 FROM range(100)") // v1
    spark.sql("INSERT INTO graft.meta1 SELECT id, id FROM range(100, 150)") // v2
    // $history: one row per commit, with the stamp-audit columns
    val hist = spark.sql(
      "SELECT version FROM graft.`meta1$history` ORDER BY version").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(spark.sql("SELECT * FROM graft.`meta1$history`")
      .columns.toSeq.contains("txn_stamps"))
    // $files: footer row counts, composes with VERSION AS OF
    def rowsAt(v: Long): Long = spark.sql(
      s"SELECT coalesce(sum(row_count), CAST(0 AS BIGINT)) " +
        s"FROM graft.`meta1$$files` VERSION AS OF $v").head().getLong(0)
    assert(rowsAt(0) == 0L)
    assert(rowsAt(1) == 100L)
    assert(rowsAt(2) == 150L)
    assert(spark.sql("SELECT sum(row_count) FROM graft.`meta1$files`")
      .head().getLong(0) == 150L, "no AS OF = the latest snapshot")
    // size_bytes are the real on-disk bytes of the named files
    val dataDir = SnapshotStore.latest(s"$wh/meta1").dataDir
    val fs = spark.sql(
      "SELECT file, size_bytes FROM graft.`meta1$files`").collect()
    assert(fs.nonEmpty)
    fs.foreach { r =>
      assert(Files.size(Paths.get(dataDir, r.getString(0))) == r.getLong(1))
    }
    // $partitions: per-partition rollup; "" for an unpartitioned table
    val up = spark.sql(
      "SELECT partition, n_rows FROM graft.`meta1$partitions`").collect()
    assert(up.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("", 150L)))
    spark.sql("CREATE TABLE graft.meta2 (id BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.meta2 SELECT id, id % 2 FROM range(90)")
    val parts = spark.sql(
      "SELECT partition, n_rows, n_files, size_bytes " +
        "FROM graft.`meta2$partitions` ORDER BY partition").collect()
    assert(parts.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("p=0", 45L), ("p=1", 45L)), s"got ${parts.toSeq}")
    assert(parts.forall(r => r.getLong(2) >= 1L && r.getLong(3) > 0L))
    assert(spark.sql( // composes with time travel: v0 is empty
      "SELECT count(*) FROM graft.`meta2$partitions` VERSION AS OF 0")
      .head().getLong(0) == 0L)
    // refusals: unknown suffix, time travel on $history, writes
    intercept[Exception](spark.sql("SELECT * FROM graft.`meta1$nope`"))
    intercept[Exception](spark.sql(
      "SELECT * FROM graft.`meta1$history` VERSION AS OF 1").collect())
    intercept[Exception](spark.sql(
      "INSERT INTO graft.`meta1$files` VALUES ('x', 1, 1)"))
  }

  private def planHasBhj(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        planHasBhj(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        planHasBhj(q.plan) // stages report no children
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
      case other => other.children.exists(planHasBhj)
    }

  test("manifest pruning shrinks REPORTED scan statistics (filter-aware broadcast)") {
    wh
    spark.sql("CREATE TABLE graft.pstat (k BIGINT, pad STRING)")
    spark.sql( // ~5 MB of incompressible pad across 100k rows
      "INSERT INTO graft.pstat SELECT id, uuid() FROM range(100000)")
    spark.sql("CALL graft.system.optimize(`table` => 'pstat', " +
      "target_rows => 6250, cluster_by => 'k', stats_cols => 'k')")
    spark.range(0, 200000).selectExpr("id", "id % 100000 AS k")
      .createOrReplaceTempView("pfact")
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // the WHOLE table is ~5 MB — over the 1 MB threshold, so a planner
      // fed whole-table stats must sort-merge. The k < 3000 band prunes
      // (via the manifest, at PLANNING time) to one ~300 KB clustered
      // file, and the scan's estimateStatistics reports the PRUNED bytes:
      // the join flips to broadcast with no hint. This is the 100 TB
      // contract — a filtered dim read is broadcast-able because the
      // planner sees what the filter keeps, not what the table holds.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (1024 * 1024).toString)
      val pruned = spark.sql(
        """SELECT f.id, d.pad FROM pfact f
          |JOIN graft.pstat d ON f.k = d.k WHERE d.k < 3000""".stripMargin)
      pruned.collect()
      assert(planHasBhj(pruned.queryExecution.executedPlan),
        s"pruned stats must broadcast:\n${pruned.queryExecution.executedPlan}")
      val full = spark.sql(
        "SELECT f.id, d.pad FROM pfact f JOIN graft.pstat d ON f.k = d.k")
      full.collect()
      assert(!planHasBhj(full.queryExecution.executedPlan),
        "whole-table stats over threshold must NOT broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("manifest pruning on a PARTITIONED table keeps partition values (basePath)") {
    wh
    spark.sql("CREATE TABLE graft.pmani (id BIGINT, seg BIGINT, v BIGINT) " +
      "PARTITIONED BY (seg)")
    spark.sql(
      "INSERT INTO graft.pmani SELECT id, id % 4, id * 3 FROM range(100000)")
    // a stats manifest on a partitioned snapshot: pruning hands the scan
    // LEAF files under seg=… dirs — without basePath every seg read NULL
    spark.sql("CALL graft.system.optimize('pmani', 10000, 'id', 'id')")
    val bySeg = spark.sql(
      """SELECT seg, count(*) AS n FROM graft.pmani
        |WHERE id < 5000 GROUP BY seg ORDER BY seg""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bySeg == Seq((0L, 1250L), (1L, 1250L), (2L, 1250L), (3L, 1250L)),
      s"partition values must survive manifest pruning: $bySeg")
    // and BOTH prunings compose: partition dir + manifest interval
    assert(spark.sql("SELECT sum(v) FROM graft.pmani " +
      "WHERE seg = 1 AND id BETWEEN 1000 AND 1999").head().getLong(0) ==
      (1000L to 1999L).filter(_ % 4 == 1).map(_ * 3).sum)
    // the Scala-surface twin (readPruned) keeps partition values too
    val snap = SnapshotStore.latest(s"$wh/pmani")
    val (pruned, kept, totalF) = SnapshotStore.readPruned(spark, snap,
      org.apache.spark.sql.functions.col("max_id") < 5000L)
    assert(kept < totalF, s"manifest must actually prune ($kept/$totalF)")
    assert(pruned.filter(org.apache.spark.sql.functions.col("seg").isNull)
      .isEmpty, "readPruned must keep partition values")
    // the manifest SURVIVES partitioned writes: an append extends it
    // (linked rows carry with their nested relative paths), a partial
    // DML drops the touched partition's rows and re-aggregates its
    // rewrite — continuity, not death-on-first-write
    spark.sql("INSERT INTO graft.pmani VALUES (200000, 0, 600000)")
    val afterAppend = SnapshotStore.latest(s"$wh/pmani")
    val m1 = SnapshotStore.manifest(spark, afterAppend).collect()
    assert(m1.length == totalF + 1, s"append must extend: ${m1.length}")
    assert(m1.forall(_.getAs[String]("file").contains(afterAppend.dataDir)),
      "every manifest row must key a file of the LIVE snapshot")
    graft.sources.SqlDml.execute(spark,
      "UPDATE graft.pmani SET v = 0 WHERE id = 200000")
    val afterDml = SnapshotStore.latest(s"$wh/pmani")
    val m2 = SnapshotStore.manifest(spark, afterDml).collect()
    assert(m2.forall(_.getAs[String]("file").contains(afterDml.dataDir)) &&
      m2.nonEmpty, "DML must carry a live manifest")
    // and the carried manifest still serves CORRECT pruned reads
    assert(spark.sql("SELECT seg, count(*) FROM graft.pmani " +
      "WHERE id < 5000 GROUP BY seg ORDER BY seg").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 1250L), (1L, 1250L), (2L, 1250L), (3L, 1250L)))
    assert(spark.sql(
      "SELECT v FROM graft.pmani WHERE id = 200000").head().getLong(0) == 0L)
  }

  test("CALL optimize(zorder_by) works on named tables; manifest prunes both dims") {
    wh
    spark.sql("CREATE TABLE graft.zt (x BIGINT, y BIGINT, v BIGINT)")
    spark.sql(
      """INSERT INTO graft.zt
        |SELECT abs(hash(id * 2 + 1)) % 100000, abs(hash(id * 2)) % 100000, id
        |FROM range(200000)""".stripMargin)
    // 3125 rows/file = exactly 64 files: a power-of-two file count keeps
    // curve chunks aligned to a 2^k x 2^k tile grid; 63 files straddle
    // tile boundaries badly enough that a mid-domain band can keep ~half
    spark.sql("CALL graft.system.optimize(`table` => 'zt', " +
      "target_rows => 3125, stats_cols => 'x,y', zorder_by => 'x,y')")
    val snap = SnapshotStore.latest(s"$wh/zt")
    def kept(pred: org.apache.spark.sql.Column): (Int, Int) = {
      val (_, k, t) = SnapshotStore.readPruned(spark, snap, pred)
      (k, t)
    }
    // bounds are deliberately loose: RangePartitioner's sample seed
    // derives from the RDD id (a global counter), so tile boundaries
    // shift run to run — the meaningful claims are that BOTH single-dim
    // bands prune (range-clustering keeps 100% on its second dim) and
    // that the 2-D rectangle prunes hard
    val xBand = $"max_x" >= 40000L && $"min_x" <= 60000L
    val yBand = $"max_y" >= 40000L && $"min_y" <= 60000L
    val (kx, tx) = kept(xBand)
    val (ky, ty) = kept(yBand)
    assert(kx * 3 <= tx * 2, s"x band kept $kx of $tx (want <= 2/3)")
    assert(ky * 3 <= ty * 2, s"y band kept $ky of $ty (want <= 2/3)")
    val (kr, tr) = kept(xBand && yBand)
    assert(kr * 3 <= tr, s"2-D rectangle kept $kr of $tr (want <= 1/3)")
    // the SQL read path prunes from the same manifest at PLANNING time —
    // on EITHER dimension (the multi-dim win over cluster_by)
    def scanFiles(sql: String): Int =
      spark.sql(sql).queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2
            .parquet.ParquetScan].fileIndex.inputFiles.length
      }.sum
    val totalSql = scanFiles("SELECT * FROM graft.zt")
    val fx = scanFiles("SELECT v FROM graft.zt WHERE x BETWEEN 40000 AND 60000")
    val fy = scanFiles("SELECT v FROM graft.zt WHERE y BETWEEN 40000 AND 60000")
    assert(fx * 3 <= totalSql * 2, s"SQL x band planned $fx of $totalSql files")
    assert(fy * 3 <= totalSql * 2, s"SQL y band planned $fy of $totalSql files")
    // zorder_by and cluster_by together refuse
    intercept[Exception](spark.sql(
      "CALL graft.system.optimize(`table` => 'zt', target_rows => 3200, " +
        "cluster_by => 'x', zorder_by => 'x,y')"))
    // value identity through the SQL read path
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM graft.zt")
      .head().getLong(0) == (0L until 200000L).sum)
  }

  test("CREATE TABLE TBLPROPERTIES: opaque user properties persist from CREATE") {
    wh
    spark.sql("CREATE TABLE graft.cprops (id BIGINT) TBLPROPERTIES " +
      "('team' = 'data-eng', 'purpose' = 'staging', 'cdc.keys' = 'id')")
    def props: Map[String, String] = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty[String], "cprops"))
        .properties().asScala.toMap
    }
    // CREATE-time opaque keys serve back, same as ALTER SET TBLPROPERTIES
    assert(props.get("team").contains("data-eng"), props.toString)
    assert(props.get("purpose").contains("staging"))
    // engine keys routed to their own config, NOT the opaque sidecar
    assert(props.get("cdc.keys").contains("id"))
    assert(SnapshotStore.tableProperties(s"$wh/cprops") ==
      Map("team" -> "data-eng", "purpose" -> "staging"),
      "engine/Spark-reserved keys must not leak into the user sidecar")
    // and they compose with later ALTERs
    spark.sql("ALTER TABLE graft.cprops SET TBLPROPERTIES ('team' = 'ml')")
    assert(props.get("team").contains("ml"))
    assert(props.get("purpose").contains("staging"))
  }

  test("hidden time partitioning refuses writes from a different session timezone") {
    wh
    spark.sql(
      """CREATE TABLE graft.hptz (id BIGINT, ts TIMESTAMP, v BIGINT)
        |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql("INSERT INTO graft.hptz (id, ts, v) VALUES " +
      "(1, timestamp'2024-03-01 12:00:00', 10)")
    // second append must re-derive the generated column from the PINNED
    // schema metadata (the read-back frame strips it) — regression guard
    // for the metadata-overlay fix in SnapshotStore.append
    spark.sql("INSERT INTO graft.hptz (id, ts, v) VALUES " +
      "(9, timestamp'2024-03-09 08:00:00', 90)")
    assert(spark.sql("SELECT count(*) FROM graft.hptz " +
      "WHERE ts >= timestamp'2024-03-09 00:00:00'").head().getLong(0) == 1L)
    // a zone-shifted writer would bucket rows into day dirs the
    // create-zone reader's derived filters silently prune — refuse loudly
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val e = intercept[Exception](spark.sql(
        "INSERT INTO graft.hptz (id, ts, v) VALUES " +
          "(2, timestamp'2024-03-01 23:30:00', 20)"))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("session timezone")), e.getMessage)
      // zone-FREE transforms (bucket/truncate) keep writing from any zone
      spark.sql(
        """CREATE TABLE graft.hptz2 (id BIGINT, v BIGINT)
          |PARTITIONED BY (bucket(4, id))""".stripMargin)
      spark.sql("INSERT INTO graft.hptz2 (id, v) VALUES (1, 10)")
      assert(spark.sql("SELECT count(*) FROM graft.hptz2").head().getLong(0) == 1L)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    // back in the create zone, writes resume
    spark.sql("INSERT INTO graft.hptz (id, ts, v) VALUES " +
      "(3, timestamp'2024-03-02 01:00:00', 30)")
    assert(spark.sql("SELECT count(*) FROM graft.hptz").head().getLong(0) == 3L)
  }

  test("failed ALTER restores ONLY its own constraint cascades, keeping concurrent edits") {
    wh
    spark.sql("CREATE TABLE graft.crestore (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.crestore VALUES (1, 10), (2, NULL)")
    val root = s"$wh/crestore"
    spark.sql("ALTER TABLE graft.crestore ADD CONSTRAINT keep CHECK (id > 0)")
    // the hazard, simulated at the store level: an ALTER snapshots the
    // sidecar, a CONCURRENT session's ADD CONSTRAINT lands, then the
    // ALTER fails and restores — the wholesale byte restore would discard
    // 'fresh'; the scoped restore only reconciles the ALTER's own names
    val saved = SnapshotStore.snapshotConstraints(root)
    SnapshotStore.addTableConstraint(spark, root, "fresh", "v IS NULL OR v >= 0")
    SnapshotStore.dropTableConstraint(root, "keep") // the ALTER's own cascade
    SnapshotStore.restoreConstraintsNamed(root, saved, Set("keep"))
    val names = SnapshotStore.tableConstraints(root).map(_._1).toSet
    assert(names("keep"), s"ALTER's own cascade must restore: $names")
    assert(names("fresh"), s"concurrent edit must survive the restore: $names")
    // end-to-end: a SET NOT NULL that fails validation (existing NULLs)
    // leaves the sidecar exactly as it was (both constraints intact) —
    // through the TableCatalog API, the surface the SQL analyzer allows
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val e = intercept[Exception](cat.alterTable(
      Identifier.of(Array.empty[String], "crestore"),
      TableChange.updateColumnNullability(Array("v"), false)))
    assert(e.getMessage.toLowerCase.contains("null"), e.getMessage)
    assert(SnapshotStore.tableConstraints(root).map(_._1).toSet ==
      Set("keep", "fresh"))
  }
}
