package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.functions._

import graft.sources.{SnapshotStore, SqlDml}

/** SQL DML statements (sources/SqlDml.scala) compiled onto SnapshotStore
  * transactions: statement-level semantics the q87 oracle can't isolate
  * (pre-update RHS visibility, NULL-predicate DELETE, cardinality guard),
  * plus the VERDICT r9 demand — two concurrent SQL MERGEs racing the same
  * table, where the loser MUST rebase onto the winner's snapshot or its
  * effect would overwrite the winner's.
  */
class SqlDmlSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_dml").toString

  test("UPDATE assignment RHS reads pre-update values (the swap test)") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("id", "a", "b"))
    SqlDml.execute(spark, "UPDATE t SET a = b, b = a WHERE id = 1",
      Map("t" -> root))
    val rows = SnapshotStore.read(spark, root).orderBy($"id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 20L, 10L), (2L, 30L, 40L)),
      "SET a = b, b = a must swap, not cascade")
  }

  test("DELETE keeps rows whose predicate evaluates to NULL") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      Seq((1L, Some(5L)), (2L, None), (3L, Some(-1L))).toDF("id", "v"))
    SqlDml.execute(spark, "DELETE FROM t WHERE v < 0", Map("t" -> root))
    val ids = SnapshotStore.read(spark, root).select($"id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L), "NULL predicate must keep the row (id=2)")
  }

  test("MERGE rejects a target row matched by multiple source rows") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, Seq((1L, 0L)).toDF("id", "bal"))
    Seq((1L, 10L), (1L, 20L)).toDF("id", "amt")
      .createOrReplaceTempView("dup_src")
    val e = intercept[IllegalArgumentException] {
      SqlDml.execute(spark,
        "MERGE INTO t USING dup_src s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET bal = t.bal + s.amt",
        Map("t" -> root))
    }
    assert(e.getMessage.contains("cardinality"))
  }

  test("non-DML statements are rejected") {
    val e = intercept[IllegalArgumentException] {
      SqlDml.execute(spark, "SELECT 1", Map.empty)
    }
    assert(e.getMessage.contains("not a DML statement"))
  }

  test("MERGE INSERT arm leaves unassigned columns as typed NULLs") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      Seq((1L, 5L, "x")).toDF("id", "bal", "tag"))
    Seq((2L, 7L)).toDF("id", "amt").createOrReplaceTempView("ins_src")
    SqlDml.execute(spark,
      "MERGE INTO t USING ins_src s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (s.id, s.amt)",
      Map("t" -> root))
    val out = SnapshotStore.read(spark, root).orderBy($"id")
      .as[(Long, Long, Option[String])].collect().toSeq
    assert(out == Seq((1L, 5L, Some("x")), (2L, 7L, None)))
  }

  test("INSERT INTO: VALUES with column list (typed NULLs), SELECT source, OVERWRITE") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      Seq((1L, 5L, "x")).toDF("id", "bal", "tag"))
    // VALUES with a column list: unnamed tag becomes a typed NULL
    SqlDml.execute(spark,
      "INSERT INTO t (id, bal) VALUES (2, 7), (3, 9)", Map("t" -> root))
    // SELECT source over a temp view, full column set
    Seq((4L, 11L, "y")).toDF("a", "b", "c").createOrReplaceTempView("ins_sel_src")
    SqlDml.execute(spark,
      "INSERT INTO t SELECT a, b, c FROM ins_sel_src", Map("t" -> root))
    val out = SnapshotStore.read(spark, root).orderBy($"id")
      .as[(Long, Long, Option[String])].collect().toSeq
    assert(out == Seq((1L, 5L, Some("x")), (2L, 7L, None), (3L, 9L, None),
      (4L, 11L, Some("y"))))
    // OVERWRITE replaces the whole table in one transaction
    SqlDml.execute(spark,
      "INSERT OVERWRITE t VALUES (9, 1, 'z')", Map("t" -> root))
    assert(SnapshotStore.read(spark, root)
      .as[(Long, Long, String)].collect().toSeq == Seq((9L, 1L, "z")))
    assert(SnapshotStore.latest(root).version == 3L)
  }

  test("CTAS creates the table (cdc.keys property enables the feed); history() audits versions") {
    val root = tmpRoot()
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").createOrReplaceTempView("ctas_src")
    val v0 = SqlDml.execute(spark,
      "CREATE TABLE t TBLPROPERTIES ('cdc.keys'='id') AS SELECT * FROM ctas_src",
      Map("t" -> root))
    assert(v0.version == 0L)
    assert(SnapshotStore.cdcKeys(root) == Seq("id"))
    // the CTAS-created feed starts with the initial rows as inserts
    assert(SnapshotStore.changesAt(spark, root, 0L)
      .filter($"_change_type" === "insert").count() == 2L)
    SqlDml.execute(spark, "UPDATE t SET v = v + 1 WHERE id = 1", Map("t" -> root))
    assert(SnapshotStore.changesAt(spark, root, 1L).count() == 2L) // pre+post
    val hist = SnapshotStore.history(spark, root)
      .select($"version", $"data_dir", $"txn_app_id", $"txn_version")
      .orderBy($"version").as[(Long, String, Option[String], Option[Long])]
      .collect().toSeq
    assert(hist.map(_._1) == Seq(0L, 1L))
    assert(hist.forall(r => r._2.nonEmpty && r._3.isEmpty)) // no txn stamps here
  }

  test("partitioned CTAS: hive layout, directory pruning, DML stays scoped") {
    val root = tmpRoot()
    Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"))
      .toDF("id", "v", "g").createOrReplaceTempView("pctas_src")
    val v0 = SqlDml.execute(spark,
      "CREATE TABLE t PARTITIONED BY (g) AS SELECT * FROM pctas_src",
      Map("t" -> root))
    assert(v0.version == 0L)
    assert(SnapshotStore.partitionCols(root) == Seq("g"))
    // hive directory layout on disk
    val dirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(SnapshotStore.latest(root).dataDir))
      .iterator()
    val names = scala.collection.mutable.Set.empty[String]
    while (dirs.hasNext) names += dirs.next().getFileName.toString
    assert(names.contains("g=a") && names.contains("g=b"), names.toString)
    // DML works and values round-trip
    SqlDml.execute(spark, "UPDATE t SET v = v + 1 WHERE id = 1", Map("t" -> root))
    assert(SnapshotStore.read(spark, root).orderBy($"id")
      .select($"v").as[Long].collect().toSeq == Seq(11L, 20L, 30L))
    // non-identity transforms refuse loudly
    val e = intercept[Exception](SqlDml.execute(spark,
      "CREATE TABLE t2 PARTITIONED BY (bucket(4, id)) AS SELECT * FROM pctas_src",
      Map("t2" -> tmpRoot())))
    assert(e.getMessage.contains("identity"), e.getMessage)
  }

  test("two concurrent SQL MERGEs race; the loser rebases onto the winner") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root,
      spark.range(1, 101).select($"id", lit(0L).as("bal")))

    // The gate: staging can't COMPLETE until BOTH merges have STARTED
    // evaluating their source (each source row passes through the latch
    // UDF). Since transact reads `latest()` before staging, both must
    // derive from v0 — exactly one loses the v1 CAS and must rebase. If
    // the loser did NOT rebase (recommitted its v0-derived output), the
    // winner's rows would reset to bal=0 and the content assert fails.
    SqlDmlSpec.gate = new CountDownLatch(2)
    // the latch lives in the companion (closures must serialize; the
    // object field is re-resolved in the executor thread — same JVM)
    val gateUdf = udf { (amt: Long) =>
      SqlDmlSpec.gate.countDown()
      SqlDmlSpec.gate.await(10, TimeUnit.SECONDS)
      amt
    }.asNondeterministic()
    spark.range(1, 51).select($"id", gateUdf(lit(10L)).as("amt"))
      .createOrReplaceTempView("race_a")
    spark.range(51, 101).select($"id", gateUdf(lit(7L)).as("amt"))
      .createOrReplaceTempView("race_b")

    val failure = new AtomicReference[Throwable]()
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def merger(view: String) = new Thread(() =>
      try versions.add(SqlDml.execute(spark,
        s"MERGE INTO acct t USING $view s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET bal = t.bal + s.amt",
        Map("acct" -> root), checkCardinality = false).version)
      catch { case t: Throwable => failure.set(t) })
    val a = merger("race_a"); val b = merger("race_b")
    a.start(); b.start(); a.join(60000); b.join(60000)
    assert(failure.get() == null, s"merge failed: ${failure.get()}")

    assert(versions.toArray.toSet == Set(1L, 2L),
      s"both merges must commit serially, got ${versions.toArray.toSeq}")
    val out = SnapshotStore.read(spark, root)
      .groupBy($"bal").count().orderBy($"bal")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((7L, 50L), (10L, 50L)),
      s"serial outcome of both merges expected, got $out")
  }
  test("a migrating OPTIMIZE healing the span mid-statement re-routes, not errors") {
    val root = tmpRoot()
    SnapshotStore.init(spark, root, spark.range(40)
      .selectExpr("id", "CAST(id % 4 AS STRING) AS seg", "id * 10 AS v"),
      partitionBy = Seq("seg"))
    SnapshotStore.alterPartitionSpec(spark, root, Nil) // evolve → UNPARTITIONED
    SnapshotStore.append(spark, root, spark.range(40, 50)
      .selectExpr("id", "CAST(id % 4 AS STRING) AS seg", "id * 10 AS v"))
    assert(SnapshotStore.spansSpecs(root))
    // deterministic interleave: the statement routes PARTIAL (the table
    // spans specs), stages its per-era rewrite — and in that window a
    // concurrent migrating OPTIMIZE heals the span to the current
    // (unpartitioned) layout. The partial machinery loses its CAS, finds
    // no partition granularity left, and throws LayoutChangedException —
    // which the statement router must ABSORB by re-routing onto the
    // full-rewrite path, never surface as "re-run the statement".
    var fired = false
    SnapshotStore.commitTestHook = () => {
      if (!fired) {
        fired = true
        SnapshotStore.optimize(spark, root, targetRows = 1000000L)
      }
    }
    try SqlDml.execute(spark, "UPDATE t SET v = v + 1 WHERE id % 10 = 0",
      Map("t" -> root))
    finally SnapshotStore.commitTestHook = () => ()
    assert(fired, "the interleave must actually fire")
    assert(!SnapshotStore.spansSpecs(root) &&
      SnapshotStore.partitionCols(root).isEmpty,
      "the healed layout must stand")
    val got = SnapshotStore.read(spark, root).selectExpr("sum(v)")
      .head().getLong(0)
    val want = (0L until 50L).map(i =>
      i * 10 + (if (i % 10 == 0) 1 else 0)).sum
    assert(got == want, s"the re-routed statement must apply exactly once: " +
      s"$got vs $want")
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source-only columns, null-fills old rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_dml_evo").toString
    SnapshotStore.init(spark, root,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "bal"))
    Seq((2L, 25L, "eu"), (3L, 30L, "us")).toDF("id", "bal", "region")
      .createOrReplaceTempView("evo_src")
    SqlDml.execute(spark,
      """MERGE WITH SCHEMA EVOLUTION INTO t
        |USING evo_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      Map("t" -> root))
    val out = SnapshotStore.read(spark, root).orderBy($"id")
      .select($"id", $"bal", $"region").as[(Long, Long, Option[String])]
      .collect().toSeq
    assert(out == Seq((1L, 10L, None), (2L, 25L, Some("eu")),
      (3L, 30L, Some("us"))))
    // evolution is a metadata-only commit BEFORE the merge commit
    assert(SnapshotStore.latest(root).version == 2)
    // without the clause, a source-only column refuses (schema is a contract)
    val e = intercept[Exception](SqlDml.execute(spark,
      """MERGE INTO t USING evo_src s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, bal, extra) VALUES (s.id, s.bal, 'x')
        |""".stripMargin, Map("t" -> root.replace("graft_dml_evo", "graft_dml_evo"))))
    assert(e != null)
  }
}

object SqlDmlSpec {
  @volatile var gate: CountDownLatch = _
}
