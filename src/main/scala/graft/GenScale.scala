package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe data generator: writes a k×-scaled copy of a testdata sf dir
  * by unioning k key-shifted copies of each table (referential integrity
  * preserved — every foreign key shifts by the same per-table stride, so
  * joins fan out exactly like a genuinely larger corpus). Document text is
  * word-salted per copy (`w` → `wcN`), which keeps every within-copy
  * shingle relationship identical while making cross-copy shingles
  * disjoint — the near-dup workload scales linearly instead of exploding
  * into cross-copy duplicate cliques.
  *
  * Usage: runMain graft.GenScale <srcSfDir> <outDir> <k>
  * Purpose: the BENCH_SF1 probe (VERDICT r9 #9) — catch gate-volume-tuned
  * constants by timing headline queries at 10× the bench tier.
  */
object GenScale {
  private val KC = 10000000L  // customer stride
  private val KO = 100000000L // orders stride
  private val KP = 10000000L  // part stride
  private val KS = 1000000L   // supplier stride
  private val KD = 10000000L  // documents/embeddings stride
  private val KE = 1000000000L // events stride

  def main(args: Array[String]): Unit = {
    val Array(src, out, kStr) = args.take(3)
    val k = kStr.toInt
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def copies(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, name)
      (0 until k).map(c => shift(base, c)).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }

    copies("region")((df, _) => df)
    copies("nation")((df, _) => df)
    copies("customer")((df, c) => df
      .withColumn("c_custkey", col("c_custkey") + lit(c * KC)))
    copies("supplier")((df, c) => df
      .withColumn("s_suppkey", col("s_suppkey") + lit(c * KS)))
    copies("part")((df, c) => df
      .withColumn("p_partkey", col("p_partkey") + lit(c * KP)))
    copies("orders")((df, c) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(c * KO))
      .withColumn("o_custkey", col("o_custkey") + lit(c * KC)))
    copies("lineitem")((df, c) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(c * KO))
      .withColumn("l_partkey", col("l_partkey") + lit(c * KP))
      .withColumn("l_suppkey", col("l_suppkey") + lit(c * KS)))
    copies("events")((df, c) => df
      .withColumn("event_id", col("event_id") + lit(c * KE))
      .withColumn("user_id", col("user_id") + lit(c * KC)))
    copies("documents")((df, c) => {
      val salted =
        if (c == 0) df
        else df.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1c" + c))
      salted
        .withColumn("doc_id", col("doc_id") + lit(c * KD))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    copies("embeddings")((df, c) => df
      .withColumn("vec_id", col("vec_id") + lit(c * KD)))

    println(s"wrote ${k}x of $src to $out")
    spark.stop()
  }
}

/** Copy-on-write DML scale probe (BENCH_SF1 round-11 appendix): time a
  * partitioned UPDATE that touches ONE of 24 partitions at two table
  * sizes. If the staging were O(table), wall time would grow ~10× with the
  * rows; copy-on-write keeps it pinned to the touched partition's rewrite
  * plus O(#files) link metadata.
  *
  * Usage: runMain graft.ProbeCow <rowsSmall> <rowsBig>
  */
object ProbeCow {
  def main(args: Array[String]): Unit = {
    import graft.sources.{SnapshotStore, SqlDml}
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(n: Long): (Double, Double) = {
      val root = GateTmp.freshDir(s"probe_cow_$n")
      val df = spark.range(n).selectExpr("id", "id * 3 AS v",
        "CAST(id % 24 AS STRING) AS part")
      SnapshotStore.init(spark, root, df, partitionBy = Seq("part"))
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val one = time(SqlDml.execute(spark,
        "UPDATE t SET v = v + 1 WHERE part = '7'", Map("t" -> root)))
      val all = time(SqlDml.execute(spark,
        "UPDATE t SET v = v + 1 WHERE id >= 0", Map("t" -> root)))
      (one, all)
    }
    run(nSmall) // warm-up: JIT + parquet codepaths
    val (s1, sAll) = run(nSmall)
    val (b1, bAll) = run(nBig)
    println(f"rows=$nSmall%d one-partition=$s1%.2fs all-partitions=$sAll%.2fs")
    println(f"rows=$nBig%d one-partition=$b1%.2fs all-partitions=$bAll%.2fs")
    println(f"growth one-partition=${b1 / s1}%.2fx all=${bAll / sAll}%.2fx")
    spark.stop()
  }
}

/** Deletion-vector DML scale probe: a SCATTERED delete (one row per
  * thousand — the GDPR-cascade shape that touches EVERY file, so partition
  * copy-on-write degenerates to a full rewrite) at two table sizes, under
  * both DML modes. Copy-on-write pays the O(table) rewrite; merge-on-read
  * writes only the matched positions, so its cost is the matched-row scan
  * — the gap must WIDEN with table size. Also times a post-delete full
  * scan vs the pre-delete scan to expose the read overhead of the
  * [[org.apache.spark.sql.GraftDvFilter]] predicate plain reads apply.
  *
  * Usage: runMain graft.ProbeDv <rowsSmall> <rowsBig>
  */
object ProbeDv {
  def main(args: Array[String]): Unit = {
    import graft.sources.{SnapshotStore, SqlDml}
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(n: Long): (Double, Double, Double, Double, Double) = {
      def fresh(mode: String): String = {
        val root = GateTmp.freshDir(s"probe_dv_${mode}_$n")
        val df = spark.range(n).selectExpr("id", "id * 3 AS v",
          "repeat('x', 64) AS pad", "CAST(id % 24 AS STRING) AS part")
        SnapshotStore.init(spark, root, df, partitionBy = Seq("part"))
        SnapshotStore.setDmlMode(root, mode)
        root
      }
      val cow = fresh(SnapshotStore.CopyOnWrite)
      val mor = fresh(SnapshotStore.MergeOnRead)
      val scan0 = time(SnapshotStore.read(spark, mor).selectExpr("sum(v)").collect())
      val tCow = time(SqlDml.execute(spark,
        "DELETE FROM t WHERE id % 1000 = 7", Map("t" -> cow)))
      val tMor = time(SqlDml.execute(spark,
        "DELETE FROM t WHERE id % 1000 = 7", Map("t" -> mor)))
      // first read of the new version pays the once-per-dir prefix-sample
      // job + fresh-plan analysis; the steady-state read is the honest
      // DV-filter overhead
      val scanCold = time(SnapshotStore.read(spark, mor).selectExpr("sum(v)").collect())
      val q2 = SnapshotStore.read(spark, mor).selectExpr("sum(v)")
      val scan1 = time(q2.collect())
      val scanReuse = time(q2.collect())
      println(f"  n=$n%d dv-scan fresh-plan=$scan1%.2fs reused-plan=$scanReuse%.2fs")
      (tCow, tMor, scan0, scanCold, scan1)
    }
    run(nSmall) // warm-up: JIT + parquet codepaths
    val (sc, sm, ss0, ssc, ss1) = run(nSmall)
    val (bc, bm, bs0, bsc, bs1) = run(nBig)
    println(f"rows=$nSmall%d cow-delete=$sc%.2fs mor-delete=$sm%.2fs " +
      f"scan-before=$ss0%.2fs scan-after-dv-cold=$ssc%.2fs scan-after-dv=$ss1%.2fs")
    println(f"rows=$nBig%d cow-delete=$bc%.2fs mor-delete=$bm%.2fs " +
      f"scan-before=$bs0%.2fs scan-after-dv-cold=$bsc%.2fs scan-after-dv=$bs1%.2fs")
    println(f"growth cow=${bc / sc}%.2fx mor=${bm / sm}%.2fx " +
      f"cow/mor-at-big=${bc / bm}%.2fx dv-read-overhead=${bs1 / bs0}%.2fx")
    spark.stop()
  }
}

/** MatView refresh scale probe: an UPDATE touching a FIXED 1000 rows on
  * sources of two sizes — if refresh were O(table), time would grow ~10×;
  * change-feed maintenance keeps it pinned to change volume.
  *
  * Usage: runMain graft.ProbeMv <rowsSmall> <rowsBig>
  */
object ProbeMv {
  def main(args: Array[String]): Unit = {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(n: Long): (Double, Double) = {
      val src = GateTmp.freshDir(s"probe_mv_src_$n")
      val mv = GateTmp.freshDir(s"probe_mv_mv_$n")
      val df = spark.range(n).selectExpr("id", "id * 3 AS v",
        "CAST(id % 24 AS STRING) AS g")
      SnapshotStore.init(spark, src, df, cdcKeys = Seq("id"))
      MatView.create(spark, src, mv, Seq("g"), "v")
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val dml = time(SqlDml.execute(spark,
        "UPDATE t SET v = v + 1 WHERE id < 1000", Map("t" -> src)))
      val refresh = time(MatView.refresh(spark, src, mv, Seq("g"), "v"))
      (dml, refresh)
    }
    run(nSmall) // warm-up
    val (sd, sr) = run(nSmall)
    val (bd, br) = run(nBig)
    println(f"rows=$nSmall%d dml=$sd%.2fs refresh=$sr%.2fs")
    println(f"rows=$nBig%d dml=$bd%.2fs refresh=$br%.2fs")
    println(f"growth dml=${bd / sd}%.2fx refresh=${br / sr}%.2fx")
    spark.stop()
  }
}

/** Join-MV refresh scale probe: a FIXED 1000-row UPDATE on the fact side
  * (plus one dim-row update) against fact tables of two sizes. refreshJoin
  * is partial recompute — the touched-key set is O(change volume), every
  * join against it is a broadcast semi/anti, and the SHUFFLE carries only
  * touched-key rows; the remaining size-dependence is the semi-join's
  * candidate scan of the pinned snapshots (pure map-side, no shuffle), so
  * growth must track scan cost, never the full-join cost a naive refresh
  * would pay.
  *
  * Usage: runMain graft.ProbeJoinMv <rowsSmall> <rowsBig>
  */
object ProbeJoinMv {
  def main(args: Array[String]): Unit = {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(n: Long): (Double, Double, Double) = {
      val l = GateTmp.freshDir(s"probe_mvj_l_$n")
      val r = GateTmp.freshDir(s"probe_mvj_r_$n")
      val mv = GateTmp.freshDir(s"probe_mvj_mv_$n")
      SnapshotStore.init(spark, l, spark.range(n).selectExpr("id",
        "id * 3 AS v", "CAST(id % 10000 AS STRING) AS k"), cdcKeys = Seq("id"))
      // fact clustered by join key: localized refreshes row-group-prune
      SnapshotStore.optimize(spark, l, targetRows = math.max(n / 32, 1000L),
        clusterBy = Seq("k"))
      SnapshotStore.init(spark, r, spark.range(10000).selectExpr(
        "CAST(id AS STRING) AS k", "id + 7 AS w"), cdcKeys = Seq("k"))
      MatView.createJoin(spark, l, r, mv, Seq("k"))
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val dml = time {
        SqlDml.execute(spark,
          "UPDATE t SET v = v + 1 WHERE id < 1000", Map("t" -> l))
        SqlDml.execute(spark,
          "UPDATE t SET w = w + 1 WHERE k = '42'", Map("t" -> r))
      }
      // scattered: 1000 touched keys hash into ~all buckets -> rewrite
      // cost approaches a full pass (the worst case for bucket scoping)
      val scattered = time(MatView.refreshJoin(spark, l, r, mv, Seq("k")))
      // localized: ONE dim key -> 1-of-256 buckets rewritten, the shape
      // the bucket layout exists for (dim update rippling into the view)
      SqlDml.execute(spark,
        "UPDATE t SET w = w + 5 WHERE k = '7'", Map("t" -> r))
      val localized = time(MatView.refreshJoin(spark, l, r, mv, Seq("k")))
      (dml, scattered, localized)
    }
    run(nSmall) // warm-up
    val (sd, ss, sl) = run(nSmall)
    val (bd, bs, bl) = run(nBig)
    println(f"rows=$nSmall%d dml=$sd%.2fs scattered=$ss%.2fs localized=$sl%.2fs")
    println(f"rows=$nBig%d dml=$bd%.2fs scattered=$bs%.2fs localized=$bl%.2fs")
    println(f"growth dml=${bd / sd}%.2fx scattered=${bs / ss}%.2fx localized=${bl / sl}%.2fx")
    spark.stop()
  }
}

/** MV dependency-DAG refresh probe (round-16): a 4-view diamond —
  * `g0` (agg over the fact), `jmv` (fact ⋈ dim, change-emitting),
  * `g1`/`g2` (aggs over the join view) — driven by ONE `refreshAll` per
  * sink after a FIXED 1000-row fact update + one dim-key update. The walk
  * is O(#views); each refresh is O(change volume) (the shared upstream
  * refreshes once, later walks see it stamped current), so total
  * refreshAll time must track the per-refresh scan cost, never table
  * size — the same claim ProbeMv/ProbeJoinMv pin per layer, here pinned
  * through the DAG walk end to end.
  *
  * Usage: runMain graft.ProbeMvDiamond <rowsSmall> <rowsBig>
  */
object ProbeMvDiamond {
  def main(args: Array[String]): Unit = {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(n: Long): (Double, Double) = {
      val fact = GateTmp.freshDir(s"probe_dag_fact_$n")
      val dim = GateTmp.freshDir(s"probe_dag_dim_$n")
      val jmv = GateTmp.freshDir(s"probe_dag_jmv_$n")
      val g0 = GateTmp.freshDir(s"probe_dag_g0_$n")
      val g1 = GateTmp.freshDir(s"probe_dag_g1_$n")
      val g2 = GateTmp.freshDir(s"probe_dag_g2_$n")
      SnapshotStore.init(spark, fact, spark.range(n).selectExpr("id",
        "id * 3 AS v", "CAST(id % 10000 AS STRING) AS k"), cdcKeys = Seq("id"))
      SnapshotStore.optimize(spark, fact,
        targetRows = math.max(n / 32, 1000L), clusterBy = Seq("k"))
      SnapshotStore.init(spark, dim, spark.range(10000).selectExpr(
        "CAST(id AS STRING) AS k", "CAST(id % 50 AS STRING) AS region",
        "id + 7 AS w"), cdcKeys = Seq("k"))
      MatView.create(spark, fact, g0, Seq("k"), "v")
      MatView.createJoin(spark, fact, dim, jmv, Seq("k"), emitChanges = true)
      MatView.create(spark, jmv, g1, Seq("region"), "v")
      MatView.create(spark, jmv, g2, Seq("k"), "w")
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val dml = time {
        SqlDml.execute(spark,
          "UPDATE t SET v = v + 1 WHERE id < 1000", Map("t" -> fact))
        SqlDml.execute(spark,
          "UPDATE t SET w = w + 1 WHERE k = '42'", Map("t" -> dim))
      }
      // one call per sink: the first refreshes jmv + g1 (+ g0's walk is
      // independent); later walks find shared upstreams stamped current
      val walk = time {
        MatView.refreshAll(spark, g0)
        MatView.refreshAll(spark, g1)
        MatView.refreshAll(spark, g2)
      }
      (dml, walk)
    }
    run(nSmall) // warm-up
    val (sd, sw) = run(nSmall)
    val (bd, bw) = run(nBig)
    println(f"rows=$nSmall%d dml=$sd%.2fs refreshAll=$sw%.2fs")
    println(f"rows=$nBig%d dml=$bd%.2fs refreshAll=$bw%.2fs")
    println(f"growth dml=${bd / sd}%.2fx refreshAll=${bw / sw}%.2fx")
    spark.stop()
  }
}

/** OPTIMIZE ZORDER scale probe (round-11): time the z-order rewrite and
  * the pruned 2-D rectangle read it buys, at two table sizes. The rewrite
  * is one approxQuantile sketch pass + one range-shuffle-and-sort — it
  * must grow ~linearly (sort-bound), never super-linearly from the
  * bucketing. The rectangle read must stay pinned to the files the curve
  * keeps (~constant FRACTION of the table), with the full-scan control
  * growing linearly — the widening gap is what the layout buys.
  *
  * Usage: runMain graft.ProbeZorder <rowsSmall> <rowsBig>
  */
object ProbeZorder {
  def main(args: Array[String]): Unit = {
    import graft.sources.SnapshotStore
    import org.apache.spark.sql.functions.col
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(n: Long): (Double, Double, Double, Int, Int) = {
      val root = GateTmp.freshDir(s"probe_z_$n")
      // two independent skewed-ish dims + payload pad (realistic row width)
      val df = spark.range(n).selectExpr(
        "abs(hash(id * 2 + 1)) % 1000000 AS x",
        "abs(hash(id * 2)) % 1000000 AS y",
        "repeat('x', 64) AS pad")
      SnapshotStore.init(spark, root, df.repartition(8))
      val opt = time(SnapshotStore.optimize(spark, root,
        targetRows = math.max(1, n / 64), statsCols = Seq("x", "y"),
        zorderBy = Seq("x", "y")))
      val snap = SnapshotStore.latest(root)
      val (lo, hi) = (400000L, 600000L) // middle-fifth rectangle, both dims
      val pred = col("max_x") >= lo && col("min_x") <= hi &&
        col("max_y") >= lo && col("min_y") <= hi
      val (prunedDf, kept, total) = SnapshotStore.readPruned(spark, snap, pred)
      val rect = col("x").between(lo, hi) && col("y").between(lo, hi)
      val pruned = time(prunedDf.filter(rect).selectExpr("count(*)").collect())
      val full = time(SnapshotStore.read(spark, snap)
        .filter(rect).selectExpr("count(*)").collect())
      (opt, pruned, full, kept, total)
    }
    run(nSmall) // warm-up: JIT + parquet codepaths
    val (so, sp, sf, sk, st) = run(nSmall)
    val (bo, bp, bf, bk, bt) = run(nBig)
    println(f"rows=$nSmall%d optimize=$so%.2fs pruned-rect=$sp%.2fs " +
      f"full-rect=$sf%.2fs kept=$sk/$st")
    println(f"rows=$nBig%d optimize=$bo%.2fs pruned-rect=$bp%.2fs " +
      f"full-rect=$bf%.2fs kept=$bk/$bt")
    println(f"growth optimize=${bo / so}%.2fx pruned=${bp / sp}%.2fx " +
      f"full=${bf / sf}%.2fx pruned-vs-full-at-big=${bf / bp}%.2fx")
    spark.stop()
  }
}

/** Identity-assignment scale probe: append batches of two sizes into a
  * GENERATED ALWAYS AS IDENTITY table. Assignment adds exactly two jobs
  * over the cached batch (per-partition counts + the assigning write), so
  * its cost must track the batch ~linearly — any super-linear growth
  * would mean the allocation machinery scans something table-sized.
  *
  * Usage: runMain graft.ProbeIdentity <rowsSmall> <rowsBig>
  */
object ProbeIdentity {
  def main(args: Array[String]): Unit = {
    import graft.sources.SnapshotStore
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(n: Long): (Double, Double) = {
      val root = GateTmp.freshDir(s"probe_id_$n")
      val idMeta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("identity.start", 1L).putLong("identity.step", 1L)
        .putBoolean("identity.allowExplicitInsert", false).build()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true, idMeta),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      SnapshotStore.init(spark, root, spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      val batch = spark.range(n).selectExpr("id * 3 AS v")
      val assign = time(SnapshotStore.append(spark, root, batch))
      // control: the same append into an identity-free twin
      val root2 = GateTmp.freshDir(s"probe_idc_$n")
      SnapshotStore.init(spark, root2, spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(schema.fields.map(
          _.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))))
      val plain = time(SnapshotStore.append(spark, root2,
        batch.selectExpr("CAST(NULL AS BIGINT) AS id", "v")))
      (assign, plain)
    }
    run(nSmall) // warm-up: JIT + parquet codepaths
    val (sa, sp) = run(nSmall)
    val (ba, bp) = run(nBig)
    println(f"rows=$nSmall%d identity-append=$sa%.2fs plain-append=$sp%.2fs")
    println(f"rows=$nBig%d identity-append=$ba%.2fs plain-append=$bp%.2fs")
    println(f"growth identity=${ba / sa}%.2fx plain=${bp / sp}%.2fx " +
      f"overhead-at-big=${ba / bp}%.2fx")
    spark.stop()
  }
}

/** Append-cost scale probe (round-11): a FIXED 10k-row append into tables
  * of two sizes. Linked staging (appendLinked) makes the cost a
  * function of the BATCH plus O(#files) link metadata — near-flat in
  * table size; the pre-fix rewrite staging grew with the table and would
  * show ~10× here.
  *
  * Usage: runMain graft.ProbeAppend <rowsSmall> <rowsBig>
  */
object ProbeAppend {
  def main(args: Array[String]): Unit = {
    import graft.sources.SnapshotStore
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(n: Long): Double = {
      val root = GateTmp.freshDir(s"probe_app_$n")
      SnapshotStore.init(spark, root, spark.range(n)
        .selectExpr("id", "id * 3 AS v", "repeat('x', 64) AS pad")
        .repartition(32))
      val batch = spark.range(n, n + 10000)
        .selectExpr("id", "id * 3 AS v", "repeat('x', 64) AS pad")
      time(SnapshotStore.append(spark, root, batch))
    }
    run(nSmall) // warm-up: JIT + parquet codepaths
    val s1 = run(nSmall)
    val b1 = run(nBig)
    println(f"rows=$nSmall%d append-10k=$s1%.2fs")
    println(f"rows=$nBig%d append-10k=$b1%.2fs")
    println(f"growth=${b1 / s1}%.2fx (flat = O(batch) staging)")
    spark.stop()
  }
}

/** WRITE-AUDIT-PUBLISH branch scale probe: fork + a FIXED staged DML +
  * squash publish on tables of two sizes. Fork and publish are both
  * hard-link walks (O(#files) metadata ops, zero data movement) and the
  * staged DML is partition-scoped, so the whole WAP cycle must stay
  * near-flat in table size — the property that makes staging a 100 TB
  * table's release branch affordable at all.
  *
  * Usage: runMain graft.ProbeBranch <rowsSmall> <rowsBig>
  */
object ProbeBranch {
  def main(args: Array[String]): Unit = {
    import graft.sources.{SnapshotStore, SqlDml}
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(n: Long): (Double, Double, Double, Double) = {
      val root = GateTmp.freshDir(s"probe_br_$n")
      SnapshotStore.init(spark, root, spark.range(n)
        .selectExpr("id", "CAST(id % 24 AS STRING) AS p", "id * 3 AS v",
          "repeat('x', 64) AS pad").repartition(32),
        partitionBy = Seq("p"))
      val tFork = time(SnapshotStore.createBranch(spark, root, "rel"))
      val br = SnapshotStore.branchRoot(root, "rel")
      val tStage = time(SqlDml.execute(spark,
        "UPDATE t SET v = v + 1 WHERE p = '7'", Map("t" -> br)))
      val tPub = time(SnapshotStore.publishBranch(spark, root, "rel"))
      // REBASE leg, on a CDC twin (rebase needs the feed for its
      // disjointness proof): a FIXED staged edit, live ingest landing on
      // the source mid-audit, then a publish that must take the rebase
      // path — its diff nets from the branch's O(staged) change frames
      // and replays partition-scoped, never O(table)
      val rroot = GateTmp.freshDir(s"probe_brr_$n")
      SnapshotStore.init(spark, rroot, spark.range(n)
        .selectExpr("id", "CAST(id % 24 AS STRING) AS p", "id * 3 AS v",
          "repeat('x', 64) AS pad").repartition(32),
        partitionBy = Seq("p"), cdcKeys = Seq("id"))
      SnapshotStore.createBranch(spark, rroot, "rel")
      val rbr = SnapshotStore.branchRoot(rroot, "rel")
      SqlDml.execute(spark,
        "UPDATE t SET v = v + 1 WHERE p = '7' AND id < 24000",
        Map("t" -> rbr))
      SnapshotStore.append(spark, rroot, spark.range(10 * n, 10 * n + 10000)
        .selectExpr("id", "CAST(id % 24 AS STRING) AS p", "id * 3 AS v",
          "repeat('x', 64) AS pad"))
      val tReb = time(SnapshotStore.publishBranch(spark, rroot, "rel"))
      (tFork, tStage, tPub, tReb)
    }
    run(nSmall) // warm-up: JIT + parquet codepaths
    val (f1, s1, p1, r1) = run(nSmall)
    val (f2, s2, p2, r2) = run(nBig)
    println(f"rows=$nSmall%d fork=$f1%.2fs stage=$s1%.2fs publish=$p1%.2fs " +
      f"rebase-publish=$r1%.2fs")
    println(f"rows=$nBig%d fork=$f2%.2fs stage=$s2%.2fs publish=$p2%.2fs " +
      f"rebase-publish=$r2%.2fs")
    println(f"growth fork=${f2 / f1}%.2fx stage=${s2 / s1}%.2fx " +
      f"publish=${p2 / p1}%.2fx rebase=${r2 / r1}%.2fx " +
      "(flat = O(#files) links + scoped DML + O(diff) replay)")
    spark.stop()
  }
}

/** Incremental-compaction scale probe: a FIXED trickle (5 × 2k-row small
  * files) on pre-compacted, manifest-bearing tables of two sizes, then
  * `optimizeSmallFiles`. The rewrite reads only the trickle; the big
  * files hard-link (O(#kept) metadata ops) and their manifest rows carry
  * over path-rewritten (one manifest-scale job) — so growth must track
  * file COUNT, never table bytes. A full OPTIMIZE here would grow ~10×.
  *
  * Usage: runMain graft.ProbeSmallOptimize <rowsSmall> <rowsBig>
  */
object ProbeSmallOptimize {
  def main(args: Array[String]): Unit = {
    import graft.sources.SnapshotStore
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(n: Long): (Double, Double) = {
      val root = GateTmp.freshDir(s"probe_sopt_$n")
      SnapshotStore.init(spark, root, spark.range(n)
        .selectExpr("id", "id * 3 AS v", "repeat('x', 64) AS pad"))
      SnapshotStore.optimize(spark, root, targetRows = n / 20,
        clusterBy = Seq("id"), statsCols = Seq("id"))
      for (i <- 0 until 5)
        SnapshotStore.append(spark, root, spark.range(n + i * 2000,
            n + (i + 1) * 2000)
          .selectExpr("id", "id * 3 AS v", "repeat('x', 64) AS pad")
          .coalesce(1))
      val incr = time(SnapshotStore.optimizeSmallFiles(spark, root,
        targetRows = n / 20, smallFileRows = n / 40))
      // contrast: the full rewrite the incremental path avoids
      val full = time(SnapshotStore.optimize(spark, root,
        targetRows = n / 20, statsCols = Seq("id")))
      (incr, full)
    }
    run(nSmall) // warm-up: JIT + parquet codepaths
    val (si, sf) = run(nSmall)
    val (bi, bf) = run(nBig)
    println(f"rows=$nSmall%d incremental=$si%.2fs full=$sf%.2fs")
    println(f"rows=$nBig%d incremental=$bi%.2fs full=$bf%.2fs")
    println(f"growth incremental=${bi / si}%.2fx full=${bf / sf}%.2fx " +
      f"speedup-at-big=${bf / bi}%.2fx")
    spark.stop()
  }
}

/** Txn-checkpoint probe: SAME commit log (fixed 150 stamped commits),
  * lastTxnVersion latency before any fold (parses all 150 commit files)
  * vs after one fold (checkpoint + empty tail). This is the per-micro-
  * batch idempotence read of every streaming sink — pre-checkpoint it
  * grew linearly with stream age.
  *
  * Usage: runMain graft.ProbeTxnCheckpoint [commits]
  */
object ProbeTxnCheckpoint {
  def main(args: Array[String]): Unit = {
    import graft.sources.SnapshotStore
    val commits = args.headOption.map(_.toInt).getOrElse(150)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = GateTmp.freshDir("probe_ckpt")
    SnapshotStore.init(spark, root, spark.range(10).selectExpr("id", "id AS v"))
    for (i <- 1 to commits)
      SnapshotStore.append(spark, root,
        spark.range(1).selectExpr("id + 1000 AS id", "id AS v").coalesce(1),
        txn = Some(SnapshotStore.Txn("probe", i.toLong)))
    def bench(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 200) {
        SnapshotStore.lastTxnVersion(root, "probe"); i += 1
      }
      (System.nanoTime() - t0) / 1e9 / 200
    }
    // the appends cross the 64-commit fold boundary, so a checkpoint
    // already exists; measure as-is (tail ≤ 64) vs fully folded (tail 0)
    val tailed = bench()
    SnapshotStore.writeTxnCheckpoint(root, SnapshotStore.latest(root).version)
    val folded = bench()
    println(f"commits=$commits%d per-read tail<=64=${tailed * 1000}%.2fms " +
      f"folded=${folded * 1000}%.2fms ratio=${tailed / folded}%.1fx")
    spark.stop()
  }
}

/** Head-pointer probe: `SnapshotStore.latest` latency at 10× the commit
  * count, with the `_head` hint present (one read + one forward stat —
  * O(1)) vs deleted before every call (the legacy full directory listing —
  * O(commits)). latest() runs inside the OPTIMIZER (MvRewrite freshness
  * pins), per DML statement, and per micro-batch, so at a long-lived
  * warehouse's 10⁴–10⁵ commits the listing was a planning-latency tax on
  * every statement; the pointer must make it flat across commit counts.
  *
  * Usage: runMain graft.ProbeLatest <commitsSmall> <commitsBig>
  */
object ProbeLatest {
  def main(args: Array[String]): Unit = {
    import graft.sources.SnapshotStore
    val Array(nSmall, nBig) = args.take(2).map(_.toInt)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def build(n: Int): String = {
      val root = GateTmp.freshDir(s"probe_head_$n")
      SnapshotStore.init(spark, root,
        spark.range(10).selectExpr("id", "id AS v"))
      for (_ <- 1 to n)
        SnapshotStore.append(spark, root,
          spark.range(1).selectExpr("id + 1000 AS id", "id AS v").coalesce(1))
      root
    }
    def bench(root: String, dropHint: Boolean): Double = {
      val head = java.nio.file.Paths.get(root, "_commits", "_head")
      val reps = 300
      val t0 = System.nanoTime()
      var i = 0
      while (i < reps) {
        if (dropHint) java.nio.file.Files.deleteIfExists(head)
        SnapshotStore.latest(root); i += 1
      }
      (System.nanoTime() - t0) / 1e9 / reps * 1e6 // µs per read
    }
    val (small, big) = (build(nSmall), build(nBig))
    val hs = bench(small, dropHint = false)
    val hb = bench(big, dropHint = false)
    val ls = bench(small, dropHint = true)
    val lb = bench(big, dropHint = true)
    println(f"commits=$nSmall%d->$nBig%d head_small=$hs%.1fus " +
      f"head_big=$hb%.1fus (ratio=${hb / hs}%.2fx) " +
      f"listing_small=$ls%.1fus listing_big=$lb%.1fus " +
      f"(ratio=${lb / ls}%.2fx)")
    spark.stop()
  }
}

/** MV planner-tax probe: per-statement PLANNING latency of an aggregate
  * query over a table that HAS materialized views, at 10× the commit
  * count. Round 18 fixed the no-MV case (one Files.exists short-circuit);
  * the remaining tax was on MV-bearing tables — the freshness pins'
  * `lastTxnVersions` still LISTED the whole commits dir per plan node,
  * and nothing in MvRewrite was memoized per optimizer pass, so a plan
  * with several candidate nodes re-paid sidecar + stamp reads per node
  * per fixed-point iteration (VERDICT r18 #1). With the version-probed
  * txn tail (bounded by the 64-commit checkpoint fold) and the per-apply
  * memo, per-plan overhead must be FLAT across commit counts. The probe
  * plans a two-aggregate UNION (two rewrite candidates in one plan) over
  * a table carrying TWO views, with the rule on vs off, at both commit
  * counts.
  *
  * Usage: runMain graft.ProbeMvPlanTax <commitsSmall> <commitsBig>
  */
object ProbeMvPlanTax {
  def main(args: Array[String]): Unit = {
    import graft.sources.{MatView, SnapshotStore, MvRewrite}
    val Array(nSmall, nBig) = args.take(2).map(_.toInt)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.install(spark)
    // fabricate a LONG commit log cheaply: re-point versions at the last
    // real commit's content (dataDir + txn stamps — the shape of repeated
    // metadata-only rewrites), advance the head pointer, cut the txn
    // checkpoint at the last fold boundary as tryCommit would have. The
    // measured surface is planning-time METADATA reads, which see only
    // the log's SIZE — driving 3000 real one-row Spark appends measures
    // the same files 100× slower.
    def fabricate(root: String, upTo: Long): Unit = {
      val dir = java.nio.file.Paths.get(root, "_commits")
      val last = SnapshotStore.latest(root)
      val content = java.nio.file.Files.readString(
        dir.resolve(f"${last.version}%020d.commit"))
      for (v <- last.version + 1 to upTo)
        java.nio.file.Files.writeString(
          dir.resolve(f"$v%020d.commit"), content)
      java.nio.file.Files.writeString(dir.resolve("_head"), upTo.toString)
      val ckpt = upTo - (upTo % SnapshotStore.TxnCheckpointInterval)
      if (ckpt > 0) SnapshotStore.writeTxnCheckpoint(root, ckpt)
    }
    def build(n: Int): String = {
      val wh = GateTmp.freshDir(s"probe_mvtax_$n")
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      spark.sql(s"DROP TABLE IF EXISTS graft.t$n")
      spark.sql(s"CREATE TABLE graft.t$n (id BIGINT, v BIGINT, g STRING, " +
        "g2 STRING) TBLPROPERTIES ('cdc.keys' = 'id')")
      val root = s"$wh/t$n"
      spark.range(1000).selectExpr("id", "id * 3 AS v",
        "CAST(id % 16 AS STRING) AS g", "CAST(id % 8 AS STRING) AS g2")
        .createOrReplaceTempView(s"probe_mvtax_src_$n")
      spark.sql(s"INSERT INTO graft.t$n SELECT * FROM probe_mvtax_src_$n")
      // the source log grows first; the views are created AT its head so
      // their freshness stamps pin the fabricated head (serving path, not
      // the staleness refusal). Then each VIEW's own log grows to n — a
      // long-refreshed view is where lastTxnVersion paid the O(commits)
      // listing per plan node (each fabricated commit re-asserts the same
      // stamp, exactly like replayed refresh commits).
      fabricate(root, n.toLong)
      val mv1 = GateTmp.freshDir(s"probe_mvtax_mv1_$n")
      val mv2 = GateTmp.freshDir(s"probe_mvtax_mv2_$n")
      MatView.create(spark, root, mv1, Seq("g"), "v")
      MatView.create(spark, root, mv2, Seq("g2"), "v")
      fabricate(mv1, n.toLong)
      fabricate(mv2, n.toLong)
      root
    }
    def bench(n: Int): (Double, Double) = {
      val q = s"""SELECT g AS k, count(*) AS c, sum(v) AS s
        |FROM graft.t$n GROUP BY g
        |UNION ALL
        |SELECT g2 AS k, count(*) AS c, sum(v) AS s
        |FROM graft.t$n GROUP BY g2""".stripMargin
      def planMs(reps: Int): Double = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < reps) { spark.sql(q).queryExecution.optimizedPlan; i += 1 }
        (System.nanoTime() - t0) / 1e6 / reps
      }
      planMs(10) // warm-up
      val on = planMs(50)
      spark.conf.set(MvRewrite.EnabledKey, "false")
      val off = planMs(50)
      spark.conf.set(MvRewrite.EnabledKey, "true")
      (on, off)
    }
    // bench each size right after its build (the catalog warehouse conf
    // points at one dir at a time), then RE-bench small with the JVM
    // fully warm: the first small reading absorbs JIT/first-plan costs,
    // so growth is honest only against the warm re-read
    build(nSmall)
    val (onS, offS) = bench(nSmall)
    build(nBig)
    val (onB, offB) = bench(nBig)
    build(nSmall + 1) // fresh dirs, same commit count
    val (onS2, offS2) = bench(nSmall + 1)
    println(f"commits=$nSmall%d (cold) plan_on=$onS%.2fms plan_off=$offS%.2fms " +
      f"overhead=${onS - offS}%.2fms")
    println(f"commits=$nBig%d plan_on=$onB%.2fms plan_off=$offB%.2fms " +
      f"overhead=${onB - offB}%.2fms")
    println(f"commits=${nSmall + 1}%d (warm) plan_on=$onS2%.2fms " +
      f"plan_off=$offS2%.2fms overhead=${onS2 - offS2}%.2fms")
    println(f"overhead growth (big/warm-small)=" +
      f"${(onB - offB) / math.max(onS2 - offS2, 0.01)}%.2fx")
    spark.stop()
  }
}

/** COPY-INTO scale probe: a FIXED 10-file ingest against drop zones whose
  * LEDGER differs 10× (already-loaded file count). The per-run cost must
  * track the new batch, never the history: candidate listing is O(zone)
  * driver-side names, the ledger probe is one txn-checkpoint read + a
  * bounded commit-log tail (stamps fold every 64 commits), and the
  * read+append is one distributed job over the 10 new files. A ledger
  * probed one lastTxnVersion call per file — or stamps that never fold —
  * would grow with total-ever-ingested and show ~10× here.
  *
  * Usage: runMain graft.ProbeCopyInto <filesSmall> <filesBig>
  */
object ProbeCopyInto {
  def main(args: Array[String]): Unit = {
    import graft.sources.{CopyInto, SnapshotStore}
    val Array(nSmall, nBig) = args.take(2).map(_.toInt)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(preloaded: Int): Double = {
      val root = GateTmp.freshDir(s"probe_ci_$preloaded")
      val drop = GateTmp.freshDir(s"probe_ci_drop_$preloaded")
      SnapshotStore.init(spark, root,
        spark.range(0).selectExpr("id", "id AS v"))
      // history: `preloaded` files ingested across many commits, so the
      // ledger spans checkpoint folds, not one fat commit
      for (g <- 0 until preloaded / 10) {
        for (i <- 0 until 10)
          spark.range(g * 10 + i, g * 10 + i + 1).selectExpr("id", "id AS v")
            .coalesce(1).write.parquet(s"$drop/old_${g * 10 + i}")
        CopyInto.run(spark, root, drop)
      }
      // the measured work: 10 NEW files against that history
      for (i <- 0 until 10)
        spark.range(1000000 + i, 1000000 + i + 1).selectExpr("id", "id AS v")
          .coalesce(1).write.parquet(s"$drop/new_$i")
      time {
        val r = CopyInto.run(spark, root, drop)
        require(r.filesLoaded == 10L && r.filesSkipped == preloaded.toLong,
          s"probe invariant: $r")
      }
    }
    run(nSmall) // warm-up
    val s1 = run(nSmall)
    val b1 = run(nBig)
    println(f"ledger=$nSmall%d copy-into-10=$s1%.2fs")
    println(f"ledger=$nBig%d copy-into-10=$b1%.2fs")
    println(f"growth=${b1 / s1}%.2fx (flat = O(batch) ingest, log-scale ledger)")
    spark.stop()
  }
}

/** Partition-spec-evolution scale probe: on flat tables of two sizes,
  * (a) the SET PARTITION SPEC commit itself — metadata-only, O(#files)
  * hard links, so near-flat when file count is held at 32; (b) a FIXED
  * 10k-row append onto the spanning table — O(batch) staging under the
  * new spec's subtree plus the same link metadata; (c) a partition-
  * predicate read across both eras — the new-spec branch directory-
  * prunes, the old branch scans its row groups, so growth tracks the OLD
  * era's data (the honest Iceberg bound: pre-evolution files have no
  * directories to prune until the migrating OPTIMIZE).
  *
  * Usage: runMain graft.ProbeSpecEvolution <rowsSmall> <rowsBig>
  */
object ProbeSpecEvolution {
  def main(args: Array[String]): Unit = {
    import graft.sources.SnapshotStore
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(n: Long): (Double, Double, Double, Double) = {
      val root = GateTmp.freshDir(s"probe_pe_$n")
      SnapshotStore.init(spark, root, spark.range(n)
        .selectExpr("id", "CAST(id % 16 AS STRING) AS k",
          "repeat('x', 64) AS pad")
        .repartition(32))
      val evolve = time(SnapshotStore.alterPartitionSpec(spark, root, Seq("k")))
      val batch = spark.range(n, n + 10000)
        .selectExpr("id", "CAST(id % 16 AS STRING) AS k",
          "repeat('x', 64) AS pad")
      val append = time(SnapshotStore.append(spark, root, batch))
      val read = time {
        val c = SnapshotStore.read(spark, root)
          .filter(org.apache.spark.sql.functions.col("k") === "3").count()
        require(c > 0, "probe invariant: partition-filtered rows exist")
      }
      // per-era scoped DML while the span is pending: a fixed ~100-row
      // UPDATE must rewrite only the files holding matches in each era —
      // O(touched files), never the table (the pre-round-14 full-COW heal
      // would grow ~10× here)
      val dml = time(graft.sources.SqlDml.execute(spark,
        s"UPDATE t SET pad = 'y' WHERE id >= $n AND id < ${n + 100}",
        Map("t" -> root)))
      require(SnapshotStore.isEvolved(SnapshotStore.latest(root).dataDir),
        "probe invariant: scoped DML must keep the span")
      (evolve, append, read, dml)
    }
    run(nSmall) // warm-up
    val (es, as_, rs, ds) = run(nSmall)
    val (eb, ab, rb, db) = run(nBig)
    println(f"rows=$nSmall%d evolve=$es%.2fs append-10k=$as_%.2fs " +
      f"pruned-read=$rs%.2fs spanning-dml=$ds%.2fs")
    println(f"rows=$nBig%d evolve=$eb%.2fs append-10k=$ab%.2fs " +
      f"pruned-read=$rb%.2fs spanning-dml=$db%.2fs")
    println(f"growth evolve=${eb / es}%.2fx append=${ab / as_}%.2fx " +
      f"read=${rb / rs}%.2fx dml=${db / ds}%.2fx " +
      "(evolve/append/dml flat; read tracks the old era)")
    spark.stop()
  }
}

/** Composed-pruning scale probe (partitioned table + stats manifest,
  * allowed since round 13): directory pruning takes the partition dim,
  * per-file [min,max] intervals take the clustered non-partition column
  * WITHIN the kept directory. A one-partition one-band query should stay
  * near-flat at 10× data: the directory prune drops (P-1)/P of the files
  * at listing time and the manifest drops most of the rest at planning
  * time, so the scan touches ~the band's files at either size.
  *
  * Usage: runMain graft.ProbeComposePrune <rowsSmall> <rowsBig>
  */
object ProbeComposePrune {
  def main(args: Array[String]): Unit = {
    import graft.sources.SnapshotStore
    val Array(nSmall, nBig) = args.take(2).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(n: Long): (Double, Int, Int) = {
      val wh = GateTmp.freshDir(s"probe_cp_$n")
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val t = s"cp$n"
      spark.sql(s"CREATE TABLE graft.$t (id BIGINT, seg BIGINT, v BIGINT) " +
        "PARTITIONED BY (seg)")
      spark.range(n).selectExpr("id", "id % 8 AS seg", "id * 3 AS v")
        .createOrReplaceTempView(s"src_$t")
      spark.sql(s"INSERT INTO graft.$t SELECT * FROM src_$t")
      spark.sql(s"CALL graft.system.optimize('$t', ${math.max(n / 64, 1000L)}, " +
        "'id', 'id')")
      val root = s"$wh/$t"
      val snap = SnapshotStore.latest(root)
      val total = SnapshotStore.manifest(spark, snap).count().toInt
      val (_, kept, _) = SnapshotStore.readPruned(spark, snap,
        org.apache.spark.sql.functions.col("max_id") < n / 50)
      val q = time {
        val r = spark.sql(s"SELECT count(*), sum(v) FROM graft.$t " +
          s"WHERE seg = 3 AND id BETWEEN ${n / 100} AND ${n / 50}").head()
        require(r.getLong(0) > 0, "probe invariant: band is non-empty")
      }
      (q, kept, total)
    }
    run(nSmall) // warm-up
    val (qs, ks, ts) = run(nSmall)
    val (qb, kb, tb) = run(nBig)
    println(f"rows=$nSmall%d band-query=$qs%.2fs manifest-kept=$ks/$ts")
    println(f"rows=$nBig%d band-query=$qb%.2fs manifest-kept=$kb/$tb")
    println(f"growth=${qb / qs}%.2fx (flat = dir prune x interval prune)")
    spark.stop()
  }
}
