package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.sources.SnapshotStore
import graft.streaming.{EnrichmentPipeline, HttpIngestSource, RejectChannel, SnapshotMergeSink}

/** The system-under-test side of the benchmark: one JVM that sets up a
  * workload, runs it while the separate generator process drives it, and
  * then writes everything the harness needs to check and score the run
  * into the run directory. Only public engine entry points are called;
  * every per-layer number comes from timing those calls or from listeners
  * this class registers itself.
  *
  * Arguments are `--key value` pairs; see `run.py`, which launches it.
  * Protocol on stdout: `@@ready` once set-up is done, `@@done` at the end.
  * On stdin the harness answers `@@ready` with `go` (enrich_writeback,
  * query_mix) or, for the ingest workloads, writes `drain` once the
  * generator finished.
  */
object Sut {
  def nowUs(): Long = Gen.nowUs()

  /** In-memory span log; written out only at the end of a traced run. */
  final case class Span(id: String, parent: String, name: String,
      startUs: Long, endUs: Long, req: String)

  /** Records only while `recording`: the traced run's window. */
  final class Tracer(val on: Boolean) {
    @volatile var recording = false
    val spans = new ConcurrentLinkedQueue[Span]()
    def add(s: Span): Unit = if (recording) spans.add(s)
    def span[T](id: String, parent: String, name: String, req: String = "")(f: => T): T = {
      val t0 = nowUs()
      try f finally add(Span(id, parent, name, t0, nowUs(), req))
    }
  }

  /** Per-job-group execution totals from a [[SparkListener]]. */
  final class ExecListener(tracer: Tracer) extends SparkListener {
    final class Agg {
      var jobs, stages, tasks, shuffleWrite, runMs, cpuNs = 0L
    }
    val byGroup = mutable.Map.empty[String, Agg]
    private val stageGroup = mutable.Map.empty[Int, String]
    private val jobStart = mutable.Map.empty[Int, (Long, String)]
    private def agg(g: String) = byGroup.getOrElseUpdate(g, new Agg)
    private def groupOf(p: java.util.Properties) =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = groupOf(e.properties)
      agg(g).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = g)
      jobStart(e.jobId) = (nowUs(), g)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, g) =>
        tracer.add(Span(s"job-${e.jobId}", g, "spark.job", t0, nowUs(), ""))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      agg(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = agg(stageGroup.getOrElse(e.stageId, ""))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
      }
    }
    def total(pred: String => Boolean): Agg = synchronized {
      val t = new Agg
      byGroup.foreach { case (g, a) if pred(g) =>
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.shuffleWrite += a.shuffleWrite; t.runMs += a.runMs; t.cpuNs += a.cpuNs
      case _ => () }
      t
    }
  }

  /** Micro-batch progress: per-batch durations, as Spark reports them. */
  final class StreamListener(tracer: Tracer) extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp)
        val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000
        val trigger = d.getOrElse("triggerExecution", 0L)
        tracer.add(Span(s"batch-${p.batchId}", "", "stream.batch", startUs,
          startUs + trigger * 1000L, ""))
        batches.add(Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "start_us" -> startUs, "trigger_ms" -> trigger,
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "latest_offset_ms" -> d.getOrElse("latestOffset", 0L),
          "offset_log_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L))))
      }
    }
  }

  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The peak of the heap in use right after a collection: the live set,
    * where the resident peak also counts garbage and native memory.
    */
  final class HeapAfterGc extends javax.management.NotificationListener {
    private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    @volatile var peakMb = 0.0
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peakMb = math.max(peakMb, used / (1024.0 * 1024.0)) }
      }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
  }

  private def vmHwmMb(): Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Wire schema of a generated ingest record, and the table's schema. */
  val Wire: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("yearsofexp", IntegerType), StructField("salary", LongType),
    StructField("gseq", LongType), StructField("due_us", LongType)))

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    new Sut(o).run()
  }
}

final class Sut(o: Map[String, String]) {
  import Sut._

  private val workload = o("workload")
  private val dir = Paths.get(o("dir"))
  private val data = o("data")
  private val seconds = o("seconds").toDouble
  private val reps = o("setup_reps").toInt
  private val tracer = new Tracer(o("trace") == "1")
  private val result = mutable.LinkedHashMap.empty[String, Any]
  private val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))

  private def say(msg: String): Unit = { println(s"@@$msg"); System.out.flush() }

  private lazy val spark: SparkSession = SparkSession.builder()
    .master(s"local[${o("cpus")}]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", o("cpus"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
    .config("spark.local.dir", dir.resolve("local").toString)
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
    .config("spark.sql.streaming.noDataProgressEventInterval", "3600000")
    .getOrCreate()

  private var exec: ExecListener = _
  private var stream: StreamListener = _

  def run(): Unit = {
    val walDir = Paths.get(sys.env("GRAFT_WAL_DIR"))
    // the WAL replays by design: a log left by an aborted run would inject
    // its rows into this one, so a run only starts on an empty WAL dir
    if (Files.exists(walDir) && Files.list(walDir).iterator().hasNext)
      throw new IllegalStateException(s"WAL dir $walDir is not empty")
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    spark.sparkContext.setLogLevel("ERROR")
    result("setup_session_s") = (nowUs() - jvmStartUs) / 1e6
    val heap = new HeapAfterGc
    try {
      workload match {
        case "ingest_steady" | "ingest_flood" => ingest()
        case "enrich_writeback" => enrichWriteback()
        case "query_mix" => queryMix()
      }
    } finally HttpIngestSource.stopAll()
    result("heap_after_gc_peak_mb") = heap.peakMb
    result("rss_peak_mb") = vmHwmMb()
    writeJson(dir.resolve("sut.json"), result.toMap)
    if (tracer.on) {
      val w = new PrintWriter(dir.resolve("spans.jsonl").toFile, "UTF-8")
      tracer.spans.forEach(s => w.println(
        s"""{"id":${Json.str(s.id)},"parent":${Json.str(s.parent)},"name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs},"req":${Json.str(s.req)}}"""))
      w.close()
    }
    spark.stop()
    say("done")
  }

  /** Set-up (preload and warm-up) is repeated `reps` times and the median
    * reported; the state of the last repetition is what the measured window
    * uses. JVM and Spark session start are left out: they swing with the
    * host far more than with the engine.
    */
  private def setup[T](prepare: Int => T): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (r <- 0 until reps) {
      val t0 = nowUs()
      last = Some(prepare(r))
      times += (nowUs() - t0) / 1e6
    }
    result("setup_reps_s") = times.toSeq
    result("setup_s") = median(times.toSeq)
    last.get
  }

  private def awaitGo(): Unit = {
    say("ready")
    val cmd = stdin.readLine()
    require(cmd == "go", s"unexpected command '$cmd'")
  }

  private def startWindow(): (Double, Long) = {
    if (tracer.on) {
      tracer.recording = true
      exec = new ExecListener(tracer)
      spark.sparkContext.addSparkListener(exec)
      stream = new StreamListener(tracer)
      spark.streams.addListener(stream)
    }
    (Gen.cpuSeconds(), gcMs())
  }

  private def endWindow(cpu0: Double, gc0: Long): Unit = {
    result("jvm_cpu_s") = Gen.cpuSeconds() - cpu0
    result("jvm_gc_ms") = gcMs() - gc0
    if (tracer.on) {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      tracer.recording = false
      spark.sparkContext.removeSparkListener(exec)
      spark.streams.removeListener(stream)
    }
  }

  private def execTotals(pred: String => Boolean): Map[String, Any] = {
    val a = exec.total(pred)
    Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "shuffle_write_bytes" -> a.shuffleWrite, "run_ms" -> a.runMs,
      "cpu_ms" -> a.cpuNs / 1e6)
  }

  /** Runs `f` with every Spark job it starts tagged with job group `g`. */
  private def inGroup[T](g: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", g)
    try f finally sc.setLocalProperty("spark.jobGroup.id", prev)
  }

  // ---- ingest_steady / ingest_flood --------------------------------------

  private final class BatchLog(val batchId: Long, val mergeStartUs: Long,
      val commitUs: Long, val newFiles: Long, val newBytes: Long,
      val rejected: Long, val gseqs: Array[Long])

  private def ingest(): Unit = {
    val flood = workload == "ingest_flood"
    val ports = o("ports").split(",").map(_.toInt)
    val employees = spark.read.parquet(s"$data/employees.parquet")
    val batches = new ConcurrentLinkedQueue[BatchLog]()
    val seenInodes = mutable.Set.empty[Any]

    def start(r: Int): (String, StreamingQuery) = {
      val root = dir.resolve(s"tables/ingest-$r").toString
      SnapshotStore.init(spark, root, employees, cdcKeys = Seq("id"))
      if (flood) SnapshotStore.setDmlMode(root, SnapshotStore.MergeOnRead)
      val port = ports(r)
      HttpIngestSource.stateFor(port)
      // a few records on ids outside every generated range, acked before
      // the stream starts so they reach the first micro-batch together:
      // JIT, codegen and the commit path are warm when the window opens
      val conn = new Gen.Conn(port)
      try (1 to 8).foreach { i =>
        conn.post("/ingest", s"""{"id":${-i},"name":"w","yearsofexp":1,"salary":1,"gseq":${-i},"due_us":0}""")
      } finally conn.close()
      val reader = spark.readStream.format("graft.streaming.HttpIngestSource")
        .option("port", port.toString)
      val src = if (flood) reader.option("maxBufferedRows", o("max_buffered")) else reader
      val q = src.load().writeStream
        .option("checkpointLocation", dir.resolve(s"ckpt/ingest-$r").toString)
        .foreachBatch { (raw: DataFrame, batchId: Long) =>
          val (good, bad) = RejectChannel.split(raw, Wire)
          // SnapshotMergeSink needs key-unique batches: keep each key's
          // record with the highest generator sequence number
          val latest = good.withColumn("_r", row_number().over(
            Window.partitionBy("id").orderBy(col("gseq").desc))).filter(col("_r") === 1)
            .drop("_r", "ingest_ts")
          val mergeStart = nowUs()
          tracer.span(s"merge-$batchId", s"batch-$batchId", "merge.upsert") {
            inGroup(s"merge-$batchId") {
              SnapshotMergeSink.upsertBatch(root, "id", "perfbench")(latest, batchId)
            }
          }
          val commit = nowUs()
          // the reject leg runs after the commit returned, so it never
          // delays the rows this batch makes visible; its one job also
          // lists the batch's well-formed records, which the check holds
          // against what the batch committed
          val legs = tracer.span(s"reject-$batchId", s"batch-$batchId", "reject.count") {
            inGroup(s"reject-$batchId") {
              good.select(col("gseq"), lit(false).as("bad"))
                .unionByName(bad.select(lit(null).cast(LongType).as("gseq"), lit(true).as("bad")))
                .collect()
            }
          }
          val (badRows, goodRows) = legs.partition(_.getBoolean(1))
          var files, bytes = 0L
          if (tracer.on) {
            val s = SnapshotStore.latest(root)
            Files.walk(Paths.get(s.dataDir)).iterator().asScala
              .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
              .foreach { p =>
                if (seenInodes.add(Files.getAttribute(p, "unix:ino"))) {
                  files += 1; bytes += Files.size(p)
                }
              }
          }
          batches.add(new BatchLog(batchId, mergeStart, commit, files, bytes,
            badRows.length, goodRows.map(_.getLong(0))))
          ()
        }
        .start()
      (root, q)
    }

    val (root, q) = setup { r =>
      val (root, q) = start(r)
      q.processAllAvailable()
      if (r < reps - 1) {
        q.stop()
        HttpIngestSource.purge(ports(r))
      }
      (root, q)
    }
    batches.clear()
    seenInodes.clear()
    val port = ports(reps - 1)
    val state = HttpIngestSource.stateFor(port)
    val seq0 = state.seq.get()
    val v0 = SnapshotStore.latest(root).version
    if (tracer.on) Files.walk(Paths.get(SnapshotStore.latest(root).dataDir)).iterator()
      .asScala.filter(Files.isRegularFile(_)).foreach(p => seenInodes.add(Files.getAttribute(p, "unix:ino")))
    val (cpu0, gc0) = startWindow()
    // traced runs sample the ingest edge's gauges while the generator runs
    val gauges = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    @volatile var sampling = tracer.on
    val sampler = new Thread(() => {
      while (sampling) {
        gauges.add((nowUs(), state.buffered.get(), state.seq.get()))
        Thread.sleep(50)
      }
    }, "perfbench-gauges")
    sampler.setDaemon(true)
    sampler.start()
    say(s"ready port=$port")
    val cmd = stdin.readLine()
    require(cmd == "drain", s"unexpected command '$cmd'")
    q.processAllAvailable()
    val drainedUs = nowUs()
    sampling = false
    sampler.join()
    endWindow(cpu0, gc0)
    q.stop()
    result("drained_us") = drainedUs
    result("acked_by_server") = state.seq.get() - seq0
    result("rejected") = batches.asScala.map(_.rejected).sum

    // ---- untimed: map records to commits, dump what the checks need
    val hist = SnapshotStore.history(spark, root)
      .select(col("version"), col("txn_version")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
    val v1 = SnapshotStore.latest(root).version
    writeCsv(dir.resolve("history.csv"), "version,batch",
      hist.filter(_._1 > v0).map { case (v, b) => s"$v,$b" })
    writeCsv(dir.resolve("batches.csv"), "batch,merge_start_us,commit_us,new_files,new_bytes,rejected",
      batches.asScala.toSeq.map(b =>
        s"${b.batchId},${b.mergeStartUs},${b.commitUs},${b.newFiles},${b.newBytes},${b.rejected}"))
    writeCsv(dir.resolve("batch_rows.csv"), "batch,gseq",
      batches.asScala.toSeq.flatMap(b => b.gseqs.map(g => s"${b.batchId},$g")))
    if (v1 > v0) {
      val ch = SnapshotStore.changes(spark, root, v0 + 1, v1)
        .filter(col(SnapshotStore.ChangeTypeCol).isin("insert", "update_postimage"))
        .select(col("gseq"), col("id"), col(SnapshotStore.CommitVersionCol))
        .collect()
      writeCsv(dir.resolve("committed.csv"), "gseq,id,version",
        ch.map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}"))
    } else writeCsv(dir.resolve("committed.csv"), "gseq,id,version", Nil)
    SnapshotStore.read(spark, root).select("id", "salary", "gseq")
      .write.parquet(dir.resolve("final.parquet").toString)

    if (tracer.on) {
      val g = gauges.asScala.toSeq
      result("gauges") = g.map { case (t, b, s) => Seq(t, b, s - seq0) }
      result("stream_batches") = stream.batches.asScala.toSeq
      result("exec_merge") = execTotals(_.startsWith("merge-"))
      result("exec_all") = execTotals(_ => true)
      result("commits") = v1 - v0
    }
  }

  // ---- enrich_writeback -------------------------------------------------

  private def enrichWriteback(): Unit = {
    import spark.implicits._
    val url = s"http://127.0.0.1:${o("transform_port")}/transform"
    val employees = spark.read.parquet(s"$data/employees.parquet")
      .select("id", "name", "salary")
    var passes = 0
    def pass(root: String, n: Int): (Long, Long, Long) = {
      val t0 = nowUs()
      tracer.span(s"pass-$n", "", "enrich.pass") {
        val emps = SnapshotStore.read(spark, root)
          .select(col("id"), (col("id") % 30).cast("int").as("yearsofexp"), col("salary"))
          .as[EnrichmentPipeline.Emp]
        val updates = tracer.span(s"enrich-$n", s"pass-$n", "enrich.map") {
          inGroup(s"enrich-$n") {
            val u = EnrichmentPipeline.enrich(emps, EnrichmentPipeline.httpTransform(url),
              o("cpus").toInt).toDF().persist()
            u.count()
            u
          }
        }
        val t1 = nowUs()
        tracer.span(s"writeback-$n", s"pass-$n", "commit.writeback") {
          inGroup(s"writeback-$n") {
            SnapshotStore.transact(spark, root)(base =>
              EnrichmentPipeline.applyUpdates(base, updates))
          }
        }
        updates.unpersist()
        passes += 1
        (t0, t1, nowUs())
      }
    }
    val root = setup { r =>
      val root = dir.resolve(s"tables/emp-$r").toString
      SnapshotStore.init(spark, root, employees)
      passes = 0
      pass(root, -1 - r) // warm-up; it counts toward the salary check
      root
    }
    awaitGo()
    val (cpu0, gc0) = startWindow()
    val w0 = nowUs()
    val deadline = w0 + (seconds * 1e6).toLong
    val log = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var n = 0
    while (n == 0 || nowUs() < deadline) {
      log += pass(root, n)
      n += 1
    }
    endWindow(cpu0, gc0)
    result("passes_total") = passes
    result("rows") = SnapshotStore.read(spark, root).count()
    result("pass_log") = log.map { case (a, b, c) => Seq(a, b, c) }.toSeq
    SnapshotStore.read(spark, root).write.parquet(dir.resolve("final.parquet").toString)
    if (tracer.on) {
      result("exec_enrich") = execTotals(_.startsWith("enrich-"))
      result("exec_writeback") = execTotals(_.startsWith("writeback-"))
      result("exec_all") = execTotals(_ => true)
    }
  }

  // ---- query_mix --------------------------------------------------------

  /** Gates of [[graft.SparkEntry.queries]] that query_mix runs, in order. */
  private val Gates = Seq("q97_sql_statements")

  private def queryMix(): Unit = {
    val fns = Gates.map(g => g -> graft.SparkEntry.queries(g))
    /** One pass: build, plan and run every gate into the noop sink, the way
      * Bench does. Returns per gate (build, plan, exec) microseconds and
      * the built DataFrame.
      */
    def pass(n: Int): Seq[(Long, Long, Long, DataFrame)] = fns.map { case (g, fn) =>
      val id = s"$g-$n"
      // each step's jobs carry the step's span id as their job group
      def step[T](name: String)(f: => T): (T, Long) = {
        val t0 = nowUs()
        val r = tracer.span(s"$id-$name", id, s"query.$name")(inGroup(s"$id-$name")(f))
        (r, nowUs() - t0)
      }
      tracer.span(id, "", s"query.$g") {
        val (df, b) = step("build")(fn(spark, data))
        val (_, p) = step("plan")(df.queryExecution.executedPlan)
        val (_, e) = step("exec")(df.write.format("noop").mode("overwrite").save())
        (b, p, e, df)
      }
    }
    setup(r => pass(-1 - r))
    awaitGo()
    val (cpu0, gc0) = startWindow()
    val deadline = nowUs() + (seconds * 1e6).toLong
    val log = mutable.ArrayBuffer.empty[Seq[Seq[Long]]]
    var last = Seq.empty[DataFrame]
    while (log.isEmpty || nowUs() < deadline) {
      val runs = pass(log.length)
      log += runs.map { case (b, p, e, _) => Seq(b, p, e) }
      last = runs.map(_._4)
    }
    endWindow(cpu0, gc0)
    // ---- untimed: each gate's last result and its oracle, for the check
    for ((g, df) <- Gates.zip(last)) {
      df.write.parquet(dir.resolve(s"result-$g.parquet").toString)
      Files.writeString(dir.resolve(s"oracle-$g.sql"), graft.SparkEntry.oracleSql(g))
    }
    result("gates") = Gates
    result("pass_log") = log
    if (tracer.on) {
      result("gate_jobs") = Gates.map(g => execTotals(_.startsWith(s"$g-"))("jobs"))
      result("exec_all") = execTotals(_ => true)
    }
  }

  // ---- output -------------------------------------------------------------

  private def writeCsv(p: Path, header: String, rows: Iterable[String]): Unit = {
    val w = new PrintWriter(p.toFile, "UTF-8")
    w.println(header)
    rows.foreach(w.println)
    w.close()
  }

  private def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => Json.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${Json.str(k.toString)}:${toJson(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(toJson).mkString("[", ",", "]")
    case x => Json.str(x.toString)
  }

  private def writeJson(p: Path, m: Map[String, Any]): Unit =
    Files.writeString(p, toJson(m))
}
