package graft.streaming

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S7: the reference's HTTP JSON ingest endpoint
  * (`/addemployee`, Server/main.go:209-227,332) as a Structured Streaming
  * DataSource V2 — an embedded HTTP listener whose POST bodies become
  * micro-batch rows `(value STRING, ingest_ts TIMESTAMP)`.
  *
  * Semantics upgraded from the reference's at-most-once (drop on error,
  * Random/main.go:101-115): offsets are monotone sequence numbers, a batch
  * is the (start, end] slice, and rows are retained until `commit(end)` —
  * with checkpointing this is exactly-once into an idempotent sink. The
  * ingest-time timestamp column is T4.
  *
  * The 200 ack is DURABLE: each accepted body is appended and fsynced to a
  * per-port write-ahead log before the reply goes out, the log is replayed
  * into the buffer (and the sequence high-water mark restored) when the
  * listener is recreated, and `commit(end)` compacts committed entries
  * away. So a row the producer saw acked survives a driver crash — the
  * exactly-once contract holds from the ack, not merely from the first
  * committed batch. At 100 TB you front this with a durable PARTITIONED
  * log and swap the transport; the operator surface (schema, offsets,
  * drift handling downstream) stays identical.
  *
  * Usage: `spark.readStream.format("graft.streaming.HttpIngestSource")
  *   .option("port", "8642").load()` then POST bodies to
  * `http://localhost:8642/ingest`.
  *
  * Admission control: `option("maxRowsPerTrigger", N)` caps every
  * micro-batch at N rows via `SupportsAdmissionControl`/`ReadLimit`, so a
  * burst of arrivals drains over several bounded batches instead of
  * becoming one unbounded batch. The reference paces its client at
  * 1 rec/s (Random/main.go:121); this is the server-side equivalent a
  * 100 TB-intent edge needs. Default 0 = unbounded (all available).
  *
  * Backpressure: `option("maxBufferedRows", N)` bounds the listener's
  * in-memory buffer itself — once N rows await commit, further POSTs get
  * 503 (retriable "back off") instead of growing driver memory, and
  * committed batches free capacity. Together the two caps make the edge's
  * memory bounded end-to-end: buffer ≤ maxBufferedRows, batch ≤
  * maxRowsPerTrigger. The cap is strict: each POST reserves its row with
  * a CAS check-and-increment before appending, so concurrent handlers
  * never push the buffer past N.
  *
  * Cost of the durable ack: each accepted row's 200 goes out only after
  * an fsync covering its WAL record — but the fsync is GROUP COMMIT, not
  * per-row: handlers run on a small pool, appends serialize on the write
  * lock, and whichever handler reaches the sync lock first fsyncs once
  * for every record appended so far; the rest observe their record
  * already covered and reply without a second sync. Same "acked ⇒
  * durable" contract, one disk flush per concurrent burst instead of one
  * per row (the classic WAL group commit, the same amortization a
  * fronting partitioned log applies at 100 TB). The flood test pins the
  * floor this must clear.
  */
class HttpIngestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HttpIngestSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    def opt(key: String, dflt: String): String = {
      val v = properties.get(key)
      if (v != null) v else properties.getOrDefault(key.toLowerCase, dflt)
    }
    val maxPerPart = opt("maxRowsPerPartition", "1024").toInt
    if (maxPerPart <= 0) throw new IllegalArgumentException(
      s"maxRowsPerPartition must be positive, got $maxPerPart")
    val maxPerTrigger = opt("maxRowsPerTrigger", "0").toLong
    if (maxPerTrigger < 0) throw new IllegalArgumentException(
      s"maxRowsPerTrigger must be >= 0 (0 = unbounded), got $maxPerTrigger")
    val maxBuffered = opt("maxBufferedRows", "0").toLong
    if (maxBuffered < 0) throw new IllegalArgumentException(
      s"maxBufferedRows must be >= 0 (0 = unbounded), got $maxBuffered")
    val port = opt("port", "8642").toInt
    // applied at load() time so the listener backpressures producers even
    // before (or between) stream runs
    if (maxBuffered > 0) HttpIngestSource.stateFor(port).maxBufferedRows = maxBuffered
    new HttpIngestTable(port, maxPerPart, maxPerTrigger)
  }
}

object HttpIngestSource {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("ingest_ts", TimestampType)))

  /** One listener per port per JVM; get-or-create, idempotent. */
  private val servers = new ConcurrentHashMap[Int, ServerState]()

  final class ServerState(port: Int) {
    val seq = new AtomicLong(0L)
    // rows awaiting commit; 503-backpressure threshold (MaxValue = off)
    @volatile var maxBufferedRows: Long = Long.MaxValue
    val buffered = new AtomicLong(0L)
    // (seq, body, ingest micros); trimmed on commit
    val buffer = new java.util.concurrent.ConcurrentSkipListMap[Long, (String, Long)]()

    // --- write-ahead log: the durable-ack half of the exactly-once story.
    // Record per accepted row (`R seq micros base64(body) .`), appended and
    // fsynced BEFORE the 200 reply; a marker line (`M seq`) persists the
    // sequence high-water mark across compactions so restart offsets stay
    // monotone even when every row is committed. Accept mutations and
    // compaction serialize on `walLock` — the log and the buffer can never
    // disagree about the uncommitted set. Compaction cost is bounded by the
    // buffer (≤ maxBufferedRows rows), not log history.
    private val walPath = HttpIngestSource.walPathFor(port)
    // Two-lock group commit. `walLock` serializes every MUTATION of the
    // log/buffer/seq (appends, compaction's stream swap); `walSyncLock`
    // serializes fsync. A handler appends under walLock, then — only if
    // no later sync already covered its record — takes walSyncLock and
    // fsyncs once for EVERYTHING appended so far (`writtenSeq` is only
    // advanced after its write() returned, so the sync provably covers
    // it). Compaction takes BOTH locks (write, then sync — the one fixed
    // order, so no deadlock) and leaves the fresh log fully synced.
    private val walLock = new Object
    private val walSyncLock = new Object
    @volatile private var writtenSeq = 0L
    @volatile private var syncedSeq = 0L
    private var wal: java.io.FileOutputStream = {
      java.nio.file.Files.createDirectories(walPath.getParent)
      // replay any prior log: uncommitted rows re-enter the buffer exactly
      // once; torn trailing writes (crash mid-append) are skipped
      if (java.nio.file.Files.exists(walPath)) {
        val enc = java.util.Base64.getDecoder
        java.nio.file.Files.readAllLines(walPath).forEach { line =>
          line.split(" ", 5) match {
            case Array("M", s) if s.forall(_.isDigit) =>
              seq.updateAndGet(m => math.max(m, s.toLong))
            // the trailing "." sentinel marks a COMPLETE record: a torn
            // tail write could otherwise truncate to a still-valid base64
            // prefix and silently replay a shortened body
            case Array("R", s, ts, b64, ".") if s.forall(_.isDigit) =>
              try {
                val body = new String(enc.decode(b64), "UTF-8")
                if (buffer.put(s.toLong, (body, ts.toLong)) == null)
                  buffered.incrementAndGet()
                seq.updateAndGet(m => math.max(m, s.toLong))
              } catch { case _: IllegalArgumentException => () } // torn line
            case _ => () // torn/foreign line: ignore
          }
        }
      }
      new java.io.FileOutputStream(walPath.toFile, true)
    }

    /** Append only — durability comes from the group-commit sync in the
      * handler (the 200 still never precedes an fsync covering the record).
      */
    private def walAppend(s: Long, body: String, micros: Long): Unit = {
      val b64 = java.util.Base64.getEncoder.encodeToString(body.getBytes("UTF-8"))
      wal.write(s"R $s $micros $b64 .\n".getBytes("UTF-8"))
    }

    /** Rewrite the log to the still-uncommitted buffer entries (+ the seq
      * high-water marker); called from `commit()`. Atomic rename so a crash
      * mid-compaction leaves the previous complete log in place.
      */
    def walCompact(): Unit = walLock.synchronized { walSyncLock.synchronized {
      val tmp = walPath.resolveSibling(walPath.getFileName.toString + ".tmp")
      val out = new java.io.FileOutputStream(tmp.toFile, false)
      out.write(s"M ${seq.get()}\n".getBytes("UTF-8"))
      val enc = java.util.Base64.getEncoder
      buffer.forEach { (s, v) =>
        out.write(s"R $s ${v._2} ${enc.encodeToString(v._1.getBytes("UTF-8"))} .\n"
          .getBytes("UTF-8"))
      }
      out.getFD.sync()
      out.close()
      wal.close()
      java.nio.file.Files.move(tmp, walPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      wal = new java.io.FileOutputStream(walPath.toFile, true)
      // the fresh log's every record was synced before the atomic move
      syncedSeq = writtenSeq
    } }

    def closeWal(): Unit =
      walLock.synchronized(walSyncLock.synchronized(wal.close()))

    val server: HttpServer = HttpServer.create(new InetSocketAddress(port), 128)
    server.createContext("/ingest", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        if (x.getRequestMethod == "POST") {
          // reserve capacity ATOMICALLY (CAS check-and-increment): with
          // the 8-thread handler pool a plain check-then-put overshot the
          // cap by up to pool-size concurrent accepts (ADVICE r20) — if
          // the cap is a memory bound it must be strict. Released below
          // if the append never happens.
          def tryReserve(): Boolean = {
            var cur = buffered.get()
            while (cur < maxBufferedRows) {
              if (buffered.compareAndSet(cur, cur + 1)) return true
              cur = buffered.get()
            }
            false
          }
          if (!tryReserve()) {
            reply(x, 503, "busy") // bounded buffer: back off and retry
          } else {
            val s = try {
              val out = new ByteArrayOutputStream()
              val in = x.getRequestBody
              val buf = new Array[Byte](8192)
              var n = in.read(buf)
              while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
              val body = out.toString("UTF-8")
              walLock.synchronized {
                val s = seq.incrementAndGet()
                val micros = System.currentTimeMillis() * 1000L
                walAppend(s, body, micros)
                writtenSeq = s
                buffer.put(s, (body, micros))
                s
              }
            } catch { case e: Throwable =>
              buffered.decrementAndGet() // reservation never materialized
              throw e
            }
            // group commit: sync only if no later flush already covered
            // this record; the winning handler's one fsync acks every
            // record appended before it
            if (syncedSeq < s) walSyncLock.synchronized {
              if (syncedSeq < s) {
                val target = writtenSeq
                wal.getFD.sync()
                syncedSeq = target
              }
            }
            reply(x, 200, "ok")
          }
        } else reply(x, 400, "bad request") // notFoundHandler returns 400
      }
    })
    // unmatched routes reply 400, matching the reference's notFoundHandler
    // (Server/main.go:179-182 returns 400, not 404)
    server.createContext("/", (x: HttpExchange) => reply(x, 400, "bad request"))
    // a small handler pool (daemon threads), not the single dispatcher
    // thread: group commit only amortizes when requests are concurrent —
    // with the default null executor every POST serialized end-to-end and
    // paid its own fsync
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => {
        val t = new Thread(r, s"graft-http-ingest-$port")
        t.setDaemon(true)
        t
      }))
    server.start()

    private def reply(x: HttpExchange, code: Int, msg: String): Unit = {
      val b = msg.getBytes("UTF-8")
      x.sendResponseHeaders(code, b.length)
      x.getResponseBody.write(b)
      x.close()
    }
  }

  def stateFor(port: Int): ServerState =
    servers.computeIfAbsent(port, p => new ServerState(p))

  /** Graceful stop. The WAL files stay on disk on purpose: acked rows that
    * no batch committed yet must survive into the next listener, which is
    * the whole durability contract.
    */
  def stopAll(): Unit = {
    servers.values.forEach { s => s.server.stop(0); s.closeWal() }
    servers.clear()
  }

  /** Per-port WAL location: stable across JVMs (crash recovery), outside
    * the repo tree. Override the root via GRAFT_WAL_DIR for tests.
    */
  private[streaming] def walPathFor(port: Int): java.nio.file.Path =
    java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_WAL_DIR",
        sys.props("java.io.tmpdir") + "/graft-http-wal"),
      s"port-$port.log")

  /** Test hook: drop a port's listener and in-memory buffer WITHOUT
    * compacting or deleting its WAL — the closest in-JVM analogue of a
    * driver crash. The next `stateFor(port)` replays the log.
    */
  def crash(port: Int): Unit = {
    val s = servers.remove(port)
    if (s != null) { s.server.stop(0); s.closeWal() }
  }

  /** Test hygiene: forget a port's listener AND its log (a fresh port, not
    * a recovery). Never called from the serving path.
    */
  def purge(port: Int): Unit = {
    val s = servers.remove(port)
    if (s != null) { s.server.stop(0); s.closeWal() }
    java.nio.file.Files.deleteIfExists(walPathFor(port))
  }
}

private class HttpIngestTable(port: Int, maxRowsPerPartition: Int,
    maxRowsPerTrigger: Long) extends Table with SupportsRead {
  override def name(): String = s"http-ingest:$port"
  override def schema(): StructType = HttpIngestSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = HttpIngestSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new HttpIngestStream(port, maxRowsPerPartition, maxRowsPerTrigger)
    }
}

private case class SeqOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private class HttpIngestStream(port: Int, maxRowsPerPartition: Int,
    maxRowsPerTrigger: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private def state = HttpIngestSource.stateFor(port)
  // Trigger.AvailableNow: drain only what had arrived when the query
  // started, even if it takes several capped batches; -1 = no cap
  @volatile private var availableNowCap: Long = -1L

  override def initialOffset(): Offset = SeqOffset(0L)

  // admission control (SupportsAdmissionControl, the scale-critical piece):
  // a burst never becomes one unbounded driver-memory micro-batch — each
  // batch admits at most maxRowsPerTrigger rows past `start`, the rest wait
  override def getDefaultReadLimit: ReadLimit =
    if (maxRowsPerTrigger > 0) ReadLimit.maxRows(maxRowsPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) is used via SupportsAdmissionControl")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[SeqOffset].n
    val arrived = state.seq.get()
    val avail =
      if (availableNowCap >= 0L) math.min(arrived, availableNowCap) else arrived
    SeqOffset(applyLimit(lo, avail, limit))
  }

  private def applyLimit(lo: Long, avail: Long, limit: ReadLimit): Long =
    limit match {
      case r: ReadMaxRows => math.min(avail, lo + r.maxRows())
      case c: CompositeReadLimit =>
        c.getReadLimits.foldLeft(avail)((acc, l) =>
          math.min(acc, applyLimit(lo, avail, l)))
      case _ => avail // ReadAllAvailable / ReadMinRows: admit all arrived
    }

  override def reportLatestOffset(): Offset = SeqOffset(state.seq.get())

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = state.seq.get()

  override def deserializeOffset(json: String): Offset = SeqOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[SeqOffset].n
    val hi = end.asInstanceOf[SeqOffset].n
    val rows = state.buffer.subMap(lo, false, hi, true)
      .values().toArray(Array.empty[(String, Long)])
    // a large micro-batch splits into ≤maxRowsPerPartition chunks so the
    // downstream decode parallelizes across task slots instead of running
    // single-threaded on one partition
    if (rows.isEmpty) Array(HttpBatchPartition(rows))
    else rows.grouped(maxRowsPerPartition)
      .map(HttpBatchPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val rows = partition.asInstanceOf[HttpBatchPartition].rows
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = InternalRow(
          UTF8String.fromString(rows(i)._1), rows(i)._2)
        override def close(): Unit = ()
      }
    }

  override def commit(end: Offset): Unit = {
    // exactly-once contract: rows are disposable once the batch is durable.
    // New arrivals always get seqs > hi, so the size/clear pair races with
    // nothing in this key range; freeing `buffered` reopens the 503 gate.
    val hi = end.asInstanceOf[SeqOffset].n
    val trimmed = state.buffer.headMap(hi, true)
    val n = trimmed.size()
    trimmed.clear()
    state.buffered.addAndGet(-n.toLong)
    // drop the committed prefix from the WAL too — log size stays bounded
    // by the uncommitted buffer, and a restart replays only uncommitted rows
    state.walCompact()
  }

  override def stop(): Unit = ()
}

private case class HttpBatchPartition(rows: Array[(String, Long)]) extends InputPartition
