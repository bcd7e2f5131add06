package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, PrintWriter}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import java.util.concurrent.locks.LockSupport

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The benchmark's load generator: one process, separate from the system
  * under test, that only talks to it over loopback HTTP.
  *
  *   - `ingest`: POSTs generated JSON records to the ingest endpoint from
  *     at most [[Gen.Threads]] threads, one keep-alive connection each.
  *     `steady` is an open loop: record i is due at `start + i / rate`
  *     whatever the server does, and latency counts from the due time.
  *     `flood` is a closed loop: each thread sends its next record as soon
  *     as the previous one is acked. A 503 is retried on the same
  *     connection after a short back-off; the record keeps its due time.
  *   - `transform`: serves the salary transform endpoint the enrichment
  *     pass calls, on a pool of [[Gen.Threads]] handler threads, and
  *     computes `EnrichmentPipeline.pureTransform`.
  *
  * Every record body is a pure function of (seed, generator sequence
  * number), so one seed always yields the same inputs. Per-record results
  * go to a CSV file; a one-line JSON summary goes to stdout.
  */
object Gen {
  val Threads = 4

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** CPU seconds this process has used. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** One generated record. `kind` is `u` (update of a preloaded key), `n`
    * (new key) or `m` (malformed body).
    */
  final case class Rec(gseq: Long, kind: Char, id: Long, salary: Long) {
    def body(dueUs: Long): String = {
      val json = s"""{"id":$id,"name":"e$id","yearsofexp":${id % 30},"salary":$salary,"gseq":$gseq,"due_us":$dueUs}"""
      // a truncated object: PERMISSIVE from_json routes it to the reject leg
      if (kind == 'm') json.take(json.indexOf("\"salary\"") + 9) else json
    }
  }

  /** Record `gseq` of a stream whose first `keys` ids are preloaded.
    * `updateShare` of the well-formed records update a preloaded key,
    * skewed toward low ids (hot keys); the rest insert a fresh id above
    * the preloaded range, unique per record.
    */
  def record(seed: Long, gseq: Long, keys: Long, updateShare: Double): Rec = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + gseq)
    val salary = 30000L + r.nextLong(100000L)
    val u = r.nextDouble()
    if (u < 0.01) Rec(gseq, 'm', r.nextLong(keys), salary)
    else if (u < 0.01 + 0.99 * updateShare)
      Rec(gseq, 'u', math.min(keys - 1, (keys * math.pow(r.nextDouble(), 3)).toLong), salary)
    else Rec(gseq, 'n', keys + gseq, salary)
  }

  /** A minimal HTTP/1.1 keep-alive client over one socket: the generator
    * controls its connections exactly and spends little CPU per request.
    */
  final class Conn(port: Int) {
    private val sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.connect(new InetSocketAddress("127.0.0.1", port))
    private val out = new BufferedOutputStream(sock.getOutputStream)
    private val in = new BufferedInputStream(sock.getInputStream)

    private def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n' && c != -1) { if (c != '\r') sb.append(c.toChar); c = in.read() }
      if (c == -1 && sb.isEmpty) throw new java.io.EOFException("connection closed")
      sb.toString
    }

    /** POSTs `body` and returns the status code. */
    def post(path: String, body: String): Int = {
      val b = body.getBytes(UTF_8)
      out.write(s"POST $path HTTP/1.1\r\nHost: localhost\r\nContent-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n".getBytes(UTF_8))
      out.write(b)
      out.flush()
      val status = line().split(" ")(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).equalsIgnoreCase("content-length"))
          len = h.substring(i + 1).trim.toInt
        h = line()
      }
      var left = len
      while (left > 0) { if (in.read() == -1) left = 0 else left -= 1 }
      status
    }

    def close(): Unit = sock.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    if (opts("mode") == "transform") transform(opts("port").toInt)
    else ingest(opts)
  }

  private def ingest(opts: Map[String, String]): Unit = {
    val port = opts("port").toInt
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val keys = opts("keys").toLong
    val flood = opts("mode") == "flood"
    val rate = opts.getOrElse("rate", "0").toDouble
    val updateShare = opts("update_share").toDouble
    val out = new PrintWriter(opts("out"), "UTF-8")
    val cpu0 = cpuSeconds()
    val next = new AtomicLong(0L)
    val start = nowUs() + 20000L
    val end = start + (seconds * 1e6).toLong
    val rows = Array.fill(Threads)(new java.util.ArrayList[String](1 << 14))
    val lateUs = Array.fill(Threads)(new java.util.ArrayList[java.lang.Long](1 << 14))
    val error = new AtomicReference[Throwable](null)
    val workers = (0 until Threads).map { t =>
      new Thread(() => {
        var conn: Conn = null
        try {
          conn = new Conn(port)
          var running = true
          while (running && error.get == null) {
            val gseq = next.getAndIncrement()
            val due =
              if (flood) nowUs()
              else start + (gseq * 1e6 / rate).toLong
            if (due >= end) running = false
            else {
              if (!flood) {
                var now = nowUs()
                if (now < due) {
                  // the thread was idle and on time: how late it wakes is
                  // the generator's own scheduling delay, not the server's
                  while (now < due) {
                    LockSupport.parkNanos((due - now) * 1000L)
                    now = nowUs()
                  }
                  lateUs(t).add(now - due)
                }
              }
              val rec = record(seed, gseq, keys, updateShare)
              val body = rec.body(due)
              var attempts = 1
              var status = conn.post("/ingest", body)
              while (status == 503) {
                LockSupport.parkNanos(2000000L)
                attempts += 1
                status = conn.post("/ingest", body)
              }
              val ack = nowUs()
              rows(t).add(s"${rec.gseq},${rec.kind},${rec.id},${rec.salary},$due,$ack,$status,$attempts")
            }
          }
        } catch { case e: Throwable => error.compareAndSet(null, e) }
        finally if (conn != null) conn.close()
      }, s"gen-$t")
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    out.println("gseq,kind,id,salary,due_us,ack_us,status,attempts")
    rows.foreach(_.forEach(r => out.println(r)))
    out.close()
    val late = lateUs.flatMap(l => (0 until l.size).map(i => l.get(i).longValue)).sorted
    val lateP99 = if (late.isEmpty) 0.0 else late(((late.length - 1) * 0.99).toInt) / 1000.0
    val err = Option(error.get).map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
    println(s"""{"start_us":$start,"end_us":$end,"late_ms_p99":$lateP99,"late_samples":${late.length},"cpu_s":${cpuSeconds() - cpu0},"error":${err.map(Json.str).getOrElse("null")}}""")
    if (err.isDefined) sys.exit(1)
  }

  /** The integer value of `"name":` in a flat JSON object. */
  private def field(json: String, name: String): Long = {
    var i = json.indexOf("\"" + name + "\"") + name.length + 2
    while (json.charAt(i) == ':' || json.charAt(i) == ' ') i += 1
    var j = i
    if (json.charAt(j) == '-') j += 1
    while (j < json.length && json.charAt(j).isDigit) j += 1
    json.substring(i, j).toLong
  }

  private def transform(port: Int): Unit = {
    val calls = new AtomicLong(0L)
    val busyNs = new AtomicLong(0L)
    // replies go out as soon as they are written: with Nagle's algorithm
    // on, the body segment would wait for the client's delayed ACK of the
    // header segment, and every call would cost ~40 ms of the generator's
    // own making
    System.setProperty("sun.net.httpserver.nodelay", "true")
    // keep idle keep-alive connections open for the whole run: closing one
    // races with the client's pool handing it to the next call, which then
    // fails with "header parser received no bytes"
    System.setProperty("sun.net.httpserver.idleInterval", "3600")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 64)
    server.createContext("/transform", (x: HttpExchange) => {
      val t0 = System.nanoTime()
      val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
      val resp = s"""{"new_salary":${field(body, "salary") + 1000L * field(body, "yearsofexp")}}"""
        .getBytes(UTF_8)
      x.sendResponseHeaders(200, resp.length)
      x.getResponseBody.write(resp)
      x.close()
      calls.incrementAndGet()
      busyNs.addAndGet(System.nanoTime() - t0)
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(Threads))
    val cpu0 = cpuSeconds()
    server.start()
    println(s"""{"ready":true,"port":$port}""")
    System.out.flush()
    def counters(): Unit = {
      println(s"""{"calls":${calls.get},"busy_ms":${busyNs.get / 1e6},"cpu_s":${cpuSeconds() - cpu0}}""")
      System.out.flush()
    }
    // every stdin line asks for the counters; end of stdin stops the server
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    while (in.readLine() != null) counters()
    server.stop(0)
    counters()
    sys.exit(0)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
