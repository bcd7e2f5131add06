package graft.streaming

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException, IOException, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import javax.net.ssl.{SSLSocket, SSLSocketFactory}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** T8 / §2.10: the salary pipeline (`Server/main.go:284-320`) as ONE
  * distributed job. The reference runs scan → per-row HTTP → per-row UPDATE
  * sequentially (2 network round-trips per row); here the transform runs
  * inside `mapPartitions` over one keep-alive HTTP/1.1 connection per task
  * — opened on the task's first row, closed when the task completes, so
  * parallelism is bounded by task slots and no connection outlives its
  * task — and the write-back is a single keyed join-overwrite (or MERGE on
  * a table format at scale). Streaming form: `foreachBatch` applies the
  * same batch function per micro-batch, giving idempotent keyed write-back.
  */
object EnrichmentPipeline {
  final case class Emp(id: Long, yearsofexp: Int, salary: Long)
  final case class Update(u_id: Long, new_salary: Long)

  private val NewSalary = "\"new_salary\"\\s*:\\s*(-?\\d+)".r

  /** POST {id, yearsofexp, salary} → {new_salary}, the reference's transform
    * contract (Server/main.go:299-311). Minimal JSON on both ends keeps this
    * dependency-free. Inside a Spark task every call goes over the task's
    * own connection; outside one (`TaskContext.get()` is null) each call
    * opens a connection and closes it. Any status but 200 throws, failing
    * the task.
    */
  def httpTransform(url: String): Emp => Long = {
    val target = Target(url)
    e => {
      val body = s"""{"id":${e.id},"yearsofexp":${e.yearsofexp},"salary":${e.salary}}"""
      val resp = TaskContext.get() match {
        case null =>
          val c = new Conn(target)
          try c.post(body) finally c.close()
        case tc => taskConn(tc, target).post(body)
      }
      NewSalary.findFirstMatchIn(resp).map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(s"bad transform response: $resp"))
    }
  }

  /** Where a transform URL points; parsed once, on the driver. */
  private final case class Target(https: Boolean, host: String, port: Int,
      path: String, url: String)

  private object Target {
    def apply(url: String): Target = {
      val u = URI.create(url)
      val https = u.getScheme.equalsIgnoreCase("https")
      require(https || u.getScheme.equalsIgnoreCase("http"),
        s"transform URL must be http or https: $url")
      val path = Option(u.getRawPath).filter(_.nonEmpty).getOrElse("/") +
        Option(u.getRawQuery).map("?" + _).getOrElse("")
      Target(https, u.getHost, if (u.getPort >= 0) u.getPort else if (https) 443 else 80,
        path, url)
    }
  }

  /** Open connections by (task attempt, target); each is removed and closed
    * by its task's completion listener, on success and on failure.
    */
  private val taskConns = new ConcurrentHashMap[(Long, Target), Conn]()

  private def taskConn(tc: TaskContext, t: Target): Conn = {
    val key = (tc.taskAttemptId(), t)
    val open = taskConns.get(key)
    if (open != null) open else {
      val c = new Conn(t)
      taskConns.put(key, c)
      tc.addTaskCompletionListener[Unit] { _ =>
        taskConns.remove(key)
        c.close()
      }
      c
    }
  }

  /** One HTTP/1.1 keep-alive connection to `t`, opened lazily and reopened
    * after the server closes it. Not thread-safe: a task consumes its
    * partition on one thread.
    */
  private final class Conn(t: Target) {
    private var sock: Socket = _
    private var in: InputStream = _
    private var out: OutputStream = _
    /** Whether the current exchange has read a byte of its response. */
    private var started = false
    private val head =
      s"POST ${t.path} HTTP/1.1\r\nHost: ${t.host}:${t.port}\r\nContent-Type: application/json\r\nContent-Length: "

    private def open(): Unit = {
      val raw = new Socket()
      raw.setTcpNoDelay(true)
      raw.connect(new InetSocketAddress(t.host, t.port), 5000)
      raw.setSoTimeout(10000)
      sock = if (!t.https) raw else {
        val ssl = SSLSocketFactory.getDefault.asInstanceOf[SSLSocketFactory]
          .createSocket(raw, t.host, t.port, true).asInstanceOf[SSLSocket]
        val params = ssl.getSSLParameters
        params.setEndpointIdentificationAlgorithm("HTTPS")
        ssl.setSSLParameters(params)
        ssl.startHandshake()
        ssl
      }
      in = new BufferedInputStream(sock.getInputStream)
      out = sock.getOutputStream
    }

    def close(): Unit = if (sock != null) {
      try sock.close() catch { case _: IOException => }
      sock = null
    }

    /** POSTs `body` and returns the 200 response's body. A reused
      * connection the server closed before any byte of the response
      * arrived (an idle close racing this request) is reopened and the
      * request sent once more; a task failure would resend it anyway.
      */
    def post(body: String): String = {
      val b = body.getBytes(UTF_8)
      val h = (head + b.length + "\r\n\r\n").getBytes(UTF_8)
      val req = java.util.Arrays.copyOf(h, h.length + b.length)
      System.arraycopy(b, 0, req, h.length, b.length)
      val reused = sock != null
      if (!reused) open()
      try exchange(req)
      catch {
        case e: IOException if reused && !started && !e.isInstanceOf[SocketTimeoutException] =>
          open()
          exchange(req)
      }
    }

    /** One request and its response. Any failure closes the connection, so
      * a later call never reads the rest of a response it did not send.
      */
    private def exchange(req: Array[Byte]): String = {
      started = false
      try {
        out.write(req) // one write: headers and body leave in one segment
        out.flush()
        val first = in.read()
        if (first < 0) throw new EOFException(s"${t.url}: connection closed before a response")
        started = true
        val status = statusOf(s"${first.toChar}${line()}")
        var length = -1L
        var chunked = false
        var keepAlive = true
        var h = line()
        while (h.nonEmpty) {
          val i = h.indexOf(':')
          if (i > 0) {
            val name = h.substring(0, i).trim
            val value = h.substring(i + 1).trim
            if (name.equalsIgnoreCase("Content-Length")) length = value.toLong
            else if (name.equalsIgnoreCase("Transfer-Encoding"))
              chunked = value.toLowerCase.contains("chunked")
            else if (name.equalsIgnoreCase("Connection"))
              keepAlive &&= !value.split(',').exists(_.trim.equalsIgnoreCase("close"))
          }
          h = line()
        }
        val payload =
          if (status == 204 || status == 304) ""
          else if (chunked) readChunked()
          else if (length >= 0) new String(readN(length.toInt), UTF_8)
          else { keepAlive = false; new String(in.readAllBytes(), UTF_8) }
        if (!keepAlive) close()
        if (status != 200)
          throw new IllegalStateException(
            s"transform ${t.url} returned HTTP $status: ${payload.take(200)}")
        payload
      } catch {
        case e: Throwable => close(); throw e
      }
    }

    private def statusOf(statusLine: String): Int = {
      val parts = statusLine.split(' ')
      if (parts.length < 2 || !parts(0).startsWith("HTTP/"))
        throw new IOException(s"${t.url}: bad status line: ${statusLine.take(100)}")
      parts(1).toInt
    }

    /** One header line, without its CRLF. */
    private def line(): String = {
      val sb = new java.lang.StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new EOFException(s"${t.url}: connection closed mid-response")
        if (c != '\r') sb.append(c.toChar)
        c = in.read()
      }
      sb.toString
    }

    private def readN(n: Int): Array[Byte] = {
      val b = in.readNBytes(n)
      if (b.length < n) throw new EOFException(s"${t.url}: connection closed mid-body")
      b
    }

    private def readChunked(): String = {
      val body = new ByteArrayOutputStream()
      var size = Integer.parseInt(line().takeWhile(_ != ';').trim, 16)
      while (size > 0) {
        body.write(readN(size))
        line() // the CRLF after the chunk
        size = Integer.parseInt(line().takeWhile(_ != ';').trim, 16)
      }
      while (line().nonEmpty) {} // trailers
      body.toString(UTF_8)
    }
  }

  /** FIXTURES.md A.4 pure stand-in — the oracle-checkable transform. */
  def pureTransform(e: Emp): Long = e.salary + 1000L * e.yearsofexp

  /** Distributed enrichment: employees → transform (partition-local, one
    * connection per task) → updates keyed by id.
    */
  def enrich(employees: Dataset[Emp], transform: Emp => Long, parallelism: Int): Dataset[Update] = {
    import employees.sparkSession.implicits._
    employees
      .repartition(parallelism)
      .mapPartitions(_.map(e => Update(e.id, transform(e))))
  }

  /** Keyed write-back: overwrite salary where an update exists (q23's
    * join-overwrite; MERGE INTO on a table format at scale).
    */
  def applyUpdates(employees: DataFrame, updates: DataFrame): DataFrame =
    employees.join(updates, employees("id") === updates("u_id"), "left")
      .select(employees("id"), col("name"),
        coalesce(col("new_salary"), col("salary")).as("salary"))

  /** Streaming half: each micro-batch of employee records is enriched and
    * merged — foreachBatch is where streaming meets the batch write-back.
    * Exactly-once: the write is keyed by batchId ([[IdempotentSink]]), so a
    * replayed batch replaces its own output rather than appending twice.
    */
  def runStreaming(s: SparkSession, stream: DataFrame, transform: Emp => Long,
      parallelism: Int, sinkTable: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import s.implicits._
    stream.writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val emps = batch.select(col("id").cast("long"), col("yearsofexp").cast("int"),
          col("salary").cast("long")).as[Emp]
        IdempotentSink.appendOnce(enrich(emps, transform, parallelism).toDF(),
          batchId, sinkTable)
      }
      .start()
  }
}
