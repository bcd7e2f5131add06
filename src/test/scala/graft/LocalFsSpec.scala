package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem, SnapshotStore, SqlDml}

/** The local file system `core-site.xml` registers for `file:`
  * ([[GraftLocalFileSystem]]): commits, Parquet writes and streaming
  * checkpoints start no process, and modes, symlinks and checksums behave
  * as Hadoop's own local file system.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def walk(dir: String): Seq[JPath] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.toList finally s.close()
  }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** The command lines of the processes the JVM started while `body` ran.
    * One kind is left out: Spark's `ArtifactManager` runs `rm -rf` on a
    * dropped session's artifact dir from the JDK `Cleaner` thread, when
    * the GC collects that session (a streaming query clones one), so
    * whether it lands in the window depends on the GC, not on `body`.
    */
  private def forks(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      val out = Files.createTempFile("graft_forks", ".jfr")
      rec.dump(out)
      def sessionCleanup(e: jdk.jfr.consumer.RecordedEvent) =
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))
      try jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filterNot(sessionCleanup).map(_.getString("command"))
      finally Files.delete(out)
    } finally rec.close()
  }

  test("file: resolves to the engine's file systems in every Configuration") {
    for (conf <- Seq(new Configuration(), spark.sparkContext.hadoopConfiguration)) {
      val fs = FileSystem.get(new URI("file:///"), conf)
      assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
      val local = FileSystem.getLocal(conf)
      assert(local.getRaw.isInstanceOf[GraftRawLocalFileSystem], local.getRaw.getClass)
      val fc = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      assert(fc.isInstanceOf[GraftLocalFs], fc.getClass)
    }
  }

  test("a commit, a CDC UPDATE and two checkpointed micro-batches start no process") {
    val root = s"${tmp("graft_lfs_append")}/t"
    val cdc = s"${tmp("graft_lfs_cdc")}/t"
    val sink = s"${tmp("graft_lfs_sink")}/t"
    val cp = tmp("graft_lfs_cp")
    SnapshotStore.init(spark, root, Seq((1L, 10L)).toDF("id", "v"))
    SnapshotStore.init(spark, cdc, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"),
      cdcKeys = Seq("id"))
    SnapshotStore.init(spark, sink, spark.range(0).selectExpr("id", "id AS v"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val seen = forks {
      SnapshotStore.append(spark, root, Seq((2L, 20L)).toDF("id", "v"))
      SqlDml.execute(spark, "UPDATE t SET v = v + 5 WHERE id = 1", Map("t" -> cdc))
      val q = mem.toDF().toDF("id", "v").writeStream
        .format("graft.streaming.SnapshotSink")
        .option("path", sink).option("txnAppId", "lfs-spec")
        .option("checkpointLocation", cp)
        .start()
      try {
        mem.addData((1L, 1L))
        q.processAllAvailable()
        mem.addData((2L, 2L))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(seen.size == 0, seen.take(20).mkString("\n"))
    assert(SnapshotStore.read(spark, root).count() == 2L)
    assert(SnapshotStore.read(spark, cdc).where($"id" === 1L)
      .select($"v").as[Long].head() == 15L)
    assert(SnapshotStore.read(spark, sink).count() == 2L)
    assert(Files.exists(Paths.get(cp, "offsets", "1")) &&
      Files.exists(Paths.get(cp, "commits", "1")), "both batches committed")
  }

  test("written files are rw-r--r-- and staged dirs rwxr-xr-x") {
    val root = s"${tmp("graft_lfs_modes")}/t"
    SnapshotStore.init(spark, root, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"),
      cdcKeys = Seq("id"))
    SqlDml.execute(spark, "UPDATE t SET v = v + 5 WHERE id = 1", Map("t" -> root))
    val dir = SnapshotStore.latest(root).dataDir
    val files = walk(dir).filter(Files.isRegularFile(_))
    def named(f: String => Boolean) = files.filter(p => f(p.getFileName.toString))
    val data = named(n => n.endsWith(".parquet") && !n.startsWith("."))
    val crcs = named(_.endsWith(".crc"))
    val changes = files.filter(_.toString.contains("/_changes/"))
    assert(data.nonEmpty && crcs.nonEmpty && changes.nonEmpty, files)
    for (f <- data ++ crcs ++ changes) assert(mode(f) == "rw-r--r--", f)
    for (d <- walk(dir).filter(Files.isDirectory(_))) assert(mode(d) == "rwxr-xr-x", d)
  }

  test("getFileLinkStatus still reports a symlink and its target") {
    val dir = Paths.get(tmp("graft_lfs_link"))
    val target = Files.write(dir.resolve("target.txt"), "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link.txt"), target)
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink, st)
    assert(st.getSymlink.toUri.getPath == target.toString, st.getSymlink)
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 1L, plain)
  }

  test("a flipped byte in a written Parquet file fails the read with a ChecksumException") {
    val out = s"${tmp("graft_lfs_crc")}/p"
    spark.range(1000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(out)
    val file = walk(out).find(_.getFileName.toString.matches("part-.*\\.parquet")).get
    val bytes = Files.readAllBytes(file)
    val at = bytes.length - 16 // inside the footer, which every read reads
    bytes(at) = (bytes(at) ^ 0xff).toByte
    Files.write(file, bytes)
    val e = intercept[Throwable](
      spark.read.schema("id BIGINT, v BIGINT").parquet(out).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[ChecksumException]),
      chain.map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString("\n"))
  }
}
