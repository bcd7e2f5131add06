package graft

import java.nio.file.{Files, Path, Paths}

/** Deterministic scratch roots for gates that materialize side state
  * (SnapshotStore tables). `Files.createTempDirectory` per build leaked a
  * full table copy per bench repetition (ADVICE r9): 3 reps + the retry
  * pass left 4+ copies of customer/orders in /tmp. A FIXED per-gate path,
  * wiped at build start, means each repetition overwrites the last — at
  * most one copy per gate alive at any time — and a JVM shutdown hook
  * clears whatever the final repetition left: only the dirs this JVM made,
  * since other JVMs (tests, Verify, Bench, LayerProbes) share the root.
  */
object GateTmp {
  private[graft] val root = Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_gates")
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] val made = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** Fresh (emptied) deterministic directory for `name`. */
  def freshDir(name: String): String = {
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => wipeMade(made)))
    val dir = root.resolve(name)
    deleteRec(dir)
    Files.createDirectories(dir)
    made.add(dir)
    dir.toString
  }

  /** The shutdown hook's body, handed [[made]]: the dirs [[freshDir]] made
    * in this JVM, never the shared root a concurrent JVM's gates may be
    * using.
    */
  private[graft] def wipeMade(dirs: java.lang.Iterable[Path]): Unit =
    dirs.forEach(d => deleteRec(d))

  /** Recursively delete an arbitrary leftover path (e.g. a managed-table
    * location a crashed previous run stranded in the warehouse dir —
    * saveAsTable refuses to create over an existing location).
    */
  def wipe(path: String): Unit = deleteRec(Paths.get(path))

  private def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
