package graft.core

/** Scratch directories with RELIABLE JVM-exit cleanup.
  *
  * `File.deleteOnExit()` silently fails on non-empty directories, so
  * any scratch root that parquet gets written under leaks forever;
  * every temp-dir user (st05's rollup target, spec corpora) shares
  * this one recursive shutdown-hook delete instead of re-deriving it.
  *
  * Shared roots left behind by a killed JVM are reaped by the next
  * one once they are stale AND their owner is dead, judged by the
  * `owner.pid` stamp (pid plus process start instant). A pid is only
  * unique inside one pid namespace: when `/dev/shm` (or
  * SPARK_GRAFT_SCRATCH) is shared across pid namespaces — containers
  * on one host — another namespace's live owner can read as dead
  * here, or a dead one as alive; give each namespace its own scratch
  * base.
  */
object TempDirs {

  /** Fast scratch root for ephemeral intermediates (guide §6 — I/O
    * placement): tmpfs (/dev/shm) when present, else the JVM tmpdir;
    * override with SPARK_GRAFT_SCRATCH (a production deployment points
    * this at node-local NVMe scratch). On this sandbox /tmp sits on a
    * slow virtio disk while /dev/shm is RAM-backed — scratch tables,
    * per-version rewrites and streaming staging are written and read
    * exactly once, so durability buys nothing and placement is purely
    * a speed knob. Everything here is still recomputed per run: no
    * result ever persists across bench/oracle invocations. */
  val fastBase: String =
    sys.env.get("SPARK_GRAFT_SCRATCH")
      .filter(p => new java.io.File(p).isDirectory)
      .orElse(Option("/dev/shm").filter(p => {
        val f = new java.io.File(p); f.isDirectory && f.canWrite }))
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Create a temp directory removed (recursively) on JVM exit. */
  def scratch(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(fastBase), s"graft-$tag").toFile
    sys.addShutdownHook(rmTree(d))
    d.getAbsolutePath
  }

  private val sharedRoots =
    new java.util.concurrent.ConcurrentHashMap[String, java.io.File]()
  private val ctr = new java.util.concurrent.atomic.AtomicInteger()

  /** A fresh subdirectory under ONE shutdown-hooked root per `base` —
    * repeated calls (per-query scratch or checkpoint dirs in a
    * long-running service) do not accumulate JVM shutdown hooks the
    * way per-call [[scratch]] would. Defaults to [[fastBase]]. */
  /** Name of the owner-liveness marker each shared root carries:
    * `<pid> <start instant>` of the JVM that created the root. */
  private val PidFile = "owner.pid"

  /** Is the JVM that stamped `root` still alive? The pid alone is not
    * enough: pids are reused, so a live process must also have the
    * stamped start instant (a bare-pid stamp, written before the
    * instant was recorded, keeps the pid-only rule; a process whose
    * start instant the platform cannot tell counts as the owner). No
    * marker (a pre-r21 root, or a crash between mkdir and stamp)
    * reads as dead — those roots still age out on the 6 h mtime
    * cutoff alone. */
  private[core] def ownerAlive(root: java.io.File): Boolean =
    try {
      val f = new java.io.File(root, PidFile)
      f.isFile && {
        val fields = java.nio.file.Files.readString(f.toPath).trim
          .split("\\s+")
        val started = fields.lift(1).map(java.time.Instant.parse)
        ProcessHandle.of(fields(0).toLong).map[Boolean](p => p.isAlive &&
          started.forall(s => p.info().startInstant()
            .map[Boolean](_ == s).orElse(true))).orElse(false)
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  def scratchShared(tag: String, base: String = fastBase): String = {
    val root = sharedRoots.computeIfAbsent(base, b => {
      // a kill -9'd JVM never runs its shutdown hook, and tmpfs roots
      // survive until reboot — retire ABANDONED sibling roots so
      // repeated bench/suite runs do not accumulate scratch. A root is
      // abandoned only when BOTH hold: stale mtime (>6 h — mtime only
      // moves on direct-child creation, so a quiet root is merely
      // old) AND a dead owner per its pid stamp (r21: a >6 h-running
      // service whose spark.local.dir lives here must never lose its
      // shuffle scratch to a newly starting JVM).
      try {
        val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
        Option(new java.io.File(b).listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("graft-shared") &&
            f.isDirectory && f.lastModified() < cutoff && !ownerAlive(f))
          .foreach(rmTree)
      } catch { case scala.util.control.NonFatal(_) => () }
      val d = java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get(b), "graft-shared").toFile
      val me = ProcessHandle.current()
      try java.nio.file.Files.writeString(new java.io.File(d, PidFile).toPath,
        me.pid().toString + me.info().startInstant()
          .map[String](" " + _).orElse(""))
      catch { case scala.util.control.NonFatal(_) => () }
      sys.addShutdownHook(rmTree(d))
      d
    })
    val d = new java.io.File(root, s"$tag-${ctr.incrementAndGet()}")
    d.mkdirs()
    d.getAbsolutePath
  }

  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }
}
