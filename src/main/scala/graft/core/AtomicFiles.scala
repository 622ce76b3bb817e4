package graft.core

/** The exclusive put-if-absent file publish shared by every metadata
  * channel (manifests and IVF generation pointers through
  * [[VersionLog.publish]], constraint/colmap epochs directly): write
  * the full body to a temp file, then claim the target with a HARD
  * LINK — the target appears complete or not at all, and a second
  * publisher of the same name fails rather than silently replacing
  * the winner. On link-less filesystems (overlayfs, some FUSE mounts,
  * FAT) the fallback claims a transient side lock `.<name>.lock`
  * (O_CREAT|O_EXCL — a true test-and-set), exists-checks the target
  * INSIDE the lock, then atomic-moves the COMPLETE temp file into
  * place — the target name only ever appears fully written, so a
  * concurrent reader can never observe an empty/torn file under the
  * published name, and an exists-then-move pair's TOCTOU window (two
  * writers both "succeed", one commit silently replaced) is closed.
  * The lock is released after the move — safe because the
  * exists-check runs inside it. Only a crash between claim and move
  * leaves a stale lock behind (microseconds, no Spark work inside);
  * the collision error a later publisher raises names it, and
  * [[VersionLog.drop]] sweeps it with its entry. */
object AtomicFiles {

  /** Test seam: pretend the filesystem has no hard links, so specs
    * can pin the fallback protocol's no-torn-read guarantee. */
  @volatile private[graft] var disableLinksForTest: Boolean = false

  /** The link-less fallback's transient claim token for `targetName`. */
  def lockName(targetName: String): String = s".$targetName.lock"

  /** Publish `body` at `dir/targetName` exactly once; invokes `lost`
    * (which must throw) when the name is already claimed. */
  def publishExclusive(dir: String, targetName: String,
      body: Array[Byte])(lost: => Nothing): Unit = {
    val target = java.nio.file.Paths.get(dir, targetName)
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(dir), s".$targetName", ".tmp")
    try {
      java.nio.file.Files.write(tmp, body)
      try {
        if (disableLinksForTest) throw new UnsupportedOperationException(
          "hard links disabled for test")
        java.nio.file.Files.createLink(target, tmp); ()
      }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => lost
        case _: UnsupportedOperationException =>
          val lock = java.nio.file.Paths.get(dir, lockName(targetName))
          // a lock collision is NOT `lost` (the target may not exist
          // yet): name the lock so the recovery guidance is right — a
          // caller's lost-message says "re-read and re-publish", which
          // loops forever against a crash-orphaned lock
          try java.nio.file.Files.createFile(lock)
          catch { case _: java.nio.file.FileAlreadyExistsException =>
            throw new java.util.ConcurrentModificationException(
              s"publish of $targetName under $dir is blocked by a " +
                s"concurrent publisher holding $lock (or one that " +
                "crashed mid-publish — delete that lock file to recover)")
          }
          try {
            if (java.nio.file.Files.exists(target)) lost
            java.nio.file.Files.move(tmp, target,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            ()
          } finally { java.nio.file.Files.deleteIfExists(lock); () }
      }
    } finally { java.nio.file.Files.deleteIfExists(tmp); () }
  }

  /** Replace `dir/name` with `body` (UTF-8) — the last-writer-wins
    * twin of [[publishExclusive]] for files rewritten in place
    * (checkpoints, hints, lock renewals, sidecars): the body goes to a
    * `.<name>…tmp` file first and moves over the target with
    * ATOMIC_MOVE + REPLACE_EXISTING, so a reader sees the old file or
    * the new one, never a torn one. The temp file is deleted on every
    * path, a failed move included; the failure itself propagates and
    * each caller keeps its own policy for it. */
  def replace(dir: String, name: String, body: String): Unit = {
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(dir), s".$name", ".tmp")
    try {
      java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } finally { java.nio.file.Files.deleteIfExists(tmp); () }
  }
}
