package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.TempDirs

/** Shared-scratch root reaper (r21, VERDICT "What's wrong" #3): a
  * root's mtime only moves on direct-child creation, so a long-running
  * JVM whose root went quiet must NOT lose its shuffle/checkpoint
  * scratch to a newly starting sibling — the reap requires a stale
  * mtime AND a dead owner pid. */
class TempDirsSpec extends AnyFunSuite {

  private def plant(base: java.io.File, name: String,
      pid: Option[Long]): java.io.File =
    plantStamp(base, name, pid.map(_.toString))

  private def plantStamp(base: java.io.File, name: String,
      stamp: Option[String]): java.io.File = {
    val d = new java.io.File(base, name)
    d.mkdirs()
    new java.io.File(d, "scratch-1").mkdirs() // non-empty, like a real root
    stamp.foreach(st => java.nio.file.Files.writeString(
      new java.io.File(d, "owner.pid").toPath, st))
    // stale on the mtime axis: last child created "7 hours ago"
    d.setLastModified(System.currentTimeMillis() - 7L * 3600 * 1000)
    d
  }

  test("sweeper reaps a stale dead-owner root but never a live owner's") {
    val base = java.nio.file.Files.createTempDirectory("tdspec").toFile
    try {
      // dead owner: a pid far past this sandbox's pid space
      val stale = plant(base, "graft-sharedSTALE", Some(999999999L))
      // live owner: THIS JVM — quiet for 7 h but very much running
      val live = plant(base, "graft-sharedLIVE",
        Some(ProcessHandle.current().pid()))
      // pre-r21 root with no pid stamp: ages out on mtime alone
      val legacy = plant(base, "graft-sharedLEGACY", None)
      // fresh root (mtime now): untouched regardless of pid
      val fresh = new java.io.File(base, "graft-sharedFRESH")
      fresh.mkdirs()

      val got = TempDirs.scratchShared("probe", base.getAbsolutePath)
      assert(new java.io.File(got).isDirectory)
      assert(!stale.exists(), "stale dead-owner root must be reaped")
      assert(!legacy.exists(), "stale unstamped root must be reaped")
      assert(live.exists(),
        "a live owner's root must survive the sweep even with stale mtime")
      assert(fresh.exists(), "a fresh root must survive the sweep")
      // the new root carries this JVM's pid + start-instant stamp, so
      // the NEXT JVM's sweeper sees a live owner
      val roots = base.listFiles().filter(_.getName.startsWith("graft-shared"))
        .filterNot(f => Set("graft-sharedLIVE", "graft-sharedFRESH")(f.getName))
      assert(roots.nonEmpty)
      roots.foreach { r =>
        val pf = new java.io.File(r, "owner.pid")
        assert(pf.isFile, s"new root ${r.getName} missing owner.pid")
        val me = ProcessHandle.current()
        assert(java.nio.file.Files.readString(pf.toPath).trim ==
          s"${me.pid()} ${me.info().startInstant().get()}")
      }
    } finally TempDirs.rmTree(base)
  }

  test("a reused pid does not keep a dead owner's root alive: the " +
      "stamped start instant must match the live process") {
    val base = java.nio.file.Files.createTempDirectory("tdspec").toFile
    try {
      val me = ProcessHandle.current()
      val started = me.info().startInstant().get()
      // this JVM's pid, but an older process's start: the pid was
      // reused after the root's real owner died
      val reused = plantStamp(base, "graft-sharedREUSED",
        Some(s"${me.pid()} ${started.minusSeconds(3600)}"))
      val owned = plantStamp(base, "graft-sharedOWNED",
        Some(s"${me.pid()} $started"))
      TempDirs.scratchShared("probe", base.getAbsolutePath)
      assert(!reused.exists(), "a pid-reused stale root must be reaped")
      assert(owned.exists(), "the live owner's root must survive")
    } finally TempDirs.rmTree(base)
  }
}
