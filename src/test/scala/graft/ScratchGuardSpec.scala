package graft

import org.scalatest.funsuite.AnyFunSuite

/** The RAM-backed-scratch free-space budget (r12 verdict #2): a tmpfs
  * scratch root is only used while it still offers
  * [[Tables.MinScratchFreeBytes]] usable bytes; below the line, new
  * scratch dirs fall back to the disk-backed default tmpdir instead of
  * competing with executor memory (or hitting tmpfs ENOSPC). */
class ScratchGuardSpec extends AnyFunSuite {

  test("a root with ample free space passes through the guard") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_guard_ok_")
    try {
      // the default tmpdir's filesystem has >> budget free on any CI box
      assert(Tables.guardedScratchRoot(Some(tmp)).contains(tmp))
    } finally { java.nio.file.Files.delete(tmp); () }
  }

  test("a root below the free-space budget is rejected (tmpdir fallback)") {
    // /proc is a pseudo-fs whose file store reports 0 usable bytes —
    // a deterministic stand-in for a full tmpfs
    val full = java.nio.file.Paths.get("/proc")
    assume(Tables.usableBytes(full) < Tables.MinScratchFreeBytes)
    assert(Tables.guardedScratchRoot(Some(full)).isEmpty)
  }

  test("no configured root stays a no-op") {
    assert(Tables.guardedScratchRoot(None).isEmpty)
  }

  test("a non-positive or garbled budget override is refused for the default") {
    val default = Tables.DefaultMinScratchFreeBytes
    for (raw <- Seq("0", "-1", "-4294967296", "lots", ""))
      assert(Tables.minFreeBytesOf(Some(raw)) == default, raw)
    assert(Tables.minFreeBytesOf(Some("1048576")) == 1048576L)
    assert(Tables.minFreeBytesOf(None) == default)
  }

  test("an unreadable file store fails open, and says so once") {
    val missing = java.nio.file.Paths.get("/nonexistent/graft_guard_probe")
    val err = new java.io.ByteArrayOutputStream()
    val prev = System.err
    Tables.usableBytesWarned.set(false)
    System.setErr(new java.io.PrintStream(err, true))
    val (a, b) =
      try (Tables.usableBytes(missing), Tables.usableBytes(missing))
      finally System.setErr(prev)
    assert(a == Long.MaxValue && b == Long.MaxValue)
    assert(Tables.guardedScratchRoot(Some(missing)).contains(missing))
    val warnings = err.toString.linesIterator
      .count(_.contains("cannot read the free space of"))
    assert(warnings == 1, err.toString)
  }
}
