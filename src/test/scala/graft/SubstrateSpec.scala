package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Substrate

/** The one scratch-build memo: a build runs once per key, different keys
  * build in parallel, builds nest, and a failed build leaves nothing. */
class SubstrateSpec extends AnyFunSuite {

  /** The scratch root every build's dir lands in. */
  private lazy val root = Tables.scratchDir("graft_substratespec_root_")
    .getParentFile

  private def dirsNamed(prefix: String): Seq[String] =
    root.listFiles.map(_.getName).filter(_.startsWith(prefix)).toSeq

  // "Aa" and "BB" share a String hash, so these two keys share one hash
  // bucket in any hash map keyed by them: a memo that holds a map-wide
  // lock (or a bin lock) while building cannot tell them apart
  private val keyA = "substrate-spec-Aa"
  private val keyB = "substrate-spec-BB"
  assert(keyA.## == keyB.##)

  test("a throwing build leaves no dir and no entry; the next call " +
      "builds once and serves") {
    val p = "graft_substratespec_fail_"
    val boom = new IllegalStateException("build dies mid-write")
    val thrown = intercept[IllegalStateException] {
      Substrate.dir(p, keyA) { out =>
        // a half-written dir
        java.nio.file.Files.write(java.nio.file.Paths.get(out, "part-0"),
          Array[Byte](1, 2, 3))
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(dirsNamed(p).isEmpty, s"the failed build left ${dirsNamed(p)}")
    assert(Substrate.built[String](p, keyA).isEmpty)
    val runs = new AtomicInteger()
    def build(): String = Substrate.dir(p, keyA) { out =>
      runs.incrementAndGet()
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "part-0"),
        Array[Byte](4))
      ()
    }
    val first = build()
    assert(build() == first && runs.get == 1)
    assert(Substrate.built[String](p, keyA).contains(first))
    assert(dirsNamed(p) == Seq(new java.io.File(first).getName))
  }

  test("eight threads asking one key run its build once") {
    val p = "graft_substratespec_once_"
    val runs = new AtomicInteger()
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 8).map(_ => new Thread(() => {
      start.await()
      results.add(Substrate.dir(p, keyA) { _ =>
        runs.incrementAndGet()
        Thread.sleep(200)
      })
      ()
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(60000L))
    assert(runs.get == 1, s"${runs.get} builds")
    assert(results.size == 8)
    assert(new java.util.HashSet(results).size == 1)
  }

  test("builds of two keys run at the same time") {
    val p = "graft_substratespec_overlap_"
    val both = new CountDownLatch(2)
    // each build waits for the other to have started: two serialized
    // builds would each time out alone
    def build(key: String): Boolean = Substrate.state(p, key) { _ =>
      both.countDown()
      both.await(20, TimeUnit.SECONDS)
    }
    val other = new java.util.concurrent.atomic.AtomicReference[Any]()
    val t = new Thread(() => other.set(
      try build(keyB) catch { case e: Throwable => e }))
    t.start()
    val mine = build(keyA)
    t.join(60000L)
    assert(mine && other.get == true,
      s"builds did not overlap: $mine, ${other.get}")
  }

  test("a build that asks for another key resolves it; the inner build " +
      "is kept when the outer one fails") {
    val p = "graft_substratespec_nest_"
    var inner = ""
    val outer = Substrate.dir(p, keyA) { _ =>
      inner = Substrate.dir(p, keyB)(_ => ())
    }
    assert(Substrate.built[String](p, keyA).contains(outer))
    assert(Substrate.built[String](p, keyB).contains(inner))
    assert(inner != outer)
    val q = "graft_substratespec_nestfail_"
    intercept[IllegalArgumentException] {
      Substrate.dir(q, keyA) { _ =>
        Substrate.dir(q, keyB)(_ => ())
        throw new IllegalArgumentException("outer dies")
      }
    }
    val kept = Substrate.built[String](q, keyB)
    assert(kept.exists(d => new java.io.File(d).isDirectory),
      s"the inner build's dir went with the outer failure: $kept")
    assert(dirsNamed(q) == kept.map(d => new java.io.File(d).getName).toSeq)
    assert(Substrate.built[String](q, keyA).isEmpty)
  }

  test("a build that asks for its own key throws instead of recursing") {
    val p = "graft_substratespec_self_"
    def build(): String = Substrate.dir(p, keyA)(_ => { build(); () })
    intercept[IllegalStateException](build())
    assert(Substrate.built[String](p, keyA).isEmpty)
    assert(dirsNamed(p).isEmpty, s"left ${dirsNamed(p)}")
  }
}
