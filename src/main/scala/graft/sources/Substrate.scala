package graft.sources

import java.util.concurrent.ConcurrentHashMap

import graft.Tables

/** ONE memo for every once-per-(JVM, corpus) scratch build: the derived
  * tables, replay feeds and maintained states that operators write
  * under [[graft.Tables.scratchDir]] and then serve many times
  * (reference `SCALING.md:87-120`: repeat work is served from a keyed
  * cache, writes are idempotent).
  *
  * A build is keyed by its dir prefix and a key string (the raw corpus
  * path, optionally with a variant suffix such as `dir#deg`). Each key
  * owns one cell, and the build runs under that cell's own lock, so:
  *   - different keys build in parallel ([[graft.Tables.concurrently]]);
  *   - a build may ask for another key (nested builds resolve);
  *   - callers of one key wait for its one build;
  *   - a build that asks for its own key, directly or through the keys
  *     it nests, throws instead of recursing.
  *
  * A build that throws records nothing, and its dir is deleted before
  * the failure is rethrown, so the next call rebuilds from scratch and
  * a half-written dir is never served. Dirs that a nested build made
  * for its own (successful) key are that key's and are kept; other
  * scratch dirs the failed build made beside its own stay until JVM
  * exit.
  *
  * This is the one place that knows what was built and over which
  * input: a corpus-identity stamp or a build ledger belongs here. */
object Substrate {
  /** One key's build result, set once its build returns. */
  private final class Cell { @volatile var value: Option[Any] = None }

  private val cells = new ConcurrentHashMap[(String, String), Cell]()

  /** The keys whose builds are running on this thread, innermost first. */
  private val building =
    ThreadLocal.withInitial[List[(String, String)]](() => Nil)

  /** `build`'s value for (`prefix`, `key`), built at most once per JVM
    * into a fresh `Tables.scratchDir(prefix)` whose path it is given. */
  def state[V](prefix: String, key: String)(build: String => V): V = {
    val k = (prefix, key)
    val cell = cells.computeIfAbsent(k, _ => new Cell)
    cell.value.getOrElse {
      val outer = building.get
      if (outer.contains(k))
        throw new IllegalStateException(
          s"substrate $prefix over $key asked for itself while building")
      cell.synchronized {
        cell.value.getOrElse {
          val f = Tables.scratchDir(prefix)
          building.set(k :: outer)
          try {
            val v = build(f.getAbsolutePath)
            cell.value = Some(v)
            v
          } catch {
            case e: Throwable => Tables.dropScratch(f); throw e
          } finally building.set(outer)
        }
      }
    }.asInstanceOf[V]
  }

  /** [[state]] for a build whose value is its dir: `write` fills the dir
    * at the path it is given, and the path is served. */
  def dir(prefix: String, key: String)(write: String => Unit): String =
    state(prefix, key) { out => write(out); out }

  /** The value built for (`prefix`, `key`), if a build has succeeded. */
  def built[V](prefix: String, key: String): Option[V] =
    Option(cells.get((prefix, key))).flatMap(_.value).map(_.asInstanceOf[V])
}
