package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Closed-loop benchmark over `graft.SparkEntry.queries`: one client
  * thread on `local[nproc]` runs a workload's query list as an untimed
  * warm-up at the tiny scale factor, then timed rounds in one JVM and
  * one order. Each round is two passes: pass 1 (cold) pays every
  * substrate and cache build, pass 2 (warm) is served from them.
  *
  * The program's substrate and result caches are keyed by the input
  * directory, so each round reads the same input files through a fresh
  * symbolic link (`sf-r<round>` in the working directory) and starts
  * with no entry to hit; `ResultCache.evictAll()` between rounds keeps
  * the heap of one round from carrying into the next. Round metrics
  * are reported as medians over the rounds, which keeps one burst of
  * host load from deciding a run.
  *
  * Usage (normally through `perfbench/run.py`):
  * {{{
  * perfbench.Harness --lists FILE --workload W --seed N --trace 0|1
  *   --sf-dir DIR --warm-dir DIR --out FILE [--rounds N]
  *   [--trace-out FILE] (--golden FILE | --golden-out FILE)
  * perfbench.Harness --lists FILE --print-order     # seed-0 orders
  * }}}
  * `--lists` holds one `workload<TAB>q1,q2,...` line per workload. */
object Harness {
  /** `graft.Bench`'s owner-precedes-consumer pins, copied verbatim:
    * seed 0 must reproduce the board's order (selftest.py checks this
    * copy against Bench.scala). */
  val OrderPins: Map[String, String] = Map(
    "similarity_join_exact" -> "neardup_survivors~1",
    "lsh_recall_audit" -> "neardup_survivors~2")

  def benchOrder(names: Seq[String]): Seq[String] =
    names.sortBy(n => OrderPins.getOrElse(n, n))

  /** Seed 0 is the board's order; any other seed a seeded permutation.
    * The seed is mixed first: `java.util.Random`'s first draws barely
    * differ between neighbouring seeds, so seeds 1..n would otherwise
    * give short lists nearly one order. */
  def passOrder(names: Seq[String], seed: Long): Seq[String] =
    if (seed == 0) benchOrder(names)
    else new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
      .shuffle(benchOrder(names))

  /** Row count plus an order-independent hash sum, taken by the same
    * action that forces the query. `graft.Bench.force` reduces with
    * bit_xor, which cancels a duplicated row; summing both 32-bit
    * halves of each row hash does not. */
  final case class Fingerprint(rows: Long, lo: Long, hi: Long) {
    override def toString = s"$rows:$lo:$hi"
  }

  def force(df: DataFrame): Fingerprint = {
    val h = col("h")
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(count(lit(1)),
        coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftRight(h, 32)), lit(0L)))
      .collect()(0)
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  final class Exec(val idx: Int, val round: Int, val pass: Int,
      val name: String) {
    var startMs = 0L; var endMs = 0L
    var buildEndMs = 0L
    var buildS = 0.0; var forceS = 0.0; var wallS = 0.0; var cpuS = 0.0
    var fingerprint = ""; var error: Option[String] = None
    var rcMisses = 0L; var cachedMb = 0.0
    var newDirs: Seq[(String, String, Long)] = Nil // (root, dir, bytes)
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case Array(k) if k.startsWith("--") => k.drop(2) -> ""
    }.toMap

  def readLists(path: String): Seq[(String, Seq[String])] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(_.trim.nonEmpty).map { l =>
        val Array(w, qs) = l.split("\t", 2)
        w -> qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }

  /** Fails loudly on a name the program does not define or a name
    * listed in two workloads. */
  def validate(lists: Seq[(String, Seq[String])], known: Set[String]): Unit = {
    val missing = lists.flatMap(_._2).filterNot(known).distinct
    require(missing.isEmpty,
      s"listed but not in SparkEntry.queries: ${missing.mkString(", ")}")
    val owners = lists.flatMap { case (w, qs) => qs.map(_ -> w) }
      .groupBy(_._1).filter(_._2.size > 1)
    require(owners.isEmpty, "listed more than once: " + owners.map {
      case (q, ws) => s"$q in ${ws.map(_._2).mkString(" and ")}" }
      .mkString(", "))
  }

  private def mb(bytes: Double): Double = bytes / (1024.0 * 1024.0)

  /** RAM and disk scratch roots the program's `Tables.scratchDir` and
    * replay directories use. */
  private val scratchRoots: Seq[(String, Path)] =
    Seq("shm" -> Paths.get("/dev/shm"),
      "tmp" -> Paths.get(System.getProperty("java.io.tmpdir")))
      .filter(r => Files.isDirectory(r._2))

  private def graftDirs(): Set[(String, String)] = scratchRoots.flatMap {
    case (k, root) =>
      Option(root.toFile.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("graft_")).map(k -> _)
  }.toSet

  private def treeBytes(p: Path): Long =
    try {
      val s = Files.walk(p)
      try s.iterator().asScala.map { f =>
        try if (Files.isRegularFile(f)) Files.size(f) else 0L
        catch { case _: java.io.IOException => 0L }
      }.sum finally s.close()
    } catch { case _: java.io.IOException => 0L }

  private def dirBytes(d: (String, String)): Long =
    scratchRoots.find(_._1 == d._1).map(r => treeBytes(r._2.resolve(d._2)))
      .getOrElse(0L)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuS: Double = osBean.getProcessCpuTime / 1e9
  /** JIT compilation and collector time so far, in seconds. */
  private def jitS: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
  private def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum / 1000.0
  private def liveHeapMb(): Double = {
    System.gc()
    mb(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Highest whole percentile with at least ten executions above it
    * (nearest rank), with the percentile. Below twenty executions no
    * percentile from the median up has ten above it, and the maximum
    * stands in. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n < 20) (if (n == 0) Double.NaN else s.last, 100)
    else {
      val pct = (100 * (n - 10)) / n
      val idx = math.max(0, math.ceil(pct * n / 100.0).toInt - 1)
      (s(idx), pct)
    }
  }

  /** Exits explicitly: Spark's non-daemon threads would otherwise keep
    * a failed run's JVM alive. */
  def main(args: Array[String]): Unit = {
    graft.ToolLogging.init()
    val rc = try { run(parseArgs(args)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(rc)
  }

  private def run(a: Map[String, String]): Unit = {
    val lists = readLists(a("lists"))
    validate(lists, graft.SparkEntry.queries.keySet)
    if (a.contains("print-order")) {
      lists.foreach { case (w, qs) =>
        println(s"$w\t${benchOrder(qs).mkString(",")}")
      }
      return
    }
    val workload = a("workload")
    val names = lists.toMap.getOrElse(workload,
      sys.error(s"unknown workload '$workload'"))
    val seed = a("seed").toLong
    val rounds = a.get("rounds").map(_.toInt).getOrElse(1)
    require(rounds >= 1, "--rounds must be at least 1")
    val traced = a("trace") == "1"
    val golden: Map[String, String] = a.get("golden").map { g =>
      Files.readAllLines(Paths.get(g)).asScala.filter(_.contains("\t"))
        .map { l => val Array(k, v) = l.split("\t", 2); k -> v.trim }.toMap
    }.getOrElse(Map.empty)
    val writeGolden = a.get("golden-out")
    val noGolden = names.filterNot(golden.contains)
    require(writeGolden.isDefined || noGolden.isEmpty,
      s"no golden fingerprint for: ${noGolden.mkString(", ")}")

    val cpus = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (traced) builder.config("spark.sql.queryExecutionListeners",
      classOf[Trace.PlanListener].getName)
    val spark = builder.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    if (traced) sc.addSparkListener(new Trace.BusListener)
    val queries = graft.SparkEntry.queries
    val order = passOrder(names, seed)

    // Untimed warm-up, as graft.Bench does: codegen, JIT, footers.
    if (traced) sc.setLocalProperty(Trace.Tag, "warmup")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(s"[perfbench] session ready " +
      s"${(System.currentTimeMillis() - jvmStartMs) / 1000.0} s after JVM start")
    val warmupFailures = order.count { n =>
      val t = System.nanoTime()
      try { force(queries(n)(spark, a("warm-dir"))); false }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up $n failed: ${e.getMessage}")
        true
      } finally System.err.println(
        s"[perfbench] warm-up $n ${(System.nanoTime() - t) / 1e9} s")
    }

    val execs = mutable.ArrayBuffer.empty[Exec]
    val heapPeaks = mutable.ArrayBuffer.empty[Double]
    def runPass(round: Int, pass: Int, dir: String) = order.foreach { n =>
      // GC outside the timed span, as graft.Bench does; the live heap
      // it leaves is what the caches built so far hold.
      heapPeaks += liveHeapMb()
      val e = new Exec(execs.size, round, pass, n)
      execs += e
      if (traced) sc.setLocalProperty(Trace.Tag, e.idx.toString)
      val dirs0 = if (traced) graftDirs() else Set.empty[(String, String)]
      val rc0 = graft.sources.ResultCache.misses
      val cpu0 = processCpuS
      e.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df = queries(n)(spark, dir)
        t1 = System.nanoTime()
        e.buildEndMs = System.currentTimeMillis()
        e.fingerprint = force(df).toString
      } catch {
        case x: Throwable =>
          if (t1 == t0) {
            t1 = System.nanoTime(); e.buildEndMs = System.currentTimeMillis()
          }
          e.error = Some(s"threw ${x.getClass.getSimpleName}: ${x.getMessage}")
      }
      val t2 = System.nanoTime()
      e.endMs = System.currentTimeMillis()
      e.cpuS = processCpuS - cpu0
      e.buildS = (t1 - t0) / 1e9; e.forceS = (t2 - t1) / 1e9
      e.wallS = (t2 - t0) / 1e9
      e.rcMisses = graft.sources.ResultCache.misses - rc0
      if (traced) {
        sc.setLocalProperty(Trace.Tag, null)
        e.newDirs = (graftDirs() -- dirs0).toSeq.sorted
          .map(d => (d._1, d._2, dirBytes(d)))
        e.cachedMb = mb(sc.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum.toDouble)
      }
      if (e.error.isEmpty) {
        val expect = golden.get(n).map("golden" -> _) ++
          execs.find(x => pass > 1 && x.round == round && x.pass == 1 &&
            x.name == n)
            .map("pass 1" -> _.fingerprint)
        e.error = expect.collectFirst { case (src, fp) if fp != e.fingerprint =>
          s"fingerprint ${e.fingerprint} != $src $fp" }
      }
      e.error.foreach(m =>
        System.err.println(s"[perfbench] round $round pass $pass $n: $m"))
    }

    // The link names one input directory under a path no cache has
    // seen; it lives in the working directory, which run.py removes.
    def roundDir(round: Int): String = {
      val link = Paths.get(s"sf-r$round").toAbsolutePath
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, Paths.get(a("sf-dir")).toAbsolutePath)
        .toString
    }

    val windowStartMs = System.currentTimeMillis()
    val roundJvm = mutable.ArrayBuffer.empty[(Double, Double)]
    val roundScratchMb = (1 to rounds).map { r =>
      val dir = roundDir(r)
      val (jit0, gc0) = (jitS, gcS)
      val dirsBefore = graftDirs()
      runPass(r, 1, dir)
      runPass(r, 2, dir)
      roundJvm += ((jitS - jit0, gcS - gc0))
      val made = (graftDirs() -- dirsBefore).toSeq.map(dirBytes).sum
      // outside the passes: drop this round's cached results so the
      // next round starts from the heap the first one did
      heapPeaks += liveHeapMb()
      graft.sources.ResultCache.evictAll()
      System.err.println(s"[perfbench] round $r done")
      mb(made.toDouble)
    }
    val windowEndMs = System.currentTimeMillis()

    /** Per round, the sum of `f` over the executions `keep` selects. */
    def perRound(keep: Exec => Boolean, f: Exec => Double): Seq[Double] =
      (1 to rounds).map(r => execs.filter(e => e.round == r && keep(e))
        .map(f).sum)
    val coldS = perRound(_.pass == 1, _.wallS)
    val warmS = perRound(_.pass == 2, _.wallS)
    val roundCpuS = perRound(_ => true, _.cpuS)
    val walls = execs.map(_.wallS).toSeq
    val (tailS, tailPct) = tail(walls)
    val failed = execs.filter(_.error.isDefined)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (windowStartMs - jvmStartMs) / 1000.0,
      "cold_pass_s" -> median(coldS),
      "warm_pass_s" -> median(warmS),
      "cpu_s" -> median(roundCpuS),
      "query_p50_s" -> median(walls),
      "query_tail_s" -> tailS,
      "fail_ratio" -> failed.size.toDouble / execs.size,
      "live_heap_peak_mb" -> heapPeaks.max,
      "scratch_mb" -> median(roundScratchMb))

    val traceOut = if (traced)
      Some(Attribution(sc, execs.toSeq, workload, a.get("trace-out")))
      else None

    writeGolden.foreach { p =>
      val lines = execs.filter(e => e.round == 1 && e.pass == 1).sortBy(_.name)
        .map(e => s"${e.name}\t${e.fingerprint}")
      Files.write(Paths.get(p), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cpus" -> cpus,
      "max_heap_mb" -> mb(Runtime.getRuntime.maxMemory.toDouble),
      "jvm_start_ms" -> jvmStartMs,
      "window_start_ms" -> windowStartMs, "window_end_ms" -> windowEndMs,
      "order" -> order,
      "warmup_failures" -> warmupFailures,
      "attempted" -> execs.size, "failed" -> failed.size,
      "failures" -> failed.map(e => Map("pass" -> e.pass, "name" -> e.name,
        "reason" -> e.error.get)),
      "e2e" -> e2e,
      "query_n" -> walls.size, "query_tail_pct" -> tailPct,
      "rounds" -> (1 to rounds).map(r => Map("cold_pass_s" -> coldS(r - 1),
        "warm_pass_s" -> warmS(r - 1), "cpu_s" -> roundCpuS(r - 1),
        "scratch_mb" -> roundScratchMb(r - 1),
        "jit_s" -> roundJvm(r - 1)._1, "gc_s" -> roundJvm(r - 1)._2)),
      "executions" -> execs.map(e => Map("round" -> e.round,
        "pass" -> e.pass, "name" -> e.name,
        "wall_s" -> e.wallS, "build_s" -> e.buildS, "cpu_s" -> e.cpuS,
        "ok" -> e.error.isEmpty)))
    traceOut.foreach { t =>
      result += "layers" -> (t.layers ++ Map(
        "jvm.jit_s" -> roundJvm.map(_._1).sum,
        "jvm.gc_s" -> roundJvm.map(_._2).sum))
      result += "drain" -> t.drain
    }
    try spark.stop() catch { case _: Throwable => () }
    Files.write(Paths.get(a("out")), Json(result).getBytes("UTF-8"))
  }
}
