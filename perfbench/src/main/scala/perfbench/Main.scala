package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes its raw measurements as JSON:
  * set-up times, timed passes, output checks, host load and, when traced,
  * spans and layer counters. `perfbench/run.py` turns them into metrics.
  *
  * Usage: Main <workload> <input-dir> <work-dir> <seconds> <trace 0|1>
  *             <setups> <min-passes> <out.json>
  *
  * Any exception exits with code 1 and writes no result.
  */
object Main {
  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  private def session(cores: Int, work: String): SparkSession = {
    val spark = graft.GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Busy and steal jiffies of all cpus (USER_HZ = 10 ms), as graft.Bench
    * reads them: busy excludes idle, iowait and steal.
    */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum - f(3) - f(4) - f(7), f(7))
    } catch { case _: Exception => (-1L, -1L) }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def jitMs(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else -1L
  }

  /** The process's peak resident set (VmHWM), in kB. */
  private def peakRssKb(): Long =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      e.printStackTrace()
      // service threads the engine leaves behind would keep the JVM alive
      sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val Array(wname, input, work, secondsS, traceS, setupsS, minPassesS, out) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val tr = new Tracer(traced, s"$wname-${java.util.UUID.randomUUID().toString.take(8)}")
    val w: Workload = wname match {
      case "v3_corpus" => new V3Corpus(input)
      case "ingest_drops" => new IngestDrops(input, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: session start plus one warm-up pass, `setups` times (each in a
    // fresh session after the first); the median is the reported set-up time.
    // The warm-up's output checks are not part of it.
    var spark: SparkSession = null
    val warmChecks = scala.collection.mutable.ArrayBuffer.empty[Check]
    val setups = (0 until setupsS.toInt).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) stop(spark)
      spark = session(cores, work)
      tr.install(spark)
      val (checks, checkS) = tr.span(spark, s"setup:$i", "setup")(w.warm(spark, tr, i))._1
      warmChecks ++= checks
      (System.nanoTime() - t0) / 1e9 - checkS
    }
    System.gc()

    // timed passes, closed loop, one client
    val minPasses = minPassesS.toInt
    val countersBefore = tr.counters.synchronized(tr.counters.toMap)
    tr.set("__longest_stage_ms", -1.0)
    val (busy0, steal0) = cpuJiffies()
    val cpu0 = processCpuNs(); val gc0 = gcMs(); val jit0 = jitMs()
    val classes0 = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
    val timedStart = tr.nowMs
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    while (passes.size < minPasses || (w.timeBound && (System.nanoTime() - t0) / 1e9 < seconds)) {
      val p = w.pass(spark, tr, passes.size)
      passes += p
      System.err.println(f"[perfbench] pass ${passes.size}: ${p.wall}%.3f s " +
        p.calls.map { case (n, s) => f"$n=$s%.3f" }.mkString(" "))
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val timedEnd = tr.nowMs
    val (busy1, steal1) = cpuJiffies()
    val cpu1 = processCpuNs()
    val selfCpu = (cpu1 - cpu0) / 1e9
    val otherCores =
      if (busy0 < 0 || busy1 < 0 || cpu0 < 0 || elapsed <= 0) -1.0
      else math.max(0.0, ((busy1 - busy0) * 0.010 - selfCpu) / elapsed)
    val stealCores =
      if (steal0 < 0 || steal1 < 0 || elapsed <= 0) -1.0 else (steal1 - steal0) * 0.010 / elapsed
    val rssKb = peakRssKb()
    val jvm = Map(
      "jvm.gc_s" -> (gcMs() - gc0) / 1e3,
      "jvm.jit_s" -> (if (jit0 < 0) -1.0 else (jitMs() - jit0) / 1e3),
      "jvm.classes_loaded" ->
        (ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount - classes0).toDouble,
      "jvm.cpu_s" -> selfCpu)
    val countersTimed = tr.counters.synchronized(tr.counters.toMap).map { case (k, v) =>
      k -> (if (k == "cache.peak_mb" || k == "spark.exec.task_skew" || k.startsWith("__")) v
            else v - countersBefore.getOrElse(k, 0.0))
    }
    // output checks (untimed)
    val tc = System.nanoTime()
    val checks = warmChecks.toSeq ++ w.check(spark, tr)
    System.err.println(f"[perfbench] checks took ${(System.nanoTime() - tc) / 1e9}%.1f s")
    // partitions still cached once the workload has released its outputs
    val blocksLeft = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
    // layer harness (traced runs only, after everything timed)
    val layers = if (traced) Kernels.measure(spark, tr, w) else Map.empty[String, Double]

    val ingestStores = w match {
      case i: IngestDrops => Map("stores" -> i.storeDirs)
      case _ => Map.empty[String, Any]
    }
    val result = Map[String, Any](
      "workload" -> wname, "cores" -> cores,
      "setups" -> setups,
      "passes" -> passes.map(p => Map("wall" -> p.wall, "items" -> p.items,
        "calls" -> p.calls.map { case (n, s) => Map("name" -> n, "wall" -> s) })),
      "elapsed" -> elapsed, "timed_window" -> Seq(timedStart, timedEnd),
      "peak_rss_kb" -> rssKb,
      "host" -> Map("other_cores" -> otherCores, "steal_cores" -> stealCores),
      "checks" -> checks.map(c => Map("name" -> c.name, "rows" -> c.rows, "hash" -> c.hash,
        "invariants" -> c.invariants.map { case (n, ok) => Map("name" -> n, "ok" -> ok) })),
      "describe" -> w.describe,
      "counters" -> (countersTimed ++ jvm ++ layers ++
        Map("cache.blocks_left" -> blocksLeft.toDouble)).filterNot(_._1.startsWith("__")),
      "job_task_s" -> countersTimed.collect {
        case (k, v) if k.startsWith("__job_task_s:") => k.stripPrefix("__job_task_s:") -> v
      },
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start" -> s.start, "end" -> s.end, "run" -> s.run))
    ) ++ ingestStores
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json.render(result))
    stop(spark)
    // engine queries may leave non-daemon service threads behind (see
    // graft.Bench); exit explicitly once the result is written
    sys.exit(0)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
