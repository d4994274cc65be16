package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.Context

/** The benchmark's JVM side: one client issuing one engine query at a time.
  *
  * Modes:
  *  - `--dump-queries FILE`: write SparkEntry's query names and DuckDB twin
  *    SQL as JSON (no Spark session is started).
  *  - otherwise: set up (session from Context.session, then a warm-up pass
  *    over `--queries` at `--sf`), run whole passes until `--seconds` have
  *    been measured, and write everything the Python side needs to
  *    `--out`/result.json.
  *
  * Every timing here is taken around calls into public entry points: the
  * query function (build) and `collect()` (action). With `--trace 1` the
  * [[Trace]] listeners record jobs, stages, query executions and stream
  * batches as well; their spans are attributed to queries afterwards by
  * time interval, which is exact because this client is the only one. */
object Harness {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    opts.get("--dump-queries") match {
      case Some(file) => dumpQueries(file)
      case None => run(opts)
    }
  }

  private def dumpQueries(file: String): Unit = {
    val doc = Map(
      "queries" -> SparkEntry.queries.keys.toSeq.sorted,
      "oracle_sql" -> SparkEntry.oracleSql)
    Json.write(Paths.get(file), doc)
  }

  private def run(opts: Map[String, String]): Unit = {
    val cpu0 = CpuTicks.read()
    val names = opts("--queries").split(",").toSeq
    val sfDir = opts("--sf")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val cores = opts("--cores").toInt
    val trace = opts("--trace") == "1"
    val out = Paths.get(opts("--out"))
    Files.createDirectories(out.resolve("outputs"))

    // Set-up, timed from the JVM's own start (boot and class loading
    // included): the session, then one unmeasured warm-up pass.
    val spark = Context.session(s"local[$cores]", cores)
    val sessionS = System.currentTimeMillis() / 1e3 -
      ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    for (q <- names) {
      val w0 = System.nanoTime()
      try SparkEntry.queries(q)(spark, sfDir).collect()
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] warm-up $q failed: ${e.getMessage}") }
      System.err.println(f"[perfbench] warm-up $q ${(System.nanoTime() - w0) / 1e9}%.2f s")
      isolate(spark)
    }
    val setupS = System.currentTimeMillis() / 1e3 -
      ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val setupCpu = CpuTicks.read() - cpu0

    val recorder = if (trace) Some(Trace.attach(spark)) else None
    val heap = new HeapPeak
    val clock = new Clock
    val rng = new scala.util.Random(seed)
    val firstPass = mutable.Map.empty[String, (Long, Int)]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    // Whole passes until the timed regions add up to --seconds; the time
    // spent isolating state and dumping outputs does not count.
    var measuredMs = 0.0
    heap.reset()
    while (measuredMs < seconds * 1e3) {
      val pass = passes.size
      val records = rng.shuffle(names).map { q =>
        isolate(spark)
        val w0 = fsBytesWritten()
        val c0 = CpuTicks.read()
        val t0 = clock.nowMs()
        var t1 = t0
        val result =
          try {
            val df = SparkEntry.queries(q)(spark, sfDir)
            t1 = clock.nowMs()
            Right((df, df.collect()))
          } catch { case NonFatal(e) => Left(e) }
        val t2 = clock.nowMs()
        val cpu = CpuTicks.read() - c0
        measuredMs += t2 - t0
        val written = fsBytesWritten() - w0
        val rec = Map("query" -> q, "pass" -> pass, "start_ms" -> t0,
          "build_end_ms" -> t1, "end_ms" -> t2, "write_bytes" -> written,
          "busy_ticks" -> cpu.busy, "steal_ticks" -> cpu.steal)
        result match {
          case Left(e) =>
            System.err.println(s"[perfbench] $q failed: $e")
            failures += Map("query" -> q, "pass" -> pass, "kind" -> "error",
              "error" -> e.toString)
            rec + ("ok" -> false)
          case Right((df, rows)) =>
            // Outside the timed region: the first pass's output goes to
            // disk for the oracle compare; later passes must match it.
            val digest = rows.foldLeft(17L)((h, r) => h * 31 + r.hashCode)
            firstPass.get(q) match {
              case None =>
                firstPass(q) = (digest, rows.length)
                spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
                  .write.mode("overwrite").parquet(out.resolve(s"outputs/$q").toString)
              case Some((d, n)) if d != digest || n != rows.length =>
                failures += Map("query" -> q, "pass" -> pass, "kind" -> "mismatch",
                  "error" -> s"output differs from pass 0 ($n -> ${rows.length} rows)")
              case _ => ()
            }
            rec + ("ok" -> true) + ("rows" -> rows.length)
        }
      }
      passes += Map("pass" -> pass, "queries" -> records)
    }
    isolate(spark) // the last query's retained heap counts too
    val heapPeakMb = heap.peakMb
    heap.close()
    // stop() drains the listener bus, so every traced event has arrived
    spark.stop()
    val doc = Map(
      "setup_s" -> setupS,
      "setup_busy_ticks" -> setupCpu.busy,
      "setup_steal_ticks" -> setupCpu.steal,
      "session_s" -> sessionS,
      "heap_peak_mb" -> heapPeakMb,
      "cores" -> cores,
      "passes" -> passes.toSeq,
      "failures" -> failures.toSeq) ++
      recorder.map(r => Map("trace" -> r.snapshot())).getOrElse(Map.empty)
    Json.write(out.resolve("result.json"), doc)
  }

  /** State isolation between queries, outside every timed region — the
    * same steps as graft.Bench: drop DataFrame and RDD persists, then GC
    * so the ContextCleaner can reclaim shuffle files and broadcasts. */
  private def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    Thread.sleep(50)
  }

  /** Bytes written through Hadoop file systems by every thread so far. */
  private def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum
}

/** Host-wide CPU time from /proc/stat, in clock ticks: `busy` is time the
  * CPUs ran work (user, nice, system, irq, softirq), `steal` time a vCPU
  * had work but the hypervisor ran someone else. */
final case class CpuTicks(busy: Long, steal: Long) {
  def -(o: CpuTicks): CpuTicks = CpuTicks(busy - o.busy, steal - o.steal)
}

object CpuTicks {
  def read(): CpuTicks = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    CpuTicks(f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
  }
}

/** Wall-clock milliseconds with nanoTime resolution, on the same epoch as
  * Spark's listener event times. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Peak heap occupancy, in MiB, right after the explicit full collections
  * that isolate queries from each other: what the engine retains across
  * queries. Young collections are left out; their after-GC occupancy
  * depends on when they happen to run and varied by 20 % between runs. */
final class HeapPeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcCause == "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = synchronized { peak / 1048576.0 }
  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(path: java.nio.file.Path, doc: Any): Unit =
    mapper.writeValue(path.toFile, doc)
}
