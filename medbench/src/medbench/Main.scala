package medbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.MedbenchHooks
import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `metrics` holds every
  * end-to-end metric, plus the per-layer metrics when the run was traced.
  */
final case class Result(attempted: Long, failed: Long, metrics: Map[String, Double],
    meta: Map[String, Any])

/** Shared state of one run: the session, the listener, the clock and the
  * output checks. A failed check never stops the run; it marks the
  * result incorrect and is printed on standard error.
  */
final class Ctx(val spark: SparkSession, val probe: Probe, val seed: Long,
    val traced: Boolean, val work: File) {
  val samples = new Samples
  private val failures = mutable.ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) failures.synchronized {
      if (failures.size < 20) System.err.println(s"[medbench] CHECK FAILED: $what")
      failures += what
    }

  def checkFailures: Seq[String] = failures.synchronized(failures.toSeq)

  def dir(name: String): String = {
    val f = new File(work, name)
    graft.core.Fs.rmTree(f)
    f.getPath
  }

  /** Wait for the listener bus, so counters include every finished task. */
  def drain(): Unit = MedbenchHooks.drain(spark.sparkContext)

  def cpuNs(): Long = { drain(); probe.cpuNs.sum() }

  /** Heap watch of the measured work: [[HeapPeak.start]] before it, this after. */
  val heap = new HeapPeak

  /** Median seconds of `n` set-ups. */
  def setups(n: Int)(body: Int => Unit): Double =
    Stats.median((0 until n).map { i =>
      val t0 = System.nanoTime()
      body(i)
      (System.nanoTime() - t0) / 1e9
    })
}

/** Peak heap in use after a collection, over the measured work: the largest
  * post-GC heap occupancy any collection reported between [[start]] and
  * [[peakMb]], which ends with two full collections so a run with no
  * collection of its own still reads its live heap. The second full
  * collection follows Spark's context cleaner, which frees broadcast and
  * shuffle blocks asynchronously once the first one finds them unreachable.
  */
final class HeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0L)
  @volatile private var watching = false

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, (a, b) => math.max(a, b))
    }

  def start(): Unit = { peak.set(0L); watching = true }

  def peakMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    // notifications arrive on a service thread, after the collection
    Thread.sleep(300)
    watching = false
    peak.get / 1048576.0
  }
}

object Ctx {
  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "cpu_s" -> "s", "space_amp" -> "ratio",
    "write_ms_p50" -> "ms", "write_ms_p90" -> "ms",
    "read_ms_p50" -> "ms", "read_ms_p90" -> "ms",
    "batch_ms_p50" -> "ms", "batch_ms_p90" -> "ms")

  val LayerCounters: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "cpu_s" -> "s", "plan_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_wait_s" -> "s", "input_bytes" -> "bytes",
    "shuffle_bytes" -> "bytes", "output_bytes" -> "bytes",
    "files_written" -> "count", "gc_s" -> "s", "spill_bytes" -> "bytes")

  val MedallionLayers = Seq("bronze", "silver", "gold", "gold.dq")

  val TxlogOps = Seq("append", "merge", "delete", "update", "compact", "vacuum",
    "read_full", "read_range", "read_format", "read_asof", "snapshot", "history")

  val StreamPhases = Seq("trigger" -> "triggerExecution", "add_batch" -> "addBatch",
    "get_batch" -> "getBatch", "latest_offset" -> "latestOffset",
    "query_planning" -> "queryPlanning", "wal_commit" -> "walCommit",
    "commit_offsets" -> "commitOffsets")

  val PerLayer: Seq[(String, String)] =
    MedallionLayers.flatMap(l => LayerCounters.map { case (m, u) => s"$l.$m" -> u }) ++
      Seq("runner.critical_path_s" -> "s", "runner.slot_wait_s" -> "s",
        "runner.overlap" -> "ratio") ++
      TxlogOps.map(o => s"gold.txlog.${o}_ms_p50" -> "ms") ++
      Seq("gold.txlog.checkpoint_commit_ms" -> "ms",
        "gold.txlog.jobs_per_commit" -> "count", "gold.txlog.jobs_per_read" -> "count",
        "gold.txlog.range_read_files" -> "count", "gold.txlog.range_read_bytes" -> "bytes",
        "gold.txlog.files_live" -> "count", "gold.txlog.dv_files_live" -> "count",
        "gold.txlog.log_bytes_per_commit" -> "bytes",
        "gold.txlog.data_bytes_per_user_byte" -> "ratio") ++
      StreamPhases.map { case (n, _) => s"streaming.${n}_ms_p50" -> "ms" } ++
      Seq("streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
        "streaming.jobs_per_batch" -> "count", "streaming.cpu_ms_per_batch" -> "ms",
        "streaming.restart_s" -> "s",
        "plans.plan_s" -> "s", "live_heap_mb" -> "MiB", "fail_ratio" -> "ratio",
        "trace.run_s" -> "s", "trace.unattributed_jobs" -> "count")

  def zeroLayers: Map[String, Double] = PerLayer.map(_._1 -> 0.0).toMap

  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val traced = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val work = new File(arg(args, "work"))

    val spark = graft.core.GraftSession
      .builder(master = s"local[$cores]", appName = s"medbench-$workload",
        shufflePartitions = cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe(spark.sparkContext)
    spark.sparkContext.addSparkListener(probe)
    val ctx = new Ctx(spark, probe, seed, traced, work)

    val started = System.nanoTime()
    val result = workload match {
      case "medallion_daily" => MedallionDaily.run(ctx)
      case "txlog_upkeep" => TxlogUpkeep.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val wanted = if (traced) PerLayer else EndToEnd
    val missing = wanted.map(_._1).filterNot(m =>
      result.metrics.get(m).exists(v => !v.isNaN && !v.isInfinite))
    ctx.check(missing.isEmpty, s"metrics not produced: ${missing.mkString(", ")}")
    val failures = ctx.checkFailures
    val context = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> cores, "xmx" -> arg(args, "xmx"),
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version"),
      "commit" -> arg(args, "commit"), "source_hash" -> arg(args, "source-hash"),
      "wall_s" -> (System.nanoTime() - started) / 1e9,
      "jvm_uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "check_failures" -> failures) ++ result.meta
    println("# context " + Stats.json(context))
    val metrics = wanted.map { case (name, unit) =>
      name -> Map("value" -> result.metrics.getOrElse(name, Double.NaN), "unit" -> unit)
    }
    val out = mutable.LinkedHashMap[String, Any](
      "correct" -> failures.isEmpty, "attempted" -> math.max(1L, result.attempted),
      "failed" -> result.failed, "metrics" -> mutable.LinkedHashMap(metrics: _*))
    println(Stats.json(out))
    System.out.flush()
    spark.stop()
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
