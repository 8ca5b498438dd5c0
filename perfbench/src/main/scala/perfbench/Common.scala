package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload receives. */
final case class Ctx(workload: String, spark: SparkSession, seed: Long, seconds: Int,
    delayNanos: Long, work: java.io.File) {
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** One workload run's outcome. `e2e` are the gate's end-to-end
  * metrics, `detail` the workload's own named metrics, `layers` the
  * per-layer metrics of a traced run. */
final case class Outcome(attempted: Long, failed: Long,
    failures: Seq[String], e2e: Map[String, M], detail: Map[String, M],
    layers: Map[String, M] = Map.empty)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples above it, its
    * value, and the sample count. With ten samples or fewer no
    * percentile qualifies and the maximum is reported as p100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    if (n <= 10) (100.0, xs.max, n)
    else {
      val pct = math.floor(100.0 * (n - 10) / n)
      (pct, quantile(xs, pct / 100.0), n)
    }
  }

  def ms(nanos: Long): Double = nanos / 1e6
  def s(nanos: Long): Double = nanos / 1e9
}

object Host {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = procStatus("VmHWM").map(_ / 1024.0).getOrElse(0.0)

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val maxAfterGc = new java.util.concurrent.atomic.AtomicLong(0)
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          maxAfterGc.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }, null, null)
    case _ =>
  }

  def resetGcPeak(): Unit = maxAfterGc.set(0)

  /** Memory figures, in MB: the process's peak resident set (VmHWM,
    * set-up included), the highest heap occupancy a collection left
    * since `resetGcPeak`, and non-heap use (classes, generated code). */
  def memory(): Map[String, M] = Map(
    "mem.peak_rss_mb" -> M(peakRssMb(), "MB"),
    "mem.heap_after_gc_max_mb" -> M(maxAfterGc.get() / 1048576.0, "MB"),
    "mem.nonheap_mb" -> M(
      ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed / 1048576.0, "MB"))

  private def procStatus(key: String): Option[Double] = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith(key + ":") =>
          l.drop(key.length + 1).trim.split("\\s+")(0).toDouble
      } finally src.close()
    }
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** (steal, total) CPU ticks of the machine so far, from the `cpu`
    * line of /proc/stat; (0, 0) where there is none. */
  def cpuTicks(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val t = l.trim.split("\\s+").drop(1).take(8).map(_.toLong)
        (if (t.length > 7) t(7) else 0L, t.sum)
      }.getOrElse((0L, 0L)) finally src.close()
    }
  }

  /** Percent of the machine's CPU time a hypervisor took for other
    * guests since `from` (the co-tenant share a load average misses). */
  def stealPct(from: (Long, Long)): Double = {
    val (s1, t1) = cpuTicks()
    if (t1 <= from._2) 0.0 else 100.0 * (s1 - from._1) / (t1 - from._2)
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def heapMb: Double = Runtime.getRuntime.maxMemory() / 1048576.0
}

object Files {
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** (bytes, data files) under `f`, ignoring checksum and marker files. */
  def usage(f: java.io.File): (Long, Long) =
    if (f.isDirectory)
      Option(f.listFiles()).map(_.map(usage)).getOrElse(Array.empty)
        .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) (0L, 0L)
    else (f.length(), 1L)

  def fresh(parent: java.io.File, name: String): java.io.File = {
    val d = new java.io.File(parent, name)
    delete(d)
    d.mkdirs()
    d
  }
}
