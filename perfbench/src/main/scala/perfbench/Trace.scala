package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters at the benchmark's own GitHub transport, for one phase. */
final class IngestStats {
  val requests: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  var records = 0L
  var retries = 0L
  var backoffMs = 0L
  var bytes = 0L
  var waitNanos = 0L
  var repeats = 0L
  /** (repository, time) of each repository's first request. */
  val repoStarts = mutable.ArrayBuffer.empty[(String, Long)]
  private val seen = mutable.HashSet.empty[String]

  def repoStart(name: String, at: Long): Unit = synchronized {
    if (!repoStarts.exists(_._1 == name)) repoStarts += name -> at
  }

  def record(cls: String, key: String, nBytes: Long, nRecords: Int,
      fault: Boolean, nanos: Long): Unit = synchronized {
    requests(cls) += 1
    records += nRecords
    bytes += nBytes
    waitNanos += nanos
    if (fault) retries += 1
    if (!seen.add(key)) repeats += 1
  }

  def backoff(ms: Long): Unit = synchronized { backoffMs += ms }

  def total: Long = requests.values.sum
}

/** JVM-global counters for the bulk sink. `BulkSink` ships its
  * transport into Spark tasks, so per-instance fields would count on a
  * deserialized copy; in local mode every task runs in this JVM and
  * reaches this object. */
object BulkRegistry {
  val docs = new LongAdder
  val flushes = new LongAdder
  val bytes = new LongAdder
  val flushNanos = new LongAdder
  val failed = new LongAdder
  /** (index, repo) → documents received. */
  val perIndexRepo = new ConcurrentHashMap[(String, String), LongAdder]()
  /** Flush spans (start, end, docs) while a trace is recording. */
  @volatile var flushLog: Option[java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]] = None

  def reset(): Unit = {
    Seq(docs, flushes, bytes, flushNanos, failed).foreach(_.reset())
    perIndexRepo.clear()
  }

  def count(index: String, repo: String): Long =
    Option(perIndexRepo.get((index, repo))).map(_.sum()).getOrElse(0L)
}

/** A `_bulk` endpoint stand-in that accepts every document and counts
  * what it receives, per index and per repository. */
final class CountingBulkTransport extends graft.io.BulkSink.BulkTransport {
  def flush(index: String, lines: Seq[String]): Int = {
    val t0 = System.nanoTime()
    var n = 0
    var b = 0L
    val it = lines.iterator
    while (it.hasNext) {
      val action = it.next()
      val doc = it.next()
      b += action.length + doc.length + 2
      n += 1
      val key = "\"repo_name\":\""
      val i = doc.indexOf(key)
      val repo =
        if (i < 0) "" else doc.substring(i + key.length, doc.indexOf('"', i + key.length))
      BulkRegistry.perIndexRepo
        .computeIfAbsent((index, repo), _ => new LongAdder).increment()
    }
    val t1 = System.nanoTime()
    BulkRegistry.docs.add(n)
    BulkRegistry.flushes.increment()
    BulkRegistry.bytes.add(b)
    BulkRegistry.flushNanos.add(t1 - t0)
    BulkRegistry.flushLog.foreach(_.add((t0, t1, n)))
    0
  }
}

/** One span: a layer call, a request or a flush, in nanoTime. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Long, var end: Long, startMs: Long,
    attrs: mutable.Map[String, String])

/** Spark work attributed to one span. */
final class SpanWork {
  val jobs = new LongAdder
  val tasks = new LongAdder
  val runMs = new LongAdder
  val cpuNanos = new LongAdder
  val gcMs = new LongAdder
  val shuffleWrite = new LongAdder
  val spill = new LongAdder
  val inputBytes = new LongAdder
  val recordsRead = new LongAdder
  /** (start, end) epoch milliseconds of each finished job. */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var firstJobStartMs = Long.MaxValue
  val callSites = new ConcurrentHashMap[String, LongAdder]()

  /** Seconds during which at least one of the span's jobs ran (jobs a
    * query runs concurrently, such as broadcasts, count once). */
  def jobSeconds: Double = {
    var covered = 0L
    var upTo = Long.MinValue
    jobIntervals.asScala.toSeq.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    covered / 1e3
  }
}

/** In-memory spans around every layer call the benchmark makes, with
  * Spark work attributed to the span that submitted it: each span tags
  * its jobs with `setJobGroup`, and a listener sums the jobs' tasks,
  * CPU, GC, shuffle and spill into the span's group. */
final class Trace(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val work = new ConcurrentHashMap[String, SpanWork]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile var op: Long = 0

  private def group(id: Long) = s"perfbench-span-$id"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      g.foreach { g =>
        jobGroup.put(e.jobId, (g, e.time))
        e.stageIds.foreach(s => stageGroup.put(s, g))
        val w = work.computeIfAbsent(g, _ => new SpanWork)
        w.jobs.increment()
        w.firstJobStartMs = math.min(w.firstJobStartMs, e.time)
        // the call site is a trace attribute for diagnosis only: it
        // moves whenever a line moves, so it never names a metric
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
        w.callSites.computeIfAbsent(site, _ => new LongAdder).increment()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobGroup.remove(e.jobId)).foreach { case (g, t0) =>
        work.get(g).jobIntervals.add((t0, e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val w = work.get(g)
        w.tasks.increment()
        Option(e.taskMetrics).foreach { m =>
          w.runMs.add(m.executorRunTime)
          w.cpuNanos.add(m.executorCpuTime)
          w.gcMs.add(m.jvmGCTime)
          w.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          w.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
          w.inputBytes.add(m.inputMetrics.bytesRead)
          w.recordsRead.add(m.inputMetrics.recordsRead)
        }
      }
  }
  sc.addSparkListener(listener)

  /** Open a span under the current one; Spark jobs submitted from this
    * thread until it closes count toward it. */
  def open(name: String, attrs: Map[String, String] = Map.empty): Long = synchronized {
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = Span(ids.incrementAndGet(), name, parent, op, System.nanoTime(), 0L,
      System.currentTimeMillis(), mutable.Map(attrs.toSeq: _*))
    spans += s
    stack.push(s)
    sc.setJobGroup(group(s.id), name, interruptOnCancel = false)
    s.id
  }

  def close(id: Long, attrs: Map[String, String] = Map.empty): Unit = synchronized {
    val s = stack.pop()
    require(s.id == id, s"span ${s.name} closed out of order")
    s.end = System.nanoTime()
    s.attrs ++= attrs
    stack.headOption match {
      case Some(p) => sc.setJobGroup(group(p.id), p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** Record a finished span that ran on another thread (a bulk flush
    * inside a Spark task) under `parent`. */
  def record(name: String, parent: Long, start: Long, end: Long,
      attrs: Map[String, String]): Unit = synchronized {
    spans += Span(ids.incrementAndGet(), name, parent, op, start, end,
      System.currentTimeMillis() - (System.nanoTime() - start) / 1000000L,
      mutable.Map(attrs.toSeq: _*))
  }

  def apply[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T = {
    val id = open(name, attrs)
    try body finally close(id)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbenchshim.Bus.drain(sc)

  def all: Seq[Span] = synchronized(spans.toVector)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def workOf(id: Long): SpanWork = work.computeIfAbsent(group(id), _ => new SpanWork)

  /** Seconds of `s` not covered by its direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var upTo = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  /** Write every span as one JSON line. */
  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    val base = all.headOption.map(_.start).getOrElse(0L)
    def js(s: String) = graft.ingest.GithubClient.jsonString(s)
    try all.foreach { s =>
      val wk = Option(work.get(group(s.id)))
      val spark = wk.map(k =>
        s""","jobs":${k.jobs.sum},"job_s":${k.jobSeconds},"tasks":${k.tasks.sum},"task_cpu_s":${k.cpuNanos.sum / 1e9},"call_sites":{${k.callSites.asScala.map { case (c, n) => js(c) + ":" + n.sum }.mkString(",")}}""")
        .getOrElse("")
      val attrs = s.attrs.map { case (k, v) => js(k) + ":" + js(v) }.mkString(",")
      w.println(s"""{"id":${s.id},"name":${js(s.name)},"parent":${s.parent},"op":${s.op},"start_s":${(s.start - base) / 1e9},"end_s":${(s.end - base) / 1e9},"self_s":${selfSeconds(s)},"attrs":{$attrs}$spark}""")
    } finally w.close()
  }

  def stop(): Unit = sc.removeSparkListener(listener)
}
