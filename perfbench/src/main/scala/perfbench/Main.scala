package perfbench

import graft.ingest.GithubClient.jsonString

/** One workload run: set up, measure for `--seconds`, check every
  * output against the planted truth, and print the result as the last
  * line of standard output.
  *
  * {{{
  * Main --workload crawl|serve|curate --seed N --seconds S --trace 0|1
  *      [--service-delay-ms D] [--stamp H] [--work DIR]
  * }}}
  *
  * With `--trace 0` the result carries the end-to-end metrics; with
  * `--trace 1` it carries the per-layer metrics of a traced pass plus
  * the tracing overhead (see [[Workload.run]]). `--stamp` names the
  * build (sources and launcher) so that a traced run only takes its
  * overhead against an untraced result of the same build and
  * configuration. Results also land in
  * `results/` beside the work directory, spans in `traces/`. Exit
  * status is 0 only when every check passed. */
object Main {

  final case class Args(workload: String = "", seed: Long = 1,
      seconds: Int = 10, trace: Boolean = false, delayMs: Double = 1.0,
      stamp: String = "", work: String = ".bench_build/work")

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--service-delay-ms" :: v :: rest => parse(rest, a.copy(delayMs = v.toDouble))
    case "--stamp" :: v :: rest => parse(rest, a.copy(stamp = v))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  val workloads: Map[String, Workload] = Map(
    "crawl" -> CrawlWorkload, "serve" -> ServeWorkload, "curate" -> CurateWorkload)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val wl = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload '${a.workload}'"))
    val load0 = Host.loadAvg()
    val ticks0 = Host.cpuTicks()
    val t0 = System.nanoTime()
    val spark = graft.tools.RunIndexing.localSession("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Stats.s(System.nanoTime() - t0)
    val work = new java.io.File(a.work, s"${a.workload}-${ProcessHandle.current().pid()}")
    val ctx = Ctx(a.workload, spark, a.seed, a.seconds, (a.delayMs * 1e6).toLong, work)
    val results = new java.io.File(a.work).getParentFile
    // what an untraced result must share with this run to serve as its
    // overhead baseline
    val config = Map("stamp" -> a.stamp, "seconds" -> a.seconds.toString,
      "service_delay_ms" -> a.delayMs.toString)
    val baselineFile = new java.io.File(results,
      s"results/${a.workload}-seed${a.seed}-trace0.json")
    val baseline =
      if (a.trace && a.stamp.nonEmpty && baselineFile.exists()) readE2e(baselineFile, config)
      else None
    val out = try {
      Files.fresh(work.getParentFile, work.getName)
      wl.run(ctx, sessionS, a.trace, baseline)
    } finally {
      spark.stop()
      Files.delete(work)
    }
    val host = Map(
      "nproc" -> Host.nproc.toString, "load_start" -> f"$load0%.2f",
      "cpu_steal_pct" -> f"${Host.stealPct(ticks0)}%.2f",
      "load_end" -> f"${Host.loadAvg()}%.2f", "heap_mb" -> f"${Host.heapMb}%.0f",
      "spark" -> org.apache.spark.SPARK_VERSION, "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0")) ++ config
    val correct = out.failures.isEmpty
    out.failures.take(50).foreach(f => System.err.println(s"[check] FAILED $f"))
    def obj(ms: Map[String, M]) = ms.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${jsonString(k)}:{\"value\":${num(m.value)},\"unit\":${jsonString(m.unit)}}"
    }.mkString("{", ",", "}")
    val detail =
      s"""{"workload":${jsonString(a.workload)},"host":${host.toSeq.sortBy(_._1).map { case (k, v) => jsonString(k) + ":" + jsonString(v) }.mkString("{", ",", "}")},"named":${obj(out.detail)},"e2e":${obj(out.e2e)},"overhead_from":${jsonString(if (!a.trace) "" else if (baseline.isDefined) "earlier untraced run" else "untraced pass")},"failures":${out.failures.map(jsonString).mkString("[", ",", "]")}}"""
    println(detail)
    writeFile(new java.io.File(results, s"results/${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"), detail)
    val metrics = if (a.trace) out.layers else out.e2e
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},"metrics":${obj(metrics)}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** End-to-end metrics of an earlier untraced run's result file, if
    * its host bracket matches `config` on every key. */
  def readE2e(f: java.io.File, config: Map[String, String]): Option[Map[String, M]] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val same = config.forall { case (k, v) => root.path("host").path(k).asText() == v }
    val node = root.path("e2e")
    if (!same) None
    else Some(node.fieldNames().asScala.map(k =>
      k -> M(node.path(k).path("value").asDouble(), node.path(k).path("unit").asText())).toMap)
  }

  /** A finite JSON number with all its digits. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def writeFile(f: java.io.File, s: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }
}

/** A benchmark workload: a set-up, a measured pass with its checks,
  * and the metrics of a pass. `run` strings them together. */
trait Workload {
  type Setup
  type Pass

  /** Generate inputs, build what the pass needs, warm up. Returns the
    * set-up and the warm-up's failed checks. */
  def setup(ctx: Ctx): (Setup, Seq[String])

  /** Measure for `ctx.seconds` (at least one unit of work). */
  def pass(ctx: Ctx, s: Setup, trace: Option[Trace]): Pass

  /** (attempted, failed, failed checks) of a pass. */
  def outcomes(s: Setup, p: Pass): (Long, Long, Seq[String])

  /** Workload-specific end-to-end metrics and named metrics. */
  def metrics(s: Setup, p: Pass): (Map[String, M], Map[String, M])

  /** Per-layer metrics of a traced pass. */
  def layers(ctx: Ctx, s: Setup, trace: Trace, p: Pass): Map[String, M]

  private val overheadOf = Set("throughput_per_s", "op_p50_ms", "op_tail_ms")

  /** Untraced: one pass. Traced: a traced pass for the per-layer
    * metrics, plus an untraced one to take the tracing overhead
    * against unless `baseline` (an earlier untraced run of the same
    * seed, build and configuration) supplies it. The listener bus is
    * drained before any per-layer counter is read, and the trace's
    * listener removed only after. */
  final def run(ctx: Ctx, sessionS: Double, traced: Boolean,
      baseline: Option[Map[String, M]]): Outcome = {
    val t0 = System.nanoTime()
    val (s, warmFailures) = setup(ctx)
    val setupS = sessionS + Stats.s(System.nanoTime() - t0)
    def measured(trace: Option[Trace]) = {
      Host.resetGcPeak()
      val p = pass(ctx, s, trace)
      val mem = Host.memory()
      val (attempted, failed, fails) = outcomes(s, p)
      val (e2e, named) = metrics(s, p)
      val all = attempted + warmFailures.length
      val bad = failed + warmFailures.length
      val common = Map("setup_s" -> M(setupS, "s"),
        "ok_frac" -> M(1.0 - bad.toDouble / all, "ratio"))
      (p, Outcome(all, bad, warmFailures ++ fails, e2e ++ common,
        named ++ mem + ("failed_frac" -> M(bad.toDouble / all, "ratio"))))
    }
    if (!traced) measured(None)._2
    else {
      val untraced = if (baseline.isDefined) None else Some(measured(None)._2)
      val base = baseline.getOrElse(untraced.get.e2e)
      val trace = new Trace(ctx.spark.sparkContext)
      val (out, perLayer) = try {
        val (p, out) = measured(Some(trace))
        trace.drain()
        (out, layers(ctx, s, trace, p))
      } finally trace.stop()
      trace.write(new java.io.File(ctx.work.getParentFile.getParentFile,
        s"traces/${ctx.workload}-seed${ctx.seed}.jsonl"))
      val overhead = base.collect { case (k, m) if out.e2e.contains(k) && overheadOf(k) =>
        s"trace.overhead.$k" -> M(out.e2e(k).value - m.value, m.unit)
      }
      val traced = out.copy(layers = perLayer ++ overhead ++
        out.detail.filter(_._1.startsWith("mem.")))
      untraced.fold(traced) { u =>
        val n = warmFailures.length
        traced.copy(attempted = traced.attempted + u.attempted - n,
          failed = traced.failed + u.failed - n,
          failures = traced.failures ++ u.failures.drop(n))
      }
    }
  }
}
