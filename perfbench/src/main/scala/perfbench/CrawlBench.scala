package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.GithubClient
import graft.io.Indexer
import graft.model.Entities
import graft.pipeline.LivePipeline

/** `crawl`: the paper's headline path. Each cycle crawls the corpus
  * twice into one lake, each phase calling
  * `LivePipeline.processReposLive` then `Indexer.scanAndIndex` (the two
  * halves of `FullPipeline.run`): `cold` from an empty lake, then
  * `refresh` after the API advanced by a seeded delta. */
object CrawlBench {

  /** One repository spanning two list pages with a tree past the blame
    * cap, and one small repository whose crawl is mostly per-repository
    * overhead. */
  val spec: Corpus.Spec = Corpus.Spec(Vector(120, 12), Vector(40, 3))
  val warmSpec: Corpus.Spec = Corpus.Spec(Vector(6), Vector(2))
  /** One request in this many answers 5xx or rate-limit 403 first. */
  val faultEvery = 37
  val tokens: Seq[String] = Seq("bench-token-a", "bench-token-b")

  final case class Phase(name: String, wallNanos: Long,
      stats: IngestStats, repoLatMs: Seq[Double],
      failures: Seq[String], docs: Long, bulkFailed: Long, bulk: BulkSnap,
      pipelineSpan: Option[Long], indexSpan: Option[Long])

  /** The bulk sink's counters at the end of a phase. */
  final case class BulkSnap(docs: Long, flushes: Long, bytes: Long,
      flushNanos: Long, failed: Long)

  /** GitHub's primary rate limit for an authenticated token. */
  val rateLimitPerHour = 5000
  /** Seconds of the hourly rate-limit budget one request uses, with
    * every token's budget in play. */
  val paceS: Double = 3600.0 / (rateLimitPerHour * tokens.length)

  /** A phase's time on a rate-limited API: its wall time, plus each
    * request's share of the rate budget, plus the backoff the client
    * asked for (recorded, not slept). */
  def pacedS(ph: Phase, pace: Double): Double =
    Stats.s(ph.wallNanos) + ph.stats.total * pace + ph.stats.backoffMs / 1e3

  def clientConfig(stats: IngestStats): GithubClient.Config =
    GithubClient.Config(tokens = tokens, sleeper = stats.backoff)

  def runPhase(ctx: Ctx, world: Corpus.World, state: Vector[Corpus.Repo],
      lake: java.io.File, name: String, trace: Option[Trace]): Phase = {
    val stats = new IngestStats
    val gh = new FakeGithub(world, state, stats, ctx.delayNanos, faultEvery, trace)
    BulkRegistry.reset()
    val now = if (name == "cold") Corpus.T0 else Corpus.T1
    val t0 = System.nanoTime()
    val pSpan = trace.map(_.open("pipeline.processReposLive", Map("phase" -> name)))
    val fetched = LivePipeline.processReposLive(ctx.spark, gh,
      clientConfig(stats), world.repoNames, lake.getAbsolutePath,
      FakeGithub.endpoints, generatedAt = Corpus.iso(now))
    pSpan.foreach(trace.get.close(_))
    val t1 = System.nanoTime()
    val iSpan = trace.map(_.open("io.scanAndIndex", Map("phase" -> name)))
    val flushes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
    if (trace.isDefined) BulkRegistry.flushLog = Some(flushes)
    val indexed =
      try Indexer.scanAndIndex(ctx.spark, lake.getAbsolutePath,
        new CountingBulkTransport)
      finally BulkRegistry.flushLog = None
    for (t <- trace; id <- iSpan) {
      flushes.forEach { case (a, b, n) =>
        t.record("io.bulk.flush", id, a, b, Map("docs" -> n.toString))
      }
      t.close(id)
    }
    val t2 = System.nanoTime()
    val starts = stats.repoStarts.toVector.map(_._2) :+ t1
    val lat = starts.zip(starts.tail).map { case (a, b) => Stats.ms(b - a) }
    val fetchFailures = fetched.collect {
      case (r, scala.util.Failure(e)) => s"$name: $r failed: ${e.getMessage}"
    }.toSeq
    Phase(name, t2 - t0, stats, lat, fetchFailures,
      indexed.values.map(_.ok).sum, indexed.values.map(_.failed).sum,
      BulkSnap(BulkRegistry.docs.sum, BulkRegistry.flushes.sum,
        BulkRegistry.bytes.sum, BulkRegistry.flushNanos.sum,
        BulkRegistry.failed.sum), pSpan, iSpan)
  }

  /** Compare the indexed documents (per entity and repository) with the
    * planted truth; with `lake`, also the link rows, blame documents and
    * delta state read back from the lake. */
  def verify(spark: SparkSession, world: Corpus.World,
      state: Vector[Corpus.Repo], lake: Option[java.io.File], ph: Phase): Seq[String] = {
    val out = Seq.newBuilder[String]
    out ++= ph.failures
    val expect = state.map(rp => rp.name -> Corpus.expect(world, rp)).toMap
    def check(what: String, got: Long, want: Long): Unit =
      if (got != want) out += s"${ph.name}: $what = $got, expected $want"
    // documents per (entity, repository), as the store received them
    for ((repo, e) <- expect; (entity, rows) <- e.artifactRows) {
      val want = if (entity == "repo_blame") e.blameFiles.toLong else rows
      check(s"$repo $entity docs", BulkRegistry.count(entity, repo), want)
    }
    check("indexed docs", ph.docs, expect.values.map(_.indexedDocs).sum)
    check("failed docs", ph.bulkFailed, 0)
    lake.foreach(verifyLake(spark, world, ph.name, _, expect, check, out))
    out.result()
  }

  private def verifyLake(spark: SparkSession, world: Corpus.World,
      phase: String, lake: java.io.File, expect: Map[String, Corpus.Expect],
      check: (String, Long, Long) => Unit,
      out: scala.collection.mutable.Builder[String, Seq[String]]): Unit = {
    def read(entity: String) = spark.read.schema(Entities.all(entity))
      .json(s"${lake.getAbsolutePath}/*/$entity")
    // link rows: PR links resolved to authors, cross-repo rows with
    // null targets for the 404s, blame head and capped file count
    val links = read("prs_with_linked_issues")
      .select(col("repo_name"), explode(col("links")).as("l"))
      .groupBy(col("repo_name")).agg(count(lit(1)).as("n"),
        count(col("l.issue_author")).as("with_author"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cross = read("cross_repo_links")
      .groupBy(col("source.repo_name")).agg(count(lit(1)).as("n"),
        sum(when(col("target.author").isNull, 1L).otherwise(0L)).as("null_t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val blame = read("repo_blame")
      .select(col("repo_name"), col("head_commit_sha"), size(col("files")))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    val resolved = read("issues")
      .filter(col("title").endsWith(" resolved") && col("state") === "closed")
      .groupBy(col("repo_name")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((repo, e) <- expect) {
      val (nLinks, withAuthor) = links.getOrElse(repo, (0L, 0L))
      check(s"$repo pr links", nLinks, e.links)
      check(s"$repo pr links with author", withAuthor, e.linksWithAuthor)
      val (nCross, nullT) = cross.getOrElse(repo, (0L, 0L))
      check(s"$repo cross-repo links", nCross, e.crossLinks)
      check(s"$repo cross-repo null targets", nullT, e.crossNullTarget)
      blame.get(repo) match {
        case Some((head, files)) =>
          if (head != e.head) out += s"$phase: $repo blame head $head, expected ${e.head}"
          check(s"$repo blame files", files, e.blameFiles)
        case None => out += s"$phase: $repo has no repo_blame"
      }
      val wantResolved =
        if (phase == "refresh" && Corpus.hasIssueDelta(world.deltaKind(repo))) 3L else 0L
      check(s"$repo issues updated by the delta", resolved.getOrElse(repo, 0L), wantResolved)
    }
  }

  /** Warm-up: a cold crawl of one small repository of another seed,
    * its indexed documents checked. */
  def warmUp(ctx: Ctx): Seq[String] = {
    val w = Corpus.generate(ctx.seed ^ 0x5eedL, warmSpec)
    val lake = Files.fresh(ctx.work, "warm-lake")
    val cold = runPhase(ctx, w, w.cold, lake, "cold", None)
    val f = verify(ctx.spark, w, w.cold, None, cold)
    Files.delete(lake)
    f.map("warm-up " + _)
  }

  final case class Cycle(cold: Phase, refresh: Phase, lakeBytes: Long,
      lakeFiles: Long, failures: Seq[String])

  def cycle(ctx: Ctx, world: Corpus.World, i: Int, trace: Option[Trace]): Cycle = {
    trace.foreach(_.op = i)
    val lake = Files.fresh(ctx.work, "lake")
    val cold = runPhase(ctx, world, world.cold, lake, "cold", trace)
    // the lake itself is read back after the refresh, which rewrites it
    val f1 = verify(ctx.spark, world, world.cold, None, cold)
    val (bytes, files) = Files.usage(lake)
    val refresh = runPhase(ctx, world, world.refreshed, lake, "refresh", trace)
    val f2 = verify(ctx.spark, world, world.refreshed, Some(lake), refresh)
    Cycle(cold, refresh, bytes, files, f1 ++ f2)
  }

  def setup(ctx: Ctx): (Corpus.World, Seq[String]) = {
    val world = Corpus.generate(ctx.seed, spec)
    (world, warmUp(ctx))
  }

  /** Cycles until `seconds` have passed (at least one). */
  def measure(ctx: Ctx, world: Corpus.World, trace: Option[Trace]): Seq[Cycle] = {
    val end = System.nanoTime() + ctx.seconds * 1000000000L
    val cycles = Seq.newBuilder[Cycle]
    var i = 0
    while (i == 0 || System.nanoTime() < end) {
      cycles += cycle(ctx, world, i, trace)
      i += 1
    }
    cycles.result()
  }

  /** End-to-end and named metrics of a set of cycles. Throughput is
    * the corpus's API records per second of a paced cycle (cold crawl
    * plus refresh), so request count weighs in as it does against
    * GitHub; per-repository latency is wall time, the program's own
    * cost. */
  def metrics(cs: Seq[Cycle]): (Map[String, M], Map[String, M]) = {
    val pace = paceS
    val recPerS = cs.map(c => c.cold.stats.records / Stats.s(c.cold.wallNanos))
    val cycleS = cs.map(c => pacedS(c.cold, pace) + pacedS(c.refresh, pace))
    val pacedRecPerS = cs.zip(cycleS).map { case (c, t) => c.cold.stats.records / t }
    val lat = cs.flatMap(c => c.cold.repoLatMs ++ c.refresh.repoLatMs)
    val (pct, tail, n) = Stats.tail(lat)
    val e2e = Map(
      "throughput_per_s" -> M(Stats.median(pacedRecPerS), "1/s"),
      "op_p50_ms" -> M(Stats.median(lat), "ms"),
      "op_tail_ms" -> M(tail, "ms"))
    val detail = Map(
      "crawl_records_per_s" -> M(Stats.median(recPerS), "rec/s"),
      "cycle_records_per_paced_s" -> M(Stats.median(pacedRecPerS), "rec/s"),
      "cycle_paced_s" -> M(Stats.median(cycleS), "s"),
      "api_pace_ms" -> M(pace * 1e3, "ms"),
      "cold_s" -> M(Stats.median(cs.map(c => Stats.s(c.cold.wallNanos))), "s"),
      "refresh_s" -> M(Stats.median(cs.map(c => Stats.s(c.refresh.wallNanos))), "s"),
      "api_requests_cold" -> M(Stats.median(cs.map(_.cold.stats.total.toDouble)), "count"),
      "api_requests_refresh" -> M(Stats.median(cs.map(_.refresh.stats.total.toDouble)), "count"),
      "api_records_cold" -> M(cs.head.cold.stats.records.toDouble, "count"),
      "repo_latency_tail_pct" -> M(pct, "%"),
      "repo_latency_samples" -> M(n.toDouble, "count"),
      "cycles" -> M(cs.length.toDouble, "count"))
    (e2e, detail)
  }

  /** Per-layer metrics of traced cycles (medians across cycles). */
  def layers(ctx: Ctx, trace: Trace, cs: Seq[Cycle]): Map[String, M] = {
    def med(f: Cycle => Double) = Stats.median(cs.map(f))
    def work(id: Option[Long]) = trace.workOf(id.get)
    def span(id: Option[Long]) = trace.all.find(_.id == id.get).get
    def spanS(id: Option[Long]) = { val s = span(id); (s.end - s.start) / 1e9 }
    val classes = Seq("list", "pr_commits", "commit_detail", "issue_detail",
      "tree", "compare", "graphql")
    val repos = cs.head.cold.stats.repoStarts.length.max(1)
    val ingest = classes.flatMap { c =>
      Seq(s"ingest.requests.$c" -> M(med(_.cold.stats.requests(c).toDouble), "count"),
        s"ingest.refresh.requests.$c" -> M(med(_.refresh.stats.requests(c).toDouble), "count"))
    } ++ Seq(
      "ingest.retries" -> M(med(c => (c.cold.stats.retries + c.refresh.stats.retries).toDouble), "count"),
      "ingest.backoff_ms" -> M(med(c => (c.cold.stats.backoffMs + c.refresh.stats.backoffMs).toDouble), "ms"),
      "ingest.dup_frac" -> M(med(c => (c.cold.stats.repeats + c.refresh.stats.repeats).toDouble /
        (c.cold.stats.total + c.refresh.stats.total)), "ratio"),
      "ingest.wait_s" -> M(med(c => Stats.s(c.cold.stats.waitNanos)), "s"),
      "ingest.refresh.wait_s" -> M(med(c => Stats.s(c.refresh.stats.waitNanos)), "s"),
      "ingest.bytes" -> M(med(_.cold.stats.bytes.toDouble), "B"))
    def pipe(prefix: String, ph: Cycle => Phase) = {
      def w(c: Cycle) = work(ph(c).pipelineSpan)
      Seq(
        s"$prefix.span_s" -> M(med(c => spanS(ph(c).pipelineSpan)), "s"),
        s"$prefix.self_s" -> M(med(c => spanS(ph(c).pipelineSpan) -
          w(c).jobSeconds - Stats.s(ph(c).stats.waitNanos)), "s"),
        s"$prefix.jobs" -> M(med(w(_).jobs.sum.toDouble), "count"),
        s"$prefix.jobs_per_repo" -> M(med(w(_).jobs.sum.toDouble / repos), "count"),
        s"$prefix.tasks" -> M(med(w(_).tasks.sum.toDouble), "count"),
        s"$prefix.task_cpu_s" -> M(med(w(_).cpuNanos.sum / 1e9), "s"),
        s"$prefix.core_util" -> M(med(c => w(c).runMs.sum / 1e3 /
          (spanS(ph(c).pipelineSpan) * ctx.cores)), "ratio"))
    }
    val io = Seq(
      "io.indexer_s" -> M(med(c => spanS(c.cold.indexSpan)), "s"),
      "io.refresh.indexer_s" -> M(med(c => spanS(c.refresh.indexSpan)), "s"),
      "io.indexer.jobs" -> M(med(c => work(c.cold.indexSpan).jobs.sum.toDouble), "count"),
      "io.bulk.docs" -> M(med(_.cold.bulk.docs.toDouble), "count"),
      "io.bulk.flushes" -> M(med(_.cold.bulk.flushes.toDouble), "count"),
      "io.bulk.bytes" -> M(med(_.cold.bulk.bytes.toDouble), "B"),
      "io.bulk.flush_s" -> M(med(c => Stats.s(c.cold.bulk.flushNanos)), "s"),
      "io.bulk.failed" -> M(med(_.cold.bulk.failed.toDouble), "count"),
      "io.bulk.docs_per_s" -> M(med(c => c.cold.bulk.docs / spanS(c.cold.indexSpan)), "doc/s"),
      "io.lake_bytes" -> M(med(_.lakeBytes.toDouble), "B"),
      "io.lake_files" -> M(med(_.lakeFiles.toDouble), "count"),
      "io.lake_bytes_per_record" -> M(med(c => c.lakeBytes.toDouble / c.cold.stats.records), "B"))
    (ingest ++ pipe("pipeline", _.cold) ++ pipe("pipeline.refresh", _.refresh) ++ io).toMap
  }
}

object CrawlWorkload extends Workload {
  type Setup = Corpus.World
  type Pass = Seq[CrawlBench.Cycle]

  def setup(ctx: Ctx): (Corpus.World, Seq[String]) = CrawlBench.setup(ctx)

  def pass(ctx: Ctx, w: Corpus.World, trace: Option[Trace]): Seq[CrawlBench.Cycle] =
    CrawlBench.measure(ctx, w, trace)

  def outcomes(w: Corpus.World, cs: Seq[CrawlBench.Cycle]): (Long, Long, Seq[String]) = {
    val failures = cs.flatMap(_.failures)
    (cs.map(c => 2L * w.repoNames.length + c.cold.docs + c.refresh.docs).sum,
      failures.length + cs.map(c => c.cold.bulkFailed + c.refresh.bulkFailed).sum,
      failures)
  }

  def metrics(w: Corpus.World, cs: Seq[CrawlBench.Cycle]) = CrawlBench.metrics(cs)

  def layers(ctx: Ctx, w: Corpus.World, trace: Trace, cs: Seq[CrawlBench.Cycle]) =
    CrawlBench.layers(ctx, trace, cs)
}
