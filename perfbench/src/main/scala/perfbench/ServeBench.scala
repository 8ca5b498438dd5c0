package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.JsonEntities
import graft.ops.FullText
import graft.queries.Scenarios

/** `serve`: a closed loop of interactive operations over a lake the
  * set-up builds with the program's own crawl of the generated corpus.
  *
  *  - `scenario`: one of the ten `queries.Scenarios` functions over
  *    entity frames read with `JsonEntities.readEntity`, on a Zipf-hot
  *    repository, collected;
  *  - `search`: `FullText.simpleQueryStringStored` (k = 10) over a
  *    stored index of issue and PR title/body text, Zipf-drawn terms
  *    with `+must`, `-not` and `"phrase"` clauses;
  *  - `append`: `FullText.appendToTextIndex` of a small batch of new
  *    issues carrying a planted token; the next search asks for it.
  *    `FullText.compactTextIndex` runs after every `compactEvery`
  *    appends. */
object ServeBench {

  val scenarioFns: Vector[String] = Vector("issueCounts", "issueComments",
    "distinctAuthors", "prsLinkingIssue", "commitsClosingIssue",
    "crossRepoHotspots", "commitHistoryRange", "crossRepoHealth",
    "prLinkedIssueCount", "commitClosedIssueCount")
  val k = 10
  val batch = 5
  val appendEvery = 8 // one op in this many is an append
  val compactEvery = 3 // appends between compactions
  val checkSearchEvery = 4 // searches between bm25TopK cross-checks

  final case class Served(world: Corpus.World, lake: String, index: String,
      frames: Map[String, DataFrame], docs: DataFrame)

  def read(spark: SparkSession, lake: String, entity: String): DataFrame =
    JsonEntities.readEntity(spark, entity, s"$lake/*/$entity", multiLine = false)

  /** Crawl the corpus into a lake and build the text index over it. */
  def build(ctx: Ctx, world: Corpus.World, dir: java.io.File): Served = {
    val spark = ctx.spark
    val lake = new java.io.File(dir, "lake").getAbsolutePath
    val index = new java.io.File(dir, "index").getAbsolutePath
    val stats = new IngestStats
    val fetched = graft.pipeline.LivePipeline.processReposLive(spark,
      new FakeGithub(world, world.cold, stats, ctx.delayNanos, CrawlBench.faultEvery),
      CrawlBench.clientConfig(stats), world.repoNames, lake,
      FakeGithub.endpoints, generatedAt = Corpus.iso(Corpus.T0))
    fetched.collect { case (r, scala.util.Failure(e)) =>
      throw new IllegalStateException(s"set-up crawl of $r failed", e)
    }
    val frames = Seq("issues", "pull_requests", "prs_with_linked_issues",
      "issues_closed_by_commits", "cross_repo_links", "commits")
      .map(e => e -> read(spark, lake, e)).toMap
    val repoIdx = world.repoNames.zipWithIndex.toMap
    val idx = typedLit(repoIdx.map { case (r, i) => r -> i.toLong })
    def textDocs(df: DataFrame) = df.select(
      (element_at(idx, col("repo_name")) * 1000000L + col("number")).as("doc_id"),
      concat_ws(" ", col("title"), col("body")).as("text"))
    val docs = textDocs(frames("issues")).unionByName(textDocs(frames("pull_requests")))
      .localCheckpoint()
    FullText.writeTextIndex(docs, "doc_id", "text", index)
    Served(world, lake, index, frames, docs)
  }

  sealed trait Op { def kind: String }
  final case class ScenarioOp(fn: String, repo: String, arg: Long) extends Op {
    def kind = "scenario"
  }
  final case class SearchOp(q: String, fresh: Option[Seq[Long]]) extends Op {
    def kind = "search"
  }
  final case class AppendOp(n: Int) extends Op { def kind = "append" }
  final case class CompactOp(n: Int) extends Op { def kind = "compact" }

  /** The seeded operation sequence; `i` is the op index. Scenario
    * functions cycle through a seeded permutation so every function
    * runs in every ten scenario operations. */
  final class OpStream(world: Corpus.World, seed: Long, stream: Int) {
    private var i = 0
    private var appends = 0
    private var scenarios = 0
    private var pending: List[Op] = Nil
    private val repos = world.cold
    private def hotRepo(key: Long*): Corpus.Repo = {
      val u = Rng.unit(seed, key: _*)
      // Zipf over repositories: rank r with weight 1/(r+1)
      val w = repos.indices.map(r => 1.0 / (r + 1))
      val c = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
      repos(c.indexWhere(_ >= u).max(0))
    }

    def next(): Op = pending match {
      case h :: t => pending = t; h
      case Nil =>
        i += 1
        if (i % appendEvery == 0) {
          appends += 1
          val ids = (0 until batch).map(j => freshId(appends, j))
          pending = SearchOp(freshToken(appends), Some(ids)) :: (
            if (appends % compactEvery == 0) List(CompactOp(appends)) else Nil)
          AppendOp(appends)
        } else if (i % 2 == 0) {
          val perm = Rng.shuffle(scenarioFns.length, seed, 200, scenarios / scenarioFns.length)
          val fn = scenarioFns(perm(scenarios % scenarioFns.length))
          scenarios += 1
          val rp = hotRepo(201, i)
          val arg = fn match {
            case "issueComments" => rp.issues(Rng.below(rp.issues.length, seed, 202, i)).number
            case "prsLinkingIssue" | "commitsClosingIssue" =>
              // an issue something links to, so the answer is not empty
              val linked = ServeBench.linkedIssues(rp, fn)
              if (linked.isEmpty) 1L else linked(Rng.below(linked.length, seed, 203, i))
            case _ => 0L
          }
          ScenarioOp(fn, rp.name, arg)
        } else SearchOp(query(i), None)
    }

    private def query(i: Int): String = {
      def w(j: Int) = Text.word(seed, 210, i, j)
      Rng.below(5, seed, 211, i) match {
        case 0 => s"+${w(0)} ${w(1)}"
        case 1 => s"${w(0)} ${w(1)} -${w(2)}"
        case 2 =>
          // a phrase that occurs: two adjacent words of some title
          val rp = hotRepo(212, i)
          val t = rp.items(Rng.below(rp.items.length, seed, 213, i)).title.split(" ")
          val p = Rng.below(t.length - 1, seed, 214, i)
          s"\"${t(p)} ${t(p + 1)}\" ${w(0)}"
        case _ => s"${w(0)} ${w(1)}"
      }
    }

    def freshToken(n: Int): String = s"freshbatch${stream}x$n"
    def freshId(n: Int, j: Int): Long = 900000000L + stream * 10000000L + n * 100L + j
  }

  def linkedIssues(rp: Corpus.Repo, fn: String): Vector[Long] =
    if (fn == "prsLinkingIssue") rp.prs.flatMap(p => prRefs(p)).map(_._2).distinct
    else rp.commits.flatMap(c => closes(c.message)).distinct

  private val localRef = "Fixes #(\\d+)".r
  private val crossRef = "([A-Za-z0-9_.-]+/[A-Za-z0-9_.-]+)#(\\d+)".r
  private val closesRef = "closes #(\\d+)".r

  /** (referenced repo or "", issue number) of a PR's planted refs. */
  private def prRefs(p: Corpus.Item): Seq[(String, Long)] = {
    val t = p.title + "\n" + p.body
    localRef.findAllMatchIn(t).map(m => "" -> m.group(1).toLong).toSeq ++
      crossRef.findAllMatchIn(t).map(m => m.group(1) -> m.group(2).toLong).toSeq
  }

  private def closes(msg: String): Seq[Long] =
    closesRef.findAllMatchIn(msg).map(_.group(1).toLong).toSeq

  /** The scenario answer the planted corpus implies, in the form
    * `canonical` puts a collected result in. */
  def expected(rp: Corpus.Repo, op: ScenarioOp): Seq[String] = {
    val crossRows = rp.items.flatMap { it =>
      (crossRef.findAllMatchIn(it.title) ++ crossRef.findAllMatchIn(it.body))
        .map(m => (m.group(1), it.isPr)).toSeq
    }
    op.fn match {
      case "issueCounts" =>
        val is = rp.issues
        Seq(s"${is.length}|${is.count(_.closedAt.isEmpty)}|${is.count(_.closedAt.isDefined)}")
      case "issueComments" =>
        rp.issues.filter(_.number == op.arg).map(i => s"${i.number}|${i.title}|${i.comments}")
      case "distinctAuthors" => Seq(rp.issues.map(_.author).distinct.length.toString)
      case "prsLinkingIssue" =>
        rp.prs.flatMap(p => prRefs(p).filter(_._2 == op.arg).map(_ => s"${p.number}|${op.arg}")).sorted
      case "commitsClosingIssue" =>
        rp.commits.filter(c => closes(c.message).contains(op.arg)).map(_.sha).sorted
      case "crossRepoHotspots" =>
        crossRows.groupBy(_._1).toSeq.map { case (t, rs) => (t, rs.length) }
          .sortBy { case (t, n) => (-n, t) }.map { case (t, n) => s"$t|$n" }
      case "commitHistoryRange" =>
        val ds = rp.commits.map(_.date)
        Seq(s"${Corpus.iso(ds.min)}|${Corpus.iso(ds.max)}|${ds.length}")
      case "crossRepoHealth" =>
        crossRows.groupBy(_._1).toSeq.map { case (t, rs) =>
          (t, rs.length, rs.count(!_._2), rs.count(_._2))
        }.sortBy { case (t, n, _, _) => (-n, t) }
          .map { case (t, n, i, p) => s"$t|$n|$i|$p" }
      case "prLinkedIssueCount" =>
        Seq(rp.prs.flatMap(prRefs).map(_._2).distinct.length.toString)
      case "commitClosedIssueCount" =>
        Seq(rp.commits.flatMap(c => closes(c.message)).distinct.length.toString)
    }
  }

  /** A collected scenario result in the `expected` form. */
  def canonical(fn: String, rows: Array[Row]): Seq[String] = fn match {
    case "prsLinkingIssue" =>
      rows.map(r => s"${r.getAs[Long]("pr_number")}|${r.getAs[Long]("issue_number")}").toSeq.sorted
    case "commitsClosingIssue" => rows.map(_.getAs[String]("commit_sha")).toSeq.sorted
    case _ => rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")).toSeq
  }

  def scenarioFrame(s: Served, op: ScenarioOp): DataFrame = {
    val f = s.frames
    op.fn match {
      case "issueCounts" => Scenarios.issueCounts(f("issues"), op.repo)
      case "issueComments" => Scenarios.issueComments(f("issues"), op.repo, op.arg)
      case "distinctAuthors" => Scenarios.distinctAuthors(f("issues"), op.repo)
      case "prsLinkingIssue" =>
        Scenarios.prsLinkingIssue(f("prs_with_linked_issues"), op.repo, op.arg)
      case "commitsClosingIssue" =>
        Scenarios.commitsClosingIssue(f("issues_closed_by_commits"), op.repo, op.arg)
      case "crossRepoHotspots" => Scenarios.crossRepoHotspots(f("cross_repo_links"), op.repo)
      case "commitHistoryRange" => Scenarios.commitHistoryRange(f("commits"), op.repo)
      case "crossRepoHealth" => Scenarios.crossRepoHealth(f("cross_repo_links"), op.repo)
      case "prLinkedIssueCount" =>
        Scenarios.prLinkedIssueCount(f("prs_with_linked_issues"), op.repo)
      case "commitClosedIssueCount" =>
        Scenarios.commitClosedIssueCount(f("issues_closed_by_commits"), op.repo)
    }
  }

  final case class Done(op: Op, nanos: Long, spanId: Option[Long],
      resultRows: Long, failure: Option[String])

  final case class Loop(done: Seq[Done], wallNanos: Long, checkNanos: Long,
      segmentsMax: Int)

  /** Run operations until `seconds` passed and every scenario function
    * ran at least once. Correctness checks run between operations and
    * are not timed. */
  def loop(ctx: Ctx, s: Served, seed: Long, stream: Int, seconds: Double,
      trace: Option[Trace], appended: scala.collection.mutable.ArrayBuffer[DataFrame]): Loop = {
    val spark = ctx.spark
    import spark.implicits._
    val ops = new OpStream(s.world, seed, stream)
    val done = Seq.newBuilder[Done]
    val seenFns = scala.collection.mutable.Set.empty[String]
    var checkNanos = 0L
    var segMax = 0
    var searches = 0
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < end || !scenarioFns.forall(seenFns)) {
      val op = ops.next()
      trace.foreach(_.op = n)
      val id = trace.map(_.open(s"op.${op.kind}", Map("op" -> op.toString)))
      val o0 = System.nanoTime()
      var rows = 0L
      var check: () => Option[String] = () => None
      op match {
        case sc: ScenarioOp =>
          seenFns += sc.fn
          val got = trace.fold(scenarioFrame(s, sc).collect())(t =>
            t(s"queries.Scenarios.${sc.fn}")(scenarioFrame(s, sc).collect()))
          rows = got.length
          check = () => {
            val rp = s.world.cold.find(_.name == sc.repo).get
            val want = expected(rp, sc)
            val have = canonical(sc.fn, got)
            if (have != want) Some(s"scenario $sc returned $have, expected $want") else None
          }
        case q: SearchOp =>
          searches += 1
          val got = trace.fold(FullText.simpleQueryStringStored(spark, s.index, q.q, k).collect())(t =>
            t("ops.FullText.simpleQueryStringStored")(
              FullText.simpleQueryStringStored(spark, s.index, q.q, k).collect()))
          rows = got.length
          val sampled = q.fresh.isEmpty && searches % checkSearchEvery == 0 &&
            !q.q.exists(c => c == '+' || c == '-' || c == '"')
          check = () => q.fresh match {
            case Some(ids) =>
              val have = got.map(_.getAs[Long]("doc_id")).toSet
              if (have != ids.toSet) Some(s"fresh batch for ${q.q}: found ${have.toSeq.sorted}, expected $ids") else None
            case None if sampled =>
              val all = (s.docs +: appended.toSeq).reduce(_ unionByName _)
              val want = FullText.bm25TopK(all, "doc_id", "text",
                graft.ops.QueryString.parse(q.q).scoringTerms, k).collect()
                .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
              val have = got.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
              if (have != want) Some(s"search '${q.q}' returned $have, bm25TopK gives $want") else None
            case None => None
          }
        case a: AppendOp =>
          val ids = (0 until batch).map(j => ops.freshId(a.n, j))
          val fresh = ids.zipWithIndex.map { case (id, j) =>
            (id, s"${Text.words(12, seed, 220, a.n, j)} ${ops.freshToken(a.n)}")
          }.toDF("doc_id", "text")
          trace.fold(FullText.appendToTextIndex(spark, fresh, "doc_id", "text", s.index))(t =>
            t("ops.FullText.appendToTextIndex")(
              FullText.appendToTextIndex(spark, fresh, "doc_id", "text", s.index)))
          appended += fresh
          rows = batch
        case _: CompactOp =>
          trace.fold(FullText.compactTextIndex(spark, s.index))(t =>
            t("ops.FullText.compactTextIndex")(FullText.compactTextIndex(spark, s.index)))
      }
      val nanos = System.nanoTime() - o0
      id.foreach(trace.get.close(_))
      val c0 = System.nanoTime()
      val failure = check()
      if (op.isInstanceOf[AppendOp])
        segMax = math.max(segMax, FullText.liveSegmentCount(spark, s.index))
      checkNanos += System.nanoTime() - c0
      done += Done(op, nanos, id, rows, failure)
      n += 1
    }
    Loop(done.result(), System.nanoTime() - t0, checkNanos, segMax)
  }
}

object ServeWorkload extends Workload {
  import ServeBench._

  final case class State(served: Served,
      appended: scala.collection.mutable.ArrayBuffer[DataFrame])
  type Setup = State
  type Pass = Loop

  /** Crawl the lake, build the index, then warm up with a short loop of
    * another seed's operation sequence. */
  def setup(ctx: Ctx): (State, Seq[String]) = {
    val world = Corpus.generate(ctx.seed, CrawlBench.spec)
    val st = State(build(ctx, world, Files.fresh(ctx.work, "served")),
      scala.collection.mutable.ArrayBuffer.empty[DataFrame])
    val warm = loop(ctx, st.served, ctx.seed ^ 0x5eedL, 0, 2.0, None, st.appended)
    (st, warm.done.flatMap(_.failure).map("warm-up " + _))
  }

  def pass(ctx: Ctx, st: State, trace: Option[Trace]): Loop =
    loop(ctx, st.served, ctx.seed, if (trace.isDefined) 2 else 1, ctx.seconds,
      trace, st.appended)

  def outcomes(st: State, l: Loop): (Long, Long, Seq[String]) =
    (l.done.length.toLong, l.done.count(_.failure.isDefined).toLong,
      l.done.flatMap(_.failure))

  def metrics(st: State, l: Loop): (Map[String, M], Map[String, M]) = metrics(l)

  def layers(ctx: Ctx, st: State, trace: Trace, l: Loop): Map[String, M] =
    layers(ctx, st.served, trace, l)

  def metrics(l: Loop): (Map[String, M], Map[String, M]) = {
    def lat(kind: String) = l.done.filter(_.op.kind == kind).map(d => Stats.ms(d.nanos))
    val all = l.done.map(d => Stats.ms(d.nanos))
    val opsPerS = l.done.length / Stats.s(l.wallNanos - l.checkNanos)
    val (pct, tail, n) = Stats.tail(all)
    val e2e = Map(
      "throughput_per_s" -> M(opsPerS, "1/s"),
      "op_p50_ms" -> M(Stats.median(all), "ms"),
      "op_tail_ms" -> M(tail, "ms"))
    def tailOf(xs: Seq[Double]) = Stats.tail(xs)
    val detail = Map(
      "serve_ops_per_s" -> M(opsPerS, "op/s"),
      "scenario_p50_ms" -> M(Stats.median(lat("scenario")), "ms"),
      "scenario_tail_ms" -> M(tailOf(lat("scenario"))._2, "ms"),
      "scenario_tail_pct" -> M(tailOf(lat("scenario"))._1, "%"),
      "scenario_samples" -> M(lat("scenario").length.toDouble, "count"),
      "search_p50_ms" -> M(Stats.median(lat("search")), "ms"),
      "search_tail_ms" -> M(tailOf(lat("search"))._2, "ms"),
      "search_tail_pct" -> M(tailOf(lat("search"))._1, "%"),
      "search_samples" -> M(lat("search").length.toDouble, "count"),
      "append_p50_ms" -> M(Stats.median(lat("append")), "ms"),
      "append_samples" -> M(lat("append").length.toDouble, "count"),
      "op_tail_pct" -> M(pct, "%"),
      "op_samples" -> M(n.toDouble, "count"))
    (e2e, detail)
  }

  def layers(ctx: Ctx, s: Served, trace: Trace, l: Loop): Map[String, M] = {
    val spans = trace.all
    def work(id: Long) = trace.workOf(id)
    // the layer call each operation made (one per operation)
    def inner(d: Done) = spans.find(x => x.parent == d.spanId.get)
    def of(kind: String) = l.done.filter(_.op.kind == kind)
    val scen = of("scenario")
    val scenInner = scen.flatMap(d => inner(d).map(d -> _))
    def perOp(ds: Seq[Done], f: SpanWork => Double) =
      if (ds.isEmpty) 0.0
      else Stats.median(ds.flatMap(inner).map(x => f(work(x.id))))
    val perFn = scenarioFns.map { fn =>
      val xs = scen.filter(_.op.asInstanceOf[ScenarioOp].fn == fn).map(d => Stats.ms(d.nanos))
      s"queries.scenarios.${fn}_p50_ms" -> M(if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
    val planMs = scenInner.map { case (d, x) =>
      val w = work(x.id)
      if (w.firstJobStartMs == Long.MaxValue) 0.0 else (w.firstJobStartMs - x.startMs).toDouble
    }
    val scanBytes = scenInner.map(x => work(x._2.id).inputBytes.sum.toDouble).sum
    val rowsRead = scenInner.map(x => work(x._2.id).recordsRead.sum.toDouble).sum
    val results = scen.map(_.resultRows).sum.max(1L)
    val compactS = of("compact").map(d => Stats.s(d.nanos))
    val (lakeBytes, lakeFiles) = Files.usage(new java.io.File(s.lake))
    val records = s.world.cold.map(rp => rp.items.length + rp.commits.length).sum
    perFn.toMap ++ Map(
      "queries.scenarios.jobs_per_op" -> M(perOp(scen, _.jobs.sum.toDouble), "count"),
      "queries.scenarios.plan_ms" -> M(if (planMs.isEmpty) 0.0 else Stats.median(planMs), "ms"),
      "io.scan_bytes_per_scenario" -> M(scanBytes / math.max(scen.length, 1), "B"),
      "io.rows_examined_per_result" -> M(rowsRead / results, "ratio"),
      "io.lake_bytes" -> M(lakeBytes.toDouble, "B"),
      "io.lake_files" -> M(lakeFiles.toDouble, "count"),
      "io.lake_bytes_per_record" -> M(lakeBytes.toDouble / records, "B"),
      "ops.fulltext.search_jobs" -> M(perOp(of("search"), _.jobs.sum.toDouble), "count"),
      "ops.fulltext.search_scan_bytes" -> M(perOp(of("search"), _.inputBytes.sum.toDouble), "B"),
      "ops.fulltext.segments_max" -> M(l.segmentsMax.toDouble, "count"),
      "ops.fulltext.append_jobs" -> M(perOp(of("append"), _.jobs.sum.toDouble), "count"),
      "ops.fulltext.compact_s" -> M(if (compactS.isEmpty) 0.0 else Stats.median(compactS), "s"),
      "ops.fulltext.index_bytes" -> M(Files.usage(new java.io.File(s.index))._1.toDouble, "B"))
  }
}
