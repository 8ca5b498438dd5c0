package perfbench

import graft.ingest.GithubClient
import graft.ingest.GithubClient.{Response, jsonString => js}

import Corpus.{Commit, Item, Repo, iso}

/** In-process GitHub API over one corpus state: the REST list and
  * detail endpoints the live pipeline calls, `Link`-header pagination,
  * `?since=` filtering (`updated_at >= since` for issues, commit date
  * for commits), the compare API, and the GraphQL blame endpoint with
  * both the ref query and the object fallback.
  *
  * `respond` is a pure function of (state, request). The transport
  * around it adds what a real API costs: a fixed service delay on every
  * request, and a seeded low rate of 5xx and rate-limit 403 answers
  * (never twice in a row, so they stay inside the client's retry
  * budget). Every call is counted per endpoint class in `stats`.
  */
final class FakeGithub(world: Corpus.World, state: Vector[Repo],
    val stats: IngestStats, delayNanos: Long, faultEvery: Int,
    trace: Option[Trace] = None)
    extends GithubClient.Transport {

  import FakeGithub._

  private val byName = state.map(r => r.name.toLowerCase -> r).toMap
  private val externals = world.externals.map(e => e.name.toLowerCase -> e).toMap
  private val faultOffset = Rng.below(faultEvery, world.seed, 90)
  private var calls = 0L
  private var faults = 0L
  private var records = 0

  def get(url: String, headers: Map[String, String]): Response =
    call(url, "")(respondGet(url))

  override def post(url: String, headers: Map[String, String],
      body: String): Response =
    call(url, body)(respondGraphql(body))

  private def call(url: String, body: String)(
      answer: => Response): Response = synchronized {
    val t0 = System.nanoTime()
    val span = trace.map(_.open("ingest.request", Map("url" -> url)))
    calls += 1
    records = 1
    val fault = faultEvery > 0 && (calls + faultOffset) % faultEvery == 0
    val resp =
      if (!fault) answer
      else {
        faults += 1
        if (faults % 2 == 0) Response(503, body = "service unavailable")
        else Response(403, Map("X-RateLimit-Remaining" -> "0"),
          "rate limit exceeded")
      }
    if (delayNanos > 0) {
      // a fixed service time: park, then spin out the remainder
      val until = t0 + delayNanos
      java.util.concurrent.locks.LockSupport.parkNanos(delayNanos - 50000)
      while (System.nanoTime() < until) {}
    }
    val cls = if (body.nonEmpty) "graphql" else endpointClass(url)
    val seg = splitUrl(url)._1.split("/").filter(_.nonEmpty)
    if (body.isEmpty && seg.length == 3) stats.repoStart(s"${seg(1)}/${seg(2)}", t0)
    stats.record(cls, url + "\u0000" + body, body.length + resp.body.length,
      if (resp.status / 100 == 2) records else 0, fault,
      System.nanoTime() - t0)
    span.foreach(s => trace.get.close(s, Map("class" -> cls,
      "status" -> resp.status.toString)))
    resp
  }

  // ---- REST ---------------------------------------------------------------

  def respondGet(url: String): Response = {
    val (path, query) = splitUrl(url)
    val seg = path.split("/").filter(_.nonEmpty).toVector
    if (seg.length < 3 || seg(0) != "repos") return notFound(url)
    val name = s"${seg(1)}/${seg(2)}".toLowerCase
    byName.get(name) match {
      case None => externals.get(name) match {
        case Some(e) if seg.length == 5 && seg(3) == "issues" =>
          val n = seg(4).toInt
          if (n > 40 || e.missing(n)) notFound(url)
          else ok(issueJson(Item(n, isPr = false, s"external $n", "",
            s"extuser${n % 7}", Corpus.T0 - 86400L * 500 + n * 3600,
            Corpus.T0 - 86400L * 400, None, merged = false, None, 0),
            e.name, htmlUrl = true))
        case _ => notFound(url)
      }
      case Some(rp) => seg.drop(3) match {
        case Vector() => ok(repoJson(rp))
        case Vector("issues") =>
          val since = query.get("since").map(parseIso)
          val all = rp.items.sortBy(-_.createdAt)
            .filter(it => since.forall(it.updatedAt >= _))
          page(url, query, all.map(issueJson(_, rp.name, htmlUrl = false)))
        case Vector("issues", n) =>
          rp.items.find(_.number == n.toInt)
            .map(it => ok(issueJson(it, rp.name, htmlUrl = true)))
            .getOrElse(notFound(url))
        case Vector("pulls") =>
          page(url, query, rp.prs.sortBy(-_.createdAt).map(prJson(_, rp)))
        case Vector("pulls", n, "commits") =>
          rp.prCommits.get(n.toInt)
            .map(cs => page(url, query, cs.map(commitJson(_, rp, detail = false))))
            .getOrElse(notFound(url))
        case Vector("contributors") =>
          page(url, query, rp.contributors.map { case (u, n) =>
            s"""{"login":${js(u)},"id":${userId(u)},"type":"User","site_admin":false,"contributions":$n}"""
          })
        case Vector("commits") =>
          val since = query.get("since").map(parseIso)
          page(url, query, rp.commits.filter(c => since.forall(c.date >= _))
            .map(commitJson(_, rp, detail = false)))
        case Vector("commits", sha) =>
          rp.commitBySha.get(sha)
            .map(c => ok(commitJson(c, rp, detail = true)))
            .getOrElse(Response(422, body = "No commit found for SHA"))
        case Vector("git", "trees", ref) if ref == rp.branch =>
          ok(rp.tree.map { case (p, t) =>
            s"""{"path":${js(p)},"mode":"100644","type":"$t","sha":${js(Corpus.sha(world.seed, 60, p.hashCode))}}"""
          }.mkString(s"""{"sha":"${rp.head}","truncated":false,"tree":[""", ",", "]}"))
        case Vector("compare", range) =>
          val Array(from, to) = range.split("\\.\\.\\.", 2)
          val shas = rp.commits.map(_.sha)
          val (iFrom, iTo) = (shas.indexOf(from), shas.indexOf(to))
          if (iFrom < 0 || iTo < 0 || iTo > iFrom) notFound(url)
          else {
            val files = rp.commits.slice(iTo, iFrom).flatMap(_.files).distinct.sorted
            ok(files.map(f => s"""{"filename":${js(f)},"status":"modified"}""")
              .mkString(s"""{"status":"ahead","ahead_by":${iFrom - iTo},"files":[""", ",", "]}"))
          }
        case _ => notFound(url)
      }
    }
  }

  private def page(url: String, query: Map[String, String],
      records: Seq[String]): Response = {
    val perPage = query.get("per_page").map(_.toInt).getOrElse(30)
    val p = query.get("page").map(_.toInt).getOrElse(1)
    val slice = records.slice((p - 1) * perPage, p * perPage)
    this.records = slice.length
    val body = slice.mkString("[", ",", "]")
    val last = math.max(1, (records.length + perPage - 1) / perPage)
    val link =
      if (p >= last) Map.empty[String, String]
      else {
        def at(n: Int) = withPage(url, n)
        Map("Link" -> s"""<${at(p + 1)}>; rel="next", <${at(last)}>; rel="last"""")
      }
    Response(200, link, body)
  }

  // ---- GraphQL blame ---------------------------------------------------------

  def respondGraphql(body: String): Response = {
    val node = mapper.readTree(body)
    val query = node.path("query").asText("")
    val v = node.path("variables")
    val name = s"${v.path("owner").asText()}/${v.path("name").asText()}".toLowerCase
    val path = v.path("path").asText()
    byName.get(name) match {
      case None => Response(200, body = """{"data":{"repository":null},"errors":[{"type":"NOT_FOUND","message":"Could not resolve to a Repository"}]}""")
      case Some(rp) =>
        val byRef = query.contains("BlameByRef")
        val refOk =
          if (byRef) v.path("qualified").asText() == s"refs/heads/${rp.branch}"
          else v.path("ref").asText() == rp.branch
        if (byRef && (!rp.refResolves || !refOk))
          Response(200, body = """{"data":{"repository":{"ref":null}}}""")
        else if (!refOk || !rp.blobs.contains(path))
          Response(200, body = """{"data":{"repository":{"object":null}},"errors":[{"message":"not found"}]}""")
        else {
          val target = s"""{"__typename":"Commit","oid":"${rp.head}","blame":{"ranges":[${blameRanges(rp, path).mkString(",")}]}}"""
          val wrapped =
            if (byRef) s"""{"ref":{"target":$target}}"""
            else s"""{"object":$target}"""
          Response(200, body = s"""{"data":{"repository":$wrapped}}""")
        }
    }
  }

  /** Blame of `path` at the head: each commit that touched the file
    * owns a contiguous line range, newest last. */
  private def blameRanges(rp: Repo, path: String): Seq[String] = {
    val touching = rp.commits.filter(_.files.contains(path)).take(6).reverse
    val owners = if (touching.nonEmpty) touching else Vector(rp.commits.last)
    var line = 1
    owners.zipWithIndex.map { case (c, i) =>
      val n = 3 + Rng.below(40, world.seed, 70, c.sha.hashCode, path.hashCode)
      val s = line
      line += n
      s"""{"startingLine":$s,"endingLine":${s + n - 1},"age":${owners.length - i},"commit":{"oid":"${c.sha}","committedDate":"${iso(c.date)}","message":${js(c.message)},"author":{"name":${js(c.author)},"email":${js(c.author + "@example.com")},"user":{"login":${js(c.author)}}}}}"""
    }
  }

  // ---- JSON records ----------------------------------------------------------

  private def userJson(u: String): String =
    s"""{"login":${js(u)},"id":${userId(u)},"type":"User","site_admin":false}"""

  private def repoJson(rp: Repo): String =
    s"""{"id":${rp.index + 1000},"name":${js(rp.repo)},"full_name":${js(rp.name)},"description":${js(Text.words(8, world.seed, 80, rp.index))},"private":false,"fork":false,"default_branch":${js(rp.branch)},"owner":${userJson(rp.owner)},"language":"Scala","created_at":"${iso(Corpus.T0 - 86400L * 800)}","updated_at":"${iso(Corpus.T0)}","pushed_at":"${iso(rp.commits.head.date)}","stargazers_count":${rp.items.length * 7},"watchers_count":${rp.items.length},"forks_count":${rp.index + 3},"open_issues_count":${rp.issues.count(_.closedAt.isEmpty)},"size":${rp.blobs.length * 12},"topics":["telemetry","bench"]}"""

  private def issueJson(it: Item, repoName: String, htmlUrl: Boolean): String = {
    val kind = if (it.isPr) "pull" else "issues"
    val pr =
      if (it.isPr) s""","pull_request":{"url":"https://api.github.com/repos/$repoName/pulls/${it.number}"}"""
      else ""
    val url =
      if (htmlUrl) s""","html_url":"https://github.com/$repoName/$kind/${it.number}"""" else ""
    s"""{"id":${it.number + 100000},"number":${it.number},"state":"${it.state}","title":${js(it.title)},"body":${js(it.body)},"user":${userJson(it.author)},"labels":[],"comments":${it.comments},"author_association":"CONTRIBUTOR","created_at":"${iso(it.createdAt)}","updated_at":"${iso(it.updatedAt)}","closed_at":${it.closedAt.map(t => "\"" + iso(t) + "\"").getOrElse("null")}$pr$url}"""
  }

  private def prJson(it: Item, rp: Repo): String =
    s"""{"id":${it.number + 200000},"number":${it.number},"title":${js(it.title)},"body":${js(it.body)},"state":"${it.state}","locked":false,"draft":false,"merge_commit_sha":${it.mergeSha.map(js).getOrElse("null")},"created_at":"${iso(it.createdAt)}","updated_at":"${iso(it.updatedAt)}","closed_at":${it.closedAt.map(t => "\"" + iso(t) + "\"").getOrElse("null")},"merged_at":${if (it.merged) "\"" + iso(it.closedAt.get) + "\"" else "null"},"user":${userJson(it.author)},"html_url":"https://github.com/${rp.name}/pull/${it.number}"}"""

  private def commitJson(c: Commit, rp: Repo, detail: Boolean): String = {
    val actor = s"""{"name":${js(c.author)},"email":${js(c.author + "@example.com")},"date":"${iso(c.date)}"}"""
    val parents = c.parent.map(p => s"""[{"sha":"$p"}]""").getOrElse("[]")
    val extra =
      if (!detail) ""
      else s""","stats":{"additions":${c.additions},"deletions":${c.deletions},"total":${c.additions + c.deletions}},"files":[${c.files.map(f => s"""{"filename":${js(f)},"status":"modified"}""").mkString(",")}]"""
    s"""{"sha":"${c.sha}","commit":{"author":$actor,"committer":$actor,"message":${js(c.message)},"comment_count":0},"author":${userJson(c.author)},"html_url":"https://github.com/${rp.name}/commit/${c.sha}","parents":$parents$extra}"""
  }
}

object FakeGithub {
  val apiBase = "https://api.github.test"
  val endpoints: graft.pipeline.LivePipeline.Endpoints =
    graft.pipeline.LivePipeline.Endpoints(apiBase, s"$apiBase/graphql")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def ok(body: String) = Response(200, body = body)
  private def notFound(url: String) =
    Response(404, body = s"""{"message":"Not Found","url":${js(url)}}""")

  def userId(u: String): Long = (u.hashCode & 0x7fffffff).toLong

  def splitUrl(url: String): (String, Map[String, String]) = {
    val noBase = url.stripPrefix(apiBase)
    val i = noBase.indexOf('?')
    if (i < 0) (noBase, Map.empty)
    else (noBase.substring(0, i), noBase.substring(i + 1).split("&")
      .filter(_.nonEmpty).map { kv =>
        val p = kv.split("=", 2)
        p(0) -> java.net.URLDecoder.decode(p.lift(1).getOrElse(""), "UTF-8")
      }.toMap)
  }

  def withPage(url: String, n: Int): String = {
    val i = url.indexOf('?')
    val (base, q) = if (i < 0) (url, "") else (url.substring(0, i), url.substring(i + 1))
    val kept = q.split("&").filter(p => p.nonEmpty && !p.startsWith("page="))
    (kept :+ s"page=$n").mkString(base + "?", "&", "")
  }

  def parseIso(s: String): Long = java.time.Instant.parse(s).getEpochSecond

  /** Endpoint class of a REST URL, as reported in `ingest.requests.*`. */
  def endpointClass(url: String): String = {
    val seg = splitUrl(url)._1.split("/").filter(_.nonEmpty)
    seg.drop(3).toList match {
      case List("pulls", _, "commits") => "pr_commits"
      case List("commits", _) => "commit_detail"
      case List("issues", _) => "issue_detail"
      case "git" :: "trees" :: _ => "tree"
      case List("compare", _) => "compare"
      case _ => "list"
    }
  }
}
