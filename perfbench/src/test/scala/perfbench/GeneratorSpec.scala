package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{BlameFetch, GithubClient}

/** The synthetic GitHub must be a deterministic function of its seed
  * and must speak the API semantics the live pipeline relies on. */
class GeneratorSpec extends AnyFunSuite {

  private val spec = Corpus.Spec(Vector(120, 12), Vector(40, 8))
  private val api = FakeGithub.apiBase
  private val mapper = new ObjectMapper()

  private def gh(w: Corpus.World, state: Vector[Corpus.Repo] = null) =
    new FakeGithub(w, Option(state).getOrElse(w.cold), new IngestStats,
      delayNanos = 0, faultEvery = 0)

  private def urls(w: Corpus.World): Seq[String] = w.cold.flatMap { rp =>
    val base = s"$api/repos/${rp.name}"
    Seq(base, s"$base/issues?state=all&per_page=100",
      s"$base/issues?state=all&page=2&per_page=100",
      s"$base/pulls?state=all&per_page=100", s"$base/contributors?per_page=100",
      s"$base/commits?per_page=100", s"$base/commits/${rp.head}",
      s"$base/git/trees/${rp.branch}?recursive=1",
      s"$base/pulls/${rp.prs.head.number}/commits?per_page=100",
      s"$base/issues/${rp.issues.head.number}")
  }

  private def blameBody(rp: Corpus.Repo, byRef: Boolean, path: String): String = {
    val vars =
      if (byRef) s"""{"owner":"${rp.owner}","name":"${rp.repo}","qualified":"refs/heads/${rp.branch}","path":"$path"}"""
      else s"""{"owner":"${rp.owner}","name":"${rp.repo}","ref":"${rp.branch}","path":"$path"}"""
    val q = if (byRef) BlameFetch.blameQueryByRef else BlameFetch.blameQueryByObject
    s"""{"query":${GithubClient.jsonString(q)},"variables":$vars}"""
  }

  test("the same seed gives byte-identical responses and the same truth") {
    val (a, b) = (Corpus.generate(42, spec), Corpus.generate(42, spec))
    val (ta, tb) = (gh(a), gh(b))
    urls(a).foreach(u => assert(ta.respondGet(u) == tb.respondGet(u), u))
    a.cold.foreach { rp =>
      val body = blameBody(rp, byRef = true, rp.blobs.head)
      assert(ta.respondGraphql(body) == tb.respondGraphql(body))
    }
    assert(a.cold.map(Corpus.expect(a, _)) == b.cold.map(Corpus.expect(b, _)))
    assert(a.refreshed.map(Corpus.expect(a, _)) == b.refreshed.map(Corpus.expect(b, _)))
  }

  test("a different seed gives a different corpus of the same shape") {
    val (a, b) = (Corpus.generate(1, spec), Corpus.generate(2, spec))
    assert(a.repoNames != b.repoNames)
    assert(a.cold.map(_.items.map(_.body)) != b.cold.map(_.items.map(_.body)))
    assert(a.cold.map(_.items.length) == b.cold.map(_.items.length))
    assert(a.cold.map(_.commits.length) == b.cold.map(_.commits.length))
  }

  test("Link headers round-trip through GithubClient.parseLinkNext") {
    val w = Corpus.generate(7, spec)
    val rp = w.cold.head
    val t = gh(w)
    val first = t.respondGet(s"$api/repos/${rp.name}/issues?state=all&per_page=100")
    val next = GithubClient.parseLinkNext(first.header("Link").get)
    assert(next.contains(s"$api/repos/${rp.name}/issues?state=all&per_page=100&page=2"))
    // paginating the whole list yields every item once, newest first
    val all = GithubClient.paginate(t, GithubClient.Config(), s"$api/repos/${rp.name}/issues?state=all", rp.name)
    val numbers = all.map(r => mapper.readTree(r).path("number").asInt())
    assert(numbers == rp.items.sortBy(-_.createdAt).map(_.number))
    assert(all.forall(_.contains("\"repo_name\":")))
  }

  test("?since= returns exactly the items with updated_at >= since") {
    val w = Corpus.generate(9, spec)
    val rp = w.refreshed.head
    val t = gh(w, w.refreshed)
    val since = rp.items.map(_.updatedAt).sorted.apply(rp.items.length - 5)
    val enc = java.net.URLEncoder.encode(Corpus.iso(since), "UTF-8")
    val got = GithubClient.paginate(t, GithubClient.Config(),
      s"$api/repos/${rp.name}/issues?state=all&since=$enc", rp.name)
      .map(r => mapper.readTree(r).path("number").asInt()).toSet
    assert(got == rp.items.filter(_.updatedAt >= since).map(_.number).toSet)
    assert(got.size >= 5) // the boundary item itself is included
    val commits = GithubClient.paginate(t, GithubClient.Config(),
      s"$api/repos/${rp.name}/commits?since=${java.net.URLEncoder.encode(Corpus.iso(Corpus.T0), "UTF-8")}", rp.name)
    assert(commits.length == rp.commits.count(_.date >= Corpus.T0))
  }

  test("GraphQL blame answers BlameByRef and the BlameByObject fallback") {
    val w = Corpus.generate(11, spec)
    val t = gh(w)
    val byRefRepo = w.cold.find(_.refResolves).get
    val fallbackRepo = w.cold.find(!_.refResolves).get
    def target(body: String, path: String) =
      mapper.readTree(t.respondGraphql(body).body).at(path)
    val ok = target(blameBody(byRefRepo, byRef = true, byRefRepo.blobs.head),
      "/data/repository/ref/target")
    assert(ok.path("__typename").asText() == "Commit")
    assert(ok.path("oid").asText() == byRefRepo.head)
    assert(ok.path("blame").path("ranges").size() > 0)
    // the ref query fails for a branch that is not a plain head ...
    assert(target(blameBody(fallbackRepo, byRef = true, fallbackRepo.blobs.head),
      "/data/repository/ref").isNull)
    // ... and the object query answers it
    val obj = target(blameBody(fallbackRepo, byRef = false, fallbackRepo.blobs.head),
      "/data/repository/object")
    assert(obj.path("__typename").asText() == "Commit")
    assert(obj.path("blame").path("ranges").size() > 0)
  }

  test("injected faults stay inside the client's retry budget") {
    val w = Corpus.generate(13, spec)
    val stats = new IngestStats
    val t = new FakeGithub(w, w.cold, stats, delayNanos = 0, faultEvery = 5)
    val cfg = GithubClient.Config(tokens = Seq("a", "b"), sleeper = stats.backoff)
    urls(w).foreach(u => assert(GithubClient.getWithRetry(t, cfg, u).status == 200, u))
    assert(stats.retries > 0 && stats.backoffMs > 0)
  }
}
