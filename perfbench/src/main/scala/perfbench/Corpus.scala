package perfbench

/** The synthetic GitHub a crawl runs against: repositories, their
  * issues and pull requests, commit history, contributors, file tree
  * and blame, plus the planted truth every correctness check compares
  * with.
  *
  * Shape is fixed by rank (so two seeds cost the same to crawl) and
  * content is seeded: repository sizes fall off as 1/rank, so the
  * first repository spans several list pages and the tail costs mostly
  * per-repository overhead. Pull requests are mixed into `/issues`, as
  * on GitHub. Three kinds of reference are planted in text: local
  * (`Fixes #n`), cross-corpus (`closes owner/repo#n`) and external
  * (`ext/lib#n`, some of which answer 404).
  */
object Corpus {

  /** Issue + PR count and file count of each repository, largest
    * first. */
  final case class Spec(sizes: Vector[Int], blobs: Vector[Int]) {
    require(sizes.length == blobs.length, "one file count per repository")
    def repos: Int = sizes.length
  }

  final case class Item(number: Int, isPr: Boolean, title: String,
      body: String, author: String, createdAt: Long, updatedAt: Long,
      closedAt: Option[Long], merged: Boolean, mergeSha: Option[String],
      comments: Int) {
    def state: String = if (closedAt.isDefined) "closed" else "open"
  }

  final case class Commit(sha: String, message: String, author: String,
      date: Long, parent: Option[String], files: Seq[String],
      additions: Int, deletions: Int)

  final case class Repo(index: Int, name: String, branch: String,
      refResolves: Boolean, items: Vector[Item],
      commits: Vector[Commit], // newest first
      tree: Vector[(String, String)], // (path, "blob" | "tree")
      prCommits: Map[Int, Vector[Commit]]) {
    def owner: String = name.split("/")(0)
    def repo: String = name.split("/")(1)
    def issues: Vector[Item] = items.filterNot(_.isPr)
    def prs: Vector[Item] = items.filter(_.isPr)
    def head: String = commits.head.sha
    def blobs: Vector[String] = tree.collect { case (p, "blob") => p }
    def commitBySha: Map[String, Commit] = commits.map(c => c.sha -> c).toMap
    def contributors: Vector[(String, Int)] =
      commits.groupBy(_.author).toVector
        .map { case (u, cs) => u -> cs.length }
        .sortBy { case (u, n) => (-n, u) }
  }

  /** One external repository's issue space: numbers below `size`
    * exist unless listed as missing (those answer 404). */
  final case class External(name: String, missing: Set[Int])

  /** Refresh delta kinds. The largest repository always gets both
    * new issues and new commits; the others cycle through the kinds. */
  val Untouched = "untouched"
  val IssueDelta = "issues"
  val CommitDelta = "commits"
  val BothDelta = "issues+commits"

  def hasIssueDelta(kind: String): Boolean = kind == IssueDelta || kind == BothDelta

  final case class World(seed: Long, spec: Spec, cold: Vector[Repo],
      refreshed: Vector[Repo], deltaKind: Map[String, String],
      externals: Vector[External]) {
    def repoNames: Vector[String] = cold.map(_.name)
  }

  /** Cold crawl "now" and the refresh "now" one day later (epoch s). */
  val T0: Long = 1748736000L // 2025-06-01T00:00:00Z
  val T1: Long = T0 + 86400L

  def iso(epochSec: Long): String =
    java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.ofEpochSecond(epochSec))

  def sha(seed: Long, key: Long*): String =
    f"${Rng.hash(seed, key: _*)}%016x${Rng.hash(seed, key :+ 7L: _*)}%016x${Rng.hash(seed, key :+ 11L: _*) & 0xffffffffL}%08x"

  val blameCap = 25 // the program's default blameFileLimit

  def generate(seed: Long, spec: Spec): World = {
    val tag = f"${Rng.hash(seed, 1) & 0xfff}%03x"
    val names = Vector.tabulate(spec.repos)(r => s"team$r-$tag/proj$r")
    val externals = Vector.tabulate(3) { e =>
      External(s"ext$e-$tag/lib",
        (1 to 40).filter(n => Rng.below(3, seed, 2, e, n) == 0).toSet)
    }
    val sizes = spec.sizes
    val cold = Vector.tabulate(spec.repos)(r =>
      repo(seed, spec, r, names, sizes, externals))
    val kinds = names.indices.map(r => names(r) ->
      (if (r == 0) BothDelta else Vector(Untouched, IssueDelta, CommitDelta)((r - 1) % 3))).toMap
    val refreshed = cold.map(rp => kinds(rp.name) match {
      case IssueDelta => withIssueDelta(seed, rp)
      case CommitDelta => withCommitDelta(seed, rp)
      case BothDelta => withCommitDelta(seed, withIssueDelta(seed, rp))
      case _ => rp
    })
    World(seed, spec, cold, refreshed, kinds, externals)
  }

  private def user(seed: Long, key: Long*): String =
    s"user${Text.zipfRank(Rng.unit(seed, key: _*)) % 400}"

  private def repo(seed: Long, spec: Spec, r: Int, names: Vector[String],
      sizes: Vector[Int], externals: Vector[External]): Repo = {
    val nItems = sizes(r)
    val nCommits = math.max(8, nItems * 3 / 5)
    val branch = if (r % 2 == 1) "release" else "main"
    // files, with directory entries in the tree listing
    val blobs = Vector.tabulate(spec.blobs(r))(f =>
      f"src/m${f % 4}/${Text.word(seed, 10, r, f)}$f%02d.scala")
    val tree = blobs.zipWithIndex.flatMap { case (p, f) =>
      if (f % 8 == 0) Vector(s"src/m${f % 4}" -> "tree", p -> "blob")
      else Vector(p -> "blob")
    }
    // commit history, oldest first while building
    val span = 300L * 86400L
    val commitsOldFirst = (0 until nCommits).foldLeft(Vector.empty[Commit]) {
      (acc, c) =>
        val date = T0 - span + (c + 1) * (span - 7200) / nCommits
        val files = (0 until 1 + Rng.below(3, seed, 11, r, c)).map(j =>
          blobs(Rng.below(blobs.length, seed, 12, r, c, j))).distinct
        val msg0 = Text.words(5 + Rng.below(6, seed, 13, r, c), seed, 14, r, c)
        acc :+ Commit(sha(seed, 15, r, c), msg0,
          user(seed, 16, r, c), date, acc.lastOption.map(_.sha), files,
          1 + Rng.below(40, seed, 17, r, c), Rng.below(20, seed, 18, r, c))
    }
    // items: every fourth number is a PR; numbers are created in order
    val itemSpan = 400L * 86400L
    val raw = (1 to nItems).toVector.map { n =>
      val created = T0 - itemSpan + n * (itemSpan - 86400) / nItems
      val isPr = n % 4 == 0
      val closed =
        if (Rng.below(3, seed, 20, r, n) > 0)
          Some(created + 3600 + Rng.below(20 * 86400, seed, 21, r, n))
            .map(_.min(T0 - 3600))
        else None
      val updated = closed.getOrElse(
        (created + Rng.below(10 * 86400, seed, 22, r, n)).min(T0 - 3600))
      Item(n, isPr, Text.words(4 + Rng.below(5, seed, 23, r, n), seed, 24, r, n),
        Text.words(20 + Rng.below(40, seed, 25, r, n), seed, 26, r, n),
        user(seed, 27, r, n), created, updated, closed,
        merged = false, mergeSha = None,
        comments = Rng.below(12, seed, 28, r, n))
    }
    val issueNums = raw.filterNot(_.isPr).map(_.number)
    def localIssue(key: Long*): Int =
      issueNums(Rng.below(issueNums.length, seed, key: _*))
    val plainCommits = commitsOldFirst.indices.filter(_ % 5 != 1)
    // planted references
    val items = raw.map { it =>
      val n = it.number
      if (it.isPr) {
        val local =
          if (n % 8 == 0) s" Fixes #${localIssue(30, r, n)}." else ""
        val cross =
          if (n % 12 == 0 && names.length > 1) {
            val o = (r + 1 + Rng.below(names.length - 1, seed, 31, r, n)) %
              names.length
            s" Also closes ${names(o)}#${crossIssue(seed, o, sizes(o), n)}."
          } else ""
        val merged = it.closedAt.isDefined && n % 3 != 0
        it.copy(body = it.body + local + cross, merged = merged,
          mergeSha = if (merged) Some(commitsOldFirst(
            plainCommits(Rng.below(plainCommits.length, seed, 32, r, n))).sha)
            else None)
      } else if (n % 10 == 3) {
        val e = externals(Rng.below(externals.length, seed, 33, r, n))
        it.copy(body = it.body +
          s" Related to ${e.name}#${1 + Rng.below(40, seed, 34, r, n)}.")
      } else it
    }
    val commits = commitsOldFirst.zipWithIndex.map { case (c, i) =>
      if (i % 5 == 1)
        c.copy(message = c.message + s"\n\ncloses #${localIssue(35, r, i)}")
      else c
    }.reverse
    val prCommits = items.filter(_.isPr).map { it =>
      it.number -> Vector.tabulate(1 + Rng.below(3, seed, 36, r, it.number)) { j =>
        Commit(sha(seed, 37, r, it.number, j),
          Text.words(6, seed, 38, r, it.number, j), it.author,
          it.createdAt + 600 * (j + 1), None, Nil, 1, 0)
      }
    }.toMap
    Repo(r, names(r), branch, refResolves = branch == "main", items,
      commits, tree, prCommits)
  }

  /** An issue (not PR) number of repo `o`: numbers not divisible by 4. */
  private def crossIssue(seed: Long, o: Int, size: Int, n: Int): Int = {
    val k = 1 + Rng.below(size - 1, seed, 39, o, n)
    if (k % 4 == 0) k - 1 else k
  }

  /** Three existing issues updated (closed, retitled) and two new ones. */
  private def withIssueDelta(seed: Long, rp: Repo): Repo = {
    val open = rp.issues.filter(_.closedAt.isEmpty)
    val pick = Rng.shuffle(open.length, seed, 40, rp.index).take(3)
      .map(i => open(i).number).toSet
    val updated = rp.items.map { it =>
      if (pick(it.number)) {
        val t = T0 + 3600 + it.number
        it.copy(title = it.title + " resolved", updatedAt = t,
          closedAt = Some(t))
      } else it
    }
    val nums = Iterator.from(rp.items.map(_.number).max + 1)
      .filter(_ % 4 != 0).take(2).toVector
    val fresh = Vector.tabulate(2) { j =>
      val num = nums(j)
      val t = T0 + 7200 + j * 60
      Item(num, isPr = false, Text.words(6, seed, 41, rp.index, j),
        Text.words(30, seed, 42, rp.index, j), user(seed, 43, rp.index, j),
        t, t, None, merged = false, mergeSha = None, comments = 0)
    }
    rp.copy(items = updated ++ fresh)
  }

  /** Three new commits on the default branch: they touch blamed files
    * (partial re-blame) and files beyond the blame cap, and one closes
    * an issue. */
  private def withCommitDelta(seed: Long, rp: Repo): Repo = {
    val blobs = rp.blobs
    val issue = rp.issues(Rng.below(rp.issues.length, seed, 50, rp.index))
    val fresh = (0 until 3).foldLeft(Vector.empty[Commit]) { (acc, j) =>
      val capped = math.min(blameCap, blobs.length)
      val files = (Seq(blobs(Rng.below(capped, seed, 51, rp.index, j))) ++
        (if (blobs.length > capped)
          Seq(blobs(capped + Rng.below(blobs.length - capped, seed, 52, rp.index, j)))
        else Nil)).distinct
      val msg = Text.words(6, seed, 53, rp.index, j) +
        (if (j == 1) s"\n\ncloses #${issue.number}" else "")
      acc :+ Commit(sha(seed, 54, rp.index, j), msg,
        user(seed, 55, rp.index, j), T0 + 3600 * (j + 1),
        Some(acc.lastOption.map(_.sha).getOrElse(rp.head)), files, 5, 2)
    }
    rp.copy(commits = fresh.reverse ++ rp.commits)
  }

  // ---- planted truth ---------------------------------------------------

  private val localRef = "Fixes #(\\d+)".r
  private val crossRef = "([A-Za-z0-9_.-]+/[A-Za-z0-9_.-]+)#(\\d+)".r

  /** Expected artifact row counts for one repository's crawl. */
  final case class Expect(issues: Int, prs: Int, commits: Int,
      contributors: Int, prLinkRows: Int, links: Int,
      linksWithAuthor: Int, closedBy: Int, crossLinks: Int,
      crossNullTarget: Int, blameFiles: Int, head: String) {
    def artifactRows: Map[String, Long] = Map(
      "repo_meta" -> 1L, "issues" -> issues.toLong,
      "pull_requests" -> prs.toLong, "commits" -> commits.toLong,
      "contributors" -> contributors.toLong,
      "prs_with_linked_issues" -> prLinkRows.toLong,
      "issues_closed_by_commits" -> closedBy.toLong,
      "cross_repo_links" -> crossLinks.toLong, "repo_blame" -> 1L)
    /** Documents the indexer sends: blame re-chunks to one per file. */
    def indexedDocs: Long =
      artifactRows.values.sum - 1 + blameFiles
  }

  def expect(w: World, rp: Repo): Expect = {
    val ext = w.externals.map(e => e.name -> e).toMap
    val prRefs = rp.prs.map { p =>
      val text = p.title + "\n" + p.body
      val local = localRef.findAllMatchIn(text).size
      val cross = crossRef.findAllMatchIn(text).size
      local + cross
    }
    val crossAll = rp.items.flatMap(it =>
      crossRef.findAllMatchIn(it.title).toSeq ++
        crossRef.findAllMatchIn(it.body).toSeq)
      .map(m => (m.group(1), m.group(2).toInt))
    val nullTargets = crossAll.count { case (r, n) =>
      ext.get(r).exists(e => n > 40 || e.missing(n))
    }
    Expect(
      issues = rp.issues.length,
      prs = rp.prs.length,
      commits = rp.commits.length,
      contributors = rp.commits.map(_.author).distinct.length,
      prLinkRows = prRefs.count(_ > 0),
      links = prRefs.sum,
      linksWithAuthor = prRefs.sum,
      closedBy = rp.commits.count(_.message.contains("closes #")),
      crossLinks = crossAll.length,
      crossNullTarget = nullTargets,
      blameFiles = math.min(blameCap, rp.blobs.length),
      head = rp.head)
  }
}
