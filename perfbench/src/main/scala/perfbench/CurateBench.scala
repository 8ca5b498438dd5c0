package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `curate`: one `tools.RunCuration.run` over a generated input
  * directory with the testdata `documents` / `embeddings` schemas.
  * Text comes from the crawl corpus's generator (issue, PR and commit
  * shapes, with English function words mixed in so documents pass the
  * quality gate), and the generator plants what each curation stage
  * exists to remove: exact and near duplicates, PII, repeated-line
  * spam, non-English documents and near-duplicate embedding clusters. */
object CurateBench {

  val docs = 10000
  val warmDocs = 500
  val dim = 64

  /** What the generator planted: groups of documents with identical
    * text, and every PII string. */
  final case class Planted(n: Int, exactDupGroups: Seq[Seq[Long]],
      pii: Seq[String])

  private val enStops = Vector("the", "a", "of", "and", "is", "not", "to", "in")
  private val otherLangs = Vector(
    "de" -> Vector("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "es" -> Vector("el", "la", "y", "los", "es", "no", "un", "con"),
    "fr" -> Vector("le", "la", "et", "les", "est", "pas", "un", "dans"))

  /** Issue, PR and commit prose narrowed to the corpus's commonest
    * words (the curation LM filter drops high-perplexity text, so the
    * full vocabulary would empty the corpus), a quarter of the tokens
    * function words of the document's language. */
  val commonWords = 32

  private def prose(n: Int, stops: Vector[String], seed: Long, key: Long*): String =
    (0 until n).map { i =>
      if (Rng.below(4, seed, key :+ i.toLong :+ 1L: _*) == 0)
        stops(Rng.below(stops.length, seed, key :+ i.toLong :+ 2L: _*))
      else Text.commonWord(commonWords, seed, key :+ i.toLong: _*)
    }.mkString(" ")

  /** Write `documents.parquet` and `embeddings.parquet` under `dir`. */
  def generate(spark: SparkSession, seed: Long, n: Int, dir: java.io.File): Planted = {
    val texts = new Array[String](n)
    val langs = new Array[String](n)
    val dupGroups = scala.collection.mutable.Map.empty[Int, List[Long]]
    val pii = Seq.newBuilder[String]
    for (i <- 0 until n) {
      val roll = Rng.below(100, seed, 100, i)
      val kind = i % 3 // issue, pull request or commit text
      val len = kind match {
        case 0 => 40 + Rng.below(120, seed, 101, i)
        case 1 => 30 + Rng.below(80, seed, 101, i)
        case _ => 20 + Rng.below(30, seed, 101, i)
      }
      langs(i) = "en"
      texts(i) = roll match {
        case r if r < 6 && i > 10 => // exact duplicate of an earlier document
          val j = Rng.below(i, seed, 102, i)
          val root = dupGroups.collectFirst { case (k, ids) if ids.contains(j.toLong) => k }
            .getOrElse(j)
          dupGroups(root) = i.toLong :: dupGroups.getOrElse(root, List(root.toLong))
          texts(j)
        case r if r < 10 && i > 10 => // near duplicate: two words changed
          val w = texts(Rng.below(i, seed, 103, i)).split(" ")
          w(Rng.below(w.length, seed, 104, i)) = Text.commonWord(commonWords, seed, 105, i)
          w(Rng.below(w.length, seed, 106, i)) = Text.commonWord(commonWords, seed, 107, i)
          w.mkString(" ")
        case r if r < 14 => // PII
          val email = s"dev${Rng.hash(seed, 108, i) & 0xffff}@example.com"
          val phone = f"555-${Rng.below(900, seed, 109, i) + 100}%03d-${Rng.below(9000, seed, 110, i) + 1000}%04d"
          pii += email
          pii += phone
          prose(len, enStops, seed, 111, i) + s" contact $email or call $phone " +
            prose(10, enStops, seed, 112, i)
        case r if r < 17 => // repeated-line spam
          val line = prose(6, enStops, seed, 113, i)
          Seq.fill(12)(line).mkString("\n")
        case r if r < 25 => // non-English
          val (lang, stops) = otherLangs(Rng.below(otherLangs.length, seed, 114, i))
          langs(i) = lang
          prose(len, stops, seed, 115, i)
        case _ => prose(len, enStops, seed, 116, kind, i)
      }
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = (0 until n).map(i =>
      Row(i.toLong, texts(i), langs(i), s"src${Rng.below(10, seed, 120, i)}",
        texts(i).length.toLong))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), docSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    // embeddings for ~40% of documents, with near-duplicate clusters
    val vecs = scala.collection.mutable.Map.empty[Int, Array[Float]]
    val embRows = (0 until n).filter(i => Rng.below(5, seed, 130, i) < 2).map { i =>
      val v =
        if (vecs.nonEmpty && Rng.below(10, seed, 131, i) == 0) {
          val base = vecs.valuesIterator.drop(Rng.below(vecs.size, seed, 132, i)).next()
          base.zipWithIndex.map { case (x, d) =>
            x + ((Rng.unit(seed, 133, i, d) - 0.5) * 0.002).toFloat }
        } else {
          val raw = Array.tabulate(dim)(d => (Rng.unit(seed, 134, i, d) - 0.5).toFloat)
          val norm = math.sqrt(raw.map(x => x * x).sum).toFloat
          raw.map(_ / norm)
        }
      if (vecs.size < 500) vecs(i) = v
      Row(i.toLong, v.toSeq, Rng.below(10, seed, 135, i))
    }
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(java.util.Arrays.asList(embRows: _*), embSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/embeddings.parquet")
    Planted(n, dupGroups.values.map(_.reverse).toSeq, pii.result())
  }

  final case class Run(wallNanos: Long, stages: Map[String, Long],
      failures: Seq[String], span: Option[Long])

  /** One `RunCuration.run` into a fresh output directory, checked. */
  def runOnce(spark: SparkSession, in: java.io.File, out: java.io.File,
      planted: Planted, trace: Option[Trace]): Run = {
    Files.delete(out)
    val t0 = System.nanoTime()
    val span = trace.map(_.open("queries.RunCuration.run"))
    val rows = graft.tools.RunCuration.run(spark, in.getAbsolutePath, out.getAbsolutePath)
    span.foreach(trace.get.close(_))
    val wall = System.nanoTime() - t0
    val stages = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    (Run(wall, stages, verify(spark, out, planted, stages), span))
  }

  /** Planted exact duplicates and PII must be absent from the corpus. */
  def verify(spark: SparkSession, out: java.io.File, planted: Planted,
      stages: Map[String, Long]): Seq[String] = {
    val failures = Seq.newBuilder[String]
    val corpus = spark.read.parquet(s"${out.getAbsolutePath}/corpus")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val kept = corpus.map(_._1).toSet
    if (stages.get("0_raw").contains(planted.n.toLong) == false)
      failures += s"raw stage saw ${stages.get("0_raw")} docs, expected ${planted.n}"
    val splitTotal = stages.collect { case (k, v) if k.startsWith("9_split_") => v }.sum
    if (splitTotal != corpus.length)
      failures += s"corpus has ${corpus.length} docs, stage rows say $splitTotal"
    if (corpus.isEmpty) failures += "curated corpus is empty"
    planted.exactDupGroups.foreach { g =>
      val survivors = g.count(kept)
      if (survivors > 1) failures += s"exact duplicates ${g.mkString(",")} kept $survivors copies"
    }
    val leaked = planted.pii.filter(p => corpus.exists(_._2.contains(p)))
    if (leaked.nonEmpty) failures += s"${leaked.length} planted PII strings survived, e.g. ${leaked.head}"
    failures.result()
  }
}

object CurateWorkload extends Workload {
  import CurateBench._

  final case class Input(dir: java.io.File, planted: Planted)
  type Setup = Input
  type Pass = Seq[Run]

  /** Generate the input, then warm up with a small curation of another
    * seed's input. */
  def setup(ctx: Ctx): (Input, Seq[String]) = {
    val warmIn = Files.fresh(ctx.work, "warm-input")
    val wp = generate(ctx.spark, ctx.seed ^ 0x5eedL, warmDocs, warmIn)
    val warm = runOnce(ctx.spark, warmIn, new java.io.File(ctx.work, "warm-out"), wp, None)
    Files.delete(warmIn)
    val in = Files.fresh(ctx.work, "input")
    (Input(in, generate(ctx.spark, ctx.seed, docs, in)), warm.failures.map("warm-up " + _))
  }

  /** Curation runs, each into a fresh output directory, until
    * `seconds` have passed (at least one). */
  def pass(ctx: Ctx, in: Input, trace: Option[Trace]): Seq[Run] = {
    val end = System.nanoTime() + ctx.seconds * 1000000000L
    val runs = Seq.newBuilder[Run]
    var i = 0
    while (i == 0 || System.nanoTime() < end) {
      trace.foreach(_.op = i)
      runs += runOnce(ctx.spark, in.dir, new java.io.File(ctx.work, "out"), in.planted, trace)
      i += 1
    }
    runs.result()
  }

  def outcomes(in: Input, runs: Seq[Run]): (Long, Long, Seq[String]) =
    (runs.length.toLong, runs.count(_.failures.nonEmpty).toLong, runs.flatMap(_.failures))

  def metrics(in: Input, runs: Seq[Run]): (Map[String, M], Map[String, M]) = {
    val ms = runs.map(r => Stats.ms(r.wallNanos))
    val docsPerS = Stats.median(runs.map(r => in.planted.n / Stats.s(r.wallNanos)))
    (Map(
      "throughput_per_s" -> M(docsPerS, "1/s"),
      "op_p50_ms" -> M(Stats.median(ms), "ms"),
      "op_tail_ms" -> M(Stats.tail(ms)._2, "ms")),
      Map(
        "curate_docs_per_s" -> M(docsPerS, "doc/s"),
        "input_docs" -> M(in.planted.n.toDouble, "count"),
        "runs" -> M(runs.length.toDouble, "count")))
  }

  def layers(ctx: Ctx, in: Input, trace: Trace, runs: Seq[Run]): Map[String, M] = {
    def med(f: Run => Double) = Stats.median(runs.map(f))
    def w(r: Run) = trace.workOf(r.span.get)
    Map(
      "queries.curation.jobs" -> M(med(w(_).jobs.sum.toDouble), "count"),
      "queries.curation.tasks" -> M(med(w(_).tasks.sum.toDouble), "count"),
      "queries.curation.task_cpu_s" -> M(med(w(_).cpuNanos.sum / 1e9), "s"),
      "queries.curation.gc_s" -> M(med(w(_).gcMs.sum / 1e3), "s"),
      "queries.curation.shuffle_write_bytes" -> M(med(w(_).shuffleWrite.sum.toDouble), "B"),
      "queries.curation.spill_bytes" -> M(med(w(_).spill.sum.toDouble), "B"),
      "queries.curation.core_util" -> M(med(r => w(r).runMs.sum / 1e3 /
        (Stats.s(r.wallNanos) * ctx.cores)), "ratio")) ++
      runs.head.stages.map { case (k, v) => s"queries.curation.stage_docs.$k" -> M(v.toDouble, "count") }
  }
}
