package perfbench

import java.security.MessageDigest
import scala.util.Random

/**
 * Seeded input generator with planted ground truth. Pure Scala (no Spark):
 * the same seed yields byte-identical inputs in any JVM, and the engine
 * receives only these rows. Every planted property the output checks rely
 * on is recorded next to the rows it was planted in.
 */
object Gen {

  /** The seed later performance claims are made on, and the one held out
    * to confirm them (a claim must hold on a seed not used while the
    * change was written). */
  val BaselineSeed = 1L
  val HeldOutSeed = 7L

  // English stopwords the engine's language profile and quality score
  // count; the rest of the language is a fixed synthetic vocabulary, so
  // token statistics do not depend on any data set outside the benchmark.
  val Stop: Vector[String] = Vector("the", "and", "of", "is", "a")
  val Vocab: Vector[String] = {
    val r = new Random(20261017L)
    val syl = Vector("ka", "lo", "mir", "ten", "sa", "vo", "rud", "pel",
      "qui", "nor", "bex", "tal", "fen", "gor", "hu", "jas", "ril", "dom",
      "ces", "wyn", "pra", "zel", "mot", "kin")
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 12000)
      words += Seq.fill(2 + r.nextInt(2))(syl(r.nextInt(syl.size))).mkString
    words.toVector.filterNot(Stop.contains)
  }

  private def rng(seed: Long, stream: String, i: Long): Random =
    new Random(seed * 1000003L ^ stream.hashCode.toLong * 7919L ^ i * 104729L)

  /** A curation-passing document: `n` tokens, about one in five a
    * stopword, the rest drawn uniformly from the vocabulary (so no two
    * generated documents share an 8-token run by chance). */
  def words(r: Random, n: Int): Vector[String] =
    Vector.fill(n)(if (r.nextInt(5) == 0) Stop(r.nextInt(Stop.size))
                   else Vocab(r.nextInt(Vocab.size)))

  // ───────────────────────────── ingest ─────────────────────────────

  /** What a batch document was planted as; the ingest check reads it. */
  sealed trait Plant extends Product
  case object Novel extends Plant
  case object CorpusCopy extends Plant
  /** The first and second document of a within-batch exact pair. */
  final case class PairFirst(twin: Long) extends Plant
  final case class PairSecond(twin: Long) extends Plant
  /** A novel document carrying `span` copied verbatim from a corpus doc. */
  final case class SpanCarrier(span: String) extends Plant
  /** Too short for the curation funnel (Gopher minimum of 50 words). */
  case object Junk extends Plant

  final case class Doc(id: Long, text: String)
  final case class BatchDoc(id: Long, text: String, plant: Plant)

  final case class IngestSpec(corpusDocs: Int, batchDocs: Int,
                              copies: Int, pairs: Int, spans: Int, junk: Int,
                              spanLen: Int = 12) {
    require(batchDocs * 20 <= corpusDocs, "batch-to-corpus ratio must be <= 1:20")
    val novel: Int = batchDocs - copies - 2 * pairs - spans - junk
    require(novel > 0, s"no novel docs left in a batch of $batchDocs")
  }

  def corpus(seed: Long, s: IngestSpec): Vector[Doc] =
    Vector.tabulate(s.corpusDocs) { i =>
      val r = rng(seed, "corpus", i)
      Doc(i + 1L, words(r, 60 + r.nextInt(60)).mkString(" "))
    }

  /** Batch `b` (0-based) of the ingest stream, in a seeded shuffled order.
    * Ids are unique across batches; planted shares are fixed per batch. */
  def batch(seed: Long, s: IngestSpec, corpus: Vector[Doc], b: Int): Vector[BatchDoc] = {
    val r = rng(seed, "batch", b)
    var next = 1000000L + b.toLong * 10000L
    def id(): Long = { next += 1; next }
    def fresh(): String = words(r, 60 + r.nextInt(60)).mkString(" ")
    val out = Vector.newBuilder[BatchDoc]
    for (_ <- 0 until s.copies)
      out += BatchDoc(id(), corpus(r.nextInt(corpus.size)).text, CorpusCopy)
    for (_ <- 0 until s.pairs) {
      val t = fresh(); val a = id(); val b2 = id()
      out += BatchDoc(a, t, PairFirst(b2))
      out += BatchDoc(b2, t, PairSecond(a))
    }
    for (_ <- 0 until s.spans) {
      val src = corpus(r.nextInt(corpus.size)).text.split(" ")
      val at = r.nextInt(src.length - s.spanLen + 1)
      val span = src.slice(at, at + s.spanLen).mkString(" ")
      val body = words(r, 60 + r.nextInt(40))
      val cut = 10 + r.nextInt(body.size - 20)
      out += BatchDoc(id(),
        (body.take(cut) ++ Seq(span) ++ body.drop(cut)).mkString(" "),
        SpanCarrier(span))
    }
    for (_ <- 0 until s.junk)
      out += BatchDoc(id(), words(r, 8 + r.nextInt(10)).mkString(" "), Junk)
    for (_ <- 0 until s.novel)
      out += BatchDoc(id(), fresh(), Novel)
    r.shuffle(out.result())
  }

  // ───────────────────────────── serve ─────────────────────────────

  final case class ServeSpec(docs: Int, dim: Int, centres: Int, spread: Double,
                             stories: Int, warmUsers: Int, recsPerUser: Int,
                             queriesPerSearch: Int)
  final case class Story(id: String, summary: String, lastUpdatedS: Long)
  final case class Rec(user: String, story: String, score: Double)
  /** A hybrid query built from one corpus doc's rare terms and vector. */
  final case class Query(qid: Long, text: String, vec: Array[Double], target: Long)
  final case class ServeInputs(docs: Vector[Doc], vecs: Vector[Array[Double]],
                               stories: Vector[Story], recs: Vector[Rec])

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def serveInputs(seed: Long, s: ServeSpec): ServeInputs = {
    val r = rng(seed, "serve", 0)
    val docs = Vector.tabulate(s.docs)(i =>
      Doc(i + 1L, words(r, 40 + r.nextInt(40)).mkString(" ")))
    // Embeddings as the product stores them (384-d sentence vectors) with
    // the topical structure its fixtures plant: unit vectors scattered
    // around planted centres, so IVF cells have clusters to find.
    val centres = Vector.fill(s.centres)(unit(Array.fill(s.dim)(r.nextGaussian())))
    val vecs = Vector.fill(s.docs) {
      val c = centres(r.nextInt(s.centres))
      unit(c.map(_ + s.spread * r.nextGaussian()))
    }
    val base = 1700000000L
    // Distinct timestamps, so the latest-N fallback has one right answer.
    val stories = Vector.tabulate(s.stories)(i =>
      Story(f"s$i%05d", words(r, 12).mkString(" "), base + i * 37L + r.nextInt(30)))
    val recs = for {
      u <- 0 until s.warmUsers
      picks = r.shuffle((0 until s.stories).toVector).take(s.recsPerUser)
      (st, k) <- picks.zipWithIndex
    } yield Rec(f"u$u%04d", stories(st).id, 1.0 - k * 0.1)
    ServeInputs(docs, vecs, stories, recs.toVector)
  }

  /** The serve request mix: a fixed cycle of eight requests (two hybrid
    * searches, a present and an absent story id, three warm users and one
    * cold user), each with seeded targets, so every run of a given length
    * sends the same mix. With more warm lookups than any other kind, the
    * median request of whole cycles falls inside one kind's latencies
    * rather than on the edge between two. */
  val Cycle = 8

  sealed trait Request
  final case class Search(queries: Vector[Query]) extends Request
  final case class StoryLookup(id: String, present: Boolean) extends Request
  final case class RecsLookup(user: String, warm: Boolean) extends Request

  def request(seed: Long, s: ServeSpec, in: ServeInputs, i: Int): Request = {
    val r = rng(seed, "request", i)
    i % Cycle match {
      case 0 | 4 =>
        Search(Vector.tabulate(s.queriesPerSearch) { q =>
          val d = r.nextInt(in.docs.size)
          val rare = in.docs(d).text.split(" ").filterNot(Stop.contains).distinct
          val terms = r.shuffle(rare.toVector).take(3)
          Query(i * 100L + q, terms.mkString(" "), in.vecs(d), in.docs(d).id)
        })
      case 1 => StoryLookup(in.stories(r.nextInt(in.stories.size)).id, present = true)
      case 5 => StoryLookup(f"absent$i%06d", present = false)
      case 2 | 3 | 6 => RecsLookup(f"u${r.nextInt(s.warmUsers)}%04d", warm = true)
      case _ => RecsLookup(f"cold$i%06d", warm = false)
    }
  }

  // ─────────────────────────── news_stream ───────────────────────────

  final case class StreamSpec(epochArticles: Int, centers: Int,
                              centerWords: Int, dupShare: Double)
  final case class Article(link: String, title: String, txt: String,
                           tsSeconds: Long, center: Int)

  /** Epoch `e` of the article stream: articles drawn around planted story
    * centers (each center a fixed word set, articles are its words plus a
    * little noise), and a share of links repeated from this or the
    * previous epoch inside the 24 h TTL (the engine must drop them). */
  def epoch(seed: Long, s: StreamSpec, e: Int): Vector[Article] = {
    val centers = {
      val r = rng(seed, "centers", 0)
      val pool = r.shuffle(Vocab)
      Vector.tabulate(s.centers)(c => pool.slice(c * s.centerWords, (c + 1) * s.centerWords))
    }
    def link(ep: Int, j: Int) = s"https://news.example/$seed/$ep/$j"
    val r = rng(seed, "epoch", e)
    val t0 = 1704067200L + e * 600L
    val nDup = (s.epochArticles * s.dupShare).toInt
    val fresh = Vector.tabulate(s.epochArticles - nDup) { j =>
      val c = r.nextInt(s.centers)
      val txt = (r.shuffle(centers(c)) ++ words(r, 2)).mkString(" ")
      Article(link(e, j), s"report $c", txt, t0 + j, c)
    }
    val dups = Vector.tabulate(nDup) { j =>
      val (ep, k) =
        if (e > 0 && r.nextBoolean()) (e - 1, r.nextInt(s.epochArticles - nDup))
        else (e, r.nextInt(s.epochArticles - nDup))
      Article(link(ep, k), "repeat", words(r, 20).mkString(" "),
        t0 + s.epochArticles + j, -1)
    }
    fresh ++ dups
  }

  /** Distinct links first seen in epoch `e` (the rest are TTL duplicates). */
  def freshLinks(seed: Long, s: StreamSpec, e: Int): Vector[String] =
    epoch(seed, s, e).filter(_.center >= 0).map(_.link)

  // ─────────────────────────── self-test ───────────────────────────

  /** SHA-256 over every input a workload receives for `seed`, including
    * the first `n` batches/requests/epochs. */
  def digest(seed: Long, n: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    val is = Workloads.ingestSpec
    val c = corpus(seed, is)
    c.foreach(d => put(s"${d.id}\t${d.text}"))
    for (b <- 0 until n; d <- batch(seed, is, c, b)) put(s"${d.id}\t${d.text}\t${d.plant}")
    val ss = Workloads.serveSpec
    val in = serveInputs(seed, ss)
    in.docs.foreach(d => put(s"${d.id}\t${d.text}"))
    in.vecs.foreach(v => put(v.mkString(",")))
    in.stories.foreach(st => put(st.toString))
    in.recs.foreach(x => put(x.toString))
    for (i <- 0 until n) request(seed, ss, in, i) match {
      case Search(qs) => qs.foreach(q => put(s"${q.qid}\t${q.text}\t${q.vec.mkString(",")}\t${q.target}"))
      case other => put(other.toString)
    }
    for (e <- 0 until n; a <- epoch(seed, Workloads.streamSpec, e)) put(a.toString)
    md.digest().map("%02x".format(_)).mkString
  }

  /** Same seed → byte-identical inputs; different seeds → different ones. */
  def selfTest(): Boolean = {
    val a = digest(BaselineSeed, 5)
    val b = digest(BaselineSeed, 5)
    val c = digest(HeldOutSeed, 5)
    println(s"[selftest] seed $BaselineSeed digest $a")
    println(s"[selftest] seed $BaselineSeed again  $b")
    println(s"[selftest] seed $HeldOutSeed digest $c")
    a == b && a != c
  }
}
