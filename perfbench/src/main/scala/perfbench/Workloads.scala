package perfbench

import graft.pipelines.{Admission, Hybrid, NewsPipeline}
import graft.serve.Serve
import graft.sources.TableSink
import graft.streaming.StreamingJob
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import scala.collection.mutable

/** One operation as the client saw it. `latency` is what the end-to-end
  * metrics use: the op's wall time, or for a streaming epoch the trigger's
  * own duration. `phases` split the op's wall time into build / plan /
  * exec. */
final case class OpOut(kind: String, wall: Double, latency: Double, items: Long,
                       phases: Map[String, Double], failure: Option[String])

trait Workload {
  /** Generate the inputs for the seed and build the standing stores in `dir`. */
  def setup(dir: String): Unit
  /** Runs operation `i` to completion and checks its output (untimed). */
  def op(i: Int): OpOut
  /** Checks that need the final state; returns failing op indices with why. */
  def endChecks(): Map[Int, String] = Map.empty
  /** Untimed operations before the measured loop (JIT, caches, first files). */
  def warmup: Int
  /** Operations in one whole round: the loop reads the clock only between
    * rounds, so every run measures whole rounds of the same shape. */
  def round: Int
  /** Workload-specific layer metrics of a traced run, with the other
    * workloads' layers reported as 0. */
  def layers(ops: Seq[OpOut]): Map[String, Double]
  /** The engine kernels this workload calls, by metric name, and rows of
    * its own inputs to run them over standalone. */
  def kernels(): (DataFrame, Map[String, Column])
  /** Store directories whose growth is charged to the write path. */
  def storeDirs: Seq[String]
  def inputBytes(i: Int): Long = 0L
  /** Traced runs only: extra measurements after op `i`, outside its counters. */
  def afterOp(i: Int): Unit = ()
}

object Workloads {
  // Inputs are small on purpose: an operation's cost here is set by the
  // number of Spark jobs and files it touches, not by data volume, and a
  // run must hold several operations.
  val ingestSpec = Gen.IngestSpec(corpusDocs = 1000, batchDocs = 50,
    copies = 5, pairs = 3, spans = 8, junk = 3)
  val serveSpec = Gen.ServeSpec(docs = 2000, dim = 384, centres = 16, spread = 0.03,
    stories = 400, warmUsers = 200, recsPerUser = 5, queriesPerSearch = 4)
  val streamSpec = Gen.StreamSpec(epochArticles = 200, centers = 40,
    centerWords = 24, dupShare = 0.1)

  /** Layer metrics only serve produces, and only news_stream produces. A
    * workload reports the other's as 0: that layer did no work there. */
  val ServeLayer = Seq("serve.search_p50_s", "serve.story_p50_s", "serve.recs_p50_s",
    "serve.p90_s", "serve.lexical_s", "serve.semantic_s", "functions.cosine_rows_per_s")
  val StreamLayer = Seq("streaming.add_batch_s", "streaming.query_planning_s",
    "streaming.wal_commit_s", "streaming.state_rows", "streaming.state_bytes",
    "streaming.candidate_ratio", "streaming.candidate_files_frac",
    "functions.hash_embedding_rows_per_s")
  def idle(names: Seq[String]): Map[String, Double] = names.map(_ -> 0.0).toMap

  def docsFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  /** Replicates `df` to at least `n` rows, for kernel throughput runs. */
  def replicate(df: DataFrame, n: Long): DataFrame = {
    val rows = df.count()
    val k = math.max(1L, (n + rows - 1) / rows)
    df.crossJoin(df.sparkSession.range(k).select(col("id").as("__rep"))).drop("__rep")
  }
}

// ───────────────────────────────── ingest ─────────────────────────────────

/**
 * `ingest`: a standing `Admission` store takes one `runCommitted` batch per
 * op: curation, fingerprint bucket probe, span scrub against the span-digest
 * inventory, absorb (TableSink upsert, span delta part, ledger). Many small
 * O(batch) jobs and writes. The store runs the default fixed-k span policy:
 * under the exact policy (`ExactSpanStage`, the SaStore) one batch costs
 * about 45 s on 4 cores whatever its size (about 280 jobs and 930 files
 * written per batch), which no run of this benchmark can hold.
 */
final class Ingest(spark: SparkSession, seed: Long, t: Trace) extends Workload {
  private val spec = Workloads.ingestSpec
  private val cfg = Admission.Config()
  private var store = ""
  private var corpus = Vector.empty[Gen.Doc]
  private val verdictCounts = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var tokens, removed = 0L
  private val batches = mutable.Map.empty[Int, Vector[Gen.BatchDoc]]

  def storeDirs: Seq[String] = Seq(store)
  def warmup: Int = 1
  def round: Int = 1

  def setup(dir: String): Unit = {
    corpus = Gen.corpus(seed, spec)
    store = s"$dir/admission"
    Admission.init(spark, store, Workloads.docsFrame(spark, corpus.map(d => (d.id, d.text))),
      "doc_id", "text", cfg)
  }

  private def batch(i: Int) = batches.getOrElseUpdate(i, Gen.batch(seed, spec, corpus, i))
  override def inputBytes(i: Int): Long = batch(i).map(_.text.getBytes(UTF_8).length.toLong).sum

  def op(i: Int): OpOut = {
    val docs = batch(i)
    val in = Workloads.docsFrame(spark, docs.map(d => (d.id, d.text)))
    val (rows, wall, ph) = t.op(i, "ingest_batch") {
      val out = t.build("Admission.runCommitted") {
        Admission.runCommitted(spark, store, in, "doc_id", "text", i.toLong, cfg)
      }
      t.plan(out)
      t.exec("collect")(out.select("doc_id", "verdict", "n_tokens", "n_removed", "clean_text").collect())
    }
    rows.foreach { r =>
      verdictCounts(r.getString(1)) += 1
      tokens += r.getLong(2); removed += r.getLong(3)
    }
    OpOut("batch", wall, wall, docs.size, ph, check(docs, rows))
  }

  /** Per planted class: corpus copies are duplicates, junk is rejected,
    * novel docs are admitted untouched, span carriers lose the copied
    * span, and a within-batch exact pair never enters the corpus as text:
    * under the engine's all-copies span policy both copies are admitted
    * with every token scrubbed. */
  private def check(docs: Vector[Gen.BatchDoc], rows: Array[Row]): Option[String] = {
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    if (rows.length != docs.size || byId.keySet != docs.map(_.id).toSet)
      return Some(s"expected one verdict per doc: ${rows.length} rows for ${docs.size} docs")
    val bad = docs.flatMap { d =>
      val r = byId(d.id)
      val (v, nTok, nRem, clean) = (r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))
      val ok = d.plant match {
        case Gen.CorpusCopy => v == "duplicate"
        case Gen.Junk => v == "rejected"
        case Gen.Novel => v == "admitted" && nRem == 0
        case Gen.SpanCarrier(span) =>
          v == "admitted" && nRem >= spec.spanLen && !s" $clean ".contains(s" $span ")
        case Gen.PairFirst(_) | Gen.PairSecond(_) =>
          v == "admitted" && nTok > 0 && nRem == nTok
      }
      if (ok) None else Some(s"${d.id} ${d.plant.productPrefix}: $v $nRem/$nTok")
    }
    if (bad.isEmpty) None else Some(bad.take(3).mkString("; "))
  }

  def layers(ops: Seq[OpOut]): Map[String, Double] = {
    val n = verdictCounts.values.sum.toDouble
    Map(
      "pipelines.verdict_admitted_frac" -> verdictCounts("admitted") / n,
      "pipelines.verdict_duplicate_frac" -> verdictCounts("duplicate") / n,
      "pipelines.verdict_rejected_frac" -> verdictCounts("rejected") / n,
      "pipelines.scrubbed_token_frac" -> removed.toDouble / tokens) ++
      Workloads.idle(Workloads.ServeLayer ++ Workloads.StreamLayer)
  }

  def kernels(): (DataFrame, Map[String, Column]) = (
    Workloads.docsFrame(spark, batch(0).map(d => (d.id, d.text))),
    Map("functions.fingerprint_rows_per_s" -> graft.functions.text.fingerprint(col("text")),
      "functions.window_digests_rows_per_s" -> graft.functions.windows.fixedWindows(
        graft.functions.text.tokens(col("text")), 8)))
}

// ───────────────────────────────── serve ─────────────────────────────────

/**
 * `serve`: read-only requests against stores built in setup — hybrid
 * search (BM25 postings + cell-laid-out ANN table, fused), a stored story
 * point lookup (present and absent ids) and a stored recommendations
 * lookup (warm users and cold users who get the latest-stories fallback).
 */
final class ServeWl(spark: SparkSession, seed: Long, t: Trace) extends Workload {
  private val spec = Workloads.serveSpec
  private val K = 10
  private var in: Gen.ServeInputs = _
  private var hybrid, storiesDir, recsDir = ""
  private var stories: DataFrame = _
  private var latest = Seq.empty[String]
  private var recsOf = Map.empty[String, Set[String]]
  private val lexical, semantic = mutable.ArrayBuffer.empty[Double]
  private var lastSearch: Option[DataFrame] = None

  def storeDirs: Seq[String] = Seq(hybrid, storiesDir, recsDir)
  /** One cycle of the request mix (`Gen.request`) warms up; each round is
    * one more cycle. */
  def warmup: Int = Gen.Cycle
  def round: Int = Gen.Cycle

  def setup(dir: String): Unit = {
    import spark.implicits._
    in = Gen.serveInputs(seed, spec)
    hybrid = s"$dir/hybrid"; storiesDir = s"$dir/stories"; recsDir = s"$dir/recs"
    val docs = Workloads.docsFrame(spark, in.docs.map(d => (d.id, d.text)))
    val vecs = in.docs.map(_.id).zip(in.vecs).toDF("id", "vec")
    Hybrid.init(spark, hybrid, docs, "doc_id", "text", vecs, "id", "vec", nlist = 16, numBuckets = 16)
    val st = in.stories.map(s => (s.id, s.summary, new java.sql.Timestamp(s.lastUpdatedS * 1000)))
      .toDF("story_id", "summary", "last_updated")
    TableSink.upsert(spark, storiesDir, st.withColumn("__v", lit(1L)), Seq("story_id"), "__v")
    Serve.writeRecommendations(spark, recsDir,
      in.recs.map(r => (r.user, r.story, r.score)).toDF("user_id", "story_id", "score"), version = 1L)
    stories = TableSink.read(spark, storiesDir,
      spark.range(0).select(lit("").as("story_id"), lit("").as("summary"),
        lit(null).cast("timestamp").as("last_updated")))
      .select("story_id", "summary", "last_updated")
    latest = in.stories.sortBy(s => (-s.lastUpdatedS, s.id)).take(10).map(_.id)
    recsOf = in.recs.groupBy(_.user).view.mapValues(_.map(_.story).toSet).toMap
  }

  private def queryFrame(qs: Vector[Gen.Query]): DataFrame = {
    import spark.implicits._
    qs.map(q => (q.qid, q.text, q.vec)).toDF("qid", "qtext", "qvec")
  }

  def op(i: Int): OpOut = Gen.request(seed, spec, in, i) match {
    case Gen.Search(qs) =>
      val qdf = queryFrame(qs)
      val (rows, wall, ph) = t.op(i, "search") {
        val out = t.build("Hybrid.search")(
          Hybrid.search(spark, hybrid, qdf, "qid", "qtext", "qvec", k = K))
        t.plan(out)
        t.exec("collect")(out.collect())
      }
      lastSearch = Some(qdf)
      val hits = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))).toSet
      val missed = qs.filterNot(q => hits((q.qid, q.target)))
      OpOut("search", wall, wall, 1, ph,
        if (missed.isEmpty) None
        else Some(s"search: target not in top $K for ${missed.map(_.qid).mkString(",")}"))
    case Gen.StoryLookup(id, present) =>
      val (rows, wall, ph) = t.op(i, "story") {
        val out = t.build("Serve.storyByIdStored")(Serve.storyByIdStored(spark, storiesDir, id))
        t.plan(out)
        t.exec("collect")(out.collect())
      }
      val ok = if (present) rows.length == 1 && rows(0).getString(0) == id else rows.isEmpty
      OpOut("story", wall, wall, 1, ph,
        if (ok) None else Some(s"story $id (present=$present): ${rows.length} rows"))
    case Gen.RecsLookup(user, warm) =>
      val (rows, wall, ph) = t.op(i, "recs") {
        val out = t.build("Serve.recommendationsForStored")(
          Serve.recommendationsForStored(spark, recsDir, stories, user))
        t.plan(out)
        t.exec("collect")(out.collect())
      }
      val got = rows.map(_.getString(0)).toSeq
      val ok = if (warm) got.size == spec.recsPerUser && got.toSet == recsOf(user)
               else got == latest
      OpOut("recs", wall, wall, 1, ph,
        if (ok) None else Some(s"recs $user (warm=$warm): ${got.mkString(",")}"))
  }

  /** The two retrieval legs of a search, timed apart on the same queries. */
  override def afterOp(i: Int): Unit = lastSearch.foreach { qdf =>
    lastSearch = None
    def secs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    lexical += secs(t.span("Hybrid.lexicalRun")(Hybrid.lexicalRun(spark, hybrid,
      qdf.select("qid", "qtext"), "qid", "qtext", 20).collect()))
    semantic += secs(t.span("Hybrid.semanticRun")(Hybrid.semanticRun(spark, hybrid,
      qdf.select("qid", "qvec"), "qid", "qvec", 20, nprobe = 8).collect()))
  }

  def layers(ops: Seq[OpOut]): Map[String, Double] = {
    def p50(kind: String) = Stats.median(ops.filter(_.kind == kind).map(_.latency))
    Map(
      "serve.search_p50_s" -> p50("search"),
      "serve.story_p50_s" -> p50("story"),
      "serve.recs_p50_s" -> p50("recs"),
      "serve.p90_s" -> Stats.quantile(ops.map(_.latency), 0.9),
      "serve.lexical_s" -> Stats.median(lexical.toSeq),
      "serve.semantic_s" -> Stats.median(semantic.toSeq)) ++ Workloads.idle(Workloads.StreamLayer)
  }

  def kernels(): (DataFrame, Map[String, Column]) = {
    import spark.implicits._
    (in.docs.map(_.id).zip(in.vecs).toDF("id", "vec"),
      Map("functions.cosine_rows_per_s" ->
        graft.functions.vector.cosineSim(col("vec"), typedLit(in.vecs.head))))
  }
}

// ─────────────────────────────── news_stream ───────────────────────────────

/**
 * `news_stream`: the §3.1 path as `StreamingJob.start` over a file source.
 * Epoch files are written in setup; each op moves the next one into the
 * source directory and runs the query with `Trigger.AvailableNow`, so each
 * op is exactly one data trigger (TTL dedup, `hashEmbedding`, ST4 fold,
 * MERGE into the articles and stories tables) and the no-data trigger that
 * advances the watermark.
 */
final class NewsStream(spark: SparkSession, seed: Long, t: Trace) extends Workload {
  import org.apache.spark.sql.streaming.StreamingQueryProgress
  private val spec = Workloads.streamSpec
  private var dir = ""
  private def staged(e: Int) = Paths.get(s"$dir/staging/epoch-$e%05d.json")
  private val st4 = mutable.ArrayBuffer.empty[StreamingJob.St4Metrics]
  private var lastBatch = -1L
  private val fed = mutable.ArrayBuffer.empty[Int]
  private val opOfBatch = mutable.Map.empty[Long, Int]
  private val schema = StructType(Seq(StructField("link", StringType),
    StructField("title", StringType), StructField("txt", StringType),
    StructField("ingestion_time", TimestampType)))
  /** Each epoch takes two batch ids, and the job refreshes its story basis
    * (an O(table) re-grid) every `basisRefreshEvery` = 8 batch ids: on
    * epochs 0, 4, 8 and so on. Warm-up covers epochs 0 to 2; each round is
    * one refresh period of four epochs, so it holds exactly one refresh. */
  def warmup: Int = 3
  def round: Int = 4
  /** Epoch files written in setup: more than any run can consume. */
  val Epochs: Int = warmup + 30 * round

  def storeDirs: Seq[String] = Seq(s"$dir/articles", s"$dir/stories")

  def setup(d: String): Unit = {
    dir = d
    Files.createDirectories(Paths.get(s"$dir/staging"))
    Files.createDirectories(Paths.get(s"$dir/in"))
    for (e <- 0 until Epochs) {
      val w = Files.newBufferedWriter(staged(e), UTF_8)
      try Gen.epoch(seed, spec, e).foreach { a =>
        w.write(s"""{"link":"${a.link}","title":"${a.title}","txt":"${a.txt}",""" +
          s""""ingestion_time":"${java.time.Instant.ofEpochSecond(a.tsSeconds)}"}""")
        w.newLine()
      } finally w.close()
    }
  }

  override def inputBytes(i: Int): Long = Files.size(Paths.get(s"$dir/in/epoch-$i%05d.json"))

  private def secs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)

  /** The op's latency is its data trigger's `triggerExecution`. Its phases
    * split the op's wall time: `build` is `StreamingJob.start`, `plan` the
    * query planning of its triggers, `exec` the rest of `awaitTermination`. */
  def op(i: Int): OpOut = {
    require(i < Epochs, s"only $Epochs epoch files were written")
    Files.move(staged(i), Paths.get(s"$dir/in/epoch-$i%05d.json"))
    fed += i
    val (ps, wall, spans) = t.op(i, "epoch") {
      val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(s"$dir/in")
      val q = t.build("StreamingJob.start")(StreamingJob.start(src, s"$dir/articles",
        s"$dir/stories", s"$dir/checkpoint", trigger = Trigger.AvailableNow(),
        onBatch = m => st4.synchronized(st4 += m)))
      t.exec("awaitTermination")(q.awaitTermination())
      q.exception.foreach(e => throw e)
      q.recentProgress.toSeq
    }
    val plan = ps.map(secs(_, "queryPlanning")).sum
    val ph = Map("build" -> spans("build"), "plan" -> plan, "exec" -> (spans("exec") - plan))
    val data = ps.filter(p => p.numInputRows > 0 && p.batchId > lastBatch)
    lastBatch = (lastBatch +: ps.map(_.batchId)).max
    data match {
      case Seq(p) if p.numInputRows == spec.epochArticles =>
        opOfBatch(p.batchId) = i
        OpOut("epoch", wall, secs(p, "triggerExecution"), p.numInputRows, ph, None)
      case _ =>
        OpOut("epoch", wall, wall, 0, ph, Some(s"epoch $i: new data triggers read " +
          s"${data.map(_.numInputRows).mkString("[", ",", "]")} rows, expected one of ${spec.epochArticles}"))
    }
  }

  /** Every distinct link fed lands exactly once, with a story id; each
    * story's `n` equals its member count. A miss fails the op that fed it. */
  override def endChecks(): Map[Int, String] = {
    val arts = TableSink.read(spark, s"$dir/articles", spark.range(0)
        .select(lit("").as("link"), lit("").as("story_id")))
      .select("link", "story_id").collect().map(r => (r.getString(0), r.getString(1)))
    val stories = TableSink.read(spark, s"$dir/stories", spark.range(0)
        .select(lit("").as("story_id"), lit(0L).as("n"), lit(0L).as("__v")))
      .select("story_id", "n", "__v").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val count = arts.groupBy(_._1).view.mapValues(_.length).toMap
    val members = arts.groupBy(_._2).view.mapValues(_.length).toMap
    val bad = mutable.Map.empty[Int, String]
    // Epoch e of the stream is fed as op e; batch ids count triggers.
    for (e <- fed) Gen.freshLinks(seed, spec, e).find(l => count.getOrElse(l, 0) != 1)
      .foreach(l => bad(e) = s"link $l landed ${count.getOrElse(l, 0)} times")
    arts.filter(_._2 == null).foreach { case (l, _) =>
      bad(l.split("/")(4).toInt) = s"link $l has no story id" }
    // A story's __v is the batch id of the trigger that last wrote it.
    stories.filter { case (s, n, _) => members.getOrElse(s, 0) != n }.foreach { case (s, n, v) =>
      bad(opOfBatch.getOrElse(v, fed.last)) = s"story $s n=$n but ${members.getOrElse(s, 0)} members"
    }
    System.err.println("[perfbench] basis refreshed on epochs " +
      st4.filter(_.basisRefreshed).flatMap(m => opOfBatch.get(m.epoch)).sorted.mkString(","))
    bad.toMap
  }

  def layers(ops: Seq[OpOut]): Map[String, Double] = {
    val measured = opOfBatch.filter(_._2 >= warmup).keySet
    val ps = t.progress.progress.toArray(Array.empty[StreamingQueryProgress])
      .filter(p => measured(p.batchId))
    def mean(k: String) = Stats.mean(ps.toSeq.map(secs(_, k)))
    val last = ps.lastOption.flatMap(_.stateOperators.headOption)
    val real = st4.filter(m => measured(m.epoch) && !m.replaySkipped && m.nStories > 0)
    Map(
      "streaming.add_batch_s" -> mean("addBatch"),
      "streaming.query_planning_s" -> mean("queryPlanning"),
      "streaming.wal_commit_s" -> mean("walCommit"),
      "streaming.state_rows" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.candidate_ratio" -> Stats.mean(real.toSeq.map(m => m.nCandidates.toDouble / m.nStories)),
      "streaming.candidate_files_frac" -> Stats.mean(real.toSeq.filter(_.tableFiles > 0)
        .map(m => m.candidateFiles.toDouble / m.tableFiles))) ++ Workloads.idle(Workloads.ServeLayer)
  }

  def kernels(): (DataFrame, Map[String, Column]) = {
    import spark.implicits._
    (Gen.epoch(seed, spec, 0).map(a => a.title + " " + a.txt).toDF("content"),
      Map("functions.hash_embedding_rows_per_s" -> NewsPipeline.hashEmbedding(col("content"))))
  }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Items per second of latency: the plain ratio of their sums. */
  def rate(ops: Seq[OpOut]): Double = ops.map(_.items).sum / math.max(ops.map(_.latency).sum, 1e-9)
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val pos = q * (s.size - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
