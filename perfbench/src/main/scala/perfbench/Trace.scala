package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Additive named counters, safe to bump from listener threads. */
final class Counters {
  private val m = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def snapshot: Map[String, Double] = synchronized { m.toMap }
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/**
 * Job, stage and task counters, with each job attributed to the engine
 * module that submitted it: the first `graft.<module>.<File>` frame of the
 * job's call site. Jobs whose call site holds no engine frame (the final
 * action the benchmark itself calls) count under `client`. Streaming
 * micro-batch jobs carry the call site of the query's start, so they all
 * count under the file that started the query. Every counter the
 * benchmark reports starts at 0, so a module or file that ran no job
 * reads 0 rather than going missing.
 */
final class JobListener(c: Counters) extends SparkListener {
  import JobListener._
  private val started = mutable.Map.empty[Int, (Long, String, String)]
  private val sqlSites = mutable.Map.empty[String, String]

  (Seq("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes").map(k => s"spark.$k") ++
    (Modules :+ "client").flatMap(m => Seq(s"$m.jobs", s"$m.job_s")) ++
    Files.map(f => s"$f.job_s")).foreach(c.add(_, 0))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlSites(s.executionId.toString) = s.details }
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      synchronized { sqlSites.remove(s.executionId.toString) }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // A job's stages carry its call site (long form) as their details. Jobs
    // that adaptive execution submits from its own threads have no user
    // frames there; they take the call site of their SQL execution.
    val own = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => synchronized(sqlSites.get(id))).getOrElse("")
    val (module, file) = Some(attribute(own)).filter(_._1 != "client").getOrElse(attribute(sql))
    synchronized { started(e.jobId) = (e.time, module, file) }
    c.add("spark.jobs", 1)
    c.add(s"$module.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { started.remove(e.jobId) }.foreach { case (t0, module, file) =>
      val s = (e.time - t0) / 1e3
      c.add(s"$module.job_s", s)
      if (file.nonEmpty) c.add(s"$module.$file.job_s", s)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("spark.task_s", m.executorRunTime / 1e3)
      c.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      c.add("spark.gc_s", m.jvmGCTime / 1e3)
      c.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      c.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }
}

object JobListener {
  val Modules = Seq("pipelines", "operators", "sources", "streaming", "serve", "functions")
  /** The engine files whose job time is reported on its own (the files
    * that run most of the jobs of serve and news_stream). */
  val Files = Seq("pipelines.Hybrid", "operators.IvfAnn", "operators.TextRetrieval",
    "sources.TableSink", "streaming.StreamingJob")
  private val Frame = """graft\.(\w+)\.(\w+)[$.].*?\((\w+)\.scala:\d+\)""".r

  /** (module, File) of the first engine frame of a call site. */
  def attribute(callSite: String): (String, String) =
    callSite.split("\n").iterator.map(_.trim).collectFirst {
      case Frame(module, _, file) if Modules.contains(module) => (module, file)
    }.getOrElse(("client", ""))
}

/** Files and bytes the file scans of each SQL execution planned to read. */
final class ScanListener(c: Counters) extends QueryExecutionListener {
  Seq("sources.files_read", "sources.bytes_read").foreach(c.add(_, 0))

  private def scans(p: SparkPlan): Seq[FileSourceScanLike] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Nil
    case s: FileSourceScanLike => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit =
    scans(qe.executedPlan).foreach { s =>
      s.metrics.get("numFiles").foreach(m => c.add("sources.files_read", m.value.toDouble))
      s.metrics.get("filesSize").foreach(m => c.add("sources.bytes_read", m.value.toDouble))
    }

  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()
}

/** Streaming progress of every trigger, in order. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/**
 * Times the public calls the benchmark makes. Every operation is split
 * into the three engine phases the benchmark can see from outside:
 * `build` (the call that returns a frame, with the eager jobs it runs),
 * `plan` (`executedPlan`) and `exec` (the final action). Phase times are
 * taken in every run; a traced run also keeps each call as a span (name,
 * start, end, parent, op id) in memory and registers the listeners.
 */
final class Trace(spark: SparkSession, enabled: Boolean) {
  import Trace.Span

  val counters = new Counters
  val progress = new ProgressListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var opId = -1
  private val phase = mutable.Map.empty[String, Long].withDefaultValue(0L)

  if (enabled) {
    spark.sparkContext.addSparkListener(new JobListener(counters))
    spark.listenerManager.register(new ScanListener(counters))
    spark.streams.addListener(progress)
  }

  def span[T](name: String)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (enabled) spans += Span(id, opId, name, parent, t0, t1)
    }
  }

  private def timedPhase[T](p: String, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try span(s"$p:$name")(f) finally phase(p) += System.nanoTime() - t0
  }
  def build[T](name: String)(f: => T): T = timedPhase("build", name)(f)
  def plan(df: DataFrame): Unit = timedPhase("plan", "executedPlan")(df.queryExecution.executedPlan)
  def exec[T](name: String)(f: => T): T = timedPhase("exec", name)(f)

  /** Everything the listeners saw so far, once the bus is drained. */
  def settled(): Map[String, Double] = {
    if (enabled) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    counters.snapshot ++ Jvm.sample()
  }

  /** Runs one operation as a root span; returns its wall seconds and the
    * seconds of each phase inside it. */
  def op[T](i: Int, name: String)(f: => T): (T, Double, Map[String, Double]) = {
    opId = i
    phase.clear()
    val t0 = System.nanoTime()
    val out = span(s"op:$name")(f)
    val wall = (System.nanoTime() - t0) / 1e9
    val ph = Seq("build", "plan", "exec").map(p => p -> phase(p) / 1e9).toMap
    opId = -1
    (out, wall, ph)
  }

  /** Self time of the spans of ops `fromOp` on, by span kind: a span's
    * duration minus the time its children cover (children of one span run
    * one after another on the client thread). */
  def selfSeconds(fromOp: Int): Map[String, Double] = {
    val measured = spans.filter(_.op >= fromOp)
    val childTime = measured.groupBy(_.parent).view.mapValues(_.map(s => s.end - s.start).sum)
    measured.groupBy(s => s.name.takeWhile(_ != ':')).view.mapValues(_.map { s =>
      (s.end - s.start - childTime.getOrElse(s.id, 0L)) / 1e9
    }.sum).toMap
  }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"op":${s.op},"name":"${s.name.replace("\"", "'")}",""" +
        s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Int, op: Int, name: String, parent: Int, start: Long, end: Long)
}

/** JVM heap in use after the last collection, and collector time. */
object Jvm {
  import scala.jdk.CollectionConverters._
  def sample(): Map[String, Double] = {
    val heapAfterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    Map("jvm.heap_after_gc_mb" -> heapAfterGc / 1048576.0, "jvm.gc_s" -> gc / 1e3)
  }
}

/** File count and bytes under a directory tree (store accounting). */
object Du {
  def apply(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L)
    val s = java.nio.file.Files.walk(root)
    try {
      var files = 0L; var bytes = 0L
      s.filter(java.nio.file.Files.isRegularFile(_)).forEach { p =>
        files += 1; bytes += java.nio.file.Files.size(p)
      }
      (files, bytes)
    } finally s.close()
  }
}
