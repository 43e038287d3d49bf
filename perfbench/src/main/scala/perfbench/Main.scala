package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/**
 * One benchmark run: start a session, set the workload up, warm up, then
 * run a closed loop of operations with one client for `--seconds`, in
 * whole rounds, checking every output. Prints one JSON
 * line of raw metric values; `run.py` attaches units and selects the
 * end-to-end or per-layer set.
 *
 *   Main --workload ingest|serve|news_stream --seed N --seconds S
 *        --trace 0|1 --work DIR [--spans FILE]
 *   Main --selftest
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--selftest")) sys.exit(if (Gen.selfTest()) 0 else 1)
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark, traced)
    val wl: Workload = name match {
      case "ingest" => new Ingest(spark, seed, trace)
      case "serve" => new ServeWl(spark, seed, trace)
      case "news_stream" => new NewsStream(spark, seed, trace)
      case other => spark.stop(); sys.error(s"unknown workload '$other'")
    }
    try {
      val s0 = System.nanoTime()
      wl.setup(s"$work/setup")
      val setupS = (System.nanoTime() - s0) / 1e9
      val warmFailures = (0 until wl.warmup).flatMap(i => safeOp(wl, i).failure)
      warmFailures.foreach(f => System.err.println(s"[perfbench] warm-up op failed: $f"))

      val ops = mutable.ArrayBuffer.empty[OpOut]
      val deltas = mutable.ArrayBuffer.empty[Map[String, Double]]
      var heapPeak = 0.0
      val inBytes = mutable.ArrayBuffer.empty[Long]
      val loop0 = System.nanoTime()
      var i = wl.warmup
      while ((System.nanoTime() - loop0) / 1e9 < seconds) for (_ <- 0 until wl.round) {
        if (traced) {
          val before = trace.settled() ++ storeUsage(wl)
          ops += safeOp(wl, i)
          val after = trace.settled() ++ storeUsage(wl)
          deltas += Counters.delta(after, before)
          heapPeak = math.max(heapPeak, after("jvm.heap_after_gc_mb"))
          inBytes += wl.inputBytes(i)
          wl.afterOp(i)
        } else ops += safeOp(wl, i)
        i += 1
      }
      val end = wl.endChecks()
      val failures = ops.indices.flatMap { k =>
        ops(k).failure.orElse(end.get(k + wl.warmup)).map(k -> _)
      }
      failures.take(5).foreach { case (k, f) => System.err.println(s"[perfbench] op $k failed: $f") }
      val okOps = ops.indices.filterNot(failures.map(_._1).toSet).map(ops)
      val metrics: Map[String, Double] =
        if (!traced) Map(
          "setup_s" -> (sessionS + setupS),
          "throughput_per_s" -> Stats.rate(okOps),
          "op_p50_s" -> Stats.median(okOps.map(_.latency)))
        else layerMetrics(spark, wl, trace, ops.toSeq, deltas.toSeq, heapPeak, inBytes.sum, cores)
      opt.get("spans").foreach(p => trace.write(java.nio.file.Paths.get(p)))
      val perKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
        s"$k=" + os.map(o => f"${o.latency}%.2f").mkString("/") }.mkString(" ")
      System.err.println(f"[perfbench] $name seed=$seed ops=${ops.size} " +
        f"setup=$setupS%.2f session=$sessionS%.2f $perKind")
      val correct = failures.isEmpty && warmFailures.isEmpty &&
        !end.keys.exists(_ < wl.warmup) && ops.nonEmpty
      println(s"""{"correct":$correct,"attempted":${ops.size},"failed":${failures.size},"metrics":{""" +
        metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",") + "}}")
    } finally spark.stop()
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** An op that throws is a failed op, not a crashed run. */
  private def safeOp(wl: Workload, i: Int): OpOut =
    try wl.op(i)
    catch { case e: Exception =>
      OpOut("error", 0, 0, 0, Map.empty, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }

  private def storeUsage(wl: Workload): Map[String, Double] = {
    val u = wl.storeDirs.map(Du(_))
    Map("sources.files_written" -> u.map(_._1).sum.toDouble,
      "sources.bytes_written" -> u.map(_._2).sum.toDouble)
  }

  private def layerMetrics(spark: SparkSession, wl: Workload, trace: Trace, ops: Seq[OpOut],
                           deltas: Seq[Map[String, Double]], heapPeak: Double,
                           inputBytes: Long, cores: Int): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    def perOp(k: String) = deltas.map(_.getOrElse(k, 0.0)).sum / n
    val counters = (deltas.flatMap(_.keys).toSet -- Seq("jvm.heap_after_gc_mb")).map(k => k -> perOp(k)).toMap
    val wall = ops.map(_.wall).sum
    val storeBytes = wl.storeDirs.map(Du(_)._2).sum.toDouble
    val phases = Seq("build", "plan", "exec").map(p => s"spark.${p}_s" -> ops.map(_.phases.getOrElse(p, 0.0)).sum / n)
    val self = trace.selfSeconds(wl.warmup)
    val (kernelRows, kernelExprs) = wl.kernels()
    val rows = Workloads.replicate(kernelRows, 50000).localCheckpoint(true)
    val nRows = rows.count()
    val kernels = kernelExprs.map { case (k, expr) =>
      val secs = (0 until 3).map { _ =>
        val s0 = System.nanoTime()
        rows.select(expr.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - s0) / 1e9
      }
      k -> nRows / Stats.median(secs)
    }
    counters ++ phases ++ wl.layers(ops) ++ kernels ++ Map(
      "spark.slot_util" -> counters.getOrElse("spark.task_s", 0.0) * n / (wall * cores),
      "sources.store_bytes" -> storeBytes,
      "sources.read_frac" -> counters.getOrElse("sources.bytes_read", 0.0) / math.max(storeBytes, 1.0),
      "sources.store_bytes_per_input_byte" ->
        counters.getOrElse("sources.bytes_written", 0.0) * n / math.max(inputBytes, 1L),
      "jvm.heap_peak_mb" -> heapPeak,
      "trace.op_p50_s" -> Stats.median(ops.map(_.latency)),
      "trace.op_wall_s" -> wall / n,
      "trace.phase_frac" -> ops.map(_.phases.values.sum).sum / math.max(wall, 1e-9),
      "trace.op_self_s" -> self.getOrElse("op", 0.0) / n)
  }
}
