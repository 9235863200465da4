package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up `SetupReps` times (the last set-up is kept),
  * run one cold op and the workload's warm-up ops, then steady ops for
  * `--seconds`, check every op's output, and print the result as the last
  * line of standard output.
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` alternates traced
  * and untraced steady ops and prints the per-layer metrics, medians over
  * the traced ops; the untraced ones give the tracing overhead.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, records: File, t0Ms: Long)

  val SetupReps = 3
  val MinSteadyOps = 2

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "first_op_ms" -> "ms", "op_ms_p50" -> "ms",
    "peak_rss_mb" -> "MB")

  val PerLayer: Seq[String] = Seq(
    "pipeline.minute_agg_ms", "operators.fill_ms", "operators.align_ms",
    "operators.scale_ms", "operators.window_ms", "model.score_ms",
    "model.score_us_per_window",
    "ingest.http_fetch_ms", "ingest.fetch_requests",
    "realtime.job_ms", "realtime.driver_gap_ms", "realtime.scrape_ms",
    "stages.collect_ms", "stages.preprocess_ms", "stages.train_ms",
    "stages.filter_ms", "stages.files_written", "stages.bytes_written",
    "model.train_eff_cores", "model.windows_per_epoch") ++
    Batch.Rows.flatMap(r => Seq(s"registry.${r}_ms", s"registry.${r}_eff_cores")) ++
    Seq("spark.jobs_per_op", "spark.tasks", "spark.task_cpu_ms",
      "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
      "spark.spill_bytes", "spark.gc_ms", "spark.failed_task_ratio",
      "process.eff_cores",
      "trace.op_wall_ms", "trace.self_sum_ms", "trace.remainder_ms",
      "trace.overhead_ms")

  def unit(metric: String): String =
    if (metric.endsWith("_ms")) "ms"
    else if (metric.endsWith("_bytes")) "bytes"
    else if (metric.endsWith("eff_cores")) "cores"
    else if (metric.endsWith("_ratio")) "ratio"
    else if (metric.endsWith("us_per_window")) "us"
    else "count"

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = m("workload")
    require(Workloads.Names.contains(w), s"unknown workload $w")
    Args(w, m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      new File(m("work")), new File(m("records")), m("t0-ms").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val status = try run(parse(argv)) catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    System.out.flush()
    System.exit(status)
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def newSession(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** What one op left behind: wall, CPU, GC, its check, and the layer
    * metrics its workload reported. */
  final case class OpRec(i: Int, traced: Boolean, warmup: Boolean, ms: Double,
                         cpuMs: Double, gcMs: Double, error: Option[String],
                         layers: Map[String, Double])

  def run(a: Args): Int = {
    val snap0 = Env.snap()
    val jvmStartS = (System.currentTimeMillis() - a.t0Ms) / 1e3
    a.work.mkdirs()
    var spark: SparkSession = null
    var wl: Workload = null
    var listener: OpListener = null
    var notes = Map.empty[String, Any]
    val setups = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[OpRec]
    try {
      for (_ <- 0 until SetupReps) {
        if (wl != null) { wl.close(); wl = null }
        if (spark != null) stopSession(spark)
        val t = System.nanoTime()
        spark = newSession()
        spark.range(0, 100000, 1, Runtime.getRuntime.availableProcessors)
          .selectExpr("sum(id)").collect()
        listener = new OpListener
        spark.sparkContext.addSparkListener(listener)
        wl = Workloads.setup(a.workload, spark, a.seed, a.work)
        setups += (System.nanoTime() - t) / 1e9
      }

      val w = wl
      def runOp(i: Int, traced: Boolean, warmup: Boolean = false): OpRec = {
        w.prepare(i)
        spark.sparkContext.setLocalProperty(OpListener.Key, i.toString)
        Trace.enabled = traced
        val (c0, g0, t0) = (Env.cpuNs(), Env.gcMs(), System.nanoTime())
        val out = Try(Trace.op(i, "op")(w.op(i, traced)))
        val (t1, c1, g1) = (System.nanoTime(), Env.cpuNs(), Env.gcMs())
        Trace.enabled = false
        spark.sparkContext.setLocalProperty(OpListener.Key, null)
        val checked = out.flatMap(o => Try((w.check(i, o),
          if (traced) w.layerMetrics(i, o) else Map.empty[String, Double])))
        val (err, layers) = checked match {
          case Success(r) => r
          case Failure(e) => (Some(s"${e.getClass.getName}: ${e.getMessage}"), Map.empty[String, Double])
        }
        err.foreach(m => System.err.println(s"[perfbench] op $i failed: $m"))
        OpRec(i, traced, warmup, (t1 - t0) / 1e6, (c1 - c0) / 1e6,
          (g1 - g0).toDouble, err, layers)
      }

      ops += runOp(0, traced = false)
      for (i <- 1 to w.warmupOps) ops += runOp(i, traced = false, warmup = true)
      val start = System.nanoTime()
      var i = w.warmupOps + 1
      // a traced run needs a traced and an untraced op for the overhead
      val minSteady = if (a.trace) 2 * MinSteadyOps else MinSteadyOps
      while ((System.nanoTime() - start) / 1e9 < a.seconds ||
             i <= w.warmupOps + minSteady) {
        ops += runOp(i, traced = a.trace && i % 2 == 1)
        i += 1
      }
    } finally {
      if (wl != null) { notes = wl.notes; Try(wl.close()) }
      if (spark != null) Try(stopSession(spark)) // drains the listener bus
    }

    val snap1 = Env.snap()
    val steady = ops.filter(o => o.i > 0 && !o.warmup && !o.traced)
    val failed = ops.count(_.error.nonEmpty)
    val endToEnd: Map[String, Double] = Map(
      "setup_s" -> median(setups.toSeq),
      "first_op_ms" -> ops.head.ms,
      "op_ms_p50" -> median(steady.map(_.ms).toSeq),
      "op_ms_p90" -> percentile(steady.map(_.ms).toSeq, 0.9),
      "peak_rss_mb" -> Env.peakRssMb())
    val layers = if (a.trace) perLayer(a, ops.toSeq, listener) else Map.empty[String, Double]

    val ctx = Env.ctx(snap0, snap1) ++ Map(
      "jvm_start_s" -> jvmStartS,
      "setup_s_each" -> setups.toSeq,
      "steady_ops" -> steady.size,
      "notes" -> notes,
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    a.records.mkdirs()
    if (a.trace) Trace.dump(new File(a.records, s"$tag.spans.jsonl"))
    writeRecord(new File(a.records, s"$tag.json"), ctx, endToEnd, layers, ops.toSeq)

    val metrics =
      if (a.trace) PerLayer.map(m => m -> layers.getOrElse(m, 0.0))
      else EndToEnd.map { case (m, _) => m -> endToEnd(m) }
    val units = EndToEnd.toMap
    println(Json.obj(Seq("ctx" -> ctx)))
    println(Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (m, v) =>
        m -> Map("value" -> v, "unit" -> units.getOrElse(m, unit(m)))
      }.toMap)))
    if (failed == 0) 0 else 1
  }

  /** Medians over the traced ops of every per-layer metric. */
  def perLayer(a: Args, ops: Seq[OpRec], l: OpListener): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val untraced = ops.filter(o => o.i > 0 && !o.warmup && !o.traced)
    val spans = Trace.all
    val self = Trace.selfNs(spans)
    val byOp = spans.groupBy(_.op)
    val perOp: Seq[Map[String, Double]] = traced.map { o =>
      val ss = byOp.getOrElse(o.i, Nil)
      val root = ss.find(_.parent < 0)
      val st = l.stats(o.i)
      // Spark job time inside the detection cycle: job intervals (epoch ms,
      // from the listener) clipped to the cycle span's wall window
      val cycles = ss.filter(_.name == "realtime.cycle")
      val cycleJobMs = cycles.map { c =>
        Trace.unionNs(st.jobIntervals.toSeq.flatMap { case (s, e) =>
          val (cs, ce) = (math.max(s, c.epochStartMs), math.min(e, c.epochEndMs))
          if (ce > cs) Some((cs, ce)) else None
        }).toDouble
      }.sum
      def spanMs(name: String) = ss.filter(_.name == name).map(_.durNs).sum / 1e6
      def spanCores(name: String) = {
        val m = ss.filter(_.name == name)
        val wall = m.map(_.durNs).sum
        if (wall == 0) 0.0 else m.map(_.cpuNs).sum.toDouble / wall
      }
      val fromSpans = Seq("stages.collect", "stages.preprocess", "stages.train",
        "stages.filter", "realtime.scrape").map(n => s"${n}_ms" -> spanMs(n)) ++
        Batch.Rows.flatMap(r => Seq(
          s"registry.${r}_ms" -> spanMs(s"registry.$r"),
          s"registry.${r}_eff_cores" -> spanCores(s"registry.$r"))) ++
        Seq("model.train_eff_cores" -> spanCores("stages.train"))
      val realtime =
        if (cycles.isEmpty) Nil
        else Seq("realtime.job_ms" -> cycleJobMs,
          "realtime.driver_gap_ms" -> (spanMs("realtime.cycle") - cycleJobMs))
      (fromSpans ++ realtime ++ Seq(
        "spark.jobs_per_op" -> st.jobs.toDouble,
        "spark.tasks" -> st.tasks.toDouble,
        "spark.task_cpu_ms" -> st.taskCpuNs / 1e6,
        "spark.shuffle_read_bytes" -> st.shuffleReadBytes.toDouble,
        "spark.shuffle_write_bytes" -> st.shuffleWriteBytes.toDouble,
        "spark.spill_bytes" -> st.spillBytes.toDouble,
        "spark.gc_ms" -> o.gcMs,
        "spark.failed_task_ratio" ->
          (if (st.tasks == 0) 0.0 else st.failedTasks.toDouble / st.tasks),
        "process.eff_cores" -> o.cpuMs / o.ms,
        "trace.op_wall_ms" -> root.fold(0.0)(_.durNs / 1e6),
        "trace.self_sum_ms" ->
          ss.filter(_.parent >= 0).map(s => self(s.id)).sum / 1e6,
        "trace.remainder_ms" -> root.fold(0.0)(r => self(r.id) / 1e6))).toMap ++
        o.layers
    }
    val keys = perOp.flatMap(_.keys).distinct
    keys.map(k => k -> median(perOp.map(_.getOrElse(k, 0.0)))).toMap ++ Map(
      "trace.overhead_ms" ->
        (median(traced.map(_.ms)) - median(untraced.map(_.ms))))
  }

  def writeRecord(f: File, ctx: Map[String, Any], e2e: Map[String, Double],
                  layers: Map[String, Double], ops: Seq[OpRec]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Json.obj(Seq(
      "ctx" -> ctx, "end_to_end" -> e2e, "per_layer" -> layers,
      "ops" -> ops.map(o => Map(
        "i" -> o.i, "traced" -> o.traced, "warmup" -> o.warmup, "ms" -> o.ms,
        "cpu_ms" -> o.cpuMs, "gc_ms" -> o.gcMs,
        "error" -> o.error.orNull, "layers" -> o.layers)))))
    finally w.close()
  }
}
