package perfbench

import java.io.File
import java.time.{LocalDateTime, ZoneOffset}
import java.util.concurrent.atomic.AtomicLong

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Pipeline, SparkEntry, Stages}
import graft.config.GraftConfig
import graft.ingest.PromIngest
import graft.model.Lstm
import graft.operators.Scalers
import graft.realtime.{Detector, Exporter}

/** One workload after set-up. [[op]] is the timed operation; [[check]]
  * verifies its output untimed and returns what is wrong with it, if
  * anything. */
trait Workload {
  type Out
  /** Ops run (and checked) after the cold op but left out of the steady
    * statistics, for workloads whose short ops are still JIT-warming. */
  def warmupOps: Int = 0
  /** Untimed preparation before op `i` (cold caches, cleared state). */
  def prepare(i: Int): Unit = ()
  def op(i: Int, traced: Boolean): Out
  def check(i: Int, out: Out): Option[String]
  /** Layer metrics of a traced op that spans alone cannot give. */
  def layerMetrics(i: Int, out: Out): Map[String, Double] = Map.empty
  def close(): Unit = ()
  /** Facts about the run for the record's ctx. */
  def notes: Map[String, Any] = Map.empty
}

object Workloads {
  val Names = Seq("batch", "retrain_detect")

  def setup(name: String, spark: SparkSession, seed: Long, work: File): Workload =
    name match {
      case "batch"          => new Batch(spark, seed, work)
      case "retrain_detect" => new RetrainDetect(spark, seed, work)
    }

  /** Count and summed wall time of the HTTP fetches made inside Spark tasks
    * by the traced ops' `httpFetch` wrapper (tasks run in this JVM under
    * local mode, so JVM-static counters see them). */
  object FetchCounter {
    val requests = new AtomicLong
    val nanos = new AtomicLong
    def reset(): Unit = { requests.set(0); nanos.set(0) }
    val wrapped: String => String = { url =>
      val t = System.nanoTime()
      try PromIngest.httpFetch(url)
      finally {
        nanos.addAndGet(System.nanoTime() - t)
        requests.incrementAndGet()
      }
    }
  }

  def fetchFor(traced: Boolean): String => String =
    if (traced) FetchCounter.wrapped else PromIngest.httpFetch

  /** 8 aliases at a 60 s step. */
  def promConfig(url: String, artifacts: File, dataExtra: String = "",
                 extra: String = ""): GraftConfig =
    GraftConfig.fromYaml(
      s"""prometheus_url: "$url"
         |artifacts_dir: "${artifacts.getPath}"
         |queries:
         |${(0 until 8).map(k => s"  m$k: perfbench_series_$k").mkString("\n")}
         |data_settings:
         |  step: 60s
         |  cache_chunk_hours: 1
         |$dataExtra
         |real_time_anomaly_detection:
         |  query_interval_seconds: 0
         |$extra
         |""".stripMargin)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f) else Nil
}

/** SparkEntry's two batch surfaces over one set of seeded tables: the
  * flagship pipeline (scoring history) and the hot registry rows. */
final class Batch(spark: SparkSession, seed: Long, work: File) extends Workload {
  type Out = (Seq[(Boolean, Long)], Seq[(String, Long, Long)], Map[String, Double])
  private val dir = new File(work, "data").getPath
  // ≈ 1,100 distinct event minutes ⇒ ≈ 1,100 flagship windows of 20 × 5
  private val minutes = Inputs.writeEvents(spark, dir, seed, n = 2000,
    minutes = 1440)
  Inputs.writeDocuments(spark, dir, seed, n = 300)
  Inputs.writeEmbeddings(spark, dir, seed, n = 300)
  val windows: Long = minutes - Pipeline.SeqLen + 1
  private val queries = SparkEntry.queries
  private var first: Option[Out] = None

  // op 2 of the JVM is still compiling the scorer and the rows' plans
  override def warmupOps: Int = 1

  override def prepare(i: Int): Unit = spark.catalog.clearCache()

  def op(i: Int, traced: Boolean): Out = {
    val (flagship, ladder) =
      if (traced) flagshipLadder()
      else (stats(Pipeline.flagship(spark, dir)), Map.empty[String, Double])
    val rows = Batch.Rows.map { row =>
      Trace.span(s"registry.$row") {
        val (n, h) = Batch.materialize(queries(row)(spark, dir))
        (row, n, h)
      }
    }
    (flagship, rows, ladder)
  }

  private def stats(df: DataFrame): Seq[(Boolean, Long)] =
    df.collect().map(r => (r.getBoolean(0), r.getLong(1))).toSeq.sortBy(_._1)

  /** The prefix ladder: each prefix materialized to the noop sink, so a
    * stage's cost is its prefix minus the previous one, with shuffle reuse
    * and codegen fusion included. The last prefix is the flagship itself. */
  private def flagshipLadder(): (Seq[(Boolean, Long)], Map[String, Double]) = {
    val ms = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var out: Seq[(Boolean, Long)] = Nil
    Pipeline.flagshipPrefixes(spark, dir).foreach { case (stage, thunk) =>
      val t = System.nanoTime()
      Trace.span(s"pipeline.prefix.$stage") {
        if (stage == "score_stats") out = stats(thunk())
        else thunk().write.format("noop").mode("overwrite").save()
      }
      ms(stage) = (System.nanoTime() - t) / 1e6
    }
    val score = ms("score_stats") - ms("window")
    (out, Map(
      "pipeline.minute_agg_ms" -> ms("minute_agg"),
      "operators.fill_ms" -> (ms("fill") - ms("minute_agg")),
      "operators.align_ms" -> (ms("align") - ms("fill")),
      "operators.scale_ms" -> (ms("scale") - ms("align")),
      "operators.window_ms" -> (ms("window") - ms("scale")),
      "model.score_ms" -> score,
      "model.score_us_per_window" -> score * 1000.0 / windows))
  }

  def check(i: Int, out: Out): Option[String] = {
    val total = out._1.map(_._2).sum
    if (total != windows) Some(s"flagship stats count $total != $windows windows")
    else out._2.find(_._2 <= 0) match {
      case Some((row, _, _)) => Some(s"$row returned no rows")
      case None => first match {
        case None => first = Some(out); None
        case Some(f) if f._1 != out._1 => Some(s"flagship stats ${out._1} != first op's ${f._1}")
        case Some(f) => out._2.zip(f._2).collectFirst { case (a, b) if a != b =>
          s"${a._1}: (rows, hash) ${(a._2, a._3)} != first op's ${(b._2, b._3)}" }
      }
    }
  }

  override def layerMetrics(i: Int, out: Out): Map[String, Double] = out._3
}

object Batch {
  /** One row or more per family: dedup, sim, text, Rates. */
  val Rows = Seq("q_neardup_clusters_dist", "q_simhash_pairs", "q_bpe_encode",
    "q_ewma", "q_quantile_ot")

  /** Run the full physical plan (no column pruning, as with the noop sink)
    * and fold every output row into (count, order-independent hash). */
  def materialize(df: DataFrame): (Long, Long) =
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += r.hashCode.toLong * 0x9E3779B97F4A7C15L }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
}

/** Retrain and redeploy: collect from the loopback Prometheus with a cold
  * chunk cache → preprocess → train on the driver (fixed epochs) → filter,
  * then load the new model and scaler into a Detector and run one detection
  * cycle (`runCycle` through `Detector.prometheusFetch`) followed by one GET
  * of the exporter's `/metrics`. */
final class RetrainDetect(spark: SparkSession, seed: Long, work: File) extends Workload {
  import RetrainDetect.Cycle
  type Out = (graft.model.Training.TrainResult, Cycle)
  private val Hours = 2
  private val Epochs = 2
  private val prom = new FakeProm(seed, Runtime.getRuntime.availableProcessors)
  private val artifacts = new File(work, "artifacts")
  private val start = LocalDateTime.ofEpochSecond(Inputs.T0, 0, ZoneOffset.UTC)
  private val cfg = Workloads.promConfig(prom.url, artifacts,
    dataExtra =
      s"""  collection_periods_iso:
         |    - start: "$start"
         |      end: "${start.plusHours(Hours)}"""".stripMargin,
    extra =
      s"""training_settings:
         |  epochs: $Epochs
         |  batch_size: 64
         |  early_stopping_patience: ${Epochs + 1}""".stripMargin)
  private val L = cfg.training.sequenceLength
  private val step = cfg.data.stepSeconds
  private val features = cfg.featureColumns
  // one row per step in [start, end], chunk edges deduplicated
  private val windows = Hours * 3600L / step + 1 - L + 1
  private val exporter = new Exporter(cfg.realtime.metricsPrefix)
  private val port = exporter.start(0)
  private val http = java.net.http.HttpClient.newHttpClient()
  private val metricsReq = java.net.http.HttpRequest.newBuilder(
    java.net.URI.create(s"http://127.0.0.1:$port/metrics")).GET().build()

  // op 2 of the JVM is still compiling the training and planning code
  override def warmupOps: Int = 1

  override def prepare(i: Int): Unit = {
    Workloads.deleteTree(artifacts)
    Workloads.FetchCounter.reset()
  }

  /** Untraced cycles fetch through the production path; traced cycles
    * replay it with the timing wrapper around httpFetch. */
  private def fetchWindow(traced: Boolean): (Long, Long, Long) => DataFrame =
    if (!traced) Detector.prometheusFetch(spark, cfg)
    else { (s, e, st) =>
      val chunks = cfg.queries.map { case (a, q) => PromIngest.Chunk(a, q, s, e, st) }
      PromIngest.fetchChunks(spark, cfg.prometheusUrl, chunks,
        fetch = Workloads.FetchCounter.wrapped).select("alias", "ts", "value")
    }

  private def artifact(name: String): String = new File(artifacts, name).getPath

  def op(i: Int, traced: Boolean): Out = {
    Trace.span("stages.collect")(Stages.collect(spark, cfg, Workloads.fetchFor(traced)))
    Trace.span("stages.preprocess")(Stages.preprocess(spark, cfg))
    val r = Trace.span("stages.train")(Stages.train(spark, cfg))
    Trace.span("stages.filter")(Stages.filterAnomalies(spark, cfg).unpersist())
    val scaler = Scalers.load(artifact(cfg.preprocessing.scalerOutputFilename))
      .asInstanceOf[Scalers.MinMaxScaler]
    val model = Lstm.load(artifact(cfg.training.modelOutputFilename))
    val detector = new Detector(spark, cfg, exporter, Some(scaler), Some(model),
      fetchWindow(traced))
    val now = Inputs.T0 + Hours * 3600L + i * step
    val mse = Trace.span("realtime.cycle")(detector.runCycle(now))
    val body = Trace.span("realtime.scrape") {
      http.send(metricsReq, java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    }
    (r, Cycle(now, mse, body, scaler, model))
  }

  private def calendar(ts: Long): (Double, Double) = {
    val t = LocalDateTime.ofEpochSecond(ts, 0, ZoneOffset.UTC)
    ((t.getDayOfWeek.getValue - 1).toDouble, t.getHour.toDouble)
  }

  /** The window the detector must have scored, rebuilt from the generator:
    * the last L step-aligned timestamps up to `now`, calendar columns,
    * min-max scaled with the deployed parameters, fed in time order or,
    * with `newestFirst`, reversed. */
  private def expectedMse(c: Cycle, newestFirst: Boolean): Double = {
    val end = c.now - c.now % step
    val ts = (end - (L - 1) * step) to end by step
    val ordered = if (newestFirst) ts.reverse else ts
    val x = DenseMatrix.tabulate(L, features.size) { (i, j) =>
      val (dow, hod) = calendar(ordered(i))
      val v = if (j < 8) Inputs.sample(seed, j, ordered(i)) else if (j == 8) dow else hod
      val range = c.scaler.maxs(j) - c.scaler.mins(j)
      (v - c.scaler.mins(j)) / (if (range == 0.0) 1.0 else range)
    }
    Lstm.mse(x, Lstm.forward(c.model, x))
  }

  /** Cycles whose score matched the newest-first window. Today's Detector
    * collects the window after Fill.ffillBfill's descending analytic window
    * without re-sorting it, so it scores the window in reverse time order.
    * Both orders are checked exactly; which one matched is reported. */
  private val newestFirst = new AtomicLong

  private def count(name: String): Long = spark.read.parquet(artifact(name)).count()

  def check(i: Int, out: Out): Option[String] = {
    val (r, c) = out
    val losses = r.history.flatMap { case (a, b) => Seq(a, b) }
    val (normal, anomalous, all) = (count("normal_sequences.parquet"),
      count("anomalous_sequences.parquet"), count("all_sequence_errors.parquet"))
    def close(want: Double) = c.mse.exists(m => math.abs(m - want) <= 1e-12 * math.abs(want))
    val inOrder = close(expectedMse(c, newestFirst = false))
    val reversed = !inOrder && close(expectedMse(c, newestFirst = true))
    if (reversed) newestFirst.incrementAndGet()
    if (r.history.size != Epochs) Some(s"${r.history.size} epochs, want $Epochs")
    else if (!losses.forall(l => java.lang.Double.isFinite(l))) Some(s"non-finite loss in $losses")
    else if (all != windows) Some(s"$all scored windows, want $windows")
    else if (normal + anomalous != all) Some(s"normal $normal + anomalous $anomalous != $all")
    else if (c.mse.isEmpty) Some("detection cycle returned no score")
    else if (!inOrder && !reversed)
      Some(s"cycle mse ${c.mse.get} matches neither order of the generator's window")
    else if (!c.body.contains(s"latest_reconstruction_error_mse ${c.mse.get}\n"))
      Some("/metrics does not publish the cycle's mse")
    else None
  }

  override def layerMetrics(i: Int, out: Out): Map[String, Double] = {
    val written = Workloads.files(artifacts).filterNot(_.getName.startsWith("."))
    Map(
      "stages.files_written" -> written.size.toDouble,
      "stages.bytes_written" -> written.map(_.length).sum.toDouble,
      "model.windows_per_epoch" ->
        (windows * cfg.training.trainSplitRatio).toInt.toDouble,
      "ingest.http_fetch_ms" -> Workloads.FetchCounter.nanos.get / 1e6,
      "ingest.fetch_requests" -> Workloads.FetchCounter.requests.get.toDouble)
  }

  override def notes: Map[String, Any] = Map(
    "realtime_newest_first_windows" -> newestFirst.get)

  override def close(): Unit = { exporter.stop(); prom.stop() }
}

object RetrainDetect {
  /** What one detection cycle left behind, with the artifacts it ran on. */
  final case class Cycle(now: Long, mse: Option[Double], body: String,
                         scaler: Scalers.MinMaxScaler, model: Lstm.AeParams)
}
