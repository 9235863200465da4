package graft.realtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import breeze.linalg.DenseMatrix

import graft.config.GraftConfig
import graft.ingest.PromIngest
import graft.model.Lstm
import graft.operators.{Align, Fill, Scalers, Windows}

/** ST1–ST6: the realtime detection loop, re-expressing
  * `/root/reference/realtime_detector.py:142-398` as a testable cycle
  * function + a scheduled driver loop.
  *
  *  - ST1 trigger: fixed-interval loop (`:392-398`).
  *  - ST2 window: each cycle independently re-fetches the last
  *    (L+2)·step seconds — stateless, overlapping reads (`:146-153`).
  *  - ST3 step alignment + 2-step margin; inner alignment drops timestamps
  *    missing any metric; no watermarks (`:150-153,195`).
  *  - ST4 stateful anomaly counter lives in the exporter (`:328-329`).
  *  - ST5 degraded modes: missing model → gauges 0; scoring failure →
  *    mse gauge −1 (`:289-299,339-348`).
  *  - ST6 partial window: < L aligned rows → skip cycle, publish row count
  *    (`:199-215`).
  *
  * The data source is a pluggable `fetchWindow` function so tests (and the
  * batch backfill path) inject frames without a live Prometheus; the
  * HTTP implementation composes PromIngest.
  */
final class Detector(
    spark: SparkSession,
    cfg: GraftConfig,
    exporter: Exporter,
    scaler: Option[Scalers.Scaler],
    model: Option[Lstm.AeParams],
    fetchWindow: (Long, Long, Long) => DataFrame, // (startSec, endSec, stepSec) → long rows (alias, ts, value)
    fetchStats: Option[PromIngest.FetchStats] = None // ST5: per-query fetch-health gauges
) {

  private val L = cfg.training.sequenceLength
  private val step = cfg.data.stepSeconds
  private val aliases = cfg.queries.map(_._1)
  private val features = cfg.featureColumns

  /** W6: end = now floored to a step boundary; start = end − (L+2)·step
    * (`realtime_detector.py:146-153`). */
  def windowBounds(nowSec: Long): (Long, Long) = {
    val end = nowSec - (nowSec % step)
    (end - (L + 2) * step, end)
  }

  /** ST5 guard shared by both cycle entry points: true (and zeros
    * published) when model/scaler artifacts are missing. */
  private def missingArtifacts(): Boolean =
    if (model.isEmpty || scaler.isEmpty) {
      exporter.setGauge(exporter.LatestMse, 0.0)
      exporter.setGauge(exporter.IsAnomaly, 0.0)
      true
    } else false

  /** ST5: scoring failure → mse gauge −1 (realtime_detector.py:339-348).
    * A fetch exhaustion is additionally attributed to its query in the
    * health gauges (the dying task's accumulator updates were dropped —
    * see PromIngest.FetchExhaustedException). */
  private def degraded(e: Throwable): Option[Double] = {
    org.apache.log4j.Logger.getLogger(getClass)
      .warn(s"detection cycle failed: ${e.getMessage}")
    PromIngest.FetchExhaustedException.unwrap(e).foreach { f =>
      fetchStats.foreach(_.recordExhausted(f))
    }
    exporter.setGauge(exporter.LatestMse, -1.0)
    exporter.setGauge(exporter.IsAnomaly, 0.0)
    None
  }

  /** One detection cycle at time `nowSec`. Returns the published MSE
    * (None on skip/degraded). Synchronous and side-effect-free except for
    * exporter updates — directly testable. */
  def runCycle(nowSec: Long): Option[Double] = {
    // publish the health gauges on warm-up skips too: the series must
    // exist from cycle 1 even when artifacts are missing, or the zeros
    // rationale in publishFetchHealth doesn't hold for early deploys
    if (missingArtifacts()) { publishFetchHealth(); return None }
    try {
      val (startSec, endSec) = windowBounds(nowSec)
      // Persist the fetched window for the cycle: the lineage is consumed by
      // both the ST6 row-count guard and the scoring collect — without the
      // persist each action would re-run the HTTP fetch (2× Prometheus load)
      // and could score a different snapshot than the guard checked.
      val long = fetchWindow(startSec, endSec, step)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try scoreLong(long, nowSec) finally long.unpersist()
    } catch { case scala.util.control.NonFatal(e) => degraded(e) }
    finally publishFetchHealth() // also after degraded cycles — that is
                                 // exactly when the gauges matter
  }

  /** ST5 fetch-health gauges: per-query cumulative retry and exhausted-
    * fetch counts (labeled like the per-feature MSE family). Published
    * after EVERY cycle — including degraded ones, where a nonzero
    * `fetch_failures{feature_name=...}` names the query that broke the
    * cycle (the observability the reference's log-and-abort lacks). */
  private def publishFetchHealth(): Unit = fetchStats.foreach { st =>
    // publish zeros for healthy queries so the series exists from cycle 1
    // (a gauge appearing only on first failure breaks rate()/alerts)
    val r = st.retriesByQuery
    val f = st.failuresByQuery
    aliases.foreach { a =>
      exporter.setFeatureGauge(exporter.FetchRetries, a,
        r.getOrElse(a, 0L).toDouble)
      exporter.setFeatureGauge(exporter.FetchFailures, a,
        f.getOrElse(a, 0L).toDouble)
    }
  }

  /** Align → guard → tail(L) → fill → scale → score → export: the cycle
    * body both the fetching and the source-fed entry points share. */
  private def scoreLong(long: DataFrame, nowSec: Long): Option[Double] = {
    // J2 inner alignment: keep only timestamps present for every metric;
    // broadcast-trivial at window size ≤ L+2 rows.
    val wide = Align.pivotAlignInner(long, "ts", "alias", "value", aliases,
      agg = Some(c => first(c, ignoreNulls = true)))
    val withCal = PromIngest.withCalendar(wide, "ts")
    // P5: re-impose the training column order (positional contract).
    val ordered = withCal.select(("ts" +: features).map(col): _*)
    val n = ordered.count()
    exporter.setGauge(exporter.WindowPoints, n.toDouble)
    if (n < L) return None // ST6: partial window → skip cycle
    // W5 tail(L), W1 fallback fill, M5 frozen transform
    val tail = Windows.tail(ordered, Seq("ts"), L)
    val filled = Fill.ffillBfill(tail, "ts", features)
    val scaled = scaler.get.transform(filled.select(
      col("ts") +: features.map(c => col(c).cast("double").as(c)): _*))
    // the fill's descending analytic window leaves the rows newest-first;
    // the ≤ L rows are put back in time order here, not by another job
    val rows = scaled.collect().sortBy(_.getTimestamp(0).getTime)
    if (rows.length < L) return None
    val x = DenseMatrix.tabulate(L, features.size) { (i, j) =>
      val v = rows(i).get(j + 1)
      if (v == null) 0.0 else v.asInstanceOf[Double]
    }
    // M4 single-window inference + A6/A8 scoring
    val xhat = Lstm.forward(model.get, x)
    val mse = Lstm.mse(x, xhat)
    val perFeature = Lstm.perFeatureMse(x, xhat)
    val isAnomaly = mse > cfg.realtime.anomalyThresholdMse // P8
    exporter.setGauge(exporter.LatestMse, mse)
    exporter.setGauge(exporter.IsAnomaly, if (isAnomaly) 1.0 else 0.0)
    if (isAnomaly) exporter.incCounter(exporter.TotalAnomalies) // ST4/A10
    features.zip(perFeature).foreach { case (f, m) =>
      exporter.setFeatureGauge(exporter.FeatureMse, f, m)
    }
    exporter.setGauge(exporter.LastSuccess, nowSec.toDouble)
    Some(mse)
  }

  // Trailing long-row buffer for source-fed cycles: bounded by
  // aliases × (L+2) steps — driver-sized by construction.
  private val trailing =
    scala.collection.mutable.ArrayBuffer[(String, java.sql.Timestamp, Any)]()

  /** ST1/ST2 fed by the DSv2 streaming source: accumulate one micro-batch
    * of long rows (alias, ts, value) into the trailing (L+2)-step window
    * and run one scoring cycle over it. Replaces the clock + per-cycle
    * re-fetch with the source's own offset tracking — each sample is
    * fetched ONCE (the reference re-fetches overlapping windows every 30 s;
    * this is the incremental upgrade the DSv2 stream enables). The
    * micro-batch collect is one poll interval of rows — driver-sized. */
  def runCycleFromBatch(batch: DataFrame): Option[Double] = {
    if (missingArtifacts()) { publishFetchHealth(); return None }
    try {
      val added = batch.select(col("alias"), col("ts"), col("value")).collect()
      // idle tick: an empty micro-batch (offsets advanced, no samples)
      // leaves the trailing state — and therefore the score — unchanged;
      // re-running the scoring jobs would only republish the same gauges.
      // The clockwork path (runCycle) re-fetches by design; the source-fed
      // path is event-driven, so no data = no cycle (health still
      // publishes via the finally).
      if (added.isEmpty) return None
      added.foreach { r =>
        trailing += ((r.getString(0), r.getTimestamp(1),
          if (r.isNullAt(2)) null else r.getDouble(2)))
      }
      if (trailing.isEmpty) return None
      val maxSec = trailing.iterator.map(_._2.getTime / 1000).max
      val horizon = maxSec - (L + 2).toLong * step
      val kept = trailing.filter(_._2.getTime / 1000 > horizon).toVector
      trailing.clear()
      trailing ++= kept
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("alias",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val window = spark.createDataFrame(
        spark.sparkContext.parallelize(
          kept.map { case (a, t, v) => org.apache.spark.sql.Row(a, t, v) }, 1),
        schema)
      scoreLong(window, maxSec + step)
    } catch { case scala.util.control.NonFatal(e) => degraded(e) }
    finally publishFetchHealth() // no-op without fetchStats; keeps the
                                 // source-fed path's gauge contract equal
                                 // to runCycle's
  }

  /** Test-visible size of the trailing source-fed buffer — the DSv2 soak's
    * boundedness assert: [[runCycleFromBatch]] trims to the (L+2)-step
    * horizon on every data-carrying batch, so this must stay
    * O(#queries · L) regardless of how many micro-batches have run. */
  private[graft] def trailingSize: Int = trailing.size

  /** ST1: the 30 s polling loop (`realtime_detector.py:392-398`). Runs
    * `cycles` iterations (negative = forever); interruptible. */
  def runLoop(cycles: Int = -1): Unit = {
    var i = 0
    while (cycles < 0 || i < cycles) {
      runCycle(System.currentTimeMillis() / 1000)
      i += 1
      if (cycles < 0 || i < cycles)
        Thread.sleep(cfg.realtime.queryIntervalSeconds * 1000L)
    }
  }
}

object Detector {

  /** HTTP-backed window fetch composing PromIngest (the production path).
    * `stats` wires the per-query fetch-health gauges; retry posture is the
    * fail-closed default (exhaustion → degraded cycle, ST5). */
  def prometheusFetch(spark: SparkSession, cfg: GraftConfig,
                      stats: Option[PromIngest.FetchStats] = None,
                      retry: PromIngest.RetryPolicy = PromIngest.RetryPolicy())
      : (Long, Long, Long) => DataFrame = { (start, end, step) =>
    val chunks = cfg.queries.map { case (alias, q) =>
      PromIngest.Chunk(alias, q, start, end, step)
    }
    PromIngest.fetchChunks(spark, cfg.prometheusUrl, chunks, cacheDir = None,
        retry = retry, stats = stats)
      .select("alias", "ts", "value")
  }
}
