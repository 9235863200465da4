package graft.realtime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType, TimestampType}
import breeze.linalg.DenseMatrix
import scala.jdk.CollectionConverters._

import graft.config.GraftConfig
import graft.ingest.PromIngest
import graft.model.Lstm
import graft.operators.Scalers

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
  * HTTP implementation, [[Detector.prometheusFetch]], fetches and decodes
  * on the driver and returns a local relation.
  *
  * A cycle handles at most Q × (L+2) samples, so its body runs on driver
  * arrays: the one action is the `collect` of the fetched frame (no Spark
  * job at all for a local relation), then inner align → ST6 guard →
  * tail(L) → calendar columns in the session time zone → frozen scale →
  * LSTM score. Each step reproduces the DataFrame plan it replaces
  * (`pivotAlignInner` with keep-first-non-null → `withCalendar` →
  * `Windows.tail` → `Scaler.transform`) bit for bit; the test-scope
  * `DetectorReference` keeps that plan as the parity oracle.
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
    * health gauges, here and only here: neither fetch path counts its own
    * exhausted URL (a dying task's accumulator updates are dropped — see
    * PromIngest.FetchExhaustedException and PromIngest.fetchOnDriver). */
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
      // the cycle's only action: guard and score read the same snapshot
      val rows = fetchWindow(startSec, endSec, step)
        .select("alias", "ts", "value").collect()
      scoreSamples(rows.iterator.map { r =>
        (r.getString(0),
         if (r.isNullAt(1)) null else DateTimeUtils.fromJavaTimestamp(r.getTimestamp(1)),
         r.get(2))
      }, nowSec)
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

  /** Align → guard → tail(L) → calendar → scale → score → export: the
    * cycle body both the fetching and the source-fed entry points share.
    * `samples` are long rows (alias, ts in epoch µs or null, value). */
  private def scoreSamples(samples: Iterator[(String, java.lang.Long, Any)],
                           nowSec: Long): Option[Double] = {
    val q = aliases.size
    val slotOf = aliases.zipWithIndex.toMap
    // J2 inner alignment: the first non-null value per (ts, alias) — NaN
    // counts as a value here — then only the timestamps where every alias
    // holds a non-NaN value survive (pivot + first(ignoreNulls) + na.drop)
    val byTs = new java.util.HashMap[java.lang.Long, Array[java.lang.Double]]()
    samples.foreach { case (alias, ts, v) =>
      slotOf.get(alias).foreach { j =>
        val slot = byTs.computeIfAbsent(ts, _ => new Array[java.lang.Double](q))
        if (slot(j) == null && v != null)
          slot(j) = v.asInstanceOf[Number].doubleValue
      }
    }
    val aligned = byTs.asScala
      .filter(_._2.forall(v => v != null && !v.isNaN)).keys.toSeq
    exporter.setGauge(exporter.WindowPoints, aligned.size.toDouble)
    if (aligned.size < L) return None // ST6: partial window → skip cycle
    // W5 tail(L) in time order: the newest L rows (a null ts sorts last,
    // so it lands in the tail only when fewer than L rows carry a time)
    val timed = aligned.filter(_ != null).map(_.longValue).sorted
    if (timed.size < L)
      throw new IllegalStateException("a sample without a timestamp fell in the scored window")
    val tail = timed.takeRight(L)
    // P4 calendar columns in the session time zone, P5 positional order
    val zone = DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
    val x = DenseMatrix.zeros[Double](L, features.size)
    tail.zipWithIndex.foreach { case (ts, i) =>
      val vs = byTs.get(ts)
      (0 until q).foreach(j => x(i, j) = vs(j).doubleValue)
      x(i, q) = DateTimeUtils.getWeekDay(DateTimeUtils.microsToDays(ts, zone)).toDouble
      x(i, q + 1) = DateTimeUtils.getHours(ts, zone).toDouble
    }
    // M5 frozen transform, column by column in the scaler's own order
    val sc = scaler.get
    sc.cols.zipWithIndex.foreach { case (c, k) =>
      val j = features.indexOf(c)
      require(j >= 0, s"scaler column '$c' is not a feature column")
      (0 until L).foreach(i => x(i, j) = sc.transformValue(k, x(i, j)))
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

  // Trailing long-row buffer (alias, ts in epoch µs, value) for source-fed
  // cycles: bounded by aliases × (L+2) steps — driver-sized by construction.
  private val trailing =
    scala.collection.mutable.ArrayBuffer[(String, java.lang.Long, Any)]()

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
      val added = batch.select("alias", "ts", "value").collect()
      // idle tick: an empty micro-batch (offsets advanced, no samples)
      // leaves the trailing state — and therefore the score — unchanged;
      // re-scoring it would only republish the same gauges.
      // The clockwork path (runCycle) re-fetches by design; the source-fed
      // path is event-driven, so no data = no cycle (health still
      // publishes via the finally).
      if (added.isEmpty) return None
      added.foreach { r =>
        trailing += ((r.getString(0),
          if (r.isNullAt(1)) null else DateTimeUtils.fromJavaTimestamp(r.getTimestamp(1)),
          if (r.isNullAt(2)) null else r.getDouble(2)))
      }
      if (trailing.isEmpty) return None
      def sec(us: java.lang.Long): Long = Math.floorDiv(us.longValue, 1000000L)
      val maxSec = trailing.iterator.map(t => sec(t._2)).max
      val horizon = maxSec - (L + 2).toLong * step
      val kept = trailing.filter(t => sec(t._2) > horizon).toVector
      trailing.clear()
      trailing ++= kept
      scoreSamples(kept.iterator, maxSec + step)
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

  /** Long-row schema of a fetched window. */
  private val windowSchema = StructType(Seq(
    StructField("alias", StringType, nullable = false),
    StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  /** HTTP-backed window fetch (the production path). Each query's single
    * `query_range` URL is fetched and decoded ON THE DRIVER
    * ([[PromIngest.fetchOnDriver]], [[PromIngest.decodeBody]]) and the
    * samples come back as a local relation, so the cycle's collect starts
    * no Spark job. `stats` wires the per-query fetch-health gauges; retry
    * posture is the fail-closed default: the first exhausted query aborts
    * the fetch and the cycle degrades (ST5). `fetch` is the transport. */
  def prometheusFetch(spark: SparkSession, cfg: GraftConfig,
                      stats: Option[PromIngest.FetchStats] = None,
                      retry: PromIngest.RetryPolicy = PromIngest.RetryPolicy(),
                      fetch: String => String = PromIngest.httpFetch)
      : (Long, Long, Long) => DataFrame = { (start, end, step) =>
    val rows = new java.util.ArrayList[Row]()
    cfg.queries.foreach { case (alias, q) =>
      val url = PromIngest.chunkUrl(cfg.prometheusUrl,
        PromIngest.Chunk(alias, q, start, end, step))
      val body = PromIngest.fetchOnDriver(alias, url, fetch, retry, stats)
      PromIngest.decodeBody(body).foreach { case (ts, v) => rows.add(Row(alias, ts, v)) }
    }
    spark.createDataFrame(rows, windowSchema)
  }
}
