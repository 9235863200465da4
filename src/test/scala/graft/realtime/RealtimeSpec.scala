package graft.realtime

import graft.SparkSpec
import graft.config.GraftConfig
import graft.model.Lstm
import graft.operators.Scalers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RealtimeSpec extends SparkSpec {
  import spark.implicits._

  private val cfgYaml =
    """queries:
      |  m1: 'q1'
      |  m2: 'q2'
      |data_settings:
      |  step: "60"
      |training_settings:
      |  sequence_length: 5
      |real_time_anomaly_detection:
      |  anomaly_threshold_mse: 0.5
      |""".stripMargin
  private val cfg = GraftConfig.fromYaml(cfgYaml)

  /** Synthetic window: both metrics present at every step in [start, end). */
  private def fullWindow(start: Long, end: Long, step: Long): DataFrame = {
    val ts = (start until end by step).toSeq
    ts.flatMap(t => Seq(("m1", t, math.sin(t / 600.0) * 0.3 + 0.5),
                        ("m2", t, math.cos(t / 600.0) * 0.3 + 0.5)))
      .toDF("alias", "epoch", "value")
      .select($"alias", timestamp_seconds($"epoch").as("ts"), $"value")
  }

  private def mkDetector(exp: Exporter,
                         fetch: (Long, Long, Long) => DataFrame,
                         withModel: Boolean = true) = {
    val feats = cfg.featureColumns
    val scaler = Scalers.MinMaxScaler(feats,
      mins = Seq(0.0, 0.0, 0.0, 0.0), maxs = Seq(1.0, 1.0, 6.0, 23.0))
    new Detector(spark, cfg, exp,
      if (withModel) Some(scaler) else None,
      if (withModel) Some(Lstm.glorotInit(feats.size,
        units = Seq(8, 4, 4, 8), seed = 1L)) else None,
      fetch)
  }

  test("full cycle publishes mse, per-feature gauges, success timestamp") {
    val exp = new Exporter()
    val det = mkDetector(exp, fullWindow)
    val mse = det.runCycle(nowSec = 100000L)
    assert(mse.isDefined && mse.get >= 0.0)
    val text = exp.render()
    assert(text.contains("anomaly_detector_latest_reconstruction_error_mse"))
    assert(text.contains("""feature_reconstruction_error_mse{feature_name="m1"}"""))
    assert(text.contains("anomaly_detector_last_successful_run_timestamp_seconds 100000"))
  }

  test("cycle scores the window in time order (asymmetric series)") {
    // rising ramp and its square: reversing the window changes the score
    val ramp = (t: Long) => (t - 99540L) / 600.0
    val fetch = (s: Long, e: Long, st: Long) =>
      (s until e by st).flatMap(t => Seq(("m1", t, ramp(t)), ("m2", t, ramp(t) * ramp(t))))
        .toDF("alias", "epoch", "value")
        .select($"alias", timestamp_seconds($"epoch").as("ts"), $"value")
    val mse = mkDetector(new Exporter(), fetch).runCycle(nowSec = 100000L)
    // now = 100000 → end 99960, fetch [99540, 99960), tail(5) = 99660..99900;
    // scaled with mins 0 and maxs (1, 1, 6, 23)
    val ts = 99660L to 99900L by 60L
    def windowOf(order: Seq[Long]) =
      breeze.linalg.DenseMatrix.tabulate(5, 4) { (i, j) =>
        val t = java.time.LocalDateTime.ofEpochSecond(order(i), 0, java.time.ZoneOffset.UTC)
        j match {
          case 0 => ramp(order(i))
          case 1 => ramp(order(i)) * ramp(order(i))
          case 2 => (t.getDayOfWeek.getValue - 1) / 6.0
          case _ => t.getHour / 23.0
        }
      }
    val model = Lstm.glorotInit(4, units = Seq(8, 4, 4, 8), seed = 1L)
    def score(x: breeze.linalg.DenseMatrix[Double]) = Lstm.mse(x, Lstm.forward(model, x))
    val inOrder = score(windowOf(ts))
    val reversed = score(windowOf(ts.reverse))
    assert(math.abs(reversed - inOrder) > 1e-9 * inOrder, "series is not asymmetric")
    assert(mse.exists(m => math.abs(m - inOrder) <= 1e-12 * inOrder),
      s"cycle mse $mse, time-ordered $inOrder, newest-first $reversed")
  }

  test("ST6: short window skips the cycle but publishes the row count") {
    val exp = new Exporter()
    val det = mkDetector(exp,
      (s, e, st) => fullWindow(s, e, st).limit(3 * 2)) // 3 ts × 2 metrics < L=5
    assert(det.runCycle(100000L).isEmpty)
    assert(exp.render().contains("data_points_in_current_window 3"))
  }

  test("ST5: missing model publishes zero gauges, returns None") {
    val exp = new Exporter()
    val det = mkDetector(exp, fullWindow, withModel = false)
    assert(det.runCycle(100000L).isEmpty)
    assert(exp.render().contains("latest_reconstruction_error_mse 0"))
  }

  test("ST5: fetch failure degrades to mse gauge -1") {
    val exp = new Exporter()
    val det = mkDetector(exp, (_, _, _) => sys.error("prometheus down"))
    assert(det.runCycle(100000L).isEmpty)
    assert(exp.render().contains("latest_reconstruction_error_mse -1"))
  }

  test("ST5: fetch-health gauges name the query that broke the cycle (retry + failure counts)") {
    import graft.ingest.PromIngest
    val exp = new Exporter()
    val stats = new PromIngest.FetchStats(spark)
    // q2's endpoint is permanently down; q1 flaps once then serves a
    // valid (but empty-result) body — the cycle degrades (fail-closed
    // default rethrows q2's exhaustion), and the gauges attribute it
    graft.ingest.PromFlakyFixture.reset(failuresPerUrl = 1,
      body = """{"status":"success","data":{"resultType":"matrix","result":[]}}""",
      alwaysFailSubstring = Some("query=q2"))
    val fetch: (Long, Long, Long) => DataFrame = { (s, e, st) =>
      val chunks = cfg.queries.map { case (a, q) =>
        PromIngest.Chunk(a, q, s, e, st)
      }
      PromIngest.fetchChunks(spark, "http://example", chunks,
          fetch = graft.ingest.PromFlakyFixture.fetch,
          retry = PromIngest.RetryPolicy(maxAttempts = 2, sleep = _ => ()),
          stats = Some(stats))
        .select("alias", "ts", "value")
    }
    val scaler = Scalers.MinMaxScaler(cfg.featureColumns,
      mins = Seq(0.0, 0.0, 0.0, 0.0), maxs = Seq(1.0, 1.0, 6.0, 23.0))
    val det = new Detector(spark, cfg, exp, Some(scaler),
      Some(Lstm.glorotInit(cfg.featureColumns.size,
        units = Seq(8, 4, 4, 8), seed = 1L)),
      fetch, fetchStats = Some(stats))
    assert(det.runCycle(100000L).isEmpty) // degraded: q2 exhausted
    val text = exp.render()
    assert(text.contains("latest_reconstruction_error_mse -1")) // ST5 intact
    // the health series exist for BOTH queries and name the broken one
    assert(text.contains("""fetch_failures{feature_name="m2"} 1"""), text)
    assert(text.contains("""fetch_failures{feature_name="m1"} 0"""), text)
    assert(text.contains("""fetch_retries{feature_name="m2"} 1"""), text)
  }

  test("ST4: anomaly counter accumulates across cycles") {
    val exp = new Exporter()
    // constant zeros scale far from the sigmoid reconstruction -> high mse
    val flat = (s: Long, e: Long, st: Long) =>
      fullWindow(s, e, st).withColumn("value", lit(25.0))
    val det = mkDetector(exp, flat)
    det.runCycle(100000L)
    det.runCycle(100060L)
    assert(exp.counterValue(exp.TotalAnomalies) == 2.0)
    assert(exp.render().contains("total_anomalies_count_total 2"))
  }

  test("W6 window bounds: end floored to step, lookback (L+2)*step") {
    val exp = new Exporter()
    val det = mkDetector(exp, fullWindow)
    val (s, e) = det.windowBounds(100037L)
    assert(e == 100020L) // floored to 60s boundary
    assert(s == e - (5 + 2) * 60L)
  }

  test("S10 golden: the full /metrics render is byte-stable (six series, escaping, ordering)") {
    // All six reference series (realtime_detector.py:251-258), rendered in
    // the exporter's documented order: gauges sorted by name, then labeled
    // feature gauges sorted by feature name, then counters. One feature
    // name exercises label-value escaping (backslash + quote).
    val exp = new Exporter()
    exp.setGauge(exp.WindowPoints, 20.0)
    exp.setGauge(exp.IsAnomaly, 1.0)
    exp.setGauge(exp.LastSuccess, 1700000000.0)
    exp.setGauge(exp.LatestMse, 0.00125)
    exp.setFeatureGauge(exp.FeatureMse, "cpu", 0.5)
    exp.setFeatureGauge(exp.FeatureMse, "a\"b\\c", 0.25)
    exp.incCounter(exp.TotalAnomalies, 3)
    val golden =
      """# TYPE anomaly_detector_data_points_in_current_window gauge
        |anomaly_detector_data_points_in_current_window 20
        |# TYPE anomaly_detector_is_anomaly_detected gauge
        |anomaly_detector_is_anomaly_detected 1
        |# TYPE anomaly_detector_last_successful_run_timestamp_seconds gauge
        |anomaly_detector_last_successful_run_timestamp_seconds 1700000000
        |# TYPE anomaly_detector_latest_reconstruction_error_mse gauge
        |anomaly_detector_latest_reconstruction_error_mse 0.00125
        |# TYPE anomaly_detector_feature_reconstruction_error_mse gauge
        |anomaly_detector_feature_reconstruction_error_mse{feature_name="a\"b\\c"} 0.25
        |anomaly_detector_feature_reconstruction_error_mse{feature_name="cpu"} 0.5
        |# TYPE anomaly_detector_total_anomalies_count_total counter
        |anomaly_detector_total_anomalies_count_total 3
        |""".stripMargin
    assert(exp.render() == golden,
      s"render drifted:\n---got---\n${exp.render()}\n---want---\n$golden")
  }

  test("S10: exporter serves /metrics over HTTP in exposition format") {
    val exp = new Exporter()
    exp.setGauge(exp.LatestMse, 0.125)
    exp.incCounter(exp.TotalAnomalies, 3)
    val port = exp.start(0)
    try {
      val body = new String(
        new java.net.URI(s"http://localhost:$port/metrics").toURL
          .openStream().readAllBytes(), "UTF-8")
      assert(body.contains("# TYPE anomaly_detector_latest_reconstruction_error_mse gauge"))
      assert(body.contains("anomaly_detector_latest_reconstruction_error_mse 0.125"))
      assert(body.contains("anomaly_detector_total_anomalies_count_total 3"))
    } finally exp.stop()
  }
}
