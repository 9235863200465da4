package graft.realtime

import graft.SparkSpec
import graft.config.GraftConfig
import graft.ingest.PromIngest
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

  // ST5 fetch health through both fetch paths: the executor-side
  // fetchChunks job (unsuffixed name) and the driver-side prometheusFetch
  private val healthFetches
      : Seq[(String, PromIngest.FetchStats => (Long, Long, Long) => DataFrame)] = Seq(
    "" -> { stats => (s, e, st) =>
      val chunks = cfg.queries.map { case (a, q) => PromIngest.Chunk(a, q, s, e, st) }
      PromIngest.fetchChunks(spark, "http://example", chunks,
          fetch = graft.ingest.PromFlakyFixture.fetch,
          retry = PromIngest.RetryPolicy(maxAttempts = 2, sleep = _ => ()),
          stats = Some(stats))
        .select("alias", "ts", "value")
    },
    " via prometheusFetch" -> { stats =>
      Detector.prometheusFetch(spark, cfg, Some(stats),
        PromIngest.RetryPolicy(maxAttempts = 2, sleep = _ => ()),
        fetch = graft.ingest.PromFlakyFixture.fetch)
    })

  for ((name, mkFetch) <- healthFetches)
  test(s"ST5: fetch-health gauges name the query that broke the cycle (retry + failure counts)$name") {
    val exp = new Exporter()
    val stats = new PromIngest.FetchStats(spark)
    // q2's endpoint is permanently down; q1 flaps once then serves a
    // valid (but empty-result) body — the cycle degrades (fail-closed
    // default rethrows q2's exhaustion), and the gauges attribute it
    graft.ingest.PromFlakyFixture.reset(failuresPerUrl = 1,
      body = """{"status":"success","data":{"resultType":"matrix","result":[]}}""",
      alwaysFailSubstring = Some("query=q2"))
    val scaler = Scalers.MinMaxScaler(cfg.featureColumns,
      mins = Seq(0.0, 0.0, 0.0, 0.0), maxs = Seq(1.0, 1.0, 6.0, 23.0))
    val det = new Detector(spark, cfg, exp, Some(scaler),
      Some(Lstm.glorotInit(cfg.featureColumns.size,
        units = Seq(8, 4, 4, 8), seed = 1L)),
      mkFetch(stats), fetchStats = Some(stats))
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

  // --- parity with the DataFrame cycle (DetectorReference) ---

  private val scaler4 = Scalers.MinMaxScaler(cfg.featureColumns,
    mins = Seq(0.0, 0.0, 0.0, 0.0), maxs = Seq(1.0, 1.0, 6.0, 23.0))
  private val model4 = Lstm.glorotInit(4, units = Seq(8, 4, 4, 8), seed = 1L)

  /** Run the same cycles through Detector and DetectorReference; the
    * scores and the whole `/metrics` render must be equal, byte for byte. */
  private def assertCycleParity(fetch: (Long, Long, Long) => DataFrame,
                                refFetch: (Long, Long, Long) => DataFrame,
                                nows: Seq[Long] = Seq(100000L),
                                withModel: Boolean = true): String = {
    val (exp, refExp) = (new Exporter(), new Exporter())
    val (sc, m) = if (withModel) (Some(scaler4), Some(model4)) else (None, None)
    val det = new Detector(spark, cfg, exp, sc, m, fetch)
    val ref = new DetectorReference(spark, cfg, refExp, sc, m, refFetch)
    nows.foreach { now =>
      val got = det.runCycle(now).map(java.lang.Double.doubleToRawLongBits)
      val want = ref.runCycle(now).map(java.lang.Double.doubleToRawLongBits)
      assert(got == want, s"cycle at $now")
    }
    assert(exp.render() == refExp.render(),
      s"---detector---\n${exp.render()}---reference---\n${refExp.render()}")
    exp.render()
  }

  private def frameParity(fetch: (Long, Long, Long) => DataFrame,
                          nows: Seq[Long] = Seq(100000L),
                          withModel: Boolean = true): String =
    assertCycleParity(fetch, fetch, nows, withModel)

  test("cycle parity with the DataFrame reference on the RealtimeSpec fixtures") {
    val ramp = (s: Long, e: Long, st: Long) =>
      (s until e by st).flatMap(t => Seq(("m1", t, (t - 99540L) / 600.0),
          ("m2", t, math.pow((t - 99540L) / 600.0, 2))))
        .toDF("alias", "epoch", "value")
        .select($"alias", timestamp_seconds($"epoch").as("ts"), $"value")
    assert(frameParity(fullWindow).contains("last_successful_run_timestamp_seconds 100000"))
    frameParity(ramp)
    assert(frameParity((s, e, st) => fullWindow(s, e, st).limit(3 * 2))
      .contains("data_points_in_current_window 3"))
    frameParity(fullWindow, withModel = false)
    frameParity((_, _, _) => sys.error("prometheus down"))
    assert(frameParity((s, e, st) => fullWindow(s, e, st).withColumn("value", lit(25.0)),
      nows = Seq(100000L, 100060L)).contains("total_anomalies_count_total 2"))
    // a sample for an alias outside the config is ignored by both
    frameParity((s, e, st) => fullWindow(s, e, st)
      .union(fullWindow(s, e, st).withColumn("alias", lit("m9"))))
  }

  /** Bodies served per query for the decode traps; `q1`/`q2` map to the
    * config's aliases m1/m2. */
  private def promParity(q1: String, q2: String): String = {
    PromBodiesFixture.set(Map("q1" -> q1, "q2" -> q2))
    val refFetch: (Long, Long, Long) => DataFrame = { (s, e, st) =>
      // the fetch the DataFrame cycle used: one fetchChunks job + from_json
      val chunks = cfg.queries.map { case (a, q) => PromIngest.Chunk(a, q, s, e, st) }
      PromIngest.fetchChunks(spark, cfg.prometheusUrl, chunks,
        fetch = PromBodiesFixture.fetch).select("alias", "ts", "value")
    }
    assertCycleParity(Detector.prometheusFetch(spark, cfg,
      fetch = PromBodiesFixture.fetch), refFetch)
  }

  private def body(pairs: Seq[(String, String)]): String =
    PromBodiesFixture.series(pairs.map { case (t, v) => s"[$t,$v]" })
  private def steps(from: BigDecimal, n: Int, value: Int => String): Seq[(String, String)] =
    (0 until n).map(k => ((from + k * 60).toString, value(k)))
  private def q(v: Double) = "\"" + v + "\""

  test("cycle parity through prometheusFetch on the decode and align traps") {
    val wave = (k: Int) => q(0.5 + 0.3 * math.sin(k / 3.0))
    // fractional epochs: µs truncation of timestamp_seconds
    val frac = body(steps(99600.123456789, 7, wave))
    assert(promParity(frac, body(steps(99600.123456789, 7, k => q(0.2 + k * 0.05))))
      .contains("data_points_in_current_window 7"))
    // "NaN" drops its row; " 12 " parses; "+Inf"/"Infinity" score non-finite
    val special = body(steps(99600, 7, k => Seq("\"NaN\"", "\" 12 \"", q(0.3),
      q(0.4), q(0.5), q(0.6), q(0.7))(k)))
    assert(promParity(special, frac.replace(".123456789", ""))
      .contains("data_points_in_current_window 6"))
    promParity(body(steps(99600, 7, k => if (k == 3) "\"+Inf\"" else q(0.1 * k))),
      body(steps(99600, 7, k => if (k == 5) "\"Infinity\"" else q(0.2))))
    // non-numeric value and epoch strings: the value drops its row; a bad
    // epoch in both series forms one aligned row with a null ts
    val good = steps(99600, 7, wave)
    promParity(body(good.updated(2, ("99720", "\"n/a\""))), body(good))
    val nullTs = ("\"abc\"", q(0.5))
    assert(promParity(body(good :+ nullTs), body(nullTs +: good))
      .contains("data_points_in_current_window 8"))
    // ... which the reference can only score when L timed rows outrank it:
    // 4 timed + 1 untimed rows fail the cycle in both, 3 + 1 skip it
    assert(promParity(body(good.take(4) :+ nullTs), body(nullTs +: good.take(4)))
      .contains("latest_reconstruction_error_mse -1"))
    assert(promParity(body(good.take(3) :+ nullTs), body(nullTs +: good.take(3)))
      .contains("data_points_in_current_window 4"))
    // an error status and an empty result leave no aligned row
    assert(promParity(body(good),
      """{"status":"error","errorType":"bad_data","error":"parse error"}""")
      .contains("data_points_in_current_window 0"))
    promParity(body(good), PromBodiesFixture.emptyResult)
    // multi-series: only the first series counts
    promParity(PromBodiesFixture.series(good.map { case (t, v) => s"[$t,$v]" },
        steps(99600, 7, _ => q(9.0)).map { case (t, v) => s"[$t,$v]" }), body(good))
    // duplicated timestamps: the first NON-NULL value wins, a NaN counts
    promParity(body(("99720", "\"x\"") +: ("99780", "\"NaN\"") +: good),
      body(good ++ good))
    // fewer than L aligned rows
    assert(promParity(body(good.take(3)), body(good))
      .contains("data_points_in_current_window 3"))
  }

  test("cycle parity under a non-UTC session time zone (weekday and hour)") {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    // 2024-01-07 (a Sunday) 18:10 UTC = Monday 00:00 in Kathmandu (+05:45):
    // the window crosses the local day boundary mid-window
    val t0 = java.time.Instant.parse("2024-01-07T18:10:00Z").getEpochSecond
    val good = steps(t0 - 240, 7, k => q(0.4 + 0.05 * k))
    try {
      for (tz <- Seq("Asia/Kathmandu", "America/St_Johns", "UTC")) {
        spark.conf.set(key, tz)
        promParity(body(good), body(good.reverse))
        frameParity(fullWindow, nows = Seq(t0 + 120))
      }
    } finally spark.conf.set(key, before)
  }

  test("a prometheusFetch cycle starts no Spark job") {
    PromBodiesFixture.set(Map("q1" -> body(steps(99600, 7, k => q(0.1 * k))),
      "q2" -> body(steps(99600, 7, _ => q(0.5)))))
    val exp = new Exporter()
    val det = new Detector(spark, cfg, exp, Some(scaler4), Some(model4),
      Detector.prometheusFetch(spark, cfg, fetch = PromBodiesFixture.fetch))
    // jobs are tagged by a local property; a tagged sentinel job marks the
    // end of the listener bus's backlog (events reach a listener in order)
    val tag = "graft.spec.cycle"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(t => jobs.merge(t, 1, (a, b) => a + b))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobs.containsKey("sentinel")) sentinelDone.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setLocalProperty(tag, "cycle")
      val mse = det.runCycle(100000L)
      spark.sparkContext.setLocalProperty(tag, "sentinel")
      spark.sparkContext.parallelize(1 to 1, 1).count()
      assert(sentinelDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(mse.isDefined, exp.render())
      assert(!jobs.containsKey("cycle"), s"cycle started ${jobs.get("cycle")} job(s)")
    } finally {
      spark.sparkContext.setLocalProperty(tag, null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}

/** query_range bodies served by PromQL expression (`query=<q>&` in the
  * URL), JVM-static so the fetch closure can ship to executor threads. */
object PromBodiesFixture {
  @volatile private var bodies = Map.empty[String, String]
  def set(byQuery: Map[String, String]): Unit = bodies = byQuery
  def fetch(url: String): String =
    bodies.collectFirst { case (q, b) if url.contains(s"query=$q&") => b }
      .getOrElse(throw new java.io.IOException(s"no fixture body for $url"))
  val emptyResult = """{"status":"success","data":{"resultType":"matrix","result":[]}}"""
  def series(values: Seq[String]*): String =
    values.map(v => s"""{"metric":{"s":"x"},"values":[${v.mkString(",")}]}""")
      .mkString("""{"status":"success","data":{"resultType":"matrix","result":[""", ",", "]}}")
}
