package graft

import graft.config.GraftConfig
import graft.model.{Lstm, Training}
import org.apache.spark.sql.functions._

/** Pipeline smoke (SURVEY §5.4): synthetic Prometheus JSON → collect →
  * preprocess → train → filter, through the real stage artifacts; plus the
  * behavioral anomaly test (spiked windows score above clean ones). */
class StagesSpec extends SparkSpec {

  private val tmp = java.nio.file.Files.createTempDirectory("graft-stages").toString

  private val cfg = GraftConfig.fromYaml(
    s"""artifacts_dir: "$tmp"
       |queries:
       |  m1: 'q_m1'
       |  m2: 'q_m2'
       |data_settings:
       |  step: "120"
       |  collection_periods_iso:
       |    - start: "2024-01-01T00:00:00"
       |      end: "2024-01-01T04:00:00"
       |preprocessing_settings:
       |  nan_fill_strategy: "ffill_then_bfill"
       |  scaler_type: "MinMaxScaler"
       |training_settings:
       |  sequence_length: 6
       |  epochs: 60
       |  batch_size: 16
       |  learning_rate: 0.01
       |  lstm_units_encoder1: 6
       |  lstm_units_encoder2_latent: 3
       |  lstm_units_decoder1: 3
       |  lstm_units_decoder2: 6
       |real_time_anomaly_detection:
       |  anomaly_threshold_mse: 0.05
       |""".stripMargin)

  private val fakeFetch: String => String = StagesSpecFetch.fetch _

  test("collect: chunked fetch -> wide parquet with calendar columns (S1-S4)") {
    // (fetch fn lives in a top-level object: executor closures must not
    // capture the non-serializable spec instance)
    val wide = Stages.collect(spark, cfg, fakeFetch)
    assert(wide.columns.toSeq ==
      Seq("ts", "m1", "m2", "day_of_week", "hour_of_day"))
    assert(wide.count() == 4 * 30) // 4h at 2min step
    assert(new java.io.File(s"$tmp/prometheus_metrics_data.parquet").exists())
    assert(new java.io.File(s"$tmp/prom_cache").exists()) // chunk cache written
  }

  test("preprocess: fill + scale to [0,1], scaler persisted (A3/S6/S8)") {
    val scaled = Stages.preprocess(spark, cfg)
    val stats = scaled.agg(min("m1"), max("m1"), min("hour_of_day"),
      max("hour_of_day")).head()
    assert(stats.getDouble(0) >= 0.0 && stats.getDouble(1) <= 1.0)
    assert(stats.getDouble(2) >= 0.0 && stats.getDouble(3) <= 1.0) // calendar scaled too
    val sc = graft.operators.Scalers.load(s"$tmp/fitted_scaler.json")
    assert(sc.cols == Seq("m1", "m2", "day_of_week", "hour_of_day"))
  }

  test("train: windows -> Adam/BPTT -> model JSON with loss history (M2/S9)") {
    val r = Stages.train(spark, cfg)
    assert(r.history.nonEmpty && r.history.size <= 60)
    // loss must actually decrease over training
    assert(r.history.last._1 < r.history.head._1 * 0.5)
    val loaded = Lstm.load(s"$tmp/lstm_autoencoder.json")
    assert(loaded.out.w.cols == 4) // F = 2 metrics + 2 calendar
  }

  test("filter: spiked windows score above clean windows (behavioral anomaly)") {
    val scored = Stages.filterAnomalies(spark, cfg)
    assert(scored.count() == 120 - 6 + 1)
    // windows overlapping the spike must out-score clean windows on average
    val spikeIds = scored.join(
      spark.read.parquet(s"$tmp/processed_metrics_data.parquet")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("ts")) - 1)
        .filter(col("m1") === 1.0) // spike scales to the max
        .select((col("rn") - 5).as("lo"), col("rn").as("hi")),
      col("window_id").between(col("lo"), col("hi")), "inner")
      .select("window_id").distinct()
    val spikeMse = scored.join(spikeIds, Seq("window_id"))
      .agg(avg("mse")).head().getDouble(0)
    val cleanMse = scored.join(spikeIds, Seq("window_id"), "left_anti")
      .agg(avg("mse")).head().getDouble(0)
    assert(spikeMse > cleanMse * 2,
      s"spike windows $spikeMse vs clean $cleanMse")
    assert(new java.io.File(s"$tmp/normal_sequences.parquet").exists())
    assert(new java.io.File(s"$tmp/anomalous_sequences.parquet").exists())
    assert(new java.io.File(s"$tmp/error_histogram.parquet").exists())
  }

  test("train stage with distributed=true uses the treeAggregate path end-to-end") {
    val r = Stages.train(spark, cfg, distributed = true)
    assert(r.history.nonEmpty)
    assert(r.history.last._1 < r.history.head._1) // full-batch loss decreases
    assert(new java.io.File(s"$tmp/lstm_autoencoder.json").exists())
  }

  test("windowMatricesRdd: distributed windows equal the driver-collected set, no driver collect in the lineage") {
    val scaled = spark.read.parquet(s"$tmp/processed_metrics_data.parquet")
    val fromDriver = Stages.windowMatrices(spark, cfg, scaled)
      .map(_.toArray.toVector).toSet
    val rdd = Stages.windowMatricesRdd(cfg, scaled)
    // the matrices are distributed across executor partitions (this collect
    // is the TEST comparing content, not part of the train path)
    assert(rdd.getNumPartitions >= 1)
    val fromRdd = rdd.collect().map(_.toArray.toVector).toSet
    assert(fromRdd == fromDriver,
      s"rdd ${fromRdd.size} windows vs driver ${fromDriver.size}")
  }

  test("windowMatrices: one ordered collect slices the same windows as slidingWindows, bit for bit") {
    val scaled = spark.read.parquet(s"$tmp/processed_metrics_data.parquet")
    val features = cfg.featureColumns
    val l = cfg.training.sequenceLength
    // the analytic-window plan windowMatrices replaced
    def viaSliding(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Windows.slidingWindows(df, Seq("ts"), features, l)
        .select("window_id", "window").orderBy("window_id").collect().toIndexedSeq
        .map { r =>
          val rows = r.getSeq[org.apache.spark.sql.Row](1)
          breeze.linalg.DenseMatrix.tabulate(rows.size, features.size) { (i, j) =>
            val v = rows(i).get(j)
            if (v == null) 0.0 else v.asInstanceOf[Double]
          }
        }
    def bits(ms: IndexedSeq[breeze.linalg.DenseMatrix[Double]]) =
      ms.map(m => (m.rows, m.cols, m.toArray.map(java.lang.Double.doubleToRawLongBits).toSeq))
    val n = scaled.count().toInt
    // shuffled input: the driver sort, not the file order, fixes the windows
    for (df <- Seq(scaled.repartition(3), scaled.orderBy("ts").limit(l),
                   scaled.orderBy("ts").limit(l - 1))) {
      val got = Stages.windowMatrices(spark, cfg, df)
      val want = viaSliding(df)
      assert(bits(got) == bits(want), s"${got.size} vs ${want.size} windows")
    }
    assert(Stages.windowMatrices(spark, cfg, scaled).size == n - l + 1)
    assert(Stages.windowMatrices(spark, cfg, scaled.limit(l - 1)).isEmpty)
    // same windows in the same order -> the driver trainer's history is
    // bit-identical to the one the sliding plan fed it
    val init = Lstm.glorotInit(features.size, cfg.training.lstmUnits, seed = 42L)
    def history(all: IndexedSeq[breeze.linalg.DenseMatrix[Double]]) = {
      val idx = new scala.util.Random(42L).shuffle(all.indices.toVector)
      val (tr, va) = idx.splitAt((all.size * 0.8).toInt)
      Training.trainDriver(tr.map(all), va.map(all), init, epochs = 2,
        batchSize = 16, lr = 0.01, patience = 3).history
    }
    assert(history(Stages.windowMatrices(spark, cfg, scaled)) == history(viaSliding(scaled)))
  }

  test("distributed train reaches a loss comparable to the driver path on the same data") {
    val rDriver = Stages.train(spark, cfg, distributed = false)
    val rDist = Stages.train(spark, cfg, distributed = true)
    // different optimization schedules (minibatch vs full-batch Adam), same
    // objective: both must cut the initial loss deeply, same ballpark final.
    assert(rDist.history.last._1 < rDist.history.head._1 * 0.5,
      s"distributed history ${rDist.history.head._1} -> ${rDist.history.last._1}")
    assert(rDist.history.last._1 < rDriver.history.head._1 * 0.5)
  }

  test("distributed early stopping keys on a genuinely held-out val loss") {
    import breeze.linalg.DenseMatrix
    val wins = (0 until 24).map(s =>
      DenseMatrix.tabulate(6, 2)((i, j) => 0.5 + 0.3 * math.sin(s + i * 0.7 + j)))
    val (tr, va) = wins.splitAt(18)
    val init = Lstm.glorotInit(2, Seq(4, 2, 2, 4), seed = 5L)
    val r = Training.trainDistributed(spark,
      spark.sparkContext.parallelize(tr, 4), init, epochs = 8, lr = 1e-2,
      patience = 8, valWindows = Some(spark.sparkContext.parallelize(va, 2)))
    assert(r.history.size == 8)
    // val loss is computed on the held-out set — not a copy of train loss
    assert(r.history.exists { case (t, v) => t != v })
    assert(r.bestEpoch >= 0)
  }

  test("distributed training path (treeAggregate) reduces loss like the driver path") {
    import breeze.linalg.DenseMatrix
    val wins = (0 until 24).map(s =>
      DenseMatrix.tabulate(6, 2)((i, j) => 0.5 + 0.3 * math.sin(s + i * 0.7 + j)))
    val init = Lstm.glorotInit(2, Seq(4, 2, 2, 4), seed = 3L)
    val before = wins.map(x => Lstm.mse(x, Lstm.forward(init, x))).sum / wins.size
    val r = Training.trainDistributed(spark,
      spark.sparkContext.parallelize(wins, 4), init, epochs = 40, lr = 1e-2,
      patience = 40)
    val after = wins.map(x => Lstm.mse(x, Lstm.forward(r.params, x))).sum / wins.size
    assert(after < before, s"before=$before after=$after")
  }

  test("M2 at volume: one distributed minibatch epoch over the sf0.1 window corpus") {
    // The no-driver-materialization claim exercised at bench scale: the
    // full sf0.1 per-minute click series → bucketed boundary-replicated
    // sliding windows → RDD[DenseMatrix] built PER PARTITION → one
    // minibatch epoch of treeAggregate gradient jobs. No window row ever
    // reaches the driver; the driver holds only O(model) gradients.
    // (Small units keep the arithmetic cheap — the volume claim under test
    // is the data path, not the model size.)
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val series = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .groupBy(expr("ts_us div 60000000").as("ts_min"))
      .agg(avg("value").as("v"))
    val l = 20
    val rdd = operators.Windows
      .slidingWindowsPartitioned(series, Seq("ts_min"), Seq("v"), l,
        bucketSize = 4096)
      .select("window")
      .rdd.mapPartitions { it =>
        it.map { r =>
          val rows = r.getSeq[org.apache.spark.sql.Row](0)
          breeze.linalg.DenseMatrix.tabulate(rows.size, 1) { (i, _) =>
            val v = rows(i).get(0)
            if (v == null) 0.0 else v.asInstanceOf[Double]
          }
        }
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = rdd.count()
      // sf0.1 spans ~15.9k minutes of click events -> ~15.9k stride-1 windows
      assert(n > 10000L, s"expected the ~16k-window sf0.1 corpus, got $n")
      val init = Lstm.glorotInit(1, Seq(16, 8, 8, 16), seed = 7L)
      val t0 = System.nanoTime()
      val r = Training.trainDistributed(spark, rdd, init, epochs = 1,
        lr = 1e-2, patience = 1, batchSize = 512)
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"one epoch over $n windows: $secs%.1f s")
      assert(r.history.size == 1)
      assert(java.lang.Double.isFinite(r.history.head._1),
        s"non-finite epoch loss: ${r.history.head}")
    } finally rdd.unpersist(false)
  }
}

/** Fake Prometheus fetch in a top-level object so executor closures stay
  * serializable: parses start/end/step/query back out of the URL; smooth
  * sine (m1) / cosine (m2) plus a spike at a fixed timestamp window. */
object StagesSpecFetch {
  def fetch(url: String): String = {
    def param(k: String) =
      url.split("[?&]").find(_.startsWith(k + "=")).get.drop(k.length + 1)
    val start = param("start").toLong
    val end = param("end").toLong
    val step = param("step").toLong
    val isM1 = java.net.URLDecoder.decode(param("query"), "UTF-8").contains("m1")
    val values = (start until end by step).map { t =>
      val base = if (isM1) math.sin(t / 1200.0) else math.cos(t / 1200.0)
      val spike = if (t >= 1704074400L && t < 1704075600L) 8.0 else 0.0
      s"""[$t,"${base + spike}"]"""
    }.mkString(",")
    s"""{"status":"success","data":{"resultType":"matrix","result":[""" +
      s"""{"metric":{"m":"${if (isM1) "m1" else "m2"}"},"values":[$values]}]}}"""
  }
}
