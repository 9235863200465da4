package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import breeze.linalg.DenseMatrix

import graft.config.GraftConfig
import graft.ingest.PromIngest
import graft.model.{Lstm, Training}
import graft.operators.{Fill, Scalers, Score, Windows}

/** The reference's four pipeline stages (`cli.py:7-36`: collect →
  * preprocess → train → filter) as composable Spark programs communicating
  * through parquet/JSON artifacts in `cfg.artifactsDir` — same
  * files-between-stages contract as the reference, Spark-first internals.
  */
object Stages {

  private def artifact(cfg: GraftConfig, name: String): String = {
    val dir = new java.io.File(cfg.artifactsDir)
    if (!dir.exists()) dir.mkdirs()
    new java.io.File(dir, name).getPath
  }

  /** Stage 1 (collect, `data_collector.py`): fetch every configured period
    * chunk-wise (cached), assemble the wide table, write raw parquet (S4). */
  def collect(spark: SparkSession, cfg: GraftConfig,
              fetch: String => String = PromIngest.httpFetch,
              now: java.time.LocalDateTime = java.time.LocalDateTime
                .now(java.time.ZoneOffset.UTC)): DataFrame = {
    val zone = java.time.ZoneOffset.UTC
    val chunks = cfg.data.effectivePeriods(now).flatMap { p =>
      PromIngest.chunkGrid(cfg.queries,
        p.start.toEpochSecond(zone), p.end.toEpochSecond(zone),
        cfg.data.stepSeconds, cfg.data.cacheChunkHours)
    }
    val long = PromIngest.fetchChunks(spark, cfg.prometheusUrl, chunks,
      Some(artifact(cfg, "prom_cache")), fetch)
      .withColumn("_arrival", monotonically_increasing_id())
    val wide = PromIngest.assembleWide(long, cfg.queries.map(_._1), "_arrival")
    wide.write.mode("overwrite").parquet(artifact(cfg, cfg.data.outputFilename))
    wide
  }

  /** Stage 2 (preprocess, `preprocess_data.py`): NaN strategy → scale (with
    * the calendar columns included, as the reference scales them too) →
    * persist scaler JSON (S8) + processed parquet (S6). */
  def preprocess(spark: SparkSession, cfg: GraftConfig): DataFrame = {
    val raw = spark.read.parquet(artifact(cfg, cfg.data.outputFilename))
    val features = cfg.featureColumns
    val doubled = raw.select(col("ts") +:
      features.map(c => col(c).cast("double").as(c)): _*)
    val filled = Fill(doubled, cfg.preprocessing.nanFillStrategy, "ts", features)
    val scaler = cfg.preprocessing.scalerType match {
      case "StandardScaler" => Scalers.fitStandard(filled, features)
      case _                => Scalers.fitMinMax(filled, features) // reference default
    }
    Scalers.save(scaler, artifact(cfg, cfg.preprocessing.scalerOutputFilename))
    val scaled = scaler.transform(filled)
    scaled.write.mode("overwrite")
      .parquet(artifact(cfg, cfg.preprocessing.processedOutputFilename))
    scaled
  }

  /** Collect the window tensors to the driver (reference scale: ~25 MB) —
    * the minibatch driver-training path only. One collect of `ts` plus the
    * features, sorted by `ts` on the driver (nulls first, as `orderBy`
    * puts them); window i is rows i..i+L−1, the same matrices in the same
    * order as [[Windows.slidingWindows]] ordered by `window_id`, without
    * its L-fold duplicated rows. Null → 0.0; no windows when n < L. */
  private[graft] def windowMatrices(spark: SparkSession, cfg: GraftConfig,
                             scaled: DataFrame): IndexedSeq[DenseMatrix[Double]] = {
    val features = cfg.featureColumns
    val l = cfg.training.sequenceLength
    val rows = scaled.select(("ts" +: features).map(col): _*).collect()
      .sortBy(r => if (r.isNullAt(0)) Long.MinValue
                   else DateTimeUtils.fromJavaTimestamp(r.getTimestamp(0)))
    (0 to rows.length - l).map { w =>
      DenseMatrix.tabulate(l, features.size) { (i, j) =>
        val v = rows(w + i).get(j + 1)
        if (v == null) 0.0 else v.asInstanceOf[Double]
      }
    }
  }

  /** The 100 TB train path: windows as a DISTRIBUTED RDD of (L,F) matrices.
    * Built on the bucketed sliding-window plan (no single-task stage) and
    * converted row→matrix PER PARTITION — no window row ever reaches the
    * driver; during training the driver only holds the O(model) gradient
    * that `treeAggregate` ships back. */
  private[graft] def windowMatricesRdd(cfg: GraftConfig, scaled: DataFrame)
      : org.apache.spark.rdd.RDD[DenseMatrix[Double]] = {
    val features = cfg.featureColumns
    val l = cfg.training.sequenceLength
    val nf = features.size
    Windows.slidingWindowsPartitioned(scaled, Seq("ts"), features, l)
      .select("window")
      .rdd.mapPartitions { it =>
        it.map { r =>
          val rows = r.getSeq[org.apache.spark.sql.Row](0)
          DenseMatrix.tabulate(rows.size, nf) { (i, j) =>
            val v = rows(i).get(j)
            if (v == null) 0.0 else v.asInstanceOf[Double]
          }
        }
      }
  }

  /** Stage 3 (train, `train_autoencoder.py`): windows → 80/20 split →
    * Adam/MSE with early stopping → model JSON (S9) + loss history. */
  def train(spark: SparkSession, cfg: GraftConfig,
            distributed: Boolean = false): Training.TrainResult = {
    val scaled = spark.read
      .parquet(artifact(cfg, cfg.preprocessing.processedOutputFilename))
    val init = Lstm.glorotInit(cfg.featureColumns.size,
      cfg.training.lstmUnits, seed = 42L)
    val result =
      if (distributed) {
        // End-to-end distributed: windows never touch the driver. The
        // 80/20 split is a seeded randomSplit on the RDD (same intent as
        // the driver path's shuffled index split; exact row assignment is
        // RNG-specific either way — see Windows.trainValSplit). Persisted:
        // trainDistributed runs count + per-batch gradient jobs + one
        // forward-only val treeAggregate per epoch over them.
        val Array(tr, va) = windowMatricesRdd(cfg, scaled).randomSplit(
          Array(cfg.training.trainSplitRatio,
            1.0 - cfg.training.trainSplitRatio), seed = 42L)
        tr.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        va.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val r = Training.trainDistributed(spark, tr, init,
          epochs = cfg.training.epochs, lr = cfg.training.learningRate,
          patience = cfg.training.earlyStoppingPatience, valWindows = Some(va),
          batchSize = cfg.training.batchSize)
        tr.unpersist(false)
        va.unpersist(false)
        r
      } else {
        val all = windowMatrices(spark, cfg, scaled)
        val rng = new scala.util.Random(42L)
        val shuffled = rng.shuffle(all.indices.toVector)
        val nTrain = (all.size * cfg.training.trainSplitRatio).toInt
        val (trIdx, vaIdx) = shuffled.splitAt(nTrain)
        Training.trainDriver(trIdx.map(all), vaIdx.map(all), init,
          epochs = cfg.training.epochs, batchSize = cfg.training.batchSize,
          lr = cfg.training.learningRate,
          patience = cfg.training.earlyStoppingPatience)
      }
    Lstm.save(result.params, artifact(cfg, cfg.training.modelOutputFilename))
    // S11 (loss-curve data): persist the history as a table instead of the
    // reference's PNG (train_autoencoder.py:254-270).
    import spark.implicits._
    result.history.zipWithIndex
      .map { case ((tr, va), e) => (e, tr, va) }
      .toDF("epoch", "train_loss", "val_loss")
      .coalesce(1).write.mode("overwrite")
      .parquet(artifact(cfg, "loss_history.parquet"))
    result
  }

  /** Stage 3b (filter, `filter_anomalous_data.py`): score every window with
    * the trained model, split normal/anomalous, persist both as parquet
    * (S7 — supersedes the reference's .npy tensors) plus the 50-bin error
    * histogram table (A7, replacing the reference's PNG). */
  def filterAnomalies(spark: SparkSession, cfg: GraftConfig): DataFrame = {
    val scaled = spark.read
      .parquet(artifact(cfg, cfg.preprocessing.processedOutputFilename))
    val params = Lstm.load(artifact(cfg, cfg.training.modelOutputFilename))
    val features = cfg.featureColumns
    // Persist: the windowing (global-order analytic) and the LSTM scoring
    // are the two expensive lineages, and four downstream actions consume
    // them (two filtered writes + the histogram's min/max and count jobs).
    val wins = Windows.slidingWindows(scaled, Seq("ts"), features,
      cfg.training.sequenceLength)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = Pipeline.scoreWindows(spark,
      wins.select("window_id", "window"), features, params)
      .withColumn("is_anomaly",
        Score.classify(col("mse"), cfg.realtime.anomalyThresholdMse))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withWindows = wins.join(scored, Seq("window_id"))
    withWindows.filter(!col("is_anomaly")).write.mode("overwrite")
      .parquet(artifact(cfg, "normal_sequences.parquet"))
    withWindows.filter(col("is_anomaly")).write.mode("overwrite")
      .parquet(artifact(cfg, "anomalous_sequences.parquet"))
    Score.histogram(scored, "mse", 50).write.mode("overwrite")
      .parquet(artifact(cfg, "error_histogram.parquet"))
    // the reference's optional all_sequence_errors output
    // (filter_anomalous_data.py config) — every window's error, always on
    scored.select("window_id", "mse", "is_anomaly").write.mode("overwrite")
      .parquet(artifact(cfg, "all_sequence_errors.parquet"))
    wins.unpersist()
    scored
  }
}
