package graft.realtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import breeze.linalg.DenseMatrix

import graft.config.GraftConfig
import graft.model.Lstm
import graft.operators.{Align, Fill, Scalers, Windows}
import graft.ingest.PromIngest

/** The DataFrame detection cycle [[Detector]] replaced, kept as its parity
  * oracle: persist the fetched window, `pivotAlignInner` (keep first
  * non-null per (ts, alias), drop rows with a null or NaN) → `withCalendar`
  * → count (ST6) → `Windows.tail` → `Fill.ffillBfill` → `Scaler.transform`
  * → collect, sorted by `ts` on the driver → score. It publishes the same
  * gauges in the same order, so a cycle of each on the same input must
  * render byte-equal `/metrics`. */
final class DetectorReference(
    spark: SparkSession,
    cfg: GraftConfig,
    exporter: Exporter,
    scaler: Option[Scalers.Scaler],
    model: Option[Lstm.AeParams],
    fetchWindow: (Long, Long, Long) => DataFrame) {

  private val L = cfg.training.sequenceLength
  private val step = cfg.data.stepSeconds
  private val aliases = cfg.queries.map(_._1)
  private val features = cfg.featureColumns

  def runCycle(nowSec: Long): Option[Double] = {
    if (model.isEmpty || scaler.isEmpty) {
      exporter.setGauge(exporter.LatestMse, 0.0)
      exporter.setGauge(exporter.IsAnomaly, 0.0)
      return None
    }
    try {
      val end = nowSec - (nowSec % step)
      val long = fetchWindow(end - (L + 2) * step, end, step)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try scoreLong(long, nowSec) finally long.unpersist()
    } catch {
      case scala.util.control.NonFatal(_) =>
        exporter.setGauge(exporter.LatestMse, -1.0)
        exporter.setGauge(exporter.IsAnomaly, 0.0)
        None
    }
  }

  private def scoreLong(long: DataFrame, nowSec: Long): Option[Double] = {
    val wide = Align.pivotAlignInner(long, "ts", "alias", "value", aliases,
      agg = Some(c => first(c, ignoreNulls = true)))
    val withCal = PromIngest.withCalendar(wide, "ts")
    val ordered = withCal.select(("ts" +: features).map(col): _*)
    val n = ordered.count()
    exporter.setGauge(exporter.WindowPoints, n.toDouble)
    if (n < L) return None
    val tail = Windows.tail(ordered, Seq("ts"), L)
    val filled = Fill.ffillBfill(tail, "ts", features)
    val scaled = scaler.get.transform(filled.select(
      col("ts") +: features.map(c => col(c).cast("double").as(c)): _*))
    val rows = scaled.collect().sortBy(_.getTimestamp(0).getTime)
    if (rows.length < L) return None
    val x = DenseMatrix.tabulate(L, features.size) { (i, j) =>
      val v = rows(i).get(j + 1)
      if (v == null) 0.0 else v.asInstanceOf[Double]
    }
    val xhat = Lstm.forward(model.get, x)
    val mse = Lstm.mse(x, xhat)
    val perFeature = Lstm.perFeatureMse(x, xhat)
    val isAnomaly = mse > cfg.realtime.anomalyThresholdMse
    exporter.setGauge(exporter.LatestMse, mse)
    exporter.setGauge(exporter.IsAnomaly, if (isAnomaly) 1.0 else 0.0)
    if (isAnomaly) exporter.incCounter(exporter.TotalAnomalies)
    features.zip(perFeature).foreach { case (f, m) =>
      exporter.setFeatureGauge(exporter.FeatureMse, f, m)
    }
    exporter.setGauge(exporter.LastSuccess, nowSec.toDouble)
    Some(mse)
  }
}
