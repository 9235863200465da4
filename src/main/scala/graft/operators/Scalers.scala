package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Feature scaling with the reference's sklearn semantics
  * (`/root/reference/preprocess_data.py:77-102`):
  *
  *  - MinMax: `(x − min) / (max − min)`, and a zero-range column maps to
  *    **0.0** (sklearn forces the denominator to 1 when max == min) — NOT
  *    0.5 as Spark MLlib's MinMaxScaler does, which is why this is
  *    hand-rolled rather than MLlib.
  *  - Standard: `(x − mean) / std` with **population** std (sklearn ddof=0);
  *    Spark's default `stddev` is the sample std, so `stddev_pop` is used.
  *    Zero-variance columns map to 0.0 (sklearn forces std 1... then
  *    centering yields 0.0).
  *
  * Fit is ONE map-side-combinable aggregate over the table (2k doubles to
  * the driver for k columns — no data shuffle); transform is a pure
  * projection with the params inlined as literals, so it stays inside
  * whole-stage codegen and costs nothing extra at 100 TB.
  *
  * Params persist as a small JSON file (S8, replacing the reference's
  * joblib pickle at `preprocess_data.py:96-98`).
  */
object Scalers {

  sealed trait Scaler {
    def cols: Seq[String]
    /** Column `i` maps as `(x − center(i)) / scale(i)`; `scale` already
      * has the sklearn zero rule applied (a zero range/std/IQR divides by
      * 1). The one formula behind [[transform]], [[inverse]] and the
      * realtime detector's driver-side [[transformValue]]. */
    def center(i: Int): Double
    def scale(i: Int): Double
    /** Apply frozen params (M5, `realtime_detector.py:236-237`). */
    def transform(df: DataFrame): DataFrame =
      cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
        d.withColumn(c, (col(c) - lit(center(i))) / lit(scale(i)))
      }
    def inverse(df: DataFrame): DataFrame =
      cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
        d.withColumn(c, col(c) * lit(scale(i)) + lit(center(i)))
      }
    /** [[transform]] of one value of column `i`, bit-identical to the
      * projection (the same two IEEE operations in the same order). */
    def transformValue(i: Int, x: Double): Double = (x - center(i)) / scale(i)
    def toJson: String
  }

  /** sklearn's `_handle_zeros_in_scale`. */
  private def nonZero(d: Double): Double = if (d == 0.0) 1.0 else d

  final case class MinMaxScaler(cols: Seq[String], mins: Seq[Double],
                                maxs: Seq[Double]) extends Scaler {
    def center(i: Int): Double = mins(i)
    def scale(i: Int): Double = nonZero(maxs(i) - mins(i))
    def toJson: String = Scalers.paramsJson("minmax", cols,
      Map("min" -> mins, "max" -> maxs))
  }

  final case class StandardScaler(cols: Seq[String], means: Seq[Double],
                                  stds: Seq[Double]) extends Scaler {
    def center(i: Int): Double = means(i)
    def scale(i: Int): Double = nonZero(stds(i))
    def toJson: String = Scalers.paramsJson("standard", cols,
      Map("mean" -> means, "std" -> stds))
  }

  /** sklearn RobustScaler parity: `(x − median) / (q75 − q25)`, with a
    * zero-IQR column dividing by 1 (the `_handle_zeros_in_scale` rule, same
    * as the other two scalers). Outlier-resistant centering for the heavy
    * tails MinMax/Standard are distorted by. */
  final case class RobustScaler(cols: Seq[String], medians: Seq[Double],
                                iqrs: Seq[Double]) extends Scaler {
    def center(i: Int): Double = medians(i)
    def scale(i: Int): Double = nonZero(iqrs(i))
    def toJson: String = Scalers.paramsJson("robust", cols,
      Map("median" -> medians, "iqr" -> iqrs))
  }

  /** Null aggregate = all-null column or empty input; `getAs[Double]` would
    * silently unbox it to 0.0 and fit a dead scaler — fail loudly instead
    * (sklearn likewise raises on NaN input). */
  private def requireFit(row: org.apache.spark.sql.Row, field: String,
                         c: String): Double = {
    val i = row.fieldIndex(field)
    require(!row.isNullAt(i),
      s"scaler fit: column '$c' has no non-null values (empty input or all-null series)")
    row.getDouble(i)
  }

  /** A3: fit per-column min/max in one aggregate pass. */
  def fitMinMax(df: DataFrame, cols: Seq[String]): MinMaxScaler = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"min_$c"),
          max(col(c)).cast("double").as(s"max_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    MinMaxScaler(cols,
      cols.map(c => requireFit(row, s"min_$c", c)),
      cols.map(c => requireFit(row, s"max_$c", c)))
  }

  /** A4: fit per-column mean/population-std in one aggregate pass. */
  def fitStandard(df: DataFrame, cols: Seq[String]): StandardScaler = {
    val aggs = cols.flatMap(c =>
      Seq(avg(col(c)).as(s"mean_$c"), stddev_pop(col(c)).as(s"std_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    StandardScaler(cols,
      cols.map(c => requireFit(row, s"mean_$c", c)),
      cols.map(c => requireFit(row, s"std_$c", c)))
  }

  /** Robust fit: per-column exact q25/median/q75 in one aggregate pass
    * (the `percentile` aggregate's linear interpolation matches numpy's
    * default, which sklearn's RobustScaler delegates to). One holistic
    * aggregate — a per-column sort-based buffer, still a single pass and
    * a few doubles to the driver; at extreme scale swap in
    * `approx_percentile` with a documented tolerance. */
  def fitRobust(df: DataFrame, cols: Seq[String]): RobustScaler = {
    // ONE percentile aggregate per column with an array of percentages —
    // all three quantiles share a single sort buffer (three separate
    // percentile calls would build and sort three buffers: measured 5.1 s
    // vs 1.7 s on 600k rows × 2 columns). Runs on the primitive-buffer
    // graft_percentile kernel when registered (bit-identical to the
    // built-in — ExactPercentileSpec; the built-in's boxed OpenHashMap
    // update path priced this fit at ~2 s of q_scale_robust's 2.4 s
    // cert steady, optimization guide §4).
    val aggs = cols.map(c =>
      graft.expressions.ExactPercentiles.pctl(df, col(c),
          array(lit(0.25), lit(0.5), lit(0.75)), df.schema(c).dataType)
        .as(s"q_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def qs(c: String): Seq[Double] = {
      val i = row.fieldIndex(s"q_$c")
      require(!row.isNullAt(i),
        s"scaler fit: column '$c' has no non-null values (empty input or all-null series)")
      row.getSeq[Double](i)
    }
    RobustScaler(cols,
      cols.map(c => qs(c)(1)),
      cols.map { c => val q = qs(c); q(2) - q(0) })
  }

  /** Strategy dispatch mirroring `preprocess_data.py:85-91`. */
  def fit(df: DataFrame, kind: String, cols: Seq[String]): Scaler =
    kind match {
      case "minmax"   => fitMinMax(df, cols)
      case "standard" => fitStandard(df, cols)
      case "robust"   => fitRobust(df, cols)
      case other => throw new IllegalArgumentException(
        s"unknown scaler type '$other' (expected minmax|standard|robust)")
    }

  /** Per-group winsorization: clip `valCol` to its group's
    * `[pLo, pHi]` exact quantiles. Tail-tamer for quality scores and
    * heavy-tailed metrics ahead of mean-based aggregation. ONE keyed
    * holistic aggregate (two doubles per group) broadcast-joined back —
    * no row shuffle of the fact table, projection-only transform, scales
    * with group count not row count. Rows with a NULL group key are
    * dropped (equi-join semantics — SQL GROUP BY would emit a null
    * group, but a null key can't rejoin); filter or impute keys upstream
    * if those rows must survive. */
  def winsorize(df: DataFrame, keyCols: Seq[String], valCol: String,
                pLo: Double, pHi: Double): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    require(!df.columns.contains("_w_lo") && !df.columns.contains("_w_hi") &&
      !df.columns.contains("_w"),
      "input already has internal column _w/_w_lo/_w_hi")
    // ONE array-percentile aggregate: both bounds share a single
    // value→count buffer per group (two scalar percentile calls would
    // build and update two); element-wise results are bit-identical to
    // the scalar calls by construction (same per-p selection). Kernel
    // dispatch as in fitRobust.
    val bounds = df.groupBy(keyCols.map(col): _*)
      .agg(graft.expressions.ExactPercentiles.pctl(df, col(valCol),
        array(lit(pLo), lit(pHi)), df.schema(valCol).dataType).as("_w"))
      .select(col("*"), element_at(col("_w"), 1).as("_w_lo"),
        element_at(col("_w"), 2).as("_w_hi"))
      .drop("_w")
    df.join(broadcast(bounds), keyCols, "inner")
      .withColumn(valCol,
        greatest(least(col(valCol), col("_w_hi")), col("_w_lo")))
      .drop("_w_lo", "_w_hi")
  }

  // --- S8 persistence (JSON instead of joblib pickle) ---

  private[operators] def paramsJson(kind: String, cols: Seq[String],
                                    params: Map[String, Seq[Double]]): String = {
    def jarr(xs: Seq[String]) = xs.mkString("[", ",", "]")
    def jnum(d: Double) =
      if (d.isNaN) "\"NaN\""
      else if (d.isInfinite) { if (d > 0) "\"Inf\"" else "\"-Inf\"" }
      else d.toString
    val colsJson = jarr(cols.map(c => "\"" + c + "\""))
    val ps = params.toSeq.sortBy(_._1).map { case (k, vs) =>
      "\"" + k + "\":" + jarr(vs.map(jnum))
    }.mkString(",")
    s"""{"kind":"$kind","cols":$colsJson,$ps}"""
  }

  def save(s: Scaler, path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s.toJson)

  def load(path: String): Scaler = {
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    parseJson(txt)
  }

  private[operators] def parseJson(txt: String): Scaler = {
    // Minimal parser for our own flat schema (no external JSON dep needed).
    def arr(key: String): Seq[String] = {
      val i = txt.indexOf("\"" + key + "\":[")
      require(i >= 0, s"scaler json missing $key")
      val start = txt.indexOf('[', i) + 1
      val end = txt.indexOf(']', start)
      val body = txt.substring(start, end).trim
      if (body.isEmpty) Nil else body.split(",").toSeq.map(_.trim)
    }
    def nums(key: String): Seq[Double] = arr(key).map {
      case "\"NaN\"" => Double.NaN
      case "\"Inf\"" => Double.PositiveInfinity
      case "\"-Inf\"" => Double.NegativeInfinity
      case s => s.toDouble
    }
    val cols = arr("cols").map(_.stripPrefix("\"").stripSuffix("\""))
    if (txt.contains("\"kind\":\"minmax\""))
      MinMaxScaler(cols, nums("min"), nums("max"))
    else if (txt.contains("\"kind\":\"robust\""))
      RobustScaler(cols, nums("median"), nums("iqr"))
    else StandardScaler(cols, nums("mean"), nums("std"))
  }
}
