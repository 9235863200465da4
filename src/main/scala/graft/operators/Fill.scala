package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Missing-value strategies — the reference's `handle_missing_values`
  * dispatch (`/root/reference/preprocess_data.py:41-75`): ffill_then_bfill
  * (default), mean, median, drop, none; unknown strategy passes through.
  *
  * Scale notes:
  *  - ffill/bfill are order-dependent analytic windows. With no partition
  *    columns they run in a single task (fine at the reference's ~8k rows;
  *    the oracle-checked paths here). At 100 TB you pass `partitionCols`
  *    (e.g. series id, or series×day with boundary-value replication) so the
  *    window parallelizes per series — the operator takes them as a
  *    first-class argument for exactly that reason.
  *  - mean/median fills are ONE map-side-combinable aggregate (collected to
  *    the driver as a k-double row) + a broadcast-free projection: no extra
  *    shuffle of the data itself. `median` is Spark's exact median — the
  *    reference's pandas median is exact, so `percentile_approx` would be
  *    wrong on oracle-checked paths.
  */
object Fill {

  /** Forward-fill by time order, then backward-fill what remains (leading
    * nulls) — `preprocess_data.py:46-47`.
    *
    * Every column is filled in one projection, so the plan holds one
    * Window (and one Sort) per direction for any number of columns, and
    * each of those is a generated class (SCALE.md, "Generated-code working
    * set"). `FillReference` in test scope is the per-column parity spec.
    *
    * The bfill leg is a RUNNING frame over DESCENDING order —
    * `last(ignoreNulls) OVER (ORDER BY o DESC ROWS UNBOUNDED PRECEDING..
    * CURRENT)` — not the textbook `first_value OVER (CURRENT..UNBOUNDED
    * FOLLOWING)`: Spark executes a growing frame incrementally (one
    * aggregate update per row, O(n) per partition) but re-aggregates an
    * UnboundedFollowing frame FROM SCRATCH for every row — O(n²). At the
    * reference's ~8k rows both are instant; at a 10× corpus's ~389k
    * minutes per series the shrinking frame measured 30+ min PER SERIES
    * TASK in the flagship while the descending running frame is
    * sub-second (round 14; the registry bench rows never caught it
    * because `.count()` lets Catalyst prune an unreferenced window —
    * the END-TO-END pipeline, which feeds the fill into mapPartitions
    * scoring, paid the real cost). The two forms are row-identical:
    * scanning the frame [max..current] in descending order, the LAST
    * non-null is the one closest to the current row from above — the
    * first non-null at-or-after it in ascending order. Cost: one extra
    * in-partition sort (desc) instead of a quadratic frame.
    *
    * Row-identity requires `orderCol` UNIQUE within each partition group
    * (every caller here satisfies it: the flagship fills per-series
    * minute keys, the oracle rows fill a distinct time grid). With tied
    * order keys BOTH forms are nondeterministic — an asc and a desc sort
    * may each pick a different tied row — so ties don't make this form
    * wrong relative to the shrinking-frame one, just differently
    * arbitrary; `ffillBfillBucketed` documents the same requirement. */
  def ffillBfill(df: DataFrame, orderCol: String, cols: Seq[String],
                 partitionCols: Seq[String] = Nil): DataFrame = {
    def w(order: org.apache.spark.sql.Column) =
      (if (partitionCols.isEmpty) Window.orderBy(order)
       else Window.partitionBy(partitionCols.map(col): _*).orderBy(order))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w(col(orderCol))
    val back = w(col(orderCol).desc)
    fillAll(df, cols)(c => coalesce(
      last(col(c), ignoreNulls = true).over(fwd),
      last(col(c), ignoreNulls = true).over(back)))
  }

  /** Replace every column of `cols` with `fill(c)` in ONE projection.
    * Catalyst groups a projection's window expressions by (partition,
    * order) spec, so k columns over the same two specs plan 2 Windows and
    * 2 Sorts; a `withColumn` fold would plan 2k of each. Every fill
    * expression reads the unfilled input, as the fold's did (each column
    * is replaced once). */
  private def fillAll(df: DataFrame, cols: Seq[String])(
      fill: String => org.apache.spark.sql.Column): DataFrame =
    if (cols.isEmpty) df
    else df.withColumns(
      scala.collection.immutable.ListMap(cols.distinct.map(c => c -> fill(c)): _*))

  /** The 100×-shape fill over a LONG table: complete the (order × series)
    * grid — absent series-points become nulls — then [[ffillBfill]] with
    * one analytic window PER SERIES. The scale twin of the global
    * wide-table fill, proven result-equal by its oracle query
    * (`q_ffill_partitioned_w1`); `Pipeline.flagship` runs the same helper. */
  def ffillBfillPerSeries(long: DataFrame, orderCol: String, keyCol: String,
                          valCol: String, keys: Seq[String]): DataFrame = {
    val spark = long.sparkSession
    val grid = long.select(orderCol).distinct()
      .crossJoin(broadcast(spark.createDataset(keys)(
        org.apache.spark.sql.Encoders.STRING).toDF(keyCol)))
    val sparse = grid.join(long, Seq(orderCol, keyCol), "left")
    ffillBfill(sparse, orderCol, Seq(valCol), partitionCols = Seq(keyCol))
  }

  /** W1 at 100 TB for ONE series: bucketed ffill-then-bfill with NO global
    * window — [[graft.operators.Windows.prefixSumPartitioned]]'s offset
    * trick applied to carried VALUES instead of sums. Rows are
    * range-partitioned by `orderCol` and sorted within partitions; a
    * per-partition (first, last) non-null summary per column — computed
    * with order-independent `min_by`/`max_by` keyed on `orderCol`, so the
    * aggregation is shuffle-safe — is collected to the driver
    * (O(partitions × cols)); each partition then fills locally and falls
    * back to the carried boundary values:
    * {{{
    *   ffill_global = coalesce(ffill_local, last non-null of earlier buckets)
    *   bfill_global = coalesce(bfill_local, first non-null of later buckets)
    *   result       = coalesce(ffill_global, bfill_global)
    * }}}
    * which equals the global `coalesce(ffill, bfill)` row-for-row, with
    * every stage parallel. All columns share one bucket-local Window per
    * direction (one projection, as in [[ffillBfill]]). `orderCol` must be
    * unique across rows (the same requirement any order-dependent fill
    * has). */
  def ffillBfillBucketed(df: DataFrame, orderCol: String,
                         cols: Seq[String]): DataFrame = {
    // localCheckpoint, not persist: repartitionByRange samples with an
    // execution-dependent seed — recomputation could move bucket boundaries
    // between the summary pass and the fill pass (same reasoning as
    // Windows.prefixSumPartitioned).
    val sorted = df.repartitionByRange(col(orderCol))
      .sortWithinPartitions(col(orderCol))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)
    val nParts = math.max(1, sorted.rdd.getNumPartitions)
    val aggs = cols.flatMap(c => Seq(
      min_by(col(c), when(col(c).isNotNull, col(orderCol))).as(s"_f_$c"),
      max_by(col(c), when(col(c).isNotNull, col(orderCol))).as(s"_l_$c")))
    val byPid = sorted.groupBy("_pid").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getInt(r.fieldIndex("_pid")) -> r).toMap
    def valueAt(p: Int, name: String): Any =
      byPid.get(p).map(r => r.get(r.fieldIndex(name))).orNull
    val wF = Window.partitionBy("_pid").orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // descending running frame, NOT current..unboundedFollowing: the
    // shrinking frame re-aggregates per row (O(n²) per bucket) — see
    // ffillBfill's scaladoc; identical results, one extra local sort
    val wB = Window.partitionBy("_pid").orderBy(col(orderCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fillAll(sorted, cols) { c =>
      val dt = df.schema(c).dataType
      // driver scans: carryIn(p) = last non-null before bucket p;
      // backCarry(p) = first non-null after bucket p (empty buckets skipped)
      val carryIn = new Array[Any](nParts)
      var seen: Any = null
      var p = 0
      while (p < nParts) {
        carryIn(p) = seen
        val l = valueAt(p, s"_l_$c"); if (l != null) seen = l
        p += 1
      }
      val backCarry = new Array[Any](nParts)
      seen = null
      p = nParts - 1
      while (p >= 0) {
        backCarry(p) = seen
        val f = valueAt(p, s"_f_$c"); if (f != null) seen = f
        p -= 1
      }
      def atPid(a: Array[Any]) =
        element_at(array(a.map(v => lit(v).cast(dt)).toSeq: _*), col("_pid") + 1)
      coalesce(
        last(col(c), ignoreNulls = true).over(wF), atPid(carryIn),
        last(col(c), ignoreNulls = true).over(wB), atPid(backCarry))
    }.drop("_pid")
  }

  /** Fill each column's nulls with that column's mean (`preprocess_data.py:48-55`). */
  def fillMean(df: DataFrame, cols: Seq[String]): DataFrame =
    fillWithAgg(df, cols, c => avg(col(c)))

  /** Fill each column's nulls with that column's exact median
    * (`preprocess_data.py:56-62`). `median` ≡ `percentile(c, 0.5)` —
    * Spark's Median IS PercentileBase at p=0.5 — so the fit dispatches to
    * the bit-identical primitive-buffer graft_percentile kernel when
    * registered (ExactPercentileSpec pins parity). */
  def fillMedian(df: DataFrame, cols: Seq[String]): DataFrame =
    fillWithAgg(df, cols, c => graft.expressions.ExactPercentiles.pctl(
      df, col(c), lit(0.5), df.schema(c).dataType))

  private def fillWithAgg(df: DataFrame, cols: Seq[String],
                          aggFor: String => org.apache.spark.sql.Column): DataFrame =
    if (cols.isEmpty) df
    else {
      val row = df.agg(aggFor(cols.head).as(cols.head),
        cols.tail.map(c => aggFor(c).as(c)): _*).head()
      val fills = cols.flatMap { c =>
        val i = row.fieldIndex(c)
        if (row.isNullAt(i)) None
        else Some(c -> (row.get(i) match {
          case d: java.lang.Double      => d.doubleValue
          case n: java.lang.Number      => n.doubleValue
          case b: java.math.BigDecimal  => b.doubleValue
          case o => throw new IllegalStateException(s"non-numeric agg for $c: $o")
        }))
      }.toMap
      df.na.fill(fills)
    }

  /** Drop rows with any null in `cols` (`preprocess_data.py:63-66`). */
  def dropNa(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop("any", cols)

  /** Strategy dispatch mirroring `preprocess_data.py:41-75` (unknown
    * strategy = passthrough, as the reference only logs a warning). */
  def apply(df: DataFrame, strategy: String, orderCol: String,
            cols: Seq[String], partitionCols: Seq[String] = Nil): DataFrame =
    strategy match {
      case "ffill_then_bfill"    => ffillBfill(df, orderCol, cols, partitionCols)
      case "mean"                => fillMean(df, cols)
      case "median"              => fillMedian(df, cols)
      // Reference strategy name is "drop_rows" (preprocess_data.py:63,
      // config.yaml); "drop" kept as a lenient alias.
      case "drop_rows" | "drop"  => dropNa(df, cols)
      case "none"                => df
      case other =>
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"unknown missing-value strategy '$other'; passing through unfilled")
        df
    }
}
