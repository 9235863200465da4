package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec

class FillSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** `n` rows per key of `keys`, `k` double columns c0..c{k-1}, plus a
    * passthrough string column: leading and trailing null runs (longer for
    * later columns), interior nulls, one NaN per column, and, from k = 3,
    * an all-null last column. Rows are shuffled so no input order helps. */
  private def sparse(k: Int, keys: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(7L * k + keys)
    val rows = for (key <- 0 until keys; t <- 0 until n) yield {
      val vals = (0 until k).map { c =>
        if (k >= 3 && c == k - 1) null
        else if (t < 1 + c || t >= n - 1 - c % 3) null
        else if (t == n / 2 + c) java.lang.Double.NaN
        else if (rnd.nextDouble() < 0.4) null
        else java.lang.Double.valueOf(rnd.nextGaussian())
      }
      Row.fromSeq(Seq(s"k$key", t.toLong) ++ vals :+ s"tag$t")
    }
    val schema = StructType(
      Seq(StructField("k", StringType), StructField("ts", LongType)) ++
        (0 until k).map(c => StructField(s"c$c", DoubleType)) :+
        StructField("tag", StringType))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rnd.shuffle(rows), 3), schema)
  }

  private def windowExecs(d: DataFrame): Int = {
    d.collect() // execute, so the adaptive plan is final
    collect(d.queryExecution.executedPlan) { case w: WindowExec => w }.size
  }

  private def sortedRows(d: DataFrame): Seq[Row] =
    d.orderBy("k", "ts").collect().toSeq

  private def df = Seq(
    (1L, None: Option[Double], Some(5.0)),
    (2L, Some(2.0), None: Option[Double]),
    (3L, None: Option[Double], None: Option[Double]),
    (4L, Some(4.0), Some(8.0))
  ).toDF("ts", "x", "y")

  test("ffillBfill: interior nulls take last previous value, leading take first following (W1)") {
    val f = Fill.ffillBfill(df, "ts", Seq("x", "y")).orderBy("ts").collect()
    assert(f.map(_.getDouble(1)).toSeq == Seq(2.0, 2.0, 2.0, 4.0)) // bfill leading, ffill interior
    assert(f.map(_.getDouble(2)).toSeq == Seq(5.0, 5.0, 5.0, 8.0))
  }

  test("ffillBfill leaves no nulls iff column has at least one non-null") {
    val withEmpty = df.withColumn("z",
      org.apache.spark.sql.functions.lit(null).cast("double"))
    val f = Fill.ffillBfill(withEmpty, "ts", Seq("x", "z"))
    assert(f.filter($"x".isNull).count() == 0)
    assert(f.filter($"z".isNull).count() == 4) // all-null column stays null
  }

  test("ffillBfillBucketed == global ffillBfill across bucket boundaries, no global window") {
    // long sparse series: null runs longer than a bucket, leading and
    // trailing nulls, an all-null column — every carry case exercised
    val rows = (0 until 200).map { i =>
      val x = if (i < 7 || i >= 193 || (i % 29) < 13) None else Some(i.toDouble)
      val y = if (i == 100) Some(1.5) else None // one non-null: carries everywhere
      (i.toLong, x, y, None: Option[Double])
    }
    val d = rows.toDF("ts", "x", "y", "z").repartition(8)
    val global = Fill.ffillBfill(d, "ts", Seq("x", "y", "z"))
      .orderBy("ts").collect().map(r => (r.get(1), r.get(2), r.get(3))).toSeq
    val bucketed = Fill.ffillBfillBucketed(d, "ts", Seq("x", "y", "z"))
    val got = bucketed.orderBy("ts").collect()
      .map(r => (r.get(r.fieldIndex("x")), r.get(r.fieldIndex("y")),
        r.get(r.fieldIndex("z")))).toSeq
    assert(got == global)
    // scale contract: the plan contains no single-partition window
    val exec = bucketed.queryExecution.executedPlan
    val globalWindows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "bucketed fill must not plan a global window")
  }

  test("fillMean uses the column mean (A1)") {
    val f = Fill.fillMean(df, Seq("x")).orderBy("ts").collect()
    assert(f(0).getDouble(1) == 3.0) // mean(2,4)
    assert(f(2).getDouble(1) == 3.0)
  }

  test("fillMedian uses the exact median (A2)") {
    val d = Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, Some(10.0)),
      (4L, None: Option[Double])).toDF("ts", "x")
    val f = Fill.fillMedian(d, Seq("x")).orderBy("ts").collect()
    assert(f(3).getDouble(1) == 2.0)
  }

  test("strategy dispatch: drop_rows (reference name) and drop both drop") {
    // only ts=4 has both x and y non-null
    assert(Fill(df, "drop_rows", "ts", Seq("x", "y")).count() == 1)
    assert(Fill(df, "drop", "ts", Seq("x", "y")).count() == 1)
  }

  test("strategy dispatch: none and unknown pass through unchanged") {
    assert(Fill(df, "none", "ts", Seq("x")).count() == 4)
    assert(Fill(df, "banana", "ts", Seq("x"))
      .filter($"x".isNull).count() == 2)
  }

  test("fillWithAgg guards empty column list") {
    assert(Fill.fillMean(df, Nil).count() == 4)
  }

  test("no UnboundedFollowing frame in any fill plan (quadratic at scale)") {
    // Spark re-aggregates a shrinking (current..unboundedFollowing) frame
    // from scratch per row — O(n²) per partition; at 389k minutes/series
    // the flagship's bfill measured 30+ min per task before the
    // descending-running-frame rewrite (round 14). Results are pinned
    // equal by the tests above; this pins the PLAN so the frame can't
    // silently come back.
    val filled = Fill.ffillBfill(df, "ts", Seq("x"))
    val filledP = Fill.ffillBfill(df, "ts", Seq("x"), partitionCols = Seq("ts"))
    val bucketed = Fill.ffillBfillBucketed(df, "ts", Seq("x"))
    for (d <- Seq(filled, filledP, bucketed)) {
      val plan = d.queryExecution.optimizedPlan.toString.toLowerCase
      assert(!plan.contains("unboundedfollowing"), plan.take(400))
    }
  }

  for (k <- Seq(1, 3, 10); keys <- Seq(1, 3)) {
    val shape = if (keys == 1) "global" else "partitioned"
    test(s"ffillBfill $shape, $k column(s): equals the per-column fold row for row in 2 WindowExecs") {
      val d = sparse(k, keys, n = 40)
      val cols = (0 until k).map(c => s"c$c")
      val parts = if (keys == 1) Nil else Seq("k")
      val got = Fill.ffillBfill(d, "ts", cols, parts)
      val ref = FillReference.ffillBfill(d, "ts", cols, parts)
      assert(got.columns.toSeq == d.columns.toSeq)
      assert(sortedRows(got) == sortedRows(ref))
      assert(got.filter(col("c0").isNull).isEmpty) // every c0 series has values
      // one Window per direction for any column count (the fold plans 2k)
      assert(windowExecs(got) == 2)
    }
  }

  for (k <- Seq(1, 3, 10)) {
    test(s"ffillBfillBucketed, $k column(s): equals the per-column fold across bucket boundaries in 2 WindowExecs") {
      // 3 series stacked on one time axis: 120 rows range-partitioned into
      // 4 buckets, with null runs that cross bucket edges
      val d = sparse(k, 3, n = 40)
        .withColumn("ts", col("ts") * 3 + org.apache.spark.sql.functions
          .substring(col("k"), 2, 1).cast("long"))
        .withColumn("k", org.apache.spark.sql.functions.lit("k0"))
        .repartition(4)
      val cols = (0 until k).map(c => s"c$c")
      val got = Fill.ffillBfillBucketed(d, "ts", cols)
      val ref = FillReference.ffillBfillBucketed(d, "ts", cols)
      assert(got.columns.toSeq == ref.columns.toSeq)
      assert(sortedRows(got) == sortedRows(ref))
      assert(sortedRows(got) == sortedRows(Fill.ffillBfill(d, "ts", cols)))
      assert(windowExecs(got) == 2)
    }
  }
}
