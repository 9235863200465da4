package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bit-parity contract for the `graft_percentile` kernel vs Spark's
  * built-in `percentile` / `median` (the promotion bar every kernel swap
  * meets: the registry rows that dispatch to it must be hash-identical
  * to the built-in plans they replaced).
  *
  * Every comparison here is on RAW DOUBLE BITS (`doubleToRawLongBits`),
  * never an epsilon — the kernel claims the identical algorithm
  * (value→count histogram, PhysicalDataType-ordered rank selection,
  * `(hi−pos)·lower + (pos−lo)·higher` interpolation in that operation
  * order), so any ulp drift is a bug. Fixtures are forced through
  * multiple partitions so the partial/merge/serialize path is exercised,
  * not just a single-partition update loop. */
class ExactPercentileSpec extends SparkSpec {
  import spark.implicits._

  private val ps = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0, 0.123456789)

  private def bits(a: Any): Any = a match {
    case null => null
    case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }

  /** Assert kernel ≡ built-in on every p (scalar form) and on the array
    * form, globally and grouped by `keyCol` when given. */
  private def assertParity(df: DataFrame, valueCol: String,
      keyCol: Option[String] = None): Unit = {
    def run(agg: Column => Column): Seq[Seq[Any]] = keyCol match {
      case Some(k) =>
        df.groupBy(col(k)).agg(agg(col(valueCol)).as("r"))
          .orderBy(col(k)).collect().toSeq.map(_.toSeq)
      case None =>
        df.agg(agg(col(valueCol)).as("r")).collect().toSeq.map(_.toSeq)
    }
    for (p <- ps) {
      val builtin = run(c => percentile(c, lit(p)))
      val kernel = run(c => call_function("graft_percentile", c, lit(p)))
      assert(kernel.map(_.map(bits)) == builtin.map(_.map(bits)),
        s"p=$p: kernel $kernel != builtin $builtin")
    }
    val arr = array(ps.map(lit): _*)
    val builtinA = run(c => percentile(c, arr))
    val kernelA = run(c => call_function("graft_percentile", c, arr))
    assert(kernelA.map(_.map(bits)) == builtinA.map(_.map(bits)),
      s"array form: kernel $kernelA != builtin $builtinA")
  }

  test("doubles with heavy duplicates, multi-partition merge path") {
    val df = (1 to 4000).map(i => ((i % 7).toString,
        ((i * 37) % 100) / 8.0)).toDF("k", "v")
      .repartition(7)
    assertParity(df, "v")
    assertParity(df, "v", Some("k"))
  }

  test("longs and ints (exact-integer children)") {
    val lngs = (1 to 3001).map(i => ((i % 5).toString,
        ((i.toLong * 2654435761L) % 1000L) - 500L)).toDF("k", "v")
      .repartition(5)
    assertParity(lngs, "v")
    assertParity(lngs, "v", Some("k"))
    val ints = (1 to 500).map(i => ("g", i * i)).toDF("k", "v")
      .repartition(3)
    assertParity(ints, "v")
    // ±2^63 edges: distinct longs beyond 2^53 share a double image — the
    // built-in still interpolates them (key equality on the raw longs)
    val edges = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
      (1L << 53) - 1, 1L << 53, (1L << 53) + 1, Long.MaxValue - 1,
      Long.MaxValue).map(("e", _)).toDF("k", "v").repartition(3)
    assertParity(edges, "v")
  }

  test("NaN, infinities and signed zeros follow Double.compare order") {
    val vals: Seq[java.lang.Double] = Seq(
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, 1.5, -1.5, Double.NaN, 0.0, -0.0, Double.MinPositiveValue)
    val df = vals.zipWithIndex
      .map { case (v, i) => ((i % 3).toString, v) }.toDF("k", "v")
      .repartition(4)
    assertParity(df, "v")
    assertParity(df, "v", Some("k"))
  }

  test("nulls skipped; all-null and empty inputs yield NULL") {
    val df = Seq[(String, java.lang.Double)](
      ("a", 1.0), ("a", null), ("a", 3.0),
      ("b", null), ("b", null)).toDF("k", "v").repartition(3)
    assertParity(df, "v", Some("k"))
    assertParity(df.filter(lit(false)), "v") // empty input → null
    val r = df.filter(lit(false))
      .agg(call_function("graft_percentile", col("v"), lit(0.5))).head()
    assert(r.isNullAt(0))
  }

  test("single value, two values, integer-position hits") {
    assertParity(Seq(("x", 42.5)).toDF("k", "v"), "v")
    assertParity(Seq(("x", 1.0), ("x", 2.0)).toDF("k", "v"), "v")
    // 5 values: p=0.25 lands exactly on index 1 — the lo==hi early return
    assertParity((1 to 5).map(i => ("x", i * 1.1)).toDF("k", "v"), "v")
  }

  test("median ≡ graft_percentile(c, 0.5) bit-for-bit") {
    val df = (1 to 999).map(i => ((i * 31) % 250) / 3.0).toDF("v")
      .repartition(6)
    val m = df.agg(median(col("v"))).head().getDouble(0)
    val k = df.agg(call_function("graft_percentile", col("v"), lit(0.5)))
      .head().getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(m) ==
      java.lang.Double.doubleToRawLongBits(k))
  }

  test("dispatch helper falls back to the built-in on unsupported types") {
    val dec = Seq(("a", BigDecimal(1.25)), ("a", BigDecimal(2.5)))
      .toDF("k", "v")
    // decimal child: helper must plan the built-in (no analysis error)
    val c = ExactPercentiles.pctl(col("v"), lit(0.5),
      dec.schema("v").dataType)
    val viaHelper = dec.agg(c).head().getDouble(0)
    val viaBuiltin = dec.agg(percentile(col("v"), lit(0.5)))
      .head().getDouble(0)
    assert(viaHelper == viaBuiltin)
  }

  test("kernel rejects non-numeric children loudly") {
    val e = intercept[Exception] {
      Seq(("a", "s")).toDF("k", "v")
        .agg(call_function("graft_percentile", col("v"), lit(0.5))).head()
    }
    assert(e.getMessage.contains("graft_percentile") ||
      e.getMessage.toLowerCase.contains("datatype mismatch"))
  }

  test("null percentage literal is rejected at analysis, like the built-in") {
    // r18 ADVICE item 1: used to pass checkInputDataTypes (empty forall)
    // and crash at eval on results.head
    val df = Seq(("a", 1.0), ("a", 2.0)).toDF("k", "v")
    val eScalar = intercept[Exception] {
      df.agg(call_function("graft_percentile", col("v"),
        lit(null).cast("double"))).head()
    }
    assert(eScalar.getMessage.contains("graft_percentile"))
    val eArray = intercept[Exception] {
      df.agg(call_function("graft_percentile", col("v"),
        lit(null).cast("array<double>"))).head()
    }
    assert(eArray.getMessage.contains("graft_percentile"))
  }

  test("null element in an array percentage literal is rejected at analysis") {
    // the built-in's toDoubleArray unboxes the null element to 0.0 and
    // silently returns the minimum; the kernel fails loudly instead, as it
    // does for a whole-literal null
    val df = Seq(("a", 1.0), ("a", 2.0)).toDF("k", "v")
    val pcts = array(lit(0.5), lit(null).cast("double"))
    val e = intercept[Exception] {
      df.agg(call_function("graft_percentile", col("v"), pcts)).head()
    }
    assert(e.getMessage.contains("graft_percentile"), e.getMessage)
    assert(e.getMessage.contains("must not be null"), e.getMessage)
  }
}
