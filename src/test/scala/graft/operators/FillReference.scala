package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The per-column `withColumn` fold that `Fill.ffillBfill` and
  * `Fill.ffillBfillBucketed` replaced with one projection. Kept in test
  * scope as their parity reference (FillSpec): the same window specs and
  * carry arithmetic, one Window and one Sort per column per direction. */
object FillReference {

  def ffillBfill(df: DataFrame, orderCol: String, cols: Seq[String],
                 partitionCols: Seq[String] = Nil): DataFrame = {
    def w(order: org.apache.spark.sql.Column) =
      (if (partitionCols.isEmpty) Window.orderBy(order)
       else Window.partitionBy(partitionCols.map(col): _*).orderBy(order))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w(col(orderCol))
    val back = w(col(orderCol).desc)
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        coalesce(
          last(col(c), ignoreNulls = true).over(fwd),
          last(col(c), ignoreNulls = true).over(back)))
    }
  }

  def ffillBfillBucketed(df: DataFrame, orderCol: String,
                         cols: Seq[String]): DataFrame = {
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
    val wB = Window.partitionBy("_pid").orderBy(col(orderCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(sorted) { (d, c) =>
      val dt = df.schema(c).dataType
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
      d.withColumn(c, coalesce(
        last(col(c), ignoreNulls = true).over(wF), atPid(carryIn),
        last(col(c), ignoreNulls = true).over(wB), atPid(backCarry)))
    }.drop("_pid")
  }
}
