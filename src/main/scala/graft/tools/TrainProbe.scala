package graft.tools

import breeze.linalg.DenseMatrix
import graft.model.{Lstm, Training}
import org.apache.spark.sql.SparkSession

/** Dev tool: measured driver-vs-distributed LSTM training throughput
  * (VERDICT r7 item 6). Synthesizes n windows at the reference shape
  * (L=20, F=19 — `config.yaml:97`, 17 series + 2 calendar) from a seeded
  * RNG, times `Training.trainDriver` against `Training.trainDistributed`
  * on identical inputs for a fixed epoch budget, and prints wall time,
  * epochs/s and training windows/s for each — the crossover evidence
  * SCALE.md records. Batch 64, Adam 1e-3, the reference schedule. Runs on
  * `local[SPARK_GRAFT_CPUS]`, default all available cores.
  * Usage: {{{ runMain graft.tools.TrainProbe 2000,8000,32000 3 [batchSize] }}} */
object TrainProbe {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.map(_.split(",").toSeq.map(_.trim.toInt))
      .getOrElse(Seq(2000, 8000))
    val epochs = args.lift(1).map(_.toInt).getOrElse(3)
    val batchSize = args.lift(2).map(_.toInt).getOrElse(64)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (rows, cols) = (20, 19)
    val init = Lstm.glorotInit(cols, seed = 42L)

    sizes.foreach { n =>
      val rng = new scala.util.Random(7L)
      val wins: IndexedSeq[DenseMatrix[Double]] = (0 until n).map { _ =>
        DenseMatrix.fill(rows, cols)(rng.nextGaussian() * 0.5)
      }
      // warm JIT on a small slice before timing either path
      Training.trainDriver(wins.take(256), IndexedSeq.empty, init,
        epochs = 1, patience = 100)

      val t0 = System.nanoTime()
      Training.trainDriver(wins, IndexedSeq.empty, init,
        epochs = epochs, batchSize = batchSize, patience = 100)
      val driverS = (System.nanoTime() - t0) / 1e9

      val rdd = spark.sparkContext.parallelize(wins, cpus.toInt)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.count() // materialize outside the timer
      val t1 = System.nanoTime()
      Training.trainDistributed(spark, rdd, init, epochs = epochs,
        batchSize = batchSize, patience = 100)
      val distS = (System.nanoTime() - t1) / 1e9
      rdd.unpersist(false)

      val windows = n.toDouble * epochs
      println(f"[TrainProbe] n=$n%6d epochs=$epochs batch=$batchSize " +
        f"cores=$cpus: driver ${driverS}%8.2f s " +
        f"(${epochs / driverS}%6.3f ep/s, ${windows / driverS}%7.0f win/s) | " +
        f"distributed ${distS}%8.2f s " +
        f"(${epochs / distS}%6.3f ep/s, ${windows / distS}%7.0f win/s) | " +
        f"dist/driver ${distS / driverS}%5.2f")
    }
    spark.stop()
  }
}
