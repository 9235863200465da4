package perfbench

import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. The seed changes only the generated values, never the
  * shapes: the same seed gives the same tables and the same series. */
object Inputs {
  /** 2024-01-01T00:00:00Z, the start of every generated timeline. */
  val T0: Long = 1704067200L

  /** SplitMix64 finalizer: a stateless hash, so a value depends only on its
    * coordinates (seed, series, timestamp), not on request order. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53)

  /** One Prometheus sample: a per-series level and daily-ish cycle plus
    * hashed noise. */
  def sample(seed: Long, series: Int, tsSec: Long): Double = {
    val period = 3600.0 * (2 + series % 5)
    val noise = unit(mix(seed * 31 + series * 1000003L + tsSec)) - 0.5
    100.0 * (series + 1) + 25.0 * math.sin(2 * math.Pi * tsSec / period) +
      10.0 * noise
  }

  private def rng(seed: Long, salt: Long) = new scala.util.Random(mix(seed ^ salt))

  /** `events.parquet` in the layout the engine's loaders read: event_id in
    * time order, a naive timestamp, five event types, exponential values
    * rounded to cents. Returns the number of distinct event minutes, which
    * fixes the flagship's window count. */
  def writeEvents(spark: SparkSession, dir: String, seed: Long, n: Int,
                  minutes: Int): Long = {
    val r = rng(seed, 0xE7E27L)
    val types = graft.Tables.EventTypes
    val raw = Array.fill(n) {
      val us = r.nextLong(minutes * 60000000L)
      val v = math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0
      (us, 1 + r.nextInt(2000), types(r.nextInt(types.size)), v, r.nextInt(100))
    }.sortBy(_._1)
    val rows = raw.zipWithIndex.map { case ((us, u, t, v, k), i) =>
      val ts = LocalDateTime.ofEpochSecond(T0 + us / 1000000L,
        ((us % 1000000L) * 1000).toInt, ZoneOffset.UTC)
      Row(i.toLong, ts, u.toLong, t, v, s"""{"k": $k}""")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    raw.map(_._1 / 60000000L).distinct.length.toLong
  }

  private val Vocab = ("batch part spark line column order small sort fast " +
    "value scan a hash slow group agg filter query big key window row table " +
    "stream merge data vector index join plan cache shard node task stage " +
    "queue log metric alert").split(" ")

  /** `documents.parquet`: bag-of-words texts over a small vocabulary; about
    * a third are one-word edits of their predecessor, so consecutive-pair
    * near-duplicate clustering has work to do. */
  def writeDocuments(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val r = rng(seed, 0xD0C5L)
    var prev = Array.empty[String]
    val rows = (0 until n).map { i =>
      val words =
        if (prev.nonEmpty && r.nextDouble() < 0.3) {
          val w = prev.clone(); w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length)); w
        } else Array.fill(10 + r.nextInt(50))(Vocab(r.nextInt(Vocab.length)))
      prev = words
      val text = words.mkString(" ")
      Row(i.toLong, text, Seq("en", "zh", "de", "fr")(r.nextInt(4)),
        s"src${r.nextInt(5)}", text.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** `embeddings.parquet`: 64-dim float vectors around eight centers. */
  def writeEmbeddings(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val r = rng(seed, 0xE3BL)
    val centers = Array.fill(8, 64)(r.nextGaussian())
    val rows = (0 until n).map { i =>
      val c = r.nextInt(8)
      Row(i.toLong, centers(c).map(x => (x + 0.3 * r.nextGaussian()).toFloat).toSeq, c)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}

/** A loopback Prometheus that answers `query_range` for queries named
  * `perfbench_series_<k>` with [[Inputs.sample]] values. Its handler pool
  * has daemon threads, and [[stop]] waits for them, so it never holds the
  * JVM open. */
final class FakeProm(seed: Long, threads: Int) {
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicLong
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"fake-prometheus-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private val server = com.sun.net.httpserver.HttpServer.create(
    new InetSocketAddress(InetAddress.getByName("127.0.0.1"), 0), 0)
  server.setExecutor(pool)
  server.createContext("/api/v1/query_range", ex => {
    val q = ex.getRequestURI.getRawQuery.split("&").map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> URLDecoder.decode(kv.drop(i + 1), "UTF-8")
    }.toMap
    val series = q("query").reverse.takeWhile(_.isDigit).reverse.toInt
    val (start, end, step) =
      (q("start").toDouble.toLong, q("end").toDouble.toLong, q("step").toLong)
    val b = new StringBuilder
    b.append("""{"status":"success","data":{"resultType":"matrix","result":[""")
    b.append(s"""{"metric":{"__name__":"perfbench_series_$series"},"values":[""")
    var t = start
    while (t <= end) {
      if (t > start) b.append(',')
      b.append('[').append(t).append(",\"")
        .append(java.lang.Double.toString(Inputs.sample(seed, series, t)))
        .append("\"]")
      t += step
    }
    b.append("]}]}}")
    val body = b.toString.getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, body.length)
    val os = ex.getResponseBody
    os.write(body); os.close()
  })
  server.start()
  val url = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
