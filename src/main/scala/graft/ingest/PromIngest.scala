package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Prometheus `query_range` ingest: JSON decode (S2), chunked fetch with a
  * parquet chunk cache (S1/S3), and wide-table assembly (J1+U1+U2+W3+W4+P4).
  *
  * Reference behavior being reproduced (not ported):
  *  - JSON shape + coerce-to-null parse: `/root/reference/data_collector.py:57-77`
  *  - keep only the FIRST series of a multi-series result:
  *    `/root/reference/data_collector.py:71-75`
  *  - 1-hour chunked fetch memoized by (url, query, start, end, step):
  *    `/root/reference/data_collector.py:34-39,85-111,142-149`
  *  - dedup-keep-first + sort + calendar cols:
  *    `/root/reference/data_collector.py:120-127,222-227`
  *
  * Spark-first: the decode is `from_json` + `explode` (codegen'd, no UDF);
  * the cache is a partitioned parquet directory — existence probe = manual
  * partition pruning, and once written, re-runs read only missing chunks.
  * Fetches parallelize across (query × chunk) as a Dataset flatMap so a
  * 1000-executor cluster pulls chunks concurrently (driver-side loop only
  * assembles paths).
  *
  * The realtime cycle's window is a few hundred samples, where planning
  * that job costs more than the data: [[fetchOnDriver]] and [[decodeBody]]
  * fetch and decode one URL on the calling thread with the same retry
  * policy, fetch-health accounting and decode rules.
  */
object PromIngest {

  /** FIXTURES.md §1 / SURVEY S2 parse schema. */
  val responseSchema: StructType = StructType(Seq(
    StructField("status", StringType),
    StructField("errorType", StringType),
    StructField("error", StringType),
    StructField("data", StructType(Seq(
      StructField("resultType", StringType),
      StructField("result", ArrayType(StructType(Seq(
        StructField("metric", MapType(StringType, StringType)),
        StructField("values", ArrayType(ArrayType(StringType)))
      ))))
    )))
  ))

  /** S2: decode a column of raw query_range JSON bodies into long rows
    * (`alias`, `labels`, `ts`, `value`). Per reference: only the first
    * series per response is kept; epoch strings → timestamp; non-numeric
    * values → null (pandas `errors='coerce'`); error responses yield no rows.
    * Labels are kept as a map (richer than the reference, which drops them). */
  def decodeResponses(df: DataFrame, jsonCol: String, aliasCol: String,
                      passthrough: Seq[String] = Nil): DataFrame = {
    val parsed = df.withColumn("_r", from_json(col(jsonCol), responseSchema))
    parsed
      .filter(col("_r.status") === "success" && size(col("_r.data.result")) > 0)
      // try_element_at, not element_at: Catalyst is free to collapse this
      // projection below the filter (it does when the body rides in from a
      // nondeterministic fetch UDF), and ANSI element_at would then throw
      // INVALID_ARRAY_INDEX on the empty-result rows the filter was about
      // to drop — null is the plan-shape-independent "first series only"
      .withColumn("_series", try_element_at(col("_r.data.result"), lit(1)))
      .withColumn("_pair", explode(col("_series.values")))
      .select(
        col(aliasCol).as("alias") +:
        col("_series.metric").as("labels") +:
        // try_cast: invalid numeric → null, matching pandas
        // to_numeric(errors='coerce') — ANSI-mode cast would throw instead.
        timestamp_seconds(element_at(col("_pair"), 1).try_cast("double")).as("ts") +:
        element_at(col("_pair"), 2).try_cast("double").as("value") +:
        passthrough.map(col): _*)
  }

  /** Driver-side twin of [[decodeResponses]] for ONE response body: the
    * `(ts, value)` samples of its first series, with the same coercions —
    * every scalar token is read as the text `from_json` gives a
    * `StringType` field, that text goes through the `try_cast` string→double
    * rules (`Double.valueOf`, then Spark's special literals such as
    * `"+Inf"`, else null), epochs through `timestamp_seconds` (NaN/±Inf →
    * null ts), and a malformed body, an error status or an empty result
    * yields no samples. JSON parsing uses `from_json`'s default reader
    * options. The realtime detector's fetch decodes its few hundred
    * samples here instead of planning a job per cycle; the
    * `PromIngestSpec` parity specs pin it to [[decodeResponses]]. */
  def decodeBody(body: String): IndexedSeq[(java.sql.Timestamp, java.lang.Double)] = {
    val root =
      if (body == null) null
      else try {
        val p = jsonFactory.createParser(body)
        try { p.nextToken(); readJson(p) } finally p.close()
      } catch { case _: com.fasterxml.jackson.core.JsonProcessingException => null }
    def field(v: Any, k: String): Any = v match {
      case m: collection.Map[_, _] => m.asInstanceOf[collection.Map[String, Any]].getOrElse(k, null)
      case _ => null
    }
    val series = field(field(root, "data"), "result") match {
      case r: collection.Seq[Any @unchecked] if field(root, "status") == "success" =>
        r.headOption.orNull
      case _ => null
    }
    field(series, "values") match {
      case vs: collection.Seq[_] => vs.toIndexedSeq.map {
        case pair: collection.Seq[_] =>
          // element_at(pair, 1|2) under ANSI fails the decode on a short pair
          require(pair.size >= 2, s"query_range sample pair has ${pair.size} element(s)")
          val epoch = tryCastDouble(pair(0))
          val ts =
            if (epoch == null || epoch.isNaN || epoch.isInfinite) null
            else org.apache.spark.sql.catalyst.util.DateTimeUtils
              .toJavaTimestamp((epoch.doubleValue * 1000000L).toLong)
          (ts, tryCastDouble(pair(1)))
        case _ => (null, null) // a null pair explodes to one all-null row
      }
      case _ => IndexedSeq.empty
    }
  }

  private lazy val jsonFactory =
    new org.apache.spark.sql.catalyst.json.JSONOptions(
      Map.empty[String, String], "UTC", "").buildJsonFactory()

  /** Strings as their text, other scalars as the text `from_json` gives a
    * `StringType` field (the token re-serialized by a generator: `-0`
    * reads as `0`), objects as maps, arrays as sequences. */
  private def readJson(p: com.fasterxml.jackson.core.JsonParser): Any = {
    import com.fasterxml.jackson.core.JsonToken._
    p.currentToken match {
      case START_OBJECT =>
        val m = scala.collection.mutable.HashMap[String, Any]()
        while (p.nextToken() == FIELD_NAME) {
          val k = p.currentName; p.nextToken(); m(k) = readJson(p)
        }
        m
      case START_ARRAY =>
        val b = scala.collection.mutable.ArrayBuffer[Any]()
        var t = p.nextToken()
        while (t != END_ARRAY && t != null) { b += readJson(p); t = p.nextToken() }
        b
      case VALUE_NULL | null => null
      case VALUE_STRING => p.getText
      case _ =>
        val w = new java.io.StringWriter()
        val g = jsonFactory.createGenerator(w)
        try g.copyCurrentStructure(p) finally g.close()
        w.toString
    }
  }

  /** `try_cast(text AS double)`; containers and nulls give null. */
  private def tryCastDouble(v: Any): java.lang.Double = v match {
    case s: String =>
      try java.lang.Double.valueOf(s)
      catch { case _: NumberFormatException =>
        org.apache.spark.sql.catalyst.expressions.Cast
          .processFloatingPointSpecialLiterals(s, false).asInstanceOf[java.lang.Double]
      }
    case _ => null
  }

  /** P4: pandas-convention calendar projection — `weekday()` is Monday=0
    * like pandas `dayofweek`; Spark's `dayofweek()` (Sunday=1) is the trap.
    * (`data_collector.py:226-227`). */
  def withCalendar(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("day_of_week", weekday(col(tsCol)))
      .withColumn("hour_of_day", hour(col(tsCol)))

  /** One fetchable unit: a (query alias, chunk) cell of the fetch grid. */
  final case class Chunk(alias: String, query: String,
                         startSec: Long, endSec: Long, stepSec: Long)

  /** S1 driver helper: split [start, end) into `chunkHours` cells per query
    * (`data_collector.py:93-111`). */
  def chunkGrid(queries: Seq[(String, String)], startSec: Long, endSec: Long,
                stepSec: Long, chunkHours: Int = 1): Seq[Chunk] = {
    val span = chunkHours * 3600L
    for {
      (alias, q) <- queries
      s <- startSec until endSec by span
    } yield Chunk(alias, q, s, math.min(s + span, endSec), stepSec)
  }

  /** Build the query_range URL for a chunk (public Prometheus HTTP API). */
  def chunkUrl(base: String, c: Chunk): String = {
    val q = java.net.URLEncoder.encode(c.query, "UTF-8")
    s"$base/api/v1/query_range?query=$q&start=${c.startSec}&end=${c.endSec}&step=${c.stepSec}"
  }

  /** Default fetcher over `java.net.http` (pluggable so tests inject
    * fixtures). HTTP status ≥ 400 THROWS instead of returning the error
    * body — a 5xx must look like the transient failure it is so the
    * [[withRetry]] layer can act on it (a returned error body would
    * silently decode to zero rows and skip the retry). */
  /** Error-status fetch result, carrying the status code so the retry
    * layer can distinguish permanent client errors (bad PromQL, 401/404 —
    * retrying cannot help and masks a configuration bug as flakiness)
    * from transient server/network trouble (5xx, 429, timeouts). */
  final class HttpStatusException(val status: Int, url: String, body: String)
    extends java.io.IOException(s"HTTP $status from $url: ${body.take(200)}") {
    /** 4xx except the transient-by-contract trio: 429 (rate limit),
      * 408 (request timeout — a loaded proxy condition one retry clears),
      * and 425 (too early). */
    def isPermanent: Boolean = status >= 400 && status < 500 &&
      status != 429 && status != 408 && status != 425
  }

  def httpFetch(url: String): String = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() >= 400)
      throw new HttpStatusException(resp.statusCode(), url, resp.body())
    resp.body()
  }

  /** Bounded-retry policy for chunk fetches. Backoff is EQUAL-JITTER
    * exponential — `cap/2 + hash(url, attempt) % (cap/2)` with
    * `cap = min(maxBackoffMs, baseBackoffMs · 2^(attempt−1))` — so a
    * 1000-executor fleet retrying a flapped endpoint de-synchronizes
    * (full-jitter spread) without ever sleeping less than half the
    * intended backoff. The jitter source is a hash of (url, attempt),
    * NOT an RNG: a retried Spark task replays the identical sleep
    * schedule, keeping the fetch stage deterministic under task retry
    * (the repo-wide no-`Random` discipline). `sleep` is injectable so
    * specs assert the schedule without wall-clock waits. */
  final case class RetryPolicy(maxAttempts: Int = 3,
                               baseBackoffMs: Long = 100,
                               maxBackoffMs: Long = 2000,
                               sleep: Long => Unit = Thread.sleep) {
    require(maxAttempts >= 1, s"need maxAttempts >= 1, got $maxAttempts")
    require(baseBackoffMs >= 1 && maxBackoffMs >= baseBackoffMs,
      s"need 1 <= baseBackoffMs <= maxBackoffMs, got $baseBackoffMs/$maxBackoffMs")
    def backoffMs(url: String, attempt: Int): Long = {
      val cap = math.min(maxBackoffMs,
        baseBackoffMs << math.min(attempt - 1, 20))
      val h = (scala.util.hashing.MurmurHash3
        .stringHash(s"$url#$attempt") & Int.MaxValue).toLong
      cap / 2 + h % math.max(cap / 2, 1L)
    }
  }

  /** Raised on the fail-closed path when a chunk exhausts every attempt —
    * typed and alias-carrying so the DRIVER can attribute the failure to
    * its query: Spark drops accumulator updates from failed tasks, so the
    * dying task cannot count its own exhaustion; the driver unwraps this
    * from the job-abort cause chain instead ([[FetchStats.recordExhausted]],
    * wired in Detector's degraded path). */
  final class FetchExhaustedException(val alias: String, val url: String,
      val attempts: Int, cause: Throwable)
    extends RuntimeException(
      s"fetch exhausted $attempts attempts for query '$alias': $url", cause)

  object FetchExhaustedException {
    /** The exhaustion of `url` after `policy` gave up on `e`. A permanent
      * 4xx failed FAST on attempt 1 — attributing the full schedule would
      * report the config error as maxAttempts worth of endpoint
      * flakiness, the very thing fail-fast exists to avoid. */
    def apply(alias: String, url: String, policy: RetryPolicy,
              e: Throwable): FetchExhaustedException =
      new FetchExhaustedException(alias, url,
        e match {
          case h: HttpStatusException if h.isPermanent => 1
          case _ => policy.maxAttempts
        }, e)

    /** The innermost FetchExhaustedException in a (SparkException-wrapped)
      * cause chain, if any. */
    def unwrap(e: Throwable): Option[FetchExhaustedException] = {
      var cur = e
      while (cur != null) {
        cur match {
          case f: FetchExhaustedException => return Some(f)
          case _ => ()
        }
        cur = if (cur.getCause eq cur) null else cur.getCause
      }
      None
    }
  }

  /** Count-by-alias accumulator: state is ONE Long per distinct query
    * alias, merged by sum. The earlier CollectionAccumulator[String]
    * retained one list element PER EVENT for the lifetime of the
    * SparkContext — in the Detector's 30 s polling loop against a flapping
    * endpoint that is unbounded driver growth, and every gauge publish
    * re-grouped the whole history. This keeps state O(#queries) and reads
    * O(#queries) no matter how long the loop runs. */
  final class CountByKeyAccumulator
    extends org.apache.spark.util.AccumulatorV2[String, Map[String, Long]] {
    private val counts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    override def isZero: Boolean = counts.isEmpty
    override def copy(): CountByKeyAccumulator = {
      val c = new CountByKeyAccumulator
      counts.forEach((k, v) => c.counts.put(k, v))
      c
    }
    override def reset(): Unit = counts.clear()
    override def add(v: String): Unit =
      counts.merge(v, 1L, (a, b) => a + b)
    def addN(v: String, n: Long): Unit =
      if (n > 0) counts.merge(v, n, (a, b) => a + b)
    override def merge(
        other: org.apache.spark.util.AccumulatorV2[String, Map[String, Long]]): Unit =
      other.value.foreach { case (k, n) => addN(k, n) }
    override def value: Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      counts.forEach((k, v) => b += (k -> v.longValue))
      b.result()
    }
  }

  /** Per-query fetch-health counters, accumulator-backed so executor-side
    * events surface on the driver. Exactness contract: under `failOpen`
    * every fetch task succeeds and the counts are exact; under the
    * fail-closed default, counts from the ABORTING task are dropped by
    * Spark (failed-task accumulator semantics) and the exhausted chunk is
    * re-attributed driver-side via [[recordExhausted]] — retry counts
    * from sibling chunks inside the killed task are a lower bound.
    * Feeds the exporter's per-query gauges (ST5 integration). State and
    * read cost are O(#distinct aliases), constant over loop lifetime. */
  final class FetchStats(spark: SparkSession) extends Serializable {
    val retries: CountByKeyAccumulator = new CountByKeyAccumulator
    val failures: CountByKeyAccumulator = new CountByKeyAccumulator
    spark.sparkContext.register(retries, "graft.fetch.retries")
    spark.sparkContext.register(failures, "graft.fetch.failures")
    /** alias → number of retried attempts (transient failures). */
    def retriesByQuery: Map[String, Long] = retries.value
    /** alias → number of chunks that exhausted every attempt. */
    def failuresByQuery: Map[String, Long] = failures.value
    /** Driver-side attribution of a fail-closed exhaustion (the failing
      * task's own accumulator updates were dropped — see class doc). */
    def recordExhausted(f: FetchExhaustedException): Unit = {
      retries.addN(f.alias, (f.attempts - 1).toLong)
      failures.add(f.alias)
    }
  }

  /** Wrap a fetcher with [[RetryPolicy]] semantics: transient failures
    * are retried up to `maxAttempts` with jittered backoff; exhaustion
    * rethrows the LAST error (fail-closed — the reference's posture,
    * `realtime_detector.py:158-190`, which aborts the cycle on any query
    * failure; our cycle-level ST5 degraded path then takes over).
    * Permanent client errors ([[HttpStatusException.isPermanent]]: 4xx
    * except 429) FAIL FAST on the first attempt — a bad PromQL expression
    * or revoked token cannot heal by waiting, and running the full backoff
    * schedule on every 30 s cycle both delays the degraded-mode signal and
    * disguises a configuration bug as endpoint flakiness. `onRetry` fires
    * before each backoff sleep — the gauge/log hook. */
  def withRetry(fetch: String => String,
                policy: RetryPolicy = RetryPolicy(),
                onRetry: (String, Int, Throwable) => Unit = (_, _, _) => ())
      : String => String = { url =>
    var attempt = 1
    var out: Option[String] = None
    var lastErr: Throwable = null
    while (out.isEmpty && attempt <= policy.maxAttempts) {
      try out = Some(fetch(url))
      catch {
        case e: HttpStatusException if e.isPermanent => throw e
        case scala.util.control.NonFatal(e) =>
          lastErr = e
          if (attempt < policy.maxAttempts) {
            onRetry(url, attempt, e)
            policy.sleep(policy.backoffMs(url, attempt))
          }
          attempt += 1
      }
    }
    out.getOrElse(throw lastErr)
  }

  /** One URL fetched on the calling thread under `policy`, with the same
    * fetch-health accounting as a [[fetchChunks]] task: a URL's retries
    * are added to `stats` only once it succeeds; exhaustion throws a
    * [[FetchExhaustedException]] and leaves the attribution to the caller's
    * [[FetchStats.recordExhausted]] (adding the retries here as well would
    * count them twice). */
  def fetchOnDriver(alias: String, url: String, fetch: String => String,
                    policy: RetryPolicy, stats: Option[FetchStats]): String = {
    var retried = 0L
    val body =
      try withRetry(fetch, policy, onRetry = (_, _, _) => retried += 1)(url)
      catch {
        case scala.util.control.NonFatal(e) =>
          throw FetchExhaustedException(alias, url, policy, e)
      }
    stats.foreach(_.retries.addN(alias, retried))
    body
  }

  /** S1+S3: fetch all chunks (distributed: executors run `fetch` in
    * parallel across the grid), decode, and memoize per-chunk results in a
    * parquet cache partitioned by (alias, chunk_start). On re-runs, cached
    * (alias, chunk) cells are read back instead of fetched — the same
    * manual partition pruning the reference's diskcache does.
    *
    * Resilience (round-9): every fetch runs under `retry` (bounded
    * attempts, jittered backoff — [[withRetry]]); `stats` collects
    * per-query retry/permanent-failure counts across executors for the
    * exporter gauges. Exhaustion posture: by default the error propagates
    * (task fails → Spark's own task retry → ultimately the caller's
    * degraded-cycle path — the reference's abort-on-any-failure
    * semantics, `realtime_detector.py:158-190`). `failOpen = true`
    * instead degrades the EXHAUSTED CHUNK to zero rows and keeps the
    * batch alive — the right posture for a 1000-chunk backfill where one
    * flapping query must not kill hours of work; the missing-data hole is
    * visible in `stats.failuresByQuery` and downstream in the totalize /
    * partial-window guards (P6/ST6). */
  def fetchChunks(spark: SparkSession, base: String, chunks: Seq[Chunk],
                  cacheDir: Option[String] = None,
                  fetch: String => String = httpFetch,
                  retry: RetryPolicy = RetryPolicy(),
                  stats: Option[FetchStats] = None,
                  failOpen: Boolean = false): DataFrame = {
    import spark.implicits._
    val cached: Option[DataFrame] = cacheDir.filter { d =>
      new java.io.File(d).exists()
    }.flatMap(d => scala.util.Try(spark.read.parquet(d)
      // partition-dir columns are type-inferred on read (int for small
      // epochs) — normalize back to long before compare/union
      .withColumn("chunk_start", col("chunk_start").cast("long"))).toOption)
      // (a cache dir holding only _SUCCESS — e.g. a first run whose fetches
      // all decoded to zero rows — fails schema inference; treat as absent
      // instead of permanently breaking the collect stage)
    val have: Set[(String, Long)] = cached match {
      case Some(c) => c.select("alias", "chunk_start").distinct()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      case None => Set.empty
    }
    val missing = chunks.filterNot(c => have.contains((c.alias, c.startSec)))

    def decodeMissing(): DataFrame = {
      val urls = missing.map(c => (c.alias, c.startSec, chunkUrl(base, c)))
      // capture locals only — the UDF closure ships to executors
      val (fetchFn, policy, statsLocal, fo) = (fetch, retry, stats, failOpen)
      val resilient = udf { (alias: String, url: String) =>
        val wrapped = withRetry(fetchFn, policy,
          onRetry = (_, _, _) => statsLocal.foreach(_.retries.add(alias)))
        try wrapped(url)
        catch {
          case scala.util.control.NonFatal(e) =>
            if (fo) {
              // null body → from_json null → status filter drops it: the
              // exhausted chunk contributes zero rows, nothing downstream
              // sees a partial decode; the task SUCCEEDS, so the counts
              // merge exactly
              statsLocal.foreach(_.failures.add(alias))
              null
            } else
              // fail-closed: a typed, alias-carrying abort — the driver
              // attributes it (failed-task accumulators are dropped)
              throw FetchExhaustedException(alias, url, policy, e)
        }
      }
      val raw = spark.createDataset(urls)
        .toDF("alias", "chunk_start", "url")
        .repartition(math.min(missing.size, 64))
        // asNondeterministic: Catalyst duplicates deterministic
        // expressions across the decode's filter + projections, which
        // here means FETCHING THE SAME CHUNK MORE THAN ONCE per row (the
        // round-9 failure counters caught it: one dead chunk counted two
        // exhaustions). Nondeterministic pins exactly-once evaluation.
        .withColumn("body",
          resilient.asNondeterministic()(col("alias"), col("url")))
      decodeResponses(raw, "body", "alias", Seq("chunk_start"))
    }

    def emptyDecoded: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], decodedSchema)

    cacheDir match {
      case Some(d) =>
        // Write-then-read-back: the cache write is the ONE action that runs
        // the HTTP fetch; everything downstream reads the parquet just
        // written, so (a) no chunk is fetched twice, (b) the returned data
        // is byte-identical to the cache (a re-fetch near now() would
        // differ), and (c) no persisted RDD leaks out of this call.
        if (missing.nonEmpty)
          decodeMissing().write.mode("append")
            .partitionBy("alias", "chunk_start").parquet(d)
        // Try: the dir may be unreadable — nonexistent (zero chunks ever
        // fetched) or _SUCCESS-only (every fetch decoded to zero rows, e.g.
        // empty result arrays) — which fails parquet schema inference.
        scala.util.Try(spark.read.parquet(d)
            .withColumn("chunk_start", col("chunk_start").cast("long")))
          .map { all =>
            // only the REQUESTED chunks (the dir may hold other ranges): a
            // predicate on the two partition columns only, so the scan
            // prunes the cache's partition dirs and no join is planned
            all.filter(chunks.groupBy(_.alias).foldLeft(lit(false)) {
              case (acc, (a, cs)) => acc || (col("alias") === a &&
                col("chunk_start").isin(cs.map(_.startSec).distinct: _*))
            })
          }
          .getOrElse(emptyDecoded)
      case None =>
        // No cache: single-lineage result; callers that consume it more
        // than once persist it themselves (Detector.runCycle does).
        if (missing.nonEmpty) decodeMissing() else emptyDecoded
    }
  }

  /** Output schema of [[decodeResponses]] with the `chunk_start`
    * passthrough — the single source of truth for empty frames. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("alias", StringType),
    StructField("labels", MapType(StringType, StringType)),
    StructField("ts", TimestampType),
    StructField("value", DoubleType),
    StructField("chunk_start", LongType)))

  /** Full assembly: long rows → keep-first pivot to wide → sort → calendar
    * cols. (`data_collector.py:118-127,222-227`.)
    *
    * Each alias column is `Align.keepFirst` — `min_by(value, tiebreakCol)`
    * — over that alias's rows only: `min_by` skips the null orderings the
    * `when` gives every other alias's rows, so the group's first-arriving
    * value is kept, a null one included, and no dedup window runs first.
    * This is the conditional aggregate Spark's own pivot rewrite emits when
    * it does not use `PivotFirst`; written out, it is ONE aggregate instead
    * of the pivot's two (a (ts, alias) aggregate, then a `PivotFirst`
    * object aggregate), which spares generated classes and a job (SCALE.md,
    * "Generated-code working set"). Every alias gets a column, so no
    * totalize step is needed. `tiebreakCol` must be unique (the caller's
    * `monotonically_increasing_id` is). The aggregate and the global sort
    * each shuffle on uniformly-distributed timestamp keys, skew-free at
    * scale. */
  def assembleWide(long: DataFrame, aliases: Seq[String],
                   tiebreakCol: String): DataFrame = {
    def of(a: String, c: String) = when(col("alias") === a, col(c))
    val firsts = aliases.map(a => min_by(of(a, "value"), of(a, tiebreakCol)).as(a))
    val total =
      if (firsts.isEmpty) long.select("ts").distinct()
      else long.groupBy("ts").agg(firsts.head, firsts.tail: _*)
    withCalendar(total.orderBy("ts"), "ts")
  }
}
