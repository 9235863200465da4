package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixtures per FIXTURES.md §1 (shape from data_collector.py:57-77). */
class PromIngestSpec extends SparkSpec {
  import spark.implicits._

  private val single =
    """{"status":"success","data":{"resultType":"matrix","result":[
      |{"metric":{"__name__":"m1","job":"j"},
      | "values":[[1747994400,"1234"],[1747994520,"1250.5"],[1747994640,"not_a_number"]]}]}}"""
      .stripMargin.replace("\n", "")

  private val multi =
    """{"status":"success","data":{"resultType":"matrix","result":[
      |{"metric":{"s":"first"},"values":[[100,"1"]]},
      |{"metric":{"s":"second"},"values":[[100,"2"]]}]}}"""
      .stripMargin.replace("\n", "")

  private val empty = """{"status":"success","data":{"resultType":"matrix","result":[]}}"""
  private val error = """{"status":"error","errorType":"bad_data","error":"parse error"}"""

  private def decode(bodies: (String, String)*) =
    PromIngest.decodeResponses(bodies.toSeq.toDF("alias", "body"), "body", "alias")

  test("S2: values decode to (ts, value) rows; invalid numeric -> null") {
    val rows = decode("q1" -> single).orderBy("ts").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Double]("value") == 1234.0)
    assert(rows(1).getAs[Double]("value") == 1250.5)
    assert(rows(2).isNullAt(rows(2).fieldIndex("value"))) // coerce-to-null
    assert(rows(0).getAs[java.sql.Timestamp]("ts").toInstant.getEpochSecond == 1747994400L)
  }

  test("S2: multi-series keeps only the FIRST series (data_collector.py:71-75)") {
    val rows = decode("q1" -> multi).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Map[String, String]]("labels") == Map("s" -> "first"))
    assert(rows.head.getAs[Double]("value") == 1.0)
  }

  test("S2: empty result and error responses yield no rows") {
    assert(decode("q1" -> empty, "q2" -> error).count() == 0)
  }

  test("P4: weekday is Monday=0 (pandas convention), not Spark dayofweek") {
    // 2024-01-01 is a Monday
    val df = Seq("2024-01-01 10:30:00", "2024-01-07 23:00:00")
      .toDF("s").select(to_timestamp(col("s")).as("ts"))
    val c = PromIngest.withCalendar(df, "ts").orderBy("ts").collect()
    assert(c(0).getAs[Int]("day_of_week") == 0) // Monday
    assert(c(1).getAs[Int]("day_of_week") == 6) // Sunday
    assert(c(0).getAs[Int]("hour_of_day") == 10)
  }

  test("chunkGrid splits [start,end) per query into hour cells (S1)") {
    val g = PromIngest.chunkGrid(Seq("a" -> "qa", "b" -> "qb"),
      0L, 7200L, 120L, chunkHours = 1)
    assert(g.size == 4) // 2 queries x 2 hours
    assert(g.head == PromIngest.Chunk("a", "qa", 0L, 3600L, 120L))
    assert(g(1) == PromIngest.Chunk("a", "qa", 3600L, 7200L, 120L))
  }

  test("fetchChunks: fetches via injected fn, caches, re-run hits cache only (S3)") {
    val dir = java.nio.file.Files.createTempDirectory("promcache").toString + "/cache"
    // JVM-static call counts: the fetch closure executes inside tasks (the
    // round-9 nondeterministic-UDF fix pinned task-side evaluation), so a
    // captured local var would mutate a serialized COPY
    PromFlakyFixture.reset(failuresPerUrl = 0, body = single)
    val chunks = PromIngest.chunkGrid(Seq("q1" -> "up"), 0L, 3600L, 120L)
    val r1 = PromIngest.fetchChunks(spark, "http://example", chunks,
      Some(dir), PromFlakyFixture.fetch)
    assert(r1.count() == 3)
    val callsAfterFirst = PromFlakyFixture.totalCalls
    assert(callsAfterFirst == 1) // one chunk, fetched exactly once
    val r2 = PromIngest.fetchChunks(spark, "http://example", chunks,
      Some(dir), PromFlakyFixture.fetch)
    assert(r2.count() == 3)
    assert(PromFlakyFixture.totalCalls == callsAfterFirst) // pure cache read
  }

  test("fetchChunks: a cache holding other cells returns only the requested ones, pruned at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("promcache").toString + "/cache"
    PromFlakyFixture.reset(failuresPerUrl = 0, body = single)
    val all = PromIngest.chunkGrid(Seq("q1" -> "up", "q2" -> "up"), 0L, 7200L, 120L)
    assert(all.size == 4)
    assert(PromIngest.fetchChunks(spark, "http://example", all, Some(dir),
      PromFlakyFixture.fetch).count() == 12)
    val calls = PromFlakyFixture.totalCalls
    val wanted = all.filter(c => (c.alias == "q1") == (c.startSec == 0L))
    val r = PromIngest.fetchChunks(spark, "http://example", wanted, Some(dir),
      PromFlakyFixture.fetch)
    val cells = r.select("alias", "chunk_start").collect()
      .map(x => (x.getString(0), x.getLong(1)))
    assert(cells.length == 6)
    assert(cells.toSet == wanted.map(c => (c.alias, c.startSec)).toSet)
    assert(PromFlakyFixture.totalCalls == calls) // pure cache read
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(PromIngest.fetchChunks(spark, "http://example", Nil, Some(dir),
      PromFlakyFixture.fetch).count() == 0)
  }

  test("withRetry: transient failures heal; backoff schedule is the deterministic equal-jitter one") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val policy = PromIngest.RetryPolicy(maxAttempts = 4, baseBackoffMs = 100,
      maxBackoffMs = 2000, sleep = slept += _)
    val flaky: String => String = { _ =>
      calls += 1
      if (calls <= 2) throw new java.io.IOException(s"flap $calls")
      "ok"
    }
    var retried = List.empty[Int]
    val wrapped = PromIngest.withRetry(flaky, policy,
      onRetry = (_, attempt, _) => retried ::= attempt)
    assert(wrapped("http://x/q") == "ok")
    assert(calls == 3 && retried.sorted == List(1, 2))
    // the schedule is pure (url, attempt) → ms: replayable, within the
    // equal-jitter envelope [cap/2, cap)
    assert(slept.toSeq == Seq(policy.backoffMs("http://x/q", 1),
      policy.backoffMs("http://x/q", 2)))
    assert(slept(0) >= 50 && slept(0) < 100)   // cap = 100 at attempt 1
    assert(slept(1) >= 100 && slept(1) < 200)  // cap = 200 at attempt 2
    // a retried task replays the identical sleeps — no RNG anywhere
    assert(policy.backoffMs("http://x/q", 1) == policy.backoffMs("http://x/q", 1))
  }

  test("withRetry: exhaustion rethrows the LAST error after exactly maxAttempts calls") {
    var calls = 0
    val policy = PromIngest.RetryPolicy(maxAttempts = 3, sleep = _ => ())
    val dead: String => String = { _ =>
      calls += 1; throw new java.io.IOException(s"down $calls")
    }
    val e = intercept[java.io.IOException] {
      PromIngest.withRetry(dead, policy)("http://x")
    }
    assert(calls == 3 && e.getMessage == "down 3")
  }

  test("withRetry: permanent 4xx fails FAST (one attempt, no backoff); 429 and 5xx stay retryable") {
    var calls = 0
    val policy = PromIngest.RetryPolicy(maxAttempts = 5, sleep = _ => ())
    def respond(status: Int): String => String = { url =>
      calls += 1; throw new PromIngest.HttpStatusException(status, url, "nope")
    }
    // 404 (bad PromQL / wrong path): surfaces on the FIRST attempt — the
    // full backoff schedule cannot heal a configuration error
    calls = 0
    val e = intercept[PromIngest.HttpStatusException] {
      PromIngest.withRetry(respond(404), policy)("http://x")
    }
    assert(e.status == 404 && calls == 1)
    // 401 (revoked token): same fail-fast posture
    calls = 0
    intercept[PromIngest.HttpStatusException] {
      PromIngest.withRetry(respond(401), policy)("http://x")
    }
    assert(calls == 1)
    // 429 (rate limit) IS transient by contract: full schedule runs
    calls = 0
    intercept[PromIngest.HttpStatusException] {
      PromIngest.withRetry(respond(429), policy)("http://x")
    }
    assert(calls == 5)
    // 503: transient, full schedule
    calls = 0
    intercept[PromIngest.HttpStatusException] {
      PromIngest.withRetry(respond(503), policy)("http://x")
    }
    assert(calls == 5)
  }

  /** decodeBody must equal decodeResponses' (ts, value) rows, in order,
    * with values compared by raw bits (NaN included). */
  private def assertDecodeParity(body: String): Unit = {
    val want = decode("a" -> body).collect().toSeq.map { r =>
      (Option(r.getTimestamp(2)), if (r.isNullAt(3)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
    }
    val got = PromIngest.decodeBody(body).map { case (t, v) =>
      (Option(t), Option(v).map(d => java.lang.Double.doubleToRawLongBits(d)))
    }
    assert(got == want, s"body $body")
  }

  private def series(values: String*): String =
    s"""{"status":"success","data":{"resultType":"matrix","result":[{"metric":{"s":"x"},"values":[${values.mkString(",")}]}]}}"""

  test("decodeBody equals decodeResponses on the fixtures and the parse traps") {
    Seq(single, multi, empty, error).foreach(assertDecodeParity)
    Seq(
      // fractional, negative and quoted epochs
      series("[1747994400.123456789,\"1\"]", "[0.1,\"2\"]", "[-1.5,\"3\"]",
        "[\"1747994460.5\",\"4\"]", "[1e3,\"5\"]"),
      // special and padded sample strings, and non-string sample tokens
      series("[100,\"NaN\"]", "[160,\"+Inf\"]", "[220,\"Infinity\"]",
        "[280,\" 12 \"]", "[340,\"-Inf\"]", "[400,\"1.5d\"]", "[460,-0]",
        "[520,2.5e-3]", "[580,null]", "[640,true]", "[700,{\"a\":1}]", "[760,NaN]",
        "[820,-0.0]", "[880,1e400]", "[940,12345678901234567890123]"),
      // non-numeric value and epoch strings, non-finite epochs
      series("[100,\"not_a_number\"]", "[\"abc\",\"1\"]", "[\"NaN\",\"2\"]",
        "[\"Infinity\",\"3\"]", "[null,\"4\"]", "[\" 160 \",\"5\"]"),
      // a timestamp duplicated within one response
      series("[100,\"1\"]", "[100,\"2\"]", "[160,\"3\"]", "[100,\"4\"]"),
      // a null pair, a single-quoted body, a missing and a non-array result
      series("null", "[100,\"1\"]"),
      "{'status':'success','data':{'result':[{'values':[[100,'7']]}]}}",
      """{"status":"success","data":{"resultType":"matrix"}}""",
      """{"status":"success","data":{"result":"none"}}""",
      // a first series that is null, and bodies that are not JSON
      """{"status":"success","data":{"result":[null,{"values":[[100,"1"]]}]}}""",
      "not json", "", """{"status":"success","""
    ).foreach(assertDecodeParity)
  }

  test("FetchStats: accumulator state is one counter per alias, not one element per event") {
    val stats = new PromIngest.FetchStats(spark)
    // 10k events over 2 aliases — the old CollectionAccumulator kept 10k
    // strings; the CountByKeyAccumulator keeps 2 longs
    (1 to 9999).foreach(_ => stats.retries.add("a"))
    stats.retries.add("b")
    assert(stats.retriesByQuery == Map("a" -> 9999L, "b" -> 1L))
    // merge-by-sum across partitioned copies (executor → driver path)
    val remote = new PromIngest.CountByKeyAccumulator
    remote.addN("a", 5L); remote.addN("c", 2L)
    stats.retries.merge(remote)
    assert(stats.retriesByQuery == Map("a" -> 10004L, "b" -> 1L, "c" -> 2L))
    // recordExhausted attributes attempts-1 retries + 1 failure in O(1)
    stats.recordExhausted(new PromIngest.FetchExhaustedException(
      "b", "http://x", 4, new java.io.IOException("down")))
    assert(stats.retriesByQuery("b") == 4L && stats.failuresByQuery == Map("b" -> 1L))
  }

  test("fetchChunks: flaky fetch heals under retry; stats count per-query retries (S1 resilience)") {
    PromFlakyFixture.reset(failuresPerUrl = 1, body = single)
    val stats = new PromIngest.FetchStats(spark)
    // distinct promql per alias — chunkUrl encodes the query, not the
    // alias, so identical queries would share URLs (and flap counts)
    val chunks = PromIngest.chunkGrid(Seq("q1" -> "upA", "q2" -> "upB"),
      0L, 7200L, 120L) // 4 distinct chunk URLs, each fails once then serves
    val out = PromIngest.fetchChunks(spark, "http://example", chunks,
      cacheDir = None, fetch = PromFlakyFixture.fetch,
      retry = PromIngest.RetryPolicy(maxAttempts = 3, sleep = _ => ()),
      stats = Some(stats))
    assert(out.count() == 12) // 4 chunks × 3 samples
    assert(stats.retriesByQuery == Map("q1" -> 2L, "q2" -> 2L),
      stats.retriesByQuery.toString)
    assert(stats.failuresByQuery.isEmpty)
  }

  test("fetchChunks failOpen: an exhausted query degrades to zero rows instead of killing the batch") {
    PromFlakyFixture.reset(failuresPerUrl = 0, body = single,
      alwaysFailSubstring = Some("query=dead"))
    val stats = new PromIngest.FetchStats(spark)
    val chunks = PromIngest.chunkGrid(
      Seq("good" -> "up", "bad" -> "dead"), 0L, 3600L, 120L)
    val out = PromIngest.fetchChunks(spark, "http://example", chunks,
      cacheDir = None, fetch = PromFlakyFixture.fetch,
      retry = PromIngest.RetryPolicy(maxAttempts = 2, sleep = _ => ()),
      stats = Some(stats), failOpen = true)
    val aliases = out.select("alias").distinct().collect().map(_.getString(0))
    assert(aliases.toSeq == Seq("good")) // bad contributes nothing, job lives
    assert(stats.failuresByQuery == Map("bad" -> 1L))
    assert(stats.retriesByQuery.get("bad").contains(1L)) // 1 retry then gave up
  }

  test("flaky fixture SERVER: httpFetch throws on 5xx; the retry wrapper heals a flapping endpoint") {
    // a real HTTP server that 503s the first two hits per path, then 200s
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    val body = single.getBytes("UTF-8")
    server.createContext("/api/v1/query_range",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val n = hits.merge(ex.getRequestURI.toString, 1, (a, b) => a + b)
        if (n <= 2) {
          val err = "overloaded".getBytes("UTF-8")
          ex.sendResponseHeaders(503, err.length)
          ex.getResponseBody.write(err)
        } else {
          ex.sendResponseHeaders(200, body.length)
          ex.getResponseBody.write(body)
        }
        ex.getResponseBody.close()
      })
    server.start()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}"
      val url = PromIngest.chunkUrl(base,
        PromIngest.Chunk("q1", "up", 0L, 3600L, 120L))
      // bare fetch: the 503 surfaces as the IOException retry needs
      val e = intercept[java.io.IOException](PromIngest.httpFetch(url))
      assert(e.getMessage.contains("503"))
      // wrapped fetch: two 503s absorbed (the intercept above consumed
      // one), success on the next attempt
      val wrapped = PromIngest.withRetry(PromIngest.httpFetch,
        PromIngest.RetryPolicy(maxAttempts = 3, baseBackoffMs = 1,
          maxBackoffMs = 2, sleep = _ => ()))
      assert(wrapped(url).contains("\"status\":\"success\""))
    } finally server.stop(0)
  }

  test("assembleWide: keep-first pivot + sort + calendar end-to-end") {
    val long = Seq(
      ("m1", 1000L, 1.0, 1L), ("m1", 1000L, 9.0, 2L), // dup ts: keep arrival 1
      ("m2", 1000L, 2.0, 3L), ("m1", 61000L, 3.0, 4L))
      .toDF("alias", "epoch_ms", "value", "arrival")
      .select(col("alias"), timestamp_millis(col("epoch_ms")).as("ts"),
        col("value"), col("arrival"))
    val wide = PromIngest.assembleWide(long, Seq("m1", "m2", "m3"), "arrival")
    val rows = wide.orderBy("ts").collect()
    assert(wide.columns.toSeq ==
      Seq("ts", "m1", "m2", "m3", "day_of_week", "hour_of_day"))
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("m1") == 1.0) // keep-first
    assert(rows(0).isNullAt(3) && rows(1).isNullAt(3)) // m3 (no rows): all-null column
  }

  test("assembleWide keeps the first arrival (null, NaN or a number) with no Window, as dedupKeepFirst + pivot did") {
    import graft.operators.{Align, Windows}
    // per (alias, ts) group, arrivals are shuffled across the rows; the
    // smallest arrival holds a null, a NaN or a number, later ones differ
    val firsts: Seq[Option[Double]] = Seq(None, Some(Double.NaN), Some(2.5))
    val rnd = new scala.util.Random(11L)
    val groups = for (a <- Seq("m1", "m2"); t <- 0 until 12) yield (a, t)
    val arrivals = rnd.shuffle((0L until groups.size * 3L).toVector)
    val long = groups.zipWithIndex.flatMap { case ((a, t), g) =>
      val first = firsts((g + t) % 3)
      val ids = arrivals.slice(g * 3, g * 3 + 3).sorted
      Seq((a, t * 60000L, first, ids(0)),
        (a, t * 60000L, Some(100.0 + g), ids(1)),
        (a, t * 60000L, if (g % 2 == 0) None else Some(-1.0), ids(2)))
    }
    val df = rnd.shuffle(long).toDF("alias", "epoch_ms", "value", "arrival")
      .repartition(3)
      .select(col("alias"), timestamp_millis(col("epoch_ms")).as("ts"),
        col("value"), col("arrival"))
    val aliases = Seq("m1", "m2", "m3")
    val got = PromIngest.assembleWide(df, aliases, "arrival")
    val deduped = Windows.dedupKeepFirst(df, Seq("alias", "ts"), Seq("arrival"))
    val ref = PromIngest.withCalendar(Align.totalize(Align.pivotAlignOuter(
      deduped, "ts", "alias", "value", aliases, "arrival"), aliases)
      .orderBy("ts"), "ts")
    val rows = got.collect().toSeq
    assert(got.columns.toSeq == ref.columns.toSeq)
    assert(rows == ref.collect().toSeq) // Row equality treats NaN == NaN
    assert(rows.size == 12)
    val m1 = rows.map(r => Option(r.getAs[java.lang.Double]("m1")).map(_.doubleValue))
    assert(m1.count(_.isEmpty) == 4 && m1.count(_.exists(_.isNaN)) == 4 &&
      m1.count(_.contains(2.5)) == 4)
    val plan = got.queryExecution.executedPlan.toString +
      got.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), plan)
  }
}

/** Flaky-fetch fixture with JVM-static per-URL call counts: the fetch
  * closure ships to executor threads (same JVM under local[*]), so state
  * must live in a top-level object, not a spec field. Each URL fails its
  * first `failuresPerUrl` calls, then serves `body`; URLs containing
  * `alwaysFailSubstring` never recover. */
object PromFlakyFixture {
  private val calls = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  @volatile private var failuresPerUrl = 1
  @volatile private var body = ""
  @volatile private var alwaysFail: Option[String] = None

  def reset(failuresPerUrl: Int, body: String,
            alwaysFailSubstring: Option[String] = None): Unit = {
    calls.clear()
    this.failuresPerUrl = failuresPerUrl
    this.body = body
    this.alwaysFail = alwaysFailSubstring
  }

  def fetch(url: String): String = {
    val n = calls.merge(url, 1, (a, b) => a + b)
    if (alwaysFail.exists(url.contains)) throw new java.io.IOException(s"dead endpoint: $url")
    if (n <= failuresPerUrl) throw new java.io.IOException(s"flap $n: $url")
    body
  }

  def totalCalls: Int = {
    import scala.jdk.CollectionConverters._
    calls.values.asScala.map(_.toInt).sum
  }
}
