package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main — one JSON line over SparkEntry.queries (driver contract).
  *
  * Each query runs `SPARK_GRAFT_REPS` times (default 2): the first rep pays
  * codegen/JIT (Janino compiles, whole-stage fusion, C2 warmup), the
  * remaining reps are steady state and the recorded steady number is their
  * MEDIAN. The driver contract field `queries` carries the steady numbers
  * (and `value` their total) because round-over-round comparisons on
  * first-run numbers chase JIT placement noise (BASELINE.md documents an
  * unchanged q1_agg swinging 1.28→2.93 s between adjacent solo runs) — and
  * the round-6 record showed even a SINGLE steady rep can land 4× hot when
  * the machine is contended, so certification runs use REPS≥4 (median of
  * ≥3 steady reps). `queries_first`/`value_first` preserve the first-run
  * numbers for cold-start analysis.
  *
  * The Spark cache is cleared between reps: query builders may cache
  * intermediates, and CacheManager matches by logical plan, so without the
  * clear a later rep would silently reuse earlier blocks and measure
  * nothing. (The one-shot operators now localCheckpoint instead — rebuilt
  * fresh per rep — but the clear stays as a fence.)
  *
  * The JSON carries a `ctx` object (load average at start/end, available
  * processors, max heap, rep count) so a hot record is attributable to
  * machine contention WITHOUT a re-run — the round-6 official record was
  * 1.67× the committed run of identical code and nothing in the artifact
  * could say why.
  *
  * Failures are reported per-query (`"failed":[...]`) instead of silently
  * contributing wall time; a failed query also forces rc 1.
  *
  * Two subtotals (round-9 verdict item 2): `oracle_total` (= `value`, the
  * oracle-green registry as-is) and `production_total` (same workload with
  * each md5-parity row's steady time replaced by its xxhash/float
  * production twin from `Queries.benchOnly`, whose per-query times ride in
  * `queries_bench_only`). The heaviest registry rows pay md5-per-shingle
  * so DuckDB can replay them; the production subtotal is what a user of
  * the library pays. A GC fence before each binary-payload rep keeps the
  * media queries' session numbers attributable (see `gcBarrier`).
  *
  * Each binary-payload query (`q_mm_*`, `q_{p,a,v}hash*`) runs in its own
  * FORKED child JVM by default (round-9 verdict item 7): the family's
  * decoded media batches churn GBs of short-lived arrays per rep against
  * the 8g bench heap, and at sf1 the rows' in-session numbers swung
  * 0.2×–12.6× of solo depending on whose GC debt they inherited — both
  * in-session GC fences tried (one cycle; two cycles + sleep) and even a
  * family-only child JVM measurably moved the inflation between rows
  * rather than removing it. One fresh JVM per query makes session ≡ solo
  * BY CONSTRUCTION. The child is this same `graft.Bench` main restricted
  * via `SPARK_GRAFT_ONLY` (comma list of query names), launched with this
  * JVM's own input arguments + classpath, writing its record to a temp
  * file the parent merges; each child pays one session warmup (~10 s wall,
  * excluded from per-query timings like the parent's own warmup). On any
  * fork failure the parent falls back to the in-session GC-fence path and
  * says so on stderr. `SPARK_GRAFT_FORK_BINARY=0` disables.
  *
  * Round-14 order #1 closes the fork protocol's remaining truthfulness
  * gap: `q_detect_quality` joins the construction-heavy fork family
  * (driver-side LSTM scoring), every forked row's record carries its
  * child's own start/end load (`ctx.child_ctx`), and a child that ran
  * hot (max(load_start, load_end) > `ctx.child_retry_load`, default
  * procs/2 — calibrated in commit 855cf23 against the bench's own
  * decaying self-load) is re-run once with the lower steady kept and
  * both attempts recorded — the retry rule BASELINE.md documents.
  * Gating on the WHOLE child window, not just its start, is round-15
  * order #2: the r14 `q_detect_quality` child started at load 2.06 and
  * ENDED at 15.68 — a wave that arrives mid-child inflates every rep
  * and a start-only gate structurally misses it.
  *
  * Sink modes (round-15 order #4): the historical protocol times
  * `fn(...).count()`, which lets Catalyst prune projections no
  * downstream consumer references — window-only fill/scaler columns
  * are planned away and those rows are priced count-shaped (this is
  * exactly how the O(n²) bfill frame hid for three rounds; see
  * `tools/CountPlanProbe` and Fill.ffillBfill's scaladoc).
  * `SPARK_GRAFT_SINK=noop` instead writes every row to Spark's noop
  * sink — full materialization of every output column, no I/O — so a
  * noop record beside a count record names the rows whose real
  * materialized cost the count protocol under-prices. The count mode
  * stays the default: every historical record is count-shaped and
  * cross-round comparability outranks per-row completeness (the
  * flagship, which FEEDS the fill into scoring, audits the
  * materialized path every round). The record's `ctx.sink` says which
  * mode produced it.
  *
  * Effective-cores channel (round-16 order #2): the r15 driver record's
  * inflated rows read `throttled_ms = 0` because cgroup v2 accounts
  * throttled_usec in the cgroup HOLDING the quota — an ancestor outside
  * the container's namespace throttles the child while the leaf cpu.stat
  * the probe reads stays 0. The quota-location-independent detector is
  * CPU time / wall: the record now carries `queries_eff_cores` (per row,
  * median over its steady reps of the timed region's own process-CPU /
  * wall ratio), `ctx.effective_cores` (whole process window), and per
  * forked attempt `effective_cores` + `row_eff_cores` in `child_ctx`,
  * plus `ctx.cgroup_path` naming which cpu.stat file the throttled_ms
  * figure came from. A 2.5-core cap on a 32-proc box is unmistakable
  * from the record alone, wherever the quota sits.
  *
  * IO context (round-15 order #1b): `ctx` additionally carries the
  * machine-wide iowait share and disk sectors read over the bench
  * window (`/proc/stat`, `/proc/diskstats` deltas), and each forked
  * attempt in `child_ctx` carries its child's own values — the 1-min
  * load average is blind to a bench that stalls on disk (the r14
  * clusters_dist child read 3.3× its cert band at load 3.5: QUIET by
  * load, unexplained until io is in the record).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Session warmup: the first Spark job pays scan-init + codegen baseline
    // (~5 s) that would otherwise be attributed to whichever query runs
    // first; run one throwaway job per base table shape before timing.
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).count()
      Tables.events(spark, sfDir).limit(100).count()
    } catch { case _: Throwable => () }

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // Quota-LOCATION-INDEPENDENT throttle detector (round-16 order #2):
    // effective cores = this JVM's own CPU time / wall. An ancestor-held
    // cpu.max that the leaf cpu.stat cannot see (cgroup v2 accounts
    // throttled_usec IN THE CGROUP HOLDING THE QUOTA — the r15 driver
    // record's inflated rows read throttled_ms=0 for exactly this reason)
    // still caps how much CPU the process can burn per second: a 2.5-core
    // allocation on a 32-proc box is unmistakable from the record alone,
    // wherever the quota sits. Process CPU time comes from the JVM's own
    // accounting (getProcessCpuTime ≈ getrusage utime+stime), so no
    // cgroup file is needed at all. Measured per timed rep (each row's
    // record carries its own ratio) AND over the whole process window.
    def processCpuSec(): Double = osBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val ns = b.getProcessCpuTime
        if (ns < 0) -1.0 else ns / 1e9
      case _ => -1.0
    }
    // GC-time channel (round-17 "what's wrong #2" chase): the r17 driver
    // record's q_detect_quality read ~612 CPU-s/rep vs ~20 at cert —
    // ~30× CPU inflation no validated env channel explains. The prime
    // suspect is a GC storm in the forked child (driver-side LSTM
    // allocation pattern under a contended heap): cumulative stop-the-
    // world collection time is the one JVM-side signal that separates
    // "the work itself ran slow" from "the heap thrashed". Deltas over
    // the process window ride ctx.gc_ms, and each forked attempt carries
    // its child's own value in child_ctx — a 13.7× row whose child shows
    // hundreds of seconds of GC is named from the record alone.
    def gcTimeMs(): Double =
      try {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
      } catch { case _: Throwable => -1.0 }
    var failed = List.empty[String]
    // noop sink = full materialization of every output column (scaladoc);
    // count stays the default so historical records remain comparable.
    // Normalized + validated: an unrecognized value (typo, wrong case)
    // must not silently run count-shaped while ctx.sink claims otherwise —
    // that would be the exact mislabel the sink field exists to prevent.
    val sinkMode = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_SINK", "count")
      val norm = raw.trim.toLowerCase(java.util.Locale.ROOT)
      if (norm != "count" && norm != "noop") {
        System.err.println(
          s"[bench] SPARK_GRAFT_SINK='$raw' not in {count, noop}; refusing " +
            "to run with a mislabelable sink")
        sys.exit(2)
      }
      norm
    }
    // Codegen channel: Janino compiles and their time over the timed
    // regions of this JVM (ctx.codegen_compiles / codegen_compile_ms). A
    // compile is a miss in Spark's JVM-wide generated-class cache (100
    // entries by default), so a run whose plans need more distinct classes
    // than that recompiles them every rep and shows it here. A forked
    // row's compiles happen in its child and stay out of the parent's sum.
    var codegenCompiles = 0L
    var codegenCompileNs = 0L
    // Returns (wall seconds, effective cores over the timed region): the
    // per-rep CPU/wall ratio is the sharpest form of the order-#2 channel —
    // the whole-process ratio dilutes with the single-threaded session
    // warmup, while the timed region of a parallel query on an uncapped
    // 32-proc box burns many cores and a quota-capped one cannot exceed
    // its cap.
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      val c0 = processCpuSec()
      val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        if (sinkMode == "noop") df.write.format("noop").mode("overwrite").save()
        else df.count()
      }
      catch { case e: Throwable =>
        if (!failed.contains(name)) failed ::= name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      codegenCompiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0
      codegenCompileNs += CodeGenerator.compileTime - n0
      val c1 = processCpuSec()
      val eff =
        if (c0 < 0 || c1 < 0 || dt <= 0) -1.0 else (c1 - c0) / dt
      // Drop plan-matched cache entries so the next rep re-executes; persisted
      // intermediates otherwise satisfy the second rep's identical subtrees.
      try { spark.catalog.clearCache() } catch { case _: Throwable => () }
      (dt, eff)
    }
    val reps = math.max(2, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val loadStart = osBean.getSystemLoadAverage
    // Machine-wide IO + steal counters (Linux /proc; -1s elsewhere): the
    // 1-min load average cannot see a bench stalled on disk (iowait) or a
    // VM shorted by its hypervisor (steal — stolen ticks never appear as
    // runnable tasks, so a neighbor VM's burst slows every driver-bound
    // loop while load reads "quiet"). iowait/steal shares of total cpu
    // ticks + sectors read over the bench window make such a record
    // attributable without a re-run (round-15 order #1b: the r14
    // clusters_dist child was QUIET by load and 3.3× its cert band; this
    // host's cumulative steal is nonzero, and the r15 quiet-host
    // reproduction landed IN the cert band — BASELINE.md).
    final case class IoStat(total: Double, iowait: Double, steal: Double,
                            sectors: Long)
    def ioSnapshot(): IoStat =
      try {
        val stat = scala.io.Source.fromFile("/proc/stat")
        val cpu = try stat.getLines().next().trim.split("\\s+").drop(1)
          .map(_.toDouble) finally stat.close()
        val disks = scala.io.Source.fromFile("/proc/diskstats")
        // whole-disk device names only (sd*/vd*/xvd* without a partition
        // digit; nvme<N>n<M>): partitions would double-count their disk
        val sectors = try disks.getLines().map(_.trim.split("\\s+"))
          .filter(f => f.length > 5 &&
            f(2).matches("(sd[a-z]+|vd[a-z]+|xvd[a-z]+|nvme\\d+n\\d+)"))
          .map(_(5).toLong).sum finally disks.close()
        // /proc/stat cpu fields: user nice system idle iowait irq softirq
        // steal [guest guest_nice] — index 4 and 7 after the label drop.
        // Total = first 8 fields ONLY: the kernel already accounts guest/
        // guest_nice ticks inside user/nice, so including them would
        // double-count on VM hosts and deflate the iowait/steal shares.
        IoStat(cpu.take(8).sum, cpu(4),
          if (cpu.length > 7) cpu(7) else -1.0, sectors)
      } catch { case _: Throwable => IoStat(-1.0, -1.0, -1.0, -1L) }
    // cgroup CPU-quota throttling (ms, cumulative): the THIRD contention
    // channel invisible to load/iowait/steal — a containerized bench whose
    // cgroup hits cpu.max freezes whole quota periods and nothing in
    // /proc/stat moves. v2 reports throttled_usec at /sys/fs/cgroup,
    // v1 throttled_time (ns) under cpu/; -1 = neither readable. The path
    // actually read goes into the record: in cgroup v2 throttled_usec is
    // accounted IN THE CGROUP HOLDING THE QUOTA, so a quota on an ancestor
    // outside this namespace throttles us while our leaf cpu.stat stays 0
    // (the r15 driver record's inflated rows read throttled_ms=0 for
    // exactly this reason) — a reader must be able to see WHICH file the
    // 0 came from.
    val cgroupStatPath: Option[String] =
      Seq("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat")
        .find(f => new java.io.File(f).exists())
    def throttledMs(): Double =
      try {
        cgroupStatPath.flatMap { f =>
          val src = scala.io.Source.fromFile(f)
          val lines = try src.getLines().toList finally src.close()
          lines.collectFirst {
            case l if l.startsWith("throttled_usec ") =>
              l.split("\\s+")(1).toDouble / 1e3
            case l if l.startsWith("throttled_time ") =>
              l.split("\\s+")(1).toDouble / 1e6
          }
        }.getOrElse(-1.0)
      } catch { case _: Throwable => -1.0 }
    // whole-process window for ctx.effective_cores (per-rep ratios ride
    // in queries_eff_cores; see processCpuSec scaladoc above)
    val procCpuStart = processCpuSec()
    val wallStartNs = System.nanoTime()
    val ioStart = ioSnapshot()
    val throttleStart = throttledMs()
    val gcStart = gcTimeMs()
    // delta between two snapshots → (iowait %, steal %, MB read)
    def ioDelta(a: IoStat, b: IoStat): (Double, Double, Double) =
      if (a.total < 0 || b.total < 0 || b.total <= a.total)
        (-1.0, -1.0, -1.0)
      else (100.0 * (b.iowait - a.iowait) / (b.total - a.total),
            if (a.steal < 0 || b.steal < 0) -1.0
            else 100.0 * (b.steal - a.steal) / (b.total - a.total),
            (b.sectors - a.sectors) * 512.0 / 1e6)
    // Binary-payload family: decoded media batches (tens of MB per task)
    // promote into the old gen during whatever ran before, and the sf1
    // session record showed q_vhash at 12.6x in-session vs 3.2x solo —
    // GC pressure inherited from neighbors, not the query's own cost. A
    // full System.gc() fence before each rep keeps session records
    // attributable to the query (disable: SPARK_GRAFT_GC_BARRIER=0).
    val gcBarrier = sys.env.getOrElse("SPARK_GRAFT_GC_BARRIER", "1") != "0"
    def isBinaryFamily(name: String): Boolean =
      name.startsWith("q_mm_") || name.startsWith("q_phash") ||
      name.startsWith("q_ahash") || name.startsWith("q_vhash")
    // Construction-heavy rows (driver union-find built at query-build time
    // over a collected edge set) inherit long-session heap/JIT placement:
    // the round-9 driver record (reps=2) showed the trio at 8–14× their
    // REPS=4 solo cert steadies with Dedup.scala UNCHANGED since round 8.
    // The binary family's per-query fork already makes session ≡ solo by
    // construction — extend it to this family (round-10 verdict item 1).
    def isConstructionHeavy(name: String): Boolean =
      name == "q_neardup_survivors" || name == "q_neardup_quality" ||
      name == "q_neardup_clusters" || name == "q_neardup_clusters_dist" ||
      // the two index-LIFECYCLE rows build a scratch index at query-build
      // time (driver-side write jobs dominate — the solo attribution says
      // ~94% for ivf_append); in-session they inherit the long session's
      // heap/JIT placement exactly like the union-find trio, reading
      // 1.3–1.4× their quiet-cert steadies in the r12 driver record —
      // round-13 order #4 extends the fork to them
      name == "q_ann_ivf_append" || name == "q_mm_index_append" ||
      // driver-side LSTM window scoring: the model forward pass runs in
      // the query BUILDER (collected windows scored on the driver, same
      // profile as the union-find trio) — the r13 driver record read it
      // at 3.3× its quiet cert UNFORKED while every executor-compute row
      // around it was steady (round-14 order #1a)
      name == "q_detect_quality"
    def isForked(name: String): Boolean =
      isBinaryFamily(name) || isConstructionHeavy(name)
    // effCores = median over the steady reps of the timed region's own
    // CPU/wall ratio (order #2: per-row, quota-location-independent)
    final case class Row(name: String, first: Double, steady: Double,
                         effCores: Double)
    // Pre-rep-1 JIT warmups (round-16 order #5): rows whose timed region
    // is dominated by driver-JVM math kernels pay C2 compile churn inside
    // a fresh child's reps — the hook compiles the kernels BEFORE rep 1.
    // Wall time is recorded per row (ctx.warmup_s), never in any rep.
    val warmupHooks: Map[String, () => Unit] = Map(
      "q_detect_quality" ->
        (() => { graft.model.DetectQuality.jitWarmup(); () }))
    val warmupDone = scala.collection.mutable.Map.empty[String, Double]
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Row = {
      warmupHooks.get(name).foreach { hook =>
        val t0 = System.nanoTime()
        try hook() catch { case e: Throwable =>
          System.err.println(s"[bench] $name warmup failed: ${e.getMessage}")
        }
        warmupDone += name -> (System.nanoTime() - t0) / 1e9
      }
      def fence(): Unit = if (gcBarrier && isBinaryFamily(name)) {
        // TWO cycles with breathing room: earlier queries' localCheckpoint
        // blocks are released ASYNCHRONOUSLY (weak refs → ContextCleaner
        // queue → block eviction), so the first GC merely publishes the
        // refs to the cleaner and the second reclaims what it released —
        // one gc+50ms measurably did not stop the binary rows inheriting
        // a squeezed storage pool at sf1
        System.gc(); Thread.sleep(300)
        System.gc(); Thread.sleep(100)
      }
      fence()
      val (first, firstEff) = timeOnce(name, fn)
      // iterator, not Range: the failure check must run BEFORE each rep,
      // so a mid-sequence steady-rep crash skips the remaining reps
      val steadies = Iterator.range(2, reps + 1)
        .takeWhile(_ => !failed.contains(name))
        .map { _ => fence(); timeOnce(name, fn) }.toSeq
      // a steady-rep failure would otherwise record its time-to-crash as
      // the "steady" number — fall back to the valid first-rep measurement
      val (steady, eff) =
        if (failed.contains(name) || steadies.isEmpty) (first, firstEff)
        else (median(steadies.map(_._1)),
              median(steadies.map(_._2).filter(_ >= 0) match {
                case Seq() => Seq(-1.0); case xs => xs }))
      Row(name, first, steady, eff)
    }
    // Child-process protocol: SPARK_GRAFT_ONLY restricts the run to a
    // comma-list of query names (the parent sets it when forking the
    // binary family; also handy for ad-hoc subset runs).
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val forkBinary = only.isEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_FORK_BINARY", "1") != "0"
    val registry = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val (forkedReg, inSessionReg) =
      if (forkBinary) registry.partition { case (n, _) => isForked(n) }
      else (Seq.empty, registry)
    val inSession = inSessionReg.map { case (name, fn) => measure(name, fn) }
    // Production twins run AFTER the registry (same session, same rep
    // discipline) so the registry's cross-round comparability is untouched.
    val twinResults = Queries.benchOnly.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) => measure(name, fn) }
    // Re-run the binary-payload family in a FRESH JVM (same main, ONLY
    // filter): a new heap + storage pool makes the family's session
    // numbers equal its solo numbers by construction — the in-session GC
    // fence only moved the old-gen inflation between rows (scaladoc).
    // A forked child's own record carries its ctx (load at child start/
    // end) — surface it per child in the parent record so a hot child is
    // attributable WITHOUT a re-run (round-14 order #1b: the r12/r13
    // driver records showed 2.6–3.3× phantoms on forked rows and only the
    // session-wide parent load said why).
    final case class ChildRun(rows: Seq[Row],
                              loadStart: Double, loadEnd: Double,
                              iowaitPct: Double, stealPct: Double,
                              diskReadMb: Double, throttledMs: Double,
                              effectiveCores: Double, procCpuS: Double,
                              wallS: Double, warmupS: Double,
                              gcMs: Double)
    def runForked(names: Seq[String], repsOverride: Option[Int] = None)
        : Option[ChildRun] =
      try {
        import scala.jdk.CollectionConverters._
        val javaBin = java.nio.file.Paths.get(
          System.getProperty("java.home"), "bin", "java").toString
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala.toList
        val cp = System.getProperty("java.class.path")
        val out = java.nio.file.Files.createTempFile("bench_binary_", ".json")
        val cmd = (javaBin :: jvmArgs) ::: List("-cp", cp, "graft.Bench")
        val pb = new ProcessBuilder(cmd.asJava)
        pb.environment().put("SPARK_GRAFT_ONLY", names.mkString(","))
        pb.environment().put("SPARK_GRAFT_FORK_BINARY", "0")
        pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
        repsOverride.foreach(r =>
          pb.environment().put("SPARK_GRAFT_REPS", r.toString))
        // The child's stdout carries its own one-line record — keep it off
        // the parent's stdout (the driver parses exactly one JSON line);
        // stderr flows through for failure attribution.
        pb.redirectOutput(java.lang.ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(java.lang.ProcessBuilder.Redirect.INHERIT)
        val rc = pb.start().waitFor()
        val txt = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
        java.nio.file.Files.deleteIfExists(out)
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
        val steady = root.get("queries")
        val first = root.get("queries_first")
        val effs = Option(root.get("queries_eff_cores"))
        val rows = names.sorted.flatMap { n =>
          Option(steady.get(n)).map { s =>
            Row(n, Option(first.get(n)).fold(s.asDouble)(_.asDouble),
              s.asDouble,
              effs.flatMap(e => Option(e.get(n))).fold(-1.0)(_.asDouble))
          }
        }
        if (rows.size == names.size) {
          // a child query that failed exits the child with rc 1 but still
          // writes the record — surface its failures as the parent's own
          root.get("failed").elements().asScala.foreach { f =>
            val n = f.asText; if (!failed.contains(n)) failed ::= n
          }
          val cctx = Option(root.get("ctx"))
          def ld(f: String) = cctx.flatMap(c => Option(c.get(f)))
            .fold(-1.0)(_.asDouble)
          // warmup_s is a per-row map in the child ctx; forks are
          // one-query children, so the head name's entry is the child's
          val warmup = cctx.flatMap(c => Option(c.get("warmup_s")))
            .flatMap(w => names.sorted.headOption
              .flatMap(n => Option(w.get(n)))).fold(-1.0)(_.asDouble)
          Some(ChildRun(rows, ld("load_avg_start"), ld("load_avg_end"),
            ld("iowait_pct"), ld("steal_pct"), ld("disk_read_mb"),
            ld("throttled_ms"), ld("effective_cores"), ld("proc_cpu_s"),
            ld("wall_s"), warmup, ld("gc_ms")))
        } else {
          System.err.println(
            s"[bench] forked record missing ${names.size - rows.size} rows (rc=$rc)")
          None
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] fork error: ${e.getMessage}")
          None
      }
    // ONE child JVM PER QUERY, not per family: the family's rows measurably
    // inflate each other even in a family-only child (each rep churns ~GBs
    // of decoded-media garbage against an 8g heap, so whichever row runs
    // after a heavy neighbor pays its GC debt — q_mm_jpeg read 2.1× solo in
    // the family-child experiment). A per-query JVM makes session ≡ solo by
    // definition; the extra session warmups cost wall clock only, never the
    // timed region.
    // Rows whose child JVM actually ran with a rep override — a fork that
    // fails falls back to the in-session path at plain `reps`, and the
    // record's reps_override must not advertise a discipline that row
    // didn't get.
    val overrideApplied = scala.collection.mutable.Map.empty[String, Int]
    // Load-gated single retry (round-14 order #1c): a child whose OWN
    // record says it started under host contention (load_avg_start above
    // the gate) is re-run ONCE and the LOWER steady kept — a bounded,
    // honest retry, not best-of-N shopping: it fires only on recorded
    // evidence of contention, runs at most one extra child, and BOTH
    // attempts' ctx stay in the record (`child_ctx`) so the kept number
    // is auditable. Rationale: a host wave that spans a whole child
    // inflates every rep, so no in-process rep discipline can ride it
    // out — the r12/r13 driver records each carried 2.6–3.3× phantoms on
    // exactly such children.
    //
    // Gate default = procs/2, CALIBRATED, not guessed: the naive "3.0"
    // fired for 22/22 children on an otherwise-idle machine — each child
    // runs local[procs], so the 1-min load the NEXT child starts under
    // is the bench's own decaying self-load (measured 4–14 on 32 cores
    // at ld1, median attempt spread 7.7% — the retries re-measured the
    // same quiet number and "keep lower" became a small systematic
    // bias). procs/2 sits above the measured self-load ceiling with
    // margin while a genuinely contended host (a second machine-wide
    // job: self ≤14 + external ≥16) still clears it.
    // SPARK_GRAFT_CHILD_RETRY_LOAD overrides, 0 disables.
    val retryLoad = sys.env.get("SPARK_GRAFT_CHILD_RETRY_LOAD")
      .map(_.toDouble)
      .getOrElse(Runtime.getRuntime.availableProcessors / 2.0)
    val childCtx = scala.collection.mutable.Map.empty[String, String]
    def d2j(x: Double) = String.format(java.util.Locale.ROOT, "%.2f",
      java.lang.Double.valueOf(x))
    def d3j(x: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      java.lang.Double.valueOf(x))
    val forked: Seq[Row] =
      forkedReg.flatMap { case (name, fn) =>
        // Construction-heavy rows do JIT-heavy DRIVER work (pair-set
        // collect, union-find / propagation loop) that the binary family's
        // executor-compute rows don't — in a fresh child at reps=2 their
        // rep-2 "steady" still carries compiler warmup and read ~2–2.6×
        // the REPS=4 solo cert. Match the cert's rep discipline inside the
        // child (≥4 reps; extra reps cost the child wall clock only).
        val childReps =
          // max(6, reps), measured not guessed: a fresh child's
          // construction work (scratch index build/append jobs, pair-set
          // collect, propagation rounds) is still descending at rep 4 —
          // q_ann_ivf_append's solo rep curve reads 3.39 / 2.64 / 2.67 /
          // 2.51 / 2.37 for reps 2–6, so a 4-rep median prices rep-2
          // warmup into the "steady" number (it read 3.37 in the first
          // r13 cert vs 2.25 in-session r12). Median of 5 steadies also
          // rides out a host load wave that spans part of the child —
          // clusters_dist's r12 driver record ate a whole one at 12.57 s
          // vs 5.4–6.4 s quiet-cert; nothing in-process can ride out a
          // wave that spans ALL reps (ctx then says so).
          if (isConstructionHeavy(name)) Some(math.max(6, reps)) else None
        runForked(Seq(name), childReps) match {
          case Some(run1) =>
            // gate on the WHOLE child window: a wave that arrives
            // mid-child inflates every remaining rep, and load_start
            // alone structurally misses it (r14 q_detect_quality:
            // start 2.06, end 15.68, no retry fired) — round-15 order #2
            val attempts =
              if (retryLoad > 0 &&
                  math.max(run1.loadStart, run1.loadEnd) > retryLoad) {
                System.err.println(s"[bench] $name child ran hot " +
                  s"(load ${run1.loadStart}->${run1.loadEnd} peak > " +
                  s"$retryLoad); single retry")
                runForked(Seq(name), childReps)
                  .fold(Seq(run1))(run2 => Seq(run1, run2))
              } else Seq(run1)
            val kept = attempts.minBy(_.rows.head.steady)
            childCtx += name -> attempts.map(a =>
              s"""{"load_start":${d2j(a.loadStart)},"load_end":${d2j(
                a.loadEnd)},"iowait_pct":${d2j(a.iowaitPct)},""" +
              s""""steal_pct":${d2j(a.stealPct)},"disk_read_mb":${d2j(
                a.diskReadMb)},"throttled_ms":${d2j(a.throttledMs)},""" +
              // the child's OWN CPU/wall ratio — the quota-location-
              // independent throttle channel (order #2): an inflated row
              // whose child burned ~full cores is a plan/JIT question; one
              // whose child read 2–3 effective cores on a 32-proc box was
              // externally capped, wherever the quota lives
              s""""effective_cores":${d2j(a.effectiveCores)},""" +
              s""""proc_cpu_s":${d2j(a.procCpuS)},"wall_s":${d2j(a.wallS)},""" +
              // row_eff_cores: the same ratio over the row's TIMED REPS
              // only — undiluted by the child's single-threaded warmup
              s""""row_eff_cores":${d2j(a.rows.head.effCores)},""" +
              s""""warmup_s":${d2j(a.warmupS)},""" +
              // the child JVM's cumulative stop-the-world GC time over its
              // whole window — the heap-thrash channel (order #3 chase)
              s""""gc_ms":${d2j(a.gcMs)},""" +
              s""""steady":${d3j(a.rows.head.steady)}}""")
              .mkString(s"""{"attempts":[""",
                ",", s"""],"kept":${attempts.indexOf(kept) + 1}}""")
            childReps.foreach(r => overrideApplied += name -> r)
            kept.rows
          case None =>
            System.err.println(
              s"[bench] fork of $name failed; falling back to in-session GC-fence path")
            Seq(measure(name, fn))
        }
      }
    val results = (inSession ++ forked).sortBy(_.name)
    val loadEnd = osBean.getSystemLoadAverage
    def jmapOf(rs: Seq[Row])(sel: Row => Double): String =
      rs.map { r => "\"" + r.name + "\":" + sel(r) }.mkString("{", ",", "}")
    def jmap(sel: Row => Double): String =
      jmapOf(results)(sel)
    val qsSteady = jmap(_.steady)
    val qsFirst = jmap(_.first)
    // per-row timed-region CPU/wall (order #2): 2 decimals is plenty and
    // keeps the already-long record line readable
    val qsEff = jmap(r => math.rint(r.effCores * 100) / 100)
    val qsTwins = jmapOf(twinResults)(_.steady)
    val fs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val totalSteady = results.map(_.steady).sum
    val totalFirst = results.map(_.first).sum
    // oracle_total = the registry as-is (every row oracle-green, some
    // paying cross-engine digest parity); production_total = the same
    // workload with each md5-parity row's time replaced by its xxhash/
    // float production twin's — the subtotal a production user of the
    // library actually pays. Both appear in every record so the 2x gate
    // discussion can cite either without a re-run.
    // A substitution only fires when BOTH sides are present in this run:
    // subtracting a missing md5 row (getOrElse 0) while adding its twin —
    // or adding a twin whose md5 row failed — would silently skew the
    // production subtotal. Skipped pairs are listed on stderr instead.
    val steadyByName = results.map(r => r.name -> r.steady).toMap
    val twinByName = twinResults.map(r => r.name -> r.steady).toMap
    val (applied, skipped) = Queries.productionSubstitutes.toSeq
      .partition { case (twin, md5) =>
        twinByName.contains(twin) && steadyByName.contains(md5) &&
          !failed.contains(twin) && !failed.contains(md5)
      }
    if (skipped.nonEmpty && only.isEmpty)
      System.err.println("[bench] production_total: skipped substitutions " +
        skipped.map { case (t, m) => s"$t->$m" }.mkString(", ") +
        " (twin or registry row missing/failed)")
    val productionTotal = totalSteady -
      applied.map { case (_, md5) => steadyByName(md5) }.sum +
      applied.map { case (twin, _) => twinByName(twin) }.sum
    val ctx = {
      val heapGb = Runtime.getRuntime.maxMemory / 1e9
      // Locale.ROOT: the default-locale f-interpolator would render 1,42
      // under comma-decimal locales — invalid JSON
      def d2(x: Double) = String.format(java.util.Locale.ROOT, "%.2f",
        java.lang.Double.valueOf(x))
      def d1(x: Double) = String.format(java.util.Locale.ROOT, "%.1f",
        java.lang.Double.valueOf(x))
      // reps_override: the construction-heavy forked rows run max(4, reps)
      // in their children — a reader of the record must be able to tell
      // each row's rep discipline without knowing the fork policy. Only
      // rows whose child actually succeeded appear (a failed fork falls
      // back to the in-session path at plain `reps`).
      val overrides = overrideApplied.toSeq
        .sortBy(_._1).map { case (n, r) => s""""$n":$r""" }.mkString(",")
      // child_ctx: per-forked-row load at the CHILD's start/end plus each
      // attempt's steady and which attempt was kept — the reader can tell
      // a host wave from a plan regression row-by-row (order #1b/#1c).
      val children = childCtx.toSeq
        .sortBy(_._1).map { case (n, j) => s""""$n":$j""" }.mkString(",")
      val (iowaitPct, stealPct, diskReadMb) = ioDelta(ioStart, ioSnapshot())
      val thrEnd = throttledMs()
      val thrDelta =
        if (throttleStart < 0 || thrEnd < 0) -1.0 else thrEnd - throttleStart
      // effective cores over this process's whole bench window: CPU/wall.
      // Quota-location-independent (scaladoc at processCpuSec) — a record
      // whose inflated rows sit beside effective_cores ≈ 2–3 on a 32-proc
      // box names an external CPU cap from the record alone, even when
      // the leaf cgroup's throttled_ms reads 0.
      val wallS = (System.nanoTime() - wallStartNs) / 1e9
      val procCpuEnd = processCpuSec()
      val procCpuS =
        if (procCpuStart < 0 || procCpuEnd < 0) -1.0
        else procCpuEnd - procCpuStart
      val effCores = if (procCpuS < 0 || wallS <= 0) -1.0 else procCpuS / wallS
      val gcEnd = gcTimeMs()
      val gcMs = if (gcStart < 0 || gcEnd < 0) -1.0 else gcEnd - gcStart
      val cgPath = cgroupStatPath.getOrElse("none")
      val warmups = warmupDone.toSeq.sortBy(_._1)
        .map { case (n, s) => s""""$n":${d2(s)}""" }.mkString(",")
      s"""{"warmup_s":{$warmups},"load_avg_start":${d2(loadStart)},"load_avg_end":${d2(loadEnd)},"iowait_pct":${d2(iowaitPct)},"steal_pct":${d2(stealPct)},"disk_read_mb":${d2(diskReadMb)},"throttled_ms":${d2(thrDelta)},"cgroup_path":"$cgPath","proc_cpu_s":${d2(procCpuS)},"wall_s":${d2(wallS)},"effective_cores":${d2(effCores)},"gc_ms":${d2(gcMs)},"codegen_compiles":$codegenCompiles,"codegen_compile_ms":${d2(codegenCompileNs / 1e6)},"sink":"$sinkMode","procs":${Runtime.getRuntime.availableProcessors},"heap_max_gb":${d1(heapGb)},"reps":$reps,"reps_override":{$overrides},"child_retry_load":${d2(retryLoad)},"child_ctx":{$children}}"""
    }
    val json =
      s"""{"metric":"total_steady","value":$totalSteady,"unit":"sec","queries":$qsSteady,"value_first":$totalFirst,"queries_first":$qsFirst,"queries_eff_cores":$qsEff,"oracle_total":$totalSteady,"production_total":$productionTotal,"queries_bench_only":$qsTwins,"failed":$fs,"sf":"$sfDir","ctx":$ctx}"""
    println(json)
    // Also persist to a file: log captures of the stdout line have truncated
    // the head of long JSON lines, losing the alphabetically-first per-query
    // timings — the file copy is always fully parseable.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (json + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
