package graft
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main. Prints ONE COMPACT JSON line; the full per-query record
  * (wall AND cpu seconds per sweep, plus `wall_min` across sweeps) is
  * written to a file artifact (`SPARK_GRAFT_BENCH_OUT`, default
  * `BENCH_FULL.json` in the cwd).
  *
  * Methodology (round-2 fixes per VERDICT, artifact shape per r11 VERDICT):
  *  - Materializes the full physical plan via `queryExecution.toRdd.foreach`
  *    — a bare `.count()` lets Catalyst drop sorts/projections and times a
  *    cheaper plan than the one Verify checks.
  *  - Warms the JVM/codegen/parquet-footer caches with three representative
  *    untimed queries first, so the first timed query isn't charged ~4s of
  *    one-time startup cost.
  *  - Runs the timed sweep TWICE (full runs; `SPARK_GRAFT_BENCH_SWEEPS` to
  *    override, subset runs once) and records per-query `wall_min`: round
  *    11's record carried four 3–15× transient-host outliers that a single
  *    sample cannot distinguish from engine regressions; the min of two
  *    independent samples removes that class at ~2× bench cost.
  *  - The primary stdout line stays SHORT — r11's full 73-entry queries map
  *    outgrew the driver's tail capture and the round's record read as
  *    `parsed: null`. The line carries totals, the r1-set gate subtotal,
  *    health scalars, and the r1-set walls only; `queries_file` names the
  *    full artifact.
  */
object Bench {

  /** The 16 round-1 queries whose subtotal is BASELINE.md's regression
    * gate (≤ 2× the 9.6 s r2-harness steady state). */
  private[graft] val R1Set: Set[String] = Set(
    "q1_agg", "q2_filter_sort", "q3_minmax", "q4_projection", "q5_join",
    "q6_multijoin", "q7_window", "q8_distinct", "q9_intersect", "q10_except",
    "q11_topk", "q12_scalar", "q13_having", "q14_semijoin", "q15_antijoin",
    "q16_case")

  private def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  /** Compact one-line error description for the bench JSON. */
  private[graft] def describe(e: Throwable): String = {
    val cut = Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(160)
    // a 160-char cut can split a surrogate pair — drop the lone half
    val m = if (cut.nonEmpty && Character.isHighSurrogate(cut.last))
      cut.dropRight(1) else cut
    s"${e.getClass.getSimpleName}: $m"
  }

  /** The errors map as a JSON object — through Jackson, not hand-rolled
    * escaping (the serializer the rest of the engine already trusts). */
  private[graft] def errorsJson(errors: scala.collection.Map[String, String]): String = {
    val node = graft.delta.ActionCodec.mapper.createObjectNode()
    errors.foreach { case (k, v) => node.put(k, v) }
    graft.delta.ActionCodec.mapper.writeValueAsString(node)
  }

  /** Time one query run; a throw records the error instead of silently
    * reading as a fast success (r9 VERDICT: a broken query must not
    * improve the bench total). */
  private[graft] def timeOne(run: () => Unit): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err = try { run(); None } catch { case e: Throwable => Some(describe(e)) }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** Per-query min over samples, skipping errored samples (a crashed query
    * records ~0 s wall — the min must never pick a crash) AND samples that
    * did less committed work than the query's real cost (r17 verdict: the
    * memoized lifecycle gates commit only in their first sweep; a later
    * sweep's memo-hit wall is a lookup, not the query, and `wall_min` built
    * on it hollowed the metric — gaming by the brief's definition). A
    * sample counts only when its commit count equals the query's MAX commit
    * count across its CLEAN sweeps, so stateful gates are timed by the
    * sweep that actually paid for their commits (an errored sweep's commits
    * must not outrank every healthy sample). Falls back to the first
    * sample's wall when every sample errored. */
  private[graft] def wallMin(sweepWalls: Seq[(scala.collection.Map[String, Double],
                                              scala.collection.Map[String, String],
                                              scala.collection.Map[String, Long])])
      : Map[String, Double] = {
    val names = sweepWalls.headOption.map(_._1.keys.toSeq).getOrElse(Seq.empty)
    names.map { n =>
      val ok = sweepWalls.filter { case (walls, errs, _) =>
        walls.contains(n) && !errs.contains(n) }
      val maxCommits = ok.map(_._3.getOrElse(n, 0L)).maxOption.getOrElse(0L)
      val clean = ok.collect {
        case (walls, _, commits) if commits.getOrElse(n, 0L) == maxCommits => walls(n)
      }
      n -> (if (clean.nonEmpty) clean.min
            else sweepWalls.collectFirst {
              case (walls, _, _) if walls.contains(n) => walls(n) }.getOrElse(0.0))
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.delta.GraftSparkExtensions")
      .config("spark.sql.catalog.spark_catalog", "graft.delta.catalog.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional subset run (stress sweeps, targeted regressions):
    // SPARK_GRAFT_BENCH_ONLY=q24_dedup_jaccard,q25_minhash_lsh
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val qs = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // Absolute machine-speed probe BEFORE warmup (and around every sweep):
    // fixed work, so its seconds depend on machine health alone — the r8
    // whole-machine slowdown that `contended` cannot see.
    val calStPre = BenchCalibration.singleThreadSec()
    // Warmup: one agg, one join, one semi-join — covers codegen paths.
    // A subset run that includes none of the three still needs SOME warmup
    // (the first timed query would otherwise absorb ~4 s of one-time
    // JVM/codegen/footer-cache cost and read as a phantom regression —
    // r12 review): fall back to one untimed run of the subset's first query.
    val warmups = Seq("q1_agg", "q5_join", "q14_semijoin").filter(qs.contains)
    val warmupQs = if (warmups.nonEmpty) warmups else qs.keys.take(1).toSeq
    warmupQs.foreach { w =>
      qs.get(w).foreach(fn => try materialize(fn(spark, sfDir))
                        catch { case _: Throwable => () })
    }
    // Per-query session-health telemetry. Round 6 found r5's 2.7×-of-gate
    // "session degradation" does NOT reproduce at identical code + identical
    // invocation — i.e. it was machine contention during the driver's run.
    // The artifact carries per-query JVM CPU seconds next to wall seconds:
    // a query whose wall grows but whose CPU doesn't was starved by the
    // MACHINE; one whose CPU grows got slower in the ENGINE.
    val debug = sys.env.get("SPARK_GRAFT_BENCH_DEBUG").contains("1")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def processCpuNanos: Long = osBean match {
      case sun: com.sun.management.OperatingSystemMXBean => sun.getProcessCpuTime
      case _ => -1L
    }
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }
    var lastGc = gcMillis

    /** One full timed sweep + its calibration/contention telemetry. */
    final case class Sweep(results: mutable.LinkedHashMap[String, Double],
                           cpuSec: mutable.LinkedHashMap[String, Double],
                           load1m: mutable.LinkedHashMap[String, Double],
                           commits: mutable.LinkedHashMap[String, Long],
                           errors: mutable.LinkedHashMap[String, String],
                           contended: Boolean, calSt: Double,
                           calStWorst: Double, calMt: Double,
                           // the load median crossed the threshold but the
                           // absolute probes were healthy — recorded so an
                           // acquittal is auditable (r17 advice: the probes
                           // run at sweep edges and can miss mid-sweep
                           // contention; the raw numbers must say when the
                           // load signal was overridden)
                           loadAcquitted: Boolean) {
      def total: Double = if (results.nonEmpty) results.values.sum else 0.0
      def degraded: Boolean = calSt > BenchCalibration.DegradedStSec
      def degradedMt: Boolean = calMt > BenchCalibration.DegradedMtSec
      def unhealthy: Boolean = contended || degraded || degradedMt
    }

    def runSweep(calPre: Double): Sweep = {
      val cpuSec = mutable.LinkedHashMap[String, Double]()
      val load1m = mutable.LinkedHashMap[String, Double]()
      val commits = mutable.LinkedHashMap[String, Long]()
      val errors = mutable.LinkedHashMap[String, String]()
      val results = mutable.LinkedHashMap[String, Double]()
      qs.foreach { case (name, fn) =>
        val c0 = processCpuNanos
        // per-query delta of the engine's committed-transaction counter:
        // commit-floor cost (≈ fixed ms per commit) is mechanically
        // separable from plan time in the record (r16 verdict #4)
        val k0 = graft.delta.OptimisticTransaction.committedCount.get()
        val (sec, err) = timeOne(() => materialize(fn(spark, sfDir)))
        err.foreach(errors(name) = _)
        commits(name) =
          graft.delta.OptimisticTransaction.committedCount.get() - k0
        cpuSec(name) = if (c0 < 0) -1.0 else (processCpuNanos - c0) / 1e9
        load1m(name) = osBean.getSystemLoadAverage
        if (debug) {
          val rt = Runtime.getRuntime
          val heapMb = (rt.totalMemory - rt.freeMemory) / (1 << 20)
          val gc = gcMillis
          val threads = Thread.activeCount()
          val blocks = org.apache.spark.SparkEnv.get.blockManager
            .getMatchingBlockIds(_ => true).size
          System.err.println(
            f"BENCHDBG $name%-24s ${sec}%8.2fs cpu=${cpuSec(name)}%7.2fs heap=${heapMb}MB gcDelta=${gc - lastGc}ms threads=$threads blocks=$blocks load=${load1m(name)}%.1f")
          lastGc = gc
        }
        results(name) = sec
      }
      // Absolute machine-speed probes FIRST: they corroborate (or acquit)
      // the load signal below — the engine's own parallel task load now
      // holds load1m past the serial-era threshold on a healthy box (r17
      // measurement fix, see BenchContention's 4-arg overload).
      val calStPost = BenchCalibration.singleThreadSec()
      val calMt = BenchCalibration.multiThreadSec(
        Runtime.getRuntime.availableProcessors())
      val probesDegraded =
        math.min(calPre, calStPost) > BenchCalibration.DegradedStSec ||
          calMt > BenchCalibration.DegradedMtSec
      // Self-classify machine contention from the run's own telemetry
      // (BenchContention; gate rule: compare cpu-seconds when contended).
      val isContended = BenchContention.contended(
        results.values.toSeq, cpuSec.values.toSeq, load1m.values.toSeq,
        absoluteProbesDegraded = probesDegraded)
      val loadOver = BenchContention.median(
        load1m.values.toSeq.filter(_ >= 0)) > BenchContention.LoadThreshold
      // min of pre/post: the healthiest speed the machine showed this
      // sweep — a sweep is degraded only if it NEVER ran at class speed
      Sweep(results, cpuSec, load1m, commits, errors, isContended,
        math.min(calPre, calStPost), math.max(calPre, calStPost), calMt,
        loadAcquitted = loadOver && !isContended)
    }

    // Full runs sweep twice by default (subset runs once; NORETRY forces
    // one): two independent samples per query let `wall_min` separate
    // transient host stalls from engine regressions WITHIN the artifact —
    // the r11 record had four >3× outlier rows it could not explain.
    val nSweeps =
      if (only.nonEmpty || sys.env.get("SPARK_GRAFT_BENCH_NORETRY").contains("1")) 1
      else math.max(1, math.min(4,
        sys.env.get("SPARK_GRAFT_BENCH_SWEEPS").flatMap(_.toIntOption).getOrElse(2)))
    val sweeps = mutable.ArrayBuffer[Sweep]()
    sweeps += runSweep(calStPre)
    while (sweeps.size < nSweeps)
      sweeps += runSweep(BenchCalibration.singleThreadSec())
    // One extra sweep when every sample so far is unhealthy — the r10 rule
    // (a contended primary artifact is not comparable across rounds).
    if (sweeps.forall(_.unhealthy) && only.isEmpty && nSweeps > 1 &&
        sweeps.size < 4) {
      System.err.println(
        s"BENCHRETRY all ${sweeps.size} sweeps unhealthy — one more attempt")
      sweeps += runSweep(BenchCalibration.singleThreadSec())
    }
    // Headline-sweep selection: fewest FAILED queries first (a crashed
    // query records ~0 s, so a total built on errors must never win — the
    // r9 honesty rule), then healthy over unhealthy, then lower wall.
    val chosen = sweeps.minBy(s => (s.errors.size, s.unhealthy, s.total))
    val mins = wallMin(sweeps.map(s => (s.results, s.errors, s.commits)).toSeq)
    // Cross-sweep errors: a query failed THIS BENCH only if it failed in
    // every sweep; one-off failures are listed separately for the record.
    val persistentErrors = chosen.errors.filter { case (n, _) =>
      sweeps.forall(_.errors.contains(n)) }
    val transientErrors = sweeps.flatMap(_.errors).toMap -- persistentErrors.keys

    val total = chosen.total
    val totalMin = mins.values.sum
    val cpuTotal =
      if (chosen.cpuSec.values.exists(_ < 0)) -1.0 else chosen.cpuSec.values.sum
    val loadMed = BenchContention.median(chosen.load1m.values.toSeq.filter(_ >= 0))
    // the regression-gate subtotal (BASELINE.md: 16-query r1 set ≤ 2×9.6 s),
    // emitted machine-readable so the gate never has to be recomputed.
    // Sentinel -1 when the number would LIE: a SUBSET run (partial sum),
    // or any r1 query that ERRORED (a crash records ~0 s, which would
    // read as a comfortably-passing gate over a broken engine — the r9
    // honesty rule applied to the gate number itself, r12 review).
    def r1Sum(walls: scala.collection.Map[String, Double],
              errored: String => Boolean): Double =
      if (R1Set.forall(walls.contains) && !R1Set.exists(errored))
        R1Set.toSeq.map(walls).sum
      else -1.0
    val r1Subtotal = r1Sum(chosen.results, chosen.errors.contains)
    // min-based gate number: errored only if the query failed in EVERY
    // sweep (wallMin excludes crash samples when a clean one exists)
    val r1SubtotalMin = r1Sum(mins, persistentErrors.contains)
    // queries whose headline wall is >3× their best sample — with two
    // samples in the artifact these are PROVEN transient, not suspected
    val outliers = mins.keys.toSeq.sorted
      .filter(n => mins(n) > 0.05 && chosen.results.get(n).exists(_ > 3 * mins(n)))

    // ---- full file artifact: everything, per sweep, via Jackson ----
    val mapper = graft.delta.ActionCodec.mapper
    val root = mapper.createObjectNode()
    root.put("metric", "total"); root.put("value", total)
    root.put("value_min", totalMin); root.put("unit", "sec")
    root.put("sf", sfDir); root.put("n_queries", qs.size)
    root.put("r1_set_subtotal", r1Subtotal)
    root.put("r1_set_subtotal_min", r1SubtotalMin)
    root.put("sweeps_run", sweeps.size)
    root.put("chosen_sweep", sweeps.indexOf(chosen))
    def putMap(n: com.fasterxml.jackson.databind.node.ObjectNode,
               k: String, m: scala.collection.Map[String, Double]): Unit = {
      val o = n.putObject(k)
      m.foreach { case (q, v) => o.put(q, math.rint(v * 1e4) / 1e4) }
    }
    putMap(root, "wall_min", mins)
    // per-query commit counts, max across sweeps: memoized lifecycles
    // commit only in their first sweep, and the MAX is the real cost of
    // computing the query once (r16 verdict #4)
    val commitsMax: Map[String, Long] = qs.keys.map { n =>
      n -> sweeps.map(_.commits.getOrElse(n, 0L)).max
    }.toMap
    val commitsNode = root.putObject("commits")
    commitsMax.toSeq.sortBy(_._1).foreach { case (q, v) =>
      if (v > 0) commitsNode.put(q, v) }
    val outliersNode = root.putArray("outliers_over_3x")
    outliers.foreach(outliersNode.add)
    val sweepArr = root.putArray("sweeps")
    sweeps.foreach { s =>
      val n = sweepArr.addObject()
      n.put("total", math.rint(s.total * 1e4) / 1e4)
      n.put("contended", s.contended); n.put("degraded", s.degraded)
      n.put("degraded_mt", s.degradedMt)
      n.put("load_acquitted", s.loadAcquitted)
      n.put("cal_st", math.rint(s.calSt * 1e4) / 1e4)
      n.put("cal_st_worst", math.rint(s.calStWorst * 1e4) / 1e4)
      n.put("cal_mt", math.rint(s.calMt * 1e4) / 1e4)
      putMap(n, "wall", s.results); putMap(n, "cpu", s.cpuSec)
      putMap(n, "load1m", s.load1m)
      val cn = n.putObject("commits")
      s.commits.foreach { case (q, v) => if (v > 0) cn.put(q, v) }
      val e = n.putObject("errors")
      s.errors.foreach { case (k, v) => e.put(k, v) }
    }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")

    // ---- compact primary stdout line (must fit the driver's tail capture;
    //      r11's 73-entry map did not — keep this WELL under ~2 kB).
    //      Built ENTIRELY through Jackson: hand-assembled JSON with raw
    //      string interpolation (sfDir, outPath) was the exact
    //      parse-breaking class the r7/r11 records suffered (r12 review). ----
    def r4(v: Double): Double = math.rint(v * 1e4) / 1e4
    val lineNode = mapper.createObjectNode()
    lineNode.put("metric", "total"); lineNode.put("value", r4(total))
    lineNode.put("unit", "sec")
    putMap(lineNode, "queries", mins.view.filterKeys(R1Set).toMap)
    val errNode = lineNode.putObject("errors")
    persistentErrors.foreach { case (k, v) => errNode.put(k, v) }
    lineNode.put("transient_errors", transientErrors.size)
    lineNode.put("sf", sfDir); lineNode.put("n_queries", qs.size)
    lineNode.put("value_min", r4(totalMin))
    lineNode.put("r1_set_subtotal", r4(r1Subtotal))
    lineNode.put("r1_set_subtotal_min", r4(r1SubtotalMin))
    lineNode.put("sweeps", sweeps.size)
    lineNode.put("outliers_over_3x", outliers.size)
    lineNode.put("queries_file", outPath)
    // per-query commit counts (max across sweeps): lets the round-over-
    // round comparison divide out per-commit fixed-cost drift without
    // opening the artifact (r16 verdict #4). The LINE carries counts >= 2
    // (the commit-heavy class; single-commit queries are in the artifact's
    // full map) so it stays well under the tail-capture cap.
    val lineCommits = lineNode.putObject("commits")
    commitsMax.toSeq.sortBy(_._1).foreach { case (q, v) =>
      if (v >= 2) lineCommits.put(q, v) }
    lineNode.put("commits_total", commitsMax.values.sum)
    lineNode.put("contended", chosen.contended)
    lineNode.put("cpu_total", r4(cpuTotal))
    lineNode.put("load_med", r4(loadMed))
    lineNode.put("cal_st", r4(chosen.calSt))
    lineNode.put("cal_st_worst", r4(chosen.calStWorst))
    lineNode.put("cal_mt", r4(chosen.calMt))
    lineNode.put("degraded", chosen.degraded)
    lineNode.put("degraded_mt", chosen.degradedMt)
    lineNode.put("note",
      "line queries = r1-set wall_min; full per-query wall+cpu per sweep in queries_file")
    println(mapper.writeValueAsString(lineNode))
    spark.stop()
  }
}
