package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes what it measured as raw JSON: set-up
  * times, one record per op, spans and Spark jobs (traced runs), check
  * results and the run's own description. `perfbench/run.py` builds this,
  * runs it and turns the raw record into metrics.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <n> --trace <0|1>
  * --cores <n> --setups <n> --work <dir> --out <file> [--revision <id>]`.
  */
object Main {

  final case class OpRecord(index: Int, kind: String, cls: String, round: Int,
                            traced: Boolean, t0: Double, t1: Double,
                            error: Option[String], commits: Long,
                            counters: collection.Map[String, Double])

  def describe(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(300)
    s"${e.getClass.getName}: $m"
  }

  /** Progress lines on stderr, for the run's log. */
  def log(msg: String): Unit = System.err.println(f"perfbench ${Clock.now()}%8.3f s  $msg")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val setups = args("setups").toInt
    val work = args("work")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.extensions", "graft.delta.GraftSparkExtensions")
      .config("spark.sql.catalog.spark_catalog", "graft.delta.catalog.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val listener = new JobListener
    if (trace) sc.addSparkListener(listener)
    log("session started")
    val wl = Workload(workload, spark, seed)
    val commitCount = graft.delta.OptimisticTransaction.committedCount

    // set-up, several times: the last build is the one the ops run on. The
    // first pays the JVM's one-time costs (class loading, JIT), several
    // times a warm set-up, so it is run untimed and only the rest count
    val (warmParts, warmS) = Util.timed(wl.setup(s"$work/setup-warm"))
    log(f"untimed set-up took $warmS%.3f s $warmParts")
    val setupRecords = (0 until setups).map { i =>
      val root = s"$work/setup-$i"
      val (parts, s) = Util.timed(wl.setup(root))
      Util.deleteRecursively(spark, if (i == 0) s"$work/setup-warm" else s"$work/setup-${i - 1}")
      log(f"set-up $i took $s%.3f s $parts")
      Map("s" -> s, "parts" -> parts)
    }

    // untimed rounds first, so every op's code path is warm when timed
    val warmupErrors = mutable.ArrayBuffer.empty[String]
    for (r <- 0 until wl.warmupRounds; (kind, i) <- wl.kinds.zipWithIndex) {
      try wl.op(kind, new OpCtx(tracer, traced = false, -1 - r * wl.kinds.size - i, 0))
      catch { case e: Throwable => warmupErrors += s"$kind: ${describe(e)}" }
    }
    log(s"${wl.warmupRounds} warm-up rounds done")

    var space: Option[Map[String, Any]] = None
    def measureSpace(round: Int): Unit = {
      val disk = wl.spaceRoots.map(Util.diskUsage(spark, _))
      val live = wl.spaceRoots.flatMap(Util.tablesUnder(spark, _))
        .map(Util.liveBytes(spark, _)).sum
      space = Some(Map("after_rounds" -> round, "disk_files" -> disk.map(_._1).sum,
        "disk_bytes" -> disk.map(_._2).sum, "live_bytes" -> live))
    }

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    if (wl.spaceAfterRounds == 0) measureSpace(0)
    val loopT0 = Clock.now()
    // a traced run needs an untraced round to compare with
    val minRounds = Seq(if (trace) 2 else 1, wl.minRounds, wl.spaceAfterRounds).max
    var round = 0
    while (round < minRounds || Clock.now() - loopT0 < seconds) {
      // traced runs trace every other round; the untraced rounds between
      // them measure what tracing costs
      val traced = trace && round % 2 == 0
      wl.kinds.foreach { kind =>
        val ctx = new OpCtx(tracer, traced, ops.size, round)
        tracer.enabled = traced
        val c0 = commitCount.get()
        val t0 = Clock.now()
        val error =
          try { tracer.opSpan(ctx.index, kind)(wl.op(kind, ctx)); None }
          catch { case e: Throwable => Some(describe(e)) }
        val t1 = Clock.now()
        tracer.enabled = false
        val commits = commitCount.get() - c0
        val afterError =
          if (error.isEmpty) try { ctx.runAfters(); None }
          catch { case e: Throwable => Some(s"counting after the op: ${describe(e)}") }
          else None
        ops += OpRecord(ctx.index, kind, wl.opClass(kind), round, traced, t0, t1,
          error.orElse(afterError), commits, ctx.counters)
      }
      round += 1
      if (round == wl.spaceAfterRounds) measureSpace(round)
    }
    val loopS = Clock.now() - loopT0
    log(s"timed loop: $round rounds, ${ops.size} ops in $loopS s")
    if (space.isEmpty) measureSpace(round)
    if (trace) listener.drain(sc)

    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0

    val checks =
      try wl.checks()
      catch { case e: Throwable => Seq(CheckResult("checks", ok = false, describe(e))) }
    val allChecks = checks ++ warmupErrors.map(CheckResult("warmup", ok = false, _))
    log(s"checks: ${allChecks.map(c => s"${c.name}=${c.ok}").mkString(" ")}")
    val inputs = try wl.inputs() catch { case e: Throwable => Map("error" -> describe(e)) }

    val record = Map(
      "config" -> Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> sc.master, "cores" -> cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
        "setups" -> setups, "untimed_setup_s" -> warmS,
        "warmup_rounds" -> wl.warmupRounds, "revision" -> args.getOrElse("revision", "unknown"),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "max_heap_mb" -> rt.maxMemory() / 1048576.0,
        "kinds" -> wl.kinds, "classes" -> wl.kinds.map(k => k -> wl.opClass(k)).toMap),
      "setup" -> setupRecords,
      "loop_s" -> loopS,
      "rounds" -> round,
      "ops" -> ops.map(o => Map(
        "index" -> o.index, "kind" -> o.kind, "class" -> o.cls, "round" -> o.round,
        "traced" -> o.traced, "t0" -> o.t0, "t1" -> o.t1,
        "error" -> o.error.orNull, "commits" -> o.commits, "counters" -> o.counters.toMap)),
      "spans" -> tracer.recorded.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1)),
      "jobs" -> listener.recorded.map(j => Map(
        "id" -> j.id, "span" -> j.span, "t0" -> j.t0,
        "t1" -> (if (j.t1.isNaN) null else j.t1), "stages" -> j.stages,
        "tasks" -> j.tasks, "task_run_s" -> j.taskRunS, "task_cpu_s" -> j.taskCpuS,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes,
        "peak_exec_mem_bytes" -> j.peakExecMemBytes)),
      "checks" -> allChecks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "inputs" -> inputs,
      "space" -> space.orNull,
      "heap_mb" -> heapMb)
    Json.write(record, args("out"))
    log("record written")
    spark.stop()
    log("session stopped")
  }
}

/** Scala values to JSON through the Jackson that Spark ships. */
object Json {
  import scala.jdk.CollectionConverters._

  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: BigDecimal => d.bigDecimal
    case other => other
  }

  def write(v: Any, path: String): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(path), toJava(v))
}
