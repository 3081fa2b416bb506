package perfbench

import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** What one op reports besides its time: counters for the per-layer
  * metrics and values kept for the output checks. Work registered with
  * [[afterTimed]] runs after the op's clock stops, and only in traced
  * rounds, so counting never slows a timed op. */
final class OpCtx(val tracer: Tracer, val traced: Boolean, val index: Int,
                  val round: Int) {
  val counters = mutable.LinkedHashMap.empty[String, Double]
  private val afters = mutable.ArrayBuffer.empty[() => Unit]

  def count(key: String, v: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v
  def afterTimed(f: => Unit): Unit = if (traced) afters += (() => f)
  private[perfbench] def runAfters(): Unit = afters.foreach(_())
  def span[T](layer: String, name: String)(body: => T): T =
    tracer.span(layer, name)(body)
}

final case class CheckResult(name: String, ok: Boolean, detail: String)

/** One benchmark workload: a set-up that builds its tables, a fixed round
  * of op kinds run in a closed loop, and checks of the outputs. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  /** The op kinds of one round, in the order they run. */
  def kinds: Seq[String]
  /** The end-to-end latency class of a kind (open, scan, commit, ...). */
  def opClass(kind: String): String
  /** Build the workload's tables under `root`. Returns the seconds spent
    * in named parts of the set-up (index builds). */
  def setup(root: String): Map[String, Double]
  def op(kind: String, ctx: OpCtx): Unit
  def checks(): Seq[CheckResult]
  def inputs(): Map[String, Any]
  /** Roots whose on-disk bytes are compared with their live bytes. */
  def spaceRoots: Seq[String]
  /** Space amplification is read after this many timed rounds, so it does
    * not depend on how many rounds a run fits; a run runs at least these
    * (a traced run at least two). */
  def spaceAfterRounds: Int
  /** Timed rounds every run runs, however long they take: enough ops for a
    * steady median latency. */
  def minRounds: Int = 1
  /** Untimed rounds before the timed loop, enough for the JIT to settle on
    * every op's code path. */
  def warmupRounds: Int = 1
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "read_history" => new ReadHistory(spark, seed)
    case "write_index" => new WriteIndex(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Helpers shared by the workloads: order-independent digests, scan
  * metrics from executed plans, and file-system sizes. */
object Util extends AdaptiveSparkPlanHelper {

  /** (row count, order-independent hash) of `df` over `cols`: the sum of
    * per-row 64-bit hashes, summed exactly as a decimal. */
  def digestCols(cols: Seq[String]): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(20,0)")),
      lit(0).cast("decimal(30,0)")).as("h"))

  def digestOf(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(digestCols(cols).head, digestCols(cols).tail: _*).collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collect(p) { case s: FileSourceScanExec => s }

  /** Record the executed plan's scan metrics on `ctx`. */
  def countScanMetrics(df: DataFrame, ctx: OpCtx): Unit =
    scans(df.queryExecution.executedPlan).foreach { s =>
      def m(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      ctx.count("files_read", m("numFiles"))
      ctx.count("bytes_read", m("filesSize"))
      ctx.count("metadata_s", m("metadataTime") / 1e3)
    }

  /** True when the optimizer answered `df` without reading any file. */
  def answeredFromStats(df: DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan
    p.collectFirst { case r: LogicalRelation => r }.isEmpty &&
      p.collectFirst { case r: LocalRelation => r }.nonEmpty
  }

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** (files, bytes) of every regular file under `root`. */
  def diskUsage(spark: SparkSession, root: String): (Long, Long) = {
    val it = fs(spark, root).listFiles(new Path(root), true)
    var n = 0L
    var b = 0L
    while (it.hasNext) { val f = it.next(); n += 1; b += f.getLen }
    (n, b)
  }

  /** Delta tables under `root` (directories holding a `_delta_log`). */
  def tablesUnder(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    def walk(p: Path): Seq[String] =
      if (f.exists(new Path(p, "_delta_log"))) Seq(p.toString)
      else f.listStatus(p).toSeq.filter(_.isDirectory)
        .filterNot(_.getPath.getName.startsWith("_"))
        .flatMap(s => walk(s.getPath))
    walk(new Path(root))
  }

  def liveBytes(spark: SparkSession, table: String): Long =
    graft.delta.DeltaLog.forPath(spark, table).update().files.map(_.size).sum

  def logEntries(spark: SparkSession, table: String): Int =
    fs(spark, table).listStatus(new Path(table, "_delta_log")).length

  def fileSize(spark: SparkSession, p: Path): Long = {
    val f = fs(spark, p.toString)
    if (f.exists(p)) f.getFileStatus(p).getLen else 0L
  }

  def deleteRecursively(spark: SparkSession, p: String): Unit =
    fs(spark, p).delete(new Path(p), true)

  def timed[T](body: => T): (T, Double) = {
    val t0 = Clock.now()
    val r = body
    (r, Clock.now() - t0)
  }
}
