package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.DedupIndex

/** Standing-dedup-index scale probe (r13 verdict #2): on the SF's
  * documents table, compare the cost of a FULL recompute against the cost
  * of folding a fixed ~500-doc increment through the standing index. Run
  * across SFs, the full wall should track the corpus while the increment
  * wall tracks the batch.
  *
  * r16 (verdict #7) adds, after the increments: a ~500-doc DELETE wave
  * folded through the index (timed), and bounded-probe measurements — a
  * fixed probe's `inputFiles` count against each standing table's total,
  * required < 1/2 (the DedupIndexSpec assertion at corpus scale). For the
  * 5M-doc point the FULL-recompute control is skippable
  * (SPARK_GRAFT_DEDUP_FULL=0): equivalence is gate-proven at sf0.1 and
  * probe-proven at 500k; at 5M the walls and probe bounds are the measure,
  * and a second full build would double a ~half-hour run for no new
  * information. The survivor-equivalence require() only runs with the
  * control.
  *
  * Run: SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt "Test/runMain graft.DedupIncrMain"
  * 5M docs: SPARK_GRAFT_SF_DIR=/tmp/sf100docs SPARK_GRAFT_DEDUP_FULL=0
  */
object DedupIncrMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      // a real 100 TB corpus spans thousands of files; at probe scale the
      // default 256 MiB target collapses every standing table to ONE file,
      // which hides the layout-pruning behavior this probe measures — 1 MiB
      // keeps the file counts representative
      .config("spark.graft.dedup.maintainTargetBytes", 1L << 20)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = "/tmp/graft_dedupincr"
    LocalPaths.deleteRecursively(root)

    def timed[A](label: String)(body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"PROBE $label%-52s $s%8.2f s")
      (r, s)
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val n = docs.count()
    // two fixed ~500-doc holdout batches off the top of the id order —
    // the increment size stays CONSTANT across SFs so the walls compare
    val batchFrac = 500.0 / n
    // accuracy raised to 1e6: the default (1e4) places extreme quantiles
    // (0.9998 at 5M docs) a whole replica off, degenerating the fixed
    // ~500-doc batches to 999 + 1
    val Seq(c1, c2) = docs.selectExpr(
        s"percentile_approx(doc_id, array(${1 - 2 * batchFrac}, " +
        s"${1 - batchFrac}), 1000000)")
      .first().getSeq[Long](0).toIndexedSeq
    val base = docs.filter(col("doc_id") < c1)
    val batchA = docs.filter(col("doc_id") >= c1 && col("doc_id") < c2)
    val batchB = docs.filter(col("doc_id") >= c2)
    println(s"PROBE corpus $n docs; base ${base.count()}, " +
      s"batches ${batchA.count()} + ${batchB.count()}")

    val withFull = !sys.env.get("SPARK_GRAFT_DEDUP_FULL").contains("0")
    // the cost an increment AVOIDS: one full recompute over everything
    if (withFull) {
      val srcFull = s"$root/src_full"
      graft.delta.GraftWriter.write(docs, srcFull,
        configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
      timed(s"FULL recompute (buildFromSource, $n docs)") {
        DedupIndex.buildFromSource(spark, srcFull, "text", "doc_id",
          s"$root/idx_full")
      }
    }

    val src = s"$root/src"
    graft.delta.GraftWriter.write(base, src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    timed(s"standing build (base)") {
      DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$root/idx")
    }
    graft.delta.GraftWriter.write(batchA, src, SaveMode.Append)
    val ((a1, e1), _) = timed("increment A (~500 docs)") {
      DedupIndex.refreshFromSource(spark, s"$root/idx")
    }
    graft.delta.GraftWriter.write(batchB, src, SaveMode.Append)
    val ((a2, e2), _) = timed("increment B (~500 docs)") {
      DedupIndex.refreshFromSource(spark, s"$root/idx")
    }
    println(s"PROBE increments: A=($a1 docs, $e1 edges) B=($a2 docs, $e2 edges)")

    // DELETE wave (r16): ~500 standing docs spread across the id space,
    // folded as one delete-only window — family re-splits, survivor
    // re-elections, buckets MERGE-delete, all at corpus scale
    val step = math.max(1L, n / 500)
    val nDeleted = graft.delta.Dml.delete(spark, src,
      pmod(col("doc_id"), lit(step)) === 0 && col("doc_id") < c1).rowsAffected
    timed(s"delete wave ($nDeleted docs) fold") {
      DedupIndex.refreshFromSource(spark, s"$root/idx")
    }

    // UPDATE wave (r17 — the new fold path): ~500 standing docs rewritten
    // in place (vowels → digits, the q84 shape: near-total shingle
    // rewrite, so families genuinely re-home), folded as ONE
    // update_pre/postimage window — pre-image band deletes + post-image
    // re-index + family re-splits, all at corpus scale
    val nUpdated = graft.delta.Dml.update(spark, src,
      pmod(col("doc_id"), lit(step)) === 1 && col("doc_id") < c1,
      Map("text" -> translate(col("text"), "aeiou", "01234"))).rowsAffected
    timed(s"update wave ($nUpdated docs) fold") {
      DedupIndex.refreshFromSource(spark, s"$root/idx")
    }

    // bounded-probe measurement (r16): a FIXED probe must read a small
    // file subset of each standing table, whatever the corpus size — the
    // DedupIndexSpec inputFiles assertions at scale
    def probeBound(label: String, path: String, keyCol: String,
                   keys: Array[Any]): Unit = {
      val total = graft.delta.DeltaLog.forPath(spark, path).update().files.size
      val read = DedupIndex.prunedScan(spark, path, keyCol, Some(keys))
        .inputFiles.length
      println(f"PROBE probe_bound $label%-12s $read%5d of $total%5d files")
      require(read < total / 2, s"$label probe must skip most files")
    }
    val someId = batchA.select("doc_id").orderBy("doc_id")
      .limit(1).first().getLong(0)
    probeBound("members", s"$root/idx/members", "id",
      Array[Any](someId, someId + 7))
    probeBound("survivors", s"$root/idx/survivors", "comp",
      Array[Any](someId, someId + 7))
    val bandKeys = graft.delta.DeltaTable.forPath(spark, s"$root/idx/buckets")
      .toDF.filter(col("id") === someId)
      .select("band_idx", "band_hash").collect()
      .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)) }
    val bTotal = graft.delta.DeltaLog.forPath(spark, s"$root/idx/buckets")
      .update().files.size
    val bRead = DedupIndex.prunedBuckets(spark, s"$root/idx", Some(bandKeys))
      .inputFiles.length
    println(f"PROBE probe_bound buckets      $bRead%5d of $bTotal%5d files")
    require(bRead < bTotal / 2, "buckets probe must skip most files")

    if (withFull) {
      // the equivalence that makes the walls comparable: same survivors
      // (the full index sees the delete AND update waves too, via its
      // own refresh)
      graft.delta.Dml.delete(spark, s"$root/src_full",
        pmod(col("doc_id"), lit(step)) === 0 && col("doc_id") < c1)
      graft.delta.Dml.update(spark, s"$root/src_full",
        pmod(col("doc_id"), lit(step)) === 1 && col("doc_id") < c1,
        Map("text" -> translate(col("text"), "aeiou", "01234")))
      DedupIndex.refreshFromSource(spark, s"$root/idx_full")
      val full = DedupIndex.survivors(spark, s"$root/idx_full")
        .orderBy("comp").collect().toSeq
      val incr = DedupIndex.survivors(spark, s"$root/idx")
        .orderBy("comp").collect().toSeq
      require(full == incr,
        s"incremental (${incr.size}) != full (${full.size}) survivors")
      println(s"PROBE survivors match: ${full.size} families")
    }
    spark.stop()
  }
}
