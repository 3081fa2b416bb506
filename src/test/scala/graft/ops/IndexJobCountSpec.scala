package graft.ops

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.{DeltaLog, Dml, GraftWriter, JobCounting}

/** Spark jobs and commits per index refresh, pinned. Each case builds a
  * fresh index, lands one source window, and counts what ONE
  * `refreshFromSource` submits: Spark jobs, and commits per index table
  * as the table's log-version delta. The ceilings are the most each case
  * ran in five runs of this spec on the commit before the two indexes
  * shared one maintainer core; a refresh must not exceed them. Job counts
  * of the same code moved by up to two between those runs (delete window
  * 78–80, data-free window 5–6), so a ceiling is that range's top, not
  * one sample. A dedup refresh that folds data ends in the layout pass,
  * whose buckets commits count too: an OPTIMIZE of the files the fold
  * wrote, and (first refresh after a build) the reclamation cadence
  * stamp. */
class IndexJobCountSpec extends AnyFunSuite with DedupIndexFixtures
    with JobCounting {
  import spark.implicits._

  private def versions(root: String, tables: Seq[String]): Seq[Long] =
    tables.map(t => DeltaLog.forPath(spark, s"$root/$t").update().version)

  /** (jobs, commits per table) of `refresh`, with the ceilings checked. */
  private def pin(name: String, root: String, tables: Seq[String],
                  maxJobs: Int, maxCommits: Seq[Long])(refresh: => Any): Unit = {
    val before = versions(root, tables)
    val (jobs, _) = jobsDuring(refresh)
    val commits = versions(root, tables).zip(before).map { case (a, b) => a - b }
    info(s"$name: $jobs jobs, commits ${tables.zip(commits).mkString(", ")}")
    assert(jobs <= maxJobs, s"$name ran $jobs Spark jobs (ceiling $maxJobs)")
    tables.zip(commits).zip(maxCommits).foreach { case ((t, n), max) =>
      assert(n <= max, s"$name committed $n times to $t (ceiling $max)")
    }
  }

  private val DedupTables = Seq("buckets", "members", "survivors")

  /** A dedup index over the corpus's first slice, its source CDF-enabled. */
  private def dedupIndex(name: String): (String, String) = {
    val r = root(name)
    val src = s"$r/source"
    GraftWriter.write(slice(corpus, 0, 200), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx",
      numHashes = 64, bands = 64)
    (src, s"$r/idx")
  }

  test("dedup insert window: jobs and commits per refresh") {
    val (src, idx) = dedupIndex("jc-insert")
    GraftWriter.write(slice(corpus, 200, 400), src, SaveMode.Append)
    pin("dedup insert", idx, DedupTables, 101, Seq(3, 1, 1)) {
      assert(DedupIndex.refreshFromSource(spark, idx)._1 > 0)
    }
  }

  test("dedup delete window: jobs and commits per refresh") {
    val (src, idx) = dedupIndex("jc-delete")
    Dml.delete(spark, src, col("doc_id").isin(1L, 110L))
    pin("dedup delete", idx, DedupTables, 80, Seq(4, 1, 1)) {
      DedupIndex.refreshFromSource(spark, idx)
    }
    assert(DedupIndex.members(spark, idx)
      .filter(col("id").isin(1L, 110L)).count() == 0)
  }

  test("dedup data-free window: jobs and commits per refresh") {
    val (src, idx) = dedupIndex("jc-empty")
    graft.delta.DeltaTable.forPath(spark, src)
      .setProperties(Map("graft.test.note" -> "data-free"))
    pin("dedup data-free", idx, DedupTables, 6, Seq(1, 0, 0)) {
      assert(DedupIndex.refreshFromSource(spark, idx) == ((0L, 0L)))
    }
  }

  test("IVF refreshFromSource with adds and tombstones: jobs and commits") {
    val r = root("jc-ivf")
    val src = s"$r/source"
    def vecs(from: Int, until: Int) = (from until until).map(i =>
      (i.toLong, Array(math.sin(i).toFloat, math.cos(i).toFloat, i % 7 / 7f)))
      .toDF("vec_id", "embedding")
    GraftWriter.write(vecs(0, 200), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    IvfIndex.buildFromTable(spark, src, "vec_id", "embedding", s"$r/idx",
      nClusters = 4)
    GraftWriter.write(vecs(200, 240), src, SaveMode.Append)
    Dml.delete(spark, src, col("vec_id") < 10)
    pin("ivf refresh", s"$r/idx", Seq("centroids", "postings"), 11, Seq(0, 1)) {
      assert(IvfIndex.refreshFromSource(spark, s"$r/idx") == ((40L, 10L)))
    }
  }
}
