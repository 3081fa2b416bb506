package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per merge-on-read DML operation, pinned. Each case runs on a
  * fresh 2000-row, 4-file table with deletion vectors enabled; "again"
  * and UPDATE run after a first DELETE, so the files they touch already
  * carry a deletion vector. The ceilings are the job counts of the
  * retired tag-format write path on the same cases (measured on the
  * commit before it was removed); the standard-descriptor path must not
  * exceed them. */
class DvJobCountSpec extends AnyFunSuite with SparkTestBase with JobCounting {
  import LogFixtures.tempTable

  private def dvTable(name: String, cdf: Boolean): String = {
    val dir = tempTable(name).toString
    GraftWriter.write(spark.range(2000).toDF("id")
      .withColumn("v", concat(lit("n"), col("id").cast("string")))
      .repartitionByRange(4, col("id")), dir)
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.EnableDeletionVectors -> "true") ++
        (if (cdf) Map(TableConfig.EnableChangeDataFeed -> "true") else Map.empty))
    assert(DeltaTable.forPath(spark, dir).files.size == 4)
    dir
  }

  /** Every file holds ids in one 500-wide range, so `id % 50 < k` hits
    * all four files. */
  private def firstDelete(dir: String): DmlMetrics =
    Dml.delete(spark, dir, col("id") % 50 === 0)

  private def visible(dir: String): Long = DeltaTable.forPath(spark, dir).toDF.count()

  private val cases: Seq[(String, Boolean, Int)] = Seq(
    ("DV DELETE, first", false, 3),
    ("DV DELETE, again", false, 10),
    ("DV UPDATE", false, 14),
    ("DV DELETE, first, with CDF", true, 5),
    ("DV DELETE, again, with CDF", true, 14),
    ("DV UPDATE, with CDF", true, 14))

  cases.foreach { case (name, cdf, ceiling) =>
    test(s"$name runs at most $ceiling Spark jobs") {
      val dir = dvTable(name.replaceAll("[^A-Za-z]+", "-").toLowerCase, cdf)
      val (jobs, m) =
        if (name.startsWith("DV DELETE, first"))
          jobsDuring(firstDelete(dir))
        else {
          firstDelete(dir)
          if (name.startsWith("DV DELETE, again"))
            jobsDuring(Dml.delete(spark, dir, col("id") % 50 === 1))
          else
            jobsDuring(Dml.update(spark, dir, col("id") % 50 === 2,
              Map("v" -> lit("u"))))
        }
      info(s"$name: $jobs jobs")
      assert(m.rowsAffected == 40)
      assert(m.filesRewritten == 4)
      assert(visible(dir) ==
        (if (name.startsWith("DV DELETE, again")) 1920 else 1960))
      assert(jobs <= ceiling, s"$name ran $jobs Spark jobs (ceiling $ceiling)")
    }
  }
}
