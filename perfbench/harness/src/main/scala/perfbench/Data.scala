package perfbench

import java.sql.Date
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of (seed, key),
  * so a workload can regenerate any row to build its expected results, and
  * the same seed always gives the same inputs. The shapes follow the
  * TPC-H-like `lineitem` and the `embeddings` tables the project's queries
  * use. */
object Data {

  /** A per-key random stream: splitmix-style mixing of (seed, salt, key). */
  def rng(seed: Long, salt: Long, key: Long): java.util.Random = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + key
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new java.util.Random(z ^ (z >>> 31))
  }

  // ---- lineitem ---------------------------------------------------------

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType),
    StructField("l_shipyear", IntegerType)))

  val lineitemCols: Seq[String] = lineitemSchema.fieldNames.toSeq
  val Years: Seq[Int] = 1992 to 1998
  private val Flags = Array("A", "N", "R")

  /** The row of order key `key`, shipped in `year`; `salt` selects a
    * version of its values (an upsert rewrites a key under a new salt). */
  def lineitemRow(seed: Long, key: Long, year: Int, salt: Long = 0): Row = {
    val r = rng(seed, 1 + salt, key)
    val date = java.time.LocalDate.of(year, 1, 1).plusDays(r.nextInt(365))
    val qty = (1 + r.nextInt(50)).toDouble
    val part = 1 + r.nextInt(20000).toLong
    Row(key, part, 1 + r.nextInt(1000).toLong, 1 + r.nextInt(7), qty,
      math.round(qty * (900 + part % 1000) * 100) / 100.0,
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      Flags(r.nextInt(3)), if (r.nextBoolean()) "O" else "F",
      Date.valueOf(date), year)
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
  }

  // ---- embeddings -------------------------------------------------------

  val Dim = 16
  val Clusters = 8

  /** Vectors scattered around [[Clusters]] seeded centres; `salt` selects
    * a version of a key's vector (an upsert rewrites it). */
  def embedding(seed: Long, id: Long, salt: Long = 0): Array[Float] = {
    val r = rng(seed, 21 + salt, id)
    val c = rng(seed, 20, r.nextInt(Clusters).toLong)
    Array.fill(Dim)((c.nextFloat() * 2 - 1) + (r.nextFloat() - 0.5f) * 0.3f)
  }

  val itemsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("shard", IntegerType),
    StructField("label", IntegerType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  val itemsCols: Seq[String] = itemsSchema.fieldNames.toSeq
}
