package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r17 literal-centroid fast path to the broadcast-crossJoin
  * fallback across the `spark.graft.kmeans.literalMaxDoubles` cap (r17
  * verdict #4: the fast path shipped without an equivalence spec, unlike
  * the union-find's), and the r18 driver-resident Lloyd loop to the
  * distributed DataFrame loop. Ids are unique in every engine call site —
  * the documented contract; see assignToCentroidsWithDist's scaladoc. */
class SimilarityLiteralSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val CapKey = Similarity.LiteralCentroidDoublesKey

  private def withCap[A](v: String)(body: => A): A = {
    val old = spark.conf.getOption(CapKey)
    spark.conf.set(CapKey, v)
    try body
    finally old match {
      case Some(o) => spark.conf.set(CapKey, o)
      case None => spark.conf.unset(CapKey)
    }
  }

  private def randVecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
      .toDF("id", "vec")
  }

  // a centroid set with an EXACT tie for vector 0: both centroids at the
  // same point, so the (dist, cid) tie-break must pick the lowest cid on
  // both paths
  private def tieCents = Seq(
    (2, Array(1.0f, 1.0f)), (1, Array(1.0f, 1.0f)), (3, Array(-1.0f, 0.0f)))
    .toDF("cid", "centroid")

  test("literal assignment == broadcast assignment (random vectors)") {
    val vecs = randVecs(300, 6, 11)
    val cents = Seq((1, Array.fill(6)(0.3f)), (2, Array.fill(6)(-0.2f)),
      (5, Array.fill(6)(0.9f))).toDF("cid", "centroid")
    val fast = withCap("65536")(
      Similarity.assignToCentroidsWithDist(vecs, "id", "vec", cents)
        .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq)
    val slow = withCap("0")(
      Similarity.assignToCentroidsWithDist(vecs, "id", "vec", cents)
        .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq)
    assert(fast == slow)
  }

  test("literal assignment ties break to the lowest cid, like min_by") {
    val vecs = Seq((0L, Array(1.0f, 1.0f)), (7L, Array(-0.9f, 0.1f)))
      .toDF("id", "vec")
    val fast = withCap("65536")(
      Similarity.assignToCentroids(vecs, "id", "vec", tieCents)
        .as[(Long, Int)].collect().toMap)
    val slow = withCap("0")(
      Similarity.assignToCentroids(vecs, "id", "vec", tieCents)
        .as[(Long, Int)].collect().toMap)
    assert(fast == Map(0L -> 1, 7L -> 3))
    assert(fast == slow)
  }

  test("empty centroid set keeps crossJoin semantics (zero rows) on both paths") {
    val vecs = randVecs(5, 3, 3)
    val cents = tieCents.filter(col("cid") < 0)
    val fast = withCap("65536")(
      Similarity.assignToCentroids(vecs, "id", "vec", cents).count())
    val slow = withCap("0")(
      Similarity.assignToCentroids(vecs, "id", "vec", cents).count())
    assert(fast == 0L && slow == 0L)
  }

  test("driver-resident kmeans loop == distributed DataFrame loop") {
    val vecs = randVecs(240, 5, 42)
    val fast = withCap("65536")(
      Similarity.kmeansAssign(vecs, "id", "vec", k = 6, iters = 3)
        .as[(Long, Int)].collect().toMap)
    val slow = withCap("0")(
      Similarity.kmeansAssign(vecs, "id", "vec", k = 6, iters = 3)
        .as[(Long, Int)].collect().toMap)
    assert(fast.size == 240)
    assert(fast == slow)
  }

  test("kmeans over fewer vectors than k matches on both paths") {
    val vecs = randVecs(3, 4, 9)
    val fast = withCap("65536")(
      Similarity.kmeansAssign(vecs, "id", "vec", k = 8, iters = 2)
        .as[(Long, Int)].collect().toMap)
    val slow = withCap("0")(
      Similarity.kmeansAssign(vecs, "id", "vec", k = 8, iters = 2)
        .as[(Long, Int)].collect().toMap)
    assert(fast == slow)
  }

  test("a null element in an init vector declines the driver loop") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // init centroid 2 is vector 1, whose first element is null: it has no
    // place in a literal typed array<double> without nulls, so the driver
    // loop must decline and the distributed loop answer
    val rows = (0 until 20).map(i =>
      Row(i.toLong, Seq[Any](if (i == 1) null else i.toFloat, (i % 5).toFloat)))
    val vecs = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType),
        StructField("vec", ArrayType(FloatType, containsNull = true)))))
    val dv = vecs.select(col("id"),
      expr("transform(vec, x -> cast(x as double))").as("dv"))
    assert(withCap("65536")(Similarity.driverKmeansCentroids(dv, "id", 2, 1)).isEmpty)
    val fast = withCap("65536")(
      Similarity.kmeansAssign(vecs, "id", "vec", k = 2, iters = 1)
        .as[(Long, Int)].collect().toMap)
    val slow = withCap("0")(
      Similarity.kmeansAssign(vecs, "id", "vec", k = 2, iters = 1)
        .as[(Long, Int)].collect().toMap)
    assert(fast.size == 20)
    assert(fast == slow)
  }

  test("kmeansAssignKeep probes the driver loop once past the cap") {
    val vecs = randVecs(60, 5, 7)
    // k·dim = 20 > cap 8: the probe collects the init rows, then declines
    val (probes, kept) = withCap("8") {
      val before = Similarity.centroidProbes.get()
      val kept = Similarity.kmeansAssignKeep(vecs, "id", "vec", k = 4, iters = 2)
        .select("id", "cluster").as[(Long, Int)].collect().toMap
      (Similarity.centroidProbes.get() - before, kept)
    }
    assert(probes == 1)
    val plain = withCap("8")(
      Similarity.kmeansAssign(vecs, "id", "vec", k = 4, iters = 2)
        .as[(Long, Int)].collect().toMap)
    assert(kept.size == 60)
    assert(kept == plain)
  }
}
