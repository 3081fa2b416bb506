package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

class WriterSpec extends AnyFunSuite with SparkTestBase {
  import LogFixtures.tempTable

  private def sampleDF(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"name-$i", i % 3)).toDF("id", "name", "bucket")
  }

  test("write + read back round-trips values") {
    val dir = tempTable("wr-roundtrip").toString
    GraftWriter.write(sampleDF(0 until 100), dir)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.version == 0)
    val rows = dt.toDF.orderBy("id").collect()
    assert(rows.length == 100)
    assert(rows.head.getLong(0) == 0 && rows.last.getLong(0) == 99)
    assert(dt.schema.fieldNames.toSeq == Seq("id", "name", "bucket"))
  }

  test("Add actions carry real footer stats (numRecords/min/max/nullCount)") {
    val dir = tempTable("wr-stats").toString
    GraftWriter.write(sampleDF(0 until 50), dir)
    val dt = DeltaTable.forPath(spark, dir)
    val stats = dt.files.flatMap(_.stats).flatMap(ActionCodec.statsFromJson)
    assert(stats.nonEmpty && stats.size == dt.files.size)
    assert(stats.map(_.numRecords).sum == 50)
    val tbl = dt.statistics
    assert(tbl.numRecords.contains(50L))
    assert(tbl.minValues("id").asLong == 0L)
    assert(tbl.maxValues("id").asLong == 49L)
    assert(tbl.minValues("name").asText == "name-0")
    assert(tbl.nullCounts("id") == 0L)
  }

  test("long string stats truncate to bounds, and the bounds stay sound") {
    import spark.implicits._
    val dir = tempTable("wr-truncstats").toString
    val long = "m" * 500
    // rows around the eventual min/max so the true extremes are long strings
    val rows = Seq(("aaa" + "z" * 300), ("zzz" + "a" * 300), long)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    GraftWriter.write(rows.toDF("id", "text").coalesce(1), dir)
    val st = DeltaTable.forPath(spark, dir).statistics
    val mn = st.minValues("text").asText
    val mx = st.maxValues("text").asText
    assert(mn.length <= FooterStats.MaxStringStatLength, s"min not truncated: ${mn.length}")
    assert(mx.length <= FooterStats.MaxStringStatLength, s"max not truncated: ${mx.length}")
    // sound bounds over the true values
    val texts = rows.map(_._2)
    assert(texts.forall(t => mn <= t), "min must lower-bound every value")
    assert(texts.forall(t => mx >= t), "max must upper-bound every value")
    // and skipping with them remains correct: a value above the bumped max prunes
    val snap = DeltaLog.forPath(spark, dir).update()
    assert(StatsPredicate.prune(snap.files,
      Seq(StatsPredicate.Ge("text", "zzzb"))).isEmpty)
    assert(StatsPredicate.prune(snap.files,
      Seq(StatsPredicate.Ge("text", "zzz"))).size == 1)
  }

  private def utf8Geq(bound: String, value: String): Boolean =
    StatsPredicate.utf8Compare(bound, value) >= 0

  test("truncateMax bumps code points, not code units") {
    // U+FFFF is bumpable in code-point space (→ U+10000); the bound must
    // still upper-bound the original in UTF-8 order
    val s = "ab" + (Char.MaxValue.toString * 100)
    val out = FooterStats.truncateMax(s).asInstanceOf[String]
    assert(out.length <= FooterStats.MaxStringStatLength + 1)
    assert(utf8Geq(out, s), "bound must dominate the value in UTF-8 order")
    // U+10FFFF (the max code point) is unbumpable: drops right-to-left
    val top = new String(Character.toChars(0x10FFFF))
    val s2 = "ab" + (top * 100)
    val out2 = FooterStats.truncateMax(s2).asInstanceOf[String]
    assert(out2 == "ac", s"got $out2")
    // all-U+10FFFF string: no expressible upper bound → omitted
    val none = FooterStats.truncateMax(top * 100)
    assert(none != null && none.toString.contains("BadStat"))
  }

  test("truncation never splits a surrogate pair (r12: invalid max bound)") {
    // supplementary char spanning the 64-char cut: the old code-unit bump
    // left a lone high surrogate, whose UTF-8 form (`?` 0x3F) sorted BELOW
    // the data it claimed to bound — Ge/EqTo pruning then skipped a live file
    val emoji = new String(Character.toChars(0x1F600))
    val s = ("a" * 63) + emoji + "zzz"
    val mx = FooterStats.truncateMax(s).asInstanceOf[String]
    val mn = FooterStats.truncateMin(s).asInstanceOf[String]
    // well-formed UTF-16: every surrogate in either bound is part of a pair
    def wellFormed(str: String): Boolean = {
      var i = 0
      while (i < str.length) {
        val c = str.charAt(i)
        if (Character.isHighSurrogate(c)) {
          if (i + 1 >= str.length || !Character.isLowSurrogate(str.charAt(i + 1)))
            return false
          i += 2
        } else if (Character.isLowSurrogate(c)) return false
        else i += 1
      }
      true
    }
    assert(wellFormed(mn), "min bound must not contain a lone surrogate")
    assert(wellFormed(mx), "max bound must not contain a lone surrogate")
    assert(utf8Geq(mx, s), "max bound must dominate the value in UTF-8 order")
    assert(StatsPredicate.utf8Compare(mn, s) <= 0, "min bound must lower-bound")
    // end-to-end: file containing the value must survive Ge/EqTo pruning
    import spark.implicits._
    val dir = tempTable("wr-surrogate-stats").toString
    GraftWriter.write(Seq((1L, s)).toDF("id", "text").coalesce(1), dir)
    val snap = DeltaLog.forPath(spark, dir).update()
    assert(StatsPredicate.prune(snap.files,
      Seq(StatsPredicate.EqTo("text", s))).size == 1,
      "EqTo on the actual value must not prune its own file")
    assert(StatsPredicate.prune(snap.files,
      Seq(StatsPredicate.Ge("text", ("a" * 63) + "b"))).size == 1,
      "Ge below the value must not prune its file")
  }

  test("executor-side stats path produces identical Adds to the driver pool") {
    // a write's tasks read their own footers; CONVERT's collectStats reads
    // them in a distributed job at or above the threshold (1 here) and on
    // the driver pool below it — all three must agree file by file
    val dir = tempTable("wr-stats-exec").toString
    GraftWriter.write(sampleDF(0 until 200).repartition(8), dir)
    val files = DeltaTable.forPath(spark, dir).files
    val rels = files.map(_.path)
    val tablePath = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    spark.conf.set("spark.graft.write.statsExecutorThreshold", "1")
    val viaJob =
      try GraftWriter.collectStats(spark, tablePath, rels, conf)
      finally spark.conf.unset("spark.graft.write.statsExecutorThreshold")
    val viaPool = GraftWriter.collectStats(spark, tablePath, rels, conf)
    val viaTasks = files.map(a => a.path -> a.stats.get).toMap
    assert(rels.size > 1)
    assert(viaJob == viaPool)
    assert(viaPool == viaTasks)
    assert(DeltaTable.forPath(spark, dir).statistics.numRecords.contains(200L))
  }

  test("SaveMode semantics: ErrorIfExists, Ignore, Append, Overwrite (action.rs:806-815)") {
    val dir = tempTable("wr-modes").toString
    GraftWriter.write(sampleDF(0 until 10), dir)
    intercept[IllegalStateException] { GraftWriter.write(sampleDF(0 until 10), dir) }
    GraftWriter.write(sampleDF(0 until 10), dir, SaveMode.Ignore) // no-op
    assert(DeltaTable.forPath(spark, dir).version == 0)

    GraftWriter.write(sampleDF(10 until 30), dir, SaveMode.Append)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 30)

    GraftWriter.write(sampleDF(0 until 5), dir, SaveMode.Overwrite)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.count() == 5)
    assert(dt.snapshot.tombstones.nonEmpty) // overwrite tombstoned old files
    // time travel still sees the appended state
    assert(DeltaTable.forPath(spark, dir, 1).toDF.count() == 30)
  }

  test("schema mismatch on append is rejected (writer.rs:229-248 analog)") {
    val dir = tempTable("wr-schema").toString
    GraftWriter.write(sampleDF(0 until 10), dir)
    import spark.implicits._
    val wrong = Seq((1, "x")).toDF("id", "name") // id int, missing bucket
    intercept[SchemaMismatchException] {
      GraftWriter.write(wrong, dir, SaveMode.Append)
    }
  }

  test("partitioned write: hive layout, partitionValues, pruning, typed read") {
    val dir = tempTable("wr-part").toString
    GraftWriter.write(sampleDF(0 until 90), dir, SaveMode.ErrorIfExists, Seq("bucket"))
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.partitionColumns == Seq("bucket"))
    assert(dt.files.forall(a => a.path.contains("bucket=") &&
      a.partitionValues.keySet == Set("bucket")))
    // full read sees the partition column with its declared type
    val df = dt.toDF
    assert(df.schema("bucket").dataType == org.apache.spark.sql.types.IntegerType)
    assert(df.count() == 90)
    // partition-filtered read prunes files before the scan
    val pruned = dt.toDF(Seq(PartitionFilter.Eq("bucket", "1")))
    assert(pruned.count() == 30)
    assert(pruned.select("bucket").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    // in / not-in (read_delta_test.rs:148-228 semantics)
    assert(dt.toDF(Seq(PartitionFilter.In("bucket", Set("0", "2")))).count() == 60)
    assert(dt.toDF(Seq(PartitionFilter.NotIn("bucket", Set("0", "2")))).count() == 30)
  }

  test("concurrent appends through the writer all land, one version each") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = tempTable("wr-concurrent").toString
    GraftWriter.write(sampleDF(0 until 10), dir)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val versions = Await.result(Future.sequence((1 to 4).map { w =>
      Future {
        GraftWriter.write(sampleDF(w * 100 until w * 100 + 10), dir, SaveMode.Append)
      }
    }), 120.seconds)
    pool.shutdown()
    assert(versions.sorted == (1L to 4L))
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.version == 4)
    assert(dt.toDF.count() == 50) // 10 initial + 4×10 appended, none lost
  }

  test("stats-based file skipping drops files whose min/max exclude the predicate") {
    val dir = tempTable("wr-skip").toString
    import spark.implicits._
    // two ordered writes → disjoint id ranges in separate files
    GraftWriter.write((0 until 50).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .repartition(1), dir)
    GraftWriter.write((1000 until 1050).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .repartition(1), dir, SaveMode.Append)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.files.size == 2)
    val kept = StatsPredicate.prune(dt.files, Seq(StatsPredicate.Ge("id", 1000L)))
    assert(kept.size == 1)
    assert(dt.toDF(Nil, Seq(StatsPredicate.Ge("id", 1000L))).count() == 50)
    // predicate satisfiable by both files keeps both (skip-on-doubt)
    assert(StatsPredicate.prune(dt.files, Seq(StatsPredicate.Ge("id", 10L))).size == 2)
  }

  test("an NTZ-timestamp frame persists as timestamp_ntz and appends back (round 11)") {
    // tz-naive parquet reads as TimestampNTZType in Spark 4; since round 11
    // the metadata records the protocol's `timestamp_ntz` primitive (with
    // the timestampNtz feature on both protocol lists) instead of the old
    // value-preserving normalization to `timestamp`
    import org.apache.spark.sql.functions._
    val dir = tempTable("wr-ntz").toString
    import spark.implicits._
    val df = Seq((1L, "2024-01-02 03:04:05"), (2L, "2024-06-07 08:09:10"))
      .toDF("id", "s")
      .select(col("id"), col("s").cast("timestamp_ntz").as("ts"))
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    GraftWriter.write(df, dir)
    GraftWriter.write(df, dir, SaveMode.Append)                  // batch append
    assert(GraftWriter.evolveSchema(                             // mergeSchema path
      DeltaLog.forPath(spark, dir).update(), df.schema).isEmpty) // no bogus conflict
    val snap = DeltaLog.forPath(spark, dir).update()
    assert(snap.metadata.get.schemaString.contains("timestamp_ntz"))
    assert(snap.readerFeatures.exists(_.contains("timestampNtz")) &&
           snap.writerFeatures.exists(_.contains("timestampNtz")))
    // foreign-shaped read: parsing the persisted schemaString alone — what
    // any foreign reader does — yields NTZ, and graft's scan serves it
    assert(DeltaSchema.fromJson(snap.metadata.get.schemaString)("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    assert(dt.toDF.count() == 4)
    assert(dt.toDF.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("f"))
      .distinct().orderBy("f").as[String].collect().toSeq ==
      Seq("2024-01-02 03:04:05", "2024-06-07 08:09:10"))

    // legacy direction: a table whose metadata says `timestamp` (pre-r11
    // tables persisted NTZ frames that way) still accepts the NTZ frame —
    // the compat check normalizes BOTH sides
    val legacy = tempTable("wr-ntz-legacy").toString
    GraftWriter.write(df.select(col("id"), col("ts").cast("timestamp").as("ts")), legacy)
    val lsnap = DeltaLog.forPath(spark, legacy).update()
    assert(!lsnap.metadata.get.schemaString.contains("timestamp_ntz"))
    GraftWriter.write(df, legacy, SaveMode.Append)               // NTZ → legacy
    assert(DeltaTable.forPath(spark, legacy).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)                  // stays legacy
    assert(DeltaTable.forPath(spark, legacy).toDF.count() == 4)

    // converse: a tz-aware frame of the same UTC values appends to the
    // NTZ-at-rest table — and is CAST to the at-rest flavor before staging,
    // so the new file's parquet annotation matches the Delta schema
    // (isAdjustedToUTC=false; foreign readers reject a contradiction)
    val v2 = GraftWriter.write(
      df.select(col("id"), col("ts").cast("timestamp").as("ts")),
      dir, SaveMode.Append)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 6)
    assert(DeltaTable.forPath(spark, dir).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)               // stays NTZ
    val newFiles = DeltaLog.forPath(spark, dir).readCommit(v2)
      .collect { case a: AddAction => s"$dir/${ActionPath.decode(a.path)}" }
    assert(newFiles.nonEmpty)
    // schema inference over the raw file alone: tz-naive annotation → NTZ
    assert(spark.read.parquet(newFiles: _*).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType,
      "appended file must carry the NTZ parquet annotation, not UTC-adjusted")
  }
}
