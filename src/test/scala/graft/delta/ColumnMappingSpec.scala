package graft.delta

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Read support for `delta.columnMapping.mode = name` — the at-rest format
  * delta-spark produces for any table with renamed or dropped columns:
  * parquet columns, `add.partitionValues` keys, and stats keys all carry
  * stable physical `col-<uuid>` names; the logical names live only in the
  * schema metadata (`delta.columnMapping.physicalName`). Before this
  * support the fence refused such tables; a by-logical-name scan would
  * return all nulls. */
class ColumnMappingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val PhysId = "col-9f2a"      // logical: id
  private val PhysPart = "col-7bd1"    // logical: region
  private val PhysNest = "col-3e55"    // logical: meta (struct)
  private val PhysInner = "col-c044"   // logical: meta.score

  private def mappedField(name: String, phys: String, id: Int,
                          dt: DataType): StructField =
    StructField(name, dt, nullable = true, new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys)
      .build())

  private def logicalSchema(idName: String = "id"): StructType = StructType(Seq(
    mappedField(idName, PhysId, 1, LongType),
    mappedField("meta", PhysNest, 2,
      StructType(Seq(mappedField("score", PhysInner, 3, LongType)))),
    mappedField("region", PhysPart, 4, StringType)))

  /** Hand-author a delta-spark-shaped name-mapped table: two partitions,
    * physical names everywhere at rest. Returns the table dir. */
  private def mappedTable(mode: String = "name",
                          extraConfig: Map[String, String] = Map.empty): String = {
    val dir = Files.createTempDirectory("graft-cmap-").resolve("t")
    Files.createDirectories(dir)
    def dataFile(part: String, ids: Seq[Long]): (String, Long) = {
      val tmp = Files.createTempDirectory("graft-cmap-stage-")
      ids.map(i => (i, i * 10)).toDF(PhysId, PhysInner)
        .select(col(PhysId), struct(col(PhysInner)).as(PhysNest))
        .coalesce(1).write.parquet(tmp.resolve("out").toString)
      val src = Files.list(tmp.resolve("out")).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val rel = s"$PhysPart=$part/part-${part.toLowerCase}.parquet"
      Files.createDirectories(dir.resolve(s"$PhysPart=$part"))
      Files.copy(src, dir.resolve(rel), StandardCopyOption.REPLACE_EXISTING)
      (rel, Files.size(dir.resolve(rel)))
    }
    val (f1, s1) = dataFile("West", Seq(1L, 2L, 3L))
    val (f2, s2) = dataFile("East", Seq(10L, 11L))
    def stats(lo: Long, hi: Long, n: Long) =
      s"""{"numRecords":$n,"minValues":{"$PhysId":$lo},"maxValues":{"$PhysId":$hi},"nullCount":{"$PhysId":0}}"""
    val md = MetaDataAction(
      id = "cmap-test", name = None, description = None, format = Format(),
      schemaString = logicalSchema().json,
      partitionColumns = Seq("region"), createdTime = Some(1L),
      configuration = Map(
        "delta.columnMapping.mode" -> mode,
        "delta.columnMapping.maxColumnId" -> "4") ++ extraConfig)
    val actions = Seq(
      ActionCodec.toJsonLine(ProtocolAction(2, 5)),
      ActionCodec.toJsonLine(md),
      ActionCodec.toJsonLine(AddAction(f1, s1, Map(PhysPart -> "West"), 1L,
        dataChange = true, stats = Some(stats(1, 3, 3)))),
      ActionCodec.toJsonLine(AddAction(f2, s2, Map(PhysPart -> "East"), 1L,
        dataChange = true, stats = Some(stats(10, 11, 2)))))
    LogFixtures.writeCommit(dir, 0, actions)
    dir.toString
  }

  test("name-mapped table scans with logical names and real values") {
    val dt = DeltaTable.forPath(spark, mappedTable())
    val df = dt.toDF
    assert(df.schema.fieldNames.toSeq == Seq("id", "meta", "region"))
    assert(df.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("score"), "nested logical name lost")
    assert(df.count() == 5)
    // the old bug shape: logical-name scan over physical parquet = nulls
    assert(df.filter(col("id").isNull).count() == 0)
    val rows = df.select("id", "meta.score", "region")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(rows.head == (1L, 10L, "West") && rows.last == (11L, 110L, "East"))
  }

  test("partition pruning and stats skipping work through physical keys") {
    // plan rewrites swap in a re-scoped index; assert on the scan's OWN
    // index like FileIndexSpec does
    spark.conf.set("spark.graft.planRewrites.enabled", "false")
    try {
      val dir = mappedTable()
      val dt = DeltaTable.forPath(spark, dir)
      assert(dt.toDF.filter(col("region") === "East").count() == 2)
      assert(dt.lastFileIndex.exists(_.lastListedFileCount == 1),
        s"partition filter did not prune (listed ${dt.lastFileIndex.map(_.lastListedFileCount)})")
      assert(dt.toDF.filter(col("id") > 5).count() == 2)
      assert(dt.lastFileIndex.exists(_.lastListedFileCount == 1),
        "stats filter did not skip the lo-range file")
    } finally spark.conf.unset("spark.graft.planRewrites.enabled")
  }

  test("logical rename is metadata-only: time travel serves both names from the same bytes") {
    val dir = mappedTable()
    val md1 = MetaDataAction(
      id = "cmap-test", name = None, description = None, format = Format(),
      schemaString = logicalSchema(idName = "ident").json,
      partitionColumns = Seq("region"), createdTime = Some(1L),
      configuration = Map(
        "delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> "4"))
    LogFixtures.writeCommit(java.nio.file.Paths.get(dir), 1,
      Seq(ActionCodec.toJsonLine(md1)))
    val v1 = DeltaTable.forPath(spark, dir)
    assert(v1.toDF.schema.fieldNames.head == "ident")
    assert(v1.toDF.agg(sum("ident")).as[Long].head == 27)
    val v0 = DeltaTable.forPath(spark, dir, 0)
    assert(v0.toDF.schema.fieldNames.head == "id")
    assert(v0.toDF.agg(sum("id")).as[Long].head == 27)
  }

  test("SQL over a catalog path ident serves logical names (physical aliased in-plan)") {
    val dir = mappedTable()
    val rows = spark.sql(
      s"SELECT id, meta.score AS score, region FROM `graft-delta`.`$dir` " +
      "WHERE region = 'East' ORDER BY id")
      .as[(Long, Long, String)].collect().toSeq
    assert(rows == Seq((10L, 100L, "East"), (11L, 110L, "East")))
    // aggregate through the aliasing Project; all 5 rows, real values
    assert(spark.sql(s"SELECT sum(id) FROM `graft-delta`.`$dir`")
      .as[Long].head() == 27)
  }

  test("row-level feeds serve logical names over physical change files") {
    val dir = mappedTable()
    val log = DeltaLog.forPath(spark, dir)
    val feed = ChangeDataFeed.readChanges(spark, log, -1L, 0L)
    assert(feed.schema.fieldNames.toSeq ==
      Seq("id", "meta", "region", ChangeDataFeed.ChangeType,
        ChangeDataFeed.CommitVersion))
    val rows = feed.select("id", "meta.score", "region",
        ChangeDataFeed.ChangeType, ChangeDataFeed.CommitVersion)
      .as[(Long, Long, String, String, Long)].collect().sortBy(_._1)
    assert(rows.length == 5)
    assert(rows.head == (1L, 10L, "West", "insert", 0L))
    assert(rows.last == (11L, 110L, "East", "insert", 0L))
    // the file-level TVF: same aliasing through its one-scan path
    val tvf = spark.sql(s"SELECT id, region, _commit_version " +
      s"FROM graft_changes('$dir', -1) ORDER BY id")
      .as[(Long, String, Long)].collect().toSeq
    assert(tvf == Seq((1L, "West", 0L), (2L, "West", 0L), (3L, "West", 0L),
      (10L, "East", 0L), (11L, "East", 0L)))
  }

  test("streaming backfill serves logical names over physical files") {
    val dir = mappedTable()
    val q = spark.readStream.format("graft-delta").load(dir)
      .writeStream.format("memory").queryName("cmap_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("cmap_stream")
      .select("id", "meta.score", "region")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(got.length == 5)
    assert(got.head == (1L, 10L, "West") && got.last == (11L, 110L, "East"))
    // the polling tailer shares the physical-scan + alias path
    val tailer = graft.streaming.DeltaTailer.fromStart(DeltaLog.forPath(spark, dir))
    val (v, batch) = tailer.nextBatch().get
    assert(v == 0L)
    assert(batch.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 10L, 11L))
  }

  private def logicalRows(pairs: (Long, Long, String)*): org.apache.spark.sql.DataFrame =
    pairs.toSeq.toDF("id", "score", "region")
      .select(col("id"), struct(col("score")).as("meta"), col("region"))

  test("appends stage physical files: columns, partition dirs, stats all at-rest names") {
    val dir = mappedTable()
    val v = GraftWriter.write(logicalRows((20L, 200L, "North")), dir,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(v == 1L)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.count() == 6)
    assert(dt.toDF.filter(col("region") === "North")
      .select("id", "meta.score").as[(Long, Long)].head() == ((20L, 200L)))
    // at rest: the new file lives under a PHYSICAL partition dir and its
    // parquet columns are physical at every nesting level
    val newAdd = dt.snapshot.files.find(_.partitionValues.get(PhysPart).contains("North"))
    assert(newAdd.isDefined, s"add keyed by physical partition name; got " +
      dt.snapshot.files.map(_.partitionValues).mkString(", "))
    val raw = spark.read.parquet(
      new java.io.File(dir, newAdd.get.path).getAbsolutePath)
    assert(raw.schema.fieldNames.toSet == Set(PhysId, PhysNest))
    assert(raw.schema(PhysNest).dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq(PhysInner))
    // footer stats keyed physically → stats skipping keeps working
    assert(newAdd.get.stats.exists(_.contains(PhysId)))
    spark.conf.set("spark.graft.planRewrites.enabled", "false")
    try {
      val fresh = DeltaTable.forPath(spark, dir)
      assert(fresh.toDF.filter(col("id") > 15).count() == 1)
      assert(fresh.lastFileIndex.exists(_.lastListedFileCount == 1),
        "stats skip should isolate the appended file")
    } finally spark.conf.unset("spark.graft.planRewrites.enabled")
  }

  test("overwrite with CDF enabled stages physical change files the feed reads back") {
    val dir = mappedTable(extraConfig = Map("delta.enableChangeDataFeed" -> "true"))
    GraftWriter.write(logicalRows((30L, 300L, "South"), (31L, 310L, "South")),
      dir, mode = org.apache.spark.sql.SaveMode.Overwrite)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(30L, 31L))
    val log = DeltaLog.forPath(spark, dir)
    val byType = ChangeDataFeed.readChanges(spark, log, 0L, 1L)
      .groupBy(col(ChangeDataFeed.ChangeType)).count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("delete" -> 5L, "insert" -> 2L), s"got $byType")
    // images carry logical names and real values
    val deleted = ChangeDataFeed.readChanges(spark, log, 0L, 1L)
      .filter(col(ChangeDataFeed.ChangeType) === "delete")
      .select("id").as[Long].collect().sorted.toSeq
    assert(deleted == Seq(1L, 2L, 3L, 10L, 11L))
  }

  test("schema replacement, format reads, unknown stream columns refuse") {
    val dir = mappedTable()
    intercept[UnsupportedProtocolException] {
      GraftWriter.write(logicalRows((40L, 400L, "West")), dir,
        mode = org.apache.spark.sql.SaveMode.Overwrite, overwriteSchema = true)
    }
    intercept[UnsupportedProtocolException] {
      spark.read.format("graft-delta").load(dir).count()
    }
    // a declared stream column the mapped table does not have cannot be
    // served (no physical counterpart) — fail at start, not with nulls
    val stream = intercept[Exception] {
      spark.readStream.format("graft-delta")
        .schema(logicalSchema().add("ghost", LongType)).load(dir)
        .writeStream.format("memory").queryName("cmap_refuse")
        .start().processAllAvailable()
    }
    assert(stream.getMessage.contains("ghost") ||
      Option(stream.getCause).exists(_.getMessage.contains("ghost")))
  }

  // ------------------------------------------------------- mode = id

  private def fid(n: Long) = new MetadataBuilder().putLong("parquet.field.id", n).build()

  /** Hand-author an id-mapped table whose parquet columns are named NOTHING
    * like the physical names — only the footer field ids can resolve them.
    * Field ids follow the logical schema's `delta.columnMapping.id`:
    * id→1, meta→2, meta.score→3 (region is a partition column, not in
    * files). */
  private def idTable(): String = {
    val dir = Files.createTempDirectory("graft-idmap-").resolve("t")
    Files.createDirectories(dir)
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val fileSchema = StructType(Seq(
      StructField("alpha", LongType, nullable = true, fid(1)),
      StructField("beta", StructType(Seq(
        StructField("gamma", LongType, nullable = true, fid(3)))),
        nullable = true, fid(2))))
    val rows = Seq(1L, 2L, 3L).map(i =>
      org.apache.spark.sql.Row(i, org.apache.spark.sql.Row(i * 10)))
    val tmp = Files.createTempDirectory("graft-idmap-stage-")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), fileSchema)
      .coalesce(1).write.parquet(tmp.resolve("out").toString)
    val src = Files.list(tmp.resolve("out"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val rel = s"$PhysPart=West/part-west.parquet"
    Files.createDirectories(dir.resolve(s"$PhysPart=West"))
    Files.copy(src, dir.resolve(rel), StandardCopyOption.REPLACE_EXISTING)
    val md = MetaDataAction(
      id = "idmap-test", name = None, description = None, format = Format(),
      schemaString = logicalSchema().json,
      partitionColumns = Seq("region"), createdTime = Some(1L),
      configuration = Map(
        "delta.columnMapping.mode" -> "id",
        "delta.columnMapping.maxColumnId" -> "4"))
    LogFixtures.writeCommit(dir, 0, Seq(
      ActionCodec.toJsonLine(ProtocolAction(2, 5)),
      ActionCodec.toJsonLine(md),
      ActionCodec.toJsonLine(AddAction(rel, Files.size(dir.resolve(rel)),
        Map(PhysPart -> "West"), 1L, dataChange = true,
        stats = Some(s"""{"numRecords":3,"minValues":{"$PhysId":1},"maxValues":{"$PhysId":3},"nullCount":{"$PhysId":0}}""")))))
    dir.toString
  }

  test("id-mapped table resolves columns by parquet footer field ids") {
    val dt = DeltaTable.forPath(spark, idTable())
    val df = dt.toDF
    assert(df.schema.fieldNames.toSeq == Seq("id", "meta", "region"))
    // the at-rest names ("alpha"/"beta"/"gamma") match NOTHING in the read
    // schema — values arriving at all proves the footer-id matcher engaged
    val rows = df.select("id", "meta.score", "region")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 10L, "West"), (2L, 20L, "West"), (3L, 30L, "West")))
  }

  test("appends to an id-mapped table stamp footer ids (round-trip + raw probe)") {
    val dir = idTable()
    GraftWriter.write(logicalRows((20L, 200L, "North")), dir,
      mode = org.apache.spark.sql.SaveMode.Append)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.count() == 4)
    assert(dt.toDF.filter(col("region") === "North")
      .select("id", "meta.score").as[(Long, Long)].head() == ((20L, 200L)))
    // raw probe: read the staged file with a WRONG-named schema carrying
    // only field ids — values resolve iff the footer really has ids
    val newAdd = dt.snapshot.files
      .find(_.partitionValues.get(PhysPart).contains("North")).get
    val probe = spark.read
      .schema(StructType(Seq(StructField("zz", LongType, nullable = true, fid(1)))))
      .parquet(new java.io.File(dir, newAdd.path).getAbsolutePath)
    assert(probe.as[Long].collect().toSeq == Seq(20L))
  }

  test("CoW DELETE and UPDATE serve mapped tables: logical predicates, physical staging, CDF intact") {
    val dir = mappedTable(extraConfig = Map("delta.enableChangeDataFeed" -> "true"))
    val d = Dml.delete(spark, dir, col("id") === 2L)
    assert(d.rowsAffected == 1)
    assert(DeltaTable.forPath(spark, dir).toDF
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 10L, 11L))
    val u = Dml.update(spark, dir, col("id") === 10L,
      Map("meta" -> struct(lit(999L).as("score"))))
    assert(u.rowsAffected == 1)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.filter(col("id") === 10L)
      .select("meta.score").as[Long].head() == 999L)
    // the rewritten file is at-rest physical (columns + stats keys)
    val eastAdd = dt.snapshot.files
      .find(_.partitionValues.get(PhysPart).contains("East")).get
    val raw = spark.read.parquet(new java.io.File(dir, eastAdd.path).getAbsolutePath)
    assert(raw.schema.fieldNames.toSet == Set(PhysId, PhysNest))
    // CDF images captured physically, served logically
    val log = DeltaLog.forPath(spark, dir)
    val feed = ChangeDataFeed.readChanges(spark, log, 0L, log.update().version)
    assert(feed.filter(col(ChangeDataFeed.ChangeType) === "delete")
      .select("id").as[Long].collect().toSeq == Seq(2L))
    assert(feed.filter(col(ChangeDataFeed.ChangeType) === "update_postimage")
      .select("meta.score").as[Long].collect().toSeq == Seq(999L))
  }

  test("CoW DELETE serves id-mapped tables (readback proves footer ids held)") {
    val dir = idTable()
    val d = Dml.delete(spark, dir, col("id") === 2L)
    assert(d.rowsAffected == 1)
    assert(DeltaTable.forPath(spark, dir).toDF
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("OPTIMIZE compaction and Z-ORDER serve mapped tables, staging physical") {
    val dir = mappedTable()
    GraftWriter.write(logicalRows((4L, 40L, "West")), dir,
      mode = org.apache.spark.sql.SaveMode.Append) // West now holds 2 files
    val m = Optimize.compact(spark, dir, targetFileBytes = Long.MaxValue)
    assert(m.filesRemoved == 2 && m.filesAdded == 1, m)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 10L, 11L))
    // the rewritten file is at-rest physical at every nesting level
    val westAdd = dt.snapshot.files
      .find(_.partitionValues.get(PhysPart).contains("West")).get
    val raw = spark.read.parquet(new java.io.File(dir, westAdd.path).getAbsolutePath)
    assert(raw.schema.fieldNames.toSet == Set(PhysId, PhysNest))
    assert(westAdd.stats.exists(_.contains(PhysId)), "stats keyed physically")
    // Z-ORDER on a logical column name over the same table
    val z = Optimize.zorder(spark, dir, Seq("id"), targetFileBytes = Long.MaxValue)
    assert(z.filesRemoved >= 1)
    assert(DeltaTable.forPath(spark, dir).toDF
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 10L, 11L))
  }

  test("OPTIMIZE on an id-mapped table keeps footer ids (raw probe)") {
    val dir = idTable()
    GraftWriter.write(logicalRows((5L, 50L, "West")), dir,
      mode = org.apache.spark.sql.SaveMode.Append)
    val m = Optimize.compact(spark, dir, targetFileBytes = Long.MaxValue)
    assert(m.filesRemoved == 2 && m.filesAdded == 1, m)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 5L))
    val add = dt.snapshot.files.head
    val probe = spark.read
      .schema(StructType(Seq(StructField("zz", LongType, nullable = true, fid(1)))))
      .parquet(new java.io.File(dir, add.path).getAbsolutePath)
    assert(probe.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("MERGE serves mapped tables: logical clauses, physical staging, CDF images") {
    val dir = mappedTable(extraConfig = Map("delta.enableChangeDataFeed" -> "true"))
    val src = Seq((2L, 222L, "West"), (50L, 500L, "North"))
      .toDF("id", "score", "region")
      .select(col("id"), struct(col("score")).as("meta"), col("region"))
    val m = Merge.into(spark, dir, src.as("s"), col("t.id") === col("s.id"))
      .whenMatchedUpdate(Map("meta" -> col("s.meta")))
      .whenNotMatchedInsertAll()
      .execute()
    assert(m.rowsUpdated == 1 && m.rowsInserted == 1, m)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.filter(col("id") === 2L).select("meta.score")
      .as[Long].head() == 222L)
    assert(dt.toDF.filter(col("id") === 50L).select("region")
      .as[String].head() == "North")
    assert(dt.toDF.count() == 6)
    // the staged files are at-rest physical (columns + partition keys)
    val northAdd = dt.snapshot.files
      .find(_.partitionValues.get(PhysPart).contains("North"))
    assert(northAdd.isDefined, dt.snapshot.files.map(_.partitionValues).toString)
    val raw = spark.read.parquet(
      new java.io.File(dir, northAdd.get.path).getAbsolutePath)
    assert(raw.schema.fieldNames.toSet == Set(PhysId, PhysNest))
    // CDF captured physically, served logically
    val log = DeltaLog.forPath(spark, dir)
    val feed = ChangeDataFeed.readChanges(spark, log, 0L, log.update().version)
    assert(feed.filter(col(ChangeDataFeed.ChangeType) === "update_postimage")
      .select("meta.score").as[Long].collect().toSeq == Seq(222L))
    assert(feed.filter(col(ChangeDataFeed.ChangeType) === "insert")
      .filter(col("id") === 50L).count() == 1)
  }

  test("merge-on-read DV DML serves mapped tables: bytes untouched, positions move") {
    val dir = mappedTable(extraConfig = Map("delta.enableDeletionVectors" -> "true"))
    val before = DeltaTable.forPath(spark, dir).snapshot.files
      .map(a => a.path -> a.size).toMap
    val d = Dml.delete(spark, dir, col("id") === 2L)
    assert(d.rowsAffected == 1)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 10L, 11L))
    // merge-on-read, not copy-on-write: the West file was re-added with a
    // DV pointer, its bytes untouched
    val west = dt.snapshot.files.find(_.partitionValues.get(PhysPart).contains("West")).get
    assert(before.get(west.path).contains(west.size),
      s"file ${west.path} was rewritten — expected a DV re-add")
    assert(DeletionVectors.hasDv(west), "re-added file carries no DV pointer")
    // DV UPDATE: matched row moves to a new physical file, old bytes stay
    val u = Dml.update(spark, dir, col("id") === 10L,
      Map("meta" -> struct(lit(777L).as("score"))))
    assert(u.rowsAffected == 1)
    val dt2 = DeltaTable.forPath(spark, dir)
    assert(dt2.toDF.filter(col("id") === 10L).select("meta.score")
      .as[Long].head() == 777L)
    assert(dt2.toDF.count() == 4)
    // the appended update-copy is at-rest physical
    val newFiles = dt2.snapshot.files.filterNot(a => before.contains(a.path))
    assert(newFiles.nonEmpty)
    newFiles.foreach { a =>
      val raw = spark.read.parquet(new java.io.File(dir, a.path).getAbsolutePath)
      assert(raw.schema.fieldNames.toSet == Set(PhysId, PhysNest), a.path)
    }
  }

  test("mergeSchema on a mapped table allocates col-<uuid> physical names and ids") {
    val dir = mappedTable()
    GraftWriter.write(
      logicalRows((40L, 400L, "West")).withColumn("extra", lit(7L)), dir,
      mode = org.apache.spark.sql.SaveMode.Append, mergeSchema = true)
    val dt = DeltaTable.forPath(spark, dir)
    val f = dt.schema("extra")
    assert(f.metadata.getString("delta.columnMapping.physicalName").startsWith("col-"))
    assert(f.metadata.getLong("delta.columnMapping.id") == 5L)
    assert(TableConfig.of(dt.snapshot)("delta.columnMapping.maxColumnId") == "5")
    // logical readback: old rows null-fill, the new row carries the value
    assert(dt.toDF.filter(col("extra").isNotNull).select("id", "extra")
      .as[(Long, Long)].collect().toSeq == Seq((40L, 7L)))
    assert(dt.toDF.count() == 6)
    // at rest the new file stores the PHYSICAL col-<uuid> name
    val physExtra = f.metadata.getString("delta.columnMapping.physicalName")
    val newAdd = dt.snapshot.files.find(_.stats.exists(_.contains(physExtra))).get
    val raw = spark.read.parquet(new java.io.File(dir, newAdd.path).getAbsolutePath)
    assert(raw.schema.fieldNames.toSet == Set(PhysId, PhysNest, physExtra), raw.schema)
  }

  /** As [[mappedTable]], but on a table-features protocol advertising BOTH
    * `columnMapping` and the standard `deletionVectors` feature — the
    * delta-spark shape for a renamed table with DVs on. */
  private def mappedDvTable(): String = {
    val dir = mappedTable(extraConfig = Map("delta.enableDeletionVectors" -> "true"))
    LogFixtures.writeCommit(java.nio.file.Paths.get(dir), 1, Seq(
      ActionCodec.toJsonLine(ProtocolAction(3, 7,
        Some(Set("columnMapping", "deletionVectors")),
        Some(Set("columnMapping", "deletionVectors"))))))
    dir
  }

  test("standard DVs + column mapping combine: DV DML emits protocol descriptors") {
    val dir = mappedDvTable()
    val before = DeltaTable.forPath(spark, dir).snapshot.files
      .map(a => a.path -> a.size).toMap
    val d = Dml.delete(spark, dir, col("id") === 2L)
    assert(d.rowsAffected == 1)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 10L, 11L))
    // the re-add carries a standard protocol descriptor, not the graft tag
    val west = dt.snapshot.files
      .find(_.partitionValues.get(PhysPart).contains("West")).get
    assert(before.get(west.path).contains(west.size), "bytes must not move")
    val desc = StandardDv.descriptor(west)
    assert(desc.isDefined, s"expected add.deletionVector, got tags=${west.tags}")
    assert(desc.get.cardinality == 1L)
    assert(west.tags.forall(!_.keys.exists(_.startsWith("graft.dv."))))
    // a second DV delete unions positions into ONE self-complete descriptor
    assert(Dml.delete(spark, dir, col("id") === 1L).rowsAffected == 1)
    val dt2 = DeltaTable.forPath(spark, dir)
    val west2 = dt2.snapshot.files
      .find(_.partitionValues.get(PhysPart).contains("West")).get
    assert(StandardDv.descriptor(west2).get.cardinality == 2L)
    assert(dt2.toDF.select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 10L, 11L))
  }

  test("an id table whose files lack footer ids fails loudly, never nulls") {
    val dir = mappedTable(mode = "id") // fixture files carry NO field ids
    val e = intercept[Exception] {
      DeltaTable.forPath(spark, dir).toDF.select("id").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.toLowerCase.contains("field id")),
      messages(e).mkString(" | "))
  }
}
