package graft.delta

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The protocol capability fence: tables demanding reader/writer features
  * graft does not implement must refuse LOUDLY at scan/commit time — the
  * alternative is silent corruption (resurfaced deleted rows under standard
  * deletion vectors, all-null columns under column mapping). The reference
  * tracks protocol versions but never refuses (rust/src/delta.rs:1430-1432);
  * the Delta protocol requires refusal, and so does safety. */
class ProtocolSupportSpec extends AnyFunSuite with SparkTestBase {
  import LogFixtures._
  import spark.implicits._

  private def protocolLine(minR: Int, minW: Int,
                           rf: Option[Seq[String]] = None,
                           wf: Option[Seq[String]] = None): String = {
    val r = rf.map(f => s""","readerFeatures":[${f.map("\"" + _ + "\"").mkString(",")}]""").getOrElse("")
    val w = wf.map(f => s""","writerFeatures":[${f.map("\"" + _ + "\"").mkString(",")}]""").getOrElse("")
    s"""{"protocol":{"minReaderVersion":$minR,"minWriterVersion":$minW$r$w}}"""
  }

  /** A real one-file graft table whose protocol is then overridden. */
  private def tableWithProtocol(name: String, protocol: String,
                                extraMetaConfig: String = ""): String = {
    val dir = tempTable(name).toString
    GraftWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    writeCommit(java.nio.file.Paths.get(dir), 1, Seq(protocol))
    dir
  }

  test("reader v3 with standard deletionVectors feature scans and writes") {
    val dir = tableWithProtocol("ps-dv",
      protocolLine(3, 7, rf = Some(Seq("deletionVectors")), wf = Some(Seq("deletionVectors"))))
    // the descriptor format is implemented (StandardDv) — the scan serves,
    // and the writer feature is maintained (descriptors survive appends,
    // DML unions and re-emits them — StandardDvTableSpec)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 2)
    GraftWriter.write(Seq((3L, "c")).toDF("id", "v"), dir,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 3)
  }

  test("reader v3 with timestampNtz is supported; absent features (retired DV shape) refuse") {
    val ntz = tableWithProtocol("ps-ntz",
      protocolLine(3, 7, rf = Some(Seq("timestampNtz")), wf = Some(Seq("timestampNtz"))))
    assert(DeltaTable.forPath(spark, ntz).toDF.count() == 2)
    // reader 3 demands a feature list; the bare shape was graft's retired
    // tag-format DV fence, whose tags no longer read
    val legacy = tableWithProtocol("ps-legacy", protocolLine(3, 2))
    val e = intercept[UnsupportedProtocolException] {
      DeltaTable.forPath(spark, legacy).toDF.count()
    }
    assert(e.getMessage.contains("retired tag-format deletion vectors"))
  }

  test("reader v4 refuses; writer v5/v6 without mapped columns in use write") {
    val v4 = tableWithProtocol("ps-r4", protocolLine(4, 7))
    intercept[UnsupportedProtocolException] {
      DeltaTable.forPath(spark, v4).toDF.count()
    }
    // a writer-5/6 table not USING column mapping or identity columns is
    // safe to write — the version gate was coarse; actual-use checks fence
    // the real hazards (mapping mode sniff; identity is now maintained)
    Seq(("ps-w5", 5), ("ps-w6", 6)).foreach { case (name, w) =>
      val dir = tableWithProtocol(name, protocolLine(2, w))
      assert(DeltaTable.forPath(spark, dir).toDF.count() == 2)
      GraftWriter.write(Seq((3L, "c")).toDF("id", "v"), dir,
        mode = org.apache.spark.sql.SaveMode.Append)
      assert(DeltaTable.forPath(spark, dir).toDF.count() == 3)
    }
  }

  test("writer v7: supported feature set writes, identityColumns included; unknown feature refuses") {
    val ok = tableWithProtocol("ps-w7ok",
      protocolLine(1, 7, wf = Some(Seq("appendOnly", "changeDataFeed", "identityColumns"))))
    GraftWriter.write(Seq((3L, "c")).toDF("id", "v"), ok,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(DeltaTable.forPath(spark, ok).toDF.count() == 3)

    val bad = tableWithProtocol("ps-w7unknown",
      protocolLine(1, 7, wf = Some(Seq("someFutureFeature"))))
    val e = intercept[UnsupportedProtocolException] {
      GraftWriter.write(Seq((3L, "c")).toDF("id", "v"), bad,
        mode = org.apache.spark.sql.SaveMode.Append)
    }
    assert(e.getMessage.contains("someFutureFeature"))
  }

  test("vacuumProtocolCheck: declared tables vacuum; unknown-feature tables refuse vacuum") {
    val ok = tableWithProtocol("ps-vpc",
      protocolLine(3, 7, rf = Some(Seq("vacuumProtocolCheck")),
        wf = Some(Seq("vacuumProtocolCheck"))))
    DeltaTable.forPath(spark, ok).vacuum(dryRun = true) // fences, then runs
    val bad = tableWithProtocol("ps-vpc-bad",
      protocolLine(3, 7, rf = Some(Seq("someFutureReaderFeature"))))
    intercept[UnsupportedProtocolException] {
      DeltaTable.forPath(spark, bad).vacuum(dryRun = true)
    }
  }

  test("column mapping: metadata-only mode flips fall back to logical names intact") {
    val dir = tempTable("ps-cm").toString
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir)
    // foreign ALTER flips the mode in a metaData commit WITHOUT per-field
    // physicalName metadata (delta-spark always writes it on upgrade, but
    // tolerate): physical falls back to logical, values stay intact —
    // real physical renames are covered by ColumnMappingSpec
    val md = DeltaLog.forPath(spark, dir).update().metadata.get
    val nameLine = ActionCodec.toJsonLine(
      md.copy(configuration = md.configuration +
        ("delta.columnMapping.mode" -> "name")))
    writeCommit(java.nio.file.Paths.get(dir), 1, Seq(protocolLine(2, 5), nameLine))
    assert(DeltaTable.forPath(spark, dir).toDF
      .select("id", "v").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // plain appends stage under physical names (here ≡ logical, the
    // fallback) and round-trip; CoW DML rides the same physical staging
    GraftWriter.write(Seq((2L, "b")).toDF("id", "v"), dir,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(DeltaTable.forPath(spark, dir).toDF
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    val del = Dml.delete(spark, dir, org.apache.spark.sql.functions.col("id") === 1L)
    assert(del.rowsAffected == 1)
    assert(DeltaTable.forPath(spark, dir).toDF
      .select("id", "v").as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    // mode=id matches by parquet footer field ids (ColumnMappingSpec). On
    // THIS table the schema carries no per-field id metadata, so the read
    // schema has no ids to match and the same logical-name fallback as the
    // mode=name flip above serves intact values; the dangerous shape —
    // id METADATA present but footer ids absent — fails loudly
    // (ColumnMappingSpec "id table whose files lack footer ids").
    val idLine = ActionCodec.toJsonLine(
      md.copy(configuration = md.configuration +
        ("delta.columnMapping.mode" -> "id")))
    writeCommit(java.nio.file.Paths.get(dir), 3, Seq(idLine))
    // this test REWRITES version 3 (a deliberate history edit); the
    // delete's recorded .crc would now — correctly — flag the divergence
    Files.deleteIfExists(java.nio.file.Paths.get(dir, "_delta_log",
      f"${3L}%020d.crc"))
    Files.deleteIfExists(java.nio.file.Paths.get(dir, "_delta_log",
      f".${3L}%020d.crc.crc"))
    // uncached: version 3 was REWRITTEN in place (a deliberate history
    // edit) — a warm handle at v3 cannot notice; the claim needs a cold replay
    assert(DeltaTable.forPathUncached(spark, dir).toDF
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a non-conformant add.deletionVector descriptor fails the scan loudly") {
    val dir = tempTable("ps-rawdv")
    Files.writeString(dir.resolve("f.parquet"), "x")
    // "ab" is not a legal Z85 UUID name — the decode must throw, never
    // silently serve the file's rows undeleted
    val dvAdd = """{"add":{"path":"f.parquet","partitionValues":{},"size":1,""" +
      """"modificationTime":1587968586000,"dataChange":true,""" +
      """"deletionVector":{"storageType":"u","pathOrInlineDv":"ab","offset":1,""" +
      """"sizeInBytes":36,"cardinality":2}}}"""
    writeCommit(dir, 0, Seq(protocol, metaData, dvAdd))
    val e = intercept[Exception] {
      DeltaTable.forPath(spark, dir.toString).toDF.count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("Z85")), messages(e).mkString(" | "))
    // the descriptor survives parse verbatim (no silent drop)
    val add = DeltaLog.forPath(spark, dir.toString).update().files.head
    assert(add.deletionVector.exists(_.contains("\"cardinality\":2")))
  }

  test("generated columns are maintained: computed when omitted, verified when provided") {
    val dir = tempTable("ps-gen").toString
    GraftWriter.write(Seq((1L, "1")).toDF("id", "v"), dir)
    val md = DeltaLog.forPath(spark, dir).update().metadata.get
    val genSchema = md.schemaString.replace(
      """"name":"v","type":"string","nullable":true,"metadata":{}""",
      """"name":"v","type":"string","nullable":true,"metadata":{"delta.generationExpression":"CAST(id AS STRING)"}""")
    assert(genSchema != md.schemaString, "sniff fixture failed to inject")
    writeCommit(java.nio.file.Paths.get(dir), 1,
      Seq(ActionCodec.toJsonLine(md.copy(schemaString = genSchema))))
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 1)
    // provided-and-correct passes; provided-and-wrong aborts pre-commit;
    // omitted is computed (the delta-spark write contract)
    GraftWriter.write(Seq((2L, "2")).toDF("id", "v"), dir,
      mode = org.apache.spark.sql.SaveMode.Append)
    val e = intercept[Exception] {
      GraftWriter.write(Seq((3L, "NOT3")).toDF("id", "v"), dir,
        mode = org.apache.spark.sql.SaveMode.Append)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("GENERATED")), messages(e).mkString(" | "))
    GraftWriter.write(Seq(Tuple1(4L)).toDF("id"), dir,
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(DeltaTable.forPath(spark, dir).toDF
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "1"), (2L, "2"), (4L, "4")))
  }

  test("mid-stream capability flips stop the append feed at the commit") {
    def line(s: String) = ActionCodec.fromJsonLine(s).get
    // foreign protocol bump past reader support
    intercept[UnsupportedProtocolException] {
      RewriteFence.servableAdds("t", 5, Seq(line(protocolLine(4, 7))),
        ignoreChanges = true, ignoreDeletes = true)
    }
    // standard-DV feature announced mid-stream: a capability graft SERVES
    // (descriptors classify as DV re-adds downstream) — keeps streaming
    assert(RewriteFence.servableAdds("t", 5,
      Seq(line(protocolLine(3, 7, rf = Some(Seq("deletionVectors"))))),
      ignoreChanges = true, ignoreDeletes = true).isEmpty)
    // column mapping enabled mid-stream
    val md = MetaDataAction("id", None, None, Format(),
      schemaString = """{"type":"struct","fields":[]}""",
      partitionColumns = Nil, createdTime = None,
      configuration = Map("delta.columnMapping.mode" -> "name"))
    intercept[UnsupportedProtocolException] {
      RewriteFence.servableAdds("t", 5, Seq(md),
        ignoreChanges = true, ignoreDeletes = true)
    }
    // the retired tag-format DV protocol (reader 3, no feature list) stops
    // the stream
    intercept[UnsupportedProtocolException] {
      RewriteFence.servableAdds("t", 5,
        Seq(line(protocolLine(3, 2))), ignoreChanges = false,
        ignoreDeletes = false)
    }
  }

  test("protocol features round-trip through JSON and checkpoint") {
    val p = ProtocolAction(3, 7, Some(Set("timestampNtz")),
      Some(Set("appendOnly", "timestampNtz")))
    assert(ActionCodec.fromJsonLine(ActionCodec.toJsonLine(p)).contains(p))
    // absent lists stay absent (graft's own shape)
    val bare = ProtocolAction(1, 2)
    assert(!ActionCodec.toJsonLine(bare).contains("readerFeatures"))
    assert(ActionCodec.fromJsonLine(ActionCodec.toJsonLine(bare)).contains(bare))

    // checkpoint: features survive the parquet round trip
    val dir = tableWithProtocol("ps-ckpt",
      protocolLine(3, 7, rf = Some(Seq("timestampNtz")), wf = Some(Seq("timestampNtz"))))
    val log = DeltaLog.forPath(spark, dir)
    val cp = log.checkpoint()
    val acts = Checkpoints.read(spark, log.checkpointPaths(cp))
    val Seq(cpProto) = acts.collect { case pr: ProtocolAction => pr }
    assert(cpProto == ProtocolAction(3, 7, Some(Set("timestampNtz")), Some(Set("timestampNtz"))))
    // cold restore through the checkpoint carries the fence inputs
    val logDir = java.nio.file.Paths.get(dir, "_delta_log")
    Files.list(logDir).filter(_.toString.endsWith(".json"))
      .forEach(p => Files.delete(p))
    val snap = DeltaLog.forPath(spark, dir).update()
    assert(snap.readerFeatures.contains(Set("timestampNtz")))
    assert(snap.writerFeatures.contains(Set("timestampNtz")))
  }
}
