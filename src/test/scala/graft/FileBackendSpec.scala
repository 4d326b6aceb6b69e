package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalExecutor
import graft.fingerprints.Fingerprint
import graft.graph.{Artifact, FileBackend, Graph, GraphModel, Producer, ProducerWiring}
import graft.io.Format
import graft.partitions.PartitionField.{DateField, IntField, NullField}
import graft.storage.{FileStorage, LiteralStorage, PathTemplate, StoragePartition}
import graft.types.ArtiType._
import graft.util.Json

/** Durable backend: the metadata contract round-trips through the JSONL
  * event log, and — the property that matters — skip-if-built memoization
  * survives a process restart (a fresh FileBackend over the same directory
  * skips everything a previous "process" built). */
class FileBackendSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("filebackend-spec")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("metadata round-trips through the event log (incl. typed keys and escapes)") {
    val dir = Files.createTempDirectory("graft-fb").toString
    val b1 = new FileBackend(dir)
    val part = StoragePartition(
      path = "/data/y=7/weird \"name\"\nwith newline",
      key = Map("y" -> IntField(7), "d" -> DateField(java.time.LocalDate.of(2024, 2, 29))),
      inputFingerprint = Fingerprint(-987654321L),
      contentFingerprint = Some(Fingerprint(42L)))
    b1.writeGraph("g", Fingerprint(1L))
    b1.writeSnapshot("g", Fingerprint(2L))
    b1.tag("g", Fingerprint(2L), "v1", overwrite = false)
    b1.writeArtifactPartitions("g/a", Seq(part))
    b1.linkSnapshotPartitions(Fingerprint(2L), "g/a", Seq(part))
    b1.writeStatistics("g/a", part.path, Map("rows" -> "5", "weird\"key" -> "x\ny"))

    val b2 = new FileBackend(dir) // "restart"
    assert(b2.snapshotForTag("g", "v1") === Some(Fingerprint(2L)))
    assert(b2.readArtifactPartitions("g/a") === Seq(part))
    assert(b2.readSnapshotPartitions(Fingerprint(2L), "g/a") === Seq(part))
    assert(b2.readStatistics("g/a")(part.path) === Map("rows" -> "5", "weird\"key" -> "x\ny"))
    // memoization filter works on the replayed state
    assert(b2.readArtifactPartitions("g/a", Some(Set(Fingerprint(-987654321L)))).size === 1)
    assert(b2.readArtifactPartitions("g/a", Some(Set(Fingerprint(0L)))).isEmpty)
  }

  test("tag overwrite guard still throws after replay") {
    val dir = Files.createTempDirectory("graft-fb2").toString
    val b1 = new FileBackend(dir)
    b1.tag("g", Fingerprint(1L), "v", overwrite = false)
    val b2 = new FileBackend(dir)
    assertThrows[IllegalStateException] { b2.tag("g", Fingerprint(9L), "v", overwrite = false) }
    b2.tag("g", Fingerprint(9L), "v", overwrite = true)
    assert(new FileBackend(dir).snapshotForTag("g", "v") === Some(Fingerprint(9L)))
  }

  test("skip-if-built memoization survives a process restart") {
    val base = Files.createTempDirectory("graft-fb3")
    Files.createDirectories(base.resolve("tx"))
    Files.writeString(base.resolve("tx").resolve("1970-01-01.json"),
      """{"id": 1, "date": "1970-01-01", "amount": 42.0}""")
    def mkGraph(): Graph = {
      val txType = ACollection("transactions",
        AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
        partitionBy = Seq("date"))
      val tx = Artifact(txType, Format.Json,
        FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
      val total = Artifact(AFloat64(), Format.Json,
        FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))
      new Graph("fb").add("tx", tx).add("total", total)
        .produce(Producer("t", build = (_, ins) =>
          Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1))), Seq("tx"), Seq("total"))
        .close()
    }
    val metaDir = base.resolve("meta").toString
    val r1 = new LocalExecutor(new FileBackend(metaDir))
      .build(spark, mkGraph().snapshot(spark, new FileBackend(metaDir)))
    // ^ snapshot + build each construct their own backend instance — i.e.
    // two separate "processes" already
    assert(r1.totalBuilt === 1)
    val b = new FileBackend(metaDir) // third process
    val r2 = new LocalExecutor(b).build(spark, mkGraph().snapshot(spark, b))
    assert(r2.totalBuilt === 0, "memoization must survive restart")
    assert(r2.totalSkipped === 1)
  }

  test("model read-back: a fresh process serves tagged reads with no Graph (F37)") {
    val base = Files.createTempDirectory("graft-fb7")
    Files.createDirectories(base.resolve("tx"))
    Files.writeString(base.resolve("tx").resolve("1970-01-01.json"),
      """{"id": 1, "date": "1970-01-01", "amount": 42.0}""")
    val metaDir = base.resolve("meta").toString
    locally { // "process 1": define, build, tag — then let the Graph go
      val txType = ACollection("transactions",
        AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
        partitionBy = Seq("date"))
      val tx = Artifact(txType, Format.Json,
        FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))),
        annotations = Map("owner" -> "spec"))
      val total = Artifact(AFloat64(), Format.Json,
        FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))
      val g = new Graph("fb7").add("tx", tx).add("total", total)
        .produce(Producer("t", build = (_, ins) =>
          Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1))), Seq("tx"), Seq("total"))
        .close()
      val b = new FileBackend(metaDir)
      val snap = g.snapshot(spark, b)
      new LocalExecutor(b).build(spark, snap)
      snap.tag(b, "release")
    }
    // "process 2": only the backend directory exists; no Graph is built
    val b2 = new FileBackend(metaDir)
    val model = b2.readGraphModel("fb7").getOrElse(fail("stored model missing"))
    assert(model.artifacts.map(_._1) === Seq("total", "tx"))
    assert(model.isRaw("tx") && !model.isRaw("total"))
    assert(model.artifact("tx").annotations === Map("owner" -> "spec"))
    assert(model.wiring === Seq(graft.graph.ProducerWiring("t", Seq("tx"), Seq("total"))))
    val rehydrated = graft.graph.RehydratedSnapshot.fromTag(b2, "fb7", "release")
    val total = rehydrated.read(spark, b2, "total").collect()
    assert(total.length === 1 && total.head.getDouble(0) === 42.0)
    val raw = rehydrated.read(spark, b2, "tx").collect()
    assert(raw.length === 1)
    // partition-pruned read through the rehydrated model's typed keys
    val pruned = rehydrated.readWhere(spark, b2, "tx")(
      _.get("date").contains(graft.partitions.PartitionField.DateField(java.time.LocalDate.of(1999, 1, 1))))
    assert(pruned.isEmpty && pruned.schema.fieldNames.toSeq === Seq("id", "date", "amount"))
  }

  test("torn trailing line is ignored; corrupt complete record fails loudly") {
    val dir = Files.createTempDirectory("graft-fb4")
    val b1 = new FileBackend(dir.toString)
    b1.writeGraph("g", Fingerprint(7L))
    // crash mid-append: a torn (incomplete) TRAILING line must be skipped
    java.nio.file.Files.writeString(dir.resolve("graphs.jsonl"),
      """{"name":"g2","fp":123""", java.nio.file.StandardOpenOption.APPEND)
    val b2 = new FileBackend(dir.toString)
    // the complete record replayed; the torn one ignored (no wrong fingerprint)
    assert(b2.readArtifactPartitions("none").isEmpty) // construction survived
    // a torn TRAILING line that happens to END in '}' (truncated after a
    // nested object) is still structural damage -> skipped, not fatal
    java.nio.file.Files.writeString(dir.resolve("artifact_parts.jsonl"),
      """{"artifact":"a","part":{"path":"p","key":{}""", java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    val b3 = new FileBackend(dir.toString)
    assert(b3.readArtifactPartitions("a").isEmpty)
    // a COMPLETE but corrupt record is a real integrity problem -> loud
    java.nio.file.Files.writeString(dir.resolve("graphs.jsonl"),
      "\n" + """{"nome":"broken"}""" + "\n", java.nio.file.StandardOpenOption.APPEND)
    assertThrows[IllegalStateException] { new FileBackend(dir.toString) }
  }

  test("torn tail is repaired at open: appends after a crash never merge into it") {
    val dir = Files.createTempDirectory("graft-fb8")
    val b1 = new FileBackend(dir.toString)
    b1.writeGraph("g", Fingerprint(7L))
    // crash mid-append: torn trailing line WITHOUT a newline
    java.nio.file.Files.writeString(dir.resolve("graphs.jsonl"),
      """{"name":"g2","fp":123""", java.nio.file.StandardOpenOption.APPEND)
    // reopen repairs the tail (truncates the uncommitted record) …
    val b2 = new FileBackend(dir.toString)
    // … so a NEW append lands on its own line, not concatenated onto the
    // torn one (which would silently swallow it now and brick replay later)
    b2.writeGraph("g3", Fingerprint(9L))
    val b3 = new FileBackend(dir.toString) // must construct: no interior garbage
    b3.writeGraph("g4", Fingerprint(11L))
    new FileBackend(dir.toString) // and stays constructible after more appends
    val lines = java.nio.file.Files.readAllLines(dir.resolve("graphs.jsonl"))
    assert(lines.size === 3) // g, g3, g4 — torn g2 dropped, none merged
  }

  test("unparseable INTERIOR line is corruption, not a torn append -> loud") {
    // only the final line of an append-only log can be torn by a crash; an
    // interior line that fails structural parse means lost metadata and
    // must not be silently dropped
    val dir = Files.createTempDirectory("graft-fb5")
    val b1 = new FileBackend(dir.toString)
    b1.writeGraph("g", Fingerprint(7L))
    java.nio.file.Files.writeString(dir.resolve("graphs.jsonl"),
      "garbage-not-json\n" + """{"name":"g2","fp":123}""" + "\n",
      java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[IllegalStateException] { new FileBackend(dir.toString) }
    assert(e.getMessage.contains("interior"))
    // same garbage as the FINAL line is a tolerated torn append
    val dir2 = Files.createTempDirectory("graft-fb6")
    val c1 = new FileBackend(dir2.toString)
    c1.writeGraph("g", Fingerprint(7L))
    java.nio.file.Files.writeString(dir2.resolve("graphs.jsonl"),
      "garbage-not-json", java.nio.file.StandardOpenOption.APPEND)
    new FileBackend(dir2.toString) // must construct
  }

  test("a complete record with a missing or mistyped field fails loudly") {
    // Jackson's lenient readers would answer "" or 0 here; replay must not
    for (bad <- Seq("""{"fp":"abc"}""", """{"name":"g","fp":"abc"}""", """{"name":7,"fp":1}""",
        """{"name":"g","fp":1.5}""", """{"name":"g","fp":123456789012345678901234}"""))
      withClue(bad) {
        val dir = Files.createTempDirectory("graft-fb12")
        Files.writeString(dir.resolve("graphs.jsonl"), bad + "\n")
        val e = intercept[IllegalStateException] { new FileBackend(dir.toString) }
        assert(e.getMessage.contains("corrupt backend log graphs.jsonl"))
      }
  }

  private val logFiles = Seq("graphs.jsonl", "snapshots.jsonl", "tags.jsonl",
    "artifact_parts.jsonl", "snapshot_parts.jsonl", "stats.jsonl", "models.jsonl")

  private def logSizes(dir: Path): Map[String, Long] =
    logFiles.map(dir.resolve).filter(Files.exists(_)).map(f => f.getFileName.toString -> Files.size(f)).toMap

  test("a no-op rebuild appends nothing; a reopen replays the same state") {
    val base = Files.createTempDirectory("graft-fb9")
    Files.createDirectories(base.resolve("tx"))
    for (d <- Seq("1970-01-01", "1970-01-02"))
      Files.writeString(base.resolve("tx").resolve(s"$d.json"), s"""{"id": 1, "date": "$d", "amount": 42.0}""")
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val dailyType = ACollection("daily",
      AStruct("d", Seq("date" -> ADate(), "amount" -> AFloat64())), partitionBy = Seq("date"))
    val g = new Graph("noop")
      .add("tx", Artifact(txType, Format.Json,
        FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date")))))
      .add("daily", Artifact(dailyType, Format.Json,
        FileStorage(PathTemplate(s"$base/daily/{date.iso}/{input_fingerprint}", Map("date" -> "date")))))
      .produce(Producer("d", build = (_, ins) => Seq(ins.head.select("date", "amount").coalesce(1)),
        map = Producer.mapByKey, computeStatistics = true), Seq("tx"), Seq("daily"))
      .close()
    val meta = base.resolve("meta")
    val b = new FileBackend(meta.toString)
    val (snap, r1) = g.build(spark, b)
    assert(r1.totalBuilt === 2)
    snap.tag(b, "v1")
    val before = logSizes(meta)
    assert(before.keySet === logFiles.toSet)

    val snap2 = g.snapshot(spark, b)
    assert(snap2.id === snap.id)
    assert(new LocalExecutor(b).build(spark, snap2).totalBuilt === 0)
    snap2.tag(b, "v1")
    assert(logSizes(meta) === before, "a no-op rebuild must not grow the log")

    val reopened = new FileBackend(meta.toString)
    for (k <- Seq("noop/tx", "noop/daily")) {
      assert(reopened.readArtifactPartitions(k) === b.readArtifactPartitions(k))
      assert(reopened.readSnapshotPartitions(snap.id, k) === b.readSnapshotPartitions(snap.id, k))
      assert(reopened.readStatistics(k) === b.readStatistics(k))
    }
    assert(reopened.readArtifactPartitions("noop/daily").size === 2)
    assert(reopened.readStatistics("noop/daily").size === 2)
    assert(reopened.snapshotForTag("noop", "v1") === Some(snap.id))
    assert(reopened.readGraphModel("noop") === b.readGraphModel("noop"))
  }

  // The records below were written by the hand-rolled JSON codec that
  // FileBackend used before it moved to Jackson; the files under
  // src/test/resources/graft/filebackend-format are that codec's bytes.
  private val weird = "/data/we\"ird\\back\nnew\ttab\rcr\u0001ctl/ünïcødé-文字-😀"
  private val p1 = StoragePartition(weird,
    Map("d" -> DateField(java.time.LocalDate.of(2024, 2, 29)), "y" -> IntField(-7), "n" -> NullField),
    Fingerprint(-987654321L), Some(Fingerprint(Long.MinValue)))
  private val p2 = StoragePartition("/data/plain", Map.empty, Fingerprint(5L), None)
  private val stats = Map("rows" -> "5", "we\"ird\u0001key" -> "x\ny\r\tz-ü")
  private val model = GraphModel("g\"1",
    Seq(
      "file" -> Artifact(
        ACollection("rows", AStruct("r", Seq("id" -> AInt64(), "d" -> ADate())), partitionBy = Seq("d")),
        Format.Parquet, FileStorage(PathTemplate("/out/{d.iso}/{input_fingerprint}", Map("d" -> "date"))),
        annotations = Map("owner" -> "spec", "note" -> "tab\there \"q\" ü\u0001")),
      "lit" -> Artifact(AString(), Format.Json, LiteralStorage("{\"value\":\"li\\\"t\\nv\\u0001ü\"}"),
        annotations = Map("k" -> "v"))),
    Seq(ProducerWiring("p\"1", Seq("lit"), Seq("file"))))

  private def writeFixture(b: FileBackend): Unit = {
    b.writeGraph("g\"1", Fingerprint(1L))
    b.writeSnapshot("g\"1", Fingerprint(-2L))
    b.tag("g\"1", Fingerprint(-2L), "reléase\t1", overwrite = false)
    b.writeArtifactPartitions("g\"1/a", Seq(p1, p2))
    b.linkSnapshotPartitions(Fingerprint(-2L), "g\"1/a", Seq(p1, p2))
    b.writeStatistics("g\"1/a", weird, stats)
    b.writeGraphModel(model)
  }

  /** A log's records as trees, the model string field parsed as well. */
  private def records(dir: Path, file: String): Seq[JsonNode] =
    Files.readAllLines(dir.resolve(file)).asScala.toSeq.map { l =>
      val r = Json.parse(l).asInstanceOf[ObjectNode]
      if (r.has("model")) r.set[JsonNode]("model", Json.parse(r.get("model").textValue)) else r
    }

  test("format compatibility: the earlier codec's log replays to the state it recorded") {
    val dir = Files.createTempDirectory("graft-fb10")
    for (f <- logFiles) {
      val in = getClass.getClassLoader.getResourceAsStream(s"graft/filebackend-format/$f")
      try Files.copy(in, dir.resolve(f)) finally in.close()
    }
    val b = new FileBackend(dir.toString)
    assert(b.snapshotForTag("g\"1", "reléase\t1") === Some(Fingerprint(-2L)))
    assert(b.readArtifactPartitions("g\"1/a") === Seq(p1, p2))
    assert(b.readSnapshotPartitions(Fingerprint(-2L), "g\"1/a") === Seq(p1, p2))
    assert(b.readStatistics("g\"1/a") === Map(weird -> stats))
    assert(b.readGraphModel("g\"1") === Some(model))
    // the replayed state already holds every recorded write (graph and
    // snapshot records included), so writing them again appends nothing
    val sizes = logSizes(dir)
    writeFixture(b)
    assert(logSizes(dir) === sizes)
    // and the same writes into an empty directory give the same records
    val fresh = Files.createTempDirectory("graft-fb11")
    writeFixture(new FileBackend(fresh.toString))
    for (f <- logFiles) assert(records(fresh, f) === records(dir, f), f)
  }
}
