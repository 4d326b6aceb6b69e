package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalExecutor
import graft.fingerprints.Version
import graft.graph.{Artifact, Graph, MemoryBackend, Producer}
import graft.io.Format
import graft.storage.{FileStorage, PathTemplate}
import graft.types.ArtiType._

/** End-to-end graph builds with incremental assertions — the engine-side
  * replay of the reference's spend demo and rebuild-count tests
  * (reference: docs/examples/spend/demo.py, README.md:82-91 [total = 42.0],
  * tests/arti/graphs/test_graph.py:101-169,232-300). */
class GraphSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: Path = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graph-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("graft-spec")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** the reference's fixture: 5 rows over 2 date partitions, total 42.0 */
  private def writeSpendFixture(base: Path): Unit = {
    Files.createDirectories(base)
    Files.writeString(base.resolve("1970-01-01.json"),
      """{"id": 1, "date": "1970-01-01", "amount": 9.0}
        |{"id": 2, "date": "1970-01-01", "amount": 1.0}
        |{"id": 3, "date": "1970-01-01", "amount": 25.0}""".stripMargin)
    Files.writeString(base.resolve("1970-01-02.json"),
      """{"id": 4, "date": "1970-01-02", "amount": 4.0}
        |{"id": 5, "date": "1970-01-02", "amount": 3.0}""".stripMargin)
  }

  private def spendGraph(base: Path): (Graph, MemoryBackend) = {
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val transactions = Artifact(txType, Format.Json,
      FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    val daily = Artifact(
      ACollection("daily", AStruct("d", Seq("date" -> ADate(), "total" -> AFloat64())), partitionBy = Seq("date")),
      Format.Json,
      FileStorage(PathTemplate(s"$base/daily/{date.iso}/{input_fingerprint}", Map("date" -> "date"))))
    val total = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))

    val dailyAgg = Producer(
      name = "daily_agg",
      version = Version.SemVer(0, 0, 1),
      build = (_, ins) => Seq(
        ins.head.groupBy(col("date")).agg(sum(col("amount")).as("total")).coalesce(1)),
      map = Producer.mapByKey)
    val totalSum = Producer(
      name = "total_sum",
      version = Version.SemVer(0, 0, 1),
      build = (_, ins) => Seq(ins.head.agg(sum(col("total")).as("value")).coalesce(1)))

    val g = new Graph("spend")
      .add("transactions", transactions)
      .add("daily", daily)
      .add("total", total)
      .produce(dailyAgg, Seq("transactions"), Seq("daily"))
      .produce(totalSum, Seq("daily"), Seq("total"))
      .close()
    (g, new MemoryBackend)
  }

  private def readTotal(g: Graph, backend: MemoryBackend, snapId: graft.fingerprints.Fingerprint): Double = {
    val parts = backend.readSnapshotPartitions(snapId, "spend/total")
    val a = g.artifacts("total")
    graft.io.IO.read(spark, a.format, a.storage, parts).collect()(0).getDouble(0)
  }

  test("spend demo end-to-end: total = 42.0, second build skips everything") {
    val base = dir.resolve("spend1")
    writeSpendFixture(base.resolve("tx").getParent.resolve("tx"))
    val (g, backend) = spendGraph(base)
    val exec = new LocalExecutor(backend)

    val (snap1, r1) = g.build(spark, backend) // reference-style one-call build
    assert(r1.built === Map("daily_agg" -> 2, "total_sum" -> 1))
    assert(r1.totalSkipped === 0)
    assert(readTotal(g, backend, snap1.id) === 42.0)

    // identical data → identical snapshot id → everything memoized
    val snap2 = g.snapshot(spark, backend)
    assert(snap2.id === snap1.id)
    val r2 = exec.build(spark, snap2)
    assert(r2.totalBuilt === 0)
    assert(r2.skipped === Map("daily_agg" -> 2, "total_sum" -> 1))
  }

  test("incremental: a new partition rebuilds only itself (+ downstream)") {
    val base = dir.resolve("spend2")
    writeSpendFixture(base.resolve("tx"))
    val (g, backend) = spendGraph(base)
    val exec = new LocalExecutor(backend)

    val snap1 = g.snapshot(spark, backend)
    exec.build(spark, snap1)

    // day 3 arrives
    Files.writeString(base.resolve("tx").resolve("1970-01-03.json"),
      """{"id": 6, "date": "1970-01-03", "amount": 8.0}""")
    val snap2 = g.snapshot(spark, backend)
    assert(snap2.id !== snap1.id)
    val r2 = exec.build(spark, snap2)
    // only the new daily partition builds; the 2 existing ones are skipped;
    // the total re-aggregates because its input fingerprint changed
    assert(r2.built === Map("daily_agg" -> 1, "total_sum" -> 1))
    assert(r2.skipped === Map("daily_agg" -> 2))
    assert(readTotal(g, backend, snap2.id) === 50.0)
    // the old snapshot still reads its original value (replay)
    assert(readTotal(g, backend, snap1.id) === 42.0)
  }

  test("validate_outputs gate blocks writes") {
    val base = dir.resolve("spend3")
    writeSpendFixture(base.resolve("tx"))
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val transactions = Artifact(txType, Format.Json,
      FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    val out = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/out/{input_fingerprint}", Map.empty)))
    val gate = Producer(
      name = "gated",
      build = (_, ins) => Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1)),
      validateOutputs = outs =>
        if (outs.head.filter(col("value") < 100.0).isEmpty) Right(())
        else Left("total must be >= 100"))
    val g = new Graph("gated").add("tx", transactions).add("out", out)
      .produce(gate, Seq("tx"), Seq("out")).close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    val ex = intercept[IllegalStateException] { new LocalExecutor(backend).build(spark, snap) }
    assert(ex.getMessage.contains("validate_outputs failed"))
    assert(backend.readSnapshotPartitions(snap.id, "gated/out").isEmpty, "no partition written past a failing gate")
  }

  test("snapshot tagging and replay by tag") {
    val base = dir.resolve("spend4")
    writeSpendFixture(base.resolve("tx"))
    val (g, backend) = spendGraph(base)
    val exec = new LocalExecutor(backend)
    val snap1 = g.snapshot(spark, backend)
    exec.build(spark, snap1)
    snap1.tag(backend, "v1")

    Files.writeString(base.resolve("tx").resolve("1970-01-03.json"),
      """{"id": 6, "date": "1970-01-03", "amount": 8.0}""")
    val snap2 = g.snapshot(spark, backend)
    exec.build(spark, snap2)
    snap2.tag(backend, "v2")

    // overwrite guard (reference: backends/memory.py:101-116)
    assertThrows[IllegalStateException] { snap2.tag(backend, "v1") }
    snap2.tag(backend, "v1", overwrite = true)

    val v2 = backend.snapshotForTag("spend", "v2").get
    assert(readTotal(g, backend, v2) === 50.0)
  }

  test("graph validation: cycles, double-production, unknown keys") {
    val a = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$dir/x/{input_fingerprint}", Map.empty)))
    val p = Producer(name = "p", build = (_, ins) => ins)
    assertThrows[IllegalArgumentException] {
      new Graph("bad").add("a", a).produce(p, Seq("nope"), Seq("a"))
    }
    assertThrows[IllegalArgumentException] {
      new Graph("bad2").add("a", a).add("b", a)
        .produce(p, Seq("b"), Seq("a"))
        .produce(p, Seq("b"), Seq("a")) // doubly-produced
    }
    assertThrows[IllegalStateException] {
      new Graph("cyc").add("a", a).add("b", a)
        .produce(Producer(name = "p1", build = (_, i) => i), Seq("a"), Seq("b"))
        .produce(Producer(name = "p2", build = (_, i) => i), Seq("b"), Seq("a"))
        .close()
    }
  }

  test("literal artifact as graph input (reference dummies: Num/div)") {
    val base = dir.resolve("lit1")
    val divisor = Artifact.literal(AInt64(), """{"n": 6}""")
    val out = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/out/{input_fingerprint}", Map.empty)))
    val div = Producer("div", build = (_, ins) => Seq(
      ins.head.select((lit(84.0) / col("n")).as("value")).coalesce(1)))
    val g = new Graph("lit").add("n", divisor).add("out", out)
      .produce(div, Seq("n"), Seq("out")).close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    new LocalExecutor(backend).build(spark, snap)
    val v = snap.read(spark, backend, "out").collect()(0).getDouble(0)
    assert(v === 14.0)
  }

  test("typed Dataset view of an artifact (F33)") {
    val base = dir.resolve("typed1")
    writeSpendFixture(base.resolve("tx"))
    val (g, backend) = spendGraph(base)
    val exec = new LocalExecutor(backend)
    val snap = g.snapshot(spark, backend)
    exec.build(spark, snap)
    val s = spark
    import s.implicits._
    // daily is JSON-backed: dates round-trip as ISO strings without a schema
    val daily = snap.readAs[(String, Double)](spark, backend, "daily")
      .collect().map(_._2).sorted
    assert(daily.toSeq === Seq(7.0, 35.0))
  }

  test("statistics are recorded on write when the producer opts in (F38)") {
    val base = dir.resolve("stats1")
    writeSpendFixture(base.resolve("tx"))
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val transactions = Artifact(txType, Format.Json,
      FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    val out = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/out/{input_fingerprint}", Map.empty)))
    val p = Producer("stat_total",
      build = (_, ins) => Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1)),
      computeStatistics = true)
    val g = new Graph("stats").add("tx", transactions).add("out", out)
      .produce(p, Seq("tx"), Seq("out")).close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    new LocalExecutor(backend).build(spark, snap)
    val stats = backend.readStatistics("stats/out")
    assert(stats.size === 1)
    val s = stats.values.head
    assert(s("__rows") === "1")
    assert(s("value__min") === "42.0" && s("value__max") === "42.0")
  }

  test("namespace blocks build dotted keys and wire producers relatively (F3)") {
    val base = dir.resolve("ns1")
    writeSpendFixture(base.resolve("tx"))
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val transactions = Artifact(txType, Format.Json,
      FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    val out = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/{names}/{input_fingerprint}", Map.empty)))
    val total = Producer("ns_total",
      build = (_, ins) => Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1)))
    val g = new Graph("nsdemo")
    g.namespace("finance") { fin =>
      fin.add("tx", transactions)
      fin.namespace("derived") { d => d.add("total", out); () }
      fin.produce(total, Seq("tx"), Seq("derived.total"))
      ()
    }
    g.close()
    assert(g.artifacts.keySet === Set("finance.tx", "finance.derived.total"))
    // {names} late-binding sees the FULL dotted path as directories
    val tpl = g.artifacts("finance.derived.total").storage.asInstanceOf[FileStorage].template.template
    assert(tpl.contains("finance/derived/total"), tpl)
    // and the graph builds end-to-end through the namespaced wiring
    val backend = new MemoryBackend
    val r = new LocalExecutor(backend).build(spark, g.snapshot(spark, backend))
    assert(r.totalBuilt === 1)
  }

  test("thresholds added after a stats-less build FAIL the memoized skip (F38)") {
    val base = dir.resolve("stats2")
    writeSpendFixture(base.resolve("tx"))
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val transactions = Artifact(txType, Format.Json,
      FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    val out = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/out/{input_fingerprint}", Map.empty)))
    def producer(ths: Seq[graft.graph.Statistics.Threshold]) = Producer("gate_total",
      build = (_, ins) => Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1)),
      thresholds = ths) // thresholds are fingerprint-excluded: same identity
    def graph(ths: Seq[graft.graph.Statistics.Threshold]) =
      new Graph("gate").add("tx", transactions).add("out", out)
        .produce(producer(ths), Seq("tx"), Seq("out")).close()
    val backend = new MemoryBackend
    // first build: no stats collected (computeStatistics=false, no thresholds)
    new LocalExecutor(backend).build(spark, graph(Nil).snapshot(spark, backend))
    assert(backend.readStatistics("gate/out").isEmpty)
    // tightening the contract later must NOT silently pass the memoized
    // skip: absent stored statistics are a threshold failure
    val g2 = graph(Seq(graft.graph.Statistics.Threshold.MinRows(1)))
    val e = intercept[IllegalStateException] {
      new LocalExecutor(backend).build(spark, g2.snapshot(spark, backend))
    }
    assert(e.getMessage.contains("was not collected"))
  }

  test("snapshot survives a custom Storage without a model codec; codec registry enables it") {
    val base = dir.resolve("custom-storage")
    writeSpendFixture(base.resolve("tx"))
    // F23 extension seam: a Storage subclass wrapping the file layout
    case class SpecStorage(inner: FileStorage) extends graft.storage.Storage {
      def discoverPartitions(conf: org.apache.hadoop.conf.Configuration) = inner.discoverPartitions(conf)
      def generatePartition(key: graft.partitions.PartitionKey.PartitionKey, fp: graft.fingerprints.Fingerprint) =
        inner.generatePartition(key, fp)
      def contentFingerprint(p: graft.storage.StoragePartition, conf: org.apache.hadoop.conf.Configuration) =
        inner.contentFingerprint(p, conf)
    }
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val inner = FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date")))
    val transactions = Artifact(txType, Format.Json, SpecStorage(inner))
    val g = new Graph("custom-store").add("tx", transactions).close()
    val backend = new MemoryBackend
    // snapshot must succeed (model write skipped with a warning, NOT thrown)
    val snap = g.snapshot(spark, backend)
    assert(snap.rawPartitions("tx").size === 2)
    assert(backend.readGraphModel("custom-store").isEmpty)
    // registering a codec makes the same graph model-persistable
    import graft.util.Json._
    graft.graph.ModelCodec.registerStorage("spec-storage",
      { case SpecStorage(i) => obj(
          "template" -> str(i.template.template),
          "field_kinds" -> strMap(i.template.fieldKinds)) },
      (j: com.fasterxml.jackson.databind.JsonNode) =>
        SpecStorage(FileStorage(PathTemplate(j("template").str, j("field_kinds").strMap))))
    g.snapshot(spark, backend)
    val model = backend.readGraphModel("custom-store")
    assert(model.nonEmpty)
    assert(model.get.artifact("tx").storage === transactions.storage)
  }

  test("write-audit-publish: a failing gate leaves no staging debris; a pass leaves no staging path") {
    val base = dir.resolve("wap1")
    writeSpendFixture(base.resolve("tx"))
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val transactions = Artifact(txType, Format.Json,
      FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    def outArt = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/out/{input_fingerprint}", Map.empty)))
    def graph(gate: Seq[org.apache.spark.sql.DataFrame] => Either[String, Unit]) =
      new Graph("wap").add("tx", transactions).add("out", outArt)
        .produce(Producer("p",
          build = (_, ins) => Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1)),
          validateOutputs = gate), Seq("tx"), Seq("out")).close()

    // failing gate: nothing under out/, no *__staging anywhere
    val backend = new MemoryBackend
    intercept[IllegalStateException] {
      new LocalExecutor(backend).build(spark, graph(_ => Left("nope")).snapshot(spark, backend))
    }
    assert(!java.nio.file.Files.exists(base.resolve("out")))

    // the gate sees the MATERIALIZED bytes (schema + values of the staged
    // output), and publish leaves only the final path
    var audited: Option[Double] = None
    val b2 = new MemoryBackend
    val ok = graph { outs =>
      audited = Some(outs.head.collect()(0).getDouble(0)); Right(())
    }
    new LocalExecutor(b2).build(spark, ok.snapshot(spark, b2))
    assert(audited.contains(42.0))
    val leftover = java.nio.file.Files.walk(base.resolve("out")).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(leftover).asScala
      .map(_.toString).toList
    assert(!names.exists(_.contains("__staging")), names.mkString("\n"))
  }

  test("independent producers build concurrently in one wave") {
    val base = dir.resolve("par1")
    writeSpendFixture(base.resolve("tx"))
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val transactions = Artifact(txType, Format.Json,
      FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    def outArtifact(n: String) = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/$n/{input_fingerprint}", Map.empty)))
    val concurrency = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    def tracked(n: String) = Producer(n, build = (_, ins) => {
      val c = concurrency.incrementAndGet()
      maxSeen.updateAndGet(m => math.max(m, c))
      Thread.sleep(300)
      val r = Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1))
      concurrency.decrementAndGet()
      r
    })
    val g = new Graph("par").add("tx", transactions)
      .add("a", outArtifact("a")).add("b", outArtifact("b"))
      .produce(tracked("pa"), Seq("tx"), Seq("a"))
      .produce(tracked("pb"), Seq("tx"), Seq("b"))
      .close()
    val backend = new MemoryBackend
    val r = new LocalExecutor(backend, parallelism = 2).build(spark, g.snapshot(spark, backend))
    assert(r.totalBuilt === 2)
    assert(maxSeen.get() >= 2, s"independent producers should overlap, max concurrency = ${maxSeen.get()}")
  }

  test("DAG scheduling: an independent chain proceeds PAST a slow sibling (no wave barrier)") {
    val base = dir.resolve("dag1")
    writeSpendFixture(base.resolve("tx"))
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val transactions = Artifact(txType, Format.Json,
      FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    def outArtifact(n: String) = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/$n/{input_fingerprint}", Map.empty)))
    // graph: tx → slow → s   and   tx → fastA → a → fastB → b
    // wave barriers would hold fastB (depth 2) behind slow (depth 1);
    // DAG scheduling lets the a→b chain finish while slow is in flight.
    // slow BLOCKS until fastB starts (latch), so barrier scheduling would
    // time the latch out and the flag below stays false.
    val latch = new java.util.concurrent.CountDownLatch(1)
    @volatile var fastBStartedWhileSlowInFlight = false
    def agg(ins: Seq[org.apache.spark.sql.DataFrame]) =
      Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1))
    val slow = Producer("slow", build = (_, ins) => {
      fastBStartedWhileSlowInFlight = latch.await(30, java.util.concurrent.TimeUnit.SECONDS)
      agg(ins)
    })
    val fastA = Producer("fastA", build = (_, ins) => agg(ins))
    val fastB = Producer("fastB", build = (_, ins) => {
      latch.countDown()
      Seq(ins.head.select((col("value") * 2).as("value")).coalesce(1))
    })
    val g = new Graph("dag").add("tx", transactions)
      .add("s", outArtifact("s")).add("a", outArtifact("a")).add("b", outArtifact("b"))
      .produce(slow, Seq("tx"), Seq("s"))
      .produce(fastA, Seq("tx"), Seq("a"))
      .produce(fastB, Seq("a"), Seq("b"))
      .close()
    val backend = new MemoryBackend
    val r = new LocalExecutor(backend, parallelism = 3).build(spark, g.snapshot(spark, backend))
    assert(r.totalBuilt === 3)
    assert(fastBStartedWhileSlowInFlight,
      "the a→b chain was held behind the unrelated slow producer — wave-barrier scheduling")
    assert(g.snapshot(spark, backend).readScalar[Double](spark, backend, "b") === 84.0)
  }

  test("a failing producer blocks only ITS downstream; independent chains complete") {
    val base = dir.resolve("dag2")
    writeSpendFixture(base.resolve("tx"))
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val transactions = Artifact(txType, Format.Json,
      FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    def outArtifact(n: String) = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/$n/{input_fingerprint}", Map.empty)))
    def agg(ins: Seq[org.apache.spark.sql.DataFrame]) =
      Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1))
    @volatile var downstreamRan = false
    val bad = Producer("bad", build = (_, ins) => agg(ins),
      validateOutputs = _ => Left("always fails"))
    val afterBad = Producer("after_bad", build = (_, ins) => { downstreamRan = true; agg(ins) })
    val ok = Producer("ok", build = (_, ins) => agg(ins))
    val g = new Graph("dag2").add("tx", transactions)
      .add("x", outArtifact("x")).add("y", outArtifact("y")).add("z", outArtifact("z"))
      .produce(bad, Seq("tx"), Seq("x"))
      .produce(afterBad, Seq("x"), Seq("y"))
      .produce(ok, Seq("tx"), Seq("z"))
      .close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    val e = intercept[IllegalStateException] { new LocalExecutor(backend).build(spark, snap) }
    assert(e.getMessage.contains("always fails"))
    assert(!downstreamRan, "downstream of the failed gate must never run")
    assert(backend.readSnapshotPartitions(snap.id, "dag2/x").isEmpty, "nothing published past the gate")
    assert(backend.readSnapshotPartitions(snap.id, "dag2/z").nonEmpty,
      "the independent chain must complete despite the sibling failure")
  }

  test("PARTITIONS of one incremental producer build concurrently too") {
    val base = dir.resolve("par2")
    writeSpendFixture(base.resolve("tx")) // 2 date partitions
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val transactions = Artifact(txType, Format.Json,
      FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    val daily = Artifact(
      ACollection("daily", AStruct("d", Seq("date" -> ADate(), "value" -> AFloat64())), partitionBy = Seq("date")),
      Format.Json, FileStorage(PathTemplate(s"$base/daily/{date.iso}/{input_fingerprint}", Map("date" -> "date"))))
    val concurrency = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val perDay = Producer("per_day",
      build = (_, ins) => {
        val c = concurrency.incrementAndGet()
        maxSeen.updateAndGet(m => math.max(m, c))
        Thread.sleep(300)
        val r = Seq(ins.head.groupBy(col("date")).agg(sum(col("amount")).as("value")).coalesce(1))
        concurrency.decrementAndGet()
        r
      },
      map = Producer.mapByKey)
    val g = new Graph("par2").add("tx", transactions).add("daily", daily)
      .produce(perDay, Seq("tx"), Seq("daily")).close()
    val backend = new MemoryBackend
    val r = new LocalExecutor(backend, parallelism = 2).build(spark, g.snapshot(spark, backend))
    assert(r.totalBuilt === 2, "one build per date partition")
    assert(maxSeen.get() >= 2,
      s"partitions of one producer should overlap, max concurrency = ${maxSeen.get()}")
  }

  test("csv and text formats round-trip through the IO registry") {
    import graft.io.{Format => F, IO}
    val base = dir.resolve("io1")
    val csvStore = FileStorage(PathTemplate(s"$base/c/{input_fingerprint}", Map.empty))
    val part = csvStore.generatePartition(Map.empty, graft.fingerprints.Fingerprint(7L))
    val df = spark.range(3).selectExpr("id", "cast(id * 2 as string) as s")
    IO.write(df, F.Csv, csvStore, part)
    val back = IO.read(spark, F.Csv, csvStore, Seq(part))
    assert(back.count() === 3)
    assert(back.columns.toSeq === Seq("id", "s"))
    // orc: the other columnar built-in (typed round-trip, no header games)
    val orcStore = FileStorage(PathTemplate(s"$base/o/{input_fingerprint}", Map.empty))
    val opart = orcStore.generatePartition(Map.empty, graft.fingerprints.Fingerprint(8L))
    IO.write(df, F.Orc, orcStore, opart)
    val oback = IO.read(spark, F.Orc, orcStore, Seq(opart))
    assert(oback.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    // literal storage read
    val lit = Artifact.literal(AInt64(), """{"n": 5}""")
    val one = IO.read(spark, lit.format, lit.storage, lit.storage.discoverPartitions(spark.sparkContext.hadoopConfiguration))
    assert(one.collect()(0).getLong(0) === 5L)
  }

  test("snapshot.write registers a raw partition and guards produced artifacts (F16)") {
    val base = dir.resolve("write1")
    writeSpendFixture(base.resolve("tx"))
    val (g, backend) = spendGraph(base)
    val snap = g.snapshot(spark, backend)
    new LocalExecutor(backend).build(spark, snap)
    // writing a produced artifact directly is rejected
    val one = spark.range(1).selectExpr("cast(1.0 as double) as value")
    assertThrows[IllegalArgumentException] {
      snap.write(spark, backend, "total", one)
    }
    // raw write through the snapshot: seed partition i=1 on disk, snapshot,
    // then write partition i=2 via the API
    val rawOut = Artifact(
      ACollection("notes", AStruct("n", Seq("i" -> AInt64(), "value" -> AFloat64())), partitionBy = Seq("i")),
      Format.Json, FileStorage(PathTemplate(s"$base/notes/i={i}", Map("i" -> "int"))))
    graft.io.IO.write(one.coalesce(1), Format.Json, rawOut.storage,
      rawOut.storage.generatePartition(Map("i" -> graft.partitions.PartitionField.IntField(1)),
        graft.fingerprints.Fingerprint.identity))
    val g2 = new Graph("writes").add("notes", rawOut).close()
    val snap2 = g2.snapshot(spark, backend)
    val two = spark.range(1).selectExpr("cast(2.0 as double) as value")
    val part = snap2.write(spark, backend, "notes", two.coalesce(1),
      Map("i" -> graft.partitions.PartitionField.IntField(2)))
    assert(part.contentFingerprint.nonEmpty)
    assert(part.path.endsWith("i=2"))
    val all = backend.readArtifactPartitions("writes/notes")
    assert(all.size === 2)
  }

  test("typed producers: Dataset[I] => Dataset[O] with schema enforcement (F6)") {
    val base = dir.resolve("typed2")
    writeSpendFixture(base.resolve("tx"))
    val txType = ACollection("transactions",
      AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("date"))
    val transactions = Artifact(txType, Format.Json,
      FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    val out = Artifact(
      ACollection("big", AStruct("b", Seq("id" -> AInt64(), "amount" -> AFloat64()))),
      Format.Json, FileStorage(PathTemplate(s"$base/big/{input_fingerprint}", Map.empty)))

    import GraphSpec.{Big, Tx}
    val s = spark
    import s.implicits._
    val bigOnly = graft.graph.Producer.typed[Tx, Big]("big_only") { txs =>
      txs.filter(_.amount >= 4.0).map(t => Big(t.id, t.amount)).coalesce(1)
    }
    val g = new Graph("typed").add("tx", transactions).add("big", out)
      .produce(bigOnly, Seq("tx"), Seq("big")).close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    new LocalExecutor(backend).build(spark, snap)
    val ids = snap.readAs[Big](spark, backend, "big").collect().map(_.id).sorted
    assert(ids.toSeq === Seq(1L, 3L, 4L))
  }

  test("graph assignment late-binds {graph_name}/{names} in storage templates (F26)") {
    val base = dir.resolve("latebind")
    val a = Artifact(
      ACollection("c", AStruct("r", Seq("id" -> AInt64(), "date" -> ADate())), partitionBy = Seq("date")),
      Format.Json,
      FileStorage(PathTemplate(s"$base/{graph_name}/{names}/{date.iso}.json", Map("date" -> "date"))))
    val g = new Graph("wh").add("ns.tx", a)
    val bound = g.artifacts("ns.tx").storage.asInstanceOf[FileStorage].template.template
    assert(bound === s"$base/wh/ns/tx/{date.iso}.json")
  }

  test("readWhere prunes partitions before the scan (F15 partition selection)") {
    val base = dir.resolve("prune1")
    writeSpendFixture(base.resolve("tx"))
    val (g, backend) = spendGraph(base)
    val snap = g.snapshot(spark, backend)
    import graft.partitions.PartitionField.DateField
    val jan1 = DateField(java.time.LocalDate.of(1970, 1, 1))
    val df = snap.readWhere(spark, backend, "transactions") {
      key => key.get("date").contains(jan1)
    }
    // only the 1970-01-01 file is in the scan: 3 rows, sum 35
    assert(df.count() === 3)
    assert(df.agg(sum(col("amount"))).collect()(0).getDouble(0) === 35.0)
    assert(df.inputFiles.length === 1 && df.inputFiles(0).contains("1970-01-01"))
    // a predicate matching nothing yields an empty frame, not an error
    val none = snap.readWhere(spark, backend, "transactions")(_ => false)
    assert(none.count() === 0)
  }
}

object GraphSpec {
  // top-level case classes: product encoders need stable TypeTags
  case class Tx(id: Long, date: String, amount: Double)
  case class Big(id: Long, amount: Double)
}
