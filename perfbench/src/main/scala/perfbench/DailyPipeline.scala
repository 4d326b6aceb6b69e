package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.exec.{BuildReport, LocalExecutor}
import graft.graph.{Artifact, FileBackend, Graph, GraphSnapshot, Producer, Statistics}
import graft.io.Format
import graft.storage.{FileStorage, PathTemplate}
import graft.types.SparkTypeSystem.collectionOf

final case class RawLine(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
    l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: LocalDateTime, day: LocalDate)
final case class DayFlags(day: LocalDate, l_returnflag: String, l_linestatus: String, n: Long,
    qty: Double, revenue: Double)
final case class DayPriced(day: LocalDate, gross: Double, n: Long)
final case class Totals(n_days: Long, n_rows: Long, qty: Double, revenue: Double, gross: Double)

/** The daily graph workload: lineitem arrives as one raw parquet file per
  * ship day; two per-day (`mapByKey`) producers, one gated by statistics
  * and a `MinRows` threshold and one by `validateOutputs`, feed a fan-in
  * total over every partition. Phases: cold backfill, no-op rebuilds,
  * backend reopen + no-op rebuilds, then appends of one held-back day each
  * (snapshot, build, read the total). Sums are exact decimals, so the
  * total can be compared with DuckDB's over the same raw files. */
object DailyPipeline {
  val NoopRepeats = 3

  private def dec(c: String, p: Int) = col(c).cast(DecimalType(p, 2))

  def graph(data: String, out: String): Graph = {
    val day = Map("day" -> "date")
    val raw = Artifact(collectionOf[RawLine]("lineitem_daily", partitionBy = Seq("day")), Format.Parquet,
      FileStorage(PathTemplate(s"$data/raw/{day.iso}.parquet", day)))
    val flags = Artifact(collectionOf[DayFlags]("day_flags", partitionBy = Seq("day")), Format.Parquet,
      FileStorage(PathTemplate(s"$out/flags/{day.iso}/{input_fingerprint}", day)))
    val priced = Artifact(collectionOf[DayPriced]("day_priced", partitionBy = Seq("day")), Format.Parquet,
      FileStorage(PathTemplate(s"$out/priced/{day.iso}/{input_fingerprint}", day)))
    val total = Artifact(collectionOf[Totals]("totals"), Format.Parquet,
      FileStorage(PathTemplate(s"$out/total/{input_fingerprint}", Map.empty)))

    val byFlags = Producer("day_flags",
      build = (_, ins) => Seq(ins.head.groupBy("day", "l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("n"), sum(dec("l_quantity", 18)).as("qty"),
        sum(dec("l_extendedprice", 18) * (lit(1) - dec("l_discount", 4))).as("revenue")).coalesce(1)),
      map = Producer.mapByKey,
      computeStatistics = true,
      thresholds = Seq(Statistics.Threshold.MinRows(1)))
    val byPrice = Producer("day_priced",
      build = (_, ins) => Seq(ins.head.groupBy("day").agg(
        sum(dec("l_extendedprice", 18)).as("gross"), count(lit(1)).as("n")).coalesce(1)),
      map = Producer.mapByKey,
      validateOutputs = outs =>
        if (outs.head.filter(col("gross") < 0).isEmpty) Right(())
        else Left("negative gross price"))
    val fanIn = Producer("totals", build = (_, ins) => {
      val f = ins(0).agg(countDistinct("day").as("n_days"), sum("n").as("n_rows"),
        sum("qty").as("qty"), sum("revenue").as("revenue")).withColumn("k", lit(1))
      val p = ins(1).agg(sum("gross").as("gross")).withColumn("k", lit(1))
      Seq(f.join(p, "k").drop("k").coalesce(1))
    })
    new Graph("daily")
      .add("raw", raw).add("flags", flags).add("priced", priced).add("total", total)
      .produce(byFlags, Seq("raw"), Seq("flags"))
      .produce(byPrice, Seq("raw"), Seq("priced"))
      .produce(fanIn, Seq("flags", "priced"), Seq("total"))
      .close()
  }

  private def manifest(data: String, key: String): Seq[String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(s"$data/manifest.json")))
    node.get(key).elements().asScala.map(_.asText).toSeq
  }

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.toString.contains("__staging"))
        .map(f => Files.size(f)).sum
      finally s.close()
    }
  }

  /** Untimed: the whole op sequence once on a throwaway graph over copies
    * of the first raw days, so the timed phases do not pay JIT warm-up. */
  def warmup(run: Run): Unit = {
    val spark = run.spark
    val warm = s"${run.work}/warm"
    Files.createDirectories(Paths.get(s"$warm/raw"))
    val days = manifest(run.data, "backfill").take(4)
    def copy(day: String): Unit = Files.copy(Paths.get(s"${run.data}/raw/$day.parquet"),
      Paths.get(s"$warm/raw/$day.parquet"))
    days.init.foreach(copy)
    val g = graph(warm, s"$warm/graph")
    def build(): GraphSnapshot = {
      val b = new FileBackend(s"$warm/backend")
      val snap = g.snapshot(spark, b)
      new LocalExecutor(b).build(spark, snap)
      snap.read(spark, b, "total").collect()
      snap
    }
    build(); build()
    copy(days.last)
    build()
  }

  def timed(run: Run, minAppends: Int): Unit = {
    val spark = run.spark
    val out = s"${run.work}/graph"
    val backendDir = s"${run.work}/backend"
    val g = graph(run.data, out)
    val days = manifest(run.data, "backfill").size
    val arrivals = manifest(run.data, "arrivals")
    val tracing = run.tracer.isDefined
    val builds = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val totals = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var backend: FileBackend = null

    def open(): Unit = backend = run.spans("graph.backend_open")(new FileBackend(backendDir))
    def build(): (GraphSnapshot, BuildReport) = {
      val snap = run.spans("graph.snapshot")(g.snapshot(spark, backend))
      (snap, run.spans("exec.build")(new LocalExecutor(backend).build(spark, snap)))
    }
    /** Runs one op and records its build counts and the bytes it published. */
    def phase[T](kind: String, name: String, traced: Boolean, expectBuilt: Int)
        (body: => (BuildReport, T))(after: T => Unit = (_: T) => ()): Unit = {
      val before = dirBytes(out)
      val id = run.ops.size
      run.op(kind, name, traced) { body } { case (rep, t) =>
        builds += Map("op" -> id, "built" -> rep.totalBuilt, "skipped" -> rep.totalSkipped,
          "published_bytes" -> (dirBytes(out) - before))
        after(t)
        if (rep.totalBuilt == expectBuilt) None
        else Some(s"built ${rep.totalBuilt} partitions, expected $expectBuilt")
      }
    }

    val all = 2 * days + 1
    phase("backfill", "backfill", tracing, all) { open(); (build()._2, ()) }()
    for (i <- 0 until NoopRepeats)
      phase("noop", s"noop$i", tracing, 0) { (build()._2, ()) }()
    for (i <- 0 until NoopRepeats)
      phase("reopen", s"reopen$i", tracing, 0) { open(); (build()._2, ()) }()

    val start = Clock.now
    var i = 0
    while (i < arrivals.size && (i < minAppends || Clock.now - start < run.seconds * 1000)) {
      val day = arrivals(i)
      Files.move(Paths.get(s"${run.data}/incoming/$day.parquet"), Paths.get(s"${run.data}/raw/$day.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      val id = run.ops.size
      phase("append", day, tracing && i % 2 == 0, 3) {
        val (snap, rep) = build()
        (rep, run.spans("graph.read")(snap.read(spark, backend, "total").collect()))
      } { rows =>
        totals += Map("op" -> id, "days" -> (days + i + 1), "rows" -> rows.toSeq.map { r =>
          r.schema.fieldNames.zip(r.toSeq.map {
            case b: java.math.BigDecimal => b.toPlainString
            case null => null
            case v => v.toString
          }).toMap
        })
      }
      i += 1
      if (i == minAppends) run.measureRetainedHeap()
    }
    run.extra("builds") = builds.toSeq
    run.extra("totals") = totals.toSeq
    run.extra("backfill_days") = days
    run.extra("backend_log_bytes") = dirBytes(backendDir)
  }
}
