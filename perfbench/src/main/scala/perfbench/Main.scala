package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the trace and every op. */
final class Run(val spark: SparkSession, val args: Map[String, String]) {
  val spans = new Spans
  val tracer: Option[Tracer] = if (args("trace") == "1") Some(new Tracer(spark)) else None
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  var retainedHeapMb: Option[Double] = None
  /** An op that runs past this is cancelled and counted as failed. */
  val OpLimitSeconds = 60L
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }
  def data: String = args("data")
  def work: String = args("work")
  def seconds: Double = args("seconds").toDouble

  /** One timed op. A throw, a time-out or a failed `check` marks it
    * failed; it is recorded but never counted as a latency sample. */
  def op[T](kind: String, name: String, traced: Boolean, info: Map[String, Any] = Map.empty)
      (body: => T)(check: T => Option[String]): Option[T] = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val id = ops.size
    spans.op = id
    if (traced) tracer.foreach(_.attach())
    @volatile var timedOut = false
    val alarm = watchdog.schedule(new Runnable {
      def run(): Unit = {
        timedOut = true
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        spark.sparkContext.cancelAllJobs()
      }
    }, OpLimitSeconds, TimeUnit.SECONDS)
    val start = Clock.now
    val result = scala.util.Try(spans("op")(body))
    val end = Clock.now
    alarm.cancel(false)
    if (traced) tracer.foreach(_.detach())
    spans.op = -1
    val error: Option[String] =
      if (timedOut) Some(s"exceeded the ${OpLimitSeconds}s op limit")
      else result.fold(e => Some(e.toString), check)
    // live heap needs a full GC, so only traced ops pay for it (untimed)
    val liveHeapMb = if (!traced) None else {
      System.gc()
      val rt = Runtime.getRuntime
      Some((rt.totalMemory - rt.freeMemory) / 1048576.0)
    }
    ops += info ++ Map("id" -> id, "kind" -> kind, "name" -> name, "traced" -> traced,
      "start" -> start, "end" -> end, "ok" -> error.isEmpty, "error" -> error,
      "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size,
      "live_heap_mb" -> liveHeapMb)
    if (error.isEmpty) result.toOption else None
  }

  /** Heap in use after full GCs, with the ops' leftovers in place. Taken
    * once, after a fixed amount of work, so it does not grow with the
    * number of passes a run happens to make. */
  def measureRetainedHeap(): Unit = if (retainedHeapMb.isEmpty) {
    // Spark's ContextCleaner frees broadcast and shuffle blocks only after a
    // GC has found their handles unreachable, so collect, give it time, and
    // keep the lowest reading
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    retainedHeapMb = Some((1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      System.gc()
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }.min)
  }

  def close(): Unit = watchdog.shutdownNow()
}

/** The benchmark's program side: one SparkSession, one client thread, a
  * closed loop of timed ops (the next starts when the previous one ends).
  * It writes one JSON record of raw measurements; perfbench/run.py turns it
  * into metrics and checks the outputs against DuckDB.
  *
  * Arguments (all required): --workload batch|stream|pipeline --data DIR
  * --work DIR --out FILE --seconds N --trace 0|1, plus --queries a,b,c (in
  * run order) and --passes N for batch and stream, or --min-appends N for
  * pipeline. */
object Main {
  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def parse(argv: Array[String]): Map[String, String] =
    argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val launched = Clock.now
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(args("work"), cores)
    val run = new Run(spark, args)
    val sessionReady = Clock.now
    var setupEnd = sessionReady
    /** JVM-wide GC and JIT time so far, to tell a slow run's cause. */
    def jvmTimes(): Map[String, Any] = {
      import java.lang.management.ManagementFactory
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.toArray.toSeq
        .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
      Map("at" -> Clock.now, "gc_ms" -> gcs.map(_.getCollectionTime).sum,
        "gc_count" -> gcs.map(_.getCollectionCount).sum,
        "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
    }
    var jvmAtSetupEnd: Map[String, Any] = Map.empty
    try {
      args("workload") match {
        case "batch" | "stream" =>
          val names = args("queries").split(',').toSeq
          QueryLoop.setup(run, names)
          setupEnd = Clock.now
          jvmAtSetupEnd = jvmTimes()
          QueryLoop.timed(run, names)
        case "pipeline" =>
          DailyPipeline.warmup(run)
          setupEnd = Clock.now
          jvmAtSetupEnd = jvmTimes()
          DailyPipeline.timed(run, args("min-appends").toInt)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val jvmAtEnd = jvmTimes()
      run.measureRetainedHeap()
      val record = Map(
        "jvm" -> Map("setup_end" -> jvmAtSetupEnd, "end" -> jvmAtEnd),
        "cores" -> cores,
        "launched" -> launched, "session_ready" -> sessionReady, "setup_end" -> setupEnd,
        "retained_heap_mb" -> run.retainedHeapMb,
        "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
        "spark_version" -> spark.version,
        "ops" -> run.ops.toSeq, "spans" -> run.spans.rows.toSeq, "checks" -> run.checks.toSeq,
        "extra" -> run.extra.toMap,
        "trace" -> run.tracer.map(_.record).orNull)
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      Files.writeString(Paths.get(args("out")), json.writeValueAsString(record))
    } finally {
      run.close()
      spark.stop()
    }
  }
}

/** Batch and stream workloads: each op runs one registry query through its
  * `run` and fully materializes the frame into the noop sink. For stream
  * queries `run` is one AvailableNow drain into the memory sink. */
object QueryLoop {
  import graft.operators.Queries

  /** Untimed: warm the session, then run every query once and write its
    * result to parquet for the output checks, outside the timers. A query
    * without oracle SQL runs twice so its two results can be compared. */
  def setup(run: Run, names: Seq[String]): Unit = {
    val spark = run.spark
    spark.read.parquet(s"${run.data}/lineitem.parquet").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    spark.conf.set("spark.graft.verifyMode", "true")
    for (name <- names.sorted) {
      val q = Queries.byName(name)
      val copies = if (q.oracle.isDefined) 1 else 2
      for (i <- 0 until copies) {
        val out = s"${run.work}/check/$name.$i"
        val error = scala.util.Try {
          q.run(spark, run.data).coalesce(1).write.mode("overwrite").parquet(out)
        }.failed.toOption.map(_.toString)
        spark.catalog.clearCache()
        run.checks += Map("name" -> name, "path" -> out, "oracle" -> q.oracle.orNull,
          "error" -> error.orNull)
      }
    }
    spark.conf.unset("spark.graft.verifyMode")
  }

  private def execute(run: Run, name: String, traced: Boolean, pass: Int): Unit = {
    val q = Queries.byName(name)
    run.op("query", name, traced, Map("pass" -> pass)) {
      val df = run.spans("operators.run")(q.run(run.spark, run.data))
      run.spans("sink")(df.write.format("noop").mode("overwrite").save())
    }(_ => None)
  }

  /** Untraced: whole passes over the list until `seconds` have passed and
    * at least `passes` are done.
    * Traced: one pass in which every query runs twice back to back, once
    * traced and once not, alternating which goes first, so the pair gives
    * the tracing overhead in the same window. */
  def timed(run: Run, names: Seq[String]): Unit =
    if (run.tracer.isEmpty) {
      val start = Clock.now
      var pass = 0
      while (pass < run.args("passes").toInt || Clock.now - start < run.seconds * 1000) {
        names.foreach(n => execute(run, n, traced = false, pass))
        run.measureRetainedHeap()
        pass += 1
      }
    } else {
      names.zipWithIndex.foreach { case (n, i) =>
        val tracedFirst = i % 2 == 0
        execute(run, n, traced = tracedFirst, 0)
        execute(run, n, traced = !tracedFirst, 0)
      }
      run.measureRetainedHeap()
    }
}
