package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.GraftSession
import graft.operators.Queries
import graft.util.Json.quote
import graft.util.Timing.{noopReps, noopRun}

/** The dev CLI: every subcommand runs on the session Bench and Verify use
  * ([[GraftSession.local]]) and times with Bench's instrument
  * ([[graft.util.Timing.noopRun]]).
  *
  * Usage: runMain graft.tools.Dev <subcommand> <args...> [key=value ...]
  *
  * Every `key=value` argument is set as a session conf before the
  * subcommand runs, e.g. `spark.sql.shuffle.partitions=256` so partitions
  * scale with the data at a large scale factor.
  *
  *   - `time <dir,...> <query,...> [reps]` — median of `reps` (default 3)
  *     per (dir, query), one JSON line each, after one untimed warm-up run
  *     per query on the first dir.
  *   - `ab <dir> <query,...> <key> <valueA> <valueB> [reps]` — a two-arm
  *     conf A/B, interleaved in one JVM: arm order alternates per rep, so
  *     drift within the window cancels instead of favouring one arm.
  *   - `explain <sfDir> <query,...> [<outDir> <suffix>]` — formatted
  *     physical plans, to stdout or to `<outDir>/<query>_<suffix>.txt`.
  *     Batch queries only.
  *   - `cache <sfDir>` — batch queries whose materialized plan is still
  *     pinned to a persisted, non-checkpoint RDD (the CacheInventorySpec
  *     input).
  *   - `eq <sfDir...>` — scale-path variants against their exact baselines.
  *   - `probe <name> <dir> [reps]` — operator-leg timings, see [[Probes]].
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val (confs, pos) = args.toSeq.partition(_.contains('='))
    val cmd = pos.headOption.getOrElse(sys.error(
      "usage: Dev time|ab|explain|cache|eq|probe <args...> [key=value ...]"))
    val spark = GraftSession.local(GraftSession.cores, s"graft-dev-$cmd")
    confs.foreach { a =>
      val Array(k, v) = a.split("=", 2)
      spark.conf.set(k, v)
    }
    def reps(rest: Seq[String]): Int = rest.headOption.fold(3)(_.toInt)
    try pos match {
      case Seq("time", dirs, names, rest @ _*) =>
        time(spark, dirs.split(',').toSeq, names.split(',').toSeq, reps(rest))
      case Seq("ab", dir, names, key, a, b, rest @ _*) =>
        ab(spark, dir, names.split(',').toSeq, key, a, b, reps(rest))
      case Seq("explain", dir, names, rest @ _*) if rest.isEmpty || rest.size == 2 =>
        explain(spark, dir, names.split(',').toSeq, rest.headOption.map(o => (o, rest(1))))
      case Seq("cache", sfDir) => cache(spark, sfDir)
      case Seq("eq", sfs @ _*) if sfs.nonEmpty => eq(spark, sfs)
      case Seq("probe", name, dir, rest @ _*) => Probes.run(spark, name, dir, reps(rest))
      case _ => sys.error(s"bad arguments for Dev: ${args.mkString(" ")}")
    } finally spark.stop()
  }

  private def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)
  private def secs(t: Double): String = f"$t%.3f"

  private def time(spark: SparkSession, dirs: Seq[String], names: Seq[String], reps: Int): Unit = {
    for (name <- names) noopRun(spark)(Queries.byName(name).run(spark, dirs.head))
      .failed.foreach(e => System.err.println(s"[dev] warm-up $name failed: $e"))
    for (dir <- dirs; name <- names) {
      val result = noopReps(spark, reps)(Queries.byName(name).run(spark, dir)).fold(
        e => s""""error":${quote(e.toString.take(300))}""",
        ts => s""""median_sec":${secs(median(ts))},"times":${ts.map(secs).mkString("[", ",", "]")}""")
      println(s"""{"dev":"time","dir":${quote(dir)},"query":${quote(name)},$result}""")
    }
  }

  private def ab(spark: SparkSession, dir: String, names: Seq[String],
      key: String, a: String, b: String, reps: Int): Unit = {
    val prior = spark.conf.getOption(key)
    def once(name: String, value: String): Double = {
      spark.conf.set(key, value)
      try noopRun(spark)(Queries.byName(name).run(spark, dir)).get
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    for (name <- names) {
      scala.util.Try(once(name, a)).failed // untimed warm-up: first-run codegen
        .foreach(e => System.err.println(s"[dev] warm-up $name failed: $e"))
      val arms = (1 to reps).flatMap { rep =>
        (if (rep % 2 == 0) Seq(b, a) else Seq(a, b)).map(v => v -> once(name, v))
      }
      def med(v: String) = secs(median(arms.filter(_._1 == v).map(_._2)))
      println(s"""{"dev":"ab","dir":${quote(dir)},"query":${quote(name)},"key":${quote(key)},""" +
        s""""a":${quote(a)},"b":${quote(b)},"a_median_sec":${med(a)},"b_median_sec":${med(b)},"reps":$reps}""")
    }
  }

  private def explain(spark: SparkSession, dir: String, names: Seq[String],
      out: Option[(String, String)]): Unit = names.foreach { name =>
    val plan =
      try Queries.byName(name).run(spark, dir).queryExecution.explainString(FormattedMode)
      catch { case e: Exception => s"<explain failed: ${e.toString.take(500)}>" }
    out match {
      case None => println(plan)
      case Some((outDir, suffix)) =>
        Files.createDirectories(Paths.get(outDir))
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), plan.getBytes(StandardCharsets.UTF_8))
        println(s"[dev] wrote $outDir/${name}_$suffix.txt")
    }
  }

  private def cache(spark: SparkSession, sfDir: String): Unit = {
    val probe = classOf[org.apache.spark.rdd.RDD[_]].getMethod("isLocallyCheckpointed")
    Queries.all.filterNot(_.name.startsWith("qs")).foreach { q =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      try {
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val leaked = spark.sparkContext.getPersistentRDDs.values
          .filterNot(r => probe.invoke(r).asInstanceOf[Boolean])
        if (leaked.nonEmpty)
          println(s"[cache] ${q.name}: ${leaked.size} pinned — " +
            leaked.map(_.toString.replaceAll("\\s+", " ").take(80)).mkString(" | "))
      } catch {
        case e: Exception =>
          println(s"[cache] ${q.name}: ERROR ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(160))
      }
    }
    println("[cache] done")
  }

  /** Relates each scale-path variant to its exact baseline:
    *   - x3 vs x2: full-row EQUALITY. The LSH candidates are exactly
    *     re-verified, so the output contract is "the exact near-dup set" —
    *     equality here is what justifies giving x3 the x2 oracle SQL.
    *   - x7/x14/x29 vs x6: neighbor-set RECALL. The ANN variants
    *     intentionally search a restricted candidate set, so ranks and tail
    *     neighbors legitimately differ; their correctness gate is their own
    *     full-algorithm DuckDB oracle, and this just tracks how much of the
    *     true top-k the restriction preserves. */
  private def eq(spark: SparkSession, sfs: Seq[String]): Unit = for (sf <- sfs) {
    val a = Queries.byName("x3_minhash_lsh").run(spark, sf).collect().map(_.toSeq).toSet
    val e = Queries.byName("x2_ngram_jaccard").run(spark, sf).collect().map(_.toSeq).toSet
    val verdict = if (a == e) "EQUAL" else s"DIFF missing=${(e -- a).size} spurious=${(a -- e).size}"
    println(s"[eq] $sf x3_minhash_lsh vs x2_ngram_jaccard: $verdict (${a.size} vs ${e.size} rows)")
    val truth = Queries.byName("x6_ann_bruteforce").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (ann <- Seq("x7_ann_lsh", "x14_ann_ivf", "x29_quantized_rerank")) {
      val got = Queries.byName(ann).run(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val hit = got.count(truth.contains)
      println(f"[eq] $sf $ann recall vs x6: $hit/${truth.size} (${hit.toDouble / truth.size}%.2f)")
    }
  }
}
