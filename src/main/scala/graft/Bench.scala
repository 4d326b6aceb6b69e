package graft
import graft.util.Json
import graft.util.Json.quote
import graft.util.Timing.{noopReps, noopRun}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // MEDIAN-OF-N protocol (default 3): each query runs N times
    // back-to-back and reports its per-query MEDIAN, so (a) one-time
    // JIT/codegen cost lands in rep 1 and is discounted, and (b) the
    // round-close number is the same artifact the driver records — no
    // cherry-picked best-of runs. Spread (max-min, seconds) is emitted
    // per query so noisy medians are visible.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local(GraftSession.cores, "graft-bench")
    def warmup(what: String)(body: => Unit): Unit =
      try body catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up $what failed: $e")
      }
    // untimed warmup: JVM/codegen/parquet-footer caches, so rep 1 of the
    // first measured query isn't charged session bring-up. One
    // representative per machinery family — plain scan/join (q1), kernel
    // expressions (x6), the producer/executor/backend path (q13: snapshot
    // + staged write + publish), a micro-batch streaming query (qs3), and
    // the shingle/near-dup machinery (x17).
    for (w <- Seq("q1_pricing_summary", "x6_ann_bruteforce",
                  "q13_partitioned_spend", "qs3_stream_state",
                  "x17_dedup_clusters"))
      SparkEntry.queries.get(w).foreach(fn => warmup(w)(fn(spark, sfDir).count()))
    // streaming instrument pin (r12): materialize every stream-source wave
    // dir and warm the state-store/sink machinery ONCE, so no timed qs rep
    // pays another query's source build — the source of the up-to-4.7 s
    // qs spreads that forced window triage in earlier rounds.
    warmup("streaming sources")(graft.streaming.StreamQueries.prewarmStreaming(spark, sfDir))
    // qs queries get median-of-5 minimum (r12): micro-batch scheduling +
    // state-store init jitter gives streaming reps wider spreads than
    // batch reps at the same cost class, and 3 samples let one bad rep
    // become the median. Batch queries keep the configured rep count.
    // A query that throws records no time: it is reported as -1, counted
    // in n_failed and left out of the total.
    val results: Seq[(String, Option[(Double, Double)])] =
      SparkEntry.queries.toSeq.map { case (name, fn) =>
        val qReps = if (name.startsWith("qs")) math.max(reps, 5) else reps
        // qs queries: one UNTIMED warmup rep (the probe discipline) — each
        // streaming query JITs its own generated code + state-store setup on
        // first execution, which median-of-N discounts but the spread metric
        // showed as multi-second "jitter" that wasn't (r11 What's-wrong #5)
        if (name.startsWith("qs")) warmup(name)(noopRun(spark)(fn(spark, sfDir)).get)
        name -> noopReps(spark, qReps)(fn(spark, sfDir)).fold(
          e => { System.err.println(s"[bench] $name failed: $e"); None },
          times => Some((times(times.size / 2), times.last - times.head)))
      }
    def jnum(d: Double): String = f"$d%.4f"
    def jmap(f: ((Double, Double)) => Double): String = results.map { case (k, r) =>
      quote(k) + ":" + r.fold("-1")(v => jnum(f(v)))
    }.mkString("{", ",", "}")
    val medians = results.collect { case (k, Some((m, _))) => k -> m }
    val total = medians.map(_._2).sum
    val nFailed = results.size - medians.size
    spark.stop() // engine loop done; the oracle pair (below) must not share the window with a live JVM doing work
    // SELF-PAIRING (r11): raw totals drift 1.4-2x between host windows
    // (r10's unpaired driver artifact read x123 at 77 s where the
    // same-window truth was 5 s), so the only honest number is a
    // same-window engine/oracle PAIR. With SPARK_GRAFT_BENCH_PAIR=1 the
    // bench immediately shells tools/duck_bench.py on the SAME oracle
    // SQL the driver's correctness gate uses and folds the denominator
    // into this artifact — one JSON line carries both sides of the
    // ratio, measured minutes apart on the same host. Opt-in: the
    // oracle adds ~2 min at sf0.1 and needs the driver-side duckdb.
    var pairRatio: Option[Double] = None
    val pairBlock: String =
      if (!sys.env.get("SPARK_GRAFT_BENCH_PAIR").contains("1")) ""
      else try {
        val tmp = java.nio.file.Files.createTempFile("graft_oracle_", ".json")
        java.nio.file.Files.writeString(tmp, Json.render(Json.strMap(SparkEntry.oracleSql)))
        val cmd = Seq("python3", repoRoot.resolve("tools/duck_bench.py").toString,
          sfDir, tmp.toString, reps.toString)
        val oracleOut = scala.sys.process.Process(cmd).!!
        val med = Json.parse(oracleOut).get("median_sec")
        import scala.jdk.CollectionConverters._
        val oracleT = med.fieldNames().asScala.map(n => n -> med.get(n).asDouble).toMap
        // the pair ratio is computed over the BATCH common set: streaming
        // (qs*) engine legs time micro-batch drains, which the batch SQL
        // oracle does not model — same exclusion every recorded pair used
        val common = medians.filter { case (n, _) => !n.startsWith("qs") && oracleT.contains(n) }
        val eng = common.map(_._2).sum
        val ora = common.map { case (n, _) => oracleT(n) }.sum
        val wins = common.count { case (n, m) => m < oracleT(n) }
        val oq = oracleT.toSeq.sortBy(_._1)
          .map { case (k, v) => quote(k) + ":" + jnum(v) }.mkString("{", ",", "}")
        pairRatio = Some(eng / ora)
        s""","pair":{"oracle_total_s":${jnum(oracleT.values.sum)},"batch_common":${common.size},"engine_common_s":${jnum(eng)},"oracle_common_s":${jnum(ora)},"pair_ratio":${jnum(eng / ora)},"engine_wins":$wins,"oracle_queries":$oq}"""
      } catch { case e: Exception =>
        s""","pair_error":${quote(e.toString.take(200))}"""
      }
    val head = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","protocol":"median_of_${reps}_qs_${math.max(reps, 5)}""""
    val line = s"""$head,"n_failed":$nFailed,"queries":${jmap(_._1)},"spread":${jmap(_._2)}$pairBlock,"sf":${quote(sfDir)}}"""
    println(line)
    // the full per-query map also lands in a FILE: stdout capture truncated
    // the round-4 artifact to 69/104 queries, and the file is what keeps
    // BASELINE.md prose honest (quote the artifact, never a side run).
    // Default path is anchored to the repo root (where build.sbt lives) so
    // a JVM launched from elsewhere doesn't scatter artifacts; the file is
    // gitignored — round closes copy it to BENCH_LOCAL_r{N}.json.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      repoRoot.resolve("BENCH_LOCAL.json").toString)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // MEASUREMENT-REPORTING FIX (r13, verdict item 1): the full line above
    // is ~15 KB for 269 queries, and the driver's artifact keeps only a
    // 2000-char stdout TAIL — so the FINAL stdout line is a SHORT summary
    // that always fits the tail whole: same metric/value/unit contract,
    // counts, the pair ratio when measured, and a pointer to the artifact
    // file that carries the per-query maps.
    val shortLine =
      s"""$head,"n_queries":${results.size},"n_failed":$nFailed""" +
      pairRatio.map(r => s""","pair_ratio":${jnum(r)}""").getOrElse("") +
      s""","queries_file":${quote(out)},"sf":${quote(sfDir)}}"""
    println(shortLine)
  }

  /** The checkout root (where build.sbt lives), else the working directory. */
  private def repoRoot: java.nio.file.Path = {
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
      .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      .getOrElse(cwd)
  }
}
