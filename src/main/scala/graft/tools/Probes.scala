package graft.tools

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.operators.{Queries, Tables}
import graft.streaming.StreamQueries
import graft.util.TempDirs

/** Operator-leg probes (`Dev probe <name> <dir> [reps]`): legs that
  * registry-level timing can't separate, each timed with Bench's protocol
  * (median-of-N, noop-sink full materialization, cache clear per rep)
  * unless its comment says otherwise. Prints one JSON line.
  *
  *   - `x149_maint`  — the IVF delta-add MAINTENANCE leg alone: frozen
  *     base centroids pinned as a local frame (production reads them from
  *     the stored index), timing covers ONLY the delta assignment pass.
  *     The registry query's own time is brute-ground-truth-dominated by
  *     contract (the audit exists to measure recall), so the maintenance
  *     claim needs its own number.
  *   - `x149_serve`  — the production serving leg: rank the probed cells
  *     of the maintained (base ∪ delta) assignment for the 5 queries —
  *     no brute pass anywhere.
  *   - `x151_maint`, `x112_{train,encode,serve}`, `x44_{graph,iter}`,
  *     `x123_{matrix,mm}`, `x2_legs`, `qs34_{update,delta}` — see each
  *     case below.
  */
private[tools] object Probes {
  def run(spark: SparkSession, probe: String, dir: String, reps: Int): Unit = {
    def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)
    def timed(build: () => DataFrame): Seq[Double] =
      (1 to reps).map(_ => graft.util.Timing.noopRun(spark)(build()).get)
    // a leg that iterates over a stored artifact: `pin` is persisted and
    // materialized OUTSIDE the timer, and there is no per-rep cache clear —
    // that would evict the pinned leg itself
    def timedOver(pin: DataFrame)(build: DataFrame => DataFrame): Seq[Double] = {
      val pinned = pin.persist(MEMORY_AND_DISK)
      pinned.write.format("noop").mode("overwrite").save()
      (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        build(pinned).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }
    // a frame collected to the driver and re-entered as a local relation:
    // production reads such artifacts from storage, never re-derives them
    def local(df: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    lazy val pinnedCents = local(Queries.ivfSeedCentroids(
      Queries.embWithNorm(spark, dir).filter(col("vec_id") >= 5 && col("vec_id") % 10 =!= 0), 16))
    def btMatrix() = Queries.btMatrix(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"), col("l_quantity").as("qty")))
    // qs34's PRODUCTION emission shape: update-mode (changed keys only)
    // AvailableNow drain of the join view into a noop sink
    def drainQs34(cdc: DataFrame, ckpt: Option[Path]): Double = {
      val t0 = System.nanoTime()
      val w = StreamQueries.joinViewKeyState(cdc).writeStream.format("noop")
        .outputMode(OutputMode.Update()).trigger(Trigger.AvailableNow())
      ckpt.fold(w)(c => w.option("checkpointLocation", c.toString)).start().awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }

    val times = probe match {
      case "x149_maint" =>
        val cents = pinnedCents
        timed { () =>
          val delta = Queries.embWithNorm(spark, dir)
            .filter(col("vec_id") >= 5 && col("vec_id") % 10 === 0)
          Queries.ivfAssigned(delta, cents)
        }
      case "x149_serve" =>
        val cents = pinnedCents
        timed { () =>
          val e = Queries.embWithNorm(spark, dir)
          val corpus = e.filter(col("vec_id") >= 5)
          val maintained = Queries.ivfAssigned(corpus.filter(col("vec_id") % 10 =!= 0), cents)
            .unionByName(Queries.ivfAssigned(corpus.filter(col("vec_id") % 10 === 0), cents))
          val queries = e.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
          val wq = Window.partitionBy(col("query_id"))
            .orderBy(col("csim").desc, col("cent_id").asc)
          val probes = queries.join(broadcast(cents))
            .withColumn("csim", expr("graft_dot(qv, cv)") / (col("qn") * col("cn")))
            .withColumn("crank", row_number().over(wq))
            .filter(col("crank") <= 4)
            .select(col("query_id"), col("cent_id"), col("qv"), col("qn"))
          val wv = Window.partitionBy(col("query_id"))
            .orderBy(col("cos").desc, col("vec_id").asc)
          maintained.join(broadcast(probes), Seq("cent_id")) // probed cells only
            .withColumn("cos", expr("graft_dot(qv, v)") / (col("qn") * col("nrm")))
            .withColumn("rn", row_number().over(wv)).filter(col("rn") <= 10)
            .select(col("query_id"), col("vec_id"), col("cos"))
        }
      case "x151_maint" =>
        // the index-maintenance leg alone: base-side artifacts (df_base,
        // N_base, Σdl_base) pinned OUTSIDE the timer — production reads
        // them from the stored index manifest; timing covers the delta
        // postings scan, the per-term df combine, and the stat adds
        val terms = Seq("dup", "vector", "join")
        val docsAll = Tables.documents(spark, dir)
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
        val dfBPinned = local(Queries.bm25TermPostings(
            docsAll.filter(col("doc_id") % 10 =!= 0), terms)
          .groupBy(col("token")).agg(count_distinct(col("doc_id")).as("dfb")))
        timed { () =>
          val delta = docsAll.filter(col("doc_id") % 10 === 0)
          val postD = Queries.bm25TermPostings(delta, terms)
          val dfD = postD.groupBy(col("token")).agg(count_distinct(col("doc_id")).as("dfd"))
          val stats = delta.agg(count(lit(1)).as("n_d"),
            sum(size(col("tk")).cast("long")).as("sdl_d"))
          dfBPinned.join(dfD, Seq("token"), "full_outer")
            .select(col("token"),
              (coalesce(col("dfb"), lit(0L)) + coalesce(col("dfd"), lit(0L))).as("df"))
            .crossJoin(stats) // 3x1 rows: the maintained manifest update
        }
      case "x112_train" =>
        // the codebook-training leg alone: one seeded Lloyd round over the
        // subspace decomposition (x102's trainer, exactly what x112's
        // train_codebook producer runs)
        timed { () =>
          Queries.pqCodebook(Queries.pqSubspaces(spark, dir).persist(MEMORY_AND_DISK)).coalesce(1)
        }
      case "x112_encode" =>
        // the corpus-encode leg against a PUBLISHED codebook: the codebook
        // artifact is written outside the timer (production re-encodes new
        // slices against the stored artifact — x49's frozen-index
        // discipline), so timing covers one corpus scan + the single
        // map-side-combined encode shuffle
        val cbDir = TempDirs.create("x112cb").resolve("cb").toString
        Queries.pqCodebook(Queries.pqSubspaces(spark, dir)).coalesce(1).write.parquet(cbDir)
        timed { () =>
          Queries.pqEncode(Queries.pqSubspaces(spark, dir), spark.read.parquet(cbDir)).coalesce(4)
        }
      case "x112_serve" =>
        // the two-stage serve leg alone, from PUBLISHED artifacts: codebook
        // + codes parquet written outside the timer (the registry query's
        // 4.3 s is lifecycle-dominated — train + encode + WAP audits + real
        // artifact writes; this probe prices what a deployed index pays per
        // query batch: the codes-only ADC scan, the ≤64/query shortlist
        // broadcast, and the exact re-rank against the vector store)
        val base = TempDirs.create("x112art").toString
        val subsAll = Queries.pqSubspaces(spark, dir).persist(MEMORY_AND_DISK)
        Queries.pqCodebook(subsAll).coalesce(1).write.parquet(s"$base/cb")
        Queries.pqEncode(subsAll, spark.read.parquet(s"$base/cb")).coalesce(4)
          .write.parquet(s"$base/codes")
        subsAll.unpersist(blocking = false)
        timed { () =>
          Queries.pqServe(Queries.pqSubspaces(spark, dir).persist(MEMORY_AND_DISK),
            spark.read.parquet(s"$base/cb"), spark.read.parquet(s"$base/codes"))
        }
      case "x44_graph" =>
        // the corpus-dependent TextRank leg alone: one scan -> bigram
        // groupBy -> c12>=5 filter -> w1-window out-weights
        timed(() => Queries.textrankTrans(spark, dir))
      case "x44_iter" =>
        // the vocab-bounded leg: two power iterations + global ranking
        // over the transition frame
        timedOver(Queries.textrankTrans(spark, dir))(Queries.textrankRank(spark, _))
      case "x123_matrix" =>
        // the corpus-scale Bradley-Terry leg alone: the order-keyed
        // self-join collapsed into the |items|²-bounded matrix
        timed(() => btMatrix())
      case "x123_mm" =>
        // the solve alone: item filter + 4 MM rounds + ranking over the
        // matrix
        timedOver(btMatrix())(Queries.btSolve(spark, _, releaseMatrix = false))
      case "x2_legs" =>
        // r12 opt: the pair engine's internal composition — (a) the shingle
        // kernel scan, (b) the adaptive df-cap probe (dfs agg + max action),
        // (c) the posting self-join + jac verify given (a)+(b) warm. One
        // JSON per leg would fight the shared-persist design, so this probe
        // prints its own three-leg line.
        val t = (1 to reps).map { _ =>
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          val t0 = System.nanoTime()
          val docs = Queries.shingleSets(Tables.documents(spark, dir)).persist()
          docs.write.format("noop").mode("overwrite").save()
          val t1 = System.nanoTime()
          val posts = docs.select(col("doc_id"), explode(col("sh")).as("s"))
          val dfs = posts.groupBy(col("s")).agg(count(lit(1)).as("df"))
          val maxDf = Option(dfs.agg(max(col("df"))).head().get(0)).fold(0L)(_.asInstanceOf[Long])
          val t2 = System.nanoTime()
          Queries.nearDupPairs(docs).write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          (maxDf, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
        }
        val m = t(t.size / 2)
        def n4(d: Double) = f"$d%.4f"
        println("{\"probe\":\"x2_legs\",\"maxDf\":" + m._1 +
          ",\"shingle_s\":" + n4(m._2) + ",\"dfprobe_s\":" + n4(m._3) +
          ",\"pairs_s\":" + n4(m._4) + "}")
        return
      case "qs34_update" =>
        // The registry query's complete-mode drain re-emits the FULL
        // |custkeys|-row state per micro-batch through the harness memory
        // sink BY DESIGN (the exactness instrument needs the whole view to
        // hash), so its scale reading is drain volume, not maintenance
        // cost — this probe is the number a deployed update-mode view
        // pays: state updates + per-batch delta emission, no driver
        // materialization anywhere.
        def once(): Double = {
          spark.catalog.clearCache()
          drainQs34(StreamQueries.joinCdcStream(spark, dir), None)
        }
        // untimed warmup: pays the one-time joinCdcWaves materialization
        // (memoized per dir) + codegen, matching the sibling probes'
        // discipline so the timed median isn't skewed at low rep counts
        try once() catch { case _: Throwable => () }
        (1 to reps).map(_ => once())
      case "qs34_delta" =>
        // r11 verdict item 3: isolate qs34's MAINTENANCE cost from ingest.
        // The qs34_update probe replays the ENTIRE feed as deltas (a cold
        // start), so its scale slope reads ingest volume. This probe is
        // the steady-state number: per rep, a FRESH checkpoint ingests the
        // two base waves (untimed — that is the standing view's history),
        // then the two delta waves (~10% of facts, ~6% of dims) land in
        // the source dir and ONLY the restarted update-mode replay over
        // the new files is timed — the file-source checkpoint skips the
        // already-seen base files, so the timed run covers exactly: state
        // reload + delta assignment into per-key factorized state +
        // changed-key emission. A final no-new-files restart is timed too
        // (the micro-batch floor), so delta cost above harness floor is
        // explicit. Prediction under the factorized-state claim: delta_sec
        // tracks DELTA volume, near-flat vs corpus scale.
        val (ordCdc, custCdc) = StreamQueries.joinCdcBatch(spark, dir)
        val stash = TempDirs.create("graft-qs34delta-stash")
        def writeWave(df: DataFrame, p: Path): Unit =
          df.drop("src_key").coalesce(1).write.parquet(p.toString)
        writeWave(custCdc.filter(col("src_key") % 17 =!= 0), stash.resolve("wave-0"))
        writeWave(ordCdc.filter(col("src_key") % 10 =!= 0), stash.resolve("wave-1"))
        writeWave(custCdc.filter(col("src_key") % 17 === 0), stash.resolve("wave-2"))
        writeWave(ordCdc.filter(col("src_key") % 10 === 0), stash.resolve("wave-3"))
        def copyWave(wave: String, to: Path): Unit = {
          Files.createDirectories(to.resolve(wave))
          Files.list(stash.resolve(wave)).forEach(f =>
            Files.copy(f, to.resolve(wave).resolve(f.getFileName.toString),
              StandardCopyOption.REPLACE_EXISTING))
        }
        def drain(src: Path, ckpt: Path): Double =
          drainQs34(spark.readStream.schema(StreamQueries.joinCdcSchema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(src.toString), Some(ckpt))
        def oneCycle(): (Double, Double, Double) = {
          val src = TempDirs.create("graft-qs34delta-src")
          val ckpt = TempDirs.create("graft-qs34delta-ckpt")
          copyWave("wave-0", src)
          copyWave("wave-1", src)
          val baseSec = drain(src, ckpt) // untimed in spirit: reported for context
          copyWave("wave-2", src)
          copyWave("wave-3", src)
          val deltaSec = drain(src, ckpt) // ONLY the new files replay
          val floorSec = drain(src, ckpt) // no new files: harness floor
          TempDirs.deleteTree(src); TempDirs.deleteTree(ckpt)
          (baseSec, deltaSec, floorSec)
        }
        try oneCycle() catch { case _: Throwable => () } // untimed warmup cycle
        val cycles = (1 to reps).map(_ => oneCycle())
        println(f"""{"probe":"qs34_delta","dir":"$dir","base_median_sec":${median(cycles.map(_._1))}%.3f,"delta_median_sec":${median(cycles.map(_._2))}%.3f,"floor_median_sec":${median(cycles.map(_._3))}%.3f,"reps":$reps}""")
        TempDirs.deleteTree(stash)
        return
      case other => sys.error(s"unknown probe $other")
    }
    println(f"""{"probe":"$probe","dir":"$dir","median_sec":${median(times)}%.3f,"times":[${times.map(t => f"$t%.3f").mkString(",")}]}""")
  }
}
