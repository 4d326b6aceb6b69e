package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Queries

/** Semantic invariants of the round-3 training-data operators — the laws
  * that must hold at ANY scale factor, checked over real testdata (the
  * oracle gate proves engine-vs-DuckDB equality; these prove the operators
  * mean what they claim). */
class TrainingOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .appName("training-ops-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def run(name: String) = Queries.byName(name).run(spark, sf)

  test("q10b: the gated 3-rsd flags are true AND the raw HLL estimates really are close") {
    val df = run("q10b_approx_distinct").cache()
    val r = df.head()
    assert(r.getAs[Int]("parts_within_3rsd") === 1 &&
      r.getAs[Int]("orders_within_3rsd") === 1)
    // the flag's claim re-derived from the raw estimates (not hash-gated
    // because the estimate is engine-specific — this spec is where the
    // actual HLL values get checked)
    val li = graft.operators.Tables.lineitem(spark, sf)
    val raw = li.agg(
      countDistinct(col("l_partkey")).as("ep"),
      approx_count_distinct(col("l_partkey"), 0.05).as("ap"),
      countDistinct(col("l_orderkey")).as("eo"),
      approx_count_distinct(col("l_orderkey"), 0.05).as("ao")).head()
    assert(math.abs(raw.getLong(1) - raw.getLong(0)) <= 0.15 * raw.getLong(0))
    assert(math.abs(raw.getLong(3) - raw.getLong(2)) <= 0.15 * raw.getLong(2))
    df.unpersist()
  }

  test("x19: ratios live in [0,1]; distinct shingles never exceed total") {
    val bad = run("x19_repetition").filter(
      col("sh_distinct") > col("sh_total") ||
        col("dup_shingle_ratio") < 0 || col("dup_shingle_ratio") > 1 ||
        col("dup_token_ratio") < 0 || col("dup_token_ratio") > 1)
    assert(bad.isEmpty, bad.collect().mkString("\n"))
  }

  test("x20: benchmark docs are excluded; shared never exceeds the doc's shingles") {
    val df = run("x20_contamination")
    assert(df.filter(col("doc_id") % 97 === 0).isEmpty, "benchmark docs leaked into the corpus side")
    assert(df.filter(col("n_shared") > col("n_shingles")).isEmpty)
    // a known near-dup of a benchmark doc would be contaminated; at minimum
    // the flag must be consistent with the ratio rule
    assert(df.filter(col("contaminated") =!= (col("contamination_ratio") >= 0.2)).isEmpty)
  }

  test("x21: packing offsets tile each stratum exactly (no gaps, no overlaps)") {
    val df = run("x21_sequence_pack").cache()
    // within a stratum, offsets ordered by doc_id are exactly cumulative
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    val tiled = df.withColumn("expected",
        coalesce(sum(col("n_tokens")).over(w.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .filter(col("start_offset") =!= col("expected"))
    assert(tiled.isEmpty, tiled.collect().take(5).mkString("\n"))
    // per-stratum token totals equal the last doc's offset + its tokens
    val spans = df.filter(col("n_seqs") < 1 || col("last_seq") < col("first_seq"))
    assert(spans.isEmpty)
    df.unpersist()
  }

  test("x23: quantized components are bounded by ±127 and the max |q| hits 127") {
    val df = run("x23_embed_quant")
    assert(df.filter(col("q_min") < -127 || col("q_max") > 127).isEmpty)
    // symmetric quantization maps the max-|v| component to exactly ±127
    assert(df.filter(col("scale") > 0 &&
      col("q_max") =!= 127 && col("q_min") =!= -127).isEmpty,
      "no component reached full scale — the scale factor is wrong")
  }

  test("x24: the salted decomposition equals the plain group-by bit-for-bit") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val plain = graft.operators.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(round(sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType), 2).as("total"))
      .orderBy("event_type").collect().toSeq
    val salted = run("x24_salted_agg").orderBy("event_type").collect().toSeq
    assert(salted === plain)
  }

  test("x25: every document appears once per epoch, epochs in [1,3]") {
    val df = run("x25_corpus_mix")
    val perDoc = df.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n"), max(col("epoch")).as("max_e"), min(col("epoch")).as("min_e"))
    // n == max epoch and epochs are the contiguous 1..n
    assert(perDoc.filter(col("n") =!= col("max_e") || col("min_e") =!= 1).isEmpty)
    assert(perDoc.filter(col("max_e") < 1 || col("max_e") > 3).isEmpty)
  }

  test("qs7: streaming dedup state equals the batch x1 result") {
    val streamed = run("qs7_stream_dedup_ingest")
      .orderBy("text_hash").collect().toSeq
    val batch = run("x1_exact_dedup")
      .orderBy("text_hash").collect().toSeq
    assert(streamed === batch)
  }

  test("qs15: doubled-up stream delivers every event exactly once") {
    val streamed = run("qs15_stream_retransmit_dedup").cache()
    val events = graft.operators.Tables.events(spark, sf)
    assert(streamed.count() === events.count(),
      "each retransmitted event must be admitted exactly once")
    assert(streamed.select("event_id").distinct().count() === streamed.count())
    assert(streamed.select("event_id", "user_id", "event_type")
      .exceptAll(events.select("event_id", "user_id", "event_type")).isEmpty)
    streamed.unpersist()
  }

  test("x55: episodes cap at 32, spans are ordered, and truncation is exact") {
    val df = run("x55_event_sequences").cache()
    assert(df.filter(col("seq_len") < 1 || col("seq_len") > 32).isEmpty)
    assert(df.filter(col("first_us") > col("last_us")).isEmpty)
    // the cap truncates exactly: users with >= 32 events get exactly 32,
    // users below keep their whole log
    val counts = graft.operators.Tables.events(spark, sf).groupBy("user_id").count()
    val joined = df.join(counts, "user_id")
    assert(joined.filter(col("count") >= 32 && col("seq_len") =!= 32).isEmpty)
    assert(joined.filter(col("count") < 32 && col("seq_len") =!= col("count")).isEmpty)
    // content-addressed: a rerun reproduces identical fingerprints
    val again = run("x55_event_sequences")
    assert(df.exceptAll(again).isEmpty && again.exceptAll(df).isEmpty)
    df.unpersist()
  }

  test("x56: the split audit is non-vacuous and its ppm arithmetic is exact") {
    val df = run("x56_split_contamination").cache()
    assert(df.count() === 2, "exactly the val and test rows")
    assert(df.filter(col("n_contaminated") > col("n_docs")).isEmpty)
    assert(df.filter(
      col("contamination_ppm") =!= expr("(n_contaminated * 1000000L) div n_docs")).isEmpty)
    // the synthetic corpus plants near-dups that cross the content-hash
    // split boundary — the audit must actually catch some (a vacuously
    // zero audit would prove nothing)
    assert(df.agg(sum("n_contaminated")).head.getLong(0) > 0)
    df.unpersist()
  }

  test("qs14: the bounded streaming reservoir equals batch x42 exactly") {
    // the merge-associativity contract: k-bounded cross-batch state picks
    // the same winners as the global sort, in the same rank order
    val streamed = run("qs14_stream_reservoir")
      .select("lang", "doc_id", "n_chars", "skey", "rnk")
      .orderBy("lang", "rnk").collect().toSeq
    val batch = run("x42_weighted_sample")
      .select("lang", "doc_id", "n_chars", "skey", "rnk")
      .orderBy("lang", "rnk").collect().toSeq
    assert(streamed === batch)
  }

  test("x58: top-50 is ordered, scores positive, and the ranking is content-addressed") {
    val rows = run("x58_bm25_retrieval").collect().toSeq
    assert(rows.size === 50)
    rows.foreach { r =>
      val nTerms = r.getAs[Int]("n_terms")
      assert(nTerms >= 1 && nTerms <= 3, s"n_terms out of range: $r")
      assert(r.getAs[Long]("bm25_micros") > 0L, s"non-positive score: $r")
    }
    // (score desc, doc_id asc) is a total order — the returned sequence
    // must already BE that order (TakeOrderedAndProject's contract)
    val resorted = rows.sortBy(r => (-r.getAs[Long]("bm25_micros"), r.getAs[Long]("doc_id")))
    assert(rows === resorted, "result not in (score desc, doc_id) order")
    assert(run("x58_bm25_retrieval").collect().toSeq === rows, "rerun diverged")
  }

  test("x59: the matrix is unordered-normalized and conserves the pair count") {
    val df = run("x59_source_dup_matrix").cache()
    assert(df.filter(col("src_lo") > col("src_hi")).isEmpty, "unnormalized pair row")
    assert(df.filter(col("cross_source") =!= (col("src_lo") =!= col("src_hi"))).isEmpty)
    assert(df.filter(col("n_pairs") < 1).isEmpty)
    // every near-dup pair lands in exactly one matrix cell
    val total = df.agg(sum("n_pairs")).head.getLong(0)
    val nPairs = run("x2_ngram_jaccard").count()
    assert(total === nPairs, s"matrix total $total != pair count $nPairs")
    df.unpersist()
  }

  test("x60: clipping is idempotent, flag-consistent, and bounded at ~10% per group") {
    val df = run("x60_winsorize").cache()
    // clipped iff the clamp moved the value (pass-through doubles are exact)
    assert(df.filter(col("clipped") =!= (col("value") =!= col("value_clipped"))).isEmpty)
    // discrete [p05, p95] cuts clip at most ~10% of each group
    val rates = df.groupBy("event_type")
      .agg((sum(col("clipped").cast("long")) / count(lit(1))).as("rate"))
    assert(rates.filter(col("rate") > 0.11).isEmpty,
      rates.collect().mkString("\n"))
    // re-clipping an already-clipped column is a no-op (idempotence)
    val lo = df.groupBy("event_type").agg(min("value_clipped").as("lo2"), max("value_clipped").as("hi2"))
    val reclip = df.join(lo, "event_type")
      .filter(col("value_clipped") < col("lo2") || col("value_clipped") > col("hi2"))
    assert(reclip.isEmpty)
    df.unpersist()
  }

  test("x61: the span catalog is exactly the inverse of x34's per-doc shared counts") {
    val cat = run("x61_span_catalog").cache()
    assert(cat.filter(col("n_docs") < 2).isEmpty)
    // postings conservation: Σ_span n_docs == Σ_doc n_shared (x34 counts
    // the same repeated postings from the document side)
    val fromCatalog = cat.agg(sum("n_docs")).head.getLong(0)
    val fromDocs = run("x34_span_dup").agg(sum("n_shared")).head.getLong(0)
    assert(fromCatalog === fromDocs, s"catalog $fromCatalog != per-doc $fromDocs")
    // first_doc really contains the span (spot-check the max-df span)
    val top = cat.orderBy(col("n_docs").desc, col("span")).head()
    val holder = graft.operators.Tables.documents(spark, sf)
      .filter(col("doc_id") === top.getAs[Long]("first_doc"))
      .filter(col("text").contains(top.getAs[String]("span")))
    assert(!holder.isEmpty, "first_doc does not contain its span")
    cat.unpersist()
  }

  test("x62: the scorecard conserves docs, tokens, and duplicate membership") {
    val sc = run("x62_source_scorecard").cache()
    val docs = graft.operators.Tables.documents(spark, sf)
    assert(sc.agg(sum("n_docs")).head.getLong(0) === docs.count())
    assert(sc.filter(col("n_quality") > col("n_docs") ||
      col("n_dup_docs") > col("n_docs")).isEmpty)
    assert(sc.filter(
      col("mean_quality_micros") =!= expr("quality_micros div n_docs") ||
        col("dup_ppm") =!= expr("(n_dup_docs * 1000000L) div n_docs")).isEmpty)
    // duplicate membership matches x1's per-hash copy counts
    val fromX1 = run("x1_exact_dedup").filter(col("n_copies") > 1)
      .agg(coalesce(sum("n_copies"), lit(0L))).head.getLong(0)
    assert(sc.agg(sum("n_dup_docs")).head.getLong(0) === fromX1)
    sc.unpersist()
  }

  test("x63: KL drift is non-negative (up to nano quantization) and conserves tokens") {
    val df = run("x63_source_drift").cache()
    // Gibbs: true KL >= 0; each nano-rounded contribution errs <= 0.5,
    // so a source's sum sits above -vocab_size/2 nanos
    assert(df.filter(col("kl_nanos") < -col("vocab_size") / 2).isEmpty,
      df.filter(col("kl_nanos") < 0).collect().mkString("\n"))
    val fromDrift = df.agg(sum("n_tokens")).head.getLong(0)
    val fromCorpus = graft.operators.Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("n")).agg(sum("n")).head.getLong(0)
    assert(fromDrift === fromCorpus, s"token totals drifted: $fromDrift != $fromCorpus")
    df.unpersist()
  }

  test("x64: the dataset card agrees with the operators it summarizes") {
    val card = run("x64_dataset_card").head()
    val docs = graft.operators.Tables.documents(spark, sf)
    assert(card.getAs[Long]("n_docs") === docs.count())
    assert(card.getAs[Long]("n_langs") === docs.select("lang").distinct().count())
    assert(card.getAs[Long]("n_sources") === docs.select("source").distinct().count())
    // dup membership matches x1's per-hash counts; unique = x1's row count
    val x1df = run("x1_exact_dedup").cache()
    val dupFromX1 = x1df.filter(col("n_copies") > 1)
      .agg(coalesce(sum("n_copies"), lit(0L))).head.getLong(0)
    assert(card.getAs[Long]("n_dup_docs") === dupFromX1)
    assert(card.getAs[Long]("n_unique_docs") === x1df.count())
    x1df.unpersist()
    assert(card.getAs[Long]("lang_entropy_nanos") >= 0L)
    // entropy of a k-way mix is bounded by ln(k) (nano-scaled, +1 slack)
    val bound = math.round(math.log(card.getAs[Long]("n_langs").toDouble) * 1e9) + 1
    assert(card.getAs[Long]("lang_entropy_nanos") <= bound)
  }

  test("qs11: streamed clean-on-ingest enforces its own gate and flags exactly the planted PII") {
    val df = run("qs11_stream_clean_ingest").cache()
    assert(df.filter(col("n_tokens") < 20 || col("quality_score") < 0.5).isEmpty,
      "a document below the quality gate reached the sink")
    // the fixture plants PII on doc_id % 7 == 0 and the corpus has none
    // naturally, so the flag must match the planting rule exactly
    assert(df.filter(col("pii_found") =!= (col("doc_id") % 7 === 0)).isEmpty)
    df.unpersist()
  }

  test("q29: each user's grid is contiguous daily, fills are non-null, cum monotone") {
    val df = run("q29_gapfill_resample").cache()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("day")
    val stepped = df
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("prev_cum", lag(col("cum_spend"), 1).over(w))
    // grid has no holes: consecutive rows are exactly one day apart
    assert(stepped.filter(col("prev_day").isNotNull &&
      datediff(col("day"), col("prev_day")) =!= 1).isEmpty, "grid gap")
    // forward fill: first row of each user is a real (non-gap) day, so
    // spend_ffill is never null; running total never decreases
    assert(df.filter(col("spend_ffill").isNull).isEmpty)
    assert(stepped.filter(col("prev_cum").isNotNull && col("cum_spend") < col("prev_cum")).isEmpty)
    // gap days change neither the fill nor the running total
    val gaps = stepped.filter(col("is_gap") && col("prev_cum").isNotNull &&
      col("cum_spend") =!= col("prev_cum"))
    assert(gaps.isEmpty, "a gap day moved the running total")
    df.unpersist()
  }

  test("x37: SCD2 versions tile each customer's history with one open row") {
    val df = run("x37_scd2_merge").cache()
    val perKey = df.groupBy("custkey").agg(
      sum(when(col("is_current"), 1).otherwise(0)).as("n_open"),
      count(lit(1)).as("n_versions"),
      max(col("version")).as("max_v"), min(col("version")).as("min_v"))
    assert(perKey.filter(col("n_open") =!= 1).isEmpty, "each key needs exactly one open version")
    assert(perKey.filter(col("min_v") =!= 1 || col("max_v") =!= col("n_versions")).isEmpty,
      "versions must be the contiguous 1..n")
    // each closed version's valid_to equals the next version's valid_from,
    // and adjacent versions never share the same priority (else not a change)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("custkey").orderBy("version")
    val chained = df
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .withColumn("next_prio", lead(col("priority"), 1).over(w))
    assert(chained.filter(col("next_from").isNotNull &&
      col("valid_to") =!= col("next_from")).isEmpty, "broken validity chain")
    assert(chained.filter(col("next_prio").isNotNull &&
      col("next_prio") === col("priority")).isEmpty, "adjacent versions with equal attribute")
    df.unpersist()
  }

  test("x38: every vector lands in exactly one cluster and seeds stay populated") {
    val df = run("x38_kmeans_embed").cache()
    val n = graft.operators.Tables.embeddings(spark, sf).count()
    assert(df.count() === n, "one assignment per vector")
    assert(df.select("vec_id").distinct().count() === n)
    val sizes = df.groupBy("cluster").count()
    assert(sizes.count() === 8, "all 8 clusters survive the Lloyd round on this data")
    assert(df.filter(col("cos_sim") < -1.000001 || col("cos_sim") > 1.000001).isEmpty)
    df.unpersist()
  }

  test("x39: z-buckets partition the table and bound their members' keys") {
    val df = run("x39_zorder_layout").cache()
    val total = df.agg(sum("n_rows")).head.getLong(0)
    assert(total === graft.operators.Tables.lineitem(spark, sf).count(), "buckets must partition all rows")
    assert(df.filter(col("p_min") > col("p_max") || col("s_min") > col("s_max")).isEmpty)
    // the layout must actually skip: the 5% range predicate reads <40% of buckets
    val frac = df.filter(col("would_scan")).count().toDouble / df.count()
    assert(frac < 0.4, f"z-order layout prunes nothing (scan fraction $frac%.2f)")
    df.unpersist()
  }

  test("x41: bloom-prefiltered join equals the plain semi join exactly") {
    val plain = graft.operators.Tables.lineitem(spark, sf)
      .join(graft.operators.Tables.orders(spark, sf)
          .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").count()
      .orderBy("l_returnflag").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val bloomed = run("x41_bloom_join")
      .orderBy("l_returnflag").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(bloomed === plain, "bloom pre-filter changed the exact join result")
  }

  test("x46: projection is 16 scalar dims, deterministic, and roughly norm-preserving") {
    val df = run("x46_random_projection").cache()
    val pCols = (0 until 16).map(i => s"p$i")
    // all 16 scalar dims present (schema) and non-null long values
    assert(pCols.forall(df.columns.contains), "p0..p15 scalar columns missing")
    assert(df.filter(pCols.map(c => col(c).isNull).reduce(_ || _)).isEmpty)
    // proj_norm is exactly re-derivable from the scalar dims (same longs,
    // same sqrt, same rounding — bit-identical doubles)
    val sumSq = pCols.map(c => col(c) * col(c)).reduce(_ + _)
    val rederived = round(sqrt(sumSq.cast("double")) / 1e6, 6)
    assert(df.filter(rederived =!= col("proj_norm")).isEmpty,
      "proj_norm inconsistent with p0..p15")
    // deterministic: a second run produces the identical rows
    val again = run("x46_random_projection")
    assert(df.exceptAll(again).isEmpty && again.exceptAll(df).isEmpty)
    // JL with ±1 signs scales norms by ~sqrt(16) in expectation; check the
    // mean ratio is within a loose factor-2 band (it's a 16-dim sketch)
    val ratio = df
      .join(graft.operators.Tables.embeddings(spark, sf)
        .select(col("vec_id"), expr("sqrt(graft_dot(cast(embedding as array<double>), cast(embedding as array<double>)))").as("nrm")), "vec_id")
      .agg(avg(col("proj_norm") / (col("nrm") * math.sqrt(16)))).head.getDouble(0)
    assert(ratio > 0.5 && ratio < 2.0, f"norm preservation way off: $ratio%.3f")
    df.unpersist()
  }

  test("x42: each stratum yields exactly 20 winners with valid A-RES keys") {
    val df = run("x42_weighted_sample").cache()
    val perLang = df.groupBy("lang").agg(count(lit(1)).as("n"), max("rnk").as("hi"))
    assert(perLang.filter(col("n") =!= 20 || col("hi") =!= 20).isEmpty)
    // ln(u)/w with u in (0,1): keys are strictly negative
    assert(df.filter(col("skey") >= 0).isEmpty)
    // content-addressed: a rerun reproduces the identical sample
    val again = run("x42_weighted_sample")
    assert(df.exceptAll(again).isEmpty && again.exceptAll(df).isEmpty)
    df.unpersist()
  }

  test("x43: conditional probabilities are consistent with their unigram denominators") {
    val df = run("x43_bigram_lm").cache()
    assert(df.filter(col("cond_p") <= 0 || col("cond_p") > 1 || col("c12") > col("c1")).isEmpty)
    // the emitted (≥5) bigrams of a w1 can never sum past its unigram count
    val sums = df.groupBy("w1").agg(sum("c12").as("s"), max("c1").as("c1"), min("c1").as("c1lo"))
    assert(sums.filter(col("s") > col("c1") || col("c1") =!= col("c1lo")).isEmpty)
    df.unpersist()
  }

  test("x45: exemplars are 5 per cluster and agree with the x38 assignment") {
    val ex = run("x45_cluster_exemplars").cache()
    val perCluster = ex.groupBy("cluster").agg(count(lit(1)).as("n"))
    assert(perCluster.filter(col("n") =!= 5).isEmpty)
    val joined = ex.select(col("vec_id"), col("cluster").as("ex_cluster"))
      .join(run("x38_kmeans_embed"), "vec_id")
    assert(joined.filter(col("ex_cluster") =!= col("cluster")).isEmpty,
      "an exemplar was attributed to a cluster it isn't assigned to")
    ex.unpersist()
  }

  test("qs12: streamed SCD2 emissions equal the batch x37's closed versions") {
    val streamed = run("qs12_stream_scd2")
      .orderBy("custkey", "version").collect().toSeq
    val batch = run("x37_scd2_merge")
      .filter(!col("is_current"))
      .select("custkey", "version", "priority", "valid_from", "valid_to", "n_orders")
      .orderBy("custkey", "version").collect().toSeq
    assert(streamed === batch)
  }

  test("x47: 5 draws per cluster, every draw is a member of its cluster") {
    val df = run("x47_cluster_balanced_sample").cache()
    assert(df.groupBy("cluster").count().filter(col("count") =!= 5).isEmpty)
    val joined = df.select(col("doc_id").as("vec_id"), col("cluster").as("s_cluster"))
      .join(run("x38_kmeans_embed"), "vec_id")
    assert(joined.filter(col("s_cluster") =!= col("cluster")).isEmpty)
    df.unpersist()
  }

  test("x44: TextRank mass stays in (0, 1] per node and ranks tile 1..n") {
    val df = run("x44_textrank").cache()
    assert(df.filter(col("pr_nano") <= 0).isEmpty, "a node lost all rank mass")
    val n = df.count()
    assert(df.agg(min("rnk")).head.getInt(0) === 1 &&
      df.agg(max("rnk")).head.getInt(0) === n)
    // simplified PR without dangling redistribution can only LOSE mass:
    // total ≤ 1e9 nanos (and well above the floor 0.15); the half-up pico
    // quantization can add < 1 nano per node over the exact real sum
    val total = df.agg(sum(col("pr_nano"))).head.getLong(0)
    assert(total <= 1000000000L + n && total >= 150000000L, s"total rank mass $total")
    df.unpersist()
  }

  test("x44: cap-0 shuffle fallback is output-identical to the broadcast path") {
    def rows() = run("x44_textrank").collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("pr_nano"), r.getAs[Int]("rnk"))).toSet
    val viaBroadcast = rows()
    spark.conf.set("spark.graft.textrank.broadcastVocabCap", "0")
    try assert(rows() === viaBroadcast,
      "shuffle-join fallback diverged from the broadcast path")
    finally spark.conf.unset("spark.graft.textrank.broadcastVocabCap")
  }

  test("x48: z-scores are standardized per cluster and flags match the rule") {
    val df = run("x48_semantic_outliers").cache()
    assert(df.filter(col("is_outlier") =!= (col("z") <= -2.0)).isEmpty)
    // per-cluster mean of z must be ~0 (it's (x - mean)/sd over the cluster)
    val worst = df.groupBy("cluster").agg(abs(avg("z")).as("m"))
      .agg(max("m")).head.getDouble(0)
    assert(worst < 1e-3, s"per-cluster z means not centered: $worst")
    df.unpersist()
  }

  test("q30: the SQL-text interface agrees with the DataFrame API on the same plan") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val viaSql = run("q30_sql_interface").orderBy("rnk").collect().toSeq
    val viaDf = graft.operators.Tables.orders(spark, sf)
      .join(graft.operators.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .join(graft.operators.Tables.apply(spark, sf, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("total"))
      .select(col("n_name"), round(col("total").cast(DoubleType), 2).as("total_price"),
        rank().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("total").desc, col("n_name").asc)).cast("int").as("rnk"))
      .orderBy("rnk").collect().toSeq
    assert(viaSql === viaDf)
  }

  test("qs13: outer-join attributed rows equal qs6's inner join exactly") {
    val outer = run("qs13_stream_outer_join").cache()
    val attributed = outer.filter(col("attributed"))
      .select("click_id", "purchase_id", "user_id")
      .orderBy("click_id", "purchase_id").collect().toSeq
    val inner = run("qs6_stream_stream_join")
      .select("click_id", "purchase_id", "user_id")
      .orderBy("click_id", "purchase_id").collect().toSeq
    assert(attributed === inner)
    // null-extended rows really are null-extended, and only they are
    assert(outer.filter(col("attributed") && col("purchase_id").isNull).isEmpty)
    assert(outer.filter(!col("attributed") && col("purchase_id").isNotNull).isEmpty)
    outer.unpersist()
  }

  test("q31: the funnel only narrows and rates divide exactly") {
    val rows = run("q31_funnel").orderBy("step_no").collect()
    assert(rows.length === 3)
    val ns = rows.map(_.getAs[Long]("n_users"))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2), s"funnel widened: ${ns.mkString(",")}")
    val top = ns(0).toDouble
    rows.foreach { r =>
      val expected = BigDecimal(r.getAs[Long]("n_users") / top)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("conv_from_top") === expected)
    }
  }

  test("x49: exactly the delta is routed, to clusters the index model defines") {
    val df = run("x49_delta_cluster_assign").cache()
    val deltaN = graft.operators.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 0).count()
    assert(df.count() === deltaN, "every arrival routed exactly once")
    assert(df.filter(col("vec_id") % 10 =!= 0).isEmpty, "an index vector leaked into the delta")
    assert(df.filter(col("cluster") < 1 || col("cluster") > 8).isEmpty)
    df.unpersist()
  }

  test("x50: buckets are equi-depth (within tie slack) and bounds nest the cuts") {
    val df = run("x50_equidepth_histogram").cache()
    val rows = df.orderBy("bucket").collect()
    assert(rows.length === 8)
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    // equal depth up to ties on 2-decimal prices: each bucket within ±20% of n/8
    rows.foreach { r =>
      val n = r.getAs[Long]("n_rows").toDouble
      assert(math.abs(n - total / 8.0) <= total / 8.0 * 0.2,
        s"bucket ${r.getAs[Int]("bucket")} depth $n vs ${total / 8.0}")
    }
    // buckets are ordered, non-overlapping ranges
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"), "bucket ranges overlap")
    }
    df.unpersist()
  }

  test("q33: the audit is green on clean data and detects an injected orphan") {
    val clean = run("q33_integrity_audit")
    assert(clean.filter(col("n_orphans") =!= 0).isEmpty, "clean fixtures must audit green")
    // corrupt a copy: remap one order's custkey to an id that cannot exist,
    // then run the same anti-join shape — the audit must catch exactly it
    val orders = graft.operators.Tables.orders(spark, sf)
      .withColumn("o_custkey",
        when(col("o_orderkey") === 7, lit(-999L)).otherwise(col("o_custkey")))
    val orphans = orders.select(col("o_custkey"))
      .join(graft.operators.Tables.customer(spark, sf).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .count()
    assert(orphans === 1L, s"injected orphan not detected (got $orphans)")
  }

  test("q34: rolling windows warm up 1..7 then stay at 7; volatility of constants is ~0") {
    val df = run("q34_rolling_stats").cache()
    assert(df.filter(col("n_days") < 1 || col("n_days") > 7).isEmpty)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("day")
    val warm = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 7 && col("n_days") =!= col("rn"))
    assert(warm.isEmpty, "warm-up frame width must equal the row's position")
    assert(df.filter(col("roll_std") < 0).isEmpty)
    df.unpersist()
  }

  test("x53: exactly the corrupted rows are imputed, with their group's median") {
    val df = run("x53_imputation").cache()
    assert(df.filter(col("imputed") =!= (col("event_id") % 13 === 0)).isEmpty)
    assert(df.filter(col("value_filled").isNull).isEmpty, "imputation left a null behind")
    assert(df.filter(col("imputed") && col("value_filled") =!= col("group_median")).isEmpty)
    // the median really is a median: within each group, at least half the
    // surviving values sit at or below it
    val check = df.filter(!col("imputed")).groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(when(col("value_filled") <= col("group_median"), 1).otherwise(0)).as("le"))
    assert(check.filter(col("le") * 2 < col("n")).isEmpty, "group median not a median")
    df.unpersist()
  }

  test("x54: splits cover every doc disjointly at roughly 80/10/10") {
    val df = run("x54_split_manifest").cache()
    val total = df.agg(sum("n_docs")).head.getLong(0)
    assert(total === graft.operators.Tables.documents(spark, sf).count(),
      "splits must partition the corpus")
    val bySplit = df.groupBy("split").agg(sum("n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    // hash buckets approximate the quota; at 500 docs allow a wide band
    assert(bySplit("train").toDouble / total > 0.7 && bySplit("train").toDouble / total < 0.9)
    // integer micro-shares sum to 10⁶ within each split, up to the floor
    // division's per-language remainder (< 1 micro each)
    val sums = df.groupBy("split").agg(sum("share_ppm").as("s"), count(lit(1)).as("k"))
    assert(sums.filter(col("s") > 1000000L || col("s") <= lit(1000000L) - col("k")).isEmpty)
    df.unpersist()
  }

  test("minLabelComponents: 64-link chain converges in O(log) rounds, correct labels") {
    // a single path 1-2-...-64: the worst case for plain min-label
    // propagation (63 rounds); pointer jumping must close it in ≤ 10
    val n = 64
    val fwd = spark.range(1, n).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val (labels, rounds) = Queries.minLabelComponents(edges)
    assert(rounds <= 10, s"expected O(log n) rounds, got $rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === n)
    assert(got.values.forall(_ == 1L), "every node must take the component min label")
  }

  test("x65: NLL arithmetic is exact-integer and the keep gate matches its columns") {
    val df = run("x65_lm_quality_filter").cache()
    assert(df.count() > 0)
    assert(df.filter(col("nll_nanos") < 0 || col("n_modeled") > col("n_bigrams") ||
      col("coverage_ppm") < 0 || col("coverage_ppm") > 1000000L).isEmpty,
      "counts and quantized sums must be consistent")
    // keep is exactly its definition — no drift between the flag and columns
    val drift = df.filter(col("keep") =!=
      coalesce(col("coverage_ppm") >= 950000L && col("mean_nll_micros") <= 3400000L, lit(false)))
    assert(drift.isEmpty, drift.collect().mkString("\n"))
    assert(run("x65_lm_quality_filter").collect().toSet === df.collect().toSet, "rerun diverged")
    df.unpersist()
  }

  test("x66: chunks tile each document with stride 48 and cover its full length") {
    val df = run("x66_chunk_manifest").cache()
    assert(df.filter(col("start_tok") =!= col("chunk_idx") * 48 ||
      col("chunk_len") < 1 || col("chunk_len") > 64).isEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
    val cover = df.groupBy("doc_id").agg(
      max(col("start_tok") + col("chunk_len")).as("covered"),
      count(lit(1)).as("k"), max("chunk_idx").as("last_idx"))
    val bad = cover.join(docs, "doc_id")
      .filter(col("covered") =!= col("n_tokens") || col("last_idx") =!= col("k") - 1)
    assert(bad.isEmpty, "every doc must be fully covered by contiguous chunk indexes")
    assert(cover.count() === docs.count(), "every document must produce chunks")
    df.unpersist()
  }

  test("x67: 16 shards partition the corpus and token totals balance") {
    val df = run("x67_shard_planner").cache()
    assert(df.select("shard").collect().map(_.getInt(0)).toSet === (0 until 16).toSet)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val Seq(nDocs, totTok) =
      docs.agg(count(lit(1)), sum("n_tokens")).head().toSeq.map(_.asInstanceOf[Long]).toSeq
    val agg = df.agg(sum("n_docs"), sum("total_tokens"),
      max("total_tokens") - min("total_tokens")).head()
    assert(agg.getLong(0) === nDocs && agg.getLong(1) === totTok,
      "shards must partition the corpus exactly")
    val maxDoc = docs.agg(max("n_tokens")).head().getLong(0)
    assert(agg.getLong(2) <= maxDoc,
      s"snake order bounds the shard spread by one document (spread ${agg.getLong(2)}, max doc $maxDoc)")
    df.unpersist()
  }

  test("x68: prefix groups are non-vacuous and consistent with exact duplicates") {
    val df = run("x68_boilerplate_prefix").cache()
    assert(df.count() > 0, "synthetic corpus has exact dups, so prefix groups must exist")
    assert(df.filter(col("n_docs") < 2 || col("n_sources") > col("n_docs")).isEmpty)
    // every doc in an exact-duplicate group (x1) shares its first 12
    // tokens with its copies by definition, so it must land in SOME
    // prefix group — x68's covered-doc total is bounded below by x1's
    val dupDocs = run("x1_exact_dedup").filter(col("n_copies") >= 2)
      .agg(coalesce(sum("n_copies"), lit(0L))).head().getLong(0)
    val prefixDocs = df.agg(sum("n_docs")).head().getLong(0)
    assert(prefixDocs >= dupDocs,
      s"prefix groups cover $prefixDocs docs but exact dups alone cover $dupDocs")
    df.unpersist()
  }

  test("x69: collocations are count-consistent, ranked by PMI, and deterministic") {
    val rows = run("x69_pmi_collocations").collect().toSeq
    assert(rows.nonEmpty && rows.size <= 100)
    assert(rows.forall { r =>
      val (c12, c1, c2) = (r.getLong(2), r.getLong(3), r.getLong(4))
      c12 >= 10 && c1 >= c12 && c2 >= c12
    }, "marginals must dominate the pair count")
    val pmis = rows.map(_.getLong(5))
    assert(pmis === pmis.sorted.reverse, "output must be ranked by PMI desc")
    assert(run("x69_pmi_collocations").collect().toSeq === rows, "rerun diverged")
  }

  test("x70: cohesion audit covers every label exactly and its margin arithmetic holds") {
    val df = run("x70_label_cohesion").cache()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(df.agg(sum("n_vecs")).head().getLong(0) === emb.count(),
      "every vector must be audited under exactly one label")
    assert(df.select("label").collect().map(_.getInt(0)).toSet ===
      emb.select("label").distinct().collect().map(_.getInt(0)).toSet)
    val bad = df.filter(col("cohesion") < -1 || col("cohesion") > 1 ||
      col("min_cos") > col("cohesion") ||
      col("margin") =!= round(col("cohesion") - col("separation"), 6))
    assert(bad.isEmpty, bad.collect().mkString("\n"))
    assert(run("x70_label_cohesion").collect().toSet === df.collect().toSet, "rerun diverged")
    df.unpersist()
  }

  test("x40: phases are the fixed bins and positions tile each phase 1..n") {
    val df = run("x40_curriculum").cache()
    assert(df.filter(
      (col("n_tokens") < 40 && col("phase") =!= 1) ||
      (col("n_tokens") >= 40 && col("n_tokens") < 60 && col("phase") =!= 2) ||
      (col("n_tokens") >= 60 && col("n_tokens") < 80 && col("phase") =!= 3) ||
      (col("n_tokens") >= 80 && col("phase") =!= 4)).isEmpty)
    val perPhase = df.groupBy("phase").agg(
      count(lit(1)).as("n"), min("pos_in_phase").as("lo"), max("pos_in_phase").as("hi"))
    assert(perPhase.filter(col("lo") =!= 1 || col("hi") =!= col("n")).isEmpty,
      "pos_in_phase must be the contiguous 1..n per phase")
    df.unpersist()
  }

  test("x71: CDC chunks tile each document and every cut sits on a boundary token") {
    val df = run("x71_cdc_chunking").cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    // contiguous tiling: chunk i+1 starts where chunk i ends, first at 0,
    // last ends at the token count
    val cover = df.groupBy("doc_id").agg(
      min("start_tok").as("first"), max(col("start_tok") + col("chunk_len")).as("covered"),
      sum("chunk_len").as("len_sum"), count(lit(1)).as("k"), max("chunk_idx").as("last_idx"))
    val bad = cover.join(docs.select(col("doc_id"), size(col("tk")).as("n")), "doc_id")
      .filter(col("first") =!= 0 || col("covered") =!= col("n") ||
        col("len_sum") =!= col("n") || col("last_idx") =!= col("k") - 1)
    assert(bad.isEmpty, "CDC chunks must tile each document contiguously")
    assert(cover.count() === docs.count(), "every document must produce chunks")
    // content rule: every non-final chunk's LAST token is in the md5 cut
    // class, and no interior token of any chunk is — re-derived from text
    val withTk = df.join(docs, "doc_id")
      .withColumn("lastTok", expr("element_at(tk, start_tok + chunk_len)"))
      .withColumn("endsDoc", col("start_tok") + col("chunk_len") === size(col("tk")))
    val ruleBad = withTk.filter(!col("endsDoc") &&
      expr("pmod(cast(conv(substring(md5(lastTok), 1, 4), 16, 10) as bigint), 32)") =!= 0)
    assert(ruleBad.isEmpty, "every non-final chunk must end on a boundary token")
    val interiorBad = withTk
      .withColumn("inner", expr("slice(tk, start_tok + 1, chunk_len - 1)"))
      .filter(expr("exists(inner, t -> pmod(cast(conv(substring(md5(t), 1, 4), 16, 10) as bigint), 32) = 0)"))
    assert(interiorBad.isEmpty, "no chunk may contain an interior boundary token")
    df.unpersist()
  }

  test("x72: waterfill allocates exactly the budget, max-min fair, never over avail") {
    val df = run("x72_mixture_waterfill").cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val total = docs.select(size(split(col("text"), " ")).cast("long").as("nt"))
      .agg(sum("nt")).head().getLong(0)
    assert(df.agg(sum("alloc_tokens")).head().getLong(0) === total / 2,
      "allocations must sum to the budget EXACTLY")
    assert(df.filter(col("alloc_tokens") > col("avail_tokens") ||
      col("alloc_tokens") < 0).isEmpty, "no source may exceed its availability")
    assert(df.filter(col("capped") && col("alloc_tokens") =!= col("avail_tokens")).isEmpty,
      "capped sources keep everything they have")
    val un = df.filter(!col("capped"))
      .agg(max("alloc_tokens").as("hi"), min("alloc_tokens").as("lo")).head()
    assert(un.getLong(0) - un.getLong(1) <= 1,
      "uncapped sources sit within one token of the common water level")
    // max-min fairness: every capped source's whole holding is below the level
    val capMax = df.filter(col("capped")).agg(coalesce(max("avail_tokens"), lit(0L))).head().getLong(0)
    assert(capMax <= un.getLong(1),
      "a capped source must hold no more than the water level")
    df.unpersist()
  }

  test("x73: 64 audited dims, equal counts, shares sum to ~1e6, variance sane") {
    val df = run("x73_embedding_audit").cache()
    assert(df.select("dim").collect().map(_.getInt(0)).toSet === (0 until 64).toSet)
    assert(df.select("n").distinct().count() === 1, "every dim sees every vector")
    assert(df.filter(col("variance") < 0).isEmpty, "variance is non-negative")
    val shareSum = df.agg(sum("var_share_ppm")).head().getLong(0)
    assert(shareSum > 1000000L - 64 && shareSum <= 1000000L,
      s"floor'd ppm shares must sum to within 64 of 1e6 (got $shareSum)")
    assert(run("x73_embedding_audit").collect().toSet === df.collect().toSet, "rerun diverged")
    df.unpersist()
  }

  test("x74: novelty is bounded, the earliest doc is fully novel, and n_spans matches x34") {
    val df = run("x74_span_novelty").cache()
    assert(df.filter(col("novelty_ppm") < 0 || col("novelty_ppm") > 1000000 ||
      col("n_seen_before") > col("n_spans")).isEmpty)
    val firstDoc = df.agg(min("doc_id")).head().getLong(0)
    assert(df.filter(col("doc_id") === firstDoc).head().getAs[Long]("novelty_ppm") === 1000000L,
      "the earliest document has nothing before it — 100% novel")
    // same shingle kernel as x34: per-doc span counts must agree exactly
    val x34n = run("x34_span_dup").select(col("doc_id"), col("n_spans").as("m"))
    assert(df.join(x34n, "doc_id").filter(col("n_spans") =!= col("m")).isEmpty,
      "x74 and x34 must count identical distinct-span sets")
    df.unpersist()
  }

  test("x75: sessions partition the log, are contiguous per user, and split on >30min gaps") {
    val df = run("x75_session_stats").cache()
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    assert(df.agg(sum("n_events")).head().getLong(0) === nEvents,
      "sessions must partition the event log exactly")
    assert(df.filter(col("duration_us") < 0 || col("n_event_types") > col("n_events") ||
      col("end_us") < col("start_us")).isEmpty)
    // contiguity: per user, session_idx is exactly 1..k
    val perUser = df.groupBy("user_id").agg(
      min("session_idx").as("lo"), max("session_idx").as("hi"), count(lit(1)).as("k"))
    assert(perUser.filter(col("lo") =!= 1 || col("hi") =!= col("k")).isEmpty,
      "session_idx must be contiguous 1..k per user")
    // the defining invariant: consecutive sessions of a user are separated
    // by MORE than 30 minutes (otherwise they'd be one session)
    val wU = Window.partitionBy("user_id").orderBy("session_idx")
    val gaps = df.withColumn("prev_end", lag(col("end_us"), 1).over(wU))
      .filter(col("prev_end").isNotNull)
    assert(gaps.filter(col("start_us") - col("prev_end") <= 1800000000L).isEmpty,
      "adjacent sessions must sit more than 30 minutes apart")
    df.unpersist()
  }

  test("x76: packing covers every token once, all interior sequences exactly full") {
    val df = run("x76_pack_manifest").cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      .filter(col("nt") > 0)
    val total = docs.agg(sum("nt")).head().getLong(0)
    // per-document conservation + contiguous in-doc offsets
    val perDoc = df.groupBy("doc_id").agg(
      sum("n_tokens").as("covered"), min("tok_offset").as("first"),
      max(col("tok_offset") + col("n_tokens")).as("last"))
    val bad = perDoc.join(docs, "doc_id")
      .filter(col("covered") =!= col("nt") || col("first") =!= 0 || col("last") =!= col("nt"))
    assert(bad.isEmpty, "each document's segments must tile it exactly")
    assert(perDoc.count() === docs.count())
    // per-sequence: every sequence except the last is exactly 2048 tokens
    val perSeq = df.groupBy("seq_id").agg(sum("n_tokens").as("fill")).cache()
    val maxSeq = perSeq.agg(max("seq_id")).head().getLong(0)
    assert(maxSeq === (total - 1) / 2048, "sequence count must match ceil(total/2048)")
    assert(perSeq.filter(col("seq_id") < maxSeq && col("fill") =!= 2048).isEmpty,
      "every interior sequence must be exactly full")
    val lastFill = perSeq.filter(col("seq_id") === maxSeq).select("fill").head().getLong(0)
    assert(lastFill === total - maxSeq * 2048, "the tail sequence holds the remainder")
    perSeq.unpersist(); df.unpersist()
  }

  test("x78: coverage curve is monotone, exhaustive at the tail, and ppm-consistent") {
    val df = run("x78_vocab_coverage").cache()
    assert(df.count() === 7)
    assert(df.filter(col("coverage_ppm") + col("oov_ppm") =!= 1000000L).isEmpty)
    assert(df.filter(col("vocab_used") > col("vocab_size")).isEmpty)
    // more vocab never covers less
    val rows = df.orderBy("vocab_size").collect()
    assert(rows.sliding(2).forall(p =>
      p(1).getAs[Long]("coverage_ppm") >= p(0).getAs[Long]("coverage_ppm") &&
      p(1).getAs[Long]("vocab_used") >= p(0).getAs[Long]("vocab_used")))
    // once the whole vocabulary fits under the size cap, coverage is total
    assert(df.filter(col("vocab_used") < col("vocab_size") &&
      col("coverage_ppm") =!= 1000000L).isEmpty,
      "an unexhausted size cap means every type is in — coverage must be 1e6 ppm")
    df.unpersist()
  }

  test("x79: KS drift is bounded, one row per source, and zero against itself") {
    val df = run("x79_length_drift_ks").cache()
    val srcs = spark.read.parquet(s"$sf/documents.parquet").select("source").distinct()
    assert(df.count() === srcs.count())
    assert(df.filter(col("ks_ppm") < 0 || col("ks_ppm") > 1000000L).isEmpty)
    assert(df.agg(sum("n_docs")).head().getLong(0) ===
      spark.read.parquet(s"$sf/documents.parquet").count())
    // self-check: a source holding the WHOLE corpus would have KS = 0; the
    // per-source sup can only exceed the trivial bound when its CDF differs
    // somewhere, so at least one real source must show nonzero drift
    assert(df.filter(col("ks_ppm") > 0).count() >= 1)
    assert(run("x79_length_drift_ks").collect().toSet === df.collect().toSet, "rerun diverged")
    df.unpersist()
  }

  test("x77: pagerank keeps the damping floor, bounded mass, x17's node set, determinism") {
    val df = run("x77_dup_pagerank").cache()
    // every node holds at least the teleport mass; floor-division only
    // loses mass, so the total sits in [n*150000, n*1e6]
    assert(df.filter(col("rank_micro") < 150000L || col("degree") < 1).isEmpty)
    val n = df.count()
    val tot = df.agg(sum("rank_micro")).head().getLong(0)
    assert(tot >= n * 150000L && tot <= n * 1000000L,
      s"rank mass out of bounds: $tot for $n nodes")
    // same graph as x17: the ranked node set IS the clustered doc set
    val cc = run("x17_dedup_clusters").select("doc_id")
    assert(df.select("doc_id").exceptAll(cc).isEmpty &&
      cc.exceptAll(df.select("doc_id")).isEmpty,
      "pagerank must rank exactly the near-dup-graph nodes")
    assert(run("x77_dup_pagerank").collect().toSet === df.collect().toSet, "rerun diverged")
    df.unpersist()
  }

  test("x80: four distinct merges, symbol totals strictly shrink, new_sym concatenates") {
    val rows = run("x80_bpe_merges").orderBy("rnd").collect()
    assert(rows.length === 4)
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2, 3, 4))
    // each applied merge removes pair_count symbols from the corpus total
    // is an over-claim (overlaps merge fewer) — but SOME must merge, so
    // the total strictly decreases each round
    val totals = rows.map(_.getAs[Long]("corpus_syms"))
    assert(totals.zip(totals.tail).forall { case (a, b) => b < a },
      s"corpus symbol total must shrink every round: ${totals.mkString(",")}")
    rows.foreach { r =>
      assert(r.getAs[String]("new_sym") ===
        r.getAs[String]("lhs") + r.getAs[String]("rhs"))
      assert(r.getAs[Long]("pair_count") > 0L)
    }
    // greedy can't merge more than pair_count occurrences, and merges at
    // least pair_count/2 (overlapping runs halve it)
    rows.zipWithIndex.foreach { case (r, i) =>
      val before = if (i == 0) None else Some(totals(i - 1))
      before.foreach { b =>
        val removed = b - totals(i)
        val pc = r.getAs[Long]("pair_count")
        assert(removed <= pc && removed * 2 >= pc,
          s"round ${i + 1}: removed $removed vs pair_count $pc")
      }
    }
    // the four rules are distinct pairs
    assert(rows.map(r => (r.getString(1), r.getString(2))).distinct.length === 4)
    assert(run("x80_bpe_merges").collect().toSet === rows.toSet, "rerun diverged")
  }

  test("x81: a 64-dim unit-max direction, deterministic, and actually dominant") {
    val df = run("x81_principal_direction").cache()
    val rows = df.orderBy("dim").collect()
    assert(rows.length === 64)
    assert(rows.map(_.getInt(0)).toSeq === (0 until 64))
    val comps = rows.map(_.getAs[Long]("v_micro"))
    // max-norm scaling pins the largest |component| at exactly 1e6
    assert(comps.map(math.abs).max === 1000000L)
    assert(comps.forall(c => math.abs(c) <= 1000000L))
    // dominance check: the Rayleigh quotient of the returned direction
    // must beat a coordinate axis's by a wide margin on anisotropic data
    // (cheap float check, not part of the exactness contract)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val v = comps.map(_.toDouble / 1e6)
    def rayleigh(dir: Array[Double]): Double = {
      val n2 = dir.map(x => x * x).sum
      vecs.map(x => { val d = x.zip(dir).map { case (a, b) => a * b }.sum; d * d }).sum / n2
    }
    val rv = rayleigh(v)
    val axes = (0 until 64).map(d => rayleigh(Array.tabulate(64)(i => if (i == d) 1.0 else 0.0)))
    assert(rv >= axes.max,
      s"power-iteration direction ($rv) must dominate every axis (max ${axes.max})")
    assert(run("x81_principal_direction").collect().toSet === df.collect().toSet, "rerun diverged")
    df.unpersist()
  }

  test("x82: 200 unique docs, ranks contiguous, selection leans toward the target slice") {
    val df = run("x82_dsir_select").cache()
    val rows = df.orderBy("sel_rank").collect()
    assert(rows.length === 200)
    assert(rows.map(_.getInt(0)).toSeq === (1 to 200))
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length === 200)
    // gkey is non-increasing down the ranking (the Gumbel-top-k order)
    val keys = rows.map(_.getAs[Double]("gkey"))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
    // importance resampling toward lang='en' must over-represent it vs
    // the corpus base rate (the entire point of DSIR)
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val baseEn = base.filter(col("lang") === "en").count().toDouble / base.count()
    val selEn = rows.count(_.getAs[String]("lang") == "en").toDouble / 200
    assert(selEn > baseEn, s"selected en rate $selEn must exceed base rate $baseEn")
    assert(run("x82_dsir_select").collect().toSet === df.collect().toSet, "rerun diverged")
    df.unpersist()
  }

  test("x84: whitened space is orthogonal to the removed direction and re-ranks vs x6") {
    val df = run("x84_whitened_ann").cache()
    assert(df.count() === 50) // 5 queries × top-10
    // the removed direction must be (numerically) gone: whiten a few
    // vectors by the same formula and check ⟨w, u⟩ ≈ 0
    val u = run("x81_principal_direction").orderBy("dim").collect()
      .map(_.getAs[Long]("v_micro").toDouble / 1e6)
    val uu = u.map(x => x * x).sum
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("embedding").limit(20).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    vecs.foreach { v =>
      val t = v.zip(u).map { case (a, b) => a * b }.sum / uu
      val w = v.zip(u).map { case (a, b) => a - t * b }
      val resid = math.abs(w.zip(u).map { case (a, b) => a * b }.sum)
      assert(resid < 1e-9, s"residual projection $resid after whitening")
    }
    // whitening must actually change the ranking on anisotropic data
    val x6r = run("x6_ann_bruteforce").select("query_id", "vec_id", "rnk").collect().toSet
    val x84r = df.select("query_id", "vec_id", "rnk").collect().toSet
    assert(x6r !== x84r, "whitened top-k identical to raw top-k — direction removal did nothing")
    assert(run("x84_whitened_ann").collect().toSet === df.collect().toSet, "rerun diverged")
    df.unpersist()
  }

  test("x85: merged partials equal a direct full-scan aggregation exactly") {
    val df = run("x85_incremental_stats")
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
    val j = df.join(direct.withColumnRenamed("n_docs", "dn")
      .withColumnRenamed("total_chars", "dt")
      .withColumnRenamed("min_chars", "dmin")
      .withColumnRenamed("max_chars", "dmax"), "lang")
    assert(j.count() === df.count())
    assert(j.filter(col("n_docs") =!= col("dn") || col("total_chars") =!= col("dt") ||
      col("min_chars") =!= col("dmin") || col("max_chars") =!= col("dmax")).isEmpty,
      "monoid merge diverged from the direct aggregation")
  }

  test("x86: regression is sane — r2 in [0,1], slope near chars-per-token inverse, residual-free on synthetic line") {
    val df = run("x86_source_regression").cache()
    assert(df.count() === 20) // one row per source
    assert(df.filter(col("r2") < 0 || col("r2") > 1).isEmpty)
    // tokens grow with length: every source's slope is positive and the
    // fit on this corpus (tokens ~ chars/avg_word_len) is strong
    assert(df.filter(col("slope") <= 0).isEmpty)
    assert(df.filter(col("r2") < 0.9).isEmpty, "token-vs-chars fit should be near-linear")
    // closed-form check on a hand-built exact line y = 2x + 1
    val sqlc = spark
    import sqlc.implicits._
    val line = Seq((1L, 3L), (2L, 5L), (3L, 7L), (4L, 9L)).toDF("x", "y")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")).as("slope"))
      .head().getDouble(0)
    assert(line === 2.0)
    df.unpersist()
  }

  test("x87: one-row fit, r2 in [0,1], exponent positive (frequencies fall with rank)") {
    val df = run("x87_zipf_fit")
    val r = df.head()
    assert(df.count() === 1)
    assert(r.getAs[Long]("vocab_used") > 0)
    val r2 = r.getAs[Double]("r2")
    assert(r2 >= 0 && r2 <= 1)
    // rank ordering is by frequency desc, so the log-log slope is
    // necessarily negative → the emitted exponent positive
    assert(r.getAs[Double]("zipf_exponent") > 0)
  }

  test("x88: one row per vector; drops imply dups; pair mass is even; winners survive") {
    val df = run("x88_semdedup").cache()
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(df.count() === nVecs)
    assert(df.select("vec_id").distinct().count() === nVecs)
    // a dropped vector must have at least one over-threshold neighbor
    assert(df.filter(col("dropped") && col("n_dups") === 0L).isEmpty)
    // Σ n_dups counts each pair twice — even and (on this data) nonzero
    val mass = df.agg(sum("n_dups")).head().getLong(0)
    assert(mass > 0 && mass % 2 === 0, s"pair mass $mass")
    // the rule drops ONE member per pair, so dropped < vectors-with-dups
    val withDups = df.filter(col("n_dups") > 0).count()
    val dropped = df.filter(col("dropped")).count()
    assert(dropped > 0 && dropped < withDups)
    assert(run("x88_semdedup").collect().toSet === df.collect().toSet, "rerun diverged")
    df.unpersist()
  }

  test("x89: the size profile partitions the corpus exactly and matches x17's components") {
    val df = run("x89_dup_size_profile").cache()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    // Σ n_docs over the table = the whole corpus (clustered + singletons)
    assert(df.agg(sum("n_docs")).head().getLong(0) === nDocs)
    // internal consistency per row
    assert(df.filter(col("n_docs") =!= col("cluster_size") * col("n_clusters")).isEmpty)
    assert(df.filter(col("removable") =!= (col("cluster_size") - 1) * col("n_clusters")).isEmpty)
    // multi-doc rows must reconcile with x17's cluster count
    val x17n = run("x17_dedup_clusters").select("cluster_id").distinct().count()
    assert(df.filter(col("cluster_size") >= 2).agg(sum("n_clusters")).head().getLong(0) === x17n)
    // no size-0 rows, one size-1 row
    assert(df.filter(col("cluster_size") < 1).isEmpty)
    assert(df.filter(col("cluster_size") === 1).count() === 1)
    df.unpersist()
  }

  test("x90: encode reconciles with x10's word counts and x80's final corpus total") {
    val df = run("x90_bpe_encode").cache()
    // every document is encoded, none twice
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(df.count() === nDocs && df.select("doc_id").distinct().count() === nDocs)
    // n_words is exactly the whitespace tokenization x10 reports
    val joined = df.join(run("x10_token_count"), "doc_id")
    assert(joined.filter(col("n_words") =!= col("ws_tokens")).isEmpty,
      "encoder word count diverged from x10's whitespace tokens")
    // merges only ever shrink a word, never below 1 symbol: per doc,
    // n_words <= bpe_tokens <= characters-without-spaces
    assert(df.filter(col("bpe_tokens") < col("n_words")).isEmpty)
    assert(joined.filter(col("bpe_tokens") > col("len_chars")).isEmpty)
    // fertility is the exact integer ratio in micros
    assert(df.filter(
      col("fertility_micro") =!= expr("(bpe_tokens * 1000000) div n_words")).isEmpty)
    // THE reconciliation law: Σ bpe_tokens over docs = x80's corpus symbol
    // total after round 4 (the trained table and the encoder agree on the
    // whole corpus, not just per word)
    val afterR4 = run("x80_bpe_merges").orderBy(col("rnd").desc)
      .select("corpus_syms").head().getLong(0)
    assert(df.agg(sum("bpe_tokens")).head().getLong(0) === afterR4,
      "encoded corpus total != trained corpus symbol total")
    assert(run("x90_bpe_encode").collect().toSet === df.collect().toSet, "rerun diverged")
    df.unpersist()
  }

  test("x96: the per-source economics roll up exactly from x90's per-doc encode") {
    val df = run("x96_bpe_compression").cache()
    // one row per source, every source present
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(df.count() === docs.select("source").distinct().count())
    // token totals = x90's per-doc totals grouped by source
    val fromX90 = run("x90_bpe_encode")
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(sum("bpe_tokens").as("expect_tokens"), sum("n_words").as("expect_words"))
    val j = df.join(fromX90, "source")
    assert(j.count() === df.count())
    assert(j.filter(col("bpe_tokens") =!= col("expect_tokens")).isEmpty,
      "source token totals diverge from the per-doc encode")
    // ratios are the exact integer micros of their own columns
    assert(df.filter(col("chars_per_token_micro") =!=
      expr("(n_chars * 1000000) div bpe_tokens")).isEmpty)
    // a BPE token never spans words: fertility >= 1 token per word
    assert(df.filter(col("fertility_micro") < 1000000).isEmpty)
    df.unpersist()
  }

  test("x97: recall integers are exact and one row per audit query") {
    val df = run("x97_matryoshka_recall").cache()
    assert(df.count() === 5 && df.select("query_id").distinct().count() === 5)
    assert(df.filter(col("n_match") < 0 || col("n_match") > 10).isEmpty)
    assert(df.filter(col("recall_micro") =!= col("n_match") * 100000).isEmpty)
    // trivially, matching a self-consistent top-10: recall of full-vs-full
    // is 1.0 — pinned via x6: every query has exactly 10 full neighbors
    val x6n = run("x6_ann_bruteforce").groupBy("query_id").count()
    assert(x6n.filter(col("count") =!= 10).isEmpty)
    assert(run("x97_matryoshka_recall").collect().toSet === df.collect().toSet,
      "rerun diverged")
    df.unpersist()
  }

  test("x91: hit accounting is internally exact and the gate follows the ppm rate") {
    val df = run("x91_blocklist_filter").cache()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(df.count() === nDocs, "the gate must score every document")
    // occurrences dominate distinct terms; distinct bounded by the list size
    assert(df.filter(col("distinct_blocked") > col("blocked_hits")).isEmpty)
    assert(df.filter(col("distinct_blocked") > 3).isEmpty)
    assert(df.filter(col("blocked_hits") > col("n_tokens")).isEmpty)
    // the decision IS the rate comparison — no other signal leaks in
    assert(df.filter(col("kept") =!= (col("blocked_ppm") < 25000)).isEmpty)
    assert(df.filter(
      col("blocked_ppm") =!= expr("(blocked_hits * 1000000) div n_tokens")).isEmpty)
    // the fixture corpus genuinely exercises both branches
    assert(df.filter(col("kept")).count() > 0 && df.filter(!col("kept")).count() > 0,
      "threshold must split the corpus — retune blockedPpmMax if this trips")
    df.unpersist()
  }

  test("x92: triangle accounting reconciles with the pair engine and the cc bound") {
    val df = run("x92_triangle_count").cache()
    val r = df.head()
    // the graph audited IS the x2 pair graph
    val pairs = run("x2_ngram_jaccard").cache()
    assert(r.getAs[Long]("n_edges") === pairs.count())
    val nodes = pairs.select(col("doc_a").as("v"))
      .unionByName(pairs.select(col("doc_b").as("v"))).distinct().count()
    assert(r.getAs[Long]("n_nodes") === nodes)
    pairs.unpersist()
    // every triangle is 3 closed wedges; cc therefore lives in [0, 1e6]
    val (tri, wed, cc) = (r.getAs[Long]("n_triangles"),
      r.getAs[Long]("n_wedges"), r.getAs[Long]("global_cc_micro"))
    assert(3 * tri <= wed, s"3*$tri closed wedges exceed the $wed total")
    assert(cc >= 0 && cc <= 1000000)
    assert(cc === (if (wed > 0) 3 * tri * 1000000 / wed else 0))
    // the fixture's duplication is template-like: triangles must exist
    assert(tri > 0, "fixture dup clusters of size >= 3 should close triangles")
    assert(run("x92_triangle_count").head() === r, "rerun diverged")
    df.unpersist()
  }

  test("x93: the prefix-filtered join returns EXACTLY x2's pair set (completeness is structural)") {
    val a = run("x93_prefix_join").cache()
    val b = run("x2_ngram_jaccard").cache()
    // set equality including the jac doubles — both sides compute
    // inter/(na+nb-inter) over the same integers
    assert(a.exceptAll(b).isEmpty, "prefix join emitted a pair x2 does not have")
    assert(b.exceptAll(a).isEmpty, "prefix join MISSED a true near-dup pair")
    a.unpersist(); b.unpersist()
  }

  test("x99: signed bucket sums bound by token count; identical docs get identical vectors") {
    val df = run("x99_feature_hashing").cache()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(df.count() === nDocs)
    // |Σ signs per bucket| can never exceed the tokens hashed into it, so
    // the L1 norm of the vector is bounded by n_tokens
    val l1 = (0 until 16).map(i => abs(col(s"f$i"))).reduce(_ + _)
    assert(df.filter(l1 > col("n_tokens")).isEmpty)
    assert(df.filter(l1 === 0 && col("n_tokens") > 0).count() < nDocs,
      "every doc hashing to the zero vector means the featurizer is broken")
    // n_tokens agrees with x10's whitespace count
    val j = df.join(run("x10_token_count"), "doc_id")
    assert(j.filter(col("n_tokens") =!= col("ws_tokens")).isEmpty)
    // content-determinism: same text -> same vector
    val byText = spark.read.parquet(s"$sf/documents.parquet")
      .join(df, "doc_id")
      .groupBy(col("text"))
      .agg(countDistinct(struct((0 until 16).map(i => col(s"f$i")): _*)).as("nv"))
    assert(byText.filter(col("nv") =!= 1).isEmpty, "equal texts produced different vectors")
    df.unpersist()
  }

  test("x101: one verdict per audit vector, vote counts bounded by k") {
    val df = run("x101_knn_classify").cache()
    assert(df.count() === 20 && df.select("vec_id").distinct().count() === 20)
    assert(df.filter(col("votes") < 1 || col("votes") > 5).isEmpty)
    assert(df.filter(col("correct") =!= (col("pred_label") === col("true_label"))).isEmpty)
    // true labels are the actual ground truth of the audit block
    val truth = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 20).select(col("vec_id"), col("label"))
    assert(df.join(truth, "vec_id").filter(col("true_label") =!= col("label")).isEmpty)
    assert(run("x101_knn_classify").collect().toSet === df.collect().toSet, "rerun diverged")
    df.unpersist()
  }

  test("x100: the Venn partitions the corpus and each marginal equals its own filter") {
    val df = run("x100_filter_attribution").cache()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(df.agg(sum("n_docs")).head().getLong(0) === nDocs,
      "the flag combinations must partition the corpus exactly")
    assert(df.select("low_quality", "repetitive", "blocked").distinct().count() === df.count())
    // marginals reconcile with the standalone filters
    def marginal(flag: String) = df.filter(col(flag))
      .agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
    assert(marginal("low_quality") ===
      run("x8_text_quality").filter(!col("is_quality")).count())
    assert(marginal("repetitive") ===
      run("x19_repetition").filter(col("is_repetitive")).count())
    assert(marginal("blocked") ===
      run("x91_blocklist_filter").filter(!col("kept")).count())
    df.unpersist()
  }

  test("q36: the merged read conserves both generations and isolates legacy rows") {
    val df = run("q36_schema_merge").cache()
    val orders = graft.operators.Tables.orders(spark, sf).cache()
    // every order lands in exactly one priority class
    assert(df.agg(sum("n_orders")).head().getLong(0) === orders.count())
    // the LEGACY row is exactly generation 1 (pre-1996, written without
    // the column); evolved rows keep their real priorities
    val legacy = orders.filter(year(col("o_orderdate")) < 1996).count()
    assert(df.filter(col("priority") === "LEGACY")
      .select("n_orders").head().getLong(0) === legacy)
    assert(df.filter(col("priority") =!= "LEGACY").count() ===
      orders.filter(year(col("o_orderdate")) >= 1996)
        .select("o_orderpriority").distinct().count())
    orders.unpersist(); df.unpersist()
  }

  test("x98: mined pairs respect labels and the margin is their exact difference") {
    val df = run("x98_contrastive_pairs").cache()
    assert(df.count() === 20 && df.select("anchor_id").distinct().count() === 20)
    // pos/neg ids never collide, sims live in [-1, 1], margin is exact
    assert(df.filter(col("pos_id") === col("neg_id")).isEmpty)
    assert(df.filter(abs(col("pos_sim")) > 1.000001 || abs(col("neg_sim")) > 1.000001).isEmpty)
    assert(df.filter(col("margin") =!= round(col("pos_sim") - col("neg_sim"), 6)).isEmpty)
    // label discipline: pos shares the anchor's label, neg does not
    val lbl = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "label")
    val j = df
      .join(lbl.select(col("vec_id").as("anchor_id"), col("label").as("la")), "anchor_id")
      .join(lbl.select(col("vec_id").as("pos_id"), col("label").as("lp")), "pos_id")
      .join(lbl.select(col("vec_id").as("neg_id"), col("label").as("ln")), "neg_id")
    assert(j.filter(col("lp") =!= col("la")).isEmpty, "a positive crossed labels")
    assert(j.filter(col("ln") === col("la")).isEmpty, "a negative shares the label")
    // the negative is genuinely hard: at least one anchor has margin < 0.1
    assert(df.filter(col("margin") < 0.1).count() > 0,
      "mining found no hard pairs — the fixture labels would make this vacuous")
    df.unpersist()
  }

  test("qs19: streamed conversions equal the batch funnel's stage-3 cohort") {
    val df = run("qs19_stream_funnel").cache()
    // one conversion per user, stage timestamps strictly ordered in-window
    assert(df.select("user_id").distinct().count() === df.count())
    assert(df.filter(col("t2") <= col("t1") ||
      col("t2") > col("t1") + expr("INTERVAL 48 HOURS")).isEmpty)
    assert(df.filter(col("t3") <= col("t2") ||
      col("t3") > col("t2") + expr("INTERVAL 48 HOURS")).isEmpty)
    // the conversion COUNT is the batch funnel's bottom row
    val stage3 = run("q31_funnel").filter(col("step_no") === 3)
      .select("n_users").head().getLong(0)
    assert(df.count() === stage3,
      "streamed conversion set diverged from the batch funnel")
    df.unpersist()
  }

  test("q37: week-0 retention is definitionally total and offsets stay causal") {
    val df = run("q37_cohort_retention").cache()
    assert(df.count() > 0)
    assert(df.filter(col("week_offset") < 0).isEmpty, "activity before the cohort week")
    assert(df.filter(col("retention_ppm") > 1000000).isEmpty)
    // every user is active in their own first week: offset-0 rows are 100%
    assert(df.filter(col("week_offset") === 0 && col("retention_ppm") =!= 1000000).isEmpty)
    // offset-0 actives sum to the full user population
    val users = graft.operators.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(df.filter(col("week_offset") === 0)
      .agg(sum("n_active")).head().getLong(0) === users)
    df.unpersist()
  }

  test("qs20: the top type really is each hour's max and shares divide exactly") {
    val df = run("qs20_stream_trending").cache()
    assert(df.count() > 0)
    assert(df.select("window_start").distinct().count() === df.count())
    // the emitted argmax equals the batch per-hour winner
    val ev = graft.operators.Tables.events(spark, sf)
    val truth = ev.groupBy(date_trunc("hour", col("ts")).as("window_start"),
        col("event_type")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("window_start").orderBy(col("n").desc, col("event_type").asc)))
      .filter(col("rk") === 1)
    val j = df.join(truth, "window_start")
    assert(j.count() === df.count())
    assert(j.filter(col("top_type") =!= col("event_type") ||
      col("top_n") =!= col("n")).isEmpty, "streamed argmax diverged from batch")
    assert(df.filter(
      col("top_share_ppm") =!= expr("(top_n * 1000000) div n_events")).isEmpty)
    df.unpersist()
  }

  test("qs18: one final row per hour, events conserved, watermark respected") {
    val df = run("qs18_stream_drift").cache()
    assert(df.count() > 0)
    // append mode: each finalized window emitted exactly once, 1h wide
    assert(df.select("window_start").distinct().count() === df.count())
    assert(df.filter(
      col("window_end") =!= col("window_start") + expr("INTERVAL 1 HOUR")).isEmpty)
    // histogram mass conservation: emitted windows partition their events
    val ev = graft.operators.Tables.events(spark, sf)
    val truth = ev.groupBy(date_trunc("hour", col("ts")).as("window_start"))
      .agg(count(lit(1)).as("expect"))
    val joined = df.join(truth, "window_start")
    assert(joined.count() === df.count(), "an emitted window missing from batch truth")
    assert(joined.filter(col("n_events") =!= col("expect")).isEmpty,
      "a finalized window lost or duplicated events")
    // only watermark-passed windows are final (10-minute delay)
    val cutoff = ev.agg(max(col("ts"))).head().getAs[java.time.LocalDateTime](0)
      .minusMinutes(10)
    assert(df.filter(col("window_end") >
      lit(java.sql.Timestamp.valueOf(cutoff)).cast("timestamp_ntz")).isEmpty,
      "a window past the terminal watermark was emitted")
    df.unpersist()
  }

  test("qs16: every emitted hour matches the batch count(distinct); none exceed the watermark") {
    val df = run("qs16_stream_unique_visitors").cache()
    assert(df.count() > 0)
    // batch truth: exact distinct users per hour over the full log
    val ev = graft.operators.Tables.events(spark, sf)
    val truth = ev
      .groupBy(date_trunc("hour", col("ts")).as("window_start"))
      .agg(countDistinct(col("user_id")).as("expect"))
    val joined = df.join(truth, "window_start")
    assert(joined.count() === df.count(), "an emitted window missing from batch truth")
    assert(joined.filter(col("unique_users") =!= col("expect")).isEmpty,
      "streamed unique count diverged from batch count(distinct)")
    // append mode only finalizes windows the 70-minute watermark passed
    val cutoff = ev.agg(max(col("ts"))).head().getAs[java.time.LocalDateTime](0)
      .minusMinutes(70)
    val late = df.filter(col("window_end") > lit(java.sql.Timestamp.valueOf(cutoff)).cast("timestamp_ntz"))
    assert(late.isEmpty, "a window past the terminal watermark was emitted")
    df.unpersist()
  }

  test("q38: the change feed is exactly the generation delta — keys partition by change type") {
    val df = run("q38_snapshot_diff").cache()
    // membership laws follow the generation derivation exactly
    assert(df.filter(col("change_type") === "added" &&
      (col("o_orderkey") % 97 =!= 0 || col("o_orderkey") % 89 === 0)).isEmpty)
    assert(df.filter(col("change_type") === "removed" &&
      (col("o_orderkey") % 89 =!= 0 || col("o_orderkey") % 97 === 0)).isEmpty)
    assert(df.filter(col("change_type") === "changed" &&
      col("o_orderkey") % 13 =!= 0).isEmpty)
    // changed rows really changed, by exactly the +5% integral amendment
    val chg = df.filter(col("change_type") === "changed")
    assert(chg.filter(col("new_cents") === col("old_cents")).isEmpty)
    assert(chg.filter(col("new_cents") =!= expr("old_cents * 105 div 100")).isEmpty)
    // added/removed carry exactly one side
    assert(df.filter(col("change_type") === "added" && col("old_cents").isNotNull).isEmpty)
    assert(df.filter(col("change_type") === "removed" && col("new_cents").isNotNull).isEmpty)
    // completeness: every key that SHOULD appear does, exactly once
    val o = graft.operators.Tables.orders(spark, sf)
    val expectAdded = o.filter(col("o_orderkey") % 97 === 0 && col("o_orderkey") % 89 =!= 0).count()
    val expectRemoved = o.filter(col("o_orderkey") % 89 === 0 && col("o_orderkey") % 97 =!= 0).count()
    val byType = df.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("added", 0L) === expectAdded)
    assert(byType.getOrElse("removed", 0L) === expectRemoved)
    assert(df.groupBy("o_orderkey").count().filter(col("count") > 1).isEmpty,
      "a key appeared in the feed twice")
    df.unpersist()
  }

  test("x102: PQ codes are total, bounded, deterministic, and non-degenerate") {
    val df = run("x102_pq_codebook").cache()
    // one row per vector, 8 codes each in [0, 16), error is a sum of squares
    assert(df.count() === graft.operators.Tables.embeddings(spark, sf).count())
    val codeCols = (0 until 8).map(s => col(s"c$s"))
    assert(df.filter(codeCols.map(c => c < 0 || c > 15 || c.isNull).reduce(_ || _)).isEmpty,
      "a code outside the k=16 codebook")
    assert(df.filter(col("err_micro2") < 0).isEmpty)
    // re-run is byte-identical (content-addressed seeds, integer algebra)
    assert(run("x102_pq_codebook").exceptAll(df).isEmpty)
    // the codebooks are actually used: most subspaces spread over >1 code
    val spread = (0 until 8).count(s =>
      df.select(countDistinct(col(s"c$s"))).head().getLong(0) > 1)
    assert(spread >= 6, s"only $spread/8 subspaces use more than one centroid")
    df.unpersist()
  }

  test("x103: the scorecard is internally consistent and reconciles with x2/x4 totals") {
    val df = run("x103_sketch_scorecard").cache()
    // shares are exact ppm of their own counts; truths never exceed pairs
    assert(df.filter(col("n_true") > col("n_pairs") || col("n_pairs") < 1 ||
      col("true_ppm") =!= expr("(n_true * 1000000) div n_pairs")).isEmpty)
    // recall bins are jac deciles >= 5; precision bins are hamming <= 3
    assert(df.filter(col("part") === "recall" && (col("bin") < 5 || col("bin") > 10)).isEmpty)
    assert(df.filter(col("part") === "precision" && (col("bin") < 0 || col("bin") > 3)).isEmpty)
    // marginals reconcile with the operators the audit is ABOUT
    val recallPairs = df.filter(col("part") === "recall").agg(sum("n_pairs")).head().getLong(0)
    assert(recallPairs === run("x2_ngram_jaccard").count(), "recall rows != exact pair count")
    val precPairs = df.filter(col("part") === "precision").agg(sum("n_pairs")).head().getLong(0)
    assert(precPairs === run("x4_simhash").count(), "precision rows != banded candidate count")
    df.unpersist()
  }

  test("qs21: the quota admits exactly the batch-earliest 5 per (type, hour), never more") {
    val df = run("qs21_stream_quota_admit").cache()
    assert(df.count() > 0)
    // quota law: at most 5 per group, ranks are 1..n with no gaps
    val sizes = df.groupBy("window_start", "event_type")
      .agg(count(lit(1)).as("n"), max("admit_rank").as("mx"), min("admit_rank").as("mn"))
    assert(sizes.filter(col("n") > 5 || col("mx") =!= col("n") || col("mn") =!= 1).isEmpty)
    // emitted set equals the batch row_number() <= 5 for every emitted window
    val ev = graft.operators.Tables.events(spark, sf)
    val w = Window.partitionBy(date_trunc("hour", col("ts")), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val batch = ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(date_trunc("hour", col("ts")).as("window_start"), col("event_type"),
        col("event_id"), col("rn").cast("int").as("admit_rank"))
    val emitted = df.select("window_start", "event_type", "event_id", "admit_rank")
    assert(emitted.join(batch,
      Seq("window_start", "event_type", "event_id", "admit_rank")).count() === df.count(),
      "a streamed admission disagrees with the batch earliest-5")
    df.unpersist()
  }

  test("x104: each refined value IS the k-th order statistic (the defining rank law)") {
    val rows = run("x104_quantile_refine").collect()
    assert(rows.length === 3)
    val vals = graft.operators.Tables.events(spark, sf)
      .select(col("value")).filter(col("value").isNotNull).cache()
    val n = vals.count()
    for (r <- rows) {
      val (pm, k, v) = (r.getAs[Int]("p_permille"), r.getAs[Long]("k"), r.getAs[Double]("value"))
      assert(k === (pm.toLong * n + 999) / 1000, s"rank algebra broke for p=$pm")
      // v is the k-th smallest iff #(<= v) >= k and #(< v) < k
      val le = vals.filter(col("value") <= v).count()
      val lt = vals.filter(col("value") < v).count()
      assert(le >= k && lt < k, s"p=$pm: value $v is not the $k-th order statistic ($lt < $k <= $le)")
    }
    vals.unpersist()
  }

  test("x105: substituting targets back into input_text reconstructs the original document") {
    val df = run("x105_span_corruption").cache()
    assert(df.filter(col("n_masked") % 3 =!= 0 || col("n_masked") > col("n_tokens")).isEmpty)
    // corruption rate is content-addressed at 1/5 of spans — corpus-wide
    // it must land near 3/5 / 3 = 20% of tokens (loose band)
    val rate = df.agg((sum("n_masked") / sum("n_tokens")).as("r")).head().getDouble(0)
    assert(rate > 0.12 && rate < 0.28, s"mask rate $rate outside the 1/5-span band")
    // cross-op law vs x10: both operators count whitespace tokens
    val mismatch = df.join(run("x10_token_count"), "doc_id")
      .filter(col("n_tokens") =!= col("ws_tokens"))
    assert(mismatch.isEmpty, "x105 and x10 disagree on token counts")
    // THE defining law: input + targets is a lossless encoding
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val sample = df.join(docs, "doc_id").limit(200).collect()
    val sentinel = "<extra_id_(\\d+)>".r
    for (r <- sample) {
      val tgt = r.getAs[String]("targets")
      val starts = sentinel.findAllMatchIn(tgt).map(_.start).toVector
      val bySentinel = (starts :+ tgt.length).sliding(2).collect { case Seq(a, b) =>
        val chunk = tgt.substring(a, b).trim
        val idx = sentinel.findFirstMatchIn(chunk).get.group(1).toInt
        idx -> chunk.replaceFirst("<extra_id_\\d+> ", "")
      }.toMap
      val rebuilt = sentinel.replaceAllIn(r.getAs[String]("input_text"),
        m => java.util.regex.Matcher.quoteReplacement(bySentinel(m.group(1).toInt)))
      assert(rebuilt === r.getAs[String]("text"),
        s"doc ${r.getAs[Long]("doc_id")}: reconstruction diverged")
    }
    df.unpersist()
  }

  test("x106: self-hit iff the source tops the ranking; ranks stay in range") {
    val df = run("x106_self_retrieval").cache()
    assert(df.count() > 0)
    assert(df.filter(col("src_rank") < 1 || col("src_rank") > col("n_cand")).isEmpty)
    // the rank formula and the argmax must agree: rank 1 <=> source wins
    // the (shared desc, doc_id asc) order <=> top_doc IS the source
    assert(df.filter(col("self_hit") =!= (col("top_doc") === col("qid"))).isEmpty)
    // a systematic 1/40 sample of a mostly-unique corpus self-retrieves
    val hits = df.filter(col("self_hit")).count()
    assert(hits * 2 > df.count(), s"only $hits/${df.count()} snippets found their source")
    // cross-op law vs x1: an EXACT duplicate with a smaller id has the
    // identical shingle set, ties on shared count, and wins the id
    // tiebreak — so a query doc that is not its own x1 keeper CANNOT
    // self-hit. (The converse doesn't hold: near-dups also steal rank 1.)
    val shadowed = run("x1_exact_dedup").filter(col("n_copies") > 1)
      .join(graft.operators.Tables.documents(spark, sf)
        .select(col("doc_id"), sha2(col("text"), 256).as("text_hash")), "text_hash")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as("qid"))
    val violating = df.filter(col("self_hit")).join(shadowed, "qid")
    assert(violating.isEmpty,
      "a doc shadowed by an exact duplicate with a smaller id claimed rank 1")
    df.unpersist()
  }

  test("q39: merge(base, diff(base, target)) IS target — the CDC round-trip theorem") {
    val merged = run("q39_merge_apply").cache()
    val o = graft.operators.Tables.orders(spark, sf)
    val target = o.filter(col("o_orderkey") % 89 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 13 === 0,
          expr("cast(round(o_totalprice * 100, 0) as bigint) * 105 div 100"))
          .otherwise(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("cents"))
    assert(merged.exceptAll(target).isEmpty && target.exceptAll(merged).isEmpty,
      "applying the q38 feed did not reproduce the target generation")
    // deleted keys are really gone
    assert(merged.filter(col("o_orderkey") % 89 === 0).isEmpty)
    merged.unpersist()
  }

  test("x107: shares normalize, and temperature flattens the head without reordering it") {
    val rows = run("x107_temperature_mixture").collect()
      .map(r => (r.getAs[Long]("n_tokens"), r.getAs[Long]("share_ppm"), r.getAs[Long]("epochs_milli")))
      .sortBy(_._1)
    val sumPpm = rows.map(_._2).sum
    assert(sumPpm > 1000000L - rows.length && sumPpm <= 1000000L,
      s"shares must sum to 1e6 up to per-row floor loss, got $sumPpm")
    // order-preserving: more tokens, more share — but FLATTER than proportional
    for (w <- rows.sliding(2) if w.length == 2) {
      val (Array((_, s1, e1), (_, s2, e2))) = w
      assert(s2 >= s1, "share order must follow token order")
      assert(e2 <= e1, "upsampling must favor the low-resource source")
    }
    val (nMin, sMin, _) = rows.head; val (nMax, sMax, _) = rows.last
    assert(sMax.toDouble / sMin < nMax.toDouble / nMin,
      "temperature scaling must compress the ratio below proportional")
  }

  test("x108: the learned filter is non-degenerate and mostly agrees with its weak teacher") {
    val df = run("x108_nb_quality_classifier").cache()
    // definitional consistency
    assert(df.filter(col("pred_good") =!= (col("score_nanos") > 0)).isEmpty)
    assert(df.filter(col("correct") =!= (col("pred_good") === col("label_good"))).isEmpty)
    // it learned signal: both classes predicted, agreement well above chance
    assert(df.select(countDistinct(col("pred_good"))).head().getLong(0) === 2,
      "classifier predicts a single class — degenerate")
    val acc = df.filter(col("correct")).count().toDouble / df.count()
    assert(acc > 0.6, s"agreement $acc with the weak teacher is below the learnable band")
    df.unpersist()
  }

  test("x109: the covering radius decays monotonically and the selection is stable") {
    val rows = run("x109_fps_coreset").orderBy("sel_order").collect()
    assert(rows.length === 5)
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length === 5, "a center repeated")
    val radii = rows.drop(1).map(_.getAs[Long]("radius_micro2"))
    assert(radii.forall(_ > 0), "a later center coincides with an earlier one")
    for (Array(a, b) <- radii.sliding(2).filter(_.length == 2))
      assert(b <= a, s"covering radius increased: $a -> $b")
    // greedy selection is deterministic — byte-identical on re-run
    val again = run("x109_fps_coreset").orderBy("sel_order").collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("x110: maintain(index(A), delta) equals index(B) — the IVM theorem, engine-side") {
    val maintained = run("x110_ivm_dedup_index").cache()
    val rebuild = graft.operators.Tables.documents(spark, sf)
      .filter(col("doc_id") % 89 =!= 0)
      .select(sha2(col("text"), 256).as("h"), col("doc_id"))
      .groupBy("h").agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    assert(maintained.exceptAll(rebuild).isEmpty && rebuild.exceptAll(maintained).isEmpty,
      "incremental maintenance diverged from the full rebuild")
    // survivors only: no keep_id can point at a deleted document
    assert(maintained.filter(col("keep_id") % 89 === 0).isEmpty)
    maintained.unpersist()
  }

  test("q40: every order resolves to exactly ONE dimension version, and it contains the date") {
    val df = run("q40_dimension_asof").cache()
    val nOrders = graft.operators.Tables.orders(spark, sf).count()
    assert(df.count() === nOrders, "the version intervals do not tile the timeline")
    assert(df.groupBy("o_orderkey").count().filter(col("count") > 1).isEmpty,
      "an order matched two versions — intervals overlap")
    // the point-in-time law at DATE granularity: the version valid on date
    // d is the run holding the chronologically LAST order of that date —
    // so every order's resolved priority equals the priority of the
    // largest-orderkey order on its own (customer, date). (Same-date
    // priority flips produce empty intervals that can never match.)
    val o = graft.operators.Tables.orders(spark, sf)
    val lastOfDate = o.groupBy(col("o_custkey").as("custkey"), col("o_orderdate"))
      .agg(max(struct(col("o_orderkey").as("k"), col("o_orderpriority").as("p"))).as("m"))
      .select(col("custkey"), col("o_orderdate"), col("m.p").as("exp_pri"))
    val joined = df.join(lastOfDate, Seq("custkey", "o_orderdate"))
    assert(joined.count() === df.count())
    assert(joined.filter(col("dim_priority") =!= col("exp_pri")).isEmpty,
      "an order resolved to a version other than its date's closing run")
    df.unpersist()
  }

  test("x111: attribution windows, ordering, and the organic bucket are all lawful") {
    val df = run("x111_touch_attribution").cache()
    val ev = graft.operators.Tables.events(spark, sf)
    assert(df.count() === ev.filter(col("event_type") === "purchase").count(),
      "a purchase row went missing — organic purchases must be kept")
    // null-consistency: zero touches <=> null attribution
    assert(df.filter((col("n_touches") === 0) =!= col("first_click_id").isNull).isEmpty)
    assert(df.filter((col("n_touches") === 0) =!= col("last_click_id").isNull).isEmpty)
    // credited clicks sit inside the window and in order
    val touched = df.filter(col("n_touches") > 0)
    assert(touched.filter(col("first_click_ts") > col("last_click_ts")).isEmpty)
    assert(touched.filter(col("last_click_ts") > col("purchase_ts") ||
      col("first_click_ts") < col("purchase_ts") - expr("INTERVAL 48 HOURS")).isEmpty)
    df.unpersist()
  }

  test("x112: serving from published artifacts obeys the self-ADC identity with x102") {
    val hits = run("x112_pq_index_serve").cache()
    // 10 queries x top-3, ranks dense, exact distances monotone per query
    assert(hits.count() === 30)
    val byQ = hits.groupBy("qid").agg(count(lit(1)).as("n"),
      max("rnk").as("mx"), min("rnk").as("mn"))
    assert(byQ.filter(col("n") =!= 3 || col("mx") =!= 3 || col("mn") =!= 1).isEmpty)
    val w = Window.partitionBy(col("qid")).orderBy(col("rnk"))
    assert(hits.withColumn("prev", lag(col("exact_micro2"), 1).over(w))
      .filter(col("prev").isNotNull && col("exact_micro2") < col("prev")).isEmpty,
      "exact re-rank distance must be non-decreasing with rank")
    // the exact re-rank makes a query its own rank-1 hit (d2 = 0), and
    // the carried ADC column on that row must equal the vector's x102
    // reconstruction error (the argmin defining the codes is the same
    // minimum the LUT sums) — ties the served artifact back to training
    val self = hits.filter(col("vec_id") === col("qid"))
      .select(col("qid"), col("rnk"), col("adc_micro2"), col("exact_micro2"))
      .cache()
    assert(self.count() === 10, "every query must retrieve itself under exact re-rank")
    assert(self.filter(col("rnk") =!= 1 || col("exact_micro2") =!= 0).isEmpty,
      "a query's own vector must be its rank-1 exact hit")
    val codes = run("x102_pq_codebook")
      .select(col("vec_id").as("qid"), col("err_micro2"))
    assert(self.join(codes, "qid")
      .filter(col("adc_micro2") =!= col("err_micro2")).isEmpty,
      "self-ADC diverged from the x102 reconstruction error")
    self.unpersist()
    hits.unpersist()
  }

  test("x112: SERVED top-3 recall vs exact quantized L2 is >= 0.8") {
    // ground truth: exact top-3 by full-vector quantized L2 (the published
    // representation), same tiebreak as the serve path
    val subs = graft.operators.Queries.pqSubspaces(spark, sf).cache()
    val qsubs = subs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("s"), col("sub").as("qsub"))
    val wEx = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("vec_id").asc)
    val truth = subs.join(qsubs, "s")
      .withColumn("p", expr(
        "aggregate(zip_with(sub, qsub, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .groupBy(col("qid"), col("vec_id")).agg(sum(col("p")).as("d2"))
      .withColumn("rnk", row_number().over(wEx))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("vec_id"))
    val served = run("x112_pq_index_serve").select(col("qid"), col("vec_id"))
    val overlap = served.join(truth, Seq("qid", "vec_id")).count()
    val recall = overlap.toDouble / truth.count()
    subs.unpersist()
    info(f"x112 served top-3 recall vs exact quantized L2: $recall%.3f")
    assert(recall >= 0.8, f"served recall $recall%.3f below the 0.8 ANN bar")
  }

  test("qs22: the streamed leaderboard equals the batch top-5-by-value per emitted hour") {
    val df = run("qs22_stream_leaderboard").cache()
    assert(df.count() > 0)
    val sizes = df.groupBy("window_start")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
    assert(sizes.filter(col("n") > 5 || col("mx") =!= col("n") || col("mn") =!= 1).isEmpty)
    val ev = graft.operators.Tables.events(spark, sf)
    val w = Window.partitionBy(date_trunc("hour", col("ts")))
      .orderBy(expr("cast(round(value * 100, 0) as bigint)").desc, col("event_id").asc)
    val batch = ev.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(date_trunc("hour", col("ts")).as("window_start"), col("event_id"),
        expr("cast(round(value * 100, 0) as bigint)").as("value_cents"),
        col("rank").cast("int").as("rank"))
    assert(df.join(batch,
      Seq("window_start", "event_id", "value_cents", "rank")).count() === df.count(),
      "a streamed leaderboard row disagrees with the batch ranking")
    df.unpersist()
  }

  test("x113: canonicalization collapses every planted variant onto its original") {
    val df = run("x113_normalized_dedup").cache()
    assert(df.count() > 0)
    // keepers are originals: a planted variant (id >= 10000000) never wins
    assert(df.filter(col("keep_id") >= 10000000L).isEmpty)
    // the unlock is real: every group containing a planted variant shows
    // n_variants >= 2 (byte-exact dedup could not see it), and the number
    // of unlocked groups covers the planted population
    val unlocked = df.filter(col("n_variants") >= 2)
    val planted = graft.operators.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0).count()
    assert(unlocked.agg(sum(col("n_docs"))).head().getLong(0) >= planted,
      "planted variants failed to collapse onto their originals")
    df.unpersist()
  }

  test("x114: the transition matrix is a proper stochastic matrix (up to ppm floor loss)") {
    val df = run("x114_event_transitions").cache()
    // a 5-type event universe: the matrix is at most 5x5, counts positive
    assert(df.count() <= 25 && df.filter(col("n") < 1).isEmpty)
    // each row of the matrix sums to ~1e6 (floor loss < |to states|)
    val rows = df.groupBy("from_type")
      .agg(sum("p_ppm").as("s"), count(lit(1)).as("k"))
    assert(rows.filter(col("s") > 1000000L || col("s") <= lit(1000000L) - col("k")).isEmpty,
      "a from-state's outgoing probabilities do not normalize")
    // conservation: total transitions = total events - one per active user
    val ev = graft.operators.Tables.events(spark, sf)
    val expected = ev.count() - ev.select(countDistinct(col("user_id"))).head().getLong(0)
    assert(df.agg(sum("n")).head().getLong(0) === expected,
      "transition count != events - users (a successor was dropped or doubled)")
    df.unpersist()
  }

  test("q41: the plan conserves every row, keeps time contiguity, and balances to the target") {
    val df = run("q41_compaction_plan").orderBy("grp").cache()
    val li = graft.operators.Tables.lineitem(spark, sf)
    assert(df.agg(sum("total_rows")).head().getLong(0) === li.count(),
      "the plan lost or duplicated rows")
    // contiguity: group time ranges are disjoint and ordered
    val rows = df.collect()
    for (Array(a, b) <- rows.sliding(2).filter(_.length == 2))
      assert(a.getAs[java.time.LocalDateTime]("last_month")
        .isBefore(b.getAs[java.time.LocalDateTime]("first_month")),
        "compaction groups overlap in time")
    // balance: every group is within one file of the target (cumsum cut
    // can overshoot by at most the largest single file)
    val target = (li.count() + 11) / 12
    val maxFile = df.agg(max("total_rows")).head().getLong(0)
    assert(rows.forall(_.getAs[Long]("total_rows") <= target + maxFile))
    df.unpersist()
  }

  test("x115: mined pairs are exactly the cross-language subset of x2's near-dups") {
    val df = run("x115_bitext_pairs").cache()
    assert(df.count() > 0)
    assert(df.filter(col("lang_a") === col("lang_b")).isEmpty)
    assert(df.filter(col("jac") < 0.5).isEmpty)
    // subset + complement law against the pair engine and the lang table
    val docs = graft.operators.Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
    val all = run("x2_ngram_jaccard")
      .join(docs.select(col("doc_id").as("doc_a"), col("lang").as("la")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("lang").as("lb")), "doc_b")
    val expect = all.filter(col("la") =!= col("lb")).count()
    assert(df.count() === expect, s"mined ${df.count()} pairs, expected $expect cross-language near-dups")
    df.unpersist()
  }

  test("q42: vacuum plan obeys snapshot reachability — current files never deletable") {
    val df = run("q42_vacuum_plan").cache()
    val rows = df.collect().toSeq
    val maxSnap = rows.map(_.getAs[Int]("added_snap")).max
    // every deletable file is retired, and retired before the expiry horizon
    assert(rows.forall { r =>
      !r.getAs[Boolean]("deletable") ||
        (r.getAs[Integer]("retired_snap") != null &&
          r.getAs[Integer]("retired_snap") - 1 <= maxSnap - 4)
    })
    // live files (never retired) are exactly: every v2, plus the newest v1
    val live = rows.filter(_.getAs[Integer]("retired_snap") == null)
    assert(live.forall(r => !r.getAs[Boolean]("deletable")),
      "a still-referenced file is marked deletable")
    assert(live.count(_.getAs[Int]("version") === 1) === 1,
      "exactly one v1 (the newest week) should still be live")
    // each non-newest week carries both versions; vacuum reclaims all but
    // the 3 retained pre-horizon v1s
    val weeks = rows.map(_.getAs[java.time.LocalDateTime]("file_week")).distinct.size
    assert(rows.size === 2 * weeks - 1)
    assert(rows.count(_.getAs[Boolean]("deletable")) === weeks - 4,
      "expiry horizon should free every v1 except the last 4 snapshots' references")
    df.unpersist()
  }

  test("x125: the scorecard's true join sizes obey the FK laws; ppm recomputes") {
    val df = run("x125_join_estimate").cache()
    val rows = df.collect().map(r => r.getAs[String]("join_name") -> r).toMap
    assert(rows.keySet === Set("orders_customer", "lineitem_orders", "lineitem_part"))
    // FK joins: every child row matches exactly one parent → actual = |child|
    assert(rows("lineitem_orders").getAs[Long]("actual_rows") ===
      rows("lineitem_orders").getAs[Long]("n_left"))
    assert(rows("lineitem_part").getAs[Long]("actual_rows") ===
      rows("lineitem_part").getAs[Long]("n_left"))
    // parent side of an FK has ndv = row count (keys unique)
    assert(rows("lineitem_orders").getAs[Long]("ndv_right") ===
      rows("lineitem_orders").getAs[Long]("n_right"))
    // err_ppm is the half-up integer ratio of the emitted columns
    assert(df.collect().forall { r =>
      val est = BigInt(r.getAs[Long]("est_rows")); val act = BigInt(r.getAs[Long]("actual_rows"))
      BigInt(r.getAs[Long]("err_ppm")) === (2 * est * 1000000 + act) / (2 * act)
    })
    // on the FK joins the uniform-NDV estimate should be nearly exact
    // (est = |L|·|R|/|R| = |L|): within 1 row of actual
    assert((rows("lineitem_orders").getAs[Long]("est_rows") -
      rows("lineitem_orders").getAs[Long]("actual_rows")).abs <= 1)
    df.unpersist()
  }

  test("x131: the sampled estimator self-audit is exact and every estimate clears 3-sigma") {
    val df = run("x131_sampled_quantiles").cache()
    val rows = df.collect().toSeq
    assert(rows.map(_.getAs[Int]("pct")).toSet === Set(50, 90, 99))
    val li = graft.operators.Tables.lineitem(spark, sf)
    val n = li.count()
    rows.foreach { r =>
      val est = r.getAs[Double]("est_price")
      // the audit columns are EXACT corpus facts, re-derived independently
      val trueRank = li.filter(col("l_extendedprice") <= est).count()
      assert(r.getAs[Long]("true_rank") === trueRank)
      val p = r.getAs[Int]("pct")
      val target = (2L * p * n + 100) / 200
      assert(r.getAs[Long]("target_rank") === target)
      assert(r.getAs[Long]("err_ppm") ===
        (2 * math.abs(trueRank - target) * 1000000L + n) / (2 * n))
      assert(r.getAs[Boolean]("within_3sigma"),
        s"p$p estimate missed its 3-sigma bound: err ${r.getAs[Long]("err_ppm")} ppm")
    }
    df.unpersist()
  }

  test("q6b: the custom AsofJoinExec equals the window formulation row-for-row") {
    val custom = run("q6b_asof_custom").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2), r.get(3))).toSet
    val window = run("q6_asof_event_order").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2), r.get(3))).toSet
    assert(custom === window, "custom physical operator diverged from the window formulation")
    assert(custom.nonEmpty)
    // the null-extension path is exercised: some purchase has no prior click
    assert(custom.exists(_._4 == null), "no unmatched purchases — LEFT semantics untested")
  }

  test("q43: the as-of manifest reconstructs exactly the temporal prefix of the table") {
    val df = run("q43_time_travel").cache()
    val rows = df.collect().toSeq
    assert(rows.nonEmpty)
    val asOf = rows.head.getAs[Int]("as_of_snap")
    assert(rows.forall(_.getAs[Int]("as_of_snap") === asOf))
    // exactly one v1 file (the as-of week itself); all earlier weeks read v2
    assert(rows.count(_.getAs[Int]("version_read") === 1) === 1)
    // the semantic theorem: manifest total == direct temporal filter over orders
    val maxWeek = rows.map(_.getAs[java.time.LocalDateTime]("file_week")).max(
      Ordering.fromLessThan[java.time.LocalDateTime](_ isBefore _))
    val direct = graft.operators.Tables.orders(spark, sf)
      .filter(date_trunc("week", col("o_orderdate"))
        .cast(org.apache.spark.sql.types.TimestampNTZType) <= lit(maxWeek))
      .count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum === direct,
      "time-travel manifest total diverges from the temporal prefix")
    df.unpersist()
  }

  test("x130: incremental cluster maintenance equals the full x17 rebuild, non-vacuously") {
    val inc = run("x130_ivm_components")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    val full = run("x17_dedup_clusters")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    assert(inc === full, "incremental maintenance diverged from the full rebuild")
    assert(inc.nonEmpty)
    // non-vacuity: the delta really merges something — at least one cluster
    // contains BOTH a delta doc (id % 10 == 0) and a base doc
    val byCluster = inc.groupBy(_._2)
    assert(byCluster.exists { case (_, ms) =>
      ms.exists(_._1 % 10 == 0) && ms.exists(_._1 % 10 != 0)
    }, "no cluster spans the base/delta boundary — the label-graph merge path is untested")
  }

  test("x129: RFM scores are balanced quintiles consistent with the raw features") {
    val df = run("x129_rfm_features").cache()
    val rows = df.collect().toSeq
    val users = graft.operators.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.size.toLong === users, "one feature row per user")
    // quintiles are balanced within 1 (ntile ceil-split law)
    for (c <- Seq("r_score", "f_score", "m_score")) {
      val sizes = rows.groupBy(_.getAs[Int](c)).view.mapValues(_.size)
      assert(sizes.keySet === Set(1, 2, 3, 4, 5), s"$c buckets")
      assert(sizes.values.max - sizes.values.min <= 1, s"$c unbalanced: $sizes")
    }
    // orientation: the best-frequency bucket's MIN count >= worst bucket's MAX
    val f5 = rows.filter(_.getAs[Int]("f_score") === 5).map(_.getAs[Long]("frequency"))
    val f1 = rows.filter(_.getAs[Int]("f_score") === 1).map(_.getAs[Long]("frequency"))
    assert(f5.min >= f1.max, "f_score not monotone in frequency")
    val r5 = rows.filter(_.getAs[Int]("r_score") === 5).map(_.getAs[Long]("recency_hours"))
    val r1 = rows.filter(_.getAs[Int]("r_score") === 1).map(_.getAs[Long]("recency_hours"))
    assert(r5.max <= r1.min, "r_score=5 must be the most recent users")
    assert(rows.forall { r =>
      r.getAs[Int]("rfm") === r.getAs[Int]("r_score") * 100 +
        r.getAs[Int]("f_score") * 10 + r.getAs[Int]("m_score")
    })
    df.unpersist()
  }

  test("x128: the reliability audit partitions the corpus and orders the extreme bands") {
    val df = run("x128_reliability_audit").cache()
    val rows = df.collect().toSeq.sortBy(_.getAs[Int]("bin"))
    // the bands partition x108's scored corpus exactly
    val scored = run("x108_nb_quality_classifier").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === scored)
    // ppm columns recompute from the emitted counts
    assert(rows.forall { r =>
      val n = r.getAs[Long]("n_docs"); val g = r.getAs[Long]("n_label_good")
      r.getAs[Long]("good_rate_ppm") === (2 * g * 1000000 + n) / (2 * n) &&
        r.getAs[Boolean]("pred_good") === (r.getAs[Int]("bin") >= 2)
    })
    // the scorer must ORDER quality: the top band's true-good rate strictly
    // above the bottom band's (else the filter threshold is noise)
    assert(rows.last.getAs[Long]("good_rate_ppm") > rows.head.getAs[Long]("good_rate_ppm"),
      s"top band ${rows.last.getAs[Long]("good_rate_ppm")} !> bottom ${rows.head.getAs[Long]("good_rate_ppm")}")
    df.unpersist()
  }

  test("x127: containment pairs are exact; the sub-Jaccard catch is proven on a wrapped corpus") {
    val df = run("x127_containment_dedup").cache()
    val rows = df.collect().toSeq
    assert(rows.nonEmpty)
    // containment dominates jaccard; threshold and subset side hold
    assert(rows.forall { r =>
      r.getAs[Long]("cont_ppm") >= r.getAs[Long]("jac_ppm") &&
        r.getAs[Long]("cont_ppm") >= 800000
    })
    // fixture honesty (documented): the synthetic corpus plants only exact
    // set-dups, so every emitted pair sits at the C = 1 boundary
    assert(rows.forall(r => r.getAs[Long]("cont_ppm") === 1000000L))
    df.unpersist()

    // the distinctive catch — a short doc wrapped in a long one has
    // jac << 0.5 but C = 1 — proven through the same core on a
    // constructed corpus the registered fixture lacks
    val ss = spark
    import ss.implicits._
    val inner = (1 to 10).map(i => s"tok$i").mkString(" ")
    val filler = (1 to 60).map(i => s"pad$i").mkString(" ")
    val wrapped = Seq((1L, inner), (2L, s"$filler $inner")).toDF("doc_id", "text")
    val out = graft.operators.Queries.x127Core(
      graft.operators.Queries.shingleSets(wrapped)).collect()
    assert(out.length === 1)
    val p = out.head
    assert(p.getAs[Long]("cont_ppm") === 1000000L, "inner doc fully contained")
    assert(p.getAs[Long]("jac_ppm") < 500000,
      s"jac ${p.getAs[Long]("jac_ppm")} should be below the x2 threshold — this pair is invisible to Jaccard dedup")
    assert(p.getAs[Long]("subset_doc") === 1L, "the short side must be named as contained")
  }

  test("x126: the MinHash scorecard's estimator laws hold on real near-dup pairs") {
    val df = run("x126_minhash_scorecard").cache()
    val rows = df.collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val m = r.getAs[Long]("matches")
      m >= 0 && m <= 32 &&
        r.getAs[Long]("est_ppm") === m * 31250 &&
        r.getAs[Long]("err_ppm") === r.getAs[Long]("est_ppm") - r.getAs[Long]("jac_ppm") &&
        r.getAs[Long]("jac_ppm") >= 500000 // the pair engine's threshold
    })
    // identical shingle sets hash to identical signatures: any jac = 1
    // pair must score matches = 32 (none exist at sf0.001; sf0.01+ have them)
    val exact = rows.filter(_.getAs[Long]("jac_ppm") === 1000000L)
    assert(exact.forall(_.getAs[Long]("matches") === 32L))
    // 32-component concentration: mean |err| across pairs well inside the
    // one-sigma band sqrt(J(1-J)/32) <= 88k ppm (deterministic fixture)
    val meanAbs = rows.map(r => math.abs(r.getAs[Long]("err_ppm"))).sum / rows.size
    assert(meanAbs < 150000, s"mean |err| $meanAbs ppm — estimator badly calibrated")
    df.unpersist()
  }

  test("qs25: the streamed MG heavy-hitter set equals batch x57 exactly") {
    val streamed = Queries.byName("qs25_stream_heavy_hitters").run(spark, sf)
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt"),
        r.getAs[Long]("n_tokens"))).toSet
    val batch = run("x57_heavy_hitters")
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt"),
        r.getAs[Long]("n_tokens"))).toSet
    assert(streamed === batch,
      "streaming sketch + exact recount diverged from the batch heavy hitters")
    assert(streamed.nonEmpty, "vacuous: fixture has no heavy hitters")
    // every emitted token really is above the n/(k+1) deficit threshold
    assert(streamed.forall { case (_, cnt, n) => cnt * 31 > n })
  }

  test("x122: RRF fusion is the integer half-up sum of both reciprocal-rank contributions") {
    val df = run("x122_hybrid_rrf").cache()
    val rows = df.collect().toSeq
    assert(rows.size === 20)
    // ranks are within the top-100 window; 0 means "absent from that list"
    assert(rows.forall { r =>
      val lr = r.getAs[Int]("lex_rank"); val sr = r.getAs[Int]("sem_rank")
      lr >= 0 && lr <= 100 && sr >= 0 && sr <= 100 && (lr > 0 || sr > 0)
    })
    // recompute the fused score from the emitted ranks
    def contrib(r: Int): Long = if (r == 0) 0L else (2L * 1000000 + (60 + r)) / (2L * (60 + r))
    assert(rows.forall { r =>
      r.getAs[Long]("rrf_ppm") === contrib(r.getAs[Int]("lex_rank")) + contrib(r.getAs[Int]("sem_rank"))
    }, "rrf_ppm != sum of half-up reciprocal-rank contributions")
    // the output is the top-20 by fused score (desc, doc_id tiebreak)
    val scores = rows.map(r => (r.getAs[Long]("rrf_ppm"), r.getAs[Long]("doc_id")))
    assert(scores === scores.sortBy { case (s, d) => (-s, d) }, "top-20 not in fused order")
    // genuine fusion: at least one emitted doc carries BOTH ranks
    assert(rows.exists(r => r.getAs[Int]("lex_rank") > 0 && r.getAs[Int]("sem_rank") > 0),
      "no doc appears in both rankers' top-100 — fusion is vacuous")
    df.unpersist()
  }

  test("x123: Bradley-Terry strengths are mean-normalized, rank-consistent, and deterministic") {
    val df = run("x123_bradley_terry").cache()
    val rows = df.collect().toSeq
    val k = rows.size
    assert(k > 0)
    assert(rows.forall(r => r.getAs[Long]("n_comp") ===
      r.getAs[Long]("wins") + r.getAs[Long]("losses")))
    // model precondition, recomputed INDEPENDENTLY from lineitem: the
    // emitted item set must be exactly the suppliers with >=1 win AND
    // >=1 loss over the full comparison stream, restricted to pairs
    // whose both ends survive that filter
    val li = graft.operators.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        col("l_quantity").as("qty"))
    val pr = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.sk") =!= col("b.sk") &&
          col("a.qty") > col("b.qty"))
      .select(col("a.sk").as("wi"), col("b.sk").as("lo")).cache()
    val winners = pr.select(col("wi")).distinct().collect().map(_.getLong(0)).toSet
    val losers = pr.select(col("lo")).distinct().collect().map(_.getLong(0)).toSet
    val items = winners intersect losers
    val comp2 = pr.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (w2, l2) => items(w2) && items(l2) }
    pr.unpersist()
    val expected = comp2.flatMap(p => Seq(p._1, p._2)).toSet
    assert(rows.map(_.getAs[Long]("supplier")).toSet === expected,
      "emitted item set != independently recomputed win-and-loss filter")
    // theta is ppm-normalized: mean within integer floor loss of 1e6
    val mean = rows.map(_.getAs[Long]("theta_ppm")).sum / k
    assert(math.abs(mean - 1000000L) <= k.toLong,
      s"theta mean $mean drifted from 1e6 (floor loss bound $k)")
    assert(rows.forall { r =>
      val t = r.getAs[Long]("theta_ppm"); t >= 1 && t <= k.toLong * 1000000
    })
    // rnk is the exact permutation ordered by (theta desc, supplier asc)
    val byRank = rows.sortBy(_.getAs[Int]("rnk"))
    assert(byRank.map(_.getAs[Int]("rnk")) === (1 to k).toSeq)
    val pairs = byRank.map(r => (r.getAs[Long]("theta_ppm"), r.getAs[Long]("supplier")))
    assert(pairs === pairs.sortBy { case (t, s) => (-t, s) })
    // MM actually moves mass toward frequent winners: the top-ranked item's
    // win RATE is at least the bottom-ranked item's
    val top = byRank.head; val bot = byRank.last
    def rate(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("wins").toDouble / r.getAs[Long]("n_comp")
    assert(rate(top) >= rate(bot), "strength ordering inverted win rates at the extremes")
    assert(run("x123_bradley_terry").collect().toSeq === rows, "rerun diverged")
    df.unpersist()
  }

  test("x123: reliableLineageCut leaves (persist-based, recomputable) match the default checkpoint path") {
    // r13 verdict item 6: the conf swaps every MM round's localCheckpoint
    // leaf for a persist+lineage leaf (cluster fault-tolerance mode); the
    // solve must be bit-identical either way.
    val fast = run("x123_bradley_terry").collect().toSeq
    spark.conf.set("spark.graft.reliableLineageCut", "true")
    try {
      val reliable = run("x123_bradley_terry").collect().toSeq
      assert(reliable === fast, "reliable-cut path diverged from checkpoint path")
    } finally spark.conf.unset("spark.graft.reliableLineageCut")
  }

  test("lineageLeaf: release frees the leaf's own RDD, not one another query persisted meanwhile") {
    // concurrent producers share the session: another query may persist
    // between this leaf's creation and its release
    val sc = spark.sparkContext
    for (reliable <- Seq(false, true)) {
      if (reliable) spark.conf.set("spark.graft.reliableLineageCut", "true")
      try {
        val before = sc.getPersistentRDDs.keySet
        val (leaf, release) = Queries.lineageLeaf(spark.range(100).toDF("id"), eager = true)
        val own = sc.getPersistentRDDs.keySet -- before
        val other = sc.parallelize(1 to 10).persist()
        assert(own.size === 1, s"reliable=$reliable")
        assert(leaf.count() === 100)
        release()
        val after = sc.getPersistentRDDs.keySet
        assert(after.contains(other.id), s"reliable=$reliable: released another query's RDD")
        assert((own & after).isEmpty, s"reliable=$reliable: the leaf's RDD is still persisted")
        other.unpersist()
      } finally spark.conf.unset("spark.graft.reliableLineageCut")
    }
  }

  test("x124: holdout accuracy is the exact ppm of argmax-correct test transitions") {
    val df = run("x124_markov_eval").cache()
    val rows = df.collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("from_type")).distinct.size === rows.size,
      "from_type rows not unique")
    assert(rows.forall { r =>
      val n = r.getAs[Long]("n_test"); val c = r.getAs[Long]("n_correct")
      n > 0 && c >= 0 && c <= n &&
        r.getAs[Long]("acc_ppm") === (2 * c * 1000000 + n) / (2 * n)
    }, "acc_ppm is not the half-up integer accuracy")
    // the predictor must do strictly better than random SOMEWHERE if the
    // matrix has signal; at minimum it must never predict an unseen type
    val types = graft.operators.Tables.events(spark, sf)
      .select(col("event_type")).distinct().collect().map(_.getString(0)).toSet
    assert(rows.forall(r => Option(r.getAs[String]("predicted")).forall(types.contains)))
    df.unpersist()
  }

  // ---- r8: the documented big-cardinality swaps now exist in CODE, and
  // both paths must be row-identical on the registered queries

  test("x129: the two-pass quintile path (forced via threshold=0) equals the ntile path") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val viaNtile = canon(run("x129_rfm_features"))
    spark.conf.set("spark.graft.rfm.twoPassThreshold", "0")
    try {
      val viaTwoPass = canon(run("x129_rfm_features"))
      assert(viaTwoPass === viaNtile,
        "distinct-value-cumsum quintiles diverged from ntile(5)")
    } finally {
      spark.conf.unset("spark.graft.rfm.twoPassThreshold")
      spark.catalog.clearCache()
    }
  }

  test("quintileTwoPass: exact ntile(5) semantics on a tie-heavy, non-divisible fixture") {
    // 23 rows (23 % 5 = 3: first three tiles hold 5 rows, last two hold 4)
    // over only 4 distinct values — heavy ties exercise the per-value
    // row_number + cumsum composition; user_id breaks ties as registered
    val s = spark; import s.implicits._
    val fixture = (1 to 23).map(i => (i.toLong, (i % 4).toLong)).toDF("user_id", "v")
    for (desc <- Seq(true, false)) {
      val ord = if (desc) Seq(col("v").desc, col("user_id").asc)
                else Seq(col("v").asc, col("user_id").asc)
      val expected = fixture
        .withColumn("s", ntile(5).over(Window.orderBy(ord: _*)))
        .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
      val got = Queries.quintileTwoPass(fixture, "v", desc, 23L, "s")
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("s"))).toMap
      assert(got === expected, s"desc=$desc")
    }
  }

  test("x131: the histogram-refinement path (forced via cap=0) equals the TakeOrdered path") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val viaTakeOrdered = canon(run("x131_sampled_quantiles"))
    spark.conf.set("spark.graft.quantile.takeOrderedCap", "0")
    try {
      val viaHistogram = canon(run("x131_sampled_quantiles"))
      assert(viaHistogram === viaTakeOrdered,
        "histogram rank refinement diverged from TakeOrdered")
    } finally {
      spark.conf.unset("spark.graft.quantile.takeOrderedCap")
      spark.catalog.clearCache()
    }
  }

  test("x137: the conformal threshold IS the k-th nonconformity and coverage sits in the binomial band") {
    val r = run("x137_conformal_gate").head()
    val (nCal, k) = (r.getAs[Long]("n_cal"), r.getAs[Long]("k_rank"))
    assert(k === (9L * (nCal + 1) + 9) / 10, "rank arithmetic drifted")
    // re-derive the threshold independently: the (n-k+1)-th smallest
    // calibration-good score under the same x108 frame
    val scored = Queries.byName("x108_nb_quality_classifier").run(spark, sf)
      .filter(col("doc_id") % 2 === 0 && col("label_good"))
      .select(col("score_nanos")).collect().map(_.getLong(0)).sorted
    assert(scored.length.toLong === nCal)
    assert(r.getAs[Long]("thr_nanos") === scored((nCal - k).toInt),
      "threshold is not the defining order statistic")
    // coverage: exact ppm law + a generous 4-sigma binomial band around 90%
    val (g, ga) = (r.getAs[Long]("n_good"), r.getAs[Long]("n_good_accepted"))
    assert(r.getAs[Long]("coverage_ppm") === (2 * ga * 1000000L + g) / (2 * g))
    val sigma = math.sqrt(0.9 * 0.1 / g)
    assert(math.abs(ga.toDouble / g - 0.9) <= 4 * sigma + 1.0 / g,
      s"coverage ${ga.toDouble / g} outside the 4-sigma band around 0.9")
  }

  test("x136: held-out cross-entropy is the exact weighted mean of per-bigram nanos") {
    val rows = run("x136_lm_holdout_ppl").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, tot, x) = (r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("total_nll_nanos"), r.getAs[Long]("xent_nanos"))
      assert(n > 0 && tot > 0, "degenerate test fold")
      assert(x === (2 * tot + n) / (2 * n), "xent is not the half-up mean")
      // add-one smoothing bounds: every bigram nll is in (0, ln((c1+V)/1)]
      // so the mean sits strictly inside (0, ln(2V)*1e9) for any corpus
      assert(x > 0 && x < math.log(2e12) * 1e9, "xent outside smoothing bounds")
    }
  }

  test("x139: nDCG@10 re-derived from x58's ranking and raw term containment") {
    val rows = run("x139_retrieval_ndcg").collect().map(r =>
      r.getAs[Int]("k") -> r).toMap
    // monotone laws: dcg and idcg grow with k, ndcg stays in (0, 1e6]
    assert(rows(5).getAs[Long]("dcg") <= rows(10).getAs[Long]("dcg"))
    assert(rows(10).getAs[Long]("dcg") <= rows(20).getAs[Long]("dcg"))
    rows.values.foreach { r =>
      assert(r.getAs[Long]("dcg") <= r.getAs[Long]("idcg"), "DCG exceeds ideal")
      val n = r.getAs[Long]("ndcg_ppm")
      assert(n > 0 && n <= 1000000L, s"ndcg_ppm $n outside (0, 1e6]")
    }
    // full independent recomputation of nDCG@10: ranking from x58 (the
    // separately-registered top-50 of the same scorer), relevance from a
    // spec-local scan of raw token containment, weights re-typed here
    val w = Seq(1000000000L, 630929754L, 500000000L, 430676558L, 386852807L,
      356207187L, 333333333L, 315464877L, 301029996L, 289064826L)
    val terms = Set("dup", "vector", "join")
    val rel = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").toSet.count(terms.contains).toLong).toMap
    val top10 = run("x58_bm25_retrieval").collect()
      .sortBy(r => (-r.getAs[Long]("bm25_micros"), r.getAs[Long]("doc_id")))
      .take(10).map(_.getAs[Long]("doc_id"))
    val dcg = top10.zip(w).map { case (d, wt) => rel(d) * wt }.sum
    val idcg = rel.values.toSeq.sortBy(-_).take(10).zip(w)
      .map { case (g, wt) => g * wt }.sum
    assert(rows(10).getAs[Long]("dcg") === dcg, "DCG@10 diverges from the re-derivation")
    assert(rows(10).getAs[Long]("idcg") === idcg, "IDCG@10 diverges from the re-derivation")
    assert(rows(10).getAs[Long]("ndcg_ppm") === (2 * dcg * 1000000L + idcg) / (2 * idcg))
  }

  test("x140: fold-0/alpha-1 out-of-fold accuracy matches a from-scratch Scala NB") {
    val out = run("x140_cv_model_select").collect()
    assert(out.length === 10, "2 alphas x 5 folds expected")
    out.foreach { r =>
      val (n, c) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_correct"))
      assert(c <= n && n > 0)
      assert(r.getAs[Long]("acc_ppm") === (2 * c * 1000000L + n) / (2 * n))
    }
    // independent recomputation, pure Scala (no Spark SQL anywhere):
    // train NB on folds 1-4, score fold 0, alpha = 1
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq, r.getLong(2) >= 150))
    def nano(x: Double): Long =
      BigDecimal(x * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val vocab = docs.flatMap(_._2).toSet.size.toLong
    val train = docs.filter(d => d._1 % 5 != 0)
    val cg = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cb = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    train.foreach { case (_, tk, lbl) =>
      tk.foreach(t => if (lbl) cg(t) += 1 else cb(t) += 1) }
    val (g, b) = (cg.values.sum, cb.values.sum)
    val (gd, bd) = (train.count(_._3).toLong, train.count(!_._3).toLong)
    val prior = nano(math.log(gd.toDouble / (gd + bd)) - math.log(bd.toDouble / (gd + bd)))
    // score ALL corpus tokens through the fold-complement model (vocab is
    // full-corpus, matching the documented V choice)
    val allVocab = docs.flatMap(_._2).toSet
    val lo = allVocab.iterator.map(t => t ->
      nano(math.log((cg(t) + 1).toDouble / (g + vocab)) -
        math.log((cb(t) + 1).toDouble / (b + vocab)))).toMap
    val fold0 = docs.filter(_._1 % 5 == 0)
    val correct = fold0.count { case (_, tk, lbl) =>
      ((prior + tk.map(lo).sum) > 0) == lbl }.toLong
    val row = out.find(r => r.getAs[Int]("alpha") == 1 && r.getAs[Long]("fold") == 0L).get
    assert(row.getAs[Long]("n_docs") === fold0.length.toLong)
    assert(row.getAs[Long]("n_correct") === correct,
      "engine OOF accuracy diverges from the from-scratch NB")
  }

  test("qs27: the streamed conformal threshold IS the defining order statistic (x137 law, ppm grid)") {
    val r = run("qs27_stream_conformal").head()
    val (nCal, k) = (r.getAs[Long]("n_cal"), r.getAs[Long]("k_rank"))
    assert(k === (9L * (nCal + 1) + 9) / 10, "rank arithmetic drifted")
    // independent batch recomputation: per-doc scores via a spec-local
    // expression (no histogram, no streaming), sorted on the driver
    val stop = graft.operators.TextConstants.stopwords.toSet
    val scored = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("n_chars")).collect()
      .map { row =>
        val tk = row.getString(1).split(" ", -1)
        val (n, u, st) = (tk.length.toLong, tk.toSet.size.toLong,
          tk.count(stop.contains).toLong)
        val score = ((u + n - st) * 2000000L + 2 * n) / (4 * n)
        (row.getLong(0), score, row.getLong(2) >= 150)
      }
    val calGood = scored.filter(d => d._1 % 2 == 0 && d._3).map(_._2).sorted
    assert(calGood.length.toLong === nCal)
    val expThr = if (k > nCal) -1L else calGood((nCal - k).toInt)
    assert(r.getAs[Long]("thr_ppm") === expThr, "threshold is not the defining order statistic")
    val test0 = scored.filter(d => d._1 % 2 != 0)
    assert(r.getAs[Long]("n_good_accepted") ===
      test0.count(d => d._3 && d._2 >= expThr).toLong)
    assert(r.getAs[Long]("n_bad_accepted") ===
      test0.count(d => !d._3 && d._2 >= expThr).toLong)
  }

  test("x141: the whole ladder re-derived with EXACT span strings (no hashes) matches every row") {
    val out = run("x141_span_ladder").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("max_dup_span"), r.getAs[Long]("n_spans_at_max"))).toMap
    // independent recomputation in pure Scala over the RAW strings — the
    // engine's md5 keys are an implementation detail; true substring
    // equality is the semantics, and this is where it gets checked
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val expected = scala.collection.mutable.Map.empty[Long, (Int, Long)]
      .withDefaultValue((0, 0L))
    for (l <- Seq(8, 16, 32, 64, 128, 256)) {
      val byDoc = docs.map { case (id, tk) =>
        id -> tk.sliding(l).filter(_.length == l).map(_.mkString(" ")).toSet }
      val df = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      byDoc.foreach { case (_, ks) => ks.foreach(k => df(k) += 1) }
      byDoc.foreach { case (id, ks) =>
        val hits = ks.count(k => df(k) >= 2)
        if (hits > 0) expected(id) = (l, hits.toLong) // ladder ascends: last wins
      }
    }
    assert(out.size === docs.length)
    val mismatches = docs.map(_._1).filter(id => out(id) != expected(id))
    assert(mismatches.isEmpty,
      s"ladder diverges for docs ${mismatches.take(5).map(id => s"$id: engine=${out(id)} expected=${expected(id)}")}")
    assert(expected.values.exists(_._1 > 0), "no shared spans in the fixture — assertions vacuous")
  }

  test("x142: removal counts equal the x17/x36 decisions; token shares and quality means re-derive") {
    val out = run("x142_dedup_impact").collect()
    val clusters = run("x17_dedup_clusters").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val keepers = run("x36_cluster_canon").collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("keep_id")).toMap
    val removedIds = clusters.filter { case (d, c) => keepers(c) != d }.map(_._1).toSet
    // the report's total removals ARE the pipeline's decisions
    assert(out.map(_.getAs[Long]("n_removed")).sum === removedIds.size.toLong,
      "report removals diverge from the x17/x36 decision set")
    assert(removedIds.nonEmpty, "no removals in the fixture — assertions vacuous")
    // per-source laws: share and means re-derive from the raw docs
    val stop = graft.operators.TextConstants.stopwords.toSet
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map { r =>
        val tk = r.getString(2).split(" ", -1)
        val (n, u, st) = (tk.length.toLong, tk.toSet.size.toLong,
          tk.count(stop.contains).toLong)
        (r.getLong(0), r.getString(1), n, ((u + n - st) * 2000000L + 2 * n) / (4 * n))
      }
    out.foreach { r =>
      val src = r.getAs[String]("source")
      val mine = docs.filter(_._2 == src)
      val rm = mine.filter(d => removedIds(d._1))
      val kept = mine.filterNot(d => removedIds(d._1))
      assert(r.getAs[Long]("n_docs") === mine.length.toLong)
      assert(r.getAs[Long]("tokens_removed") === rm.map(_._3).sum)
      val tt = mine.map(_._3).sum
      assert(r.getAs[Long]("removed_share_ppm") === (2 * rm.map(_._3).sum * 1000000L + tt) / (2 * tt))
      if (kept.nonEmpty)
        assert(r.getAs[Long]("kept_quality_ppm") ===
          (2 * kept.map(_._4).sum + kept.length) / (2L * kept.length))
      if (rm.nonEmpty)
        assert(r.getAs[Long]("removed_quality_ppm") ===
          (2 * rm.map(_._4).sum + rm.length) / (2L * rm.length))
    }
  }

  test("x143: the probe ladder re-derived from scratch in pure Scala (index, probes, recall)") {
    val out = run("x143_ivf_probe_ladder").collect()
      .map(r => r.getAs[Int]("nprobe") -> r).toMap
    assert(out.keySet === Set(1, 2, 4, 8))
    // monotone laws: candidates and recall never shrink as probes grow
    for (Seq(a, b) <- Seq(1, 2, 4, 8).sliding(2)) {
      assert(out(a).getAs[Long]("cand_rows") <= out(b).getAs[Long]("cand_rows"))
      assert(out(a).getAs[Long]("hits") <= out(b).getAs[Long]("hits"))
    }
    // from-scratch recomputation: same md5-seeded centroids, nearest-
    // centroid assignment, probe ranking, exact top-10s — no Spark SQL
    val emb = graft.operators.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i)) // sequential = graft_dot
    val nrm = emb.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val corpus = emb.keys.filter(_ >= 5).toSeq
    val cents = corpus.sortBy(id => (md5hex(id.toString), id)).take(16)
    def cos(a: Long, b: Long): Double = dot(emb(a), emb(b)) / (nrm(a) * nrm(b))
    val assign = corpus.map(v =>
      v -> cents.map(c => (cos(v, c), c)).minBy { case (s, c) => (-s, c) }._2).toMap
    val queries = emb.keys.filter(_ < 5).toSeq
    val crank = queries.map(q =>
      q -> cents.sortBy(c => (-cos(q, c), c)).zipWithIndex
        .map { case (c, i) => c -> (i + 1) }.toMap).toMap
    def top10(q: Long, pool: Seq[Long]): Seq[Long] =
      pool.sortBy(v => (-cos(q, v), v)).take(10)
    val truth = queries.map(q => q -> top10(q, corpus).toSet).toMap
    for (p <- Seq(1, 2, 4, 8)) {
      val cand = queries.map(q => q -> corpus.filter(v => crank(q)(assign(v)) <= p)).toMap
      val expCand = cand.values.map(_.size.toLong).sum
      val expHits = queries.map(q => top10(q, cand(q)).count(truth(q))).sum.toLong
      assert(out(p).getAs[Long]("cand_rows") === expCand, s"cand_rows diverge at p=$p")
      assert(out(p).getAs[Long]("hits") === expHits, s"hits diverge at p=$p")
      val (nq, nc) = (queries.size.toLong, corpus.size.toLong)
      assert(out(p).getAs[Long]("cand_share_ppm") ===
        (2 * expCand * 1000000L + nq * nc) / (2 * nq * nc))
      assert(out(p).getAs[Long]("recall_ppm") ===
        (2 * expHits * 1000000L + 10 * nq) / (2 * 10 * nq))
    }
  }

  test("x144: the Mann-Whitney test re-derived from scratch (midranks, ties, exact 49/25 gate)") {
    val out = run("x144_rank_sum_drift").collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val stop = graft.operators.TextConstants.stopwords.toSet
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map { r =>
        val tk = r.getString(1).split(" ", -1)
        val (n, u, st) = (tk.length.toLong, tk.toSet.size.toLong,
          tk.count(stop.contains).toLong)
        (r.getString(0), ((u + n - st) * 2000000L + 2 * n) / (4 * n))
      }
    val bigN = docs.length.toLong
    val pooled = docs.groupBy(_._2).map { case (v, xs) => v -> xs.length.toLong }
    val sortedVals = pooled.keys.toSeq.sorted
    val cum = sortedVals.scanLeft(0L)((acc, v) => acc + pooled(v)).init
    val mid2 = sortedVals.zip(cum).map { case (v, c) => v -> (2 * c + pooled(v) + 1) }.toMap
    val ties = pooled.values.map(t => BigInt(t) * t * t - t).sum
    val k = (BigInt(bigN) + 1) * BigInt(bigN) * (BigInt(bigN) - 1) - ties
    assert(k > 0, "degenerate fixture: all scores tied")
    var anySig = false
    for ((src, rows) <- docs.groupBy(_._1)) {
      val ns = rows.length.toLong
      val r2 = rows.map(d => BigInt(mid2(d._2))).sum
      val u2d = r2 - BigInt(ns) * (ns + 1)
      val nsnr = BigInt(ns) * (bigN - ns)
      val dev = u2d - nsnr
      val num = dev * dev * 3 * bigN * (bigN - 1)
      val z2ppm = (2 * num * 1000000 + nsnr * k) / (2 * nsnr * k)
      val sig = 625 * num >= 2401 * nsnr * k
      anySig ||= sig
      val row = out(src)
      assert(row.getAs[Long]("n_docs") === ns)
      assert(BigInt(row.getAs[Long]("u2")) === u2d, s"$src: u2 diverges")
      assert(BigInt(row.getAs[Long]("z2_ppm")) === z2ppm, s"$src: z2_ppm diverges")
      assert(row.getAs[Boolean]("significant") === sig, s"$src: gate diverges")
    }
    assert(out.size === docs.map(_._1).distinct.length)
  }

  test("x144: the oracle-parity headroom guard fails loud past the configured N bound") {
    // the DuckDB oracle's HUGEINT z² numerator overflows near N≈2.7e5;
    // the engine must fail FIRST with an attributed message, not let the
    // oracle raise a confusing arithmetic error (r10 ADVICE). Lower the
    // conf so a tiny fixture crosses it.
    val s = spark
    import s.implicits._
    val counts = Seq(("a", 10L, 3L), ("b", 11L, 4L)).toDF("source", "score", "c")
    spark.conf.set("spark.graft.ranksum.oracleParityN", "5")
    try {
      val ex = intercept[IllegalArgumentException] {
        graft.operators.RankSum.audit(counts).collect()
      }
      assert(ex.getMessage.contains("HUGEINT headroom"),
        s"the guard must attribute the bound to the oracle: ${ex.getMessage}")
    } finally spark.conf.unset("spark.graft.ranksum.oracleParityN")
    // and at the default bound the same fixture audits fine
    assert(graft.operators.RankSum.audit(counts).collect().length === 2)
  }

  test("x145: tau laws hold and the pair counting re-derives in pure Scala from the two rankings") {
    val r = run("x145_ranker_tau").head()
    val (nc, np) = (r.getAs[Long]("n_common"), r.getAs[Long]("n_pairs"))
    val (c, d) = (r.getAs[Long]("concordant"), r.getAs[Long]("discordant"))
    assert(np === nc * (nc - 1) / 2, "pair count is not n-choose-2")
    assert(c + d <= np && c >= 0 && d >= 0)
    assert(nc >= 2, "degenerate fixture: rankers share fewer than 2 docs")
    val num = c - d
    val expTau = if (np == 0) 0L
      else if (num >= 0) (2 * num * 1000000L + np) / (2 * np)
      else -((2 * (-num) * 1000000L + np) / (2 * np))
    assert(r.getAs[Long]("tau_ppm") === expTau, "tau is not the sign-aware half-away rational")
    // pair counting re-derived driver-side: rebuild the SEMANTIC ranking
    // from raw embeddings in pure Scala (sequential dot = graft_dot) and
    // the lexical one from the hash-gated shared scorer, then count
    // concordant/discordant pairs with plain loops
    val emb = graft.operators.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val qv = emb(0L); val qn = math.sqrt(dot(qv, qv))
    val semRank = emb.keys.filter(_ >= 1).toSeq
      .map(id => id -> dot(qv, emb(id)) / (qn * math.sqrt(dot(emb(id), emb(id)))))
      .sortBy { case (id, cs) => (-cs, id) }.take(100)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val docs = graft.operators.Tables.documents(spark, sf)
      .filter(col("doc_id") >= 1)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val lexRank = graft.operators.Queries.bm25Scores(docs,
      Seq("dup", "vector", "join"))
      .collect().map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("bm25_micros")))
      .sortBy { case (id, s) => (-s, id) }.take(100)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val common = lexRank.keySet.intersect(semRank.keySet).toSeq.sorted
    assert(common.length.toLong === nc, "common-set size diverges")
    var (ec, ed) = (0L, 0L)
    for (i <- common.indices; j <- (i + 1) until common.length) {
      val p = (lexRank(common(i)) - lexRank(common(j))).toLong *
        (semRank(common(i)) - semRank(common(j)))
      if (p > 0) ec += 1 else if (p < 0) ed += 1
    }
    assert(c === ec && d === ed, s"pair counts diverge: engine ($c,$d) vs spec ($ec,$ed)")
  }

  test("x146: removal monotonicity, share normalization, and a float recompute of the fixed point") {
    val out = run("x146_markov_attribution").collect()
    assert(out.nonEmpty)
    val pb = out.head.getAs[Long]("base_conv_ppm")
    out.foreach { r =>
      assert(r.getAs[Long]("base_conv_ppm") === pb, "base prob must be constant across rows")
      assert(r.getAs[Long]("removed_conv_ppm") <= pb,
        "removing a channel must not increase conversion probability")
      assert(r.getAs[Long]("removal_effect_ppm") >= 0)
    }
    val shareSum = out.map(_.getAs[Long]("attribution_ppm")).sum
    assert(math.abs(shareSum - 1000000L) <= out.length,
      s"attribution shares must sum to ~1e6 (got $shareSum)")
    // independent recomputation of the 6-round absorption in plain double
    // arithmetic from raw events (journey build in Scala, no Spark SQL):
    // validates the structure; the integer pipeline's exactness is the
    // oracle's job
    val evs = graft.operators.Tables.eventsRawNs(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val m = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    evs.groupBy(_._1).values.foreach { ue =>
      val ordered = ue.sortBy(e => (e._2, e._3)).map(_._4)
      val cut = ordered.indexOf("purchase")
      val journey = (if (cut >= 0) ordered.take(cut + 1) else ordered)
        .map(t => if (t == "purchase") "CONV" else t)
      m(("START", journey.head)) += 1
      for (w <- journey.sliding(2) if w.length == 2 && w(0) != "CONV")
        m((w(0), w(1))) += 1
      if (journey.last != "CONV") m((journey.last, "NULL")) += 1
    }
    val tot = m.groupBy(_._1._1).map { case (s, es) => s -> es.values.sum.toDouble }
    def solveF(rc: String): Double = {
      val states = tot.keys.toSeq
      var p = states.map(_ -> 0.0).toMap
      for (_ <- 1 to 6) p = states.map { s =>
        s -> (if (s == rc) 0.0 else m.collect { case ((`s`, t), n) =>
          n * (if (t == "CONV") 1.0
               else if (t == "NULL" || t == rc) 0.0
               else p.getOrElse(t, 0.0)) }.sum / tot(s))
      }.toMap
      p("START")
    }
    val fb = solveF("none")
    assert(math.abs(pb - fb * 1e6) <= 2, s"base prob diverges: engine $pb vs float ${fb * 1e6}")
    out.foreach { r =>
      val fc = solveF(r.getAs[String]("channel"))
      assert(math.abs(r.getAs[Long]("removed_conv_ppm") - fc * 1e6) <= 2,
        s"${r.getAs[String]("channel")}: removed prob diverges from the float recompute")
    }
  }

  test("x147: the chi-square audit re-derives from a driver-side md5 bucket rebuild") {
    val out = run("x147_split_balance").collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    def bucket(text: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(h, 16) % 100
    }
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), bucket(r.getString(1))))
    for ((lang, rows) <- docs.groupBy(_._1)) {
      val n = rows.length.toLong
      val tr = rows.count(_._2 < 80).toLong
      val va = rows.count(d => d._2 >= 80 && d._2 < 90).toLong
      val te = rows.count(_._2 >= 90).toLong
      val r = out(lang)
      assert(r.getAs[Long]("n_docs") === n && r.getAs[Long]("o_train") === tr &&
        r.getAs[Long]("o_val") === va && r.getAs[Long]("o_test") === te,
        s"$lang: cell counts diverge from the md5 rebuild")
      val num = BigInt(10 * tr - 8 * n).pow(2) +
        8 * BigInt(10 * va - n).pow(2) + 8 * BigInt(10 * te - n).pow(2)
      assert(BigInt(r.getAs[Long]("chi2_ppm")) === (2 * num * 1000000 + 80 * n) / (2 * 80 * n))
      assert(r.getAs[Boolean]("balanced") === (num * 1000000 < BigInt(5991465) * 80 * n))
      // float cross-check of the algebra: the cleared-denominator form
      // IS Pearson's chi-square
      val chi = math.pow(tr - 0.8 * n, 2) / (0.8 * n) +
        math.pow(va - 0.1 * n, 2) / (0.1 * n) + math.pow(te - 0.1 * n, 2) / (0.1 * n)
      assert(math.abs(r.getAs[Long]("chi2_ppm") - chi * 1e6) <= 2,
        s"$lang: integer statistic diverges from Pearson's formula")
    }
    assert(out.size === docs.map(_._1).distinct.length)
  }

  test("q45: the five real TPC-H dependencies score exactly 10^6; the negative control rejects") {
    val rows = run("q45_inclusion_deps").collect()
      .map(r => r.getAs[String]("dependency") -> r).toMap
    val neg = "orders.o_orderkey->customer.c_custkey"
    val fks = rows.keySet - neg
    assert(fks.size === 5, s"expected 5 real dependencies, got: $fks")
    fks.foreach { k =>
      assert(rows(k).getAs[Long]("containment_ppm") === 1000000L, k)
      assert(rows(k).getAs[Boolean]("is_fk"), k)
    }
    // the deliberate non-dependency must be rejected, and non-vacuously:
    // the profiler really measured partial containment, not an empty set
    val n = rows(neg)
    assert(!n.getAs[Boolean]("is_fk"))
    assert(n.getAs[Long]("containment_ppm") < 1000000L)
    assert(n.getAs[Long]("n_contained") < n.getAs[Long]("n_child_keys"))
  }

  test("x135: a planted cross-split near-dup is flagged; the routed (ANN) leg's flags match the exact leg") {
    val s = spark; import s.implicits._
    // fixture: texts hash into the md5 split buckets exactly as production
    // does; embeddings are mutually-orthogonal one-hots EXCEPT one test
    // doc planted as a near-copy of one train doc (the x138 planted-cut
    // model applied to the embedding space)
    val texts = (0L until 60L).map(i => (i, s"document body number $i")).toDF("doc_id", "text")
    val bucket = texts
      .withColumn("b", pmod(conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("long"), lit(100L)))
      .select("doc_id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainIds = bucket.filter(_._2 < 80).keys.toSeq.sorted
    val testIds = bucket.filter(_._2 >= 90).keys.toSeq.sorted
    assert(trainIds.size >= 20 && testIds.nonEmpty, s"fixture must cover both splits: $bucket")
    val pTrain = trainIds.head
    val pTest = testIds.head
    val dim = 64
    def oneHot(i: Long): Array[Float] = {
      val a = Array.fill(dim)(0.0f); a((i % dim).toInt) = 1.0f; a
    }
    val emb = (0L until 60L).map { i =>
      val v =
        if (i == pTest) { val a = oneHot(pTrain); a((pTest % dim).toInt) = 0.01f; a }
        else oneHot(i)
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val exact = graft.operators.Queries.x135On(spark, texts, emb).collect()
      .map(r => r.getAs[Long]("test_id") -> r).toMap
    assert(exact.values.forall(_.getAs[String]("mode") == "exact"),
      "under the cap every row must carry the 'exact' routing marker")
    assert(exact(pTest).getAs[Boolean]("leaked"),
      "the planted cross-split near-dup must raise the leak flag")
    assert(exact(pTest).getAs[Long]("train_id") === pTrain,
      "the flagged neighbor must be the planted train doc")
    testIds.filterNot(_ == pTest).foreach { t =>
      assert(!exact(t).getAs[Boolean]("leaked"), s"orthogonal test doc $t must not leak")
    }
    // threshold-0 contract: past the cap the IVF-routed leg must agree
    // with the exact leg's verdicts on this fixture
    spark.conf.set("spark.graft.splitleak.broadcastTestCap", "0")
    try {
      val routedDf = graft.operators.Queries.x135On(spark, texts, emb)
      val routedRows = routedDf.collect()
      // the routing-mode marker makes the approximation VISIBLE in the
      // output (r10 ADVICE): a conf flip can never silently pass for the
      // certified-exact audit — it would fail the exact oracle's hash
      assert(routedRows.forall(_.getAs[String]("mode") == "ivf_routed"),
        "past the cap every row must carry the 'ivf_routed' marker")
      val routed = routedRows
        .map(r => r.getAs[Long]("test_id") -> r.getAs[Boolean]("leaked")).toMap
      assert(routed === exact.map { case (k, r) => k -> r.getAs[Boolean]("leaked") },
        "routed leak flags must match the exact leg")
    } finally spark.conf.unset("spark.graft.splitleak.broadcastTestCap")
  }

  test("x148: rank arithmetic holds and the proper split really trains a different scorer than x137's") {
    val r = run("x148_conformal_proper").head()
    val nCal = r.getAs[Long]("n_cal"); val k = r.getAs[Long]("k_rank")
    assert(nCal > 0)
    assert(k === (9L * (nCal + 1) + 9) / 10, "k = ceil(0.9(n+1)) exactly")
    assert(r.getAs[Long]("n_test") ===
      r.getAs[Long]("n_good") + r.getAs[Long]("n_bad"))
    assert(r.getAs[Long]("n_good_accepted") <= r.getAs[Long]("n_good"))
    val (acc, good) = (r.getAs[Long]("n_good_accepted"), r.getAs[Long]("n_good"))
    assert(r.getAs[Long]("coverage_ppm") === (2 * acc * 1000000 + good) / (2 * good))
    // non-vacuity of the inductive split: the fold-trained scorer + its
    // own calibration fold must produce a DIFFERENT threshold than
    // x137's corpus-trained transductive gate on the same corpus —
    // if they coincided, the caveat this operator closes would be moot
    val transductive = run("x137_conformal_gate").head().getAs[Long]("thr_nanos")
    assert(r.getAs[Long]("thr_nanos") !== transductive,
      "proper-split threshold unexpectedly identical to the transductive gate's")
  }

  test("x149: the maintained index serves full top-10s; recall arithmetic exact; truth covers both generations") {
    val rows = run("x149_ivf_delta_add").collect()
    assert(rows.length === 5, "one audit row per query vector")
    rows.foreach { r =>
      assert(r.getAs[Long]("served") === 10L, "probed cells must fill the top-10 at this scale")
      val hits = r.getAs[Long]("hits")
      assert(hits >= 0L && hits <= 10L)
      assert(r.getAs[Long]("recall_ppm") === (2 * hits * 1000000 + 10) / 20)
    }
    // non-vacuity of the DELTA: the maintained index must contain (and
    // the brute truth must be able to rank) delta-generation vectors —
    // at least one query's exact top-10 over base+delta includes a
    // vec_id % 10 == 0 member, else the fixture never exercises the add.
    // Re-derive the exact top-10 from first principles on the raw table.
    val s = spark; import s.implicits._
    val e = graft.operators.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    val top = e.filter(col("vec_id") >= 5).join(broadcast(q))
      .withColumn("cos", expr("graft_dot(qv, v)") / (col("qn") * col("nrm")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("vec_id")).collect().map(_.getLong(0))
    assert(top.exists(_ % 10 == 0),
      "no delta vector in any exact top-10 — the fixture never exercises the delta add")
  }

  test("x88: the clusterCap production path scales k with n; output contract unchanged") {
    // the r9 caveat-to-code conversion: default x88 seeds the frozen 8
    // clusters its oracle replays; spark.graft.semdedup.clusterCap
    // switches to content-addressed stride seeding so k grows ~ n/cap
    // and Sum(|cluster|^2) stays bounded at any corpus size
    val base = run("x88_semdedup").collect()
    val kDefault = base.map(_.getAs[Int]("cluster")).distinct.length
    spark.conf.set("spark.graft.semdedup.clusterCap", "25")
    try {
      val scaled = run("x88_semdedup").collect()
      assert(scaled.length === base.length, "one row per vector, either path")
      val kScaled = scaled.map(_.getAs[Int]("cluster")).distinct.length
      val n = scaled.length
      assert(kScaled > kDefault, s"k must scale past the frozen 8 (got $kScaled)")
      assert(kScaled >= n / 100 && kScaled <= n / 5,
        s"k=$kScaled outside the ~n/cap band for n=$n, cap=25")
      // the drop rule still holds: dropped vectors have at least one dup
      scaled.filter(_.getAs[Boolean]("dropped"))
        .foreach(r => assert(r.getAs[Long]("n_dups") >= 1L))
    } finally {
      spark.conf.unset("spark.graft.semdedup.clusterCap")
      spark.catalog.clearCache()
    }
    // conf validation (r10 ADVICE): cap=0 would null the pmod seed
    // predicate with a wrong-direction failure message; non-numeric
    // surfaced as a raw NumberFormatException — both now fail attributed
    for (bad <- Seq("0", "-3", "eight")) {
      spark.conf.set("spark.graft.semdedup.clusterCap", bad)
      try {
        val ex = intercept[IllegalArgumentException] { run("x88_semdedup").collect() }
        assert(ex.getMessage.contains("clusterCap"), s"cap=$bad: ${ex.getMessage}")
      } finally {
        spark.conf.unset("spark.graft.semdedup.clusterCap")
        spark.catalog.clearCache()
      }
    }
  }

  test("kthSmallestByHistogram: every rank of a skewed fixture matches orderBy+limit") {
    val s = spark; import s.implicits._
    // skewed values (80% mass on one value) — exercises the oversized
    // bucket routing and residual-rank arithmetic
    val vs = ((1 to 80).map(_ => 42.0) ++ (1 to 20).map(i => i * 1.7)).toDF("x")
    for (k <- Seq(1L, 5L, 20L, 50L, 80L, 100L)) {
      val expected = vs.orderBy(col("x")).limit(k.toInt).agg(max(col("x"))).head().getDouble(0)
      assert(Queries.kthSmallestByHistogram(vs, "x", k) === expected, s"k=$k")
    }
  }

  test("x150: the closed-form prefix boundary equals iterative water-filling (20k fuzz) and the plan re-derives from raw docs") {
    // 1. the algorithmic claim, independent of Spark: for weighted
    // water-filling with upper bounds, the saturated set is the prefix
    // named by the max-feasible candidate (sets nested along cap/w order)
    def iterative(w: Map[Int, BigInt], cap: Map[Int, BigInt], b: BigInt): Set[Int] = {
      var capped = Set.empty[Int]
      var changed = true
      while (changed) {
        val bRem = b - capped.toSeq.map(cap).sum
        val wRem = w.keys.toSeq.filterNot(capped).map(w).sum
        val newly = w.keys.filterNot(capped)
          .filter(s => w(s) * bRem >= cap(s) * wRem).toSet
        changed = newly.nonEmpty
        capped ++= newly
      }
      capped
    }
    def prefix(w: Map[Int, BigInt], cap: Map[Int, BigInt], b: BigInt): Set[Int] = {
      val wTot = w.values.sum
      val feasible = w.keys.toSeq.flatMap { s =>
        // toSeq before the sums: mapping a key SET through w/cap would
        // collapse duplicate weight/cap values and corrupt the totals
        val grp = w.keys.toSeq.filter(r => cap(r) * w(s) <= cap(s) * w(r))
        val (cc, cw) = (grp.map(cap).sum, grp.map(w).sum)
        if (w(s) * (b - cc) >= cap(s) * (wTot - cw)) Some((cw, s)) else None
      }
      if (feasible.isEmpty) Set.empty
      else {
        val s = feasible.maxBy(_._1)._2
        w.keys.toSeq.filter(r => cap(r) * w(s) <= cap(s) * w(r)).toSet
      }
    }
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 20000) {
      val n = 1 + rnd.nextInt(8)
      val w = (0 until n).map(i => i -> BigInt(1 + rnd.nextInt(50))).toMap
      val cap = (0 until n).map(i => i -> BigInt(1 + rnd.nextInt(60))).toMap
      val b = BigInt(1 + rnd.nextInt(300))
      assert(iterative(w, cap, b) === prefix(w, cap, b), s"w=$w cap=$cap B=$b")
    }
    // 2. the registered plan re-derives from the raw documents in exact
    // BigInt, including the isqrt weights — and the capping is
    // NON-VACUOUS at this SF (both branches exercised)
    val out = run("x150_capped_mixture").collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
    val nTok = docs.groupBy(_._1).map { case (src, xs) => src -> xs.map(_._2).sum }
    def isqrt(x: BigInt): BigInt = { // exact Newton
      var g = BigInt(math.sqrt(x.toDouble).toLong max 1)
      var prev = BigInt(-1)
      while (g != prev) { prev = g; g = (g + x / g) / 2 }
      while (g * g > x) g -= 1
      while ((g + 1) * (g + 1) <= x) g += 1
      g
    }
    val w = nTok.map { case (s, nt) => s -> isqrt(BigInt(nt) * BigInt(10).pow(12)) }
    val cap = nTok.map { case (s, nt) => s -> BigInt(21 * nt) / 10 }
    val b = 2 * nTok.values.map(BigInt(_)).sum
    val wTot = w.values.sum
    val capped = prefix(w.keys.zipWithIndex.map { case (s, i) => i -> w(s) }.toMap,
      w.keys.zipWithIndex.map { case (s, i) => i -> cap(s) }.toMap, b)
      .map(i => w.keys.toSeq(i))
    // recompute boundary sums for allocations
    val (bcc, bcw) =
      (capped.toSeq.map(cap).sum, capped.toSeq.map(w).sum)
    assert(capped.nonEmpty && capped.size < nTok.size,
      s"fixture must exercise BOTH branches (capped: ${capped.size}/${nTok.size})")
    nTok.keys.foreach { src =>
      val r = out(src)
      assert(BigInt(r.getAs[Long]("weight_micro")) === w(src), s"$src: isqrt weight")
      assert(r.getAs[Boolean]("capped") === capped(src), s"$src: capped flag")
      val expAlloc =
        if (capped(src)) cap(src) else w(src) * (b - bcc) / (wTot - bcw)
      assert(BigInt(r.getAs[Long]("alloc_tokens")) === expAlloc, s"$src: allocation")
    }
    val totalAlloc = out.values.map(r => BigInt(r.getAs[Long]("alloc_tokens"))).sum
    assert(totalAlloc <= b, "allocations must never exceed the budget")
  }

  test("x151: maintained index serves identically to the rebuild, and the delta genuinely moves the stats") {
    val out = run("x151_bm25_stats_ivm").collect()
    assert(out.map(_.getAs[Long]("rank")).toSeq === (1L to 10L),
      "served top-10 carries ranks 1..10")
    assert(out.forall(_.getAs[Boolean]("matches_rebuild")),
      "maintained index must serve bit-identically to the full rebuild")
    // non-vacuity: the combine isn't trivially equal — base-only stats
    // would give DIFFERENT idf integers for every query term, so a
    // combine that dropped the delta could not pass the flag
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val (base, delta) = docs.partition(_._1 % 10 != 0)
    assert(delta.nonEmpty && base.nonEmpty)
    for (term <- Seq("dup", "vector", "join")) {
      def df(xs: Array[(Long, Array[String])]) =
        xs.count(_._2.contains(term)).toLong
      val (dfB, dfF) = (df(base), df(base) + df(delta))
      val (nB, nF) = (base.length.toLong, docs.length.toLong)
      assert(dfB > 0 && dfF > dfB, s"$term: delta must contribute documents")
      def idf(n: Long, d: Long) = (2 * n * 1000000L + d) / (2 * d)
      assert(idf(nB, dfB) !== idf(nF, dfF),
        s"$term: base-only idf must differ from maintained idf")
    }
  }

  test("x152: runs re-derive from a pure-Scala global walk; output is bucketing-invariant (hexChars 1 == 2)") {
    // 1. ground truth: sort the whole corpus by md5(doc_id) in memory and
    // walk it once — the single-threaded run-length pass the distributed
    // bucket-stitch plan must reproduce exactly
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def k(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      h.map(b => f"$b%02x").mkString
    }
    val ordered = docs.map { case (id, src) => (k(id), src) }.sortBy(_._1)
    val runs = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    for ((_, src) <- ordered) {
      if (runs.nonEmpty && runs.last._1 == src)
        runs(runs.length - 1) = (src, runs.last._2 + 1)
      else runs += ((src, 1L))
    }
    val expected = runs.groupBy(_._1).map { case (src, rs) =>
      val lens = rs.map(_._2)
      src -> (lens.sum, lens.size.toLong, lens.max,
        (2 * lens.sum * 1000 + lens.size) / (2 * lens.size))
    }
    val out = run("x152_shuffle_quality").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_runs"),
          r.getAs[Long]("max_run"), r.getAs[Long]("mean_run_milli"))).toMap
    assert(out === expected, "bucket-stitched runs must equal the global walk")
    // 2. bucketing invariance: 16 buckets and 256 buckets give identical
    // output — the partitioning is an implementation detail, not semantics
    spark.conf.set("spark.graft.shuffleaudit.hexChars", "1")
    try {
      val out16 = run("x152_shuffle_quality").collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("n_runs"),
            r.getAs[Long]("max_run"), r.getAs[Long]("mean_run_milli"))).toMap
      assert(out16 === expected, "hexChars=1 (16 buckets) must emit identical rows")
    } finally spark.conf.unset("spark.graft.shuffleaudit.hexChars")
    // 3. the stitch is non-vacuous on this corpus: with 16 buckets there
    // are 15 borders over >400 docs, so at least one same-source chain
    // crosses a border unless every border splits sources — check the
    // raw material: count borders whose two sides share a source
    val byBucket = ordered.groupBy(_._1.substring(0, 1)).toSeq.sortBy(_._1)
    val borderMerges = byBucket.sliding(2).count {
      case Seq((_, a), (_, b)) => a.last._2 == b.head._2
      case _ => false
    }
    assert(borderMerges >= 1,
      "fixture must exercise the cross-border merge (no border chains at 16 buckets)")
  }

  test("x153: the raw arm IS x136, the filter genuinely prunes, and delta is the exact xent difference") {
    val rows = run("x153_filter_ablation").collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(rows.nonEmpty, "no languages in the test fold")
    // 1. cross-query identity: the RAW arm trains on the same x54 train
    // bucket and evals the same test bucket with the same add-one
    // smoothing as x136 — per lang, xent_raw must equal x136's xent
    // bit-for-bit (two independent code paths, one defined quantity)
    val x136Rows = run("x136_lm_holdout_ppl").collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("xent_nanos")).toMap
    rows.foreach { case (lang, r) =>
      assert(r.getAs[Long]("xent_raw_nanos") === x136Rows(lang),
        s"$lang: raw-arm xent diverges from x136's")
      assert(r.getAs[Long]("delta_nanos") ===
        r.getAs[Long]("xent_filtered_nanos") - r.getAs[Long]("xent_raw_nanos"),
        s"$lang: delta is not the exact difference")
      // both arms inside x136's add-one smoothing bounds
      Seq("xent_raw_nanos", "xent_filtered_nanos").foreach { c =>
        val x = r.getAs[Long](c)
        assert(x > 0 && x < math.log(2e12) * 1e9, s"$lang.$c outside smoothing bounds")
      }
    }
    // 2. non-vacuity: the x65 gate must actually remove train-bucket docs
    // (otherwise both arms are the same model and the ablation is a no-op)
    val keep = Queries.byName("x65_lm_quality_filter").run(spark, sf)
      .select(col("doc_id"), col("keep"))
    val removed = graft.operators.Tables.documents(spark, sf)
      .withColumn("b", pmod(conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("long"), lit(100L)))
      .filter(col("b") < 80).join(keep, "doc_id")
      .filter(!col("keep")).count()
    assert(removed > 0, "fixture filter removes nothing - the ablation is vacuous")
    // 3. and the pruning must move at least one lang's held-out xent
    assert(rows.values.exists(_.getAs[Long]("delta_nanos") !== 0L),
      "every delta is zero despite a non-trivial filter")
  }

  test("qs32: the streamed gate equals the per-source rollup of batch x20, flag rule included") {
    val streamed = run("qs32_stream_contamination").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_contaminated"),
          r.getAs[Boolean]("matches_batch"))).toMap
    assert(streamed.nonEmpty)
    assert(streamed.values.forall(_._3), "a drained source row failed its batch cross-check")
    // independent rollup from x20's own per-doc audit (double-ratio rule):
    // the integer 5·shared ≥ max(n,1) spelling must reproduce it doc-for-doc
    val src = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"))
    val x20Roll = Queries.byName("x20_contamination").run(spark, sf)
      .join(src, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nd"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("nc"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("nd"), r.getAs[Long]("nc"))).toMap
    assert(streamed.view.mapValues(v => (v._1, v._2)).toMap === x20Roll,
      "streamed per-source gate diverges from the x20 rollup")
    // non-vacuity: the fixture must contain contaminated docs
    assert(streamed.values.map(_._2).sum > 0, "no contaminated docs in the fixture")
  }

  test("x154: the threshold curve is monotone, anchored to x2 at 0.5, and internally consistent") {
    val rows = run("x154_dedup_threshold_curve").collect()
      .sortBy(_.getAs[Long]("thr_ppm"))
    assert(rows.map(_.getAs[Long]("thr_ppm")).toSeq ===
      Seq(500000L, 600000L, 700000L, 800000L, 900000L))
    // 1. every column is non-increasing in the threshold
    for (c <- Seq("n_pairs", "n_docs_in_pairs", "n_removed_pairwise", "removed_tokens"))
      rows.sliding(2).foreach { case Array(lo, hi) =>
        assert(lo.getAs[Long](c) >= hi.getAs[Long](c), s"$c increases along the ladder")
      }
    // 2. the 0.5 rung IS x2's pair count (the engine's own floor)
    val x2Pairs = run("x2_ngram_jaccard").count()
    assert(rows.head.getAs[Long]("n_pairs") === x2Pairs,
      "rung 0.5 diverges from the registered pair engine")
    assert(x2Pairs > 0, "no pairs in the fixture - the curve is vacuous")
    // 3. internal consistency per rung: removed docs are a subset of
    // affected docs, and affected docs cannot exceed 2 pairs' worth
    rows.foreach { r =>
      assert(r.getAs[Long]("n_removed_pairwise") <= r.getAs[Long]("n_docs_in_pairs"))
      assert(r.getAs[Long]("n_docs_in_pairs") <= 2 * r.getAs[Long]("n_pairs"))
    }
    // 4. the ladder genuinely separates: at least one rung differs from 0.5
    assert(rows.map(_.getAs[Long]("n_pairs")).distinct.length > 1,
      "all rungs equal - the fixture's jac distribution never crosses the ladder")
  }

  test("qs33: the streamed signed-CDC view equals x121's maintained view, retractions included") {
    val streamed = run("qs33_stream_cdc_aggregate").collect()
    assert(streamed.nonEmpty)
    assert(streamed.forall(_.getAs[Boolean]("matches_batch")),
      "a drained row failed its batch cross-check")
    val sMap = streamed.map(r => r.getAs[String]("event_type") ->
      (r.getAs[Long]("n"), r.getAs[Long]("sum_cents"))).toMap
    val x121Map = run("x121_ivm_aggregate").collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_cents"))).toMap
    assert(sMap === x121Map, "streamed view diverges from the batch IVM view")
    // the signed sum genuinely retracted: maintained total == base − del + ins
    val ev = graft.operators.Tables.events(spark, sf)
    val base = ev.count()
    val nDel = ev.filter(col("event_id") % 89 === 0).count()
    val nIns = ev.filter(col("event_id") % 97 === 0 && col("event_id") % 89 =!= 0).count()
    assert(nDel > 0, "no deletes in the fixture - the retraction path is unexercised")
    assert(sMap.values.map(_._1).sum === base - nDel + nIns,
      "maintained row total breaks the generation arithmetic")
  }

  test("qs34: the streamed factorized join view equals q44's maintained view") {
    val streamed = run("qs34_stream_join_view").collect()
    assert(streamed.nonEmpty)
    assert(streamed.forall(_.getAs[Boolean]("matches_batch")),
      "a drained segment failed its batch cross-check")
    val sMap = streamed.map(r => r.getAs[String]("c_mktsegment") ->
      (r.getAs[Long]("n_orders"), r.getAs[Long]("sum_cents"))).toMap
    val q44Map = run("q44_ivm_join").collect()
      .map(r => r.getAs[String]("c_mktsegment") ->
        (r.getAs[Long]("n_orders"), r.getAs[Long]("sum_cents"))).toMap
    assert(sMap === q44Map, "streamed fold diverges from q44's maintained view")
    // the dim-after-fact interleaving is genuinely exercised: late customers
    // (wave 2) must claim orders that arrived in wave 1
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderkey") % 10 =!= 0)
    val lateCust = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_custkey") % 17 === 0)
    assert(ord.join(lateCust, ord("o_custkey") === lateCust("c_custkey")).count() > 0,
      "no base orders reference a late customer - the interleaving is vacuous")
  }

  test("x155: exact apportionment, BigInt full-algorithm recheck, and a drift-following tilt") {
    val rows = run("x155_loss_reweight").collect()
    assert(rows.length > 1, "a single source makes the reweight vacuous")
    // 1. shares sum EXACTLY to their units
    assert(rows.map(_.getAs[Long]("baseline_ppm")).sum === 1000000L)
    assert(rows.map(_.getAs[Long]("tilted_ppm")).sum === 1000000L)
    assert(rows.map(_.getAs[Long]("alloc_tokens")).sum === 1000000000L)
    rows.foreach(r => assert(r.getAs[Long]("delta_ppm") ===
      r.getAs[Long]("tilted_ppm") - r.getAs[Long]("baseline_ppm")))
    // 2. full-algorithm recheck: recompute the tilt + largest-remainder
    // apportionment from (n_tokens, kl_nanos) in BigInt and demand equality
    def apportion(ws: Seq[(String, BigInt)], units: Long): Map[String, Long] = {
      val tot = ws.map(_._2).sum
      val floors = ws.map { case (s, w) => (s, w * units / tot, w * units % tot) }
      val leftover = units - floors.map(_._2.toLong).sum
      val bumped = floors.sortBy { case (s, _, r) => (-r, s) }
        .zipWithIndex.map { case ((s, q, _), i) =>
          s -> (q.toLong + (if (i < leftover) 1L else 0L)) }
      bumped.toMap
    }
    val in = rows.map(r => (r.getAs[String]("source"),
      BigInt(r.getAs[Long]("n_tokens")), r.getAs[Long]("kl_nanos"))).toSeq
    val w0 = in.map { case (s, n, _) => (s, n) }
    val w1 = in.map { case (s, n, kl) => (s, n * (BigInt(1000000000L) + 4 * BigInt(kl))) }
    val expBase = apportion(w0, 1000000L)
    val expTilt = apportion(w1, 1000000L)
    val expAlloc = apportion(w1, 1000000000L)
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      assert(r.getAs[Long]("baseline_ppm") === expBase(s), s"$s baseline diverges")
      assert(r.getAs[Long]("tilted_ppm") === expTilt(s), s"$s tilt diverges")
      assert(r.getAs[Long]("alloc_tokens") === expAlloc(s), s"$s alloc diverges")
    }
    // 3. the tilt follows the drift: tilted/baseline ratio ordering matches
    // kl ordering (cross-multiplied in BigInt, ±1-unit apportionment slack)
    val byKl = in.sortBy(_._3)
    val (loS, hiS) = (byKl.head._1, byKl.last._1)
    if (byKl.head._3 < byKl.last._3) {
      val loB = rows.find(_.getString(0) == loS).get
      val hiB = rows.find(_.getString(0) == hiS).get
      assert(BigInt(hiB.getAs[Long]("tilted_ppm") + 1) * loB.getAs[Long]("baseline_ppm") >=
        BigInt(hiB.getAs[Long]("baseline_ppm")) * (loB.getAs[Long]("tilted_ppm") - 1),
        "max-KL source did not gain share relative to the min-KL source")
    }
    // 4. non-vacuity: the tilt moved at least one share
    assert(rows.exists(_.getAs[Long]("delta_ppm") !== 0L),
      "every delta is zero - the drift signal never moved a share")
  }

  test("x156: IPS/SNIPS off-policy estimates match a BigInt replay of the logs") {
    val rows = run("x156_ips_filter_eval").collect()
    assert(rows.nonEmpty)
    // full-algorithm replay from the raw table: md5 coin, two-tier
    // propensities, candidate gate, ninths-exact sums
    case class A(var nl: Long = 0, var nm: Long = 0, var ips9: BigInt = 0,
      var w9: Long = 0, var tt: Long = 0, var td: Long = 0)
    val acc = scala.collection.mutable.Map.empty[String, A]
    graft.operators.Tables.documents(spark, sf)
      .select(col("source"), col("text"), col("n_chars")).collect().foreach { r =>
        val (src, text, nc) = (r.getString(0), r.getString(1), r.getLong(2))
        val tok = text.split(" ", -1).length.toLong
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes("UTF-8"))
        val hv = md5.take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
        val p0 = if (nc >= 200) 900000L else 100000L
        val logged = BigInt(hv) * 1000000 < BigInt(p0) * BigInt(281474976710656L)
        val target = nc >= 150
        val wn = if (p0 == 900000L) 10L else 90L
        val a = acc.getOrElseUpdate(src, A())
        if (logged) a.nl += 1
        if (logged && target) { a.nm += 1; a.ips9 += BigInt(tok) * wn; a.w9 += wn }
        if (target) { a.tt += tok; a.td += 1 }
      }
    def halfUp(n: BigInt, d: BigInt): Long = ((2 * n + d) / (2 * d)).toLong
    rows.foreach { r =>
      val s = r.getAs[String]("source"); val a = acc(s)
      assert(r.getAs[Long]("n_logged") === a.nl, s"$s n_logged")
      assert(r.getAs[Long]("n_match") === a.nm, s"$s n_match")
      val ips = halfUp(a.ips9, 9)
      assert(r.getAs[Long]("ips_tokens") === ips, s"$s ips_tokens")
      assert(r.getAs[Long]("truth_tokens") === a.tt, s"$s truth_tokens")
      assert(r.getAs[Long]("err_ppm") ===
        halfUp(BigInt((ips - a.tt).abs) * 1000000, BigInt(a.tt max 1)), s"$s err_ppm")
      assert(r.getAs[Long]("snips_mean_milli") ===
        halfUp(a.ips9 * 1000, BigInt(a.w9 max 1)), s"$s snips")
      assert(r.getAs[Long]("truth_mean_milli") ===
        halfUp(BigInt(a.tt) * 1000, BigInt(a.td max 1)), s"$s truth mean")
    }
    // the high-weight (x10 correction) path is genuinely exercised: some
    // logged+target doc sits in the low-propensity tier
    val lowTier = graft.operators.Tables.documents(spark, sf)
      .filter(col("n_chars") >= 150 && col("n_chars") < 200).count()
    assert(lowTier > 0, "no docs in the disagreement band [150,200) - the x10 path is vacuous")
    // the streaming twin drains to the identical estimator (its own
    // matches_batch already gates the cores; this pins the registry rows)
    val qs = run("qs35_stream_ips_eval").collect()
    assert(qs.forall(_.getAs[Boolean]("matches_batch")),
      "a drained source failed the batch estimator cross-check")
    val qsMap = qs.map(r => r.getAs[String]("source") ->
      (r.getAs[Long]("ips_tokens"), r.getAs[Long]("snips_mean_milli"))).toMap
    rows.foreach { r =>
      assert(qsMap(r.getAs[String]("source")) ===
        (r.getAs[Long]("ips_tokens"), r.getAs[Long]("snips_mean_milli")),
        s"${r.getString(0)}: streamed estimate diverges from batch x156")
    }
    // and the estimator is in the right ballpark where the log is dense
    // (IPS is unbiased; with hundreds of logged docs the realized error
    // should sit well under 100%)
    val dense = rows.filter(_.getAs[Long]("n_match") >= 20)
    assert(dense.nonEmpty && dense.forall(_.getAs[Long]("err_ppm") < 1000000L),
      "a dense-log source shows >=100% IPS error - the estimator is broken")
  }

  test("x157: tombstone-masked serve equals the physically rebuilt index, and deletion genuinely changes results") {
    import graft.operators.Queries
    val masked = run("x157_ivf_tombstone_serve").collect()
    assert(masked.nonEmpty)
    // 1. no tombstoned id ever serves
    assert(masked.forall(_.getAs[Long]("vec_id") % 13 != 0L),
      "a tombstoned vector appeared in the masked top-10")
    // 2. the bit-identity theorem, engine-side: rebuild the index over a
    // PHYSICALLY restricted live frame (fresh scan, no mask expression
    // anywhere) under the same frozen centroids — row-for-row equality
    val e = graft.operators.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val base = e.filter(col("vec_id") >= 5)
    val liveOnly = base.filter(col("vec_id") % 13 =!= 0)
      .collect().toSeq // materialize: the rebuild must not share the mask plan
    val liveFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(liveOnly, 4), base.schema)
    val rebuilt = Queries.ivfAdcServe(e, liveFrame,
      Queries.ivfSeedCentroids(base, 16)).collect()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"))
    val mMap = masked.map(r => key(r) -> (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toMap
    val rMap = rebuilt.map(r => key(r) -> (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toMap
    assert(mMap === rMap, "masked serve diverges from the physical rebuild")
    // 3. non-vacuity: the unmasked index (x14) serves at least one
    // tombstoned vector in some top-10 — deletion visibly changes results
    val unmasked = run("x14_ann_ivf").collect()
    assert(unmasked.exists(_.getAs[Long]("vec_id") % 13 === 0L),
      "no tombstoned id in the unmasked top-10s - the mask is unexercised")
  }

  test("x158: cells partition the base, ppm arithmetic is exact, the flag follows the rule") {
    val rows = run("x158_ivf_compaction_audit").collect()
    assert(rows.length > 1 && rows.length <= 16)
    val nBase = graft.operators.Tables.embeddings(spark, sf)
      .filter(col("vec_id") >= 5).count()
    assert(rows.map(_.getAs[Long]("n_codes")).sum === nBase,
      "cells do not partition the base corpus")
    rows.foreach { r =>
      val (n, t) = (r.getAs[Long]("n_codes"), r.getAs[Long]("n_tombstoned"))
      assert(t >= 0 && t <= n)
      val ppm = (2 * (n - t) * 1000000L + n) / (2 * n)
      assert(r.getAs[Long]("live_ppm") === ppm, s"cell ${r.getLong(0)} ppm")
      assert(r.getAs[Long]("reclaim_bytes") === t * 80L)
      assert(r.getAs[Boolean]("rebuild") === (ppm < 800000L), s"cell ${r.getLong(0)} flag")
    }
    assert(rows.map(_.getAs[Long]("n_tombstoned")).sum > 0,
      "no tombstones in the fixture - the audit is vacuous")
  }

  test("x159: the bootstrap CI matches a full BigInt replay of the 32 Poisson resamples") {
    val rows = run("x159_bootstrap_ci").collect()
    assert(rows.nonEmpty)
    val cdf = Seq(367879441L, 735758882L, 919698603L, 981011843L, 996340153L)
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("text")).collect()
    // replay: per (source, b) weighted sums with the identical md5 draws
    val sums = scala.collection.mutable.Map.empty[(String, Int), (BigInt, Long)]
    val nTok = scala.collection.mutable.Map.empty[String, (Long, Long)] // (docs, tokens)
    docs.foreach { r =>
      val (src, id, text) = (r.getString(0), r.getLong(1), r.getString(2))
      val tok = text.split(" ", -1).length.toLong
      val (nd, nt) = nTok.getOrElse(src, (0L, 0L)); nTok(src) = (nd + 1, nt + tok)
      for (b <- 0 until 32) {
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${id}_$b".getBytes("UTF-8"))
        val hv = md5.take(6).foldLeft(0L)((a, x) => (a << 8) | (x & 0xffL))
        val w = cdf.indexWhere(t =>
          BigInt(hv) * 1000000000L < BigInt(t) * BigInt(281474976710656L)) match {
          case -1 => 5L; case k => k.toLong
        }
        val (wt, wn) = sums.getOrElse((src, b), (BigInt(0), 0L))
        sums((src, b)) = (wt + BigInt(tok) * w, wn + w)
      }
    }
    def halfUp(n: BigInt, d: Long): Long = ((2 * n + d) / (2 * BigInt(d))).toLong
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      val means = (0 until 32).map { b =>
        val (wt, wn) = sums((s, b)); (halfUp(wt * 1000, wn max 1L), b)
      }.sorted
      assert(r.getAs[Long]("boot_lo_milli") === means(0)._1, s"$s lo")
      assert(r.getAs[Long]("boot_hi_milli") === means(31)._1, s"$s hi")
      val (nd, nt) = nTok(s)
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("mean_milli") === halfUp(BigInt(nt) * 1000, nd), s"$s mean")
      assert(r.getAs[Long]("boot_lo_milli") <= r.getAs[Long]("boot_hi_milli"))
    }
    // non-vacuity: the resamples genuinely scatter somewhere
    assert(rows.exists(_.getAs[Long]("ci_width_milli") > 0),
      "every CI has zero width - the resampling is vacuous")
  }

  test("x161: the curve matches a pure-Scala string-shingle replay; longer grams only narrow") {
    val rows = run("x161_contamination_curve").collect()
    assert(rows.nonEmpty && rows.length % 3 === 0)
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val ns = Seq(3, 5, 8)
    def shingles(text: String, n: Int): Set[String] = {
      val tk = text.split(" ", -1)
      if (tk.length < n) Set.empty[String] else tk.sliding(n).map(_.mkString(" ")).toSet
    }
    val bench = ns.map(n =>
      n -> docs.filter(_._1 % 97 == 0).flatMap(d => shingles(d._3, n)).toSet).toMap
    val agg = scala.collection.mutable.Map.empty[(String, Int), (Long, Long, Long)]
    var implicationChecked = 0
    for ((id, src, text) <- docs if id % 97 != 0; n <- ns) {
      val sh = shingles(text, n)
      val shared = sh.count(bench(n)).toLong
      // containment: a shared 8-gram contains shared 5- and 3-grams
      if (n == 8 && shared > 0) {
        assert(shingles(text, 5).count(bench(5)) > 0, s"doc $id: 8-gram match without a 5-gram match")
        implicationChecked += 1
      }
      val flag = if (5L * shared >= math.max(sh.size.toLong, 1L)) 1L else 0L
      val (d0, c0, s0) = agg.getOrElse((src, n), (0L, 0L, 0L))
      agg((src, n)) = (d0 + 1, c0 + flag, s0 + shared)
    }
    rows.foreach { r =>
      val k = (r.getAs[String]("source"), r.getAs[Int]("n"))
      val (nd, nc, st) = agg(k)
      assert(r.getAs[Long]("n_docs") === nd, s"$k n_docs")
      assert(r.getAs[Long]("n_contaminated") === nc, s"$k n_contaminated")
      assert(r.getAs[Long]("shared_total") === st, s"$k shared_total")
      assert(r.getAs[Long]("contaminated_ppm") === (2 * nc * 1000000L + nd) / (2 * nd), s"$k ppm")
    }
    // non-vacuity: the curve genuinely narrows somewhere and the
    // implication branch actually fired
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    assert(bySrc.values.exists { rs =>
      val m = rs.map(r => r.getAs[Int]("n") -> r.getAs[Long]("shared_total")).toMap
      m(3) > m(8)
    }, "no source shows a narrowing curve - the n axis is vacuous")
    assert(implicationChecked > 0, "no 8-gram matches anywhere - containment check vacuous")
  }

  test("x162: fertility sums match a driver replay and ratios are exact half-up millis") {
    val rows = run("x162_tokenizer_fertility").collect()
    assert(rows.nonEmpty)
    val re = "[a-zA-Z0-9]+|[^a-zA-Z0-9 ]".r
    val agg = scala.collection.mutable.Map.empty[(String, String), (Long, Long, Long, Long, Long)]
    graft.operators.Tables.documents(spark, sf)
      .select(col("source"), col("lang"), col("text")).collect().foreach { r =>
        val (src, lang, text) = (r.getString(0), r.getString(1), r.getString(2))
        val k = (src, lang)
        val (n0, b0, c0, w0, r0) = agg.getOrElse(k, (0L, 0L, 0L, 0L, 0L))
        agg(k) = (n0 + 1, b0 + text.getBytes("UTF-8").length,
          c0 + text.length, w0 + text.split(" ", -1).length,
          r0 + re.findAllIn(text).length)
      }
    def halfUp(n: Long, d: Long): Long = (2 * n + math.max(d, 1)) / (2 * math.max(d, 1))
    rows.foreach { r =>
      val k = (r.getAs[String]("source"), r.getAs[String]("lang"))
      val (nd, nb, nc, ws, rt) = agg(k)
      assert(r.getAs[Long]("n_docs") === nd && r.getAs[Long]("n_bytes") === nb &&
        r.getAs[Long]("n_chars") === nc && r.getAs[Long]("ws_tokens") === ws &&
        r.getAs[Long]("re_tokens") === rt, s"$k sums")
      assert(r.getAs[Long]("fertility_re_per_kchar") === halfUp(rt * 1000, nc), s"$k fertility")
      assert(r.getAs[Long]("bytes_per_re_token_milli") === halfUp(nb * 1000, rt), s"$k bytes/token")
      assert(r.getAs[Long]("re_per_ws_milli") === halfUp(rt * 1000, ws), s"$k re/ws")
    }
  }

  test("x163: packing accounting is exact and concat-cut dominates the sequence count") {
    val rows = run("x163_packing_efficiency").collect()
    assert(rows.nonEmpty && rows.length % 2 === 0)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val byStrat = rs.map(r => r.getAs[String]("strategy") -> r).toMap
      val a = byStrat("concat_cut"); val b = byStrat("pad_per_doc")
      val total = a.getAs[Long]("total_tokens")
      assert(b.getAs[Long]("total_tokens") === total, s"$lang totals diverge")
      // concat-cut emits exactly ceil(total/256) sequences and can only
      // beat-or-tie per-doc padding (it wastes pad only in the last seq)
      assert(a.getAs[Long]("n_sequences") === (total + 255) / 256, s"$lang concat seqs")
      assert(a.getAs[Long]("n_sequences") <= b.getAs[Long]("n_sequences"), s"$lang domination")
      assert(b.getAs[Long]("frag_docs") === 0L, s"$lang pad strategy fragments")
      Seq(a, b).foreach { r =>
        val ns = r.getAs[Long]("n_sequences")
        assert(r.getAs[Long]("pad_tokens") === ns * 256 - total, s"$lang pad accounting")
        assert(r.getAs[Long]("util_ppm") === (2 * total * 1000000L + ns * 256) / (2 * ns * 256),
          s"$lang util")
      }
      assert(a.getAs[Long]("util_ppm") >= b.getAs[Long]("util_ppm"), s"$lang util order")
    }
    // non-vacuity: fragmentation is the price concat-cut actually pays somewhere
    assert(rows.exists(r => r.getAs[String]("strategy") == "concat_cut" &&
      r.getAs[Long]("frag_docs") > 0), "no fragmented docs - the A/B trade-off is vacuous")
  }

  test("x164: shard accounting matches a driver replay and the finisher algebra is exact") {
    val rows = run("x164_dedup_index_compaction").collect()
    assert(rows.nonEmpty)
    val agg = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect().foreach { r =>
        val (id, text) = (r.getLong(0), r.getString(1))
        if (id % 97 != 0) {
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(text.getBytes("UTF-8"))
          val shard = ((sha(0) & 0xffL)) // first two hex chars = first byte
          val (n0, d0) = agg.getOrElse(shard, (0L, 0L))
          agg(shard) = (n0 + 1, d0 + (if (id % 89 == 0) 1L else 0L))
        }
      }
    rows.foreach { r =>
      val shard = r.getAs[Long]("shard")
      val (np, nt) = agg(shard)
      assert(r.getAs[Long]("n_postings") === np, s"shard $shard postings")
      assert(r.getAs[Long]("n_tombstoned") === nt, s"shard $shard tombstones")
      val live = (2 * (np - nt) * 1000000L + np) / (2 * np)
      assert(r.getAs[Long]("live_ppm") === live, s"shard $shard live_ppm")
      assert(r.getAs[Long]("reclaim_bytes") === nt * 48, s"shard $shard reclaim")
      assert(r.getAs[Boolean]("rebuild") === (live < 800000L), s"shard $shard flag")
    }
    assert(rows.map(_.getAs[Long]("n_postings")).sum ===
      agg.values.map(_._1).sum, "shards do not partition the postings")
  }

  test("x165: the sample is the exact deterministic top-k and is size-biased") {
    val rows = run("x165_priority_sample").collect()
    assert(rows.nonEmpty)
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).length.toLong))
    def md5hv(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"x165_$id".getBytes("UTF-8"))
      d.take(6).foldLeft(0L)((a, x) => (a << 8) | (x & 0xffL))
    }
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      src -> ds.map { case (_, id, nt) =>
        val pri = md5hv(id) / math.max(nt, 1L)
        (pri, id, nt)
      }.sorted.take(10)
    }
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val got = rs.sortBy(_.getAs[Int]("rnk"))
        .map(r => (r.getAs[Long]("pri"), r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens")))
      assert(got.toSeq === expect(src).toSeq, s"$src sample diverges from the replay")
    }
    // size bias: some source's sampled mean tokens exceeds its corpus mean
    val biased = rows.groupBy(_.getAs[String]("source")).exists { case (src, rs) =>
      val all = docs.filter(_._1 == src)
      val sMean = rs.map(_.getAs[Long]("n_tokens")).sum.toDouble / rs.length
      val cMean = all.map(_._3).sum.toDouble / all.length
      all.length > rs.length && sMean > cMean
    }
    assert(biased, "no source shows size bias - the weighting is vacuous")
  }

  test("qs36: the streamed A/B dashboard equals batch x117 row-for-row") {
    val streamed = run("qs36_stream_ab_test").collect()
    assert(streamed.nonEmpty)
    assert(streamed.forall(_.getAs[Boolean]("matches_batch")),
      "a drained event type failed its batch cross-check")
    val key = (r: org.apache.spark.sql.Row) => r.getAs[String]("event_type")
    val pick = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("mean_a_microcents"), r.getAs[Long]("mean_b_microcents"),
        Option(r.getAs[java.lang.Long]("t2_micros")),
        Option(r.getAs[java.lang.Long]("df_micros")),
        r.getAs[Boolean]("significant"))
    val sMap = streamed.map(r => key(r) -> pick(r)).toMap
    val bMap = run("x117_ab_welch").collect().map(r => key(r) -> pick(r)).toMap
    assert(sMap === bMap, "streamed dashboard diverges from batch x117")
    // non-vacuity: the t-statistic actually computed somewhere
    assert(streamed.exists(r => Option(r.getAs[java.lang.Long]("t2_micros")).isDefined),
      "every t2 is null - the test never ran")
  }

  test("x160: count-subtraction LOO equals a physical retrain without the source") {
    val rows = run("x160_loo_attribution").collect()
    assert(rows.length > 1)
    // structural: one shared eval set, one shared baseline, exact deltas
    assert(rows.map(_.getAs[Long]("n_bigrams")).distinct.length === 1,
      "eval set differs across sources")
    assert(rows.map(_.getAs[Long]("xent_full_nanos")).distinct.length === 1)
    rows.foreach(r => assert(r.getAs[Long]("delta_nanos") ===
      r.getAs[Long]("xent_loo_nanos") - r.getAs[Long]("xent_full_nanos")))
    // THE theorem: for the heaviest source, physically retrain the bigram
    // LM on train-minus-s (fresh counts, fresh vocabulary, no subtraction
    // anywhere) and demand the identical held-out xent
    val s = rows.maxBy(_.getAs[Long]("train_tokens")).getAs[String]("source")
    val docs = graft.operators.Tables.documents(spark, sf)
      .withColumn("b", pmod(conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("long"), lit(100L)))
      .select(col("source"), split(col("text"), " ").as("tk"), col("b"))
    val trainLoo = docs.filter(col("b") < 80 && col("source") =!= s)
    val big = trainLoo
      .select(posexplode(expr("slice(tk, 1, size(tk) - 1)")).as(Seq("i", "w1")), col("tk"))
      .select(col("w1"), expr("tk[i + 1]").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val uni = trainLoo
      .select(explode(expr("slice(tk, 1, size(tk) - 1)")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = trainLoo.select(explode(col("tk")).as("w")).distinct().count()
    val scored = docs.filter(col("b") >= 90)
      .select(posexplode(expr("slice(tk, 1, size(tk) - 1)")).as(Seq("i", "w1")), col("tk"))
      .select(col("w1"), expr("tk[i + 1]").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("ct"))
      .join(big, Seq("w1", "w2"), "left").na.fill(0L, Seq("c12"))
      .join(uni, Seq("w1"), "left").na.fill(0L, Seq("c1"))
      .withColumn("nll", expr(
        s"cast(round(-ln(cast(c12 + 1 as double) / (c1 + ${v}L)) * 1e9, 0) as bigint)"))
      .agg(sum(col("ct")).as("nb"),
        sum(expr("cast(ct as decimal(38,0)) * nll")).as("t")).head()
    val xentRetrain = ((2 * BigInt(scored.getDecimal(1).toBigInteger) + scored.getLong(0))
      / (2 * BigInt(scored.getLong(0)))).toLong
    val looRow = rows.find(_.getString(0) == s).get
    assert(looRow.getAs[Long]("xent_loo_nanos") === xentRetrain,
      s"$s: subtraction LOO diverges from the physical retrain")
    // non-vacuity: the attribution separates sources
    assert(rows.map(_.getAs[Long]("delta_nanos")).distinct.length > 1,
      "every source has the identical delta - the attribution is vacuous")
  }

  test("x166: Moore-Lewis selection is a lawful per-lang top-k over honest pool docs") {
    val rows = run("x166_moore_lewis_select").collect()
    assert(rows.nonEmpty)
    // score identity + per-lang rank law: contiguous from 1, ordered by
    // (score asc, doc_id asc)
    rows.foreach(r => assert(r.getAs[Long]("score_nanos") ===
      r.getAs[Long]("xent_filtered_nanos") - r.getAs[Long]("xent_raw_nanos")))
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq === (1 to rs.length),
        s"$lang ranks not contiguous")
      assert(rs.length <= 10, s"$lang returned more than k")
      val keys = sorted.map(r => (r.getAs[Long]("score_nanos"), r.getAs[Long]("doc_id")))
      assert(keys.toSeq === keys.sortBy(identity).toSeq, s"$lang not in (score, doc_id) order")
    }
    // pool-bucket honesty: every selected doc sits in md5(text) mod 100 in
    // [80, 90) — the slice neither arm trained on
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    val pool = graft.operators.Tables.documents(spark, sf)
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("doc_id"), pmod(conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("long"), lit(100L)).as("b")).collect()
    assert(pool.length === ids.size)
    pool.foreach(r => assert(r.getAs[Long]("b") >= 80 && r.getAs[Long]("b") < 90,
      s"doc ${r.getAs[Long]("doc_id")} not in the pool bucket"))
    // non-vacuity: the filtered model genuinely PREFERS some docs (negative
    // scores exist), i.e. the two arms are not the same model
    assert(rows.exists(_.getAs[Long]("score_nanos") < 0),
      "no pool doc scores negative - the selection never separates the arms")
  }

  test("x167: the OLS finisher replays exactly in BigInt and the curve is a real scaling law") {
    val r = run("x167_scaling_curve").head()
    val ns = (1 to 4).map(t => r.getAs[Long](s"n_tok_t$t"))
    assert(ns === ns.sorted && ns.distinct.length === 4, "tiers not strictly nested")
    val xe = (1 to 4).map(t => r.getAs[Long](s"xent_t${t}_nanos"))
    assert(xe.head > xe.last, "8x the data did not reduce held-out xent")
    // full driver replay of the quantized-ln OLS from the emitted inputs
    def qln(v: BigInt): BigInt = BigInt(math.round(math.log(v.toDouble) * 1e9))
    def halfUp(p: BigInt, q: BigInt): BigInt = (2 * p + q) / (2 * q)
    val xs = ns.map(n => qln(BigInt(n)))
    val ys = xe.map(x => qln(BigInt(x)))
    val sx = xs.sum; val sy = ys.sum
    val num = 4 * xs.zip(ys).map { case (a, c) => a * c }.sum - sx * sy
    val den = 4 * xs.map(a => a * a).sum - sx * sx
    val alpha = if (num <= 0) halfUp(-num * 1000000, den) else -halfUp(num * 1000000, den)
    assert(BigInt(r.getAs[Long]("alpha_micro")) === alpha, "alpha does not replay")
    val xp = qln(BigInt(10) * BigInt(ns(3)))
    val pred = halfUp(sy * den + num * (4 * xp - sx), 4 * den)
    assert(BigInt(r.getAs[Long]("pred_ln_xent_10x_nanos")) === pred, "forecast does not replay")
    // the law is non-vacuous: positive decay rate and a forecast below the
    // smallest tier's log-xent
    assert(alpha > 0, "fitted decay rate is non-positive")
    assert(pred < ys.head, "10x forecast not below the smallest tier")
    // x117-style driver-side round-boundary audit: none of the 9 quantized
    // lns sits within 4 ulps of a .5 boundary, so a 1-ulp libm divergence
    // cannot flip any fit input cross-engine
    for (v <- ns.map(BigInt(_)) ++ xe.map(BigInt(_)) :+ (BigInt(10) * BigInt(ns(3)))) {
      val s = math.log(v.toDouble) * 1e9
      val fr = s - math.floor(s)
      assert(math.abs(fr - 0.5) > 4 * math.ulp(s),
        s"quantized ln($v) is boundary-adjacent: scaled=$s")
    }
  }

  test("x168: the greedy-prefix epoch allocation replays exactly and respects the budget") {
    val rows = run("x168_epoch_allocation").collect()
    assert(rows.length > 1)
    val budget = rows.head.getAs[Long]("budget")
    assert(rows.forall(_.getAs[Long]("budget") === budget))
    assert(budget === 3 * rows.map(_.getAs[Long]("tokens")).sum / 2, "budget identity")
    // exact greedy replay from the emitted per-source stats
    val decays = Seq(1000L, 500L, 250L, 125L)
    val cands = rows.flatMap { r =>
      decays.zipWithIndex.map { case (d, i) =>
        (r.getAs[Long]("quality_ppm") * d, r.getAs[String]("source"), i + 1,
          r.getAs[Long]("tokens"))
      }
    }.sortBy { case (m, s, e, _) => (-m, s, e) }
    var cum = 0L
    val admitted = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val effMilli = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    cands.foreach { case (_, s, e, t) =>
      cum += t
      if (cum <= budget) { admitted(s) += 1; effMilli(s) += t * decays(e - 1) }
    }
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      assert(r.getAs[Long]("epochs") === admitted(s), s"$s epochs diverge from greedy replay")
      assert(r.getAs[Long]("tokens_consumed") === r.getAs[Long]("tokens") * admitted(s))
      assert(r.getAs[Long]("eff_tokens_milli") === effMilli(s), s"$s effective tokens diverge")
    }
    // the regime is genuinely data-constrained: the 1.5x budget forces
    // SOME source into repeat epochs, the budget binds (some source is cut
    // short of the full ladder), and spend never exceeds the budget.
    // (epochs >= 1 for every source is NOT a law: a high-quality source's
    // epoch-2 marginal can out-rank a low-quality source's epoch-1.)
    assert(rows.forall(r => r.getAs[Long]("epochs") >= 0 && r.getAs[Long]("epochs") <= 4))
    assert(rows.map(_.getAs[Long]("tokens_consumed")).sum <= budget)
    assert(rows.exists(_.getAs[Long]("epochs") >= 2),
      "no source repeats - the surplus budget was never spent")
    assert(rows.exists(_.getAs[Long]("epochs") < 4),
      "no source was cut - the budget never binds and the allocation is vacuous")
  }

  test("x169: soft-dedup economics replay exactly from x17's clusters and the policies separate") {
    val rows = run("x169_soft_dedup").collect()
    assert(rows.length > 1)
    // exact replay: cluster sizes + min-id reps from x17's own labels
    val labels = run("x17_dedup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bySize = labels.values.groupBy(identity).map { case (c, m) => c -> m.size.toLong }
    val reps = labels.groupBy(_._2).map { case (c, m) => c -> m.keys.min }.values.toSet
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).length.toLong))
    def halfUp(p: Long, q: Long) = (2 * p + q) / (2 * q)
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val z = ds.map { case (_, id, t) =>
        val size = labels.get(id).map(bySize).getOrElse(1L)
        val isRep = !labels.contains(id) || reps.contains(id)
        (t, size, isRep)
      }
      src -> (ds.length.toLong, z.map(_._1).sum,
        z.count(_._3).toLong, z.filter(_._3).map(_._1).sum,
        z.map { case (t, s, _) => t * halfUp(1000L, s) }.sum)
    }
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      val (nd, tn, dh, th, es) = expect(s)
      assert(r.getAs[Long]("n_docs") === nd && r.getAs[Long]("tokens_none") === tn &&
        r.getAs[Long]("docs_hard") === dh && r.getAs[Long]("tokens_hard") === th &&
        r.getAs[Long]("eff_soft_milli") === es, s"$s economics diverge from the replay")
      assert(r.getAs[Long]("hard_ppm") === halfUp(th * 1000000, tn))
      assert(r.getAs[Long]("soft_ppm") === halfUp(es * 1000, tn))
    }
    // non-vacuity: clusters exist (hard removes docs somewhere) and the two
    // policies genuinely price differently somewhere
    assert(rows.exists(r => r.getAs[Long]("docs_hard") < r.getAs[Long]("n_docs")),
      "no source lost a doc to hard dedup - the cluster engine found nothing")
    assert(rows.exists(r => r.getAs[Long]("soft_ppm") !== r.getAs[Long]("hard_ppm")),
      "soft and hard price identically everywhere - the A/B is vacuous")
  }

  test("x170: tier economics replay a pure-Scala BPE training run and reconcile with x80/x96") {
    val rows = run("x170_vocab_size_curve").collect()
    assert(rows.length > 5)
    // pure-Scala trainer: global word counts, 4 rounds of pair argmax by
    // (count desc, l asc, r asc) + greedy non-overlapping left-scan merge
    // — the full algorithm, independent of every engine expression
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
    val wc = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach(_._2.foreach(w => wc(w) = wc.getOrElse(w, 0L) + 1))
    var words: Map[String, Vector[String]] =
      wc.keys.map(w => w -> w.split("").toVector).toMap
    val lensAt = scala.collection.mutable.Map.empty[String, Vector[Long]]
    wc.keys.foreach(w => lensAt(w) = Vector(words(w).length.toLong))
    for (_ <- 1 to 4) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- words; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) = pc.getOrElse((syms(i), syms(i + 1)), 0L) + wc(w)
      val (bl, br) = pc.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
      words = words.map { case (w, syms) =>
        val out = scala.collection.mutable.ArrayBuffer(syms.head)
        for (cur <- syms.tail)
          if (out.last == bl && cur == br) out(out.length - 1) = bl + br
          else out += cur
        w -> out.toVector
      }
      wc.keys.foreach(w => lensAt(w) = lensAt(w) :+ words(w).length.toLong)
    }
    def halfUp(p: Long, q: Long) = (2 * p + q) / (2 * q)
    val bySrc = docs.groupBy(_._1)
    rows.foreach { r =>
      val (s, k) = (r.getAs[String]("source"), r.getAs[Long]("merges_applied").toInt)
      val ws = bySrc(s).map(_._2.length.toLong).sum
      val tk = bySrc(s).map(_._2.map(w => lensAt(w)(k)).sum).sum
      val tp = if (k == 0) 0L else bySrc(s).map(_._2.map(w => lensAt(w)(k - 1)).sum).sum
      assert(r.getAs[Long]("ws_words") === ws && r.getAs[Long]("bpe_tokens") === tk,
        s"$s tier $k diverges from the replay")
      assert(r.getAs[Long]("fertility_micro") === tk * 1000000L / ws)
      assert(r.getAs[Long]("saved_vs_prev_ppm") ===
        (if (k == 0) 0L else halfUp((tp - tk) * 1000000L, tp)))
    }
    // tiers nest: tokens never increase as merges are added, and the
    // corpus-total decrease per tier is strict (x80's totals shrink)
    val bySrcRows = rows.groupBy(_.getAs[String]("source"))
    bySrcRows.values.foreach { rs =>
      val t = rs.sortBy(_.getAs[Long]("merges_applied")).map(_.getAs[Long]("bpe_tokens"))
      assert(t.zip(t.tail).forall { case (a, b) => b <= a }, "a tier increased tokens")
    }
    for (k <- 1 to 4) {
      val tot = (j: Int) => rows.filter(_.getAs[Long]("merges_applied") == j.toLong)
        .map(_.getAs[Long]("bpe_tokens")).sum
      assert(tot(k) < tot(k - 1), s"corpus total did not strictly shrink at tier $k")
    }
    // cross-op reconciliation: tier 4 == x96's per-source encode, and the
    // corpus total at each tier k >= 1 == x80's corpus_syms after round k
    val x96m = run("x96_bpe_compression").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("bpe_tokens")).toMap
    rows.filter(_.getAs[Long]("merges_applied") == 4L).foreach(r =>
      assert(r.getAs[Long]("bpe_tokens") === x96m(r.getAs[String]("source")),
        "tier 4 diverges from x96's encode"))
    val x80m = run("x80_bpe_merges").collect()
      .map(r => r.getAs[Int]("rnd") -> r.getAs[Long]("corpus_syms")).toMap
    for (k <- 1 to 4)
      assert(rows.filter(_.getAs[Long]("merges_applied") == k.toLong)
        .map(_.getAs[Long]("bpe_tokens")).sum === x80m(k),
        s"tier $k corpus total diverges from x80's corpus_syms")
  }

  test("x171: scope economics replay exactly from x17's clusters and cross-source mass is non-vacuous") {
    val rows = run("x171_dedup_scope_ab").collect()
    assert(rows.length > 1)
    val labels = run("x17_dedup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // doc_id -> cluster
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).length.toLong))
    val srcOf = docs.map(d => d._2 -> d._1).toMap
    val gRep = labels.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
    val lRep = labels.toSeq.groupBy { case (id, c) => (c, srcOf(id)) }
      .map { case (k, m) => k -> m.map(_._1).min }
    def halfUp(p: Long, q: Long) = (2 * p + q) / (2 * q)
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val z = ds.map { case (_, id, t) =>
        val keepL = labels.get(id).forall(c => lRep((c, src)) == id)
        val keepG = labels.get(id).forall(c => gRep(c) == id)
        (t, keepL, keepG)
      }
      src -> (ds.length.toLong, z.map(_._1).sum,
        z.count(_._2).toLong, z.filter(_._2).map(_._1).sum,
        z.count(_._3).toLong, z.filter(_._3).map(_._1).sum)
    }
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      val (nd, tt, dl, tl, dg, tg) = expect(s)
      assert(r.getAs[Long]("n_docs") === nd && r.getAs[Long]("tokens_total") === tt &&
        r.getAs[Long]("docs_local") === dl && r.getAs[Long]("tokens_local") === tl &&
        r.getAs[Long]("docs_global") === dg && r.getAs[Long]("tokens_global") === tg,
        s"$s scope economics diverge from the replay")
      assert(r.getAs[Long]("missed_dup_tokens") === tl - tg)
      assert(r.getAs[Long]("missed_ppm") === halfUp((tl - tg) * 1000000L, tt))
      // global can only remove MORE than local (local reps are a superset)
      assert(tg <= tl && dg <= dl)
    }
    // non-vacuity: some component spans sources, so a per-source job
    // genuinely misses duplicate mass — the trade the A/B prices
    assert(rows.map(_.getAs[Long]("missed_dup_tokens")).sum > 0,
      "no cross-source duplicate mass - the scope A/B is vacuous")
    // conservation: every cluster keeps exactly one doc globally
    val nClusters = labels.values.toSet.size.toLong
    val nSingle = docs.length - labels.size.toLong
    assert(rows.map(_.getAs[Long]("docs_global")).sum === nClusters + nSingle,
      "global scope does not keep exactly one representative per component")
  }

  test("x172: drop-vs-excise economics replay from raw text and the trade is genuinely two-sided") {
    val rows = run("x172_contamination_excision").collect()
    assert(rows.length > 1)
    // pure-Scala replay: positional 3-shingles, benchmark set, coverage
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1)))
    def shingles(tk: Array[String]): Seq[(Int, String)] =
      if (tk.length < 3) Seq.empty
      else (0 to tk.length - 3).map(i => (i, s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}"))
    val bench = docs.filter(_._1 % 97 == 0).flatMap(d => shingles(d._3).map(_._2)).toSet
    def halfUp(p: Long, q: Long) = (2 * p + q) / (2 * q)
    case class D(nt: Long, covered: Long, flagged: Boolean, contaminated: Boolean)
    val per = docs.filter(_._1 % 97 != 0).map { case (_, src, tk) =>
      val sh = shingles(tk)
      val hits = sh.filter(p => bench.contains(p._2))
      val covered = hits.flatMap(p => Seq(p._1, p._1 + 1, p._1 + 2)).toSet.size.toLong
      val nShared = hits.map(_._2).toSet.size.toLong
      val nSh = sh.map(_._2).toSet.size.toLong
      src -> D(tk.length.toLong, covered, 5 * nShared >= math.max(nSh, 1L), nShared > 0)
    }
    val expect = per.groupBy(_._1).map { case (src, ds) =>
      val z = ds.map(_._2)
      src -> (z.length.toLong, z.map(_.nt).sum, z.count(_.contaminated).toLong,
        z.count(_.flagged).toLong, z.map(_.covered).sum,
        z.filterNot(_.flagged).map(_.nt).sum, z.map(d => d.nt - d.covered).sum)
    }
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      val (nd, tt, cd, fd, cv, td, te) = expect(s)
      assert(r.getAs[Long]("n_docs") === nd && r.getAs[Long]("tokens_total") === tt &&
        r.getAs[Long]("contaminated_docs") === cd && r.getAs[Long]("flagged_docs") === fd &&
        r.getAs[Long]("covered_tokens") === cv && r.getAs[Long]("tokens_drop") === td &&
        r.getAs[Long]("tokens_excise") === te,
        s"$s excision economics diverge from the replay")
      assert(r.getAs[Long]("excise_gain_tokens") === te - td)
      assert(r.getAs[Long]("excised_share_ppm") === halfUp(cv * 1000000L, tt))
    }
    // non-vacuity: contamination exists and the policies genuinely differ
    assert(rows.exists(_.getAs[Long]("contaminated_docs") > 0),
      "no contaminated docs - the A/B is vacuous")
    assert(rows.exists(r => r.getAs[Long]("excise_gain_tokens") !== 0L),
      "drop and excise price identically everywhere - the A/B is vacuous")
  }

  test("x173: banding curve replays the md5+LCG signature exactly; nesting makes the rungs monotone") {
    val rows = run("x173_lsh_band_curve").collect().sortBy(_.getAs[Long]("bands"))
    assert(rows.length === 4)
    // pure-Scala replay of the whole instrument: shingles -> one md5 per
    // shingle -> 16 LCG permutations -> band keys per (b, r) -> candidate
    // sets -> recall/precision vs an exact Jaccard >= 0.5 truth
    val M = 2147483647L
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val shSets = docs.map { case (id, tk) =>
      id -> (if (tk.length < 3) Set.empty[String]
             else (0 to tk.length - 3).map(i => s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}").toSet)
    }.filter(_._2.nonEmpty)
    val sigs = shSets.map { case (id, sh) =>
      val hm = sh.toSeq.map(s => java.lang.Long.parseLong(md5hex(s).take(12), 16) % M)
      id -> graft.operators.Queries.x173Perms.map { case (a, b) =>
        hm.map(h => (a * h + b) % M).min
      }
    }.toMap
    val truth = shSets.flatMap { case (ida, sa) =>
      shSets.collect { case (idb, sb) if ida < idb =>
        val inter = (sa & sb).size
        (ida, idb, inter.toDouble / (sa.size + sb.size - inter))
      }
    }.filter(_._3 >= 0.5).map(t => (t._1, t._2)).toSet
    def halfUp(p: Long, q: Long) = (2 * p + q) / (2 * q)
    var prevCand = Set.empty[(Long, Long)]
    rows.foreach { r =>
      val (b, rpb) = (r.getAs[Long]("bands").toInt, r.getAs[Long]("rpb").toInt)
      val byKey = sigs.toSeq.flatMap { case (id, sig) =>
        (0 until b).map(i => (i, sig.slice(i * rpb, i * rpb + rpb).mkString("_")) -> id)
      }.groupBy(_._1)
      val cand = byKey.values.flatMap { m =>
        val ids = m.map(_._2).sorted
        for (x <- ids; y <- ids if x < y) yield (x, y)
      }.toSet
      val found = (cand & truth).size.toLong
      assert(r.getAs[Long]("n_candidates") === cand.size.toLong &&
        r.getAs[Long]("n_true_found") === found &&
        r.getAs[Long]("n_truth") === truth.size.toLong,
        s"banding ($b, $rpb) diverges from the replay")
      assert(r.getAs[Long]("recall_ppm") === halfUp(found * 1000000L, math.max(truth.size, 1)))
      assert(r.getAs[Long]("precision_ppm") === halfUp(found * 1000000L, math.max(cand.size, 1)))
      // aligned-doubling nesting: every coarser banding's candidates
      // survive into the next rung, so volume and recall are monotone
      assert(prevCand.subsetOf(cand), s"banding ($b, $rpb) lost a coarser rung's candidate")
      prevCand = cand
    }
    // cross-op: the truth denominator is exactly x2's pair count
    assert(rows.head.getAs[Long]("n_truth") === run("x2_ngram_jaccard").count(),
      "truth side diverges from x2's exact pair engine")
    // the curve genuinely trades: the loosest rung pays more candidates
    assert(rows.last.getAs[Long]("n_candidates") > rows.head.getAs[Long]("n_candidates"),
      "no volume/precision trade across bandings - the curve is vacuous")
  }

  test("x174: the 1.5x rung IS x168's allocation; the curve is monotone and the shadow price falls") {
    val rows = run("x174_budget_sensitivity").collect().sortBy(_.getAs[Long]("budget_milli"))
    assert(rows.length === 5)
    // cross-op identity: the 1500-milli rung aggregates exactly x168's
    // per-source allocation (same keep gate, same marginals, same greedy
    // prefix) — the sweep adds rungs, it must not change the algebra
    val x168 = run("x168_epoch_allocation").collect()
    val r15 = rows.find(_.getAs[Long]("budget_milli") === 1500L).get
    assert(r15.getAs[Long]("n_admitted") === x168.map(_.getAs[Long]("epochs")).sum)
    assert(r15.getAs[Long]("tokens_consumed") === x168.map(_.getAs[Long]("tokens_consumed")).sum)
    assert(r15.getAs[Long]("eff_tokens_milli") === x168.map(_.getAs[Long]("eff_tokens_milli")).sum)
    assert(r15.getAs[Long]("budget_tokens") === x168.head.getAs[Long]("budget"))
    // a bigger budget never buys less: admitted candidates, consumed and
    // effective tokens are non-decreasing; the shadow price (smallest
    // admitted marginal) is non-increasing; utilization stays <= 1e6
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_admitted") <= b.getAs[Long]("n_admitted"))
      assert(a.getAs[Long]("tokens_consumed") <= b.getAs[Long]("tokens_consumed"))
      assert(a.getAs[Long]("eff_tokens_milli") <= b.getAs[Long]("eff_tokens_milli"))
      assert(a.getAs[Long]("marginal_floor") >= b.getAs[Long]("marginal_floor"))
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("util_ppm") <= 1000000L)
      assert(r.getAs[Long]("tokens_consumed") <= r.getAs[Long]("budget_tokens"))
    }
    // non-vacuity: the sweep genuinely moves the allocation
    assert(rows.head.getAs[Long]("n_admitted") < rows.last.getAs[Long]("n_admitted"),
      "every rung admits the same candidates - the curve is vacuous")
  }

  test("x175: operating-point curve replays a pure-Scala NB model on the held-out bucket") {
    val rows = run("x175_operating_point").collect().sortBy(_.getAs[Long]("thr_nanos"))
    assert(rows.length === 5)
    // full pure-Scala replay: md5 bucket split, sha48-keyed add-one NB
    // model on train, per-doc score on test, confusion at each rung
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sha48(s: String) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString, 16)
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("n_chars")).collect()
      .map { r =>
        val text = r.getString(1)
        val b = java.lang.Long.parseLong(md5hex(text).take(8), 16) % 100
        (b, r.getLong(2) >= 150, text.split(" ", -1))
      }
    val train = docs.filter(_._1 < 80)
    val counts = scala.collection.mutable.Map[Long, (Long, Long)]()
    train.foreach { case (_, lbl, tk) =>
      tk.foreach { t =>
        val h = sha48(t)
        val (cg, cb) = counts.getOrElse(h, (0L, 0L))
        counts(h) = if (lbl) (cg + 1, cb) else (cg, cb + 1)
      }
    }
    val g = counts.values.map(_._1).sum; val b = counts.values.map(_._2).sum
    val v = counts.size
    val gd = train.count(_._2).toLong; val bd = train.length - gd
    def q(x: Double) = BigDecimal(x * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val lo = counts.map { case (h, (cg, cb)) =>
      h -> q(math.log((cg + 1).toDouble / (g + v)) - math.log((cb + 1).toDouble / (b + v)))
    }
    val prior = q(math.log(gd.toDouble / (gd + bd)) - math.log(bd.toDouble / (gd + bd)))
    val test = docs.filter(_._1 >= 80).map { case (_, lbl, tk) =>
      (lbl, tk.length.toLong, prior + tk.map(t => lo.getOrElse(sha48(t), 0L)).sum)
    }
    def halfUp(p: Long, qq: Long) = (2 * p + qq) / (2 * qq)
    rows.foreach { r =>
      val t = r.getAs[Long]("thr_nanos")
      val pred = test.filter(_._3 > t)
      val tp = pred.count(_._1).toLong
      assert(r.getAs[Long]("n_docs") === test.length.toLong)
      assert(r.getAs[Long]("n_pos") === test.count(_._1).toLong)
      assert(r.getAs[Long]("n_pred") === pred.length.toLong, s"n_pred diverges at thr $t")
      assert(r.getAs[Long]("tp") === tp)
      assert(r.getAs[Long]("kept_tokens") === pred.map(_._2).sum)
      assert(r.getAs[Long]("precision_ppm") ===
        halfUp(tp * 1000000L, math.max(pred.length.toLong, 1)))
      assert(r.getAs[Long]("recall_ppm") ===
        halfUp(tp * 1000000L, math.max(test.count(_._1).toLong, 1)))
    }
    // curve laws: selection shrinks as the threshold rises
    rows.sliding(2).foreach { case Array(a, c) =>
      assert(a.getAs[Long]("n_pred") >= c.getAs[Long]("n_pred"))
      assert(a.getAs[Long]("recall_ppm") >= c.getAs[Long]("recall_ppm"))
      assert(a.getAs[Long]("kept_tokens") >= c.getAs[Long]("kept_tokens"))
    }
    // non-vacuity: the model genuinely separates — somewhere on the curve
    // precision exceeds the base rate while keeping a nonempty selection
    val base = halfUp(test.count(_._1).toLong * 1000000L, math.max(test.length.toLong, 1))
    assert(rows.exists(r => r.getAs[Long]("n_pred") > 0 &&
      r.getAs[Long]("precision_ppm") > base),
      "no threshold beats the base rate - the operating curve selects nothing")
  }

  test("qs41: the streaming dashboard's drain hash-gates against batch x175 at every rung") {
    val rows = run("qs41_stream_operating_point").collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getAs[Boolean]("matches_batch")),
      "a drained threshold row diverges from the batch curve")
  }

  test("x176: the 256 rung IS x163; packing laws hold at every length") {
    val rows = run("x176_seqlen_curve").collect()
    // cross-op identity: the 256 rung must equal x163 row-for-row (same
    // offset frame, same strategies — the sweep adds lengths, nothing else)
    val r256 = rows.filter(_.getAs[Long]("seq_len") === 256L)
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("strategy"),
        r.getAs[Long]("n_sequences"), r.getAs[Long]("pad_tokens"),
        r.getAs[Long]("util_ppm"), r.getAs[Long]("frag_docs"))).toSet
    val x163 = run("x163_packing_efficiency").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("strategy"),
        r.getAs[Long]("n_sequences"), r.getAs[Long]("pad_tokens"),
        r.getAs[Long]("util_ppm"), r.getAs[Long]("frag_docs"))).toSet
    assert(r256 === x163, "the 256 rung diverges from x163")
    // exact packing laws, every (lang, len):
    rows.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("seq_len"))).foreach {
      case ((lang, len), pair) =>
        val cc = pair.find(_.getAs[String]("strategy") == "concat_cut").get
        val pd = pair.find(_.getAs[String]("strategy") == "pad_per_doc").get
        // concat-cut pads only the stratum's final sequence
        assert(cc.getAs[Long]("pad_tokens") < len, s"($lang, $len): concat pad >= L")
        // per-doc ceils can never pack tighter than the concat stream
        assert(pd.getAs[Long]("n_sequences") >= cc.getAs[Long]("n_sequences"))
        assert(pd.getAs[Long]("frag_docs") === 0L)
        assert(cc.getAs[Long]("util_ppm") >= pd.getAs[Long]("util_ppm"))
    }
    // the curve genuinely trades: pad-per-doc waste grows with length
    val pdByLen = rows.filter(_.getAs[String]("strategy") == "pad_per_doc")
      .groupBy(_.getAs[Long]("seq_len")).view
      .mapValues(_.map(_.getAs[Long]("pad_tokens")).sum).toMap
    assert(pdByLen(1024L) > pdByLen(128L),
      "padding does not grow with seq_len - the curve is vacuous")
  }

  test("x177: the incidence-form Good-Turing/Chao forecast replays exactly from string shingles") {
    val rows = run("x177_novelty_forecast").collect()
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def halfUp(p: Long, q: Long) = (2 * p + q) / (2 * q)
    // incidence replay: per doc the DISTINCT 3-shingle set, species
    // counted over documents-as-sampling-units
    val bySrc = docs.groupBy(_._1)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val sets = bySrc(src).map { case (_, text) =>
        val tk = text.split(" ", -1)
        if (tk.length < 3) Set.empty[String]
        else (0 to tk.length - 3).map(i => s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}").toSet
      }
      val inc = sets.flatten.groupBy(identity).map(_._2.length.toLong).toSeq
      val n = inc.sum; val d = inc.length.toLong
      val f1 = inc.count(_ == 1L).toLong; val f2 = inc.count(_ == 2L).toLong
      assert(r.getAs[Long]("n_docs") === bySrc(src).length.toLong)
      assert(r.getAs[Long]("n_incidences") === n, s"$src incidence total diverges")
      assert(r.getAs[Long]("n_distinct") === d)
      assert(r.getAs[Long]("f1") === f1 && r.getAs[Long]("f2") === f2)
      assert(r.getAs[Long]("novelty_ppm") === halfUp(f1 * 1000000L, n))
      assert(r.getAs[Long]("repeat_ppm") === halfUp((n - d) * 1000000L, n))
      assert(r.getAs[Long]("chao_total") === d + (f1 * f1) / (2 * math.max(f2, 1L)))
      // estimator sanity: Chao never estimates below the observed richness
      assert(r.getAs[Long]("chao_total") >= d)
    }
    // non-vacuity: phrases genuinely repeat across documents somewhere,
    // and not everything repeats (the forecast separates sources)
    assert(rows.exists(_.getAs[Long]("repeat_ppm") > 0),
      "no cross-document shingle repetition - the saturation signal is vacuous")
    assert(rows.exists(r => r.getAs[Long]("novelty_ppm") > 0),
      "no singleton shingles - the novelty signal is vacuous")
  }

  test("qs42: the streaming excision dashboard's drain hash-gates against batch x172 per source") {
    val rows = run("qs42_stream_excision").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("matches_batch")),
      "a drained source row diverges from the batch economics")
  }

  test("x178: the tau=1/2 rung IS x150; water-filling laws hold per rung") {
    val rows = run("x178_temperature_curve").collect()
    val byTau = rows.groupBy(_.getAs[Long]("tau_milli"))
    assert(byTau.keySet === Set(250L, 500L, 1000L))
    // cross-op identity: the sqrt rung must equal x150 row-for-row
    val r500 = byTau(500L).map(r => (r.getAs[String]("source"),
      r.getAs[Long]("weight_micro"), r.getAs[Long]("cap_tokens"),
      r.getAs[Long]("alloc_tokens"), r.getAs[Long]("epochs_ppm"),
      r.getAs[Boolean]("capped"))).toSet
    val x150 = run("x150_capped_mixture").collect().map(r => (r.getAs[String]("source"),
      r.getAs[Long]("weight_micro"), r.getAs[Long]("cap_tokens"),
      r.getAs[Long]("alloc_tokens"), r.getAs[Long]("epochs_ppm"),
      r.getAs[Boolean]("capped"))).toSet
    assert(r500 === x150, "the sqrt rung diverges from x150")
    byTau.foreach { case (tau, rs) =>
      val total = rs.map(_.getAs[Long]("n_tokens")).sum
      val budget = 2L * total
      val alloc = rs.map(_.getAs[Long]("alloc_tokens")).sum
      // budget conservation: floors lose < 1 token per source, never overshoot
      assert(alloc <= budget && alloc >= budget - rs.length,
        s"tau=$tau: allocation $alloc vs budget $budget")
      // capped rows sit exactly at their cap; uncapped rows are
      // w-proportional (cross-mult within the floor slack)
      rs.filter(_.getAs[Boolean]("capped")).foreach { r =>
        assert(r.getAs[Long]("alloc_tokens") === r.getAs[Long]("cap_tokens"))
      }
      val un = rs.filterNot(_.getAs[Boolean]("capped"))
        .map(r => (BigInt(r.getAs[Long]("alloc_tokens")), BigInt(r.getAs[Long]("weight_micro"))))
      for (Seq((ai, wi), (aj, wj)) <- un.toSeq.combinations(2))
        assert((ai * wj - aj * wi).abs <= wi + wj,
          s"tau=$tau: uncapped allocations not weight-proportional")
    }
    // non-vacuity: the temperature genuinely moves the allocation
    val v = (t: Long) => byTau(t).map(r =>
      r.getAs[String]("source") -> r.getAs[Long]("alloc_tokens")).toMap
    assert(v(250L) !== v(1000L), "flat and proportional rungs allocate identically")
  }

  test("qs43: the streaming novelty forecast's drain hash-gates against batch x177 per source") {
    val rows = run("qs43_stream_novelty").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("matches_batch")),
      "a drained source row diverges from the batch estimators")
  }
}
