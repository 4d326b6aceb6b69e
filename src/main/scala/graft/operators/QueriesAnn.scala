package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Embedding/ANN queries (SURVEY §2.4): brute-force and two-stage ANN,
  * quantization (int8/PQ), k-means clustering and its consumers
  * (exemplars, outliers, SemDeDup, cohesion), projections/whitening.
  *
  * Split out of the monolithic Queries.scala in r7 (registry unchanged —
  * every member mixes back into [[Queries]], whose self-type these traits
  * require). Members are `private[operators]`; SQL oracles are lazy so
  * cross-trait references are initialization-order-safe.
  */
private[operators] trait QueriesAnn { this: Queries.type =>

  // ---------------------------------------------------------------- X6
  /** Brute-force cosine top-k ANN (query set = vec_id < 5) — the exactness
    * baseline for x7. Ranked over the rounded similarity with unique-key
    * tiebreak so ordering is engine-independent. */
  private[operators] def x6(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.filter(col("vec_id") >= 5)
      .select(col("vec_id"), col("v"), col("nrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id").asc)
    q.join(c)   // broadcast cross: |q| = 5
      .withColumn("dot", expr("graft_dot(qv, v)"))
      .withColumn("cos_sim", round(col("dot") / (col("qn") * col("nrm")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("vec_id"), col("rnk"), col("cos_sim"))
  }

  private[operators] lazy val x6Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |     q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
      |     c AS (SELECT * FROM e WHERE vec_id >= 5)
      |SELECT query_id, vec_id, rnk, cos_sim FROM (
      |  SELECT query_id, vec_id,
      |    round(list_dot_product(qv, v) / (qn * nrm), 6) AS cos_sim,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(list_dot_product(qv, v) / (qn * nrm), 6) DESC, vec_id) AS INT) AS rnk
      |  FROM q, c) t
      |WHERE rnk <= 10""".stripMargin

  // ---------------------------------------------------------------- X7
  /** BINARY-SIGNATURE LSH, two-stage (the Hamming-embedding retrieval
    * shape): 192 random-hyperplane bits per vector, packed into 3 64-bit
    * words. Stage 1 is the only corpus-wide pass and it reads 24-byte
    * codes instead of 512-byte float vectors (21× less memory traffic):
    * per query, rank the corpus by popcount Hamming distance of the packed
    * signatures and keep the top ⌈n/4⌉. Stage 2 exact-re-ranks candidates
    * with float cosine and emits the top-10 — the x29 two-stage recipe
    * with hyperplane bits as the coarse code (recall ≥ 0.9 on the `Dev eq`
    * harness vs 0.40 for the old bucketed 12×6-bit tables: at this
    * corpus's neighbor similarity ~0.3, bucket collision probability
    * p^6 ≈ 0.05 caps bucketed recall; Hamming ranking uses ALL 192 bits
    * of evidence instead of demanding exact 6-bit agreement).
    * ±1 planes derive deterministically from md5(bit_dim) — a hash BOTH
    * engines compute identically, so signatures, Hamming ranks, and top-k
    * all carry a full-algorithm DuckDB oracle. Per-row signatures are 192
    * codegen'd graft_dot kernel calls against literal plane vectors
    * (sequential summation — the same order DuckDB's list_dot_product
    * uses, so both engines see identical IEEE doubles). Candidates carry
    * only ids through the exchange; vectors re-join by id for stage 2. */
  private[operators] lazy val x7SigBits = 192
  private[operators] lazy val x7Words = x7SigBits / 64
  private[operators] lazy val x7Dims = 64

  // plane(b)(d) = +1 iff the first hex char of md5("b_d") ≤ '7' — the
  // matrix lives as static data inside the codegen kernel
  // (FastOps.md5Planes192); the oracle SQL below re-derives it in DuckDB.

  private[operators] def x7(spark: SparkSession, dir: String): DataFrame = {
    // packed signature word w bit j = [dot(v, plane_{64w+j}) > 0] — ONE
    // codegen kernel call with the plane matrix as static data (the
    // spelled-out 192 × 64-literal-array expression tree was ~75 KB of
    // generated code whose compilation dominated the query; the kernel
    // computes the identical sequential-sum dots)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .withColumn("sig", expr("graft_md5_planes192(v)"))
      .persist() // signature scan + stage-2 vector fetch share one read
    // stage 1: ids+codes ONLY through the scan (24 B/row), queries broadcast
    val codes = e.filter(col("vec_id") >= 5).select(col("vec_id"), col("sig"))
    val qcodes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    val ham = (0 until x7Words)
      .map(wd => expr(s"bit_count(sig[$wd] ^ qsig[$wd])"))
      .reduce(_ + _)
    val wc = Window.partitionBy(col("query_id"))
    val w1 = Window.partitionBy(col("query_id")).orderBy(col("ham").asc, col("vec_id").asc)
    val cand = codes.join(broadcast(qcodes))
      .withColumn("ham", ham)
      .withColumn("r1", row_number().over(w1))
      .withColumn("csz", count(lit(1)).over(wc))
      .filter(col("r1") <= ceil(col("csz").cast(DoubleType) / 4))
      .select(col("query_id"), col("vec_id"))
    // stage 2: exact cosine over the ⌈n/4⌉ candidates per query
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id").asc)
    cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")), "query_id")
      .join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .withColumn("cos_sim", round(expr("graft_dot(qv, v)") / (col("qn") * col("nrm")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("vec_id"), col("rnk"), col("cos_sim"))
  }

  /** The full two-stage pipeline in DuckDB: same md5-derived planes, same
    * bits (Hamming counted bitwise — packing is an engine-side layout
    * choice, the COUNT is what the algorithm defines), same ⌈n/4⌉ cut,
    * same exact re-rank. */
  private[operators] lazy val x7Sql =
    s"""WITH planes AS (
      |  SELECT b, list(CASE WHEN substr(md5(b || '_' || d), 1, 1) <= '7'
      |                      THEN 1.0 ELSE -1.0 END ORDER BY d) AS pl
      |  FROM (SELECT unnest(range($x7SigBits)) AS b), (SELECT unnest(range($x7Dims)) AS d)
      |  GROUP BY b),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |      FROM embeddings),
      |bits AS (
      |  SELECT e.vec_id, p.b, (list_dot_product(e.v, p.pl) > 0) AS s
      |  FROM e, planes p),
      |ham AS (
      |  SELECT q.vec_id AS query_id, c.vec_id,
      |         sum(CASE WHEN q.s <> c.s THEN 1 ELSE 0 END) AS h
      |  FROM bits q JOIN bits c ON q.b = c.b
      |  WHERE q.vec_id < 5 AND c.vec_id >= 5
      |  GROUP BY 1, 2),
      |cand AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY h, vec_id) AS r1,
      |      count(*) OVER (PARTITION BY query_id) AS csz
      |    FROM ham) z
      |  WHERE r1 <= ceil(CAST(csz AS DOUBLE) / 4))
      |SELECT query_id, vec_id, rnk, cos_sim FROM (
      |  SELECT cand.query_id, cand.vec_id,
      |    round(list_dot_product(qe.v, ce.v) / (qe.nrm * ce.nrm), 6) AS cos_sim,
      |    CAST(row_number() OVER (PARTITION BY cand.query_id
      |      ORDER BY round(list_dot_product(qe.v, ce.v) / (qe.nrm * ce.nrm), 6) DESC, cand.vec_id) AS INT) AS rnk
      |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
      |            JOIN e ce ON ce.vec_id = cand.vec_id) t
      |WHERE rnk <= 10""".stripMargin

  // ---------------------------------------------------------------- X14
  /** IVF-ADC ANN (the FAISS IndexIVF+ADC shape, and the other scale path
    * besides LSH x7): coarse-quantize to K=16 centroids chosen
    * content-independently of id density — the K corpus vectors with the
    * smallest md5(vec_id) (deterministic, rerun-stable, immune to sparse
    * or non-sequential ids, and replicable by DuckDB so the WHOLE pipeline
    * carries a full-algorithm oracle; the selection is a TakeOrdered:
    * per-partition top-K + a K-row driver merge). Each corpus vector
    * stores its nearest-centroid id plus an int8-quantized RESIDUAL
    * (v − centroid) — residuals are smaller than raw vectors, so the int8
    * grid loses far less precision than quantizing v directly (the
    * textbook reason IVF-ADC beats flat quantization; the old
    * probe-4-of-16-lists variant peaked at 0.54 recall because on this
    * corpus — neighbor cosine ~0.3 — centroid ROUTING carries almost no
    * signal; centroid+residual RECONSTRUCTION is nearly lossless and
    * `Dev eq` recall is 1.00 at an n/8 re-rank).
    * Stage 1 (asymmetric distance): the only corpus-wide pass reads
    * ~80-byte codes (cent_id + int8[64] + scale + norm) instead of
    * 512-byte floats; approx_sim = (dot(q, centroid) + dot(q, residual̂))
    * with dot(q, centroid) precomputed once per (query, centroid) — 5×K
    * scalars, broadcast. Keep the top ⌈n/8⌉ per query. Stage 2
    * exact-re-ranks candidates (ids-only exchange, vectors re-join by id).
    * Corpus→list assignment is ONE max_by aggregation: the K-way broadcast
    * expansion partial-aggregates map-side back to one row per vector, so
    * the shuffle never carries the 16×-wide expansion. */
  private[operators] def x14(spark: SparkSession, dir: String): DataFrame =
    x14On(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))

  /** The IVF seed-centroid contract (md5-ordered top-k of the corpus ids)
    * and nearest-centroid assignment, factored so x143's probe audit and
    * x135's routed leg index EXACTLY what x14 builds — one construction,
    * three consumers (the x36/PipelineCache discipline). Callers pass
    * the already-scoped corpus frame (x14/x143 exclude the query ids;
    * x135 passes the train split). */
  private[graft] def ivfSeedCentroids(e: DataFrame, k: Int): DataFrame =
    e.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))

  private[graft] def ivfAssigned(e: DataFrame, cents: DataFrame): DataFrame =
    e.join(broadcast(cents))
      .withColumn("cent_sim", expr("graft_dot(v, cv)") / (col("nrm") * col("cn")))
      .groupBy(col("vec_id"))
      .agg(
        // ties break to the lowest centroid id (max of (sim, -cent_id))
        max_by(col("cent_id"), struct(col("cent_sim"), (lit(0L) - col("cent_id")).as("nid"))).as("cent_id"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))

  /** id-layout-independent core, exposed for the non-sequential-id spec */
  private[graft] def x14On(emb: DataFrame): DataFrame = {
    val e = emb.withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val corpus = e.filter(col("vec_id") >= 5)
    ivfAdcServe(e, corpus, ivfSeedCentroids(corpus, 16))
  }

  /** The ADC code-build + two-stage serve, factored from x14On so x157's
    * tombstone-masked serve runs the IDENTICAL path over a restricted
    * corpus frame (codes/residuals are per-vector functions of (v,
    * centroid) alone, so masking the corpus changes WHICH codes exist,
    * never their bytes). `corpus` = the indexable frame; queries are the
    * vec_id < 5 rows of `e` by the fixture contract. */
  private[graft] def ivfAdcServe(e: DataFrame, corpus: DataFrame,
      cents: DataFrame): DataFrame = {
    val assigned = ivfAssigned(corpus, cents)
    // int8 residual codes: r = v − centroid, scale = 127/max|r| (x29's
    // explicit floor(x·s + 0.5) so both engines round identically)
    val codes = assigned
      .join(broadcast(cents.select(col("cent_id"), col("cv"))), "cent_id")
      .withColumn("r", expr("zip_with(v, cv, (x, y) -> x - y)"))
      .withColumn("mx", greatest(expr("array_max(transform(r, x -> abs(x)))"), lit(1e-12)))
      .withColumn("code", expr("transform(r, x -> floor(x * (127.0D / mx) + 0.5D))"))
      .select(col("vec_id"), col("cent_id"), col("mx"), col("code"), col("nrm"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    // dot(q, centroid) once per (query, centroid): 5×K broadcast scalars
    val qc = queries.join(broadcast(cents))
      .withColumn("qcdot", expr("graft_dot(qv, cv)"))
      .select(col("query_id"), col("cent_id"), col("qcdot"))
    val wc = Window.partitionBy(col("query_id"))
    val w1 = Window.partitionBy(col("query_id")).orderBy(col("asim").desc, col("vec_id").asc)
    val cand = codes
      .join(broadcast(queries)) // |q| = 5: broadcast cross, like x29
      .join(broadcast(qc), Seq("query_id", "cent_id"))
      .withColumn("asim",
        (col("qcdot") + expr("graft_dot(qv, transform(code, x -> double(x)))") * (col("mx") / lit(127.0)))
          / (col("qn") * col("nrm")))
      .withColumn("r1", row_number().over(w1))
      .withColumn("csz", count(lit(1)).over(wc))
      .filter(col("r1") <= ceil(col("csz").cast(DoubleType) / 8))
      .select(col("query_id"), col("vec_id"))
    // stage 2: exact cosine over the ⌈n/8⌉ candidates per query
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id").asc)
    cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")), "query_id")
      .join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .withColumn("cos_sim", round(expr("graft_dot(qv, v)") / (col("qn") * col("nrm")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("vec_id"), col("rnk"), col("cos_sim"))
  }

  /** The full IVF-ADC pipeline in DuckDB: same md5-ordered centroid choice,
    * same nearest-centroid assignment (ties to the lowest centroid id),
    * same int8 residual grid, same asymmetric approx ranking with the same
    * IEEE association, same ⌈n/8⌉ cut, same exact re-rank. */
  private[operators] lazy val x14Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM e
      |          WHERE vec_id >= 5 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |assign AS (SELECT vec_id, cent_id FROM (
      |  SELECT e.vec_id, c.cent_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC, c.cent_id) AS rn
      |  FROM e, cents c WHERE e.vec_id >= 5) a WHERE rn = 1),
      |codes AS (
      |  SELECT e.vec_id, a.cent_id, e.nrm,
      |    greatest(list_max(list_transform(
      |      list_transform(range(1, len(e.v) + 1), i -> e.v[i] - c.cv[i]), x -> abs(x))), 1e-12) AS mx,
      |    list_transform(
      |      list_transform(range(1, len(e.v) + 1), i -> e.v[i] - c.cv[i]),
      |      x -> floor(x * (127.0 / greatest(list_max(list_transform(
      |             list_transform(range(1, len(e.v) + 1), j -> e.v[j] - c.cv[j]), y -> abs(y))), 1e-12)) + 0.5)) AS code
      |  FROM e JOIN assign a USING (vec_id) JOIN cents c USING (cent_id)),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
      |qc AS (SELECT q.query_id, c.cent_id, list_dot_product(q.qv, c.cv) AS qcdot FROM q, cents c),
      |cand AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT q.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY
      |        (qc.qcdot + list_dot_product(q.qv, c.code) * (c.mx / 127.0)) / (q.qn * c.nrm) DESC,
      |        c.vec_id) AS r1,
      |      count(*) OVER (PARTITION BY q.query_id) AS csz
      |    FROM codes c
      |    JOIN qc ON qc.cent_id = c.cent_id
      |    JOIN q ON q.query_id = qc.query_id) z
      |  WHERE r1 <= ceil(CAST(csz AS DOUBLE) / 8))
      |SELECT query_id, vec_id, rnk, cos_sim FROM (
      |  SELECT cand.query_id, cand.vec_id,
      |    round(list_dot_product(qe.v, ce.v) / (qe.nrm * ce.nrm), 6) AS cos_sim,
      |    CAST(row_number() OVER (PARTITION BY cand.query_id
      |      ORDER BY round(list_dot_product(qe.v, ce.v) / (qe.nrm * ce.nrm), 6) DESC, cand.vec_id) AS INT) AS rnk
      |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
      |            JOIN e ce ON ce.vec_id = cand.vec_id) t
      |WHERE rnk <= 10""".stripMargin

  // ---------------------------------------------------------------- X143
  /** IVF nprobe-LADDER RECALL AUDIT — the knob-sweep eval every IVF
    * deployment runs before fixing its probe count (x97 sweeps the
    * DIMENSION knob; this sweeps the PROBE knob): for nprobe ∈
    * {1,2,4,8} over x14's OWN index (the shared ivfSeedCentroids/
    * ivfAssigned construction — the audit measures the deployed index,
    * not a re-derivation), exact-cosine top-10 within the probed cells
    * vs the brute-force top-10 ground truth, plus the exact candidate
    * scan share the probes buy. The output IS the recall-vs-cost curve
    * an operator reads to pick nprobe. Exactness: ordering happens on
    * raw IEEE cosines (graft_dot's sequential sum ≡ DuckDB's
    * list_dot_product — the x7 contract) with vec_id tiebreaks; every
    * EMITTED value is an integer (counts, half-up ppm shares/recalls).
    * Scale shape: the scored frame is |queries|×|corpus| because the
    * GROUND TRUTH demands a brute-force pass — production IVF scans
    * only the probed cells (x14's serving path); the audit runs on an
    * eval slice. Centroid ranks are a |q|×k broadcast; the 4 ladder
    * rungs reuse ONE persisted scored frame (4 query-partitioned
    * top-10 windows, never a global sort). */
  private[operators] def x143(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val corpus = e.filter(col("vec_id") >= 5)
    val cents = ivfSeedCentroids(corpus, 16)
    val assigned = ivfAssigned(corpus, cents)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val nQ = queries.count()
    val nC = assigned.count()
    val wq = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cent_id").asc)
    val crank = queries.join(broadcast(cents))
      .withColumn("csim", expr("graft_dot(qv, cv)") / (col("qn") * col("cn")))
      .withColumn("crank", row_number().over(wq))
      .select(col("query_id"), col("cent_id"), col("crank"))
    val scored = assigned.join(broadcast(queries)) // |q| = 5 broadcast cross
      .withColumn("cos", expr("graft_dot(qv, v)") / (col("qn") * col("nrm")))
      .join(broadcast(crank), Seq("query_id", "cent_id"))
      .select(col("query_id"), col("vec_id"), col("cos"), col("crank"))
      .persist(StorageLevel.MEMORY_AND_DISK) // one brute pass, 5 consumers
    val wv = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    val truth = scored.withColumn("rn", row_number().over(wv)).filter(col("rn") <= 10)
      .select(col("query_id"), col("vec_id"), lit(true).as("is_true"))
    val ladder = Seq(1, 2, 4, 8).map { p =>
      val cand = scored.filter(col("crank") <= p)
      val hits = cand.withColumn("rn", row_number().over(wv)).filter(col("rn") <= 10)
        .join(truth, Seq("query_id", "vec_id"), "left")
        .agg(coalesce(sum(when(col("is_true"), 1L).otherwise(0L)), lit(0L)).as("hits"))
      cand.agg(count(lit(1)).as("cand_rows")).crossJoin(hits) // 1-row x 1-row
        .select(lit(p).as("nprobe"), lit(nQ).as("n_queries"), col("cand_rows"),
          expr(s"(2 * cand_rows * 1000000 + ${nQ}L * ${nC}L) div (2 * ${nQ}L * ${nC}L)")
            .as("cand_share_ppm"),
          col("hits"),
          expr(s"(2 * hits * 1000000 + 10 * ${nQ}L) div (2 * 10 * ${nQ}L)").as("recall_ppm"))
    }
      // eager: the 4-row curve is materialized so the persisted scored
      // frame can be released before returning (advisor's persist-leak
      // note — a long-lived session composing this must not accumulate
      // the brute-force frame)
    eagerFinish(ladder.reduce(_ unionByName _), scored)
  }

  private[operators] lazy val x143Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM e
      |          WHERE vec_id >= 5 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |assign AS (SELECT vec_id, cent_id FROM (
      |  SELECT e.vec_id, c.cent_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC, c.cent_id) AS rn
      |  FROM e, cents c WHERE e.vec_id >= 5) a WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
      |nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
      |nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM assign),
      |cr AS (SELECT query_id, cent_id, CAST(row_number() OVER (PARTITION BY query_id
      |         ORDER BY list_dot_product(qv, cv) / (qn * cn) DESC, cent_id) AS INT) AS crank
      |       FROM q, cents),
      |sc AS (SELECT q.query_id, a.vec_id,
      |         list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos, cr.crank
      |       FROM assign a
      |       JOIN e ON e.vec_id = a.vec_id
      |       CROSS JOIN q
      |       JOIN cr ON cr.query_id = q.query_id AND cr.cent_id = a.cent_id),
      |tr AS (SELECT query_id, vec_id FROM (
      |         SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      |           ORDER BY cos DESC, vec_id) AS rn FROM sc) z WHERE rn <= 10),
      |probes(p) AS (VALUES (1), (2), (4), (8)),
      |cand AS (SELECT p, query_id, vec_id, cos FROM sc JOIN probes ON sc.crank <= probes.p),
      |top AS (SELECT p, query_id, vec_id FROM (
      |          SELECT p, query_id, vec_id, row_number() OVER (PARTITION BY p, query_id
      |            ORDER BY cos DESC, vec_id) AS rn FROM cand) z WHERE rn <= 10),
      |cagg AS (SELECT p, CAST(count(*) AS BIGINT) AS cand_rows FROM cand GROUP BY p),
      |hagg AS (SELECT p, CAST(count(*) AS BIGINT) AS hits
      |         FROM top JOIN tr USING (query_id, vec_id) GROUP BY p)
      |SELECT p AS nprobe, (SELECT n FROM nq) AS n_queries, cand_rows,
      |  CAST((2 * cand_rows * 1000000 + (SELECT n FROM nq) * (SELECT n FROM nc))
      |       // (2 * (SELECT n FROM nq) * (SELECT n FROM nc)) AS BIGINT) AS cand_share_ppm,
      |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
      |  CAST((2 * coalesce(hits, 0) * 1000000 + 10 * (SELECT n FROM nq))
      |       // (2 * 10 * (SELECT n FROM nq)) AS BIGINT) AS recall_ppm
      |FROM cagg LEFT JOIN hagg USING (p)""".stripMargin

  // ---------------------------------------------------------------- X23
  /** Symmetric int8 embedding quantization (the storage/serving compression
    * for the ANN stack, x6/x7/x14): per-vector scale = 127/max|v|, each
    * component floor(v*scale + 0.5). Deterministic across engines — the
    * quantized components are integers, their sum is order-independent, and
    * the scale is one IEEE division. Output is the compact per-vector
    * contract (dims, scale, component sum/min/max), not the raw arrays. */
  private[operators] def x23(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("maxabs", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("scale", when(col("maxabs") > 0, lit(127.0) / col("maxabs")).otherwise(lit(0.0)))
      .withColumn("q_sum", expr("aggregate(v, bigint(0), (acc, x) -> acc + floor(x * scale + 0.5D))"))
      .withColumn("q_min", expr("array_min(transform(v, x -> floor(x * scale + 0.5D)))"))
      .withColumn("q_max", expr("array_max(transform(v, x -> floor(x * scale + 0.5D)))"))
      .select(col("vec_id"), size(col("v")).as("dim"), col("scale"),
        col("q_sum"), col("q_min"), col("q_max"))

  private[operators] lazy val x23Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
      |s AS (SELECT vec_id, v,
      |    CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale FROM m)
      |SELECT vec_id, CAST(len(v) AS INT) AS dim, scale,
      |  CAST(list_sum(list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT))) AS BIGINT) AS q_sum,
      |  CAST(list_min(list_transform(v, x -> floor(x * scale + 0.5))) AS BIGINT) AS q_min,
      |  CAST(list_max(list_transform(v, x -> floor(x * scale + 0.5))) AS BIGINT) AS q_max
      |FROM s""".stripMargin

  // ---------------------------------------------------------------- X29
  /** Quantized TWO-STAGE retrieval (the standard memory-bound ANN shape):
    * stage 1 scans int8-quantized vectors (x23's scale rule) and keeps the
    * top-50 per query by INTEGER dot product — 4× less memory traffic than
    * floats, and the integer scores are bit-exact across engines; stage 2
    * re-ranks the candidates with exact float cosine and emits the top-10.
    * At scale, stage 1 is the only corpus-wide pass and it reads 1/4 of
    * the bytes; stage 2 touches 50 vectors per query. */
  private[operators] def x29(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .withColumn("maxabs", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("scale", when(col("maxabs") > 0, lit(127.0) / col("maxabs")).otherwise(lit(0.0)))
      .withColumn("q", expr("transform(v, x -> floor(x * scale + 0.5D))"))
    val corpus = e.filter(col("vec_id") >= 5)
    val w1 = Window.partitionBy(col("query_id")).orderBy(col("score_int").desc, col("vec_id").asc)
    val stage1 = corpus.join(broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("v").as("qv"), col("nrm").as("qn"))))
      .withColumn("score_int",
        expr("aggregate(zip_with(q, qq, (x, y) -> x * y), bigint(0), (a, p) -> a + p)"))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= 50)
    val w2 = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id").asc)
    stage1
      .withColumn("cos_sim", round(expr("graft_dot(qv, v)") / (col("qn") * col("nrm")), 6))
      .withColumn("rnk", row_number().over(w2))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("vec_id"), col("rnk"), col("score_int"), col("cos_sim"))
  }

  private[operators] lazy val x29Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |s AS (SELECT vec_id, v, nrm,
      |        list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
      |q8 AS (SELECT vec_id, v, nrm,
      |         list_transform(v, x -> floor(x * (CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END) + 0.5)) AS q
      |       FROM s),
      |stage1 AS (
      |  SELECT qr.vec_id AS query_id, c.vec_id, qr.v AS qv, qr.nrm AS qn, c.v, c.nrm,
      |    CAST(list_dot_product(c.q, qr.q) AS BIGINT) AS score_int,
      |    row_number() OVER (PARTITION BY qr.vec_id
      |      ORDER BY list_dot_product(c.q, qr.q) DESC, c.vec_id) AS r1
      |  FROM q8 c, q8 qr WHERE qr.vec_id < 5 AND c.vec_id >= 5
      |  QUALIFY r1 <= 50)
      |SELECT query_id, vec_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY round(list_dot_product(qv, v) / (qn * nrm), 6) DESC, vec_id) AS INT) AS rnk,
      |  score_int,
      |  round(list_dot_product(qv, v) / (qn * nrm), 6) AS cos_sim
      |FROM stage1
      |QUALIFY rnk <= 10""".stripMargin

  // ---------------------------------------------------------------- X38
  /** Embedding K-MEANS (semantic clustering — the grouping step behind
    * semantic dedup, diversity sampling, and topic balancing): one Lloyd
    * iteration with k=8 seeds (the lowest vec_ids), a centroid recompute,
    * and a final re-assignment by cosine. Everything is joins + aggregates:
    * assignment is a BROADCAST of the k centroids against the corpus (never
    * corpus × corpus), and the centroid recompute is a posexplode →
    * partial-aggregated elementwise sum — the only shuffle, carrying
    * (cluster, dim, int64) triples, map-side combined, so at 100 TB the
    * exchange is k × dims × partitions rows regardless of corpus size.
    * Cross-engine determinism: element values are quantized to integer
    * micros (round(el·1e6) — the 6dp convention), summed EXACTLY as longs,
    * and the mean is one IEEE division; cosines round at 6dp with
    * cluster-id tiebreaks. More Lloyd rounds = repeating the same two
    * stages; one round is enough to pin the algebra under the oracle. */
  /** embeddings as (vec_id, v: array<double>, nrm) — the shared entry of
    * the k-means family (x38/x45/x47/x48/x49). */
  private[graft] def embWithNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))

  /** nearest-centroid assignment: broadcast the k centroids against the
    * vector set; rounded cosine with cluster-id tiebreak. */
  private[operators] def kmeansAssign(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("cluster").asc)
    vecs.join(broadcast(cent))
      .withColumn("cos_sim", round(expr("graft_dot(v, cv)") / (col("nrm") * col("cn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster"), col("cos_sim"))
  }

  /** one Lloyd round over `e`: seed on `seedFilter`, assign, recompute
    * centroids from integer-exact elementwise sums → (cluster, cv, cn). */
  private[operators] def kmeansCentroids(e: DataFrame, seedFilter: Column): DataFrame = {
    val seeds = e.filter(seedFilter)
      .select(col("vec_id").cast(IntegerType).as("cluster"), col("v").as("cv"), col("nrm").as("cn"))
    kmeansAssign(e, seeds)
      .join(e, "vec_id")
      .select(col("cluster"), posexplode(col("v")).as(Seq("i", "el")))
      .withColumn("elq", round(col("el") * 1e6, 0).cast(LongType))
      .groupBy(col("cluster"), col("i"))
      .agg(sum(col("elq")).as("s"), count(lit(1)).as("c"))
      .withColumn("cel", col("s").cast(DoubleType) / (col("c") * lit(1e6)))
      .groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("i"), col("cel")))).as("ic"))
      .select(col("cluster"), expr("transform(ic, x -> x.cel)").as("cv"))
      .withColumn("cn", expr("sqrt(graft_dot(cv, cv))"))
  }

  private[operators] def x38(spark: SparkSession, dir: String): DataFrame = {
    val e = embWithNorm(spark, dir)
      .persist() // three passes: seed pick, assign-1 + recompute, assign-2
    kmeansAssign(e, kmeansCentroids(e, col("vec_id") < 8))
  }

  private[operators] lazy val x38Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |seeds AS (SELECT CAST(vec_id AS INT) AS cluster, v AS cv, nrm AS cn FROM e WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT e.vec_id, s.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_dot_product(e.v, s.cv) / (e.nrm * s.cn), 6) DESC, s.cluster) AS rn
      |    FROM e, seeds s) t WHERE rn = 1),
      |jx AS (SELECT a1.cluster, e.v FROM a1 JOIN e USING (vec_id)),
      |ex AS (SELECT cluster, i, CAST(round(v[i + 1] * 1000000) AS BIGINT) AS elq
      |       FROM jx, (SELECT unnest(range(64)) AS i)),
      |cs AS (SELECT cluster, i, sum(elq) AS s, count(*) AS c FROM ex GROUP BY 1, 2),
      |cent AS (SELECT cluster, list(CAST(s AS DOUBLE) / (c * 1000000.0) ORDER BY i) AS cv
      |         FROM cs GROUP BY cluster),
      |cent2 AS (SELECT cluster, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cent)
      |SELECT vec_id, cluster, cos_sim FROM (
      |  SELECT e.vec_id, c.cluster,
      |    round(list_dot_product(e.v, c.cv) / (e.nrm * c.cn), 6) AS cos_sim,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_dot_product(e.v, c.cv) / (e.nrm * c.cn), 6) DESC, c.cluster) AS rn
      |  FROM e, cent2 c) t WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- X46
  /** RANDOM PROJECTION (Johnson–Lindenstrauss) — 64-dim embeddings down to
    * 16 dims with a ±1 projection matrix derived from md5(j_d) (same
    * deterministic-plane trick as x7, so BOTH engines construct the
    * identical matrix and the reduction is fully oracle-checked). The
    * computation is relational end-to-end: elements quantized to integer
    * micros (exact), joined against the BROADCAST 1024-row plane table,
    * and summed as longs — order-independent, so the one shuffle (by
    * (vec_id, j), map-side combined) is determinism-free territory. This
    * is the storage/speed half of an ANN stack: 4× smaller vectors whose
    * dot products approximate the originals' (x7/x29 are the recall half).
    * At 100 TB the plane table is a page and the output is dims/4 of the
    * input — a pure scan-shaped pipeline. Output is one row per vector with
    * the 16 projected dims as SCALAR integer-micro columns p0..p15 (exact
    * longs — both engines sum identical integers, and the flat shape is
    * what a downstream index would store) plus the norm derived from those
    * same integers (one sqrt on an exact sum — engine-identical). */
  private[operators] def x46(spark: SparkSession, dir: String): DataFrame = {
    val planes = spark.range(16).select(col("id").cast(IntegerType).as("j"))
      .crossJoin(spark.range(64).select(col("id").cast(IntegerType).as("d")))
      .withColumn("sgn",
        when(substring(md5(concat(col("j").cast(StringType), lit("_"), col("d").cast(StringType))), 1, 1) <= "7", 1L)
          .otherwise(-1L))
    val c = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")).as(Seq("d", "el")))
      .withColumn("elq", round(col("el") * 1e6, 0).cast(LongType))
      .join(broadcast(planes), "d")
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("elq") * col("sgn")).as("pq"))
    val dims = (0 until 16).map(i => sum(when(col("j") === i, col("pq"))).as(s"p$i"))
    val norm = round(sqrt(sum(col("pq") * col("pq")).cast(DoubleType)) / 1e6, 6).as("proj_norm")
    c.groupBy(col("vec_id")).agg(dims.head, (dims.tail :+ norm): _*)
  }

  private[operators] lazy val x46Sql = {
    val ps = (0 until 16)
      .map(i => s"  CAST(sum(CASE WHEN j = $i THEN pq END) AS BIGINT) AS p$i,")
      .mkString("\n")
    s"""WITH planes AS (
       |  SELECT j, d, CASE WHEN substr(md5(j || '_' || d), 1, 1) <= '7' THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT unnest(range(16)) AS j), (SELECT unnest(range(64)) AS d)),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, d, CAST(round(v[d + 1] * 1000000) AS BIGINT) AS elq
       |       FROM e, (SELECT unnest(range(64)) AS d)),
       |c AS (SELECT vec_id, j, sum(elq * sgn) AS pq FROM ex JOIN planes USING (d) GROUP BY 1, 2)
       |SELECT vec_id,
       |$ps
       |  round(sqrt(CAST(sum(pq * pq) AS DOUBLE)) / 1000000.0, 6) AS proj_norm
       |FROM c GROUP BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- X45
  /** CLUSTER EXEMPLARS (coreset selection) — the consumption side of x38's
    * semantic clustering: per cluster, the 5 most central members (highest
    * cosine to the recomputed centroid) become the cluster's exemplars —
    * the "show me what's in this slice of the corpus" / prototype-based
    * dedup primitive. One window over x38's assignment output: the
    * composition costs one per-cluster top-k on top of the clustering
    * pass, nothing else. */
  private[operators] def x45(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cluster")).orderBy(col("cos_sim").desc, col("vec_id").asc)
    PipelineCache.shared(spark, "x38_assign", dir)(x38(spark, dir))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("cluster"), col("rnk"), col("vec_id"), col("cos_sim"))
  }

  private[operators] lazy val x45Sql =
    s"""WITH assign AS ($x38Sql)
       |SELECT cluster, CAST(row_number() OVER (PARTITION BY cluster
       |    ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk,
       |  vec_id, cos_sim
       |FROM assign QUALIFY rnk <= 5""".stripMargin

  // ---------------------------------------------------------------- X47
  /** CLUSTER-BALANCED WEIGHTED SAMPLING — the SemDeDup-style curation move:
    * stratify the corpus by SEMANTIC cluster (x38's k-means assignment)
    * instead of by metadata, then draw a reproducible A-RES weighted sample
    * (x42's content-addressed keys, weight = n_chars) of 5 docs per
    * cluster. Equal draws per cluster rebalance the corpus against topic
    * skew — the "no topic dominates the epoch" guarantee metadata strata
    * can't give. Cost on top of the clustering pass: one equi-join to fetch
    * weights (on id, broadcast-able at any k) and one per-cluster top-k
    * window. Docs outside the embedded slice simply don't compete (inner
    * join), which is the honest semantics of embedding-driven curation. */
  private[operators] def x47(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cluster")).orderBy(col("skey").desc, col("doc_id").asc)
    val docs = Tables.documents(spark, dir)
      .withColumn("hv", conv(substring(md5(col("text")), 1, 12), 16, 10).cast(LongType))
      .select(col("doc_id"), col("n_chars"),
        round(log((col("hv") + 0.5) / lit(281474976710656.0)) / col("n_chars"), 8).as("skey"))
    PipelineCache.shared(spark, "x38_assign", dir)(x38(spark, dir))
      .select(col("vec_id").as("doc_id"), col("cluster"))
      .join(docs, "doc_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("cluster"), col("rnk"), col("doc_id"), col("n_chars"), col("skey"))
  }

  private[operators] lazy val x47Sql =
    s"""WITH assign AS ($x38Sql),
       |docs AS (SELECT doc_id, n_chars,
       |    round(ln((('0x' || substr(md5(text), 1, 12))::BIGINT + 0.5) / 281474976710656.0)
       |      / n_chars, 8) AS skey
       |  FROM documents)
       |SELECT cluster, CAST(row_number() OVER (PARTITION BY cluster
       |    ORDER BY skey DESC, doc_id) AS INT) AS rnk,
       |  doc_id, n_chars, skey
       |FROM (SELECT a.cluster, a.vec_id AS doc_id, d.n_chars, d.skey
       |      FROM assign a JOIN docs d ON a.vec_id = d.doc_id) t
       |QUALIFY rnk <= 5""".stripMargin

  // ---------------------------------------------------------------- X48
  /** SEMANTIC OUTLIER DETECTION — the noise filter on top of x38's
    * clustering: a vector whose similarity to its own cluster's centroid
    * sits ≥ 2σ below the cluster mean is flagged as semantic noise (mislabeled
    * scrape, format debris, off-distribution content). Per-cluster moments
    * are computed over the 6dp-quantized similarities as EXACT integer sums
    * (the q18 moments trick), so mean/σ/z are engine-identical; the stats
    * table is k rows, broadcast back. Cost on top of clustering: one k-row
    * aggregation + one broadcast join — nothing corpus-scaled. */
  private[operators] def x48(spark: SparkSession, dir: String): DataFrame = {
    val q = PipelineCache.shared(spark, "x38_assign", dir)(x38(spark, dir))
      .withColumn("cq", round(col("cos_sim") * 1e6, 0).cast(LongType))
    val stats = q.groupBy(col("cluster")).agg(
      sum(col("cq")).as("s"), sum(col("cq") * col("cq")).as("ss"), count(lit(1)).as("cnt"))
      .withColumn("mean", (col("s").cast(DoubleType) / col("cnt")) / lit(1e6))
      .withColumn("sd", sqrt(greatest(
        (col("ss").cast(DoubleType) / col("cnt")) / lit(1e12) - col("mean") * col("mean"),
        lit(0.0))))
      .select(col("cluster"), col("mean"), col("sd"))
    q.join(broadcast(stats), "cluster")
      .withColumn("z", when(col("sd") === 0, lit(0.0))
        .otherwise(round((col("cos_sim") - col("mean")) / col("sd"), 6)))
      .select(col("vec_id"), col("cluster"), col("cos_sim"),
        round(col("mean"), 6).as("cluster_mean"), col("z"),
        (col("z") <= -2.0).as("is_outlier"))
  }

  private[operators] lazy val x48Sql =
    s"""WITH assign AS ($x38Sql),
       |q AS (SELECT vec_id, cluster, cos_sim,
       |        CAST(round(cos_sim * 1000000) AS BIGINT) AS cq FROM assign),
       |stats AS (
       |  SELECT cluster,
       |    (CAST(sum(cq) AS DOUBLE) / count(*)) / 1000000.0 AS mean,
       |    sqrt(greatest(
       |      (CAST(sum(cq * cq) AS DOUBLE) / count(*)) / 1000000000000.0
       |        - ((CAST(sum(cq) AS DOUBLE) / count(*)) / 1000000.0)
       |          * ((CAST(sum(cq) AS DOUBLE) / count(*)) / 1000000.0),
       |      0.0)) AS sd
       |  FROM q GROUP BY cluster)
       |SELECT vec_id, q.cluster, cos_sim, round(mean, 6) AS cluster_mean,
       |  CASE WHEN sd = 0 THEN 0.0 ELSE round((cos_sim - mean) / sd, 6) END AS z,
       |  (CASE WHEN sd = 0 THEN 0.0 ELSE round((cos_sim - mean) / sd, 6) END) <= -2.0 AS is_outlier
       |FROM q JOIN stats ON q.cluster = stats.cluster""".stripMargin

  // ---------------------------------------------------------------- X49
  /** DELTA CLUSTER ASSIGNMENT — x30's asymmetric-delta discipline applied
    * to semantic routing: the centroid model is built ONCE from the
    * standing corpus (vec_id % 10 != 0 plays the frozen index), and
    * today's arrivals (vec_id % 10 == 0) are routed to their semantic
    * cluster by a single broadcast assignment — cost ∝ |delta| × k, the
    * index is never re-clustered. This is how semantic dedup/routing runs
    * in production: nightly model build, per-batch assignment. Output is
    * the delta's routing table (which cluster each new vector lands in,
    * how close it sits), directly consumable by x45/x47/x48 downstream. */
  private[operators] def x49(spark: SparkSession, dir: String): DataFrame = {
    val e = embWithNorm(spark, dir).persist()
    val index = e.filter(col("vec_id") % 10 =!= 0)
    val delta = e.filter(col("vec_id") % 10 === 0)
    kmeansAssign(delta, kmeansCentroids(index, col("vec_id") >= 1 && col("vec_id") <= 8))
  }

  private[operators] lazy val x49Sql =
    """WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |e AS (SELECT * FROM e0 WHERE vec_id % 10 != 0),
      |delta AS (SELECT * FROM e0 WHERE vec_id % 10 = 0),
      |seeds AS (SELECT CAST(vec_id AS INT) AS cluster, v AS cv, nrm AS cn
      |          FROM e WHERE vec_id >= 1 AND vec_id <= 8),
      |a1 AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT e.vec_id, s.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_dot_product(e.v, s.cv) / (e.nrm * s.cn), 6) DESC, s.cluster) AS rn
      |    FROM e, seeds s) t WHERE rn = 1),
      |jx AS (SELECT a1.cluster, e.v FROM a1 JOIN e USING (vec_id)),
      |ex AS (SELECT cluster, i, CAST(round(v[i + 1] * 1000000) AS BIGINT) AS elq
      |       FROM jx, (SELECT unnest(range(64)) AS i)),
      |cs AS (SELECT cluster, i, sum(elq) AS s, count(*) AS c FROM ex GROUP BY 1, 2),
      |cent AS (SELECT cluster, list(CAST(s AS DOUBLE) / (c * 1000000.0) ORDER BY i) AS cv
      |         FROM cs GROUP BY cluster),
      |cent2 AS (SELECT cluster, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cent)
      |SELECT vec_id, cluster, cos_sim FROM (
      |  SELECT d.vec_id, c.cluster,
      |    round(list_dot_product(d.v, c.cv) / (d.nrm * c.cn), 6) AS cos_sim,
      |    row_number() OVER (PARTITION BY d.vec_id
      |      ORDER BY round(list_dot_product(d.v, c.cv) / (d.nrm * c.cn), 6) DESC, c.cluster) AS rn
      |  FROM delta d, cent2 c) t WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- X70
  /** LABEL-SPACE COHESION AUDIT — the embedding-quality scorecard run
    * before trusting labels for curriculum/eval construction: per label,
    * how tight the class is (mean + min cosine of members to their own
    * integer-exact centroid — the x38 quantized-sum recipe, so the
    * centroid is bit-identical across engines/partitionings) and how
    * close it sits to the nearest OTHER class (max centroid-centroid
    * cosine), with the margin between them. A negative margin flags a
    * label whose members sit closer to another class's center than their
    * own spread — the "these labels are noise" signal. Per-member cosines
    * are 6dp-rounded then micro-quantized BEFORE the mean's integer sum
    * (order-free); the mean itself is exposed as one exact double
    * division. Scale shape: one posexplode aggregation bounded by
    * |labels|·dims builds centroids, the k-row centroid table broadcasts
    * back for ONE cosine pass over the (persisted) vectors, and the k²
    * centroid-pair matrix never touches the corpus. */
  private[operators] def x70(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast(IntegerType).as("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .persist(StorageLevel.MEMORY_AND_DISK) // centroid pass + cosine pass
    val cent = e
      .select(col("label"), posexplode(col("v")).as(Seq("i", "el")))
      .withColumn("elq", round(col("el") * 1e6, 0).cast(LongType))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("elq")).as("s"), count(lit(1)).as("c"))
      .withColumn("cel", col("s").cast(DoubleType) / (col("c") * lit(1e6)))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"), col("cel")))).as("ic"))
      .select(col("label"), expr("transform(ic, x -> x.cel)").as("cv"))
      .withColumn("cn", expr("sqrt(graft_dot(cv, cv))"))
    val other = cent.select(col("label").as("olabel"), col("cv").as("ocv"), col("cn").as("ocn"))
    val sep = cent.join(other, col("label") =!= col("olabel")) // k² rows, metadata scale
      .withColumn("ccos", round(expr("graft_dot(cv, ocv)") / (col("cn") * col("ocn")), 6))
      .groupBy(col("label")).agg(max(col("ccos")).as("separation"))
    val coh = e.join(broadcast(cent), "label")
      .withColumn("cos_q", round(
        round(expr("graft_dot(v, cv)") / (col("nrm") * col("cn")), 6) * lit(1e6), 0)
        .cast(LongType))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("cos_q")).as("coh_sum"),
        min(round(expr("graft_dot(v, cv)") / (col("nrm") * col("cn")), 6)).as("min_cos"))
    coh.join(broadcast(sep), "label")
      // round(coh_sum/(n_vecs·10⁶), 6) as the exact integer half-away
      // division coh_sum/n_vecs (r7 — the boundary audit caught a label
      // whose mean cosine lands EXACTLY on a .5 micro boundary); the
      // final /10⁶ is one bit-identical IEEE division, no round at all
      .withColumn("cohesion_micros", expr(
        """CASE WHEN coh_sum >= 0 THEN (2 * coh_sum + n_vecs) div (2 * n_vecs)
          |ELSE -((2 * (-coh_sum) + n_vecs) div (2 * n_vecs)) END""".stripMargin))
      .withColumn("cohesion", col("cohesion_micros").cast(DoubleType) / lit(1e6))
      .withColumn("margin", round(col("cohesion") - col("separation"), 6))
      .select(col("label"), col("n_vecs"), col("cohesion"), col("min_cos"),
        col("separation"), col("margin"))
  }

  private[operators] lazy val x70Sql =
    """WITH e AS (SELECT vec_id, CAST(label AS INT) AS label, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |ex AS (SELECT label, i, CAST(round(v[i + 1] * 1000000) AS BIGINT) AS elq
      |       FROM e, (SELECT unnest(range(64)) AS i)),
      |cs AS (SELECT label, i, sum(elq) AS s, count(*) AS c FROM ex GROUP BY 1, 2),
      |cent AS (SELECT label, list(CAST(s AS DOUBLE) / (c * 1000000.0) ORDER BY i) AS cv
      |         FROM cs GROUP BY label),
      |cent2 AS (SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cent),
      |sep AS (SELECT a.label,
      |         max(round(list_dot_product(a.cv, b.cv) / (a.cn * b.cn), 6)) AS separation
      |        FROM cent2 a JOIN cent2 b ON a.label <> b.label GROUP BY a.label),
      |coh AS (SELECT e.label, CAST(count(*) AS BIGINT) AS n_vecs,
      |         CAST(sum(CAST(round(round(list_dot_product(e.v, c.cv) / (e.nrm * c.cn), 6)
      |           * 1000000.0) AS BIGINT)) AS BIGINT) AS coh_sum,
      |         min(round(list_dot_product(e.v, c.cv) / (e.nrm * c.cn), 6)) AS min_cos
      |        FROM e JOIN cent2 c USING (label) GROUP BY e.label)
      |SELECT label, n_vecs,
      |  CAST(CASE WHEN coh_sum >= 0 THEN (2 * coh_sum + n_vecs) // (2 * n_vecs)
      |    ELSE -((2 * (-coh_sum) + n_vecs) // (2 * n_vecs)) END AS DOUBLE) / 1000000.0
      |    AS cohesion,
      |  min_cos, separation,
      |  round(CAST(CASE WHEN coh_sum >= 0 THEN (2 * coh_sum + n_vecs) // (2 * n_vecs)
      |    ELSE -((2 * (-coh_sum) + n_vecs) // (2 * n_vecs)) END AS DOUBLE) / 1000000.0
      |    - separation, 6) AS margin
      |FROM coh JOIN sep USING (label)""".stripMargin

  // ---------------------------------------------------------------- X73
  /** EMBEDDING-SPACE ANISOTROPY AUDIT — the health check run before
    * trusting cosine similarity (ANN, dedup, clustering all assume the
    * space isn't collapsed): per dimension, the exact count/mean/variance
    * of that coordinate across the corpus, plus each dimension's share of
    * the total variance (a concentrated share = anisotropic/collapsed
    * space, the signal that embeddings need whitening before x5/x6/x38).
    * Exactness is the x38/q18 recipe: coordinates are micro-quantized to
    * int64, first and second moments are order-free INTEGER sums, the
    * float mean/variance are single IEEE expressions over those integers,
    * and the variance share is integer ppm over re-quantized variances —
    * bit-identical across engines and partitionings. Scale shape: one
    * corpus scan, posexplode to (dim, value), one map-side-combined
    * aggregation to a dims-row frame; everything after is metadata-scale.
    * (At ~1e12-row corpora swap the micro for milli quantization to keep
    * Σq² inside int64 — the scale knob is one literal.) */
  private[operators] def x73(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "el")))
      .withColumn("elq", round(col("el") * lit(1e6), 0).cast(LongType))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("elq")).as("s1"),
        sum(col("elq") * col("elq")).as("s2"))
      .withColumn("mean",
        round(col("s1").cast(DoubleType) / (col("n").cast(DoubleType) * lit(1e6)), 6))
      .withColumn("variance",
        round((col("s2").cast(DoubleType) / col("n") -
          pow(col("s1").cast(DoubleType) / col("n"), 2)) / lit(1e12), 6))
      .withColumn("varq", round(col("variance") * lit(1e6), 0).cast(LongType))
    // dims-row frame: the trace window is metadata-scale
    per
      .withColumn("traceq", sum(col("varq")).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("var_share_ppm", expr("(varq * 1000000) div traceq"))
      .select(col("dim").cast(IntegerType).as("dim"), col("n"), col("mean"),
        col("variance"), col("var_share_ppm"))
  }

  private[operators] lazy val x73Sql =
    """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
      |ex AS (SELECT i, CAST(round(v[i + 1] * 1000000) AS BIGINT) AS elq
      |       FROM e, (SELECT unnest(range(64)) AS i)),
      |m AS (SELECT i AS dim, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(elq) AS BIGINT) AS s1,
      |        CAST(sum(elq * elq) AS BIGINT) AS s2
      |      FROM ex GROUP BY 1),
      |v AS (SELECT dim, n,
      |        round(CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6) AS mean,
      |        round((CAST(s2 AS DOUBLE) / n -
      |          pow(CAST(s1 AS DOUBLE) / n, 2)) / 1e12, 6) AS variance
      |      FROM m),
      |q AS (SELECT *, CAST(round(variance * 1000000) AS BIGINT) AS varq FROM v)
      |SELECT CAST(dim AS INT) AS dim, n, mean, variance,
      |  CAST((varq * 1000000) // CAST((SELECT sum(varq) FROM q) AS BIGINT)
      |    AS BIGINT) AS var_share_ppm
      |FROM q""".stripMargin

  // ---------------------------------------------------------------- X81
  /** DOMINANT PRINCIPAL DIRECTION via power iteration — the eigenvector
    * the anisotropy audit (x73) motivates: the direction along which the
    * embedding space concentrates (the "common direction" ABTT/whitening
    * removes before trusting cosine). Three rounds of vₜ₊₁ ∝ Aᵀ(A·vₜ)
    * over the UN-CENTERED second-moment operator, never materializing the
    * 64×64 Gram matrix: each round is (1) a per-row dot s = ⟨x_q, v⟩
    * (codegen'd fold over the array, map-side), (2) ONE posexplode
    * aggregation Σᵢ sᵢ'·x_iq to the dims-row frame — so a round costs one
    * corpus scan + a 64-key map-side-combined shuffle, the exact shape
    * Spark MLlib uses for its distributed PCA matvec. Exactness: coords
    * micro-quantized to int64, the per-row dot rescaled by integer
    * division (micro²→micro), the new iterate max-norm-scaled back to
    * ±1e6 by integer division — every number an int64, bit-identical
    * across engines/partitionings (both engines' integer division
    * truncates toward zero — verified). The 64-long iterate re-enters
    * each round as a PINNED LITERAL (the x58 metadata-scale discipline),
    * so rounds never grow lineage. Magnitude audit at this scale:
    * |s| ≤ 64·(2e5·1e6) ≈ 1.3e13; Σᵢ sᵢ'·e ≤ 6e4·(1.3e7·2e5) ≈ 1.6e17 —
    * inside int64; at ~1e9 rows drop the dot rescale to nano (one
    * literal, same recipe as x73's scale knob). */
  /** The x81 loop, reusable: 3 integer-exact power-iteration rounds →
    * the dominant direction in micro units (max-norm pinned at ±1e6). */
  private[operators] def principalDirectionMicro(spark: SparkSession, dir: String): Array[Long] = {
    val embq = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        "transform(cast(embedding as array<double>), x -> cast(round(x * 1000000, 0) as bigint))")
        .as("q"))
      .persist()
    var v: Array[Long] = Array.fill(64)(1000000L)
    for (_ <- 1 to 3) {
      val vlit = array(v.map(lit).toSeq: _*)
      val w = embq
        .withColumn("s", aggregate(
          zip_with(col("q"), vlit, (a, b) => a * b), lit(0L), (acc, x) => acc + x))
        .withColumn("sp", expr("s div 1000000"))
        .select(col("sp"), posexplode(col("q")).as(Seq("dim", "e")))
        .groupBy(col("dim")).agg(sum(col("e") * col("sp")).as("w"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // rescale BEFORE the max-norm ratio: w reaches ~1e13-1e17, and
      // w·1e6 would overflow int64 — wq keeps 7+ significant digits,
      // ample for a micro-unit direction (Scala / truncates toward
      // zero, identical to both engines' integer division)
      val wq = (0 until 64).map(d => w(d) / 1000000L)
      val m = wq.map(math.abs).max
      v = wq.map(_ * 1000000L / m).toArray
    }
    embq.unpersist()
    v
  }

  private[operators] def x81(spark: SparkSession, dir: String): DataFrame = {
    val v = principalDirectionMicro(spark, dir)
    import spark.implicits._
    v.zipWithIndex.map { case (c, d) => (d, c) }.toSeq
      .toDF("dim", "v_micro")
      .select(col("dim").cast(IntegerType).as("dim"), col("v_micro"))
  }

  /** The power-iteration CTE chain (through `v3`, the micro direction) —
    * shared by x81's output and x84's whitening stage. */
  private[operators] lazy val powerIterCtes = {
    def iter(k: Int) = {
      val prev = s"v${k - 1}"
      s"""s$k AS (SELECT ex.vec_id,
         |    CAST(sum(ex.e * p.v) AS BIGINT) // 1000000 AS sp
         |  FROM ex JOIN $prev p ON ex.dim = p.dim GROUP BY ex.vec_id),
         |w$k AS (SELECT ex.dim,
         |    CAST(sum(ex.e * s.sp) AS BIGINT) // 1000000 AS wq
         |  FROM ex JOIN s$k s ON ex.vec_id = s.vec_id GROUP BY ex.dim),
         |m$k AS (SELECT max(abs(wq)) AS m FROM w$k),
         |v$k AS (SELECT dim, (wq * 1000000) // m AS v FROM w$k, m$k)"""
    }
    s"""pe AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CAST(round(x * 1000000) AS BIGINT)) AS q
       |  FROM embeddings),
       |ex AS (SELECT vec_id, i AS dim, q[i + 1] AS e
       |       FROM pe, (SELECT unnest(range(64)) AS i)),
       |v0 AS (SELECT unnest(range(64)) AS dim, CAST(1000000 AS BIGINT) AS v),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}""".stripMargin
  }

  private[operators] lazy val x81Sql =
    s"""WITH $powerIterCtes
       |SELECT CAST(dim AS INT) AS dim, CAST(v AS BIGINT) AS v_micro FROM v3""".stripMargin

  // ---------------------------------------------------------------- X84
  /** WHITENED ANN (ABTT — "all-but-the-top"): remove the dominant
    * direction x81 finds from every embedding, then run the exact cosine
    * top-k on the CORRECTED space — the standard post-processing that
    * stops an anisotropic embedding space from ranking everything by its
    * common component (Mu & Viswanath 2018). Pipeline: (1) the x81 power
    * iteration yields the micro direction u (3 scans, integer-exact);
    * (2) whitening w = v − (⟨v,u⟩/⟨u,u⟩)·u runs MAP-SIDE — u enters as a
    * 1-row broadcast, every dot is the codegen'd graft_dot kernel, and
    * all float ops are order-pinned (left-to-right dots, one IEEE
    * division, elementwise subtract) so both engines produce identical
    * doubles (the x6 doctrine); (3) the x6 exact top-k over whitened
    * vectors, rounded 6dp with vec_id tiebreaks. Scale: whitening adds
    * one broadcast + O(dims) per row to the scan; the top-k stays the
    * |q|-broadcast nested loop at test scale with the x7/x14 coded
    * variants as the 100 TB path. */
  private[operators] def x84(spark: SparkSession, dir: String): DataFrame = {
    val u = principalDirectionMicro(spark, dir)
    import spark.implicits._
    val uDf = Seq(Tuple1(u.map(_.toDouble / 1e6).toSeq)).toDF("uv")
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
      .crossJoin(broadcast(uDf)) // 1 row: the direction rides every task
      .withColumn("t", expr("graft_dot(v0, uv) / graft_dot(uv, uv)"))
      .withColumn("w", zip_with(col("v0"), col("uv"), (a, b) => a - col("t") * b))
      .withColumn("nrm", expr("sqrt(graft_dot(w, w))"))
      .select(col("vec_id"), col("w"), col("nrm"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("w").as("qv"), col("nrm").as("qn"))
    val c = e.filter(col("vec_id") >= 5)
    val win = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id").asc)
    q.join(c)
      .withColumn("cos_sim", round(expr("graft_dot(qv, w)") / (col("qn") * col("nrm")), 6))
      .withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("vec_id"), col("rnk"), col("cos_sim"))
  }

  private[operators] lazy val x84Sql =
    s"""WITH $powerIterCtes,
       |u AS (SELECT list(v / 1000000.0 ORDER BY dim) AS uv FROM v3),
       |uu AS (SELECT list_dot_product(uv, uv) AS d FROM u),
       |wh AS (SELECT e.vec_id,
       |    list_transform(range(64),
       |      i -> e.v[i + 1] - (list_dot_product(e.v, u.uv) / uu.d) * u.uv[i + 1]) AS w
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e, u, uu),
       |wn AS (SELECT vec_id, w, sqrt(list_dot_product(w, w)) AS nrm FROM wh),
       |q AS (SELECT vec_id AS query_id, w AS qv, nrm AS qn FROM wn WHERE vec_id < 5),
       |c AS (SELECT * FROM wn WHERE vec_id >= 5)
       |SELECT query_id, vec_id, rnk, cos_sim FROM (
       |  SELECT query_id, vec_id,
       |    round(list_dot_product(qv, w) / (qn * nrm), 6) AS cos_sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(list_dot_product(qv, w) / (qn * nrm), 6) DESC, vec_id) AS INT) AS rnk
       |  FROM q, c) t
       |WHERE rnk <= 10""".stripMargin

  // ---------------------------------------------------------------- X88
  /** SEMDEDUP — semantic deduplication within k-means clusters (Abbas et
    * al. 2023, the method that cut LAION/C4 30-50% with no quality loss):
    * embeddings are clustered (x38's one-Lloyd-round pipeline, shared
    * helpers), pairwise cosine runs ONLY within each cluster — the
    * clustering exists precisely to make all-pairs tractable: cost is
    * Σ|cluster|², never corpus², and at 100 TB k scales so clusters stay
    * bounded — and for every pair above the duplicate threshold (0.45 here —
    * calibrated to this synthetic space's x5 near-dup band, where the max
    * pairwise cosine is ~0.48; production embeddings use ~0.95+, one
    * literal) the
    * member CLOSER to the centroid is dropped (the paper's keep-the-
    * outlier rule: survivors maximize diversity). Output: every vector
    * with its cluster, centroid similarity, ≥τ-neighbor count, and the
    * drop verdict. Determinism: pair cosines and centroid similarities
    * compare at the same 6dp rounding in both engines; the drop rule
    * tie-breaks on vec_id.
    *
    * k∝n PRODUCTION PATH (r9, the caveat-to-code conversion): the
    * default seeds are the frozen 8 the oracle replays, fine at eval
    * scale but Σ|cluster|² degrades toward corpus²/8 as n grows. Setting
    * `spark.graft.semdedup.clusterCap` switches seeding to a
    * CONTENT-ADDRESSED stride — every vector whose md5 lands ≡0 mod cap
    * seeds a cluster — so k ≈ n/cap and expected cluster size ≈ cap at
    * ANY corpus size, with zero extra passes (no count, no top-k; the
    * seed set is a map-side predicate, the x54 hashing discipline).
    * Spec-proven on the fixture: k scales with n and the output contract
    * (schema, one row per vector, drop rule) is unchanged. */
  private[operators] def x88(spark: SparkSession, dir: String): DataFrame = {
    val e = embWithNorm(spark, dir).persist()
    val seedFilter = spark.conf.getOption("spark.graft.semdedup.clusterCap") match {
      case Some(capStr) =>
        // validate up front (r10, ADVICE): cap=0 would make pmod(_, 0)
        // NULL → a silently empty seed predicate whose failure message
        // ("lower the cap") points the wrong way; a non-numeric value
        // would surface as a raw NumberFormatException
        val cap = try capStr.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"x88: spark.graft.semdedup.clusterCap must be a positive integer, got '$capStr'")
        }
        require(cap >= 1L,
          s"x88: spark.graft.semdedup.clusterCap must be >= 1 (expected cluster size), got $cap")
        val f = pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast(LongType), lit(cap)) === 0L
        // fail loud, not empty: a cap far above the corpus size can draw
        // zero seeds (the x104 discipline)
        require(e.filter(f).limit(1).count() == 1L,
          s"x88: clusterCap=$cap drew an empty seed set — lower the cap")
        f
      case None => col("vec_id") < 8 // the oracle-matching frozen seed set
    }
    val assign = kmeansAssign(e, kmeansCentroids(e, seedFilter))
    val m = assign.join(e, "vec_id")
      .select(col("cluster"), col("vec_id"), col("v"), col("nrm"),
        col("cos_sim").as("cent_sim"))
      .persist()
    val a = m.select(col("cluster"), col("vec_id").as("ida"), col("v").as("va"),
      col("nrm").as("na"), col("cent_sim").as("csa"))
    val b = m.select(col("cluster"), col("vec_id").as("idb"), col("v").as("vb"),
      col("nrm").as("nb"), col("cent_sim").as("csb"))
    val pairs = a.join(b, Seq("cluster")).filter(col("ida") < col("idb"))
      .withColumn("cos", round(expr("graft_dot(va, vb)") / (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.45)
      .persist() // two consumers: the loser set and the neighbor counts
    // the paper's rule: drop the pair member closer to the centroid
    // (higher cent_sim); ties drop the larger vec_id
    val losers = pairs.select(
      when(col("csa") > col("csb"), col("ida"))
        .when(col("csa") < col("csb"), col("idb"))
        .otherwise(greatest(col("ida"), col("idb"))).as("vec_id"))
      .distinct()
      .withColumn("dropped", lit(true))
    val nDups = pairs.select(col("ida").as("vec_id"))
      .unionAll(pairs.select(col("idb").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_dups"))
    val out = m.select(col("vec_id"), col("cluster"), col("cent_sim"))
      .join(nDups, Seq("vec_id"), "left")
      .join(losers, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("cent_sim"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
    pairs.unpersist(); m.unpersist(); e.unpersist()
    out
  }

  private[operators] lazy val x88Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |seeds AS (SELECT CAST(vec_id AS INT) AS cluster, v AS cv, nrm AS cn FROM e WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT e.vec_id, s.cluster,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_dot_product(e.v, s.cv) / (e.nrm * s.cn), 6) DESC, s.cluster) AS rn
      |    FROM e, seeds s) t WHERE rn = 1),
      |jx AS (SELECT a1.cluster, e.v FROM a1 JOIN e USING (vec_id)),
      |ex AS (SELECT cluster, i, CAST(round(v[i + 1] * 1000000) AS BIGINT) AS elq
      |       FROM jx, (SELECT unnest(range(64)) AS i)),
      |cs AS (SELECT cluster, i, sum(elq) AS s, count(*) AS c FROM ex GROUP BY 1, 2),
      |cent AS (SELECT cluster, list(CAST(s AS DOUBLE) / (c * 1000000.0) ORDER BY i) AS cv
      |         FROM cs GROUP BY cluster),
      |cent2 AS (SELECT cluster, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cent),
      |m AS (SELECT vec_id, cluster, cent_sim, v, nrm FROM (
      |  SELECT e.vec_id, c.cluster, e.v, e.nrm,
      |    round(list_dot_product(e.v, c.cv) / (e.nrm * c.cn), 6) AS cent_sim,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_dot_product(e.v, c.cv) / (e.nrm * c.cn), 6) DESC, c.cluster) AS rn
      |  FROM e, cent2 c) t WHERE rn = 1),
      |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb, a.cent_sim AS csa, b.cent_sim AS csb
      |      FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |      WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45),
      |losers AS (SELECT DISTINCT CASE WHEN csa > csb THEN ida
      |                                WHEN csa < csb THEN idb
      |                                ELSE greatest(ida, idb) END AS vec_id FROM p),
      |nd AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dups FROM (
      |         SELECT ida AS vec_id FROM p UNION ALL SELECT idb FROM p) q GROUP BY 1)
      |SELECT m.vec_id, m.cluster, m.cent_sim,
      |  coalesce(nd.n_dups, 0) AS n_dups,
      |  (losers.vec_id IS NOT NULL) AS dropped
      |FROM m LEFT JOIN nd ON m.vec_id = nd.vec_id
      |       LEFT JOIN losers ON m.vec_id = losers.vec_id""".stripMargin

  // ---------------------------------------------------------------- X97
  /** MATRYOSHKA / TRUNCATED-EMBEDDING RECALL AUDIT — the dimension-
    * ablation table that decides whether a 16-dim prefix index is good
    * enough to serve retrieval (the Matryoshka-representation question,
    * and the sizing decision behind every IVF/PQ deployment): for each
    * query vector, exact top-10 under the full 64-dim cosine vs exact
    * top-10 under the 16-dim PREFIX cosine, reported as overlap@10.
    * Both rankings use the x6 determinism discipline (6dp-rounded
    * similarity, vec_id tiebreak), so the recall integers are
    * bit-reproducible. Scale: the query set is a bounded audit sample
    * (the x6 contract) — each representation costs one candidate scan
    * against a broadcast query block; the recall join moves 10 rows per
    * query. A full-corpus serving index would pair this audit with x14's
    * IVF; this measures what the truncation LOSES before you buy it. */
  private[operators] def x97(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def top10(frame: DataFrame, vec: String, nrm: String): DataFrame = {
      val q = frame.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col(vec).as("qv"), col(nrm).as("qn"))
      val c = frame.filter(col("vec_id") >= 5)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
      q.join(c) // broadcast cross: |q| = 5
        .withColumn("cos_sim",
          round(expr(s"graft_dot(qv, $vec)") / (col("qn") * col(nrm)), 6))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("query_id"), col("vec_id"))
    }
    val full = top10(e.withColumn("nrm", expr("sqrt(graft_dot(v, v))")), "v", "nrm")
    val trunc = top10(e.select(col("vec_id"), expr("slice(v, 1, 16)").as("tv"))
      .withColumn("tn", expr("sqrt(graft_dot(tv, tv))")), "tv", "tn")
    full.join(trunc.withColumn("m", lit(1L)), Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("m"), lit(0L))).as("n_match"))
      .select(col("query_id"), col("n_match"),
        (col("n_match") * lit(100000L)).as("recall_micro"))
  }

  private[operators] lazy val x97Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |f AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |t AS (SELECT vec_id, v[1:16] AS tv,
      |      sqrt(list_dot_product(v[1:16], v[1:16])) AS tn FROM e),
      |topf AS (SELECT query_id, vec_id FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) DESC,
      |        c.vec_id) AS rnk
      |  FROM f q JOIN f c ON q.vec_id < 5 AND c.vec_id >= 5) z WHERE rnk <= 10),
      |topt AS (SELECT query_id, vec_id FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_dot_product(q.tv, c.tv) / (q.tn * c.tn), 6) DESC,
      |        c.vec_id) AS rnk
      |  FROM t q JOIN t c ON q.vec_id < 5 AND c.vec_id >= 5) z WHERE rnk <= 10)
      |SELECT tf.query_id,
      |  CAST(sum(CASE WHEN tt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
      |  CAST(sum(CASE WHEN tt.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 100000 AS BIGINT)
      |    AS recall_micro
      |FROM topf tf LEFT JOIN topt tt
      |  ON tt.query_id = tf.query_id AND tt.vec_id = tf.vec_id
      |GROUP BY tf.query_id""".stripMargin

  // ---------------------------------------------------------------- X98
  /** CONTRASTIVE PAIR MINING — the training-pair construction behind
    * every retrieval/embedding fine-tune (SimCSE/DPR-style): for each
    * anchor vector, the HARDEST POSITIVE (most-similar same-label
    * candidate) and the HARDEST NEGATIVE (most-similar different-label
    * candidate), plus the margin between them — pairs with a small or
    * negative margin are exactly the ones worth training on. Anchors are
    * a bounded audit/mining block (vec_id < 20, the x6 contract);
    * candidates are the rest of the corpus, scanned ONCE against the
    * broadcast anchor block, with both argmaxes taken from the same
    * ranked pass (one window, pivoted) — at corpus scale this is one
    * scan + a 20-key aggregation, and a full-corpus mining run shards
    * the anchor set. Determinism: 6dp-rounded cosine, vec_id tiebreak
    * (the x6 discipline). */
  private[operators] def x98(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val anchors = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("anchor_id"), col("v").as("av"),
        col("nrm").as("an"), col("label").as("alabel"))
    val cands = e.filter(col("vec_id") >= 20)
    val w = Window.partitionBy(col("anchor_id"), col("is_pos"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    cands.join(broadcast(anchors))
      .withColumn("cos_sim", round(expr("graft_dot(av, v)") / (col("an") * col("nrm")), 6))
      .withColumn("is_pos", col("label") === col("alabel"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .groupBy(col("anchor_id"))
      .agg(
        max(when(col("is_pos"), col("vec_id"))).as("pos_id"),
        max(when(col("is_pos"), col("cos_sim"))).as("pos_sim"),
        max(when(!col("is_pos"), col("vec_id"))).as("neg_id"),
        max(when(!col("is_pos"), col("cos_sim"))).as("neg_sim"))
      .withColumn("margin", round(col("pos_sim") - col("neg_sim"), 6))
  }

  private[operators] lazy val x98Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label,
      |      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |a AS (SELECT vec_id AS anchor_id, v AS av, nrm AS an, label AS alabel
      |  FROM e WHERE vec_id < 20),
      |c AS (SELECT * FROM e WHERE vec_id >= 20),
      |r AS (SELECT a.anchor_id, c.vec_id,
      |    round(list_dot_product(a.av, c.v) / (a.an * c.nrm), 6) AS cos_sim,
      |    (c.label = a.alabel) AS is_pos,
      |    row_number() OVER (PARTITION BY a.anchor_id, (c.label = a.alabel)
      |      ORDER BY round(list_dot_product(a.av, c.v) / (a.an * c.nrm), 6) DESC,
      |        c.vec_id) AS rnk
      |  FROM c, a)
      |SELECT anchor_id,
      |  max(CASE WHEN is_pos THEN vec_id END) AS pos_id,
      |  max(CASE WHEN is_pos THEN cos_sim END) AS pos_sim,
      |  max(CASE WHEN NOT is_pos THEN vec_id END) AS neg_id,
      |  max(CASE WHEN NOT is_pos THEN cos_sim END) AS neg_sim,
      |  round(max(CASE WHEN is_pos THEN cos_sim END)
      |    - max(CASE WHEN NOT is_pos THEN cos_sim END), 6) AS margin
      |FROM r WHERE rnk = 1
      |GROUP BY anchor_id""".stripMargin

  // ---------------------------------------------------------------- X101
  /** k-NN LABEL CLASSIFICATION AUDIT — the weak-supervision sanity check
    * behind label propagation, auto-labeling, and "do my embeddings know
    * the taxonomy": each audit vector's label is predicted by MAJORITY
    * VOTE of its 5 nearest candidates (cosine), and the row records
    * whether the embedding neighborhood agrees with the ground truth.
    * Accuracy high → labels are propagatable and an auto-label pass is
    * safe; accuracy low with high x70 cohesion → the taxonomy is finer
    * than the embedding space. Deterministic end-to-end: 6dp-rounded
    * similarity with id tiebreaks picks the SAME 5 neighbors on any
    * engine, and the vote tiebreak (count desc, label asc) is total.
    * Scale: the audit block broadcasts; one candidate scan; the vote is a
    * |block|×|labels| aggregation — the full-corpus version shards the
    * block exactly like x98. */
  private[operators] def x101(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val a = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("aid"), col("v").as("av"),
        col("nrm").as("an"), col("label").as("true_label"))
    val c = e.filter(col("vec_id") >= 20)
    val wR = Window.partitionBy(col("aid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
    val wV = Window.partitionBy(col("aid")).orderBy(col("votes").desc, col("label").asc)
    c.join(broadcast(a))
      .withColumn("cos_sim", round(expr("graft_dot(av, v)") / (col("an") * col("nrm")), 6))
      .withColumn("rnk", row_number().over(wR))
      .filter(col("rnk") <= 5)
      .groupBy(col("aid"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wV))
      .filter(col("vr") === 1)
      .select(col("aid").as("vec_id"), col("true_label"),
        col("label").as("pred_label"), col("votes"),
        (col("label") === col("true_label")).as("correct"))
  }

  private[operators] lazy val x101Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label,
      |      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |a AS (SELECT vec_id AS aid, v AS av, nrm AS an, label AS true_label
      |  FROM e WHERE vec_id < 20),
      |c AS (SELECT * FROM e WHERE vec_id >= 20),
      |nn AS (SELECT aid, true_label, label FROM (
      |  SELECT a.aid, a.true_label, c.label,
      |    row_number() OVER (PARTITION BY a.aid
      |      ORDER BY round(list_dot_product(a.av, c.v) / (a.an * c.nrm), 6) DESC,
      |        c.vec_id) AS rnk
      |  FROM c, a) z WHERE rnk <= 5),
      |v AS (SELECT aid, true_label, label, CAST(count(*) AS BIGINT) AS votes FROM nn
      |  GROUP BY 1, 2, 3)
      |SELECT aid AS vec_id, true_label, label AS pred_label, votes,
      |  (label = true_label) AS correct
      |FROM (SELECT *, row_number() OVER (PARTITION BY aid
      |    ORDER BY votes DESC, label) AS vr FROM v) t
      |WHERE vr = 1""".stripMargin

  // ---------------------------------------------------------------- X102
  /** PRODUCT-QUANTIZATION CODEBOOK TRAINING — the index-construction
    * primitive behind every billion-vector ANN deployment (IVF-PQ/OPQ):
    * the 64-dim embedding splits into 8 subspaces of 8 dims; each subspace
    * independently trains a compact codebook (k=16, seeded on the 16
    * lowest distinct vec_ids, one Lloyd round), and every vector is then
    * ENCODED as 8 one-byte codes plus its exact squared reconstruction
    * error — 64 floats compressed to 8 codes, the 32× memory cut that
    * makes the x14 ADC scan possible. All arithmetic is integer-exact end to end:
    * elements quantize once to int64 micros, L2 distances are pure int64
    * sums (max ~2^48, no overflow), centroid recompute is an exact
    * long-sum + ONE IEEE division rounded back to micros — so any two
    * engines produce byte-identical codes. Scale shape: codebooks are
    * k×8×8 values — BROADCAST, never shuffled; the corpus is scanned
    * twice (assign, encode); the only corpus-scale shuffle is the
    * centroid recompute carrying (s, c, dim, int64) triples with map-side
    * combine — k·dims·partitions rows regardless of corpus size. The
    * subspace explode is map-side (Generate, no exchange). */
  /** (vec_id, s, sub): integer-micro 8-dim subvectors of every embedding —
    * the shared entry of the PQ family (x102 and the x112 index capstone).
    * Takes any (vec_id, embedding) frame so x112's producers quantize the
    * SAME way training did — one quantization rule, one place. */
  private[graft] def pqSubspaces(e: DataFrame): DataFrame =
    e.select(col("vec_id"), expr(
      "transform(embedding, x -> cast(round(cast(x as double) * 1000000, 0) as bigint))").as("vq"))
      .select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), s -> struct(s as s, slice(vq, s * 8 + 1, 8) as sub))")).as("z"))
      .select(col("vec_id"), col("z.s").as("s"), col("z.sub").as("sub"))

  private[graft] def pqSubspaces(spark: SparkSession, dir: String): DataFrame =
    pqSubspaces(Tables.embeddings(spark, dir))

  /** exact int64 squared L2 between the row's `sub` and `cent` arrays. */
  private[graft] lazy val pqDist2: Column = expr(
    "aggregate(zip_with(sub, cent, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")

  /** One seeded Lloyd round per subspace → (s, c, cent). Argmin is a
    * lexicographic min-struct AGGREGATION, not a row_number window: the ×k
    * candidate rows combine map-side, so the shuffle carries one
    * pre-reduced row per (vec, s) — a window would shuffle the full
    * exploded join. The centroid recompute is exact elementwise long sums,
    * one division, back to integer micros — the only corpus-scale shuffle,
    * map-side combined. */
  private[graft] def pqCodebook(subs: DataFrame): DataFrame = {
    // k=16 centroids per subspace (r7: k=4 measured ADC top-3 recall
    // ≈ 0.33 on near-isotropic vectors — below the engine's ≥ 0.8 ANN
    // bar; 16 codes is still a broadcast-trivial 8×16×8 table). Seeds
    // are the k LOWEST DISTINCT vec_ids pinned as literals — not
    // `vec_id < k`, which silently under-seeds any corpus whose ids
    // don't start at 0 (r6 advice).
    val k = 16
    val seedIds: Array[Long] = subs.select(col("vec_id")).distinct()
      .orderBy(col("vec_id")).limit(k).collect().map(_.getLong(0))
    val seeds = subs.filter(col("vec_id").isInCollection(seedIds.toSeq))
      .withColumn("c", (array_position(lit(seedIds), col("vec_id")) - 1).cast(IntegerType))
      .select(col("s"), col("c"), col("sub").as("cent"))
    subs.join(broadcast(seeds), "s")
      .withColumn("d2", pqDist2)
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d2"), col("c"), col("sub"))).as("m"))
      .select(col("s"), col("m.c").as("c"), col("m.sub").as("sub"))
      .select(col("s"), col("c"), posexplode(col("sub")).as(Seq("i", "el")))
      .groupBy(col("s"), col("c"), col("i"))
      .agg(sum(col("el")).as("se"), count(lit(1)).as("n"))
      .withColumn("ce", expr("cast(round(cast(se as double) / n, 0) as bigint)"))
      .groupBy(col("s"), col("c"))
      .agg(array_sort(collect_list(struct(col("i"), col("ce")))).as("ic"))
      .select(col("s"), col("c"), expr("transform(ic, x -> x.ce)").as("cent"))
  }

  /** Encode every vector against a codebook in ONE corpus shuffle: per
    * vector, 8 independent min-structs (one per subspace) combined
    * map-side; codes + the error sum unpack after the aggregation. */
  private[graft] def pqEncode(subs: DataFrame, cents: DataFrame): DataFrame = {
    val mins = (0 until 8).map(s =>
      min(when(col("s") === s, struct(col("d2"), col("c")))).as(s"m$s"))
    subs.join(broadcast(cents), "s")
      .withColumn("d2", pqDist2)
      .groupBy(col("vec_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("vec_id") +:
        (0 until 8).map(s => col(s"m$s.c").as(s"c$s")) :+
        (0 until 8).map(s => col(s"m$s.d2")).reduce(_ + _).as("err_micro2"): _*)
  }

  /** x112's two-stage serve for the 10 query vectors (vec_id < 10) from
    * the quantized vectors `vsubs` ([[pqSubspaces]]), a codebook and the
    * codes: a codes-only ADC scan keeps a top-64 shortlist per query
    * (stage 1), then exact quantized L2 over the shortlist only re-ranks
    * it to the top 3 (stage 2). The ≤64/query shortlist and the per-query
    * subvectors broadcast; `vsubs` is read three times, so callers pass a
    * persisted frame. */
  private[graft] def pqServe(vsubs: DataFrame, cb: DataFrame, codes: DataFrame): DataFrame = {
    val qsubs = vsubs.filter(col("vec_id") < 10)
      .withColumnRenamed("vec_id", "qid")
    val lut = qsubs
      .join(broadcast(cb), "s")
      .withColumn("d", pqDist2)
      .select(col("qid"), col("s"), col("c"), col("d"))
    val melted = codes.select(col("vec_id"), posexplode(array(
      (0 until 8).map(s => col(s"c$s")): _*)).as(Seq("s", "c")))
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc_micro2").asc, col("vec_id").asc)
    val shortlist = melted.join(broadcast(lut), Seq("s", "c"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d")).as("adc_micro2"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= 64)
      .select(col("qid"), col("vec_id"), col("adc_micro2"))
    val wEx = Window.partitionBy(col("qid")).orderBy(col("exact_micro2").asc, col("vec_id").asc)
    vsubs
      .join(broadcast(shortlist), "vec_id")
      .join(broadcast(qsubs.select(col("qid"), col("s"), col("sub").as("qsub"))),
        Seq("qid", "s"))
      .withColumn("d2", expr(
        "aggregate(zip_with(sub, qsub, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .groupBy(col("qid"), col("vec_id"), col("adc_micro2"))
      .agg(sum(col("d2")).as("exact_micro2"))
      .withColumn("rnk", row_number().over(wEx))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk").cast(IntegerType).as("rnk"),
        col("vec_id"), col("adc_micro2"), col("exact_micro2"))
  }

  private[operators] def x102(spark: SparkSession, dir: String): DataFrame = {
    val subs = pqSubspaces(spark, dir)
      .persist() // three passes: seeds, assignment, final encode
    pqEncode(subs, pqCodebook(subs))
  }

  /** Exact int64 subspace L2 in DuckDB — shared by the x102 and x112
    * oracles so the distance spelling cannot diverge. */
  private[operators] lazy val pqD2Sql: (String, String) => String = (sub, cent) =>
    s"list_sum(list_transform(range(8), i -> ($sub[i + 1] - $cent[i + 1]) * ($sub[i + 1] - $cent[i + 1])))"

  /** The codebook-training CTE chain (quantize → subspaces → seeds →
    * assignment → centroid recompute), WITH-less so callers append their
    * own consumers — ONE copy of the Lloyd round for both oracles. */
  private[operators] lazy val pqTrainCtesSql: String =
    s"""e AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS vq
       |  FROM embeddings),
       |subs AS (SELECT vec_id, s, list_slice(vq, s * 8 + 1, s * 8 + 8) AS sub
       |  FROM e, (SELECT unnest(range(8)) AS s)),
       |seeds AS (SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS INT) AS c,
       |    sub AS cent
       |  FROM subs WHERE vec_id IN (
       |    SELECT vec_id FROM (SELECT DISTINCT vec_id FROM subs ORDER BY vec_id LIMIT 16))),
       |a1 AS (SELECT s, c, sub FROM (
       |    SELECT v.s, k.c, v.sub,
       |      row_number() OVER (PARTITION BY v.vec_id, v.s
       |        ORDER BY ${pqD2Sql("v.sub", "k.cent")}, k.c) AS rn
       |    FROM subs v JOIN seeds k ON k.s = v.s) t WHERE rn = 1),
       |ex AS (SELECT s, c, i, sub[i + 1] AS el FROM a1, (SELECT unnest(range(8)) AS i)),
       |cs AS (SELECT s, c, i, sum(el) AS se, count(*) AS n FROM ex GROUP BY 1, 2, 3),
       |cent AS (SELECT s, c, list(CAST(round(se::DOUBLE / n) AS BIGINT) ORDER BY i) AS cent
       |  FROM cs GROUP BY 1, 2)""".stripMargin

  private[operators] lazy val x102Sql = {
    val codes = (0 until 8).map(s => s"max(CASE WHEN s = $s THEN c END) AS c$s").mkString(",\n      |  ")
    s"""WITH $pqTrainCtesSql,
       |enc AS (SELECT vec_id, s, c, d2 FROM (
       |    SELECT v.vec_id, v.s, k.c, ${pqD2Sql("v.sub", "k.cent")} AS d2,
       |      row_number() OVER (PARTITION BY v.vec_id, v.s
       |        ORDER BY ${pqD2Sql("v.sub", "k.cent")}, k.c) AS rn
       |    FROM subs v JOIN cent k ON k.s = v.s) t WHERE rn = 1)
       |SELECT vec_id,
       |  $codes,
       |  CAST(sum(d2) AS BIGINT) AS err_micro2
       |FROM enc GROUP BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- X106
  /** SELF-RETRIEVAL AUDIT — the retrieval-quality diagnostic run before
    * trusting an index for RAG or dedup lookups: every 40th document
    * donates an interior snippet (tokens 4–13) as a query; the query's
    * 3-shingle set retrieves candidates through the SAME inverted index
    * x2 deduplicates with, scored by shared-shingle count. A healthy
    * corpus self-retrieves at rank 1 (the source contains its own
    * snippet, so it attains FULL overlap); failures are the signal — an
    * exact or near duplicate with a smaller id outranking its source is
    * duplication surfacing as retrieval ambiguity. Per query: candidate
    * count, the top-ranked document, the source's exact rank, and the
    * hit flag. Scale shape: queries are a 1/40 systematic sample
    * (map-side filter), candidate generation is the linear postings
    * equi-join (never all-pairs; at 100 TB the same df-cap x2 applies
    * would bound stop-shingles), ranking is ONE aggregation per query
    * with a lexicographic min-struct argmax — no window over candidates,
    * map-side combined. */
  private[operators] def x106(spark: SparkSession, dir: String): DataFrame = {
    val docsSh = shingled(spark, dir)
    val posts = docsSh.select(col("doc_id"), explode(col("sh")).as("sg"))
    val q = Tables.documents(spark, dir)
      .filter(col("doc_id") % 40 === 0)
      .select(col("doc_id").as("qid"),
        expr("graft_shingle_hashes(slice(split(text, ' '), 4, 10), 3)").as("qsh"))
      .filter(size(col("qsh")) > 0)
    val cand = q.select(col("qid"), explode(col("qsh")).as("sg"))
      .join(posts, "sg")
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
      .persist() // read twice: source lookup + ranking
    val src = cand.filter(col("doc_id") === col("qid"))
      .select(col("qid"), col("shared").as("src_shared"))
    cand.join(src, "qid")
      .groupBy(col("qid"))
      .agg(
        count(lit(1)).as("n_cand"),
        min(struct((-col("shared")).as("ns"), col("doc_id").as("d"))).as("m"),
        (sum(((col("shared") > col("src_shared")) ||
          (col("shared") === col("src_shared") && col("doc_id") < col("qid")))
          .cast(LongType)) + 1).as("src_rank"))
      .select(col("qid"), col("n_cand"), col("m.d").as("top_doc"),
        (-col("m.ns")).as("top_shared"), col("src_rank"),
        (col("src_rank") === 1).as("self_hit"))
  }

  private[operators] lazy val x106Sql =
    s"""WITH s AS ($duckShingleSql),
       |post AS (SELECT doc_id, unnest(sh) AS sg FROM s),
       |d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |q0 AS (SELECT doc_id AS qid,
       |         list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),
       |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS qsh
       |       FROM (SELECT doc_id, tk[4:13] AS w FROM d WHERE doc_id % 40 = 0) z),
       |q AS (SELECT * FROM q0 WHERE len(qsh) > 0),
       |qp AS (SELECT qid, unnest(qsh) AS sg FROM q),
       |cand AS (SELECT qp.qid, post.doc_id, CAST(count(*) AS BIGINT) AS shared
       |         FROM qp JOIN post ON post.sg = qp.sg GROUP BY 1, 2),
       |src AS (SELECT qid, shared AS src_shared FROM cand WHERE doc_id = qid),
       |j AS (SELECT c.qid, c.doc_id, c.shared, s2.src_shared
       |      FROM cand c JOIN src s2 USING (qid)),
       |agg AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cand,
       |          CAST(sum(CASE WHEN shared > src_shared
       |                     OR (shared = src_shared AND doc_id < qid)
       |                   THEN 1 ELSE 0 END) + 1 AS BIGINT) AS src_rank
       |        FROM j GROUP BY qid),
       |top AS (SELECT qid, doc_id AS top_doc, shared AS top_shared FROM (
       |          SELECT *, row_number() OVER (PARTITION BY qid
       |            ORDER BY shared DESC, doc_id) AS rn FROM cand) t
       |        WHERE rn = 1)
       |SELECT a.qid, a.n_cand, top.top_doc, top.top_shared, a.src_rank,
       |  (a.src_rank = 1) AS self_hit
       |FROM agg a JOIN top USING (qid)""".stripMargin

  // ---------------------------------------------------------------- X109
  /** FARTHEST-POINT-SAMPLING CORESET — greedy k-center selection (the
    * classic 2-approximation): seed with the lowest vec_id, then k−1
    * times pick the vector FARTHEST from everything chosen so far. The
    * dual of x45's most-central exemplars: FPS maximizes DIVERSITY —
    * it's the seeding step for robust clustering and the "cover the
    * embedding space with k probes" selection for eval sets. The emitted
    * radius sequence is the diagnostic: radius_micro2 at step i is the
    * corpus' k=i COVERING RADIUS (squared, integer micros) — how far the
    * worst-covered point still is — and it is provably non-increasing.
    * Determinism: squared L2 over once-quantized integer micros with
    * vec_id tiebreaks — identical on any engine. Scale shape: each round
    * is ONE scan of the persisted quantized frame computing
    * `min(existing d, dist to the newly chosen center)` — the chosen
    * center rides into the scan as a 64-long LITERAL (the x82
    * pin-as-literal pattern; collecting one 64-element row per round is
    * a metadata-scale driver action) — followed by a min-struct argmax.
    * k scans total, no joins, no shuffles beyond the k argmax
    * aggregations. The oracle unrolls the same k−1 rounds as chained
    * CTEs. */
  private[operators] def x109(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 5
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), expr(
      "transform(embedding, x -> cast(round(cast(x as double) * 1000000, 0) as bigint))").as("vq"))
      .persist()
    def dist2To(center: Seq[Long]): Column = expr(
      s"aggregate(zip_with(vq, array(${center.mkString("L,")}L), " +
        "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
    val seedRow = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("vq")).head()
    var picked = Vector((seedRow.getLong(0), 0L))
    var center = seedRow.getSeq[Long](1)
    // ONE action per round: the argmax min-struct carries the winner's
    // vector out with it (vq never affects the ordering — (-d, vec_id)
    // is already total), and each round's distances persist so the next
    // round's scan starts from the cached frame, not the whole chain.
    var d: DataFrame = null
    for (_ <- 1 until k) {
      val dNew = (if (d == null) e.withColumn("d", dist2To(center))
                  else d.withColumn("d", least(col("d"), dist2To(center)))).persist()
      val far = dNew.agg(min(struct((-col("d")).as("nd"),
        col("vec_id").as("v"), col("vq").as("q")))).head().getStruct(0)
      if (d != null) d.unpersist()
      d = dNew
      center = far.getSeq[Long](2)
      picked :+= ((far.getLong(1), -far.getLong(0)))
    }
    d.unpersist()
    e.unpersist() // the loop's own caches are released; release the corpus too
    picked.zipWithIndex
      .map { case ((vid, r), i) => (i, vid, r) }
      .toDF("sel_order", "vec_id", "radius_micro2")
  }

  private[operators] lazy val x109Sql = {
    val dist2 = (vq: String, cq: String) =>
      s"list_sum(list_transform(range(64), i -> ($vq[i + 1] - $cq[i + 1]) * ($vq[i + 1] - $cq[i + 1])))"
    val rounds = (1 until 5).map { i =>
      s"""p$i AS (SELECT vec_id, vq, d FROM (SELECT *, row_number() OVER
         |    (ORDER BY d DESC, vec_id) AS rn FROM d${i - 1}) t WHERE rn = 1),
         |d$i AS (SELECT e.vec_id, e.vq,
         |    least(d${i - 1}.d, ${dist2("e.vq", "p.vq")}) AS d
         |  FROM e JOIN d${i - 1} USING (vec_id), p$i p
         |  WHERE TRUE)""".stripMargin
    }.mkString(",\n")
    val out = (1 until 5)
      .map(i => s"SELECT $i AS sel_order, vec_id, CAST(d AS BIGINT) AS radius_micro2 FROM p$i")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS vq
       |  FROM embeddings),
       |c0 AS (SELECT vec_id, vq FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
       |d0 AS (SELECT e.vec_id, e.vq, ${dist2("e.vq", "c.vq")} AS d FROM e, c0 c),
       |$rounds
       |SELECT CAST(0 AS INT) AS sel_order, vec_id, CAST(0 AS BIGINT) AS radius_micro2 FROM c0
       |UNION ALL
       |$out""".stripMargin
  }

  // ---------------------------------------------------------------- X149
  /** IVF DELTA-ADD MAINTENANCE AUDIT — the ANN leg of the IVM family
    * (x121 maintains an aggregate, q44 a join view, x130 a clustering,
    * x110 a dedup index; this maintains the SERVING index): a new
    * vector generation (vec_id % 10 == 0 plays the delta) is absorbed
    * into the standing x14 IVF index by ASSIGNMENT ONLY — the centroids
    * stay frozen at the base generation, so maintenance cost is
    * delta-proportional (one k-row centroid broadcast over the delta;
    * the base is never re-seeded, re-assigned, or re-shuffled). The
    * audit then serves the 5 query vectors from the MAINTAINED index
    * (nprobe = 4 of 16 cells, exact re-rank inside the probed cells —
    * the x29 discipline) and scores top-10 recall against the
    * brute-force ground truth over base ∪ delta: the number an operator
    * reads to decide when frozen centroids have drifted enough to
    * warrant a rebuild. Exactness: ordering on raw IEEE cosines with
    * vec_id tiebreaks (the x7 contract); every emitted value is an
    * integer (counts, half-up recall ppm). Scale shape: the scored
    * frame is |q|×|corpus| because ground truth demands the brute pass
    * (x143's honest note — production serving scans only probed cells);
    * assignment itself is one map-side broadcast pass per generation;
    * the 1-row-per-query audit materializes eagerly so the persisted
    * brute frame releases before returning. */
  private[operators] def x149(spark: SparkSession, dir: String): DataFrame = {
    val e = embWithNorm(spark, dir)
    val corpus = e.filter(col("vec_id") >= 5)
    val base = corpus.filter(col("vec_id") % 10 =!= 0)
    val delta = corpus.filter(col("vec_id") % 10 === 0)
    val cents = ivfSeedCentroids(base, 16) // frozen at the base generation
    val maintained = ivfAssigned(base, cents)
      .unionByName(ivfAssigned(delta, cents)) // delta-proportional add
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cent_id").asc)
    val probes = queries.join(broadcast(cents))
      .withColumn("csim", expr("graft_dot(qv, cv)") / (col("qn") * col("cn")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= 4)
      .select(col("query_id"), col("cent_id"))
    val scored = maintained.join(broadcast(queries)) // |q| = 5 broadcast cross
      .withColumn("cos", expr("graft_dot(qv, v)") / (col("qn") * col("nrm")))
      .select(col("query_id"), col("vec_id"), col("cent_id"), col("cos"))
      .persist(StorageLevel.MEMORY_AND_DISK) // brute pass: truth + serving
    val wv = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    val truth = scored.withColumn("rn", row_number().over(wv)).filter(col("rn") <= 10)
      .select(col("query_id"), col("vec_id"), lit(true).as("is_true"))
    val out = scored.join(broadcast(probes), Seq("query_id", "cent_id"))
      .withColumn("rn", row_number().over(wv)).filter(col("rn") <= 10)
      .join(truth, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("served"),
        coalesce(sum(when(col("is_true"), 1L).otherwise(0L)), lit(0L)).as("hits"))
      .select(col("query_id"), col("served"), col("hits"),
        expr("cast((2 * hits * 1000000 + 10) div 20 as bigint)").as("recall_ppm"))
    eagerFinish(out, scored) // release the brute frame
  }

  private[operators] lazy val x149Sql =
    """WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM e
      |          WHERE vec_id >= 5 AND vec_id % 10 <> 0
      |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |assign AS (SELECT vec_id, cent_id FROM (
      |  SELECT e.vec_id, c.cent_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC, c.cent_id) AS rn
      |  FROM e, cents c WHERE e.vec_id >= 5) a WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
      |cr AS (SELECT query_id, cent_id FROM (
      |  SELECT q.query_id, c.cent_id, row_number() OVER (PARTITION BY q.query_id
      |    ORDER BY list_dot_product(qv, cv) / (qn * cn) DESC, cent_id) AS crank
      |  FROM q, cents c) z WHERE crank <= 4),
      |sc AS MATERIALIZED (SELECT q.query_id, a.vec_id, a.cent_id,
      |    list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos
      |  FROM assign a JOIN e ON e.vec_id = a.vec_id CROSS JOIN q),
      |tr AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
      |  FROM sc) z WHERE rn <= 10),
      |cand AS (SELECT sc.* FROM sc JOIN cr USING (query_id, cent_id)),
      |top AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
      |  FROM cand) z WHERE rn <= 10)
      |SELECT t.query_id, CAST(count(*) AS BIGINT) AS served,
      |  CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
      |  CAST((2 * sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000 + 10)
      |       // 20 AS BIGINT) AS recall_ppm
      |FROM top t LEFT JOIN tr ON tr.query_id = t.query_id AND tr.vec_id = t.vec_id
      |GROUP BY t.query_id""".stripMargin

  // ---------------------------------------------------------------- X135
  /** SEMANTIC SPLIT-LEAKAGE AUDIT — the embedding-space complement of
    * x56's lexical split contamination: for EVERY test-split document,
    * its nearest train-split neighbor by exact cosine and a leak flag at
    * the x5 near-dup threshold (0.45). Lexical decontamination misses
    * paraphrases and near-copies that share no n-grams; this is the
    * audit run before an eval score is trusted. Splits are the x54
    * content-addressed buckets (md5(text) mod 100 — the SAME manifest
    * the training job uses, so the audit checks the real split, not a
    * re-draw). The argmax is an order-free max(struct(cos, −train_id))
    * aggregation — no global window, map-side partial merge — and
    * cosines round at 6dp (the x5 contract) so the argmax is
    * engine-stable. Scale shape (SIZE-GATED, the x130/q44 recipe): the
    * test side is 10% of the corpus — corpus-proportional, so it may
    * NOT be broadcast unconditionally. Under
    * `spark.graft.splitleak.broadcastTestCap` (rows) the exact leg runs
    * (|test|·|train| dots, embarrassingly parallel past the bounded
    * broadcast); past the cap the audit routes through x14's OWN IVF
    * index (the shared ivfSeedCentroids/ivfAssigned construction) —
    * each test vector probes its `spark.graft.splitleak.nprobe` nearest
    * cells and re-ranks the probed candidates by EXACT cosine, the x29
    * discipline — cost drops to the probed share of |train| per test
    * vector and nothing corpus-proportional ever broadcasts (the only
    * broadcast is the k-row centroid frame). Every probed cell is
    * non-empty (each centroid is a train vector assigned to itself), so
    * every test_id still emits; the routed argmax is exact over the
    * probed candidates (recall < 1 only when the true NN lives outside
    * the probed cells — the documented ANN contract, spec-checked
    * against the exact leg on the fixture). UNLIKE the gatedBroadcast
    * consumers (q39/q44/x110/x119), the two legs are NOT output-identical
    * in general — the routed leg is certified-approximate — so every row
    * carries a `mode` marker column ('exact' | 'ivf_routed', r10 ADVICE):
    * a conf change can never silently turn a certified-exact audit
    * approximate, because the approximation is visible in the output
    * itself (and would fail the exact oracle's hash). */
  private[operators] def x135(spark: SparkSession, dir: String): DataFrame =
    x135On(spark, Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  /** fixture-injectable core: docs needs (doc_id, text), emb (vec_id, embedding) */
  private[graft] def x135On(spark: SparkSession, docs: DataFrame, emb: DataFrame): DataFrame = {
    val split = docs.select(col("doc_id"),
        pmod(conv(substring(md5(col("text")), 1, 8), 16, 10).cast(LongType), lit(100L)).as("b"))
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
      .select(col("doc_id"), col("split"))
    val e = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .join(split, col("vec_id") === col("doc_id"))
    val test = e.filter(col("split") === "test")
      .select(col("vec_id").as("test_id"), col("v").as("vt"), col("nrm").as("nt"))
    val train = e.filter(col("split") === "train")
      .select(col("vec_id").as("train_id"), col("v").as("vr"), col("nrm").as("nr"))
    val testCap = spark.conf.getOption("spark.graft.splitleak.broadcastTestCap")
      .map(_.toLong).getOrElse(2000000L)
    val routed = test.count() > testCap
    val pairs =
      if (!routed) {
        // exact leg: stream the big (train) side against the broadcast
        // bounded test side; spread to the session's shuffle width first
        // or the pair loop inherits the scan's file count
        train.repartition(spark.sessionState.conf.numShufflePartitions)
          .crossJoin(broadcast(test))
      } else {
        // routed leg: probe x14's index, exact re-rank inside the cells
        val nprobe = spark.conf.getOption("spark.graft.splitleak.nprobe")
          .map(_.toInt).getOrElse(4)
        val trainE = train.select(col("train_id").as("vec_id"),
          col("vr").as("v"), col("nr").as("nrm"))
        val cents = ivfSeedCentroids(trainE, 16)
        val assigned = ivfAssigned(trainE, cents)
          .select(col("vec_id").as("train_id"), col("cent_id"),
            col("v").as("vr"), col("nrm").as("nr"))
        val wq = Window.partitionBy(col("test_id"))
          .orderBy(col("csim").desc, col("cent_id").asc)
        val probes = test.join(broadcast(cents)) // k-row broadcast only
          .withColumn("csim", expr("graft_dot(vt, cv)") / (col("nt") * col("cn")))
          .withColumn("crank", row_number().over(wq))
          .filter(col("crank") <= nprobe)
          .select(col("test_id"), col("cent_id"), col("vt"), col("nt"))
        assigned.join(probes, Seq("cent_id"))
          .select(col("train_id"), col("vr"), col("nr"),
            col("test_id"), col("vt"), col("nt"))
      }
    pairs
      .withColumn("cos_sim", round(expr("graft_dot(vr, vt)") / (col("nr") * col("nt")), 6))
      .groupBy(col("test_id"))
      .agg(max(struct(col("cos_sim"), (-col("train_id")).as("neg"),
        col("train_id"))).as("best"))
      .select(col("test_id"), col("best.train_id").as("train_id"),
        col("best.cos_sim").as("cos_sim"),
        (col("best.cos_sim") >= 0.45).as("leaked"),
        lit(if (routed) "ivf_routed" else "exact").as("mode"))
  }

  private[operators] lazy val x135Sql =
    """WITH sp AS (SELECT doc_id,
      |    CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 80 THEN 'train'
      |         WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |t AS (SELECT e.vec_id, e.v, e.nrm FROM e JOIN sp
      |      ON sp.doc_id = e.vec_id AND sp.split = 'test'),
      |r AS (SELECT e.vec_id, e.v, e.nrm FROM e JOIN sp
      |      ON sp.doc_id = e.vec_id AND sp.split = 'train'),
      |p AS (SELECT t.vec_id AS test_id, r.vec_id AS train_id,
      |    round(list_dot_product(t.v, r.v) / (t.nrm * r.nrm), 6) AS cos_sim
      |  FROM t, r),
      |b AS (SELECT test_id, train_id, cos_sim,
      |    row_number() OVER (PARTITION BY test_id
      |      ORDER BY cos_sim DESC, train_id) AS rn FROM p)
      |SELECT test_id, train_id, cos_sim, cos_sim >= 0.45 AS leaked,
      |  'exact' AS mode
      |FROM b WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- X157
  /** IVF TOMBSTONE-MASKED SERVE — the DELETE side of index maintenance
    * (x149 is the add side): vectors leave a deployed index by TOMBSTONE,
    * never by rewrite — erasure requests, license revocations, and dedup
    * removals land as an id set, and the serving path must exclude them
    * EXACTLY while the codes stay on disk until compaction. The theorem
    * this query gates: masked-serve ≡ rebuilt-serve BIT-FOR-BIT, because
    * under a FROZEN coarse quantizer (the x49/x149 discipline — rebuilds
    * between retrains keep the base centroids) every surviving vector's
    * cell assignment and int8 residual code are functions of (v,
    * centroid) alone, so deleting neighbors changes WHICH codes exist,
    * never their bytes, and the ADC candidate cut over the live count is
    * the rebuilt index's cut. (Re-SEEDING centroids from the live corpus
    * would break the identity — that is a retrain, not a delete.)
    * DATA-RETENTION CAVEAT: the frozen centroids are 16 ACTUAL base
    * vectors, and a later-tombstoned vector can be one of them — its
    * embedding then persists verbatim as a serving centroid and keeps
    * shaping assignments. Tombstoning masks SERVING only; true erasure
    * of a seed vector (the GDPR/license-revocation bar) requires the
    * retrain/compaction path this comment's taxonomy reserves for
    * re-seeding — x158's rebuild flag is precisely the scheduler input
    * for that rewrite. The
    * oracle IS the rebuild: x14's full-algorithm DuckDB pipeline with
    * the tombstone predicate applied at the assignment scan. Scale
    * shape: identical to x14's serving path (the one corpus-wide pass
    * reads ~80-byte codes); the mask is a map-side predicate — in
    * production a broadcast tombstone set or a bloom gate, here the
    * id-residue stand-in. Fixture: vec_id % 13 tombstones ~7.7% of the
    * base, queries (vec_id < 5) are never tombstoned. */
  private[operators] def x157(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val base = e.filter(col("vec_id") >= 5)
    val live = base.filter(col("vec_id") % 13 =!= 0) // the tombstone mask
    ivfAdcServe(e, live, ivfSeedCentroids(base, 16)) // centroids FROZEN over the full base
  }

  /** x14Sql with the tombstone predicate at the assignment scan — the
    * from-scratch rebuild over live vectors under the frozen centroids. */
  private[operators] lazy val x157Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM e
      |          WHERE vec_id >= 5 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |assign AS (SELECT vec_id, cent_id FROM (
      |  SELECT e.vec_id, c.cent_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC, c.cent_id) AS rn
      |  FROM e, cents c WHERE e.vec_id >= 5 AND e.vec_id % 13 <> 0) a WHERE rn = 1),
      |codes AS (
      |  SELECT e.vec_id, a.cent_id, e.nrm,
      |    greatest(list_max(list_transform(
      |      list_transform(range(1, len(e.v) + 1), i -> e.v[i] - c.cv[i]), x -> abs(x))), 1e-12) AS mx,
      |    list_transform(
      |      list_transform(range(1, len(e.v) + 1), i -> e.v[i] - c.cv[i]),
      |      x -> floor(x * (127.0 / greatest(list_max(list_transform(
      |             list_transform(range(1, len(e.v) + 1), j -> e.v[j] - c.cv[j]), y -> abs(y))), 1e-12)) + 0.5)) AS code
      |  FROM e JOIN assign a USING (vec_id) JOIN cents c USING (cent_id)),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
      |qc AS (SELECT q.query_id, c.cent_id, list_dot_product(q.qv, c.cv) AS qcdot FROM q, cents c),
      |cand AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT q.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY
      |        (qc.qcdot + list_dot_product(q.qv, c.code) * (c.mx / 127.0)) / (q.qn * c.nrm) DESC,
      |        c.vec_id) AS r1,
      |      count(*) OVER (PARTITION BY q.query_id) AS csz
      |    FROM codes c
      |    JOIN qc ON qc.cent_id = c.cent_id
      |    JOIN q ON q.query_id = qc.query_id) z
      |  WHERE r1 <= ceil(CAST(csz AS DOUBLE) / 8))
      |SELECT query_id, vec_id, rnk, cos_sim FROM (
      |  SELECT cand.query_id, cand.vec_id,
      |    round(list_dot_product(qe.v, ce.v) / (qe.nrm * ce.nrm), 6) AS cos_sim,
      |    CAST(row_number() OVER (PARTITION BY cand.query_id
      |      ORDER BY round(list_dot_product(qe.v, ce.v) / (qe.nrm * ce.nrm), 6) DESC, cand.vec_id) AS INT) AS rnk
      |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
      |            JOIN e ce ON ce.vec_id = cand.vec_id) t
      |WHERE rnk <= 10""".stripMargin

  // ---------------------------------------------------------------- X158
  /** IVF COMPACTION AUDIT — the maintenance decision x157's tombstones
    * accumulate toward: per cell, how many codes exist, how many are
    * dead, the live fraction, and the rebuild flag (live < 80% — the
    * FAISS-style "compact when tombstones pass a fifth" heuristic made
    * an explicit half-up-ppm integer rule). The output is what a
    * compaction scheduler reads to pick WHICH cells to rewrite — cells,
    * not the whole index, are the rewrite unit, so the reclaim column
    * (dead codes × ~80-byte ADC entries) prices each candidate rewrite.
    * Scale shape: ONE assignment pass over the base (the same k-row
    * broadcast + max_by x14 serves from), one groupBy(cent_id) of
    * conditional sums — k output rows. Exactness: counts and half-up
    * ppm rationals, integer end-to-end after the (deterministic)
    * assignment. */
  /** The compaction finisher shared by batch x158 and streaming qs37
    * (r12, the one-implementation rule): per-cell live ppm, reclaimable
    * bytes, and the live < 80% rebuild flag from a
    * (cent_id, n_codes, n_tombstoned) frame — k rows in, k rows out. */
  private[graft] def compactionDecision(cells: DataFrame,
      entryBytes: Long = 80L): DataFrame =
    cells.select(col("cent_id"), col("n_codes"), col("n_tombstoned"),
      expr("""(2 * (n_codes - n_tombstoned) * 1000000 + n_codes)
              div (2 * n_codes)""").as("live_ppm"),
      (col("n_tombstoned") * entryBytes).as("reclaim_bytes"),
      expr("""(2 * (n_codes - n_tombstoned) * 1000000 + n_codes)
              div (2 * n_codes) < 800000""").as("rebuild"))
      .orderBy(col("cent_id"))

  private[operators] def x158(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val base = e.filter(col("vec_id") >= 5)
    compactionDecision(ivfAssigned(base, ivfSeedCentroids(base, 16))
      .withColumn("dead", (col("vec_id") % 13 === 0).cast(LongType))
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_codes"), sum(col("dead")).as("n_tombstoned")))
  }

  private[operators] lazy val x158Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |           FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM e
      |          WHERE vec_id >= 5 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |assign AS (SELECT vec_id, cent_id FROM (
      |  SELECT e.vec_id, c.cent_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC, c.cent_id) AS rn
      |  FROM e, cents c WHERE e.vec_id >= 5) a WHERE rn = 1),
      |g AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_codes,
      |        CAST(count(*) FILTER (WHERE vec_id % 13 = 0) AS BIGINT) AS n_tombstoned
      |      FROM assign GROUP BY cent_id)
      |SELECT cent_id, n_codes, n_tombstoned,
      |  CAST((2 * (n_codes - n_tombstoned) * 1000000 + n_codes)
      |       // (2 * n_codes) AS BIGINT) AS live_ppm,
      |  CAST(n_tombstoned * 80 AS BIGINT) AS reclaim_bytes,
      |  (2 * (n_codes - n_tombstoned) * 1000000 + n_codes) // (2 * n_codes) < 800000 AS rebuild
      |FROM g ORDER BY cent_id""".stripMargin

}
