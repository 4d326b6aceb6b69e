package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** The tie-corrected Mann–Whitney machinery shared by batch x144 and
  * streaming qs28 — ONE implementation of the finisher and ONE oracle
  * text, so the drift test and its online twin cannot diverge. Lives
  * outside both registries (the TextConstants rule: anything BOTH
  * `Queries` and `StreamQueries` need at object-init time must not
  * reference either, or their mutual `all` clinit deadlocks).
  *
  * The test, fully integer (see x144's scaladoc for the derivation):
  * midranks doubled (mid2 = 2·cum + t + 1), 2U = R2 − n_s(n_s+1),
  * K = (N+1)N(N−1) − Σ(t³−t), z² ≥ 1.96² decided as
  * 625·(2U−n_sn_r)²·3·N(N−1) ≥ 2401·n_sn_r·K (1.96 = 49/25 exactly).
  *
  * The z²/significance cross-products are finished DRIVER-SIDE in exact
  * BigInt over the |sources|-bounded per-source frame (the x146 class):
  * the r8 in-plan DECIMAL(38,0) form silently overflowed to NULL near
  * N ~ 3·10⁵ under worst-case drift (dev² · 3N(N−1) · 10⁶ needs ~N⁶
  * digits), and Spark nulls on decimal overflow where DuckDB raises —
  * a silent engine/oracle divergence class. What stays distributed is
  * everything corpus-sized (the histogram, midranks, per-source R2,
  * whose DECIMAL(38,0) forms are safe through N ~ 10¹⁸). */
object RankSum {

  /** Stateless finisher over a (source, score, c) count histogram —
    * the histogram is bounded by |sources| × the ppm grid, so the
    * window over pooled scores orders ≤10⁶ cells, never documents. */
  def audit(counts0: DataFrame): DataFrame = {
    // localCheckpoint, not persist: the frame self-joins (pooled midranks
    // derive from it), and when the input is a streaming memory-sink VIEW
    // Spark cannot deduplicate the conflicting leaf references — a
    // checkpointed leaf gives both branches fresh exprIds. Bounded frame
    // (|sources| × ppm grid), so materializing it is cheap by contract.
    val counts = counts0.localCheckpoint(true)
    val pooled = counts.groupBy(col("score")).agg(sum(col("c")).as("t"))
      .withColumn("cum",
        coalesce(sum(col("t")).over(Window.orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("mid2", lit(2L) * col("cum") + col("t") + 1L)
    val gl = pooled.agg(
      sum(col("t")).as("nn"),
      sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).as("ties")).head()
    val bigN = gl.getLong(0)
    // ORACLE-PARITY HEADROOM GUARD (r10, ADVICE): this finisher is exact
    // BigInt at any N, but the shared DuckDB oracle computes the z²
    // cross-products in 128-bit HUGEINT, whose worst case
    //   2·dev²·3N(N−1)·10⁶ ≤ 2·(N²/4)²·3N²·10⁶ = 3.75·10⁵·N⁶
    // crosses 2¹²⁷−1 ≈ 1.70·10³⁸ near N ≈ 2.7·10⁵ — DuckDB raises, but
    // the failure would present as a confusing oracle error far from its
    // cause. Fail HERE, loud and attributed, at a documented safe bound;
    // engine-only runs on larger eval slices raise the conf knowingly.
    // r11 (ADVICE): the guard fires only when an oracle-parity run is
    // actually in effect — Verify sets spark.graft.verifyMode=true, and
    // setting the N conf explicitly opts in — so engine-only production
    // runs on larger eval slices no longer throw for a bound that exists
    // purely to pre-empt a confusing DuckDB-side error.
    val conf = counts0.sparkSession.conf
    val parityOpt = conf.getOption("spark.graft.ranksum.oracleParityN").map(_.toLong)
    val parityRun = parityOpt.isDefined ||
      Queries.confFlag(conf, "spark.graft.verifyMode", default = false)
    val parityCap = parityOpt.getOrElse(250000L)
    require(!parityRun || bigN <= parityCap,
      s"rank-sum eval slice N=$bigN exceeds the DuckDB-oracle HUGEINT headroom bound " +
        s"($parityCap; worst-case z² numerator 3.75e5·N⁶ reaches 2^127 near N≈2.7e5). " +
        "Audit a bounded eval slice, or raise spark.graft.ranksum.oracleParityN for " +
        "engine-only runs — the BigInt finisher itself is exact at any N.")
    // K pinned as a literal (the x58 stats pattern); BigInt because
    // N³ outgrows a long well inside the documented eval-slice range
    val k = (BigInt(bigN) + 1) * BigInt(bigN) * (BigInt(bigN) - 1) -
      BigInt(gl.getDecimal(1).toBigInteger)
    // per-source totals stay distributed (R2 ≤ N(2N+1) — DECIMAL(38,0)-
    // safe through N ~ 10¹⁸); the frame is |sources|-bounded by contract
    val perSource = counts
      .join(broadcast(pooled.select(col("score"), col("mid2"))), "score")
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * mid2")).as("r2"))
    val sourceField = perSource.schema.fields.head
    val rows = perSource.collect().map { r =>
      val n = r.getLong(1)
      val r2 = BigInt(r.getDecimal(2).toBigInteger)
      val u2d = r2 - BigInt(n) * (BigInt(n) + 1)
      val nsnr = BigInt(n) * (BigInt(bigN) - n)
      val dev = u2d - nsnr
      val (z2ppm, signif) =
        if (nsnr > 0 && k > 0) {
          val num = dev * dev * 3 * BigInt(bigN) * (BigInt(bigN) - 1)
          (((2 * num * 1000000 + nsnr * k) / (2 * nsnr * k)).toLong,
            625 * num >= 2401 * nsnr * k)
        } else (0L, false)
      Row(r.get(0), n, u2d.toLong, z2ppm, signif)
    }
    val schema = StructType(Seq(
      sourceField,
      StructField("n_docs", LongType, nullable = false),
      StructField("u2", LongType, nullable = false),
      StructField("z2_ppm", LongType, nullable = false),
      StructField("significant", BooleanType, nullable = false)))
    counts0.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** The one oracle text (batch documents), shared by x144 and qs28. */
  lazy val oracleSql: String = {
    val stop = TextConstants.stopwordsSqlList
    s"""WITH d AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
       |s AS (SELECT source,
       |        ((CAST(len(list_distinct(tk)) AS BIGINT) + len(tk)
       |          - len(list_filter(tk, x -> x IN ($stop)))) * 2000000
       |         + 2 * len(tk)) // (4 * len(tk)) AS score
       |      FROM d),
       |c AS (SELECT source, score, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
       |p AS (SELECT score, CAST(sum(c) AS BIGINT) AS t FROM c GROUP BY 1),
       |pm AS (SELECT score, t,
       |         coalesce(CAST(sum(t) OVER (ORDER BY score
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum
       |       FROM p),
       |mid AS (SELECT score, 2 * cum + t + 1 AS mid2 FROM pm),
       |g AS (SELECT CAST(sum(t) AS BIGINT) AS nn,
       |        CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS ties FROM p),
       |kk AS (SELECT nn,
       |         (CAST(nn AS HUGEINT) + 1) * nn * (nn - 1) - ties AS k FROM g),
       |r AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
       |        CAST(sum(CAST(c AS HUGEINT) * mid2) AS HUGEINT) AS r2
       |      FROM c JOIN mid USING (score) GROUP BY 1),
       |f AS (SELECT source, n_docs,
       |        r2 - CAST(n_docs AS HUGEINT) * (n_docs + 1) AS u2d,
       |        CAST(n_docs AS HUGEINT) * ((SELECT nn FROM kk) - n_docs) AS nsnr
       |      FROM r)
       |SELECT source, n_docs, CAST(u2d AS BIGINT) AS u2,
       |  CAST(CASE WHEN nsnr > 0 AND (SELECT k FROM kk) > 0 THEN
       |    (2 * (u2d - nsnr) * (u2d - nsnr) * 3 * (SELECT nn FROM kk)
       |       * ((SELECT nn FROM kk) - 1) * 1000000
       |     + nsnr * (SELECT k FROM kk))
       |    // (2 * nsnr * (SELECT k FROM kk))
       |  ELSE 0 END AS BIGINT) AS z2_ppm,
       |  (nsnr > 0 AND (SELECT k FROM kk) > 0 AND
       |   625 * (u2d - nsnr) * (u2d - nsnr) * 3 * (SELECT nn FROM kk)
       |     * ((SELECT nn FROM kk) - 1)
       |   >= 2401 * nsnr * (SELECT k FROM kk)) AS significant
       |FROM f""".stripMargin
  }
}
