package graft.util

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Opt-in phase timing for engine internals: enable with
  * `-Dgraft.timing=1` (or env GRAFT_TIMING=1). Zero overhead when off
  * beyond a volatile read; never enabled in bench/verify runs. */
object Timing {
  val enabled: Boolean =
    sys.props.get("graft.timing").contains("1") || sys.env.get("GRAFT_TIMING").contains("1")

  def timed[A](label: => String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally println(f"[graft-timing] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

  /** The query-timing instrument shared by Bench and the dev tools: drop
    * the previous run's caches outside the timer, then build the frame and
    * write it to the noop sink. The noop sink computes every output column,
    * exactly what the DuckDB oracle's fetch pays; count() would let the
    * optimizer's distinct-key join elimination drop whole pipeline legs.
    * Returns the seconds taken, or what building or running the frame
    * threw: a failure is never reported as a duration. */
  def noopRun(spark: SparkSession)(build: => DataFrame): Try[Double] = {
    spark.catalog.clearCache()
    // catalog.clearCache() misses RDD-level persists (per-round leaves)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    val t0 = System.nanoTime()
    Try {
      build.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** `reps` [[noopRun]]s of `build`, sorted; the first failure ends the
    * series and is returned instead. */
  def noopReps(spark: SparkSession, reps: Int)(build: => DataFrame): Either[Throwable, Seq[Double]] =
    (1 to reps).foldLeft[Either[Throwable, Seq[Double]]](Right(Vector.empty)) { (acc, _) =>
      acc.flatMap(ts => noopRun(spark)(build) match {
        case Success(t) => Right(ts :+ t)
        case Failure(e) => Left(e)
      })
    }.map(_.sorted)
}
