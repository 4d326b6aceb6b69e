package graft
import java.nio.file.{Files, Paths}

import graft.util.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (`tools/selfcheck.py`). Runs under the session Bench measures
  * ([[GraftSession.local]]). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg (dev only): comma-separated query-name filter —
    // the driver always runs the full set
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.local(GraftSession.cores, "graft-verify")
    // oracle-parity run marker: operators with oracle-headroom guards
    // (RankSum's HUGEINT bound) fail loud HERE instead of letting DuckDB
    // raise a confusing arithmetic error downstream; engine-only runs
    // without this flag skip those guards (r10 ADVICE).
    spark.conf.set("spark.graft.verifyMode", "true")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1))).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // per-query persist() must not leak
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.render(Json.strMap(SparkEntry.oracleSql.filter(kv => only.forall(_.contains(kv._1))))))
    spark.stop()
  }
}
