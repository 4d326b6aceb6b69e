package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{assert_true, col}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Queries
import graft.util.Timing.{noopReps, noopRun}

/** The shared harness of Bench, Verify and the dev tools: the session
  * factory, the noop-sink timing instrument and the conf-flag parser. */
class GraftSessionSpec extends AnyFunSuite {

  private def withSession[A](make: => SparkSession)(body: SparkSession => A): A = {
    val spark = make
    try body(spark) finally spark.stop()
  }

  test("GraftSession.local: partitions follow cores; the bench's split, scratch and extension settings") {
    withSession(GraftSession.local(2, "graft-session-spec")) { spark =>
      val conf = spark.conf
      assert(spark.sparkContext.master === "local[2]")
      assert(conf.get("spark.sql.shuffle.partitions") === "2")
      assert(conf.get("spark.sql.session.timeZone") === "UTC")
      assert(conf.get("spark.ui.enabled") === "false")
      assert(conf.get("spark.sql.extensions") === "graft.functions.GraftExtensions")
      assert(conf.get("spark.sql.files.maxPartitionBytes") === "4m")
      assert(conf.get("spark.sql.files.openCostInBytes") === "1m")
      assert(conf.getOption("spark.local.dir").nonEmpty)
      assert(spark.catalog.functionExists("graft_dot"))
    }
  }

  test("GraftSession.local installs the graft functions on a running session built without them") {
    val plain = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").appName("plain").getOrCreate()
    withSession(plain) { _ =>
      assert(!plain.catalog.functionExists("graft_dot"))
      val spark = GraftSession.local(2, "graft-session-spec")
      assert(spark eq plain, "getOrCreate must hand back the running session")
      assert(spark.catalog.functionExists("graft_dot"))
      assert(GraftSession.local(2, "graft-session-spec") eq plain) // a second call is a no-op
      assert(spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head().getDouble(0) === 11.0)
    }
  }

  test("noopRun: a query that throws yields a failure, never a duration") {
    withSession(GraftSession.local(2, "graft-session-spec")) { spark =>
      assert(noopRun(spark)(spark.range(10).toDF()).isSuccess)
      // thrown while building the frame
      assert(noopRun(spark)(throw new IllegalStateException("build failed")).isFailure)
      // thrown by the job the noop write runs
      val failing = spark.range(10).select(assert_true(col("id") < 5).as("ok"))
      assert(noopRun(spark)(failing).isFailure)
      var builds = 0
      val reps = noopReps(spark, 3) { builds += 1; failing }
      assert(reps.isLeft, reps)
      assert(builds === 1, "the first failure must end the series")
      assert(noopReps(spark, 3)(spark.range(10).toDF()).map(_.size) === Right(3))
    }
  }

  test("confFlag: true/false, on/off, 1/0 in any case; anything else fails naming the key") {
    withSession(GraftSession.local(2, "graft-session-spec")) { spark =>
      val key = "spark.graft.test.flag"
      assert(Queries.confFlag(spark.conf, key, default = true))
      assert(!Queries.confFlag(spark.conf, key, default = false))
      val table = Seq(
        "true" -> true, "TRUE" -> true, "On" -> true, "1" -> true, " on " -> true,
        "false" -> false, "False" -> false, "OFF" -> false, "0" -> false)
      for ((value, want) <- table) {
        spark.conf.set(key, value)
        assert(Queries.confFlag(spark.conf, key, default = !want) === want, s"'$value'")
      }
      for (bad <- Seq("yes", "", "2", "tru")) {
        spark.conf.set(key, bad)
        val e = intercept[IllegalArgumentException](Queries.confFlag(spark.conf, key, default = false))
        assert(e.getMessage.contains(key), e.getMessage)
      }
    }
  }
}
