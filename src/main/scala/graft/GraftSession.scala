package graft

import org.apache.spark.sql.SparkSession

import graft.functions.{GraftExtensions, GraftFunctions}

/** The one place a local SparkSession is configured. Bench, Verify and the
  * dev tools all build their session here, so the oracle gate checks the
  * same partitioning the bench measures; perfbench runs the same settings. */
object GraftSession {

  /** Local-mode cores: `SPARK_GRAFT_CPUS`, else the JVM's processors. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // local-mode knob: sf0.1 parquet files are 2-20 MB, far below the
      // 128 MB default split size — without this every scan is one task
      // and all but one core idle on the map side. A real cluster with
      // full-size files keeps the default.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // shuffle/spill scratch on tmpfs when the host has one: local-mode
      // shuffle files are ephemeral by definition; a cluster deployment
      // keeps the default (fast local disks sized for spill)
      .config("spark.local.dir", graft.util.TempDirs.sparkLocalDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // spark.sql.extensions is static, and getOrCreate hands back a session
    // that is already running unchanged: install the functions on one that
    // was built without the extension, and leave one that has them alone
    if (!spark.catalog.functionExists("graft_dot")) GraftFunctions.register(spark)
    spark
  }
}
