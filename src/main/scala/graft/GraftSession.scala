package graft

import org.apache.spark.sql.SparkSession

/** The session Bench, Verify and `tools.Profile` run on: `local[cpus]`
  * with one shuffle partition per core, UTC, no UI, WARN logging, and the
  * production optimizer-rule placement — [[GraftSparkExtensions]] puts
  * FoldSingleRowJoin inside the operator-optimization batch, so rewritten
  * probe filters reach the scans (the `registerAll` fallback would land
  * it post-pushdown — weaker plans). Specs and perfbench build their own.
  */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
