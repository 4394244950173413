package graft

import org.apache.spark.sql.SparkSession

/** The one local session every command-line main runs in (Bench, Verify,
  * Sql, Smoke): `local[$SPARK_GRAFT_CPUS]`, else one thread per available
  * processor, with one shuffle partition per thread and a UTC session clock
  * (the DuckDB oracles compare timestamps in UTC).
  */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
