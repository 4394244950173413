package graft

/** Driver-style smoke: calls SparkEntry.entry the way the harness does and
  * prints the row count (driver checks rows > 0). `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"ENTRY_ROWS=${rows.length}")
    rows.foreach(r => println(s"  $r"))
    spark.stop()
  }
}
