package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: re-time a SUBSET of declared queries with the bench's exact
  * methodology (1 warmup run, then `groups` spaced groups of 3 back-to-back
  * runs, min over all samples, benchFn preferred) — the targeted A/B loop
  * an optimization round needs without paying a 25-minute full sweep.
  * Usage: Retime [-g<groups>] <query>... ; env SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS as in Bench. Prints one `name min median samples` line
  * per query on stdout.
  */
object Retime {
  def main(args: Array[String]): Unit = {
    val groups = args.find(_.startsWith("-g")).map(_.drop(2).toInt).getOrElse(3)
    val names = args.filterNot(_.startsWith("-g")).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)")
      .write.mode("overwrite").format("noop").save()
    val qs = SparkEntry.all.filter(q => names.contains(q.name))
    val unknown = names.filterNot(qs.map(_.name).contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def timed(q: QDef): Double = {
      val t0 = System.nanoTime()
      q.benchFn.getOrElse(q.fn)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    qs.foreach(timed) // warmup sweep, untimed
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to groups; q <- qs; _ <- 1 to 3)
      samples(q.name) = samples(q.name) :+ timed(q)
    qs.foreach { q =>
      val s = samples(q.name).sorted
      val med = if (s.length % 2 == 1) s(s.length / 2)
                else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
      println(f"${q.name} min=${s.min}%.3f med=$med%.3f " +
        s"samples=${samples(q.name).map(v => f"$v%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
