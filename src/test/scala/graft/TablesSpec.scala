package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}

/** The metadata rule of [[Tables]]: a table's schema is resolved once per
  * file version. A repeated load of unchanged files starts no Spark job, a
  * rewritten file is seen by the next load, and the confs that change
  * parquet inference keep their own schema.
  */
class TablesSpec extends SparkSpec {

  /** Jobs started from this thread, told apart by a local property, and
    * the descriptions of the fence jobs that order them. */
  private val Tag = "graft.tables.spec"
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(Tag) != null).foreach { p =>
          seen.add(Option(p.getProperty("spark.job.description")).getOrElse("job"))
        }
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Spark jobs that `body` starts on this thread: a fence job after it,
    * once the listener has seen the fence, closes the count. */
  private def jobsOf(body: => Unit): Int = {
    listener
    val sc = spark.sparkContext
    sc.setLocalProperty(Tag, "1")
    try {
      seen.clear()
      body
      val fence = s"fence-${System.nanoTime}"
      sc.setJobDescription(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!seen.contains(fence) && System.nanoTime < deadline) Thread.sleep(10)
      assert(seen.contains(fence), "the listener never saw the fence job")
      seen.size - 1
    } finally sc.setLocalProperty(Tag, null)
  }

  /** A private copy of the sf0.001 fixtures, so no other suite's loads
    * warm its entries. */
  private def fixtureCopy(): String = {
    val dir = tmpDir("graft_tables_")
    Tables.names.foreach { n =>
      Files.copy(Paths.get(sf, s"$n.parquet"), Paths.get(dir, s"$n.parquet"))
    }
    dir
  }

  /** Write `df` as the single parquet file `$dir/$name.parquet`, replacing
    * the file in place. */
  private def writeTable(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
    val out = tmpDir("graft_tables_out_")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = Files.list(Paths.get(out)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second registerAll of unchanged files starts no Spark job") {
    val dir = fixtureCopy()
    val cold = jobsOf(Tables.registerAll(spark, dir))
    assert(cold >= Tables.names.size, s"the first call infers every schema ($cold jobs)")
    assert(jobsOf(Tables.registerAll(spark, dir)) === 0)
    assert(jobsOf(Tables.load(spark, dir, "lineitem")) === 0)
    assert(spark.sql("SELECT count(*) FROM region").head().getLong(0) ===
      spark.read.parquet(s"$dir/region.parquet").count())
  }

  test("a file rewritten at the same path is seen, schema and rows, by the next load") {
    import spark.implicits._
    val dir = tmpDir("graft_tables_rw_")
    writeTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, "t")
    val before = Tables.load(spark, dir, "t")
    assert(before.columns.toSeq === Seq("id", "v"))
    assert(before.orderBy("id").as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    assert(jobsOf(Tables.load(spark, dir, "t")) === 0, "unchanged: the schema is reused")

    writeTable(Seq((7L, "x", 70), (8L, "y", 80), (9L, "z", 90)).toDF("id", "v", "w"), dir, "t")
    val after = Tables.load(spark, dir, "t")
    assert(after.columns.toSeq === Seq("id", "v", "w"))
    assert(after.orderBy("id").as[(Long, String, Int)].collect().toSeq ===
      Seq((7L, "x", 70), (8L, "y", 80), (9L, "z", 90)))
  }

  test("sessions that differ in parquet.binaryAsString each get their own schema") {
    // written through parquet's own example writer: a Spark-written footer
    // carries the Spark schema, which inference prefers over this conf
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val dir = tmpDir("graft_tables_bin_")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("b", "hi"))
    finally w.close()
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.load(spark, dir, "t").schema("b").dataType === BinaryType)
    assert(Tables.load(asString, dir, "t").schema("b").dataType === StringType)
    assert(Tables.load(asString, dir, "t").select("b").head().getString(0) === "hi")
    assert(Tables.load(spark, dir, "t").schema("b").dataType === BinaryType)
  }

  test("loads of one table from two threads agree") {
    val dir = fixtureCopy()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val loads = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[(StructType, Seq[Row])] {
          def call() = {
            val df = Tables.load(spark, dir, "orders")
            (df.schema, df.orderBy("o_orderkey").collect().toSeq)
          }
        })
      }.map(_.get())
      assert(loads(0) === loads(1))
      assert(loads(0)._2.size === spark.read.parquet(s"$dir/orders.parquet").count())
    } finally pool.shutdown()
  }
}
