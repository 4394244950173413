package graft

import graft.catalog.{KuduLikeCatalog, TableDef}
import graft.sources.GraftInputPartition
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The catalog's one read path: `table`, `tableAsOf`, `lookup` and
  * `lookupRange` are connector scans over a snapshot the catalog pinned
  * when the frame was created. Each table shape is checked against an
  * in-test model of its rows, and the connector defects that path used to
  * hide (array columns in the merge reader, runtime-filter attributes,
  * partition locality) each have a case.
  */
class ReadPathSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("tenant", StringType),
    StructField("ts", TimestampType), StructField("n", LongType),
    StructField("v", StringType)))

  private type R = (Long, String, Timestamp, Long, String)

  private def ts(month: Int, day: Int) =
    Timestamp.valueOf(f"2024-$month%02d-$day%02d 00:00:00")

  private def seedRow(id: Long): R =
    (id, Seq("acme", "beta")((id % 2).toInt), ts(1 + (id % 3).toInt, 1 + (id % 27).toInt),
      (id * 7) % 300, s"v$id")

  private def df(rows: Seq[R]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3, r._4, r._5)).asJava, schema)

  private def rowsOf(d: DataFrame): Set[R] =
    d.collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
      r.getLong(3), r.getString(4))).toSet

  private def month(r: R): String = r._3.toLocalDateTime.toString.take(7)

  /** One table shape: its definition, the range value it drops, and the
    * model's view of which rows that drop removes.
    */
  private case class Shape(label: String, d: TableDef, drop: String, dropped: R => Boolean)

  private val shapes = Seq(
    Shape("bucketed", TableDef("t", schema, Seq("id"), buckets = 4, rangeCol = Some("ts")),
      "2024-03", r => month(r) == "2024-03"),
    Shape("unbucketed month range", TableDef("t", schema, Seq("id"), rangeCol = Some("ts")),
      "2024-03", r => month(r) == "2024-03"),
    Shape("numeric range_bounds", TableDef("t", schema, Seq("id"), buckets = 2,
      rangeCol = Some("n"), rangeBounds = Seq((0L, 100L), (100L, 200L), (200L, 300L))),
      "200", r => r._4 >= 200),
    Shape("composite range", TableDef("t", schema, Seq("id"), buckets = 2,
      rangeCol = Some("ts"), rangeSubCols = Seq("tenant")),
      "2024-01/acme", r => month(r) == "2024-01" && r._2 == "acme"),
    Shape("hash-column subset", TableDef("t", schema, Seq("tenant", "id"), buckets = 3,
      hashCols = Seq("tenant"), rangeCol = Some("ts")),
      "2024-03", r => month(r) == "2024-03"))

  private def planOf(d: DataFrame) = d.queryExecution.executedPlan

  shapes.foreach { sh =>
    test(s"read parity with a model (${sh.label}): pending upsert + delete layers, " +
      "one dropped range; no Window or Exchange on the read") {
      val cat = new KuduLikeCatalog(spark, tmpDir("graft_parity_"))
      cat.createTable(sh.d)
      val seeded = (1L to 60L).map(seedRow)
      cat.insert("t", df(seeded))
      cat.dropRangePartition("t", sh.drop)
      var model: Map[Long, R] = seeded.filterNot(sh.dropped).map(r => r._1 -> r).toMap
      val atBase = model
      // upserts: existing keys (some whose row was dropped) and new keys,
      // moved into February / n=150 — live on every shape
      val ups = ((1L to 12L) ++ (100L to 104L)).map { id =>
        val s = seedRow(id); (id, s._2, ts(2, 5), 150L, s"u$id")
      }
      cat.upsert("t", df(ups))
      model ++= ups.map(r => r._1 -> r)
      val atUpsert = model
      val vUpsert = cat.currentVersion("t")
      cat.delete("t", col("id") % 7 === 0)
      model = model.filterNot(_._1 % 7 == 0)
      assert(cat.currentVersion("t") > vUpsert, "the delete must leave its own layer")

      val t = cat.table("t")
      assert(rowsOf(t) === model.values.toSet)
      // AdaptiveSparkPlanHelper.collect looks inside the adaptive plan
      val leaks = collect(planOf(t)) {
        case w: WindowExec => w.nodeName
        case e: ShuffleExchangeLike => e.nodeName
      }
      assert(leaks.isEmpty, s"merge-on-read must not shuffle or window: ${planOf(t)}")
      assert(rowsOf(cat.tableAsOf("t", vUpsert)) === atUpsert.values.toSet)
      assert(rowsOf(cat.tableAsOf("t", 0)) === atBase.values.toSet)

      // present, upserted, deleted, dropped-then-re-upserted, dropped, absent
      Seq(5L, 11L, 14L, 3L, 100L, 42L, 999L).foreach { id =>
        val keyVals: Seq[Any] =
          if (sh.d.keyCols.size == 2) Seq(seedRow(id)._2, id) else Seq(id)
        assert(rowsOf(cat.lookup("t", keyVals: _*)) === model.get(id).toSet, s"lookup $id")
      }

      if (sh.d.rangeBounds.isEmpty) {
        val (from, to) = (ts(2, 1), ts(3, 1))
        assert(rowsOf(cat.lookupRange("t", from, to)) === model.values.filter(r =>
          !r._3.before(from) && r._3.before(to)).toSet)
      } else {
        // lookupRange takes timestamps; the numeric shape's range scan is a
        // filter on its range column, pruned by the same planner
        assert(rowsOf(cat.table("t").filter(col("n") >= 100L && col("n") < 200L)) ===
          model.values.filter(r => r._4 >= 100 && r._4 < 200).toSet)
      }

      cat.compact("t")
      assert(rowsOf(cat.table("t")) === model.values.toSet)
    }
  }

  private def plannedParts(d: DataFrame): Seq[GraftInputPartition] =
    d.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.inputPartitions }
      .flatten.collect { case p: GraftInputPartition => p }

  test("a catalog frame is pinned: later writes and one compact do not change it") {
    val cat = new KuduLikeCatalog(spark, tmpDir("graft_pin_"))
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    cat.insert("t", df((1L to 10L).map(seedRow)))
    cat.upsert("t", df(Seq((1L, "acme", ts(1, 1), 1L, "u1"))))
    val pinned = cat.table("t")
    val before = rowsOf(pinned)
    cat.upsert("t", df(Seq((2L, "acme", ts(1, 1), 1L, "u2"))))
    cat.delete("t", col("id") === 3L)
    cat.insert("t", df(Seq(seedRow(50L))))
    assert(rowsOf(pinned) === before, "writes after creation must not reach the frame")
    cat.compact("t")
    assert(rowsOf(pinned) === before, "the displaced generation serves one cycle")
    assert(rowsOf(cat.table("t")).map(_._1) === (1L to 10L).toSet - 3L + 50L)
  }

  test("array columns: table() and compact() merge a pending delta on an array<float> column") {
    val vs = StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(FloatType)), StructField("tags", ArrayType(StringType))))
    def vrows(rs: (Long, Seq[java.lang.Float], Seq[String])*) =
      spark.createDataFrame(rs.map(r => Row(r._1, r._2, r._3)).asJava, vs)
    def content(d: DataFrame) = d.collect().map(r => (r.getLong(0),
      Option(r.getSeq[java.lang.Float](1)).map(_.toList),
      Option(r.getSeq[String](2)).map(_.toList))).toSet
    val f = java.lang.Float.valueOf(_: Float)
    val cat = new KuduLikeCatalog(spark, tmpDir("graft_arr_"))
    cat.createTable(TableDef("e", vs, Seq("id"), buckets = 2))
    cat.insert("e", vrows((1L, Seq(f(1f), f(2f)), Seq("a")), (2L, Seq(f(3f)), Seq("b", null)),
      (3L, null, Seq.empty)))
    cat.upsert("e", vrows((2L, Seq(f(9f), null), null), (4L, Seq.empty, Seq("d"))))
    val want = Set(
      (1L, Some(List(f(1f), f(2f))), Some(List("a"))),
      (2L, Some(List(f(9f), null)), None),
      (3L, None, Some(Nil)),
      (4L, Some(Nil), Some(List("d"))))
    assert(content(cat.table("e")) === want)
    assert(content(cat.lookup("e", 2L)) === want.filter(_._1 == 2L))
    cat.compact("e")
    assert(content(cat.table("e")) === want)

    // the legacy writer's two-level list (non-null elements)
    val ls = StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(FloatType, containsNull = false))))
    def lrows(rs: (Long, Seq[Float])*) =
      spark.createDataFrame(rs.map(r => Row(r._1, r._2)).asJava, ls)
    spark.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
    try {
      cat.createTable(TableDef("l", ls, Seq("id"), buckets = 2))
      cat.insert("l", lrows((1L, Seq(1f, 2f)), (2L, Seq(3f))))
      cat.upsert("l", lrows((2L, Seq(9f, 8f))))
      val layerFile = cat.deltaLayers("l").flatMap(d => graft.sources.GraftScan.listParquet(d._2)).head
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        new org.apache.hadoop.conf.Configuration(), new org.apache.hadoop.fs.Path(layerFile))
      val msg = footer.getFileMetaData.getSchema
      assert(msg.getType(msg.getFieldIndex("vec")).asGroupType().getType(0).isPrimitive,
        "the layer must carry the two-level form")
      assert(cat.table("l").collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toList)
        .toMap === Map(1L -> List(1f, 2f), 2L -> List(9f, 8f)))
    } finally spark.conf.unset("spark.sql.parquet.writeLegacyFormat")
  }

  test("runtime-filter attributes are only columns the scan outputs (DPP over a pruned scan)") {
    val root = tmpDir("graft_dpp_")
    val cat = new KuduLikeCatalog(spark, root)
    cat.createTable(TableDef("ev", schema, Seq("id"), buckets = 2, rangeCol = Some("ts")))
    cat.insert("ev", df((1L to 40L).map(seedRow)))
    import spark.implicits._
    val probe = Seq(3L, 4L, 99L).toDF("id").filter(col("id") < 50L)
    // the scan is pruned to [id]; its range column ts must not be offered
    val viaConnector = spark.read.format("graft").option("root", root).load("ev")
      .select("id").join(probe, "id")
    assert(viaConnector.collect().map(_.getLong(0)).toSet === Set(3L, 4L))
    // insert's anti-join projects only the keys of a range table
    assert(cat.insert("ev", df(Seq(seedRow(3L), seedRow(77L)))) === 1L)
    assert(cat.table("ev").count() === 41L)
  }

  test("partition locality: a stage mixing a graft scan with file-source and " +
    "shuffle partitions runs under the default locality wait") {
    assert(spark.conf.getOption("spark.locality.wait").forall(_ == "3s"))
    val root = tmpDir("graft_loc_")
    val cat = new KuduLikeCatalog(spark, root)
    val s3 = StructType(Seq(StructField("id", IntegerType),
      StructField("grp", StringType), StructField("v", DoubleType)))
    def rows(rs: (Int, String, Double)*) =
      spark.createDataFrame(rs.map(r => Row(r._1, r._2, r._3)).asJava, s3)
    cat.createTable(TableDef("src", s3, Seq("id")))
    cat.insert("src", rows((1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0), (4, "b", 7.0)))
    cat.upsert("src", rows((1, "a", 11.0), (2, "b", 20.0), (10, "c", 99.0)))
    cat.delete("src", col("id") === 10 || col("id") === 3)
    // the IncrementalAgg.delta shape: after-images from the changelog (file
    // source + window shuffle), before-images from a graft scan semi-joined
    // to the changed keys, both in one aggregation stage
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("version").desc)
    val last = cat.changesBetween("src", 0, 2)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    val before = spark.read.format("graft").option("root", root).option("asOf", "0")
      .load("src").join(last.select("id"), Seq("id"), "left_semi")
    val d = last.filter(col("op") === "upsert").select(col("grp"), col("v"), lit(1L).as("w"))
      .unionByName(before.select(col("grp"), col("v"), lit(-1L).as("w")))
      .groupBy("grp").agg(sum("w").as("d_n"), sum(col("v") * col("w")).as("d_total"))
    val ex = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fut = ex.submit(new java.util.concurrent.Callable[Map[String, (Long, Double)]] {
        override def call(): Map[String, (Long, Double)] = d.collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      })
      val got =
        try fut.get(60, java.util.concurrent.TimeUnit.SECONDS)
        catch {
          case e: java.util.concurrent.TimeoutException =>
            spark.sparkContext.cancelAllJobs()
            fail("the mixed stage did not finish in 60 s (waiting on locality)", e)
        }
      // 1: a 10→11; 2 moves a→b; 3 deleted; 10 upserted then deleted (no row)
      assert(got === Map("a" -> ((-1L, -19.0)), "b" -> ((0L, 15.0))))
    } finally ex.shutdownNow()
  }

  test("planned partitions: a bucketed lookup plans one partition, a month scan " +
    "plans only that month's base files") {
    val cat = new KuduLikeCatalog(spark, tmpDir("graft_plan_"))
    cat.createTable(TableDef("ev", schema, Seq("id"), buckets = 4, rangeCol = Some("ts")))
    cat.insert("ev", df((1L to 60L).map(seedRow)))
    cat.upsert("ev", df(Seq((7L, "beta", ts(2, 9), 1L, "u7"))))
    assert(plannedParts(cat.lookup("ev", 7L)).size === 1)
    val feb = plannedParts(cat.lookupRange("ev", ts(2, 1), ts(3, 1)))
    val files = feb.flatMap(_.baseFiles)
    assert(files.nonEmpty && files.forall(_.contains("__range=2024-02")), files)
  }
}
