package graft

import graft.catalog.{KuduLikeCatalog, TableDef}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** The DataSourceV2 read seam ([[graft.sources.GraftDataSource]]): the
  * connector-shaped storage layer equivalent of the reference's
  * KuduStorageHandler + HiveKuduTableInputFormat binding (reference:
  * KuduStorageHandler.java:54-55, HiveKuduTableInputFormat.java:148-223).
  * Catalog reads are connector scans too; here `format("graft")` loads,
  * which resolve their snapshot per scan, are compared with catalog reads,
  * which pin theirs (ReadPathSpec checks both against a model).
  */
class DataSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", StringType),
    StructField("v", DoubleType), StructField("ok", BooleanType),
    StructField("ts", TimestampType)))

  private def mkCat(): (KuduLikeCatalog, String) = {
    val root = tmpDir("graft_dsv2_")
    (new KuduLikeCatalog(spark, root), root)
  }

  private def rows(n: Int) = {
    import spark.implicits._
    (0 until n).map(i =>
      (i.toLong, s"g${i % 5}", i * 1.5, i % 2 == 0,
        new Timestamp(1700000000000L + i * 1000L)))
      .toDF("id", "grp", "v", "ok", "ts")
  }

  private def readDs(root: String, t: String) =
    spark.read.format("graft").option("root", root).load(t)

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def batchScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }

  test("columnar read: delta-free scan executes columnar and matches the row path") {
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 4))
    cat.insert("t", rows(500))
    def query = readDs(root, "t").filter(col("v") > 50.0).select("id", "grp", "v")
    // delta-free table → the scan exec must report columnar support
    val ds = query
    assert(batchScans(ds).nonEmpty && batchScans(ds).forall(_.supportsColumnar),
      "delta-free graft scan should read ColumnarBatch")
    val columnar = sortedRows(ds)
    // upserting one row unchanged puts a delta layer in one bucket: the
    // whole scan moves to the row-based merge reader, three of its four
    // partitions delta-free, and must return the same rows
    cat.upsert("t", rows(500).filter(col("id") === 7L))
    val rowDs = query
    assert(batchScans(rowDs).nonEmpty && batchScans(rowDs).forall(!_.supportsColumnar),
      "pending deltas require the row-based merge reader")
    val withDeltas = batchScans(rowDs).flatMap(_.inputRDD.partitions.toSeq.flatMap {
      case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
        p.inputPartitions.map(_.asInstanceOf[sources.GraftInputPartition].deltas.nonEmpty)
    })
    assert(withDeltas.size === 4 && withDeltas.count(identity) === 1)
    assert(sortedRows(rowDs) === columnar)
    assert(readDs(root, "t").count() === 500)
    // compaction folds the deltas — columnar comes back
    cat.compact("t")
    val compacted = readDs(root, "t")
    assert(batchScans(compacted).forall(_.supportsColumnar))
    assert(sortedRows(compacted) === sortedRows(cat.table("t")))
    assert(sortedRows(query) === columnar)
  }

  test("connector partitions report preferred locations (tablet-leader locality analog)") {
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    cat.insert("t", rows(50))
    val parts = readDs(root, "t").queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.partitions
    }.flatten.flatten
    assert(parts.nonEmpty)
    assert(parts.forall(_.preferredLocations().nonEmpty),
      "every graft partition should surface its storage host to the scheduler")
  }

  test("connector scan reports planning statistics: small graft dims auto-broadcast") {
    val (cat, root) = mkCat()
    cat.createTable(TableDef("dim", schema, Seq("id"), buckets = 2))
    cat.insert("dim", rows(100))
    // the optimized relation's size must come from the scan's planned file
    // bytes — without SupportsReportStatistics a DSv2 relation reports
    // defaultSizeInBytes (effectively infinite) and NEVER auto-broadcasts
    val dim = readDs(root, "dim")
    val size = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < 10L * 1024 * 1024,
      s"expected file-derived size under the broadcast threshold, got $size")
    // projection scales the estimate by the column fraction (FileScan parity)
    val narrow =
      readDs(root, "dim").select("id").queryExecution.optimizedPlan.stats.sizeInBytes
    assert(narrow < size, s"pruned scan should report less ($narrow !< $size)")
    // and the planner acts on it: a big fact side joined to the small graft
    // dim broadcasts WITHOUT any hint (AQE off pins the static plan)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val fact = spark.range(2000000).toDF("id") // ~16 MB estimate, over threshold
      val joined = fact.join(dim, "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"small graft dim should broadcast by statistics alone:\n$plan")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("format(\"graft\"): bucketed table reads back identical to catalog.table()") {
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 4))
    cat.insert("t", rows(200))
    val ds = readDs(root, "t")
    assert(ds.schema.fieldNames.toSeq === schema.fieldNames.toSeq)
    assert(sortedRows(ds) === sortedRows(cat.table("t")))
    assert(ds.count() === 200)
  }

  test("merge-on-read through the connector: upserts and deletes win over base") {
    import spark.implicits._
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 4))
    cat.insert("t", rows(100))
    // two delta layers: update 10 rows, then delete 5 of them + 5 others
    cat.upsert("t", (0 until 10).map(i =>
      (i.toLong, "UPD", -1.0, false, new Timestamp(1800000000000L)))
      .toDF("id", "grp", "v", "ok", "ts"))
    cat.delete("t", col("id") >= 5 && col("id") < 15)
    val viaCatalog = sortedRows(cat.table("t"))
    val viaConnector = sortedRows(readDs(root, "t"))
    assert(viaConnector === viaCatalog)
    // the semantics themselves: 90 rows, ids 0-4 updated, 5-14 gone
    assert(viaConnector.length === 90)
    val updated = readDs(root, "t").filter(col("grp") === "UPD").collect()
    assert(updated.map(_.getLong(0)).sorted.toSeq === (0L until 5L))
  }

  test("connector respects overwrite/compact repoints and schema evolution nulls") {
    import spark.implicits._
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    cat.insert("t", rows(50))
    cat.upsert("t", Seq((7L, "seven", 0.0, true,
      new Timestamp(1800000000000L))).toDF("id", "grp", "v", "ok", "ts"))
    // compact folds the delta into a fresh base epoch dir; the connector
    // must follow the manifest, not a cached path
    cat.compact("t")
    assert(sortedRows(readDs(root, "t")) === sortedRows(cat.table("t")))
    // schema evolution: addColumn means old files lack the column — the
    // connector null-fills it like the catalog read does
    cat.addColumn("t", StructField("extra", StringType))
    val ds = readDs(root, "t")
    assert(ds.schema.fieldNames.contains("extra"))
    assert(ds.filter(col("extra").isNotNull).count() === 0)
    assert(sortedRows(ds) === sortedRows(cat.table("t")))
  }

  test("unbucketed table with pending deltas still merges correctly") {
    import spark.implicits._
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id")))
    cat.insert("t", rows(40))
    cat.upsert("t", Seq((3L, "UPD", 9.9, true,
      new Timestamp(1800000000000L))).toDF("id", "grp", "v", "ok", "ts"))
    cat.delete("t", col("id") === 10L)
    assert(sortedRows(readDs(root, "t")) === sortedRows(cat.table("t")))
  }

  test("column pruning and filter pushdown reach the connector scan (plan-visible)") {
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 4))
    cat.insert("t", rows(200))
    val q = readDs(root, "t").filter(col("v") > 100.0 && col("grp") === "g1")
      .select("id", "v")
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("GraftScan"), planStr)
    // pushed filters visible in the scan description
    assert(planStr.contains("GreaterThan(v,100.0)"), planStr)
    assert(planStr.contains("EqualTo(grp,g1)"), planStr)
    // pruned read schema: only the referenced columns, not ok/ts
    assert(planStr.contains("ReadSchema: struct<"), planStr)
    assert(!planStr.split("ReadSchema: ")(1).contains("ok"), planStr)
    // and the results are right (residual filters keep exactness)
    val got = q.collect().map(_.getLong(0)).sorted
    val want = (0 until 200).filter(i => i * 1.5 > 100.0 && i % 5 == 1).map(_.toLong)
    assert(got.toSeq === want)
  }

  test("key-equality routes to one bucket partition (tablet routing)") {
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 8))
    cat.insert("t", rows(200))
    val full = readDs(root, "t")
    val one = full.filter(col("id") === 42L)
    assert(one.count() === 1)
    assert(one.collect().head.getString(1) === "g2")
    // partition counts: full scan sees every bucket, routed scan exactly 1
    def partitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.get
    assert(partitions(full) === 8)
    assert(partitions(one) === 1)
    // a filter that does NOT pin every key column must scan all buckets
    assert(partitions(full.filter(col("grp") === "g1")) === 8)
  }

  test("timestamps and the full type lattice round-trip through the connector") {
    import spark.implicits._
    val (cat, root) = mkCat()
    val wide = StructType(Seq(
      StructField("id", LongType), StructField("b", ByteType),
      StructField("s", ShortType), StructField("i", IntegerType),
      StructField("f", FloatType), StructField("d", DoubleType),
      StructField("str", StringType), StructField("bool", BooleanType),
      StructField("ts", TimestampType), StructField("bin", BinaryType)))
    cat.createTable(TableDef("w", wide, Seq("id"), buckets = 2))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, 1.toByte, 2.toShort, 3, 4.5f, 6.75,
          "héllo", true, new Timestamp(1700000123456L), Array[Byte](1, 2, 3)),
        org.apache.spark.sql.Row(2L, null, null, null, null, null,
          null, null, null, null))), wide)
    cat.insert("w", df)
    val got = readDs(root, "w").orderBy("id").collect()
    assert(got.length === 2)
    assert(got(0).getByte(1) === 1.toByte && got(0).getShort(2) === 2.toShort)
    assert(got(0).getFloat(4) === 4.5f && got(0).getDouble(5) === 6.75)
    assert(got(0).getString(6) === "héllo" && got(0).getBoolean(7))
    assert(got(0).getTimestamp(8) === new Timestamp(1700000123456L))
    assert(got(0).getAs[Array[Byte]](9).toSeq === Seq[Byte](1, 2, 3))
    assert((1 to 9).forall(got(1).isNullAt))
    // identical to the catalog read path (render binary by value — plain
    // Row.toString shows Array identity)
    def render(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r => r.toSeq.map {
        case b: Array[Byte] => b.toSeq.toString
        case v => String.valueOf(v)
      }.mkString("|")).sorted.toSeq
    assert(render(readDs(root, "w")) === render(cat.table("w")))

    // a pending upsert changing every column of id 1 and a delete of id 2:
    // delta rows decode through the same reader as base rows, every type
    val upd = org.apache.spark.sql.Row(1L, 9.toByte, 8.toShort, 7, -1.25f, -2.5,
      "wörld", false, new Timestamp(1600000000123L), Array[Byte](9, 8))
    cat.upsert("w", spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(upd)), wide))
    cat.delete("w", col("id") === 2L)
    def renderRow(r: org.apache.spark.sql.Row): String =
      render(spark.createDataFrame(spark.sparkContext.parallelize(Seq(r)),
        StructType(wide.fields ++ Seq(StructField("op", StringType))))).head
    val merged = render(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(upd)), wide))
    assert(render(readDs(root, "w")) === merged)
    assert(render(cat.table("w")) === merged)
    // the changelog reads both layers: the upsert and id 2's tombstone
    val changelog = spark.read.format("graft").option("root", root)
      .option("changelog", "true").load("w").drop("version")
    assert(render(changelog) === Seq(
      renderRow(org.apache.spark.sql.Row.fromSeq(upd.toSeq :+ "upsert")),
      renderRow(org.apache.spark.sql.Row.fromSeq(2L +: Seq.fill(9)(null) :+ "delete"))).sorted)

    // binary, timestamp and byte keys: the overlay probe must match base
    // keys to delta keys of each type, or an upsert would duplicate its row
    val kSchema = StructType(Seq(
      StructField("bin", BinaryType), StructField("ts", TimestampType),
      StructField("b", ByteType), StructField("v", StringType)))
    cat.createTable(TableDef("k", kSchema, Seq("bin", "ts", "b"), buckets = 2))
    def kRow(i: Int, b: Int, v: String) = org.apache.spark.sql.Row(
      Array[Byte](i.toByte, 1), new Timestamp(1700000000000L + i * 1000L), b.toByte, v)
    def kDf(rs: org.apache.spark.sql.Row*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rs), kSchema)
    cat.insert("k", kDf((0 until 6).map(i => kRow(i, i % 3, s"v$i")): _*))
    cat.upsert("k", kDf(kRow(2, 2, "upd"), kRow(2, 0, "new")))
    cat.delete("k", col("v") === "v4")
    val want = render(kDf(kRow(0, 0, "v0"), kRow(1, 1, "v1"), kRow(2, 2, "upd"),
      kRow(2, 0, "new"), kRow(3, 0, "v3"), kRow(5, 2, "v5")))
    assert(render(readDs(root, "k")) === want)
    assert(render(cat.table("k")) === want)
  }

  test("range+hash partitioned table: connector merges across __range dirs by bucket only") {
    import spark.implicits._
    // rows span 3 months; an upsert MOVES a key's timestamp to another
    // month (its file changes __range dir but not bucket) — the per-bucket
    // merge must still dedup it, which a per-(range,bucket) grouping would
    // miss. This pins the grouping contract: buckets are the merge unit,
    // range dirs only prune.
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2,
      rangeCol = Some("ts")))
    val jan = new Timestamp(1704067200000L) // 2024-01-01
    val feb = new Timestamp(1706745600000L) // 2024-02-01
    val mar = new Timestamp(1709251200000L) // 2024-03-01
    cat.insert("t", (0 until 30).map(i =>
      (i.toLong, s"g${i % 3}", i * 1.0, true, Seq(jan, feb, mar)(i % 3)))
      .toDF("id", "grp", "v", "ok", "ts"))
    cat.upsert("t", Seq((4L, "MOVED", 9.0, false, mar))
      .toDF("id", "grp", "v", "ok", "ts")) // id 4 was jan (4 % 3 = 1 → feb)
    val ds = readDs(root, "t")
    assert(sortedRows(ds) === sortedRows(cat.table("t")))
    assert(ds.count() === 30, "the moved key must not double-count")
    assert(ds.filter(col("grp") === "MOVED").collect().map(_.getLong(0)).toSeq === Seq(4L))
  }

  private def plannedBaseFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.partitions.flatMap {
          case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
            p.inputPartitions.flatMap(_.asInstanceOf[sources.GraftInputPartition].baseFiles)
        }.toSeq
    }.get

  test("__range pruning: time-predicated connector scan plans only in-range base dirs") {
    import spark.implicits._
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2, rangeCol = Some("ts")))
    val jan = new Timestamp(1704067200000L) // 2024-01-01 UTC
    val feb = new Timestamp(1706745600000L) // 2024-02-01 UTC
    val mar = new Timestamp(1709251200000L) // 2024-03-01 UTC
    cat.insert("t", (0 until 30).map(i =>
      (i.toLong, s"g${i % 3}", i * 1.0, true, Seq(jan, feb, mar)(i % 3)))
      .toDF("id", "grp", "v", "ok", "ts"))
    def monthsOf(files: Seq[String]): Set[String] =
      files.flatMap("__range=([0-9-]+)".r.findFirstMatchIn(_).map(_.group(1))).toSet
    // no predicate: every month is planned
    assert(monthsOf(plannedBaseFiles(readDs(root, "t")))
      === Set("2024-01", "2024-02", "2024-03"))
    // lower bound mid-February: January dirs are pruned at planning time,
    // February (the boundary month) survives — month bounds are inclusive
    val febMid = new Timestamp(1707955200000L) // 2024-02-15 UTC
    val lower = readDs(root, "t").filter(col("ts") >= febMid)
    assert(monthsOf(plannedBaseFiles(lower)) === Set("2024-02", "2024-03"))
    assert(lower.count() === 10, "mar rows + feb rows >= 02-15 (none)")
    // two-sided window across a range boundary
    val window = readDs(root, "t")
      .filter(col("ts") >= feb && col("ts") < new Timestamp(1709251200000L + 1000L))
    assert(monthsOf(plannedBaseFiles(window)) === Set("2024-02", "2024-03"))
    assert(window.count() === 20)
    // equality pins one month
    assert(monthsOf(plannedBaseFiles(readDs(root, "t").filter(col("ts") === feb)))
      === Set("2024-02"))
    // results still exact vs the catalog path on the same predicate
    assert(sortedRows(window) ===
      sortedRows(cat.table("t").filter(col("ts") >= feb
        && col("ts") < new Timestamp(1709251200000L + 1000L))))
  }

  test("__range pruning formats bounds under the table's recorded zone, not the reader's") {
    import spark.implicits._
    val (cat, root) = mkCat()
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    try {
      // table created and written under Los Angeles time: a row at
      // 2024-02-01T00:30Z is 2024-01-31 16:30 local → lands in __range=2024-01
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      cat.createTable(TableDef("t", schema, Seq("id"), buckets = 1, rangeCol = Some("ts")))
      val boundaryRow = new Timestamp(1706747400000L) // 2024-02-01 00:30 UTC
      cat.insert("t", Seq(
        (1L, "boundary", 1.0, true, boundaryRow),
        (2L, "early", 2.0, true, new Timestamp(1704067200000L)) // 2024-01-01 UTC
      ).toDF("id", "grp", "v", "ok", "ts"))
      // a filter from that instant must NOT prune __range=2024-01 (a
      // UTC-formatted bound would say "2024-02" and silently lose the row)
      val q = readDs(root, "t").filter(col("ts") >= boundaryRow)
      assert(q.collect().map(_.getLong(0)).toSeq === Seq(1L))
      assert(plannedBaseFiles(q).exists(_.contains("__range=2024-01")))
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }

  test("unbucketed table with deltas: base files split across tasks, overlay emitted once") {
    import spark.implicits._
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"))) // no buckets
    cat.insert("t", rows(25))
    cat.insert("t", rows(50).filter(col("id") >= 25)) // second base append
    cat.upsert("t", Seq(
      (3L, "UPD", 9.9, true, new Timestamp(1800000000000L)),
      (100L, "NEW", 1.0, true, new Timestamp(1800000000000L)) // brand-new key
    ).toDF("id", "grp", "v", "ok", "ts"))
    cat.delete("t", col("id") === 10L)
    val ds = readDs(root, "t")
    // the base scan must NOT serialize into one task anymore
    val parts = ds.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.get
    assert(parts > 1, s"unbucketed-with-deltas scan collapsed to $parts partition(s)")
    // exactly-once overlay emission: the upserted and new keys appear once
    assert(sortedRows(ds) === sortedRows(cat.table("t")))
    assert(ds.count() === 50, "49 surviving base keys + 1 new overlay key")
    assert(ds.filter(col("grp") === "UPD").count() === 1)
    assert(ds.filter(col("grp") === "NEW").count() === 1)
  }

  test("delta overlay cap fails fast with a compact-the-table error") {
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    cat.insert("t", rows(100))
    cat.upsert("t", rows(100)) // 100 pending overlay rows
    spark.conf.set(graft.sources.GraftDataSource.MaxOverlayRowsKey, "10")
    try {
      val e = intercept[Exception] { readDs(root, "t").count() }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("compact")), s"unexpected failure: $e")
    } finally spark.conf.unset(graft.sources.GraftDataSource.MaxOverlayRowsKey)
    // with the default cap the same read is fine (overlay = 100 rows)
    assert(readDs(root, "t").count() === 100)
  }

  test("SQL DELETE FROM graft.t routes through the connector seam") {
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    cat.insert("t", rows(30))
    spark.conf.set("spark.sql.catalog.graftd",
      classOf[graft.sources.GraftCatalogPlugin].getName)
    spark.conf.set("spark.sql.catalog.graftd.root", root)
    try {
      spark.sql("DELETE FROM graftd.t WHERE id >= 20")
      assert(spark.sql("SELECT count(*) FROM graftd.t").collect().head.getLong(0) === 20)
      // one engine: the transactional catalog sees the same state
      assert(cat.table("t").count() === 20)
      // compound translatable predicate
      spark.sql("DELETE FROM graftd.t WHERE grp = 'g1' AND id < 10")
      val left = spark.sql("SELECT id FROM graftd.t").collect().map(_.getLong(0)).sorted
      val want = (0L until 20L).filterNot(i => i % 5 == 1 && i < 10)
      assert(left.toSeq === want)
      assert(sortedRows(cat.table("t")) === sortedRows(readDs(root, "t")))
    } finally {
      spark.conf.unset("spark.sql.catalog.graftd.root")
      spark.conf.unset("spark.sql.catalog.graftd")
    }
  }

  test("V2 MERGE boundary is explicit: row-level MERGE fails, upsert routes are documented") {
    // the upsert surfaces are df.write option("operation","upsert") (connector)
    // and GraftSql's UPSERT INTO (SQL router) — both landing in
    // KuduLikeCatalog.upsert. MERGE INTO on the V2 catalog would need
    // SupportsRowLevelOperations; it must fail loudly, not silently no-op.
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    cat.insert("t", rows(10))
    spark.conf.set("spark.sql.catalog.graftm",
      classOf[graft.sources.GraftCatalogPlugin].getName)
    spark.conf.set("spark.sql.catalog.graftm.root", root)
    try {
      // Spark <=4.0 raises AnalysisException; 4.1 raises
      // SparkUnsupportedOperationException — either way it must fail loudly.
      val e = intercept[Exception] {
        spark.sql(
          """MERGE INTO graftm.t AS tgt
            |USING (SELECT CAST(1 AS BIGINT) AS id) AS src ON tgt.id = src.id
            |WHEN MATCHED THEN DELETE""".stripMargin)
      }
      assert(
        e.isInstanceOf[org.apache.spark.sql.AnalysisException] ||
          e.isInstanceOf[UnsupportedOperationException],
        s"unexpected MERGE failure type: ${e.getClass.getName}")
      assert(cat.table("t").count() === 10, "failed MERGE must not mutate")
    } finally {
      spark.conf.unset("spark.sql.catalog.graftm.root")
      spark.conf.unset("spark.sql.catalog.graftm")
    }
  }

  test("SQL catalog plugin: SELECT ... FROM graft.t reaches the connector scan") {
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 4))
    cat.insert("t", rows(100))
    cat.upsert("t", { import spark.implicits._
      Seq((5L, "UPD", -1.0, true, new Timestamp(1800000000000L)))
        .toDF("id", "grp", "v", "ok", "ts") })
    spark.conf.set("spark.sql.catalog.graftsql",
      classOf[graft.sources.GraftCatalogPlugin].getName)
    spark.conf.set("spark.sql.catalog.graftsql.root", root)
    try {
      // merge-on-read visible through plain SQL
      assert(spark.sql("SELECT grp FROM graftsql.t WHERE id = 5")
        .collect().map(_.getString(0)).toSeq === Seq("UPD"))
      assert(spark.sql("SELECT count(*) FROM graftsql.t").collect().head.getLong(0) === 100)
      // pushdown survives the SQL route too
      val q = spark.sql("SELECT id, v FROM graftsql.t WHERE v > 100.0")
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("GraftScan") && p.contains("GreaterThan(v,100.0)"), p)
      assert(q.count() === rows(100).filter(col("v") > 100.0).count())
      // DDL stays on the transactional catalog API
      intercept[UnsupportedOperationException] {
        spark.sql("DROP TABLE graftsql.t")
      }
      assert(spark.sql("SHOW TABLES IN graftsql").collect().map(_.getString(1)).toSeq
        === Seq("t"))
      // a namespaced identifier must NOT silently resolve to the flat table
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("SELECT * FROM graftsql.bogus.t").collect()
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.graftsql.root")
      spark.conf.unset("spark.sql.catalog.graftsql")
    }
  }

  test("time travel: option asOf and SQL VERSION/TIMESTAMP AS OF read stable snapshots") {
    import spark.implicits._
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 4))
    cat.insert("t", rows(50))                                   // version 0 (base)
    val t0 = System.currentTimeMillis()
    Thread.sleep(20)
    cat.upsert("t", Seq((7L, "UPD", -1.0, true, new Timestamp(0L)))
      .toDF("id", "grp", "v", "ok", "ts"))                      // version 1
    Thread.sleep(20)
    val t1 = System.currentTimeMillis()
    cat.delete("t", col("id") >= 40)                            // version 2
    def asOf(v: Int) =
      spark.read.format("graft").option("root", root).option("asOf", v).load("t")
    // every snapshot equals the catalog's own tableAsOf
    (0 to 2).foreach { v =>
      assert(sortedRows(asOf(v)) === sortedRows(cat.tableAsOf("t", v)), s"version $v")
    }
    // and the versions genuinely differ where they should
    assert(asOf(0).filter(col("id") === 7 && col("grp") === "UPD").count() === 0)
    assert(asOf(1).filter(col("grp") === "UPD").count() === 1)
    assert(asOf(1).count() === 50 && asOf(2).count() === 40)
    // nonexistent and non-integer versions fail loudly
    assert(intercept[Exception](asOf(9).count()).getMessage.contains("no version"))
    assert(intercept[Exception] {
      spark.read.format("graft").option("root", root).option("asOf", "nope").load("t").count()
    }.getMessage.contains("integer mutation version"))
    // snapshots are read-only through every mutating seam (either our
    // loud require or Spark's capability check rejects — both acceptable)
    val wex = intercept[Exception] {
      rows(1).write.format("graft").option("root", root).option("asOf", 1)
        .mode("append").save("t")
    }.getMessage.toLowerCase
    assert(wex.contains("read-only") || wex.contains("does not support") ||
      wex.contains("does not allow"), wex)
    // SQL route: VERSION AS OF and TIMESTAMP AS OF through the catalog plugin
    spark.conf.set("spark.sql.catalog.gtt",
      classOf[graft.sources.GraftCatalogPlugin].getName)
    spark.conf.set("spark.sql.catalog.gtt.root", root)
    try {
      assert(spark.sql("SELECT count(*) FROM gtt.t VERSION AS OF 1")
        .head().getLong(0) === 50)
      assert(spark.sql("SELECT count(*) FROM gtt.t VERSION AS OF 2")
        .head().getLong(0) === 40)
      assert(spark.sql("SELECT grp FROM gtt.t VERSION AS OF 0 WHERE id = 7")
        .head().getString(0) !== "UPD")
      // wall-clock resolution: t0 predates the upsert layer → version 0;
      // t1 sits between upsert and delete → version 1 (session tz is UTC,
      // so a UTC instant literal means the right wall clock)
      def tsLit(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
        .replace("T", " ").stripSuffix("Z")
      assert(spark.sql(
        s"SELECT count(*) FROM gtt.t TIMESTAMP AS OF '${tsLit(t0)}'")
        .head().getLong(0) === 50)
      val c1 = spark.sql(
        s"SELECT grp FROM gtt.t TIMESTAMP AS OF '${tsLit(t1)}' WHERE id = 7")
        .head().getString(0)
      assert(c1 === "UPD")
    } finally {
      spark.conf.unset("spark.sql.catalog.gtt.root")
      spark.conf.unset("spark.sql.catalog.gtt")
    }
    // compaction folds history: pre-floor versions fail loudly, floor reads fine
    cat.compact("t")
    cat.upsert("t", Seq((1L, "NEW", 0.0, true, new Timestamp(0L)))
      .toDF("id", "grp", "v", "ok", "ts"))                      // version 3
    assert(intercept[Exception](asOf(1).count()).getMessage.contains("compacted"))
    assert(asOf(2).count() === 40)
    assert(asOf(3).filter(col("grp") === "NEW").count() === 1)
  }

  test("connector write: append = dup-ignore insert, operation=upsert = last-wins") {
    import spark.implicits._
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 4))
    rows(20).write.format("graft").option("root", root)
      .mode("append").save("t")
    assert(readDs(root, "t").count() === 20)
    // second append overlaps ids 10-19 with CHANGED payloads plus new ids
    // 20-29: dup-ignore must keep the ORIGINAL payload for survivors
    rows(30).filter(col("id") >= 10)
      .withColumn("grp", lit("DUP"))
      .write.format("graft").option("root", root).mode("append").save("t")
    val after = readDs(root, "t")
    assert(after.count() === 30)
    assert(after.filter(col("grp") === "DUP").collect().map(_.getLong(0)).sorted.toSeq
      === (20L until 30L), "only genuinely-new keys take the incoming payload")
    // upsert through the same surface: last-wins replaces the payload
    rows(5).withColumn("grp", lit("UPD"))
      .write.format("graft").option("root", root)
      .option("operation", "upsert").mode("append").save("t")
    assert(readDs(root, "t").filter(col("grp") === "UPD")
      .collect().map(_.getLong(0)).sorted.toSeq === (0L until 5L))
    // both read paths agree on the post-write state
    assert(sortedRows(readDs(root, "t")) === sortedRows(cat.table("t")))
    // bad operation value fails loudly, not silently as insert
    intercept[Exception] {
      rows(1).write.format("graft").option("root", root)
        .option("operation", "delete").mode("append").save("t")
    }
  }

  test("connector write: mode overwrite truncates and loads atomically") {
    import spark.implicits._
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    rows(50).write.format("graft").option("root", root).mode("append").save("t")
    // overwrite with a disjoint, smaller set — no residue from the 50
    rows(60).filter(col("id") >= 55)
      .write.format("graft").option("root", root).mode("overwrite").save("t")
    val got = readDs(root, "t")
    assert(got.count() === 5)
    assert(got.collect().map(_.getLong(0)).sorted.toSeq === (55L until 60L))
    assert(sortedRows(got) === sortedRows(cat.table("t")))
    // null keys are rejected by the catalog through the connector surface
    intercept[Exception] {
      Seq((null.asInstanceOf[java.lang.Long], "x", 1.0, true,
        new Timestamp(0L))).toDF("id", "grp", "v", "ok", "ts")
        .write.format("graft").option("root", root).mode("append").save("t")
    }
  }

  test("SQL INSERT INTO / INSERT OVERWRITE route through the connector write seam") {
    import spark.implicits._
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    cat.insert("t", rows(10))
    // a FRESH catalog name: Spark caches v2 catalog instances by name, so
    // reusing "graftsql" here would resolve against the earlier test's root
    spark.conf.set("spark.sql.catalog.graftw",
      classOf[graft.sources.GraftCatalogPlugin].getName)
    spark.conf.set("spark.sql.catalog.graftw.root", root)
    try {
      // INSERT INTO: dup-ignore — id 5 exists, only id 100 lands
      spark.sql("""INSERT INTO graftw.t VALUES
        (5, 'DUP', 0.0, true, TIMESTAMP '2024-01-01 00:00:00'),
        (100, 'NEW', 1.0, false, TIMESTAMP '2024-01-01 00:00:00')""")
      val t = spark.sql("SELECT id, grp FROM graftw.t").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(t.size === 11)
      assert(t(5L) === "g0" && t(100L) === "NEW")
      // INSERT OVERWRITE: truncate-and-load through the same seam
      spark.sql("""INSERT OVERWRITE graftw.t VALUES
        (7, 'ONLY', 2.0, true, TIMESTAMP '2024-02-01 00:00:00')""")
      assert(spark.sql("SELECT id, grp FROM graftw.t").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((7L, "ONLY")))
      // and the transactional catalog sees the same state (one engine)
      assert(sortedRows(cat.table("t")) === sortedRows(readDs(root, "t")))
    } finally {
      spark.conf.unset("spark.sql.catalog.graftw.root")
      spark.conf.unset("spark.sql.catalog.graftw")
    }
  }

  test("session-default root conf makes load(name) work without options") {
    val (cat, root) = mkCat()
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 2))
    cat.insert("t", rows(10))
    spark.conf.set(graft.sources.GraftDataSource.RootConfKey, root)
    try assert(spark.read.format("graft").load("t").count() === 10)
    finally spark.conf.unset(graft.sources.GraftDataSource.RootConfKey)
  }
}
