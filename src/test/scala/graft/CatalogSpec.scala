package graft

import graft.catalog.{CatalogException, KuduLikeCatalog, TableDef}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** Storage-layer semantics (SURVEY.md S6-S9, §1.1-1.2) — the behaviors the
  * reference implements in Java and we re-express over parquet.
  */
class CatalogSpec extends SparkSpec {

  /** Storage backend under test — [[HadoopCatalogSuites]] re-runs the whole
    * suite through the Hadoop-FileSystem implementation of the seam.
    */
  protected def specStorage: graft.catalog.GraftStorage = graft.catalog.NioStorage

  protected def mkCatalog(root: String) =
    new KuduLikeCatalog(spark, root, specStorage)
  import scala.jdk.CollectionConverters._

  private def freshCat() = mkCatalog(tmpDir("graft_cat_"))

  /** The connector partitions a catalog read plans (catalog reads are
    * connector scans; pruning shows in WHICH partitions and files plan).
    */
  private def plannedParts(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions
    }.flatten.collect { case p: graft.sources.GraftInputPartition => p }

  private val schema2 = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  test("S7: create table — key non-nullable, non-key nullable, readable empty") {
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    assert(cat.table("t").count() === 0)
    // declared nullability lives in the catalog meta (parquet READ always
    // reports nullable; enforcement happens in insert, as in the reference)
    assert(!cat.schemaOf("t")("id").nullable)
    assert(cat.schemaOf("t")("name").nullable)
  }

  test("closed type set: nested types rejected (reference HiveKuduBridgeUtils.java:65-66) " +
    "except the one vector-column extension (arrays of primitives, non-key only)") {
    val cat = freshCat()
    // the round-15 extension: a NON-KEY array of a primitive is allowed
    // (the embedding/PQ-code column shape, operators/EmbeddingIndex)
    cat.createTable(TableDef("ok", StructType(Seq(
      StructField("id", IntegerType),
      StructField("tags", ArrayType(StringType)))), Seq("id")))
    assert(cat.exists("ok"))
    // an array KEY stays rejected (routing/dup-check normalize keys)
    val eKey = intercept[CatalogException] {
      cat.createTable(TableDef("t0", StructType(Seq(
        StructField("tags", ArrayType(StringType)))), Seq("tags")))
    }
    assert(eKey.getMessage.contains("not supported"))
    // arrays of NON-primitive elements stay rejected
    val e = intercept[CatalogException] {
      cat.createTable(TableDef("t", StructType(Seq(
        StructField("id", IntegerType),
        StructField("m", ArrayType(ArrayType(StringType))))), Seq("id")))
    }
    assert(e.getMessage.contains("not supported"))
    // decimal also outside the closed set
    intercept[CatalogException] {
      cat.createTable(TableDef("t2",
        StructType(Seq(StructField("id", DecimalType(10, 2)))), Seq("id")))
    }
  }

  test("key column must exist in schema") {
    val cat = freshCat()
    intercept[CatalogException] {
      cat.createTable(TableDef("t", schema2, Seq("nope")))
    }
  }

  test("duplicate create rejected; S8 drop removes; re-create then allowed") {
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    intercept[CatalogException] { cat.createTable(TableDef("t", schema2, Seq("id"))) }
    cat.dropTable("t")
    intercept[CatalogException] { cat.table("t") }
    cat.createTable(TableDef("t", schema2, Seq("id")))
    assert(cat.table("t").count() === 0)
  }

  test("S9: rollbackCreateTable removes a half-created table, never throws") {
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    cat.rollbackCreateTable("t")
    assert(!cat.exists("t"))
    cat.rollbackCreateTable("never_existed") // must not throw
  }

  test("S6: duplicate-key inserts silently ignored, within and across batches") {
    import spark.implicits._
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    // in-batch dup on id=1: survivor = first by non-key ordering ("a" < "z")
    val n1 = cat.insert("t", Seq((1, "z"), (1, "a"), (2, "b")).toDF("id", "name"))
    assert(n1 === 2)
    // cross-batch dup on id=2 dropped; id=3 lands
    val n2 = cat.insert("t", Seq((2, "XXX"), (3, "c")).toDF("id", "name"))
    assert(n2 === 1)
    val rows = cat.table("t").orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq === Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("insert is idempotent: same batch twice == once") {
    import spark.implicits._
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    val batch = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name")
    assert(cat.insert("t", batch) === 3)
    assert(cat.insert("t", batch) === 0)
    assert(cat.table("t").count() === 3)
  }

  test("insert rejects NULL keys and schema mismatch") {
    import spark.implicits._
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    val withNull = spark.createDataFrame(
      Seq(Row(null, "x")).asJava, schema2)
    intercept[CatalogException] { cat.insert("t", withNull) }
    intercept[CatalogException] {
      cat.insert("t", Seq(("a", 1)).toDF("name", "id")) // wrong column order
    }
  }

  test("round-trip across the full closed type set (reference HiveKuduWritable round-trip)") {
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("s", StringType), StructField("b", ByteType),
      StructField("h", ShortType), StructField("i", IntegerType),
      StructField("f", FloatType), StructField("d", DoubleType),
      StructField("ts", TimestampType), StructField("bool", BooleanType),
      StructField("bin", BinaryType)))
    val rows = Seq(
      Row(1L, "alpha", 1.toByte, 2.toShort, 3, 1.5f, 2.5, new Timestamp(1700000000123L), true, Array[Byte](1, 2, 3)),
      Row(2L, null, null, null, null, null, null, null, null, null))
    val cat = freshCat()
    cat.createTable(TableDef("all_types", schema, Seq("k")))
    assert(cat.insert("all_types", spark.createDataFrame(rows.asJava, schema)) === 2)
    val got = cat.table("all_types").orderBy("k").collect()
    assert(got(0).getLong(0) === 1L)
    assert(got(0).getString(1) === "alpha")
    assert(got(0).getByte(2) === 1.toByte)
    assert(got(0).getShort(3) === 2.toShort)
    assert(got(0).getInt(4) === 3)
    assert(got(0).getFloat(5) === 1.5f)
    assert(got(0).getDouble(6) === 2.5)
    assert(got(0).getTimestamp(7) === new Timestamp(1700000000123L))
    assert(got(0).getBoolean(8) === true)
    assert(got(0).getAs[Array[Byte]](9).toSeq === Seq[Byte](1, 2, 3))
    assert((1 to 9).forall(got(1).isNullAt))
  }

  test("bucketed table: hash-partitioned layout, dup-ignore preserved, pruned lookup") {
    import spark.implicits._
    val root = tmpDir("graft_bucket_")
    val cat = mkCatalog(root)
    cat.createTable(TableDef("t", schema2, Seq("id"), buckets = 8))
    assert(cat.bucketsOf("t") === 8)
    val n = cat.insert("t", (0 until 100).map(i => (i, s"v$i")).toDF("id", "name"))
    assert(n === 100)
    // physical layout: one directory per key-hash bucket
    val bucketDirs = new java.io.File(s"$root/t/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
    assert(bucketDirs.length === 8)
    // dup-ignore across batches still holds
    assert(cat.insert("t", Seq((5, "DUP"), (200, "new")).toDF("id", "name")) === 1)
    assert(cat.table("t").count() === 101)
    // lookup returns the row and prunes to a single bucket partition
    val hit = cat.lookup("t", 42)
    assert(hit.collect().map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((42, "v42")))
    val parts = plannedParts(hit)
    assert(parts.size === 1 && parts.head.bucket >= 0, parts)
  }

  test("range+hash partitioned table: month dirs, pruned time scans, compaction") {
    import spark.implicits._
    val root = tmpDir("graft_range_")
    val cat = mkCatalog(root)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    cat.createTable(TableDef("ev", schema, Seq("id"), buckets = 4, rangeCol = Some("ts")))
    def ts(month: Int, day: Int) = Timestamp.valueOf(f"2024-$month%02d-$day%02d 00:00:00")
    val rows = (0 until 90).map(i => (i.toLong, ts(1 + i % 3, 1 + i % 27), i * 1.0))
    assert(cat.insert("ev", rows.toDF("id", "ts", "v")) === 90)
    // layout: month dirs outer, bucket dirs inner
    val monthDirs = new java.io.File(s"$root/ev/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__range=")).map(_.getName).sorted
    assert(monthDirs.toSeq === Seq("__range=2024-01", "__range=2024-02", "__range=2024-03"))
    // time-range scan prunes to overlapping month partitions
    val feb = cat.lookupRange("ev", ts(2, 1), Timestamp.valueOf("2024-03-01 00:00:00"))
    assert(feb.count() === rows.count { case (_, t, _) =>
      !t.before(ts(2, 1)) && t.before(Timestamp.valueOf("2024-03-01 00:00:00")) })
    val febFiles = plannedParts(feb).flatMap(_.baseFiles)
    assert(febFiles.nonEmpty && febFiles.forall(_.contains("__range=2024-02")), febFiles)
    // compaction: several inserts -> many files; compact -> fewer, same data
    (1 to 4).foreach { b =>
      cat.insert("ev", (0 until 20).map(i => (1000L * b + i, ts(1, 1), 1.0)).toDF("id", "ts", "v"))
    }
    // the live base dir moves on compact (manifest repoint) — resolve per call
    def nFiles = Files.walk(Paths.get(cat.dataLocation("ev")))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val before = nFiles
    val rowsBefore = cat.table("ev").orderBy("id").collect().toSeq
    cat.compact("ev")
    assert(nFiles < before, s"compact must reduce file count ($before -> $nFiles)")
    assert(cat.table("ev").orderBy("id").collect().toSeq === rowsBefore)
    // dup-ignore still intact after compaction
    assert(cat.insert("ev", Seq((0L, ts(1, 1), 99.0)).toDF("id", "ts", "v")) === 0)
  }

  test("alter add column: old rows read NULL, new batches carry the column") {
    import spark.implicits._
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    cat.insert("t", Seq((1, "a")).toDF("id", "name"))
    cat.addColumn("t", StructField("score", DoubleType))
    intercept[CatalogException] { cat.addColumn("t", StructField("score", DoubleType)) }
    intercept[CatalogException] { cat.addColumn("t", StructField("bad", ArrayType(IntegerType))) }
    // multi-column alter is ATOMIC: a bad column mid-list persists nothing
    intercept[CatalogException] {
      cat.addColumns("t", Seq(
        StructField("ok", LongType), StructField("bad", DecimalType(9, 2))))
    }
    intercept[CatalogException] { // in-list duplicate
      cat.addColumns("t", Seq(StructField("x", LongType), StructField("x", LongType)))
    }
    assert(cat.schemaOf("t").fieldNames.toSeq === Seq("id", "name", "score"))
    assert(cat.insert("t", Seq((2, "b", 9.5)).toDF("id", "name", "score")) === 1)
    val rows = cat.table("t").orderBy("id").collect()
    assert(rows(0).isNullAt(2), "pre-alter row must read NULL for the new column")
    assert(rows(1).getDouble(2) === 9.5)
  }

  test("alter preserves the recorded range zone (never re-stamped from the session)") {
    import spark.implicits._
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    val cat = mkCatalog(tmpDir("graft_tzalter_"))
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      cat.createTable(TableDef("ev",
        StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType))),
        Seq("id"), rangeCol = Some("ts")))
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
    // alter runs under UTC; the LA zone must survive so assertZone keeps
    // refusing mixed-clock writes
    cat.addColumn("ev", StructField("v", DoubleType))
    assert(cat.zoneOf("ev") === Some("America/Los_Angeles"))
    intercept[CatalogException] {
      cat.insert("ev", Seq((1L, new Timestamp(0L), 1.0)).toDF("id", "ts", "v"))
    }
  }

  test("upsert replaces rows on key; delete removes by predicate") {
    import spark.implicits._
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id"), buckets = 4))
    cat.insert("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name"))
    // upsert: key 2 replaced, key 4 added; in-batch dup on 4 keeps min value
    assert(cat.upsert("t", Seq((2, "B!"), (4, "z"), (4, "d")).toDF("id", "name")) === 2)
    val afterUpsert = cat.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(afterUpsert.toSeq === Seq((1, "a"), (2, "B!"), (3, "c"), (4, "d")))
    // delete by predicate
    assert(cat.delete("t", org.apache.spark.sql.functions.col("id") % 2 === 0) === 2)
    assert(cat.table("t").orderBy("id").collect().map(_.getInt(0)).toSeq === Seq(1, 3))
    // delete with no matches is a no-op
    assert(cat.delete("t", org.apache.spark.sql.functions.col("id") > 100) === 0)
    assert(cat.table("t").count() === 2)
  }

  test("regression: delete keeps NULL-predicate rows; lookup casts literal types") {
    import spark.implicits._
    val cat = freshCat()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("c", StringType)))
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 8))
    cat.insert("t", Seq((1L, "x"), (2L, null), (3L, "y")).toDF("id", "c"))
    // delete where c = 'x': the NULL row's predicate is NULL, must survive
    assert(cat.delete("t", col("c") === "x") === 1)
    assert(cat.table("t").collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    // lookup with an Int literal against the Long key must still hit the
    // right hash bucket (literal cast to declared type before hashing)
    assert(cat.lookup("t", 3).count() === 1)
    assert(cat.lookup("t", 3L).count() === 1)
  }

  test("clustered compaction sorts files by the cluster column; content unchanged") {
    import spark.implicits._
    val root = tmpDir("graft_clus_")
    val cat = mkCatalog(root)
    // values deliberately uncorrelated with the key so insertion order is
    // NOT already sorted by v
    val rows = (0 until 2000).map(i => (i.toLong, ((i * 131) % 977).toDouble, s"t$i"))
    cat.createTable(TableDef("t", rows.toDF("id", "v", "tag").schema,
      Seq("id"), buckets = 4))
    cat.insert("t", rows.toDF("id", "v", "tag"))
    cat.upsert("t", Seq((5L, -1.0, "upd")).toDF("id", "v", "tag"))
    cat.compact("t", clusterBy = Seq("v"))
    // every base file is internally sorted by v → parquet row-group min/max
    // on v are tight disjoint ranges, the stats-skipping contract
    val files = Files.walk(Paths.get(s"$root/t"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path].toString)
      .filter(f => f.contains("/data_") && f.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val vs = spark.read.parquet(f).select("v").collect().map(_.getDouble(0)).toSeq
      assert(vs === vs.sorted, s"file $f not clustered by v")
    }
    // clustering is an internal layout change only: state identical
    val state = cat.table("t").collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val expect = rows.map { case (i, v, t) =>
      if (i == 5L) (i, -1.0, "upd") else (i, v, t) }.toSet
    assert(state === expect)
    // unknown cluster column fails loudly
    intercept[CatalogException](cat.compact("t", clusterBy = Seq("nope")))
  }

  test("DROP COLUMN: metadata-only evolution; compact reclaims; structural columns refuse") {
    import spark.implicits._
    val root = tmpDir("graft_drop_")
    val cat = mkCatalog(root)
    val rows = (0 until 100).map(i => (i.toLong, i * 1.0, i * 2.0, s"t$i"))
    cat.createTable(TableDef("t", rows.toDF("id", "a", "b", "tag").schema,
      Seq("id"), buckets = 2))
    cat.insert("t", rows.toDF("id", "a", "b", "tag"))
    cat.upsert("t", Seq((5L, -1.0, -2.0, "upd")).toDF("id", "a", "b", "tag"))

    cat.dropColumn("t", "b")
    assert(cat.schemaOf("t").fieldNames.toSeq === Seq("id", "a", "tag"))
    // every read path projects the declared schema: batch and connector
    assert(cat.table("t").columns.toSeq === Seq("id", "a", "tag"))
    val viaConnector = spark.read.format("graft").option("root", root).load("t")
    assert(viaConnector.columns.toSeq === Seq("id", "a", "tag"))
    assert(viaConnector.filter(col("id") === 5).head().getDouble(1) === -1.0)
    // mutations continue under the evolved schema
    cat.upsert("t", Seq((6L, 66.0, "upd6")).toDF("id", "a", "tag"))
    assert(cat.table("t").filter(col("id") === 6).head().getString(2) === "upd6")
    // compact physically reclaims: the new base's parquet schema lacks b
    cat.compact("t")
    val baseSchema = spark.read.parquet(cat.dataLocation("t")).schema.fieldNames.toSet
    assert(!baseSchema.contains("b"), baseSchema.mkString(","))
    assert(cat.table("t").count() === 100)

    // structural columns refuse; multi-drop validates ALL before ANY
    intercept[CatalogException](cat.dropColumn("t", "id"))
    intercept[CatalogException](cat.dropColumn("t", "nope"))
    intercept[CatalogException](cat.dropColumns("t", Seq("a", "nope")))
    assert(cat.schemaOf("t").fieldNames.contains("a"), "failed multi-drop must drop nothing")
    // range-partition column is structural too
    val ts = Seq((1L, new Timestamp(1700000000000L), 1.0)).toDF("id", "ts", "v")
    cat.createTable(TableDef("r", ts.schema, Seq("id"), rangeCol = Some("ts")))
    intercept[CatalogException](cat.dropColumn("r", "ts"))
  }

  test("merge-on-read: mutations append delta layers, never rewrite the base; compact folds") {
    import spark.implicits._
    val root = tmpDir("graft_mor_")
    val cat = mkCatalog(root)
    cat.createTable(TableDef("t", schema2, Seq("id"), buckets = 4))
    cat.insert("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name"))

    def baseFileTimes: Map[String, Long] =
      Files.walk(Paths.get(s"$root/t/data"))
        .filter(p => p.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.toString -> p.toFile.lastModified()).toMap
    val baseBefore = baseFileTimes

    // layered mutations: upsert, delete, upsert again on the same key
    cat.upsert("t", Seq((2, "B1")).toDF("id", "name"))
    cat.delete("t", col("id") === 3)
    cat.upsert("t", Seq((2, "B2"), (4, "d")).toDF("id", "name"))

    // base untouched — mutations were delta appends (Kudu DeltaFile analog)
    assert(baseFileTimes === baseBefore, "mutation path must not rewrite the base")
    assert(new java.io.File(s"$root/t/deltas").listFiles().count(_.isDirectory) >= 3)

    // latest layer wins; tombstone hides id=3; insert cannot overwrite live key
    def snapshot = cat.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(snapshot === Seq((1, "a"), (2, "B2"), (4, "d")))
    assert(cat.insert("t", Seq((2, "nope"), (3, "back")).toDF("id", "name")) === 1)
    assert(snapshot === Seq((1, "a"), (2, "B2"), (3, "back"), (4, "d")))
    // pruned point lookup sees pending mutations
    assert(cat.lookup("t", 2).head().getString(1) === "B2")

    // compact folds layers into the base; data unchanged. A reader planned
    // BEFORE the compact keeps its snapshot for one maintenance cycle (the
    // displaced base and folded layers stay on disk, manifest-invisible)
    val preCompact = cat.table("t")
    cat.compact("t")
    assert(cat.currentVersion("t") === 0, "folded layers retire from the changelog")
    assert(snapshot === Seq((1, "a"), (2, "B2"), (3, "back"), (4, "d")))
    assert(preCompact.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      === Seq((1, "a"), (2, "B2"), (3, "back"), (4, "d")),
      "pre-compact plan keeps its snapshot across the fold")
    assert(cat.lookup("t", 2).head().getString(1) === "B2")
  }

  test("snapshot reads: tableAsOf(v) sees exactly the first v mutation layers") {
    import spark.implicits._
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    cat.insert("t", Seq((1, "a"), (2, "b")).toDF("id", "name"))     // base (v0)
    cat.upsert("t", Seq((2, "B")).toDF("id", "name"))               // v1
    cat.delete("t", col("id") === 1)                                // v2
    cat.upsert("t", Seq((3, "c")).toDF("id", "name"))               // v3
    assert(cat.currentVersion("t") === 3)
    def snap(v: Int) = cat.tableAsOf("t", v).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(snap(0) === Seq((1, "a"), (2, "b")))
    assert(snap(1) === Seq((1, "a"), (2, "B")))
    assert(snap(2) === Seq((2, "B")))
    assert(snap(3) === Seq((2, "B"), (3, "c")))
    assert(snap(3) === cat.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq)
  }

  test("merge-on-read honors range+bucket pruning: lookupRange sees mutations") {
    import spark.implicits._
    val cat = mkCatalog(tmpDir("graft_morrange_"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    cat.createTable(TableDef("ev", schema, Seq("id"), buckets = 4, rangeCol = Some("ts")))
    def ts(month: Int, day: Int) = Timestamp.valueOf(f"2024-$month%02d-$day%02d 00:00:00")
    cat.insert("ev", (0 until 60).map(i => (i.toLong, ts(1 + i % 2, 1 + i % 27), 1.0)).toDF("id", "ts", "v"))
    // mutate: bump value of a January row, delete a February row
    cat.upsert("ev", Seq((0L, ts(1, 1), 99.0)).toDF("id", "ts", "v"))
    cat.delete("ev", col("id") === 1) // id=1 is a February row
    val jan = cat.lookupRange("ev", ts(1, 1), ts(2, 1)).collect()
    assert(jan.find(_.getLong(0) == 0L).get.getDouble(2) === 99.0, "upsert visible in range scan")
    val feb = cat.lookupRange("ev", ts(2, 1), ts(3, 1)).collect()
    assert(!feb.exists(_.getLong(0) == 1L), "tombstone hides deleted row in range scan")
    // after compaction the same answers hold
    cat.compact("ev")
    assert(cat.lookupRange("ev", ts(1, 1), ts(2, 1))
      .filter(col("id") === 0).head().getDouble(2) === 99.0)
    assert(cat.lookupRange("ev", ts(2, 1), ts(3, 1))
      .filter(col("id") === 1).count() === 0)
  }

  test("Dedup.exact and Dedup.exactIds agree on survivors") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val withDups = docs.unionAll(
      docs.select((col("doc_id") + 7000).as("doc_id"), col("text")))
    val viaWindow = graft.operators.Dedup.exact(withDups, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val viaAgg = graft.operators.Dedup.exactIds(withDups, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(viaWindow.toSeq === viaAgg.toSeq)
  }

  test("CDC: changesBetween exposes exactly the mutation rows per version window") {
    import spark.implicits._
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    cat.insert("t", Seq((1, "a"), (2, "b")).toDF("id", "name"))
    cat.upsert("t", Seq((2, "B")).toDF("id", "name"))   // v1
    cat.delete("t", col("id") === 1)                    // v2
    cat.upsert("t", Seq((3, "c")).toDF("id", "name"))   // v3
    // columns: 0=id 1=name 2=op 3=version
    def ch(from: Int, to: Int) = cat.changesBetween("t", from, to)
      .collect().map(r => (r.getInt(0), r.getString(2), r.getInt(3))).sorted.toSeq
    assert(ch(0, 3) === Seq((1, "delete", 2), (2, "upsert", 1), (3, "upsert", 3)))
    assert(ch(1, 2) === Seq((1, "delete", 2)))
    assert(ch(3, 3) === Seq.empty)
    // replaying the feed in version order onto the v0 snapshot reproduces
    // the current table — the CDC contract
    val feed = cat.changesBetween("t", 0, 3).collect()
      .map(r => (r.getInt(3), r.getInt(0), r.getString(2), r.getString(1)))
      .sortBy(_._1)
    val v0 = cat.tableAsOf("t", 0).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val replayed = feed.foldLeft(v0) {
      case (st, (_, id, "upsert", v)) => st + (id -> v)
      case (st, (_, id, "delete", _)) => st - id
    }
    val current = cat.table("t").collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(replayed === current)
  }

  test("incremental agg maintenance from CDC equals recompute (moves, deletes, emptied groups)") {
    import graft.operators.IncrementalAgg
    import spark.implicits._
    val cat = freshCat()
    val schema3 = StructType(Seq(
      StructField("id", IntegerType), StructField("grp", StringType),
      StructField("v", DoubleType)))
    cat.createTable(TableDef("src", schema3, Seq("id")))
    cat.insert("src", Seq(
      (1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0), (4, "b", 7.0))
      .toDF("id", "grp", "v"))

    val agg0 = IncrementalAgg.recompute(cat.tableAsOf("src", 0), Seq("grp"), "v")
    val epoch0 = cat.baseEpoch("src")

    // v1: in-group value change, cross-group MOVE (2: a→b), brand-new group c
    cat.upsert("src", Seq((1, "a", 11.0), (2, "b", 20.0), (10, "c", 99.0))
      .toDF("id", "grp", "v"))
    // v2: empty group c entirely; shrink b
    cat.delete("src", col("id") === 10 || col("id") === 3)

    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val truth = asMap(IncrementalAgg.recompute(cat.table("src"), Seq("grp"), "v"))

    // one-shot window (0, 2]
    val oneShot = IncrementalAgg.merge(agg0,
      IncrementalAgg.delta(cat, "src", 0, 2, epoch0, Seq("grp"), "v"), Seq("grp"))
    assert(asMap(oneShot) === truth)
    assert(!asMap(oneShot).contains("c"), "emptied group must vanish")

    // stepwise (0,1] then (1,2] — same answer (telescoping retractions)
    val step = IncrementalAgg.merge(
      IncrementalAgg.merge(agg0,
        IncrementalAgg.delta(cat, "src", 0, 1, epoch0, Seq("grp"), "v"), Seq("grp")),
      IncrementalAgg.delta(cat, "src", 1, 2, epoch0, Seq("grp"), "v"), Seq("grp"))
    assert(asMap(step) === truth)

    // production writeback: agg lives as a keyed table, only touched groups
    // written; emptied group is tombstoned
    val aggSchema = StructType(Seq(
      StructField("grp", StringType), StructField("n", LongType),
      StructField("total", DoubleType)))
    cat.createTable(TableDef("agg", aggSchema, Seq("grp")))
    cat.insert("agg", agg0.select("grp", "n", "total"))
    IncrementalAgg.maintainInto(cat, "agg", cat, "src", 0, 2, epoch0, Seq("grp"), "v")
    assert(asMap(cat.table("agg").select("grp", "n", "total")) === truth)

    // base-path inserts bypass the changelog — the epoch guard must catch a
    // consumer holding a pre-insert bootstrap instead of silently diverging
    val cat2 = freshCat()
    cat2.createTable(TableDef("src2", schema3, Seq("id")))
    cat2.insert("src2", Seq((1, "a", 1.0)).toDF("id", "grp", "v"))
    val e0 = cat2.baseEpoch("src2")
    cat2.insert("src2", Seq((2, "a", 2.0)).toDF("id", "grp", "v")) // base append
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.delta(cat2, "src2", 0, 0, e0, Seq("grp"), "v")
    }
    assert(e.getMessage.contains("base epoch"))

    // INSERT OVERWRITE replaces contents outside the changelog entirely —
    // the epoch guard must invalidate a pre-overwrite bootstrap the same way
    val e1 = cat2.baseEpoch("src2")
    cat2.overwrite("src2", Seq((9, "z", 9.0)).toDF("id", "grp", "v"))
    assert(cat2.baseEpoch("src2") > e1)
    val eOw = intercept[IllegalArgumentException] {
      IncrementalAgg.delta(cat2, "src2", 0, 0, e1, Seq("grp"), "v")
    }
    assert(eOw.getMessage.contains("base epoch"))

    // null-group merge is null-safe: retraction on a null key must land
    val prevN = Seq(("x", 2L, 30.0), (null.asInstanceOf[String], 2L, 30.0))
      .toDF("grp", "n", "total")
    val dN = Seq((null.asInstanceOf[String], -1L, -19.0)).toDF("grp", "d_n", "d_total")
    val merged = IncrementalAgg.merge(prevN, dN, Seq("grp")).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2))).toSet
    assert(merged === Set((Some("x"), 2L, 30.0), (None, 1L, 11.0)))
  }

  test("dirty-batch insertCounted: null-key rows skipped and counted, clean rows land") {
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    val dirty = spark.createDataFrame(Seq(
      Row(1, "a"), Row(null, "x"), Row(2, "b"), Row(null, "y"), Row(2, "dup")).asJava, schema2)
    // reference behavior: bad rows counted into an error counter, not thrown
    // (HiveKuduTableOutputFormat.java:285-311)
    val (inserted, rejected) = cat.insertCounted("t", dirty)
    assert(inserted === 2) // id=2 in-batch dup keeps first by non-key order
    assert(rejected === 2)
    assert(cat.table("t").orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      === Seq((1, "a"), (2, "b")))
    // the strict mode still throws on the same batch
    intercept[CatalogException] { cat.insert("t", dirty) }
    // clean batch: rejected = 0
    assert(cat.insertCounted("t",
      spark.createDataFrame(Seq(Row(3, "c")).asJava, schema2)) === ((1L, 0L)))
  }

  test("stray dirs in deltas/ are invisible: only committed all-digit layers read") {
    import spark.implicits._
    val root = tmpDir("graft_stray_")
    val cat = mkCatalog(root)
    cat.createTable(TableDef("t", schema2, Seq("id")))
    cat.insert("t", Seq((1, "a")).toDF("id", "name"))
    cat.upsert("t", Seq((1, "A")).toDF("id", "name")) // layer 1
    // simulate a torn write + job litter: neither may surface in reads or
    // be counted as a committed version
    Files.createDirectories(Paths.get(s"$root/t/deltas/.tmp_7"))
    Files.createDirectories(Paths.get(s"$root/t/deltas/_temporary"))
    // all-digit but past Int range (epoch-millis litter): invisible, not a crash
    Files.createDirectories(Paths.get(s"$root/t/deltas/1755000000000"))
    assert(cat.currentVersion("t") === 1)
    assert(cat.table("t").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      === Seq((1, "A")))
    // the next mutation commits as layer 2, unconfused by the litter
    assert(cat.upsert("t", Seq((2, "b")).toDF("id", "name")) === 1)
    assert(cat.currentVersion("t") === 2)
    // empty mutations commit no layer at all
    assert(cat.delete("t", col("id") > 100) === 0)
    assert(cat.upsert("t", spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema2)) === 0)
    assert(cat.currentVersion("t") === 2)
  }

  test("delete is one Spark action: the count rides on the write, no pre-scan") {
    import spark.implicits._
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    cat.insert("t", Seq((1, "a"), (2, "b")).toDF("id", "name"))
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(cat.delete("t", col("id") === 1) === 1)
      // the listener bus is async — wait for the event(s) to drain
      val deadline = System.nanoTime() + 5_000_000_000L
      while (actions.get() < 1 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500) // a second action, if any, would land right behind
      assert(actions.get() === 1, s"delete ran ${actions.get()} actions, expected 1 (write only)")
    } finally spark.listenerManager.unregister(listener)
    assert(cat.table("t").collect().map(_.getInt(0)).toSeq === Seq(2))
  }

  test("range pruning follows the table's recorded zone; writes under another zone refuse") {
    import spark.implicits._
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    val cat = mkCatalog(tmpDir("graft_tz_"))
    val boundary = new Timestamp(
      java.time.Instant.parse("2024-03-01T02:00:00Z").toEpochMilli)
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("ts", TimestampType)))
      cat.createTable(TableDef("ev", schema, Seq("id"), rangeCol = Some("ts")))
      assert(cat.zoneOf("ev") === Some("America/Los_Angeles"))
      // 2024-03-01 02:00 UTC = 2024-02-29 18:00 in LA → written to the
      // 2024-02 month partition under the LA session; UTC-pinned pruning
      // bounds would look in 2024-03 and silently drop the row
      cat.insert("ev", Seq((1L, boundary)).toDF("id", "ts"))
      val hit = cat.lookupRange("ev", boundary,
        new Timestamp(boundary.getTime + 3600 * 1000))
      assert(hit.collect().map(_.getLong(0)).toSeq === Seq(1L))
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
    // a READER session in a different zone still prunes correctly — the
    // bounds derive from the zone recorded at create time, not the session
    val hitFromUtc = cat.lookupRange("ev", boundary,
      new Timestamp(boundary.getTime + 3600 * 1000))
    assert(hitFromUtc.collect().map(_.getLong(0)).toSeq === Seq(1L))
    // but a WRITE under a mismatched session zone would mix clocks inside
    // __range — it must refuse instead of corrupting pruning
    val e = intercept[CatalogException] {
      cat.insert("ev", Seq((2L, boundary)).toDF("id", "ts"))
    }
    assert(e.getMessage.contains("America/Los_Angeles"))
  }

  test("S11: attachExternal verifies schema, rejects mismatch") {
    import spark.implicits._
    val dir = tmpDir("graft_ext_")
    Seq((1, "a")).toDF("id", "name").write.mode("overwrite").parquet(s"$dir/p")
    val cat = freshCat()
    val df = cat.attachExternal(s"$dir/p",
      StructType(Seq(StructField("id", IntegerType), StructField("name", StringType))))
    assert(df.count() === 1)
    intercept[CatalogException] {
      cat.attachExternal(s"$dir/p",
        StructType(Seq(StructField("id", LongType), StructField("name", StringType))))
    }
  }

  test("overwrite is crash-consistent: stale deltas and staged bases stay invisible") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    cat.insert("t", Seq((1, "a"), (2, "b")).toDF("id", "name"))
    cat.upsert("t", Seq((2, "b2"), (3, "c")).toDF("id", "name"))
    def rows() = cat.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows() === Seq((1, "a"), (2, "b2"), (3, "c")))
    val tdir = Paths.get(cat.location("t"))
    val delta1 = tdir.resolve("deltas").resolve("1")
    assert(cat.overwrite("t", Seq((7, "x")).toDF("id", "name")) === 1L)
    assert(rows() === Seq((7, "x")))
    // the pre-overwrite delta layer is STILL ON DISK by design (cleanup is
    // deferred to the next overwrite for snapshot readers) — it sits at the
    // delta floor, so readers must NOT overlay it on the new base (phantom
    // mutations). This covers the cleanup-crash case for free: a layer a
    // crash leaves behind is indistinguishable from a deferred one.
    assert(Files.exists(delta1), "pre-overwrite delta layer deferred, not deleted")
    assert(rows() === Seq((7, "x")), "floored delta layer must stay invisible")
    // CRASH SIMULATION 2: a later overwrite died after staging its base but
    // before the meta commit — the staged dir is litter, not the table
    Files.createDirectories(tdir.resolve("data_999"))
    assert(rows() === Seq((7, "x")))
    // new mutations number ABOVE the floor: they apply, the stale layer stays dead
    cat.upsert("t", Seq((8, "y")).toDF("id", "name"))
    assert(rows() === Seq((7, "x"), (8, "y")))
    // schema evolution rebuilds the meta — it must carry the manifest
    // (base pointer + delta floor) forward, or the old base resurrects
    cat.addColumn("t", StructField("extra", StringType))
    val wide = cat.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(wide === Seq((7, "x", null), (8, "y", null)))
  }

  test("overwrite defers cleanup: crashed staged bases swept, one-cycle reader snapshots") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val cat = freshCat()
    cat.createTable(TableDef("t", schema2, Seq("id")))
    cat.insert("t", Seq((1, "a"), (2, "b")).toDF("id", "name"))
    val tdir = Paths.get(cat.location("t"))
    def baseDirs() = tdir.toFile.listFiles()
      .filter(f => f.isDirectory && f.getName.matches("data(_\\d+)?"))
      .map(_.getName).toSet
    // litter from a "crashed" earlier overwrite attempt (staged, never
    // committed — its epoch never matches a later attempt's staged name)
    Files.createDirectories(tdir.resolve("data_77"))
    // a reader planned BEFORE the overwrite…
    val snapshot = cat.table("t")
    cat.overwrite("t", Seq((7, "x")).toDF("id", "name"))
    // …still reads its snapshot: the displaced base survives one cycle
    assert(snapshot.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      === Seq((1, "a"), (2, "b")), "pre-overwrite plan keeps its snapshot for one cycle")
    // the crashed attempt's staged dir was collected by this overwrite
    assert(!Files.exists(tdir.resolve("data_77")), "crashed staged base must not leak")
    // old base ("data") is still on disk (deferred), plus the new epoch base
    val afterFirst = baseDirs()
    assert(afterFirst.contains("data") && afterFirst.size === 2)
    // the NEXT overwrite collects the previous generation; what remains is
    // the live base plus the one generation it displaced — on-disk litter
    // is bounded to one dead generation no matter how many overwrites run
    cat.overwrite("t", Seq((9, "y")).toDF("id", "name"))
    val afterSecond = baseDirs()
    assert(!afterSecond.contains("data"), "first-generation base collected on next overwrite")
    assert(afterSecond.size === 2, s"live base + one deferred generation, got $afterSecond")
    // epoch-millis litter in deltas/ (name too long for a layer) follows
    // the rawDeltaSeqs discipline: ignored by the sweep — it must neither
    // crash the toInt (which would brick every later maintenance op on the
    // table) nor be deleted as if it were a floored layer
    val millis = tdir.resolve("deltas").resolve("1755000000000")
    Files.createDirectories(millis)
    cat.overwrite("t", Seq((11, "z")).toDF("id", "name"))
    assert(Files.exists(millis), "non-layer litter is ignored, not swept")
    assert(baseDirs().size === 2, "litter stays bounded across repeated overwrites")
    assert(cat.table("t").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      === Seq((11, "z")))
  }

  test("maybeCompact: threshold-gated maintenance, state preserved") {
    import spark.implicits._
    val cat = mkCatalog(tmpDir("graft_mc_"))
    val rows = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    cat.createTable(graft.catalog.TableDef("t", rows.schema, Seq("id"), buckets = 4))
    cat.insert("t", rows)
    cat.upsert("t", Seq((1L, "a")).toDF("id", "v"))
    cat.upsert("t", Seq((2L, "b")).toDF("id", "v"))
    assert(cat.deltaLayers("t").size === 2)
    assert(!cat.maybeCompact("t", maxPendingLayers = 2), "2 <= 2: below threshold")
    assert(cat.deltaLayers("t").size === 2)
    assert(cat.maybeCompact("t", maxPendingLayers = 1), "2 > 1: must compact")
    assert(cat.deltaLayers("t").isEmpty)
    val t = cat.table("t")
    assert(t.count() === 100)
    assert(t.filter(org.apache.spark.sql.functions.col("id") === 1L)
      .head().getString(1) === "a")
  }

  test("DROP RANGE PARTITION: metadata-only retention, every read path agrees") {
    import spark.implicits._
    val root = tmpDir("graft_droprange_")
    val cat = mkCatalog(root)
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = (1 to 90).map(i =>
      (i.toLong, ts(f"2024-${i % 3 + 1}%02d-10 08:00:00"), s"v$i"))
    val df0 = rows.toDF("id", "t", "v")
    cat.createTable(TableDef("t", df0.schema, Seq("id"),
      buckets = 2, rangeCol = Some("t")))
    cat.insert("t", df0)
    val epochBefore = cat.baseEpoch("t")

    // drop with pending deltas must refuse
    cat.upsert("t", Seq((1L, ts("2024-01-10 08:00:00"), "x")).toDF("id", "t", "v"))
    val e1 = intercept[CatalogException](cat.dropRangePartition("t", "2024-02"))
    assert(e1.getMessage.contains("compact"))
    cat.compact("t")

    // the drop: one metadata write; dirs stay on disk until the next compact
    cat.dropRangePartition("t", "2024-02")
    assert(cat.baseEpoch("t") > epochBefore, "changelog consumers must be invalidated")
    assert(cat.droppedRangesOf("t") === Seq("2024-02"))
    // id=1 was upserted into January above, so it survives the February drop
    val expect =
      rows.filterNot(_._2.toString.startsWith("2024-02")).map(_._1).toSet + 1L
    assert(cat.table("t").collect().map(_.getLong(0)).toSet === expect)
    assert(!cat.partitionsOf("t").exists(_.contains("2024-02")))
    assert(graft.sources.GraftScan.listParquet(cat.dataLocation("t"))
      .exists(_.contains("__range=2024-02")), "metadata-only: bytes still on disk")
    // the connector planning path must agree with the catalog read path
    val viaConnector = spark.read.format("graft").option("root", root).load("t")
      .collect().map(_.getLong(0)).toSet
    assert(viaConnector === expect, "connector excludes dropped partitions too")
    // footer-answered COUNT(*) must not overcount dropped files
    val cnt = spark.read.format("graft").option("root", root).load("t")
      .groupBy().count().head().getLong(0)
    assert(cnt === expect.size.toLong)

    // writes into the dropped range are rejected (no owning tablet)
    val feb = Seq((999L, ts("2024-02-20 00:00:00"), "no")).toDF("id", "t", "v")
    assert(intercept[CatalogException](cat.insert("t", feb))
      .getMessage.contains("dropped range"))
    assert(intercept[CatalogException](cat.upsert("t", feb))
      .getMessage.contains("dropped range"))
    // other ranges stay writable, and a dropped key is re-insertable there
    assert(cat.insert("t",
      Seq((2L, ts("2024-03-15 00:00:00"), "moved")).toDF("id", "t", "v")) ===
      (if (expect.contains(2L)) 0L else 1L))

    // nonexistent partition is a loud error
    assert(intercept[CatalogException](cat.dropRangePartition("t", "2030-01"))
      .getMessage.contains("no live partition"))

    // compact folds the drop into the base and re-opens the range
    cat.compact("t")
    assert(cat.droppedRangesOf("t").isEmpty)
    assert(!graft.sources.GraftScan.listParquet(cat.dataLocation("t"))
      .exists(_.contains("__range=2024-02")), "fold physically removed the dirs")
    assert(cat.insert("t", feb) === 1L, "range writable again after the fold")
    assert(cat.table("t").filter(col("id") === 999L).count() === 1L)
  }

  test("ADD RANGE PARTITION: re-opens a dropped range empty via hardlink " +
    "relink — no rewrite, no resurrection, other ranges byte-identical") {
    import spark.implicits._
    val root = tmpDir("graft_addrange_")
    val cat = mkCatalog(root)
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = (1 to 90).map(i =>
      (i.toLong, ts(f"2024-${i % 3 + 1}%02d-10 08:00:00"), s"v$i"))
    cat.createTable(TableDef("t", rows.toDF("id", "t", "v").schema, Seq("id"),
      buckets = 2, rangeCol = Some("t")))
    cat.insert("t", rows.toDF("id", "t", "v"))
    val janFilesBefore = graft.sources.GraftScan
      .listParquet(cat.dataLocation("t")).filter(_.contains("__range=2024-01"))

    // a LIVE range cannot be re-added (Kudu: conflicting range)
    assert(intercept[CatalogException](cat.addRangePartition("t", "2024-02"))
      .getMessage.contains("already exists"))
    // a never-dropped absent range is a declarative no-op: the write
    // materializes it later, exactly as without the call
    cat.addRangePartition("t", "2030-01")
    assert(cat.insert("t",
      Seq((500L, ts("2030-01-05 00:00:00"), "new")).toDF("id", "t", "v")) === 1L)

    cat.dropRangePartition("t", "2024-02")
    val genBefore = cat.baseEpoch("t")
    cat.addRangePartition("t", "2024-02")
    assert(cat.baseEpoch("t") > genBefore)
    assert(cat.droppedRangesOf("t").isEmpty)

    // re-opened EMPTY: the dropped rows never come back
    val expect = rows.filterNot(_._2.toString.startsWith("2024-02"))
      .map(_._1).toSet + 500L
    assert(cat.table("t").collect().map(_.getLong(0)).toSet === expect)
    assert(!cat.partitionsOf("t").exists(_.contains("2024-02")))

    // surviving files are HARDLINKS of the old generation (same inode,
    // zero data movement), and the file set is exactly "live minus dropped"
    val after = graft.sources.GraftScan.listParquet(cat.dataLocation("t"))
    assert(!after.exists(_.contains("__range=2024-02")))
    val janAfter = after.filter(_.contains("__range=2024-01"))
    assert(janAfter.map(f => f.substring(f.indexOf("__range="))).sorted ===
      janFilesBefore.map(f => f.substring(f.indexOf("__range="))).sorted)
    if (specStorage.supportsHardLink)
      assert(java.nio.file.Files.isSameFile(
        java.nio.file.Paths.get(janFilesBefore.head),
        java.nio.file.Paths.get(janAfter.find(a =>
          a.endsWith(janFilesBefore.head.substring(
            janFilesBefore.head.indexOf("__range=")))).get)),
        "relink must hardlink, not copy")
    // (capability-degraded backends copy — content equality asserted above)

    // the range accepts writes again and fills from empty
    val feb = Seq((999L, ts("2024-02-20 00:00:00"), "back")).toDF("id", "t", "v")
    assert(cat.insert("t", feb) === 1L)
    assert(cat.table("t").filter(col("id") === 999L).count() === 1L)
    // and the SQL verb routes to the same mechanics
    Tables.registerAll(spark, sf)
    val st = GraftSql.execute(spark, cat, "ALTER TABLE t ADD RANGE PARTITION '2031-07'").head()
    assert(st.getString(0) === "ALTER TABLE ADD RANGE PARTITION")

    // re-opening ONE of several dropped ranges: the others stay excluded
    // (the dropped list shrinks, never clears wholesale)
    cat.dropRangePartition("t", "2024-01")
    cat.dropRangePartition("t", "2024-03")
    cat.addRangePartition("t", "2024-01")
    assert(cat.droppedRangesOf("t") === Seq("2024-03"))
    // of the original ids 1..90 (month = id%3+1), none from the re-opened
    // January nor the still-dropped March may remain
    val kept = cat.table("t").collect().map(_.getLong(0)).toSet
    assert(!kept.exists(id => id <= 90 && (id % 3) + 1 == 1),
      "re-opened January stays empty")
    assert(!kept.exists(id => id <= 90 && (id % 3) + 1 == 3), "March stays dropped")
    assert(kept === Set(500L, 999L))
    assert(intercept[CatalogException](cat.insert("t",
      Seq((777L, ts("2024-03-15 00:00:00"), "no")).toDF("id", "t", "v")))
      .getMessage.contains("dropped range"))
    assert(cat.insert("t",
      Seq((778L, ts("2024-01-15 00:00:00"), "yes")).toDF("id", "t", "v")) === 1L)
    // the connector planning path must agree with the catalog about which
    // ranges are live after the partial re-open
    assert(spark.read.format("graft").option("root", root).load("t")
      .collect().map(_.getLong(0)).toSet === Set(500L, 999L, 778L))
  }

  test("RENAME COLUMN: one-swap fold+rewrite — key/hash/range refs follow, " +
    "deltas folded, bucket routing and range pruning survive the new name") {
    import spark.implicits._
    val root = tmpDir("graft_rencol_")
    val cat = mkCatalog(root)
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = (1 to 60).map(i =>
      (i.toLong, ts(f"2024-${i % 2 + 1}%02d-10 08:00:00"), s"v$i"))
    cat.createTable(TableDef("t", rows.toDF("id", "t", "v").schema, Seq("id"),
      buckets = 2, rangeCol = Some("t")))
    cat.insert("t", rows.toDF("id", "t", "v"))
    // pending delta: the rename must fold it, not lose it
    cat.upsert("t", Seq((7L, ts("2024-01-10 08:00:00"), "patched"))
      .toDF("id", "t", "v"))

    // loud caller bugs first
    assert(intercept[CatalogException](cat.renameColumn("t", "nope", "x"))
      .getMessage.contains("no column"))
    assert(intercept[CatalogException](cat.renameColumn("t", "v", "id"))
      .getMessage.contains("already has"))
    assert(intercept[CatalogException](cat.renameColumn("t", "v", "bad name"))
      .getMessage.contains("invalid"))

    // rename the KEY column (also the hash-bucket column) — the hardest case
    cat.renameColumn("t", "id", "doc_id")
    assert(cat.keyColsOf("t") === Seq("doc_id"))
    assert(cat.schemaOf("t").fieldNames.toSeq === Seq("doc_id", "t", "v"))
    val got = cat.table("t").collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.size === 60 && got(7L) === "patched", "delta folded through the rename")
    // dup-ignore still routes to the right bucket under the new name
    assert(cat.insert("t",
      Seq((7L, ts("2024-01-10 08:00:00"), "dup")).toDF("doc_id", "t", "v")) === 0L)
    assert(cat.insert("t",
      Seq((500L, ts("2024-02-01 00:00:00"), "new")).toDF("doc_id", "t", "v")) === 1L)

    // rename the RANGE column: pruning metadata follows
    cat.renameColumn("t", "t", "event_ts")
    assert(cat.rangeColOf("t") === Some("event_ts"))
    assert(cat.partitionsOf("t").exists(_.contains("2024-01")))
    assert(cat.lookup("t", 7L).head().getString(2) === "patched")

    // SQL verb end-to-end, then DESCRIBE shows the new name
    GraftSql.execute(spark, cat, "ALTER TABLE t RENAME COLUMN v TO body")
    assert(cat.schemaOf("t").fieldNames.toSeq === Seq("doc_id", "event_ts", "body"))
    // the connector presents the renamed schema and the same rows
    val viaConn = spark.read.format("graft").option("root", root).load("t")
    assert(viaConn.schema.fieldNames.toSeq === Seq("doc_id", "event_ts", "body"))
    assert(viaConn.count() === 61L)
  }

  test("S6 bucket-aligned dup-check equals the generic anti-join, every key type") {
    import spark.implicits._
    val cat = mkCatalog(tmpDir("graft_aligned_"))
    def ts(s: String) = Timestamp.valueOf(s)
    // composite (string, timestamp) key exercises the normalized key space
    // (UTF8String->String, Timestamp->micros) across the file/batch seam
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    def df(rows: Seq[(String, Timestamp, Double)]) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3)).asJava, schema)
    val base = (1 to 200).map(i => (s"k$i", ts(s"2024-01-01 10:00:${i % 60}"), i.toDouble))
    // same inserts into a bucketed (aligned path) and keyless-layout table
    cat.createTable(TableDef("b", schema, Seq("k", "ts"), buckets = 8, hashCols = Seq("k")))
    cat.createTable(TableDef("u", schema, Seq("k", "ts")))
    assert(cat.insert("b", df(base)) === 200)
    assert(cat.insert("u", df(base)) === 200)
    // second batch: 50 exact-key dups (dropped), 50 same-k-different-ts (kept), 30 new
    val dups = base.take(50)
    val newTs = base.slice(50, 100).map { case (k, t, v) => (k, ts("2025-06-06 00:00:00"), v) }
    val fresh = (201 to 230).map(i => (s"k$i", ts("2024-03-03 03:03:03"), i.toDouble))
    val batch2 = df(scala.util.Random.shuffle(dups ++ newTs ++ fresh))
    assert(cat.insert("b", batch2) === 80)
    assert(cat.insert("u", batch2) === 80)
    val got = cat.table("b").collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
    val want = cat.table("u").collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
    assert(got === want)
    assert(got.size === 280)
    // all-duplicate batch appends nothing through the aligned path
    assert(cat.insert("b", df(dups)) === 0)
  }

  test("concurrent writers: inserts count each new key exactly once, upsert layers commit exactly once") {
    val root = tmpDir("graft_conc_")
    val cat = mkCatalog(root)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def df(rows: Seq[(Long, String)]) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)
    cat.createTable(TableDef("t", schema, Seq("id"), buckets = 4))
    assert(cat.insert("t", df((0L until 100L).map(i => i -> s"base$i"))) === 100)

    import scala.concurrent._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 4 inserters with OVERLAPPING ranges (thread i: [50i, 50i+100)) — the
      // write lock serializes their dup-check-then-append read-modify-write,
      // so across all threads each genuinely-new key is counted exactly once
      val inserts = Future.sequence((0 until 4).map(i => Future {
        cat.insert("t", df((50L * i until 50L * i + 100L).map(k => k -> s"ins$i-$k")))
      }))
      // 4 upserters over the same 50 keys — each reserves its own layer
      val upserts = Future.sequence((0 until 4).map(i => Future {
        cat.upsert("t", df((0L until 50L).map(k => k -> s"up$i-$k")))
      }))
      val ins = Await.result(inserts, duration.Duration(600, "s"))
      val ups = Await.result(upserts, duration.Duration(600, "s"))
      assert(ins.sum === 150, s"dup-ignore must count each new key once: $ins")
      assert(ups.sum === 200, s"each upsert layer holds its full batch: $ups")
    } finally pool.shutdown()

    val t = cat.table("t")
    assert(t.count() === 250)
    assert(t.select("id").distinct().count() === 250, "no duplicate primary keys")
    // contested keys resolve to exactly one racing writer's value
    assert(t.filter(col("id") === 0L).head().getString(1).startsWith("up"))
    // every committed layer is a plain sequence dir; no torn/tmp/reservation litter
    val layers = new java.io.File(s"$root/t/deltas").listFiles().map(_.getName).toSeq
    assert(layers.forall(_.forall(_.isDigit)), s"litter left behind: $layers")
  }

  test("concurrent upserts each commit their own reserved layer (no lost writes)") {
    val root = tmpDir("graft_rsv_")
    val cat = mkCatalog(root)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def df(rows: Seq[(Long, String)]) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)
    cat.createTable(TableDef("t", schema, Seq("id")))
    import scala.concurrent._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // disjoint key ranges: with the old last-seq+1 allocation, racing
      // writers collided on one sequence and the loser's completed write
      // was lost; with reservation every writer owns a distinct layer
      val n = Await.result(Future.sequence((0 until 12).map(i => Future {
        cat.upsert("t", df((100L * i until 100L * i + 100L).map(k => k -> s"w$i")))
      })), duration.Duration(600, "s"))
      assert(n.forall(_ === 100L))
    } finally pool.shutdown()
    assert(cat.table("t").count() === 1200, "all 12 concurrent layers visible")
    val layers = new java.io.File(s"$root/t/deltas").listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).map(_.toInt).sorted.toSeq
    assert(layers === (1 to 12), s"12 distinct committed sequences, got $layers")
  }

  test("S6 aligned dup-check bounds use UTF-8 byte order (supplementary plane)") {
    val cat = mkCatalog(tmpDir("graft_sp_"))
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    def df(rows: Seq[(String, Long)]) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)
    cat.createTable(TableDef("t", schema, Seq("k"), buckets = 1))
    // U+10000: UTF-16 code units (D800 DC00) sort BELOW U+FFFD, but its
    // UTF-8 bytes (F0 90 80 80) sort ABOVE U+FFFD's (EF BF BD). Bounds
    // computed in UTF-16 order would push max=U+FFFD and prune the row
    // group holding the existing U+10000 key -> silent duplicate insert.
    val sp = "\ud800\udc00"
    assert(cat.insert("t", df(Seq(sp -> 1L))) === 1)
    assert(cat.insert("t", df(Seq(sp -> 2L, "\ufffd" -> 3L))) === 1)
    assert(cat.table("t").count() === 2)
    assert(cat.table("t").filter(col("k") === sp).count() === 1,
      "duplicate primary key must not survive the bounds pruning")
  }

  test("reserved __ names rejected at CREATE, ADD COLUMN, RENAME COLUMN") {
    val cat = freshCat()
    val e = intercept[CatalogException] {
      cat.createTable(TableDef("bad",
        StructType(Seq(StructField("__bucket", LongType))), Seq("__bucket")))
    }
    assert(e.getMessage.contains("reserved"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    cat.createTable(TableDef("t", schema, Seq("id")))
    intercept[CatalogException] { cat.addColumn("t", StructField("__seq", StringType)) }
    intercept[CatalogException] { cat.renameColumn("t", "v", "__range") }
    intercept[CatalogException] { cat.renameColumn("t", "v", "__op") }
    cat.renameColumn("t", "v", "val") // plain names unaffected
    assert(cat.schemaOf("t").fieldNames.toSeq === Seq("id", "val"))
  }

  test("S6 aligned dup-check: long keys, range+bucket layout, in-batch dups") {
    import spark.implicits._
    val cat = mkCatalog(tmpDir("graft_aligned2_"))
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = (1 to 100).map(i =>
      (i.toLong, ts(s"2024-0${i % 3 + 1}-15 12:00:00"), s"v$i"))
    val df0 = rows.toDF("id", "t", "v")
    cat.createTable(TableDef("t", df0.schema, Seq("id"),
      buckets = 4, rangeCol = Some("t")))
    assert(cat.insert("t", df0) === 100)
    // batch with internal dups (same key twice) + existing keys + new keys
    val batch = Seq(
      (1L, ts("2024-01-15 12:00:00"), "dup"),   // existing key -> dropped
      (200L, ts("2024-05-01 00:00:00"), "bbb"), // in-batch dup, survivor by value
      (200L, ts("2024-05-01 00:00:00"), "aaa"), // "aaa" < "bbb": firstPerKey keeps aaa
      (201L, ts("2024-06-01 00:00:00"), "new")
    ).toDF("id", "t", "v")
    assert(cat.insert("t", batch) === 2)
    val t = cat.table("t")
    assert(t.count() === 102)
    assert(t.filter(col("id") === 200L).head().getString(2) === "aaa")
    assert(t.filter(col("id") === 1L).head().getString(2) === "v1")
  }
}
