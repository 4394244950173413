package graft

import graft.catalog.{KuduLikeCatalog, TableDef}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet bloom filters on declared non-key columns (round-10 verdict
  * item 3) — the file-level point-lookup index for predicates min/max
  * statistics cannot prune (Kudu analog: the per-tablet key index,
  * DesignDocument.md). Base files are key-sorted, so a NON-key column's
  * values interleave across row groups and every group's [min,max]
  * straddles every probe value; only a bloom filter can say "definitely
  * absent" per group.
  *
  * The skip proof runs on the PRODUCTION reader ([[GraftVectorized]], the
  * path every filtered connector scan takes): record-level filtering is
  * disabled there by design, so a drained reader emits EVERY row of every
  * row group that survived row-group pruning — if a probe for an absent
  * value drains to zero rows, every row group was dropped at group level,
  * and the control table (same data, no blooms) proves stats alone could
  * not have done it.
  */
class ParquetBloomSpec extends SparkSpec {

  /** Storage backend the TABLES are built through — the Hadoop subclass
    * below re-runs the whole suite with every catalog write going through
    * `org.apache.hadoop.fs`, proving the connector's footer reads survive
    * the FileSystem seam (round-15 verdict item 7).
    */
  protected def specStorage: graft.catalog.GraftStorage = graft.catalog.NioStorage
  protected def mkCat(root: String) =
    new KuduLikeCatalog(spark, root, specStorage)
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("payload", LongType),
    StructField("v", StringType)))

  // payload decorrelated from the id sort order (Fibonacci-hash spread) and
  // always EVEN — every odd value inside [min,max] is absent-but-unprunable
  // by statistics in a key-sorted layout
  private def rows(n: Int) = (0 until n).map { i =>
    Row(i.toLong, ((i * 2654435761L) % 100000L) * 2L, s"v$i")
  }

  private def mkTable(root: String, bloom: Seq[String]): (KuduLikeCatalog, String) = {
    val cat = mkCat(root)
    cat.createTable(TableDef("t", schema, Seq("id"), bloomCols = bloom))
    assert(cat.insert("t", spark.createDataFrame(rows(50000).asJava, schema)) === 50000)
    (cat, root)
  }

  private def baseFiles(cat: KuduLikeCatalog): Seq[String] = cat.liveBaseFiles("t")

  /** The largest base file — CREATE writes an empty initial file whose
    * footer has zero row groups, so "first file" is run-order flaky.
    */
  private def mainFile(cat: KuduLikeCatalog): String =
    baseFiles(cat).maxBy(f => java.nio.file.Files.size(java.nio.file.Paths.get(f)))

  private def bloomOffsets(file: String): Map[String, Long] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try r.getRowGroups.asScala.head.getColumns.asScala
      .map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
    finally r.close()
  }

  private def rowGroupCount(file: String): Int = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try r.getRowGroups.size finally r.close()
  }

  /** Drain the production vectorized reader (record filtering OFF) and
    * count emitted rows: the number of rows in SURVIVING row groups.
    */
  private def drainedRows(file: String, probe: Long): Long = {
    val r = graft.sources.GraftVectorized.open(
      file, schema, Array(org.apache.spark.sql.sources.EqualTo("payload", probe)))
    var n = 0L
    val it = graft.sources.GraftVectorized.rowIterator(r)
    while (it.hasNext) { it.next(); n += 1 }
    n
  }

  test("declared bloom columns are written; undeclared are not; compact keeps them") {
    spark.conf.set("graft.parquet.block.size", "65536")
    try {
      val (cat, _) = mkTable(tmpDir("graft_bloom_"), bloom = Seq("payload"))
      val f = mainFile(cat)
      assert(rowGroupCount(f) > 1, "fixture must span multiple row groups")
      val off = bloomOffsets(f)
      assert(off("payload") > 0, "declared column must carry a bloom filter")
      assert(off("v") <= 0, "undeclared column must not pay for one")
      assert(off("id") <= 0)
      // maintenance rewrite preserves the declaration
      cat.compact("t")
      val off2 = bloomOffsets(mainFile(cat))
      assert(off2("payload") > 0, "compact must re-write bloom filters")
    } finally spark.conf.unset("graft.parquet.block.size")
  }

  test("absent-value probe skips every row group via bloom; stats alone cannot") {
    spark.conf.set("graft.parquet.block.size", "65536")
    try {
      val (withBloom, bloomRoot) = mkTable(tmpDir("graft_bloom_"), bloom = Seq("payload"))
      val (control, _) = mkTable(tmpDir("graft_nobloom_"), bloom = Seq.empty)
      val absent = 99999L // odd: inside [0, 199998] but never generated
      // control first: statistics CANNOT prune this probe (every group's
      // payload range straddles it), so groups survive and — with record
      // filtering off — their rows all emit
      val controlRows = baseFiles(control).map(drainedRows(_, absent)).sum
      assert(controlRows === 50000L,
        "control: no row group is prunable by min/max for the absent value")
      // bloom: every group answers 'definitely absent' → zero groups read
      val bloomRows = baseFiles(withBloom).map(drainedRows(_, absent)).sum
      assert(bloomRows === 0L, "bloom filters must drop every row group")
      // present value: its groups survive, result row is served end-to-end
      val present = ((7L * 2654435761L) % 100000L) * 2L
      val hit = withBloom.table("t").filter(col("payload") === present)
      assert(hit.count() >= 1L)
      // and a full query over the connector path returns exact emptiness
      val viaConnector = spark.read.format("graft")
        .option("root", bloomRoot)
        .load("t").filter(col("payload") === absent)
      assert(viaConnector.count() === 0L)
    } finally spark.conf.unset("graft.parquet.block.size")
  }

  test("scan counters count base-file row groups: read, stats-skipped, bloom-skipped") {
    import graft.sources.GraftScanStats
    spark.conf.set("graft.parquet.block.size", "65536")
    try {
      val (cat, root) = mkTable(tmpDir("graft_bloom_stats_"), bloom = Seq("payload"))
      val groups = baseFiles(cat).map(rowGroupCount).sum
      assert(groups > 1 && cat.deltaLayers("t").isEmpty)
      val ds = spark.read.format("graft").option("root", root).load("t")
      // a key range: base files are key-sorted, so min/max statistics drop
      // the row groups outside it
      GraftScanStats.reset()
      assert(ds.filter(col("id") >= 1000L && col("id") < 2000L).count() === 1000L)
      val read = GraftScanStats.rowGroupsRead.sum
      val statsSkipped = GraftScanStats.rowGroupsStatsSkipped.sum
      assert(read > 0 && statsSkipped > 0, s"read $read, stats-skipped $statsSkipped")
      assert(read + statsSkipped === groups)
      // an absent non-key value: every group straddles it, only the bloom
      // filters can drop them
      GraftScanStats.reset()
      assert(ds.filter(col("payload") === 99999L).count() === 0L)
      assert(GraftScanStats.rowGroupsBloomSkipped.sum === groups)
      assert(GraftScanStats.rowGroupsRead.sum === 0L)
      assert(GraftScanStats.rowGroupsStatsSkipped.sum === 0L)
    } finally spark.conf.unset("graft.parquet.block.size")
  }

  test("graft.bloom_columns round-trips through SQL CREATE and SHOW CREATE") {
    val root = tmpDir("graft_bloom_sql_")
    val cat = mkCat(root)
    GraftSql.execute(spark, cat,
      """CREATE TABLE tb (id BIGINT, payload BIGINT, v STRING)
        |STORED BY 'graft.catalog.KuduLikeCatalog'
        |TBLPROPERTIES ('kudu.key_columns' = 'id',
        |  'graft.bloom_columns' = 'payload')""".stripMargin)
    assert(cat.bloomColsOf("tb") === Seq("payload"))
    val ddl = GraftSql.execute(spark, cat, "SHOW CREATE TABLE tb")
      .collect().head.getString(0)
    assert(ddl.contains("'graft.bloom_columns' = 'payload'"))
    // the emitted DDL recreates an equivalent table on a fresh root
    val cat2 = mkCat(tmpDir("graft_bloom_sql2_"))
    GraftSql.execute(spark, cat2, ddl)
    assert(cat2.bloomColsOf("tb") === Seq("payload"))
  }
}
