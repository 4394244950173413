package graft.sources

import graft.catalog.KuduLikeCatalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 catalog plugin: registers the graft table space as a Spark
  * SQL catalog, so the SQL route reaches the same connector scan as
  * `spark.read.format("graft")`:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalogPlugin].getName)
  * spark.conf.set("spark.sql.catalog.graft.root", "/path/to/catalog/root")
  * spark.sql("SELECT * FROM graft.mytable WHERE id = 5")
  * }}}
  *
  * This is the SQL-facing half of the reference's storage-handler contract:
  * Hive resolved `STORED BY 'KuduStorageHandler'` tables by name inside SQL
  * queries (reference README.md:22-44); here the catalog plugin resolves
  * `graft.<table>` to a [[GraftTable]], and Catalyst plans the same
  * per-bucket merge-on-read scan with the same pushdown.
  *
  * Row-level DML flows through the table seam: SQL `INSERT INTO` /
  * `INSERT OVERWRITE` route via [[GraftTable]]'s V1Write and SQL
  * `DELETE FROM graft.t WHERE …` via its SupportsDelete — all landing in
  * [[KuduLikeCatalog]]'s one transactional write path, exactly the
  * reference's single write seam (HiveKuduTableOutputFormat.java:155-312).
  * Table LIFECYCLE stays on the catalog API: CREATE/DROP/ALTER own
  * key-column declaration and managed-delete semantics there, so those V2
  * entry points throw UnsupportedOperationException with a pointer at the
  * right API.
  */
final class GraftCatalogPlugin extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null,
      s"catalog $name needs spark.sql.catalog.$name.root pointing at a graft catalog root")
  }

  override def name(): String = catalogName

  private def cat = new KuduLikeCatalog(SparkSession.active, root)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty, "graft catalog has a single flat namespace")
    cat.tableNames.map(n => Identifier.of(Array.empty, n)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val n = ident.name()
    // the namespace is part of the identity: graft.bogus.t must NOT
    // silently resolve to the flat-namespace t
    if (ident.namespace().nonEmpty || !cat.exists(n))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (Seq(catalogName) ++ ident.namespace() :+ n).toSeq)
    new GraftTable(cat, n, cat.schemaOf(n))
  }

  /** SQL time travel: `SELECT … FROM graft.t VERSION AS OF v` — the Kudu
    * READ_AT_SNAPSHOT analog through plain SQL. The version string must be
    * an integer mutation version (the catalog's delta sequence numbers,
    * same contract as [[KuduLikeCatalog.tableAsOf]]); readability against
    * the delta floor / current version is validated at scan planning.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v =
      try version.trim.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft VERSION AS OF expects an integer mutation version, got '$version'")
      }
    asOfTable(ident, v)
  }

  /** SQL `TIMESTAMP AS OF ts` (Spark hands micros since epoch): resolved to
    * the snapshot version live at that wall-clock time via
    * [[KuduLikeCatalog.versionAt]] (layer commit times — the atomic rename
    * that IS the commit point).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val n = requireFlat(ident)
    asOfTable(ident, cat.versionAt(n, timestamp / 1000L))
  }

  private def requireFlat(ident: Identifier): String = {
    val n = ident.name()
    if (ident.namespace().nonEmpty || !cat.exists(n))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (Seq(catalogName) ++ ident.namespace() :+ n).toSeq)
    n
  }

  private def asOfTable(ident: Identifier, v: Int): Table = {
    val n = requireFlat(ident)
    new GraftTable(cat, n, cat.schemaOf(n), asOf = Some(v))
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty && cat.exists(ident.name())

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "graft tables are created through KuduLikeCatalog.createTable / GraftSql " +
        "(key columns + dup-ignore semantics live there), not through SQL DDL " +
        "on the v2 catalog")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "use KuduLikeCatalog.addColumn(s) for online schema evolution")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "use KuduLikeCatalog.dropTable (managed-table delete semantics live there)")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft tables cannot be renamed")

  // ---- FunctionCatalog: the `bucket` transform behind storage-partitioned
  // joins. Two co-bucketed graft tables joined on their full key report
  // KeyGroupedPartitioning over bucket(n, keys…); Spark resolves that
  // transform against THIS function and, when both sides agree
  // (spark.sql.sources.v2.bucketing.enabled=true), plans the join with NO
  // exchange — the connector's tablet layout IS the join distribution,
  // Kudu's co-located-scan promise carried through the V2 planner.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(
      catalogName, ident.name())
}

/** The catalog's key-hash bucketing as a V2 function: murmur3(keys, seed
  * 42) pmod n — bit-identical to the write path's bucket directory
  * assignment (KuduLikeCatalog.bucketExpr) and the planner's key routing
  * (GraftDataSource.bucketOf), so a value Spark computes through this
  * function always lands in the directory the writer chose.
  */
private[sources] object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, keys...): graft key-hash bucket id (murmur3 seed 42, pmod n)"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length >= 2,
      s"bucket(n, keys...) needs at least one key column, got $inputType")
    require(inputType.fields.head.dataType == org.apache.spark.sql.types.IntegerType,
      s"bucket's first argument is the bucket count (INT), got $inputType")
    GraftBucketBound(inputType)
  }
}

private[sources] final case class GraftBucketBound(inputType: StructType)
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
  import org.apache.spark.sql.catalyst.InternalRow
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    inputType.fields.map(_.dataType)
  override def resultType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    // values arrive INTERNAL (UTF8String etc.) — wrap as literals directly,
    // no external->catalyst conversion
    val lits = (1 until inputType.length).map { i =>
      val dt = inputType.fields(i).dataType
      org.apache.spark.sql.catalyst.expressions.Literal(input.get(i, dt), dt)
    }
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(lits, 42)
      .eval(InternalRow.empty).asInstanceOf[Int]
    ((h % n) + n) % n
  }
}
