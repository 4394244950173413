package graft.sources

import graft.catalog.KuduLikeCatalog

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal, Murmur3Hash}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** DataSourceV2 read seam over [[KuduLikeCatalog]] — the connector-shaped
  * storage layer the reference reaches through `KuduStorageHandler` +
  * `HiveKuduTableInputFormat` (reference: KuduStorageHandler.java:54-55,
  * HiveKuduTableInputFormat.java:148-223: the handler binds a table name,
  * the input format plans one split per tablet scan token and each record
  * reader streams that tablet's rows — merge happening server-side in
  * Kudu). This provider reproduces that shape over the parquet-backed
  * catalog:
  *
  *  - `spark.read.format("graft").option("root", r).load("t")` — the table
  *    name is the load path, exactly like `kudu.table_name`.
  *  - It is also the ONE read path of the catalog: `KuduLikeCatalog.table`,
  *    `tableAsOf`, `lookup` and `lookupRange` return frames over this scan,
  *    built on a [[GraftSnapshot]] the catalog resolved with its own
  *    storage when the frame was created and pinned in the relation, so
  *    every action on such a frame reads the same files. A `format("graft")`
  *    load resolves its snapshot per scan instead; both plan partitions
  *    through [[GraftScan.planPartitions]]. Catalog reads therefore carry
  *    the overlay cap `spark.graft.connector.maxOverlayRows` too.
  *  - One `InputPartition` per hash bucket (the tablet analog): the
  *    catalog writes base AND delta layers directory-partitioned by the
  *    same key-hash (`__bucket=N`), so every version of a key lives in one
  *    bucket and each partition can merge base + deltas with NO shuffle —
  *    Kudu's DiskRowSet/DeltaFile merge, done where Kudu does it (inside
  *    the storage read path, not in the query engine).
  *  - Pushdown survives the connector: required columns become the parquet
  *    projection (`SupportsPushDownRequiredColumns`), supported filters
  *    become parquet-mr `FilterPredicate`s applied to base files — row
  *    groups whose min/max stats or bloom filters exclude the predicate
  *    are never read
  *    (`SupportsPushDownFilters`; all filters are also kept as residuals,
  *    Spark re-evaluates after the merge, so inexact pushdown can never
  *    change results). An equality filter on every key column additionally
  *    routes the scan to its single owning bucket (Kudu's "route to
  *    tablet"), pruning N-1 of N partitions at planning time.
  *
  * Delta layers are read in full (no record filter): a base row may be
  * superseded by a delta row that the filter would reject, so filtering
  * deltas before the merge would resurrect the base row. Deltas are the
  * small side by construction (compact folds them into the base); base
  * files — the 100-TB side — get the pushdown.
  *
  * Writes are connector-shaped too — `df.write.format("graft")
  * .mode("append").save("t")`, SQL `INSERT INTO graft.t` / `INSERT
  * OVERWRITE graft.t` — but route through the V1Write seam
  * ([[GraftWriteBuilder]]): the builder hands Spark an
  * `InsertableRelation` whose insert() calls the catalog's transactional
  * API, so dup-ignore, upsert-last-wins, null-key rejection, and the
  * crash-consistent overwrite commit stay owned in ONE place
  * (KuduLikeCatalog) instead of being re-implemented per-task here. That
  * mirrors the reference exactly: `KuduStorageHandler` binds table
  * metadata while the write semantics live server-side in Kudu
  * (reference KuduStorageHandler.java:54-68 — the handler never owns
  * uniqueness; the storage engine does). The `operation` write option
  * (`insert` = dup-ignore, default; `upsert` = last-wins) is the analog
  * of the Kudu connector's `kudu.operation`. File listing walks the
  * local filesystem — the sandbox's storage; a production deployment
  * would swap a remote FileIndex here without touching the scan/merge
  * logic.
  */
final class GraftDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  /** `df.writeStream.format("graft").start(table)` — the streaming write
    * seam. The V1 Sink contract hands each epoch over as ONE DataFrame,
    * which is exactly the batch-relational unit the catalog's transactional
    * writes need (dup-ignore anti-joins, last-wins upsert dedup, staged
    * overwrite — see [[GraftWriteBuilder]]'s V1Write rationale; a per-task
    * row stream could not own batch-level key semantics). Output-mode
    * mapping:
    *
    *  - append/update + `operation=upsert` (default): per-epoch upsert —
    *    the Kudu fast-changing-data intent; replays of the one recovering
    *    epoch after a crash are idempotent (same rows, last-wins by key),
    *    so end-to-end delivery is effectively-once
    *  - append + `operation=insert`: dup-ignore insert (idempotent by key)
    *  - complete: each epoch overwrites the table (aggregation results),
    *    atomic via the staged-base manifest repoint
    *
    * Closes the CDC loop with the changelog SOURCE: a graft→graft
    * replication pipeline is `readStream.option("changelog",true)` →
    * filter to upserts/tombstones → this sink (StreamingSpec pins it).
    */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val (root, name) = GraftDataSource.resolve(parameters)
    require(partitionColumns.isEmpty,
      "graft tables own their layout (key buckets + range column); partitionBy is not supported")
    val op = parameters.getOrElse("operation", "upsert")
    require(op == "insert" || op == "upsert",
      s"graft sink option operation=$op (expected insert or upsert)")
    val complete = outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()
    val changelog = GraftDataSource.isChangelog(parameters)
    require(!(changelog && complete),
      "a changelog stream is incremental by nature — complete mode cannot apply")
    new GraftSink(root, name, op, complete, changelog)
  }

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val props = options.asCaseSensitiveMap().asScala.toMap
    val (root, name) = GraftDataSource.resolve(props)
    val base = new KuduLikeCatalog(SparkSession.active, root).schemaOf(name)
    if (GraftDataSource.isChangelog(props)) GraftDataSource.changelogSchema(base)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val props = properties.asScala.toMap
    val (root, name) = GraftDataSource.resolve(props)
    val asOf = GraftDataSource.asOfOf(props)
    require(asOf.isEmpty || !GraftDataSource.isChangelog(props),
      "asOf and changelog are mutually exclusive: a changelog IS the version history")
    new GraftTable(new KuduLikeCatalog(SparkSession.active, root), name, schema,
      GraftDataSource.isChangelog(props), asOf)
  }
}

object GraftDataSource {
  /** Session-level default catalog root, so `load("t")` alone works. */
  val RootConfKey = "spark.graft.catalog.root"

  /** Hard ceiling on delta-overlay rows a single scan task will
    * materialize (merge-on-read loads pending mutations into an in-task
    * map). Deltas are bounded by pending-mutation volume, not table size —
    * but long-deferred compaction would otherwise grow the overlay until
    * the task dies with an uncatchable OOM Error. Exceeding the cap fails
    * fast with an actionable message instead: compact the table.
    */
  val MaxOverlayRowsKey = "spark.graft.connector.maxOverlayRows"
  val MaxOverlayRowsDefault = 4000000L

  /** `option("changelog","true")`: the table surfaces its CDC stream —
    * every pending mutation row as `(data columns…, op, version)` — instead
    * of the merged table state. Batch read = all retained layers;
    * `spark.readStream` = a micro-batch source whose offsets are delta
    * sequence numbers ([[GraftMicroBatchStream]]). The Kudu design intent
    * (serving fast-changing data) closed as a loop: StreamingIngest writes
    * mutations IN, this streams them back OUT.
    */
  private[sources] def isChangelog(props: Map[String, String]): Boolean =
    props.get("changelog").exists(_.equalsIgnoreCase("true"))

  /** `option("asOf", v)`: snapshot read at mutation version v (Kudu
    * READ_AT_SNAPSHOT analog; the same contract as
    * [[graft.catalog.KuduLikeCatalog.tableAsOf]]) — the scan plans only
    * delta layers ≤ v, validated against the delta floor and current
    * version at planning time. Time-travel tables are read-only.
    */
  private[sources] def asOfOf(props: Map[String, String]): Option[Int] =
    props.get("asOf").map { v =>
      try v.trim.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft option asOf expects an integer mutation version, got '$v'")
      }
    }

  private[sources] def changelogSchema(base: StructType): StructType =
    StructType(base.fields :+ StructField("op", StringType) :+
      StructField("version", IntegerType))

  private def resolve(props: Map[String, String]): (String, String) = {
    val name = props.getOrElse("path",
      throw new IllegalArgumentException(
        "graft source needs the table name as the load path: " +
          """spark.read.format("graft").load("tableName")"""))
    val root = props.get("root")
      .orElse(SparkSession.active.conf.getOption(RootConfKey))
      .getOrElse(throw new IllegalArgumentException(
        s"graft source needs option(\"root\", ...) or spark.conf $RootConfKey"))
    (root, name)
  }

  /** Same bucket routing as the catalog's writer (`pmod(hash(keys), n)`,
    * Spark murmur3 seed 42) evaluated driver-side on filter literals —
    * byte-identical routing is what makes planning-time tablet pruning
    * safe.
    */
  private[sources] def bucketOf(values: Seq[(Any, DataType)], buckets: Int): Int = {
    val lits = values.map { case (v, dt) =>
      Literal.create(CatalystTypeConverters.convertToCatalyst(v), dt)
    }
    val h = Murmur3Hash(lits, 42).eval(InternalRow.empty).asInstanceOf[Int]
    ((h % buckets) + buckets) % buckets
  }
}

/** A graft table as Spark sees it. `pinned` set = a catalog read
  * ([[KuduLikeCatalog.table]] and friends): the snapshot was resolved once
  * with the catalog's own storage when the frame was created, every scan
  * of the relation plans from it, and the relation is read-only. Unset =
  * a `format("graft")` / `graft.t` load, which resolves a fresh snapshot
  * per scan through the same planning code.
  */
private[graft] final class GraftTable(cat: KuduLikeCatalog, tableName: String,
    tableSchema: StructType, changelog: Boolean = false,
    asOf: Option[Int] = None, pinned: Option[GraftSnapshot] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  override def name(): String =
    if (changelog) s"graft.$tableName.changelog"
    else asOf.orElse(pinned.flatMap(_.asOf))
      .fold(s"graft.$tableName")(v => s"graft.$tableName@v$v")
  override def schema(): StructType = tableSchema

  /** Declared layout: `bucket(n, keys…)` for hash-bucketed tables — the V2
    * face of the tablet partitioning, resolved against the plugin's
    * FunctionCatalog for storage-partitioned joins.
    */
  override def partitioning(): Array[Transform] = {
    if (changelog) return Array.empty
    val (b, hashCols) = pinned.fold(
      (cat.bucketsOf(tableName), cat.hashColsOf(tableName)))(s => (s.buckets, s.hashCols))
    if (b <= 0) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
      b, hashCols: _*))
  }
  override def capabilities(): java.util.Set[TableCapability] =
    // BATCH_WRITE admits the v2 write plan (DataFrameWriter requires the
    // literal capability); V1_BATCH_WRITE + the V1Write from build() then
    // route execution through the batch-relational fallback exec.
    // changelog mode is read-only: batch (all retained layers) or
    // micro-batch streaming (offsets = delta sequence numbers).
    // Time-travel (asOf) tables and pinned catalog reads are read-only: a
    // write cannot target a fixed snapshot.
    if (changelog)
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    else if (asOf.isDefined || pinned.isDefined)
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    else
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // the options on READ calls carry asOf too (`spark.read.option("asOf", …)`
    // reaches getTable via properties AND the scan via options); a
    // VERSION AS OF table from the catalog plugin has it only in the field
    val optAsOf = GraftDataSource.asOfOf(options.asCaseSensitiveMap().asScala.toMap)
    val snap =
      if (changelog) None
      else Some(pinned.getOrElse(cat.snapshot(tableName, asOf.orElse(optAsOf))))
    new GraftScanBuilder(cat, tableName, tableSchema, snap)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOf.isEmpty && pinned.isEmpty,
      s"${name()} is a read-only snapshot — writes target the live table")
    new GraftWriteBuilder(cat, tableName, tableSchema, info)
  }

  /** SQL `DELETE FROM graft.t WHERE …` through the V2 catalog — the write
    * seam analog of the reference's single DML path (all reference writes
    * flow one seam, HiveKuduTableOutputFormat.java:155-312). Spark only
    * routes here when every conjunct translates to a source filter; the
    * tombstone append itself (three-valued logic, range/bucket layout)
    * stays owned by [[KuduLikeCatalog.delete]] — one engine, one DELETE
    * semantics for the SQL router, the Scala API, and the connector.
    */
  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(asOf.isEmpty && pinned.isEmpty,
      s"${name()} is a read-only snapshot — deletes target the live table")
    val cond = filters.map(GraftFilters.toColumn).reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    cat.delete(tableName, cond)
  }
}

/** Streaming sink over a keyed table (see [[GraftDataSource.createSink]]).
  *
  * The epoch's DataFrame arrives backed by the query's incremental
  * execution; it is re-based onto its materialized RDD before the catalog
  * write, because the write path runs SEVERAL jobs over the input (the
  * dup-ignore anti-join, the bucketed layer write) and each would otherwise
  * re-plan the incremental source. Columns align by NAME with casts to the
  * table's declared types — a streaming pipeline's projection order is not
  * part of its contract.
  */
private[sources] final class GraftSink(root: String, tableName: String,
    op: String, complete: Boolean, changelog: Boolean = false)
  extends org.apache.spark.sql.execution.streaming.Sink {

  import org.apache.spark.sql.functions.{col, lit}

  override def name(): String = s"graft.$tableName.sink"

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    val cat = new KuduLikeCatalog(spark, root)
    require(cat.exists(tableName),
      s"graft sink target $tableName does not exist under $root — create it first " +
        "(key columns are declared at CREATE, not inferred from the stream)")
    val schema = cat.schemaOf(tableName)
    schema.fieldNames.find(f => !data.columns.exists(_.equalsIgnoreCase(f))).foreach { f =>
      throw new IllegalArgumentException(
        s"graft sink: stream is missing column $f of table $tableName " +
          s"(stream columns: ${data.columns.mkString(", ")})")
    }
    // The epoch DataFrame's plan still carries streaming source nodes —
    // any direct batch action on it trips "must be executed with
    // writeStream.start()". Re-base onto the executed RDD (the
    // ForeachBatchSink technique): toRdd materializes the epoch's physical
    // plan, the converter lifts InternalRow back to external rows, and the
    // catalog's multi-job write path then runs over a plain batch frame.
    val streamSchema = data.schema
    val conv = CatalystTypeConverters.createToScalaConverter(streamSchema)
    val rowRdd = data.queryExecution.toRdd.map(ir =>
      conv(ir).asInstanceOf[org.apache.spark.sql.Row])
    val rebased = spark.createDataFrame(rowRdd, streamSchema)
    val dataCols = schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq
    if (changelog) {
      // `option("changelog","true")` on the SINK: the stream carries an
      // `op` column ("upsert"/"delete") — the shape the changelog SOURCE
      // emits — and each epoch applies as ONE mixed changeset layer, so a
      // graft→graft replication pipeline replicates deletes too. The
      // source's `version` column (when present) becomes the in-epoch
      // priority: when one epoch carries several versions of a key, the
      // highest source version wins, preserving source mutation order.
      require(data.columns.exists(_.equalsIgnoreCase("op")),
        "graft changelog sink needs an 'op' column (upsert/delete) — " +
          "the shape readStream.option(\"changelog\",\"true\") emits")
      val prio =
        if (data.columns.exists(_.equalsIgnoreCase("version"))) col("version").cast("int")
        else lit(0)
      val changeset = rebased.select(dataCols ++ Seq(
        col("op").cast("string").as(KuduLikeCatalog.OpCol),
        prio.as(KuduLikeCatalog.PrioCol)): _*)
      cat.applyChangeset(tableName, changeset)
    } else {
      val aligned = rebased.select(dataCols: _*)
      if (complete) cat.overwrite(tableName, aligned)
      else if (op == "insert") cat.insert(tableName, aligned)
      else cat.upsert(tableName, aligned)
    }
  }
}

/** Connector write seam. V1Write (the JDBC-connector pattern) rather than a
  * per-task DataWriter: the catalog's write semantics are BATCH-relational —
  * dup-ignore needs an anti-join against current table state, upsert needs
  * a last-wins dedup across the whole incoming batch, overwrite needs the
  * staged-base manifest-repoint commit — so the correct unit of work is the
  * incoming DataFrame, not a task-local row stream. The catalog already
  * distributes the heavy lifting (partitioned parquet writes, key-hash
  * bucketing); re-owning uniqueness per-task here would either break
  * batch-level semantics or duplicate the catalog. Spark resolves the
  * incoming columns against `schema()` (positionally for the writer API,
  * by-name for SQL INSERT) before the V1 fallback hands over the frame.
  */
private[sources] final class GraftWriteBuilder(cat: KuduLikeCatalog, tableName: String,
    tableSchema: StructType,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var truncateAll = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateAll = true; this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      private val op = Option(info.options.get("operation")).getOrElse("insert")
      require(op == "insert" || op == "upsert",
        s"graft write option operation=$op (expected insert or upsert)")
      override def toInsertableRelation(): org.apache.spark.sql.sources.InsertableRelation =
        new org.apache.spark.sql.sources.InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame,
              overwrite: Boolean): Unit = {
            // columns are already aligned/cast by the analyzer; restore the
            // table's names (the writer API aligns positionally and may
            // carry source-side names)
            val aligned = data.toDF(tableSchema.fieldNames.toIndexedSeq: _*)
            if (truncateAll || overwrite) cat.overwrite(tableName, aligned)
            else if (op == "upsert") cat.upsert(tableName, aligned)
            else cat.insert(tableName, aligned)
          }
        }
    }
}

/** @param snap the snapshot every decision and the scan plan from; None
  *   for the changelog view, which reads retained layers, not a snapshot
  */
private[sources] final class GraftScanBuilder(cat: KuduLikeCatalog, tableName: String,
    fullSchema: StructType, snap: Option[GraftSnapshot]) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private val changelog = snap.isEmpty
  /** The snapshot's base files are the whole truth: no pending delta layer
    * (at or below its version) can suppress or add a row.
    */
  private val deltaFree = snap.exists(_.deltas.isEmpty)

  private var required: StructType = fullSchema
  private var pushed: Array[sources.Filter] = Array.empty
  private var aggSpec: Seq[GraftAggFunc] = Seq.empty
  private var pushedLimit: Option[Int] = None
  private var topNCol: Option[(String, Boolean)] = None // (first sort col, asc)

  /** Types whose parquet chunk statistics are EXACT (never truncated):
    * shared gate for min/max aggregate pushdown and TopN file pruning.
    * String/binary stay out — parquet may store truncated bounds for them.
    */
  private def statExact(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | BooleanType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** LIMIT pushdown (`SELECT … LIMIT n` with no residual filters — Spark
    * only offers the limit then): accepted when the base files are the
    * whole truth, i.e. NO pending delta layers (merge-on-read suppression
    * could shrink a truncated file prefix below n rows; compaction
    * re-enables the pushdown — the same contract as footer aggregates).
    * The scan then plans only a PREFIX of the base files whose footer row
    * counts cover n: at 100 TB, `LIMIT 10` reads one footer and scans one
    * file instead of listing a full-table scan. Always partial — Spark
    * keeps its own Limit on top, so over-planning is harmless and
    * under-planning is impossible (the prefix is chosen to cover n).
    */
  override def pushLimit(limit: Int): Boolean = {
    if (!deltaFree || aggSpec.nonEmpty || limit <= 0) return false
    pushedLimit = Some(limit)
    true
  }

  override def isPartiallyPushed(): Boolean = true

  /** TopN pushdown (`ORDER BY c … LIMIT n` directly over the scan): the
    * same delta-free contract as [[pushLimit]], plus the FIRST sort column
    * must carry exact parquet statistics. Planning then keeps only files
    * whose [min,max] range can intersect the top-n: files sorted by
    * min(c) (ascending sort; max(c) descending) are accumulated until
    * their row counts cover n — every surviving top-n row is then bounded
    * by θ = the worst bound among those files, and any file strictly
    * beyond θ is pruned. Sound with nulls and missing stats by falling
    * back to the full file list at planning time (Spark re-sorts and
    * re-limits on top either way — partial pushdown). Only the first sort
    * column matters for file candidacy: ties broken by later columns stay
    * inside the kept files by the θ bound on the first component.
    */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (!deltaFree || aggSpec.nonEmpty || limit <= 0 || orders.isEmpty) return false
    val first = orders.head
    val col = first.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        fullSchema.fields.find(_.name == r.fieldNames.head)
      case _ => None
    }
    col match {
      case Some(f) if statExact(f.dataType) =>
        pushedLimit = Some(limit)
        topNCol = Some((f.name, first.direction() == SortDirection.ASCENDING))
        true
      case _ => false
    }
  }

  /** Metadata-only aggregate pushdown: COUNT(*) / MIN / MAX answered from
    * parquet footers (row counts + column chunk statistics) without
    * decoding a single data page — at 100 TB the difference between a scan
    * job and a footer sweep. Accepted ONLY when the footers are the whole
    * truth:
    *  - no pending delta layers (merge-on-read would change counts/values
    *    — compaction re-enables the pushdown),
    *  - no pushed filters and no grouping (footer totals are table-level),
    *  - not the changelog view (a time-travel snapshot qualifies when no
    *    layer at or below its version is pending),
    *  - MIN/MAX only over types whose parquet statistics are exact
    *    (integral/floating/boolean/date/timestamp — never string/binary,
    *    whose stats may be truncated).
    * Partial-pushdown contract (`supportCompletePushDown` = false): each
    * partition emits one row of partials from ITS files' footers — footer
    * reads parallelize across the cluster like any scan — and Spark's
    * final aggregate merges them, so a fallback or a mixed plan can never
    * produce a wrong answer.
    */
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (!deltaFree || pushed.nonEmpty || agg.groupByExpressions.nonEmpty) return false
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          fullSchema.fields.find(_.name == r.fieldNames.head)
        case _ => None
      }
    val specs: Seq[Option[GraftAggFunc]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(GraftCountStar)
      case c: org.apache.spark.sql.connector.expressions.aggregate.Count
          if !c.isDistinct =>
        // COUNT(col) = Σ (rows − nulls) per chunk; needs the null count
        // stat, which parquet-mr records for every primitive chunk (the
        // reader still proves isNumNullsSet per chunk, failing loudly on
        // a foreign writer). Any stat-bearing type qualifies — the VALUES
        // are never read. Not arrays: a list column's leaf null count
        // counts null ELEMENTS, not null arrays.
        fieldOf(c.column).filterNot(_.dataType.isInstanceOf[ArrayType])
          .map(f => GraftCountCol(f.name))
      case m: Min =>
        fieldOf(m.column).filter(f => statExact(f.dataType))
          .map(f => GraftMinOf(f.name, f.dataType))
      case m: Max =>
        fieldOf(m.column).filter(f => statExact(f.dataType))
          .map(f => GraftMaxOf(f.name, f.dataType))
      case _ => None
    }
    if (specs.isEmpty || specs.exists(_.isEmpty)) return false
    val resolved = specs.flatten
    // legacy-format probe: a table written under Spark's INT96 timestamp
    // default has NO stats for those columns — decline rather than guess.
    // One footer is representative (the catalog writes uniformly; the
    // reader still fails loudly on a per-chunk surprise).
    val minMaxCols = resolved.collect {
      case GraftMinOf(f, _) => f
      case GraftMaxOf(f, _) => f
      case GraftCountCol(f) => f // needs per-chunk null counts, absent on INT96
    }.distinct
    if (minMaxCols.nonEmpty) {
      snap.get.baseFiles.headOption.foreach { f =>
        val footer = ParquetFileReader.readFooter(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), new Configuration()),
          org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
        val msg = footer.getFileMetaData.getSchema
        val int96 = minMaxCols.exists { c =>
          msg.containsField(c) &&
            msg.getType(Seq(c): _*).asPrimitiveType().getPrimitiveTypeName == PrimitiveTypeName.INT96
        }
        if (int96) return false
      }
    }
    aggSpec = resolved
    true
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  // changelog scans keep the full (data…, op, version) schema and leave all
  // filters residual: a changelog is small by construction (pending
  // mutations only) and correctness of the replay outweighs pruning
  override def pruneColumns(requiredSchema: StructType): Unit =
    if (!changelog) required = requiredSchema

  /** Everything stays residual (Spark re-evaluates post-merge — inexact
    * pushdown, the same contract as Spark's own parquet source with
    * nested-pruning edge cases); the convertible subset is ALSO handed to
    * parquet-mr for row-group pruning (stats, then bloom filters) and to
    * the planner for bucket routing.
    */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    if (!changelog) pushed = filters.filter(GraftFilters.isSupported)
    filters
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan =
    new GraftScan(cat, tableName, fullSchema,
      if (aggSpec.nonEmpty) GraftAggFunc.schema(aggSpec) else required,
      pushed, snap, aggSpec, pushedLimit, topNCol)
}

/** A pushed footer-answerable aggregate function. */
private[sources] sealed trait GraftAggFunc
private[sources] case object GraftCountStar extends GraftAggFunc
private[sources] final case class GraftCountCol(field: String) extends GraftAggFunc
private[sources] final case class GraftMinOf(field: String, dt: DataType) extends GraftAggFunc
private[sources] final case class GraftMaxOf(field: String, dt: DataType) extends GraftAggFunc

private[sources] object GraftAggFunc {
  /** Output schema of the partial-aggregate rows, positional with the
    * pushed function list (Spark zips by position; names are cosmetic).
    */
  def schema(specs: Seq[GraftAggFunc]): StructType =
    StructType(specs.zipWithIndex.map {
      case (GraftCountStar, i) => StructField(s"count_star_$i", LongType, nullable = false)
      case (GraftCountCol(f), i) => StructField(s"count_${f}_$i", LongType, nullable = false)
      case (GraftMinOf(f, dt), i) => StructField(s"min_${f}_$i", dt, nullable = true)
      case (GraftMaxOf(f, dt), i) => StructField(s"max_${f}_$i", dt, nullable = true)
    })
}

private[sources] final class GraftScan(cat: KuduLikeCatalog, tableName: String,
    fullSchema: StructType, required: StructType,
    pushed: Array[sources.Filter], snap: Option[GraftSnapshot],
    aggSpec: Seq[GraftAggFunc] = Seq.empty,
    pushedLimit: Option[Int] = None,
    topNCol: Option[(String, Boolean)] = None)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsReportPartitioning with SupportsRuntimeFiltering
  with SupportsReportOrdering {

  private val changelog = snap.isEmpty

  override def readSchema(): StructType = required

  /** Storage-partitioned-join face: a fully per-bucket plan reports
    * `KeyGroupedPartitioning(bucket(n, keys…))`, one partition per bucket
    * with the bucket id as the partition key — when two graft tables share
    * bucket count + key shape and join on the full key, Spark
    * (spark.sql.sources.v2.bucketing.enabled) zips the bucket scans with
    * ZERO exchange. Merge-on-read never breaks this: a key's bucket is a
    * pure hash of the key, so deltas overlay inside their own bucket.
    * Anything not per-bucket (unbucketed layout, footer aggregates,
    * changelog) reports Unknown and planning proceeds as before.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val parts = plannedPartitions
    // a limited/TopN scan may plan a file SUBSET, so the full per-bucket
    // claim (every bucket present and complete) no longer holds — report
    // Unknown (no join sits above a pushed limit anyway)
    val perBucket = !changelog && aggSpec.isEmpty && pushedLimit.isEmpty &&
      parts.nonEmpty &&
      parts.forall {
        case p: GraftInputPartition => p.bucket >= 0
        case _ => false
      }
    if (perBucket) {
      val s = snap.get
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
          s.buckets, s.hashCols: _*)),
        parts.length)
    } else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        parts.length)
  }

  /** Planning statistics from the PLANNED file set (post range/bucket
    * pruning), scaled by the projected-column fraction — the same estimate
    * Spark's own FileScan reports. Without this a DSv2 relation falls back
    * to `defaultSizeInBytes` (effectively infinite), so a small graft
    * dimension table joined against a fact scan would NEVER auto-broadcast
    * and every such join would pay a full shuffle. The reference's planner
    * had the same information channel in tablet size estimates
    * (HiveKuduTableInputFormat.java:148-223 — one split per tablet with
    * known bounds).
    *
    * Row count and per-column stats (NDV, null count, min/max, lengths)
    * come from the catalog's persisted ANALYZE record
    * ([[graft.catalog.KuduLikeCatalog.analyze]]) — but ONLY for a
    * whole-table scan of a live-version snapshot with no pushed
    * predicates: any pushdown makes the scan's output a subset the record
    * does not describe, and the record is used only while its fingerprint
    * is the snapshot's own. Catalyst CBO picks these up through
    * `DataSourceV2Relation.transformV2Stats`, turning join reorder and
    * filter selectivity from defaultSizeInBytes guesses into estimates a
    * 1000-executor plan can stand on.
    */
  override def estimateStatistics(): Statistics = {
    val files = plannedPartitions.iterator.flatMap {
      case p: GraftInputPartition =>
        p.baseFiles.iterator ++ p.deltas.iterator.flatMap(_.files)
      case p: GraftChangelogPartition => p.files.iterator
      case _ => Iterator.empty
    }
    val totalBytes = files
      .map(f => try Files.size(Paths.get(f)) catch { case _: Exception => 0L })
      .sum
    val colFraction =
      if (fullSchema.isEmpty) 1.0
      else math.max(1, required.size).toDouble / fullSchema.size
    val estimate = math.max(1L, (totalBytes * colFraction).toLong)
    // IsNotNull is the one pushed predicate the record can account for
    // EXACTLY (every equi-join pushes one onto each join key — dropping
    // stats there would blind CBO on precisely the plans that need them):
    // surviving rows = numRows - nullCount, and the column's nullCount
    // becomes 0 so the residual Filter's selectivity estimate does not
    // double-apply. Multiple IsNotNull columns subtract the LARGEST null
    // count (null sets may overlap — the result is a safe upper bound).
    // Any other pushed predicate makes the record not describe the scan.
    val notNullCols = pushed.collect { case sources.IsNotNull(c) => c }.toSet
    val analyzed =
      if (aggSpec.nonEmpty || pushedLimit.nonEmpty ||
          !pushed.forall(_.isInstanceOf[sources.IsNotNull])) None
      else snap.flatMap(_.fingerprint).flatMap(cat.statsAt(tableName, _))
        .map { st =>
          if (notNullCols.isEmpty) st
          else {
            val drop = notNullCols.flatMap(st.cols.get(_).map(_.nullCount))
              .foldLeft(0L)(math.max)
            st.copy(numRows = st.numRows - drop,
              cols = st.cols.map { case (n, c) =>
                n -> (if (notNullCols(n)) c.copy(nullCount = 0L) else c) })
          }
        }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(estimate)
      override def numRows(): java.util.OptionalLong =
        analyzed.fold(java.util.OptionalLong.empty())(s =>
          java.util.OptionalLong.of(s.numRows))
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        for {
          st <- analyzed.toSeq
          f <- required.fields
          cs <- st.cols.get(f.name)
        } m.put(
          org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(cs.ndv)
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(cs.nullCount)
            override def min(): java.util.Optional[Object] =
              cs.internalMin(f.dataType)
                .fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
            override def max(): java.util.Optional[Object] =
              cs.internalMax(f.dataType)
                .fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
            override def avgLen(): java.util.OptionalLong =
              cs.avgLen.fold(java.util.OptionalLong.empty())(
                java.util.OptionalLong.of)
            override def maxLen(): java.util.OptionalLong =
              cs.maxLen.fold(java.util.OptionalLong.empty())(
                java.util.OptionalLong.of)
            // equi-height histogram (ANALYZE … WITH HISTOGRAM):
            // transformV2Stats converts these bins 1:1 into catalyst's
            // Histogram, which FilterEstimation consults for range
            // selectivity on skewed columns
            override def histogram(): java.util.Optional[
                org.apache.spark.sql.connector.read.colstats.Histogram] =
              cs.histogram.fold(java.util.Optional.empty[
                  org.apache.spark.sql.connector.read.colstats.Histogram]()) { h =>
                java.util.Optional.of(
                  new org.apache.spark.sql.connector.read.colstats.Histogram {
                    override def height(): Double = h.height
                    override def bins(): Array[
                        org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                      h.bins.map { case (l, u, n) =>
                        new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                          override def lo(): Double = l
                          override def hi(): Double = u
                          override def ndv(): Long = n
                        }
                      }.toArray
                  })
              }
          })
        m
      }
    }
  }

  override def description(): String =
    s"GraftScan table=$tableName${if (changelog) " changelog" else ""}" +
      snap.flatMap(_.asOf).fold("")(v => s" asOf=$v") + " " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      (if (aggSpec.nonEmpty) s"PushedAggregates: ${aggSpec.mkString("[", ", ", "]")}, "
       else "") +
      pushedLimit.fold("")(n => topNCol match {
        case Some((c, asc)) =>
          s"PushedTopN: ORDER BY $c ${if (asc) "ASC" else "DESC"} LIMIT $n, "
        case None => s"PushedLimit: $n, "
      }) +
      s"ReadSchema: ${required.catalogString}"

  override def toBatch: Batch = this

  /** Streaming face of the changelog (option changelog=true): a micro-batch
    * source whose offsets are the catalog's delta sequence numbers — the
    * Kudu fast-changing-data intent closed as a loop with StreamingIngest.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(changelog,
      "streaming reads need the changelog view: " +
        """spark.readStream.format("graft").option("changelog","true").load(t)""")
    new GraftMicroBatchStream(cat, tableName)
  }

  // memoized so planInputPartitions() and createReaderFactory() see ONE
  // consistent snapshot of the table's layers: the factory's columnar
  // decision must agree with the partitions actually planned (Spark
  // requires supportColumnarReads to be uniform across a scan — "Cannot
  // mix row-based and columnar input partitions")
  private lazy val plannedPartitions: Array[InputPartition] = planPartitions()

  /** Partitions surviving runtime filtering (null until [[filter]] runs). */
  @volatile private var runtimeKept: Array[InputPartition] = _

  override def planInputPartitions(): Array[InputPartition] =
    if (runtimeKept != null) runtimeKept else plannedPartitions

  /** Runtime (DPP-style) pruning: Spark hands the join's realized key set
    * AFTER the build side executes, and the scan drops work that cannot
    * match — the V2 face of Kudu's scan-token re-scoping. Two channels,
    * both exact in the safe direction (over-scan possible, under-scan
    * never; Spark re-applies the join condition row-level):
    *  - single-key bucketed tables: IN/EQ values on the key route to their
    *    buckets (same murmur3 as the writer), other buckets' partitions —
    *    base AND deltas, which bucket identically — drop whole;
    *  - range tables: time values tighten the `__range` month window, and
    *    non-matching BASE files drop from within each partition (deltas
    *    never range-prune — an upsert may move a key across months).
    */
  /** Kudu tablets serve primary-key-ORDERED rows; the compacted catalog
    * layout has the same property — `writePartitioned` sorts each file by
    * the key columns — and this surfaces it to the planner so a sort-merge
    * join over co-bucketed tables skips BOTH its sorts (composing with
    * [[outputPartitioning]]'s exchange elimination: co-located AND
    * pre-sorted). Reported only when the per-partition stream really is
    * key-ordered: every partition at most ONE base file (multi-file
    * buckets concatenate independently-sorted files) and ZERO deltas (the
    * merge overlay appends its surviving upserts out of order). Pending
    * mutations simply stop the claim; compaction restores it.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val parts = plannedPartitions
    val singleSortedFiles = !changelog && aggSpec.isEmpty && parts.nonEmpty &&
      parts.forall {
        case p: GraftInputPartition => p.baseFiles.size <= 1 && p.deltas.isEmpty
        case _ => false
      }
    // the _sort marker must PROVE the files were sorted by exactly the
    // keys — a clustered/z-ordered base, or a pre-marker legacy base,
    // claims nothing (safe default: plan keeps its sorts)
    if (!singleSortedFiles || !snap.get.keySorted) return Array.empty
    snap.get.keyCols.map { k =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(k),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    }.toArray
  }

  /** Only columns the scan OUTPUTS: Spark resolves each attribute against
    * the scan's output, so a hash or range column that column pruning
    * dropped (an anti-join projecting only the keys) must not be offered.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    if (changelog || aggSpec.nonEmpty) return Array.empty
    val s = snap.get
    val keyAttr = if (s.buckets > 0 && s.hashCols.size == 1) s.hashCols else Seq.empty
    (keyAttr ++ s.rangeCol.toSeq).distinct
      .filter(required.fieldNames.contains)
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.column(c))
      .toArray
  }

  override def filter(runtimeFilters: Array[sources.Filter]): Unit = {
    val s = snap.get
    val hashCols = s.hashCols
    val buckets = s.buckets

    // bucket routing from runtime IN/EQ sets on the single hash column
    var allowedBuckets: Option[Set[Int]] = None
    if (buckets > 0 && hashCols.size == 1) {
      val k = hashCols.head
      val dt = fullSchema(k).dataType
      def route(vs: Iterable[Any]): Set[Int] =
        vs.filter(_ != null).map(v =>
          GraftDataSource.bucketOf(Seq((v, dt)), buckets)).toSet
      GraftFilters.flattenAnd(runtimeFilters).foreach {
        case sources.In(a, vs) if a == k && vs != null =>
          val s = route(vs.toSeq)
          allowedBuckets = Some(allowedBuckets.fold(s)(_ intersect s))
        case sources.EqualTo(a, v) if a == k && v != null =>
          val s = route(Seq(v))
          allowedBuckets = Some(allowedBuckets.fold(s)(_ intersect s))
        case _ => ()
      }
    }

    // range-window tightening from runtime time predicates
    val keepFile = GraftScan.rangePruner(s, runtimeFilters)

    runtimeKept = plannedPartitions.flatMap {
      case p: GraftInputPartition =>
        if (p.bucket >= 0 && allowedBuckets.exists(!_.contains(p.bucket))) None
        else {
          val kept = p.baseFiles.filter(keepFile)
          if (kept.isEmpty && p.deltas.isEmpty) None
          else Some(p.copy(baseFiles = kept): InputPartition)
        }
      case other => Some(other)
    }
  }

  private def planPartitions(): Array[InputPartition] = snap match {
    case None =>
      // batch changelog read: every retained layer (floor, latest]
      GraftChangelog.partitions(cat, tableName, Int.MinValue, Int.MaxValue)
    case Some(s) if aggSpec.nonEmpty =>
      // footer-only aggregate scan: no deltas by contract (pushAggregation
      // declines when any are pending), so the base files ARE the table.
      // Files chunk into ~defaultParallelism groups — footer reads
      // parallelize like any scan, each task emitting one partial row.
      val files = s.baseFiles.sorted
      if (files.isEmpty) Array(GraftAggPartition(Seq.empty, aggSpec))
      else {
        val chunk = math.max(1, math.ceil(
          files.size.toDouble / SparkSession.active.sparkContext.defaultParallelism).toInt)
        files.grouped(chunk)
          .map(fs => GraftAggPartition(fs, aggSpec): InputPartition).toArray
      }
    case Some(s) => GraftScan.planPartitions(s, fullSchema, pushed, pushedLimit, topNCol)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    if (changelog)
      return new GraftChangelogReaderFactory(cat.schemaOf(tableName))
    if (aggSpec.nonEmpty) return new GraftAggReaderFactory
    // resolved driver-side (executors can't read session conf) and shipped
    // inside the serialized factory
    val maxOverlayRows = spark.conf.getOption(GraftDataSource.MaxOverlayRowsKey)
      .map(_.toLong).getOrElse(GraftDataSource.MaxOverlayRowsDefault)
    // scan-level, not per-partition: Spark rejects mixed row/columnar
    // partitions, so one bucket with pending deltas pins the whole scan to
    // the row-based merge reader (compaction restores columnar reads)
    val columnarRead =
      plannedPartitions.forall(_.asInstanceOf[GraftInputPartition].deltas.isEmpty)
    new GraftReaderFactory(tableName, required, fullSchema,
      snap.get.keyCols, pushed, maxOverlayRows, columnarRead)
  }
}

private[graft] object GraftScan {

  /** The one partition plan, for catalog reads and `format("graft")` loads
    * alike: the snapshot's base files pruned by the pushed predicates
    * (`__range` window, LIMIT/TopN footers), then one partition per hash
    * bucket (the tablet analog — every version of a key lives in one
    * bucket, so each partition merges base + deltas with no shuffle) or,
    * unbucketed, one per base file.
    */
  def planPartitions(snap: GraftSnapshot, fullSchema: StructType,
      pushed: Array[sources.Filter], pushedLimit: Option[Int],
      topNCol: Option[(String, Boolean)]): Array[InputPartition] = {
    // Planning-time __range directory pruning (the connector analog of the
    // reference's scan-range bounds, HiveKuduTableInputFormat.java:466-467):
    // pushed range predicates on the table's range column become month
    // bounds over the __range= partition dirs, so a time-predicated scan
    // never reads out-of-range BASE files. Deltas are NEVER pruned: an
    // upsert may MOVE a key to another month — its base row (old month) is
    // only suppressed because the overlay saw the superseding delta row
    // (new month); pruning deltas by range would resurrect the old version.
    val baseFiles = snap.baseFiles.filter(rangePruner(snap, pushed))
    val deltaLayers = snap.deltas

    // LIMIT / TopN file pruning: accepted only on a delta-free snapshot
    // (merge-on-read suppression could shrink a truncated prefix below n
    // rows); Spark's retained Limit/Sort keep the result exact either way
    // (partial-pushdown contract).
    val prunedBase: Seq[String] =
      if (deltaLayers.nonEmpty) baseFiles
      else (pushedLimit, topNCol) match {
        case (Some(n), None) => limitFilePrefix(baseFiles.sorted, n)
        case (Some(n), Some((c, asc))) => topNFilePrune(baseFiles, c, asc, n)
        case _ => baseFiles
      }

    // tablet routing: equality on EVERY hash column (the declared PK
    // subset, or the full key) pins the one bucket that can hold the key
    // (planning-time partition pruning)
    val buckets = snap.buckets
    val routedBucket: Option[Int] =
      if (buckets <= 0) None
      else {
        val eqs = GraftFilters.flattenAnd(pushed).collect {
          case sources.EqualTo(a, v) if v != null => a -> v
        }.toMap
        if (snap.hashCols.forall(eqs.contains)) {
          val typed = snap.hashCols.map(k => (eqs(k), fullSchema(k).dataType))
          Some(GraftDataSource.bucketOf(typed, buckets))
        } else None
      }

    def bucketIdOf(path: String): Int =
      "__bucket=(\\d+)".r.findFirstMatchIn(path).map(_.group(1).toInt).getOrElse(-1)

    val hosts = new HostIndex(SparkSession.active.sessionState.newHadoopConf())
    def part(bucket: Int, base: Seq[String], deltas: Seq[GraftDeltaSlice],
        emitOverlay: Boolean): InputPartition =
      GraftInputPartition(bucket, base, deltas, emitOverlay,
        hosts.preferred(base ++ deltas.flatMap(_.files)))

    if (buckets > 0) {
      val baseByBucket = prunedBase.groupBy(bucketIdOf)
      val deltaByBucket = deltaLayers.flatMap { d =>
        d.files.map(f => (bucketIdOf(f), d.seq, f))
      }.groupBy(_._1)
      val ids = (baseByBucket.keySet ++ deltaByBucket.keySet)
        .filter(b => routedBucket.forall(_ == b))
      ids.toArray.sorted.map { b =>
        val deltas = deltaByBucket.getOrElse(b, Seq.empty)
          .groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (seq, rows) => GraftDeltaSlice(seq, rows.map(_._3)) }
        part(b, baseByBucket.getOrElse(b, Seq.empty), deltas, emitOverlay = true)
      }
    } else if (deltaLayers.isEmpty) {
      // unbucketed, no pending mutations: embarrassingly parallel, one
      // partition per base file
      prunedBase.map(f => part(-1, Seq(f), Seq.empty, emitOverlay = false)).toArray
    } else {
      // unbucketed WITH deltas: a key may pair any base file with any delta
      // file, so EVERY task needs the full overlay for suppression — but
      // the base files (the 100-TB side) still split one per task, each
      // loading its own copy of the (cap-bounded, pending-mutation-sized)
      // overlay; exactly ONE task additionally emits the overlay's
      // surviving upserts. Bucketed tables remain the scale path (the
      // overlay splits with the buckets); this keeps small/legacy tables
      // correct WITHOUT serializing the base scan into one task.
      if (baseFiles.isEmpty)
        Array(part(-1, Seq.empty, deltaLayers, emitOverlay = true))
      else
        baseFiles.zipWithIndex.map { case (f, i) =>
          part(-1, Seq(f), deltaLayers, emitOverlay = i == 0)
        }.toArray
    }
  }

  /** Preferred hosts of a partition, taken the way Spark's file source
    * takes them: the Hadoop `FileSystem` block locations of its files,
    * hosts ranked by the bytes they hold, at most three. A host name the
    * scheduler does not know (the machine's own name where the local
    * executor registers as `localhost`) would make a stage that mixes a
    * graft scan with a file-source scan wait on locality forever.
    */
  private[sources] final class HostIndex(conf: Configuration) {
    private val byFile = scala.collection.mutable.HashMap.empty[String, Seq[(String, Long)]]

    private def blocks(f: String): Seq[(String, Long)] = byFile.getOrElseUpdate(f,
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        val fs = p.getFileSystem(conf)
        val st = fs.getFileStatus(p)
        fs.getFileBlockLocations(st, 0, st.getLen).toSeq
          .flatMap(b => b.getHosts.toSeq.map(_ -> b.getLength))
      } catch { case _: java.io.IOException => Seq.empty }) // vanished file: no host

    def preferred(files: Seq[String]): Array[String] =
      files.flatMap(blocks).groupMapReduce(_._1)(_._2)(_ + _).toSeq
        .sortBy { case (h, n) => (-n, h) }.take(3).map(_._1).toArray
  }

  private val RangeDirRx = "__range=([0-9]{4}-[0-9]{2}(?:-[0-9]{2})?)".r

  /** Path predicate for planning-time `__range` pruning: pushed range-column
    * predicates become an inclusive [lo, hi] month window (lexical compare —
    * yyyy-MM sorts chronologically), formatted under the ZONE THE TABLE WAS
    * CREATED WITH: partition values were written by date_format under the
    * recorded zone (writes assert the session still matches it), so bounds
    * must format under that zone no matter what zone the reading session
    * runs in; pre-zone legacy tables wrote under UTC, hence that fallback
    * ([[GraftSnapshot.rangeZone]]). Month granularity keeps the bounds inexact in
    * the safe direction only — a boundary month may over-scan, never skip —
    * and Spark's residual filter restores row-level exactness. Files
    * without a `__range=` path segment are never pruned.
    */
  def rangePruner(snap: GraftSnapshot,
      pushed: Array[sources.Filter]): String => Boolean =
    snap.rangeCol match {
      case None => _ => true
      case Some(rc) if snap.rangeBounds.nonEmpty =>
        numericRangePruner(rc, snap.rangeBounds, pushed)
      case Some(rc) =>
        val zone = java.time.ZoneId.of(snap.rangeZone)
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern(snap.rangePattern).withZone(zone)
        // `shift` microseconds (the timestamp precision) move a STRICT
        // bound onto the nearest admitted instant: `< 2024-03-01T00:00`
        // admits no March row, so March must not plan
        def month(v: Any, shift: Long = 0L): Option[String] = (v match {
          case t: java.sql.Timestamp => Some(t.toInstant)
          case i: java.time.Instant => Some(i)
          case d: java.sql.Date => Some(d.toLocalDate.atStartOfDay(zone).toInstant)
          case _ => None
        }).map(i => fmt.format(i.plus(shift, java.time.temporal.ChronoUnit.MICROS)))
        var lo: Option[String] = None
        var hi: Option[String] = None
        def tightenLo(m: String): Unit = if (lo.forall(_ < m)) lo = Some(m)
        def tightenHi(m: String): Unit = if (hi.forall(_ > m)) hi = Some(m)
        GraftFilters.flattenAnd(pushed).foreach {
          case sources.EqualTo(a, v) if a == rc =>
            month(v).foreach { m => tightenLo(m); tightenHi(m) }
          case sources.GreaterThan(a, v) if a == rc => month(v, 1L).foreach(tightenLo)
          case sources.GreaterThanOrEqual(a, v) if a == rc => month(v).foreach(tightenLo)
          case sources.LessThan(a, v) if a == rc => month(v, -1L).foreach(tightenHi)
          case sources.LessThanOrEqual(a, v) if a == rc => month(v).foreach(tightenHi)
          case sources.In(a, vs) if a == rc && vs != null && vs.nonEmpty =>
            val ms = vs.toSeq.map(month(_))
            // only prune when EVERY branch yields a month — a single
            // unconvertible value makes the disjunction unbounded
            if (ms.forall(_.isDefined)) {
              val sorted = ms.flatten.sorted
              tightenLo(sorted.head); tightenHi(sorted.last)
            }
          case _ => ()
        }
        if (lo.isEmpty && hi.isEmpty) _ => true
        else
          path => RangeDirRx.findFirstMatchIn(path) match {
            case Some(m) =>
              val mo = m.group(1)
              lo.forall(_ <= mo) && hi.forall(_ >= mo)
            case None => true
          }
    }

  private val NumRangeDirRx = "__range=(-?[0-9]+)".r

  /** Bounds-table variant of the planner's `__range` pruning: pushed
    * predicates on the range column tighten an inclusive [lo, hi] LONG
    * window; a file is kept iff its partition's declared
    * `lower <= VALUES < upper` pair intersects the window. Ids not in the
    * declared list (foreign litter, mid-lifecycle states) are never pruned
    * — same over-keep-only safety as the month pruner, with Spark's
    * residual filter restoring row-level exactness.
    */
  private def numericRangePruner(rc: String, bounds: Seq[(Long, Long)],
      pushed: Array[sources.Filter]): String => Boolean = {
    def asLong(v: Any): Option[Long] = v match {
      case b: java.lang.Byte => Some(b.longValue())
      case s: java.lang.Short => Some(s.longValue())
      case i: java.lang.Integer => Some(i.longValue())
      case l: java.lang.Long => Some(l.longValue())
      case _ => None
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var bounded = false
    def tightenLo(v: Long): Unit = { if (v > lo) lo = v; bounded = true }
    def tightenHi(v: Long): Unit = { if (v < hi) hi = v; bounded = true }
    GraftFilters.flattenAnd(pushed).foreach {
      case sources.EqualTo(a, v) if a == rc =>
        asLong(v).foreach { x => tightenLo(x); tightenHi(x) }
      case sources.GreaterThan(a, v) if a == rc =>
        asLong(v).foreach(x => if (x < Long.MaxValue) tightenLo(x + 1))
      case sources.GreaterThanOrEqual(a, v) if a == rc =>
        asLong(v).foreach(tightenLo)
      case sources.LessThan(a, v) if a == rc =>
        asLong(v).foreach(x => if (x > Long.MinValue) tightenHi(x - 1))
      case sources.LessThanOrEqual(a, v) if a == rc =>
        asLong(v).foreach(tightenHi)
      case sources.In(a, vs) if a == rc && vs != null && vs.nonEmpty =>
        val xs = vs.toSeq.map(asLong)
        // prune only when EVERY branch is a convertible value — one
        // unconvertible makes the disjunction unbounded
        if (xs.forall(_.isDefined)) {
          val sorted = xs.flatten.sorted
          tightenLo(sorted.head); tightenHi(sorted.last)
        }
      case _ => ()
    }
    if (!bounded) _ => true
    else {
      val upperOf = bounds.map { case (l, u) => (l, u) }.toMap
      path => NumRangeDirRx.findFirstMatchIn(path) match {
        case Some(m) =>
          val l = m.group(1).toLong
          upperOf.get(l) match {
            // [l, u) intersects [lo, hi] iff l <= hi and u > lo
            case Some(u) => l <= hi && u > lo
            case None => true
          }
        case None => true
      }
    }
  }

  def listParquet(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f))
        .map(_.toString)
        .filter(n => n.endsWith(".parquet") &&
          { val base = n.substring(n.lastIndexOf('/') + 1)
            !base.startsWith(".") && !base.startsWith("_") })
        .toVector
      finally s.close()
    }
  }

  /** Per-file footer digest for LIMIT/TopN planning: total rows, plus the
    * raw parquet min/max/nullCount for one column when every chunk carries
    * usable statistics. Footer reads are metadata-only (no data pages).
    */
  private final case class FileStat(file: String, rows: Long,
      min: Comparable[Any], max: Comparable[Any], statsOk: Boolean)

  private def fileStat(f: String, col: Option[String]): FileStat = {
    val footer = ParquetFileReader.readFooter(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), new Configuration()),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    var rows = 0L
    var mn: Comparable[Any] = null
    var mx: Comparable[Any] = null
    var ok = true
    footer.getBlocks.asScala.foreach { block =>
      rows += block.getRowCount
      col.foreach { c =>
        val st = block.getColumns.asScala.find(_.getPath.toDotString == c)
          .map(_.getStatistics).orNull
        // nulls anywhere make file candidacy undecidable from min/max
        // (NULLS FIRST/LAST sort outside the value range) — mark unusable
        if (st == null || !st.isNumNullsSet || st.getNumNulls > 0 ||
          !st.hasNonNullValue) ok = false
        else {
          // Float/double bounds: parquet chunk stats live under the
          // IEEE-754 total order (Double.compare: -0.0 < 0.0) while Spark
          // SQL sorts -0.0 == 0.0, so a θ of -0.0 would wrongly prune a
          // file whose min is +0.0 even though its rows TIE the n-th
          // value. Normalize both zeros to +0.0 before any comparison;
          // a NaN bound (possible under a foreign writer) marks the file
          // undecidable rather than trusting stats written around NaNs.
          def zNorm(v: Any): Comparable[Any] = (v match {
            case d: java.lang.Double =>
              if (d.isNaN) { ok = false; d }
              else if (d.doubleValue() == 0.0d) java.lang.Double.valueOf(0.0d)
              else d
            case f: java.lang.Float =>
              if (f.isNaN) { ok = false; f }
              else if (f.floatValue() == 0.0f) java.lang.Float.valueOf(0.0f)
              else f
            case other => other
          }).asInstanceOf[Comparable[Any]]
          val lo = zNorm(st.genericGetMin)
          val hi = zNorm(st.genericGetMax)
          if (mn == null || lo.compareTo(mn) < 0) mn = lo
          if (mx == null || hi.compareTo(mx) > 0) mx = hi
        }
      }
    }
    FileStat(f, rows, mn, mx, ok && (col.isEmpty || mn != null))
  }

  /** Planning-time footer budget for LIMIT/TopN pruning. The sweep runs on
    * the driver before the scan launches; past this many base files the
    * O(files) metadata pass costs more than the pruning saves (the
    * aggregate pushdown, by contrast, distributes footer reads to
    * executors), so the optimization degrades to the full list — merely
    * un-optimized, never wrong.
    */
  private def footerCap: Int =
    sys.props.get("graft.prune.footer.cap").map(_.toInt).getOrElse(8192)

  /** Bounded-pool parallel footer digests: footer reads are independent
    * small metadata IOs, so a serial loop leaves the driver latency-bound
    * at many-file scale.
    */
  private def fileStats(files: Seq[String], col: Option[String]): Seq[FileStat] = {
    if (files.lengthCompare(4) <= 0) return files.map(f => fileStat(f, col))
    val par = math.min(files.size, math.max(2,
      Runtime.getRuntime.availableProcessors()))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      val futs = files.map { f =>
        pool.submit(new java.util.concurrent.Callable[FileStat] {
          override def call(): FileStat = fileStat(f, col)
        })
      }
      futs.map(_.get())
    } finally pool.shutdownNow()
  }

  /** Shortest file PREFIX (in the given order) whose footer row counts
    * cover `n` — `LIMIT n` reads footers until satisfied and plans only
    * that prefix. Any footer failure keeps the full list (over-scan safe).
    * Footers are consulted in parallel batches so a large prefix does not
    * serialize the driver, while a small LIMIT still reads only a handful.
    */
  def limitFilePrefix(files: Seq[String], n: Int): Seq[String] =
    try {
      if (files.lengthCompare(footerCap) > 0) return files
      var acc = 0L
      var taken = 0
      val batch = math.max(2, Runtime.getRuntime.availableProcessors())
      while (taken < files.size && acc < n) {
        val slice = files.slice(taken, math.min(files.size, taken + batch))
        val stats = fileStats(slice, None)
        // consume the batch in order, stopping at the file that covers n
        val it = stats.iterator
        while (it.hasNext && acc < n) { acc += it.next().rows; taken += 1 }
      }
      if (acc >= n) files.take(taken) else files
    } catch { case _: Exception => files }

  /** Files that can intersect the top-n by `col` (asc/desc): files sorted
    * by their best bound are accumulated until their rows cover n, giving
    * a bound θ that the n-th value cannot exceed; every file strictly
    * beyond θ is pruned. Requires exact stats and zero nulls in EVERY
    * file's chunks for the column — otherwise the full list is kept
    * (Spark's retained Sort+Limit make over-keeping merely un-optimized,
    * never wrong).
    */
  def topNFilePrune(files: Seq[String], col: String, asc: Boolean,
      n: Int): Seq[String] =
    try {
      if (files.isEmpty || files.lengthCompare(footerCap) > 0) return files
      val stats = fileStats(files, Some(col))
      if (stats.exists(!_.statsOk)) return files
      // best bound first: min for ascending (file could start earliest),
      // max for descending (file could reach highest)
      val ordered = stats.sortWith { (a, b) =>
        if (asc) a.min.compareTo(b.min) < 0 else a.max.compareTo(b.max) > 0
      }
      var acc = 0L
      var theta: Comparable[Any] = null
      val it = ordered.iterator
      while (it.hasNext && acc < n) {
        val s = it.next()
        acc += s.rows
        val bound = if (asc) s.max else s.min
        if (theta == null || (asc && bound.compareTo(theta) > 0) ||
          (!asc && bound.compareTo(theta) < 0)) theta = bound
      }
      if (acc < n || theta == null) return files // n exceeds the table
      val keptSet = stats.filter { s =>
        if (asc) s.min.compareTo(theta) <= 0 else s.max.compareTo(theta) >= 0
      }.map(_.file).toSet
      files.filter(keptSet)
    } catch { case _: Exception => files }
}

private[graft] final case class GraftDeltaSlice(seq: Int, files: Seq[String])

/** One resolved read of a keyed table — what every scan plans from.
  * Resolved by [[KuduLikeCatalog.snapshot]] with the catalog's own storage
  * (its manifest, its layer-visibility rule: atomic rename, or commit
  * marker), so scans never re-list: every scan planned from one snapshot
  * reads the same files.
  *
  * @param baseFiles live base files, dropped range partitions left out
  * @param deltas committed delta layers at or below the version, ascending
  * @param asOf the requested version of a time-travel read
  * @param rangeZone the zone `__range` values were formatted under
  * @param keySorted the base's `_sort` marker proves key order
  * @param fingerprint the catalog's statistics fingerprint at resolution;
  *   None when the snapshot is not the live table (time travel, or a
  *   restricted base), which no persisted ANALYZE record describes
  */
private[graft] final case class GraftSnapshot(
    table: String, keyCols: Seq[String], buckets: Int, hashCols: Seq[String],
    rangeCol: Option[String], rangeBounds: Seq[(Long, Long)],
    rangeZone: String, rangePattern: String,
    baseFiles: Seq[String], deltas: Seq[GraftDeltaSlice],
    asOf: Option[Int], keySorted: Boolean, fingerprint: Option[String])

/** @param emitOverlay whether THIS task emits the overlay's surviving
  *   upserts. Per-bucket scans always do (the bucket owns its keys);
  *   unbucketed-with-deltas scans share one overlay across all base-file
  *   tasks for suppression, and exactly one task emits it — the others
  *   would duplicate every pending upsert.
  * @param locations block hosts for the partition's files, surfaced to the
  *   scheduler as `preferredLocations` — the reference pins each split to
  *   the tablet leader's host for the same reason
  *   (HiveKuduTableInputFormat.java:177-210, reverse-DNS :241-262). Taken
  *   from the Hadoop `FileSystem` block locations ([[GraftScan.HostIndex]]),
  *   so HDFS-class storage reports its datanodes with no change here.
  */
private[graft] final case class GraftInputPartition(
    bucket: Int, baseFiles: Seq[String], deltas: Seq[GraftDeltaSlice],
    emitOverlay: Boolean, locations: Array[String] = Array.empty)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def preferredLocations(): Array[String] = locations
  /** Consulted only under KeyGroupedPartitioning (per-bucket plans; the
    * unbucketed -1 never reports it).
    */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** One changelog micro-batch unit: a single delta layer (its files). */
private[graft] final case class GraftChangelogPartition(
    seq: Int, files: Seq[String], locations: Array[String] = Array.empty)
  extends InputPartition {
  override def preferredLocations(): Array[String] = locations
}

/** One footer-sweep unit of a pushed aggregate: this task's files. */
private[graft] final case class GraftAggPartition(
    files: Seq[String], specs: Seq[GraftAggFunc]) extends InputPartition

/** Computes one partial-aggregate row per partition from parquet FOOTERS
  * only: COUNT(*) = Σ row-group row counts; MIN/MAX fold the row groups'
  * column statistics. No data page is ever decoded. A chunk with no
  * non-null value contributes nothing to MIN/MAX (parquet writes
  * statistics for every primitive chunk our writer produces; the stats
  * object carries hasNonNullValue=false exactly when the chunk is
  * all-null) — matching SQL MIN/MAX null semantics. A missing statistics
  * object fails loudly: it would mean a foreign writer, and guessing
  * would return wrong answers silently.
  */
private[sources] final class GraftAggReaderFactory extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftAggPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = compute(part)
      override def close(): Unit = ()
    }
  }

  private def compute(part: GraftAggPartition): InternalRow = {
    val conf = new Configuration()
    var count = 0L
    // raw parquet-stat accumulators per spec (Comparable of the physical type)
    val acc = new Array[Comparable[Any]](part.specs.length)
    val colCounts = new Array[Long](part.specs.length)
    part.files.foreach { f =>
      val footer = ParquetFileReader.readFooter(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      footer.getBlocks.asScala.foreach { block =>
        count += block.getRowCount
        part.specs.zipWithIndex.foreach {
          case (GraftCountStar, _) => ()
          case (GraftCountCol(field), i) =>
            val cc = block.getColumns.asScala
              .find(_.getPath.toDotString == field)
              .getOrElse(throw new IllegalStateException(
                s"pushed aggregate: column $field missing in footer of $f"))
            val st = cc.getStatistics
            if (st == null || !st.isNumNullsSet)
              throw new IllegalStateException(
                s"pushed aggregate: no null-count statistic for $field in $f")
            colCounts(i) += block.getRowCount - st.getNumNulls
          case (spec, i) =>
            val (field, isMin) = spec match {
              case GraftMinOf(n, _) => (n, true)
              case GraftMaxOf(n, _) => (n, false)
              case _ => throw new MatchError(spec) // unreachable
            }
            val cc = block.getColumns.asScala
              .find(_.getPath.toDotString == field)
              .getOrElse(throw new IllegalStateException(
                s"pushed aggregate: column $field missing in footer of $f"))
            val st = cc.getStatistics
            if (st == null)
              throw new IllegalStateException(
                s"pushed aggregate: no statistics for $field in $f")
            if (st.hasNonNullValue) {
              val v = (if (isMin) st.genericGetMin else st.genericGetMax)
                .asInstanceOf[Comparable[Any]]
              if (acc(i) == null) acc(i) = v
              else {
                val c = v.compareTo(acc(i))
                if ((isMin && c < 0) || (!isMin && c > 0)) acc(i) = v
              }
            } else if (!(st.isNumNullsSet && st.getNumNulls == block.getRowCount))
              // hasNonNullValue=false is only trustworthy as "all null"
              // when the null count proves it — anything else (INT96
              // chunk, stats-disabled writer) must fail loudly, never
              // silently answer NULL
              throw new IllegalStateException(
                s"pushed aggregate: unusable statistics for $field in $f")
        }
      }
    }
    val out = part.specs.zipWithIndex.map {
      case (GraftCountStar, _) => count: Any
      case (GraftCountCol(_), i) => colCounts(i): Any
      case (GraftMinOf(_, dt), i) => toInternal(acc(i), dt)
      case (GraftMaxOf(_, dt), i) => toInternal(acc(i), dt)
    }
    new GenericInternalRow(out.toArray)
  }

  /** Parquet stat value → Spark internal representation for `dt`. */
  private def toInternal(v: Any, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case ByteType => v.asInstanceOf[Number].byteValue()
      case ShortType => v.asInstanceOf[Number].shortValue()
      case IntegerType | DateType => v.asInstanceOf[Number].intValue()
      case LongType | TimestampType | TimestampNTZType =>
        v.asInstanceOf[Number].longValue()
      case FloatType => v.asInstanceOf[java.lang.Float].floatValue()
      case DoubleType => v.asInstanceOf[java.lang.Double].doubleValue()
      case BooleanType => v.asInstanceOf[java.lang.Boolean].booleanValue()
      case other => throw new IllegalStateException(
        s"pushed aggregate over unsupported type $other")
    }
}

private[sources] object GraftChangelog {
  /** Partitions for the retained layers with sequence in (from, to] —
    * the same window semantics as `KuduLikeCatalog.changesBetween`.
    */
  def partitions(catalog: KuduLikeCatalog, tableName: String,
      from: Int, to: Int): Array[InputPartition] = {
    val hosts = new GraftScan.HostIndex(SparkSession.active.sessionState.newHadoopConf())
    catalog.deltaLayers(tableName)
      .filter { case (seq, _) => seq > from && seq <= to }
      .sortBy(_._1)
      .map { case (seq, dir) =>
        val files = GraftScan.listParquet(dir)
        GraftChangelogPartition(seq, files, hosts.preferred(files)): InputPartition
      }
      .toArray
  }
}

/** Changelog stream position: the highest delta sequence already consumed,
  * plus the base epoch it was valid under. Both are monotone counters the
  * catalog persists, so offsets survive restarts (checkpointed as JSON).
  */
private[sources] final case class GraftOffset(version: Int, epoch: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"version":$version,"epoch":$epoch}"""
}

private[sources] object GraftOffset {
  def fromJson(s: String): GraftOffset = {
    def field(k: String): Option[String] =
      (s""""$k":(\\d+)""").r.findFirstMatchIn(s).map(_.group(1))
    (field("version"), field("epoch")) match {
      case (Some(v), Some(e)) => GraftOffset(v.toInt, e.toLong)
      case _ => throw new IllegalArgumentException(s"malformed graft offset: $s")
    }
  }
}

/** Micro-batch changelog source over a graft table. Offsets are delta
  * sequence numbers: each trigger reads the layers committed since the last
  * offset — exactly the rows `changesBetween(last, latest)` returns, as a
  * stream. Two staleness guards fail loudly instead of silently dropping
  * mutations (the same honesty contract as the catalog's CDC):
  *
  *  - base-epoch advance (an INSERT took the base-append path, which
  *    bypasses the changelog) → the stream's bootstrap snapshot is stale;
  *  - compaction past an unread offset (layers folded into the base before
  *    this stream consumed them) → the mutations are no longer replayable.
  *
  * Scale: a micro-batch costs one task per delta layer, reading only that
  * layer's files — never the base, never the table. State is one integer
  * per stream (the offset), checkpointed by Spark.
  */
private[sources] final class GraftMicroBatchStream(catalog: KuduLikeCatalog, tableName: String)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset}

  override def initialOffset(): SOffset = {
    val cat = catalog
    GraftOffset(cat.changelogFloor(tableName), cat.baseEpoch(tableName))
  }

  override def latestOffset(): SOffset = {
    val cat = catalog
    val live = cat.deltaLayers(tableName).map(_._1)
    val v = if (live.isEmpty) cat.changelogFloor(tableName) else live.max
    GraftOffset(v, cat.baseEpoch(tableName))
  }

  override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset]
    val e = end.asInstanceOf[GraftOffset]
    val cat = catalog
    val epochNow = cat.baseEpoch(tableName)
    if (s.epoch != epochNow)
      throw new IllegalStateException(
        s"graft changelog stream of $tableName: base epoch advanced " +
          s"${s.epoch} -> $epochNow (an insert took the base-append path, " +
          "which the changelog never reports) — restart the stream from a " +
          "fresh table snapshot")
    val floor = cat.changelogFloor(tableName)
    if (floor > s.version)
      throw new IllegalStateException(
        s"graft changelog stream of $tableName: compaction folded layers " +
          s"<= $floor into the base but this stream had only consumed up to " +
          s"${s.version} — the missed mutations are no longer replayable; " +
          "restart from a fresh snapshot (retain layers until consumers pass them)")
    GraftChangelog.partitions(cat, tableName, s.version, e.version)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftChangelogReaderFactory(catalog.schemaOf(tableName))

  override def deserializeOffset(json: String): SOffset = GraftOffset.fromJson(json)
  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] final class GraftChangelogReaderFactory(dataSchema: StructType)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftChangelogReader(
      partition.asInstanceOf[GraftChangelogPartition], dataSchema)
}

/** Streams one delta layer's rows as `(data columns…, op, version)`. The
  * layer's parquet carries the data columns plus `__op` in-file (bucket and
  * range live in directory names and are changelog-irrelevant); `version`
  * is the layer sequence, constant per partition.
  */
private[sources] final class GraftChangelogReader(
    part: GraftChangelogPartition, dataSchema: StructType)
  extends PartitionReader[InternalRow] {

  private val readSchema =
    StructType(dataSchema.fields :+ StructField(KuduLikeCatalog.OpCol, StringType))
  private var activeReader: AutoCloseable = _
  private val rows: Iterator[Array[Any]] =
    part.files.iterator.flatMap { f =>
      val r = GraftVectorized.open(f, readSchema, Array.empty)
      activeReader = r
      GraftVectorized.copiedRows(r, readSchema)
    }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) {
      current = new GenericInternalRow(rows.next() :+ part.seq)
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = if (activeReader != null) activeReader.close()
}

private[sources] final class GraftReaderFactory(
    tableName: String, required: StructType, fullSchema: StructType,
    keyCols: Seq[String], pushed: Array[sources.Filter],
    maxOverlayRows: Long, columnarRead: Boolean) extends PartitionReaderFactory {

  /** Delta-free partitions — the 100-TB base-scan case — read COLUMNAR:
    * parquet column chunks decode straight into Spark `ColumnarBatch`
    * vectors (no per-row `InternalRow`), the same decode path Spark's
    * native parquet source uses. When any partition carries pending
    * mutations the whole scan takes the row-based merge-on-read reader
    * (Spark rejects mixed row/columnar partitions): the overlay probe is
    * inherently per-row (each base row's key is checked against the delta
    * map). Compaction therefore also restores columnar speed — one more
    * reason it is the maintenance verb of this storage layout.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnarRead

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftColumnarPartitionReader(
      partition.asInstanceOf[GraftInputPartition], required, pushed)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(
      partition.asInstanceOf[GraftInputPartition], tableName, required,
      fullSchema, keyCols, pushed, maxOverlayRows)
}

/** Executor-side merge-on-read for one bucket: delta layers are loaded into
  * an overlay map (ascending sequence, later layers win — bounded by the
  * pending-mutation volume, the same bound as Kudu's delta memstores), then
  * base rows stream through, skipping superseded keys; finally the
  * overlay's surviving upserts are emitted. Memory ∝ deltas, never ∝ base.
  */
private[sources] final class GraftPartitionReader(
    part: GraftInputPartition, tableName: String, required: StructType,
    fullSchema: StructType, keyCols: Seq[String],
    pushed: Array[sources.Filter], maxOverlayRows: Long)
  extends PartitionReader[InternalRow] {

  private val hasDeltas = part.deltas.nonEmpty
  // physical read set: requested columns, plus key columns when a merge
  // must identify rows across layers
  private val readFields: Array[StructField] = {
    val extraKeys =
      if (hasDeltas) keyCols.filterNot(k => required.fieldNames.contains(k))
      else Seq.empty
    (required.fields.toSeq ++ extraKeys.map(fullSchema(_))).toArray
  }
  private val keyIdx: Array[Int] =
    keyCols.map(k => readFields.indexWhere(_.name == k)).toArray
  private val outIdx: Array[Int] = required.fields.indices.toArray // prefix

  // Base and delta files decode through the same vectorized reader and
  // these same accessors, so overlay keys and base keys are the same
  // catalyst values and hash-compare directly.
  private val accessors: Array[(org.apache.spark.sql.catalyst.expressions.SpecializedGetters, Int) => Any] =
    readFields.map(f => InternalRow.getAccessor(f.dataType, nullable = true))

  /** Hash key for the overlay probe: one array + one wrapper per row (the
    * ArraySeq wraps without copying and carries content equals/hashCode;
    * binary keys wrap as ByteBuffers for the same reason) — this runs once
    * per base row on delta-bearing scans, so no per-element collection
    * chains.
    */
  private def keyOf(row: InternalRow): Seq[Any] = {
    val k = new Array[Any](keyIdx.length)
    var i = 0
    while (i < keyIdx.length) {
      val idx = keyIdx(i)
      k(i) = accessors(idx)(row, idx) match {
        case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
        case v => v
      }
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(k)
  }

  // ---- overlay from delta layers (ascending seq; map put = last wins).
  // Size-capped: the overlay is bounded by pending-mutation volume, but a
  // table whose compaction was deferred long enough would otherwise grow it
  // until the task dies with an uncatchable OOM Error mid-merge — fail fast
  // with the fix in the message instead.
  private val overlay = new java.util.HashMap[Seq[Any], (String, Array[Any])]()
  if (hasDeltas) {
    val deltaSchema =
      StructType(readFields :+ StructField(KuduLikeCatalog.OpCol, StringType))
    var loaded = 0L
    part.deltas.sortBy(_.seq).foreach { slice =>
      slice.files.foreach { f =>
        // deltas are never filtered: the merge must SEE a superseding row
        // even when the filter would drop it
        val r = GraftVectorized.open(f, deltaSchema, Array.empty)
        try GraftVectorized.copiedRows(r, deltaSchema).foreach { row =>
          loaded += 1
          if (loaded > maxOverlayRows)
            throw new IllegalStateException(
              s"graft scan of $tableName: delta overlay exceeds " +
                s"$maxOverlayRows rows in one task — run " +
                s"KuduLikeCatalog.compact(\"$tableName\") to fold pending " +
                s"mutation layers into the base (or raise " +
                s"${GraftDataSource.MaxOverlayRowsKey})")
          val op = row(readFields.length) match {
            case s: UTF8String => s.toString
            case other => String.valueOf(other)
          }
          overlay.put(keyOf(new GenericInternalRow(row)), (op, row))
        } finally r.close()
      }
    }
  }

  // ---- base stream: VECTORIZED parquet decode emitting row VIEWS
  // (GraftVectorized.rowIterator) — column chunks decode batch-at-a-time
  // into Spark's column vectors even though emission is per-row, because
  // each base row's key must probe the overlay before it may surface.
  // Values are views into the reader's reused batch: keys are probed then
  // dropped, and emitted rows deep-copy in next() before the iterator
  // advances.
  // The active reader is tracked so an early-terminated scan (limit/take/
  // task kill) can release its parquet reader in close() — row iterators
  // only close themselves at EOF.
  private var activeReader: AutoCloseable = _
  private val baseIter: Iterator[InternalRow] =
    part.baseFiles.iterator.flatMap { f =>
      val r = GraftVectorized.open(f, StructType(readFields), pushed)
      activeReader = r
      GraftVectorized.rowIterator(r)
    }.filter(row => !hasDeltas || !overlay.containsKey(keyOf(row)))
  private val overlayIter: Iterator[Array[Any]] =
    if (!hasDeltas || !part.emitOverlay) Iterator.empty
    else overlay.values().iterator().asScala.collect {
      case (op, row) if op == "upsert" => row
    }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (baseIter.hasNext) {
      val row = baseIter.next()
      val out = new Array[Any](outIdx.length)
      var i = 0
      while (i < outIdx.length) {
        val idx = outIdx(i)
        out(i) = GraftVectorized.copyVal(accessors(idx)(row, idx))
        i += 1
      }
      current = new GenericInternalRow(out)
      true
    } else if (overlayIter.hasNext) {
      val row = overlayIter.next()
      val out = new Array[Any](outIdx.length)
      var i = 0
      while (i < outIdx.length) { out(i) = row(outIdx(i)); i += 1 }
      current = new GenericInternalRow(out)
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = if (activeReader != null) activeReader.close()
}

/** Columnar reader for one delta-free partition: each base file streams
  * through [[GraftVectorized]] with batch emission enabled, handing Spark
  * reused `ColumnarBatch`es of 4096 rows.
  */
private[sources] final class GraftColumnarPartitionReader(
    part: GraftInputPartition, required: StructType,
    pushed: Array[sources.Filter])
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader

  private val files = part.baseFiles.iterator
  private var reader: VectorizedParquetRecordReader = _
  private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _

  private def openNext(): Boolean = {
    if (!files.hasNext) return false
    val r = GraftVectorized.open(files.next(), required, pushed)
    r.enableReturningBatches()
    reader = r
    true
  }

  override def next(): Boolean = {
    if (reader != null && reader.nextBatch()) {
      batch = reader.resultBatch()
      true
    } else {
      if (reader != null) { reader.close(); reader = null }
      if (!openNext()) false else next()
    }
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
  override def close(): Unit = if (reader != null) reader.close()
}

/** The connector's one parquet decoder: Spark's
  * `VectorizedParquetRecordReader`, the codegen-hot decode path of the
  * native parquet source, for base, delta and changelog files alike.
  * Per-file setup reads the footer once, on the stream the reader then
  * decodes from; prunes row groups against the pushed filters (min/max
  * statistics, then bloom filters — the non-key point-lookup index a table
  * declares with `graft.bloom_columns`), counting each outcome in
  * [[GraftScanStats]]; and lets the requested Catalyst schema drive schema
  * evolution (columns a file predates become null vectors). Dictionary
  * pages are not consulted for pruning: that costs a page read per column
  * chunk of every surviving group, on every scan, for skips the bloom
  * filter yields from footer-adjacent bytes. No record- or page-level
  * filtering either: Spark's residual filters keep results exact.
  *
  * The caller picks the emission shape: `enableReturningBatches()` for
  * `ColumnarBatch` (delta-free scans), plain `nextKeyValue()` for row
  * views ([[rowIterator]]: the merge-on-read base stream, whose rows probe
  * the overlay one by one) or deep copies ([[copiedRows]]: delta and
  * changelog layers, read whole and unfiltered).
  *
  * Rebase modes are CORRECTED: every file is written by this catalog
  * through Spark's modern parquet writer (external attach never routes
  * through the connector), so no Julian-calendar rebasing applies.
  */
private[graft] object GraftVectorized {

  import org.apache.spark.sql.execution.datasources.parquet.{
    ParquetReadSupport, VectorizedParquetRecordReader}
  import org.apache.parquet.HadoopReadOptions
  import org.apache.parquet.filter2.bloomfilterlevel.BloomFilterImpl
  import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
  import org.apache.parquet.hadoop.ParquetInputFormat
  import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}

  def open(file: String, required: StructType,
      pushed: Array[sources.Filter]): VectorizedParquetRecordReader = {
    val hPath = new org.apache.hadoop.fs.Path(file)
    val conf = new Configuration()
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, required.json)
    // schema-converter flags the reader reads from the task conf (Spark
    // sets the same five in ParquetFileFormat.buildReaderWithPartitionValues)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)

    val input = HadoopInputFile.fromPath(hPath, conf)
    val stream = input.newStream()
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", /*useOffHeap=*/ false,
      /*capacity=*/ 4096)
    try {
      // the footer read; this handle also serves the bloom-filter reads
      // and is not closed itself — the stream it shares is the reader's,
      // which closes it
      val footerReader = ParquetFileReader.open(
        input, HadoopReadOptions.builder(conf, hPath).build(), stream)
      val footer = footerReader.getFooter
      // predicate over PRESENT columns only (a column the file predates is
      // all-null and stays residual-filtered)
      val fileSchema = footer.getFileMetaData.getSchema
      val pred = GraftFilters.toParquet(pushed,
        required.fields.filter(f => fileSchema.containsField(f.name)).toSeq)
      val kept = footer.getBlocks.asScala.filter(b => pred.forall(keep(_, b, footerReader)))
      GraftScanStats.rowGroupsRead.add(kept.size)
      val split = new org.apache.hadoop.mapred.FileSplit(
        hPath, 0, input.getLength, Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
      r.initialize(split, ctx, Some(input), Some(stream),
        Some(new ParquetMetadata(footer.getFileMetaData, kept.asJava)))
      r.initBatch(new StructType(), InternalRow.empty)
    } catch {
      case e: Throwable => r.close(); stream.close(); throw e
    }
    r
  }

  /** Whether a row group survives the predicate: statistics first (footer
    * metadata only), then the bloom filter (footer-adjacent bytes; no
    * filter for a column = cannot drop).
    */
  private def keep(pred: FilterPredicate, block: BlockMetaData,
      footerReader: ParquetFileReader): Boolean =
    if (StatisticsFilter.canDrop(pred, block.getColumns)) {
      GraftScanStats.rowGroupsStatsSkipped.increment()
      false
    } else if (BloomFilterImpl.canDrop(pred, block.getColumns,
        footerReader.getBloomFilterDataReader(block))) {
      GraftScanStats.rowGroupsBloomSkipped.increment()
      false
    } else true

  /** Row-view iterator over an opened reader (batch mode NOT enabled):
    * values are views into the reader's reused column vectors — probe or
    * copy them before the next `hasNext`. Closes the reader at EOF.
    */
  def rowIterator(r: VectorizedParquetRecordReader): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var advanced = false
      private var has = false
      override def hasNext: Boolean = {
        if (!advanced) {
          has = r.nextKeyValue()
          if (!has) r.close()
          advanced = true
        }
        has
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        advanced = false
        r.getCurrentValue.asInstanceOf[InternalRow]
      }
    }

  /** Every row of an opened reader as a deep-copied array of catalyst
    * values, in `schema` order (the schema the reader was opened with).
    */
  def copiedRows(r: VectorizedParquetRecordReader,
      schema: StructType): Iterator[Array[Any]] = {
    val get = schema.fields.map(f => InternalRow.getAccessor(f.dataType, nullable = true))
    rowIterator(r).map { row =>
      val out = new Array[Any](get.length)
      var i = 0
      while (i < out.length) { out(i) = copyVal(get(i)(row, i)); i += 1 }
      out
    }
  }

  /** Deep-copy one catalyst value out of a reused column vector (strings/
    * binaries/nested values are views; primitives and Decimal are safe).
    */
  def copyVal(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case b: Array[Byte] => b.clone()
    case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
    case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
    case r: InternalRow => r.copy()
    case x => x
  }
}

/** Row-group counters of every file decoded through [[GraftVectorized.open]]
  * (the connector's base, delta and changelog files, and the catalog's
  * bucket-aligned insert probe): groups read, and groups skipped by
  * min/max statistics or by a bloom filter. Test and
  * diagnostic observability (local mode: one JVM sees every task's
  * increments). Not a correctness surface; results are identical with
  * pruning off, only IO differs.
  */
object GraftScanStats {
  val rowGroupsRead = new java.util.concurrent.atomic.LongAdder
  val rowGroupsStatsSkipped = new java.util.concurrent.atomic.LongAdder
  val rowGroupsBloomSkipped = new java.util.concurrent.atomic.LongAdder
  def reset(): Unit = {
    rowGroupsRead.reset(); rowGroupsStatsSkipped.reset(); rowGroupsBloomSkipped.reset()
  }
}

private[sources] object GraftFilters {

  /** Filters this connector can express in parquet-mr (and use for bucket
    * routing): flat-column comparisons over the non-timestamp primitive
    * types, plus conjunctions of those. Everything else stays
    * residual-only.
    */
  def isSupported(f: sources.Filter): Boolean = f match {
    case sources.And(l, r) => isSupported(l) && isSupported(r)
    case sources.EqualTo(_, v) => supportedValue(v)
    case sources.GreaterThan(_, v) => supportedValue(v)
    case sources.GreaterThanOrEqual(_, v) => supportedValue(v)
    case sources.LessThan(_, v) => supportedValue(v)
    case sources.LessThanOrEqual(_, v) => supportedValue(v)
    case sources.In(_, vs) => vs != null && vs.length <= 20 && vs.forall(supportedValue)
    case sources.IsNull(_) | sources.IsNotNull(_) => true
    case _ => false
  }

  private def supportedValue(v: Any): Boolean = v match {
    case null => false
    case _: java.lang.Boolean | _: java.lang.Byte | _: java.lang.Short |
         _: java.lang.Integer | _: java.lang.Long | _: java.lang.Float |
         _: java.lang.Double | _: String => true
    // timestamp/date comparisons never reach parquet-mr (toParquet yields
    // None for them) but ARE consumed at planning time: __range directory
    // pruning (GraftScan.rangePruner) and bucket routing on temporal keys
    case _: java.sql.Timestamp | _: java.time.Instant | _: java.sql.Date => true
    case _ => false
  }

  /** Source filter → Column, for the V2 DELETE seam (Spark only offers the
    * v1 `Filter` tree there; the catalog's DELETE takes a Column). Total
    * over the closed v1 filter algebra — `canDeleteWhere`'s default already
    * rejected anything that doesn't translate to these nodes.
    */
  def toColumn(f: sources.Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, not}
    f match {
      case sources.EqualTo(a, v) => col(a) === lit(v)
      case sources.EqualNullSafe(a, v) => col(a) <=> lit(v)
      case sources.GreaterThan(a, v) => col(a) > lit(v)
      case sources.GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case sources.LessThan(a, v) => col(a) < lit(v)
      case sources.LessThanOrEqual(a, v) => col(a) <= lit(v)
      case sources.In(a, vs) => col(a).isInCollection(vs.toSeq)
      case sources.IsNull(a) => col(a).isNull
      case sources.IsNotNull(a) => col(a).isNotNull
      case sources.And(l, r) => toColumn(l) && toColumn(r)
      case sources.Or(l, r) => toColumn(l) || toColumn(r)
      case sources.Not(c) => not(toColumn(c))
      case sources.StringStartsWith(a, v) => col(a).startsWith(v)
      case sources.StringEndsWith(a, v) => col(a).endsWith(v)
      case sources.StringContains(a, v) => col(a).contains(v)
      case sources.AlwaysTrue() => lit(true)
      case sources.AlwaysFalse() => lit(false)
      case other => throw new UnsupportedOperationException(
        s"graft DELETE cannot translate filter $other — use " +
          "KuduLikeCatalog.delete(table, condition) or the GraftSql router " +
          "for arbitrary predicates")
    }
  }

  def flattenAnd(fs: Array[sources.Filter]): Array[sources.Filter] =
    fs.flatMap {
      case sources.And(l, r) => flattenAnd(Array(l, r))
      case f => Array(f)
    }

  /** AND-combine the convertible conjuncts over `fields`; None when nothing
    * converts. Dropping a conjunct only widens the scan — residual filters
    * restore exactness.
    */
  def toParquet(filters: Array[sources.Filter],
      fields: Seq[StructField]): Option[FilterPredicate] = {
    val byName = fields.map(f => f.name -> f.dataType).toMap
    val preds = flattenAnd(filters).flatMap(one(_, byName))
    preds.reduceOption(FilterApi.and)
  }

  private def one(f: sources.Filter,
      types: Map[String, DataType]): Option[FilterPredicate] = f match {
    case sources.EqualTo(a, v) => cmp(a, v, types, Cmp.Eq)
    case sources.GreaterThan(a, v) => cmp(a, v, types, Cmp.Gt)
    case sources.GreaterThanOrEqual(a, v) => cmp(a, v, types, Cmp.GtEq)
    case sources.LessThan(a, v) => cmp(a, v, types, Cmp.Lt)
    case sources.LessThanOrEqual(a, v) => cmp(a, v, types, Cmp.LtEq)
    case sources.In(a, vs) =>
      val parts = vs.toSeq.flatMap(v => cmp(a, v, types, Cmp.Eq))
      if (parts.length == vs.length) parts.reduceOption(FilterApi.or) else None
    case sources.IsNull(a) => nullCmp(a, types, eq = true)
    case sources.IsNotNull(a) => nullCmp(a, types, eq = false)
    case _ => None
  }

  private object Cmp extends Enumeration { val Eq, Gt, GtEq, Lt, LtEq = Value }

  private def nullCmp(a: String, types: Map[String, DataType],
      eq: Boolean): Option[FilterPredicate] =
    types.get(a).flatMap {
      case IntegerType | ByteType | ShortType =>
        Some(if (eq) FilterApi.eq(FilterApi.intColumn(a), null.asInstanceOf[java.lang.Integer])
        else FilterApi.notEq(FilterApi.intColumn(a), null.asInstanceOf[java.lang.Integer]))
      case LongType =>
        Some(if (eq) FilterApi.eq(FilterApi.longColumn(a), null.asInstanceOf[java.lang.Long])
        else FilterApi.notEq(FilterApi.longColumn(a), null.asInstanceOf[java.lang.Long]))
      case FloatType =>
        Some(if (eq) FilterApi.eq(FilterApi.floatColumn(a), null.asInstanceOf[java.lang.Float])
        else FilterApi.notEq(FilterApi.floatColumn(a), null.asInstanceOf[java.lang.Float]))
      case DoubleType =>
        Some(if (eq) FilterApi.eq(FilterApi.doubleColumn(a), null.asInstanceOf[java.lang.Double])
        else FilterApi.notEq(FilterApi.doubleColumn(a), null.asInstanceOf[java.lang.Double]))
      case BooleanType =>
        Some(if (eq) FilterApi.eq(FilterApi.booleanColumn(a), null.asInstanceOf[java.lang.Boolean])
        else FilterApi.notEq(FilterApi.booleanColumn(a), null.asInstanceOf[java.lang.Boolean]))
      case StringType =>
        Some(if (eq) FilterApi.eq(FilterApi.binaryColumn(a), null.asInstanceOf[Binary])
        else FilterApi.notEq(FilterApi.binaryColumn(a), null.asInstanceOf[Binary]))
      case _ => None
    }

  private def cmp(a: String, v: Any, types: Map[String, DataType],
      op: Cmp.Value): Option[FilterPredicate] = {
    import Cmp._
    types.get(a).flatMap {
      case IntegerType | ByteType | ShortType =>
        val c = FilterApi.intColumn(a)
        val i: java.lang.Integer = v match {
          case b: java.lang.Byte => b.intValue()
          case s: java.lang.Short => s.intValue()
          case x: java.lang.Integer => x
          case _ => return None
        }
        Some(op match {
          case Eq => FilterApi.eq(c, i); case Gt => FilterApi.gt(c, i)
          case GtEq => FilterApi.gtEq(c, i); case Lt => FilterApi.lt(c, i)
          case LtEq => FilterApi.ltEq(c, i)
        })
      case LongType => v match {
        case l: java.lang.Long =>
          val c = FilterApi.longColumn(a)
          Some(op match {
            case Eq => FilterApi.eq(c, l); case Gt => FilterApi.gt(c, l)
            case GtEq => FilterApi.gtEq(c, l); case Lt => FilterApi.lt(c, l)
            case LtEq => FilterApi.ltEq(c, l)
          })
        case _ => None
      }
      case FloatType => v match {
        case x: java.lang.Float =>
          val c = FilterApi.floatColumn(a)
          Some(op match {
            case Eq => FilterApi.eq(c, x); case Gt => FilterApi.gt(c, x)
            case GtEq => FilterApi.gtEq(c, x); case Lt => FilterApi.lt(c, x)
            case LtEq => FilterApi.ltEq(c, x)
          })
        case _ => None
      }
      case DoubleType => v match {
        case x: java.lang.Double =>
          val c = FilterApi.doubleColumn(a)
          Some(op match {
            case Eq => FilterApi.eq(c, x); case Gt => FilterApi.gt(c, x)
            case GtEq => FilterApi.gtEq(c, x); case Lt => FilterApi.lt(c, x)
            case LtEq => FilterApi.ltEq(c, x)
          })
        case _ => None
      }
      case BooleanType => v match {
        case b: java.lang.Boolean if op == Eq =>
          Some(FilterApi.eq(FilterApi.booleanColumn(a), b))
        case _ => None
      }
      case StringType => v match {
        case s: String =>
          val c = FilterApi.binaryColumn(a)
          val b = Binary.fromString(s)
          Some(op match {
            case Eq => FilterApi.eq(c, b); case Gt => FilterApi.gt(c, b)
            case GtEq => FilterApi.gtEq(c, b); case Lt => FilterApi.lt(c, b)
            case LtEq => FilterApi.ltEq(c, b)
          })
        case _ => None
      }
      case _ => None
    }
  }
}
