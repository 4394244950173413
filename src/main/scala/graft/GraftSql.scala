package graft

import graft.catalog.{CatalogException, KuduLikeCatalog, TableDef}
import org.antlr.v4.runtime.{CharStreams, CommonTokenStream, Token}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{CurrentNamespace, UnresolvedAttribute,
  UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Cast, Coalesce, Expression,
  Literal, NamedExpression, Not}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** SQL-text entry point for the keyed-table catalog.
  *
  * The reference's entire user surface is Hive SQL DDL — `CREATE TABLE …
  * STORED BY '…KuduStorageHandler' TBLPROPERTIES('kudu.key_columns'='…')`,
  * `INSERT INTO`, `DROP TABLE` (reference: README.md:22-44) — so the catalog
  * must be drivable from SQL text, not just the Scala API. As in the
  * reference, where Hive parses and the handler only acts on its own
  * tables, Spark parses here and GraftSql only routes: a statement's
  * logical plan that names a catalog table (CREATE in the reference
  * dialect, INSERT / UPSERT / UPDATE / DELETE / MERGE, DROP, ALTER,
  * DESCRIBE, SHOW, TRUNCATE) goes to [[KuduLikeCatalog]]; every other
  * statement falls through to `spark.sql` with all catalog tables
  * registered as temp views, so SELECTs see catalog tables next to
  * anything else in the session. Only the catalog's own verbs, which
  * Spark's grammar lacks (CLONE, RESTORE, VACUUM, OPTIMIZE, SHOW LITTER,
  * SHOW COLUMN STATS, DESCRIBE HISTORY, ALTER … RANGE PARTITION, ANALYZE),
  * are matched by their heads, before the parser sees them. A clause the
  * parser reports and the catalog does not implement is refused with a
  * [[CatalogException]] naming it, never dropped.
  *
  * Recognized TBLPROPERTIES:
  *  - `kudu.key_columns`   (required) — comma-separated primary key
  *  - `kudu.table_name`, `kudu.master_addresses` — accepted and ignored
  *    (storage routing is the catalog root here, not a Kudu master)
  *  - `graft.hash_buckets`  — hash-partition the data into N key buckets
  *  - `graft.hash_columns`  — hash on this PK SUBSET (Kudu `HASH (cols)`);
  *    default = all key columns
  *  - `graft.range_column`  — range-partition on this column
  *  - `graft.range_columns` — COMPOSITE range partitioning (Kudu
  *    `RANGE (day, tenant)`): first column is the time dimension
  *    (outermost directories, granularity applies), the rest nest as
  *    identity-valued sub-levels — the multi-tenant retention shape
  *  - `graft.range_granularity` — `month` (default) or `day` directories
  *  - `graft.bloom_columns` — write parquet bloom filters on these
  *    columns (non-key point-lookup row-group pruning)
  *
  * DDL/DML statements return a one-row status frame `(operation, table,
  * rows)`; queries return their result frame.
  */
object GraftSql {

  def execute(spark: SparkSession, cat: KuduLikeCatalog, sqlText: String): DataFrame = {
    val stmt = stripLeadingComments(sqlText).trim.stripSuffix(";").trim
    stmt match {
      case CloneHead(dst, src, v) =>
        cat.cloneTable(src, dst, Option(v).map(_.toInt))
        status(spark, "CREATE TABLE CLONE", dst, 0L)
      case RestoreHead(name, v) =>
        status(spark, "RESTORE TABLE", name, cat.restoreTable(name, v.toInt))
      case LitterHead(verb) if verb.equalsIgnoreCase("SHOW") => cat.showLitter()
      case LitterHead(_) =>
        // operator-invoked, retention zero: the SQL form is the explicit
        // "I know nothing is in flight" sweep (see vacuumLitter's scaladoc)
        import spark.implicits._
        cat.vacuumLitter(olderThanMs = 0L).toDF("reclaimed")
      case VacuumHead(name) =>
        cat.vacuum(name)
        status(spark, "VACUUM", name, 0L)
      case OptimizeHead(name, incremental, cols) => optimize(spark, cat, name, incremental, cols)
      case ShowColStatsHead(name) => showColumnStats(spark, cat, name)
      // `DESCRIBE HISTORY t` — version history for time travel (version,
      // kind, committed_at, files, rows), straight off the catalog's
      // footer-only metadata walk. Spark would read it as DESCRIBE of a
      // column `t` of a table named HISTORY, hence the head match.
      case DescribeHistoryHead(name) if cat.exists(name) => cat.history(name)
      case RangePartitionHead(name, op, value, lo, hi) if cat.exists(name) =>
        rangePartition(spark, cat, name, op.toUpperCase, Option(value), lo, hi)
      case AnalyzeHead(name, hist) if cat.exists(name) =>
        status(spark, "ANALYZE TABLE", name, cat.analyze(name, withHistogram = hist != null).numRows)
      case CatalogVerb(verb) =>
        throw new CatalogException(s"cannot parse ${verb.toUpperCase}: $stmt")
      case _ => route(spark, cat, stmt)
    }
  }

  /** Drop full-line `--` comments at the head of a statement (the verb
    * heads anchor on the first keyword; the parser reads comments itself).
    */
  private def stripLeadingComments(s: String): String = {
    var t = s.trim
    while (t.startsWith("--")) {
      val nl = t.indexOf('\n')
      t = if (nl < 0) "" else t.substring(nl + 1).trim
    }
    t
  }

  /** Register every catalog table as a temp view (refreshing snapshots). */
  def registerViews(spark: SparkSession, cat: KuduLikeCatalog): Unit =
    cat.tableNames.foreach(n => cat.table(n).createOrReplaceTempView(n))

  /** Spark's own lexer over `sql`: the default-channel tokens, so comments
    * and whitespace are gone and a literal is one token. EOF excluded.
    */
  private[graft] def tokens(sql: String): IndexedSeq[Token] = {
    val lexer = new SqlBaseLexer(CharStreams.fromString(sql))
    lexer.removeErrorListeners() // malformed text is the parser's to report
    val stream = new CommonTokenStream(lexer)
    stream.fill()
    stream.getTokens.asScala.toIndexedSeq
      .filter(t => t.getChannel == Token.DEFAULT_CHANNEL && t.getType != Token.EOF)
  }

  /** Parse with the session's parser, then route on the plan node. Two
    * dialect rewrites come first: the reference's `STORED BY '<handler>'`
    * clause, which Spark rejects, is cut out (and marks the CREATE as the
    * catalog's), and a leading `UPSERT` becomes `INSERT` (and selects
    * [[KuduLikeCatalog.upsert]]).
    */
  private def route(spark: SparkSession, cat: KuduLikeCatalog, stmt: String): DataFrame = {
    val toks = tokens(stmt)
    def word(i: Int, w: String) = i < toks.length && toks(i).getText.equalsIgnoreCase(w)
    val storedBy = toks.indices.find(i => word(i, "STORED") && word(i + 1, "BY") &&
      i + 2 < toks.length && toks(i + 2).getType == SqlBaseLexer.STRING_LITERAL)
    val upsert = word(0, "UPSERT")
    val cut = storedBy.fold(stmt) { i =>
      val from = toks(i).getStartIndex
      stmt.patch(from, "", toks(i + 2).getStopIndex + 1 - from)
    }
    val plan = spark.sessionState.sqlParser.parsePlan(
      if (upsert) cut.patch(toks(0).getStartIndex, "INSERT", 6) else cut)
    def dialect(spec: TableSpecBase) =
      storedBy.isDefined || spec.properties.contains("kudu.key_columns")
    object Owned {
      def unapply(p: LogicalPlan): Option[String] = tableName(p).filter(cat.exists)
    }
    plan match {
      case c: CreateTable if dialect(c.tableSpec) =>
        val name = newName(c.name)
        val props = properties(name, c.partitioning, c.tableSpec)
        val keyCols = requiredKeyCols(name, props)
        refuse("CREATE TABLE", name, "DEFAULT" -> c.columns.exists(_.defaultValue.isDefined),
          "GENERATED" -> c.columns.exists(d =>
            d.generationExpression.isDefined || d.identityColumnSpec.isDefined))
        val schema = StructType(c.columns.map(d => field(d.name, d.dataType, d.nullable, d.comment)))
        if (!(c.ignoreIfExists && cat.exists(name))) {
          cat.createTable(tableDefFromProps(name, schema, keyCols, props))
          registerViews(spark, cat)
        }
        status(spark, "CREATE TABLE", name, 0L)
      case c: CreateTableAsSelect if dialect(c.tableSpec) =>
        val name = newName(c.name)
        refuse("CREATE TABLE", name, "OPTIONS" -> c.writeOptions.nonEmpty)
        createAsSelect(spark, cat, name, c.ignoreIfExists,
          properties(name, c.partitioning, c.tableSpec), c.query)
      case i @ InsertIntoStatement(Owned(name), _, _, _, _, _, _) => write(spark, cat, name, i, upsert)
      case DeleteFromTable(Owned(name), cond) =>
        val n = cat.delete(name, ColumnBridge.column(cond))
        registerViews(spark, cat)
        status(spark, "DELETE FROM", name, n)
      case UpdateTable(Owned(name), sets, cond) => update(spark, cat, name, sets, cond)
      case m @ MergeIntoTable(Owned(name), _, _, _, _, _, _) => merge(spark, cat, name, m)
      case DropTable(Owned(name), _, _) =>
        cat.dropTable(name)
        spark.catalog.dropTempView(name)
        status(spark, "DROP TABLE", name, 0L)
      case AddColumns(Owned(name), cols) =>
        // online schema evolution: new columns are non-key, in the closed
        // type set, and land nullable
        refuse("ALTER TABLE", name, "a nested column" -> cols.exists(_.path.isDefined),
          "FIRST / AFTER" -> cols.exists(_.position.isDefined),
          "DEFAULT" -> cols.exists(_.default.isDefined))
        val fields = cols.map(c => field(c.colName, c.dataType, c.nullable, c.comment))
        cat.addColumns(name, fields) // atomic: all-or-nothing
        registerViews(spark, cat)
        status(spark, "ALTER TABLE", name, fields.length.toLong)
      case DropColumns(Owned(name), fields, ifExists) =>
        // metadata-only evolution; existing file bytes are reclaimed by the
        // next compact (KuduLikeCatalog.dropColumn)
        val schema = cat.schemaOf(name)
        val cols = fields.map(f => column(name, f.name))
          .filter(c => !ifExists || schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        cat.dropColumns(name, cols) // atomic: all-or-nothing
        registerViews(spark, cat)
        status(spark, "ALTER TABLE", name, cols.length.toLong)
      case RenameColumn(Owned(name), from, to) =>
        // the honest O(table) fold+rewrite (no field-ID indirection in this
        // layout — KuduLikeCatalog.renameColumn)
        cat.renameColumn(name, column(name, from.name), to)
        registerViews(spark, cat)
        status(spark, "ALTER TABLE RENAME COLUMN", name, 1L)
      case RenameTable(Owned(name), to, false) =>
        // one atomic directory move (metadata is path-relative)
        val dst = newName(UnresolvedIdentifier(to))
        cat.renameTable(name, dst)
        spark.catalog.dropTempView(name) // the old view must not linger
        registerViews(spark, cat)
        status(spark, "ALTER TABLE RENAME", dst, 0L)
      case DescribeRelation(Owned(name), partition, formatted, _) =>
        refuse("DESCRIBE", name, "PARTITION (…)" -> partition.nonEmpty)
        describe(spark, cat, name, formatted)
      case ShowTables(CurrentNamespace, None, _) =>
        // bare `SHOW TABLES` only: `SHOW TABLES IN ns` is Spark's, where the
        // `graftsql` TableCatalog plugin answers for its namespace
        import spark.implicits._
        cat.tableNames.sorted.toDF("tab_name")
      case ShowCreateTable(Owned(name), false, _) => showCreate(spark, cat, name)
      case ShowPartitions(Owned(name), spec, _) =>
        refuse("SHOW PARTITIONS", name, "PARTITION (…)" -> spec.isDefined)
        showPartitions(spark, cat, name)
      case TruncateTable(Owned(name)) => truncate(spark, cat, name)
      case _ => { registerViews(spark, cat); spark.sql(stmt) }
    }
  }

  /** The one-part name of the table a parsed statement targets. */
  private def tableName(p: LogicalPlan): Option[String] = {
    def single(parts: Seq[String]) = Some(parts).collect { case Seq(n) => n }
    p match {
      case SubqueryAlias(_, child) => tableName(child)
      case r: UnresolvedRelation => single(r.multipartIdentifier)
      case t: UnresolvedTable => single(t.multipartIdentifier)
      case t: UnresolvedTableOrView => single(t.multipartIdentifier)
      case i: UnresolvedIdentifier => single(i.nameParts)
      case _ => None
    }
  }

  private def newName(p: LogicalPlan): String = tableName(p).getOrElse(
    throw new CatalogException(s"catalog table names are one identifier: $p"))

  private def column(table: String, parts: Seq[String]): String = parts match {
    case Seq(c) => c
    case _ => throw new CatalogException(s"$table: no nested column ${parts.mkString(".")}")
  }

  /** Throw for the first clause present that the catalog does not implement. */
  private def refuse(verb: String, name: String, clauses: (String, Boolean)*): Unit =
    clauses.collectFirst { case (clause, true) => clause }.foreach { clause =>
      throw new CatalogException(s"$verb $name: $clause is not supported on a catalog table")
    }

  /** A dialect CREATE's TBLPROPERTIES, after refusing every other table
    * clause (layout lives in the properties, storage under the root).
    */
  private def properties(name: String, partitioning: Seq[_],
      spec: TableSpecBase): Map[String, String] = {
    val options = spec match {
      case s: UnresolvedTableSpec => s.optionExpression.options.nonEmpty
      case _ => false
    }
    refuse("CREATE TABLE", name, "PARTITIONED BY" -> partitioning.nonEmpty,
      "USING" -> spec.provider.isDefined, "OPTIONS" -> options,
      "LOCATION" -> spec.location.isDefined, "COMMENT" -> spec.comment.isDefined,
      "STORED AS / ROW FORMAT" -> spec.serde.isDefined, "EXTERNAL" -> spec.external)
    spec.properties
  }

  /** A declared column, shared by CREATE and ALTER … ADD COLUMNS. The
    * reference maps CHAR/VARCHAR onto plain STRING
    * (HiveKuduBridgeUtils.java:38-44).
    */
  private def field(name: String, dataType: DataType, nullable: Boolean,
      comment: Option[String]): StructField = {
    val f = StructField(name, CharVarcharUtils.replaceCharVarcharWithString(dataType), nullable)
    comment.fold(f)(f.withComment)
  }

  /** Layout TBLPROPERTIES → TableDef, shared by CREATE and CTAS so the two
    * can never accept different property dialects. `graft.range_columns`
    * (composite) wins over `graft.range_column` when both appear.
    */
  private def tableDefFromProps(name: String, schema: StructType,
      keyCols: Seq[String], props: Map[String, String]): TableDef = {
    def list(key: String): Seq[String] = props.get(key)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    val rangeCols = list("graft.range_columns")
    TableDef(name, schema, keyCols,
      buckets = props.get("graft.hash_buckets").map(_.trim.toInt).getOrElse(0),
      rangeCol = rangeCols.headOption.orElse(props.get("graft.range_column").map(_.trim)),
      hashCols = list("graft.hash_columns"),
      rangeGranularity = props.get("graft.range_granularity")
        .map(_.trim.toLowerCase).getOrElse("month"),
      rangeSubCols = if (rangeCols.nonEmpty) rangeCols.tail else Seq.empty,
      bloomCols = list("graft.bloom_columns"),
      // Kudu-style numeric ranges: 'graft.range_bounds'='0:1000,1000:2000'
      // (lower:upper pairs, lower <= VALUES < upper)
      rangeBounds = props.get("graft.range_bounds")
        .map(s => graft.catalog.KuduLikeCatalog.decodeBounds(s.trim))
        .getOrElse(Seq.empty))
  }

  private def requiredKeyCols(name: String, props: Map[String, String]): Seq[String] =
    props.get("kudu.key_columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(throw new CatalogException(
        s"CREATE TABLE $name requires TBLPROPERTIES('kudu.key_columns'='…') " +
          "(reference: README.md:28)"))

  /** CTAS — `CREATE TABLE t STORED BY … TBLPROPERTIES('kudu.key_columns'=…)
    * AS SELECT …` (Hive 1.1 dialect the reference delegates to hive-exec;
    * users of the reference reach for this on day one). The schema comes
    * from the SELECT, the key/bucket/range layout from the properties, and
    * the rows land through the catalog's strict [[KuduLikeCatalog.insert]]
    * discipline (PK non-null, in-batch dup-ignore). A failed load drops the
    * half-created table — CTAS is create+load or nothing.
    */
  private def createAsSelect(spark: SparkSession, cat: KuduLikeCatalog, name: String,
      ifNotExists: Boolean, props: Map[String, String], query: LogicalPlan): DataFrame = {
    if (ifNotExists && cat.exists(name))
      return status(spark, "CREATE TABLE AS SELECT", name, 0L)
    val keyCols = requiredKeyCols(name, props)
    registerViews(spark, cat) // the SELECT may read catalog tables
    val src = frame(spark, query)
    keyCols.foreach { k =>
      if (!src.columns.contains(k))
        throw new CatalogException(
          s"CTAS $name: key column $k not in SELECT output (${src.columns.mkString(",")})")
    }
    cat.createTable(tableDefFromProps(name, src.schema, keyCols, props))
    val n =
      try cat.insert(name, src)
      catch { case e: Throwable => cat.rollbackCreateTable(name); throw e }
    registerViews(spark, cat)
    status(spark, "CREATE TABLE AS SELECT", name, n)
  }

  /** `INSERT INTO` / `UPSERT INTO` / `INSERT OVERWRITE` [TABLE] `t` — the
    * query's columns map positionally onto the table (Hive INSERT
    * semantics), or by name with a column list or BY NAME, where unlisted
    * columns land NULL; every value casts to its declared type. OVERWRITE
    * is Hive's truncate-and-load ([[KuduLikeCatalog.overwrite]]); all three
    * keep the catalog's key discipline.
    */
  private def write(spark: SparkSession, cat: KuduLikeCatalog, name: String,
      i: InsertIntoStatement, upsert: Boolean): DataFrame = {
    val verb = if (upsert) "UPSERT INTO" else if (i.overwrite) "INSERT OVERWRITE" else "INSERT INTO"
    refuse(verb, name, "IF NOT EXISTS" -> i.ifPartitionNotExists,
      "PARTITION (…)" -> i.partitionSpec.nonEmpty, "OVERWRITE" -> (upsert && i.overwrite))
    val schema = cat.schemaOf(name)
    registerViews(spark, cat) // the SELECT form may read catalog tables
    val src = frame(spark, i.query)
    val cols =
      if (i.userSpecifiedCols.nonEmpty) i.userSpecifiedCols
      else if (i.byName) src.columns.toSeq
      else schema.fieldNames.toSeq
    val out = src.queryExecution.analyzed.output
    if (out.length != cols.length)
      throw new CatalogException(
        s"$verb $name: the query has ${out.length} columns for ${cols.length} target columns")
    val row = fullRow(verb, name, schema, Nil, cols.zip(out), f => Literal(null, f.dataType))
    val rows = src.select(row.map(ColumnBridge.column): _*)
    val n =
      if (upsert) cat.upsert(name, rows)
      else if (i.overwrite) cat.overwrite(name, rows)
      else cat.insert(name, rows)
    registerViews(spark, cat)
    status(spark, verb, name, n)
  }

  /** One full-schema projection from `assigns` (target column → value):
    * assigned columns CAST to their declared type, every other column
    * `rest(f)`. Unknown and twice-assigned columns reject, and so do the
    * `keys` given (Kudu cannot update a primary key either). Shared by
    * INSERT, UPDATE and every MERGE branch.
    */
  private def fullRow(verb: String, name: String, schema: StructType, keys: Seq[String],
      assigns: Seq[(String, Expression)], rest: StructField => Expression): Seq[NamedExpression] = {
    val byCol = assigns.map { case (c, e) => c.toLowerCase -> e }.toMap
    if (byCol.size < assigns.size)
      throw new CatalogException(s"$verb $name: a column is assigned twice")
    byCol.keys.find(k => keys.exists(_.equalsIgnoreCase(k))).foreach { k =>
      throw new CatalogException(
        s"$verb $name: cannot UPDATE key column $k (delete + insert instead)")
    }
    byCol.keys.find(k => !schema.fieldNames.exists(_.equalsIgnoreCase(k))).foreach { k =>
      throw new CatalogException(s"$verb $name: unknown column $k")
    }
    schema.fields.toSeq.map { f =>
      Alias(byCol.get(f.name.toLowerCase).fold(rest(f))(Cast(_, f.dataType)), f.name)()
    }
  }

  /** An assignment's target column: bare, or qualified by the table's
    * name or alias.
    */
  private def setColumn(verb: String, name: String, alias: String)(
      a: Assignment): (String, Expression) = a.key match {
    case UnresolvedAttribute(Seq(c)) => c -> a.value
    case UnresolvedAttribute(Seq(q, c)) if q.equalsIgnoreCase(alias) || q.equalsIgnoreCase(name) =>
      c -> a.value
    case k => throw new CatalogException(s"$verb $name: SET targets must be target columns ($k)")
  }

  private def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    DatasetBridge.ofRows(spark, plan)

  /** `UPDATE t SET c = expr, … [WHERE cond]` — the remaining row-level DML
    * verb after DELETE and MERGE. Compiles onto the catalog's upsert: one
    * scan of the live table selects the affected rows with assignments
    * applied (CAST to declared types, keys untouchable), and the result
    * lands as one delta layer through the same single write seam as every
    * other mutation (reference: all writes flow
    * HiveKuduTableOutputFormat.java:155-312). Snapshot semantics are free —
    * the projection evaluates against the pre-update snapshot, nothing
    * mutates until the layer's atomic rename, so `SET a = b WHERE a < b`
    * cannot observe itself.
    */
  private def update(spark: SparkSession, cat: KuduLikeCatalog, name: String,
      sets: Seq[Assignment], cond: Option[Expression]): DataFrame = {
    registerViews(spark, cat)
    val row = fullRow("UPDATE", name, cat.schemaOf(name), cat.keyColsOf(name),
      sets.map(setColumn("UPDATE", name, name)), f => UnresolvedAttribute(Seq(name, f.name)))
    val table = UnresolvedRelation(Seq(name))
    val n = cat.upsert(name, frame(spark, Project(row, cond.fold[LogicalPlan](table)(Filter(_, table)))))
    registerViews(spark, cat)
    status(spark, "UPDATE", name, n)
  }

  /** `MERGE INTO t USING src ON cond WHEN …` — the one DML verb a Hive/Kudu
    * user reaches for that the V2 catalog seam rejects (it would need
    * SupportsRowLevelOperations); here it compiles onto the catalog's OWN
    * primitives, the same single-write-seam discipline as the reference
    * (every reference write flows HiveKuduTableOutputFormat.java:155-312):
    *
    *  - WHEN MATCHED … UPDATE SET → upsert rows: the joined target rows
    *    with assignments applied (key columns may not be assigned — Kudu
    *    cannot update a primary key either);
    *  - WHEN MATCHED … DELETE → tombstone rows: the full matched target
    *    row (the join already holds the payload, so no second table scan);
    *  - WHEN NOT MATCHED … INSERT → upsert rows: the anti-joined source
    *    rows (`INSERT *` by name, or a column list with VALUES; unlisted
    *    non-key columns land NULL), dup-ignored against the live key set.
    *
    * Each branch is one plan, `Project(row, Filter(guard ∧ ¬priors,
    * Join(target, source, cond)))` (a left anti join for inserts), turned
    * into a frame once. All branches land in ONE delta layer via
    * [[KuduLikeCatalog.applyChangeset]] — one evaluation job against the
    * pre-merge snapshot, one shuffle, one atomic layer commit.
    *
    * Standard first-matching-clause semantics: a row claimed by an earlier
    * clause is excluded from later ones (guards are chained with
    * NOT coalesce(prior, false)), and per-key precedence across branches
    * resolves by clause index inside the changeset. Nothing mutates until
    * the single layer's atomic rename, so a MERGE whose UPDATE feeds its
    * own DELETE predicate cannot observe itself.
    * Several source rows hitting one target key resolve last-wins through
    * the catalog's in-batch dedup (standard SQL raises a cardinality error;
    * Kudu's upsert — the semantic this catalog mirrors — takes last-wins).
    */
  private def merge(spark: SparkSession, cat: KuduLikeCatalog, name: String,
      m: MergeIntoTable): DataFrame = {
    refuse("MERGE INTO", name,
      "WHEN NOT MATCHED BY SOURCE" -> m.notMatchedBySourceActions.nonEmpty,
      "WITH SCHEMA EVOLUTION" -> m.withSchemaEvolution)
    registerViews(spark, cat)
    val schema = cat.schemaOf(name)
    val keys = cat.keyColsOf(name)
    val alias = m.targetTable match {
      case SubqueryAlias(id, _) => id.name
      case _ => name
    }
    val table = SubqueryAlias(alias, UnresolvedRelation(Seq(name)))
    val cond = Some(m.mergeCondition)
    val matched = Join(table, m.sourceTable, Inner, cond, JoinHint.NONE)
    val unmatched = Join(m.sourceTable, table, LeftAnti, cond, JoinHint.NONE)
    val targetRow = (f: StructField) => UnresolvedAttribute(Seq(alias, f.name))
    val nulls = (f: StructField) => Literal(null, f.dataType)
    def isTrue(g: Expression): Expression = Coalesce(Seq(g, Literal(false)))
    def branches(from: LogicalPlan, clauses: Seq[MergeAction]): Seq[(String, DataFrame)] =
      clauses.indices.map { i =>
        val (verb, row) = clauses(i) match {
          case _: DeleteAction =>
            // full target row, not just keys: the matched join already holds
            // the payload the tombstone must carry, so DELETE costs no second
            // scan + semi-join against the table
            "delete" -> schema.fields.toSeq.map(f => Alias(targetRow(f), f.name)())
          case UpdateAction(_, sets, _) =>
            "update" -> fullRow("MERGE INTO", name, schema, keys,
              sets.map(setColumn("MERGE INTO", name, alias)), targetRow)
          case InsertAction(_, values) =>
            "insert" -> fullRow("MERGE INTO", name, schema, Nil,
              values.map(setColumn("MERGE INTO", name, alias)), nulls)
          case _: InsertStarAction =>
            // the anti join's output is the source's alone: names resolve there
            "insert" -> fullRow("MERGE INTO", name, schema, Nil,
              schema.fieldNames.toSeq.map(c => c -> UnresolvedAttribute.quoted(c)), nulls)
          case _: UpdateStarAction =>
            throw new CatalogException(
              s"MERGE INTO $name: UPDATE SET * is not supported on a catalog table")
        }
        val guard = clauses(i).condition.map(isTrue).toSeq ++
          clauses.take(i).map(p => Not(isTrue(p.condition.getOrElse(Literal(true)))))
        verb -> frame(spark, Project(row, guard.reduceOption(And).fold(from)(Filter(_, from))))
      }
    val actions = branches(matched, m.matchedActions) ++ branches(unmatched, m.notMatchedActions)

    // Single-changeset application: every branch row-set lands in ONE
    // delta layer through [[KuduLikeCatalog.applyChangeset]]. One job
    // evaluates all branches against the pre-merge snapshot — nothing
    // mutates until the layer's atomic rename, so MERGE keeps snapshot
    // semantics WITHOUT persisting each branch — and the changeset
    // shuffles/commits once where the layer-per-verb alternative paid
    // three cache materializations plus three write jobs. Per-key clause
    // precedence rides the __prio column (later clause wins, resolved
    // inside applyChangeset).
    val opCol = KuduLikeCatalog.OpCol
    val prioCol = KuduLikeCatalog.PrioCol
    val deletedKeys = actions.collect {
      case ("delete", df) => df.select(keys.map(col): _*)
    }.reduceOption(_ unionByName _)
    val changeset = actions.zipWithIndex.map { case ((verb, df), i) =>
      val rows = verb match {
        case "insert" =>
          // dup-ignore against the key set as the MATCHED clauses leave
          // it: pre-merge keys minus DELETE-condemned keys (an INSERT may
          // resurrect a key this same statement deletes — the sequential
          // layer-per-verb semantics this single layer replaces)
          val live = deletedKeys match {
            case Some(d) => cat.table(name).select(keys.map(col): _*)
              .join(d, keys.toSeq, "left_anti")
            case None => cat.table(name).select(keys.map(col): _*)
          }
          df.join(live, keys.toSeq, "left_anti")
        case _ => df
      }
      rows.withColumn(opCol, lit(if (verb == "delete") "delete" else "upsert"))
        .withColumn(prioCol, lit(i))
    }.reduce(_ unionByName _)
    val total = cat.applyChangeset(name, changeset)
    registerViews(spark, cat)
    status(spark, "MERGE INTO", name, total)
  }

  // ALTER TABLE t ADD|DROP RANGE PARTITION '<value>' | lo <= VALUES < hi
  private val RangePartitionHead =
    """(?is)^ALTER\s+TABLE\s+`?([\w.]+)`?\s+(ADD|DROP)\s+RANGE\s+PARTITION\s+(?:'([^']+)'|(-?\d+)\s*<=\s*VALUES\s*<\s*(-?\d+))$""".r

  /** `ALTER TABLE t DROP RANGE PARTITION '<value>'` is Kudu's instant
    * retention: one metadata write excludes the partition from every read;
    * no rewrite, no tombstones. ADD re-opens a dropped range EMPTY without
    * the O(table) compact (hardlink generation swap — KuduLikeCatalog).
    * Kudu's bound-pair forms work on numeric-bounds range tables: ADD
    * declares a new `lower <= VALUES < upper` range (or re-opens a dropped
    * one); DROP excludes it after checking the pair matches the
    * declaration.
    */
  private def rangePartition(spark: SparkSession, cat: KuduLikeCatalog, name: String,
      op: String, value: Option[String], lo: String, hi: String): DataFrame = {
    (op, value) match {
      case ("ADD", Some(v)) => cat.addRangePartition(name, v)
      case ("DROP", Some(v)) => cat.dropRangePartition(name, v)
      case ("ADD", None) => cat.addRangePartitionBounds(name, lo.toLong, hi.toLong)
      case _ =>
        if (!cat.rangeBoundsOf(name).contains((lo.toLong, hi.toLong)))
          throw new CatalogException(
            s"DROP RANGE PARTITION $name: no declared range " +
              s"[$lo,$hi) (have ${KuduLikeCatalog.encodeBounds(cat.rangeBoundsOf(name))})")
        cat.dropRangePartition(name, lo)
    }
    registerViews(spark, cat)
    status(spark, s"ALTER TABLE $op RANGE PARTITION", name, 1L)
  }

  private val DescribeHistoryHead =
    """(?is)^DESC(?:RIBE)?\s+HISTORY\s+`?([\w.]+)`?$""".r

  /** DESCRIBE [FORMATTED] <table> for catalog tables — the reference
    * transcript's step 2 (`describe formatted test_drop`, README.md:33 and
    * golden output README.md:76-110): a (col_name, data_type, comment) frame
    * listing the columns, and with FORMATTED also the Hive-style detailed
    * sections carrying the storage handler, the `kudu.*` / `graft.*` table
    * parameters, and the bucket/range partitioning. Non-catalog tables fall
    * through to Spark's own DESCRIBE.
    */
  private def describe(spark: SparkSession, cat: KuduLikeCatalog, name: String,
      formatted: Boolean): DataFrame = {
    import spark.implicits._
    val schema = cat.schemaOf(name)
    val keys = cat.keyColsOf(name)
    val cols = schema.fields.toSeq.map { f =>
      (f.name, f.dataType.simpleString,
        if (keys.contains(f.name)) "primary key" else "")
    }
    val rows =
      if (!formatted) cols
      else {
        val buckets = cat.bucketsOf(name)
        val range = cat.rangeColOf(name)
        cols ++ Seq(
          ("", "", ""),
          ("# Detailed Table Information", "", ""),
          ("Location:", cat.location(name), ""),
          ("Table Type:", "MANAGED_TABLE", ""),
          ("Table Parameters:", "", ""),
          ("", "kudu.table_name", name),
          ("", "kudu.key_columns", keys.mkString(",")),
          ("", "storage_handler", "graft.catalog.KuduLikeCatalog")) ++
          (if (buckets > 0) Seq(("", "graft.hash_buckets", buckets.toString)) else Nil) ++
          (if (buckets > 0 && cat.hashColsOf(name) != cat.keyColsOf(name))
             Seq(("", "graft.hash_columns", cat.hashColsOf(name).mkString(",")))
           else Nil) ++
          range.map { rc =>
            val subs = cat.rangeSubColsOf(name)
            if (subs.isEmpty) ("", "graft.range_column", rc)
            else ("", "graft.range_columns", (rc +: subs).mkString(","))
          }.toSeq ++
          cat.zoneOf(name).map(z => ("", "graft.range_zone", z)).toSeq ++
          (if (cat.rangeBoundsOf(name).nonEmpty)
             Seq(("", "graft.range_bounds",
               KuduLikeCatalog.encodeBounds(cat.rangeBoundsOf(name))))
           else Nil) ++
          (if (cat.bloomColsOf(name).nonEmpty)
             Seq(("", "graft.bloom_columns", cat.bloomColsOf(name).mkString(",")))
           else Nil) ++
          Seq(
            ("", "", ""),
            ("# Storage Information", "", ""),
            ("Num Buckets:", if (buckets > 0) buckets.toString else "-1", ""),
            ("Bucket Columns:",
              if (buckets > 0) keys.mkString("[", ", ", "]") else "[]", "")) ++
          // Hive surfaces numRows under Table Parameters after ANALYZE;
          // shown here only while the record is provably fresh
          cat.statsOf(name).toSeq.flatMap(st => Seq(
            ("", "", ""),
            ("# Statistics (ANALYZE)", "", ""),
            ("", "numRows", st.numRows.toString),
            ("", "analyzedAtVersion", st.analyzedAtVersion.toString)))
      }
    rows.toDF("col_name", "data_type", "comment")
  }

  /** `SHOW PARTITIONS t` — Hive's partition listing over the range+bucket
    * directory layout (the Kudu-tablet analog): one row per live base
    * partition dir, `__range=…/__bucket=…` shape. Like Hive, asking a
    * non-partitioned table is an error, not an empty result — silence
    * would read as "partitioned but empty". Metadata-only: lists the
    * manifest-live base directory, never opens data.
    */
  private def showPartitions(spark: SparkSession, cat: KuduLikeCatalog, name: String): DataFrame = {
    import spark.implicits._
    if (cat.bucketsOf(name) == 0 && cat.rangeColOf(name).isEmpty)
      throw new CatalogException(
        s"SHOW PARTITIONS $name: table is not partitioned (no buckets, no range column)")
    cat.partitionsOf(name).toDF("partition")
  }

  /** `SHOW CREATE TABLE t` — reconstructs DDL in the reference's dialect
    * (STORED BY + TBLPROPERTIES, README.md:22-31) that ROUND-TRIPS through
    * [[execute]]: executing the emitted statement yields a table with the
    * same schema, keys, buckets, and range column.
    */
  private def showCreate(spark: SparkSession, cat: KuduLikeCatalog, name: String): DataFrame = {
    import spark.implicits._
    val keys = cat.keyColsOf(name)
    val cols = cat.schemaOf(name).fields
      .map(f => s"  `${f.name}` ${f.dataType.sql}").mkString(",\n")
    val buckets = cat.bucketsOf(name)
    val props =
      Seq(s"'kudu.key_columns' = '${keys.mkString(",")}'") ++
      (if (buckets > 0) Seq(s"'graft.hash_buckets' = '$buckets'") else Nil) ++
      (if (buckets > 0 && cat.hashColsOf(name) != cat.keyColsOf(name))
         Seq(s"'graft.hash_columns' = '${cat.hashColsOf(name).mkString(",")}'")
       else Nil) ++
      cat.rangeColOf(name).map { rc =>
        val subs = cat.rangeSubColsOf(name)
        if (subs.isEmpty) s"'graft.range_column' = '$rc'"
        else s"'graft.range_columns' = '${(rc +: subs).mkString(",")}'"
      } ++
      (if (cat.rangeColOf(name).isDefined && cat.rangeBoundsOf(name).isEmpty &&
           cat.rangeGranularityOf(name) != "month")
         Seq(s"'graft.range_granularity' = '${cat.rangeGranularityOf(name)}'")
       else Nil) ++
      (if (cat.rangeBoundsOf(name).nonEmpty)
         Seq(s"'graft.range_bounds' = '${KuduLikeCatalog.encodeBounds(cat.rangeBoundsOf(name))}'")
       else Nil) ++
      (if (cat.bloomColsOf(name).nonEmpty)
         Seq(s"'graft.bloom_columns' = '${cat.bloomColsOf(name).mkString(",")}'")
       else Nil)
    val ddl =
      s"""CREATE TABLE `$name` (
         |$cols)
         |STORED BY 'graft.catalog.KuduLikeCatalog'
         |TBLPROPERTIES (
         |  ${props.mkString(",\n  ")})""".stripMargin
    Seq(ddl).toDF("createtab_stmt")
  }

  /** `TRUNCATE TABLE t` — an atomic empty overwrite: schema, keys, and
    * layout survive; readers see the full old state until the one-swap
    * commit, then an empty table (the crash-consistency discipline of
    * [[KuduLikeCatalog.overwrite]]). Delta layers are floored away by the
    * same commit, so no pre-truncate mutation can resurface.
    */
  private def truncate(spark: SparkSession, cat: KuduLikeCatalog, name: String): DataFrame = {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), cat.schemaOf(name))
    cat.overwrite(name, empty)
    registerViews(spark, cat)
    status(spark, "TRUNCATE TABLE", name, 0L)
  }

  private def status(spark: SparkSession, op: String, table: String, rows: Long): DataFrame = {
    import spark.implicits._
    Seq((op, table, rows)).toDF("operation", "table", "rows")
  }

  // A malformed form of a verb Spark's grammar lacks: the catalog's error,
  // not Spark's syntax error at the verb
  private val CatalogVerb = """(?is)^(OPTIMIZE|VACUUM|RESTORE|SHOW\s+COLUMN\s+STATS)\b.*""".r

  // `SHOW LITTER` lists and `VACUUM LITTER` sweeps orphaned job litter
  private val LitterHead = """(?i)^(SHOW|VACUUM)\s+LITTER$""".r

  /** `VACUUM t`: reclaim manifest-unreferenced storage (displaced base
    * generation + floored delta layers) — cuts the one-cycle snapshot
    * grace, so it is an explicit operator verb.
    */
  private val VacuumHead = """(?is)^VACUUM\s+`?([\w.]+)`?$""".r

  /** `CREATE TABLE dst CLONE src [VERSION AS OF v]` — the zero-copy
    * snapshot-clone verb (Delta SHALLOW CLONE's shape, hardlink-backed
    * here; see [[KuduLikeCatalog.cloneTable]]). The VERSION form pins the
    * branch to a mutation version — time travel materialized as a
    * writable table.
    */
  private val CloneHead =
    """(?is)^CREATE\s+TABLE\s+`?([\w.]+)`?\s+CLONE\s+`?([\w.]+)`?(?:\s+VERSION\s+AS\s+OF\s+(\d+))?$""".r

  /** `RESTORE TABLE t VERSION AS OF v` — in-place history truncation (the
    * write-back face of time travel; see [[KuduLikeCatalog.restoreTable]]).
    */
  private val RestoreHead =
    """(?is)^RESTORE\s+TABLE\s+`?([\w.]+)`?\s+VERSION\s+AS\s+OF\s+(\d+)$""".r

  /** `ANALYZE TABLE t COMPUTE STATISTICS [FOR ALL COLUMNS] [WITH
    * HISTOGRAM]` — the Hive/Impala stats verb (Impala's COMPUTE STATS is
    * how a Kudu table feeds its planner). One scan; always computes
    * column-level stats — at this schema width the split verb buys
    * nothing. WITH HISTOGRAM adds equi-height histograms for every
    * ordered-type column (two extra scans — see
    * [[KuduLikeCatalog.histogramsOf]]'s cost note). Result feeds Catalyst
    * CBO through the connector until the next mutation stales it
    * ([[KuduLikeCatalog.analyze]]).
    */
  private val AnalyzeHead =
    """(?is)^ANALYZE\s+TABLE\s+`?([\w.]+)`?\s+COMPUTE\s+STATISTICS(?:\s+FOR\s+ALL\s+COLUMNS)?(\s+WITH\s+HISTOGRAM)?$""".r

  private val ShowColStatsHead =
    """(?is)^SHOW\s+COLUMN\s+STATS\s+`?([\w.]+)`?$""".r

  /** `SHOW COLUMN STATS t` — Impala's per-column statistics listing, the
    * read face of ANALYZE. One row per analyzed column in schema order
    * (ndv, nulls, min/max decoded from their catalyst-internal storage,
    * byte lengths; blanks where a stat does not apply to the type).
    * Refuses loudly when no FRESH record exists: silently showing stats
    * from before a mutation is exactly what the fingerprint discipline
    * is there to prevent.
    */
  private def showColumnStats(spark: SparkSession, cat: KuduLikeCatalog, name: String): DataFrame = {
    if (!cat.exists(name))
      throw new CatalogException(s"SHOW COLUMN STATS $name: table does not exist")
    val rec = cat.statsOf(name).getOrElse(throw new CatalogException(
      s"SHOW COLUMN STATS $name: no fresh statistics — run " +
        s"ANALYZE TABLE $name COMPUTE STATISTICS (the table has been " +
        "mutated or altered since the last analyze, or never analyzed)"))
    val rows = cat.schemaOf(name).fields.toSeq.flatMap { f =>
      rec.cols.get(f.name).map { cs =>
        (f.name, f.dataType.simpleString, cs.ndv, cs.nullCount,
          cs.min.getOrElse(""), cs.max.getOrElse(""),
          cs.avgLen.map(_.toString).getOrElse(""),
          cs.maxLen.map(_.toString).getOrElse(""))
      }
    }
    import spark.implicits._
    rows.toDF("column", "type", "ndv", "nulls", "min_internal",
      "max_internal", "avg_len", "max_len")
  }

  private val OptimizeHead =
    """(?is)^OPTIMIZE\s+`?([\w.]+)`?(?:\s+(INCREMENTAL)|\s+ZORDER\s+BY\s*\(\s*([\w\s,`]+?)\s*\))?$""".r

  /** `OPTIMIZE t` (compaction: fold deltas, rewrite sized files),
    * `OPTIMIZE t INCREMENTAL` (fold deltas touching only the range
    * partitions they hit — [[KuduLikeCatalog.compactIncremental]]), and
    * `OPTIMIZE t ZORDER BY (a, b)` (multi-dimensional clustering — the
    * Delta-dialect face of [[KuduLikeCatalog.compactZOrdered]]). A single
    * linear cluster column routes to plain clustered compaction (z-order
    * of one dimension IS a sort).
    */
  private def optimize(spark: SparkSession, cat: KuduLikeCatalog, name: String,
      incremental: String, cols: String): DataFrame = {
    if (!cat.exists(name))
      throw new CatalogException(s"OPTIMIZE $name: table does not exist")
    val zorder = Option(cols).map(
      _.split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq)
      .getOrElse(Seq.empty)
    if (incremental != null) cat.compactIncremental(name)
    else zorder match {
      case Seq() => cat.compact(name)
      case Seq(one) => cat.compact(name, Seq(one))
      case many => cat.compactZOrdered(name, many)
    }
    registerViews(spark, cat)
    val verb =
      if (incremental != null) "OPTIMIZE INCREMENTAL"
      else if (zorder.size >= 2) "OPTIMIZE ZORDER"
      else "OPTIMIZE"
    status(spark, verb, name, 0L)
  }
}
