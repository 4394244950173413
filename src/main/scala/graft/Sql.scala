package graft

/** Ad-hoc SQL runner over the fixture tables and the keyed-table catalog —
  * the analog of the Hive CLI session in the reference's demo
  * (reference: README.md:46-218).
  *
  * `tools/graft.sh Sql <sfDir> "<sql>[; <sql>…]"` — registers every fixture
  * table as a view plus the graft SQL functions, then executes each
  * statement through [[GraftSql]]: catalog DDL/DML (`CREATE TABLE … STORED
  * BY … TBLPROPERTIES('kudu.key_columns'=…)`, `INSERT INTO`, `UPSERT INTO`,
  * `DELETE FROM`, `DROP TABLE`) routes to the [[graft.catalog.KuduLikeCatalog]]
  * rooted at `$GRAFT_CATALOG_ROOT` (default `/tmp/graft_catalog`); anything
  * else runs as plain Spark SQL with the catalog tables in scope as views.
  */
object Sql {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Sql <sfDir> <sql>[;<sql>…] [maxRows]")
    val (sfDir, sql) = (args(0), args(1))
    val maxRows = if (args.length > 2) args(2).toInt else 100
    val spark = Session.local()
    Tables.registerAll(spark, sfDir)
    GraftExtensions.register(spark)
    val cat = new graft.catalog.KuduLikeCatalog(
      spark, sys.env.getOrElse("GRAFT_CATALOG_ROOT", "/tmp/graft_catalog"))
    splitStatements(sql).foreach { stmt =>
      GraftSql.execute(spark, cat, stmt).show(maxRows, truncate = false)
    }
    spark.stop()
  }

  /** Split on `;` outside single-quoted literals (a `';'` inside a string
    * constant must not end the statement). Escaped quotes inside a literal —
    * the SQL-standard doubled `''` and backslash `\'` — are content, so
    * `VALUES (1, 'it''s; x')` stays one statement.
    */
  private[graft] def splitStatements(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) {
        if (c == '\\' && i + 1 < s.length) { cur.append(c).append(s.charAt(i + 1)); i += 1 }
        else if (c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
          cur.append("''"); i += 1
        } else { if (c == '\'') inQuote = false; cur.append(c) }
      } else if (c == '\'') { inQuote = true; cur.append(c) }
      else if (c == ';') { out += cur.toString; cur.clear() }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }
}
