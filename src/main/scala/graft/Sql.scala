package graft

import org.apache.spark.sql.catalyst.parser.SqlBaseLexer

/** Ad-hoc SQL runner over the fixture tables and the keyed-table catalog —
  * the analog of the Hive CLI session in the reference's demo
  * (reference: README.md:46-218).
  *
  * `tools/graft.sh Sql <sfDir> "<sql>[; <sql>…]"` — registers every fixture
  * table as a view plus the graft SQL functions, then executes each
  * statement through [[GraftSql]]: Spark parses it, and a plan that names
  * a table of the [[graft.catalog.KuduLikeCatalog]] rooted at
  * `$GRAFT_CATALOG_ROOT` (default `/tmp/graft_catalog`) routes there
  * (`CREATE TABLE … STORED BY … TBLPROPERTIES('kudu.key_columns'=…)`,
  * `INSERT INTO`, `UPSERT INTO`, `DELETE FROM`, `DROP TABLE`, …); anything
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

  /** Split on the `;` tokens of Spark's own lexer, so a `;` inside a
    * literal (single- or double-quoted, with `''` or `\'` escapes) or a
    * comment never ends a statement. Each statement runs from its first
    * token to its last; empty statements are dropped.
    */
  private[graft] def splitStatements(s: String): Seq[String] = {
    val toks = GraftSql.tokens(s)
    val cuts = -1 +: toks.indices.filter(toks(_).getType == SqlBaseLexer.SEMICOLON) :+ toks.length
    cuts.sliding(2).collect { case Seq(a, b) if b - a > 1 =>
      s.substring(toks(a + 1).getStartIndex, toks(b - 1).getStopIndex + 1)
    }.toSeq
  }
}
