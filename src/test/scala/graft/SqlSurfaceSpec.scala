package graft

import graft.catalog.{CatalogException, KuduLikeCatalog}
import org.apache.spark.sql.functions._

/** The SQL statement surface of [[GraftSql]] beyond the golden transcript:
  * property-driven partitioning, UPSERT/DELETE, INSERT…SELECT, type
  * normalization, and error behavior (reference: README.md:22-44 is the
  * dialect being accepted).
  */
class SqlSurfaceSpec extends SparkSpec {

  private def fresh(): (KuduLikeCatalog, String => org.apache.spark.sql.DataFrame) = {
    val cat = new KuduLikeCatalog(spark, tmpDir("graft_sqlsurf_"))
    (cat, (s: String) => GraftSql.execute(spark, cat, s))
  }

  test("CREATE honors graft.hash_buckets / graft.range_column; varchar/char map to string") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE ev (id BIGINT, ts TIMESTAMP, tag VARCHAR(10), c CHAR(2))
          |STORED BY 'handler'
          |TBLPROPERTIES('kudu.key_columns'='id',
          |  'graft.hash_buckets'='4', 'graft.range_column'='ts')""".stripMargin)
    assert(cat.bucketsOf("ev") === 4)
    assert(cat.rangeColOf("ev") === Some("ts"))
    // closed type set: varchar/char became plain string (reference
    // HiveKuduBridgeUtils.java:38-44)
    assert(cat.schemaOf("ev")("tag").dataType === org.apache.spark.sql.types.StringType)
    assert(cat.schemaOf("ev")("c").dataType === org.apache.spark.sql.types.StringType)
    sql("INSERT INTO ev VALUES (1, TIMESTAMP'2024-01-05 00:00:00', 'x', 'ab')")
    assert(sql("SELECT count(*) FROM ev").head().getLong(0) === 1L)
  }

  test("UPSERT INTO replaces by key; DELETE FROM … WHERE removes; views refresh") {
    val (_, sql) = fresh()
    sql("""CREATE TABLE t (id INT, name STRING)
          |TBLPROPERTIES('kudu.key_columns'='id')""".stripMargin)
    sql("INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c')")
    assert(sql("UPSERT INTO t VALUES (2,'B!'),(4,'d')").head().getLong(2) === 2L)
    assert(sql("SELECT name FROM t WHERE id = 2").head().getString(0) === "B!")
    assert(sql("DELETE FROM t WHERE id % 2 = 0").head().getLong(2) === 2L)
    assert(sql("SELECT id FROM t").collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 3))
  }

  test("UPDATE … SET … WHERE: assignments cast, snapshot semantics, keys untouchable") {
    val (_, sql) = fresh()
    sql("""CREATE TABLE u (id INT, a INT, b INT, tag STRING)
          |TBLPROPERTIES('kudu.key_columns'='id')""".stripMargin)
    sql("INSERT INTO u VALUES (1,1,10,'x'),(2,2,20,'y'),(3,3,30,'x')")
    // WHERE filters; expressions see the pre-update row; result casts to
    // the declared column type (1.5 * b is DOUBLE, column is INT)
    val n = sql("UPDATE u SET a = a + b, b = 1.5 * b WHERE tag = 'x'")
      .head().getLong(2)
    assert(n === 2L)
    val rows = sql("SELECT id, a, b FROM u ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(rows === Seq((1, 11, 15), (2, 2, 20), (3, 33, 45)))
    // self-referential update cannot observe itself: SET a = b swaps
    // against the snapshot even when b is also assigned
    sql("UPDATE u SET a = b, b = a WHERE id = 1")
    val r1 = sql("SELECT a, b FROM u WHERE id = 1").head()
    assert((r1.getInt(0), r1.getInt(1)) === (15, 11))
    // no WHERE → whole table; status frame reports the full row count
    assert(sql("UPDATE u SET tag = 'all'").head().getLong(2) === 3L)
    assert(sql("SELECT count(*) FROM u WHERE tag = 'all'").head().getLong(0) === 3L)
    // key assignment and unknown columns reject before anything mutates
    intercept[CatalogException](sql("UPDATE u SET id = 99"))
    intercept[CatalogException](sql("UPDATE u SET nope = 1"))
    // non-catalog UPDATE falls through to spark.sql (which rejects it for
    // a plain view — the router must not swallow other tables' DML)
    spark.range(3).createOrReplaceTempView("not_ours")
    intercept[Exception](sql("UPDATE not_ours SET id = 1"))
  }

  test("DESCRIBE HISTORY: version ledger with commit times and footer-only counts") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE h (id INT, v DOUBLE)
          |TBLPROPERTIES('kudu.key_columns'='id','graft.hash_buckets'='2')""".stripMargin)
    sql("INSERT INTO h VALUES (1,1.0),(2,2.0),(3,3.0)")
    sql("UPSERT INTO h VALUES (2,22.0)")          // version 1
    sql("DELETE FROM h WHERE id = 3")             // version 2
    val hist = sql("DESCRIBE HISTORY h").collect()
    assert(hist.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((0, "base"), (1, "delta"), (2, "delta")))
    // footer counts: base has the 3 inserted rows, each layer exactly its
    // mutation rows; commit times never decrease along versions
    assert(hist.map(_.getLong(4)).toSeq === Seq(3L, 1L, 1L))
    val times = hist.map(_.getTimestamp(2).getTime).toSeq
    assert(times === times.sorted)
    // compaction folds the ledger: one base at the floor, no layers
    cat.compact("h")
    val after = sql("DESCRIBE HISTORY h").collect()
    assert(after.map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((2, "base")))
    assert(after.head.getLong(4) === 2L, "3 inserted - 1 deleted")
  }

  test("MERGE INTO: update + delete + insert branches with standard clause semantics") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE acct (id BIGINT, bal DOUBLE, st STRING)
          |TBLPROPERTIES('kudu.key_columns'='id', 'graft.hash_buckets'='2')""".stripMargin)
    sql("INSERT INTO acct VALUES (1, 10.0, 'open'), (2, 20.0, 'open'), (3, 30.0, 'open'), (4, 40.0, 'open')")
    // source: id 2 closes (delete), id 3 adjusts (update), ids 5,6 are new
    // (insert); id 4 matches no WHEN guard and must be untouched
    val st = sql(
      """MERGE INTO acct AS t
        |USING (SELECT * FROM VALUES
        |  (CAST(2 AS BIGINT), 0.0,  'close'),
        |  (CAST(3 AS BIGINT), 5.5,  'adjust'),
        |  (CAST(4 AS BIGINT), 99.0, 'noop'),
        |  (CAST(5 AS BIGINT), 50.0, 'new'),
        |  (CAST(6 AS BIGINT), 60.0, 'new') AS v(id, amt, action)) AS s
        |ON t.id = s.id
        |WHEN MATCHED AND s.action = 'close' THEN DELETE
        |WHEN MATCHED AND s.action = 'adjust' THEN UPDATE SET bal = t.bal + s.amt, st = 'adj'
        |WHEN NOT MATCHED AND s.action = 'new' THEN INSERT (id, bal, st) VALUES (s.id, s.amt, 'opened')
        |""".stripMargin)
    assert(st.head().getLong(2) === 4L) // 1 delete + 1 update + 2 inserts
    val rows = cat.table("acct").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(rows === Map(
      1L -> (10.0, "open"),     // untouched (no source match)
      3L -> (35.5, "adj"),      // updated: 30 + 5.5
      4L -> (40.0, "open"),     // matched but no guard hit — untouched
      5L -> (50.0, "opened"),   // inserted
      6L -> (60.0, "opened")))  // inserted (id 2 deleted)
  }

  test("MERGE INTO: INSERT *, earlier clause wins, key update rejected") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE t (id INT, v DOUBLE)
          |TBLPROPERTIES('kudu.key_columns'='id')""".stripMargin)
    sql("INSERT INTO t VALUES (1, 1.0), (2, 2.0)")
    // first-matching-clause: the unguarded UPDATE claims what the guarded
    // DELETE (listed first) leaves behind
    sql("""MERGE INTO t USING (SELECT * FROM VALUES (1, 100.0), (2, 200.0), (9, 9.0)
          |  AS v(id, v)) AS s ON t.id = s.id
          |WHEN MATCHED AND s.v > 150.0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = cat.table("t").collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(rows === Map(1 -> 100.0, 9 -> 9.0)) // 2 deleted, 1 updated, 9 inserted
    // assigning a key column must fail loudly (Kudu cannot update a PK)
    val e = intercept[graft.catalog.CatalogException] {
      sql("""MERGE INTO t USING (SELECT 1 AS id) AS s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET id = 99""".stripMargin)
    }
    assert(e.getMessage.contains("key column"))
  }

  test("DML clause cuts ignore WHERE/THEN/WHEN inside literals, CASE, subqueries") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE q (id INT, a INT, tag STRING)
          |TBLPROPERTIES('kudu.key_columns'='id')""".stripMargin)
    sql("INSERT INTO q VALUES (1,1,'x'),(2,2,'y'),(3,3,'z')")
    // a WHERE inside a SET string literal is content, not the predicate cut
    sql("UPDATE q SET tag = 'a WHERE b' WHERE id = 1")
    assert(cat.table("q").where("id = 1").head().getString(2) === "a WHERE b")
    assert(cat.table("q").where("id = 2").head().getString(2) === "y")
    // CASE … THEN … END in a SET expression: its WHERE-free THENs must not
    // confuse the cut, and the real WHERE after END still applies
    sql("UPDATE q SET a = CASE WHEN a >= 2 THEN a * 10 ELSE -1 END WHERE id <= 2")
    assert(cat.table("q").orderBy("id").collect().map(_.getInt(1)).toSeq
      === Seq(-1, 20, 3))
    // a scalar subquery carrying its own WHERE stays inside the SET
    sql("UPDATE q SET a = (SELECT max(id) FROM q WHERE id < 3) WHERE id = 3")
    assert(cat.table("q").where("id = 3").head().getInt(1) === 2)
    // MERGE: CASE in a guard (its THEN must not end the guard), THEN/WHEN
    // keywords inside string literals in SET and INSERT values
    sql("""MERGE INTO q USING (SELECT * FROM VALUES (2, 5), (9, 9) AS v(id, n)) AS s
          |ON q.id = s.id
          |WHEN MATCHED AND CASE WHEN s.n > 4 THEN true ELSE false END
          |  THEN UPDATE SET tag = 'x THEN y'
          |WHEN NOT MATCHED AND s.n IN (SELECT n FROM VALUES (9) AS w(n) WHERE 'WHEN MATCHED' = 'WHEN MATCHED')
          |  THEN INSERT (id, a, tag) VALUES (s.id, s.n, 'WHEN NOT MATCHED')
          |""".stripMargin)
    val rows = cat.table("q").collect().map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(rows(2) === "x THEN y")
    assert(rows(9) === "WHEN NOT MATCHED")
    assert(cat.table("q").where("id = 9").head().getInt(1) === 9)
    def a(id: Int) = cat.table("q").where(s"id = $id").head().getInt(1)
    // a WHERE inside a line comment is not the predicate
    sql("UPDATE q SET a = 7 -- not WHERE id = 2\nWHERE id = 3")
    assert((a(2), a(3)) === (20, 7))
    // a double-quoted literal is a literal: its WHERE is content
    assert(sql("""UPDATE q SET tag = "a WHERE b" WHERE id = 1""").head().getLong(2) === 1L)
    assert(cat.table("q").where("tag = 'a WHERE b'").collect().map(_.getInt(0)).toSeq === Seq(1))
    // nor is a WHERE inside a block comment
    sql("UPDATE q SET a = 5 /* WHERE id = 1 */ WHERE id = 2")
    assert((a(1), a(2)) === (-1, 5))
    // a commented-out clause is no clause
    sql("""MERGE INTO q USING (SELECT * FROM VALUES (3, 30) AS v(id, n)) AS s
          |ON q.id = s.id
          |-- WHEN MATCHED THEN DELETE is not wanted here
          |WHEN MATCHED THEN UPDATE SET a = s.n
          |""".stripMargin)
    assert(a(3) === 30)
    // a comment between table and WHERE still leaves a catalog DELETE
    assert(sql("DELETE FROM q -- all of it?\nWHERE id = 3").head().getLong(2) === 1L)
    assert(cat.table("q").orderBy("id").collect().map(r => r.getInt(0) -> r.getInt(1)).toSeq
      === Seq(1 -> -1, 2 -> 5, 9 -> 9))
  }

  test("INSERT INTO t (cols) maps by name; clauses the catalog lacks are refused by name") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE n (id INT, a INT, tag STRING)
          |TBLPROPERTIES('kudu.key_columns'='id')""".stripMargin)
    // listed columns land by name, in any order, cast to the declared
    // type; unlisted columns land NULL (MERGE's INSERT (cols) rule)
    assert(sql("INSERT INTO n (tag, id) VALUES ('x', 1), ('y', 2L)").head().getLong(2) === 2L)
    assert(sql("UPSERT INTO n (id, a) VALUES (2, 20)").head().getString(0) === "UPSERT INTO")
    def state() = cat.table("n").orderBy("id").collect()
      .map(r => (r.getInt(0), Option(r.get(1)), Option(r.getString(2)))).toSeq
    val expected = Seq((1, None, Some("x")), (2, Some(20), None))
    assert(state() === expected)
    // an unknown column, or a column list the query does not fill, lands nothing
    intercept[CatalogException](sql("INSERT INTO n (id, nope) VALUES (3, 1)"))
    intercept[CatalogException](sql("INSERT INTO n (id, a) VALUES (3, 1, 'z')"))
    // what the parser reports and the catalog does not implement is
    // refused by name, never dropped
    def refused(stmt: String, clause: String): Unit = {
      val e = intercept[CatalogException](sql(stmt))
      assert(e.getMessage.contains(clause), e.getMessage)
    }
    refused("INSERT INTO n PARTITION (a = 1) VALUES (3, 'z')", "PARTITION")
    refused("INSERT OVERWRITE TABLE n PARTITION (a = 1) IF NOT EXISTS SELECT 3, 'z'",
      "IF NOT EXISTS")
    refused("""MERGE INTO n USING (SELECT 1 AS id) AS s ON n.id = s.id
              |WHEN MATCHED THEN DELETE
              |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin,
      "WHEN NOT MATCHED BY SOURCE")
    assert(state() === expected)
  }

  test("INSERT INTO … SELECT reads other views, casts positionally") {
    val (_, sql) = fresh()
    sql("""CREATE TABLE regions (rid BIGINT, rname STRING)
          |TBLPROPERTIES('kudu.key_columns'='rid')""".stripMargin)
    Tables.registerAll(spark, sf)
    // region fixture: r_regionkey BIGINT, r_name STRING — cast + rename is positional
    val st = sql("INSERT INTO regions SELECT r_regionkey, r_name FROM region")
    assert(st.head().getLong(2) === 5L)
    assert(sql("SELECT count(*) FROM regions").head().getLong(0) === 5L)
    // dup-ignore also applies to the SELECT form
    assert(sql("INSERT INTO regions SELECT r_regionkey, r_name FROM region")
      .head().getLong(2) === 0L)
  }

  test("CREATE without kudu.key_columns fails loudly; IF NOT EXISTS is idempotent") {
    val (cat, sql) = fresh()
    // STORED BY marks the reference dialect → catalog path → missing
    // kudu.key_columns is an error, not a silent fall-through
    val e = intercept[CatalogException] {
      sql("CREATE TABLE nope (id INT) STORED BY 'handler' TBLPROPERTIES('kudu.table_name'='nope')")
    }
    assert(e.getMessage.contains("kudu.key_columns"))
    sql("CREATE TABLE t (id INT) TBLPROPERTIES('kudu.key_columns'='id')")
    sql("CREATE TABLE IF NOT EXISTS t (id INT) TBLPROPERTIES('kudu.key_columns'='id')")
    intercept[CatalogException] {
      sql("CREATE TABLE t (id INT) TBLPROPERTIES('kudu.key_columns'='id')")
    }
    assert(cat.tableNames === Seq("t"))
  }

  test("plain Spark CREATE/DROP pass through; only the reference dialect hits the catalog") {
    val (cat, sql) = fresh()
    // CTAS with no STORED BY / kudu.* properties is Spark's business
    sql("CREATE TABLE plain_ctas AS SELECT 1 AS id")
    try {
      assert(sql("SELECT count(*) FROM plain_ctas").head().getLong(0) === 1L)
      assert(cat.tableNames.isEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS plain_ctas")
    // DROP of a non-catalog table must reach spark.sql (not fake success)
    spark.sql("CREATE TABLE plain_t (id INT) USING parquet")
    sql("DROP TABLE IF EXISTS plain_t")
    assert(!spark.catalog.tableExists("plain_t"))
    // multi-line catalog DML still routes to the catalog
    sql("CREATE TABLE ml (id INT, v STRING)\nTBLPROPERTIES('kudu.key_columns'='id')")
    sql("-- load batch\nINSERT\n  INTO ml\nVALUES (1,'x')")
    assert(sql("SELECT count(*) FROM ml").head().getLong(0) === 1L)
    sql("DELETE\nFROM ml\nWHERE id = 1")
    assert(sql("SELECT count(*) FROM ml").head().getLong(0) === 0L)
  }

  test("ALTER TABLE ADD COLUMN(S) evolves the schema online") {
    val (cat, sql) = fresh()
    sql("CREATE TABLE t (id INT, v STRING) TBLPROPERTIES('kudu.key_columns'='id')")
    sql("INSERT INTO t VALUES (1,'a')")
    sql("ALTER TABLE t ADD COLUMN score DOUBLE")
    sql("ALTER TABLE t ADD COLUMNS (tag VARCHAR(8), n BIGINT)")
    assert(cat.schemaOf("t").fieldNames.toSeq === Seq("id", "v", "score", "tag", "n"))
    sql("INSERT INTO t VALUES (2,'b', 1.5, 'x', 9)")
    val rows = sql("SELECT id, score, tag, n FROM t ORDER BY id").collect()
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2) && rows(0).isNullAt(3))
    assert(rows(1).getDouble(1) === 1.5 && rows(1).getString(2) === "x" && rows(1).getLong(3) === 9L)
    // ALTER on a non-catalog table falls through to spark.sql (and fails
    // there if the relation is a temp view)
    intercept[Exception] { sql("ALTER TABLE no_such_t ADD COLUMN x INT") }
  }

  test("ALTER TABLE DROP COLUMN(S): SQL route, atomic multi-drop") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE d (id INT, a INT, b INT, c STRING)
          |TBLPROPERTIES('kudu.key_columns'='id')""".stripMargin)
    sql("INSERT INTO d VALUES (1,1,10,'x'),(2,2,20,'y')")
    assert(sql("ALTER TABLE d DROP COLUMN b").head().getLong(2) === 1L)
    assert(cat.schemaOf("d").fieldNames.toSeq === Seq("id", "a", "c"))
    assert(sql("SELECT * FROM d WHERE id = 1").head().getString(2) === "x")
    // multi-drop with parens; a bad column aborts the WHOLE statement
    intercept[CatalogException](sql("ALTER TABLE d DROP COLUMNS (a, nope)"))
    assert(cat.schemaOf("d").fieldNames.contains("a"))
    sql("ALTER TABLE d DROP COLUMNS (a, c)")
    assert(cat.schemaOf("d").fieldNames.toSeq === Seq("id"))
    intercept[CatalogException](sql("ALTER TABLE d DROP COLUMN id"))
  }

  test("CTAS: CREATE TABLE … STORED BY … TBLPROPERTIES … AS SELECT loads through the catalog") {
    val (cat, sql) = fresh()
    Tables.registerAll(spark, sf)
    val st = sql("""CREATE TABLE nat_ctas
      |STORED BY 'handler'
      |TBLPROPERTIES('kudu.key_columns'='n_nationkey', 'graft.hash_buckets'='2')
      |AS SELECT n_nationkey, n_name FROM nation""".stripMargin)
    assert(st.head().getString(0) === "CREATE TABLE AS SELECT")
    assert(st.head().getLong(2) === 25L)
    // layout from the properties, schema from the SELECT
    assert(cat.keyColsOf("nat_ctas") === Seq("n_nationkey"))
    assert(cat.bucketsOf("nat_ctas") === 2)
    assert(cat.schemaOf("nat_ctas").fieldNames.toSeq === Seq("n_nationkey", "n_name"))
    assert(sql("SELECT count(*) FROM nat_ctas").head().getLong(0) === 25L)
    // IF NOT EXISTS: second CTAS is a no-op, not a reload
    assert(sql("""CREATE TABLE IF NOT EXISTS nat_ctas STORED BY 'h'
      |TBLPROPERTIES('kudu.key_columns'='n_nationkey')
      |AS SELECT n_nationkey, n_name FROM nation""".stripMargin).head().getLong(2) === 0L)
    // key column missing from the SELECT output → loud error, no half table
    intercept[CatalogException] {
      sql("""CREATE TABLE bad_ctas STORED BY 'h'
        |TBLPROPERTIES('kudu.key_columns'='nope') AS SELECT n_name FROM nation""".stripMargin)
    }
    assert(!cat.exists("bad_ctas"))
    // the batch goes through the same dup-ignore key discipline as INSERT
    val st2 = sql("""CREATE TABLE dup_ctas STORED BY 'h'
      |TBLPROPERTIES('kudu.key_columns'='k')
      |AS SELECT * FROM VALUES (1,'a'),(1,'b'),(2,'c') AS t(k, v)""".stripMargin)
    assert(st2.head().getLong(2) === 2L)
    // LOAD failure after the create (NULL in a key column violates the PK
    // discipline inside insert) must drop the half-created table — CTAS is
    // create+load or nothing
    intercept[Exception] {
      sql("""CREATE TABLE nullkey_ctas STORED BY 'h'
        |TBLPROPERTIES('kudu.key_columns'='k')
        |AS SELECT * FROM VALUES (CAST(NULL AS INT),'a'),(2,'b') AS t(k, v)""".stripMargin)
    }
    assert(!cat.exists("nullkey_ctas"), "half-created table must be rolled back")
    // parenthesized query form
    sql("""CREATE TABLE paren_ctas STORED BY 'h'
      |TBLPROPERTIES('kudu.key_columns'='k') AS (SELECT 1 AS k, 'x' AS v)""".stripMargin)
    assert(sql("SELECT count(*) FROM paren_ctas").head().getLong(0) === 1L)
  }

  test("INSERT OVERWRITE TABLE truncates and loads with the key discipline") {
    val (cat, sql) = fresh()
    sql("CREATE TABLE t (id INT, v STRING) TBLPROPERTIES('kudu.key_columns'='id')")
    sql("INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c')")
    // pending delta layers from an upsert — OVERWRITE must replace them too
    sql("UPSERT INTO t VALUES (3,'C!')")
    val e0 = cat.baseEpoch("t")
    val st = sql("INSERT OVERWRITE TABLE t VALUES (7,'x'),(8,'y'),(8,'y2')")
    assert(st.head().getString(0) === "INSERT OVERWRITE")
    assert(st.head().getLong(2) === 2L) // in-batch dup-ignore on id=8
    assert(sql("SELECT id FROM t").collect().map(_.getInt(0)).sorted.toSeq === Seq(7, 8))
    // deterministic survivor for the duplicated key: first by non-key order
    assert(sql("SELECT v FROM t WHERE id = 8").head().getString(0) === "y")
    // replacing contents invalidates changelog consumers: epoch must move
    assert(cat.baseEpoch("t") > e0)
    // SELECT form with positional cast (r_regionkey BIGINT → id INT)
    Tables.registerAll(spark, sf)
    assert(sql("INSERT OVERWRITE t SELECT r_regionkey, r_name FROM region")
      .head().getLong(2) === 5L)
    assert(sql("SELECT count(*) FROM t").head().getLong(0) === 5L)
    // a second overwrite fully replaces the first (no leftover rows)
    assert(sql("INSERT OVERWRITE TABLE t VALUES (42,'only')").head().getLong(2) === 1L)
    assert(sql("SELECT id, v FROM t").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      === Seq((42, "only")))
  }

  test("CLI statement split respects quoted semicolons") {
    assert(Sql.splitStatements("SELECT 1; SELECT 'a;b' ;; SELECT 2")
      === Seq("SELECT 1", "SELECT 'a;b'", "SELECT 2"))
    assert(Sql.splitStatements("INSERT INTO t VALUES (1, ';')")
      === Seq("INSERT INTO t VALUES (1, ';')"))
    // double quotes and comments hide semicolons too; escaped quotes stay
    // inside their literal
    assert(Sql.splitStatements("SELECT \"a;b\"; SELECT 1") === Seq("SELECT \"a;b\"", "SELECT 1"))
    assert(Sql.splitStatements("SELECT 1 -- c;d\n; SELECT 'x;y'")
      === Seq("SELECT 1", "SELECT 'x;y'"))
    assert(Sql.splitStatements("SELECT /* ; */ 2") === Seq("SELECT /* ; */ 2"))
    assert(Sql.splitStatements("VALUES ('it''s; x'); VALUES ('a\\';b')")
      === Seq("VALUES ('it''s; x')", "VALUES ('a\\';b')"))
  }

  test("SHOW TABLES lists the catalog; SHOW CREATE TABLE round-trips the DDL") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE ev (id BIGINT, ts TIMESTAMP, v DOUBLE)
          |STORED BY 'handler'
          |TBLPROPERTIES('kudu.key_columns'='id',
          |  'graft.hash_buckets'='4', 'graft.range_column'='ts')""".stripMargin)
    sql("CREATE TABLE flat (k INT, s STRING) TBLPROPERTIES('kudu.key_columns'='k')")
    assert(sql("SHOW TABLES").collect().map(_.getString(0)).toSeq === Seq("ev", "flat"))
    // the emitted DDL must round-trip through the dialect parser: same
    // schema, keys, and layout on a table created FROM it
    val ddl = sql("SHOW CREATE TABLE ev").head().getString(0)
    assert(ddl.contains("STORED BY") && ddl.contains("kudu.key_columns"))
    val cat2 = new KuduLikeCatalog(spark, tmpDir("graft_sqlsurf_rt_"))
    GraftSql.execute(spark, cat2, ddl)
    assert(cat2.schemaOf("ev") === cat.schemaOf("ev"))
    assert(cat2.keyColsOf("ev") === cat.keyColsOf("ev"))
    assert(cat2.bucketsOf("ev") === 4)
    assert(cat2.rangeColOf("ev") === Some("ts"))
    // bucketless/rangeless tables emit no layout properties
    val flatDdl = sql("SHOW CREATE TABLE flat").head().getString(0)
    assert(!flatDdl.contains("graft.hash_buckets") && !flatDdl.contains("graft.range_column"))
  }

  test("TRUNCATE TABLE empties atomically, keeps schema/layout, floors deltas") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE t (id INT, v STRING)
          |TBLPROPERTIES('kudu.key_columns'='id', 'graft.hash_buckets'='2')""".stripMargin)
    sql("INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("UPSERT INTO t VALUES (2,'B!')") // a pending delta layer
    sql("TRUNCATE TABLE t")
    assert(sql("SELECT count(*) FROM t").head().getLong(0) === 0L)
    assert(cat.schemaOf("t").fieldNames.toSeq === Seq("id", "v"))
    assert(cat.bucketsOf("t") === 2)
    // the floored delta cannot resurface, and the table remains writable
    sql("INSERT INTO t VALUES (9,'z')")
    assert(sql("SELECT id, v FROM t").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      === Seq((9, "z")))
  }

  test("non-catalog statements fall through to spark.sql with catalog views in scope") {
    val (_, sql) = fresh()
    sql("""CREATE TABLE dim (id INT, v STRING)
          |TBLPROPERTIES('kudu.key_columns'='id')""".stripMargin)
    sql("INSERT INTO dim VALUES (1,'x'),(2,'y')")
    // a join between a catalog table and an inline VALUES relation
    val joined = sql(
      "SELECT d.v, t.n FROM dim d JOIN (SELECT * FROM VALUES (1, 10), (2, 20) AS t(id, n)) t ON d.id = t.id")
    assert(joined.collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
      === Seq(("x", 10), ("y", 20)))
  }

  test("OPTIMIZE folds deltas; OPTIMIZE ZORDER BY clusters without changing content") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE z (id BIGINT, x BIGINT, y BIGINT)
          |TBLPROPERTIES('kudu.key_columns'='id')""".stripMargin)
    import spark.implicits._
    cat.insert("z", (1 to 500).map(i => (i.toLong, (i % 20).toLong, (i / 20).toLong))
      .toDF("id", "x", "y"))
    sql("DELETE FROM z WHERE id % 5 = 0")
    assert(cat.deltaLayers("z").nonEmpty)
    val before = sql("SELECT * FROM z").collect().map(_.toString).sorted.toSeq
    val st = sql("OPTIMIZE z ZORDER BY (x, y)").head()
    assert(st.getString(0) === "OPTIMIZE ZORDER" && st.getString(1) === "z")
    assert(cat.deltaLayers("z").isEmpty, "OPTIMIZE must fold pending deltas")
    val after = sql("SELECT * FROM z").collect().map(_.toString).sorted.toSeq
    assert(after === before, "clustering is layout-only")
    // plain OPTIMIZE still parses and runs on a clean table
    assert(sql("OPTIMIZE z").head().getString(0) === "OPTIMIZE")
    intercept[CatalogException](sql("OPTIMIZE nope_no_table"))
    intercept[CatalogException](sql("OPTIMIZE z ZORDER x, y"))
  }

  test("ALTER TABLE RENAME TO: atomic directory move, data and layers intact") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE rn (id INT, v STRING)
          |TBLPROPERTIES('kudu.key_columns'='id')""".stripMargin)
    sql("INSERT INTO rn VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("DELETE FROM rn WHERE id = 2") // pending delta layer must survive
    val st = sql("ALTER TABLE rn RENAME TO rn2").head()
    assert(st.getString(0) === "ALTER TABLE RENAME" && st.getString(1) === "rn2")
    assert(!cat.exists("rn") && cat.exists("rn2"))
    assert(sql("SELECT id FROM rn2").collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 3))
    intercept[CatalogException](cat.renameTable("rn2", "rn2"))
    intercept[CatalogException](cat.renameTable("ghost", "x"))
  }

  test("VACUUM reclaims the displaced generation and floored layers; state intact") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE vt (id INT, v STRING)
          |TBLPROPERTIES('kudu.key_columns'='id')""".stripMargin)
    sql("INSERT INTO vt VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("DELETE FROM vt WHERE id = 2")
    sql("OPTIMIZE vt") // fold: displaced base + floored layer stay on disk
    val dir = new java.io.File(cat.location("vt"))
    def baseDirs() = dir.listFiles().filter(f =>
      f.isDirectory && f.getName.matches("data(_\\d+)?")).map(_.getName).toSet
    def layerDirs() = {
      val d = new java.io.File(dir, "deltas")
      if (!d.exists()) Set.empty[String]
      else d.listFiles().filter(_.isDirectory).map(_.getName).toSet
    }
    assert(baseDirs().size > 1, "pre-vacuum: displaced generation retained")
    assert(layerDirs().nonEmpty, "pre-vacuum: floored layer retained")
    val st = sql("VACUUM vt").head()
    assert(st.getString(0) === "VACUUM" && st.getString(1) === "vt")
    assert(baseDirs().size === 1, "vacuum must drop the displaced generation")
    assert(layerDirs().isEmpty, "vacuum must drop floored layers")
    assert(sql("SELECT id FROM vt").collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 3))
    intercept[CatalogException](sql("VACUUM no_such_table"))
  }

  test("ALTER TABLE DROP RANGE PARTITION: SQL retention verb end-to-end") {
    val (cat, sql) = fresh()
    sql("""CREATE TABLE rt (id BIGINT, ts TIMESTAMP, v STRING)
          |TBLPROPERTIES('kudu.key_columns'='id', 'graft.range_column'='ts')""".stripMargin)
    sql("""INSERT INTO rt VALUES
          |(1, TIMESTAMP'2024-01-05 00:00:00', 'a'),
          |(2, TIMESTAMP'2024-02-05 00:00:00', 'b'),
          |(3, TIMESTAMP'2024-03-05 00:00:00', 'c')""".stripMargin)
    val st = sql("ALTER TABLE rt DROP RANGE PARTITION '2024-02'").head()
    assert(st.getString(0) === "ALTER TABLE DROP RANGE PARTITION")
    assert(sql("SELECT id FROM rt ORDER BY id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 3L))
    assert(!sql("SHOW PARTITIONS rt").collect().map(_.getString(0))
      .exists(_.contains("2024-02")))
    val e = intercept[CatalogException](
      sql("INSERT INTO rt VALUES (9, TIMESTAMP'2024-02-09 00:00:00', 'x')"))
    assert(e.getMessage.contains("dropped range"))
    assert(cat.droppedRangesOf("rt") === Seq("2024-02"))
  }

  test("SHOW PARTITIONS lists range+bucket dirs; non-partitioned table errors") {
    val (_, sql) = fresh()
    sql("""CREATE TABLE pt (id BIGINT, ts TIMESTAMP, v STRING)
          |TBLPROPERTIES('kudu.key_columns'='id',
          |  'graft.hash_buckets'='2', 'graft.range_column'='ts')""".stripMargin)
    sql("""INSERT INTO pt VALUES
          |(1, TIMESTAMP'2024-01-05 00:00:00', 'a'),
          |(2, TIMESTAMP'2024-02-05 00:00:00', 'b')""".stripMargin)
    val parts = sql("SHOW PARTITIONS pt").collect().map(_.getString(0)).toSeq
    assert(parts.nonEmpty && parts === parts.sorted && parts.distinct === parts)
    assert(parts.forall(p => p.matches("__range=2024-0[12]/__bucket=[01]")))
    assert(parts.exists(_.startsWith("__range=2024-01/")) &&
      parts.exists(_.startsWith("__range=2024-02/")))
    // bucket-only table: partitions are the bucket dirs
    sql("""CREATE TABLE bt (id BIGINT, v STRING)
          |TBLPROPERTIES('kudu.key_columns'='id', 'graft.hash_buckets'='4')""".stripMargin)
    sql("INSERT INTO bt VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d'),(5,'e')")
    val bparts = sql("SHOW PARTITIONS bt").collect().map(_.getString(0)).toSeq
    assert(bparts.nonEmpty && bparts.forall(_.matches("__bucket=[0-3]")))
    // Hive behavior: not-partitioned is an ERROR, not an empty listing
    sql("""CREATE TABLE np (id BIGINT, v STRING)
          |TBLPROPERTIES('kudu.key_columns'='id')""".stripMargin)
    val e = intercept[CatalogException](sql("SHOW PARTITIONS np"))
    assert(e.getMessage.contains("not partitioned"))
  }
}
