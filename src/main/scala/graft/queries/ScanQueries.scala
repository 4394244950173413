package graft.queries

import graft.{QDef, Tables}
import graft.QDef._
import graft.catalog.{KuduLikeCatalog, TableDef}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.1 — scans, sources, sinks.
  *
  * S1-S5 (tablet scan, projection/predicate pushdown, range pruning) are
  * Spark-native: the parquet reader provides splits + locality
  * (reference: HiveKuduTableInputFormat.java:148-223) and Catalyst pushes
  * projections and filters into the scan (the reference's own projection
  * pushdown was broken — hardcoded to "id,name",
  * HiveKuduTableInputFormat.java:304). S6 dup-ignore insert
  * (reference: HiveKuduTableOutputFormat.java:98-101) runs through
  * [[graft.catalog.KuduLikeCatalog.insert]].
  */
object ScanQueries {

  /** Bench-only memoized connector fixtures (QDef.benchFn): the s14/s16
    * tables are built ONCE per fixture dir per JVM, outside any timed
    * lambda, so Bench times the connector READ those queries are named for
    * — not a 150k-row table rebuild per sample (round-8 verdict item 3:
    * the build dominated at 14-21 s/sample vs a sub-second pruned read).
    * Verify still runs the full build+mutate+read `fn`, so correctness
    * coverage of the write path is unchanged.
    */
  /** s21's table: orders keyed+bucketed, fully compacted (no deltas), so
    * the connector may answer COUNT/MIN/MAX from footers alone.
    */
  private def buildAggTable(s: org.apache.spark.sql.SparkSession, dir: String, t: String): Unit = {
    val cat = new KuduLikeCatalog(s, t)
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    cat.createTable(TableDef("orders_a", orders.schema, Seq("o_orderkey"), buckets = 8))
    cat.insert("orders_a", orders)
  }

  private def aggPushdownRead(
      s: org.apache.spark.sql.SparkSession, t: String): org.apache.spark.sql.DataFrame =
    s.read.format("graft").option("root", t).load("orders_a")
      .agg(count(lit(1)).as("n"),
        min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
        d182(min("o_totalprice")).as("min_price"),
        d182(max("o_totalprice")).as("max_price"))

  /** s22's co-bucketed pair: customer + per-customer order stats, both
    * keyed and hash-bucketed on custkey, compacted to one key-sorted file
    * per bucket (which also proves the key-order claim for sort-free SMJ).
    */
  private def buildSpjTables(s: org.apache.spark.sql.SparkSession, dir: String, t: String): Unit = {
    val cat = new KuduLikeCatalog(s, t)
    val cust = Tables.load(s, dir, "customer").select("c_custkey", "c_name")
    cat.createTable(TableDef("cust", cust.schema, Seq("c_custkey"), buckets = 8))
    cat.insert("cust", cust)
    val ostats = Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        // exact DECIMAL sum, then DOUBLE for storage: the closed 10-type
        // set has no decimal (Kudu's own constraint), and the decimal-
        // domain sum keeps the double deterministic under any shuffle
        sum(d182(col("o_totalprice"))).cast("double").as("total"))
    cat.createTable(TableDef("ostats", ostats.schema, Seq("o_custkey"), buckets = 8))
    cat.insert("ostats", ostats)
    cat.compact("cust")
    cat.compact("ostats")
  }

  private def spjJoinRead(
      s: org.apache.spark.sql.SparkSession, t: String): org.apache.spark.sql.DataFrame = {
    // catalog name derives from the root: Spark caches plugin instances by
    // name, so each distinct root registers its own
    val cn = s"spjq_${java.lang.Integer.toHexString(t.hashCode & 0x7fffffff)}"
    s.conf.set(s"spark.sql.catalog.$cn",
      classOf[graft.sources.GraftCatalogPlugin].getName)
    s.conf.set(s"spark.sql.catalog.$cn.root", t)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.sql(
      s"""SELECT c_custkey, c_name, n_orders, total
         |FROM $cn.cust JOIN $cn.ostats ON c_custkey = o_custkey
         |ORDER BY c_custkey""".stripMargin)
  }

  private val benchTables = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def memoized(key: String)(build: String => Unit): String =
    benchTables.computeIfAbsent(key, { _ =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_bench_${key.takeWhile(_ != ':')}_").toString
      build(tmp)
      tmp
    })

  /** Restore a pristine memoized catalog root into a fresh work dir (plain
    * file copy, no Spark job) — for bench variants of MUTATING verbs
    * (s18's MERGE): each sample must hit the same pre-mutation state, or
    * samples stack delta layers and later ones time a different table.
    */
  private def copiedFrom(pristine: String): String = {
    import java.nio.file.{Files, Path, Paths}
    val src = Paths.get(pristine)
    val dst = Files.createTempDirectory("graft_bench_work_")
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
    dst.toString
  }

  val defs: Seq[QDef] = Seq(

    QDef("s1_full_scan_count",
      (s, dir) => Tables.load(s, dir, "lineitem").agg(count(lit(1)).as("n")),
      Some("SELECT count(*) AS n FROM lineitem")),

    // Projection pushdown: only 2 of 11 lineitem columns should reach the scan
    // (check `.explain` ReadSchema — Catalyst column pruning, SURVEY.md S2).
    QDef("s2_projection_pushdown",
      (s, dir) => Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_orderpriority FROM orders ORDER BY o_orderkey")),

    // Key-range scan (reference: scan-range bounds on the partition key,
    // HiveKuduTableInputFormat.java:466-467) → parquet row-group pruning.
    QDef("s3_key_range_scan",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey").between(100, 200))
        .select(col("l_orderkey"), col("l_linenumber"), d182(col("l_quantity")).as("qty"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DECIMAL(18,2)) AS qty
             |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 200
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Non-key predicate pushdown (reference transport existed but was fed
    // nothing — decomposePredicate stub, KuduStorageHandler.java:187-193).
    QDef("s4_predicate_pushdown",
      (s, dir) => Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 400000.0 && col("o_orderstatus") === "F")
        .select(col("o_orderkey"), d182(col("o_totalprice")).as("price"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
             |FROM orders WHERE o_totalprice > 400000.0 AND o_orderstatus = 'F'
             |ORDER BY o_orderkey""".stripMargin)),

    // Insert sink with duplicate-PK-ignore (reference:
    // HiveKuduTableOutputFormat.java:98-101 setIgnoreAllDuplicateRows).
    // Batch 1: orders with key % 3 = 0. Batch 2: price-shifted orders with
    // key % 2 = 0 — rows whose key already exists must be silently dropped.
    QDef("s6_insert_dup_ignore",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s6_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        val orders = Tables.load(s, dir, "orders")
        cat.createTable(TableDef("orders_k", orders.schema, Seq("o_orderkey")))
        cat.insert("orders_k", orders.filter(col("o_orderkey") % 3 === 0))
        cat.insert("orders_k",
          orders.withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
            .filter(col("o_orderkey") % 2 === 0))
        cat.table("orders_k")
          .select(col("o_orderkey"), d182(col("o_totalprice")).as("price"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
             |FROM orders WHERE o_orderkey % 3 = 0
             |UNION ALL
             |SELECT o_orderkey, CAST(o_totalprice + 100000.0 AS DECIMAL(18,2)) AS price
             |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
             |ORDER BY o_orderkey""".stripMargin)),

    // Same insert sequence through a BUCKETED table: dup-ignore routes
    // through the bucket-aligned key probe (alignedNewRows — the standing
    // table never shuffles) instead of the generic anti-join. Same oracle
    // as s6: the two dup-check engines must be observationally identical.
    QDef("s6b_insert_dup_ignore_bucketed",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s6b_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        val orders = Tables.load(s, dir, "orders")
        cat.createTable(TableDef("orders_k", orders.schema, Seq("o_orderkey"),
          buckets = 8))
        cat.insert("orders_k", orders.filter(col("o_orderkey") % 3 === 0))
        cat.insert("orders_k",
          orders.withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
            .filter(col("o_orderkey") % 2 === 0))
        cat.table("orders_k")
          .select(col("o_orderkey"), d182(col("o_totalprice")).as("price"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
             |FROM orders WHERE o_orderkey % 3 = 0
             |UNION ALL
             |SELECT o_orderkey, CAST(o_totalprice + 100000.0 AS DECIMAL(18,2)) AS price
             |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
             |ORDER BY o_orderkey""".stripMargin)),

    // The DSv2 connector read path end-to-end against the SQL oracle:
    // ingest documents into a bucketed keyed table, mutate it (upsert +
    // delete → two pending delta layers), then read back THROUGH
    // spark.read.format("graft") — per-bucket shuffle-free merge-on-read
    // with filter + projection pushed into the connector scan. The oracle
    // reproduces the post-mutation state algebraically over the source
    // table, so the whole write+merge+connector-read cycle is hash-gated.
    QDef("s14_dsv2_connector_read",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s14_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "lang")
        cat.createTable(TableDef("docs_k", docs.schema, Seq("doc_id"), buckets = 8))
        cat.insert("docs_k", docs)
        cat.upsert("docs_k",
          docs.filter(col("doc_id") < 20).withColumn("source", lit("upd")))
        cat.delete("docs_k", col("doc_id") % 7 === 0)
        s.read.format("graft").option("root", tmp).load("docs_k")
          .filter(col("doc_id") < 200)
          .select("doc_id", "source", "lang")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id < 20 THEN 'upd' ELSE source END AS source, lang
             |FROM documents
             |WHERE doc_id < 200 AND doc_id % 7 <> 0
             |ORDER BY doc_id""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s14:$dir") { t =>
          val cat = new KuduLikeCatalog(s, t)
          val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "lang")
          cat.createTable(TableDef("docs_k", docs.schema, Seq("doc_id"), buckets = 8))
          cat.insert("docs_k", docs)
          cat.upsert("docs_k",
            docs.filter(col("doc_id") < 20).withColumn("source", lit("upd")))
          cat.delete("docs_k", col("doc_id") % 7 === 0)
        }
        s.read.format("graft").option("root", tmp).load("docs_k")
          .filter(col("doc_id") < 200)
          .select("doc_id", "source", "lang")
          .orderBy("doc_id")
      }),

    // The connector read path over a RANGE+hash partitioned table with a
    // time predicate: pushed range filters prune __range= month directories
    // at planning time (GraftScan.rangePruner — the connector analog of the
    // reference's scan-range bounds, HiveKuduTableInputFormat.java:466-467)
    // while the delete's tombstone layer still merges per bucket. The
    // oracle reproduces the post-mutation state algebraically, so pruning
    // that over- or under-scans a boundary month is a hash mismatch.
    QDef("s16_connector_range_read",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s16_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        val orders = Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        cat.createTable(TableDef("orders_r", orders.schema, Seq("o_orderkey"),
          buckets = 4, rangeCol = Some("o_orderdate")))
        cat.insert("orders_r", orders)
        cat.delete("orders_r", col("o_orderkey") % 5 === 0)
        s.read.format("graft").option("root", tmp).load("orders_r")
          // string→timestamp casts parse under the SESSION zone (UTC in the
          // harness) — a java.sql.Timestamp literal would parse under the
          // JVM default zone and break oracle parity off-UTC
          .filter(col("o_orderdate") >= lit("1995-02-15 00:00:00").cast("timestamp")
            && col("o_orderdate") < lit("1995-04-15 00:00:00").cast("timestamp"))
          // epoch-millis, not raw TIMESTAMP: the determinism contract
          // (README "Correctness model") — and the catalog session now
          // writes stats-bearing TIMESTAMP_MICROS, which DuckDB reads
          // tz-aware while its own literals stay naive
          .select(col("o_orderkey"), d182(col("o_totalprice")).as("price"),
            expr("unix_millis(o_orderdate)").as("odate_ms"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             |  epoch_ms(o_orderdate) AS odate_ms
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1995-02-15 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1995-04-15 00:00:00'
             |  AND o_orderkey % 5 <> 0
             |ORDER BY o_orderkey""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s16:$dir") { t =>
          val cat = new KuduLikeCatalog(s, t)
          val orders = Tables.load(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
          cat.createTable(TableDef("orders_r", orders.schema, Seq("o_orderkey"),
            buckets = 4, rangeCol = Some("o_orderdate")))
          cat.insert("orders_r", orders)
          cat.delete("orders_r", col("o_orderkey") % 5 === 0)
        }
        s.read.format("graft").option("root", tmp).load("orders_r")
          .filter(col("o_orderdate") >= lit("1995-02-15 00:00:00").cast("timestamp")
            && col("o_orderdate") < lit("1995-04-15 00:00:00").cast("timestamp"))
          // epoch-millis, not raw TIMESTAMP: the determinism contract
          // (README "Correctness model") — and the catalog session now
          // writes stats-bearing TIMESTAMP_MICROS, which DuckDB reads
          // tz-aware while its own literals stay naive
          .select(col("o_orderkey"), d182(col("o_totalprice")).as("price"),
            expr("unix_millis(o_orderdate)").as("odate_ms"))
          .orderBy("o_orderkey")
      }),

    // Footer-answered aggregates through the connector (AggPushdownSpec's
    // oracle-gated face): COUNT/MIN/MAX on a compacted keyed table come
    // from parquet metadata — zero data pages decoded; the plan pins
    // PushedAggregates via the spec suite. The oracle computes the same
    // totals over the source table. Bench memoizes the table build so the
    // timed lambda is the footer sweep alone (the s16 lesson).
    QDef("s21_agg_pushdown",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s21_").toString
        buildAggTable(s, dir, tmp)
        aggPushdownRead(s, tmp)
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n,
             |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
             |  CAST(min(o_totalprice) AS DECIMAL(18,2)) AS min_price,
             |  CAST(max(o_totalprice) AS DECIMAL(18,2)) AS max_price
             |FROM orders""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s21:$dir")(t => buildAggTable(s, dir, t))
        aggPushdownRead(s, tmp)
      }),

    // Storage-partitioned join, oracle-gated: customer and a per-customer
    // order-stats table land in CO-BUCKETED keyed tables (both keyed and
    // hash-bucketed on custkey, both compacted to one key-sorted file per
    // bucket), and the SQL join through the catalog plugin runs with the
    // tablet layout as the join distribution — zero exchange, and with
    // the key-order claim proven, zero sorts (SpjSpec pins both plan
    // shapes; HERE the result is hash-gated against DuckDB). SPJ requires
    // the join key to BE the partition key — exactly Kudu's co-located-
    // scan precondition.
    QDef("s22_spj_join",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s22_").toString
        buildSpjTables(s, dir, tmp)
        spjJoinRead(s, tmp)
      },
      Some("""WITH os AS (
             |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
             |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |  FROM orders GROUP BY 1)
             |SELECT c_custkey, c_name, n_orders, total
             |FROM customer JOIN os ON c_custkey = o_custkey
             |ORDER BY 1""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s22:$dir")(t => buildSpjTables(s, dir, t))
        spjJoinRead(s, tmp)
      }),

    // CTAS through the SQL router (Hive dialect the reference delegates to
    // hive-exec, reference pom.xml:28-31): schema from the SELECT, key from
    // the properties, rows through the strict dup-ignore insert. The oracle
    // is the underlying SELECT itself — the round trip through catalog
    // storage (partitioned parquet + declared schema) must be lossless.
    QDef("s12_ctas",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s12_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        Tables.registerAll(s, dir)
        graft.GraftSql.execute(s, cat,
          """CREATE TABLE cust_by_seg STORED BY 'handler'
            |TBLPROPERTIES('kudu.key_columns'='c_mktsegment')
            |AS SELECT c_mktsegment, count(*) AS n_cust,
            |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
            |FROM customer WHERE c_mktsegment IS NOT NULL
            |GROUP BY c_mktsegment""".stripMargin)
        cat.table("cust_by_seg").orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_cust,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
             |FROM customer WHERE c_mktsegment IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // INSERT OVERWRITE through the SQL router: truncate-and-load fully
    // replaces earlier contents (the first INSERT must leave no residue).
    QDef("s13_insert_overwrite",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s13_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        Tables.registerAll(s, dir)
        def sql(t: String) = graft.GraftSql.execute(s, cat, t)
        sql("""CREATE TABLE top_parts (p_partkey BIGINT, p_retailprice DOUBLE)
              |TBLPROPERTIES('kudu.key_columns'='p_partkey')""".stripMargin)
        sql("""INSERT INTO top_parts
              |SELECT p_partkey, CAST(p_retailprice AS DOUBLE)
              |FROM part WHERE p_partkey <= 100""".stripMargin)
        sql("""INSERT OVERWRITE TABLE top_parts
              |SELECT p_partkey, CAST(p_retailprice AS DOUBLE)
              |FROM part WHERE p_partkey % 7 = 0""".stripMargin)
        cat.table("top_parts").orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, CAST(p_retailprice AS DOUBLE) AS p_retailprice
             |FROM part WHERE p_partkey % 7 = 0 ORDER BY p_partkey""".stripMargin)),

    // Inline VALUES source — the reference's own demo insert
    // (reference: README.md:35 `insert into test_drop values (1,'a'),...`).
    // The DSv2 connector WRITE path end-to-end against the SQL oracle:
    // every mutation goes through df.write.format("graft") — append (the
    // dup-ignore insert: the second append's overlapping keys are silently
    // dropped, so its 'xx' lang lands only on genuinely-new rows) and
    // operation=upsert (last-wins payload replacement) — then reads back
    // through the connector scan. With s14 (connector read over catalog
    // mutations) this closes the loop: the storage layer is fully
    // connector-shaped for BOTH directions, matching the reference's
    // read/write KuduStorageHandler seam (KuduStorageHandler.java:54-68).
    QDef("s15_connector_write",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s15_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "lang")
        cat.createTable(TableDef("docs_w", docs.schema, Seq("doc_id"), buckets = 8))
        docs.filter(col("doc_id") % 3 === 0)
          .write.format("graft").option("root", tmp).mode("append").save("docs_w")
        docs.withColumn("lang", lit("xx"))
          .write.format("graft").option("root", tmp).mode("append").save("docs_w")
        docs.filter(col("doc_id") < 50).withColumn("source", lit("upd"))
          .write.format("graft").option("root", tmp)
          .option("operation", "upsert").mode("append").save("docs_w")
        s.read.format("graft").option("root", tmp).load("docs_w")
          .filter(col("doc_id") < 300)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id < 50 THEN 'upd' ELSE source END AS source,
             |  CASE WHEN doc_id >= 50 AND doc_id % 3 <> 0 THEN 'xx' ELSE lang END AS lang
             |FROM documents WHERE doc_id < 300
             |ORDER BY doc_id""".stripMargin)),

    // The CHANGELOG read face of the connector (option changelog=true):
    // pending mutation layers stream back as (data…, op, version) — the
    // batch face of the GraftMicroBatchStream CDC source (StreamingSpec
    // verifies the streaming face replays to table state). The oracle
    // reproduces both layers algebraically: layer 1 is the upsert batch,
    // layer 2 is the delete's tombstones carrying the POST-upsert values
    // (tombstones snapshot the merged row at delete time).
    QDef("s17_changelog_read",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s17_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "lang")
        cat.createTable(TableDef("docs_c", docs.schema, Seq("doc_id"), buckets = 4))
        cat.insert("docs_c", docs) // base append — not a changelog event
        cat.upsert("docs_c",
          docs.filter(col("doc_id") < 20).withColumn("source", lit("upd")))
        cat.delete("docs_c", col("doc_id") % 7 === 0)
        s.read.format("graft").option("root", tmp).option("changelog", "true")
          .load("docs_c")
          .orderBy("version", "doc_id")
      },
      Some("""SELECT doc_id, 'upd' AS source, lang, 'upsert' AS op, 1 AS version
             |FROM documents WHERE doc_id < 20
             |UNION ALL
             |SELECT doc_id,
             |  CASE WHEN doc_id < 20 THEN 'upd' ELSE source END AS source,
             |  lang, 'delete' AS op, 2 AS version
             |FROM documents WHERE doc_id % 7 = 0
             |ORDER BY version, doc_id""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s17:$dir") { t =>
          val cat = new KuduLikeCatalog(s, t)
          val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "lang")
          cat.createTable(TableDef("docs_c", docs.schema, Seq("doc_id"), buckets = 4))
          cat.insert("docs_c", docs)
          cat.upsert("docs_c",
            docs.filter(col("doc_id") < 20).withColumn("source", lit("upd")))
          cat.delete("docs_c", col("doc_id") % 7 === 0)
        }
        s.read.format("graft").option("root", tmp).option("changelog", "true")
          .load("docs_c")
          .orderBy("version", "doc_id")
      }),

    // SQL MERGE INTO through GraftSql, which routes Spark's parsed
    // MergeIntoTable to the catalog, each WHEN branch one plan: one
    // statement drives all three branches — guarded DELETE, UPDATE SET,
    // INSERT * — against a CTAS-loaded keyed table. The oracle reproduces
    // the post-merge state algebraically over the source table, so clause
    // precedence, the delete semi-join, and the anti-join insert are all
    // hash-gated.
    QDef("s18_merge_into",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s18_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        Tables.registerAll(s, dir)
        def sql(t: String) = graft.GraftSql.execute(s, cat, t)
        sql("""CREATE TABLE docs_m STORED BY 'handler'
              |TBLPROPERTIES('kudu.key_columns'='doc_id','graft.hash_buckets'='4')
              |AS SELECT doc_id, source, lang FROM documents WHERE doc_id < 300""".stripMargin)
        sql("""MERGE INTO docs_m AS t
              |USING (SELECT doc_id, source, lang FROM documents
              |       WHERE doc_id >= 200 AND doc_id < 400) AS s
              |ON t.doc_id = s.doc_id
              |WHEN MATCHED AND t.doc_id % 5 = 0 THEN DELETE
              |WHEN MATCHED THEN UPDATE SET source = 'merged'
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        cat.table("docs_m").orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, lang FROM documents WHERE doc_id < 200
             |UNION ALL
             |SELECT doc_id, 'merged' AS source, lang FROM documents
             |WHERE doc_id >= 200 AND doc_id < 300 AND doc_id % 5 <> 0
             |UNION ALL
             |SELECT doc_id, source, lang FROM documents
             |WHERE doc_id >= 300 AND doc_id < 400
             |ORDER BY doc_id""".stripMargin),
      // bench variant: the CTAS target is built once and file-copied back
      // to pristine per sample (a MERGE mutates its target — re-merging the
      // merged table would time a different statement, and samples would
      // stack delta layers), so the timed lambda is the MERGE itself.
      benchFn = Some { (s, dir) =>
        val pristine = memoized(s"s18:$dir") { t =>
          val cat = new KuduLikeCatalog(s, t)
          Tables.registerAll(s, dir)
          graft.GraftSql.execute(s, cat,
            """CREATE TABLE docs_m STORED BY 'handler'
              |TBLPROPERTIES('kudu.key_columns'='doc_id','graft.hash_buckets'='4')
              |AS SELECT doc_id, source, lang FROM documents WHERE doc_id < 300""".stripMargin)
        }
        val work = copiedFrom(pristine)
        val cat = new KuduLikeCatalog(s, work)
        Tables.registerAll(s, dir)
        graft.GraftSql.execute(s, cat,
          """MERGE INTO docs_m AS t
            |USING (SELECT doc_id, source, lang FROM documents
            |       WHERE doc_id >= 200 AND doc_id < 400) AS s
            |ON t.doc_id = s.doc_id
            |WHEN MATCHED AND t.doc_id % 5 = 0 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET source = 'merged'
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        cat.table("docs_m").orderBy("doc_id")
      }),

    // SQL UPDATE through GraftSql, which routes Spark's parsed UpdateTable
    // to the catalog as one projection plan: assignments evaluate against
    // the pre-update snapshot with declared-type casts and land as one
    // upsert delta layer. The oracle reproduces the post-update
    // state algebraically, so the WHERE slice, the expression evaluation,
    // and the untouched remainder are all hash-gated.
    QDef("s19_update",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s19_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        Tables.registerAll(s, dir)
        def sql(t: String) = graft.GraftSql.execute(s, cat, t)
        sql("""CREATE TABLE docs_u STORED BY 'handler'
              |TBLPROPERTIES('kudu.key_columns'='doc_id','graft.hash_buckets'='4')
              |AS SELECT doc_id, source, n_chars FROM documents WHERE doc_id < 400""".stripMargin)
        sql("""UPDATE docs_u SET source = concat(source, '!'), n_chars = n_chars * 2
              |WHERE doc_id % 3 = 0""".stripMargin)
        cat.table("docs_u").orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 3 = 0 THEN source || '!' ELSE source END AS source,
             |  CASE WHEN doc_id % 3 = 0 THEN n_chars * 2 ELSE n_chars END AS n_chars
             |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin),
      // bench variant: pristine CTAS target restored per sample (same
      // discipline as s18 — an UPDATE mutates its target), timed lambda is
      // the UPDATE itself.
      benchFn = Some { (s, dir) =>
        val pristine = memoized(s"s19:$dir") { t =>
          val cat = new KuduLikeCatalog(s, t)
          Tables.registerAll(s, dir)
          graft.GraftSql.execute(s, cat,
            """CREATE TABLE docs_u STORED BY 'handler'
              |TBLPROPERTIES('kudu.key_columns'='doc_id','graft.hash_buckets'='4')
              |AS SELECT doc_id, source, n_chars FROM documents WHERE doc_id < 400""".stripMargin)
        }
        val work = copiedFrom(pristine)
        val cat = new KuduLikeCatalog(s, work)
        Tables.registerAll(s, dir)
        graft.GraftSql.execute(s, cat,
          """UPDATE docs_u SET source = concat(source, '!'), n_chars = n_chars * 2
            |WHERE doc_id % 3 = 0""".stripMargin)
        cat.table("docs_u").orderBy("doc_id")
      }),

    // Time travel through the connector (Kudu READ_AT_SNAPSHOT analog):
    // mutate a keyed table twice, then read option("asOf", 1) — the scan
    // plans base + layer 1 only, so the later delete is invisible. The
    // oracle reproduces the version-1 state algebraically; a current-state
    // read would hash-mismatch (the deleted slice), a version-0 read would
    // miss the upsert — the snapshot boundary itself is what's gated.
    QDef("s20_time_travel",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s20_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "lang")
          .filter(col("doc_id") < 300)
        cat.createTable(TableDef("docs_t", docs.schema, Seq("doc_id"), buckets = 4))
        cat.insert("docs_t", docs)                                   // version 0
        cat.upsert("docs_t",
          docs.filter(col("doc_id") < 100).withColumn("source", lit("v1"))) // v1
        cat.delete("docs_t", col("doc_id") >= 250)                   // version 2
        s.read.format("graft").option("root", tmp).option("asOf", 1).load("docs_t")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id < 100 THEN 'v1' ELSE source END AS source, lang
             |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),
      // bench variant: snapshot reads are read-only, so the table builds
      // once per JVM and the timed lambda is the versioned read itself
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s20:$dir") { t =>
          val cat = new KuduLikeCatalog(s, t)
          val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "lang")
            .filter(col("doc_id") < 300)
          cat.createTable(TableDef("docs_t", docs.schema, Seq("doc_id"), buckets = 4))
          cat.insert("docs_t", docs)
          cat.upsert("docs_t",
            docs.filter(col("doc_id") < 100).withColumn("source", lit("v1")))
          cat.delete("docs_t", col("doc_id") >= 250)
        }
        s.read.format("graft").option("root", tmp).option("asOf", 1).load("docs_t")
          .orderBy("doc_id")
      }),

    QDef("s10_values_inline",
      (s, _) => {
        import s.implicits._
        Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "name").orderBy("id")
      },
      Some("SELECT * FROM (VALUES (1,'a'),(2,'b'),(3,'a')) AS t(id,name) ORDER BY id")),

    // Non-key point lookup through the parquet-bloom index (round 11): the
    // table is key-sorted on o_orderkey, so o_custkey values interleave
    // across every row group and min/max stats can never prune a custkey
    // probe — the declared bloom filter is what turns this into a
    // row-group-skipping read (ParquetBloomSpec proves the skip; this
    // query hash-gates the end-to-end answer THROUGH the connector).
    QDef("s24_bloom_point_lookup",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s24_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        val orders = Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderpriority")
        cat.createTable(TableDef("orders_b", orders.schema, Seq("o_orderkey"),
          buckets = 4, bloomCols = Seq("o_custkey")))
        cat.insert("orders_b", orders)
        cat.compact("orders_b")
        s.read.format("graft").option("root", tmp).load("orders_b")
          .filter(col("o_custkey") === 42)
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderpriority
             |FROM orders WHERE o_custkey = 42 ORDER BY o_orderkey""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s24:$dir") { t =>
          val cat = new KuduLikeCatalog(s, t)
          val orders = Tables.load(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority")
          cat.createTable(TableDef("orders_b", orders.schema, Seq("o_orderkey"),
            buckets = 4, bloomCols = Seq("o_custkey")))
          cat.insert("orders_b", orders)
          cat.compact("orders_b")
        }
        s.read.format("graft").option("root", tmp).load("orders_b")
          .filter(col("o_custkey") === 42)
          .orderBy("o_orderkey")
      }),

    // Composite-range retention (round 11): events in a RANGE (day,
    // event_type) table — Kudu's multi-column range shape. One tenant-day
    // ('2024-01-15/click') and one whole day ('2024-01-20', a prefix
    // covering every type) are dropped as METADATA; the readback must
    // agree with an oracle that re-derives the exclusions algebraically
    // over the raw table, so the retention cut is hash-gated, not just
    // asserted on counts.
    QDef("s25_composite_range_retention",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s25_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        val events = Tables.load(s, dir, "events")
          .select("event_id", "ts", "event_type")
        cat.createTable(TableDef("events_r", events.schema, Seq("event_id"),
          rangeCol = Some("ts"), rangeGranularity = "day",
          rangeSubCols = Seq("event_type")))
        cat.insert("events_r", events)
        cat.dropRangePartition("events_r", "2024-01-15/click")
        cat.dropRangePartition("events_r", "2024-01-20")
        cat.table("events_r")
          .groupBy("event_type").agg(count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n FROM events
             |WHERE NOT (strftime(ts, '%Y-%m-%d') = '2024-01-15' AND event_type = 'click')
             |  AND strftime(ts, '%Y-%m-%d') <> '2024-01-20'
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s25:$dir") { t =>
          val cat = new KuduLikeCatalog(s, t)
          val events = Tables.load(s, dir, "events")
            .select("event_id", "ts", "event_type")
          cat.createTable(TableDef("events_r", events.schema, Seq("event_id"),
            rangeCol = Some("ts"), rangeGranularity = "day",
            rangeSubCols = Seq("event_type")))
          cat.insert("events_r", events)
          cat.dropRangePartition("events_r", "2024-01-15/click")
          cat.dropRangePartition("events_r", "2024-01-20")
        }
        new KuduLikeCatalog(s, tmp).table("events_r")
          .groupBy("event_type").agg(count(lit(1)).as("n"))
          .orderBy("event_type")
      }),

    // s26: INCREMENTAL compaction end-to-end — mutations confined to two
    // (day, type) partitions, folded by compactIncremental (hardlinked
    // untouched subtrees + range-restricted rewrite), then aggregated.
    // The oracle re-derives the post-mutation table algebraically. cents
    // rides an order-free BIGINT sum (floor(value*100) is deterministic
    // per row in both engines; double summation order would not be).
    QDef("s26_incremental_compact",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s26_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        s26Build(s, dir, cat)
        s26Read(cat)
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(floor((CASE WHEN strftime(ts, '%Y-%m-%d') = '2024-01-15' AND event_type = 'click'
             |                       THEN value + 1000.0 ELSE value END) * 100) AS BIGINT)) AS BIGINT) AS cents
             |FROM events
             |WHERE NOT (strftime(ts, '%Y-%m-%d') = '2024-01-16' AND event_type = 'view')
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s26:$dir") { t =>
          s26Build(s, dir, new KuduLikeCatalog(s, t))
        }
        s26Read(new KuduLikeCatalog(s, tmp))
      }),

    // s27: ANALYZE TABLE exactness against an independent engine — the
    // Spark side reads the PERSISTED stats record (one aggregate pass at
    // ANALYZE time, JSON round-trip, fingerprint-fresh readback), while
    // DuckDB re-aggregates the raw parquet directly. Every emitted field
    // is exact (rowcount, nullcount, min/max, byte lengths) — HLL NDV is
    // approximate by design and stays out of the oracle contract.
    // Timestamps cross the dialect boundary as epoch-millis (the stored
    // catalyst-internal micros are ms-precision in this fixture).
    QDef("s27_analyze_stats",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s27_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        s27Build(s, dir, cat)
        s27Read(s, cat)
      },
      Some("""SELECT count(*) AS n_rows,
             |  min(o_orderkey) AS key_min, max(o_orderkey) AS key_max,
             |  count(*) - count(nullif(o_orderstatus, 'O')) AS st_nulls,
             |  CAST(ceil(avg(strlen(nullif(o_orderstatus, 'O')))) AS BIGINT) AS st_avglen,
             |  CAST(max(strlen(nullif(o_orderstatus, 'O'))) AS BIGINT) AS st_maxlen,
             |  min(o_totalprice) AS price_min, max(o_totalprice) AS price_max,
             |  count(*) - count(o_totalprice) AS price_nulls,
             |  epoch_ms(min(o_orderdate)) AS odate_min_ms,
             |  epoch_ms(max(o_orderdate)) AS odate_max_ms
             |FROM orders""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s27:$dir") { t =>
          s27Build(s, dir, new KuduLikeCatalog(s, t))
        }
        s27Read(s, new KuduLikeCatalog(s, tmp))
      }),

    // s28: LIMIT pushdown through the connector (round 11) — a bare
    // `LIMIT n` on a compacted table plans only the file PREFIX whose
    // footer row counts cover n (LimitPushdownSpec pins the file count;
    // this hash-gates the end-to-end answer). count(*) over the limit is
    // the deterministic face of a non-deterministic row pick: both engines
    // must agree the limit bites exactly.
    QDef("s28_limit_pushdown",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s28_").toString
        s28Build(s, dir, new KuduLikeCatalog(s, tmp))
        s28Read(s, tmp)
      },
      Some("SELECT count(*) AS n FROM (SELECT * FROM orders LIMIT 1000) t"),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s28:$dir") { t =>
          s28Build(s, dir, new KuduLikeCatalog(s, t))
        }
        s28Read(s, tmp)
      }),

    // s29: TopN pushdown (round 11) — `ORDER BY ts, event_id LIMIT 50` on
    // a day-ranged events table keeps only the earliest files whose
    // [min,max] ts can intersect the top-50 (θ-bound over chunk stats).
    // Fully deterministic: (ts, event_id) is a total order, so the oracle
    // gates VALUES, not just the count. ts crosses the dialect boundary as
    // epoch-millis (the s27 convention).
    QDef("s29_topn_pushdown",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s29_").toString
        s29Build(s, dir, new KuduLikeCatalog(s, tmp))
        s29Read(s, tmp)
      },
      Some("""SELECT event_id, epoch_ms(ts) AS ts_ms
             |FROM events ORDER BY ts, event_id LIMIT 50""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s29:$dir") { t =>
          s29Build(s, dir, new KuduLikeCatalog(s, t))
        }
        s29Read(s, tmp)
      }),

    // s30: zero-copy CLONE as a SNAPSHOT — `CREATE TABLE docs_branch CLONE
    // docs_main`, then delete/upsert the ORIGINAL; the branch must keep
    // serving the pre-mutation state from the shared (hardlinked) inodes.
    // The oracle is simply the raw fixture: if any post-clone mutation
    // leaks through the shared storage, the per-source counts and key
    // checksum diverge. CloneSpec pins inode identity and both isolation
    // directions; this gates the end-to-end read THROUGH the connector.
    QDef("s30_clone_snapshot",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s30_").toString
        s30Build(s, dir, new KuduLikeCatalog(s, tmp))
        s30Read(s, tmp)
      },
      Some("""SELECT source, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS key_sum
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s30:$dir") { t =>
          s30Build(s, dir, new KuduLikeCatalog(s, t))
        }
        s30Read(s, tmp)
      }),

    // s31: RESTORE VERSION AS OF end-to-end under the driver's hash — the
    // storage-verb companion to s30 (CLONE): mutate twice, restore to v1
    // (undoing the delete), then mutate AGAIN post-restore and read through
    // the connector. The oracle re-derives the final state algebraically:
    // base rows + the v1 edit + the post-restore edit, the v2 delete gone.
    // The post-restore upsert also exercises the burned-id discipline on
    // the driver's gate (its layer must not alias the truncated v2).
    QDef("s31_restore_version",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s31_").toString
        s31Build(s, dir, new KuduLikeCatalog(s, tmp))
        s31Read(s, tmp)
      },
      Some("""SELECT CASE WHEN doc_id % 11 = 2 THEN 'post'
             |            WHEN doc_id % 7 = 1 THEN 'edited'
             |            ELSE source END AS src,
             |  count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS key_sum
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s31:$dir") { t =>
          s31Build(s, dir, new KuduLikeCatalog(s, t))
        }
        s31Read(s, tmp)
      }),

    // s32: NUMERIC range bounds end-to-end — orders keyed+ranged on
    // o_orderkey under three `lower <= VALUES < upper` pairs; the window
    // read crosses one pair boundary, so planning prunes the third
    // partition's files (NumericRangeSpec pins the pruning itself; this
    // gates the bounds WRITE path + connector read under the driver's
    // hash). The oracle mirrors the fixed key slice on the raw table.
    QDef("s32_numeric_range_bounds",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s32_").toString
        s32Build(s, dir, new KuduLikeCatalog(s, tmp))
        s32Read(s, tmp)
      },
      Some("""SELECT CAST(floor(o_orderkey / 10000) AS INT) AS range_id,
             |  count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders
             |WHERE o_orderkey < 30000 AND o_orderkey >= 5000 AND o_orderkey < 15000
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      benchFn = Some { (s, dir) =>
        val tmp = memoized(s"s32:$dir") { t =>
          s32Build(s, dir, new KuduLikeCatalog(s, t))
        }
        s32Read(s, tmp)
      }),

    // s33: SQL `DELETE FROM … WHERE` under the driver's hash — the last
    // catalog DML verb still gated only at spec level (s18 MERGE and s19
    // UPDATE have had oracle rows since r10; cat.delete rides inside
    // s20/s26/s30/s31 but never as the declared SQL verb itself). The
    // predicate mixes a key-modulus and a payload comparison so the
    // tombstone path must evaluate a real row expression, not a key list.
    QDef("s33_delete_where",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_s33_").toString
        val cat = new KuduLikeCatalog(s, tmp)
        Tables.registerAll(s, dir)
        def sql(t: String) = graft.GraftSql.execute(s, cat, t)
        sql("""CREATE TABLE docs_d STORED BY 'handler'
              |TBLPROPERTIES('kudu.key_columns'='doc_id','graft.hash_buckets'='4')
              |AS SELECT doc_id, source, n_chars FROM documents WHERE doc_id < 400""".stripMargin)
        sql("DELETE FROM docs_d WHERE doc_id % 5 = 0 OR n_chars > 400")
        cat.table("docs_d").orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, n_chars FROM documents
             |WHERE doc_id < 400 AND NOT (doc_id % 5 = 0 OR n_chars > 400)
             |ORDER BY doc_id""".stripMargin),
      // bench variant: pristine CTAS target restored per sample (the s19
      // discipline — a DELETE consumes its target); timed lambda is the
      // DELETE itself plus the readback.
      benchFn = Some { (s, dir) =>
        val pristine = memoized(s"s33:$dir") { t =>
          val cat = new KuduLikeCatalog(s, t)
          Tables.registerAll(s, dir)
          graft.GraftSql.execute(s, cat,
            """CREATE TABLE docs_d STORED BY 'handler'
              |TBLPROPERTIES('kudu.key_columns'='doc_id','graft.hash_buckets'='4')
              |AS SELECT doc_id, source, n_chars FROM documents WHERE doc_id < 400""".stripMargin)
        }
        val work = copiedFrom(pristine)
        val cat = new KuduLikeCatalog(s, work)
        graft.GraftSql.execute(s, cat,
          "DELETE FROM docs_d WHERE doc_id % 5 = 0 OR n_chars > 400")
        cat.table("docs_d").orderBy("doc_id")
      }),
  )

  /** s30's tables: documents keyed on doc_id, cloned, then the ORIGINAL is
    * mutated — the branch must not see any of it.
    */
  private def s30Build(s: org.apache.spark.sql.SparkSession, dir: String,
      cat: KuduLikeCatalog): Unit = {
    val docs = Tables.load(s, dir, "documents").select("doc_id", "source")
    cat.createTable(TableDef("docs_main", docs.schema, Seq("doc_id"), buckets = 4))
    cat.insert("docs_main", docs)
    graft.GraftSql.execute(s, cat, "CREATE TABLE docs_branch CLONE docs_main")
    cat.delete("docs_main", col("doc_id") % 3 === 0)
    cat.upsert("docs_main",
      docs.filter(col("doc_id") % 7 === 1).withColumn("source", lit("mutated")))
  }

  private def s30Read(s: org.apache.spark.sql.SparkSession,
      tmp: String): org.apache.spark.sql.DataFrame =
    s.read.format("graft").option("root", tmp).load("docs_branch")
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("key_sum"))
      .orderBy("source")

  /** s31's table: documents keyed on doc_id; two mutations, an SQL RESTORE
    * back to version 1 (the delete undone, git-reset semantics), then one
    * POST-restore mutation whose layer id must not reuse the truncated v2.
    */
  private def s31Build(s: org.apache.spark.sql.SparkSession, dir: String,
      cat: KuduLikeCatalog): Unit = {
    val docs = Tables.load(s, dir, "documents").select("doc_id", "source")
    cat.createTable(TableDef("docs_rst", docs.schema, Seq("doc_id"), buckets = 4))
    cat.insert("docs_rst", docs)
    cat.upsert("docs_rst", // v1: kept by the restore
      docs.filter(col("doc_id") % 7 === 1).withColumn("source", lit("edited")))
    cat.delete("docs_rst", col("doc_id") % 3 === 0) // v2: undone by it
    graft.GraftSql.execute(s, cat, "RESTORE TABLE docs_rst VERSION AS OF 1")
    cat.upsert("docs_rst", // post-restore history continues cleanly
      docs.filter(col("doc_id") % 11 === 2).withColumn("source", lit("post")))
  }

  private def s31Read(s: org.apache.spark.sql.SparkSession,
      tmp: String): org.apache.spark.sql.DataFrame =
    s.read.format("graft").option("root", tmp).load("docs_rst")
      .groupBy(col("source").as("src"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("key_sum"))
      .orderBy("src")

  /** s32's table: orders keyed AND numeric-range-bounded on o_orderkey —
    * three `lower <= VALUES < upper` pairs of width 10000 over the fixed
    * key slice `o_orderkey < 30000` (sf-independent coverage; the bounds
    * REJECT out-of-range rows, so the slice and the declaration must
    * agree by construction).
    */
  private def s32Build(s: org.apache.spark.sql.SparkSession, dir: String,
      cat: KuduLikeCatalog): Unit = {
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .filter(col("o_orderkey") < 30000)
    cat.createTable(TableDef("orders_nb", orders.schema, Seq("o_orderkey"),
      rangeCol = Some("o_orderkey"),
      rangeBounds = Seq((0L, 10000L), (10000L, 20000L), (20000L, 30000L))))
    cat.insert("orders_nb", orders)
  }

  private def s32Read(s: org.apache.spark.sql.SparkSession,
      tmp: String): org.apache.spark.sql.DataFrame =
    s.read.format("graft").option("root", tmp).load("orders_nb")
      .filter(col("o_orderkey") >= 5000 && col("o_orderkey") < 15000)
      .groupBy(floor(col("o_orderkey") / 10000).cast("int").as("range_id"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy("range_id")

  /** s28's table: orders in 4 hash buckets, compacted so the base files are
    * the whole truth (the limit-pushdown contract).
    */
  private def s28Build(s: org.apache.spark.sql.SparkSession, dir: String,
      cat: KuduLikeCatalog): Unit = {
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    cat.createTable(TableDef("orders_lim", orders.schema, Seq("o_orderkey"),
      buckets = 4))
    cat.insert("orders_lim", orders)
    cat.compact("orders_lim")
  }

  private def s28Read(s: org.apache.spark.sql.SparkSession,
      tmp: String): org.apache.spark.sql.DataFrame =
    s.read.format("graft").option("root", tmp).load("orders_lim")
      .limit(1000)
      .agg(count(lit(1)).as("n"))

  /** s29's table: events day-range-partitioned on ts — each day directory
    * is ts-disjoint from the others, which is what the TopN θ-bound prunes
    * on.
    */
  private def s29Build(s: org.apache.spark.sql.SparkSession, dir: String,
      cat: KuduLikeCatalog): Unit = {
    val events = Tables.load(s, dir, "events").select("event_id", "ts")
    cat.createTable(TableDef("events_top", events.schema, Seq("event_id"),
      rangeCol = Some("ts"), rangeGranularity = "day"))
    cat.insert("events_top", events)
  }

  private def s29Read(s: org.apache.spark.sql.SparkSession,
      tmp: String): org.apache.spark.sql.DataFrame =
    s.read.format("graft").option("root", tmp).load("events_top")
      .orderBy("ts", "event_id")
      .limit(50)
      .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"))

  /** s26's table: events keyed on (event_id, ts, event_type) so the range
    * columns are key columns — the incremental fold's soundness gate.
    */
  private def s26Build(s: org.apache.spark.sql.SparkSession, dir: String,
      cat: KuduLikeCatalog): Unit = {
    val events = Tables.load(s, dir, "events")
      .select("event_id", "ts", "event_type", "value")
    cat.createTable(TableDef("events_ic", events.schema,
      Seq("event_id", "ts", "event_type"),
      rangeCol = Some("ts"), rangeGranularity = "day",
      rangeSubCols = Seq("event_type")))
    cat.insert("events_ic", events)
    cat.upsert("events_ic", cat.table("events_ic")
      .where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-15" &&
        col("event_type") === "click")
      .withColumn("value", col("value") + lit(1000.0))
      .select("event_id", "ts", "event_type", "value"))
    cat.delete("events_ic",
      date_format(col("ts"), "yyyy-MM-dd") === "2024-01-16" &&
        col("event_type") === "view")
    cat.compactIncremental("events_ic") // O(touched ranges), not O(table)
  }

  private def s26Read(cat: KuduLikeCatalog): org.apache.spark.sql.DataFrame =
    cat.table("events_ic")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("cents"))
      .orderBy("event_type")

  /** s27's table: orders with a synthesized-nullable status column (the
    * fixtures carry no natural NULLs), keyed on o_orderkey, ANALYZEd once.
    */
  private def s27Build(s: org.apache.spark.sql.SparkSession, dir: String,
      cat: KuduLikeCatalog): Unit = {
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("nullif(o_orderstatus, 'O')").as("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
    cat.createTable(TableDef("orders_an", orders.schema, Seq("o_orderkey")))
    cat.insert("orders_an", orders)
    cat.analyze("orders_an")
  }

  /** Emit the PERSISTED record's exact fields as one typed row. Stored
    * min/max are catalyst-internal strings; [[graft.catalog.ColStats]]
    * decodes them back (timestamps: epoch micros → emitted as millis).
    */
  private def s27Read(s: org.apache.spark.sql.SparkSession,
      cat: KuduLikeCatalog): org.apache.spark.sql.DataFrame = {
    val rec = cat.statsOf("orders_an").getOrElse(
      throw new IllegalStateException("s27: analyzed record missing or stale"))
    val schema = cat.schemaOf("orders_an")
    def cs(n: String) = rec.cols(n)
    def minOf(n: String) = cs(n).internalMin(schema(n).dataType).get
    def maxOf(n: String) = cs(n).internalMax(schema(n).dataType).get
    import s.implicits._
    Seq((rec.numRows,
      minOf("o_orderkey").asInstanceOf[Long], maxOf("o_orderkey").asInstanceOf[Long],
      cs("o_orderstatus").nullCount, cs("o_orderstatus").avgLen.get,
      cs("o_orderstatus").maxLen.get,
      minOf("o_totalprice").asInstanceOf[Double], maxOf("o_totalprice").asInstanceOf[Double],
      cs("o_totalprice").nullCount,
      minOf("o_orderdate").asInstanceOf[Long] / 1000L,
      maxOf("o_orderdate").asInstanceOf[Long] / 1000L))
      .toDF("n_rows", "key_min", "key_max", "st_nulls", "st_avglen",
        "st_maxlen", "price_min", "price_max", "price_nulls",
        "odate_min_ms", "odate_max_ms")
  }
}
