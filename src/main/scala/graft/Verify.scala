package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.DecimalType
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Decimal adapter (round-1 verdict): the driver hashes Spark parquet
  * decimals as str(Decimal) but oracle decimals as float64 repr, so final
  * DECIMAL outputs are cast to DOUBLE on BOTH sides — the Spark result via
  * QDef.castDecimalOutputs, the oracle SQL via a projection wrapper adding
  * CAST(col AS DOUBLE) for exactly the columns that were decimal in the
  * Spark schema. Inner ORDER BY survives the wrapper (projection-only outer
  * select; validated in-order vs DuckDB by tools/t2_local.py T2_INORDER=1).
  */
object Verify {
  /** Fixture precondition (round-10 #7): every declared key column must be
    * UNIQUE. Several oracle CTEs aggregate per key (e.g. the simhash64 CTE
    * GROUPs BY doc_id) and every keyed-table query assumes dup-ignore is a
    * no-op on the raw fixture; a duplicated corpus silently changes oracle
    * semantics instead of failing. (A per-row oracle reformulation cannot
    * rescue determinism anyway: duplicate ids make each query's total
    * ORDER BY a tie, so row order diverges engine-to-engine regardless.)
    * Fail the whole run loudly before dumping anything.
    */
  def checkFixturePreconditions(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{col, countDistinct, count}
    val keyed = Seq(
      "region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "events" -> "event_id", "documents" -> "doc_id",
      "embeddings" -> "vec_id")
    keyed.foreach { case (t, k) =>
      val r = Tables.load(spark, sfDir, t)
        .agg(count(col(k)).as("n"), countDistinct(col(k)).as("d")).head()
      require(r.getLong(0) == r.getLong(1),
        s"fixture precondition violated: $t.$k has ${r.getLong(0)} rows but " +
          s"${r.getLong(1)} distinct keys — regenerate the fixture " +
          "(tools/gen_sf.py asserts this at generation time)")
    }
  }

  def main(args: Array[String]): Unit = {
    // usage: Verify <sfDir> <outDir> [queryName...] — names filter the run
    // (dev loop: re-dump one query + its oracle without the full sweep)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    checkFixturePreconditions(spark, sfDir)
    // per query: output fields in Spark order, flagged (isDecimal, isLong)
    val outFields = scala.collection.mutable.Map.empty[String, Seq[(String, Boolean, Boolean)]]
    SparkEntry.all.filter(q => only.isEmpty || only(q.name)).foreach { q =>
      try {
        val raw0 = q.fn(spark, sfDir)
        val decFields = raw0.schema.fields.filter(_.dataType.isInstanceOf[DecimalType])
        val raw = if (decFields.nonEmpty) raw0.persist() else raw0
        // Representability guard (round-10 verdict): the driver-hash contract
        // casts every decimal output to DOUBLE on both sides, so any value
        // past double's ~16 significant digits rounds engine-dependently
        // (tpch_q1's sum_charge hit 17 digits at sf1 and diverged by 1 ulp).
        // Fail loudly HERE — at whatever scale Verify runs — instead of
        // letting the divergence surface only as a downstream hash mismatch.
        if (decFields.nonEmpty) {
          import org.apache.spark.sql.functions.col
          val lossy = decFields.map { f =>
            col(f.name).isNotNull &&
              col(f.name).cast("double").cast(f.dataType) =!= col(f.name)
          }.reduce(_ || _)
          val bad = raw.filter(lossy)
            .select(decFields.map(f => col(f.name)).toIndexedSeq: _*).limit(1).collect()
          require(bad.isEmpty,
            s"decimal output exceeds double representability (driver casts " +
              s"decimals to DOUBLE): ${bad.headOption.getOrElse("")} in columns " +
              decFields.map(_.name).mkString(",") +
              " — emit fewer significant digits (e.g. fixed-point BIGINT units)")
        }
        val fields = raw.schema.fields
          .map(f => (f.name, f.dataType.isInstanceOf[DecimalType],
            f.dataType == org.apache.spark.sql.types.LongType)).toSeq
        QDef.castDecimalOutputs(raw).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        if (decFields.nonEmpty) raw.unpersist()
        outFields(q.name) = fields
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        // The round-8 trap: an errored query left NO output, and the
        // driver's gate silently shrank (126/126 reported where 126/128 was
        // the truth). Write a one-row __error marker instead — it can never
        // match any oracle, so the failure lands in CORRECTNESS_r{N} as a
        // loud per-query mismatch under the query's own name.
        try {
          import spark.implicits._
          Seq(("__error", String.valueOf(e.getMessage).take(500)))
            .toDF("__error", "message").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/${q.name}")
        } catch { case _: Throwable => () }
      }
    }
    // Dialect adapter (round-1 DECIMAL, round-11 HUGEINT): the driver hashes
    // DuckDB cells by their DuckDB type, so any oracle column DuckDB widens
    // past the Spark type hash-mismatches even when every value is equal.
    // Two known wideners: Spark DECIMAL vs DuckDB DECIMAL repr (cast both
    // sides to DOUBLE), and DuckDB sum(INTEGER/BIGINT) -> HUGEINT/INT128
    // where Spark emits INT64 (cast the oracle column to BIGINT — a no-op
    // when the oracle is already BIGINT, a lossless narrowing otherwise
    // since Spark computed the same value in 64 bits). Driven by the
    // SPARK-side schema, so a newly-added bare `sum(x)` oracle can never
    // reach the driver un-adapted.
    def wrapOracle(name: String, sql: String): String =
      outFields.get(name) match {
        case Some(fields) if fields.exists(f => f._2 || f._3) =>
          val proj = fields.map { case (n, isDec, isLong) =>
            val qn = "\"" + n + "\""
            if (isDec) s"CAST($qn AS DOUBLE) AS $qn"
            else if (isLong) s"CAST($qn AS BIGINT) AS $qn"
            else qn
          }.mkString(", ")
          s"SELECT $proj FROM (\n$sql\n) graft_dialect_adapter"
        case _ => sql
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(wrapOracle(k, v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
