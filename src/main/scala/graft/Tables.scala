package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Fixture-table access (TESTDATA.md / FIXTURES.md).
  *
  * The reference binds Hive tables to Kudu storage via TBLPROPERTIES
  * (reference: KuduStorageHandler.java:223-278); here every fixture table is a
  * parquet directory and the Spark planner provides splits, locality and
  * projection/predicate pushdown natively (SURVEY.md S1-S5).
  *
  * A table's schema is resolved once per file version, never per query, as
  * the reference reads it from the Hive metastore (DESIGN.md principle 5).
  * Only a signature and a `StructType` are kept, never a DataFrame, plan,
  * file index or row, so every query still lists and scans the files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Timestamp encodings drift across fixture generations: TIMESTAMP_MICROS
    // isAdjustedToUTC=1 (Spark TimestampType), isAdjustedToUTC=0 (Spark
    // TimestampNTZType), and TIMESTAMP(NANOS) (rejected by the vectorized
    // reader unless read as a long). Normalize ALL of them to TimestampType
    // here, at the storage seam — the reference does the same in its type
    // bridge (HiveKuduBridgeUtils.java:134-137,192-196: every timestamp
    // becomes a long at the boundary). The session zone is pinned to UTC in
    // every entry point, so the NTZ->TZ cast is a lossless reinterpretation.
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val raw = spark.read.schema(schemaOf(spark, path)).parquet(path)
    raw.schema.fields.foldLeft(raw) { (df, f) =>
      f.dataType match {
        case TimestampNTZType =>
          df.withColumn(f.name, col(f.name).cast(TimestampType))
        case LongType if name == "events" && f.name == "ts" =>
          // nanos-as-long legacy branch: truncate to micros, like DuckDB.
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ => df
      }
    }
  }

  /** A file version: every file under the table path with its length and
    * modification time, sorted by path. */
  private type Signature = Seq[(String, Long, Long)]

  /** The session confs that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive")

  /** (table path, inference confs) -> the last signature seen and its schema. */
  private val schemas = new ConcurrentHashMap[(String, Seq[Option[String]]), (Signature, StructType)]()

  private def signature(spark: SparkSession, path: String): Signature = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files) else Seq(st)
    files(fs.getFileStatus(p))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).sorted
  }

  /** The schema of `path` under this session's inference confs: inferred on
    * a new signature (replacing the path's entry), reused otherwise. The
    * signature is taken before inference, so a file rewritten in between
    * leaves an entry whose signature no longer matches: the next load
    * infers again rather than trusting a stale schema.
    */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val key = (path, InferenceConfs.map(spark.conf.getOption))
    val sig = signature(spark, path)
    Option(schemas.get(key)).collect { case (`sig`, schema) => schema }.getOrElse {
      val schema = spark.read.parquet(path).schema
      schemas.put(key, (sig, schema))
      schema
    }
  }

  /** Register every fixture table as a temp view so `spark.sql` queries can
    * name them exactly like the DuckDB oracle does. The first call over a
    * file version runs one schema-inference job per table; later calls list
    * the files and run none. Nothing is scanned until an action runs.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Guarantee at least the cluster's default parallelism before a CPU-heavy
    * narrow transform. A small fixture table is a single parquet row-group =
    * a single task, which serializes per-row work (md5 shingling, regex)
    * onto one core; a round-robin repartition fixes that. At production
    * scale the scan already yields >= defaultParallelism partitions and this
    * is a no-op — no shuffle is added on the 100-TB path.
    */
  def parallel(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
