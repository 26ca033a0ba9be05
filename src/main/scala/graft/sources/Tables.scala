package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. These are the workload
  * carriers for the engine: `events` plays the reference's Kafka
  * "weather" stream in batch form (reference:
  * logging-server/server.py:63-70 record shape), the TPC-H-ish tables
  * carry relational breadth, `documents`/`embeddings` carry the
  * LLM-pipeline operators.
  *
  * At 100 TB these would be directory- or bucket-partitioned tables;
  * all readers go through this single seam so a catalog/partitioned
  * layout swap touches one file.
  *
  * Note: `documents` and `embeddings` are present on disk at every scale
  * factor but undocumented in TESTDATA.md (see FIXTURES.md §B for their
  * verified schemas).
  *
  * Schema memo: `spark.read.parquet(path)` runs a footer-read Spark job
  * on every call to infer the schema. [[load]] infers each file's schema
  * once and reads with it passed in, so a repeat load launches no job.
  * The memo key is the file's qualified path, length and modification
  * time (its Hadoop `FileStatus`), plus the session's parquet read
  * confs (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`), which
  * change how a footer decodes (e.g. `nanosAsLong` in [[events]]). A
  * rewritten file gets a new key; the key holds no session, so every
  * session of the JVM shares the memo.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class SchemaKey(path: String, length: Long,
      modified: Long, readConfs: Map[String, String])
  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name")
    val path = s"$sfDir/$name.parquet"
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val readConfs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    val key = SchemaKey(st.getPath.toString, st.getLen, st.getModificationTime, readConfs)
    val schema = schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** `events.ts` normalizer — the physical encoding has differed across
    * driver-generated datasets, so the reader dispatches on the decoded
    * type rather than assuming one:
    *   - parquet TIMESTAMP(NANOS): Spark cannot read it natively; decode
    *     as epoch-nanos long (`nanosAsLong`) and truncate to micros (the
    *     same truncation DuckDB applies, so the oracle sees identical
    *     instants);
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): decoded as
    *     TIMESTAMP_NTZ; cast to TimestampType (session TZ is pinned UTC
    *     everywhere, so the wall clock is preserved bit-exactly);
    *   - already TimestampType: pass through.
    * Every engine path reads events through this one seam.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
