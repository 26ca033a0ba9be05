package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark.{spark, tempDir}

/** `Tables.load`'s schema memo: a repeat load of a file launches no
  * schema-inference job, a rewritten file is read with its new schema,
  * and the memo keys on the session's parquet read confs.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  import spark.implicits._

  private val root = tempDir("tables_spec")

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(root.toFile)
  }

  /** A fresh sf directory under the spec's root. */
  private def sfDir(name: String): Path = Files.createDirectories(root.resolve(name))

  /** Writes `df` as the single parquet file `<dir>/<table>.parquet`,
    * replacing any file already there.
    */
  private def put(df: DataFrame, dir: Path, table: String): Unit = {
    val out = root.resolve(s"_write_${java.util.UUID.randomUUID()}")
    df.coalesce(1).write.parquet(out.toString)
    val part = out.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, dir.resolve(s"$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Option(out.toFile.listFiles()).foreach(_.foreach(_.delete()))
    out.toFile.delete()
    ()
  }

  test("a second load of the same file launches no job") {
    val dir = sfDir("repeat")
    Files.copy(java.nio.file.Paths.get(graft.SharedSpark.sf, "region.parquet"),
      dir.resolve("region.parquet"))
    // sessions with default confs: the shared session may carry parquet
    // read confs set by other suites
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val sc = spark.sparkContext
    val (first, jobs1) = JobCount(sc)(Tables.load(s1, dir.toString, "region"))
    assert(jobs1 > 0, "the first load infers the schema with a Spark job")
    val (second, jobs2) = JobCount(sc)(Tables.load(s1, dir.toString, "region"))
    assert(jobs2 == 0)
    // the memoized schema is Spark's own inference, so plans are unchanged
    val inferred = s1.read.parquet(dir.resolve("region.parquet").toString).schema
    assert(first.schema == inferred && second.schema == inferred)
    // a sibling session shares the memo
    val (_, jobs3) = JobCount(sc)(Tables.load(s2, dir.toString, "region"))
    assert(jobs3 == 0)
    assert(second.collect().toSet == first.collect().toSet)
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = sfDir("rewrite")
    put(Seq((1L, "a")).toDF("id", "name"), dir, "nation")
    val before = Tables.load(spark, dir.toString, "nation")
    assert(before.columns.toSeq == Seq("id", "name"))
    put(Seq((2L, "b", 7.5)).toDF("id", "name", "score"), dir, "nation")
    val after = Tables.load(spark, dir.toString, "nation")
    assert(after.columns.toSeq == Seq("id", "name", "score"))
    assert(after.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 7.5)))
  }

  // 2023-11-14 22:13:20.123456789 UTC; DuckDB and graft both truncate
  // the nanos to micros
  private val nanos = 1700000000123456789L
  private val micros = nanos / 1000

  /** An events file whose `ts` is parquet TIMESTAMP(NANOS), which Spark
    * cannot write itself.
    */
  private def putNanosEvents(dir: Path): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("user_id", 1L).append("ts", nanos))
    finally w.close()
  }

  private def eventsMicros(dir: Path, nanosAsLong: Boolean): Seq[Long] = {
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong.toString)
    val ev = Tables.events(s, dir.toString)
    assert(ev.schema("ts").dataType == TimestampType)
    ev.select(unix_micros($"ts")).as[Long].collect().toSeq
  }

  test("events decodes a TIMESTAMP(NANOS) ts under either nanosAsLong setting") {
    val dir = sfDir("nanos")
    putNanosEvents(dir)
    assert(eventsMicros(dir, nanosAsLong = false) == Seq(micros))
    assert(eventsMicros(dir, nanosAsLong = true) == Seq(micros))
    // the schema memoized under nanosAsLong=true (ts as a long) is not
    // served to a session that reads the file with it off
    val off = spark.newSession()
    off.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val raw = scala.util.Try(Tables.load(off, dir.toString, "events").schema("ts").dataType)
    assert(raw.toOption != Some(org.apache.spark.sql.types.LongType))
  }

  test("events decodes a TIMESTAMP_NTZ ts under either nanosAsLong setting") {
    val dir = sfDir("ntz")
    put(Seq((1L, micros)).toDF("user_id", "us")
      .select($"user_id", timestamp_micros($"us").cast("timestamp_ntz").as("ts")),
      dir, "events")
    assert(eventsMicros(dir, nanosAsLong = false) == Seq(micros))
    assert(eventsMicros(dir, nanosAsLong = true) == Seq(micros))
  }
}
