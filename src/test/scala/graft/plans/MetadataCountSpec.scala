package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.sources.{LakeIO, Tables}
import graft.syntax._

/** MetadataOnlyCount: COUNT-shaped queries over a graft-lake table answer
  * from the manifest's per-file row counts — no scan node in the plan —
  * and every guard (DVs, filters, null-sensitive counts, count-less
  * manifests) falls back to the real scan with correct results.
  */
class MetadataCountSpec extends AnyFunSuite {

  private val root = tempDir("meta_count_spec").toString

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  private lazy val lake: String = {
    val p = s"$root/events"
    rm(new java.io.File(p))
    LakeIO.writeLake(events, p)
    p
  }

  private def isMetadataOnly(df: DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan
    p.collectFirst {
      case r: DataSourceV2Relation => r
      case s: DataSourceV2ScanRelation => s
    }.isEmpty && p.collectFirst { case l: LocalRelation => l }.nonEmpty
  }

  test("global COUNT(*) answers from the manifest, no scan") {
    val df = spark.read.format("graft-lake").load(lake).groupBy().count()
    assert(isMetadataOnly(df))
    assert(df.collect().head.getLong(0) == events.count())
  }

  test("GROUP BY ts_hour COUNT(*) answers from the manifest") {
    val df = spark.read.format("graft-lake").load(lake)
      .groupBy($"ts_hour").agg(count(lit(1)).as("n"))
      .orderBy($"ts_hour")
    assert(isMetadataOnly(df))
    val expected = LakeIO.hourPartitioned(events)
      .groupBy($"ts_hour").agg(count(lit(1)).as("n"))
      .orderBy($"ts_hour").collect()
    assert(df.collect().toSeq == expected.toSeq)
  }

  test("time-travel count is metadata-only against that snapshot") {
    val p = s"$root/tt"
    rm(new java.io.File(p))
    val first = events.where($"event_id" % 2 === 0)
    LakeIO.writeLake(first, p)
    LakeIO.evolveAppend(events.where($"event_id" % 2 =!= 0), p)
    val v1 = spark.read.format("graft-lake").option("versionAsOf", "1").load(p)
      .groupBy().count()
    assert(isMetadataOnly(v1))
    assert(v1.collect().head.getLong(0) == first.count())
    val head = spark.read.format("graft-lake").load(p).groupBy().count()
    assert(isMetadataOnly(head))
    assert(head.collect().head.getLong(0) == events.count())
  }

  test("live deletion vectors defeat the rewrite but the count stays exact") {
    val p = s"$root/dv"
    rm(new java.io.File(p))
    LakeIO.writeLake(events, p)
    val n = LakeIO.deleteWhereMoR(spark, p, $"event_type" === "click")
    assert(n > 0)
    val df = spark.read.format("graft-lake").load(p).groupBy().count()
    assert(!isMetadataOnly(df))
    assert(df.collect().head.getLong(0) == events.count() - n)
  }

  test("filters and null-sensitive counts fall back to the scan") {
    val filtered = spark.read.format("graft-lake").load(lake)
      .where($"event_type" === "click").groupBy().count()
    assert(!isMetadataOnly(filtered))
    assert(filtered.collect().head.getLong(0) ==
      events.where($"event_type" === "click").count())

    val nullSensitive = spark.read.format("graft-lake").load(lake)
      .agg(count($"event_type").as("n"))
    assert(!isMetadataOnly(nullSensitive))
  }

  test("a manifest without row counts (pre-upgrade) falls back correctly") {
    val p = s"$root/legacy"
    rm(new java.io.File(p))
    LakeIO.writeLake(events, p)
    // strip the counts from the head snapshot and its mirror: exactly
    // what a manifest written before the `rows:` field looks like
    val head = ManifestFileIndex.headVersion(p).get
    Seq(new java.io.File(s"$p/${ManifestFileIndex.SnapshotDir}", s"manifest-$head.tsv"),
        new java.io.File(p, ManifestFileIndex.ManifestName)).foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      java.nio.file.Files.write(f.toPath,
        text.replaceAll("\trows:[0-9]+", "").getBytes("UTF-8"))
    }
    assert(ManifestFileIndex.read(p).get._2.forall(_.rowCount == -1L))
    val df = spark.read.format("graft-lake").load(p).groupBy().count()
    assert(!isMetadataOnly(df))
    assert(df.collect().head.getLong(0) == events.count())
  }

  test("MIN/MAX of stats-covered columns answer from the manifest") {
    val df = spark.read.format("graft-lake").load(lake)
      .agg(min($"event_id").as("lo"), max($"event_id").as("hi"),
        min($"value").as("vlo"), max($"value").as("vhi"),
        count(lit(1)).as("n"))
    assert(isMetadataOnly(df))
    val got = df.collect().head
    val exp = events.agg(min($"event_id"), max($"event_id"),
      min($"value"), max($"value"), count(lit(1))).collect().head
    assert(got.getLong(0) == exp.getLong(0) && got.getLong(1) == exp.getLong(1))
    assert(got.getDouble(2) == exp.getDouble(2) && got.getDouble(3) == exp.getDouble(3))
    assert(got.getLong(4) == exp.getLong(4))
  }

  test("per-partition MIN/MAX and the partition inventory are metadata-only") {
    val grouped = spark.read.format("graft-lake").load(lake)
      .groupBy($"ts_hour")
      .agg(min($"event_id").as("lo"), count(lit(1)).as("n"))
      .orderBy($"ts_hour")
    assert(isMetadataOnly(grouped))
    val expected = LakeIO.hourPartitioned(events)
      .groupBy($"ts_hour").agg(min($"event_id").as("lo"), count(lit(1)).as("n"))
      .orderBy($"ts_hour").collect()
    assert(grouped.collect().toSeq == expected.toSeq)

    val inv = spark.read.format("graft-lake").load(lake).select($"ts_hour").distinct()
    assert(isMetadataOnly(inv))
    assert(inv.count() ==
      LakeIO.hourPartitioned(events).select($"ts_hour").distinct().count())

    // min/max of the partition column itself = exact partition VALUES
    val bounds = spark.read.format("graft-lake").load(lake)
      .agg(min($"ts_hour").as("first"), max($"ts_hour").as("last"))
    assert(isMetadataOnly(bounds))
    val eb = LakeIO.hourPartitioned(events)
      .agg(min($"ts_hour"), max($"ts_hour")).collect().head
    assert(bounds.collect().head.toSeq == eb.toSeq)
  }

  test("partition-only WHERE clauses stay metadata-only; data predicates fall back") {
    val windowed = spark.read.format("graft-lake").load(lake)
      .where($"ts_hour" >= "2024-01-05-00" && $"ts_hour" <= "2024-01-05-23")
      .groupBy($"ts_hour").agg(count(lit(1)).as("n"))
      .orderBy($"ts_hour")
    assert(isMetadataOnly(windowed))
    val expected = LakeIO.hourPartitioned(events)
      .where($"ts_hour" >= "2024-01-05-00" && $"ts_hour" <= "2024-01-05-23")
      .groupBy($"ts_hour").agg(count(lit(1)).as("n"))
      .orderBy($"ts_hour").collect()
    assert(windowed.collect().toSeq == expected.toSeq)

    val point = spark.read.format("graft-lake").load(lake)
      .where($"ts_hour" === "2024-01-05-03").groupBy().count()
    assert(isMetadataOnly(point))
    assert(point.collect().head.getLong(0) ==
      LakeIO.hourPartitioned(events).where($"ts_hour" === "2024-01-05-03").count())

    // empty partition window: count 0, still metadata-only
    val none = spark.read.format("graft-lake").load(lake)
      .where($"ts_hour" === "1999-01-01-00").groupBy().count()
    assert(isMetadataOnly(none))
    assert(none.collect().head.getLong(0) == 0L)

    // mixed predicate (partition AND data column) must fall back
    val mixed = spark.read.format("graft-lake").load(lake)
      .where($"ts_hour" === "2024-01-05-03" && $"event_type" === "click")
      .groupBy().count()
    assert(!isMetadataOnly(mixed))
  }

  test("MIN/MAX of a non-partition string column declines (truncation risk)") {
    val df = spark.read.format("graft-lake").load(lake)
      .agg(min($"event_type").as("lo"))
    assert(!isMetadataOnly(df))
    assert(df.collect().head.getString(0) ==
      events.agg(min($"event_type")).collect().head.getString(0))
  }

  test("kill switch disables the rewrite") {
    spark.conf.set("spark.graft.metadataCount.enabled", "false")
    try {
      val df = spark.read.format("graft-lake").load(lake).groupBy().count()
      assert(!isMetadataOnly(df))
      assert(df.collect().head.getLong(0) == events.count())
    } finally spark.conf.set("spark.graft.metadataCount.enabled", "true")
  }

  test("SQL COUNT(*) through the text path is metadata-only") {
    spark.read.format("graft-lake").load(lake).createOrReplaceTempView("meta_cnt_events")
    val df = spark.sql("SELECT COUNT(*) AS n FROM meta_cnt_events")
    assert(isMetadataOnly(df))
    assert(df.collect().head.getLong(0) == events.count())
  }
}
