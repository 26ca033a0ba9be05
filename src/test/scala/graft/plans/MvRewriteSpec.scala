package graft.plans

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SharedSpark.{spark, sf, tempDir}
import graft.sources.{LakeIO, Tables}
import graft.syntax._

/** Transparent MV rewrite: a fresh MV answers base-table aggregates from
  * `_mv/hourly_v*` files only; a stale MV declines; an incremental refresh
  * re-arms the rewrite; time travel is never rewritten.
  */
class MvRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  // This suite asserts WHICH FILES a count-shaped aggregate scans (MV vs
  // base); the manifest-count rule would answer those probes scan-free
  // and make both assertions vacuously false — keep it off here.
  override def beforeAll(): Unit =
    spark.conf.set("spark.graft.metadataCount.enabled", "false")

  private lazy val root =
    tempDir("mvspec").toString
  private lazy val path = {
    val p = root + "/events"
    LakeIO.writeLake(
      Tables.events(spark, sf).select($"event_id", $"ts", $"event_type", $"value"), p)
    MaterializedViewRewrite.install(spark)
    p
  }

  override def afterAll(): Unit = {
    Mv.clear()
    spark.conf.set("spark.graft.metadataCount.enabled", "true")
  }

  private def lake: DataFrame = spark.read.format("graft-lake").load(path)

  private def hourlyQ: DataFrame =
    lake.groupBy($"ts_hour").agg(
      count(lit(1)).as("n"),
      sum(round($"value", 6).cast("decimal(18,6)")).as("sdec"),
      max($"value").as("mx"),
      min($"value").as("mn"))

  /** The MV substitution turns the (V2) graft-lake scan into a V1 parquet
    * scan of `_mv/hourly_v*` — so "rewritten" is: an MV file-scan leaf
    * exists and NO V2 batch scan (the base table) remains.
    */
  private def mvScanned(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten.exists(_.contains("_mv/hourly_v"))

  private def baseScanned(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.nonEmpty

  test("fresh MV: hourly aggregate is answered from the MV files only") {
    Mv.ensureHourly(spark, path)
    val q = hourlyQ
    assert(mvScanned(q), "expected the MV parquet scan in the plan")
    assert(!baseScanned(q), "base-table V2 scan must be gone after rewrite")

    // values identical to the un-rewritten computation
    val viaMv = q.orderBy($"ts_hour").collect()
    Mv.clear()
    val direct = hourlyQ.orderBy($"ts_hour").collect()
    assert(viaMv.toSeq === direct.toSeq)
    Mv.ensureHourly(spark, path)
  }

  test("MV state writes partitioned — never a single-task funnel") {
    // dedicated lake: the shared suite MV may already exist (write-once)
    val root2 = tempDir("mvpart").toString
    val p2 = root2 + "/events"
    LakeIO.writeLake(
      Tables.events(spark, sf).select($"event_id", $"ts", $"event_type", $"value"), p2)
    // at test scale AQE correctly coalesces the tiny state shuffle to one
    // partition — that's adaptive sizing, not a funnel. Freeze coalescing
    // to observe the PLAN shape: hash-partitioned on the MV key, so a
    // high-cardinality key at 100 TB fans across the shuffle parallelism
    // instead of the old coalesce(1) single task.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val mv = try Mv.ensureHourly(spark, p2)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val files = Option(new java.io.File(mv.mvPath).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length >= 2,
      s"MV state wrote ${files.length} file(s) — single-task write")
    Mv.clear()
  }

  test("rollup: day-level and global aggregates re-aggregate MV partials") {
    Mv.ensureHourly(spark, path)
    val day = lake.groupBy(substring($"ts_hour", 1, 10).as("d"))
      .agg(count(lit(1)).as("n"),
        sum(round($"value", 6).cast("decimal(18,6)")).as("sdec"),
        max($"value").as("mx"))
    assert(mvScanned(day) && !baseScanned(day))
    val viaMv = day.orderBy($"d").collect()
    Mv.clear()
    val direct = day.orderBy($"d").collect()
    assert(viaMv.toSeq === direct.toSeq)

    Mv.ensureHourly(spark, path)
    val glob = lake.agg(count(lit(1)).as("n"), max($"value").as("mx"))
    assert(mvScanned(glob) && !baseScanned(glob))
    val g = glob.collect().head
    Mv.clear()
    val d2 = lake.agg(count(lit(1)).as("n"), max($"value").as("mx")).collect().head
    assert(g === d2)
    Mv.ensureHourly(spark, path)
  }

  test("unsupported shapes decline: filters and other aggregates") {
    Mv.ensureHourly(spark, path)
    val filtered = lake.where($"event_type" === "click")
      .groupBy($"ts_hour").agg(count(lit(1)).as("n"))
    assert(!mvScanned(filtered) && baseScanned(filtered),
      "a filtered aggregate must not be answered by the unfiltered MV")
    val avg = lake.groupBy($"ts_hour").agg(org.apache.spark.sql.functions.avg($"value"))
    assert(!mvScanned(avg) && baseScanned(avg))
  }

  test("staleness: append disarms the rewrite; incremental refresh re-arms it") {
    Mv.ensureHourly(spark, path)
    val extra = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"event_type", $"value")
      .where($"event_id" % 100 === 0)
      .withColumn("event_id", $"event_id" + 10000000L)
    LakeIO.evolveAppend(extra, path)

    // stale: plan must go back to the base table and SEE the new rows
    val q1 = lake.agg(count(lit(1)).as("n"))
    assert(!mvScanned(q1) && baseScanned(q1))
    val total = q1.collect().head.getLong(0)

    // refresh merges prior MV + increment only; rewrite returns
    Mv.ensureHourly(spark, path)
    val q2 = lake.agg(count(lit(1)).as("n"))
    assert(mvScanned(q2) && !baseScanned(q2))
    assert(q2.collect().head.getLong(0) === total)

    // and the refreshed hourly MV matches a direct recomputation
    val viaMv = hourlyQ.orderBy($"ts_hour").collect()
    Mv.clear()
    val direct = hourlyQ.orderBy($"ts_hour").collect()
    assert(viaMv.toSeq === direct.toSeq)
    Mv.ensureHourly(spark, path)
  }

  test("time travel is never rewritten") {
    Mv.ensureHourly(spark, path)
    val v1 = spark.read.format("graft-lake").option("versionAsOf", "1").load(path)
      .groupBy($"ts_hour").agg(count(lit(1)).as("n"))
    assert(!mvScanned(v1) && baseScanned(v1),
      "versionAsOf scan must not see HEAD-fresh MV data")
  }

  test("CoW delete in the refresh window routes through the CDC algebra") {
    Mv.ensureHourly(spark, path)
    LakeIO.deleteWhere(spark, path, $"event_id" % 5 === 0)
    // refresh across the rewrite commit: the append-only increment would
    // double-count every carried CoW row and never subtract the deleted
    // ones — the refreshed MV must equal a direct recomputation exactly
    Mv.ensureHourly(spark, path)
    val q = lake.agg(count(lit(1)).as("n"))
    assert(mvScanned(q) && !baseScanned(q))
    val viaMv = hourlyQ.orderBy($"ts_hour").collect()
    Mv.clear()
    val direct = hourlyQ.orderBy($"ts_hour").collect()
    assert(viaMv.toSeq === direct.toSeq)
  }

  test("compaction in the refresh window does not double-count") {
    import org.apache.spark.sql.graft.ManifestFileIndex
    // fragment some partitions so the compaction has real work to commit
    LakeIO.evolveAppend(Tables.events(spark, sf)
      .select($"event_id", $"ts", $"event_type", $"value")
      .where($"event_id" % 97 === 0)
      .withColumn("event_id", $"event_id" + 20000000L), path)
    Mv.ensureHourly(spark, path)
    val before = lake.count()
    val headBefore = ManifestFileIndex.headVersion(path).get
    LakeIO.compactSnapshots(spark, path)   // physical rewrite, logical no-op
    assert(ManifestFileIndex.headVersion(path).get > headBefore,
      "setup must produce a real compaction commit")
    Mv.ensureHourly(spark, path)
    val q = lake.agg(count(lit(1)).as("n"))
    assert(mvScanned(q) && !baseScanned(q))
    assert(q.collect().head.getLong(0) === before,
      "a compacted file re-added under a new name must not re-count")
  }
}
