package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** The renamed/mixed-era scan guard (GraftLakeSource.newScanBuilder) with
  * a session that genuinely has NO Graft rules installed — the data-loss
  * mode the guard exists to refuse: a bare session's delegated parquet
  * scan would silently null-fill renamed columns on pre-rename files and
  * parse day-era directory values as the current partition column.
  *
  * The bare session shares SharedSpark's SparkContext (one context per
  * JVM) but is built without `withExtensions` and with no
  * `spark.sql.extensions` in the context conf — possible only because
  * SharedSpark installs via `withExtensions` (see the note there). Every
  * test restores the shared session as default/active in a finally.
  */
class BareSessionGuardSpec extends AnyFunSuite {

  private val testRoot = tempDir("bare_session_guard").toString

  private val base = s"$testRoot/bare_guard_spec"

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  /** Build (or reuse) a session on the shared context with zero Graft
    * extensions, run `body` with it, and always restore the shared
    * session as default+active.
    */
  private def withBareSession[A](body: SparkSession => A): A = {
    spark.range(1).count() // force shared-context init before clearing
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val bare = SparkSession.builder().master("local[4]").getOrCreate()
      assert(bare ne spark, "builder must mint a NEW session once cleared")
      assert(!graft.plans.ApplyDeletionVectors.ranIn(bare))
      body(bare)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("bare session refuses a renamed table; extension session reads mapped values") {
    val root = s"$base/renamed"
    rm(new java.io.File(root))
    LakeIO.writeLake(events, root)
    LakeIO.renameColumn(root, "value", "amount")

    // extension-installed session: mapping resolves, nothing null-fills
    val t = spark.read.format("graft-lake").load(root)
    assert(t.columns.contains("amount"))
    assert(t.where($"amount".isNull).count() == 0)
    assert(t.count() == events.count())

    withBareSession { bare =>
      val ex = intercept[IllegalArgumentException] {
        bare.read.format("graft-lake").load(root).collect()
      }
      assert(ex.getMessage.contains("has renamed columns"))
    }
  }

  test("bare session refuses a mixed-era table") {
    val root = s"$base/mixed_era"
    rm(new java.io.File(root))
    LakeIO.writeLakeDay(events.limit(60), root)
    LakeIO.evolvePartitioning(root, "ts_hour")
    LakeIO.evolveAppend(
      events.limit(20).withColumn("event_id", $"event_id" + 9000000L), root)
    val (_, entries) = ManifestFileIndex.read(root).get
    assert(entries.exists(_.relPath.startsWith("ts_day=")) &&
      entries.exists(_.relPath.startsWith("ts_hour=")), "mixed-era fixture")

    withBareSession { bare =>
      val ex = intercept[IllegalArgumentException] {
        bare.read.format("graft-lake").load(root).collect()
      }
      assert(ex.getMessage.contains("is mixed-era"))
    }
  }

  test("bare session still reads a plain table (guard does not over-block)") {
    val root = s"$base/plain"
    rm(new java.io.File(root))
    LakeIO.writeLake(events.limit(40), root)
    withBareSession { bare =>
      assert(bare.read.format("graft-lake").load(root).count() == 40)
    }
  }
}
