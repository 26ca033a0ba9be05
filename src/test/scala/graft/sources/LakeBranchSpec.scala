package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, tempDir}

/** Branch staging (multi-commit WAP): a chain of staged appends invisible
  * on main, readable as one state, published as one squashed rebased
  * commit or dropped without a trace.
  */
class LakeBranchSpec extends AnyFunSuite {
  private val testRoot = tempDir("lake_branch").toString

  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def df(tag: String, ids: Long*) =
    ids.toSeq.toDF("id").select($"id", lit(tag).as("v"))
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))

  test("branch appends accumulate invisibly; publish squashes and rebases over main") {
    val root = s"$testRoot/branch_spec/items"
    rm(new java.io.File(root))
    LakeIO.writeLake(df("orig", 1L, 2L), root)
    val v0 = ManifestFileIndex.headVersion(root).get

    assert(LakeIO.appendToBranch(df("b1", 10L), root, "exp") == 1)
    assert(LakeIO.appendToBranch(df("b2", 11L, 12L), root, "exp") == 2)
    // main sees nothing; the branch sees base + both appends
    assert(spark.read.format("graft-lake").load(root).count() == 2L)
    assert(ManifestFileIndex.headVersion(root).get == v0)
    val br = LakeIO.readBranch(spark, root, "exp")
    assert(br.count() == 5L)
    assert(br.where($"v".startsWith("b")).count() == 3L)

    // a commit lands on MAIN while the branch is open…
    LakeIO.appendTxn(df("main", 3L), root)
    // …publish = one squashed commit, rebased over it
    val v = LakeIO.publishBranch(root, "exp")
    assert(v == v0 + 2)
    val got = spark.read.format("graft-lake").load(root)
    assert(got.count() == 6L)
    assert(got.select($"id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 10L, 11L, 12L))
    // markers consumed; branch name reusable
    intercept[Exception] { LakeIO.readBranch(spark, root, "exp") }
  }

  test("branch reader option + SQL surface: SHOW/PUBLISH/DROP BRANCH") {
    val wh = s"$testRoot/branch_sql"
    rm(new java.io.File(wh))
    val root = s"$wh/default/items"
    LakeIO.writeLake(df("orig", 1L, 2L), root)
    LakeIO.appendToBranch(df("b1", 10L), root, "exp-run-2")
    LakeIO.appendToBranch(df("b2", 11L), root, "exp-run-2")
    LakeIO.appendToBranch(df("c1", 20L), root, "other")

    // .option("branch", name) reads base + branch appends; main untouched
    val br = spark.read.format("graft-lake").option("branch", "exp-run-2").load(root)
    assert(br.count() == 4L)
    assert(spark.read.format("graft-lake").load(root).count() == 2L)
    intercept[Exception] {
      spark.read.format("graft-lake").option("branch", "nope").load(root).count()
    }

    spark.conf.set("spark.sql.catalog.graft_br",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_br.warehouse", wh)
    val shown = spark.sql("SHOW BRANCHES IN graft_br.default.items").collect()
    assert(shown.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("exp-run-2", 2L, 1L), ("other", 1L, 1L)))

    val pub = spark.sql(
      "ALTER TABLE graft_br.default.items PUBLISH BRANCH 'exp-run-2'").collect()
    assert(pub.head.getLong(1) == 2L)
    assert(spark.read.format("graft-lake").load(root).count() == 4L)

    spark.sql("ALTER TABLE graft_br.default.items DROP BRANCH other")
    assert(spark.sql("SHOW BRANCHES IN graft_br.default.items").collect().isEmpty)
  }

  test("branch refuses to combine with other row-set-selecting options") {
    // the r10 invariant: reader options that change WHICH ROWS a scan
    // sees compose explicitly or refuse. branch resolves to a stagedAsOf
    // read, so a co-passed travel/changefeed option would silently win
    // or lose depending on which the downstream scan prefers.
    val root = s"$testRoot/branch_spec/combine"
    rm(new java.io.File(root))
    LakeIO.writeLake(df("orig", 1L), root)
    LakeIO.appendToBranch(df("b1", 10L), root, "exp")
    Seq(
      "versionAsOf" -> "1",
      "stagedAsOf" -> "b-exp-0",
      "timestampAsOf" -> "2099-01-01 00:00:00",
      "changesFrom" -> "0",
      "changesTo" -> "1").foreach { case (opt, v) =>
      val e = intercept[Exception] {
        spark.read.format("graft-lake")
          .option("branch", "exp").option(opt, v).load(root).count()
      }
      assert(e.getMessage.contains("branch cannot combine"),
        s"option $opt must refuse alongside branch: ${e.getMessage}")
    }
    // and the plain branch read still works
    assert(spark.read.format("graft-lake")
      .option("branch", "exp").load(root).count() == 2L)
  }

  test("dropBranch abandons every staged append without touching the table") {
    val root = s"$testRoot/branch_spec_drop/items"
    rm(new java.io.File(root))
    LakeIO.writeLake(df("orig", 1L), root)
    LakeIO.appendToBranch(df("x1", 20L), root, "dead")
    LakeIO.appendToBranch(df("x2", 21L), root, "dead")
    val files = ManifestFileIndex.readStagedDelta(root, "b-dead-1").get._2
    assert(files.size >= 2)
    LakeIO.dropBranch(root, "dead")
    assert(files.forall(p => !new java.io.File(root, p).exists()),
      "dropped branch data files must be deleted")
    intercept[Exception] { LakeIO.readBranch(spark, root, "dead") }
    assert(spark.read.format("graft-lake").load(root).count() == 1L)
    // orphan cleanup finds nothing left to sweep either
    ManifestFileIndex.removeOrphanFiles(root, olderThanMs = 0L)
    assert(spark.read.format("graft-lake").load(root).count() == 1L)
  }
}
