package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, tempDir}

/** Table CHECK constraints (Delta ADD CONSTRAINT parity): named SQL
  * predicates in table metadata, enforced on every row-introducing write
  * path; NULL passes (SQL standard); maintenance rewrites that only carry
  * rows skip re-validation.
  */
class LakeConstraintSpec extends AnyFunSuite {
  private val testRoot = tempDir("lake_constraint").toString

  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def df(vals: (Long, java.lang.Double)*) =
    vals.toSeq.toDF("id", "value")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))

  private def fresh(name: String, rows: (Long, java.lang.Double)*): String = {
    val root = s"$testRoot/constraint_spec/$name"
    rm(new java.io.File(root))
    LakeIO.writeLake(df(rows: _*), root)
    root
  }

  test("violating append is refused atomically; valid append passes") {
    val root = fresh("append", 1L -> Double.box(5.0), 2L -> Double.box(7.5))
    LakeIO.addConstraint(spark, root, "value_nonneg", "value >= 0")
    val v0 = ManifestFileIndex.headVersion(root).get

    val e = intercept[RuntimeException] {
      LakeIO.appendTxn(df(3L -> Double.box(-1.0), 4L -> Double.box(2.0)), root)
    }
    assert(e.getMessage.contains("value_nonneg"))
    // atomic: no new snapshot, no new rows, no staged debris in live dirs
    assert(ManifestFileIndex.headVersion(root).get == v0)
    assert(spark.read.format("graft-lake").load(root).count() == 2L)

    LakeIO.appendTxn(df(5L -> Double.box(0.0)), root)
    assert(spark.read.format("graft-lake").load(root).count() == 3L)
  }

  test("an unconstrained append never reads its stage; a constrained one does") {
    val root = fresh("stage_jobs", 1L -> Double.box(5.0))
    val sc = spark.sparkContext
    val batch = df(2L -> Double.box(1.0), 3L -> Double.box(2.0))
    // the jobs of the stage write alone, written the way appendTxn writes it
    val probe = root + "_probe"
    val (_, writeJobs) = JobCount(sc)(
      LakeIO.clusterByPart(LakeIO.hourPartitioned(batch), "ts_hour")
        .write.mode("overwrite").partitionBy("ts_hour")
        .option("compression", "zstd").parquet(probe))
    rm(new java.io.File(probe))
    val (_, appendJobs) = JobCount(sc)(LakeIO.appendTxn(batch, root))
    assert(appendJobs == writeJobs)
    assert(spark.read.format("graft-lake").load(root).count() == 3L)

    LakeIO.addConstraint(spark, root, "value_nonneg", "value >= 0")
    val v0 = ManifestFileIndex.headVersion(root).get
    val (e, rejectJobs) = JobCount(sc)(intercept[RuntimeException] {
      LakeIO.appendTxn(df(4L -> Double.box(-1.0), 5L -> Double.box(3.0)), root)
    })
    assert(e.getMessage.contains("value_nonneg"))
    assert(rejectJobs > writeJobs, "the constraint check reads the stage")
    assert(ManifestFileIndex.headVersion(root).get == v0)
    assert(spark.read.format("graft-lake").load(root).count() == 3L)
  }

  test("NULL passes a CHECK (SQL standard); IS NOT NULL spelling forbids it") {
    val root = fresh("nulls", 1L -> Double.box(5.0))
    LakeIO.addConstraint(spark, root, "value_pos", "value > 0")
    // value NULL → predicate NULL → not a violation
    LakeIO.appendTxn(df(2L -> null), root)
    assert(spark.read.format("graft-lake").load(root).count() == 2L)

    LakeIO.addConstraint(spark, root, "id_notnull", "id IS NOT NULL")
    val e = intercept[RuntimeException] {
      LakeIO.appendTxn(
        Seq((null.asInstanceOf[java.lang.Long], java.lang.Double.valueOf(1.0)))
          .toDF("id", "value")
          .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01"))), root)
    }
    assert(e.getMessage.contains("id_notnull"))
  }

  test("addConstraint refuses when existing rows violate; names are unique") {
    val root = fresh("existing", 1L -> Double.box(-3.0))
    val e = intercept[Exception] {
      LakeIO.addConstraint(spark, root, "value_nonneg", "value >= 0")
    }
    assert(e.getMessage.contains("existing"))
    assert(LakeIO.constraints(root).isEmpty)

    LakeIO.addConstraint(spark, root, "id_pos", "id > 0")
    intercept[Exception] {
      LakeIO.addConstraint(spark, root, "id_pos", "id > 1")
    }
    // malformed SQL fails at parse, before any metadata write
    intercept[Exception] {
      LakeIO.addConstraint(spark, root, "broken", "value >=")
    }
    assert(LakeIO.constraints(root).map(_._1) == Seq("id_pos"))
  }

  test("CoW update and MoR merge cannot write violating values") {
    val root = fresh("dml", 1L -> Double.box(5.0), 2L -> Double.box(7.0))
    LakeIO.addConstraint(spark, root, "value_nonneg", "value >= 0")
    val v0 = ManifestFileIndex.headVersion(root).get

    val eu = intercept[RuntimeException] {
      LakeIO.updateWhere(spark, root, $"id" === 1L,
        Seq("value" -> lit(-9.0)))
    }
    assert(eu.getMessage.contains("value_nonneg"))
    assert(ManifestFileIndex.headVersion(root).get == v0)

    val em = intercept[RuntimeException] {
      LakeIO.mergeIntoMoR(spark, root, df(2L -> Double.box(-4.0)), "id")
    }
    assert(em.getMessage.contains("value_nonneg"))
    assert(ManifestFileIndex.headVersion(root).get == v0)
    // table content intact
    assert(spark.read.format("graft-lake").load(root)
      .agg(sum($"value")).head().getDouble(0) == 12.0)

    // valid forms of the same mutations pass
    LakeIO.updateWhere(spark, root, $"id" === 1L, Seq("value" -> lit(9.0)))
    LakeIO.mergeIntoMoR(spark, root, df(2L -> Double.box(4.0)), "id")
    assert(spark.read.format("graft-lake").load(root)
      .agg(sum($"value")).head().getDouble(0) == 13.0)
  }

  test("drop lifts enforcement; carried-row maintenance never re-validates") {
    val root = fresh("drop", 1L -> Double.box(5.0), 2L -> Double.box(6.0))
    LakeIO.addConstraint(spark, root, "value_nonneg", "value >= 0")
    LakeIO.appendTxn(df(3L -> Double.box(1.0)), root) // fragment the hour
    // carried-row compaction on a constrained table: fine (skips validation)
    LakeIO.compactSnapshots(spark, root)
    assert(spark.read.format("graft-lake").load(root).count() == 3L)

    LakeIO.dropConstraint(root, "value_nonneg")
    LakeIO.appendTxn(df(4L -> Double.box(-1.0)), root)
    assert(spark.read.format("graft-lake").load(root).count() == 4L)
    intercept[Exception] { LakeIO.dropConstraint(root, "value_nonneg") }
  }

  test("publish re-validates against constraints added AFTER staging") {
    // adversarial ordering (r10 ADVICE): rows staged on an open branch
    // are invisible to addConstraint's head scan, so the constraint adds
    // cleanly over violating staged rows — the PUBLISH must be what
    // refuses, or the whole-table-invariant contract silently breaks.
    val root = fresh("postconstraint", 1L -> Double.box(5.0))
    LakeIO.appendToBranch(df(2L -> Double.box(-1.0)), root, "exp")
    LakeIO.addConstraint(spark, root, "value_nonneg", "value >= 0")
    val v0 = ManifestFileIndex.headVersion(root).get

    val e = intercept[RuntimeException] { LakeIO.publishBranch(root, "exp") }
    assert(e.getMessage.contains("value_nonneg"))
    // refused atomically: no commit landed, and the stage marker was
    // restored — the branch survives for triage, then drops cleanly
    assert(ManifestFileIndex.headVersion(root).get == v0)
    assert(LakeIO.readBranch(spark, root, "exp").count() == 2L)
    LakeIO.dropBranch(root, "exp")
    assert(spark.read.format("graft-lake").load(root).count() == 1L)

    // same ordering through the single-stage WAP flow
    LakeIO.stageAppend(df(3L -> Double.box(0.5)), root, "audit1")
    LakeIO.addConstraint(spark, root, "value_big", "value >= 1")
    val e2 = intercept[RuntimeException] { LakeIO.publishStaged(root, "audit1") }
    assert(e2.getMessage.contains("value_big"))
    LakeIO.dropStagedAppend(root, "audit1")
    assert(spark.read.format("graft-lake").load(root).count() == 1L)
  }

  test("empty micro-batch / append on a constrained table is a no-op, not a crash") {
    // an empty batch stages only _SUCCESS — no part-files. Validation
    // must skip (zero rows satisfy every CHECK vacuously) instead of
    // throwing 'Unable to infer schema' and killing the stream. (r10
    // ADVICE medium: update-mode triggers emit empty batches routinely.)
    val root = fresh("emptybatch", 1L -> Double.box(5.0))
    LakeIO.addConstraint(spark, root, "value_nonneg", "value >= 0")
    val v0 = ManifestFileIndex.headVersion(root).get

    val empty = LakeIO.hourPartitioned(df(2L -> Double.box(1.0))).where(lit(false))
    LakeIO.appendExactlyOnce(root, empty, batchId = 7L)
    assert(spark.read.format("graft-lake").load(root).count() == 1L)

    LakeIO.appendTxn(df(), root)
    assert(spark.read.format("graft-lake").load(root).count() == 1L)
    assert(ManifestFileIndex.headVersion(root).get >= v0)
  }

  test("writeLake full replace keeps constraints; history resets to a fresh chain") {
    // mode("overwrite") used to delete the whole directory — constraints
    // silently vanished with it (probed r11). The staged replace keeps
    // CURRENT-STATE metadata (constraints govern writes through any
    // replace, Delta semantics) while per-snapshot history resets: the
    // replaced files are gone, so a surviving version chain would
    // advertise unreadable snapshots. A violating replacement aborts
    // with the table intact; a valid one starts a fresh v1.
    val root = fresh("replace", 1L -> Double.box(5.0))
    LakeIO.addConstraint(spark, root, "value_nonneg", "value >= 0")

    val e = intercept[RuntimeException] {
      LakeIO.writeLake(df(2L -> Double.box(-3.0)), root)
    }
    assert(e.getMessage.contains("value_nonneg"))
    assert(spark.read.format("graft-lake").load(root).count() == 1L)

    LakeIO.writeLake(df(3L -> Double.box(2.0)), root)
    assert(LakeIO.constraints(root).map(_._1) == Seq("value_nonneg"))
    assert(ManifestFileIndex.headVersion(root).contains(1))
    assert(spark.read.format("graft-lake").load(root)
      .select($"id").collect().map(_.getLong(0)).toSeq == Seq(3L))
    intercept[RuntimeException] {
      LakeIO.appendTxn(df(4L -> Double.box(-1.0)), root)
    }
  }

  test("branch staging enforces constraints at STAGE time, not publish time") {
    val root = fresh("branch", 1L -> Double.box(5.0))
    LakeIO.addConstraint(spark, root, "value_nonneg", "value >= 0")
    val e = intercept[RuntimeException] {
      LakeIO.appendToBranch(df(2L -> Double.box(-1.0)), root, "exp")
    }
    assert(e.getMessage.contains("value_nonneg"))
    // the refusal fired before any stage marker was written: no branch
    intercept[Exception] { LakeIO.readBranch(spark, root, "exp") }
    // a valid branch append stages and publishes cleanly
    LakeIO.appendToBranch(df(3L -> Double.box(4.0)), root, "exp")
    LakeIO.publishBranch(root, "exp")
    assert(spark.read.format("graft-lake").load(root).count() == 2L)
  }

  test("exactly-once streaming append enforces constraints per micro-batch") {
    val root = fresh("stream", 1L -> Double.box(5.0))
    LakeIO.addConstraint(spark, root, "value_nonneg", "value >= 0")
    val v0 = ManifestFileIndex.headVersion(root).get

    val bad = LakeIO.hourPartitioned(df(2L -> Double.box(-1.0)))
    val e = intercept[RuntimeException] {
      LakeIO.appendExactlyOnce(root, bad, batchId = 1L)
    }
    assert(e.getMessage.contains("value_nonneg"))
    assert(ManifestFileIndex.headVersion(root).get == v0)
    // the failed batch left no staged debris; a corrected replay of the
    // SAME batchId commits cleanly (the at-least-once retry story)
    LakeIO.appendExactlyOnce(root,
      LakeIO.hourPartitioned(df(2L -> Double.box(1.0))), batchId = 1L)
    assert(spark.read.format("graft-lake").load(root).count() == 2L)
  }

  test("SQL surface: ADD/SHOW/DROP CONSTRAINT through the catalog") {
    val wh = s"$testRoot/constraint_spec/sqlwh"
    rm(new java.io.File(wh))
    val root = s"$wh/default/items"
    LakeIO.writeLake(df(1L -> Double.box(5.0)), root)
    spark.conf.set("spark.sql.catalog.graft_cons",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cons.warehouse", wh)

    val added = spark.sql(
      "ALTER TABLE graft_cons.default.items ADD CONSTRAINT value_nonneg CHECK (value >= 0)")
      .collect()
    assert(added.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("value_nonneg", "value >= 0")))

    val shown = spark.sql("SHOW CONSTRAINTS IN graft_cons.default.items").collect()
    assert(shown.map(_.getString(0)).toSeq == Seq("value_nonneg"))

    val e = intercept[RuntimeException] {
      LakeIO.appendTxn(df(9L -> Double.box(-2.0)), root)
    }
    assert(e.getMessage.contains("value_nonneg"))

    spark.sql("ALTER TABLE graft_cons.default.items DROP CONSTRAINT value_nonneg")
    assert(LakeIO.constraints(root).isEmpty)
    LakeIO.appendTxn(df(9L -> Double.box(-2.0)), root)
    assert(spark.read.format("graft-lake").load(root).count() == 2L)
  }
}
