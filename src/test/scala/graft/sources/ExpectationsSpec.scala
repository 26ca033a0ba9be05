package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark.{spark, tempDir}

/** Write-time data-quality expectations: passing rows commit, each
  * failing row is quarantined with the names of the expectations it
  * violated, and the accounting is exact. NULL predicate results count
  * as violations (a row that can't prove quality doesn't enter the
  * corpus).
  */
class ExpectationsSpec extends AnyFunSuite {
  private val testRoot = tempDir("expectations").toString

  import spark.implicits._

  private val root = s"$testRoot/expect/t"

  private def rm(p: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go)); f.delete()
    }
    go(new java.io.File(p)); go(new java.io.File(p + "_quarantine"))
  }

  private def batch = Seq(
    (1L, Some(10.0), "ok"),
    (2L, Some(500.0), "ok"),     // fails value_in_range
    (3L, None, "ok"),            // fails value_present (NULL -> violation)
    (4L, Some(600.0), ""),       // fails value_in_range AND label_nonempty
    (5L, Some(20.0), "ok")
  ).toDF("id", "value", "label")
    .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))

  test("expectations split pass/quarantine exactly, with per-row violation names") {
    rm(root)
    val acct = LakeIO.writeLakeWithExpectations(batch, root, Seq(
      "value_present" -> $"value".isNotNull,
      "value_in_range" -> ($"value" < 100.0),
      "label_nonempty" -> (length($"label") > 0)))
    // table holds ONLY the passing rows
    val table = spark.read.format("graft-lake").load(root)
    assert(table.select($"id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 5L))
    // quarantine holds each failing row once, naming what it violated
    val q = spark.read.format("graft-lake").load(root + "_quarantine")
    val byId = q.select($"id", $"violated").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId.keySet === Set(2L, 3L, 4L))
    assert(byId(2L) === "value_in_range")
    // NULL value fails BOTH the presence check and the (NULL-valued)
    // range check — quality must be proved, not unprovable
    assert(byId(3L).split(",").toSet === Set("value_present", "value_in_range"))
    assert(byId(4L).split(",").toSet === Set("value_in_range", "label_nonempty"))
    // accounting: one row per expectation, exact counts
    val rows = acct.orderBy($"expectation").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq === Seq(
      ("label_nonempty", 1L, 5L, 2L),
      ("value_in_range", 3L, 5L, 2L),
      ("value_present", 1L, 5L, 2L)))
  }

  test("an all-passing batch writes no quarantine table") {
    rm(root)
    val good = batch.where($"id".isin(1L, 5L))
    val acct = LakeIO.writeLakeWithExpectations(good, root, Seq(
      "value_present" -> $"value".isNotNull))
    assert(acct.collect().map(r => (r.getLong(1), r.getLong(3))).toSeq === Seq((0L, 2L)))
    assert(!new java.io.File(root + "_quarantine").exists(),
      "no violations -> no quarantine lake")
    assert(spark.read.format("graft-lake").load(root).count() === 2L)
  }

  test("NULL expectation results quarantine rather than silently pass") {
    rm(root)
    // value IS NULL makes ($"value" < 100.0) evaluate to NULL, not false
    val acct = LakeIO.writeLakeWithExpectations(batch, root, Seq(
      "value_in_range" -> ($"value" < 100.0)))
    val q = spark.read.format("graft-lake").load(root + "_quarantine")
    assert(q.select($"id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(2L, 3L, 4L), "the NULL-valued row must be quarantined")
    assert(acct.head().getLong(1) === 3L)
  }
}
