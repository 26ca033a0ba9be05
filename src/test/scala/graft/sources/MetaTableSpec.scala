package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, tempDir}

/** Iceberg-style metadata tables (`cat.ns.t.files/snapshots/tags/
  * constraints`): manifest-backed LocalScans addressed as an extra
  * identifier level — joinable SQL over table metadata with zero data
  * files opened.
  */
class MetaTableSpec extends AnyFunSuite {
  private val testRoot = tempDir("meta_table").toString

  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private val wh = s"$testRoot/meta_spec"
  private val root = s"$wh/default/items"

  private def df(ids: Long*) =
    ids.toSeq.toDF("id")
      .withColumn("ts", to_timestamp(
        concat(lit("2024-01-01 0"), $"id" % 3, lit(":00:01"))))
      .withColumn("value", $"id" * 1.5)

  private def setup(): Unit = {
    rm(new java.io.File(wh))
    LakeIO.writeLake(df(1L, 2L, 3L), root)     // v1: hours 00,01,02
    LakeIO.appendTxn(df(10L, 11L), root)       // v2: +hours 01,02
    spark.conf.set("spark.sql.catalog.graft_meta",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_meta.warehouse", wh)
  }

  test("files: inventory matches the manifest; VERSION AS OF scopes the file set") {
    setup()
    val (_, entries) = ManifestFileIndex.read(root, None).get
    val got = spark.sql(
      "SELECT file, `partition`, num_rows, size_bytes FROM graft_meta.default.items.files")
      .collect()
    assert(got.length == entries.size)
    assert(got.map(_.getString(0)).sorted.toSeq == entries.map(_.relPath).sorted)
    assert(got.map(_.getLong(3)).sum == entries.map(_.size).sum)
    // footer counts are the truth: total num_rows == actual row count
    assert(got.map(_.getLong(2)).sum ==
      spark.read.format("graft-lake").load(root).count())
    // time travel: v1's file set is strictly smaller
    val v1 = spark.sql(
      "SELECT * FROM graft_meta.default.items.files VERSION AS OF 1").collect()
    assert(v1.length == ManifestFileIndex.read(root, Some(1)).get._2.size)
    assert(v1.length < got.length)
  }

  test("files executes as a LocalScan — no file source in the plan") {
    setup()
    val plan = spark.sql("SELECT * FROM graft_meta.default.items.files")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("FileScan"), plan)
  }

  test("sharded manifest: files plans DISTRIBUTED (one partition per shard), never a driver array") {
    // a table shards when its inventory outgrows single-process metadata
    // — the files table must scan the immutable shard TSVs on executors
    // (r10 verdict: a LocalScan of a multi-million-file inventory is a
    // driver bottleneck and defeats the sharding)
    val whS = s"$testRoot/meta_spec_sharded"
    val rootS = s"$whS/default/items"
    rm(new java.io.File(whS))
    ManifestFileIndex.withShardTarget(4) {
      LakeIO.writeLake(
        (0L until 40L).toDF("id")
          .withColumn("ts", to_timestamp(
            concat(lit("2024-01-01 "), format_string("%02d", $"id" % 24), lit(":00:01"))))
          .withColumn("value", $"id" * 1.5), rootS)
    }
    val refs = ManifestFileIndex.readRefs(rootS)
    assert(refs.size >= 2, s"fixture must shard (got ${refs.size} refs)")

    spark.conf.set("spark.sql.catalog.graft_meta_sh",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_meta_sh.warehouse", whS)
    val q = spark.sql("SELECT file, `partition`, num_rows, size_bytes " +
      "FROM graft_meta_sh.default.items.files")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"),
      "sharded files table must not materialize on the driver:\n" + plan)
    assert(plan.contains("BatchScan"), plan)
    // the distributed partitioning is shard-per-partition (+1 inline)
    val parts = q.rdd.getNumPartitions
    assert(parts >= refs.size, s"expected >= ${refs.size} partitions, got $parts")
    // and the rows are exactly the manifest's resolved inventory
    val (_, entries) = ManifestFileIndex.read(rootS, None).get
    val got = q.collect()
    assert(got.map(_.getString(0)).sorted.toSeq ==
      entries.map(_.relPath).sorted)
    assert(got.map(_.getLong(2)).sum ==
      spark.read.format("graft-lake").load(rootS).count())
  }

  test("snapshots is the commit log; tags and constraints reflect current state") {
    setup()
    val snaps = spark.sql(
      "SELECT version, n_files FROM graft_meta.default.items.snapshots ORDER BY version")
      .collect()
    assert(snaps.map(_.getLong(0)).toSeq ==
      (1L to ManifestFileIndex.headVersion(root).get.toLong))
    assert(snaps.last.getLong(1) ==
      ManifestFileIndex.read(root, None).get._2.size.toLong)

    LakeIO.tagSnapshot(root, "release-1", Some(1))
    assert(spark.sql("SELECT * FROM graft_meta.default.items.tags").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("release-1", 1L)))

    LakeIO.addConstraint(spark, root, "id_pos", "id > 0")
    assert(spark.sql("SELECT * FROM graft_meta.default.items.constraints").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("id_pos", "id > 0")))
  }

  test("only files is snapshot-scoped: travel on snapshots/tags refuses") {
    setup()
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_meta.default.items.snapshots VERSION AS OF 1")
        .collect()
    }
    assert(e.getMessage.contains("snapshot-scoped"))
  }

  test("a real table named like a metadata table shadows it") {
    setup()
    // namespace default/items is a table, so items.files resolves as the
    // metadata table — but a genuine table at default/files is untouched
    LakeIO.writeLake(df(7L), s"$wh/default/files")
    assert(spark.sql("SELECT id FROM graft_meta.default.files").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
  }
}
