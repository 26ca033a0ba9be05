package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, tempDir}

/** The graft V2 TableCatalog: SQL-text addressing, SHOW TABLES, and
  * `VERSION AS OF` time travel across a copy-on-write merge.
  */
class GraftCatalogSpec extends AnyFunSuite {
  import spark.implicits._

  private val wh = tempDir("cat_wh").toString

  private def attach(): Unit = {
    spark.conf.set("spark.sql.catalog.gcat",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
  }

  private def seed(): Unit = {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
    LakeIO.writeLake(base, s"$wh/default/items")
  }

  test("SQL addressing and SHOW TABLES through the catalog") {
    attach(); seed()
    val rows = spark.sql("SELECT id, v FROM gcat.default.items ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val tables = spark.sql("SHOW TABLES IN gcat.default")
      .select($"tableName").collect().map(_.getString(0))
    assert(tables.contains("items"))
    // SHOW CATALOGS parity (reference README.md:462-465): the registered
    // graft catalog lists alongside the session catalog once loaded
    val cats = spark.sql("SHOW CATALOGS")
      .select($"catalog").collect().map(_.getString(0))
    assert(cats.contains("gcat"), s"SHOW CATALOGS missing gcat: ${cats.toSeq}")
  }

  test("SQL VERSION AS OF reads the pre-merge snapshot; head sees the merge") {
    attach(); seed()
    val upd = Seq((2L, "B2"), (9L, "new")).toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
    LakeIO.mergeInto(spark, s"$wh/default/items", upd, "id")
    val head = spark.sql("SELECT id, v FROM gcat.default.items ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(head.toSeq === Seq((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
    val v1 = spark.sql(
      "SELECT id, v FROM gcat.default.items VERSION AS OF 1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(v1.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "VERSION AS OF 1 must read the frozen pre-merge manifest")
  }

  test("SQL TIMESTAMP AS OF resolves to the last snapshot committed at or before it") {
    attach(); seed()
    val table = s"$wh/default/items"
    val upd = Seq((1L, "A2")).toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
    LakeIO.mergeInto(spark, table, upd, "id")
    // pin deterministic commit times: v1 at 10:00, v2 at 11:00 UTC —
    // the commit clock is the in-file `#ts` header (survives dir
    // copies), so pinning rewrites it; mtime stays in sync as the
    // pre-#ts fallback
    val snapDir = s"$table/_graft_snapshots"
    def pin(v: Int, t: String): Unit = {
      val ms = java.time.Instant.parse(t).toEpochMilli
      val f = new java.io.File(snapDir, s"manifest-$v.tsv")
      val content = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .linesIterator
        .map(l => if (l.startsWith("#ts\t")) s"#ts\t$ms" else l)
        .mkString("", "\n", "\n")
      java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
      assert(f.setLastModified(ms))
    }
    pin(1, "2026-01-01T10:00:00Z"); pin(2, "2026-01-01T11:00:00Z")
    def at(t: String) = spark.sql(
      s"SELECT v FROM gcat.default.items TIMESTAMP AS OF '$t' WHERE id = 1")
      .collect().map(_.getString(0)).toSeq
    assert(at("2026-01-01 10:30:00") === Seq("a"), "between commits → v1")
    assert(at("2026-01-01 12:00:00") === Seq("A2"), "after both → v2")
    val e = intercept[Exception] { at("2026-01-01 09:00:00") }
    assert(e.getMessage.contains("no snapshot"), "before the first commit → error")
  }

  test("CREATE TABLE commits an empty snapshot; INSERT INTO then SELECT round-trips") {
    attach()
    spark.sql("DROP TABLE IF EXISTS gcat.default.fresh")
    spark.sql("CREATE TABLE gcat.default.fresh (id BIGINT, v STRING, ts TIMESTAMP)")
    // readable-empty immediately, and version 1 IS the empty state
    assert(spark.sql("SELECT * FROM gcat.default.fresh").count() === 0L)
    spark.sql("""INSERT INTO gcat.default.fresh
                |SELECT 1L, 'x', TIMESTAMP '2024-01-01 00:00:01'""".stripMargin)
    val got = spark.sql("SELECT id, v FROM gcat.default.fresh").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "x")))
    assert(spark.sql("SELECT * FROM gcat.default.fresh VERSION AS OF 1").count() === 0L)
    // double create rejects; a schema without ts rejects
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.default.fresh (id BIGINT, ts TIMESTAMP)")
    }
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE gcat.default.nots (id BIGINT, v STRING)")
    }
    assert(e.getMessage.contains("ts"))
  }

  test("CTAS writes through the committing lake writer; DROP TABLE removes it") {
    attach(); seed()
    spark.sql("DROP TABLE IF EXISTS gcat.default.ctas")
    spark.sql("""CREATE TABLE gcat.default.ctas AS
                |SELECT id, v, ts FROM gcat.default.items WHERE id <= 2""".stripMargin)
    val got = spark.sql("SELECT id, v FROM gcat.default.ctas ORDER BY id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b")))
    // it is a real lake: manifest-committed, hour-partitioned, time-travels
    val path = s"$wh/default/ctas"
    assert(org.apache.spark.sql.graft.ManifestFileIndex.headVersion(path).exists(_ >= 2))
    assert(spark.read.format("graft-lake").load(path).count() === 2L)
    assert(spark.sql("DROP TABLE gcat.default.ctas") != null)
    assert(!new java.io.File(path).exists())
    intercept[Exception] { spark.sql("SELECT * FROM gcat.default.ctas").collect() }
  }

  test("ALTER TABLE ADD COLUMN: schema-only snapshot, nulls on old files, time-travelable") {
    attach()
    val wh2 = tempDir("alter_wh").toString
    spark.conf.set("spark.sql.catalog.galt",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set("spark.sql.catalog.galt.warehouse", wh2)
    val path = s"$wh2/default/evolving"
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
    LakeIO.writeLake(base, path)
    val v0 = org.apache.spark.sql.graft.ManifestFileIndex.headVersion(path).get

    spark.sql("ALTER TABLE galt.default.evolving ADD COLUMN extra STRING")
    // schema-only commit: one new version, same files, old rows read null
    assert(org.apache.spark.sql.graft.ManifestFileIndex.headVersion(path).get
      == v0 + 1)
    val head = spark.sql(
      "SELECT id, extra FROM galt.default.evolving ORDER BY id").collect()
    assert(head.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(head.forall(_.isNullAt(1)))
    // the pre-evolution snapshot keeps its narrower schema
    val old = spark.sql(
      s"SELECT * FROM galt.default.evolving VERSION AS OF $v0")
    assert(!old.columns.contains("extra"))

    // RENAME COLUMN is supported since r6 via the name-history mapping:
    // metadata-only, old files keep reading under the coalesce
    spark.sql("ALTER TABLE galt.default.evolving RENAME COLUMN v TO w")
    val renamed = spark.sql(
      "SELECT id, w FROM galt.default.evolving ORDER BY id").collect()
    assert(renamed.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(renamed.forall(!_.isNullAt(1)), "old files must read w via mapping")
    assert(LakeIO.columnHistories(path) == Seq(Seq("v", "w")))
    // RENAME TABLE stays unsupported
    intercept[Exception] {
      spark.sql("ALTER TABLE galt.default.evolving RENAME TO renamed")
    }
  }

  test("ALTER TABLE DROP COLUMN: logical drop, snapshot-isolated, tombstoned") {
    attach()
    val path = s"$wh/default/dropt"
    LakeIO.writeLake(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "x")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01"))), path)
    val v0 = ManifestFileIndex.headVersion(path).get
    spark.sql("ALTER TABLE gcat.default.dropt DROP COLUMN x")
    // head no longer exposes x; the other columns read intact
    val head = spark.sql("SELECT * FROM gcat.default.dropt")
    assert(!head.columns.contains("x"))
    assert(head.count() === 2L)
    assert(spark.sql("SELECT v FROM gcat.default.dropt WHERE id = 1")
      .head.getString(0) === "a")
    // time travel to the pre-drop snapshot still reads x WITH its data
    val old = spark.sql(
      s"SELECT x FROM gcat.default.dropt VERSION AS OF $v0 WHERE id = 2")
    assert(old.head.getDouble(0) === 20.0)
    // re-adding the dropped name refuses — by-name mapping would
    // resurrect the old files' values
    val err = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.default.dropt ADD COLUMN x DOUBLE")
    }
    assert(err.getMessage.contains("dropped"))
    // a fresh name is fine and reads null over the old files
    spark.sql("ALTER TABLE gcat.default.dropt ADD COLUMN y DOUBLE")
    val withY = spark.sql("SELECT y FROM gcat.default.dropt WHERE id = 1")
    assert(withY.head.isNullAt(0))
  }

  test("SQL INSERT INTO appends through the lake writer: visible at head, snapshot-isolated") {
    attach(); seed()
    val path = s"$wh/default/items"
    val headBefore =
      org.apache.spark.sql.graft.ManifestFileIndex.headVersion(path).get
    spark.sql("INSERT INTO gcat.default.items VALUES " +
      "(4, 'd', TIMESTAMP'2024-01-01 00:00:02', '2024-01-01-00')")
    // the append committed a manifest snapshot: V2 readers see it at head
    assert(spark.sql("SELECT count(*) FROM gcat.default.items")
      .head.getLong(0) === 4L)
    assert(spark.sql("SELECT v FROM gcat.default.items WHERE id = 4")
      .head.getString(0) === "d")
    // the pre-insert snapshot is untouched
    assert(spark.sql(
      s"SELECT count(*) FROM gcat.default.items VERSION AS OF $headBefore")
      .head.getLong(0) === 3L)
  }

  test("SQL INSERT OVERWRITE replaces the table as one snapshot; old generation travelable") {
    attach(); seed()
    val path = s"$wh/default/items"
    // live DVs before the overwrite: the one CoW mutation that is DV-safe
    // by construction (no pre-overwrite file stays live), so it must
    // proceed and drop them rather than refuse
    assert(LakeIO.deleteWhereMoR(spark, path, $"id" === 2L) === 1L)
    val headBefore = ManifestFileIndex.headVersion(path).get
    spark.sql("INSERT OVERWRITE gcat.default.items VALUES " +
      "(7, 'z', TIMESTAMP'2024-01-02 00:00:05', '2024-01-02-00')")
    val rows = spark.sql("SELECT id, v FROM gcat.default.items ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((7L, "z")))
    assert(ManifestFileIndex.headVersion(path).get === headBefore + 1)
    assert(ManifestFileIndex.readDvs(path).isEmpty,
      "a full overwrite defines the complete new state — no DV survives")
    // the replaced generation is parked, not deleted: travel still reads
    // it (WITH its deletion vector applied)
    assert(spark.sql(
      s"SELECT count(*) FROM gcat.default.items VERSION AS OF $headBefore")
      .head.getLong(0) === 2L)
  }

  test("dynamic partition overwrite replaces only the touched hours") {
    attach()
    // two hour partitions: 00 (ids 1,2,3) and 01 (ids 10,11)
    val h0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
    val h1 = Seq((10L, "x"), (11L, "y")).toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 01:00:01")))
    val path = s"$wh/default/dynov"
    LakeIO.writeLake(h0.unionByName(h1), path)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // the restatement touches ONLY hour 01: it must be replaced whole,
      // hour 00 must carry over untouched
      spark.sql("INSERT OVERWRITE gcat.default.dynov VALUES " +
        "(77, 'R', TIMESTAMP'2024-01-01 01:30:00', '2024-01-01-01')")
      val rows = spark.sql("SELECT id, v FROM gcat.default.dynov ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows === Seq((1L, "a"), (2L, "b"), (3L, "c"), (77L, "R")))
      // the pre-restatement snapshot still reads hour 01's old content
      assert(spark.sql(
        "SELECT count(*) FROM gcat.default.dynov VERSION AS OF 1")
        .head.getLong(0) === 5L)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // STATIC mode (default) still replaces the whole table
    spark.sql("INSERT OVERWRITE gcat.default.dynov VALUES " +
      "(99, 'S', TIMESTAMP'2024-01-01 02:00:00', '2024-01-01-02')")
    assert(spark.sql("SELECT id FROM gcat.default.dynov").collect()
      .map(_.getLong(0)).toSeq === Seq(99L))
  }

  test("overwrite-by-filter (replaceWhere) swaps exactly the matching rows") {
    attach(); seed()
    val path = s"$wh/default/items"
    val repl = Seq((20L, "R1"), (21L, "R2")).toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:09")))
      .withColumn("ts_hour", lit("2024-01-01-00"))
    // replace rows with id >= 2: survivors (id=1) carry over, the new
    // rows land, and the whole swap is one snapshot commit
    repl.writeTo("gcat.default.items").overwrite($"id" >= 2L)
    val rows = spark.sql("SELECT id, v FROM gcat.default.items ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (20L, "R1"), (21L, "R2")))
    // the pre-replace generation stays travelable
    assert(spark.sql("SELECT count(*) FROM gcat.default.items VERSION AS OF 1")
      .head.getLong(0) === 3L)

    // the SQL spelling routes through the same path: replace id>=20
    // (the rows just written) with one fresh row
    spark.sql("INSERT INTO gcat.default.items REPLACE WHERE id >= 20 " +
      "VALUES (30, 'Z', TIMESTAMP'2024-01-01 00:00:07', '2024-01-01-00')")
    val rows2 = spark.sql("SELECT id, v FROM gcat.default.items ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows2 === Seq((1L, "a"), (30L, "Z")))
  }

  test("SQL DELETE FROM routes through the CoW delete: head loses the rows, old snapshot keeps them") {
    attach(); seed()
    val path = s"$wh/default/items"
    val headBefore =
      org.apache.spark.sql.graft.ManifestFileIndex.headVersion(path).get
    spark.sql("DELETE FROM gcat.default.items WHERE id >= 2 AND v <> 'c'")
    val rows = spark.sql("SELECT id, v FROM gcat.default.items ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (3L, "c")), "only id=2 matches the predicate")
    // snapshot isolation: the pre-delete version is fully readable
    assert(spark.sql(
      s"SELECT count(*) FROM gcat.default.items VERSION AS OF $headBefore")
      .head.getLong(0) === 3L)
    // and the delete committed a NEW snapshot (HEAD advanced)
    assert(org.apache.spark.sql.graft.ManifestFileIndex.headVersion(path).get
      === headBefore + 1)
  }

  test("SQL UPDATE routes through the CoW update: old-row RHS semantics, snapshot isolation") {
    attach(); seed()
    val path = s"$wh/default/items"
    val headBefore =
      org.apache.spark.sql.graft.ManifestFileIndex.headVersion(path).get
    spark.sql("UPDATE gcat.default.items SET v = concat(v, '!') WHERE id >= 2")
    val rows = spark.sql("SELECT id, v FROM gcat.default.items ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "b!"), (3L, "c!")))
    // pre-update snapshot intact
    assert(spark.sql(s"SELECT v FROM gcat.default.items VERSION AS OF $headBefore WHERE id = 2")
      .head.getString(0) === "b")
    // swap proves every RHS evaluates against the OLD row
    LakeIO.writeLake(Seq((1L, "x", "y")).toDF("id", "a", "b")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01"))), s"$wh/default/swapt")
    spark.sql("UPDATE gcat.default.swapt SET a = b, b = a")
    val sw = spark.sql("SELECT a, b FROM gcat.default.swapt").head
    assert((sw.getString(0), sw.getString(1)) === ("y", "x"))
  }

  test("SQL MERGE INTO (upsert shape) routes through the CoW merge") {
    attach(); seed()
    Seq((2L, "B2"), (9L, "new")).toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
      .createOrReplaceTempView("upserts")
    spark.sql("""MERGE INTO gcat.default.items t USING upserts s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.v, ts = s.ts
                |WHEN NOT MATCHED THEN INSERT (id, v, ts) VALUES (s.id, s.v, s.ts)"""
      .stripMargin)
    val rows = spark.sql("SELECT id, v FROM gcat.default.items ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
    // star form works when the source carries the partition column
    Seq((3L, "C3")).toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
      .withColumn("ts_hour", date_format($"ts", "yyyy-MM-dd-HH"))
      .createOrReplaceTempView("upserts2")
    spark.sql("""MERGE INTO gcat.default.items t USING upserts2 s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT v FROM gcat.default.items WHERE id = 3")
      .head.getString(0) === "C3")
  }

  test("SQL MERGE INTO with spark.graft.merge.strategy=mor commits DV + append") {
    attach(); seed()
    val path = s"$wh/default/items"
    val filesBefore = ManifestFileIndex.read(path).get._2.map(_.relPath).toSet
    Seq((2L, "B2"), (9L, "new")).toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
      .createOrReplaceTempView("upserts_mor")
    spark.conf.set("spark.graft.merge.strategy", "mor")
    try {
      spark.sql("""MERGE INTO gcat.default.items t USING upserts_mor s ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET v = s.v, ts = s.ts
                  |WHEN NOT MATCHED THEN INSERT (id, v, ts) VALUES (s.id, s.v, s.ts)"""
        .stripMargin)
    } finally spark.conf.unset("spark.graft.merge.strategy")
    // same observable result as the CoW merge...
    val rows = spark.sql("SELECT id, v FROM gcat.default.items ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
    // ...but via deletion vector + append: every pre-merge file still live
    assert(ManifestFileIndex.readDvs(path).nonEmpty)
    assert(filesBefore.subsetOf(ManifestFileIndex.read(path).get._2.map(_.relPath).toSet))
  }

  test("INSERT after a CoW merge must not resurrect parked old generations") {
    attach(); seed()
    val path = s"$wh/default/items"
    val upd = Seq((2L, "B")).toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
    LakeIO.mergeInto(spark, path, upd, "id")            // v2: old file parked for time travel
    spark.sql("INSERT INTO gcat.default.items VALUES " +
      "(5, 'e', TIMESTAMP'2024-01-01 00:00:03', '2024-01-01-00')")  // v3
    val rows = spark.sql("SELECT id, v FROM gcat.default.items ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // a walk-commit would re-list the pre-merge file → duplicate id=2/'b'
    assert(rows === Seq((1L, "a"), (2L, "B"), (3L, "c"), (5L, "e")))
    // and time travel still reaches every generation
    assert(spark.sql("SELECT v FROM gcat.default.items VERSION AS OF 1 WHERE id = 2")
      .head.getString(0) === "b")
  }
}
