package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark.{spark, tempDir}
import graft.sources.LakeIO

/** The maintenance SQL statements (GraftSqlParser): OPTIMIZE [ZORDER],
  * VACUUM [RETAIN n SNAPSHOTS], DESCRIBE HISTORY — each routing into the
  * snapshot-committing maintenance APIs, with time travel preserved
  * until an explicit RETAIN expires it.
  */
class MaintenanceSqlSpec extends AnyFunSuite {
  import spark.implicits._

  private val wh = tempDir("maint_wh").toString

  private def attach(): Unit = {
    spark.conf.set("spark.sql.catalog.mcat",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mcat.warehouse", wh)
  }

  private def df(rows: (Long, String)*) =
    rows.toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))

  /** Backdate snapshot `v`'s commit clock: rewrite the in-file `#ts`
    * header (what snapshotCommitMs/versionAt/age-VACUUM read) and keep
    * the mtime fallback in sync.
    */
  private def backdateSnapshot(path: String, v: Int, toMs: Long): Unit = {
    val f = new java.io.File(
      s"$path/${org.apache.spark.sql.graft.ManifestFileIndex.SnapshotDir}",
      s"manifest-$v.tsv")
    val content = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .linesIterator
      .map(l => if (l.startsWith("#ts\t")) s"#ts\t$toMs" else l)
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
    assert(f.setLastModified(toMs))
  }

  /** A table whose single hour partition holds MULTIPLE files: one
    * writeLake plus one evolveAppend into the same hour.
    */
  private def fragmented(name: String): String = {
    val path = s"$wh/default/$name"
    LakeIO.writeLake(df(1L -> "a", 2L -> "b"), path)
    LakeIO.evolveAppend(df(3L -> "c", 4L -> "d"), path)
    path
  }

  test("OPTIMIZE compacts fragments; data identical; pre-optimize snapshot survives") {
    attach()
    val path = fragmented("frag")
    val before = org.apache.spark.sql.graft.ManifestFileIndex
      .read(path, None).get._2.size
    assert(before >= 2, "setup must fragment the partition")
    val out = spark.sql("OPTIMIZE mcat.default.frag").collect().head
    assert(out.getLong(0) === before.toLong)
    assert(out.getLong(1) < out.getLong(0), "compaction must shrink file count")
    val rows = spark.sql("SELECT id, v FROM mcat.default.frag ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    // the fragmented generation is still time-travel readable
    val v2 = spark.sql(
      s"SELECT count(*) FROM mcat.default.frag VERSION AS OF ${out.getLong(2) - 1}")
      .collect().head.getLong(0)
    assert(v2 === 4L)
  }

  test("OPTIMIZE ZORDER BY rewrites with identical logical content") {
    attach()
    val path = s"$wh/default/zt"
    LakeIO.writeLake(
      Seq.tabulate(100)(i => (i.toLong, (i * 37 % 100).toLong))
        .toDF("x", "y")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01"))), path)
    val before = spark.sql("SELECT x, y FROM mcat.default.zt ORDER BY x")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val out = spark.sql("OPTIMIZE mcat.default.zt ZORDER BY (x, y)").collect().head
    assert(out.getLong(2) >= 2L, "z-order commit must advance the version")
    val after = spark.sql("SELECT x, y FROM mcat.default.zt ORDER BY x")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.toSeq === before.toSeq, "OPTIMIZE is a physical rewrite only")
  }

  test("VACUUM RETAIN expires old snapshots and deletes their parked files") {
    attach()
    val path = s"$wh/default/vac"
    LakeIO.writeLake(df(1L -> "a", 2L -> "b"), path)
    LakeIO.mergeInto(spark, path, df(2L -> "B2"), "id") // v2: CoW parks v1's file
    assert(spark.sql("SELECT count(*) FROM mcat.default.vac VERSION AS OF 1")
      .collect().head.getLong(0) === 2L)
    val out = spark.sql("VACUUM mcat.default.vac RETAIN 1 SNAPSHOTS").collect().head
    assert(out.getLong(0) >= 1L, "the parked pre-merge file must be deleted")
    // head unaffected; expired version no longer readable
    val head = spark.sql("SELECT id, v FROM mcat.default.vac ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(head.toSeq === Seq(1L -> "a", 2L -> "B2"))
    intercept[Exception] {
      spark.sql("SELECT * FROM mcat.default.vac VERSION AS OF 1").collect()
    }
  }

  test("VACUUM RETAIN n HOURS expires by age; head and tagged survive") {
    attach()
    val path = s"$wh/default/vac_age"
    LakeIO.writeLake(df(1L -> "a"), path)          // v1
    LakeIO.overwriteLake(spark, path, df(2L -> "b")) // v2 (v1 parked)
    LakeIO.overwriteLake(spark, path, df(3L -> "c")) // v3 (v2 parked)
    LakeIO.tagSnapshot(path, "age-keep", Some(2))
    import org.apache.spark.sql.graft.ManifestFileIndex
    val snapDir = new java.io.File(path, ManifestFileIndex.SnapshotDir)
    // backdate v1+v2 commits to two hours ago; v3 (head) stays fresh.
    // Age is the in-file `#ts` commit clock (the one versionAt reads),
    // so backdating rewrites that header, not the file mtime.
    val old = System.currentTimeMillis() - 2L * 3600L * 1000L
    Seq(1, 2).foreach(v => backdateSnapshot(path, v, old))
    val out = spark.sql("VACUUM mcat.default.vac_age RETAIN 1 HOURS").collect().head
    assert(out.getLong(0) >= 1L, "v1's parked file must be reclaimed")
    // v1 expired: no longer travelable; v2 survives via its tag; head intact
    assert(ManifestFileIndex.read(path, Some(1)).isEmpty)
    assert(spark.read.format("graft-lake").option("versionAsOf", "age-keep")
      .load(path).select($"v").head().getString(0) == "b")
    assert(spark.read.format("graft-lake").load(path)
      .select($"v").head().getString(0) == "c")
    // a quiet table is never emptied: everything old but head kept
    val path2 = s"$wh/default/vac_age2"
    LakeIO.writeLake(df(9L -> "z"), path2)
    backdateSnapshot(path2, 1, old)
    spark.sql("VACUUM mcat.default.vac_age2 RETAIN 1 HOURS")
    assert(spark.read.format("graft-lake").load(path2).count() == 1L)
  }

  test("plain VACUUM only sweeps aged orphans, never live or parked data") {
    attach()
    val path = s"$wh/default/keep"
    LakeIO.writeLake(df(1L -> "a"), path)
    LakeIO.mergeInto(spark, path, df(1L -> "A2"), "id")
    val out = spark.sql("VACUUM mcat.default.keep").collect().head
    assert(out.getLong(0) === 0L, "no RETAIN → no snapshot expiry")
    assert(out.getLong(1) === 0L, "fresh files are inside the grace period")
    assert(spark.sql("SELECT count(*) FROM mcat.default.keep VERSION AS OF 1")
      .collect().head.getLong(0) === 1L, "time travel must survive a plain VACUUM")
  }

  test("DESCRIBE HISTORY lists one row per committed version") {
    attach()
    val path = s"$wh/default/hist"
    LakeIO.writeLake(df(1L -> "a"), path)
    LakeIO.mergeInto(spark, path, df(2L -> "b"), "id")
    val h = spark.sql("DESCRIBE HISTORY mcat.default.hist").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(h.last.getLong(2) >= 1L, "head version reports live files")
  }

  test("DESCRIBE DETAIL reports head-manifest accounting in one row") {
    attach()
    val path = s"$wh/default/det"
    LakeIO.writeLake(df(1L -> "a", 2L -> "b"), path)
    val r = spark.sql("DESCRIBE DETAIL mcat.default.det").collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getString(0) === "graft-lake")
    assert(row.getString(1) === path)
    assert(row.getLong(2) === 1L)
    assert(row.getString(3) === "ts_hour")
    assert(row.getLong(4) >= 1L && row.getLong(6) > 0L)
    // fresh table: no deletion vectors, tags, constraints, or staged
    assert(row.getLong(7) === 0L && row.getLong(8) === 0L &&
      row.getLong(9) === 0L && row.getLong(10) === 0L)
    // the counters go live with the features
    LakeIO.deleteWhereMoR(spark, path,
      org.apache.spark.sql.functions.col("v") === "a")
    LakeIO.tagSnapshot(path, "det-tag")
    LakeIO.addConstraint(spark, path, "id_pos", "id > 0")
    val row2 = spark.sql("DESCRIBE DETAIL mcat.default.det").collect().head
    assert(row2.getLong(7) === 1L && row2.getLong(8) === 1L &&
      row2.getLong(9) === 1L)
    // never renamed, single era
    assert(row2.isNullAt(11) && row2.getString(12) === "ts_hour")
    // a rename surfaces its name history in column_mapping
    LakeIO.compactDeletes(spark, path)
    LakeIO.renameColumn(path, "v", "val2")
    val row3 = spark.sql("DESCRIBE DETAIL mcat.default.det").collect().head
    assert(row3.getString(11) === "v -> val2")
  }

  test("SHOW PARTITIONS lists the manifest inventory with row/byte accounting") {
    attach()
    val path = s"$wh/default/parts"
    val rows = (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")
      .withColumn("ts", to_timestamp(
        concat(lit("2024-01-01 0"), (col("id") % 3).cast("string"), lit(":00:01"))))
    LakeIO.writeLake(rows, path)
    val got = spark.sql("SHOW PARTITIONS mcat.default.parts").collect()
    assert(got.length === 3, "one row per live hour partition")
    assert(got.map(_.getString(0)).toSeq ===
      Seq("ts_hour=2024-01-01-00", "ts_hour=2024-01-01-01", "ts_hour=2024-01-01-02"))
    assert(got.forall(r => r.getLong(1) >= 1L && r.getLong(3) > 0L))
    // row counts come from the manifest's footer counts — 2 per hour here
    assert(got.map(_.getLong(2)).toSeq === Seq(2L, 2L, 2L))
    // a non-graft table still reaches Spark's own SHOW PARTITIONS
    Seq((1, "x")).toDF("a", "b").createOrReplaceTempView("plain_view")
    val err = intercept[Exception] {
      spark.sql("SHOW PARTITIONS plain_view").collect()
    }
    // Spark's command raises its own analysis error for a temp view —
    // proof the statement was NOT swallowed by the graft intercept
    assert(!err.getMessage.contains("graft"))
  }

  test("RESTORE TO VERSION AS OF rolls back as a new commit") {
    attach()
    val path = s"$wh/default/resto"
    LakeIO.writeLake(df(1L -> "a", 2L -> "b"), path)                // v1
    LakeIO.deleteWhere(spark, path, $"id" === 1L)                   // v2
    assert(spark.sql("SELECT * FROM mcat.default.resto").count() === 1)
    val out = spark.sql(
      "RESTORE TABLE mcat.default.resto TO VERSION AS OF 1").collect().head
    assert(out.getLong(0) === 1L && out.getLong(1) === 3L)
    val rows = spark.sql("SELECT id, v FROM mcat.default.resto ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq(1L -> "a", 2L -> "b"))
    // the undone snapshot stays in DESCRIBE HISTORY (append-only log)
    assert(spark.sql("DESCRIBE HISTORY mcat.default.resto").count() === 3)
  }

  test("BM25 INDEX statement serves the probe through SQL, identical to the Scala surface") {
    val dir = tempDir("bm25_sql").toString
    val docs = Seq(
      (1L, "vector join fast fast"), (2L, "vector slow slow join"),
      (3L, "window batch data"), (4L, "join join vector slow"),
      (5L, "the of and data")).toDF("doc_id", "text")
    graft.operators.RetrievalOps.writeIndex(dir, docs, "overwrite")

    val viaSql = spark.sql(s"BM25 INDEX '$dir' QUERY 'vector join slow' TOP 3")
    assert(viaSql.columns.toSeq === Seq("doc_id", "score", "rk"))
    val viaScala = graft.streaming.StreamingPostings
      .bm25TopK(spark, dir, Seq("vector", "join", "slow"), 3)
    assert(viaSql.collect().toSeq.map(_.toString)
      === viaScala.collect().toSeq.map(_.toString))
    assert(viaSql.count() === 3)
    // default TOP is 10 (capped by matching docs)
    assert(spark.sql(s"BM25 INDEX '$dir' QUERY 'vector'").count() === 3)
  }

  test("full SQL index lifecycle: CREATE BM25 INDEX, query, OPTIMIZE, REBUCKET") {
    attach()
    val lake = s"$wh/default/bm25docs"
    val idx = tempDir("bm25_life").toString + "/idx"
    val docs = Seq(
      (1L, "vector join fast fast"), (2L, "vector slow slow join"),
      (3L, "window batch data"), (4L, "join join vector slow"),
      (5L, "the of and data"), (6L, "slow vector window"))
      .toDF("doc_id", "text")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
    LakeIO.writeLake(docs, lake)
    // MoR-delete one doc — CREATE must index the DV-APPLIED live state
    LakeIO.deleteWhereMoR(spark, lake, $"doc_id" === 6L)

    val built = spark.sql(
      s"CREATE BM25 INDEX '$idx' FROM mcat.default.bm25docs").collect().head
    assert(built.getLong(0) === 5L, s"n_docs must count live docs: $built")
    def probe(): Seq[String] =
      spark.sql(s"BM25 INDEX '$idx' QUERY 'vector join slow' TOP 3")
        .collect().toSeq.map(_.toString)
    val expected = probe()
    assert(expected.nonEmpty)

    val desc = spark.sql(s"DESCRIBE BM25 INDEX '$idx'").collect().head
    assert(desc.getLong(0) === 64L, s"default fan-out: $desc")
    assert(desc.getLong(4) === 5L, s"n_docs must be the live count: $desc")
    assert(desc.getLong(6) === 0L, s"fresh index has no tombstones: $desc")

    val opt = spark.sql(s"OPTIMIZE BM25 INDEX '$idx'").collect().head
    assert(opt.getLong(1) <= opt.getLong(0))
    assert(probe() === expected, "OPTIMIZE must preserve the answer")

    val reb = spark.sql(s"ALTER BM25 INDEX '$idx' REBUCKET 128").collect().head
    assert(reb.getLong(2) === 128L, s"descriptor must report 128: $reb")
    assert(probe() === expected, "REBUCKET must preserve the answer")
    assert(spark.sql(s"DESCRIBE BM25 INDEX '$idx'").collect().head.getLong(0)
      === 128L, "DESCRIBE must report the evolved fan-out")
  }

  test("CREATE BM25 INDEX refuses to clobber a non-index dir; OR REPLACE is the opt-in") {
    attach()
    val lake = s"$wh/default/bm25guard"
    val docs = Seq((1L, "vector join"), (2L, "slow fast"))
      .toDF("doc_id", "text")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
    LakeIO.writeLake(docs, lake)

    // mistyped target = a LAKE root: plain CREATE must refuse and the
    // table must survive byte-for-byte (this is the failure class the
    // 'never overwrite a lake root directly' invariant guards against)
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE BM25 INDEX '$lake' FROM mcat.default.bm25guard")
    }
    assert(e.getMessage.contains("refusing"), e.getMessage)
    assert(spark.read.format("graft-lake").load(lake).count() === 2L,
      "the refused CREATE must leave the lake intact")

    // absent path: builds; re-CREATE over the now-index-shaped dir: ok
    val idx = tempDir("bm25_guard")
      .toString + "/idx"
    spark.sql(s"CREATE BM25 INDEX '$idx' FROM mcat.default.bm25guard")
    spark.sql(s"CREATE BM25 INDEX '$idx' FROM mcat.default.bm25guard")
    assert(new java.io.File(idx, "postings").isDirectory)

    // non-index junk dir: refused plainly, clobbered under OR REPLACE
    val dirty = tempDir("bm25_dirty")
      .toString
    java.nio.file.Files.write(
      new java.io.File(dirty, "precious.txt").toPath, "data".getBytes)
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE BM25 INDEX '$dirty' FROM mcat.default.bm25guard")
    }
    assert(new java.io.File(dirty, "precious.txt").exists())
    spark.sql(s"CREATE OR REPLACE BM25 INDEX '$dirty' FROM mcat.default.bm25guard")
    assert(new java.io.File(dirty, "postings").isDirectory)
    assert(!new java.io.File(dirty, "precious.txt").exists())
  }

  test("BM25 INDEX TOP k is validated at parse time (the collect is k rows, never the corpus)") {
    val e = intercept[IllegalArgumentException] {
      spark.sql("BM25 INDEX '/tmp/nonexistent' QUERY 'a' TOP 999999999")
    }
    assert(e.getMessage.contains("[1, 10000]"), e.getMessage)
    intercept[IllegalArgumentException] {
      spark.sql("BM25 INDEX '/tmp/nonexistent' QUERY 'a' TOP 0")
    }
  }

  test("REBUCKET on an empty index still flips the descriptor (appends must follow it)") {
    val idx = tempDir("bm25_empty")
      .toString + "/idx"
    val reb = spark.sql(s"ALTER BM25 INDEX '$idx' REBUCKET 256").collect().head
    assert(reb.getLong(2) === 256L,
      s"an empty index must still record the evolved fan-out: $reb")
    assert(graft.streaming.StreamingPostings.indexBuckets(idx) === 256,
      "_graft_buckets must hold the new modulus for future appends")
  }

  test("DESCRIBE BM25 INDEX totals route through serving's correction (delete + re-insert)") {
    import graft.streaming.StreamingPostings
    val base = tempDir("bm25_desc").toString
    val lake = s"$base/lake"
    val dir = s"$base/index"
    val docs = Seq(
      (1L, "vector join fast"), (2L, "slow window batch"), (3L, "data of and"))
      .toDF("doc_id", "text")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
    LakeIO.writeLake(docs, lake)
    val q = StreamingPostings.followLake(
      spark.readStream.format("graft-lake-cdf").load(lake), dir, s"$base/ckpt")
    try {
      q.processAllAvailable()
      // delete doc 1, then RE-INSERT it (new text) — the tombstone must
      // not count it dead once its re-insert landed
      LakeIO.deleteWhereMoR(spark, lake, $"doc_id" === 1L)
      q.processAllAvailable()
      LakeIO.evolveAppend(
        Seq((1L, "vector vector reborn"))
          .toDF("doc_id", "text")
          .withColumn("ts", to_timestamp(lit("2024-01-02 00:00:01"))), lake)
      q.processAllAvailable()
      val desc = spark.sql(s"DESCRIBE BM25 INDEX '$dir'").collect().head
      assert(desc.getLong(4) === 3L,
        s"n_docs must equal the live table (deleted-then-reinserted doc is alive): $desc")
      // and exactly what serving's corrected totals say — one code path
      val st = graft.operators.RetrievalOps.correctedStatsGen(
        spark.read.parquet(dir + "/stats"),
        StreamingPostings.readTombstones(spark, dir)).head
      assert(desc.getLong(4) === st.getLong(0) &&
        desc.getLong(5) === st.getLong(1),
        s"DESCRIBE must report what a probe serves: $desc vs $st")
    } finally q.stop()
  }

  test("full SQL ANN lifecycle: CREATE (guarded), QUERY, DESCRIBE, OPTIMIZE") {
    import graft.operators.Similarity
    import graft.streaming.StreamingAnn
    val sf = graft.SharedSpark.sf
    val base = tempDir("ann_sql").toString
    val lake = s"$base/lake"
    val idx = s"$base/idx"
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
      .withColumn("ts", ($"vec_id" + lit(1705017600L)).cast("timestamp"))
    LakeIO.writeLake(emb, lake)

    // mistyped target = the LAKE root: plain CREATE must refuse and the
    // table must survive
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE ANN INDEX '$lake' FROM '$lake'")
    }
    assert(e.getMessage.contains("refusing"), e.getMessage)
    assert(spark.read.format("graft-lake").load(lake).count() ===
      emb.count(), "the refused CREATE must leave the lake intact")

    val built = spark.sql(s"CREATE ANN INDEX '$idx' FROM '$lake'")
      .collect().head
    assert(built.getLong(0) === emb.count(),
      s"CREATE must report the indexed vector count: $built")
    // re-CREATE over the now-index-shaped dir: allowed (it IS an index)
    spark.sql(s"CREATE ANN INDEX '$idx' FROM '$lake'")

    // QUERY answers exactly what the scan-side trained probe answers
    // (same frozen centroids, independent serving path)
    val cents = spark.read.parquet(s"$idx/centroids")
    def viaSql(n: Int, k: Int) =
      spark.sql(s"ANN INDEX '$idx' QUERY FIRST $n TOP $k")
        .collect().toSeq.map(_.toString)
    def viaScan(n: Int, k: Int) =
      Similarity.ivfTopKTrained(
        graft.sources.Tables.embeddings(spark, sf), cents,
        numQueries = n, k = k).collect().toSeq.map(_.toString)
    assert(viaSql(2, 5) == viaScan(2, 5))
    // QUERY ID <id> = that query's slice of the batch probe
    assert(
      spark.sql(s"ANN INDEX '$idx' QUERY ID 1 TOP 5")
        .collect().toSeq.map(_.toString) ==
      viaScan(2, 5).filter(_.startsWith("[1,")))

    // QUERY VEC '<floats>' — the embed-the-query shape: probing with
    // row 1's own embedding must rank row 1 first at cos 1.0, and the
    // neighbors below it must be exactly QUERY ID 1's result
    val v1 = graft.sources.Tables.embeddings(spark, sf)
      .where($"vec_id" === 1).select($"embedding")
      .collect().head.getSeq[Float](0)
    val byVec = spark.sql(
      s"ANN INDEX '$idx' QUERY VEC '${v1.mkString(",")}' TOP 6").collect()
    assert(byVec.head.getLong(0) === -1L, "VEC probes carry the -1 q_id")
    assert(byVec.head.getLong(2) === 1L && byVec.head.getDouble(3) === 1.0,
      s"the probed vector's own row must rank first: ${byVec.head}")
    assert(
      byVec.drop(1).map(r => (r.getLong(2), r.getDouble(3))).toSeq ==
        spark.sql(s"ANN INDEX '$idx' QUERY ID 1 TOP 5").collect()
          .map(r => (r.getLong(2), r.getDouble(3))).toSeq,
      "below the self-hit, VEC == ID for the same vector")

    // parse-time clamps: the collect is n×k result rows, never the corpus
    intercept[IllegalArgumentException] {
      spark.sql(s"ANN INDEX '$idx' QUERY FIRST 2 TOP 999999999")
    }
    intercept[IllegalArgumentException] {
      spark.sql(s"ANN INDEX '$idx' QUERY FIRST 99999 TOP 5")
    }

    // frozen layout: DESCRIBE reports the full build, OPTIMIZE is an
    // idempotent no-op report (one generation, nothing to fold)
    val desc = spark.sql(s"DESCRIBE ANN INDEX '$idx'").collect().head
    assert(desc.getLong(3) === emb.count(), s"live_vectors: $desc")
    assert(desc.getLong(4) === 0L, s"tombstone_rows: $desc")
    val opt = spark.sql(s"OPTIMIZE ANN INDEX '$idx'").collect().head
    assert(opt.getLong(0) === opt.getLong(1),
      s"frozen OPTIMIZE must report an unchanged file count: $opt")

    // and OR REPLACE is the only way over a non-index dir
    val dirty = tempDir("ann_dirty")
      .toString
    java.nio.file.Files.write(
      new java.io.File(dirty, "precious.txt").toPath, "data".getBytes)
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE ANN INDEX '$dirty' FROM '$lake'")
    }
    assert(new java.io.File(dirty, "precious.txt").exists())
    spark.sql(s"CREATE OR REPLACE ANN INDEX '$dirty' FROM '$lake'")
    assert(new java.io.File(dirty, "cells").isDirectory)
  }

  test("ANN QUERY dispatches to follow-index serving: tombstone-corrected, purged by OPTIMIZE") {
    import graft.operators.Similarity
    import graft.streaming.StreamingAnn
    val sf = graft.SharedSpark.sf
    val base = tempDir("ann_follow")
      .toString
    val lake = s"$base/lake"
    val idx = s"$base/idx"
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
      .withColumn("ts", ($"vec_id" + lit(1705017600L)).cast("timestamp"))
    LakeIO.writeLake(emb, lake)
    val cents = Similarity.annCentroids(spark, sf)
    val q = StreamingAnn.followLake(
      spark.readStream.format("graft-lake-cdf").load(lake),
      cents, idx, s"$base/ckpt")
    try {
      q.processAllAvailable()
      LakeIO.deleteWhereMoR(spark, lake, $"vec_id" % 7 === 6)
      q.processAllAvailable()
    } finally q.stop()
    // SQL-servable once the centroid artifact is published into the dir
    intercept[IllegalArgumentException] {
      spark.sql(s"ANN INDEX '$idx' QUERY FIRST 2 TOP 5")
    }
    StreamingAnn.writeCentroids(idx, cents)

    // the probe must equal the scan-side trained probe over the LIVE
    // table (assignment is a pure function of the frozen centroids)
    val live = graft.sources.Tables.embeddings(spark, sf)
      .where($"vec_id" % 7 =!= 6)
    def viaSql() = spark.sql(s"ANN INDEX '$idx' QUERY FIRST 2 TOP 5")
      .collect().toSeq.map(_.toString)
    val expected = Similarity.ivfTopKTrained(live, cents,
      numQueries = 2, k = 5).collect().toSeq.map(_.toString)
    assert(viaSql() == expected,
      "follow-index SQL serving must equal a fresh probe of the live table")

    val descBefore = spark.sql(s"DESCRIBE ANN INDEX '$idx'").collect().head
    assert(descBefore.getLong(4) > 0L, s"tombstones live: $descBefore")
    assert(descBefore.getLong(3) === live.count(), s"live_vectors: $descBefore")

    // OPTIMIZE purges: tombstones cleared, answers unchanged
    spark.sql(s"OPTIMIZE ANN INDEX '$idx'")
    val descAfter = spark.sql(s"DESCRIBE ANN INDEX '$idx'").collect().head
    assert(descAfter.getLong(4) === 0L, s"purged: $descAfter")
    assert(descAfter.getLong(3) === live.count(), s"live_vectors: $descAfter")
    assert(viaSql() == expected, "post-purge serving must be unchanged")
  }

  test("HYBRID QUERY fuses the two index probes through one statement") {
    import graft.operators.{RetrievalOps, Similarity}
    val sf = graft.SharedSpark.sf
    val base = tempDir("hybrid_sql")
      .toString
    val docsLake = s"$base/docs"
    val vecsLake = s"$base/vecs"
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
      .withColumn("ts", ($"doc_id" + lit(1705017600L)).cast("timestamp"))
    LakeIO.writeLake(docs, docsLake)
    LakeIO.writeLake(
      graft.sources.Tables.embeddings(spark, sf)
        .select($"vec_id", $"embedding")
        .withColumn("ts", ($"vec_id" + lit(1705017600L)).cast("timestamp")),
      vecsLake)
    spark.sql(s"CREATE BM25 INDEX '$base/bm25' FROM '$docsLake'")
    spark.sql(s"CREATE ANN INDEX '$base/ann' FROM '$vecsLake'")

    // the statement == the composed Scala probes, row for row
    val got = spark.sql(s"HYBRID QUERY 'vector join slow' " +
      s"BM25 INDEX '$base/bm25' ANN INDEX '$base/ann' ID 0 TOP 5")
      .collect().toSeq.map(_.toString)
    val expected = RetrievalOps.fuseRrfRanks(
      graft.streaming.StreamingPostings
        .bm25TopK(spark, s"$base/bm25", k = 100)
        .select($"doc_id", $"rk".as("r_text")),
      graft.streaming.StreamingAnn
        .annTopK(spark, s"$base/ann", None, Some(0L), k = 100)
        .select($"vec_id", $"rn".as("r_vec")),
      k = 5).collect().toSeq.map(_.toString)
    assert(got == expected)
    assert(got.size === 5)

    // VEC form: the raw-vector probe serves (q_id -1 never collides
    // with a doc id, so the fusion sees it as a pure dense candidate)
    val v0 = graft.sources.Tables.embeddings(spark, sf)
      .where($"vec_id" === 0).select($"embedding")
      .collect().head.getSeq[Float](0)
    assert(spark.sql(s"HYBRID QUERY 'vector join slow' " +
      s"BM25 INDEX '$base/bm25' ANN INDEX '$base/ann' " +
      s"VEC '${v0.mkString(",")}' TOP 5").collect().length === 5)

    intercept[IllegalArgumentException] {
      spark.sql(s"HYBRID QUERY 'a' BM25 INDEX '$base/bm25' " +
        s"ANN INDEX '$base/ann' ID 0 TOP 999999")
    }
  }

  test("the parser intercept is additive: ordinary SQL still parses") {
    attach()
    assert(spark.sql("SELECT 1 + 1").collect().head.getInt(0) === 2)
    // identifiers that merely CONTAIN the keywords are untouched
    Seq(5L).toDF("optimize").createOrReplaceTempView("vacuum_v")
    assert(spark.sql("SELECT optimize FROM vacuum_v").collect().head.getLong(0) === 5L)
    spark.catalog.dropTempView("vacuum_v")
  }
}
