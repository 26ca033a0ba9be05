package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** Copy-on-write lake mutations: MERGE/DELETE rewrite only touched
  * partitions, earlier snapshots stay readable (manifest defines
  * liveness, not the directory), snapshot diff yields the increment,
  * and expiration vacuums exactly the unreferenced files.
  */
class LakeMergeSpec extends AnyFunSuite {

  private val root = tempDir("merge_spec").toString + "/events"

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def base = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  private def freshLake(): Unit = {
    rm(new java.io.File(root))
    LakeIO.writeLake(base, root)
  }

  private def readLake(version: Option[Int] = None) = {
    val r = spark.read.format("graft-lake")
    version.fold(r)(v => r.option("versionAsOf", v.toString)).load(root)
      .select($"event_id", $"ts", $"event_type", $"value")
  }

  private def upd = base.where($"event_id" % 7 === 0)
    .withColumn("value", $"value" * 2)
    .unionByName(
      base.where($"event_id" % 13 === 0)
        .withColumn("event_id", $"event_id" + 1000000L))

  test("mergeInto: upsert is row-exact and only touched partitions are rewritten") {
    freshLake()
    val before = ManifestFileIndex.read(root).get._2
    LakeIO.mergeInto(spark, root, upd, "event_id")

    val expected = upd.unionByName(
      base.join(upd.select($"event_id"), Seq("event_id"), "left_anti"))
    assert(readLake().except(expected).isEmpty)
    assert(expected.except(readLake()).isEmpty)

    // untouched partitions carry the SAME files into the new manifest
    val after = ManifestFileIndex.read(root).get._2
    val touchedParts = upd.withColumn("ts_hour", date_format($"ts", "yyyy-MM-dd-HH"))
      .select($"ts_hour").distinct().collect().map(_.getString(0)).toSet
    val beforeUntouched = before.filterNot(e => touchedParts.contains(e.partValue))
      .map(_.relPath).toSet
    val afterUntouched = after.filterNot(e => touchedParts.contains(e.partValue))
      .map(_.relPath).toSet
    assert(beforeUntouched === afterUntouched)
    // and every rewritten file is NEW (writer-unique name), old ones still on disk
    val rewritten = after.filter(e => touchedParts.contains(e.partValue))
    assert(rewritten.nonEmpty)
    val beforePaths = before.map(_.relPath).toSet
    assert(rewritten.forall(e => !beforePaths(e.relPath) &&
      e.relPath.split("/").last.startsWith("m")))
    assert(before.forall(e => new java.io.File(root, e.relPath).exists()))
  }

  test("time travel reads the pre-merge snapshot after a merge") {
    freshLake()
    LakeIO.mergeInto(spark, root, upd, "event_id")
    val v1 = readLake(Some(1))
    assert(v1.except(base).isEmpty)
    assert(base.except(v1).isEmpty)
  }

  test("deleteWhere removes matching rows only; they remain in the old snapshot") {
    freshLake()
    LakeIO.mergeInto(spark, root, upd, "event_id")
    LakeIO.deleteWhere(spark, root, $"event_id" >= 1000000L)
    assert(readLake().where($"event_id" >= 1000000L).isEmpty)
    val expected = upd.where($"event_id" < 1000000L).unionByName(
      base.join(upd.select($"event_id"), Seq("event_id"), "left_anti"))
    assert(readLake().except(expected).isEmpty)
    assert(expected.except(readLake()).isEmpty)
    assert(readLake(Some(2)).where($"event_id" >= 1000000L).count() ===
      base.where($"event_id" % 13 === 0).count())
  }

  test("deleteWhere plans candidate files from manifest stats, not a full scan") {
    freshLake()
    val entries = ManifestFileIndex.read(root).get._2
    assume(entries.forall(_.stats.contains("event_id")))
    // threshold = the min of the file with the highest event_id max: files
    // entirely below it must be skipped at PLANNING time (no data read)
    val lo = entries.map(_.stats("event_id")).maxBy(_._2)._1
    val (_, cands, skipped) = LakeIO.deleteCandidates(spark, root, $"event_id" >= lit(lo))
    assert(cands.forall(_.stats("event_id")._2 >= lo),
      "every candidate's max must admit the predicate")
    assert(skipped.forall(_.stats("event_id")._2 < lo),
      "every skipped file must be provably predicate-free")
    assert(skipped.nonEmpty, "a bounded predicate must skip some files")
    // and the pruned delete stays row-exact
    LakeIO.deleteWhere(spark, root, $"event_id" >= lit(lo))
    assert(readLake().where($"event_id" >= lit(lo)).isEmpty)
    val expected = base.where($"event_id" < lit(lo))
    assert(readLake().except(expected).isEmpty)
    assert(expected.except(readLake()).isEmpty)
  }

  test("deleteWhere prunes partition-column conjuncts on the partition VALUE") {
    freshLake()
    val hours = ManifestFileIndex.read(root).get._2.map(_.partValue).distinct.sorted
    assume(hours.size > 2)
    val cutoff = hours(hours.size / 2)
    val (_, cands, skipped) =
      LakeIO.deleteCandidates(spark, root, $"ts_hour" >= lit(cutoff))
    assert(cands.forall(_.partValue >= cutoff))
    assert(skipped.forall(_.partValue < cutoff))
    assert(skipped.nonEmpty)
  }

  test("Graft.lake.scan after MERGE and DELETE returns only the live rows") {
    // regression: the range scan read the lake DIRECTORY, so the
    // copy-on-write generations kept on disk for time travel came back
    // as rows beside their replacements
    rm(new java.io.File(root))
    val rows = base.where($"ts" < to_timestamp(lit("2024-01-04 00:00:00")))
    LakeIO.writeLake(rows, root)
    def scanned = graft.Graft.lake.scan(spark, root,
      "2024-01-01 00:00:00", "2024-01-04 00:00:00")
      .select($"event_id", $"ts", $"event_type", $"value")
    def sameRows(got: org.apache.spark.sql.DataFrame,
        want: org.apache.spark.sql.DataFrame): Unit = {
      assert(got.count() === want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
    val updates = rows.where($"event_id" % 7 === 0).withColumn("value", $"value" * 2)
    graft.Graft.lake.merge(spark, root, updates, "event_id")
    val merged = updates.unionByName(
      rows.join(updates.select($"event_id"), Seq("event_id"), "left_anti"))
    sameRows(readLake(), merged)
    sameRows(scanned, readLake())
    graft.Graft.lake.delete(spark, root, $"event_id" % 5 === 0)
    val live = merged.where($"event_id" % 5 =!= 0)
    sameRows(readLake(), live)
    sameRows(scanned, readLake())
  }

  test("removeOrphanFiles deletes only unreferenced old debris, honors the grace period") {
    freshLake()
    LakeIO.mergeInto(spark, root, upd, "event_id")   // parks old generation
    val live = ManifestFileIndex.read(root).get._2.map(_.relPath)
    val dir = new java.io.File(root, live.head.split('/').head)
    val oldOrphan = new java.io.File(dir, "crashed-old.parquet")
    val newOrphan = new java.io.File(dir, "crashed-new.parquet")
    java.nio.file.Files.write(oldOrphan.toPath, Array[Byte](1))
    java.nio.file.Files.write(newOrphan.toPath, Array[Byte](1))
    assert(oldOrphan.setLastModified(System.currentTimeMillis() - 7200000))
    val removed = ManifestFileIndex.removeOrphanFiles(root)
    assert(removed === 1)
    assert(!oldOrphan.exists(), "stale orphan deleted")
    assert(newOrphan.exists(), "in-grace-period file kept (could be an in-flight stage)")
    newOrphan.delete()
    // every live and parked (snapshot-referenced) file untouched
    assert(live.forall(p => new java.io.File(root, p).exists()))
    val parked = ManifestFileIndex.readParkedAt(root,
      ManifestFileIndex.headVersion(root).get)
    assert(parked.nonEmpty && parked.forall(p => new java.io.File(root, p).exists()))
    assert(readLake().count() ===
      upd.unionByName(base.join(upd.select($"event_id"), Seq("event_id"), "left_anti")).count())
  }

  test("manifest stats round-trip empty string bounds (split must keep trailing empties)") {
    val dir = tempDir("stats_rt").toString
    val e = ManifestFileIndex.Entry("2024-01-01-00", "ts_hour=2024-01-01-00/f.parquet",
      1L, 2L, strStats = Map("s_empty" -> ("", ""), "s_halfempty" -> ("", "61")))
    ManifestFileIndex.commitDelta(dir, "ts_hour", 0, Seq(e), Set.empty)
    val back = ManifestFileIndex.read(dir).get._2.head
    assert(back.strStats === e.strStats,
      s"empty-bound string stats must survive the TSV round trip: ${back.strStats}")
  }

  test("readIncrement returns exactly the appended rows") {
    rm(new java.io.File(root))
    val cut = to_timestamp(lit("2024-01-16 00:00:00"))
    LakeIO.writeLake(base.where($"ts" < cut), root)
    LakeIO.evolveAppend(base.where($"ts" >= cut), root)
    val inc = LakeIO.readIncrement(spark, root, 1, 2)
    val expected = base.where($"ts" >= cut)
    val got = inc.select($"event_id", $"ts", $"event_type", $"value")
    assert(got.except(expected).isEmpty)
    assert(expected.except(got).isEmpty)
    // an empty window (fromV == toV): no rows, the increment's columns
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).toSeq
    val empty = LakeIO.readIncrement(spark, root, 2, 2)
    assert(empty.count() === 0)
    assert(cols(empty) === cols(inc))
  }

  test("expireSnapshots vacuums files of expired snapshots, current read intact") {
    freshLake()
    LakeIO.mergeInto(spark, root, upd, "event_id")
    val preMergeFiles = ManifestFileIndex.read(root, Some(1)).get._2.map(_.relPath)
    val liveFiles = ManifestFileIndex.read(root).get._2.map(_.relPath).toSet
    val doomed = preMergeFiles.filterNot(liveFiles.contains)
    assert(doomed.nonEmpty)
    val n = readLake().count()
    val removed = ManifestFileIndex.expireSnapshots(root, 1)
    assert(removed === doomed.size)
    assert(doomed.forall(p => !new java.io.File(root, p).exists()))
    assert(liveFiles.forall(p => new java.io.File(root, p).exists()))
    assert(ManifestFileIndex.read(root, Some(1)).isEmpty) // snapshot gone
    assert(readLake().count() === n)
  }

  test("compactSnapshots: fragmented partitions become single files; time travel survives") {
    rm(new java.io.File(root))
    // parity split: both writes hit the SAME hour partitions → fragments
    LakeIO.writeLake(base.where($"event_id" % 2 === 0), root)
    LakeIO.evolveAppend(base.where($"event_id" % 2 === 1), root)
    val preVersion = ManifestFileIndex.headVersion(root).get
    val preEntries = ManifestFileIndex.read(root).get._2
    val fragmented = preEntries.groupBy(_.partValue).filter(_._2.size > 1)
    assume(fragmented.nonEmpty, "appends should fragment at least one partition")

    LakeIO.compactSnapshots(spark, root)

    val after = ManifestFileIndex.read(root).get._2
    assert(after.groupBy(_.partValue).forall(_._2.size == 1),
      "every partition must be a single file after compaction")
    // same rows through the V2 read
    assert(readLake().except(base).isEmpty)
    assert(base.except(readLake()).isEmpty)
    // the pre-compaction snapshot still reads (old fragments intact)
    val pre = spark.read.format("graft-lake")
      .option("versionAsOf", preVersion.toString).load(root)
      .select($"event_id", $"ts", $"event_type", $"value")
    assert(pre.except(base).isEmpty)
    // vacuum then drops the fragments
    val removed = ManifestFileIndex.expireSnapshots(root, 1)
    assert(removed > 0)
    assert(readLake().count() === base.count())
  }

  test("changefeed across a compaction is EMPTY; across a merge it is exactly the logical changes") {
    rm(new java.io.File(root))
    LakeIO.writeLake(base.where($"event_id" % 2 === 0), root)
    LakeIO.evolveAppend(base.where($"event_id" % 2 === 1), root)   // v2, fragmented
    val preCompact = ManifestFileIndex.headVersion(root).get
    LakeIO.compactSnapshots(spark, root)                           // v3
    val postCompact = ManifestFileIndex.headVersion(root).get
    // every file of a fragmented partition was rewritten, yet no ROW
    // changed — the two-way EXCEPT ALL must cancel to nothing
    assert(LakeIO.readChanges(spark, root, preCompact, postCompact).isEmpty,
      "compaction is a physical rewrite but a logical no-op")
    // a real mutation on top shows up precisely
    val upd = base.where($"event_id" === 2L).withColumn("value", $"value" + 1000.0)
    LakeIO.mergeInto(spark, root, upd, "event_id")                 // v4
    val feed = LakeIO.readChanges(spark, root, postCompact, postCompact + 1)
      .select($"change", $"event_id", $"value").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(feed.toSeq === Seq(("delete", 2L), ("insert", 2L)),
      "the update must replay as delete(old)+insert(new), nothing else")
  }

  test("CDC-aware IVM refresh equals a full re-aggregation, recomputing only extreme-touched hours") {
    freshLake()
    LakeIO.mergeInto(spark, root, upd, "event_id")                 // v2
    val prior = LakeIO.hourlyAggOfSnapshot(spark, root, 1)
    val refreshed = LakeIO.refreshHourlyAggCDC(spark, root, prior, 1, 2)
    val full = LakeIO.hourlyAggOfSnapshot(spark, root, 2)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"ts_hour", $"n", $"sdec".cast("decimal(38,6)").as("sdec"),
          $"mx", $"mn")
        .orderBy($"ts_hour").collect().toSeq
    assert(canon(refreshed) === canon(full),
      "refresh(agg(v1), changes) must equal agg(v2) exactly")
    // the doubling merge raises SOME hour maxima (recompute path) while
    // leaving others' extremes untouched (invertible path) — both arms
    // must actually run for this test to mean anything
    val changed = refreshed.as("r").join(prior.as("p"), Seq("ts_hour"))
      .where(col("r.mx") =!= col("p.mx")).count()
    val unchanged = refreshed.as("r").join(prior.as("p"), Seq("ts_hour"))
      .where(col("r.mx") === col("p.mx") && col("r.n") =!= col("p.n")).count()
    assert(changed > 0, "no hour exercised the bounded-recompute path")
    assert(unchanged > 0, "no hour exercised the invertible path")
  }

  test("aggregate pushdown reaches the manifest-planned V2 scan") {
    freshLake()
    val prev = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    // this test proves the FOOTER pushdown path; the manifest-count rule
    // (MetadataOnlyCount) would otherwise answer first without any scan
    spark.conf.set("spark.graft.metadataCount.enabled", "false")
    try {
      val df = spark.read.format("graft-lake").load(root)
        .agg(count(lit(1)).as("n"))
      assert(df.head.getLong(0) === base.count())
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT(*)]"),
        "count must be answered from parquet metadata:\n" + plan.take(800))
    } finally {
      spark.conf.set("spark.graft.metadataCount.enabled", "true")
      prev match {
        case Some(p) => spark.conf.set("spark.sql.parquet.aggregatePushdown", p)
        case None    => spark.conf.unset("spark.sql.parquet.aggregatePushdown")
      }
    }
  }

  test("regression: join over a column-pruned merged scan plans (DPP filterAttributes)") {
    freshLake()
    LakeIO.mergeInto(spark, root, upd, "event_id")
    // except() is join-shaped; ts_hour is projected away — PartitionPruning
    // must not throw resolving the scan's advertised filter attributes
    val pruned = readLake().select($"event_id", $"value")
    val joined = pruned.join(base.select($"event_id"), Seq("event_id"))
    assert(joined.count() > 0)
  }

  test("change-feed scan mode plans exactly the manifest diff; same-version diff is empty") {
    freshLake()
    LakeIO.mergeInto(spark, root, upd, "event_id")                 // v2
    def side(sd: String) = spark.read.format("graft-lake")
      .option("changesFrom", "1").option("changesTo", "2")
      .option("changeSide", sd).load(root)
    val fromE = ManifestFileIndex.read(root, Some(1)).get._2.map(_.relPath).toSet
    val toE = ManifestFileIndex.read(root, Some(2)).get._2.map(_.relPath).toSet
    // row counts must equal the rows IN the diff files (planned, not listed)
    val addedRows = spark.read.option("basePath", root)
      .parquet((toE -- fromE).toSeq.map(root + "/" + _): _*).count()
    val removedRows = spark.read.option("basePath", root)
      .parquet((fromE -- toE).toSeq.map(root + "/" + _): _*).count()
    assert(side("added").count() === addedRows)
    assert(side("removed").count() === removedRows)
    // v→v: both sides plan zero files and read as empty, not error
    val same = spark.read.format("graft-lake")
      .option("changesFrom", "2").option("changesTo", "2")
      .option("changeSide", "added").load(root)
    assert(same.isEmpty)
  }

  test("timestampAsOf survives a directory copy that resets every mtime (#ts header)") {
    // rsync without -t / an object-store migration rewrites mtimes; the
    // commit clock must come from INSIDE the snapshot files or every
    // historical timestamp query silently shifts to the copy time.
    freshLake()                                                    // v1
    Thread.sleep(60)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(60)
    LakeIO.mergeInto(spark, root, upd, "event_id")                 // v2
    val v1Rows = readLake(Some(1)).count()
    assert(v1Rows !== readLake().count())

    val copy = root + "_mtime_copy"
    rm(new java.io.File(copy))
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles()).getOrElse(Array.empty)
          .foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else {
        java.nio.file.Files.copy(src.toPath, dst.toPath)
        assert(dst.setLastModified(System.currentTimeMillis()))
      }
    }
    cp(new java.io.File(root), new java.io.File(copy))

    val atV1 = spark.read.format("graft-lake")
      .option("timestampAsOf", betweenMs.toString).load(copy)
      .select($"event_id", $"ts", $"event_type", $"value")
    assert(atV1.count() === v1Rows)
  }

  test("timestampAsOf reader option resolves to the last snapshot at or before the cutoff") {
    freshLake()                                                    // v1
    val snap1 = new java.io.File(s"$root/${ManifestFileIndex.SnapshotDir}", "manifest-1.tsv")
    Thread.sleep(1100)  // commit times are file mtimes; force distinct seconds
    LakeIO.mergeInto(spark, root, upd, "event_id")                 // v2
    val v1Rows = readLake(Some(1)).count()
    val headRows = readLake().count()
    assert(v1Rows !== headRows, "merge must change the row count for this test to bite")
    // cutoff = v1's commit instant → the pre-merge snapshot
    val atV1 = spark.read.format("graft-lake")
      .option("timestampAsOf", snap1.lastModified().toString).load(root)
    assert(atV1.count() === v1Rows)
    // cutoff = now → head
    val atNow = spark.read.format("graft-lake")
      .option("timestampAsOf", System.currentTimeMillis().toString).load(root)
    assert(atNow.count() === headRows)
    // cutoff before the first commit → loud error
    val err = intercept[Exception] {
      spark.read.format("graft-lake").option("timestampAsOf", "100").load(root).count()
    }
    assert(err.getMessage.contains("no snapshot"))
  }

  test("history: one row per version, file/partition/byte accounting matches the manifests") {
    freshLake()
    LakeIO.mergeInto(spark, root, upd, "event_id")
    val h = LakeIO.history(spark, root).orderBy($"version").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    h.foreach { r =>
      val v = r.getLong(0).toInt
      val entries = ManifestFileIndex.read(root, Some(v)).get._2
      assert(r.getLong(2) === entries.size.toLong, s"n_files v$v")
      assert(r.getLong(3) === entries.map(_.partValue).distinct.size.toLong, s"n_partitions v$v")
      assert(r.getLong(4) === entries.map(_.size).sum, s"size_bytes v$v")
    }
    // commit times are non-decreasing across versions
    assert(!h(0).getTimestamp(1).after(h(1).getTimestamp(1)))
  }
}
