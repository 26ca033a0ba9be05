package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SharedSpark.{spark, sf, tempDir}
import graft.operators.RetrievalOps
import graft.sources.Tables

/** Streaming inverted-index maintenance: document micro-batches append
  * postings + a stats row exactly once; at every batch boundary the
  * served BM25 top-10 equals a full index rebuild over everything
  * ingested so far; replays are no-ops; compaction folds BOTH layouts
  * and preserves the answer.
  */
class StreamingPostingsSpec extends AnyFunSuite {
  private val testRoot = tempDir("streaming_postings").toString

  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def served(dir: String): Seq[String] = {
    val (p, st) = StreamingPostings.readIndex(spark, dir)
    RetrievalOps.bm25TopKFromIndex(p, st).collect().toSeq.map(_.toString)
  }

  private def rebuiltOver(docs: org.apache.spark.sql.DataFrame): Seq[String] = {
    val dir = tempDir("pidx").toString
    RetrievalOps.writeIndex(dir, docs, "overwrite")
    RetrievalOps.bm25TopKFromIndex(
      spark.read.parquet(dir + "/postings"),
      spark.read.parquet(dir + "/stats")).collect().toSeq.map(_.toString)
  }

  test("stream == rebuild at every batch boundary; replay no-op; compaction folds") {
    val base = s"$testRoot/stream_postings"
    val dir = s"$base/index"
    rm(new java.io.File(base))

    val all = Tables.documents(spark, sf).select($"doc_id", $"text")
    val rows = all.as[(Long, String)].collect().sortBy(_._1)
    val (first, second) = rows.splitAt(rows.length / 2)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingPostings.start(
      ms.toDF().toDF("doc_id", "text"), dir, s"$base/ckpt")
    try {
      ms.addData(first.toSeq)
      q.processAllAvailable()
      // mid-stream: the index serves exactly the ingested prefix
      assert(served(dir) == rebuiltOver(all.where($"doc_id" < first.last._1 + 1)))
      ms.addData(second.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val full = rebuiltOver(all)
    assert(served(dir) == full)

    // stats rows: one per batch, summing to corpus totals
    val st = StreamingPostings.readIndex(spark, dir)._2
    assert(st.count() == 2L)
    assert(st.agg(sum($"n_docs")).head.getLong(0) == rows.length.toLong)

    // a replayed, already-ledgered batch id is a pure no-op
    StreamingPostings.indexBatch(dir)(all.limit(5), batchId = 0L)
    assert(served(dir) == full)

    // compaction folds both layouts; the answer is unchanged
    val (bef, aft) = StreamingPostings.compactIndex(spark, dir)
    assert(aft < bef, s"compaction must shrink files ($bef -> $aft)")
    assert(served(dir) == full)
    // committed replays stay no-ops after their files were folded
    StreamingPostings.indexBatch(dir)(all.limit(3), batchId = 1L)
    assert(served(dir) == full)
  }

  test("followLake: the index tracks lake inserts AND MoR deletes via the CDF") {
    val base = s"$testRoot/stream_postings_follow"
    val lake = s"$base/lake"
    val dir = s"$base/index"
    rm(new java.io.File(base))

    val all = Tables.documents(spark, sf)
      .withColumn("ts", ($"doc_id" + lit(1705017600L)).cast("timestamp"))
    graft.sources.LakeIO.writeLake(all.where($"doc_id" < 400), lake)

    val q = StreamingPostings.followLake(
      spark.readStream.format("graft-lake-cdf").load(lake), dir, s"$base/ckpt")
    try {
      q.processAllAvailable()
      // boundary 1: index == rebuild over the lake's current rows
      assert(StreamingPostings.bm25TopK(spark, dir).collect().toSeq.map(_.toString)
        == rebuiltOver(Tables.documents(spark, sf).where($"doc_id" < 400)))

      // append more docs + MoR-delete some indexed ones
      graft.sources.LakeIO.evolveAppend(all.where($"doc_id" >= 400), lake)
      graft.sources.LakeIO.deleteWhereMoR(spark, lake, $"doc_id" % 7 === 3)
      q.processAllAvailable()

      val live = Tables.documents(spark, sf).where($"doc_id" % 7 =!= 3)
      assert(StreamingPostings.bm25TopK(spark, dir).collect().toSeq.map(_.toString)
        == rebuiltOver(live),
        "served answer must equal a rebuild over the live table")
      // deletes landed as churn-sized tombstones, not a rewrite
      val tombs = StreamingPostings.readTombstones(spark, dir)
      assert(tombs.count() > 0)
      assert(!tombs.collect().exists(_.getLong(0) % 7 != 3))

      // MoR UPDATE = CDF delete(old)+insert(new): the doc's tombstone
      // must kill only its OLDER postings — generation-aware serving;
      // a bare doc_id anti-join would vanish updated docs forever
      graft.sources.LakeIO.updateWhereMoR(spark, lake,
        $"doc_id" % 11 === 5,
        Seq("text" -> concat($"text", lit(" zzznew"))))
      q.processAllAvailable()
      val liveUpdated = live.withColumn("text",
        when($"doc_id" % 11 === 5, concat($"text", lit(" zzznew")))
          .otherwise($"text"))
      assert(StreamingPostings.bm25TopK(spark, dir).collect().toSeq.map(_.toString)
        == rebuiltOver(liveUpdated),
        "updated docs must serve their NEW postings")

      // tombstones are HASH-BUCKETED (tbucket= dirs), never a flat
      // single-file layout — no single-task churn-sized write anywhere
      val tombBase = new java.io.File(dir, "tombstones")
      assert(tombBase.listFiles().exists(d =>
        d.isDirectory && d.getName.startsWith("tbucket=")),
        "tombstone rows must land under tbucket= partition dirs")
      assert(!tombBase.listFiles().exists(f =>
        f.isFile && f.getName.endsWith(".parquet")),
        "no flat tombstone files")

      // PURGING compaction: dead postings dropped, stats folded to one
      // corrected row, tombstones cleared — probe ≡ fresh rebuild over
      // the live table with ZERO serve-time correction left to pay
      val expected = rebuiltOver(liveUpdated)
      val (bef, aft) = StreamingPostings.compactIndex(spark, dir)
      assert(aft < bef, s"purge must shrink files ($bef -> $aft)")
      assert(StreamingPostings.readTombstones(spark, dir).count() == 0L,
        "purge must clear the tombstone layout")
      val st = StreamingPostings.readIndex(spark, dir)._2
      assert(st.count() == 1L, "stats must fold to one corrected row")
      assert(st.head.getLong(0) ==
        Tables.documents(spark, sf).where($"doc_id" % 7 =!= 3).count(),
        "corrected n_docs must equal the live doc count")
      // no dead doc's postings survive the fold
      val deadLeft = StreamingPostings.readIndex(spark, dir)._1
        .where($"doc_id" % 7 === 3).count()
      assert(deadLeft == 0L, s"purge left $deadLeft dead postings")
      assert(StreamingPostings.bm25TopK(spark, dir).collect().toSeq.map(_.toString)
        == expected, "post-purge probe must equal a fresh rebuild")
      // committed-batch replays stay no-ops after the purge
      StreamingPostings.indexBatch(dir)(
        Tables.documents(spark, sf).select($"doc_id", $"text").limit(3),
        batchId = 0L)
      assert(StreamingPostings.bm25TopK(spark, dir).collect().toSeq.map(_.toString)
        == expected)
    } finally q.stop()
  }

  test("rebucket evolves the postings fan-out; probe identical; appends follow") {
    val base = s"$testRoot/stream_postings_rebucket"
    val dir = s"$base/index"
    rm(new java.io.File(base))
    val all = Tables.documents(spark, sf).select($"doc_id", $"text")
    (0 until 2).foreach { b =>
      StreamingPostings.indexBatch(dir)(
        all.where($"doc_id" % 3 === b), batchId = b.toLong)
    }
    def probe(): Seq[String] =
      StreamingPostings.bm25TopK(spark, dir).collect().toSeq.map(_.toString)
    val before = probe()
    assert(StreamingPostings.indexBuckets(dir) == RetrievalOps.IndexBuckets)

    val (b0, b1) = StreamingPostings.rebucket(spark, dir, 256)
    assert(b1 <= b0)
    assert(StreamingPostings.indexBuckets(dir) == 256,
      "descriptor must flip with the layout")
    val dirs = new java.io.File(dir, "postings").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=").toInt)
    assert(dirs.exists(_ > 63), "fan-out must exceed the old modulus")
    assert(probe() == before, "probe must be identical at the new fan-out")

    // committed replays stay no-ops; NEW batches bucket at the evolved
    // modulus (the appender reads the descriptor)
    StreamingPostings.indexBatch(dir)(all.limit(4), batchId = 0L)
    assert(probe() == before)
    StreamingPostings.indexBatch(dir)(
      all.where($"doc_id" % 3 === 2), batchId = 2L)
    assert(probe() == rebuiltOver(all),
      "post-evolution appends must serve at the new fan-out")
  }

  test("rebucket crash recovery: descriptor flips with the layout, never against it") {
    val dir = s"$testRoot/stream_postings_rebucket_crash/index"
    rm(new java.io.File(dir).getParentFile)
    val all = Tables.documents(spark, sf).select($"doc_id", $"text")
    StreamingPostings.indexBatch(dir)(all, batchId = 0L)
    def probe(): Seq[String] =
      StreamingPostings.bm25TopK(spark, dir).collect().toSeq.map(_.toString)
    val expected = probe()

    // PHASE-1 crash of a rebucket: marker carries gen + meta line, the
    // half-moved c999- generation must roll BACK and the descriptor must
    // stay at the OLD fan-out (the meta line must NOT be applied)
    val bucketDir = new java.io.File(dir, "postings").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket=")).head
    val donor = bucketDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(donor.toPath,
      new java.io.File(bucketDir, "c999-halfmoved.parquet").toPath)
    java.nio.file.Files.write(
      new java.io.File(dir, "_graft_compacting").toPath,
      "gen:999\nmeta:_graft_buckets=256\n".getBytes("UTF-8"))
    StreamingPostings.indexBatch(dir)(all.limit(0), batchId = 1L) // recovers first
    assert(StreamingPostings.indexBuckets(dir) == RetrievalOps.IndexBuckets,
      "phase-1 rollback must leave the old descriptor authoritative")
    assert(!bucketDir.listFiles().exists(_.getName.startsWith("c999-")))
    assert(probe() == expected)

    // PHASE-2 crash: generation fully in, descriptor write + original
    // deletes in flight — recovery must RE-APPLY the meta descriptor and
    // finish the deletes (descriptor and layout agree either way)
    val dup = new java.io.File(bucketDir, "b0-dupold.parquet")
    java.nio.file.Files.copy(donor.toPath, dup.toPath)
    val rel = "postings/" + bucketDir.getName + "/" + dup.getName
    java.nio.file.Files.write(
      new java.io.File(dir, "_graft_compacting").toPath,
      s"gen:998\nmeta:_graft_buckets=64\n$rel\n".getBytes("UTF-8"))
    StreamingPostings.indexBatch(dir)(all.limit(0), batchId = 2L)
    assert(!dup.exists(), "phase-2 recovery must finish the deletes")
    assert(StreamingPostings.indexBuckets(dir) == 64,
      "phase-2 roll-forward must re-apply the meta descriptor")
    assert(new java.io.File(dir, "_graft_buckets").exists())
    assert(probe() == expected)

    // a real rebucket on the recovered index still works end-to-end
    StreamingPostings.rebucket(spark, dir, 128)
    assert(StreamingPostings.indexBuckets(dir) == 128)
    assert(probe() == expected)
  }

  test("continuous lifecycle: ingest, churn, DESCRIBE-driven OPTIMIZE, REBUCKET, more churn — probe == rebuild throughout") {
    val base = s"$testRoot/stream_postings_lifecycle"
    val lake = s"$base/lake"
    val dir = s"$base/index"
    rm(new java.io.File(base))

    val all = Tables.documents(spark, sf)
      .withColumn("ts", ($"doc_id" + lit(1705017600L)).cast("timestamp"))
    def probe(): Seq[String] =
      StreamingPostings.bm25TopK(spark, dir).collect().toSeq.map(_.toString)
    def tombstoneRows(): Long =
      spark.sql(s"DESCRIBE BM25 INDEX '$dir'").collect().head.getLong(6)

    // phase 1: backfill + first churn under a running stream
    graft.sources.LakeIO.writeLake(all.where($"doc_id" < 300), lake)
    val q1 = StreamingPostings.followLake(
      spark.readStream.format("graft-lake-cdf").load(lake), dir, s"$base/ckpt")
    try {
      q1.processAllAvailable()
      graft.sources.LakeIO.evolveAppend(
        all.where($"doc_id" >= 300 && $"doc_id" < 600), lake)
      graft.sources.LakeIO.deleteWhereMoR(spark, lake, $"doc_id" % 7 === 3)
      q1.processAllAvailable()
    } finally q1.stop()
    val live1 = Tables.documents(spark, sf)
      .where($"doc_id" < 600 && $"doc_id" % 7 =!= 3)
    assert(probe() == rebuiltOver(live1), "post-churn serving == rebuild")

    // maintenance cadence, DESCRIBE-driven (stream stopped): tombstones
    // accumulated -> OPTIMIZE purges them; fan-out evolves in place
    assert(tombstoneRows() > 0L, "churn must be visible to the operator")
    spark.sql(s"OPTIMIZE BM25 INDEX '$dir'")
    assert(tombstoneRows() === 0L, "OPTIMIZE must purge the tombstones")
    assert(probe() == rebuiltOver(live1), "post-purge serving == rebuild")
    spark.sql(s"ALTER BM25 INDEX '$dir' REBUCKET 128")
    assert(probe() == rebuiltOver(live1), "post-rebucket serving == rebuild")

    // phase 2: the stream RESUMES from its checkpoint over the evolved
    // index — later appends must bucket at the new modulus and later
    // deletes must keep correcting
    val q2 = StreamingPostings.followLake(
      spark.readStream.format("graft-lake-cdf").load(lake), dir, s"$base/ckpt")
    try {
      graft.sources.LakeIO.evolveAppend(all.where($"doc_id" >= 600), lake)
      graft.sources.LakeIO.deleteWhereMoR(spark, lake, $"doc_id" % 13 === 4)
      q2.processAllAvailable()
    } finally q2.stop()
    val live2 = Tables.documents(spark, sf)
      .where(($"doc_id" < 600 && $"doc_id" % 7 =!= 3 || $"doc_id" >= 600) &&
        $"doc_id" % 13 =!= 4)
    assert(probe() == rebuiltOver(live2),
      "end of lifecycle: serving == rebuild over the final live table")
  }

  test("flat-era tombstone layout migrates once at the next write entry; reads never break") {
    val base = s"$testRoot/stream_postings_flatmig"
    val lake = s"$base/lake"
    val dir = s"$base/index"
    rm(new java.io.File(base))

    val all = Tables.documents(spark, sf)
      .withColumn("ts", ($"doc_id" + lit(1705017600L)).cast("timestamp"))
    graft.sources.LakeIO.writeLake(all, lake)
    val q = StreamingPostings.followLake(
      spark.readStream.format("graft-lake-cdf").load(lake), dir, s"$base/ckpt")
    try {
      q.processAllAvailable()
      graft.sources.LakeIO.deleteWhereMoR(spark, lake, $"doc_id" % 7 === 3)
      q.processAllAvailable()
      val live = Tables.documents(spark, sf).where($"doc_id" % 7 =!= 3)
      val expected = rebuiltOver(live)
      assert(StreamingPostings.bm25TopK(spark, dir).collect()
        .toSeq.map(_.toString) == expected)

      // DE-MIGRATE to the flat r12-era layout: flatten every tombstone
      // row into bare parquet files directly under tombstones/ (what an
      // index dir written by the pre-tbucket code holds on disk)
      val tombBase = new java.io.File(dir, "tombstones")
      val rows = spark.read.parquet(tombBase.toString)
        .select($"doc_id", $"text", $"gen")
      val flatTmp = s"$base/flat_tmp"
      rows.coalesce(1).write.parquet(flatTmp)
      rm(tombBase)
      tombBase.mkdirs()
      new java.io.File(flatTmp).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(tombBase, s"b0-flat$i.parquet").toPath)
        }
      assert(new java.io.File(dir, "tombstones").listFiles()
        .exists(f => f.isFile && f.getName.endsWith(".parquet")))

      // READ path: the flat-era index keeps serving, unmigrated
      assert(StreamingPostings.bm25TopK(spark, dir).collect()
        .toSeq.map(_.toString) == expected,
        "a flat-era tombstone layout must keep serving")

      // WRITE entry (next followed mutation): migrates once — flat
      // files gone, tbucket= dirs live, answer identical
      graft.sources.LakeIO.deleteWhereMoR(spark, lake, $"doc_id" % 13 === 4)
      q.processAllAvailable()
      assert(!tombBase.listFiles().exists(f =>
        f.isFile && f.getName.endsWith(".parquet")),
        "migration must remove the flat files")
      assert(tombBase.listFiles().exists(d =>
        d.isDirectory && d.getName.startsWith("tbucket=")))
      val live2 = live.where($"doc_id" % 13 =!= 4)
      assert(StreamingPostings.bm25TopK(spark, dir).collect()
        .toSeq.map(_.toString) == rebuiltOver(live2),
        "post-migration serving must equal a rebuild over the live table")

      // and the purge still works over the migrated layout
      StreamingPostings.compactIndex(spark, dir)
      assert(StreamingPostings.readTombstones(spark, dir).count() == 0L)
      assert(StreamingPostings.bm25TopK(spark, dir).collect()
        .toSeq.map(_.toString) == rebuiltOver(live2))
    } finally q.stop()
  }

  test("purging compaction survives a postings-less index (delete-only history)") {
    val dir = s"$testRoot/stream_postings_delonly/index"
    rm(new java.io.File(dir).getParentFile)
    // a CDF positioned past the inserts: the first batch carries ONLY
    // deletes — stats + tombstones exist, the postings layout has no
    // files at all
    val tombs = Seq((1L, "a b c", 5L)).toDF("doc_id", "text", "gen")
      .withColumn("tbucket",
        pmod(xxhash64($"doc_id"), lit(32L)).cast("int"))
    val stats = Seq((0L, 3L)).toDF("n_docs", "total_len")
    BatchLedgerIndex.appendBatch(dir, "_graft_postings_batches", Seq(
      BatchLedgerIndex.Layout("stats", None) -> stats,
      BatchLedgerIndex.Layout("tombstones", Some("tbucket")) -> tombs), 5L)
    // must not throw (live(Postings.sub) was unguarded); tombstones fold
    // into the stats correction and clear
    val (bef, aft) = StreamingPostings.compactIndex(spark, dir)
    assert(bef > 0 && aft > 0)
    assert(StreamingPostings.readTombstones(spark, dir).count() == 0L,
      "the delete-only fold must still clear the tombstone layout")
  }

  test("compaction entry sweeps orphaned sibling stage dirs (crashed attempts' disk leak)") {
    val parent = s"$testRoot/stream_postings_stale"
    val dir = s"$parent/index"
    rm(new java.io.File(parent))
    val all = Tables.documents(spark, sf).select($"doc_id", $"text")
    StreamingPostings.indexBatch(dir)(all, batchId = 0L)
    val expected = served(dir)
    // a compaction that crashed BEFORE its phase-1 marker leaves a
    // _compact_* sibling; a crashed append attempt can leave _stage_*
    val staleC = new java.io.File(s"${dir}_compact_postings_123")
    val staleS = new java.io.File(s"${dir}_stage_p0_b99")
    staleC.mkdirs(); staleS.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(staleC, "junk.parquet").toPath, Array[Byte](1))
    StreamingPostings.compactIndex(spark, dir)
    assert(!staleC.exists() && !staleS.exists(),
      "compaction entry must sweep orphaned sibling stage dirs")
    assert(served(dir) == expected)
  }

  test("compaction crash recovery: phase-1 rolls back, phase-2 rolls forward") {
    val dir = s"$testRoot/stream_postings_recover/index"
    rm(new java.io.File(dir).getParentFile)
    val all = Tables.documents(spark, sf).select($"doc_id", $"text")
    (0 until 2).foreach { b =>
      StreamingPostings.indexBatch(dir)(
        all.where($"doc_id" % 2 === b), batchId = b.toLong)
    }
    val full = served(dir)
    val (bef, aft) = StreamingPostings.compactIndex(spark, dir)
    assert(aft < bef)
    assert(served(dir) == full)

    def bucketDir = new java.io.File(dir, "postings").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket=")).head
    def donor = bucketDir.listFiles().filter(_.getName.endsWith(".parquet")).head

    // PHASE-1 crash: marker `gen:999` alone + a half-moved c999- file —
    // the next maintenance call must roll the stray generation BACK
    java.nio.file.Files.copy(donor.toPath,
      new java.io.File(bucketDir, "c999-dup.parquet").toPath)
    java.nio.file.Files.write(
      new java.io.File(dir, "_graft_compacting").toPath,
      "gen:999\n".getBytes("UTF-8"))
    StreamingPostings.compactIndex(spark, dir)
    assert(!bucketDir.listFiles().exists(_.getName.startsWith("c999-")),
      "phase-1 recovery must delete the half-moved generation")
    assert(served(dir) == full)

    // PHASE-2 crash: generation fully in, originals half-deleted — a
    // planted duplicate listed in the marker must be rolled FORWARD
    val dup = new java.io.File(bucketDir, "b1-dupold.parquet")
    java.nio.file.Files.copy(donor.toPath, dup.toPath)
    val rel = "postings/" + bucketDir.getName + "/" + dup.getName
    java.nio.file.Files.write(
      new java.io.File(dir, "_graft_compacting").toPath,
      s"gen:998\n$rel\n".getBytes("UTF-8"))
    StreamingPostings.indexBatch(dir)(all.limit(0), batchId = 50L)
    assert(!dup.exists(), "phase-2 recovery must finish the deletes")
    assert(served(dir) == full)
  }
}
