package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SharedSpark.{spark, sf, tempDir}
import graft.operators.Similarity
import graft.sources.Tables

/** Streaming ANN index maintenance: micro-batches of embeddings append
  * into the cell-partitioned index exactly once; at every batch boundary
  * the index equals a full rebuild (frozen-centroid assignment is a pure
  * function), and batch-id replays are no-ops that clean crashed
  * attempts' orphans.
  */
class StreamingAnnSpec extends AnyFunSuite {
  private val testRoot = tempDir("streaming_ann").toString

  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  test("stream equals rebuild; replays are no-ops; orphan cleanup on recovery") {
    val base = s"$testRoot/stream_ann"
    val dir = s"$base/index"
    val ckpt = s"$base/ckpt"
    rm(new java.io.File(base))

    val cents = Similarity.annCentroids(spark, sf)
    val all = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val rows = all.as[(Long, Seq[Float])].collect().sortBy(_._1)
    val (first, second) = rows.splitAt(rows.length / 2)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.start(
      ms.toDF().toDF("vec_id", "embedding"), cents, dir, ckpt)
    try {
      ms.addData(first.toSeq)
      q.processAllAvailable()
      // mid-stream: the index already serves everything ingested so far
      assert(StreamingAnn.readIndex(spark, dir).count() == first.length.toLong)
      ms.addData(second.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // row-identical to the single-shot assignment over the full corpus
    val idx = StreamingAnn.readIndex(spark, dir).select($"vec_id", $"cell")
    val full = Similarity.ivfAssign(all, cents)
    assert(idx.count() == rows.length.toLong)
    assert(idx.except(full).isEmpty && full.except(idx).isEmpty)

    // a replayed, ALREADY-LEDGERED batch id is a pure no-op (foreachBatch
    // is at-least-once; the ledger is the idempotency commit point)
    val n0 = idx.count()
    StreamingAnn.indexBatch(cents, dir)(
      all.limit(5), batchId = 0L)
    assert(StreamingAnn.readIndex(spark, dir).count() == n0)

    // crash recovery: a b77- orphan (failed attempt's visible file) is
    // deleted when batch 77 replays — here with an empty batch, so the
    // index returns exactly to its pre-crash state
    val cellDir = Option(new java.io.File(dir).listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).head
    val donor = cellDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(cellDir, "b77-orphan.parquet")
    java.nio.file.Files.copy(donor.toPath, orphan.toPath)
    assert(StreamingAnn.readIndex(spark, dir).count() > n0) // orphan visible
    StreamingAnn.indexBatch(cents, dir)(all.limit(0), batchId = 77L)
    assert(!orphan.exists())
    assert(StreamingAnn.readIndex(spark, dir).count() == n0)
  }

  test("compaction folds per-batch files; committed replays stay no-ops; orphans excluded") {
    val dir = s"$testRoot/stream_ann_compact/index"
    rm(new java.io.File(dir).getParentFile)
    val cents = Similarity.annCentroids(spark, sf)
    val all = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    (0 until 3).foreach { b =>
      StreamingAnn.indexBatch(cents, dir)(
        all.where($"vec_id" % 3 === b), batchId = b.toLong)
    }
    val n0 = StreamingAnn.readIndex(spark, dir).count()
    assert(n0 == all.count())

    // plant an orphan of an UNCOMMITTED batch (id 9 not in the ledger):
    // compaction must NOT fold it — a replay of batch 9 would double it
    val cellDir = Option(new java.io.File(dir).listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).head
    val donor = cellDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(donor.toPath,
      new java.io.File(cellDir, "b9-orphan.parquet").toPath)

    val (bef, aft) = StreamingAnn.compactIndex(spark, dir)
    assert(aft < bef, s"compaction must shrink files ($bef -> $aft)")
    assert(StreamingAnn.readIndex(spark, dir).count() == n0,
      "orphan rows must not survive compaction")
    // every remaining data file is a compacted-generation file
    val leftover = Option(new java.io.File(dir).listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(leftover.forall(_.getName.startsWith("c")), leftover.mkString(","))

    // a committed id's replay is STILL a no-op after its files were folded
    StreamingAnn.indexBatch(cents, dir)(all.limit(7), batchId = 1L)
    assert(StreamingAnn.readIndex(spark, dir).count() == n0)
    // the orphan's (never-committed) id lands exactly once when it replays
    StreamingAnn.indexBatch(cents, dir)(all.limit(4), batchId = 9L)
    assert(StreamingAnn.readIndex(spark, dir).count() == n0 + 4)
  }

  test("followLake: the dense index tracks lake inserts, MoR deletes AND updates via the CDF") {
    val base = s"$testRoot/stream_ann_follow"
    val lake = s"$base/lake"
    val dir = s"$base/index"
    rm(new java.io.File(base))

    val cents = Similarity.annCentroids(spark, sf)
    val all = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .withColumn("ts", ($"vec_id" + lit(1705017600L)).cast("timestamp"))
    graft.sources.LakeIO.writeLake(all.where($"vec_id" < 400), lake)

    val queries = Tables.embeddings(spark, sf).where($"vec_id" < 5)
      .select($"vec_id", $"embedding")
    def served(): Seq[String] = {
      val (cells, tombs) = StreamingAnn.readFollowIndex(spark, dir)
      Similarity.ivfTopKFromFollowIndex(queries, cents, cells, tombs)
        .collect().toSeq.map(_.toString)
    }
    def overLive(live: org.apache.spark.sql.DataFrame): Seq[String] =
      Similarity.ivfTopKOverCells(live, cents,
        Similarity.ivfAssign(live, cents), numQueries = 5, k = 10)
        .collect().toSeq.map(_.toString)

    val q = StreamingAnn.followLake(
      spark.readStream.format("graft-lake-cdf").load(lake), cents, dir, s"$base/ckpt")
    try {
      q.processAllAvailable()
      assert(served() == overLive(
        Tables.embeddings(spark, sf).where($"vec_id" < 400)
          .select($"vec_id", $"embedding")),
        "backfill: follow-index probe must equal the live-table probe")

      // append the rest + MoR-delete some indexed vectors (none of the
      // query ids) + MoR-update others' embeddings in place
      graft.sources.LakeIO.evolveAppend(all.where($"vec_id" >= 400), lake)
      graft.sources.LakeIO.deleteWhereMoR(spark, lake, $"vec_id" % 7 === 6)
      q.processAllAvailable()
      val live = Tables.embeddings(spark, sf).where($"vec_id" % 7 =!= 6)
        .select($"vec_id", $"embedding")
      assert(served() == overLive(live),
        "deletes must be excluded generation-aware")

      graft.sources.LakeIO.updateWhereMoR(spark, lake,
        $"vec_id" % 11 === 7 && $"vec_id" >= 5,
        Seq("embedding" -> reverse($"embedding")))
      q.processAllAvailable()
      val liveUpdated = live.withColumn("embedding",
        when($"vec_id" % 11 === 7 && $"vec_id" >= 5, reverse($"embedding"))
          .otherwise($"embedding"))
      assert(served() == overLive(liveUpdated),
        "updated vectors must serve their NEW embedding")

      // tombstones are hash-bucketed, never a flat single-task layout
      val tombBase = new java.io.File(dir, "tombstones")
      assert(tombBase.listFiles().exists(d =>
        d.isDirectory && d.getName.startsWith("tbucket=")))

      // purge: dead rows dropped, tombstones cleared, probe identical
      val expected = served()
      val (bef, aft) = StreamingAnn.compactFollow(spark, dir)
      assert(aft < bef, s"purge must shrink files ($bef -> $aft)")
      assert(StreamingAnn.readFollowIndex(spark, dir)._2.count() == 0L)
      val (cellsAfter, _) = StreamingAnn.readFollowIndex(spark, dir)
      assert(cellsAfter.where($"vec_id" % 7 === 6).count() == 0L,
        "purge must drop deleted vectors' rows")
      assert(served() == expected, "post-purge probe must be identical")
    } finally q.stop()
  }

  test("followLakePq: the streamed IVF-PQ index serves ADC+rerank identical to a full re-encode of the live table") {
    val base = s"$testRoot/stream_ann_follow_pq"
    val lake = s"$base/lake"
    val dir = s"$base/index"
    rm(new java.io.File(base))

    val cents = Similarity.annCentroids(spark, sf)
    val book = Similarity.annCodebook(spark, sf)
    val all = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .withColumn("ts", ($"vec_id" + lit(1705017600L)).cast("timestamp"))
    graft.sources.LakeIO.writeLake(all.where($"vec_id" < 400), lake)

    val queries = Tables.embeddings(spark, sf).where($"vec_id" < 5)
      .select($"vec_id", $"embedding")
    def served(): Seq[String] = {
      val (cells, tombs) = StreamingAnn.readFollowIndex(spark, dir)
      Similarity.ivfPqTopKFromFollowIndex(queries, cents, book, cells, tombs)
        .collect().toSeq.map(_.toString)
    }
    // ground truth: the frozen-artifact IVF-PQ probe over a fresh
    // re-encode + re-assignment of the live table (encode/assign are
    // pure per-row functions of the frozen trainers, so streamed ==
    // rebuilt must hold row-identically)
    def overLive(live: org.apache.spark.sql.DataFrame): Seq[String] =
      Similarity.ivfPqTopK(live, cents, Similarity.ivfAssign(live, cents),
        Similarity.pqEncode(live, book), book, numQueries = 5, k = 10)
        .collect().toSeq.map(_.toString)

    val q = StreamingAnn.followLakePq(
      spark.readStream.format("graft-lake-cdf").load(lake),
      cents, book, dir, s"$base/ckpt")
    try {
      q.processAllAvailable()
      assert(served() == overLive(
        Tables.embeddings(spark, sf).where($"vec_id" < 400)
          .select($"vec_id", $"embedding")),
        "backfill: streamed codes must serve like a full re-encode")

      graft.sources.LakeIO.evolveAppend(all.where($"vec_id" >= 400), lake)
      graft.sources.LakeIO.deleteWhereMoR(spark, lake, $"vec_id" % 7 === 6)
      q.processAllAvailable()
      val live = Tables.embeddings(spark, sf).where($"vec_id" % 7 =!= 6)
        .select($"vec_id", $"embedding")
      assert(served() == overLive(live),
        "deletes must be excluded generation-aware from the ADC candidates")

      graft.sources.LakeIO.updateWhereMoR(spark, lake,
        $"vec_id" % 11 === 7 && $"vec_id" >= 5,
        Seq("embedding" -> reverse($"embedding")))
      q.processAllAvailable()
      val liveUpdated = live.withColumn("embedding",
        when($"vec_id" % 11 === 7 && $"vec_id" >= 5, reverse($"embedding"))
          .otherwise($"embedding"))
      assert(served() == overLive(liveUpdated),
        "updated vectors must serve their re-encoded NEW codes")

      // purge (shared compactFollow — layout names are followLake's):
      // dead code rows dropped, tombstones cleared, probe identical
      val expected = served()
      val (bef, aft) = StreamingAnn.compactFollow(spark, dir)
      assert(aft < bef, s"purge must shrink files ($bef -> $aft)")
      assert(StreamingAnn.readFollowIndex(spark, dir)._2.count() == 0L)
      assert(served() == expected, "post-purge probe must be identical")
    } finally q.stop()
  }

  test("purging compaction drops deleted vectors: purged index == rebuild over live") {
    val dir = s"$testRoot/stream_ann_purge/index"
    rm(new java.io.File(dir).getParentFile)
    val cents = Similarity.annCentroids(spark, sf)
    val all = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    (0 until 2).foreach { b =>
      StreamingAnn.indexBatch(cents, dir)(
        all.where($"vec_id" % 2 === b), batchId = b.toLong)
    }
    // vectors deleted after the index froze (the change-feed's delete
    // set, duplicated rows included — purge must still drop each once)
    val deleted = all.where($"vec_id" % 5 === 2).select($"vec_id")
      .union(all.where($"vec_id" % 5 === 2).select($"vec_id"))
    val (bef, aft) = StreamingAnn.compactIndexPurging(spark, dir, deleted)
    assert(aft < bef)

    val live = all.where($"vec_id" % 5 =!= 2)
    val purged = StreamingAnn.readIndex(spark, dir).select($"vec_id", $"cell")
    val rebuilt = Similarity.ivfAssign(live, cents)
    assert(purged.count() == live.count())
    assert(purged.except(rebuilt).isEmpty && rebuilt.except(purged).isEmpty,
      "purged index must be row-identical to a rebuild over the live set")
    // committed replays stay no-ops after the purge (dead rows must not
    // resurrect through the ledger)
    StreamingAnn.indexBatch(cents, dir)(all.limit(6), batchId = 0L)
    assert(StreamingAnn.readIndex(spark, dir).count() == live.count())
  }
}
