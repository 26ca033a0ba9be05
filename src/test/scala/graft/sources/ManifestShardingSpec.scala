package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** Two-level manifests: the snapshot file becomes a LIST of immutable,
  * content-hash-named shard files, each holding a contiguous partition-
  * directory range. The scale contract under test: a commit touching one
  * partition rewrites one shard (+ the list), untouched ranges re-resolve
  * to the same file; planning a time range opens only intersecting
  * shards; expired snapshots' unreferenced shards get garbage-collected.
  */
class ManifestShardingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val testRoot = tempDir("manifest_sharding").toString

  private val base = s"$testRoot/shard_spec"

  override def beforeAll(): Unit =
    sys.props("graft.lake.shard.target") = "50"
  override def afterAll(): Unit = {
    sys.props -= "graft.lake.shard.target"; ()
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  private def fresh(root: String): Unit = {
    rm(new java.io.File(root)); LakeIO.writeLake(events, root)
  }

  test("over-target write shards the manifest; reads round-trip exactly") {
    val root = s"$base/basic"
    fresh(root)
    val refs = ManifestFileIndex.readRefs(root)
    assert(refs.size >= 2, s"expected >=2 shards, got ${refs.size}")
    // the list itself carries no entry lines
    val (_, inline, _) = ManifestFileIndex.readList(root).get
    assert(inline.isEmpty)
    // ranges are disjoint, ordered, and dirs never span shards
    val sorted = refs.sortBy(_.minDir)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxDir < b.minDir)
      case _         =>
    }
    // resolved entries cover every data file once
    val entries = ManifestFileIndex.read(root).get._2
    assert(entries.map(_.relPath).distinct.size == entries.size)
    assert(entries.map(_.rowCount).sum == events.count())
    // V2 read through the scan path
    val t = spark.read.format("graft-lake").load(root)
    assert(t.count() == events.count())
    assert(math.abs(t.agg(sum($"value")).collect().head.getDouble(0) -
      events.agg(sum($"value")).collect().head.getDouble(0)) < 1e-6)
  }

  test("append to one partition rewrites O(1) shards and reuses the rest") {
    val root = s"$base/append"
    fresh(root)
    val v0 = ManifestFileIndex.claimedVersion(root)
    val refs0 = ManifestFileIndex.readRefs(root).map(_.name).toSet
    // one row -> one partition dir touched
    val one = events.orderBy($"event_id").limit(1)
      .withColumn("event_id", $"event_id" + 7000000L)
    LakeIO.evolveAppend(one, root)
    val refs1 = ManifestFileIndex.readRefs(root).map(_.name).toSet
    assert((refs1 -- refs0).size <= 2,
      s"append touched ${(refs1 -- refs0).size} new shards (want <=2)")
    assert((refs0 -- refs1).size <= 2,
      s"append invalidated ${(refs0 -- refs1).size} shards (want <=2)")
    assert((refs0 intersect refs1).nonEmpty, "no shard reuse at all")
    // both snapshots readable
    assert(spark.read.format("graft-lake").load(root).count() == events.count() + 1)
    assert(spark.read.format("graft-lake")
      .option("versionAsOf", v0.toString).load(root).count() == events.count())
  }

  test("CoW delete rewrites only the shards of its candidate partitions") {
    val root = s"$base/cow"
    fresh(root)
    val refs0 = ManifestFileIndex.readRefs(root).map(_.name).toSet
    val victim = events.orderBy($"event_id").limit(1)
      .collect().head.getLong(0)
    LakeIO.deleteWhere(spark, root, $"event_id" === victim)
    val refs1 = ManifestFileIndex.readRefs(root).map(_.name).toSet
    assert((refs1 -- refs0).size <= 2 && (refs0 -- refs1).size <= 2)
    val t = spark.read.format("graft-lake").load(root)
    assert(t.count() == events.count() - 1)
    assert(t.where($"event_id" === victim).count() == 0)
  }

  test("shard-pruned range planning equals the brute-force entry filter") {
    val root = s"$base/prune"
    fresh(root)
    val lo = "2024-01-08 00:00:00"; val hi = "2024-01-10 00:00:00"
    val pruned = LakeIO.prunedEntriesForRange(root, lo, hi).map(_.relPath).toSet
    val brute = ManifestFileIndex.read(root).get._2.filter { e =>
      e.partValue >= "2024-01-08-00" && e.partValue <= "2024-01-10-00"
    }.map(_.relPath).toSet
    assert(pruned == brute)
    assert(pruned.nonEmpty)
  }

  test("mixed-era sharded table prunes per era, conservatively per shard") {
    val root = s"$base/mixed"
    rm(new java.io.File(root))
    LakeIO.writeLakeDay(events, root)
    LakeIO.evolvePartitioning(root, "ts_hour")
    LakeIO.evolveAppend(events.limit(80)
      .withColumn("event_id", $"event_id" + 7100000L), root)
    assert(ManifestFileIndex.readRefs(root).nonEmpty)
    val lo = "2024-01-10 00:00:00"; val hi = "2024-01-12 00:00:00"
    val pruned = LakeIO.prunedEntriesForRange(root, lo, hi).map(_.relPath).toSet
    val brute = ManifestFileIndex.read(root).get._2.filter { e =>
      LakeIO.eraOf(e) match {
        case "ts_hour" => e.partValue >= "2024-01-10-00" && e.partValue <= "2024-01-12-00"
        case "ts_day"  => e.partValue >= "2024-01-10" && e.partValue <= "2024-01-12"
        case _         => true
      }
    }.map(_.relPath).toSet
    assert(pruned == brute)
    // the scan itself returns the exact window across both eras
    val got = LakeIO.prunedScanEvolved(spark, root, lo, hi).count()
    val want = events.where($"ts" >= to_timestamp(lit(lo)) &&
        $"ts" < to_timestamp(lit(hi))).count() +
      events.limit(80).where($"ts" >= to_timestamp(lit(lo)) &&
        $"ts" < to_timestamp(lit(hi))).count()
    assert(got == want)
  }

  test("inline table migrates to sharded on its first over-target commit") {
    val root = s"$base/migrate"
    sys.props("graft.lake.shard.target") = "100000"
    try { fresh(root) } finally {
      sys.props("graft.lake.shard.target") = "50"
    }
    val v1 = ManifestFileIndex.claimedVersion(root)
    assert(ManifestFileIndex.readRefs(root).isEmpty, "fixture must start inline")
    LakeIO.evolveAppend(events.limit(5)
      .withColumn("event_id", $"event_id" + 7200000L), root)
    assert(ManifestFileIndex.readRefs(root).nonEmpty, "must shard on migration")
    assert(spark.read.format("graft-lake").load(root).count() == events.count() + 5)
    // pre-migration snapshot stays readable through its inline manifest
    assert(spark.read.format("graft-lake")
      .option("versionAsOf", v1.toString).load(root).count() == events.count())
  }

  test("MoR delete on a sharded table keeps DVs in the list, shards intact") {
    val root = s"$base/mor"
    fresh(root)
    val refs0 = ManifestFileIndex.readRefs(root).map(_.name).toSet
    val n = LakeIO.deleteWhereMoR(spark, root, $"value" > 100.0)
    assert(n == events.where($"value" > 100.0).count())
    assert(n > 0, "fixture predicate must match rows or the test is vacuous")
    // a MoR delete adds a DV, no data files change: every shard reused
    assert(ManifestFileIndex.readRefs(root).map(_.name).toSet == refs0)
    assert(ManifestFileIndex.readDvs(root).nonEmpty)
    assert(LakeIO.readMoR(spark, root).count() ==
      events.where($"value" <= 100.0).count())
  }

  test("concurrent appendTxn writers on a SHARDED table: no lost update") {
    val root = s"$base/occ"
    fresh(root)
    val v0 = ManifestFileIndex.headVersion(root).get
    assert(ManifestFileIndex.readRefs(root).nonEmpty)
    val nWriters = 4
    // deterministic slices (no limit: a bare limit can pick different
    // rows when the count is re-derived after the write)
    val slices = (0 until nWriters).map { i =>
      events.where($"event_id" % nWriters === i && $"event_id" < 400)
        .withColumn("event_id", $"event_id" + lit((i + 1) * 10000000L))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    slices.foreach { df =>
      pool.execute(() =>
        try { LakeIO.appendTxn(df, root); () }
        catch { case t: Throwable => errors.add(t); () })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(errors.isEmpty, s"append failed: ${Option(errors.peek()).map(_.toString)}")
    assert(ManifestFileIndex.headVersion(root).get == v0 + nWriters)
    // each rebase re-rendered only its changed shards; the final state
    // resolves every slice exactly once
    val got = spark.read.format("graft-lake").load(root).count()
    assert(got == events.count() + slices.map(_.count()).sum)
    assert(ManifestFileIndex.readRefs(root).nonEmpty)
  }

  test("streaming source reads a sharded lake: backfill + increment") {
    val root = s"$base/stream"
    fresh(root)
    assert(ManifestFileIndex.readRefs(root).nonEmpty)
    val ckpt = tempDir("shard_ck").toString
    val q = spark.readStream.format("graft-lake-stream").load(root)
      .writeStream.format("memory").queryName("shard_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("shard_stream").count() == events.count())
      LakeIO.evolveAppend(events.limit(25)
        .withColumn("event_id", $"event_id" + 7300000L), root)
      q.processAllAvailable()
      assert(spark.table("shard_stream").count() == events.count() + 25)
    } finally q.stop()
  }

  test("expireSnapshots garbage-collects shards no remaining snapshot references") {
    val root = s"$base/gc"
    fresh(root)
    // several CoW mutations -> several superseded generations of the hot shards
    (1 to 3).foreach { i =>
      val victim = events.orderBy($"event_id").limit(i).collect().last.getLong(0)
      LakeIO.deleteWhere(spark, root, $"event_id" === victim)
    }
    val shardDir = new java.io.File(root,
      ManifestFileIndex.SnapshotDir + "/" + ManifestFileIndex.ShardsDirName)
    val before = Option(shardDir.listFiles()).get.count(_.getName.startsWith("shard-"))
    sys.props("graft.lake.shard.gc.graceMs") = "0"
    try ManifestFileIndex.expireSnapshots(root, keepLast = 1)
    finally { sys.props -= "graft.lake.shard.gc.graceMs"; () }
    val after = Option(shardDir.listFiles()).get.count(_.getName.startsWith("shard-"))
    assert(after < before, s"expected GC to remove shards ($before -> $after)")
    // every remaining snapshot still resolves fully
    val head = ManifestFileIndex.headVersion(root).get
    assert(ManifestFileIndex.read(root, Some(head)).get._2.nonEmpty)
    assert(spark.read.format("graft-lake").load(root).count() == events.count() - 3)
  }

  test("shard GC blocks while any present manifest is unreadable") {
    val root = s"$base/gc_corrupt"
    fresh(root)
    // superseded shard generations that keepLast=1 would normally collect
    (1 to 3).foreach { i =>
      val victim = events.orderBy($"event_id").limit(i).collect().last.getLong(0)
      LakeIO.deleteWhere(spark, root, $"event_id" === victim)
    }
    val snapDir = new java.io.File(root, ManifestFileIndex.SnapshotDir)
    val shardDir = new java.io.File(snapDir, ManifestFileIndex.ShardsDirName)
    val before = Option(shardDir.listFiles()).get.count(_.getName.startsWith("shard-"))
    assert(before > 0)
    // a claimed-but-unpublished manifest with a malformed #shard line:
    // only the GC's reference scan ever reads it, and the fail-loud
    // parse must BLOCK the pass — treating it as zero refs would let the
    // grace-expired generations below be deleted out from under it
    val corrupt = new java.io.File(snapDir, "manifest-999.tsv")
    java.nio.file.Files.write(corrupt.toPath,
      "#partcol\tts_hour\n#shard\tbroken-line\n".getBytes("UTF-8"))
    sys.props("graft.lake.shard.gc.graceMs") = "0"
    try {
      ManifestFileIndex.expireSnapshots(root, keepLast = 1)
      val blocked = Option(shardDir.listFiles()).get.count(_.getName.startsWith("shard-"))
      assert(blocked == before,
        s"corrupt metadata must block shard GC, not feed it ($before -> $blocked)")
      // with the corruption gone, the same pass collects as usual
      corrupt.delete()
      ManifestFileIndex.expireSnapshots(root, keepLast = 1)
      val after = Option(shardDir.listFiles()).get.count(_.getName.startsWith("shard-"))
      assert(after < before, s"expected GC to resume ($before -> $after)")
    } finally { sys.props -= "graft.lake.shard.gc.graceMs"; () }
    assert(spark.read.format("graft-lake").load(root).count() == events.count() - 3)
  }
}
