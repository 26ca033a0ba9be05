package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CommitConflictException, ManifestFileIndex}

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** A one-shot hook fired from inside a running Spark job: the racing
  * commit of the copy-on-write window specs below. Executors share the
  * driver JVM under `local[n]`, so a task reaches the same object.
  */
object LakeRace {
  private var pending: () => Unit = null
  def arm(commit: => Unit): Unit = synchronized { pending = () => commit }
  def fire(): Unit = {
    val f = synchronized { val p = pending; pending = null; p }
    if (f != null) f()
  }
}

/** Fires [[LakeRace]] when a parquet write's job commits: the stage
  * write of an op that takes no user expression to hook (compaction).
  */
class RaceCommitProtocol(jobId: String, path: String, dynamic: Boolean)
  extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
    jobId, path, dynamic) {
  override def commitJob(ctx: org.apache.hadoop.mapreduce.JobContext,
      commits: Seq[org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage])
    : Unit = {
    super.commitJob(ctx, commits)
    LakeRace.fire()
  }
}

/** Optimistic concurrency on the lake commit protocol: uncoordinated
  * writers never lose a commit (appends rebase through the version-claim
  * CAS), genuine write-write file conflicts abort exactly one loser, a
  * copy-on-write rewrite keeps an append that lands inside its window and
  * conflicts on a deletion vector that does, and HEAD/snapshot state
  * stays consistent throughout. This is the property
  * that lets N streaming sinks + a compactor + a deleter share one 100 TB
  * table with no coordination service.
  */
class LakeOccSpec extends AnyFunSuite {

  private val base = tempDir("occ_spec").toString

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  test("concurrent appendTxn writers: no lost update, distinct versions, exact union") {
    val root = s"$base/concurrent_appends"
    rm(new java.io.File(root))
    LakeIO.writeLake(events.where($"event_id" < 100), root)
    val v0 = ManifestFileIndex.headVersion(root).get

    val nWriters = 6
    // each writer appends a disjoint, recognizable slice
    val slices = (0 until nWriters).map { i =>
      events.where($"event_id" >= 100 + i * 50 && $"event_id" < 100 + (i + 1) * 50)
        .withColumn("event_id", $"event_id" + lit(i * 1000000L))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    slices.foreach { df =>
      pool.execute(() =>
        try results.add(LakeIO.appendTxn(df, root))
        catch { case t: Throwable => errors.add(t); () })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(errors.isEmpty, s"append failed: ${Option(errors.peek()).map(_.toString)}")

    import scala.jdk.CollectionConverters._
    val versions = results.asScala.toSeq.sorted
    // every writer committed, each at its own version, none skipped
    assert(versions == (v0 + 1 to v0 + nWriters))
    assert(ManifestFileIndex.headVersion(root).get == v0 + nWriters)
    assert(ManifestFileIndex.claimedVersion(root) == v0 + nWriters)

    // union is exact: the base plus every writer's slice, no dups, no loss
    val got = spark.read.format("graft-lake").load(root)
      .select($"event_id", $"ts", $"event_type", $"value")
    val expected = slices.foldLeft(events.where($"event_id" < 100))(_ unionByName _)
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)

    // every intermediate version remains a readable snapshot with
    // monotonically growing row counts (append-only chain)
    val counts = (v0 to v0 + nWriters).map { v =>
      spark.read.format("graft-lake").option("versionAsOf", v.toString)
        .load(root).count()
    }
    assert(counts == counts.sorted)
  }

  test("sustained contention: 8 writers x 10 rapid metadata commits, zero lost") {
    // the r11 throughput measurement caught starvation here: without
    // jittered backoff, lockstep retries exhausted commitDelta's attempt
    // budget at 8 writers and ~1/3 of commits THREW — lost work. This
    // pins the fix: every commit lands, head advances by exactly the
    // commit count. Synthetic entries: the protocol's cost (and its
    // contention) is manifest I/O, not parquet bytes.
    val root = s"$base/hot_commits"
    rm(new java.io.File(root))
    def entry(t: Int, k: Int) = ManifestFileIndex.Entry(
      f"2024-01-01-${t % 24}%02d",
      f"ts_hour=2024-01-01-${t % 24}%02d/part-$t%02d-$k%04d.parquet",
      1L, 0L, Map.empty, Map.empty, Map.empty, 1L)
    ManifestFileIndex.commitDelta(root, "ts_hour", 0, Seq(entry(23, 9999)), Set.empty)
    val v0 = ManifestFileIndex.headVersion(root).get
    val (nWriters, perWriter) = (8, 10)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nWriters).map { t =>
      new Thread(() => {
        try (0 until perWriter).foreach { k =>
          val b = ManifestFileIndex.claimedVersion(root)
          ManifestFileIndex.commitDelta(root, "ts_hour", b,
            Seq(entry(t, k)), Set.empty)
        } catch { case e: Throwable => errors.add(e); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    assert(errors.isEmpty, s"lost commit: ${Option(errors.peek()).map(_.toString)}")
    assert(ManifestFileIndex.headVersion(root).get == v0 + nWriters * perWriter)
    val (_, entries) = ManifestFileIndex.read(root).get
    assert(entries.size == 1 + nWriters * perWriter)
  }

  test("write-write conflict: two deltas removing the same file — one wins, one aborts") {
    val root = s"$base/conflict"
    rm(new java.io.File(root))
    LakeIO.writeLake(events.where($"event_id" < 200), root)
    val baseV = ManifestFileIndex.headVersion(root).get
    val entries = ManifestFileIndex.read(root).get._2
    val victim = entries.head

    // both transactions read base, both rewrite the same file
    def rewrite(tag: String): Int = {
      val dir = new java.io.File(root, s"ts_hour=${victim.partValue}")
      val f = java.io.File.createTempFile(s"occ$tag-", ".parquet", dir)
      java.nio.file.Files.copy(
        new java.io.File(root, victim.relPath).toPath, f.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val entry = victim.copy(relPath = s"ts_hour=${victim.partValue}/${f.getName}")
      ManifestFileIndex.commitDelta(root, "ts_hour", baseV,
        Seq(entry), Set(victim.relPath))
    }

    val first = rewrite("a")
    assert(first == baseV + 1)
    val err = intercept[CommitConflictException] { rewrite("b") }
    assert(err.getMessage.contains("conflict") || err.getMessage.contains("stale"))
    // loser left no trace in table state
    assert(ManifestFileIndex.headVersion(root).get == baseV + 1)
  }

  test("read-write conflict: a MoR-shaped commit aborts when files it READ were rewritten") {
    val root = s"$base/rwconflict"
    rm(new java.io.File(root))
    LakeIO.writeLake(events.where($"event_id" < 200), root)
    val baseV = ManifestFileIndex.headVersion(root).get
    val victim = ManifestFileIndex.read(root).get._2.head

    // writer A (CoW) rewrites the victim file and wins the race
    val dir = new java.io.File(root, s"ts_hour=${victim.partValue}")
    val f = java.io.File.createTempFile("rw-", ".parquet", dir)
    java.nio.file.Files.copy(
      new java.io.File(root, victim.relPath).toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ManifestFileIndex.commitDelta(root, "ts_hour", baseV,
      Seq(victim.copy(relPath = s"ts_hour=${victim.partValue}/${f.getName}")),
      Set(victim.relPath))

    // writer B (merge-on-read) computed a DV against base, victim
    // included in its read set: its positions are now dead — must abort
    val err = intercept[CommitConflictException] {
      ManifestFileIndex.commitDelta(root, "ts_hour", baseV,
        Seq.empty, Set.empty, addDvs = Seq("_graft_dv/dv-testdead"),
        requireLive = Set(victim.relPath))
    }
    assert(err.getMessage.contains("read-write conflict"))

    // validation against files the rewrite did NOT touch commits fine
    val untouched = ManifestFileIndex.read(root).get._2
      .map(_.relPath).filterNot(_ == victim.relPath).take(3).toSet
    val v = ManifestFileIndex.commitDelta(root, "ts_hour",
      ManifestFileIndex.claimedVersion(root),
      Seq.empty, Set.empty, requireLive = untouched)
    assert(v == baseV + 2)
  }

  test("append delta vs concurrent rewrite: append rebases cleanly, both survive") {
    val root = s"$base/append_vs_rewrite"
    rm(new java.io.File(root))
    LakeIO.writeLake(events.where($"event_id" < 200), root)
    val baseV = ManifestFileIndex.headVersion(root).get
    val before = spark.read.format("graft-lake").load(root).count()

    // a rewrite commits first (simulating a compactor winning the race)...
    val entries = ManifestFileIndex.read(root).get._2
    val victim = entries.head
    val dir = new java.io.File(root, s"ts_hour=${victim.partValue}")
    val f = java.io.File.createTempFile("occcompact-", ".parquet", dir)
    java.nio.file.Files.copy(
      new java.io.File(root, victim.relPath).toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ManifestFileIndex.commitDelta(root, "ts_hour", baseV,
      Seq(victim.copy(relPath = s"ts_hour=${victim.partValue}/${f.getName}")),
      Set(victim.relPath))

    // ...then an append whose base predates the rewrite commits anyway
    val appended = events.where($"event_id" >= 200 && $"event_id" < 300)
      .withColumn("event_id", $"event_id" + 5000000L)
    val v = LakeIO.appendTxn(appended, root)
    assert(v == baseV + 2)

    val after = spark.read.format("graft-lake").load(root)
    assert(after.count() == before + appended.count())
    // the rewritten file's rows are present exactly once (rewrite survived)
    assert(after.where($"event_id" < 200).count() ==
      events.where($"event_id" < 200).count())
  }

  test("crash between claim and publish: successor commit redoes the orphaned publish") {
    val root = s"$base/crash_recovery"
    rm(new java.io.File(root))
    LakeIO.writeLake(events.where($"event_id" < 100), root)
    val v0 = ManifestFileIndex.headVersion(root).get

    // simulate a writer that CLAIMED v0+1 (complete snapshot on disk)
    // but died before publishing HEAD: claim an append of one copied file
    val entries = ManifestFileIndex.read(root).get._2
    val donor = entries.head
    val dir = new java.io.File(root, s"ts_hour=${donor.partValue}")
    val f = java.io.File.createTempFile("crashed-", ".parquet", dir)
    java.nio.file.Files.copy(new java.io.File(root, donor.relPath).toPath,
      f.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val orphanEntry = donor.copy(
      relPath = s"ts_hour=${donor.partValue}/${f.getName}")
    // hand-write the claimed snapshot (manifest-v.tsv) without touching
    // HEAD or the mirror — exactly the on-disk state a crash leaves
    val snapDir = new java.io.File(root, ManifestFileIndex.SnapshotDir)
    val headContent = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(snapDir, s"manifest-$v0.tsv").toPath), "UTF-8")
    val orphanLine = s"${orphanEntry.partValue}\t${orphanEntry.relPath}" +
      s"\t${orphanEntry.size}\t${orphanEntry.mtime}"
    java.nio.file.Files.write(
      new java.io.File(snapDir, s"manifest-${v0 + 1}.tsv").toPath,
      (headContent + orphanLine + "\n").getBytes("UTF-8"))

    // HEAD still points at v0; readers see the old state
    assert(ManifestFileIndex.headVersion(root).get == v0)
    assert(ManifestFileIndex.claimedVersion(root) == v0 + 1)

    // a successor append rebases ONTO the orphaned claim and publishes
    val appended = events.where($"event_id" >= 100 && $"event_id" < 150)
      .withColumn("event_id", $"event_id" + 9000000L)
    val v = LakeIO.appendTxn(appended, root)
    assert(v == v0 + 2)
    assert(ManifestFileIndex.headVersion(root).get == v0 + 2)
    // both the orphaned commit's file and the new append are live
    val live = ManifestFileIndex.read(root).get._2.map(_.relPath).toSet
    assert(live.contains(orphanEntry.relPath),
      "orphaned claimed commit must be folded in by the successor")
    assert(appended.count() > 0 &&
      spark.read.format("graft-lake").load(root)
        .where($"event_id" >= 9000000L).count() == appended.count())
  }

  test("history ledger: a 500-commit table's DESCRIBE HISTORY plans from ONE file") {
    val root = s"$base/ledger"
    rm(new java.io.File(root))
    LakeIO.writeLake(events.limit(200), root)
    // 500 cheap synthetic commits (metadata-only deltas — the shape of a
    // micro-batch-committing stream's snapshot chain)
    (1 to 500).foreach { _ =>
      ManifestFileIndex.commitDelta(root, "ts_hour",
        ManifestFileIndex.claimedVersion(root), Seq.empty, Set.empty)
    }
    val head = ManifestFileIndex.headVersion(root).get
    assert(head >= 501)
    val hist = LakeIO.history(spark, root).collect()
    assert(hist.length == head)
    // every commit's accounting is in the ledger (no gap-fill needed)
    assert(ManifestFileIndex.readHistoryLedger(root).size == head)

    // PROOF the plan is ledger-only: move every snapshot manifest away —
    // history must still answer in full, because it never opens them
    val snapDir = new java.io.File(root, ManifestFileIndex.SnapshotDir)
    val hidden = new java.io.File(root, "_hidden_snaps")
    hidden.mkdirs()
    val moved = Option(snapDir.listFiles()).get
      .filter(_.getName.startsWith("manifest-"))
    moved.foreach(f => java.nio.file.Files.move(f.toPath,
      new java.io.File(hidden, f.getName).toPath))
    try {
      val viaLedger = LakeIO.history(spark, root).collect()
      assert(viaLedger.length == head,
        "history must plan entirely from the checkpointed ledger")
      assert(viaLedger.map(_.getLong(0)).toSeq == (1 to head).map(_.toLong))
      // accounting content survives the checkpoint round trip
      assert(viaLedger.forall(r => r.getLong(2) > 0 && r.getLong(4) > 0L),
        "file counts and bytes must come through the ledger")
    } finally {
      moved.foreach(f => java.nio.file.Files.move(
        new java.io.File(hidden, f.getName).toPath, f.toPath))
      hidden.delete()
    }

    // expiration prunes the ledger with the snapshots
    ManifestFileIndex.expireSnapshots(root, keepLast = 10)
    val after = LakeIO.history(spark, root).collect().map(_.getLong(0))
    assert(after.length == 10 && after.head == (head - 9).toLong,
      s"expired versions must leave DESCRIBE HISTORY, got ${after.toSeq}")
  }

  // ---------------------------------------------------------------------
  // Copy-on-write ops racing a commit inside their read→commit window.
  // The racing commit is metadata-only (a commitDelta of files written
  // beforehand), fired once from inside the op's own Spark job, so the
  // interleaving is deterministic and no nested job runs.
  // ---------------------------------------------------------------------

  /** Files holding `rows`, moved into `root`'s partition directories
    * under fresh names and committed nowhere: a racing append's payload.
    */
  private def prewritten(root: String,
      rows: org.apache.spark.sql.DataFrame): Seq[ManifestFileIndex.Entry] = {
    val scratch = tempDir("race_src").toString + "/t"
    LakeIO.writeLake(rows, scratch)
    ManifestFileIndex.read(scratch).get._2.map { e =>
      val Array(dir, name) = e.relPath.split('/')
      new java.io.File(root, dir).mkdirs()
      java.nio.file.Files.move(new java.io.File(scratch, e.relPath).toPath,
        new java.io.File(root, s"$dir/race-$name").toPath)
      e.copy(relPath = s"$dir/race-$name")
    }
  }

  private def racingAppend(root: String, files: Seq[ManifestFileIndex.Entry]): Unit =
    LakeRace.arm {
      ManifestFileIndex.commitDelta(root, "ts_hour",
        ManifestFileIndex.claimedVersion(root), files, Set.empty)
      ()
    }

  private def raceRows = events.where($"event_id" < 10)
    .withColumn("event_id", $"event_id" + 7000000L)

  private def head(root: String) = spark.read.format("graft-lake").load(root)
    .select($"event_id", $"ts", $"event_type", $"value")

  test("deleteWhere keeps rows appended inside its read→commit window") {
    val root = s"$base/cow_delete_race"
    LakeIO.writeLake(events.where($"event_id" < 300), root)
    val files = prewritten(root, raceRows)
    val v0 = ManifestFileIndex.headVersion(root).get
    racingAppend(root, files)
    val doomed = udf { (id: Long) => LakeRace.fire(); id % 3 == 0 }
    LakeIO.deleteWhere(spark, root, doomed($"event_id"))

    // the append landed mid-delete, and the delete serialized before it
    assert(ManifestFileIndex.headVersion(root).get == v0 + 2)
    assert(head(root).where($"event_id" >= 7000000L).count() == raceRows.count(),
      "the concurrently appended rows must survive the delete's commit")
    val kept = events.where($"event_id" < 300 && $"event_id" % 3 =!= 0)
    val live = head(root).where($"event_id" < 7000000L)
    assert(live.count() == kept.count())
    assert(live.except(kept).isEmpty && kept.except(live).isEmpty)
  }

  test("compactSnapshots keeps a concurrent append") {
    val root = s"$base/cow_compact_race"
    LakeIO.writeLake(events.where($"event_id" < 200), root)
    // the same hours again: every partition holds two files
    LakeIO.appendTxn(events.where($"event_id" < 200)
      .withColumn("event_id", $"event_id" + 1000000L), root)
    val files = prewritten(root, raceRows)
    val before = head(root).count()
    val v0 = ManifestFileIndex.headVersion(root).get
    val key = "spark.sql.sources.commitProtocolClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, classOf[RaceCommitProtocol].getName)
    try {
      racingAppend(root, files)
      LakeIO.compactSnapshots(spark, root)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))

    assert(ManifestFileIndex.headVersion(root).get == v0 + 2)
    val live = ManifestFileIndex.read(root).get._2.map(_.relPath).toSet
    assert(files.forall(e => live(e.relPath)),
      "the compaction must not revert the append committed inside its window")
    assert(head(root).count() == before + raceRows.count())
    assert(ManifestFileIndex.read(root).get._2.groupBy(_.partValue)
      .forall(_._2.count(e => !files.exists(_.relPath == e.relPath)) == 1),
      "every fragmented partition was compacted to one file")
  }

  test("a deletion vector landing inside a CoW op's window conflicts the op") {
    val root = s"$base/cow_dv_race"
    LakeIO.writeLake(events.where($"event_id" < 300), root)
    // the racing MoR delete's sidecar, written beforehand: positions of
    // every row with event_id % 5 == 0
    val dvRel = "_graft_dv/dv-race"
    LakeIO.positionedScan(spark, root,
        ManifestFileIndex.read(root).get._2.map(_.relPath), None)
      .where($"event_id" % 5 === 0).select($"_dv_file", $"_dv_pos")
      .write.parquet(s"$root/$dvRel")
    val v0 = ManifestFileIndex.headVersion(root).get
    LakeRace.arm {
      ManifestFileIndex.commitDelta(root, "ts_hour",
        ManifestFileIndex.claimedVersion(root), Seq.empty, Set.empty,
        addDvs = Seq(dvRel))
      ()
    }
    val hit = udf { (id: Long) => LakeRace.fire(); id % 7 == 0 }
    val err = intercept[CommitConflictException] {
      LakeIO.updateWhere(spark, root, hit($"event_id"),
        Seq("value" -> ($"value" + 1000.0)))
    }
    assert(err.getMessage.contains("deletion vector"))

    // the DV commit is the head, and its rows stay deleted
    assert(ManifestFileIndex.headVersion(root).get == v0 + 1)
    assert(ManifestFileIndex.readDvs(root) == Seq(dvRel))
    val want = events.where($"event_id" < 300 && $"event_id" % 5 =!= 0)
    val got = LakeIO.readMoR(spark, root)
      .select($"event_id", $"ts", $"event_type", $"value")
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }
}
