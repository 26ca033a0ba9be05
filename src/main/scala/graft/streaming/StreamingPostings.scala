package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.RetrievalOps
import graft.sources.LocalFs
import graft.syntax._

/** STREAMING inverted-index maintenance — [[StreamingAnn]]'s sibling for
  * sparse retrieval: document micro-batches arrive on a stream, each
  * batch's postings (term, doc_id, tf, dl, bucket — pure per-document
  * functions) append into the bucket-partitioned postings layout and one
  * corpus-stats row appends per batch, so at every micro-batch boundary
  * `bm25TopKFromIndex` over the streamed index answers EXACTLY what an
  * index rebuilt over everything ingested so far answers
  * (StreamingPostingsSpec pins it against [[RetrievalOps.writeIndex]]).
  *
  * Both layouts commit under ONE [[BatchLedgerIndex]] ledger entry:
  * a crash between the postings move and the stats move leaves visible
  * orphans that the batch's replay sweeps before re-staging — the
  * ledger line is the single commit point for the whole batch.
  */
object StreamingPostings {

  private val Ledger = "_graft_postings_batches"
  private val Postings =
    BatchLedgerIndex.Layout("postings", Some("bucket"), sortCols = Seq("term"))
  private val Stats = BatchLedgerIndex.Layout("stats", None)
  // Tombstone rows carry the deleted doc's FULL TEXT (the token mass the
  // stats correction needs) — churn-sized, i.e. corpus-fraction-sized at
  // real deletion rates, so the layout is HASH-BUCKETED on doc_id like
  // postings are on term: every write fans out across `tbucket=` dirs
  // (repartition(tbucket) in the shared append/compact machinery), never
  // a single-task coalesce(1) funnel. The probe reads all tombstones
  // regardless (membership anti-join), so the fan-out buys write
  // parallelism, not pruning.
  private val Tombstones = BatchLedgerIndex.Layout("tombstones", Some("tbucket"))
  private val TombBuckets = 32
  // every layout this index kind owns — phase-1 compaction rollback must
  // sweep ALL of them no matter which entry point recovers (a crash
  // recovered through indexBatch would otherwise leave half-moved
  // tombstone generation files live alongside their originals)
  private val AllLayouts = Seq(Postings, Stats, Tombstones)

  /** Append one document micro-batch (`doc_id`, `text`) to the index at
    * `indexDir`, idempotently under batch-id replay. Layout order is
    * STATS FIRST: a reader racing the stream then at worst sees totals
    * for postings not yet visible (matches understate), never matched
    * postings scored against last-batch totals.
    */
  def indexBatch(indexDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val p = RetrievalOps.batchPostings(batch, indexBuckets(indexDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try BatchLedgerIndex.appendBatch(indexDir, Ledger,
      Seq(Stats -> RetrievalOps.batchStatsFrom(batch, p),
        Postings -> p), batchId, recoverAll = AllLayouts)
    finally { p.unpersist(); () }
  }

  /** Run the maintenance stream over a streaming (doc_id, text) frame. */
  def start(stream: DataFrame, indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        indexBatch(indexDir)(batch, id)
      }
      .start()

  /** The live (postings, stats) pair, drop-in for
    * [[RetrievalOps.bm25TopKFromIndex]] / `bm25BulkFromIndex`.
    */
  def readIndex(s: SparkSession, indexDir: String): (DataFrame, DataFrame) =
    (BatchLedgerIndex.read(s, indexDir, Postings)
       .withColumn("bucket", col("bucket").cast("int")),
     BatchLedgerIndex.read(s, indexDir, Stats))

  /** Compact all layouts (maintenance, stream STOPPED) — and PURGE
    * tombstones while folding: the rewrite drops every posting a
    * tombstone kills (the same generation-aware predicate the probe
    * applies), folds the per-batch stats rows into ONE row with the dead
    * docs' token mass already subtracted (the same correction the probe
    * computes), and clears the tombstone layout entirely. Post-purge the
    * index is row-identical to a fresh rebuild over the live corpus
    * (StreamingPostingsSpec pins probe ≡ rebuild), probes stop paying
    * the per-query anti-join, and tombstone accrual resets to zero —
    * the lake's rewrite-position-deletes maintenance applied to the
    * serving index. All rewrites are distributed plans (postings
    * re-cluster by bucket); nothing corpus-sized crosses one task.
    */
  def compactIndex(s: SparkSession, indexDir: String): (Int, Int) = {
    migrateFlatTombstones(s, indexDir)
    BatchLedgerIndex.compactWith(s, indexDir, Ledger, AllLayouts, { live =>
      live.get(Tombstones.sub) match {
        case None => Map.empty // no deletes yet: identity fold
        case Some(tombs) =>
          // a delete-heavy history can leave a layout with ZERO live
          // files (CDF positioned past the inserts, or postings already
          // purged) — fold only the layouts actually present; the
          // tombstones still drop (nothing left for them to kill) and
          // the stats correction still applies when stats exist
          live.get(Postings.sub).map(p => Postings.sub -> Some(
            RetrievalOps.applyTombstonesGen(p, tombs,
              hintBroadcast = false))).toMap ++
            live.get(Stats.sub).map(st => Stats.sub -> Some(
              RetrievalOps.correctedStatsGen(st, tombs))).toMap +
            (Tombstones.sub -> None)
      }
    })
  }

  /** The index FOLLOWS THE LAKE: one maintenance stream over the lake's
    * change feed (`readStream.format("graft-lake-cdf")`) keeps the index
    * consistent with every kind of table mutation —
    *   - net in-batch insert/delete pairs FIRST (a catch-up micro-batch
    *    unions several commits' diffs; a doc inserted and deleted inside
    *    the window must touch nothing — the StreamingMv netting rule);
    *   - surviving inserts append postings (stamped with the batch id as
    *     their GENERATION) + a stats row;
    *   - surviving deletes append churn-sized TOMBSTONE rows (doc_id +
    *     text + generation — the text carries the token mass the
    *     serving-side stats correction needs);
    * all three layouts under ONE ledger line (exactly-once per batch),
    * stats and tombstones moving in BEFORE postings so a racing reader
    * at worst understates matches. Serving ([[bm25TopK]]) applies
    * tombstones GENERATION-AWARE (a tombstone kills only earlier-gen
    * postings, so UPDATEs — CDF delete(old)+insert(new) — and
    * re-inserts keep their newest postings) — row-identical to an index
    * rebuilt over the live table at every batch boundary
    * (StreamingPostingsSpec pins append, MoR delete AND MoR update).
    * Tombstones accrue O(churn); the periodic rebuild resets them.
    *
    * CONTRACT: `doc_id` is a key of the followed table's live state
    * (every retrieval op assumes it — tie-breaks, dedup). Bag
    * multiplicities beyond the in-batch insert/delete netting are not
    * reconstructed.
    */
  def followLake(changes: DataFrame, indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        migrateFlatTombstones(batch.sparkSession, indexDir)
        val docCols = batch.columns
          .filterNot(Set("change", "_commit_version")).map(col).toSeq
        val net = batch
          .withColumn("__w", when($"change" === "insert", 1L).otherwise(-1L))
          .groupBy(docCols: _*).agg(sum($"__w").as("__net"))
        val ins = net.where($"__net" > 0L).select($"doc_id", $"text")
        val del = net.where($"__net" < 0L)
          .select($"doc_id", $"text", lit(id).as("gen"),
            pmod(xxhash64($"doc_id"), lit(TombBuckets.toLong)).cast("int")
              .as("tbucket"))
        val p = RetrievalOps.batchPostings(ins, indexBuckets(indexDir))
          .withColumn("gen", lit(id))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try BatchLedgerIndex.appendBatch(indexDir, Ledger, Seq(
          Stats -> RetrievalOps.batchStatsFrom(ins, p),
          Tombstones -> del,
          Postings -> p), id, recoverAll = AllLayouts)
        finally { p.unpersist(); () }
      }
      .start()

  // -------------------------------------------------- layout migration

  private val MigMarker = "_graft_tomb_migrate"

  private def flatTombFiles(indexDir: String): Seq[java.io.File] = {
    val base = new java.io.File(indexDir, "tombstones")
    Option(base.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
  }

  private def bucketedTombFiles(indexDir: String): Seq[java.io.File] = {
    val base = new java.io.File(indexDir, "tombstones")
    Option(base.listFiles()).getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("tbucket="))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
  }

  private def withGen(df: DataFrame): DataFrame =
    if (df.columns.contains("gen")) df else df.withColumn("gen", lit(0L))

  /** One-shot migration of a pre-r13 FLAT tombstone layout into the
    * hash-bucketed `tbucket=` layout. The r12 layout change shipped with
    * no migration path: an index dir written by the flat-era code plus
    * one new bucketed append = a mixed flat+partitioned directory that
    * Spark's partition discovery REFUSES to read — a previously-valid
    * index bricked by an upgrade. Every WRITE entry point (followLake
    * batches, compaction, rebucket) migrates first, under the same
    * single-writer maintenance contract those entry points already hold.
    *
    * Crash-safe two-phase protocol (the compaction marker's shape):
    * the flat files stay the source of truth until the `mig-`
    * generation is FULLY in and the marker lists them; an unmarked
    * crash rolls the partial `mig-` files back on the next attempt, a
    * marked crash rolls forward (finish deleting the listed flats).
    */
  private[graft] def migrateFlatTombstones(s: SparkSession,
      indexDir: String): Unit = {
    val marker = new java.io.File(indexDir, MigMarker)
    if (marker.exists()) { // phase 2: roll FORWARD — finish the deletes
      import scala.jdk.CollectionConverters._
      val listed = java.nio.file.Files.readAllLines(marker.toPath).asScala
        .filter(_.nonEmpty).map(r => new java.io.File(indexDir, r))
      listed.foreach { f => f.delete(); () }
      // The marker may only fall once EVERY listed flat is confirmed
      // gone: a surviving flat with no marker makes the next entry
      // phase-1-roll-back the COMMITTED mig- generation and re-migrate
      // from the survivors alone — the deleted flats' tombstone rows
      // would be lost and those docs would resurrect in probes. Keep
      // the marker (retry roll-forward next entry) otherwise.
      if (listed.forall(!_.exists())) { marker.delete(); () } else return
    }
    val flats = flatTombFiles(indexDir)
    if (flats.isEmpty) return
    // phase-1 rollback: a crashed earlier attempt's partial generation
    bucketedTombFiles(indexDir)
      .filter(_.getName.startsWith("mig-")).foreach(_.delete())
    // read the flat rows by EXPLICIT path (immune to mixed-layout
    // discovery), bucket, stage, move in under the mig- prefix
    val rows = withGen(s.read.parquet(flats.map(_.getPath): _*))
      .withColumn("tbucket",
        pmod(xxhash64($"doc_id"), lit(TombBuckets.toLong)).cast("int"))
    val stage = indexDir + "_stage_tombmig"
    rows.repartition(col("tbucket")).write.options(LocalFs.WriteOptions)
      .partitionBy("tbucket")
      .mode("overwrite").parquet(stage)
    val base = new java.io.File(indexDir, "tombstones")
    Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("tbucket="))
      .foreach { d =>
        val dest = new java.io.File(base, d.getName)
        dest.mkdirs()
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .foreach { f =>
            java.nio.file.Files.move(f.toPath,
              new java.io.File(dest, "mig-" + f.getName).toPath)
          }
      }
    graft.sources.LakeIO.rmDir(stage)
    val tmp = new java.io.File(indexDir, s".$MigMarker.tmp")
    java.nio.file.Files.write(tmp.toPath,
      flats.map(f => "tombstones/" + f.getName)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    tmp.renameTo(marker) // commit point: flats now redundant
    flats.foreach { f => f.delete(); () }
    // same rule as roll-forward: marker falls only when every flat is
    // confirmed gone; a survivor keeps the marker so the next entry
    // retries the deletes instead of rolling back the committed
    // generation and losing the deleted flats' rows
    if (flats.forall(!_.exists())) { marker.delete(); () }
    ()
  }

  /** Live tombstone rows (empty-schema-safe before any delete and after
    * a purging compaction cleared the layout). Reads the pre-migration
    * FLAT layout too — read paths stay read-only, so a flat-era index
    * keeps serving until its next write entry point migrates it; in the
    * mid-crash window (flats + a partial `mig-` generation both on
    * disk) the unmarked flats are authoritative and the partial
    * generation is excluded, so nothing double-counts.
    */
  def readTombstones(s: SparkSession, indexDir: String): DataFrame = {
    val marker = new java.io.File(indexDir, MigMarker)
    val redundant: Set[String] =
      if (!marker.exists()) Set.empty
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(marker.toPath).asScala
          .filter(_.nonEmpty).map(r => new java.io.File(indexDir, r).getName)
          .toSet
      }
    val flats = flatTombFiles(indexDir).filterNot(f => redundant(f.getName))
    val bucketed0 = bucketedTombFiles(indexDir)
    val bucketed =
      if (flats.isEmpty) bucketed0
      else bucketed0.filterNot(_.getName.startsWith("mig-"))
    (flats.nonEmpty, bucketed.nonEmpty) match {
      case (false, false) =>
        import org.apache.spark.sql.types._
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("doc_id", LongType),
            StructField("text", StringType), StructField("gen", LongType))))
      case (false, true) => BatchLedgerIndex.read(s, indexDir, Tombstones)
      case (true, false) => withGen(s.read.parquet(flats.map(_.getPath): _*))
      case (true, true) =>
        withGen(s.read.parquet(flats.map(_.getPath): _*))
          .unionByName(s.read.parquet(bucketed.map(_.getPath): _*),
            allowMissingColumns = true)
    }
  }

  /** The postings bucket fan-out this index was built (or last
    * re-bucketed) at — the `_graft_buckets` descriptor, defaulting to
    * the build-time constant for descriptor-less indexes.
    */
  def indexBuckets(indexDir: String): Int = {
    val f = new java.io.File(indexDir, BucketsFile)
    if (f.exists())
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toInt
    else RetrievalOps.IndexBuckets
  }

  private val BucketsFile = "_graft_buckets"

  /** Evolve the postings bucket fan-out (maintenance, stream STOPPED) —
    * production grows 64 → 64k as the corpus grows, and a manual rebuild
    * at the new fan-out would re-tokenize the corpus for nothing: bucket
    * is a pure function of term, so re-bucketing is ONE distributed
    * re-cluster of the existing posting rows, run as a new generation
    * through the two-phase compaction machinery. The `_graft_buckets`
    * descriptor flips atomically WITH the layout (phase-2 `meta:` line:
    * a crash either rolls the new generation back — old fan-out, old
    * descriptor — or forward — new fan-out, descriptor re-applied), so
    * a probe can never prune against the wrong modulus. Ledger ids
    * survive, so committed replays stay no-ops; subsequent appends read
    * the descriptor and bucket at the new fan-out.
    */
  def rebucket(s: SparkSession, indexDir: String, newBuckets: Int): (Int, Int) = {
    migrateFlatTombstones(s, indexDir)
    BatchLedgerIndex.compactWith(s, indexDir, Ledger, AllLayouts, { live =>
      live.get(Postings.sub) match {
        case None => Map.empty
        case Some(p) => Map(Postings.sub -> Some(
          p.withColumn("bucket",
            pmod(xxhash64($"term"), lit(newBuckets.toLong)).cast("int"))))
      }
    }, metaOnCommit = Seq(BucketsFile -> newBuckets.toString))
  }

  /** Serve BM25 top-10 from the lake-following index: frozen postings,
    * summed stats, generation-aware tombstones applied at probe time.
    * (An [[indexBatch]]-maintained dir has no gen column and no
    * tombstones — it serves through the plain probe.)
    */
  def bm25TopK(s: SparkSession, indexDir: String,
      terms: Seq[String] = RetrievalOps.QueryTerms, k: Int = 10): DataFrame = {
    val (p, st) = readIndex(s, indexDir)
    val b = indexBuckets(indexDir)
    if (p.columns.contains("gen"))
      RetrievalOps.bm25TopKTombstonedGen(p, st, readTombstones(s, indexDir),
        terms, k, b)
    else RetrievalOps.bm25TopKFromIndex(p, st, terms, k, b)
  }
}
