package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.LocalFs

/** STREAMING ANN index maintenance — the continuous form of the r11
  * incremental-IVF invariant: embedding batches arrive on a stream, each
  * micro-batch is assigned against the FROZEN centroids (a map-only pure
  * function) and appended into the cell-partitioned index directory, so
  * at every micro-batch boundary the index is row-identical to a full
  * rebuild over everything ingested so far. No retrain, no rebuild, no
  * rewrite of existing cells' files; centroid retraining is an explicit
  * new-index-generation event, never a streaming side effect.
  *
  * Exactly-once replay handling, orphan recovery and compaction are the
  * generic [[BatchLedgerIndex]] contract (this was its first instance;
  * [[StreamingPostings]] is the inverted-index sibling) — see that file
  * for the ledger/commit-point/orphan rules and the 100 TB shape.
  */
object StreamingAnn {

  private val Ledger = "_graft_ann_batches"
  private val Cells = BatchLedgerIndex.Layout("", Some("cell"))

  /** Assign one embedding micro-batch (`vec_id`, `embedding`) to the
    * frozen `centroids` and append it to the index at `indexDir`,
    * idempotently under batch-id replay. The foreachBatch sink body.
    */
  def indexBatch(centroids: DataFrame, indexDir: String)
      (batch: DataFrame, batchId: Long): Unit =
    BatchLedgerIndex.appendBatch(indexDir, Ledger,
      Seq(Cells -> Similarity.ivfAssign(batch, centroids)), batchId)

  /** Run the maintenance stream: `stream` is a streaming DataFrame of
    * (vec_id, embedding). Returns the started query.
    */
  def start(stream: DataFrame, centroids: DataFrame, indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        indexBatch(centroids, indexDir)(batch, id)
      }
      .start()

  /** The live index (vec_id → cell), for [[Similarity.ivfTopKOverCells]]. */
  def readIndex(s: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame =
    BatchLedgerIndex.read(s, indexDir, Cells)
      .withColumn("cell", col("cell").cast("long"))

  /** Compact the index (maintenance, stream STOPPED): fold all committed
    * batches into a `c<gen>-` generation per cell. Returns
    * (filesBefore, filesAfter).
    */
  def compactIndex(s: org.apache.spark.sql.SparkSession, indexDir: String): (Int, Int) =
    BatchLedgerIndex.compact(s, indexDir, Ledger, Seq(Cells))

  /** [[compactIndex]] that also PURGES deleted vectors: the fold
    * anti-joins the cells rows against the churn-sized deleted-id set
    * (the lake change feed's deletes — the same feed
    * `similarity_ivf_tombstoned` corrects with at probe time), so the
    * folded generation holds only live codes and probes stop paying the
    * per-query exclusion. Assignment is a pure function of (row, frozen
    * centroids), so purge ≡ rebuild-over-live, certified in
    * StreamingAnnSpec against a fresh assignment of the live set. The
    * anti-join is a distributed plan re-clustered by cell — nothing
    * corpus-sized crosses one task.
    */
  def compactIndexPurging(s: org.apache.spark.sql.SparkSession,
      indexDir: String, deletedIds: DataFrame): (Int, Int) =
    BatchLedgerIndex.compactWith(s, indexDir, Ledger, Seq(Cells), { live =>
      live.get(Cells.sub) match {
        case None => Map.empty
        case Some(cells) => Map(Cells.sub -> Some(
          cells.join(deletedIds.select(col("vec_id")).distinct(),
            Seq("vec_id"), "left_anti")))
      }
    })

  // ------------------------------------------------------------------
  // Lake-FOLLOWING ANN index — StreamingPostings.followLake's dense
  // sibling: one maintenance stream over the embeddings lake's change
  // feed keeps a SELF-CONTAINED serving index consistent with every
  // table mutation. Layouts (subdirs, unlike the plain root-layout
  // stream — the tombstone layout must not collide with partition
  // discovery over the cells dirs):
  //   cells/cell=C/…          (vec_id, embedding, cell, gen) — the
  //                           VECTOR is denormalized into the index row
  //                           (the postings dl move): serving never
  //                           joins back to the base table
  //   tombstones/tbucket=B/…  (vec_id, gen) — id-only (ANN has no
  //                           token-mass correction), hash-bucketed
  // Netting, generation semantics, exactly-once ledgering and the
  // purge contract are the StreamingPostings rules verbatim; serving
  // is [[graft.operators.Similarity.ivfTopKFromFollowIndex]].
  // ------------------------------------------------------------------

  private val FollowCells = BatchLedgerIndex.Layout("cells", Some("cell"))
  private val FollowTombs = BatchLedgerIndex.Layout("tombstones", Some("tbucket"))
  private val FollowLayouts = Seq(FollowCells, FollowTombs)
  private val TombBuckets = 32

  /** Run the lake-following maintenance stream: `changes` is a
    * `graft-lake-cdf` streaming frame over an embeddings table
    * (vec_id, embedding, …). Inserts assign against the FROZEN
    * `centroids`; deletes land as id tombstones; in-batch insert/delete
    * pairs net to nothing first (the catch-up rule).
    */
  def followLake(changes: DataFrame, centroids: DataFrame, indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val keyCols = batch.columns
          .filterNot(Set("change", "_commit_version")).map(col).toSeq
        val net = batch
          .withColumn("__w",
            org.apache.spark.sql.functions
              .when(col("change") === "insert", 1L).otherwise(-1L))
          .groupBy(keyCols: _*)
          .agg(org.apache.spark.sql.functions.sum(col("__w")).as("__net"))
        val ins = net.where(col("__net") > 0L).select(col("vec_id"), col("embedding"))
        val del = net.where(col("__net") < 0L)
          .select(col("vec_id"), lit(id).as("gen"),
            pmod(xxhash64(col("vec_id")), lit(TombBuckets.toLong)).cast("int")
              .as("tbucket"))
        val assigned = Similarity.ivfAssign(ins, centroids)
          .join(ins, Seq("vec_id"))
          .select(col("vec_id"), col("embedding"), col("cell"), lit(id).as("gen"))
        BatchLedgerIndex.appendBatch(indexDir, Ledger, Seq(
          FollowTombs -> del,
          FollowCells -> assigned), id, recoverAll = FollowLayouts)
      }
      .start()

  /** [[followLake]]'s IVF-PQ variant — the composed 100 TB serving
    * index maintained as a stream: each netted insert batch is
    * PQ-ENCODED against the frozen `codebook` (codes + true norm) AND
    * assigned against the frozen `centroids`, with the raw vector
    * denormalized alongside for the exact re-rank, so serving
    * ([[graft.operators.Similarity.ivfPqTopKFromFollowIndex]]) ranks
    * ADC-over-codes and touches floats only for the shortlist — all
    * index-local. Encode and assignment are pure per-row functions of
    * frozen artifacts, so the streamed index is row-identical to a full
    * re-encode (the incremental-IVF invariant); tombstones, netting,
    * ledgering and purge ([[compactFollow]] — layout names are shared)
    * are the followLake rules verbatim.
    */
  def followLakePq(changes: DataFrame, centroids: DataFrame,
      codebook: DataFrame, indexDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val keyCols = batch.columns
          .filterNot(Set("change", "_commit_version")).map(col).toSeq
        val net = batch
          .withColumn("__w",
            org.apache.spark.sql.functions
              .when(col("change") === "insert", 1L).otherwise(-1L))
          .groupBy(keyCols: _*)
          .agg(org.apache.spark.sql.functions.sum(col("__w")).as("__net"))
        val ins = net.where(col("__net") > 0L).select(col("vec_id"), col("embedding"))
        val del = net.where(col("__net") < 0L)
          .select(col("vec_id"), lit(id).as("gen"),
            pmod(xxhash64(col("vec_id")), lit(TombBuckets.toLong)).cast("int")
              .as("tbucket"))
        val encoded = Similarity.ivfAssign(ins, centroids)
          .join(ins, Seq("vec_id"))
          .join(Similarity.pqEncode(ins, codebook), Seq("vec_id"))
          .select(col("vec_id"), col("embedding"), col("nrm"), col("codes"),
            col("cell"), lit(id).as("gen"))
        BatchLedgerIndex.appendBatch(indexDir, Ledger, Seq(
          FollowTombs -> del,
          FollowCells -> encoded), id, recoverAll = FollowLayouts)
      }
      .start()

  /** The live (cells, tombstones) pair for
    * [[graft.operators.Similarity.ivfTopKFromFollowIndex]];
    * tombstones are empty-schema-safe before any delete / after a purge.
    */
  def readFollowIndex(s: org.apache.spark.sql.SparkSession,
      indexDir: String): (DataFrame, DataFrame) = {
    val cells = BatchLedgerIndex.read(s, indexDir, FollowCells)
    val base = new java.io.File(indexDir, "tombstones")
    val hasParquet = base.isDirectory &&
      Option(base.listFiles()).getOrElse(Array.empty).exists(d =>
        d.isDirectory && Option(d.listFiles()).getOrElse(Array.empty)
          .exists(f => f.isFile && f.getName.endsWith(".parquet")))
    val tombs =
      if (hasParquet) BatchLedgerIndex.read(s, indexDir, FollowTombs)
      else emptyTombstones(s)
    (cells, tombs)
  }

  /** The no-deletes tombstone frame ((vec_id, gen), zero rows) — what a
    * frozen index and a pre-first-delete follow index both serve against.
    */
  def emptyTombstones(s: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("gen", LongType))))
  }

  /** Publish the frozen centroid artifact INTO the index dir (CREATE ANN
    * INDEX writes it; a Scala-maintained follow index calls this once to
    * become SQL-servable) — serving reads centroids from the index, so
    * the dir stays self-contained.
    */
  def writeCentroids(indexDir: String, centroids: DataFrame): Unit =
    centroids.coalesce(1).write.options(LocalFs.WriteOptions).mode("overwrite")
      .parquet(indexDir + "/centroids")

  /** ANN top-k served from an index DIRECTORY — the SQL statement's
    * dispatch ([[graft.plans.GraftAnnCommand]]), mirroring
    * [[StreamingPostings.bm25TopK]] for the sparse sibling: a ledgered
    * lake-following index (gen-stamped cells + id tombstones) serves
    * tombstone-corrected; a frozen `CREATE ANN INDEX` layout (gen=0, no
    * tombstones) serves the direct probe — ONE serving implementation
    * ([[Similarity.ivfTopKFromFollowIndex]]), two maintenance styles.
    * Query vectors are looked up from the LIVE index rows (`firstN` =
    * all vec_id < n, the batch probe; `queryId` = one id), so serving
    * never touches the base table. Cost: O(probed cells' rows).
    */
  def annTopK(s: org.apache.spark.sql.SparkSession, indexDir: String,
      firstN: Option[Int], queryId: Option[Long], k: Int = 10,
      nprobe: Int = 2, queryVec: Option[Seq[Float]] = None): DataFrame = {
    require(new java.io.File(indexDir, "centroids").isDirectory,
      s"ANN INDEX '$indexDir': no centroids/ artifact — not a servable " +
        "ANN index (CREATE ANN INDEX writes it; for a Scala-maintained " +
        "follow index run StreamingAnn.writeCentroids once)")
    val cents = s.read.parquet(indexDir + "/centroids")
    val (cells, tombs) =
      if (new java.io.File(indexDir, Ledger).exists())
        readFollowIndex(s, indexDir)
      else (s.read.parquet(indexDir + "/cells"), emptyTombstones(s))
    val t = tombs.select(col("vec_id").as("t_id"), col("gen").as("t_gen"))
    val live = cells.join(broadcast(t),
      cells("vec_id") === t("t_id") && cells("gen") < t("t_gen"), "left_anti")
    val queries = (firstN, queryId, queryVec) match {
      case (Some(n), _, _)  =>
        live.where(col("vec_id") < n).select(col("vec_id"), col("embedding"))
      case (_, Some(id), _) =>
        live.where(col("vec_id") === id).select(col("vec_id"), col("embedding"))
      case (_, _, Some(v))  =>
        // the embed-the-query serving shape: the probe vector arrives
        // raw, not as an indexed id; q_id is the -1 sentinel, and the
        // self-exclusion predicate never fires (no corpus row is -1)
        import s.implicits._
        Seq((-1L, v)).toDF("vec_id", "embedding")
      case _ => throw new IllegalArgumentException(
        "ANN INDEX QUERY: give FIRST <n>, ID <id> or VEC '<floats>'")
    }
    Similarity.ivfTopKFromFollowIndex(queries, cents, cells, tombs,
      k = k, nprobe = nprobe)
  }

  /** Purging compaction for the lake-following index (maintenance,
    * stream STOPPED): apply the tombstones during the fold — drop every
    * cell row a tombstone kills (gen-aware, same predicate serving
    * applies) and clear the tombstone layout. Post-purge the index holds
    * exactly the live vectors and probes pay zero exclusion cost.
    */
  def compactFollow(s: org.apache.spark.sql.SparkSession,
      indexDir: String): (Int, Int) =
    BatchLedgerIndex.compactWith(s, indexDir, Ledger, FollowLayouts, { live =>
      live.get(FollowTombs.sub) match {
        case None => Map.empty
        case Some(tombs) =>
          // delete-only histories leave the cells layout file-less —
          // fold only what is present; the tombstones still drop
          val t = tombs.select(col("vec_id").as("t_id"), col("gen").as("t_gen"))
          live.get(FollowCells.sub).map(cells => FollowCells.sub -> Some(
            cells.join(t,
              cells("vec_id") === t("t_id") && cells("gen") < t("t_gen"),
              "left_anti"))).toMap +
            (FollowTombs.sub -> None)
      }
    })
}
