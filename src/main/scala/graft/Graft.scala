package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, to_timestamp}

import graft.operators.{CorpusOps, CurationOps, Dedup, RetrievalOps, Similarity, TemporalJoins, TextOps}
import graft.sources.LakeIO
import graft.streaming.{StreamingDedup, WeatherPipeline}

/** Public facade of the engine — the API a user of the reference pipeline
  * programs against after switching to this library. Everything is
  * DataFrame-in/DataFrame-out; the keyed driver queries in [[SparkEntry]]
  * are thin wrappers over these.
  *
  * {{{
  * import graft.Graft
  * Graft.install(spark)                       // DV rule, as-of join, vector_dot
  * Graft.lake.write(events, "/lake/events")   // hour-partitioned ZSTD
  * Graft.lake.read(spark, "/lake/events")     // hidden hour(ts) pruning
  * Graft.dedup.nearDups(corpus, 0.8)          // MinHash+LSH near-dups
  * Graft.similarity.topK(embeddings, 5, 10)   // cosine top-k
  * }}}
  */
object Graft {

  /** Install the engine's Catalyst extensions into an existing session
    * (or set `spark.sql.extensions=graft.plans.GraftExtensions`).
    */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(graft.plans.ApplyDeletionVectors))
      spark.experimental.extraOptimizations =
        graft.plans.ApplyDeletionVectors +: spark.experimental.extraOptimizations
    graft.plans.AsOfJoinStrategy.install(spark)
    org.apache.spark.sql.GraftBridge.registerFunction(spark, "vector_dot",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.VectorDot].getName, "vector_dot"),
      children => graft.functions.VectorDot(children.head, children(1)))
  }

  /** The SCALE.md cluster profile as code: apply to a builder for a
    * large-cluster deployment (values sized for ~4000 cores / 100 TB;
    * see SCALE.md for the derivation).
    */
  def clusterDefaults(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "8000")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", "256m")
    .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    .config("spark.sql.parquet.compression.codec", "zstd")
    .config("spark.sql.session.timeZone", "UTC")

  object lake {
    /** Hour-partitioned ZSTD parquet write (expects a `ts` column). */
    def write(df: DataFrame, path: String): Unit = LakeIO.writeLake(df, path)
    /** The lake's live rows (the current snapshot's manifest decides
      * which files are read). Raw `ts` predicates prune hour partitions
      * at the source (`GraftLakeSource`), no session rule needed.
      */
    def read(spark: SparkSession, path: String): DataFrame =
      spark.read.format("graft-lake").load(path)
    /** `[startTs, endTs)` range read: [[read]] filtered on `ts`. */
    def scan(spark: SparkSession, path: String, startTs: String, endTs: String): DataFrame =
      read(spark, path).where(col("ts") >= to_timestamp(lit(startTs)) &&
        col("ts") < to_timestamp(lit(endTs)))
    /** Schema-evolving append: new nullable columns widen the table
      * metadata; [[read]] gets the union without a mergeSchema sweep.
      */
    def evolveAppend(df: DataFrame, path: String): Unit =
      LakeIO.evolveAppend(df, path)
    /** Time travel: read the lake as of a committed snapshot version
      * (frozen manifest + frozen schema; appends never delete files).
      */
    def readSnapshot(spark: SparkSession, path: String, version: Int): DataFrame =
      spark.read.format("graft-lake")
        .option("versionAsOf", version.toString).load(path)
    /** Copy-on-write MERGE (keyed upsert): rewrites only the partitions
      * the updates touch; earlier snapshots stay readable.
      */
    def merge(spark: SparkSession, path: String, updates: DataFrame, key: String): Unit =
      LakeIO.mergeInto(spark, path, updates, key)
    /** Copy-on-write DELETE of rows matching `cond`. */
    def delete(spark: SparkSession, path: String, cond: Column): Unit =
      LakeIO.deleteWhere(spark, path, cond)
    /** MERGE-ON-READ delete: record matching positions in a deletion
      * vector instead of rewriting files — the GDPR-delete shape at
      * 100 TB. Apply with [[readMoR]]; fold with [[compactDeletes]].
      */
    def deleteMoR(spark: SparkSession, path: String, cond: Column): Long =
      LakeIO.deleteWhereMoR(spark, path, cond)
    /** DV-aware read: live files minus every deletion vector's positions. */
    def readMoR(spark: SparkSession, path: String): DataFrame =
      LakeIO.readMoR(spark, path)
    /** Fold live deletion vectors into a real partition rewrite. */
    def compactDeletes(spark: SparkSession, path: String): Long =
      LakeIO.compactDeletes(spark, path)
    /** Multi-writer-safe append: optimistic delta commit, rebases over
      * concurrent commits, no lost update. Returns the version.
      */
    def append(df: DataFrame, path: String): Int = LakeIO.appendTxn(df, path)
    /** Pin a snapshot under an immutable name; read with
      * `versionAsOf = name` or SQL `VERSION AS OF 'name'`. Tagged
      * snapshots survive expiration.
      */
    def tag(path: String, name: String, version: Option[Int] = None): Int =
      LakeIO.tagSnapshot(path, name, version)
    /** Write-audit-publish: stage an invisible append… */
    def stageAppend(df: DataFrame, path: String, stageId: String): Unit =
      LakeIO.stageAppend(df, path, stageId)
    /** …audit the exact post-publish table state… */
    def auditStaged(spark: SparkSession, path: String, stageId: String): DataFrame =
      LakeIO.auditStaged(spark, path, stageId)
    /** …and publish (OCC delta, rebases over mid-audit commits)… */
    def publishStaged(path: String, stageId: String): Int =
      LakeIO.publishStaged(path, stageId)
    /** …or abandon it without a trace. */
    def dropStaged(path: String, stageId: String): Unit =
      LakeIO.dropStagedAppend(path, stageId)
    /** Branch staging (multi-commit WAP): appends accumulate invisibly
      * under a name…
      */
    def appendToBranch(df: DataFrame, path: String, name: String): Int =
      LakeIO.appendToBranch(df, path, name)
    /** …read as one state (base + every branch append)… */
    def readBranch(spark: SparkSession, path: String, name: String): DataFrame =
      LakeIO.readBranch(spark, path, name)
    /** …published as ONE squashed commit rebased over main… */
    def publishBranch(path: String, name: String): Int =
      LakeIO.publishBranch(path, name)
    /** …or dropped without a trace. */
    def dropBranch(path: String, name: String): Unit =
      LakeIO.dropBranch(path, name)
    /** Additive schema evolution without data: commit the widened schema
      * as a new snapshot; old files read the new columns as null.
      */
    def evolveSchema(path: String,
        added: Seq[org.apache.spark.sql.types.StructField]): Int =
      LakeIO.evolveSchema(path, added)
    /** Logical DROP COLUMN: schema-only snapshot, no rewrite; the name is
      * tombstoned so a later re-ADD can't resurrect old data.
      */
    def dropColumn(path: String, name: String): Int =
      LakeIO.dropColumnSchema(path, name)
    /** MERGE-ON-READ upsert: matched positions DV out, the batch appends,
      * ONE atomic commit — no file rewritten (the CDC-apply shape).
      */
    def mergeMoR(spark: SparkSession, path: String, updates: DataFrame,
        key: String): Long =
      LakeIO.mergeIntoMoR(spark, path, updates, key)
    /** MERGE-ON-READ UPDATE: matched rows DV out and their updated images
      * (RHS against the OLD row) append — one atomic commit.
      */
    def updateMoR(spark: SparkSession, path: String, cond: Column,
        sets: Seq[(String, Column)]): Long =
      LakeIO.updateWhereMoR(spark, path, cond, sets)
    /** Build a per-file Bloom membership index on a high-cardinality
      * column (where min/max bounds never skip).
      */
    def bloomIndex(spark: SparkSession, path: String, column: String): Long =
      graft.sources.BloomIndex.attach(spark, path, column)
    /** Point lookup through the Bloom index (Long or String value):
      * scans only sketch-admitted files; unindexed files always scan
      * (staleness-safe).
      */
    def pointLookup(spark: SparkSession, path: String, column: String,
        value: Any): DataFrame =
      graft.sources.BloomIndex.pointScan(spark, path, column, value)
    /** Incremental (CDC) read: rows added between two snapshots, planned
      * from the manifest diff alone.
      */
    def readIncrement(spark: SparkSession, path: String, fromV: Int, toV: Int): DataFrame =
      LakeIO.readIncrement(spark, path, fromV, toV)
    /** Expire all but the last `keepLast` snapshots and vacuum data files
      * no surviving snapshot references. Returns deleted-file count.
      */
    def expireSnapshots(path: String, keepLast: Int): Int =
      org.apache.spark.sql.graft.ManifestFileIndex.expireSnapshots(path, keepLast)
    /** Snapshot-safe compaction ([[LakeIO.compactSnapshots]]): rewrite
      * fragmented partitions as single files in a new snapshot; earlier
      * snapshots stay readable.
      */
    def compact(spark: SparkSession, path: String): Unit =
      LakeIO.compactSnapshots(spark, path)
    /** Snapshot-safe OPTIMIZE ZORDER: rewrite partitions clustered on the
      * Morton curve of two columns so per-file manifest bounds tighten and
      * predicates on either column skip whole files at planning.
      */
    def optimizeZOrder(spark: SparkSession, path: String, colA: String, colB: String,
        filesPerPartition: Int = 4): Unit =
      LakeIO.optimizeZOrder(spark, path, colA, colB, filesPerPartition)
    /** Idempotent streaming append: replaying the same `batchId` (the
      * foreachBatch at-least-once contract) is a no-op — the commit
      * manifest is the ledger. `batch` must carry `ts_hour`.
      */
    def appendExactlyOnce(path: String, batch: DataFrame, batchId: Long): Unit =
      LakeIO.appendExactlyOnce(path, batch, batchId)
    /** Row-level changefeed between two snapshots: `change` ∈
      * insert|delete; updates replay as delete(old)+insert(new).
      */
    def readChanges(spark: SparkSession, path: String, fromV: Int, toV: Int): DataFrame =
      LakeIO.readChanges(spark, path, fromV, toV)
    /** Incrementally refresh per-hour aggregate state from the snapshot
      * diff — merge(agg(v₁), agg(Δ)) == agg(v₂) exactly.
      */
    def refreshHourlyAgg(spark: SparkSession, path: String, prior: DataFrame,
        fromV: Int, toV: Int): DataFrame =
      LakeIO.refreshHourlyAgg(spark, path, prior, fromV, toV)
    /** CDC-aware refresh: exact across updates/deletes — count/sum invert
      * through the changefeed; max/min recompute only extreme-touched
      * hours (DPP-pruned partition reads).
      */
    def refreshHourlyAggCDC(spark: SparkSession, path: String, prior: DataFrame,
        fromV: Int, toV: Int): DataFrame =
      LakeIO.refreshHourlyAggCDC(spark, path, prior, fromV, toV)
    /** Build (or incrementally refresh) the hourly materialized view of a
      * lake table and register it for TRANSPARENT rewrite: install
      * [[graft.plans.MaterializedViewRewrite]] and matching base-table
      * aggregates are answered from the hours-sized MV while it is
      * snapshot-fresh.
      */
    def materializeHourly(spark: SparkSession, path: String): Unit = {
      graft.plans.Mv.ensureHourly(spark, path)
      graft.plans.MaterializedViewRewrite.install(spark)
    }
    /** Attach `warehouse/<ns>/<table>` lake dirs as a SQL catalog:
      * `SELECT … FROM <name>.<ns>.<table> [VERSION|TIMESTAMP AS OF …]`.
      */
    def attachCatalog(spark: SparkSession, name: String, warehouse: String): Unit = {
      spark.conf.set(s"spark.sql.catalog.$name",
        "org.apache.spark.sql.graft.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    }
  }

  object corpus {
    /** Exact incremental dedup of `batch` against `existing` (both carry
      * an `fp` fingerprint column): bloom prefilter, anti-join only for
      * might-contain candidates.
      */
    def incrementalDedup(batch: DataFrame, existing: DataFrame,
        expectedCorpusSize: Long): DataFrame =
      CorpusOps.incrementalDedup(batch, existing, expectedCorpusSize)
    /** Deterministic 256-bucket content hash ('00'..'ff') for
      * reproducible splits/sampling.
      */
    def hashBucket(id: Column): Column = CorpusOps.hashBucket(id)
    /** Native bloom-filter aggregate (scalar-subquery-able sketch). */
    def bloomAgg(c: Column, expectedItems: Long): Column =
      CorpusOps.bloomAgg(c, expectedItems)
    /** Mergeable KMV distinct-count sketch aggregate. */
    def kmvDistinct(c: Column, k: Int = 1024): Column =
      graft.functions.KmvSketch.kmvDistinct(c, k)
    /** Token-window chunking (window tokens per chunk, stride apart) of a
      * (doc_id, text) table — map-only, no shuffle.
      */
    def chunkTokens(docs: DataFrame, window: Int = 64, stride: Int = 48): DataFrame =
      CorpusOps.chunkTokens(docs, window, stride)
  }

  object dedup {
    /** Exact near-duplicate pairs (jaccard ≥ threshold) over a
      * (doc_id, text) corpus — MinHash+LSH candidates, exact verify.
      */
    def nearDups(corpus: DataFrame, threshold: Double): DataFrame =
      Dedup.nearDupPairs(corpus, threshold)
    /** Per-doc winnowing sketch column (rolling-hash fingerprint). */
    def winnowSketch(text: Column): Column = TextOps.winnowSketch(text)
    /** Transitive near-dup clustering over a (doc_id, text) corpus:
      * portable md5-MinHash LSH candidates, exact-Jaccard verify,
      * distributed connected components → (doc_id, cluster_id,
      * cluster_size); keep `doc_id == cluster_id` rows to dedup.
      */
    def cluster(corpus: DataFrame, threshold: Double): DataFrame =
      Dedup.clusterDocs(corpus, threshold)
    /** Connected components of an undirected (src, dst) edge list. */
    def connectedComponents(edges: DataFrame): DataFrame =
      Dedup.connectedComponents(edges)
  }

  object similarity {
    /** Exact cosine top-k of every vector against the query set
      * (vec_id < numQueries) over a (vec_id, embedding) table.
      */
    def topK(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame =
      Similarity.bruteForceTopK(embeddings, numQueries, k)
    /** LSH-bucketed approximate variant (the scale path). */
    def annTopK(embeddings: DataFrame, numQueries: Int, k: Int, numPlanes: Int = 4): DataFrame =
      Similarity.annTopK(embeddings, numQueries, k, numPlanes)
    /** Embedding near-dup pairs at a cosine threshold. */
    def cosineDedup(embeddings: DataFrame, threshold: Double): DataFrame =
      Similarity.cosineDedup(embeddings, threshold, 4)
    /** Codegen'd dot product over two array<double> columns. */
    def dot(a: Column, b: Column): Column = Similarity.dot(a, b)
    /** Per-vector absmax int8 quantization (integer-valued doubles). */
    def quantizeInt8(embedding: Column): Column = Similarity.quantizeInt8(embedding)
    /** Exact top-k under the quantized metric — the 4×-smaller search
      * tier; rank agreement with the float metric is spec-measured.
      */
    def quantizedTopK(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame =
      Similarity.quantizedTopK(embeddings, numQueries, k)
    /** Distributed spherical k-means (deterministic at any parallelism):
      * (vec_id, embedding) → per-dimension centroid rows — the IVF
      * training step.
      */
    def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame =
      Similarity.kmeansFit(embeddings, k, iters)
    /** Product-quantization codebook: per-subspace L2 k-means,
      * parallelism-invariant (the PQ training step).
      */
    def pqTrain(embeddings: DataFrame, m: Int = 4, k: Int = 16,
        iters: Int = 2): DataFrame = Similarity.pqTrain(embeddings, m, k, iters)
    /** Map-only PQ encode: vectors → (codes, true norm). */
    def pqEncode(embeddings: DataFrame, codebook: DataFrame): DataFrame =
      Similarity.pqEncode(embeddings, codebook)
    /** ADC search over codes + exact re-rank of the shortlist. */
    def pqTopK(embeddings: DataFrame, codebook: DataFrame,
        numQueries: Int, k: Int, rerank: Int = 4): DataFrame =
      Similarity.pqTopK(embeddings, codebook, numQueries, k, rerank)
    /** Map-only IVF cell assignment over trained centroids (index build). */
    def ivfAssign(embeddings: DataFrame, centroids: DataFrame): DataFrame =
      Similarity.ivfAssign(embeddings, centroids)
    /** IVF-PQ composed serving index (FAISS IVFADC shape): nprobe cells ×
      * PQ-ADC code ranking × exact shortlist re-rank, all from frozen
      * build artifacts.
      */
    def ivfPqTopK(embeddings: DataFrame, centroids: DataFrame,
        cells: DataFrame, codes: DataFrame, codebook: DataFrame,
        numQueries: Int, k: Int, nprobe: Int = 2, rerank: Int = 4): DataFrame =
      Similarity.ivfPqTopK(embeddings, centroids, cells, codes, codebook,
        numQueries, k, nprobe, rerank)
    /** Self-contained probe of a lake-following ANN index
      * ([[Graft.retrieval]]'s `streamingAnn.followLake` maintains it):
      * index rows carry the vector, tombstones apply generation-aware —
      * no base-table join at query time.
      */
    def ivfTopKFromFollowIndex(queries: DataFrame, centroids: DataFrame,
        index: DataFrame, tombstones: DataFrame, k: Int = 10,
        nprobe: Int = 2): DataFrame =
      Similarity.ivfTopKFromFollowIndex(queries, centroids, index,
        tombstones, k, nprobe)
  }

  object text {
    /** Winnowing sketch column (see dedup.winnowSketch). */
    def winnowSketch(text: Column): Column = TextOps.winnowSketch(text)
    /** English stopword list used by the language-ID heuristic. */
    def stopwords: Seq[String] = TextOps.Stopwords
  }

  object retrieval {
    /** Build (or append a batch to) the bucketed inverted-index layout
      * at `dir`: postings partitioned by term-hash bucket (dl
      * denormalized per posting) + one corpus-stats row per batch.
      */
    def buildIndex(dir: String, corpus: DataFrame,
        mode: String = "overwrite"): Unit =
      RetrievalOps.writeIndex(dir, corpus, mode)
    /** BM25 top-k for an arbitrary term set, served from an index built
      * at `buckets` fan-out (read the fan-out of a streaming-maintained
      * dir via `streamingPostings.indexBuckets`). SQL route:
      * `BM25 INDEX '<dir>' QUERY '<terms>' [TOP k]`.
      */
    def bm25TopK(postings: DataFrame, stats: DataFrame,
        terms: Seq[String] = RetrievalOps.QueryTerms, k: Int = 10,
        buckets: Int = RetrievalOps.IndexBuckets): DataFrame =
      RetrievalOps.bm25TopKFromIndex(postings, stats, terms, k, buckets)
    /** K queries in ONE pruned probe, a bounded heap per query. */
    def bm25Bulk(postings: DataFrame, stats: DataFrame,
        queries: Seq[(Long, Seq[String])], k: Int = 10): DataFrame =
      RetrievalOps.bm25BulkFromIndex(postings, stats, queries, k)
    /** Exact live-corpus BM25 from a STALE index + churn-sized
      * tombstones (`deletedDocs`: the change feed's deleted rows,
      * doc_id + text).
      */
    def bm25Tombstoned(postings: DataFrame, stats: DataFrame,
        deletedDocs: DataFrame): DataFrame =
      RetrievalOps.bm25TopKTombstoned(postings, stats, deletedDocs)
    /** DSIR-style importance top-k of a (doc_id, lang, text) corpus
      * against the target domain; `portableHash=false` swaps the
      * oracle-portable md5 buckets for xxhash64 (2.6× at 1M docs).
      */
    def importanceTopK(corpus: DataFrame, k: Int = 100,
        portableHash: Boolean = true): DataFrame =
      CurationOps.importanceTopK(corpus, k, portableHash)
    /** Streaming index maintenance (exactly-once micro-batch appends,
      * lake-following change-feed mode, purging compaction, bucket
      * fan-out evolution).
      */
    def streamingPostings: graft.streaming.StreamingPostings.type =
      graft.streaming.StreamingPostings
    /** The dense sibling: lake-following ANN index maintenance
      * (vector-carrying cell rows, gen-aware tombstones, purge); serve
      * via [[Graft.similarity]]'s `ivfTopKFromFollowIndex`.
      */
    def streamingAnn: graft.streaming.StreamingAnn.type =
      graft.streaming.StreamingAnn
  }

  object temporal {
    /** Distributed merge-asof (see [[TemporalJoins.asofJoin]] for the
      * union+window composition details).
      */
    def asofJoin(s: SparkSession, dir: String): DataFrame = TemporalJoins.asofJoin(s, dir)
    /** Native as-of join over arbitrary DataFrames — custom LogicalPlan/
      * Strategy/SparkPlan, single-pass sorted merge (long key + epoch-
      * micro time columns; right columns pre-renamed).
      */
    def asofJoinNative(l: DataFrame, r: DataFrame, lKey: String, rKey: String,
        lTime: String, rTime: String): DataFrame =
      graft.plans.AsOfJoin(l, r, lKey, rKey, lTime, rTime)
  }

  object streaming {
    /** The reference speed layer: parse → watermark → 5 s tumble × key →
      * avg/count → keyed upsert (see [[WeatherPipeline]]).
      */
    def weatherPipeline: WeatherPipeline.type = WeatherPipeline
    /** Stateful streaming dedup (unbounded horizon). */
    def dedup: StreamingDedup.type = StreamingDedup
    /** Continuous heavy-hitters: item-hash-sharded SpaceSaving state via
      * transformWithState; global top-k merges shard outputs query-side.
      */
    def topK(items: org.apache.spark.sql.Dataset[String], k: Int = 64,
        shards: Int = 16): org.apache.spark.sql.Dataset[graft.streaming.StreamingTopK.TopEntry] =
      graft.streaming.StreamingTopK.run(items, k, shards)
    /** Stream-static enrichment: each micro-batch joins against the lake
      * dimension re-read from its CURRENT manifest — lake merges/appends
      * become visible to the running stream without restart.
      */
    def enrichWithLake(source: DataFrame, lakePath: String, key: String)(
        sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
      WeatherPipeline.enrichWithLake(source, lakePath, key)(sink)
  }

  object serving {
    /** Long-lived dashboard HTTP server over a bounded keyed store
      * (reference visualization-server/server.js:34-110): `/api/weather`,
      * `/api/weather/latest?since=…`, `/health`, reference-shape JSON.
      * `source` is typically `() => JdbcUpsert.readBack(...)` or a
      * graft-lake read; port 0 binds an ephemeral port (`boundPort`).
      */
    def server(source: () => DataFrame, cities: Seq[String],
        refreshMs: Long = 2000L, retention: Int = 100,
        port: Int = 0): graft.serving.ServingServer =
      new graft.serving.ServingServer(source, cities, refreshMs, retention, port)
  }
}
