package org.apache.spark.sql.graft

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EndsWith, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, Hour, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetDataSourceV2, ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{IntegerType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 table for the graft lake — Iceberg-style HIDDEN hour(ts)
  * partitioning carried by the source itself (reference:
  * trino/sql/init-tables.sql:11 `partitioning = ARRAY['hour(ts)']`, where
  * Trino prunes raw-`ts` predicates because the Iceberg catalog tracks the
  * transform; here the V2 scan builder does).
  *
  * `spark.read.format("graft-lake").load(path)` is the lake's one
  * reader. It plans a V2 `BatchScan` from the snapshot manifest, which
  * alone decides which files are live (copy-on-write generations kept on
  * disk for time travel are never read at head). Its pushdown intercepts
  * the Catalyst filters: any `ts` range or `hour(ts)` equality predicate
  * is rewritten into the implied `ts_hour` predicate ([[GraftLakeSource.derive]])
  * and pushed as a PARTITION filter, so pruning happens at the source,
  * before any file is planned. At 100 TB this is the difference between
  * planning 8760 hour directories and the handful the query needs, with
  * no session configuration required.
  *
  * Everything below the boundary delegates to Spark's own V2 parquet
  * machinery (vectorized reader, column pruning, parquet data-filter
  * pushdown, aggregate pushdown) — the battle-tested fast path; this
  * source only adds the hidden-partition semantics Spark's directory
  * partitioning lacks.
  */
object GraftLakeSource {
  private val hourFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd-HH").withZone(ZoneOffset.UTC)

  private def hourLit(micros: Long): Literal = Literal.create(
    hourFmt.format(Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L))),
    StringType)

  /** The `ts_hour` predicate implied by one conjunct on `ts` (UTC
    * session, `ts_hour = date_format(ts, 'yyyy-MM-dd-HH')`):
    *  - `ts >= T` / `ts > T` → `ts_hour >= hour_str(T)` (truncation-safe)
    *  - `ts <= T` / `ts < T` → `ts_hour <= hour_str(T)`
    *  - `hour(ts) = k`       → `ts_hour` ends with `-kk`
    * in either operand order. Anything else implies nothing.
    */
  def derive(e: Expression, ts: Attribute, hr: Attribute): Option[Expression] =
    e match {
      case GreaterThanOrEqual(a: Attribute, Literal(v: Long, TimestampType))
          if a.semanticEquals(ts) => Some(GreaterThanOrEqual(hr, hourLit(v)))
      case GreaterThan(a: Attribute, Literal(v: Long, TimestampType))
          if a.semanticEquals(ts) => Some(GreaterThanOrEqual(hr, hourLit(v)))
      case LessThanOrEqual(a: Attribute, Literal(v: Long, TimestampType))
          if a.semanticEquals(ts) => Some(LessThanOrEqual(hr, hourLit(v)))
      case LessThan(a: Attribute, Literal(v: Long, TimestampType))
          if a.semanticEquals(ts) => Some(LessThanOrEqual(hr, hourLit(v)))
      // mirrored operand order
      case GreaterThanOrEqual(Literal(v: Long, TimestampType), a: Attribute)
          if a.semanticEquals(ts) => Some(LessThanOrEqual(hr, hourLit(v)))
      case LessThanOrEqual(Literal(v: Long, TimestampType), a: Attribute)
          if a.semanticEquals(ts) => Some(GreaterThanOrEqual(hr, hourLit(v)))
      case GreaterThan(Literal(v: Long, TimestampType), a: Attribute)
          if a.semanticEquals(ts) => Some(LessThanOrEqual(hr, hourLit(v)))
      case LessThan(Literal(v: Long, TimestampType), a: Attribute)
          if a.semanticEquals(ts) => Some(GreaterThanOrEqual(hr, hourLit(v)))
      case EqualTo(h: Hour, Literal(k: Int, IntegerType))
          if h.child.semanticEquals(ts) =>
        Some(EndsWith(hr, Literal.create(f"-$k%02d", StringType)))
      case EqualTo(Literal(k: Int, IntegerType), h: Hour)
          if h.child.semanticEquals(ts) =>
        Some(EndsWith(hr, Literal.create(f"-$k%02d", StringType)))
      case _ => None
    }

  /** `timestampAsOf` accepts epoch millis or a UTC timestamp string.
    * Public: the DV-application rule resolves reader options with it.
    */
  def parseCutoffMillis(raw: String): Long =
    scala.util.Try(raw.toLong).getOrElse {
      val norm = if (raw.contains("T")) raw else raw.replace(' ', 'T')
      java.time.LocalDateTime.parse(norm)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
}

class GraftLakeSource extends ParquetDataSourceV2 {
  override def shortName(): String = "graft-lake"

  /** Schema comes from the lake's `_graft_schema.json` table metadata when
    * present (write-side evolution, LakeIO.evolveAppend) — one small file
    * read instead of a footer sweep; with `versionAsOf`, from that
    * snapshot's frozen schema (a pre-evolution snapshot reads with its
    * OWN narrower schema). Falls back to parquet inference.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = getPaths(options).headOption
    // a change-feed read (changesFrom/changesTo) carries the END snapshot's
    // schema on both sides — removed-side files missing a later-added
    // column read it as null, same as the V1 schema-on-read behavior
    val version = Option(options.get("changesTo")).map(_.trim.toInt)
      .orElse(for {
        raw <- Option(options.get("versionAsOf")); p <- path
      } yield ManifestFileIndex.resolveVersionSpec(p, raw))
      .orElse(for {
        raw <- Option(options.get("timestampAsOf")); p <- path
        v <- ManifestFileIndex.versionAt(p,
          GraftLakeSource.parseCutoffMillis(raw.trim))
      } yield v)
    val fromMeta = (path, version) match {
      case (Some(p), Some(v)) => ManifestFileIndex.snapshotSchema(p, v)
      case (Some(p), None)    => graft.sources.LakeIO.tableSchema(p)
      case _                  => None
    }
    fromMeta.getOrElse(super.inferSchema(options))
  }

  override def getTable(options: CaseInsensitiveStringMap): Table =
    new GraftLakeTable(super.getTable(options).asInstanceOf[ParquetTable],
      tableVersion = for {
        raw <- Option(options.get("versionAsOf"))
        p <- getPaths(options).headOption
      } yield ManifestFileIndex.resolveVersionSpec(p, raw))

  override def getTable(options: CaseInsensitiveStringMap, schema: StructType): Table =
    new GraftLakeTable(super.getTable(options, schema).asInstanceOf[ParquetTable],
      schemaOverride = Some(schema))
}

/** Wraps the V2 ParquetTable, swapping in the hidden-partition scan
  * builder. When the lake carries commit metadata (`_graft_manifest.tsv`
  * + `_graft_schema.json`, written by LakeIO's writers), BOTH planning
  * inputs come from metadata — schema from the table-metadata file and
  * the file list from a [[ManifestFileIndex]] — so constructing and
  * scanning the table does ZERO filesystem listing and ZERO footer
  * reads. Without metadata it degrades to the inner ParquetTable's
  * standard inference.
  */
class GraftLakeTable(inner: ParquetTable,
    schemaOverride: Option[StructType] = None,
    // a catalog `VERSION AS OF` load pins the version at TABLE level —
    // scan-time reader options (DataFrameReader .option) still override
    tableVersion: Option[Int] = None) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private val rootDir: Option[String] = inner.paths.headOption
  /** Table root on disk — the identity the MV-rewrite rule keys on. */
  def lakeRoot: Option[String] = rootDir
  /** Catalog-level `VERSION AS OF` pin, if any (MV rewrite must skip). */
  def pinnedTableVersion: Option[Int] = tableVersion
  private lazy val manifest = rootDir.flatMap(ManifestFileIndex.read(_))
  private lazy val metaSchema =
    schemaOverride
      // a catalog-level VERSION AS OF pin reads with that snapshot's
      // FROZEN schema — a pre-evolution snapshot must not grow columns
      // added later (they'd read as all-null phantoms)
      .orElse(for {
        p <- rootDir; v <- tableVersion
        s <- ManifestFileIndex.snapshotSchema(p, v)
      } yield s)
      .orElse(rootDir.flatMap(graft.sources.LakeIO.tableSchema))

  override def name(): String = "graft_lake:" + inner.name

  /** The hidden partition column stays QUERYABLE (it is in the schema)
    * but carries a NULL column DEFAULT, so SQL INSERTs and CTAS may omit
    * it (SPARK-42521 fills missing trailing columns from defaults at
    * output resolution) — writers re-derive it from `ts` anyway. Without
    * the default, every INSERT would have to supply a value for a column
    * the engine computes.
    */
  override def schema(): StructType = {
    val base = metaSchema.getOrElse(inner.schema)
    val pc = manifest.map(_._1).getOrElse("ts_hour")
    StructType(base.fields.map { f =>
      if (f.name == pc && manifest.isDefined)
        f.copy(nullable = true, metadata =
          new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", "NULL")
            .putString("EXISTS_DEFAULT", "NULL").build())
      else f
    })
  }
  override def partitioning(): Array[Transform] = manifest match {
    case Some((partCol, _)) =>
      Array(org.apache.spark.sql.connector.expressions.Expressions.identity(partCol))
    case None => inner.partitioning()
  }
  override def properties(): java.util.Map[String, String] = inner.properties()
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability](inner.capabilities())
    caps.add(TableCapability.V1_BATCH_WRITE)  // manifest-committing append
    caps.add(TableCapability.TRUNCATE)        // INSERT OVERWRITE (full replace)
    caps.add(TableCapability.OVERWRITE_DYNAMIC) // partitionOverwriteMode=dynamic
    caps.add(TableCapability.OVERWRITE_BY_FILTER) // replaceWhere
    if (manifest.isDefined)
      caps.add(TableCapability.MICRO_BATCH_READ)  // snapshot-version offsets
    caps
  }

  override def newScanBuilder(rawOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // `.option("branch", name)` reads the branch's CURRENT state (base
    // snapshot + every staged branch append) — sugar that resolves to
    // the branch's latest cumulative stage and rides the stagedAsOf
    // path, so branch reads get every staged-read rule for free
    val options = Option(rawOptions.get("branch")).map(_.trim) match {
      case Some(name) =>
        require(rootDir.isDefined, "graft-lake branch read requires a lake path")
        // every OTHER row-set-selecting option must refuse to compose:
        // branch resolves to a stagedAsOf read of the branch's latest
        // cumulative stage, so a co-passed timestampAsOf/changesFrom
        // would silently win or lose depending on which the downstream
        // scan prefers (the r10 invariant: options that change WHICH
        // ROWS a scan sees compose explicitly or not at all)
        require(rawOptions.get("stagedAsOf") == null &&
          rawOptions.get("versionAsOf") == null &&
          rawOptions.get("timestampAsOf") == null &&
          rawOptions.get("changesFrom") == null &&
          rawOptions.get("changesTo") == null,
          "branch cannot combine with stagedAsOf/versionAsOf/" +
            "timestampAsOf/changesFrom/changesTo")
        val stage = graft.sources.LakeIO.lastBranchStage(rootDir.get, name)
          .getOrElse(sys.error(s"no branch '$name' under ${rootDir.get}"))
        val m = new java.util.HashMap[String, String](rawOptions.asCaseSensitiveMap())
        m.remove("branch")
        m.put("stagedAsOf", stage)
        new CaseInsensitiveStringMap(m)
      case None => rawOptions
    }
    // A RENAMED table must read through the column-mapping rewrite
    // ([[graft.plans.ApplyDeletionVectors]]) — the delegated parquet scan
    // resolves columns by NAME and would silently null-fill the renamed
    // column on pre-rename files. A MIXED-ERA table (partition evolution
    // mid-convergence) equally needs the rewrite: the V2 file index would
    // parse day-era directory values as the current partition column. If
    // the rewrite is not active in this session, refuse loudly rather
    // than lose data. [[graft.plans.ApplyDeletionVectors.activeIn]]
    // decides exactly (ranIn ground truth → conf sniff → trivial-plan
    // probe), covering `builder().withExtensions(...)` installs that
    // leave `spark.sql.extensions` unset, even before the session's
    // first query. Checks reuse the table's own `manifest` lazy val —
    // no second manifest parse on the per-query planning path.
    val renamed = rootDir.exists(r =>
      graft.sources.LakeIO.columnHistories(r).nonEmpty)
    val mixedEra = manifest.exists { case (pc, es) =>
      es.exists(!_.relPath.startsWith(pc + "=")) }
    if (renamed || mixedEra) {
      val s = inner.sparkSession
      val installed = graft.plans.ApplyDeletionVectors.activeIn(s)
      val why = if (renamed) "has renamed columns" else "is mixed-era"
      require(installed,
        s"table ${rootDir.get} $why; reads require the " +
          "mapping/era rewrite — set spark.sql.extensions=" +
          "graft.plans.GraftExtensions (or Graft.install(spark)), or read " +
          "via LakeIO.readMoR")
    }
    // time travel: `.option("versionAsOf", v)` reads snapshot v's frozen
    // manifest + schema (appends never delete files, so old snapshots
    // stay readable — Iceberg snapshot semantics)
    val version = Option(options.get("versionAsOf"))
      .map(raw => ManifestFileIndex.resolveVersionSpec(rootDir.get, raw))
      .orElse(Option(options.get("timestampAsOf")).map { raw =>
        // reader-option twin of the catalog's SQL `TIMESTAMP AS OF`:
        // accepts epoch millis or a UTC "yyyy-MM-dd HH:mm:ss[.SSS]"
        val cutoffMs = GraftLakeSource.parseCutoffMillis(raw.trim)
        ManifestFileIndex.versionAt(rootDir.get, cutoffMs).getOrElse(
          sys.error(s"no snapshot committed at or before $raw under ${rootDir.get}"))
      })
      .orElse(tableVersion)
    // change-feed mode: plan the MANIFEST DIFF between two snapshots as
    // the file list — `changeSide=added` scans files live in changesTo but
    // not changesFrom (the new generation), `removed` the converse (the
    // replaced one). The whole plan comes from two manifest reads: no
    // directory listing, no per-file driver stats — at 100 TB a changefeed
    // over a 10-partition merge plans in two small metadata reads instead
    // of statting every touched file (the V1 multi-path read's cost).
    val changes = for {
      f0 <- Option(options.get("changesFrom")).map(_.trim.toInt)
      t0 <- Option(options.get("changesTo")).map(_.trim.toInt)
    } yield (f0, t0, Option(options.get("changeSide")).getOrElse("added"))
    val (snapManifest, snapSchema) = changes match {
      case Some((f0, t0, side)) =>
        require(rootDir.isDefined, "graft-lake change feed requires a lake path")
        def entriesOf(v: Int) = ManifestFileIndex.read(rootDir.get, Some(v))
          .getOrElse(sys.error(s"no snapshot version $v under ${rootDir.get}"))
        val (pc, toE) = entriesOf(t0)
        // changesFrom=0 is the EMPTY table (version 0 commits no
        // manifest): every to-side row is an insert — the CDF backfill
        val fromE =
          if (f0 == 0) Seq.empty[ManifestFileIndex.Entry] else entriesOf(f0)._2
        val entries = side match {
          case "added" =>
            val fromSet = fromE.map(_.relPath).toSet
            toE.filterNot(e => fromSet(e.relPath))
          case "removed" =>
            val toSet = toE.map(_.relPath).toSet
            fromE.filterNot(e => toSet(e.relPath))
          case other => sys.error(s"changeSide must be added|removed, got $other")
        }
        (Some((pc, entries)),
          rootDir.flatMap(ManifestFileIndex.snapshotSchema(_, t0)).orElse(metaSchema))
      case None => (version, Option(options.get("stagedAsOf")).map(_.trim)) match {
        case (Some(v), _) =>
          val m = rootDir.flatMap(ManifestFileIndex.read(_, Some(v)))
          require(m.isDefined, s"no snapshot version $v under ${rootDir.getOrElse("?")}")
          (m, rootDir.flatMap(ManifestFileIndex.snapshotSchema(_, v)).orElse(metaSchema))
        case (None, Some(id)) =>
          // write-audit-publish: read the staged (uncommitted) snapshot —
          // the table exactly as it would look after publish
          require(rootDir.isDefined, "graft-lake stagedAsOf requires a lake path")
          val m = ManifestFileIndex.readStaged(rootDir.get, id)
          require(m.isDefined, s"no staged snapshot '$id' under ${rootDir.get}")
          (m, metaSchema)
        case _ => (manifest, metaSchema)
      }
    }
    (snapManifest, snapSchema) match {
      case (Some((partCol, entries)), Some(full)) =>
        val idx = new ManifestFileIndex(inner.sparkSession,
          new org.apache.hadoop.fs.Path(rootDir.get), entries, partCol,
          Some(full),
          // a staged read pins -1: never answerable from a head MV
          pinnedVersion = version.orElse(
            Option(options.get("stagedAsOf")).map(_ => -1)))
        val dataSchema = StructType(full.fields.filterNot(_.name == partCol))
        new GraftLakeScanBuilder(ParquetScanBuilder(
          inner.sparkSession, idx, full, dataSchema, options),
          // ts→ts_hour filter derivation only makes sense against an
          // hour-partitioned file index (a day-era table would receive a
          // partition predicate on a column it doesn't have)
          deriveHour = partCol == "ts_hour")
      case _ =>
        new GraftLakeScanBuilder(inner.newScanBuilder(options))
    }
  }

  /** SQL `DELETE FROM <lake table> WHERE ...` routes through
    * [[graft.sources.LakeIO.deleteWhere]] — the stats-pruned, snapshot-
    * committing copy-on-write delete — so the reference's mutation
    * surface (init-analytics-db.sql upsert/delete semantics) is reachable
    * from SQL text with full snapshot isolation (the pre-delete version
    * stays readable `VERSION AS OF`). Only predicates expressible as V1
    * source filters are accepted; anything else rejects at analysis
    * (`canDeleteWhere` false) rather than deleting the wrong rows.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
    : Boolean =
    rootDir.isDefined && manifest.isDefined && tableVersion.isEmpty &&
      filters.forall(filterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
    : Unit = {
    import org.apache.spark.sql.functions.lit
    val cond = filters.toSeq.flatMap(filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    graft.sources.LakeIO.deleteWhere(inner.sparkSession, rootDir.get, cond)
  }

  private def filterToColumn(flt: org.apache.spark.sql.sources.Filter)
    : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.{sources => f}
    import org.apache.spark.sql.functions.{col, lit}
    flt match {
      case f.EqualTo(a, v)            => Some(col(a) === lit(v))
      case f.EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case f.GreaterThan(a, v)        => Some(col(a) > lit(v))
      case f.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case f.LessThan(a, v)           => Some(col(a) < lit(v))
      case f.LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case f.In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case f.IsNull(a)                => Some(col(a).isNull)
      case f.IsNotNull(a)             => Some(col(a).isNotNull)
      case f.StringStartsWith(a, v)   => Some(col(a).startsWith(v))
      case f.StringEndsWith(a, v)     => Some(col(a).endsWith(v))
      case f.StringContains(a, v)     => Some(col(a).contains(v))
      case f.And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case f.Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case f.Not(c)                   => filterToColumn(c).map(!_)
      case _: f.AlwaysTrue            => Some(lit(true))
      case _: f.AlwaysFalse           => Some(lit(false))
      case _                          => None
    }
  }

  /** Writes route through the lake's OWN writer, not the delegate
    * parquet write: a raw V2 file write would drop rows flat into the
    * root (no hour-partitioned layout) and — the invariant that matters —
    * never commit the manifest, making the rows invisible to every V2
    * reader. The `V1Write` bridge hands the whole batch to
    * `LakeIO.evolveAppend` (INSERT INTO) or `LakeIO.overwriteLake`
    * (INSERT OVERWRITE — full replace as one new snapshot, old
    * generation parked for time travel): hour-clustered layout, schema
    * evolution rules, and the snapshot commit (new snapshot + HEAD
    * advance) all apply to SQL writes exactly as to programmatic ones.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    rootDir match {
      case Some(root) if manifest.isDefined =>
        require(tableVersion.isEmpty,
          "graft-lake: cannot write to a VERSION AS OF time-travel view")
        // SupportsTruncate is how V2Writes models INSERT OVERWRITE's
        // full-replace (OverwriteByExpression(true) → truncate()); the
        // flag routes the V1 bridge to overwriteLake
        new WriteBuilder
            with org.apache.spark.sql.connector.write.SupportsOverwrite
            with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
          private var replaceAll = false
          private var replaceTouched = false
          private var replaceCond: Option[org.apache.spark.sql.Column] = None
          override def truncate(): WriteBuilder = { replaceAll = true; this }
          override def overwriteDynamicPartitions(): WriteBuilder = {
            replaceTouched = true; this
          }
          // replaceWhere: only predicates expressible as V1 source
          // filters are accepted — anything else rejects at analysis
          // rather than replacing the wrong rows (same contract as
          // canDeleteWhere)
          override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
            : WriteBuilder = {
            if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
              replaceAll = true
            else {
              val cols = filters.toSeq.map(f => filterToColumn(f).getOrElse(
                throw new UnsupportedOperationException(
                  s"graft-lake overwrite-by-filter cannot express: $f")))
              replaceCond = Some(cols.reduce(_ && _))
            }
            this
          }
          override def build(): org.apache.spark.sql.connector.write.Write =
            new org.apache.spark.sql.connector.write.V1Write {
              override def toInsertableRelation
                : org.apache.spark.sql.sources.InsertableRelation =
                (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
                  // ts_hour is re-derived from ts by the writer; OVERWRITE
                  // replaces the table (or, under partitionOverwriteMode=
                  // dynamic, just the touched hours) as one new snapshot
                  // (old generation parked — time travel works across it)
                  if (replaceTouched)
                    graft.sources.LakeIO.overwritePartitionsDynamic(
                      data.sparkSession, root, data.drop("ts_hour"))
                  else if (replaceCond.isDefined)
                    graft.sources.LakeIO.overwriteWhere(
                      data.sparkSession, root, data.drop("ts_hour"),
                      replaceCond.get)
                  else if (overwrite || replaceAll)
                    graft.sources.LakeIO.overwriteLake(
                      data.sparkSession, root, data.drop("ts_hour"))
                  else
                    graft.sources.LakeIO.evolveAppend(data.drop("ts_hour"), root)
                }
            }
        }
      case _ => inner.newWriteBuilder(info)
    }
}

/** The interception point: `pushFilters` receives the query's Catalyst
  * predicates, derives the implied `ts_hour` partition predicates from raw
  * `ts` bounds ([[GraftLakeSource.derive]]), and hands
  * the augmented set to the parquet scan builder — which classifies the
  * derived conjuncts as partition filters (consumed at file listing) and
  * returns the originals as the post-scan residual, preserving exact
  * semantics. Column pruning and aggregate pushdown delegate unchanged.
  */
class GraftLakeScanBuilder(inner: ParquetScanBuilder,
    deriveHour: Boolean = true) extends ScanBuilder
    with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with PredicateHelper {

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val tsAttr = filters.flatMap(_.references.toSeq)
      .find(a => a.name == "ts" && a.dataType == TimestampType)
    val touchesHour = filters.exists(_.references.exists(_.name == "ts_hour"))
    val derived = tsAttr match {
      case Some(ts) if deriveHour && !touchesHour =>
        // partition filters bind by NAME against the partition schema at
        // file-listing time, so a fresh exprId is fine here
        val hr = AttributeReference("ts_hour", StringType)()
        filters.flatMap(splitConjunctivePredicates)
          .flatMap(GraftLakeSource.derive(_, ts, hr))
      case _ => Seq.empty
    }
    inner.pushFilters(filters ++ derived)
  }

  override def pushedFilters(): Array[Predicate] = inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(requiredSchema)

  override def pushAggregation(aggregation: Aggregation): Boolean =
    inner.pushAggregation(aggregation)
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    inner.supportCompletePushDown(aggregation)

  override def build(): Scan = {
    val built = inner.build()
    built match {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
        GraftLakeScan(p)
      case other => other
    }
  }
}

/** Runtime (dynamic-partition-pruning) filtering for the graft-lake scan.
  *
  * Spark's V2 `FileScan` does not implement `SupportsRuntimeFiltering`,
  * so a V2 parquet relation never receives the partition values a
  * broadcast dimension join discovers at runtime — the classic DPP win
  * (scan only the hours a filtered dim selects) silently disappears when
  * leaving the V1 path. This wrapper restores it: it advertises the
  * partition columns as filterable, and on `filter(...)` folds the
  * runtime `IN`/`=` predicates into the delegate scan's partition
  * filters, re-planning input partitions against the (manifest-backed)
  * file index. Delegation keeps the vectorized reader and stats.
  */
case class GraftLakeScan(
    initial: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan)
  extends Scan with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, Literal}
  import org.apache.spark.sql.execution.datasources.FilePartition
  import org.apache.spark.sql.{sources => f}

  @transient private var filtered:
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = _
  private def current = if (filtered != null) filtered else initial

  override def readSchema(): StructType = initial.readSchema()
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  /** The lake as a streaming source: snapshot versions are the offsets,
    * manifest diffs are the batches (see [[GraftLakeMicroBatchStream]]).
    */
  override def toMicroBatchStream(checkpointLocation: String)
    : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val idx = initial.fileIndex match {
      case m: ManifestFileIndex => m
      case _ => throw new UnsupportedOperationException(
        "graft-lake streaming requires a committed manifest (write via LakeIO)")
    }
    // the micro-batch stream plans raw parquet scans of manifest-diff
    // files — it has no column-mapping/era rewrite, so a renamed table's
    // pre-rename files would stream with the renamed column null-filled
    // and day-era files would misparse their directory value. Refuse
    // loudly; compact/rewriteEra converge the files, then streaming works.
    val streamRoot = idx.rootPaths.head.toString
    require(graft.sources.LakeIO.columnHistories(streamRoot).isEmpty,
      s"graft-lake streaming: table $streamRoot has renamed columns and " +
        "the version-offset stream cannot apply the column mapping " +
        "(the mapping is permanent — time travel needs it); consume " +
        "snapshots via LakeIO.readMoR / readChanges instead")
    ManifestFileIndex.read(streamRoot).foreach { case (pc, es) =>
      require(es.forall(_.relPath.startsWith(pc + "=")),
        s"graft-lake streaming: table $streamRoot is mid partition-" +
          "evolution (mixed-era files); run rewriteEra first")
    }
    val partCol = idx.partitionSchema.headOption.map(_.name).getOrElse("ts_hour")
    val opts = initial.options
    // Row-set-selecting reader options (r10 invariant) pin a FIXED row
    // set; the version-offset stream plans from HEAD manifest diffs and
    // would silently ignore them — a `.option("branch", …)` readStream
    // (branch resolves to stagedAsOf upstream) would stream MAIN's
    // commits while claiming to read the branch. Refuse loudly.
    Seq("stagedAsOf", "versionAsOf", "timestampAsOf",
        "changesFrom", "changesTo").foreach { o =>
      require(opts.get(o) == null,
        s"graft-lake streaming: reader option '$o' (or 'branch', which " +
          "resolves to stagedAsOf) selects a fixed row set and cannot " +
          "drive a version-offset stream; stream the table head, or " +
          "publish the branch first")
    }
    new GraftLakeMicroBatchStream(initial, idx.rootPaths.head.toString, partCol,
      skipChangeCommits = Option(opts.get("skipChangeCommits")).exists(_.trim.toBoolean),
      maxFilesPerTrigger = Option(opts.get("maxFilesPerTrigger")).map(_.trim.toInt))
  }

  // ── storage-partitioned joins (SPJ): the scan REPORTS its hour layout.
  //
  // With `spark.sql.sources.v2.bucketing.enabled`, the scan advertises
  // KeyGroupedPartitioning over the partition column and emits one
  // HasPartitionKey input partition per partition value. Two lake scans
  // joined or re-aggregated ON that column are then already co-partitioned
  // — Catalyst's EnsureRequirements proves the KeyGroupedShuffleSpecs
  // compatible and plans NO exchange on either side (Iceberg's SPJ,
  // SPARK-37375). At 100 TB this removes the biggest cost of a
  // fact-to-fact hourly join: both full-table shuffles.
  //
  // Off (default), everything delegates to the parquet batch unchanged,
  // keeping maxPartitionBytes bin-packing for maximum scan parallelism.
  private def partCols = initial.fileIndex.partitionSchema
  /** SPJ only when a key group is worth a task: `v2.bucketing.enabled`
    * defaults to TRUE on Spark 4, and KeyGroupedPartitioning forces one
    * input partition per partition VALUE — on a 720-hour lake of small
    * files that is 720 tiny tasks for EVERY scan (measured ~5× slower
    * than bin-packed at sf0.1), while at 100 TB an hour is gigabytes and
    * per-key tasks are exactly right. The gate compares mean bytes per
    * key group against `spark.graft.spj.minBytesPerPartition` (default =
    * `spark.sql.files.openCostInBytes`: a group cheaper than one file
    * open can't pay for its own task); set it to 0 to force SPJ (SpjSpec
    * does, proving the zero-exchange plans on the small test lake).
    */
  private def spjWorthwhile: Boolean = initial.fileIndex match {
    case m: ManifestFileIndex =>
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val minBytes = conf.getConfString("spark.graft.spj.minBytesPerPartition",
        conf.filesOpenCostInBytes.toString).toLong
      m.avgPartValueBytes >= minBytes
    case _ => true
  }
  private def spjEligible: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled &&
      partCols.length == 1 &&
      initial.readSchema().fieldNames.contains(partCols.head.name) &&
      spjWorthwhile

  override def outputPartitioning()
    : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjEligible)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.identity(
          partCols.head.name)),
        keyedPartitions.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  /** One FilePartition per partition VALUE, tagged with its key row
    * (from the files' own partitionValues). Built from `current` so DPP
    * runtime filtering composes with SPJ.
    */
  private def keyedPartitions: Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val files = current.toBatch.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files.toSeq
      case _ => Seq.empty[org.apache.spark.sql.execution.datasources.PartitionedFile]
    }
    files.groupBy(_.partitionValues.getUTF8String(0).toString)
      .toArray.sortBy(_._1)
      .zipWithIndex
      .map { case ((_, fs), i) =>
        KeyedFilePartition(FilePartition(i, fs), fs.head.partitionValues.copy())
      }
  }

  override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
    if (spjEligible) keyedPartitions
    else current.toBatch.planInputPartitions()

  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    val inner = current.toBatch.createReaderFactory()
    if (spjEligible) new UnwrapKeyedReaderFactory(inner) else inner
  }
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    current.estimateStatistics()
  override def description(): String = current.description()

  /** Only partition columns that SURVIVED column pruning: Spark's
    * PartitionPruning rule resolves these against the (pruned) relation
    * output and throws on a name it can't find — a scan that projects
    * away ts_hour must not advertise it, it just forgoes DPP.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val visible = initial.readSchema().fieldNames.toSet
    initial.fileIndex.partitionSchema.fieldNames
      .filter(visible.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[f.Filter]): Unit = {
    val partFields = initial.fileIndex.partitionSchema.fields.map(sf =>
      sf.name -> AttributeReference(sf.name, sf.dataType)()).toMap
    val exprs = filters.toSeq.flatMap {
      case f.In(name, values) if partFields.contains(name) =>
        Some(In(partFields(name),
          values.toSeq.map(Literal.create(_, partFields(name).dataType))))
      case f.EqualTo(name, v) if partFields.contains(name) =>
        Some(EqualTo(partFields(name), Literal.create(v, partFields(name).dataType)))
      case _ => None // unsupported runtime filters are an optimization only
    }
    if (exprs.nonEmpty)
      filtered = current.copy(
        partitionFilters = current.partitionFilters ++ exprs)
  }
}

/** A per-partition-value file split carrying its partition key — what
  * Spark's SPJ machinery groups and aligns across join sides. Wraps the
  * parquet FilePartition rather than subclassing it so the delegate stays
  * exactly what the parquet reader factory expects.
  */
case class KeyedFilePartition(
    delegate: org.apache.spark.sql.execution.datasources.FilePartition,
    key: org.apache.spark.sql.catalyst.InternalRow)
  extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

/** Hands the wrapped FilePartition back to the vectorized parquet reader. */
class UnwrapKeyedReaderFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  private def unwrap(p: org.apache.spark.sql.connector.read.InputPartition) =
    p match { case k: KeyedFilePartition => k.delegate; case other => other }
  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition)
    : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: org.apache.spark.sql.connector.read.InputPartition)
    : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
}
