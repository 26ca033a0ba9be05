package graft.plans

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftLakeScan, GraftLakeTable, ManifestFileIndex}
import org.apache.spark.sql.types.{DecimalType, IntegerType}

import graft.Op
import graft.sources.{LakeIO, LocalFs, Tables}
import graft.syntax._

/** Materialized views with TRANSPARENT rewrite — the warehouse feature the
  * reference gets from its serving tier's pre-aggregated Postgres tables
  * (sink-connector writes `weather_aggregates`, server.js:23-40 reads them
  * instead of re-querying Flink): queries keep addressing the BASE table;
  * when a registered, version-fresh aggregate table can answer them, the
  * optimizer substitutes it.
  *
  * The MV is the lake's hourly aggregate state in MERGEABLE form
  * (`LakeIO.hourlyAggState`: n / decimal-sum / max / min per ts_hour) —
  * the same state the IVM refresh (`LakeIO.refreshHourlyAgg`) maintains
  * from the snapshot-diff increment, so keeping the MV fresh after an
  * append costs Δ + |hours|, never a base rescan. Mergeability is what
  * makes the MV answer COARSER groupings too: day-level or global
  * aggregates re-aggregate the partials (sum of counts, sum of decimal
  * sums — exact by the decimal recipe; max of maxes, min of mins).
  *
  * Freshness is checked per optimization against the lake's snapshot
  * HEAD (one tiny metadata read — the same read any lake query plans
  * with): an MV built at version v rewrites only while HEAD == v, so an
  * append silently routes queries back to the base table until
  * [[Mv.ensureHourly]] refreshes the view. Time-travel scans
  * (`versionAsOf`) are never rewritten — a pinned-version read must not
  * see HEAD-fresh data.
  *
  * At 100 TB: the hourly MV of a year-long lake is ~8760 rows. Every
  * dashboard-shaped aggregate over the lake collapses from a 100 TB scan
  * to a sub-megabyte one, and the rewrite is sound because freshness is
  * tied to the same snapshot mechanism that defines reader visibility.
  */
object Mv {

  /** A registered hourly MV: aggregate state for `basePath` as of
    * snapshot `baseVersion`, stored at `mvPath`, plus the analyzed scan
    * plan the rewrite splices in (re-instanced per use for fresh attrs).
    */
  final case class HourlyMv(
      basePath: String, mvPath: String, baseVersion: Int, plan: LogicalPlan)

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, HourlyMv]()

  private def canonical(p: String): String =
    new File(p.replaceFirst("^file:(//)?", "")).getAbsolutePath

  def lookup(path: String): Option[HourlyMv] =
    Option(registry.get(canonical(path)))

  def nonEmpty: Boolean = !registry.isEmpty

  /** Drop all registrations (tests). */
  def clear(): Unit = registry.clear()

  /** Build — or incrementally refresh — the hourly MV for `basePath` and
    * register it for rewrite. A refresh merges the prior MV with the
    * aggregate of only the appended files (manifest diff), exactly the
    * `lake_incremental_agg` algebra.
    */
  def ensureHourly(s: SparkSession, basePath: String): HourlyMv = {
    val head = ManifestFileIndex.headVersion(basePath).getOrElse(
      sys.error(s"Mv.ensureHourly: $basePath has no committed snapshot"))
    // live deletion vectors: the append-only increment algebra can't see
    // them (a DV commit diffs to zero files) — build from the DV-applied
    // read instead of incrementally, or the MV would mark itself fresh at
    // `head` while still counting MoR-deleted rows
    val hasDvs = ManifestFileIndex.readDvs(basePath).nonEmpty
    lookup(basePath) match {
      case Some(mv) if mv.baseVersion == head => mv
      case Some(mv) if mv.baseVersion < head && !hasDvs &&
          ManifestFileIndex.read(basePath, Some(mv.baseVersion)).isDefined =>
        val prior = s.read.parquet(mv.mvPath)
        // The append-only increment algebra (prior ⊎ agg(added files)) is
        // only sound when NO file left the live set in the window: a CoW
        // delete/merge — or even a pure compaction/z-order rewrite —
        // re-adds carried rows under new file names (double count) and
        // never subtracts removed ones. Any removed file routes the
        // refresh through the CDC algebra instead, whose row-level netting
        // cancels carried CoW rows exactly (a compaction diffs to ZERO
        // changes, so its CDC refresh is prior verbatim). Same manifest
        // reads the refresh itself plans from — no extra I/O class.
        val fromFiles = ManifestFileIndex.read(basePath, Some(mv.baseVersion))
          .get._2.map(_.relPath).toSet
        val toFiles = ManifestFileIndex.read(basePath, Some(head))
          .map(_._2.map(_.relPath).toSet).getOrElse(Set.empty)
        val removedInWindow = !fromFiles.subsetOf(toFiles)
        write(s, basePath, head,
          if (removedInWindow)
            LakeIO.refreshHourlyAggCDC(s, basePath, prior, mv.baseVersion, head)
          else
            LakeIO.refreshHourlyAgg(s, basePath, prior, mv.baseVersion, head))
      case _ =>
        // first build, live DVs, or an expired base snapshot (no window
        // to diff): (re)build from the DV-applied read
        write(s, basePath, head,
          LakeIO.hourlyAggState(LakeIO.readMoR(s, basePath)))
    }
  }

  /** MV storage is versioned by base snapshot (`hourly_v<N>`) so a refresh
    * never overwrites the files a concurrent reader's plan references;
    * `_SUCCESS`-guarded write-once per version. The state writes
    * PARTITIONED on the MV key (hash-repartition + in-file key order) —
    * a high-cardinality key (millions of hours×dims at 100 TB) must
    * never funnel through one task the way the earlier `coalesce(1)`
    * forced; file count follows the shuffle parallelism, and readers
    * (`s.read.parquet`) are file-count agnostic.
    */
  private def write(s: SparkSession, basePath: String, v: Int,
      state: DataFrame): HourlyMv = {
    val mvPath = basePath + s"_mv/hourly_v$v"
    graft.syntax.pathLocked(mvPath) {
      if (!new File(mvPath, "_SUCCESS").exists())
        state.repartition(col("ts_hour"))
          .sortWithinPartitions($"ts_hour")
          .write.options(LocalFs.WriteOptions).mode("overwrite")
          .option("compression", "zstd").parquet(mvPath)
    }
    val mv = HourlyMv(canonical(basePath), mvPath, v,
      s.read.parquet(mvPath).queryExecution.analyzed)
    registry.put(mv.basePath, mv)
    mv
  }

  // ---------------------------------------------------------------- ops

  /** Dedicated demo lake so the rewrite's effect on OTHER keyed queries is
    * nil by construction (registry is keyed by table path).
    */
  private def mvLake(s: SparkSession, d: String): String = {
    val path = "/tmp/graft_lake/v3_mv_" +
      d.replaceAll("[^A-Za-z0-9.]", "_") + "/events"
    graft.syntax.pathLocked(path) {
      if (!new File(path + "/_SUCCESS").exists())
        LakeIO.cloneBase4(s, d, path)
    }
    path
  }

  private def agged(base: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    base.agg(
      count(lit(1)).as("n_events"),
      sum(round($"value", 6).cast("decimal(18,6)")).as("sdec"),
      max($"value").as("max_value"),
      min($"value").as("min_value"))

  val ops: Seq[Op] = Seq(
    // Transparent substitution: the query addresses the BASE lake table;
    // the optimizer answers it from the hours-sized MV (MvRewriteSpec
    // proves the plan scans only `_mv/hourly_v*` files). The oracle
    // aggregates the raw events table, so the hash match proves the MV
    // result is indistinguishable from the base-table computation.
    Op("mv_rewrite_hourly",
      (s, d) => {
        val path = mvLake(s, d)
        ensureHourly(s, path)
        MaterializedViewRewrite.install(s)
        agged(s.read.format("graft-lake").load(path).groupBy($"ts_hour"))
          .select($"ts_hour", $"n_events",
            $"sdec".cast("double").as("sum_value"), $"max_value", $"min_value")
          .orderBy($"ts_hour")
      },
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d-%H') AS ts_hour,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |       max(value) AS max_value,
        |       min(value) AS min_value
        |FROM events GROUP BY 1 ORDER BY ts_hour""".stripMargin),

    // Rollup matching: a DAY-level aggregate the MV answers by merging
    // its hourly partials — sum(n), sum(sdec) (decimal: exact), max(mx).
    // Grouping by any deterministic function of the MV's grouping column
    // re-aggregates correctly; substring(ts_hour, 1, 10) is the day.
    Op("mv_rewrite_rollup_day",
      (s, d) => {
        val path = mvLake(s, d)
        ensureHourly(s, path)
        MaterializedViewRewrite.install(s)
        agged(s.read.format("graft-lake").load(path)
            .groupBy(substring($"ts_hour", 1, 10).as("ts_day")))
          .select($"ts_day", $"n_events",
            $"sdec".cast("double").as("sum_value"), $"max_value", $"min_value")
          .orderBy($"ts_day")
      },
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS ts_day,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |       max(value) AS max_value,
        |       min(value) AS min_value
        |FROM events GROUP BY 1 ORDER BY ts_day""".stripMargin)
  )
}

/** The rewrite rule. Matches `Aggregate` over an UNFILTERED scan of a
  * registered lake table (direct, or through projections that only
  * compute functions of the MV's grouping column — the shape
  * `PullOutGroupingExpressions` leaves), with aggregates drawn from the
  * MV's mergeable state:
  *
  *  - `count(lit)`                               → `n`   (merge: sum)
  *  - `sum(round(value,6) :: decimal(18,6))`     → `sdec` (merge: sum — exact)
  *  - `max(value)` / `min(value)`                → `mx` / `mn`
  *
  * Grouped exactly by `ts_hour` the rewrite is a Project of MV columns;
  * grouped by any deterministic function(s) of `ts_hour` (day prefix,
  * global) it re-aggregates the partials. Output attribute ids and names
  * are preserved, so the substitution is invisible to the rest of the
  * plan. Anything else — filters, other aggregates, DISTINCT, FILTER
  * clauses, time-travel scans, stale MV — declines and the base plan
  * stands.
  */
object MaterializedViewRewrite extends Rule[LogicalPlan] {

  private val GroupCol = "ts_hour"
  private val ValueCol = "value"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!Mv.nonEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(groups, aggExprs, child, _) =>
        (for {
          (leaf, subst) <- split(child)
          path          <- basePathOf(leaf)
          mv            <- Mv.lookup(path)
          if ManifestFileIndex.headVersion(mv.basePath).contains(mv.baseVersion)
          rewritten     <- rewrite(groups, aggExprs, subst, mv)
        } yield rewritten).getOrElse(agg)
    }

  /** Unwrap aliases and projections down to the scan, composing a
    * substitution that inlines projected expressions — but only
    * projections whose computed entries are deterministic functions of
    * `ts_hour` (the pulled-out-grouping shape); anything touching other
    * columns declines.
    */
  private def split(p: LogicalPlan): Option[(LogicalPlan, Map[ExprId, Expression])] =
    p match {
      case SubqueryAlias(_, c) => split(c)
      case Project(list, c) =>
        val ok = list.forall {
          case _: AttributeReference => true
          case Alias(e, _) =>
            e.deterministic && e.references.forall(_.name == GroupCol)
          case _ => false
        }
        if (!ok) None
        else split(c).map { case (leaf, inner) =>
          val here = list.collect {
            case a @ Alias(e, _) => a.exprId -> inline(e, inner)
          }.toMap
          (leaf, inner ++ here)
        }
      case leaf => Some((leaf, Map.empty))
    }

  private def inline(e: Expression, subst: Map[ExprId, Expression]): Expression =
    if (subst.isEmpty) e
    else e.transformUp {
      case a: Attribute if subst.contains(a.exprId) => subst(a.exprId)
    }

  /** The scan's table root — only for scans with no pushed partition/data
    * filters (a filtered scan's rows are not the MV's rows) and no pinned
    * snapshot version.
    */
  private def basePathOf(p: LogicalPlan): Option[String] = p match {
    case r: DataSourceV2ScanRelation => (r.relation.table, r.scan) match {
      case (t: GraftLakeTable, g: GraftLakeScan)
          if g.initial.partitionFilters.isEmpty && g.initial.dataFilters.isEmpty &&
            g.initial.pushedFilters.isEmpty && notPinned(g.initial) =>
        t.lakeRoot
      case _ => None
    }
    // pre-pushdown shape (extensions-injected rule runs inside operator
    // optimization): no scan yet, so no pushed filters to re-check
    case r: DataSourceV2Relation => r.table match {
      case t: GraftLakeTable
          if !r.options.containsKey("versionAsOf") && t.pinnedTableVersion.isEmpty =>
        t.lakeRoot
      case _ => None
    }
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        Some(fs.location.rootPaths.head.toUri.getPath)
      case _ => None
    }
    case _ => None
  }

  private def notPinned(p: ParquetScan): Boolean = p.fileIndex match {
    case m: ManifestFileIndex => m.pinnedVersion.isEmpty
    case _ => true
  }

  /** Fresh attribute ids per splice — the same MV may appear several
    * times in one query (e.g. a self-join of two rewritten aggregates).
    */
  private def fresh(p: LogicalPlan): LogicalPlan = p match {
    case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
    case other => other.transformUp {
      case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
    }
  }

  private def rewrite(
      groups: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      subst: Map[ExprId, Expression],
      mv: Mv.HourlyMv): Option[LogicalPlan] = {
    val scan = fresh(mv.plan)
    val byName = scan.output.map(a => a.name -> a).toMap
    if (!Seq(GroupCol, "n", "sdec", "mx", "mn").forall(byName.contains)) return None
    val g = byName(GroupCol)
    val mvN = byName("n"); val mvS = byName("sdec")
    val mvMx = byName("mx"); val mvMn = byName("mn")

    // (direct MV column, merge function) for each supported aggregate
    def forms(fn: AggregateFunction): Option[(Attribute, AggregateFunction)] =
      fn match {
        case c: Count => c.children match {
          case Seq(Literal(v, _)) if v != null => Some((mvN, Sum(mvN)))
          case _ => None
        }
        case s: Sum => s.child match {
          case c: Cast if c.dataType == DecimalType(18, 6) => c.child match {
            case r: Round => (inline(r.child, subst), r.scale) match {
              case (a: Attribute, Literal(6, IntegerType)) if a.name == ValueCol =>
                Some((mvS, Sum(mvS)))
              case _ => None
            }
            case _ => None
          }
          case _ => None
        }
        case m: Max => inline(m.child, subst) match {
          case a: Attribute if a.name == ValueCol => Some((mvMx, Max(mvMx)))
          case _ => None
        }
        case m: Min => inline(m.child, subst) match {
          case a: Attribute if a.name == ValueCol => Some((mvMn, Min(mvMn)))
          case _ => None
        }
        case _ => None
      }

    val bare = groups.map { case Alias(c, _) => c; case e => e }
      .map(inline(_, subst))

    bare match {
      // exact grain: project MV columns, no re-aggregation
      case Seq(a: Attribute) if a.name == GroupCol =>
        val proj = aggExprs.map {
          case at: Attribute if at.name == GroupCol =>
            Some(Alias(g, at.name)(exprId = at.exprId))
          case al @ Alias(at: Attribute, nm) if at.name == GroupCol =>
            Some(Alias(g, nm)(exprId = al.exprId))
          case al @ Alias(ae: AggregateExpression, nm)
              if !ae.isDistinct && ae.filter.isEmpty =>
            forms(ae.aggregateFunction).map { case (direct, _) =>
              val e: Expression =
                if (direct.dataType == ae.dataType) direct else Cast(direct, ae.dataType)
              Alias(e, nm)(exprId = al.exprId)
            }
          case _ => None
        }
        if (proj.exists(_.isEmpty)) None
        else Some(Project(proj.map(_.get), scan))

      // coarser grain (incl. global): every grouping expression must be a
      // deterministic function of ts_hour; re-aggregate the partials
      case coarser if coarser.forall(e =>
          e.deterministic && e.references.nonEmpty &&
            e.references.forall(_.name == GroupCol)) || coarser.isEmpty =>
        val regrouped = coarser.map(_.transformUp {
          case a: Attribute if a.name == GroupCol => g
        })
        val outs = aggExprs.map {
          case al @ Alias(ae: AggregateExpression, nm)
              if !ae.isDistinct && ae.filter.isEmpty =>
            forms(ae.aggregateFunction).map { case (_, mergeFn) =>
              val merged: Expression = mergeFn.toAggregateExpression()
              // global count over an empty MV must be 0, not null
              val filled: Expression = mergeFn match {
                case _: Sum if regrouped.isEmpty &&
                    ae.aggregateFunction.isInstanceOf[Count] =>
                  Coalesce(Seq(merged, Literal(0L)))
                case _ => merged
              }
              val e: Expression =
                if (filled.dataType == ae.dataType) filled else Cast(filled, ae.dataType)
              Alias(e, nm)(exprId = al.exprId)
            }
          case al @ Alias(ge, nm) =>
            val inlined = inline(ge, subst)
            bare.zipWithIndex.collectFirst {
              case (b, i) if b.semanticEquals(inlined) =>
                Alias(regrouped(i), nm)(exprId = al.exprId)
            }
          case _ => None
        }
        if (outs.exists(_.isEmpty)) None
        else Some(Aggregate(regrouped, outs.map(_.get), scan))

      case _ => None
    }
  }

  /** Install into an existing session (idempotent) — runs in the User
    * Provided Optimizers batch, after V2 pushdown.
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}
