package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.LocalFs

/** The generic EXACTLY-ONCE micro-batch append machinery shared by every
  * streaming-maintained derived index (ANN cells: [[StreamingAnn]];
  * inverted-index postings: [[StreamingPostings]]). One index directory
  * holds one BATCH LEDGER plus one or more [[BatchLedgerIndex.Layout]]s —
  * partition-dir parquet layouts that grow by per-batch file appends.
  *
  * The contract (proved by StreamingAnnSpec / StreamingPostingsSpec):
  *  - every file of batch b carries a `b<b>-` prefix; the LEDGER write
  *    (atomic tmp+rename, single-writer — a streaming query has one
  *    driver) is the commit point and happens LAST, after ALL layouts'
  *    files moved in;
  *  - a replayed id found in the ledger is a no-op; a replay NOT in the
  *    ledger first deletes any `b<b>-` orphans of the crashed attempt
  *    (across all layouts — a crash between two layouts' moves leaves
  *    visible orphans in the first), then re-stages;
  *  - compaction (maintenance, stream STOPPED) sweeps uncommitted-batch
  *    orphans FIRST (a folded orphan would double when its batch
  *    legitimately replays), folds everything else into a `c<gen>-`
  *    generation per partition dir, and keeps the ledger's committed ids
  *    so pre-compaction replays stay no-ops.
  *
  * 100 TB shape: per micro-batch cost is O(batch) transform work + one
  * clustering shuffle per partitioned layout; files accrue
  * one-per-touched-partition-per-batch, reset by compaction — the same
  * arithmetic as any streaming lake sink. The index stays a DERIVED
  * artifact: the source-of-truth rebuild is always the base table.
  */
object BatchLedgerIndex {

  /** One sub-layout: rows land under `indexDir/sub` (or `indexDir`
    * itself when `sub` is empty), clustered into `partCol=` directories
    * (or a single flat directory when None — e.g. per-batch stats rows).
    * `sortCols` orders rows WITHIN each written file (after the partCol
    * cluster) so point predicates on those columns prune parquet row
    * groups by min/max stats — the postings layout sorts by term.
    */
  final case class Layout(sub: String, partCol: Option[String],
      sortCols: Seq[String] = Nil) {
    def base(indexDir: String): java.io.File =
      if (sub.isEmpty) new java.io.File(indexDir)
      else new java.io.File(indexDir, sub)
  }

  /** The layout's staged write: cluster by partCol, order each task's
    * rows by (partCol, sortCols) so every written file is sorted.
    */
  private def stagedWriter(l: Layout, rows: DataFrame) = l.partCol match {
    case Some(pc) =>
      val r = rows.repartition(col(pc))
      val s = if (l.sortCols.isEmpty) r
        else r.sortWithinPartitions((pc +: l.sortCols).map(col): _*)
      s.write.options(LocalFs.WriteOptions).partitionBy(pc)
    case None => rows.coalesce(1).write.options(LocalFs.WriteOptions)
  }

  private def ledgerFile(indexDir: String, ledgerName: String) =
    new java.io.File(indexDir, ledgerName)

  def committedBatches(indexDir: String, ledgerName: String): Set[Long] = {
    val f = ledgerFile(indexDir, ledgerName)
    if (!f.exists()) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(f.toPath).asScala
        .flatMap(_.trim.toLongOption).toSet
    }
  }

  private def recordBatch(indexDir: String, ledgerName: String,
      batchId: Long): Unit = {
    val dir = new java.io.File(indexDir)
    dir.mkdirs()
    val content = (committedBatches(indexDir, ledgerName) + batchId)
      .toSeq.sorted.mkString("", "\n", "\n")
    val tmp = new java.io.File(dir, s".$ledgerName.tmp")
    java.nio.file.Files.write(tmp.toPath, content.getBytes("UTF-8"))
    tmp.renameTo(ledgerFile(indexDir, ledgerName))
    ()
  }

  private def rm(f: java.io.File): Unit =
    graft.sources.LakeIO.rmDir(f.getPath)

  /** The layout's data directories: its `partCol=` dirs, or (flat) just
    * its base.
    */
  private def dataDirs(indexDir: String, l: Layout): Seq[java.io.File] = {
    val base = l.base(indexDir)
    l.partCol match {
      case Some(pc) =>
        Option(base.listFiles()).getOrElse(Array.empty).toSeq
          .filter(d => d.isDirectory && d.getName.startsWith(pc + "="))
      case None => Seq(base).filter(_.isDirectory)
    }
  }

  private def dataFiles(indexDir: String, l: Layout): Seq[java.io.File] =
    dataDirs(indexDir, l).flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")))

  private def sweep(indexDir: String, l: Layout)
      (doomed: String => Boolean): Unit =
    dataFiles(indexDir, l).filter(f => doomed(f.getName)).foreach(_.delete())

  /** Move a staged write's files under the layout with `prefix`. */
  private def moveIn(stage: String, indexDir: String, l: Layout,
      prefix: String): Unit = {
    val stageDirs: Seq[(java.io.File, java.io.File)] = l.partCol match {
      case Some(pc) =>
        Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty).toSeq
          .filter(d => d.isDirectory && d.getName.startsWith(pc + "="))
          .map(d => d -> new java.io.File(l.base(indexDir), d.getName))
      case None =>
        Seq(new java.io.File(stage) -> l.base(indexDir))
    }
    stageDirs.foreach { case (src, dest) =>
      dest.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .foreach { f =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(dest, prefix + f.getName).toPath)
        }
    }
  }

  /** Append one micro-batch across all layouts, idempotently under
    * batch-id replay. `parts` pairs each layout with its (already
    * transformed) rows for this batch; a partitioned layout's DataFrame
    * must contain its partCol. `recoverAll` lists layouts this index
    * kind owns beyond the ones this batch writes — phase-1 compaction
    * rollback must sweep EVERY layout a compaction could have staged
    * (a crash recovered through a narrower entry point would leave
    * half-moved `c<gen>-` files of the unswept layout live alongside
    * their originals, duplicating rows).
    */
  def appendBatch(indexDir: String, ledgerName: String,
      parts: Seq[(Layout, DataFrame)], batchId: Long,
      recoverAll: Seq[Layout] = Nil): Unit = {
    recoverCompaction(indexDir, (parts.map(_._1) ++ recoverAll).distinct)
    if (committedBatches(indexDir, ledgerName).contains(batchId)) return
    val prefix = s"b$batchId-"
    parts.foreach { case (l, _) =>
      sweep(indexDir, l)(_.startsWith(prefix)) // crashed attempt's orphans
    }
    parts.zipWithIndex.foreach { case ((l, df), i) =>
      val stage = indexDir + s"_stage_p${i}_b$batchId"
      stagedWriter(l, df).mode("overwrite").parquet(stage)
      moveIn(stage, indexDir, l, prefix)
      rm(new java.io.File(stage))
    }
    recordBatch(indexDir, ledgerName, batchId) // commit point, LAST
  }

  /** Read one layout's live rows. */
  def read(s: SparkSession, indexDir: String, l: Layout): DataFrame =
    s.read.parquet(l.base(indexDir).toString)

  private def markerFile(indexDir: String) =
    new java.io.File(indexDir, "_graft_compacting")

  private def writeMarker(indexDir: String, content: String): Unit = {
    val tmp = new java.io.File(indexDir, "._graft_compacting.tmp")
    java.nio.file.Files.write(tmp.toPath, content.getBytes("UTF-8"))
    tmp.renameTo(markerFile(indexDir))
    ()
  }

  private def relOf(indexDir: String, f: java.io.File): String =
    f.getAbsolutePath.stripPrefix(
      new java.io.File(indexDir).getAbsolutePath + "/")

  /** Recover a crashed compaction before touching the index. The marker
    * is two-phase: phase 1 (`gen:<g>` alone, plus any `meta:` lines)
    * means the crash happened while the `c<g>-` generation was moving
    * in — ROLL BACK by deleting that generation's files (the folded
    * originals are all still live; `meta:` descriptors were NOT applied,
    * so the old descriptors stay authoritative). Phase 2 (`gen:<g>` +
    * the originals' relative paths) means the generation is fully in and
    * the descriptor flip / original deletes were in flight — ROLL
    * FORWARD by re-applying the `meta:` descriptor files (idempotent
    * rewrites) and finishing the deletes. Either way the index holds
    * exactly one copy of every row afterwards AND its descriptors match
    * its layout; without this, a crash between move-in and
    * original-delete left BOTH copies live and the next fold made the
    * duplication permanent (doubled tf/df for postings, doubled
    * candidates for ANN cells) — and a half-applied re-bucketing would
    * probe the wrong partition dirs.
    */
  private def recoverCompaction(indexDir: String, layouts: Seq[Layout]): Unit = {
    val m = markerFile(indexDir)
    if (!m.exists()) return
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(m.toPath).asScala.toSeq
    val gen = lines.head.stripPrefix("gen:")
    val metas = lines.drop(1).filter(_.startsWith("meta:"))
    val olds = lines.drop(1).filter(l => l.nonEmpty && !l.startsWith("meta:"))
    if (olds.nonEmpty) { // phase 2: roll FORWARD
      applyMetas(indexDir, metas)
      olds.foreach { r => new java.io.File(indexDir, r).delete(); () }
    }
    else layouts.foreach(l => sweep(indexDir, l)(_.startsWith(s"c$gen-")))
    m.delete()
    ()
  }

  /** `meta:<name>=<content>` marker lines → single-line descriptor files
    * committed atomically WITH the compaction (written after the phase-2
    * marker, re-written by roll-forward recovery — so descriptor and
    * layout can never disagree across a crash).
    */
  private def applyMetas(indexDir: String, metas: Seq[String]): Unit =
    metas.foreach { line =>
      val kv = line.stripPrefix("meta:")
      val (name, content) = kv.splitAt(kv.indexOf('='))
      val tmp = new java.io.File(indexDir, s".$name.tmp")
      java.nio.file.Files.write(tmp.toPath,
        (content.stripPrefix("=") + "\n").getBytes("UTF-8"))
      tmp.renameTo(new java.io.File(indexDir, name))
      ()
    }

  /** Compact every layout to ~one `c<gen>-` generation file per
    * partition dir. Maintenance contract: stream STOPPED. Returns
    * (filesBefore, filesAfter) summed over layouts.
    */
  def compact(s: SparkSession, indexDir: String, ledgerName: String,
      layouts: Seq[Layout]): (Int, Int) =
    compactWith(s, indexDir, ledgerName, layouts, _ => Map.empty)

  /** [[compact]] with a per-layout REWRITE fold — the seam tombstone
    * purging and bucket-fan-out evolution run through. `fold` receives
    * each layout's live rows keyed by `Layout.sub` (only layouts that
    * currently have files) and returns, per sub it wants to rewrite:
    *   - `Some(df)` — REPLACE the layout's rows with `df` (purged
    *     postings, a corrected stats row, re-bucketed postings);
    *   - `None` — DROP the layout's rows entirely (applied tombstones);
    *   - an absent key — identity fold (re-clustered as-is).
    * `metaOnCommit` single-line descriptor files (e.g. the bucket
    * fan-out) are written AFTER the phase-2 marker and re-applied by
    * roll-forward recovery, so a descriptor can never disagree with the
    * layout it describes across a crash: phase-1 rollback restores the
    * old files and never touches the descriptor; phase-2 roll-forward
    * rewrites the descriptor before finishing the deletes.
    *
    * 100 TB shape: the fold's rewrites are full distributed plans —
    * partitioned layouts re-cluster via repartition(partCol), never a
    * single-task funnel; only flat layouts (per-batch stats rows —
    * metadata-sized by contract) coalesce(1).
    */
  def compactWith(s: SparkSession, indexDir: String, ledgerName: String,
      layouts: Seq[Layout],
      fold: Map[String, DataFrame] => Map[String, Option[DataFrame]],
      metaOnCommit: Seq[(String, String)] = Nil): (Int, Int) = {
    recoverCompaction(indexDir, layouts)
    sweepStaleSiblings(indexDir)
    val committed = committedBatches(indexDir, ledgerName)
    // orphans of UNCOMMITTED batches first: folded orphans become
    // permanent and double when their batch legitimately replays
    layouts.foreach(l => sweep(indexDir, l) { name =>
      name.startsWith("b") && name.contains("-") &&
        name.substring(1, name.indexOf('-')).toLongOption
          .exists(id => !committed.contains(id))
    })
    val metaLines = metaOnCommit.map { case (n, c) =>
      require(!n.contains('=') && !c.contains('\n'),
        s"meta descriptor must be single-line, '='-free name: $n=$c")
      s"meta:$n=$c"
    }
    val before = layouts.map(l => dataFiles(indexDir, l)).reduce(_ ++ _)
    if (before.isEmpty) {
      // an EMPTY index still honors descriptor flips: ALTER … REBUCKET
      // on a postings-less index must leave future appends bucketing at
      // the NEW modulus — returning before the descriptor write made
      // the command report success while `_graft_buckets` silently kept
      // the old fan-out. No layout exists for the descriptor to
      // disagree with, so a bare atomic rewrite is crash-safe here.
      if (metaLines.nonEmpty) {
        new java.io.File(indexDir).mkdirs()
        applyMetas(indexDir, metaLines)
      }
      return (0, 0)
    }
    val live: Map[String, DataFrame] = layouts
      .filter(l => dataFiles(indexDir, l).nonEmpty)
      .map(l => l.sub -> read(s, indexDir, l)).toMap
    val rewrites = fold(live)
    val gen = System.currentTimeMillis()
    // stage EVERY layout first — stage writes read only original files
    val staged: Seq[(Layout, String)] = layouts.flatMap { l =>
      val content: Option[DataFrame] =
        if (!live.contains(l.sub)) None
        else rewrites.getOrElse(l.sub, Some(live(l.sub)))
      content.map { rows =>
        val stage = indexDir + s"_compact_${l.sub.replace('/', '_')}_$gen"
        stagedWriter(l, rows).mode("overwrite").parquet(stage)
        l -> stage
      }
    }
    // originals of every layout being compacted OR dropped
    val olds = layouts.filter(l => live.contains(l.sub))
      .flatMap(l => dataFiles(indexDir, l))
    // phase 1: crash ⇒ roll back c<gen>- (metas NOT applied)
    writeMarker(indexDir, (s"gen:$gen" +: metaLines).mkString("\n"))
    staged.foreach { case (l, stage) =>
      moveIn(stage, indexDir, l, s"c$gen-")
      rm(new java.io.File(stage))
    }
    // phase 2: generation fully in — crash ⇒ roll forward (re-apply
    // metas, finish deletes)
    writeMarker(indexDir,
      ((s"gen:$gen" +: metaLines) ++ olds.map(relOf(indexDir, _))).mkString("\n"))
    applyMetas(indexDir, metaLines)
    olds.foreach(_.delete())
    markerFile(indexDir).delete()
    // dropped/re-bucketed layouts leave empty partition dirs behind —
    // prune them so listings stay O(live partitions)
    layouts.foreach { l =>
      dataDirs(indexDir, l).foreach { d =>
        if (l.partCol.isDefined &&
            Option(d.listFiles()).forall(_.isEmpty)) { d.delete(); () }
      }
    }
    // watermark line: committed ids stay recorded so their replays
    // remain no-ops (their rows now live in the c<gen>- generation)
    recordBatch(indexDir, ledgerName, -1L * gen)
    (before.size, layouts.map(l => dataFiles(indexDir, l)).reduce(_ ++ _).size)
  }

  /** A compaction that crashed before its phase-1 marker leaves orphaned
    * sibling `<indexDir>_compact_*` stage dirs forever (gen is a fresh
    * timestamp each run, so no later attempt revisits them); crashed
    * append attempts can likewise strand `<indexDir>_stage_*` dirs whose
    * batch never replays. Disk leak only — swept at compaction entry
    * (maintenance time, stream STOPPED, so no in-flight append owns any
    * sibling stage dir).
    */
  private def sweepStaleSiblings(indexDir: String): Unit = {
    val base = new java.io.File(indexDir)
    val (parent, name) = (base.getParentFile, base.getName)
    if (parent == null) return
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
        (d.getName.startsWith(name + "_compact_") ||
         d.getName.startsWith(name + "_stage_")))
      .foreach(rm)
  }
}
