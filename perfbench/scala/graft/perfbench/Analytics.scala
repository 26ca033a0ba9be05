package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry}
import graft.sources.Tables

/** analytics: one client, closed loop, a fixed interleaved mix of
  * read-only queries — SparkEntry keys (relational, event-window,
  * sketch and Zipf-corpus text keys) plus graft-lake V2 reads (pruned
  * scan, metadata count, time travel) over a lake that set-up builds by
  * two appends and compacts. Nothing writes while the mix runs.
  */
final class Analytics(ctx: Ctx) extends Workload {
  import ctx.spark
  import Analytics._

  private var lake: String = _
  private val appendMs = ArrayBuffer.empty[Double]
  private val compactMs = ArrayBuffer.empty[Double]
  private val lakeReadMs = ArrayBuffer.empty[Double]
  private val versionsPerOp = ArrayBuffer.empty[Double]
  private val filesPerCommit = ArrayBuffer.empty[Double]

  private def lakeRows: DataFrame =
    Tables.events(spark, ctx.inputs).where(col("ts") < lit(LakeEnd).cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")

  private def lakePath(rep: Int) = ctx.path(s"lake/events-$rep")

  def setup(rep: Int): Unit = {
    val path = lakePath(rep)
    val rows = lakeRows
    (0 until Appends).foreach { i =>
      val (v0, f0) = (LakeState.version(path), LakeState.liveFiles(path))
      val t0 = System.nanoTime()
      Graft.lake.append(rows.where(col("event_id") % Appends === i), path)
      appendMs += (System.nanoTime() - t0) / 1e6
      versionsPerOp += LakeState.version(path) - v0
      filesPerCommit += LakeState.liveFiles(path) - f0
    }
    val t0 = System.nanoTime()
    Graft.lake.compact(spark, path)
    compactMs += (System.nanoTime() - t0) / 1e6
    lake = path
  }

  def discard(rep: Int): Unit = graft.sources.LakeIO.rmDir(lakePath(rep))

  private val items: Seq[(String, Boolean, () => DataFrame)] = {
    val q = SparkEntry.queries
    def key(k: String) = (k, false, () => q(k)(spark, ctx.inputs))
    def read(k: String, f: () => DataFrame) = (k, true, f)
    val pruned = read("lake_pruned_scan", () => Graft.lake.read(spark, lake)
      .where(col("ts") >= lit(PrunedFrom).cast("timestamp") &&
        col("ts") < lit(PrunedTo).cast("timestamp"))
      .select("event_id", "ts", "event_type", "value", "user_id")
      .orderBy("event_id"))
    val metaCount = read("lake_metadata_count", () => Graft.lake.read(spark, lake)
      .agg(count(lit(1)).as("n")))
    val travel = read("lake_time_travel", () => Graft.lake.readSnapshot(spark, lake, TravelVersion)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("v"))
      .orderBy("event_type"))
    Seq(key("q1_pricing"), pruned, key("stream_tumble_avg"), key("q3_top_orders"),
      key("approx_top_users"), metaCount, key("bm25_topk"), key("q8_market_share"), travel)
  }

  /** The correctness pass, which is also the JIT and codegen warm-up:
    * every item once, its full result written for the oracle compare.
    * SparkEntry keys run before set-up, the lake reads after it; items
    * run concurrently, one per core.
    */
  private def checkPass(reads: Boolean): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try items.filter(_._2 == reads).map { case (k, _, build) =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          ctx.ntz(build()).coalesce(1).write.mode("overwrite").parquet(ctx.path(s"check/$k"))
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }
  override def prewarm(): Unit = checkPass(reads = false)

  /** The lake reads' correctness pass, then one untimed cycle of the mix
    * as the loop runs it: without it the first timed cycle runs 15-30%
    * slower than later ones while the JIT is still compiling.
    */
  def warm(): Unit = {
    checkPass(reads = true)
    items.foreach { case (_, _, build) => ctx.noop(build()) }
  }

  /** Whole cycles of the mix, so every item has as many samples as the
    * others and the percentiles weigh them alike. A new cycle starts only
    * while the deadline is more than half the last cycle away, so the
    * loop runs `seconds` to within half a cycle.
    */
  def loop(seconds: Double): Loop = {
    val ops = ArrayBuffer.empty[Double]
    val reads = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var cycleS = 0.0
    while (cycleS == 0.0 || elapsed + cycleS / 2 < seconds) {
      val c0 = System.nanoTime()
      items.foreach { case (k, isRead, build) =>
        ctx.op(k) {
          val b0 = System.nanoTime()
          val df = ctx.trace.span(if (isRead) "lake" else "operators", "build")(build())
          val b1 = System.nanoTime()
          ctx.notePlan(df)
          ctx.trace.span("exec", "noop write")(ctx.noop(df))
          if (ctx.tracing) {
            if (isRead) lakeReadMs += (System.nanoTime() - b0) / 1e6
            else ctx.buildMs += (b1 - b0) / 1e6
          }
        }.foreach { case (_, ms) =>
          ops += ms
          if (isRead) reads += ms
        }
      }
      cycleS = (System.nanoTime() - c0) / 1e9
    }
    Loop(ops.toSeq, reads.toSeq, ops.size.toDouble, elapsed)
  }

  def bytesPerUserByte(): Double = ctx.amplification(lake, lakeRows)

  override def layerMetrics(): Map[String, Double] = {
    // the count() the legacy graft.Bench times, per SparkEntry key
    val countMs = items.collect { case (k, false, build) =>
      ctx.trace.span("exec", s"count $k", s"count-$k") {
        val df = build()
        val t0 = System.nanoTime()
        df.count()
        (System.nanoTime() - t0) / 1e6
      }
    }
    Map(
      "exec.count_ms" -> Stats.median(countMs),
      "lake.append_ms" -> Stats.median(appendMs),
      "lake.compact_ms" -> Stats.median(compactMs),
      "lake.read_ms" -> Stats.medianOr0(lakeReadMs),
      "lake.versions_per_op" -> Stats.median(versionsPerOp),
      "lake.files_per_commit" -> Stats.median(filesPerCommit)
    ) ++ LakeState.metrics(lake)
  }

  def finish(): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    Map(
      "check_dir" -> ctx.path("check"),
      "items" -> items.map(_._1),
      "oracle" -> items.collect { case (k, false, _) => k -> oracle(k) }.toMap,
      "lake_end" -> LakeEnd, "lake_appends" -> Appends,
      "travel_version" -> TravelVersion,
      "pruned" -> Seq(PrunedFrom, PrunedTo))
  }
}

object Analytics {
  /** the lake holds the first twelve hours of events: 12 hour partitions */
  val LakeEnd = "2024-01-01 12:00:00"
  val Appends = 2
  /** time travel reads the snapshot of the first append */
  val TravelVersion = 1
  val PrunedFrom = "2024-01-01 03:00:00"
  val PrunedTo = "2024-01-01 06:00:00"
}
