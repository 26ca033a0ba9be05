package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Samples of one timed loop. `op` is the workload's foreground latency
  * (ms), `read` its read latency (ms), `units` the work it completed.
  */
final case class Loop(op: Seq[Double], read: Seq[Double], units: Double, wallS: Double)

/** One workload: set-up (repeatable), warm-up, a timed loop that can be
  * run more than once, and a final step that returns what the
  * correctness checks need.
  */
trait Workload {
  /** warm-up that set-up does not depend on, run before it */
  def prewarm(): Unit = ()
  /** timed set-up; the last rep's state is the one the loop uses */
  def setup(rep: Int): Unit
  /** untimed: drop an earlier rep's state */
  def discard(rep: Int): Unit
  def warm(): Unit
  def loop(seconds: Double): Loop
  /** storage amplification of the workload's stored data at the end */
  def bytesPerUserByte(): Double
  /** observations for the correctness checks (run outside the loop) */
  def finish(): Map[String, Any]
  /** per-layer figures owned by the workload (lake, streaming, serving) */
  def layerMetrics(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** Shared state of a run: the session, the trace, the op bookkeeping. */
final class Ctx(val spark: SparkSession, val root: String, val inputs: String,
    val cores: Int) {
  val trace = new Trace
  val layers = new Layers(spark, trace)
  def tracing: Boolean = trace.enabled
  val attempted = new java.util.concurrent.atomic.AtomicLong(0L)
  val failed = new java.util.concurrent.atomic.AtomicLong(0L)
  val errors = ArrayBuffer.empty[String]
  val buildMs = ArrayBuffer.empty[Double]
  val opWallMs = TrieMap.empty[String, Double]
  val opPlans = TrieMap.empty[String, Layers#OpPlan]
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val notedPlans = new ThreadLocal[List[org.apache.spark.sql.execution.QueryExecution]] {
    override def initialValue() = Nil
  }

  /** Count `df`'s own planning (its analysis ran when it was built) in
    * the current op's plan figures.
    */
  def notePlan(df: DataFrame): Unit =
    if (tracing) notedPlans.set(df.queryExecution :: notedPlans.get())

  /** Run one foreground op. A thrown op counts as failed and yields no
    * sample; its cause is kept for the report.
    */
  def op[T](kind: String)(body: => T): Option[(T, Double)] = {
    val id = s"$kind-${seq.incrementAndGet()}"
    attempted.incrementAndGet()
    spark.sparkContext.setLocalProperty(Layers.OpKey, id)
    val t0 = System.nanoTime()
    val out =
      try Some(trace.span("harness", kind, id)(body))
      catch {
        case NonFatal(e) =>
          failed.incrementAndGet()
          errors.synchronized { errors += s"$kind $id: ${e.getClass.getSimpleName}: ${e.getMessage}" }
          None
      } finally spark.sparkContext.setLocalProperty(Layers.OpKey, null)
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracing) {
      opWallMs.put(id, ms)
      opPlans.put(id, layers.close(id, notedPlans.get()))
    }
    notedPlans.remove()
    out.map(r => (r, ms))
  }

  /** Full-plan materialization: every row of `df` is produced. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def path(rel: String): String = {
    val f = new java.io.File(root, rel)
    f.getParentFile.mkdirs()
    f.getPath
  }

  /** Bytes of every regular file under `dir`. */
  def duBytes(dir: String, keep: java.io.File => Boolean = _ => true): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (keep(f)) f.length() else 0L
    walk(new java.io.File(dir))
  }

  /** On-disk bytes of a lake table over the bytes of its live rows
    * written once as a single zstd parquet file.
    */
  def amplification(lakeDir: String, live: DataFrame): Double = {
    val one = path(s"amp/${seq.incrementAndGet()}")
    live.coalesce(1).write.option("compression", "zstd").parquet(one)
    val user = duBytes(one, _.getName.endsWith(".parquet"))
    graft.sources.LakeIO.rmDir(one)
    duBytes(lakeDir).toDouble / math.max(1L, user)
  }

  /** Timestamps as TIMESTAMP_NTZ (wall clock, session zone UTC) so the
    * checks compare naive to naive.
    */
  def ntz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampType) d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
      else d
    }
  }

  /** exec/plans/operators figures over the traced ops, and each layer's
    * self time per unit of work the traced loop completed.
    */
  def commonLayers(units: Double): Map[String, Double] = {
    val ids = opWallMs.keys.toSeq
    val ex = ids.flatMap(layers.exec.get)
    def med(f: Layers#OpExec => Double) = Stats.medianOr0(ex.map(f))
    def per(f: Layers#OpExec => Double) = if (ids.isEmpty) 0.0 else ex.map(f).sum / ids.size
    val pl = ids.flatMap(opPlans.get)
    def pmed(f: Layers#OpPlan => Double) = Stats.medianOr0(pl.map(f))
    def pper(f: Layers#OpPlan => Double) = if (pl.isEmpty) 0.0 else pl.map(f).sum / pl.size
    val busy = ids.flatMap(id => layers.exec.get(id).map(x =>
      x.runMs / math.max(1e-9, opWallMs(id) * cores)))
    val execMs = ex.map { x =>
      x.jobSpans.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((tot, end), (a, b)) =>
        if (a >= end) (tot + (b - a), b)
        else if (b > end) (tot + (b - end), b)
        else (tot, end)
      }._1.toDouble
    }
    val self = trace.selfMs
    Map(
      "operators.build_ms" -> Stats.medianOr0(buildMs),
      "plans.analysis_ms" -> pmed(_.analysisMs),
      "plans.optimization_ms" -> pmed(_.optimizationMs),
      "plans.physical_ms" -> pmed(_.physicalMs),
      "plans.files_read" -> pper(_.filesRead.toDouble),
      "plans.files_total" -> pper(_.filesTotal.toDouble),
      "exec.ms" -> Stats.medianOr0(execMs),
      "exec.jobs" -> per(_.jobs.toDouble),
      "exec.stages" -> per(_.stages.toDouble),
      "exec.tasks" -> per(_.tasks.toDouble),
      "exec.task_run_ms" -> med(_.runMs),
      "exec.task_cpu_ms" -> med(_.cpuMs),
      "exec.scheduler_delay_ms" -> med(_.schedMs),
      "exec.gc_ms" -> med(_.gcMs),
      "exec.busy_ratio" -> Stats.medianOr0(busy),
      "exec.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "exec.spill_bytes" -> per(_.spill.toDouble),
      "exec.task_skew" -> Stats.medianOr0(ex.map(Layers.skew)),
      "trace.spans" -> trace.all.size.toDouble
    ) ++ Main.Layers.map(l => s"$l.self_ms" -> self.getOrElse(l, 0.0) / math.max(1.0, units))
  }
}

object Main {
  val Layers = Seq("operators", "plans", "exec", "lake", "streaming", "serving")

  /** Every per-layer metric a traced run reports; a layer the workload
    * does not exercise reports 0.
    */
  val PerLayer: Seq[String] = Seq(
    "operators.build_ms",
    "plans.analysis_ms", "plans.optimization_ms", "plans.physical_ms",
    "plans.files_read", "plans.files_total",
    "exec.ms", "exec.count_ms", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.scheduler_delay_ms",
    "exec.busy_ratio", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.gc_ms", "exec.task_skew",
    "lake.append_ms", "lake.compact_ms", "lake.read_ms",
    "lake.files_per_commit", "lake.live_data_files",
    "lake.data_bytes", "lake.metadata_bytes", "lake.versions_per_op",
    "streaming.batch_ms", "streaming.latest_offset_ms", "streaming.batch_rows",
    "streaming.state_rows", "streaming.lake_commit_ms", "streaming.upsert_ms",
    "serving.ingest_ms", "serving.ingest_p99_ms", "serving.api_ms",
    "serving.spool_backlog",
    "trace.overhead_pct", "trace.spans") ++ Layers.map(l => s"$l.self_ms")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def session(root: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints")
      // list partition directories in-process, as Verify and Bench do
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()
  /** phase marks on stderr, for reading a slow run's log */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s $what")

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val root = arg(args, "--root")
    val inputs = arg(args, "--inputs")
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val reps = arg(args, "--setup-reps").toInt
    val cores = arg(args, "--cores").toInt
    val out = arg(args, "--out")
    val spark = session(root, cores)
    mark("session")
    val ctx = new Ctx(spark, root, inputs, cores)
    val w: Workload = workload match {
      case "analytics" => new Analytics(ctx)
      case "speed_layer" => new SpeedLayer(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var result: Map[String, Any] = Map.empty
    try {
      w.prewarm()
      mark("prewarm")
      val setupS = (0 until reps).map { r =>
        val t0 = System.nanoTime()
        w.setup(r)
        val s = (System.nanoTime() - t0) / 1e9
        if (r < reps - 1) w.discard(r)
        s
      }
      mark("setup")
      w.warm()
      mark("warm-up")
      val plain = w.loop(seconds)
      mark("timed loop")
      require(plain.op.nonEmpty, s"$workload: the timed loop completed no op")
      val e2e = Map(
        "setup_s" -> Stats.median(setupS),
        "op_p50_ms" -> Stats.pct(plain.op, 50),
        "op_p90_ms" -> Stats.pct(plain.op, 90),
        "read_p50_ms" -> Stats.median(plain.read),
        "throughput_per_s" -> plain.units / plain.wallS)
      val layerMetrics: Map[String, Double] =
        if (!traced) Map.empty
        else {
          ctx.layers.start()
          ctx.trace.enabled = true
          val t = w.loop(seconds)
          val common = ctx.commonLayers(t.units)
          val own = w.layerMetrics()
          ctx.trace.enabled = false
          ctx.layers.stop()
          val all = common ++ own + (
            "trace.overhead_pct" -> (Stats.pct(t.op, 50) / Stats.pct(plain.op, 50) - 1.0) * 100.0)
          PerLayer.map(n => n -> all.getOrElse(n, 0.0)).toMap
        }
      val amp = w.bytesPerUserByte()
      mark("amplification")
      val check = w.finish()
      mark("finish")
      if (traced) ctx.trace.write(s"$root/spans.jsonl")
      result = Map(
        "workload" -> workload,
        "attempted" -> ctx.attempted.get, "failed" -> ctx.failed.get, "errors" -> ctx.errors.toSeq,
        "e2e" -> (e2e + ("bytes_per_user_byte" -> amp)),
        "layers" -> layerMetrics,
        "samples" -> Map("setup_s" -> setupS, "op_ms" -> plain.op, "read_ms" -> plain.read),
        "check" -> check,
        "host" -> Map(
          "heap_bytes" -> Runtime.getRuntime.maxMemory(),
          "jdk" -> System.getProperty("java.version"),
          "spark" -> spark.version,
          "cores" -> cores))
    } finally {
      try w.close() finally spark.stop()
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json(result))
  }
}
