package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Cores the cgroup actually allows, if a quota is set. `local[32]` on
    * a container throttled to (say) 4 cores oversubscribes
    * catastrophically: 32 task threads time-slice 4 CPUs, every query's
    * wall inflates ~8x, and the driver's external timeout kills the
    * whole bench (BENCH_r12/_r13 both DNF'd with rc=124 — the requested
    * core count was trusted blindly). Reads cgroup v2 `cpu.max`
    * ("<quota|max> <period>") then the v1 cfs_quota/period pair.
    */
  private[graft] def cgroupQuotaCores(): Option[Int] = {
    def read(p: String): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8").trim)
      catch { case _: Exception => None }
    def cores(quota: Double, period: Double): Option[Int] =
      if (quota > 0 && period > 0)
        Some(math.max(1, math.ceil(quota / period).toInt))
      else None
    val v2 = read("/sys/fs/cgroup/cpu.max").flatMap { s =>
      s.split("\\s+") match {
        case Array(q, p) if q != "max" =>
          try cores(q.toDouble, p.toDouble) catch { case _: Exception => None }
        case _ => None
      }
    }
    v2.orElse {
      try for {
        q <- read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us").map(_.toDouble)
        p <- read("/sys/fs/cgroup/cpu/cpu.cfs_period_us").map(_.toDouble)
        c <- cores(q, p)
      } yield c
      catch { case _: Exception => None }
    }
  }

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wall0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val requested = try sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
      catch { case _: Exception => 4 }
    val quota = cgroupQuotaCores()
    // min(requested, real quota): the driver deliberately re-runs the
    // bench at LOWER core counts to measure scaling, so the requested
    // value must stay authoritative downward — the clamp only stops
    // oversubscription when the sandbox is throttled below the request.
    val cpus = math.min(requested, quota.getOrElse(requested))
    // Resilience contract (VERDICT r13 #1): two consecutive driver
    // benches were killed by an external timeout with ZERO output
    // because the JSON line printed only after all passes. Now a
    // cumulative bench.json is flushed after EVERY query, the stdout
    // JSON line is printed after EVERY completed pass (the driver
    // parses the LAST line), and a wall-clock deadline finalizes early
    // — min 1 full pass, exit 0 — instead of being killed with nothing.
    val deadlineS = try sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DEADLINE_S", "900").toDouble
      catch { case _: Exception => 900.0 }
    // Standalone discriminator (CLAUDE.md bench-noise note): run ONLY the
    // named queries under the identical session/fork — a query that is
    // sustained-slow in the full suite but fast here is suite-environment
    // noise (JIT/GC pressure from 150 other codegen'd queries), not a
    // plan change.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // local-FS listing on the driver (see Verify.scala — job-based
      // discovery costs ~2 s of scheduling per V1 partitioned scan here)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      // the whole suite's generated classes must FIT the plan cache:
      // the default 100 entries < 153 queries means interleaved passes
      // evict every plan between samples, so each sample re-pays
      // whole-stage codegen compilation (measured r6: document-op
      // medians 2-4× inflated) — the same class of artifact the
      // ReservedCodeCacheSize=1g pin (build.sbt) fixes one level down
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/file-listing paths so the first timed query
    // doesn't absorb ~5 s of one-time startup cost.
    graft.sources.Tables.events(spark, sfDir).groupBy("event_type").count().count()
    // Build EVERY write-once fixture before the first timed pass, and
    // build them CONCURRENTLY: a fixture is written once and queried
    // many times, so the timed samples must measure the query, never
    // the ingest. r12's driver bench died (rc=124) on ~930 s of these
    // builds running serialized inside timed pass 1 — Fixtures owns the
    // full root inventory now, one task per root (see Fixtures.scala).
    val t0w = System.nanoTime()
    Fixtures.prebuildAll(spark, sfDir,
      sys.env.getOrElse("SPARK_GRAFT_PREBUILD_PAR", "8").toInt)
    val prebuildS = (System.nanoTime() - t0w) / 1e9
    System.err.println(f"[bench] fixture prebuild $prebuildS%.1f s " +
      f"(requested=$requested effective=$cpus quota=${quota.getOrElse(-1)})")
    // Fixed (sorted) execution order so per-query timings are comparable
    // across rounds — Map iteration order is hash-dependent.
    // INTERLEAVED median-of-R (default 3): each pass runs the whole suite
    // once, so a query's R samples are separated by a full suite pass
    // (~60 s) instead of back-to-back. Temporally-local environment noise
    // (GC phase, JIT recompilation storm, host hiccup) then lands on ONE
    // sample and the median rejects it — back-to-back sampling let a bad
    // minute flag a healthy query as "sustained" slow (r5 closed on 3
    // such phantoms; the standalone re-runs matched r4).
    // Min alongside median: a median >> min on the same query flags
    // allocation/GC noise rather than a plan change.
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // per key: the full materialization's seconds (`samples`, what
    // Verify writes), the legacy count()'s seconds (`countSamples`: Catalyst
    // drops sorts and unused projections under a count) and the jobs the
    // full materialization launched
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val countSamples = scala.collection.mutable.Map.empty[String, List[Double]]
    val jobSamples = scala.collection.mutable.Map.empty[String, List[Int]]
    // a query that throws is an error, never a sample: a throw after
    // 50 ms would otherwise read as a 20x speedup. Last cause per key.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    // BENCH_ONLY runs go to a side file: a 3-query subset must never
    // overwrite the full-suite bench.json the gate compares.
    val outName = if (only.isDefined) "bench_only.json" else "bench.json"

    def render(passes: Int, deadlineHit: Boolean): String = {
      // (key, median, min) of every key with a sample
      def summarize(m: scala.collection.Map[String, List[Double]]) =
        queries.flatMap { case (name, _) =>
          m.get(name).filter(_.nonEmpty).map { raw =>
            val ts = raw.sorted
            (name, ts(ts.length / 2), ts.head)
          }
        }
      val results = summarize(samples)
      val counts = summarize(countSamples)
      def jmap(kv: Seq[(String, Any)]): String =
        kv.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
      // per-sample arrays make bench.json SELF-DIAGNOSING: a flagged query
      // whose samples are bimodal (one clean sample under the bar) is a
      // host hiccup recurring at the same suite position, not a plan
      // change — bench_compare labels it noise-suspect instead of burning
      // a session on a standalone re-run (r11 adjudication cost)
      def jsamples(m: scala.collection.Map[String, List[Double]]): String =
        jmap(summarize(m).map { case (name, _, _) => name -> m(name).reverse.mkString("[", ",", "]") })
      val jobs = results.map { case (name, _, _) =>
        val js = jobSamples(name).sorted
        name -> js(js.length / 2)
      }
      val jerrors = errors.map { case (k, v) =>
        Verify.jsonString(k) + ":" + Verify.jsonString(v) }.mkString("{", ",", "}")
      val total = results.map(_._2).sum
      val totalMin = results.map(_._3).sum
      // telemetry fields (VERDICT r13 #7): the NEXT dnf — if any — must
      // be diagnosable from the artifact alone (which host shape, which
      // phase ate the wall), not from WARN-timestamp archaeology
      s"""{"metric":"total","value":$total,"unit":"sec","value_min":$totalMin,""" +
        s""""queries":${jmap(results.map(r => (r._1, r._2)))},""" +
        s""""queries_min":${jmap(results.map(r => (r._1, r._3)))},""" +
        s""""samples":${jsamples(samples)},""" +
        s""""queries_count":${jmap(counts.map(r => (r._1, r._2)))},""" +
        s""""queries_count_min":${jmap(counts.map(r => (r._1, r._3)))},""" +
        s""""samples_count":${jsamples(countSamples)},""" +
        s""""queries_jobs":${jmap(jobs)},"sf":"$sfDir","errors":$jerrors,""" +
        s""""passes":$passes,"keys":${results.length},"deadline_hit":$deadlineHit,""" +
        s""""requested_cpus":$requested,"effective_cpus":$cpus,""" +
        s""""cgroup_quota_cores":${quota.getOrElse(-1)},""" +
        s""""available_processors":${Runtime.getRuntime.availableProcessors()},""" +
        s""""prebuild_s":$prebuildS,""" +
        s""""pass_walls":${passWalls.mkString("[", ",", "]")},""" +
        s""""elapsed_s":$elapsedS}"""
    }
    // Persist too: sbt prefixes logger-routed stdout with "[info] ", which
    // broke the driver's JSON parse in round 1 — bench.json is the backup.
    def flush(passes: Int, deadlineHit: Boolean): String = {
      val line = render(passes, deadlineHit)
      // atomic rename LAST (ADVICE r14 #2): a kill mid-write must not
      // leave a truncated bench.json — the zero-output failure mode the
      // per-query flush exists to prevent
      val tmp = java.nio.file.Paths.get(outName + ".tmp")
      java.nio.file.Files.writeString(tmp, line)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(outName),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      line
    }

    var pass = 0
    var deadlineHit = false
    while (pass < rounds && !deadlineHit) {
      val t0p = System.nanoTime()
      queries.foreach { case (name, fn) => if (!deadlineHit) {
        // Dedup/similarity ops persist() intermediates (shingle sets etc.)
        // that only the returned plan's execution needs — each run creates
        // a NEW cache entry and nothing unpersists, so 300+ dead caches
        // would accumulate across the registry and GC-starve later
        // (alphabetically: lake_*) queries. Every run benches cold-cache
        // instead: stable AND comparable.
        def seconds(run: => Unit): Double = {
          val t0 = System.nanoTime()
          try { run; (System.nanoTime() - t0) / 1e9 } finally spark.catalog.clearCache()
        }
        try {
          // the count first, at the position the count-only bench ran it
          val countS = seconds(fn(spark, sfDir).count())
          // then the full plan, materialized as Verify writes it, under
          // its own job group (jobs counted once the listener bus drains)
          val (fullS, jobs) = org.apache.spark.graft.JobCount(spark.sparkContext)(
            seconds(fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
          countSamples(name) = countS :: countSamples.getOrElse(name, Nil)
          samples(name) = fullS :: samples.getOrElse(name, Nil)
          jobSamples(name) = jobs :: jobSamples.getOrElse(name, Nil)
        } catch { case scala.util.control.NonFatal(e) =>
          errors(name) = String.valueOf(e).linesIterator.nextOption().getOrElse("")
        }
        // flush after EVERY query: an external kill at ANY point leaves
        // a parseable bench.json with every sample taken so far
        flush(pass, deadlineHit = false)
        // deadline: never truncate pass 1 (every key must collect ≥1
        // sample — a partial key set degrades the driver's comparison
        // far more than a long pass does); from pass 2 on, finish the
        // current query and finalize with the samples that exist.
        if (pass >= 1 && elapsedS > deadlineS) deadlineHit = true
      } }
      pass += 1
      passWalls += (System.nanoTime() - t0p) / 1e9
      if (pass < rounds && elapsedS > deadlineS) deadlineHit = true
      // the stdout JSON line after EVERY completed pass: the driver
      // parses the LAST line, so a kill mid-pass-2 still leaves the
      // complete pass-1 result on stdout
      println(flush(pass, deadlineHit))
      if (deadlineHit)
        System.err.println(f"[bench] deadline ${deadlineS}%.0f s crossed at " +
          f"$elapsedS%.1f s — finalizing with $pass pass(es)")
    }
    spark.stop()
    // The bare JSON metric line goes LAST on stdout, un-prefixed (forked
    // run uses OutputStrategy.StdoutOutput; Spark logs go to stderr).
    println(flush(pass, deadlineHit))
    if (errors.nonEmpty) {
      errors.foreach { case (k, v) => System.err.println(s"[bench] FAILED $k: $v") }
      System.err.println(s"[bench] ${errors.size} of ${queries.size} query(ies) failed")
      sys.exit(1)
    }
  }
}
