package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SharedSpark.{spark, tempDir}
import graft.streaming.WeatherPipeline._

/** T1-T6 streaming parity (SURVEY.md §2.5): watermark, tumble windows,
  * late-data drop, upsert refinement across micro-batches, malformed-row
  * tolerance — the scalatest replacement for the reference's
  * watch-the-dashboard verification of weather-aggregation.sql.
  */
class StreamingSpec extends AnyFunSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("T2: tumbling window bounds and per-window aggregation") {
    val input = MemoryStream[WeatherRecord]
    val store = new UpsertStore
    val q = WeatherPipeline.run(input.toDF(), store)
    try {
      input.addData(
        WeatherRecord("A", "10.0", "2024-01-01 10:00:01"),
        WeatherRecord("A", "20.0", "2024-01-01 10:00:03"),
        WeatherRecord("B", "30.0", "2024-01-01 10:00:06"))
      q.processAllAvailable()
      val snap = store.snapshot
      assert(snap.keySet === Set(
        ("A", ts("2024-01-01 10:00:00")), ("B", ts("2024-01-01 10:00:05"))))
      val (wEnd, avg, cnt) = snap(("A", ts("2024-01-01 10:00:00")))
      assert(wEnd === ts("2024-01-01 10:00:05"))
      assert(avg === 15.0 && cnt === 2L)
    } finally q.stop()
  }

  test("T4: upsert refines an existing window key across micro-batches") {
    val input = MemoryStream[WeatherRecord]
    val store = new UpsertStore
    val q = WeatherPipeline.run(input.toDF(), store)
    try {
      input.addData(WeatherRecord("A", "10.0", "2024-01-01 10:00:01"))
      q.processAllAvailable()
      assert(store.snapshot(("A", ts("2024-01-01 10:00:00")))._3 === 1L)
      // same window, next micro-batch (still within watermark) → refined
      input.addData(WeatherRecord("A", "30.0", "2024-01-01 10:00:02"))
      q.processAllAvailable()
      val (_, avg, cnt) = store.snapshot(("A", ts("2024-01-01 10:00:00")))
      assert(cnt === 2L && avg === 20.0, "update mode must overwrite by key")
      assert(store.size === 1)
    } finally q.stop()
  }

  test("T1/T3: rows later than the watermark are dropped") {
    val input = MemoryStream[WeatherRecord]
    val store = new UpsertStore
    val q = WeatherPipeline.run(input.toDF(), store)
    try {
      // advance watermark to 10:05:00 - 5s
      input.addData(WeatherRecord("A", "50.0", "2024-01-01 10:05:00"))
      q.processAllAvailable()
      // way-late row: window [10:00:00,10:00:05) closed long ago
      input.addData(WeatherRecord("A", "99.0", "2024-01-01 10:00:01"))
      q.processAllAvailable()
      assert(!store.snapshot.contains(("A", ts("2024-01-01 10:00:00"))),
        "late row beyond watermark must be dropped")
    } finally q.stop()
  }

  test("tolerance: malformed temperature/ts rows are filtered, not fatal") {
    val input = MemoryStream[WeatherRecord]
    val store = new UpsertStore
    val q = WeatherPipeline.run(input.toDF(), store)
    try {
      input.addData(
        WeatherRecord("A", "10.0", "2024-01-01 10:00:01"),
        WeatherRecord("A", "not-a-number", "2024-01-01 10:00:02"),
        WeatherRecord("A", "30.0", "garbage-ts"),
        WeatherRecord(null, "30.0", "2024-01-01 10:00:03"))
      q.processAllAvailable()
      assert(store.snapshot(("A", ts("2024-01-01 10:00:00")))._3 === 1L)
    } finally q.stop()
  }

  test("S1 streaming: rate source → weather-record shape → windowed agg") {
    import org.apache.spark.sql.functions._
    // the reference's generator (10 records / 5 s) as a rate-source stream
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", "100").load()
      .select(
        concat(lit("city_"), (col("value") % 10).cast("string")).as("city"),
        round((col("value") % 233280L) / 233280.0 * 120, 2).cast("string")
          .as("temperature"),
        date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss").as("ts"))
    val store = new UpsertStore
    val q = WeatherPipeline.run(src, store)
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (store.size == 0 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(200)
      }
      assert(store.size > 0, "rate-source pipeline produced no windows")
      assert(store.snapshot.keys.forall(_._1.startsWith("city_")))
    } finally q.stop()
  }

  test("T7: streaming session window merges a burst, splits on a gap") {
    val input = MemoryStream[WeatherRecord]
    val agg = WeatherPipeline.parse(input.toDF())
      .withWatermark("event_time", "5 seconds")
      .groupBy(org.apache.spark.sql.functions.session_window(
        org.apache.spark.sql.functions.col("event_time"), "10 seconds"),
        org.apache.spark.sql.functions.col("city"))
      .count()
      .selectExpr("city", "session_window.start as s", "session_window.end as e", "count")
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      input.addData(
        WeatherRecord("A", "1.0", "2024-01-01 10:00:00"),
        WeatherRecord("A", "2.0", "2024-01-01 10:00:06"),  // within gap → merge
        WeatherRecord("A", "3.0", "2024-01-01 10:00:30"))  // > gap → new session
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
        .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
        .sortBy(_._1)
      assert(rows.toSeq === Seq(
        ("2024-01-01 10:00:00.0", "2024-01-01 10:00:16.0", 2L),
        ("2024-01-01 10:00:30.0", "2024-01-01 10:00:40.0", 1L)))
    } finally q.stop()
  }

  test("T7: stream-stream interval join with watermarks") {
    import org.apache.spark.sql.functions._
    val clicks = MemoryStream[WeatherRecord]
    val errors = MemoryStream[WeatherRecord]
    def side(m: MemoryStream[WeatherRecord], name: String) =
      WeatherPipeline.parse(m.toDF())
        .select(col("city").as(s"${name}_city"),
          col("event_time").as(s"${name}_time"),
          col("temp_d").as(s"${name}_temp"))
        .withWatermark(s"${name}_time", "10 seconds")
    // each click joined to errors of the same city within the prior 30 s
    val joined = side(clicks, "c").join(side(errors, "e"),
      expr("""c_city = e_city AND
              e_time >= c_time - INTERVAL 30 seconds AND e_time <= c_time"""))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      errors.addData(WeatherRecord("A", "1.0", "2024-01-01 10:00:00"))
      clicks.addData(
        WeatherRecord("A", "2.0", "2024-01-01 10:00:20"),  // within 30s → match
        WeatherRecord("A", "3.0", "2024-01-01 10:01:10"),  // > 30s after → no match
        WeatherRecord("B", "4.0", "2024-01-01 10:00:10"))  // other key → no match
      q.processAllAvailable()
      val rows = spark.table("ssj")
        .select("c_city", "c_temp", "e_temp").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      assert(rows.toSeq === Seq(("A", 2.0, 1.0)))
    } finally q.stop()
  }

  test("T7: stream-stream LEFT OUTER interval join emits null-padded row after watermark") {
    import org.apache.spark.sql.functions._
    val clicks = MemoryStream[WeatherRecord]
    val errors = MemoryStream[WeatherRecord]
    def side(m: MemoryStream[WeatherRecord], name: String) =
      WeatherPipeline.parse(m.toDF())
        .select(col("city").as(s"${name}_city"),
          col("event_time").as(s"${name}_time"),
          col("temp_d").as(s"${name}_temp"))
        .withWatermark(s"${name}_time", "5 seconds")
    val joined = side(clicks, "c").join(side(errors, "e"),
      expr("""c_city = e_city AND
              e_time >= c_time - INTERVAL 30 seconds AND e_time <= c_time"""),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_lo")
      .outputMode("append").start()
    try {
      errors.addData(WeatherRecord("A", "1.0", "2024-01-01 10:00:00"))
      clicks.addData(
        WeatherRecord("A", "2.0", "2024-01-01 10:00:20"),  // within 30s → match
        WeatherRecord("B", "4.0", "2024-01-01 10:00:10"))  // no error → null-padded
      q.processAllAvailable()
      // the unmatched B row can only emit once BOTH watermarks prove no
      // error can still arrive for its 30 s window — advance them
      clicks.addData(WeatherRecord("ZC", "0.0", "2024-01-01 10:20:00"))
      errors.addData(WeatherRecord("ZE", "0.0", "2024-01-01 10:20:00"))
      q.processAllAvailable()
      clicks.addData(WeatherRecord("ZC", "0.0", "2024-01-01 10:21:00"))
      errors.addData(WeatherRecord("ZE", "0.0", "2024-01-01 10:21:00"))
      q.processAllAvailable()
      val rows = spark.table("ssj_lo")
        .filter(col("c_city").isin("A", "B"))
        .select("c_city", "c_temp", "e_temp").collect()
        .map(r => (r.getString(0), r.getDouble(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .sortBy(_._1)
      assert(rows.toSeq === Seq(
        ("A", 2.0, Some(1.0)),
        ("B", 4.0, None)), "inner match plus watermark-confirmed outer row")
    } finally q.stop()
  }

  test("T5/S6: committed streaming sink refreshes the manifest; V2 reads see every batch") {
    val dir = tempDir("stream_lake_m").toString
    val input = MemoryStream[WeatherRecord]
    val q = WeatherPipeline.lakeSinkCommitted(input.toDF(), s"$dir/data", s"$dir/ckpt")
    try {
      input.addData(WeatherRecord("A", "10.0", "2024-01-01 10:00:01"))
      q.processAllAvailable()
      input.addData(WeatherRecord("B", "20.0", "2024-01-01 11:30:00"))
      q.processAllAvailable()
      assert(new java.io.File(s"$dir/data/_graft_manifest.tsv").exists(),
        "each micro-batch must refresh the commit manifest")
      // V2 read plans from the manifest and sees both batches
      val v2 = spark.read.format("graft-lake").load(s"$dir/data")
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
      val scan = v2.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan
      }.collect {
        case p: ParquetScan => p
        case g: org.apache.spark.sql.graft.GraftLakeScan => g.initial
      }.getOrElse(fail("no V2 scan"))
      assert(scan.fileIndex.isInstanceOf[org.apache.spark.sql.graft.ManifestFileIndex])
      assert(v2.count() === 2)
      assert(v2.select("ts_hour").distinct().collect().map(_.getString(0)).sorted
        === Array("2024-01-01-10", "2024-01-01-11"))
    } finally q.stop()
  }

  test("stream-static enrichment: a lake MERGE between micro-batches is visible without restart") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("enrich").toString + "/dim"
    // city dimension in the lake (hour-partitioned like any graft table)
    def dim(rows: (String, String)*) = rows.toSeq.toDF("city", "region")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
    graft.sources.LakeIO.writeLake(dim("A" -> "north", "B" -> "south"), dir)
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val input = MemoryStream[WeatherRecord]
    val q = WeatherPipeline.enrichWithLake(input.toDF(), dir, "city") { enriched =>
      got ++= enriched.select($"city", $"region").collect()
        .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("?")))
    }
    try {
      input.addData(WeatherRecord("A", "10.0", "2024-01-01 10:00:01"))
      q.processAllAvailable()
      assert(got.toSet === Set("A" -> "north"))
      // CoW MERGE commits a region change + a new city while the stream runs
      graft.sources.LakeIO.mergeInto(spark, dir,
        dim("A" -> "NORTH2", "C" -> "west"), "city")
      input.addData(WeatherRecord("A", "11.0", "2024-01-01 10:00:02"),
        WeatherRecord("C", "12.0", "2024-01-01 10:00:03"))
      q.processAllAvailable()
      assert(got.toSet === Set("A" -> "north", "A" -> "NORTH2", "C" -> "west"),
        s"post-merge batches must see the new manifest: $got")
    } finally q.stop()
  }

  test("exactly-once sink: a replayed micro-batch is a no-op, a partial attempt is cleaned") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("eo_sink").toString + "/data"
    def batch(ids: Seq[Long]) = ids.toDF("event_id")
      .withColumn("ts", to_timestamp(lit("2024-01-01 10:00:01")))
      .withColumn("ts_hour", date_format($"ts", "yyyy-MM-dd-HH"))
    graft.sources.LakeIO.appendExactlyOnce(dir, batch(Seq(1L, 2L)), batchId = 0)
    def rows() = spark.read.format("graft-lake").load(dir).count()
    assert(rows() === 2)
    // crash-replay of the SAME batchId (foreachBatch is at-least-once):
    // the manifest ledger already lists b0- files — no duplicate append
    graft.sources.LakeIO.appendExactlyOnce(dir, batch(Seq(1L, 2L)), batchId = 0)
    assert(rows() === 2, "replayed batch must not duplicate")
    // a failed attempt of batch 1 left an orphan data file on disk
    // (written but never committed — invisible to V2 readers)
    val orphan = new java.io.File(dir + "/ts_hour=2024-01-01-10", "b1-orphan.parquet")
    batch(Seq(99L)).limit(1).write.parquet(dir + "_tmp_orphan")
    val part = new java.io.File(dir + "_tmp_orphan").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, orphan.toPath)
    assert(rows() === 2, "uncommitted orphan must be invisible")
    // the retry of batch 1 cleans the orphan, then commits once
    graft.sources.LakeIO.appendExactlyOnce(dir, batch(Seq(3L)), batchId = 1)
    assert(rows() === 3)
    assert(!orphan.exists(), "retry must remove the failed attempt's files")
    // distinct batch ids still append normally
    graft.sources.LakeIO.appendExactlyOnce(dir, batch(Seq(4L, 5L)), batchId = 2)
    assert(rows() === 5)
  }

  test("streaming upsert sink: window refinements MERGE by key; replays don't burn versions") {
    import org.apache.spark.sql.functions._
    val base = tempDir("upsert_sink").toString
    val dir = base + "/table"
    val input = MemoryStream[WeatherRecord]
    val q = WeatherPipeline.lakeUpsertSink(input.toDF(), dir, base + "/ckpt")
    try {
      input.addData(WeatherRecord("A", "10.0", "2024-01-01 10:00:01"))
      q.processAllAvailable()
      // same window, next micro-batch (within watermark) → refined row
      // must OVERWRITE the (city, window_start) key, not append
      input.addData(WeatherRecord("A", "30.0", "2024-01-01 10:00:02"),
        WeatherRecord("B", "50.0", "2024-01-01 10:00:03"))
      q.processAllAvailable()
      val out = spark.read.format("graft-lake").load(dir)
        .select($"city", $"avg_temperature", $"record_count")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .sortBy(_._1)
      assert(out === Seq(("A", 20.0, 2L), ("B", 50.0, 1L)),
        "refined window must upsert by key in the lake table")
      // idempotency: a replayed batchId is a no-op — the snapshot head
      // must not advance
      val head = org.apache.spark.sql.graft.ManifestFileIndex.headVersion(dir)
      val replay = Seq(("A", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:05"), 99.0, 9L))
        .toDF("city", "ts", "window_end", "avg_temperature", "record_count")
      graft.sources.LakeIO.mergeExactlyOnce(spark, dir, replay,
        Seq("city", "ts"), batchId = 0L)
      assert(org.apache.spark.sql.graft.ManifestFileIndex.headVersion(dir) === head,
        "replayed batchId must not commit a new snapshot")
      // the pre-refinement snapshot is still time-travelable
      val v1 = spark.read.format("graft-lake").option("versionAsOf", "1").load(dir)
      assert(v1.count() === 1L, "first micro-batch snapshot must survive the merge")
    } finally q.stop()
  }

  test("streaming upsert sink with strategy=mor: refinements land as DV + append, no rewrite") {
    import org.apache.spark.sql.graft.ManifestFileIndex
    val base = tempDir("upsert_mor").toString
    val dir = base + "/table"
    val input = MemoryStream[WeatherRecord]
    val q = WeatherPipeline.lakeUpsertSink(input.toDF(), dir, base + "/ckpt",
      strategy = "mor")
    try {
      input.addData(WeatherRecord("A", "10.0", "2024-01-01 10:00:01"))
      q.processAllAvailable()
      val filesAfterB0 = ManifestFileIndex.read(dir).get._2.map(_.relPath).toSet
      input.addData(WeatherRecord("A", "30.0", "2024-01-01 10:00:02"),
        WeatherRecord("B", "50.0", "2024-01-01 10:00:03"))
      q.processAllAvailable()
      // the refinement superseded A's old row via a deletion vector and
      // appended the new aggregate rows — batch-0 files all still live
      assert(ManifestFileIndex.readDvs(dir).nonEmpty,
        "MoR strategy must record a deletion vector for the refined key")
      assert(filesAfterB0.subsetOf(ManifestFileIndex.read(dir).get._2.map(_.relPath).toSet),
        "MoR strategy must never drop a pre-existing file from the manifest")
      val out = spark.read.format("graft-lake").load(dir)
        .select($"city", $"avg_temperature", $"record_count")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .sortBy(_._1)
      assert(out === Seq(("A", 20.0, 2L), ("B", 50.0, 1L)))
    } finally q.stop()
  }

  test("streaming CDC: each micro-batch commit is a snapshot; readIncrement yields that batch") {
    val dir = tempDir("stream_cdc").toString
    val input = MemoryStream[WeatherRecord]
    val q = WeatherPipeline.lakeSinkCommitted(input.toDF(), s"$dir/data", s"$dir/ckpt")
    try {
      input.addData(WeatherRecord("A", "10.0", "2024-01-01 10:00:01"))
      q.processAllAvailable()
      val v1 = org.apache.spark.sql.graft.ManifestFileIndex.headVersion(s"$dir/data").get
      input.addData(WeatherRecord("B", "20.0", "2024-01-01 11:30:00"),
        WeatherRecord("C", "30.0", "2024-01-01 11:45:00"))
      q.processAllAvailable()
      val v2 = org.apache.spark.sql.graft.ManifestFileIndex.headVersion(s"$dir/data").get
      assert(v2 > v1, "second micro-batch must advance the snapshot HEAD")
      // the downstream consumer reads EXACTLY the second batch from the
      // manifest diff — no rescan of the table
      val inc = graft.sources.LakeIO.readIncrement(spark, s"$dir/data", v1, v2)
      assert(inc.count() === 2)
      assert(inc.select("city").collect().map(_.getString(0)).sorted === Array("B", "C"))
    } finally q.stop()
  }

  test("T7 streaming: session windows merge refinements across micro-batches") {
    val input = MemoryStream[WeatherRecord]
    // capture every update-mode emission; latest per (city, start) wins
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(String, java.sql.Timestamp, java.sql.Timestamp, Long)]
    val q = WeatherPipeline.runSessions(input.toDF(), { batch =>
      seen.synchronized {
        seen ++= batch.collect().map(r => (r.getAs[String]("city"),
          r.getAs[java.sql.Timestamp]("session_start"),
          r.getAs[java.sql.Timestamp]("session_end"),
          r.getAs[Long]("record_count")))
      }
      ()
    })
    try {
      input.addData(
        WeatherRecord("A", "10.0", "2024-01-01 10:00:00"),
        WeatherRecord("A", "20.0", "2024-01-01 10:00:04"))
      q.processAllAvailable()
      // next micro-batch EXTENDS the open session (within gap + watermark)
      input.addData(WeatherRecord("A", "30.0", "2024-01-01 10:00:08"))
      q.processAllAvailable()
      assert(seen.synchronized(seen.isEmpty),
        "append mode must hold the open session until the watermark closes it")
      // a silent gap > 10 s later starts a NEW session (and its event
      // time advances the watermark past session 1's close → it emits)
      input.addData(WeatherRecord("A", "40.0", "2024-01-01 10:00:30"))
      q.processAllAvailable()
      // advance the watermark far past session 2 as well
      input.addData(WeatherRecord("B", "0.0", "2024-01-01 10:05:00"))
      q.processAllAvailable()

      val a = seen.synchronized(seen.filter(_._1 == "A")).sortBy(_._2.getTime)
      assert(a.map(e => (e._2, e._3, e._4)) === Seq(
        (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:18"), 3L),
        (ts("2024-01-01 10:00:30"), ts("2024-01-01 10:00:40"), 1L)),
        s"batch-2's event must MERGE into the open session (start pinned, " +
          s"end/count grown) and the >gap silence must split; got $a")
    } finally q.stop()
  }

  test("T5/S6: streaming lake sink commits hour-partitioned parquet") {
    val dir = tempDir("stream_lake").toString
    val input = MemoryStream[WeatherRecord]
    val q = WeatherPipeline.lakeSink(input.toDF(), s"$dir/data", s"$dir/ckpt")
    try {
      input.addData(
        WeatherRecord("A", "10.0", "2024-01-01 10:00:01"),
        WeatherRecord("B", "20.0", "2024-01-01 11:30:00"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/data")
      assert(out.count() === 2)
      val hours = out.select("ts_hour").distinct().collect().map(_.getString(0)).sorted
      assert(hours === Array("2024-01-01-10", "2024-01-01-11"))
    } finally q.stop()
  }
}
