package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.Graft
import graft.serving.{IngestServer, ServingServer}
import graft.sources.LakeIO
import graft.streaming.{JdbcUpsert, Sources, WeatherPipeline}

/** speed_layer: the reference's loop in one JVM, fed open-loop with the
  * reference producer's traffic: a batch of 10 records every 5 s, sent
  * back to back, one HTTP GET each. One generator thread sends the seeded
  * records to IngestServer; the file spool feeds
  * WeatherPipeline.parse/windowedAgg; every micro-batch goes to
  * JdbcUpsert (embedded Derby) and, from a second query over the same
  * spool on the reference's 10 s lake commit interval, to
  * LakeIO.appendExactlyOnce; the dashboard API (ServingServer over the
  * Derby table) is polled, and an analyst reads the live lake every few
  * seconds.
  *
  * Batches are due at a fixed phase of the wall clock, which the
  * streaming triggers are aligned to, so every run's batches meet the
  * triggers the same way and its lake gets the same commits.
  *
  * Freshness of a record is the time from when its batch was due to the
  * first API poll showing its window's average with it included; the
  * read latency is the dashboard's: one API request.
  */
final class SpeedLayer(ctx: Ctx) extends Workload {
  import ctx.spark
  import SpeedLayer._

  private case class Rec(kind: String, city: String, temp: String)
  private val (batch, intervalNs, lateOffsetS, recs) = {
    val lines = scala.io.Source.fromFile(s"${ctx.inputs}/records.tsv", "UTF-8").getLines().toVector
    val hdr = lines.head.stripPrefix("#").trim.split(" ").map(_.split("=")).map(a => a(0) -> a(1)).toMap
    (hdr("batch").toInt, hdr("interval_s").toLong * 1000000000L, hdr("late_offset_s").toLong,
      lines.tail.map(_.split("\t", -1)).map(a => Rec(a(0), a(1), a(2))))
  }

  private val lateOffset = new AtomicLong(0L)
  /** IngestServer's injectable clock: wall time shifted so the first
    * batch is stamped ClockStart — windows, hour partitions and the
    * watermark then fall the same way in every run, whatever the hour,
    * and each batch lands in one window.
    */
  @volatile private var clockShiftMs = 0L
  private val clock: () => String = () => LocalDateTime.ofEpochSecond(
    Math.floorDiv(System.currentTimeMillis() + clockShiftMs, 1000L) - lateOffset.get(), 0,
    ZoneOffset.UTC).format(TsFormat)

  /** One running instance of the loop's servers and queries. */
  private final class Stack(rep: Int) {
    val base = ctx.path(s"speed/$rep")
    val spool = s"$base/spool"
    val lake = s"$base/lake"
    val url = s"jdbc:derby:$base/derby;create=true"
    JdbcUpsert.ensureTable(url, Table)
    // one upsert from a single task before the stream's first batch: the
    // first MERGEs on a fresh database, run by concurrent tasks, can fail
    // inside Derby (a NullPointerException in RowChangerImpl), which
    // stops the query
    JdbcUpsert.upsert(spark.sql(s"SELECT '$WarmCity' AS city, TIMESTAMP'1970-01-01 00:00:00' " +
      "AS window_start, TIMESTAMP'1970-01-01 00:00:05' AS window_end, " +
      "CAST(0 AS DOUBLE) AS avg_temperature, CAST(0 AS BIGINT) AS record_count"), url, Table)
    val ingest = new IngestServer(spool, 0, clock)
    val serving = new ServingServer(
      // the dashboard plots each window's average at the window's start
      () => JdbcUpsert.readBack(spark, url, Table).withColumn("last_updated", col("window_start")),
      Cities, RefreshMs, 100, 0)
    private val parsed = WeatherPipeline.parse(Sources.stream(spark, Sources.SourceConf.file(spool)))
    val agg: StreamingQuery = WeatherPipeline.windowedAgg(parsed)
      .writeStream.queryName(s"speed_agg_$rep").outputMode("update")
      .trigger(Trigger.ProcessingTime(AggTriggerMs))
      .option("checkpointLocation", s"$base/ckpt-agg")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        timedSink(upsertMs, "streaming", s"agg-$id")(JdbcUpsert.upsert(b.toDF(), url, Table))
      }.start()
    val toLake: StreamingQuery = parsed
      .withColumn("ts_hour", date_format(col("event_time"), "yyyy-MM-dd-HH"))
      .writeStream.queryName(s"speed_lake_$rep").outputMode("append")
      .trigger(Trigger.ProcessingTime(LakeTriggerMs))
      .option("checkpointLocation", s"$base/ckpt-lake")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val before = if (ctx.tracing) Some((LakeState.version(lake), LakeState.liveFiles(lake))) else None
        timedSink(lakeCommitMs, "lake", s"lake-$id")(LakeIO.appendExactlyOnce(lake, b.toDF(), id))
        before.foreach { case (v0, f0) => commits.synchronized {
          commits += ((LakeState.version(lake) - v0).toDouble -> (LakeState.liveFiles(lake) - f0).toDouble)
        } }
      }.start()
    get(s"http://127.0.0.1:${ingest.boundPort}/health")
    get(s"http://127.0.0.1:${serving.boundPort}/health")

    def close(): Unit = {
      Seq(agg, toLake).foreach(q => try q.stop() catch { case _: Exception => () })
      ingest.close()
      serving.close()
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$base/derby;shutdown=true")
      catch { case _: java.sql.SQLException => () }   // 08006: shut down
    }
  }

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private def get(u: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(u)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def getBlocking(u: String): (Int, String) = {
    val c = URI.create(u).toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    try (code, new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
  }

  private val upsertMs = ArrayBuffer.empty[Double]
  private val lakeCommitMs = ArrayBuffer.empty[Double]
  /** (versions, data files) each traced lake commit added */
  private val commits = ArrayBuffer.empty[(Double, Double)]
  private def timedSink(into: ArrayBuffer[Double], layer: String, op: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    ctx.trace.span(layer, "sink", op)(body)
    if (ctx.tracing) into.synchronized { into += (System.nanoTime() - t0) / 1e6 }
  }

  private val stacks = scala.collection.mutable.Map.empty[Int, Stack]
  @volatile private var stack: Stack = _

  /** Derby, both servers and both queries started; their first batch
    * waits for a trigger tick, so warm-up runs it.
    */
  def setup(rep: Int): Unit = {
    stack = new Stack(rep)
    stacks(rep) = stack
  }

  def discard(rep: Int): Unit = stacks.remove(rep).foreach { s => s.close(); LakeIO.rmDir(s.base) }

  // --- progress of the aggregation query ---------------------------------
  private val batchMs = ArrayBuffer.empty[Double]
  private val offsetMs = ArrayBuffer.empty[Double]
  private val batchRows = ArrayBuffer.empty[Double]
  private val stateRows = ArrayBuffer.empty[Double]
  private val aggRows = new AtomicLong(0L)
  @volatile private var watermarkSet = false
  /** start (wall ms) of each query's latest reported trigger */
  private val triggerStartMs = scala.collection.concurrent.TrieMap.empty[java.util.UUID, Long]
  private val progress = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggerStartMs.put(p.id, Instant.parse(p.timestamp).toEpochMilli)
      if (stack != null && p.id == stack.agg.id) {
        aggRows.addAndGet(p.numInputRows)
        Option(p.eventTime.get("watermark")).foreach { w =>
          if (Instant.parse(w).toEpochMilli > 0) watermarkSet = true
        }
        if (ctx.tracing && p.numInputRows > 0) batchMs.synchronized {
          batchMs += p.batchDuration.toDouble
          offsetMs += Option(p.durationMs.get("latestOffset")).map(_.toDouble).getOrElse(0.0)
          batchRows += p.numInputRows.toDouble
          stateRows += p.stateOperators.headOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
        }
      }
    }
  }
  spark.streams.addListener(progress)

  // --- the open-loop generator -------------------------------------------
  private case class Sent(i: Int, kind: String, city: String, temp: String, dueNs: Long,
      status: Int, ts: String, sendMs: Double, fromDueMs: Double)
  private val sent = ArrayBuffer.empty[Sent]
  /** accepted on-time records per (city, window start s), in send order */
  private val windows = scala.collection.mutable.Map.empty[(String, Long), ArrayBuffer[Int]]
  private val visibleNs = scala.collection.concurrent.TrieMap.empty[Int, Long]
  @volatile private var measureFrom = Long.MaxValue
  @volatile private var measureTo = Long.MaxValue
  /** batches are due every interval from the window's start until its
    * end; between windows the generator is held
    */
  @volatile private var sendWindow = (Long.MaxValue, Long.MaxValue)
  private val stopped = new java.util.concurrent.CountDownLatch(1)
  private def stop: Boolean = stopped.getCount == 0
  /** Sleep `ns`, or less if the run stops meanwhile. */
  private def pause(ns: Long): Unit =
    if (ns > 0) stopped.await(ns, java.util.concurrent.TimeUnit.NANOSECONDS)
  /** wall ms of the last accepted (spooled) record */
  @volatile private var lastSpooledMs = 0L
  private val ingestMs = ArrayBuffer.empty[Double]
  private val ingestFromDueMs = ArrayBuffer.empty[Double]

  private val generator = new Thread(() => {
    var i = 0
    var lastDue = Long.MinValue
    while (!stop && i < recs.size) {
      val (from, until) = sendWindow
      val due = if (lastDue < from) from else lastDue + intervalNs
      if (due >= until) pause(10000000L)
      else {
        pause(due - System.nanoTime())
        if (!stop) (i until math.min(i + batch, recs.size)).foreach(send(_, due))
        lastDue = due
        i += batch
      }
    }
  }, "perfbench-generator")

  /** Send record `i` of the batch due at `due`, and tally the response. */
  private def send(i: Int, due: Long): Unit = {
    val r = recs(i)
    val measured = due >= measureFrom && due < measureTo
    if (r.kind != "late" || watermarkSet) {
      val q = (if (r.kind == "missing") "" else s"city=${enc(r.city)}&") + s"temperature=${enc(r.temp)}"
      if (r.kind == "late") lateOffset.set(lateOffsetS)
      val t0 = System.nanoTime()
      val res = try ctx.trace.span("serving", "ingest", s"rec-$i")(get(
        s"http://127.0.0.1:${stack.ingest.boundPort}/log?$q"))
        catch { case e: Exception => (-1, e.toString) }
      val t1 = System.nanoTime()
      lateOffset.set(0L)
      if (res._1 == 200) lastSpooledMs = System.currentTimeMillis()
      val ts = if (res._1 == 200) tsOf(res._2) else ""
      val s = Sent(i, r.kind, r.city, r.temp, due, res._1, ts, (t1 - t0) / 1e6, (t1 - due) / 1e6)
      val expected = if (r.kind == "missing") 400 else 200
      sent.synchronized {
        sent += s
        if (measured) {
          ctx.attempted.incrementAndGet()
          if (res._1 != expected) ctx.failed.incrementAndGet()
          if (ctx.tracing) { ingestMs += s.sendMs; ingestFromDueMs += s.fromDueMs }
        }
        if (res._1 == 200 && r.kind == "ok")
          windows.getOrElseUpdate((r.city, windowOf(ts)), ArrayBuffer.empty) += i
      }
    }
  }

  // --- dashboard poller: marks records visible ---------------------------
  private val apiMs = ArrayBuffer.empty[Double]
  private val pollMs = ArrayBuffer.empty[Double]
  private val poller = new Thread(() => {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val seenUpTo = scala.collection.mutable.Map.empty[(String, Long), Int]
    var next = sendWindow._1
    while (!stop) {
      pause(next - System.nanoTime())
      val t0 = System.nanoTime()
      val body = try Some(ctx.trace.span("serving", "api", "poll")(getBlocking(
        s"http://127.0.0.1:${stack.serving.boundPort}/api/weather"))._2)
        catch { case _: Exception => None }
      val now = System.nanoTime()
      apiMs.synchronized {
        if (t0 >= measureFrom && t0 < measureTo) pollMs += (now - t0) / 1e6
        if (ctx.tracing) apiMs += (now - t0) / 1e6
      }
      // an error response has no "data"; it shows nothing new
      body.flatMap(b => Option(mapper.readTree(b).get("data"))).foreach { data =>
        Cities.foreach { city =>
          Option(data.get(city)).foreach(_.elements().asScala.foreach { p =>
            val key = (city, Instant.parse(p.get("time").asText()).getEpochSecond)
            val v = p.get("temperature").asDouble()
            val ids = sent.synchronized(windows.get(key).map(_.toVector)).getOrElse(Vector.empty)
            var sum = 0.0
            var k = 0
            var upTo = 0
            while (k < ids.size) {
              sum += recs(ids(k)).temp.toDouble
              k += 1
              if (math.abs(sum / k - v) <= 1e-6 * math.max(1.0, math.abs(v))) upTo = k
            }
            val from = seenUpTo.getOrElse(key, 0)
            if (upTo > from) {
              (from until upTo).foreach(j => visibleNs.putIfAbsent(ids(j), now))
              seenUpTo(key) = upTo
            }
          })
        }
      }
      // polls stay on the grid; one that is already late is skipped
      while (next <= System.nanoTime()) next += PollMs * 1000000L
    }
  }, "perfbench-poller")

  // --- analyst: reads the live lake every 2-4 s ---------------------------
  private val lakeReadMs = ArrayBuffer.empty[Double]
  private val backlog = ArrayBuffer.empty[Double]
  private val reader = new Thread(() => {
    // starts with the first batch; random gaps, so the reads do not lock
    // onto one phase of the triggers and sample contention evenly
    val gaps = new scala.util.Random(ReaderSeed)
    val start = sendWindow._1 - System.nanoTime()
    pause(start)
    while (!stop) {
      val t = System.nanoTime()
      if (LakeState.version(stack.lake) > 0)
        ctx.op("lake read") {
          val df = ctx.trace.span("lake", "read")(Graft.lake.read(spark, stack.lake)
            .groupBy("city").agg(count(lit(1)).as("n"), avg("temp_d").as("avg_temperature")))
          ctx.trace.span("exec", "noop write")(ctx.noop(df))
        }.foreach { case (_, ms) =>
          if (ctx.tracing) lakeReadMs.synchronized { lakeReadMs += ms }
        }
      if (ctx.tracing) {
        val files = Option(new java.io.File(stack.spool).list()).getOrElse(Array.empty[String])
          .count(_.endsWith(".json"))
        backlog.synchronized { backlog += math.max(0L, files - aggRows.get()).toDouble }
      }
      val left = 2000000000L + gaps.nextLong(2000000000L) - (System.nanoTime() - t)
      pause(left)
    }
  }, "perfbench-reader")

  /** Wall-clock time in ms of `nanoTime` value `ns`. */
  private val wallAtNs = { val w = System.currentTimeMillis(); val n = System.nanoTime(); (w, n) }
  private def wallMs(ns: Long): Long = wallAtNs._1 + Math.floorDiv(ns - wallAtNs._2, 1000000L)

  /** The first `nanoTime` at or after `ns` when the wall clock reads
    * `PhaseMs` past a multiple of `CycleMs`; a measured window starts
    * there.
    */
  private def nextStart(ns: Long): Long = {
    val w = wallMs(ns)
    val at = Math.floorDiv(w - PhaseMs, CycleMs) * CycleMs + PhaseMs
    ns + ((if (at >= w) at else at + CycleMs) - w) * 1000000L
  }

  /** A fixed warm-up: one batch, due two intervals before the first
    * measured one. Its lake commit is then its own, also when it takes
    * so long to show in the API that the loop starts a cycle later, so
    * every run's lake gets the same rows and commits.
    */
  def warm(): Unit = {
    // both queries have run their first (empty) trigger before any record
    // is sent (processAllAvailable would wait for a further tick)
    awaitUntil("the queries' first trigger")(
      Seq(stack.agg, stack.toLake).forall(_.status.message.startsWith("Waiting")))
    val first = nextStart(System.nanoTime() + 2 * intervalNs + 200000000L) - 2 * intervalNs
    clockShiftMs = ClockStart.toEpochMilli - wallMs(first)
    sendWindow = (first, first + intervalNs)
    generator.start()
    poller.start()
    reader.start()
    val deadline = System.nanoTime() + 30000000000L
    while (!watermarkSet || visibleNs.isEmpty) {
      require(System.nanoTime() < deadline, "speed_layer: no window became visible during warm-up")
      Thread.sleep(100)
    }
  }

  def loop(seconds: Double): Loop = {
    val from = nextStart(math.max(System.nanoTime(), sendWindow._2))
    measureFrom = from
    measureTo = from + (seconds * 1e9).toLong
    sendWindow = (from, measureTo)
    Thread.sleep(math.max(0L, (measureTo - System.nanoTime()) / 1000000L))
    // drain: wait until every measured record is visible
    val deadline = System.nanoTime() + DrainTimeoutNs
    def pending = sent.synchronized(sent.filter(s => s.kind == "ok" && s.status == 200 &&
      s.dueNs >= from && s.dueNs < measureTo).map(_.i).toVector).filterNot(visibleNs.contains)
    while (pending.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    val measured = sent.synchronized(sent.filter(s => s.kind == "ok" && s.status == 200 &&
      s.dueNs >= from && s.dueNs < measureTo).toVector)
    val fresh = measured.flatMap(s => visibleNs.get(s.i).map(v => (v - s.dueNs) / 1e6))
    // an accepted record that never reached the API is a failed delivery
    ctx.failed.addAndGet(measured.size - fresh.size)
    Main.mark(s"sent ${sent.size}, measured ${measured.size}, visible ${fresh.size}, " +
      s"windows ${windows.size}, seen ${visibleNs.size}")
    val reads = apiMs.synchronized { val r = pollMs.toVector; pollMs.clear(); r }
    Loop(fresh, reads, fresh.size.toDouble, seconds)
  }

  def bytesPerUserByte(): Double = {
    stopped.countDown()
    Seq(generator, poller, reader).foreach(_.join())
    // both queries have run a trigger that began after the last record
    // was spooled, so every record is in Derby and the lake
    awaitUntil("the last records' batches")(Seq(stack.agg, stack.toLake).forall(q =>
      triggerStartMs.get(q.id).exists(_ > lastSpooledMs)))
    ctx.amplification(stack.lake, Graft.lake.read(spark, stack.lake))
  }

  private def awaitUntil(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (!cond) {
      require(System.nanoTime() < deadline, s"speed_layer: timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  /** Median of samples other threads may still be appending to. */
  private def med(xs: ArrayBuffer[Double], lock: AnyRef): Double =
    Stats.medianOr0(lock.synchronized(xs.toVector))

  override def layerMetrics(): Map[String, Double] = Map(
    "streaming.batch_ms" -> med(batchMs, batchMs),
    "streaming.latest_offset_ms" -> med(offsetMs, batchMs),
    "streaming.batch_rows" -> med(batchRows, batchMs),
    "streaming.state_rows" -> med(stateRows, batchMs),
    "streaming.upsert_ms" -> med(upsertMs, upsertMs),
    "streaming.lake_commit_ms" -> med(lakeCommitMs, lakeCommitMs),
    "lake.append_ms" -> med(lakeCommitMs, lakeCommitMs),
    "lake.read_ms" -> med(lakeReadMs, lakeReadMs),
    "lake.versions_per_op" -> Stats.medianOr0(commits.synchronized(commits.map(_._1).toVector)),
    "lake.files_per_commit" -> Stats.medianOr0(commits.synchronized(commits.map(_._2).toVector)),
    "serving.ingest_ms" -> med(ingestMs, sent),
    "serving.ingest_p99_ms" -> sent.synchronized(
      if (ingestFromDueMs.isEmpty) 0.0 else Stats.pct(ingestFromDueMs, 99)),
    "serving.api_ms" -> med(apiMs, apiMs),
    "serving.spool_backlog" -> med(backlog, backlog)
  ) ++ LakeState.metrics(stack.lake)

  def finish(): Map[String, Any] = {
    val derby = JdbcUpsert.readBack(spark, stack.url, Table)
      .where(col("CITY") =!= WarmCity).collect().map { r =>
      Map("city" -> r.getAs[String]("CITY"),
        "window_start" -> r.getAs[java.sql.Timestamp]("WINDOW_START").toInstant.getEpochSecond,
        "record_count" -> r.getAs[Long]("RECORD_COUNT"),
        "avg_temperature" -> r.getAs[Double]("AVG_TEMPERATURE"))
    }.toSeq
    val lakeRows = Graft.lake.read(spark, stack.lake).count()
    Map(
      "sent" -> sent.map(s => Map("i" -> s.i, "kind" -> s.kind, "city" -> s.city,
        "temp" -> s.temp, "status" -> s.status, "ts" -> s.ts)).toSeq,
      "derby" -> derby, "lake_rows" -> lakeRows, "window_s" -> WindowS)
  }

  override def close(): Unit = {
    stopped.countDown()
    spark.streams.removeListener(progress)
    if (stack != null) stack.close()
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () }   // XJ015: Derby shut down
  }
}

object SpeedLayer {
  val Cities: Seq[String] = Seq("New York", "London", "Tokyo", "Paris", "Sydney", "Berlin",
    "Moscow", "Beijing", "Rio de Janeiro", "Cairo")
  val Table = "weather"
  /** key of set-up's upsert, which is not a city the API serves */
  val WarmCity = "(set-up)"
  val WindowS = 5
  val AggTriggerMs = 1000L
  /** the reference's Iceberg commit interval */
  val LakeTriggerMs = 10000L
  /** the server's snapshot TTL: the reference dashboard's 2 s poll. The
    * TTL runs from the start of a reload, so a shorter one lets a reload
    * that outlasts it make every request reload.
    */
  val RefreshMs = 2000L
  val ReaderSeed = 7L
  /** The API poll interval, on a grid from the first batch's due time.
    * Polls are what make ServingServer reload, once its snapshot is as
    * old as the TTL: with polls 150 ms apart the 14th after a reload is
    * the first past the 2 s TTL, with 50 ms to spare, so reloads come
    * every 2.1 s in every run, at the same times relative to the batches.
    */
  val PollMs = 150L
  /** Measured windows start `PhaseMs` past a multiple of `CycleMs` of
    * the wall clock, which the triggers tick on: the batches then fall
    * 250 ms after an aggregation tick and are sent before the next one,
    * and the last batch of a 21-25 s window (five batches) is due 4.75 s
    * before a lake tick, so the run need not wait long for its commit.
    */
  val CycleMs = 10000L
  val PhaseMs = 5250L
  val DrainTimeoutNs = 30000000000L
  val ClockStart: Instant = Instant.parse("2024-01-01T00:10:00Z")
  val TsFormat: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def enc(s: String): String = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  def windowOf(ts: String): Long =
    LocalDateTime.parse(ts, TsFormat).toEpochSecond(ZoneOffset.UTC) / WindowS * WindowS
  private val TsField = "\"ts\":\"([^\"]*)\"".r
  def tsOf(body: String): String = TsField.findFirstMatchIn(body).map(_.group(1)).getOrElse("")
}
