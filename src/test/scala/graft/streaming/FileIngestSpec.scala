package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SharedSpark.{spark, tempDir}
import graft.streaming.WeatherPipeline._

/** S2/S3 ingest shape: the reference's HTTP→Kafka edge becomes a
  * file-drop directory consumed by a streaming file source — records
  * appended as JSON lines, tolerant parse (S4), then the full speed-layer
  * pipeline. Verifies the source end of the dataflow with real files
  * rather than MemoryStream.
  */
class FileIngestSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("city", StringType), StructField("temperature", StringType),
    StructField("ts", StringType)))

  test("file-drop JSON ingest → tolerant parse → windowed upsert") {
    val dir = tempDir("ingest")
    val ckpt = tempDir("ingest_ckpt")
    def drop(name: String, lines: String*): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))

    drop("b1.json",
      """{"city": "London", "temperature": "10.0", "ts": "2024-01-01 10:00:01"}""",
      """not json at all {{{""",
      """{"city": "London", "temperature": "20.0", "ts": "2024-01-01 10:00:03"}""",
      """{"city": "Paris", "temperature": "bad-number", "ts": "2024-01-01 10:00:02"}""")

    // through the transport-factory seam (production swaps this line's
    // CONFIG for kafka — see Sources)
    val source = Sources.stream(spark, Sources.SourceConf.file(dir.toString))
    assert(source.schema === schema, "factory must yield the wire schema")
    val store = new UpsertStore
    val q = WeatherPipeline.run(source, store)
    try {
      q.processAllAvailable()
      val ts0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      assert(store.snapshot.keySet === Set(("London", ts0)),
        "malformed JSON + bad temperature rows must be dropped")
      assert(store.snapshot(("London", ts0))._3 === 2L)

      // a second dropped file is picked up as a new micro-batch
      drop("b2.json",
        """{"city": "London", "temperature": "30.0", "ts": "2024-01-01 10:00:04"}""")
      q.processAllAvailable()
      val (_, avg, cnt) = store.snapshot(("London", ts0))
      assert(cnt === 3L && math.abs(avg - 20.0) < 1e-9)
    } finally q.stop()
  }
}
