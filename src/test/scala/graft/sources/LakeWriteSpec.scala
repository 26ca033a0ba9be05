package graft.sources

import java.io.File
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ManifestFileIndex
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark.{sf, spark, tempDir}

/** Lake stage writes and commit bookkeeping without per-file overhead:
  * no OS process per written file ([[LocalFs]]), the same file modes a
  * plain Spark write leaves, footer stats equal to the per-file-conf
  * walk they replace, and no schema-inference job per compaction.
  */
class LakeWriteSpec extends AnyFunSuite with BeforeAndAfterAll {
  import spark.implicits._

  private val root = tempDir("lake_write")

  override def afterAll(): Unit = LakeIO.rmDir(root.toString)

  private def dir(name: String): String = root.resolve(name).toString

  /** 60 rows over 3 hours: one data file per hour per stage write. */
  private def batch(offset: Long): DataFrame = {
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00").getTime
    (0 until 60).map { i =>
      (offset + i, s"u${i % 7}", i * 1.5, new java.sql.Timestamp(t0 + (i % 3) * 3600000L))
    }.toDF("id", "name", "score", "ts")
  }

  /** The command lines of every process `body` starts, from an
    * in-process JFR recording of `jdk.ProcessStart`.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val out = Files.createTempFile(root, "procs", ".jfr")
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .map(_.getString("command"))
    } finally rec.close()
  }

  test("appendTxn, compactSnapshots and appendExactlyOnce start no OS process") {
    val lake = dir("noforks")
    val plain = dir("plain_forks")
    val cmds = processStarts {
      LakeIO.appendTxn(batch(0), lake)
      LakeIO.appendTxn(batch(100), lake)
      LakeIO.compactSnapshots(spark, lake)
      LakeIO.appendExactlyOnce(lake, LakeIO.hourPartitioned(batch(200)), 7L)
      batch(300).write.parquet(plain)
    }
    val forks = cmds.filter(_.contains(lake))
    assert(forks.isEmpty, s"${forks.size} processes, the first: ${forks.headOption}")
    // the recording sees the forks of Hadoop's own local file system
    // whenever libhadoop is missing, so the check above can fail
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(cmds.exists(_.contains(plain)))
    val rows = spark.read.format("graft-lake").load(lake)
    assert(rows.count() == 180L)
    assert(rows.select("id").as[Long].collect().toSet ==
      ((0L until 60L) ++ (100L until 160L) ++ (200L until 260L)).toSet)
  }

  test("data files and partition dirs get the modes of a plain parquet write") {
    val lake = dir("modes")
    val sibling = dir("modes_plain")
    LakeIO.writeLake(batch(0), lake)
    LakeIO.appendTxn(batch(100), lake)
    LakeIO.hourPartitioned(batch(0)).write.partitionBy("ts_hour").parquet(sibling)
    def modes(base: String): (Set[String], Set[String]) = {
      val dirs = new File(base).listFiles().filter(_.getName.startsWith("ts_hour="))
      val files = dirs.flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      def mode(f: File) =
        PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))
      assert(dirs.nonEmpty && files.nonEmpty)
      (dirs.map(mode).toSet, files.map(mode).toSet)
    }
    val (lakeDirs, lakeFiles) = modes(lake)
    val (plainDirs, plainFiles) = modes(sibling)
    assert(plainDirs.size == 1 && plainFiles.size == 1)
    assert(lakeDirs == plainDirs)
    assert(lakeFiles == plainFiles)
  }

  test("LocalFs.setPermission round-trips rwx modes and delegates the sticky bit") {
    val fs = new LocalFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    def unixMode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
    Seq(0x1a4 /* 0644 */, 0x1ed /* 0755 */, 0x1c0 /* 0700 */, 0x1a0 /* 0640 */)
      .foreach { mode =>
        val f = Files.createTempFile(root, "mode", ".bin")
        Files.setPosixFilePermissions(f, PosixFilePermissions.fromString("rwxrwxrwx"))
        fs.setPermission(new Path(f.toString), new FsPermission(mode.toShort))
        assert((unixMode(f) & 0xfff) == mode, f"mode 0$mode%o")
      }
    // 01777: no PosixFilePermission carries the sticky bit
    val d = Files.createTempDirectory(root, "sticky")
    fs.setPermission(new Path(d.toString), new FsPermission(0x3ff.toShort))
    assert((unixMode(d) & 0xfff) == 0x3ff)
  }

  /** The footer walk before one conf was shared: a fresh `Configuration`
    * per file and `ParquetFileReader.open(InputFile)`'s default options.
    */
  private def referenceFooterStats(file: File)
    : (Map[String, (Long, Long)], Map[String, (String, String)],
       Map[String, (Double, Double)], Long) = {
    import ManifestFileIndex.{hexCompare, hexEncode}
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    try {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(file.getAbsolutePath), new Configuration()))
      try {
        val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
        val sacc = scala.collection.mutable.Map.empty[String, (String, String)]
        val dacc = scala.collection.mutable.Map.empty[String, (Double, Double)]
        for (b <- rd.getFooter.getBlocks.asScala; c <- b.getColumns.asScala) {
          val tpe = c.getPrimitiveType
          val st = c.getStatistics
          if (tpe.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
              tpe.getLogicalTypeAnnotation == null &&
              c.getPath.size() == 1 && st != null && st.hasNonNullValue) {
            val name = c.getPath.iterator().next()
            val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
            val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
            val (cmn, cmx) = acc.getOrElse(name, (Long.MaxValue, Long.MinValue))
            acc(name) = (math.min(cmn, mn), math.max(cmx, mx))
          }
          if (tpe.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
              tpe.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType() &&
              c.getPath.size() == 1 && st != null && st.hasNonNullValue) {
            val name = c.getPath.iterator().next()
            val mn = hexEncode(
              st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
            val mx = hexEncode(
              st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
            sacc(name) = sacc.get(name) match {
              case Some((cmn, cmx)) =>
                (if (hexCompare(mn, cmn) < 0) mn else cmn,
                 if (hexCompare(mx, cmx) > 0) mx else cmx)
              case None => (mn, mx)
            }
          }
          if (tpe.getPrimitiveTypeName == PrimitiveTypeName.DOUBLE &&
              c.getPath.size() == 1 && st != null && st.hasNonNullValue) {
            val name = c.getPath.iterator().next()
            val mn = st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue()
            val mx = st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue()
            if (!mn.isNaN && !mx.isNaN) {
              val (cmn, cmx) = dacc.getOrElse(name,
                (Double.PositiveInfinity, Double.NegativeInfinity))
              dacc(name) = (math.min(cmn, mn), math.max(cmx, mx))
            } else dacc(name) = (Double.NaN, Double.NaN)
          }
        }
        val rows = rd.getFooter.getBlocks.asScala.iterator.map(_.getRowCount).sum
        (acc.toMap, sacc.toMap, dacc.toMap.filter(e => !e._2._1.isNaN), rows)
      } finally rd.close()
    } catch { case _: Throwable => (Map.empty, Map.empty, Map.empty, -1L) }
  }

  test("footerStatsAll equals the per-file-conf footer walk") {
    val sfFiles = new File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    assert(sfFiles.size > 1)
    val stage = dir("stats_stage")
    // long, string and double columns; NaN scores drop a file's bounds
    batch(0).withColumn("score",
        org.apache.spark.sql.functions.expr("IF(id % 17 = 0, double('NaN'), score)"))
      .repartition(12).write.parquet(stage)
    val stageFiles = new File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    assert(stageFiles.size == 12)
    for (files <- Seq(sfFiles, stageFiles, sfFiles.take(1))) {
      val got = ManifestFileIndex.footerStatsAll(files)
      assert(got == files.map(referenceFooterStats))
      assert(got.forall(_._4 >= 0L))
    }
    assert(ManifestFileIndex.footerStatsAll(stageFiles).exists(_._3.isEmpty))
    assert(ManifestFileIndex.footerStatsAll(sfFiles).exists(_._2.nonEmpty))
  }

  test("compaction launches exactly the jobs of its scan and stage write") {
    val lake = dir("compact_jobs")
    LakeIO.appendTxn(batch(0), lake)
    LakeIO.appendTxn(batch(100), lake)
    val (_, entries) = ManifestFileIndex.read(lake).get
    val files = entries.map(e => lake + "/" + e.relPath)
    assert(files.size == 6)
    val sc = spark.sparkContext
    // the same scan and stage write by hand, into a scratch directory
    val scan = spark.read.schema(LakeIO.tableSchema(lake).get)
      .option("basePath", lake).parquet(files: _*)
    val (_, expected) = JobCount(sc)(LakeIO.writeStage(scan, "ts_hour", dir("jobs_ref")))
    val (_, jobs) = JobCount(sc)(LakeIO.compactSnapshots(spark, lake))
    assert(jobs == expected)
    assert(ManifestFileIndex.read(lake).get._2.size == 3)
    assert(spark.read.format("graft-lake").load(lake).count() == 120L)
  }
}
