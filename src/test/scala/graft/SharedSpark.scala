package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One session for the whole forked test JVM. */
object SharedSpark {
  /** The test JVM's one temp root: every spec's scratch directory lives
    * under it, and the whole tree is deleted when the JVM exits.
    */
  private lazy val tmpRoot: Path = {
    val root = Files.createTempDirectory("graft_test")
    sys.addShutdownHook(graft.sources.LakeIO.rmDir(root.toString))
    // Derby writes its error log to ./derby.log unless told otherwise;
    // read at the engine's first boot, which follows this (the specs'
    // Derby directories come from tempDir)
    sys.props("derby.stream.error.file") = root.resolve("derby.log").toString
    root
  }

  /** A fresh directory under the JVM's temp root (`prefix` names it). */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tmpRoot, prefix)

  // Installed via `withExtensions` — NOT the `spark.sql.extensions` conf —
  // deliberately: this is the install path that leaves the conf unset, so
  // the whole suite exercises the scan guard's `ranIn`/probe detection
  // (GraftLakeSource.newScanBuilder) instead of the trivial conf sniff.
  // It also keeps the SparkContext conf clean, which is what lets
  // BareSessionGuardSpec build a genuinely extension-less session on the
  // shared context.
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .withExtensions(new graft.plans.GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", tempDir("wh").toString)
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}
