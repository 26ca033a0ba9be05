package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark.{spark, tempDir}

class ZOrderSpec extends AnyFunSuite {
  import spark.implicits._

  test("interleave produces the Morton curve ordering") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L), (3L, 3L))
      .toDF("a", "b")
      .select($"a", $"b", ZOrder.interleave($"a", $"b").as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // z(a,b): a bits even, b bits odd
    assert(rows((0L, 0L)) === 0L)
    assert(rows((1L, 0L)) === 1L)
    assert(rows((0L, 1L)) === 2L)
    assert(rows((1L, 1L)) === 3L)
    assert(rows((2L, 0L)) === 4L)
    assert(rows((3L, 3L)) === 15L)
  }

  /** Candidate files for a 2-D box predicate = files whose per-file
    * [min,max] of BOTH columns intersects the box (what parquet row-group
    * stats skipping evaluates).
    */
  private def candidateFiles(dir: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): (Int, Int) = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    val cands = files.count { f =>
      val r = spark.read.parquet(f)
        .agg(min($"x").as("xlo"), max($"x").as("xhi"),
          min($"y").as("ylo"), max($"y").as("yhi")).head
      r.getLong(0) <= xHi && r.getLong(1) >= xLo &&
        r.getLong(2) <= yHi && r.getLong(3) >= yLo
    }
    (cands, files.length)
  }

  test("z-ordered layout skips most files for a 2-D box; single-sort cannot") {
    val n = 40000
    // two independent uniform dims — worst case for single-column sort
    val df = spark.range(n).select(
      (xxhash64($"id").bitwiseAND(1023L)).as("x"),
      (xxhash64($"id" + 7).bitwiseAND(1023L)).as("y"))
    val base = tempDir("zorder").toString
    val zDir = base + "/z"
    val sDir = base + "/s"
    ZOrder.writeZOrdered(df, zDir, "x", "y", numFiles = 16)
    df.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.option("compression", "zstd").parquet(sDir)

    // ~3% box in each dimension
    val (zCand, zTotal) = candidateFiles(zDir, 100, 130, 500, 530)
    val (sCand, sTotal) = candidateFiles(sDir, 100, 130, 500, 530)
    assert(zTotal === 16 && sTotal === 16)
    // single-dim sort: x-range hits ~1 file but that file spans ALL of y —
    // fine for this box; flip: a box selective in y only
    val (zCandY, _) = candidateFiles(zDir, 0, 1023, 500, 530)
    val (sCandY, _) = candidateFiles(sDir, 0, 1023, 500, 530)
    // repartitionByRange samples boundaries with an RDD-id-derived seed, so
    // the exact split points shift between runs; 4–5 candidates of 16 are
    // both correct layouts. The bound proves skipping, not a fixed count.
    assert(zCand <= 6, s"z-order box candidates: $zCand/16")
    assert(zCandY < sCandY,
      s"y-only box: z-order $zCandY files vs x-sorted $sCandY (spans all files)")
    assert(sCandY === 16, "x-sorted layout cannot skip on y at all")

    // correctness: same rows from both layouts for the box query
    def rowsIn(dir: String) = spark.read.parquet(dir)
      .where($"x".between(100, 130) && $"y".between(500, 530)).count()
    assert(rowsIn(zDir) === rowsIn(sDir))
    assert(zCand < sTotal, s"sanity: $zCand candidates of $sTotal")
  }
}
