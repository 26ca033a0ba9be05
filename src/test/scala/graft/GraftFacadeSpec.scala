package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark.{spark, tempDir}

/** The facade works over arbitrary user DataFrames — not just the
  * driver testdata.
  */
class GraftFacadeSpec extends AnyFunSuite {
  import spark.implicits._

  test("dedup.nearDups over a custom corpus finds the planted pair") {
    val corpus = Seq(
      (10L, "spark shuffles parquet partitions across executors every day"),
      (20L, "spark shuffles parquet partitions across executors every night"),
      (30L, "an entirely different sentence about window aggregation state")
    ).toDF("doc_id", "text")
    val pairs = Graft.dedup.nearDups(corpus, 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((10L, 20L)))
  }

  test("similarity.topK over a custom embedding table") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Graft.similarity.topK(emb, numQueries = 1, k = 2).collect()
    assert(top.map(_.getLong(1)).toSeq === Seq(1L, 2L),
      "nearest to e_x must be the 0.9-aligned vector, then the orthogonal one")
  }

  test("install registers vector_dot for the SQL surface") {
    Graft.install(spark)
    val d = spark.sql("SELECT vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head.getDouble(0)
    assert(d === 11.0)
  }

  test("lake write + pruned scan over a custom stream table") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("facade_lake").toString
    val df = Seq(
      (1L, "2024-03-01 10:30:00"), (2L, "2024-03-01 11:30:00"),
      (3L, "2024-03-02 10:30:00"))
      .toDF("id", "ts_s")
      .select($"id", to_timestamp($"ts_s").as("ts"))
    Graft.lake.write(df, dir)
    val got = Graft.lake.scan(spark, dir, "2024-03-01 00:00:00", "2024-03-02 00:00:00")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 2L))
    // and the V2 read prunes the same range from raw ts predicates
    import org.apache.spark.sql.functions.{col, to_timestamp => tots, lit => l}
    val v2 = Graft.lake.read(spark, dir)
      .where(col("ts") >= tots(l("2024-03-01 00:00:00"))
        && col("ts") < tots(l("2024-03-02 00:00:00")))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(v2.toSeq === Seq(1L, 2L))
  }

  test("corpus.incrementalDedup and hashBucket over custom tables") {
    val existing = Seq("aaa", "bbb").map(Tuple1(_)).toDF("fp")
    val batch = Seq((10L, "bbb"), (11L, "ccc")).toDF("doc_id", "fp")
    val kept = Graft.corpus.incrementalDedup(batch, existing, 100L)
      .select("doc_id").collect().map(_.getLong(0))
    assert(kept.toSeq === Seq(11L))
    // hashBucket: 2 lowercase hex chars, deterministic
    val b = Seq(42L).toDF("id")
      .select(Graft.corpus.hashBucket($"id").as("b")).head.getString(0)
    assert(b.matches("[0-9a-f]{2}"))
    assert(Seq(42L).toDF("id").select(Graft.corpus.hashBucket($"id"))
      .head.getString(0) === b)
    // kmvDistinct: exact under k
    val d = (1 to 50).map(_.toLong).toDF("v")
      .agg(Graft.corpus.kmvDistinct($"v").as("d")).head.getLong(0)
    assert(d === 50L)
  }
}
