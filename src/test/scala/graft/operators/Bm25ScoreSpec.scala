package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SharedSpark.{spark, sf}

/** The fused map-only BM25 scorer ([[RetrievalOps.bm25ScoredOn]]) value
  * for value against the oracle CTE transcribed to Spark SQL — the
  * explode → count-per-(doc, term) / per-doc / per-term form — on a
  * corpus built to hit every case where the two shapes could part:
  * null text, empty and whitespace-only text, upper-case tokens,
  * repeated spaces, a duplicated query term, a query term no document
  * has (df = 0) and documents with no query term. Both ANSI modes run,
  * since `size(null)` is -1 with ANSI off and null with it on.
  */
class Bm25ScoreSpec extends AnyFunSuite {

  private val edgeTexts: Seq[(Long, String)] = Seq(
    1L -> "vector join",
    2L -> null,
    3L -> "",
    4L -> "   ",
    5L -> "VECTOR  Vector   slow",
    6L -> "nothing to see here",
    7L -> "join join join the  slow path ",
    8L -> " slow",
    9L -> "Join",
    10L -> "vectorjoin slow-ish",
    11L -> null)

  private def edgeCorpus(s: SparkSession): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(edgeTexts.map { case (i, t) => Row(i, t) }: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  /** The oracle CTE over view `view`, in Spark SQL, for `query`. */
  private def oracleScores(s: SparkSession, view: String,
      query: Seq[String]): DataFrame = {
    val duck = RetrievalOps.bm25CteOver(view)
    val inList = "('vector', 'join', 'slow')"
    assert(duck.contains("unnest(string_split(") && duck.contains(inList),
      "the oracle CTE changed shape; update its transcription")
    s.sql(duck
      .replace("unnest(string_split(", "explode(split(")
      .replace(inList, query.distinct.map(q => s"'$q'").mkString("(", ", ", ")")) +
      "\nSELECT doc_id, sd FROM sc")
  }

  private def scores(df: DataFrame): Map[Long, java.math.BigDecimal] =
    df.collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap

  private def assertMatchesOracle(s: SparkSession, corpus: DataFrame,
      query: Seq[String]): Map[Long, java.math.BigDecimal] = {
    val view = "bm25_score_spec_corpus"
    corpus.createOrReplaceTempView(view)
    val fused = RetrievalOps.bm25ScoredOn(s.table(view), query)
    val oracle = oracleScores(s, view, query)
    assert(fused.schema("sd").dataType == oracle.schema("sd").dataType)
    val got = scores(fused)
    assert(got == scores(oracle))
    got
  }

  private def bothAnsiModes(body: SparkSession => Unit): Unit = {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    body(spark)
    val ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    body(ansi)
  }

  test("fused scorer == oracle transcription on the edge-case corpus") {
    bothAnsiModes { s =>
      val got = assertMatchesOracle(s, edgeCorpus(s), RetrievalOps.QueryTerms)
      // only documents holding a query term are scored
      assert(got.keySet == Set(1L, 5L, 7L, 8L, 9L))
    }
  }

  test("duplicated and absent query terms score like the oracle") {
    bothAnsiModes { s =>
      val got = assertMatchesOracle(s, edgeCorpus(s),
        Seq("join", "vector", "join", "absent"))
      assert(got.keySet == Set(1L, 5L, 7L, 9L))
    }
  }

  test("fused scorer == oracle transcription on the test corpus") {
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(assertMatchesOracle(spark, docs, RetrievalOps.QueryTerms).nonEmpty)
  }
}
