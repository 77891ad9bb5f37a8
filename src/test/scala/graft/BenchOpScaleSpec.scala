package graft


import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dwrf.TestSpark

/** Pins the two claims the operator scale stress (`BenchOpScale`) rests
  * on, at spec speed:
  *
  *  1. the word-prefixed replica corpus is an exact per-copy isomorph —
  *     the EXACT dedup tier over 2 copies yields exactly 2× the base
  *     clusters with the same size histogram;
  *  2. the df ≤ 50 skew cap actually changes behavior (the fixtures
  *     never push a shingle past df 4, so without this corpus the cap
  *     is untested code): docs similar ONLY through >50-doc boilerplate
  *     produce no pairs, while a rare-shingle near-dup pair in the same
  *     corpus still surfaces.
  */
class BenchOpScaleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("2-copy prefixed corpus doubles the exact dedup clusters exactly") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("opscale-spec-").toString
    BenchOpScale.scaledCorpus(s, sf, 2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val base = SparkEntry.queries("dedup_clusters")(s, sf)
      .select($"n_docs").as[Long].collect().sorted.toSeq
    val doubled = SparkEntry.queries("dedup_clusters")(s, dir)
      .select($"n_docs").as[Long].collect().sorted.toSeq
    assert(doubled == (base ++ base).sorted,
      "cluster size histogram must replicate exactly per copy")
  }

  test("df cap drops boilerplate-only pairs, keeps rare-shingle near-dups") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("dfcap-spec-").toString
    // 60 docs sharing 40 words of boilerplate (df 60 > 50 for every
    // boilerplate shingle) + 4 unique words each: uncapped Jaccard
    // between any two is ~36/52 >= 0.5, capped n_common is 0
    val boiler = (1 to 40).map(i => s"boiler$i").mkString(" ")
    val boilerDocs = (0 until 60).map { d =>
      (d.toLong, s"$boiler u${d}a u${d}b u${d}c u${d}d")
    }
    // one genuine near-dup pair via 30 RARE shared words (df = 2)
    val rare = (1 to 30).map(i => s"rare$i").mkString(" ")
    val nearDocs = Seq((1000L, s"$rare endone"), (1001L, s"$rare endtwo"))
    (boilerDocs ++ nearDocs)
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'spec' AS source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("dedup_ngram_jaccard")(s, dir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1000L, 1001L)),
      s"expected only the rare-shingle pair; got $pairs — the df cap " +
        "either leaked boilerplate pairs or ate the genuine one")
  }
}
