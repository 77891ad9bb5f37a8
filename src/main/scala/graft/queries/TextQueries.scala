package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.functions.GraftFunctions

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language ID, fingerprinting — the text half of an
  * LLM-data-pipeline (extension phase, SURVEY §7.6).
  *
  * Counting uses the replace-trick `(len(t) - len(replace(t, m, ''))) / len(m)`
  * so the identical ANSI SQL runs in Catalyst and DuckDB.
  */
object TextQueries extends QueryPack {

  private def occurrences(marker: String): String = {
    val m = marker.replace("'", "''")
    s"(LENGTH(text) - LENGTH(REPLACE(text, '$m', ''))) / ${marker.length}"
  }

  /** Whitespace token count (single-space-joined corpus). */
  private val tokens = s"(${occurrences(" ")} + 1)"

  private def shared(name: String, sql: String): Q =
    Q(name, (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, Some(sql))

  // ----------------------------------------------------------- stats
  // Per-source corpus statistics + quality score: token count, stopword
  // ratio, punctuation ratio, length buckets. Quality = weighted per-row
  // double arithmetic (deterministic), aggregated through exact decimals.
  private val statsSql = s"""
    |SELECT source,
    |  COUNT(*) AS n_docs,
    |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
    |  CAST(SUM($tokens) AS BIGINT) AS total_tokens,
    |  CAST(MIN($tokens) AS BIGINT) AS min_tokens,
    |  CAST(MAX($tokens) AS BIGINT) AS max_tokens,
    |  COUNT(CASE WHEN $tokens >= 50 THEN 1 END) AS n_long_docs,
    |  ${dsum(s"(${occurrences(" the ")}) * 1.0 / $tokens", 6)} AS stopword_ratio_sum,
    |  ${dsum(s"""
      CASE WHEN $tokens BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END
      + CASE WHEN ${occurrences(" the ")} > 0 THEN 0.3 ELSE 0.0 END
      + CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 0.2 ELSE 0.0 END""", 6)}
    |    AS quality_sum
    |FROM documents
    |GROUP BY source
    |ORDER BY source
    |""".stripMargin.trim

  // ---------------------------------------------------------- langid
  // Stopword-marker scoring per language; deterministic argmax tiebreak.
  private def score(markers: Seq[String]): String =
    markers.map(occurrences).mkString("(", " + ", ")")

  private val sEn = score(Seq(" the ", " and ", " of "))
  private val sDe = score(Seq(" der ", " und ", " die "))
  private val sEs = score(Seq(" el ", " los ", " que "))
  private val sFr = score(Seq(" le ", " les ", " des "))

  private val langidSql = s"""
    |WITH scored AS (
    |  SELECT lang AS labeled_lang,
    |    CASE
    |      WHEN $sEn >= $sDe AND $sEn >= $sEs AND $sEn >= $sFr AND $sEn > 0 THEN 'en'
    |      WHEN $sDe >= $sEs AND $sDe >= $sFr AND $sDe > 0 THEN 'de'
    |      WHEN $sEs >= $sFr AND $sEs > 0 THEN 'es'
    |      WHEN $sFr > 0 THEN 'fr'
    |      ELSE 'unknown'
    |    END AS predicted_lang
    |  FROM documents)
    |SELECT predicted_lang, labeled_lang, COUNT(*) AS n_docs
    |FROM scored
    |GROUP BY predicted_lang, labeled_lang
    |ORDER BY predicted_lang, labeled_lang
    |""".stripMargin.trim

  // ------------------------------------------------------ fingerprint
  // Winnowing fingerprint via the native codegen'd expression. The DuckDB
  // oracle re-derives the kernel bit-for-bit (see fingerprintOracle): the
  // rolling polynomial is re-expressed as per-window direct hashes (same
  // values — the rolling form is just an evaluation strategy), and Java's
  // wrapping 64-bit arithmetic is emulated with HUGEINT intermediates
  // mod 2^64. Collision-grouped fingerprints find near-dup prefixes
  // (window-min hashes collide for heavily-overlapping docs).
  private def fingerprint(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    Tables.registerAll(s, dir)
    s.sql("""
      |SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
      |FROM (SELECT doc_id, doc_fingerprint(text, 16) AS fp FROM documents)
      |GROUP BY fp
      |HAVING COUNT(*) > 1
      |ORDER BY n_docs DESC, fp
      |LIMIT 100
      |""".stripMargin.trim)
  }

  /** Wrapping-arithmetic emulation shared with the dedup-tier oracles —
    * see [[OracleMath]] for the HUGEINT-limb scheme and the ASCII ord()
    * caveat. The window hash itself needs no multiply split — base
    * 1000003 < 2^20, so acc*B + byte ≤ 2^84.
    */
  private val m64 = OracleMath.m64
  private def u64(x: String): String = OracleMath.u64(x)
  private def mul64(a: String, b: String): String = OracleMath.mul64(a, b)

  private val fingerprintOracle = s"""
    |WITH
    |docs AS (
    |  SELECT doc_id,
    |    list_transform(string_split(text, ''), c -> CAST(ord(c) AS HUGEINT)) AS bs,
    |    length(text) AS n, LEAST(16, length(text)) AS w
    |  FROM documents WHERE length(text) > 0),
    |wins AS (
    |  SELECT doc_id, w, bs, unnest(generate_series(1, n - w + 1)) AS j
    |  FROM docs),
    |hashes AS (
    |  SELECT doc_id,
    |    list_reduce(bs[j : j + w - 1],
    |      (acc, b) -> (acc * 1000003 + b) % $m64) AS h
    |  FROM wins),
    |m1 AS (SELECT doc_id, ${u64("h + 11400714819323198485")} AS z FROM hashes),
    |m2 AS (SELECT doc_id, ${mul64("xor(z, z >> 30)", "CAST(13787848793156543929 AS UBIGINT)")} AS z FROM m1),
    |m3 AS (SELECT doc_id, ${mul64("xor(z, z >> 27)", "CAST(10723151780598845931 AS UBIGINT)")} AS z FROM m2),
    |mixed AS (SELECT doc_id, xor(z, z >> 31) AS m FROM m3),
    |fps AS (
    |  SELECT doc_id,
    |    CAST(CAST(MIN(m) AS HUGEINT)
    |      - CASE WHEN MIN(m) >= 9223372036854775808 THEN $m64 ELSE 0 END
    |      AS BIGINT) AS fp
    |  FROM mixed GROUP BY doc_id
    |  UNION ALL
    |  SELECT doc_id, CAST(0 AS BIGINT) AS fp
    |  FROM documents WHERE length(text) = 0)
    |SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
    |FROM fps
    |GROUP BY fp
    |HAVING COUNT(*) > 1
    |ORDER BY n_docs DESC, fp
    |LIMIT 100
    |""".stripMargin.trim

  // ------------------------------------------------- token frequency
  // Top-50 corpus tokens: explode + count + deterministic top-k. The
  // Spark side explodes via split(); the oracle unnests string_split —
  // same token definition (single-space corpus).
  private def tokenFreq(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(50)
  }

  private val tokenFreqOracle = """
    |SELECT token, COUNT(*) AS n_occurrences
    |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    |WHERE length(token) > 0
    |GROUP BY token
    |ORDER BY n_occurrences DESC, token
    |LIMIT 50
    |""".stripMargin.trim

  // ------------------------------------------------ exact heavy hitters
  // Sketch-then-confirm top-30 tokens: a Misra-Gries pass (<= 4096
  // counters per partition buffer, merged in a tree — the driver receives
  // sketches, never the token domain) nominates candidates with the
  // mergeable-summaries guarantee that every token with count > N/4097
  // survives; a second pass counts the candidates only, exactly. Each
  // pass is ONE Spark job (per-partition buffers, tree-merged), where a
  // global aggregate plus a broadcast-join groupBy and a sorted limit
  // cost five under adaptive execution. The result is provably exact
  // top-k — the require fails loud if the 30th count does not clear the
  // MG threshold (k too small for this corpus) instead of returning a
  // silently-wrong answer. At 100 TB this replaces text_token_freq's
  // full-vocabulary shuffle with a fixed-size sketch + a long-tail-free
  // confirm.
  private def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val counters = 4096
    def tokens = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .as[String].rdd
    val (sketch, n) = tokens.treeAggregate((new graft.functions.MgBuffer(counters), 0L))(
      { case ((b, c), t) => b.add(t); (b, c + 1) },
      { case ((a, ca), (b, cb)) => (a.mergeIn(b), ca + cb) })
    val cand = sketch.counts.keySet.asScala.toSet
    val exact = tokens
      .mapPartitions { it =>
        val c = new java.util.HashMap[String, Long]
        it.foreach(t => if (cand(t)) c.put(t, c.getOrDefault(t, 0L) + 1L))
        Iterator.single(c)
      }
      .treeReduce { (a, b) =>
        b.forEach((t, k) => a.put(t, a.getOrDefault(t, 0L) + k)); a
      }
    // ORDER BY n_occurrences DESC, token — strings in Spark's (UTF-8
    // byte) order
    val top = exact.asScala.toSeq
      .sortWith { case ((ta, na), (tb, nb)) =>
        na > nb || (na == nb && org.apache.spark.unsafe.types.UTF8String.fromString(ta)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(tb)) < 0)
      }
      .take(30)
    require(top.length == 30 && top.last._2 > n / (counters + 1L),
      s"mg_topk($counters) cannot certify top-30 here: 30th count " +
        s"${top.lastOption.map(_._2)} vs threshold ${n / (counters + 1L)}")
    s.createDataFrame(top.map { case (t, k) => org.apache.spark.sql.Row(t, k) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n_occurrences",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  private val heavyHittersOracle = """
    |SELECT token, COUNT(*) AS n_occurrences
    |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    |WHERE length(token) > 0
    |GROUP BY token
    |ORDER BY n_occurrences DESC, token
    |LIMIT 30
    |""".stripMargin.trim

  // --------------------------------------------- BPE-ish token counts
  // Subword-style tokenization via the classic pre-tokenizer regex
  // shape: letter runs | digit runs (capped at 3, GPT-2-style) |
  // single non-alphanumeric marks. Counted per doc, aggregated per
  // source next to the whitespace count, so the two tokenizer costs are
  // directly comparable. The pattern uses only portable regex syntax,
  // so Spark (Java regex) and DuckDB (RE2) tokenize identically.
  private val bpePattern = "[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ]"

  private def tokenBpe(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.load(s, dir, "documents")
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .cast("long").as("bpe"),
        size(split(col("text"), " ")).cast("long").as("ws"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("bpe")).cast("long").as("bpe_tokens"),
        sum(col("ws")).cast("long").as("ws_tokens"),
        max(col("bpe")).as("max_bpe_doc"))
      .orderBy("source")
  }

  private val tokenBpeOracle = s"""
    |WITH t AS (
    |  SELECT source,
    |    CAST(len(regexp_extract_all(text, '$bpePattern')) AS BIGINT) AS bpe,
    |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws
    |  FROM documents)
    |SELECT source, COUNT(*) AS n_docs,
    |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
    |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
    |  MAX(bpe) AS max_bpe_doc
    |FROM t
    |GROUP BY source
    |ORDER BY source
    |""".stripMargin.trim

  // -------------------------------------------------------- PII scrub
  // Redaction pipeline — the compliance pass every training corpus runs
  // before tokenization. Three sequential patterns (emails, then IPv4s,
  // then phone-shaped digit runs, each counted against the previous
  // stage's text so a redacted email's digits can't double-count as a
  // phone). Patterns use only portable syntax (no lookaround/backrefs)
  // so Java regex and RE2 match identically; DuckDB needs the 'g' flag
  // where Spark's regexp_replace is global by default — hence the
  // DF + oracle pair rather than shared SQL. Per-source rollup keeps the
  // whole thing one narrow projection + one partial-aggregated groupBy:
  // at 100 TB this is a pure map pass, no shuffle beyond the tiny rollup.
  private val emailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val ipPat = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"""
  private val phonePat = """\+?[0-9][0-9()\- ]{7,}[0-9]"""

  private def piiScrub(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.load(s, dir, "documents")
      .select(col("source"), col("text"),
        regexp_replace(col("text"), emailPat, "<EMAIL>").as("e"))
      .withColumn("i", regexp_replace(col("e"), ipPat, "<IP>"))
      .withColumn("p", regexp_replace(col("i"), phonePat, "<PHONE>"))
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0)))
          .cast("long").as("n_em"),
        size(regexp_extract_all(col("e"), lit(ipPat), lit(0)))
          .cast("long").as("n_ip"),
        size(regexp_extract_all(col("i"), lit(phonePat), lit(0)))
          .cast("long").as("n_ph"),
        (length(col("text")) - length(col("p"))).cast("long").as("delta"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("n_em") + col("n_ip") + col("n_ph") > 0, 1)).as("docs_with_pii"),
        sum(col("n_em")).cast("long").as("n_emails"),
        sum(col("n_ip")).cast("long").as("n_ips"),
        sum(col("n_ph")).cast("long").as("n_phones"),
        sum(col("delta")).cast("long").as("chars_redacted"))
      .orderBy("source")
  }

  private val piiScrubOracle = s"""
    |WITH staged AS (
    |  SELECT source, text,
    |    regexp_replace(text, '$emailPat', '<EMAIL>', 'g') AS e
    |  FROM documents),
    |staged2 AS (
    |  SELECT source, text, e,
    |    regexp_replace(e, '$ipPat', '<IP>', 'g') AS i
    |  FROM staged),
    |counted AS (
    |  SELECT source,
    |    CAST(len(regexp_extract_all(text, '$emailPat')) AS BIGINT) AS n_em,
    |    CAST(len(regexp_extract_all(e, '$ipPat')) AS BIGINT) AS n_ip,
    |    CAST(len(regexp_extract_all(i, '$phonePat')) AS BIGINT) AS n_ph,
    |    CAST(length(text) - length(regexp_replace(i, '$phonePat', '<PHONE>', 'g')) AS BIGINT) AS delta
    |  FROM staged2)
    |SELECT source, COUNT(*) AS n_docs,
    |  COUNT(CASE WHEN n_em + n_ip + n_ph > 0 THEN 1 END) AS docs_with_pii,
    |  CAST(SUM(n_em) AS BIGINT) AS n_emails,
    |  CAST(SUM(n_ip) AS BIGINT) AS n_ips,
    |  CAST(SUM(n_ph) AS BIGINT) AS n_phones,
    |  CAST(SUM(delta) AS BIGINT) AS chars_redacted
    |FROM counted
    |GROUP BY source
    |ORDER BY source
    |""".stripMargin.trim

  // ------------------------------------------- stratified hash split
  // Deterministic train/val/test assignment — the split must be a pure
  // function of CONTENT (not row order, partitioning, or a seed table)
  // so re-runs, backfills, and incremental ingests land every doc in the
  // same fold on any engine. Bucket = first 16 bits of md5(text) mod 100
  // (content-keyed so exact dups fall in the same fold and can't leak
  // train→test); 90/5/5. One narrow map + tiny rollup: shuffle-free at
  // any scale. Spark spells hex→int as conv(); DuckDB as CAST('0x'...).
  private def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.load(s, dir, "documents")
      .select(col("lang"), col("doc_id"), col("n_chars"),
        (expr("CAST(conv(substring(md5(text), 1, 4), 16, 10) AS BIGINT)") % 100)
          .as("bucket"))
      .withColumn("fold",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .groupBy("lang", "fold")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("lang", "fold")
  }

  private val sampleStratifiedOracle = """
    |WITH folded AS (
    |  SELECT lang, doc_id, n_chars,
    |    CAST(('0x' || substring(md5(text), 1, 4)) AS BIGINT) % 100 AS bucket
    |  FROM documents)
    |SELECT lang,
    |  CASE WHEN bucket < 90 THEN 'train'
    |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS fold,
    |  COUNT(*) AS n_docs,
    |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
    |  MIN(doc_id) AS first_doc
    |FROM folded
    |GROUP BY 1, 2
    |ORDER BY lang, fold
    |""".stripMargin.trim

  // ------------------------------------------------ sequence packing
  // Concat-then-chunk packing, the standard LLM-pretraining shape: each
  // shard's documents are concatenated in doc_id order into one token
  // stream, chunked into 2048-token sequences; a document's placement is
  // pure integer arithmetic over the running token total that PRECEDES it
  // (a doc may span a chunk boundary — n_seqs counts the sequences it
  // touches). Shared-SQL query (identical text runs in Catalyst and
  // DuckDB), so the check is hash-exact by construction.
  //
  // 100 TB design: PARTITION BY shard windows are per-shard sorts after
  // one hash shuffle on the shard key — no global sort anywhere; shards
  // pack independently and deterministically (re-runs and backfills
  // reproduce the exact same sequence ids). FLOOR(x / 2048.0) stays
  // exact far beyond any real shard's token count (doubles are exact to
  // 2^53).
  private val packSequencesSql = """
    |WITH d AS (
    |  SELECT doc_id, doc_id % 8 AS shard,
    |    CAST((LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) + 1 AS BIGINT) AS n_tokens
    |  FROM documents),
    |c AS (
    |  SELECT doc_id, shard, n_tokens,
    |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
    |  FROM d)
    |SELECT doc_id, shard, n_tokens,
    |  CAST(FLOOR(tok_before / 2048.0) AS BIGINT) AS start_seq,
    |  CAST(FLOOR((tok_before + n_tokens - 1) / 2048.0) AS BIGINT)
    |    - CAST(FLOOR(tok_before / 2048.0) AS BIGINT) + 1 AS n_seqs
    |FROM c
    |ORDER BY doc_id
    |""".stripMargin.trim

  // -------------------------------------------------- decontamination
  // Benchmark decontamination: training documents sharing any word-8-gram
  // with the holdout set (here doc_id % 10 = 0 stands in for the
  // benchmark suite) are flagged with their overlap size. The Spark side
  // joins on the 64-bit shingle hashes from the native kernel (8-byte
  // shuffle keys, same trade as dedup_ngram_jaccard); the oracle joins
  // the strings themselves. At 100 TB the holdout is a benchmark suite —
  // tiny — so its gram set broadcasts and the scan stays one pass; the
  // 10%-holdout fixture exercises the general shuffle-join shape instead.
  // cache = false: plan-only callers (the plan gate) must not register
  // persist entries they can never unpersist (same contract as
  // DedupQueries.ngramJaccardPlan)
  private def decontaminateFull(s: SparkSession, dir: String,
      cache: Boolean): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    GraftFunctions.register(s)
    // kernel output is the DISTINCT hash set per doc, so per-doc overlap
    // counts need no extra distinct. Persisted: holdout and training
    // branches are two filters of the same narrow plan with no exchange
    // to reuse — unpersisted, the corpus would be re-shingled twice.
    val sh0 = docs.select($"doc_id",
      explode(expr("word_shingle_hashes(text, 8)")).as("g"))
    val sh = if (cache)
      sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sh0
    val hold = sh.filter($"doc_id" % 10 === 0).select($"g").distinct()
    val result = sh.filter($"doc_id" % 10 =!= 0)
      .join(hold, "g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy($"doc_id")
    (result, sh)
  }

  private[queries] def decontaminatePlan(s: SparkSession, dir: String): DataFrame =
    decontaminateFull(s, dir, cache = false)._1

  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val (result, sh) = decontaminateFull(s, dir, cache = true)
    // contaminated-doc list is driver-sized by design (it is the flag
    // list a pipeline acts on): materialize, then free the shingle cache
    val rows = result.collect()
    sh.unpersist()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  private val decontaminateOracle = """
    |WITH toks AS (
    |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    |sh AS (
    |  SELECT DISTINCT doc_id,
    |    array_to_string(w[CAST(t.i AS BIGINT):CAST(t.i AS BIGINT)+7], ' ') AS g
    |  FROM toks, unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS t(i)),
    |hold AS (SELECT DISTINCT g FROM sh WHERE doc_id % 10 = 0)
    |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    |FROM sh s JOIN hold h ON s.g = h.g
    |WHERE s.doc_id % 10 <> 0
    |GROUP BY s.doc_id
    |ORDER BY s.doc_id
    |""".stripMargin.trim

  // ------------------------------------------------ cleaning pipeline
  // The composed cleaning pass a training-data pipeline actually runs,
  // as ONE declarative plan: token-count quality gate → exact dedup
  // (keeper = min doc_id per content hash) → deterministic md5-bucket
  // fold assignment → per-fold rollup. Join-free: one narrow scan+filter,
  // one dedup groupBy, one partial-aggregated rollup — at 100 TB this is
  // two shuffles over ever-shrinking data, and because the fold is a pure
  // content hash the split is stable under re-runs and backfills (same
  // contract as sample_stratified). Every stage reuses semantics an
  // individual query already oracle-checks; the composition itself is
  // hash-exact here.
  private def pipelineClean(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        // the file's ONE tokenization rule (`tokens`): gate semantics stay
        // in lockstep with text_stats / pack_sequences
        expr(s"CAST($tokens AS BIGINT)").as("n_tokens"),
        md5(col("text")).as("h"))
      .filter(col("n_tokens").between(20, 1000))
    d.groupBy("h")
      .agg(
        min("doc_id").as("keeper"),
        min("n_tokens").as("n_tokens"), // identical within h (same text)
        count(lit(1)).as("n_copies"))
      .withColumn("bucket",
        expr("CAST(conv(substring(h, 1, 4), 16, 10) AS BIGINT) % 100"))
      .withColumn("fold",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .groupBy("fold")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        sum(col("n_copies") - 1).cast("long").as("n_dups_removed"),
        min(col("keeper")).as("first_keeper"))
      .orderBy("fold")
  }

  private val pipelineCleanOracle = s"""
    |WITH d AS (
    |  SELECT doc_id,
    |    CAST($tokens AS BIGINT) AS n_tokens,
    |    md5(text) AS h
    |  FROM documents
    |  WHERE CAST($tokens AS BIGINT) BETWEEN 20 AND 1000),
    |dedup AS (
    |  SELECT h, MIN(doc_id) AS keeper, MIN(n_tokens) AS n_tokens,
    |    COUNT(*) AS n_copies
    |  FROM d GROUP BY h),
    |folded AS (
    |  SELECT keeper, n_tokens, n_copies,
    |    CAST(('0x' || substring(h, 1, 4)) AS BIGINT) % 100 AS bucket
    |  FROM dedup)
    |SELECT CASE WHEN bucket < 90 THEN 'train'
    |            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS fold,
    |  COUNT(*) AS n_docs,
    |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
    |  CAST(SUM(n_copies - 1) AS BIGINT) AS n_dups_removed,
    |  MIN(keeper) AS first_keeper
    |FROM folded
    |GROUP BY 1
    |ORDER BY fold
    |""".stripMargin.trim

  // ------------------------------------------------ repetition signal
  // Intra-document repetition (the Gopher-style duplicate-bigram
  // fraction): 1 − distinct_bigrams / total_bigrams per doc, top-20 most
  // repetitive. Distinct counts come from the native shingle kernel (the
  // DISTINCT hash set, one narrow projection — no explode/groupBy);
  // totals are pure length arithmetic. Double division is CAST-exact on
  // both engines (a bare `* 1.0` would silently switch Spark to DECIMAL
  // arithmetic and break the hash match).
  private def textRepetition(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    GraftFunctions.register(s)
    val spaces = "CAST((LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) AS BIGINT)"
    val r = docs.select($"doc_id",
      expr(s"GREATEST($spaces, 1)").as("total_bigrams"),
      size(expr("word_shingle_hashes(text, 2)")).cast("long").as("n_distinct"))
    val rep = lit(1d) -
      $"n_distinct".cast("double") / $"total_bigrams".cast("double")
    r.select($"doc_id", $"total_bigrams", $"n_distinct",
        round(rep, 6).as("repetition"))
      .orderBy(rep.desc, $"doc_id")
      .limit(20)
  }

  private val textRepetitionOracle = """
    |WITH toks AS (
    |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    |g AS (
    |  SELECT doc_id,
    |    array_to_string(w[CAST(t.i AS BIGINT):CAST(t.i AS BIGINT)+1], ' ') AS g
    |  FROM toks, unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS t(i)),
    |r AS (
    |  SELECT doc_id, COUNT(*) AS total_bigrams, COUNT(DISTINCT g) AS n_distinct
    |  FROM g GROUP BY doc_id)
    |SELECT doc_id, total_bigrams, n_distinct,
    |  ROUND(1 - CAST(n_distinct AS DOUBLE) / CAST(total_bigrams AS DOUBLE), 6)
    |    AS repetition
    |FROM r
    |ORDER BY 1 - CAST(n_distinct AS DOUBLE) / CAST(total_bigrams AS DOUBLE) DESC,
    |  doc_id
    |LIMIT 20
    |""".stripMargin.trim

  // --------------------------------------------- Gopher rule battery
  // Document-quality rule filter in the style of the Gopher paper (Rae
  // et al. 2021, public): per-language counts of documents passing each
  // rule and all rules, plus the token mass retained by the full
  // battery. Rules kept to the replace-trick / length-arithmetic subset
  // so the IDENTICAL SQL runs in Catalyst and DuckDB (regexp flags
  // differ between engines, so digits count via a REPLACE chain):
  //   word count in [20, 100k]; mean word length in [3, 10]; >= 2
  //   English stopword hits (the battery is English-centric by design —
  //   the per-lang breakdown makes that bias visible); digit ratio
  //   < 0.2; symbol ('#'/'...') to word ratio < 0.1.
  // 100 TB design: one narrow map over documents followed by a 5-group
  // partial-aggregated rollup — no join, no explode; ratios divide as
  // DOUBLE via explicit CAST (a bare `* 1.0` is DECIMAL in Spark and
  // would diverge from DuckDB).
  private val digitChain =
    (0 to 9).foldLeft("text")((e, d) => s"REPLACE($e, '$d', '')")

  private val qualityGopherSql = s"""
    |WITH m AS (
    |  SELECT lang,
    |    LENGTH(text) AS n_chars_t,
    |    $tokens AS n_words,
    |    LENGTH(REPLACE(text, ' ', '')) AS n_nonspace,
    |    LENGTH(text) - LENGTH($digitChain) AS n_digits,
    |    ${score(Seq(" the ", " and ", " of "))} AS n_stops,
    |    (LENGTH(text) - LENGTH(REPLACE(text, '#', '')))
    |      + ${occurrences("...")} AS n_syms
    |  FROM documents),
    |r AS (
    |  SELECT lang, n_words,
    |    CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS r_words,
    |    CASE WHEN CAST(n_nonspace AS DOUBLE) / n_words BETWEEN 3 AND 10
    |         THEN 1 ELSE 0 END AS r_mwl,
    |    CASE WHEN n_stops >= 2 THEN 1 ELSE 0 END AS r_stop,
    |    CASE WHEN CAST(n_digits AS DOUBLE) / n_chars_t < 0.2
    |         THEN 1 ELSE 0 END AS r_digit,
    |    CASE WHEN CAST(n_syms AS DOUBLE) / n_words < 0.1
    |         THEN 1 ELSE 0 END AS r_sym
    |  FROM m)
    |SELECT lang, COUNT(*) AS n_docs,
    |  CAST(SUM(r_words) AS BIGINT) AS pass_word_count,
    |  CAST(SUM(r_mwl) AS BIGINT) AS pass_mean_word_len,
    |  CAST(SUM(r_stop) AS BIGINT) AS pass_stopwords,
    |  CAST(SUM(r_digit) AS BIGINT) AS pass_digit_ratio,
    |  CAST(SUM(r_sym) AS BIGINT) AS pass_symbol_ratio,
    |  CAST(SUM(r_words * r_mwl * r_stop * r_digit * r_sym) AS BIGINT)
    |    AS pass_all,
    |  CAST(COALESCE(SUM(CASE WHEN r_words * r_mwl * r_stop * r_digit * r_sym = 1
    |    THEN n_words END), 0) AS BIGINT) AS retained_tokens
    |FROM r
    |GROUP BY lang
    |ORDER BY lang
    |""".stripMargin.trim

  // ------------------------------------------------- mixture sampling
  // Data-mixture resampling: given target per-mille weights per language
  // and the available counts, find the largest total T with
  // p_lang * T <= n_lang for every language (so no group is oversampled),
  // then down-sample each group deterministically to rate
  // p_lang * T / n_lang via an md5 content bucket — re-runs and backfills
  // pick the identical subset, and exact duplicate texts land in the same
  // bucket on every executor.
  //
  // 100 TB design: the rate table is five rows (counts aggregate
  // partially, the min folds on the driver-side plan as a 1-row
  // broadcast); sampling itself is a narrow map + broadcast join —
  // no global shuffle of the corpus.
  private def pipelineMix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val targets = Map("de" -> 150L, "en" -> 500L, "es" -> 150L,
      "fr" -> 100L, "zh" -> 100L)
    // The per-language count is driver-sized by definition (bounded by
    // the language inventory), so the rate table is computed ON the
    // driver from one aggregate scan — the corpus itself never shuffles.
    // JVM double division is the same IEEE op DuckDB runs, so thresholds
    // match the oracle bit-for-bit.
    val avail: Seq[(String, Long)] = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_avail"))
      .collect().toSeq
      .map(r => r.getString(0) -> r.getLong(1))
      .filter { case (l, _) => targets.contains(l) }
    // no target language present => the oracle's joins are all empty;
    // return the same empty shape instead of letting .min throw
    if (avail.isEmpty) {
      return Seq.empty[(String, Long, Long, Long, Long, Long, Option[Long])]
        .toDF("lang", "n_avail", "target_permille", "threshold",
          "n_sampled", "sampled_chars", "first_doc")
    }
    val tMax = avail
      .map { case (l, n) => math.floor(n * 1000.0 / targets(l)).toLong }.min
    val rates = avail.map { case (l, n) =>
      (l, n, targets(l),
        math.floor((targets(l) * tMax) * 10.0 / n).toLong)
    }.toDF("lang", "n_avail", "wt", "threshold")
    val picked = docs
      .withColumn("bucket",
        expr("CAST(conv(substring(md5(text), 1, 6), 16, 10) AS BIGINT) % 10000"))
      .join(broadcast(rates.select("lang", "threshold")), "lang")
      .filter($"bucket" < $"threshold")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum("n_chars").cast("long").as("sampled_chars"),
        min("doc_id").as("first_doc"))
    rates.join(broadcast(picked), Seq("lang"), "left")
      .select($"lang", $"n_avail", $"wt".as("target_permille"), $"threshold",
        coalesce($"n_sampled", lit(0L)).as("n_sampled"),
        coalesce($"sampled_chars", lit(0L)).as("sampled_chars"),
        $"first_doc")
      .orderBy("lang")
  }

  private val pipelineMixOracle = """
    |WITH targets AS (
    |  SELECT * FROM (VALUES ('de', 150), ('en', 500), ('es', 150),
    |    ('fr', 100), ('zh', 100)) AS w(lang, wt)),
    |avail AS (
    |  SELECT d.lang, COUNT(*) AS n_avail, MIN(t.wt) AS wt
    |  FROM documents d JOIN targets t ON d.lang = t.lang
    |  GROUP BY d.lang),
    |cap AS (
    |  SELECT MIN(CAST(FLOOR(CAST(n_avail AS DOUBLE) * 1000.0 / wt) AS BIGINT))
    |    AS t_max FROM avail),
    |rates AS (
    |  SELECT a.lang, a.n_avail, a.wt,
    |    CAST(FLOOR(CAST(a.wt * c.t_max AS DOUBLE) * 10.0 / a.n_avail) AS BIGINT)
    |      AS threshold
    |  FROM avail a CROSS JOIN cap c),
    |picked AS (
    |  SELECT d.lang, COUNT(*) AS n_sampled,
    |    CAST(SUM(d.n_chars) AS BIGINT) AS sampled_chars,
    |    MIN(d.doc_id) AS first_doc
    |  FROM documents d JOIN rates r ON d.lang = r.lang
    |  WHERE CAST(('0x' || substring(md5(d.text), 1, 6)) AS BIGINT) % 10000
    |        < r.threshold
    |  GROUP BY d.lang)
    |SELECT r.lang, r.n_avail, CAST(r.wt AS BIGINT) AS target_permille,
    |  r.threshold,
    |  COALESCE(p.n_sampled, 0) AS n_sampled,
    |  COALESCE(p.sampled_chars, 0) AS sampled_chars,
    |  p.first_doc
    |FROM rates r LEFT JOIN picked p ON r.lang = p.lang
    |ORDER BY r.lang
    |""".stripMargin.trim

  // ------------------------------------------------------------ BM25
  // Full-text retrieval scoring: BM25 (k1=1.2, b=0.75) of a fixed
  // 3-term query over the corpus, top-20 docs. The plan is the 100 TB
  // retrieval shape: tokens FILTER to the query terms before any
  // aggregation (per-doc work ∝ matched terms, not doc length beyond
  // the one length pass), document-frequency and corpus constants are
  // 1-row/3-row aggregates Spark broadcasts into the scoring join, and
  // nothing shuffles the vocabulary. Determinism: per-term scores are
  // per-row IEEE arithmetic (identical in Spark and DuckDB), the ONLY
  // multi-term reduction goes through exact DECIMAL (dsum contract), and
  // the final ORDER BY has a doc_id tiebreak — so the driver hash-match
  // holds bit-exactly.
  private def bm25(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("docs_bm25")
    s.sql("""
      |WITH toks AS (
      |  SELECT doc_id, token
      |  FROM (SELECT doc_id, explode(split(text, ' ')) AS token FROM docs_bm25)
      |  WHERE length(token) > 0),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
      |consts AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
      |tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM toks
      |  WHERE token IN ('vector', 'stream', 'dup')
      |  GROUP BY doc_id, token),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      |scored AS (
      |  SELECT tf.doc_id,
      |    CAST(
      |      LN(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |                / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * 2.2)
      |      / (CAST(tf AS DOUBLE)
      |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |                          / (CAST(total AS DOUBLE) / CAST(n AS DOUBLE))))
      |      AS DECIMAL(18,9)) AS term_score
      |  FROM tf
      |  JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN consts
      |  JOIN dfreq ON tf.token = dfreq.token)
      |SELECT doc_id, CAST(ROUND(SUM(term_score), 4) AS DOUBLE) AS bm25
      |FROM scored GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id
      |LIMIT 20
      |""".stripMargin.trim)
  }

  private val bm25Oracle = """
    |WITH toks AS (
    |  SELECT doc_id, token
    |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    |  WHERE length(token) > 0),
    |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    |consts AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
    |tf AS (
    |  SELECT doc_id, token, COUNT(*) AS tf FROM toks
    |  WHERE token IN ('vector', 'stream', 'dup')
    |  GROUP BY doc_id, token),
    |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    |scored AS (
    |  SELECT tf.doc_id,
    |    CAST(
    |      LN(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
    |                / (CAST(df AS DOUBLE) + 0.5))
    |      * (CAST(tf AS DOUBLE) * 2.2)
    |      / (CAST(tf AS DOUBLE)
    |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
    |                          / (CAST(total AS DOUBLE) / CAST(n AS DOUBLE))))
    |      AS DECIMAL(18,9)) AS term_score
    |  FROM tf
    |  JOIN dl ON tf.doc_id = dl.doc_id
    |  CROSS JOIN consts
    |  JOIN dfreq ON tf.token = dfreq.token)
    |SELECT doc_id, CAST(ROUND(SUM(term_score), 4) AS DOUBLE) AS bm25
    |FROM scored GROUP BY doc_id
    |ORDER BY bm25 DESC, doc_id
    |LIMIT 20
    |""".stripMargin.trim

  // ------------------------------------------- LM perplexity scoring
  // The classic pretraining quality filter (KenLM-style, distilled to
  // its Spark-shaped core): a bigram language model with add-0.5
  // smoothing trains ON the corpus — bigram and context counts are two
  // groupBys, the vocabulary size one tiny aggregate — and every
  // document scores as its mean per-bigram negative log-likelihood.
  // High scores = statistically surprising documents (gibberish, wrong
  // language, boilerplate soup) — the ones a perplexity gate drops.
  // Scale shape: counts live in hash-partitioned aggregates keyed by
  // the bigram, the scoring join is equi-keyed on the same columns (no
  // broadcast of the model needed — at 100 TB the bigram table IS big),
  // and nothing driver-sided exists anywhere. Determinism: per-bigram
  // terms are per-row IEEE (identical in Spark and DuckDB), the per-doc
  // reduction is an exact DECIMAL sum, one IEEE division, one round.
  private def lmScore(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("docs_lm")
    s.sql("""
      |WITH toks AS (SELECT doc_id, split(text, ' ') AS ts FROM docs_lm),
      |bi AS (
      |  SELECT doc_id, b.w1, b.w2
      |  FROM toks
      |  LATERAL VIEW explode(zip_with(slice(ts, 1, size(ts) - 1),
      |                                slice(ts, 2, size(ts) - 1),
      |                                (a, b) -> named_struct('w1', a, 'w2', b))) t AS b),
      |cb AS (SELECT w1, w2, COUNT(*) AS nb FROM bi GROUP BY w1, w2),
      |cw AS (SELECT w1, COUNT(*) AS nw FROM bi GROUP BY w1),
      |vocab AS (SELECT COUNT(DISTINCT w1) AS v FROM bi),
      |terms AS (
      |  SELECT bi.doc_id,
      |    CAST(-LN((CAST(nb AS DOUBLE) + 0.5)
      |             / (CAST(nw AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
      |      AS DECIMAL(18,9)) AS nll
      |  FROM bi JOIN cb ON bi.w1 = cb.w1 AND bi.w2 = cb.w2
      |  JOIN cw ON bi.w1 = cw.w1 CROSS JOIN vocab)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 4) AS lm_nll
      |FROM terms GROUP BY doc_id
      |ORDER BY lm_nll DESC, doc_id LIMIT 20
      |""".stripMargin.trim)
  }

  private val lmScoreOracle = """
    |WITH toks AS (
    |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    |bi AS (
    |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
    |  FROM toks, LATERAL unnest(range(1, len(ts))) AS r(i)),
    |cb AS (SELECT w1, w2, COUNT(*) AS nb FROM bi GROUP BY w1, w2),
    |cw AS (SELECT w1, COUNT(*) AS nw FROM bi GROUP BY w1),
    |vocab AS (SELECT COUNT(DISTINCT w1) AS v FROM bi),
    |terms AS (
    |  SELECT bi.doc_id,
    |    CAST(-LN((CAST(nb AS DOUBLE) + 0.5)
    |             / (CAST(nw AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
    |      AS DECIMAL(18,9)) AS nll
    |  FROM bi JOIN cb ON bi.w1 = cb.w1 AND bi.w2 = cb.w2
    |  JOIN cw ON bi.w1 = cw.w1 CROSS JOIN vocab)
    |SELECT doc_id, COUNT(*) AS n_bigrams,
    |  ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 4) AS lm_nll
    |FROM terms GROUP BY doc_id
    |ORDER BY lm_nll DESC, doc_id LIMIT 20
    |""".stripMargin.trim

  // ------------------------------------------------- overlap chunking
  // Fixed-window chunking with stride overlap (500-char windows every
  // 400 chars → 100-char overlap) — the chunker feeding RAG indexing
  // and long-context pretraining, with per-chunk provenance
  // (doc_id, start offset). Pure narrow explode: each doc expands
  // independently, no shuffle until the rollup — embarrassingly
  // parallel at 100 TB. The rollup's DISTINCT-md5 column makes the
  // hash-exact compare content-sensitive: a single off-by-one in any
  // engine's substring arithmetic changes a chunk digest.
  private val chunkSpark = s"""
    |WITH chunks AS (
    |  SELECT doc_id, source, pos, substring(text, pos, 500) AS chunk
    |  FROM documents
    |  LATERAL VIEW explode(sequence(1, greatest(1, n_chars), 400)) t AS pos)
    |SELECT source,
    |  COUNT(*) AS n_chunks,
    |  COUNT(DISTINCT doc_id) AS n_docs,
    |  COUNT(DISTINCT md5(chunk)) AS n_distinct_chunks,
    |  CAST(SUM(LENGTH(chunk)) AS BIGINT) AS total_chunk_chars
    |FROM chunks
    |WHERE LENGTH(chunk) > 0
    |GROUP BY source
    |ORDER BY source
    |""".stripMargin.trim

  private val chunkOracle = s"""
    |WITH chunks AS (
    |  SELECT doc_id, source, t.pos, substring(text, CAST(t.pos AS BIGINT), 500) AS chunk
    |  FROM documents,
    |    unnest(generate_series(1, greatest(1, n_chars), 400)) AS t(pos))
    |SELECT source,
    |  COUNT(*) AS n_chunks,
    |  COUNT(DISTINCT doc_id) AS n_docs,
    |  COUNT(DISTINCT md5(chunk)) AS n_distinct_chunks,
    |  CAST(SUM(LENGTH(chunk)) AS BIGINT) AS total_chunk_chars
    |FROM chunks
    |WHERE LENGTH(chunk) > 0
    |GROUP BY source
    |ORDER BY source
    |""".stripMargin.trim

  override val all: Seq[Q] = Seq(
    shared("text_stats", statsSql),
    shared("text_langid", langidSql),
    Q("text_fingerprint", fingerprint, Some(fingerprintOracle)),
    Q("text_token_freq", tokenFreq, Some(tokenFreqOracle)),
    Q("text_heavy_hitters", heavyHitters, Some(heavyHittersOracle)),
    Q("text_token_bpe", tokenBpe, Some(tokenBpeOracle)),
    Q("text_pii_scrub", piiScrub, Some(piiScrubOracle)),
    Q("sample_stratified", sampleStratified, Some(sampleStratifiedOracle)),
    shared("pack_sequences", packSequencesSql),
    Q("text_decontaminate", decontaminate, Some(decontaminateOracle)),
    Q("text_repetition", textRepetition, Some(textRepetitionOracle)),
    Q("pipeline_clean", pipelineClean, Some(pipelineCleanOracle)),
    shared("text_quality_gopher", qualityGopherSql),
    Q("pipeline_mix", pipelineMix, Some(pipelineMixOracle)),
    Q("text_bm25", bm25, Some(bm25Oracle)),
    Q("text_lm_score", lmScore, Some(lmScoreOracle)),
    Q("text_chunk_overlap",
      (s, dir) => { Tables.registerAll(s, dir); s.sql(chunkSpark) },
      Some(chunkOracle)),
  )
}
