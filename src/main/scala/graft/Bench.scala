package graft

import org.apache.spark.sql.SparkSession

/** The bench-contract SparkSession that Bench, Verify and PlanDump
  * share: `local[$SPARK_GRAFT_CPUS]`, graft extensions, shuffle
  * partitions = cpus, AQE on, UTC, UI off. ONE construction site so a
  * probe or the correctness dump can never silently run a different
  * session shape than the one Bench times.
  */
private[graft] object BenchSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def build(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Perf surface: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line the driver records as BENCH_r{N}.json.
  *
  * Headliners cover every subsystem (scan/join/agg/window, dwrf write+
  * read round trip, dedup, similarity, text, multimodal, streaming,
  * scrub/split) but exclude `ann_cosine_pairs` — the all-pairs exact
  * verifier that exists to check the LSH path at small SF, quadratic by
  * design.
  *
  * Timing discipline: this host's single-run numbers swing ±30%
  * run-to-run (VM contention), so each reported number is the MEDIAN of
  * `SPARK_GRAFT_BENCH_PASSES` (default 3) full interleaved passes —
  * pass-interleaved rather than back-to-back per query so every sample
  * sees the same JIT/page-cache regime and round-over-round deltas
  * outrun the noise. Within each pass the query order is a seeded
  * shuffle (seed varies per pass, fixed across runs) so no pair of
  * queries is adjacent in every pass. `value` is the sum of the
  * per-query medians; `samples` carries every raw per-pass time so a
  * regression can be attributed to noise vs code without a re-run.
  */
object Bench {

  private[graft] val headline: Seq[String] = Seq(
    "q1_pricing", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "q_events_hourly", "q_running_spend",
    "q_distinct_counts", "q_asof_join", "q_range_join", "q_events_funnel",
    "q_user_retention", "q_quantile_sketch", "q_profile_sketch",
    "q_resample_ffill",
    "dwrf_roundtrip_lineitem", "dwrf_projection_filter",
    "dwrf_filter_columnar", "dwrf_partitioned_roundtrip", "dwrf_footer_agg",
    "dwrf_zorder_scan", "dwrf_bloom_scan", "dwrf_bloom_stride",
    "dwrf_decimal_roundtrip",
    "dwrf_spj_join", "dwrf_delete_scan", "dwrf_merge_scan",
    "dwrf_time_travel", "dwrf_optimize_scan", "dwrf_catalog_scan",
    "dwrf_bucket_join",
    "dwrf_dv_scan", "dwrf_dv_count", "dwrf_update_mor", "dwrf_changes_scan",
    "dwrf_restore_scan", "dwrf_manifest_prune", "dwrf_lakesql_scan",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_clusters",
    "dedup_minhash_lsh", "dedup_substring", "dedup_semantic", "dedup_fuzzy",
    "text_heavy_hitters", "dwrf_compact_scan",
    "ann_topk_dot", "ann_filtered_topk", "ann_lsh_cosine", "ann_lsh_recall",
    "ann_ivf_recall",
    "ann_pq_recall",
    "text_stats", "text_langid", "text_fingerprint", "text_pii_scrub",
    "text_bm25",
    "sample_stratified", "pack_sequences", "text_decontaminate",
    "text_chunk_overlap",
    "text_repetition", "pipeline_clean", "text_quality_gopher",
    "pipeline_mix", "multimodal_meta", "sessionize_events",
    "stream_events_window", "stream_sessionize", "stream_dedup_exact",
    "stream_funnel", "stream_join_attrib",
    "stream_dwrf_sink", "stream_dwrf_source", "stream_log_follow",
    "stream_cdf_follow",
    // round 11: the previously-unbenched tail — every gated query runs
    // in the bench except ann_cosine_pairs (the deliberately-quadratic
    // small-SF verifier), so a perf regression anywhere is visible
    // round-over-round
    "adv_cube", "adv_exists_subquery", "adv_grouping_sets", "adv_having",
    "adv_in_subquery", "adv_lateral", "adv_listagg", "adv_market_share",
    "adv_percentiles", "adv_priority_buckets", "adv_profit_by_nation",
    "adv_rollup", "adv_scalar_funcs", "adv_scalar_subquery", "adv_set_ops",
    "adv_window_battery", "adv_window_frames",
    "adv_custdist", "adv_big_orders", "adv_late_supplier", "adv_idle_rich",
    "adv_trade_volume", "adv_returns_revenue",
    "adv_mincost_supplier", "adv_part_value_stock", "adv_promo_revenue",
    "adv_top_supplier", "adv_supplier_variety", "adv_small_qty_revenue",
    "adv_brand_disjunction", "adv_excess_shippers",
    "ann_ivf_topk", "ann_pq_topk", "ann_pq_persisted", "ann_pq_incremental",
    "dedup_simhash", "dedup_embedding", "dedup_incremental",
    "dwrf_ddl_scan", "dwrf_history_scan", "dwrf_nested_types",
    "dwrf_roundtrip_events", "dwrf_stripe_concat", "dwrf_union_roundtrip",
    "multimodal_audio", "multimodal_frames", "multimodal_resize",
    "q_distinct_sketch", "q_json_props", "q_nation_balance",
    "q_orders_case", "q_semi_anti_join", "q_top_parts_window",
    "text_lm_score", "text_token_bpe", "text_token_freq",
    "stream_agg_maintain", "stream_cdc_apply", "stream_dedup_within_wm",
    "stream_session_window")

  /** Rows benched on the production float kernels instead of the
    * exact-decimal tier (Exact scaladoc) — a cross-policy A/B ratio on
    * these measures the arithmetic policy, not a code speedup. */
  private[graft] val floatRows = Seq("dedup_semantic", "ann_pq_topk",
    "ann_lsh_cosine")

  /** Rows whose pass-1 sample pays a JVM-lifetime memoized cost — the
    * trained IVF/PQ structures (`trainCache`) — that passes 2+ reuse:
    * the standing-index lifecycle (train once, search many). The recall
    * rows are not listed: their timed query is one count pass that
    * neither trains nor runs a float kernel. The artifact
    * carries their pass-1 vs median split (`train_pass1` holds the raw
    * pass-1 seconds; the median is the warm search path) so no consumer
    * mistakes warm medians for cold cost (VERDICT r14 "What's wrong" #3).
    * Nothing persists across JVM invocations, but a second bench run in
    * the same JVM finds the memos warm: `train_pass1` is emitted only
    * when they were empty before pass 1. */
  private[graft] val cachedStructureRows = Seq("ann_ivf_topk",
    "ann_pq_topk", "ann_pq_persisted", "ann_pq_incremental")

  /** A query's row-count record after one more pass that returned `now`
    * rows (-2 when it errored). An error (-2) or pass-drift (-1) marker
    * sticks, so a later successful pass cannot hide it from the guard. */
  private[graft] def mergeRowCount(prev: Option[Long], now: Long): Long =
    prev match {
      case Some(p) if p < 0 => p
      case Some(p) if now >= 0 && p != now => -1L
      case _ => now
    }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total stop-the-world GC milliseconds accumulated so far, summed
    * across collectors — per-pass deltas make a slow pass self-explaining
    * (GC storm vs external load vs real regression). */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** 1-minute system load average (-1 where unsupported). */
  private def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = BenchSession.cpus
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = BenchSession.build()
    // Bench times the queries alone; their audits (graft.queries.Q) run
    // in Verify and the opscale harness.
    // Bench runs the PRODUCTION arithmetic: plain-double kernels
    // in the similarity tier instead of the exact-decimal ones Verify
    // keeps for oracle lockstep (see graft.queries.Exact — the answer
    // sets are pinned identical on the fixtures by ExactFloatParitySpec;
    // the r13 paired A/B measured the exact tier at 1.26–1.32× on
    // dedup_semantic / ann_pq_topk / ann_lsh_cosine).
    graft.queries.Exact.disableForBench()
    val queries = SparkEntry.queries
    // one warmup pass of the cheapest query to absorb JVM/session startup
    try queries("q6_forecast_revenue")(spark, sfDir).count()
    catch { case _: Throwable => }
    // SPARK_GRAFT_BENCH_ONLY=a,b restricts the suite — the local
    // iteration loop for a single query's perf work; the driver always
    // runs unfiltered
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(only) =>
        val keep = only.split(',').map(_.trim).filter(_.nonEmpty).toSet
        headline.filter(n => queries.contains(n) && keep(n))
      case None => headline.filter(queries.contains)
    }
    // a host already under load poisons every sample the same way the
    // builder's own notes describe (concurrent sbt ≈ 2× noise) — warn
    // loudly up front; the per-pass load1 in the JSON proves it after
    val startLoad = load1()
    if (startLoad > cpus.toInt / 2.0)
      System.err.println(f"[bench] WARNING: 1-min load average $startLoad%.1f" +
        s" on a local[$cpus] run — concurrent work will inflate samples")
    // Each pass runs the queries in a seeded-shuffled order so adjacent
    // cache/GC-heavy queries (e.g. ann_lsh_cosine ↔ ann_lsh_recall) can't
    // systematically warm or contaminate each other across every pass;
    // the seed is fixed so runs stay reproducible.
    val passCtx = Array.ofDim[(Double, Double, Double)](passes) // (gcSec, load1, wallSec)
    val coldPass1 = graft.queries.SimilarityQueries.structureCachesEmpty
    // rows each query produced (identical inputs, so any pass
    // disagreement is itself a bug worth seeing as -1; mergeRowCount)
    val rowCounts = scala.collection.mutable.Map.empty[String, Long]
    val samples = (1 to passes).map { pass =>
      val order = new scala.util.Random(0x9e3779b9L + pass).shuffle(names)
      val gc0 = gcMillis(); val w0 = System.nanoTime()
      val out = order.map { name =>
        // label the jobs (guide §1.5) so a UI/event-log reader can map
        // stages back to the benched query; thread-local, cleared below
        spark.sparkContext.setJobDescription(s"bench[$pass]: $name")
        val t0 = System.nanoTime()
        val n =
          try queries(name)(spark, sfDir).count()
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -2L
          }
        rowCounts(name) = mergeRowCount(rowCounts.get(name), n)
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        name -> dt
      }.toMap
      passCtx(pass - 1) =
        ((gcMillis() - gc0) / 1e3, load1(), (System.nanoTime() - w0) / 1e9)
      out
    }
    // Self-proving medians (round-9 lesson: the streaming rows silently
    // benched no-op pipelines after a testdata format change, recording
    // fast-but-meaningless numbers). A query producing 0 rows, erroring,
    // or drifting across passes fails the WHOLE bench loudly — a bench
    // that measured nothing must never look like a bench that got faster.
    val empty = names.filter(n => rowCounts.getOrElse(n, 0L) <= 0L)
    if (empty.nonEmpty) {
      System.err.println(s"[bench] FATAL: queries produced no rows / " +
        s"errored / drifted across passes: ${empty.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    // Optional noop-sink pass (guide §1.4; VERDICT r14 #7): one extra
    // pass timing df.write.format("noop") per query — count() lets the
    // optimizer prune a final aggregate's unreferenced expressions
    // (measured 5.2× on q1_pricing), the noop sink
    // computes every column of every row. Recorded as "queries_noop" in
    // the full artifact; the 14-round count() series stays the
    // comparison key ("value"/"queries" are untouched). Off by default
    // so the driver's wall time and methodology stay unchanged.
    // A query that fails here has no timing: it is left out of
    // "queries_noop" and named in the pass's stderr summary.
    val noopTimes: Option[Map[String, Double]] =
      if (sys.env.get("SPARK_GRAFT_BENCH_NOOP").contains("1")) Some {
        val order = new scala.util.Random(0x9e3779b9L + passes + 1).shuffle(names)
        val timed = order.flatMap { name =>
          spark.sparkContext.setJobDescription(s"bench[noop]: $name")
          val t0 = System.nanoTime()
          val dt =
            try {
              queries(name)(spark, sfDir).write.format("noop")
                .mode("overwrite").save()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case e: Throwable =>
              System.err.println(s"[bench] noop $name failed: ${e.getMessage}")
              None
            }
          spark.sparkContext.setJobDescription(null)
          dt.map(name -> _)
        }.toMap
        val failed = order.filterNot(timed.contains)
        System.err.println(s"[bench] noop pass: ${timed.size}/${order.size} timed" +
          (if (failed.isEmpty) "" else s"; failed, omitted: ${failed.mkString(", ")}"))
        timed
      } else None
    val results = names.map(n => n -> median(samples.map(_(n))))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // every raw sample, in pass order, so noise-vs-code is decidable
    // after the fact without re-running
    val perSample = names.map { n =>
      "\"" + n + "\":[" + samples.map(_(n)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // rows each query processed — the no-op guard's evidence, in-band
    val rowsJson = names.map(n => "\"" + n + "\":" + rowCounts(n))
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // per-pass execution context: a 10× single-pass spike should be
    // self-explaining from the artifact (GC storm / loaded host / code)
    val ctx = s""""pass_gc_sec":[${passCtx.map(c => f"${c._1}%.2f").mkString(",")}],""" +
      s""""pass_load1":[${passCtx.map(c => f"${c._2}%.2f").mkString(",")}],""" +
      s""""pass_wall_sec":[${passCtx.map(c => f"${c._3}%.2f").mkString(",")}]"""
    // provenance: which run produced this artifact (the r13 committed
    // vs driver-refresh ambiguity), who to believe when two disagree.
    // Sanitized to a JSON-safe charset — a quote or backslash in the
    // env var must not render the whole artifact line unparseable.
    val provenance = sys.env.getOrElse("SPARK_GRAFT_PROVENANCE", "local-sbt")
      .map(c => if (c.isLetterOrDigit || "._-: ".contains(c)) c else '_')
      .take(120)
    val writtenUtc = java.time.Instant.now().toString
    // artifact-consumer warning: the float-arithmetic rows run the
    // production kernels, so an A/B against an artifact from before the
    // float policy measures the arithmetic policy change, not a code speedup
    // (bench_ab.py excludes them from its geomean by reading this field).
    val tags =
      s""""provenance":"$provenance","written_utc":"$writtenUtc",""" +
      s""""arith":"float","arith_float_rows":${floatRows.mkString("[\"", "\",\"", "\"]")},""" +
      // train/search split for the standing-index rows: pass 1 pays the
      // JVM-lifetime training (cold), the median is the warm search path
      s""""cached_structure_rows":${cachedStructureRows.mkString("[\"", "\",\"", "\"]")}""" +
      (if (!coldPass1) "" else
        s""","train_pass1":${cachedStructureRows.filter(samples.head.contains)
          .map(n => "\"" + n + "\":" + samples.head(n)).mkString("{", ",", "}")}""")
    val noopField = noopTimes.map(m =>
      s""""queries_noop":${names.filter(m.contains)
        .map(n => "\"" + n + "\":" + f"${m(n)}%.3f").mkString("{", ",", "}")},"""
    ).getOrElse("")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","passes":$passes,"stat":"median","order":"seeded-shuffle-per-pass",$ctx,$tags,$noopField"rows":$rowsJson,"samples":$perSample}"""
    // compact reprint WITHOUT the samples array: the driver's tail
    // capture keeps the LAST 2000 bytes of output, so the final line
    // must carry the total and the per-query medians AND fit that
    // window. The r9 reprint missed by ~19 bytes — every round
    // through r9 recorded parsed:null. Enforce the budget: ms
    // precision first (nothing real lives below 1 ms at ±30% host
    // noise), then centisecond, then drop the per-query map rather
    // than overflow — the full-precision line and target/bench.json
    // always carry everything.
    val sfBase = new java.io.File(sfDir).getName
    // the full-suite artifact: the committed bench/bench_rNN.json only
    // when SPARK_GRAFT_ROUND names the round, else a neutral uncommitted
    // file — a run can never overwrite or pre-create an artifact of
    // record by guessing its round. The summary's "full" field points
    // at it; a filtered run writes none and advertises none.
    val fullRef = sys.env.get("SPARK_GRAFT_ROUND")
      .map(r => f"bench/bench_r${r.toInt}%02d.json")
      .getOrElse("bench/last_full.json")
    val fullField =
      if (sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty) s""""full":"$fullRef","""
      else ""
    def summaryAt(dp: Int): String = {
      val qsShort = results
        .map { case (k, v) => s""""$k":${s"%.${dp}f".format(v)}""" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","sf":"$sfBase","passes":$passes,"stat":"median",$fullField"queries":$qsShort}"""
    }
    // fallback ladder when the whole map overflows: the SLOWEST n
    // medians (the judging signal) + the explicit full-file pointer
    def summaryTop(n: Int): String = {
      val top = results.toSeq.sortBy(-_._2).take(n)
        .map { case (k, v) => s""""$k":${f"$v%.2f"}""" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","sf":"$sfBase","passes":$passes,"stat":"median","queries_total":${results.size},$fullField"top_medians":$top}"""
    }
    val summaryBudget = 1850
    val summary = {
      val s3 = summaryAt(3)
      if (s3.length <= summaryBudget) s3
      else {
        val s2 = summaryAt(2)
        if (s2.length <= summaryBudget) s2
        else Seq(40, 30, 25, 20, 15, 10, 5).view.map(summaryTop)
          .find(_.length <= summaryBudget)
          .getOrElse(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","sf":"$sfBase","passes":$passes,"stat":"median",$fullField"queries_total":${results.size}}""")
      }
    }
    // target/bench.json carries both lines for a consumer that cannot
    // read stdout; the summary is the LAST stdout line (build.sbt's
    // StdoutOutput + showSuccess := false add no prefix or footer), so
    // a capture of the last 2000 bytes of output parses it
    val benchFile = java.nio.file.Paths.get("target/bench.json")
    if (benchFile.getParent != null) // cwd may lack target/ outside sbt
      java.nio.file.Files.createDirectories(benchFile.getParent)
    java.nio.file.Files.write(benchFile,
      (line + "\n" + summary + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (fullField.nonEmpty) {
      val full = java.nio.file.Paths.get(fullRef)
      java.nio.file.Files.createDirectories(full.getParent)
      java.nio.file.Files.write(full,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // fixed-path mirror of the FINAL summary line (VERDICT r14 #1): a
    // consumer whose stdout capture is decorated or truncated can parse
    // this file instead — always the latest run's summary, full or
    // filtered, never committed
    val lastSummary = java.nio.file.Paths.get("bench/last_summary.json")
    java.nio.file.Files.createDirectories(lastSummary.getParent)
    java.nio.file.Files.write(lastSummary,
      (summary + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop() // before the prints: no session log line can follow them
    println(line)
    println(summary)
  }
}
