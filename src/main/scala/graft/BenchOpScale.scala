package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{DedupQueries, SimilarityQueries}

/** Operator-tier scale stress: the dedup pipeline (ngram-Jaccard edges →
  * connected components, and MinHash+LSH) on a corpus ~16× the largest
  * fixture, with the numbers RECORDED — wall time, shuffle read/write
  * bytes, and the df-cap skew counters — so the "scale-safe by plan
  * shape" claims are measurements, the same way the format writer's
  * 9.6M-row stress is. The embedding tier gets the same treatment on a
  * 16× permuted-replica corpus: the semantic-dedup OPERATOR tier
  * (recall must survive the scale-up; the within-cell tier must surface
  * ONLY the planted twins) and the LSH band-width knob (fixed 8-bit
  * bands must blow up super-linearly in candidates at 16×, occupancy-
  * scaled 12-bit bands must restore ~linear — the documented 100 TB
  * trade, measured).
  *
  * Corpus construction (weak scaling, the honest kind): `copies`
  * word-prefixed replicas of the base documents table. Prefixing every
  * word of copy i with "c{i}·" is injective per word, so each copy's
  * shingle space is an exact isomorph of the base corpus's and DISJOINT
  * from every other copy's. Consequences the harness asserts:
  *
  *  - exact-Jaccard structure is preserved per copy (set overlaps are
  *    hash-independent), so `dedup_clusters` at N copies must produce
  *    EXACTLY N× the base clusters with the same size histogram — a
  *    correctness-at-scale check, not just a timing;
  *  - the shingle df histogram replicates per copy (no cross-copy
  *    collisions), so the df ≤ 50 skew cap drops the same shingles in
  *    every copy and the join volume scales linearly by construction —
  *    the harness records the measured hot-shingle counters to prove it;
  *  - MinHash estimates are hash-DEPENDENT (copy i's shingles hash
  *    differently), so LSH pair counts scale ~N× only statistically;
  *    the harness bounds the drift instead of asserting equality.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BenchOpScale"
  * (SPARK_GRAFT_OPSCALE_COPIES to override the 16.)
  */
object BenchOpScale {

  /** Accumulates executor shuffle volume across completed stages —
    * local-mode's stand-in for the Spark UI's shuffle columns. */
  private final class ShuffleTotals extends SparkListener {
    val read = new AtomicLong
    val write = new AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** The N-replica corpus: doc_ids offset per copy, every word of copy i
    * prefixed with "c{i}·" (U+00B7 — absent from the fixture's space-
    * separated tokens, so the prefix can't merge adjacent token spaces).
    */
  private[graft] def scaledCorpus(spark: SparkSession, baseDir: String,
      copies: Int): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, baseDir, "documents")
    (0 until copies).map { i =>
      docs.select(
        ($"doc_id" + lit(i.toLong * 100000000L)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), w -> concat('c${i}·', w)), ' ')")
          .as("text"),
        $"lang", $"source", $"n_chars")
    }.reduce(_ unionAll _)
  }

  /** N-replica embedding corpus: (base table ∪ its 100 planted cos=0.95
    * twins), then per copy a SEEDED DIMENSION PERMUTATION plus a 10^8·i
    * id offset. A permutation is orthogonal, so every within-copy angle —
    * twin geometry included — is preserved exactly (up to summation-order
    * rounding ~1e-7, far from every threshold in play), while cross-copy
    * cosines are pseudo-random (the harness proves they stay under the
    * 0.9 dedup threshold by asserting the within-cell tier surfaces ONLY
    * twin pairs). Copy 0 is the identity, so the base corpus embeds
    * verbatim.
    */
  private[graft] def scaledEmbeddings(spark: SparkSession, baseDir: String,
      copies: Int): DataFrame = {
    import spark.implicits._
    val base = Tables.load(spark, baseDir, "embeddings")
      .select($"vec_id", $"embedding")
      .unionByName(SimilarityQueries.plantedTwins(spark, baseDir))
    val dims = 64
    (0 until copies).map { i =>
      val perm: Seq[Int] =
        if (i == 0) 0 until dims
        else new scala.util.Random(777 + i).shuffle((0 until dims).toVector)
      base.select(($"vec_id" + lit(i.toLong * 100000000L)).as("vec_id"),
        array(perm.map(p => $"embedding".getItem(p)): _*).as("embedding"))
    }.reduce(_ unionAll _)
  }

  /** (hot shingles over the df cap, max df, shingle rows dropped from the
    * join) — the skew counters behind the df ≤ 50 cap, measured over the
    * given documents dir. */
  private def dfCapCounters(spark: SparkSession, dir: String,
      maxDf: Int = 50): (Long, Long, Long) = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val dfs = Tables.load(spark, dir, "documents")
      .select(explode(expr("word_shingle_hashes(text, 5)")).as("g"))
      .groupBy($"g").agg(count(lit(1)).as("df"))
    val row = dfs.agg(
      sum(when($"df" > maxDf, 1L).otherwise(0L)),
      max($"df"),
      sum(when($"df" > maxDf, $"df").otherwise(0L))).head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val copies = sys.env.getOrElse("SPARK_GRAFT_OPSCALE_COPIES", "16").toInt
    // section selector for iteration (unset = the full stress suite —
    // what the committed artifact always is): comma list among
    // skew,ops,emb,pqinc,kll,mstats,streamsrc,gf,spj,wide,bloom,cdc
    val onlySections = sys.env.get("SPARK_GRAFT_OPSCALE_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def sec(name: String): Boolean = onlySections.forall(_.contains(name))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // materialize the scaled corpus as a plain parquet dir shaped like a
    // fixture dir, so the queries run UNMODIFIED via Tables.load
    val scaledDir = "/root/repo/target/opscale"
    val needCorpus = sec("skew") || sec("ops") || sec("kll")
    val (tBuild, _) = time {
      if (needCorpus)
        scaledCorpus(spark, baseDir, copies).write.mode("overwrite")
          .parquet(s"$scaledDir/documents.parquet")
    }

    val listener = new ShuffleTotals
    spark.sparkContext.addSparkListener(listener)
    // the listener bus is async and private; settle = wait until the
    // shuffle counters stop moving (stage-completed events drain in ms)
    def settle(): Unit = {
      var prev = (-1L, -1L)
      var cur = (listener.read.get(), listener.write.get())
      while (prev != cur) {
        Thread.sleep(200)
        prev = cur
        cur = (listener.read.get(), listener.write.get())
      }
    }
    def measuredF[A](f: => A): (Double, A, Long, Long) = {
      settle()
      val (r0, w0) = (listener.read.get(), listener.write.get())
      val (t, a) = time(f)
      settle()
      (t, a, listener.read.get() - r0, listener.write.get() - w0)
    }
    def measured(name: String, dir: String): (Double, Long, Long, Long) =
      measuredF(SparkEntry.queries(name)(spark, dir).count())

    val r = scala.collection.mutable.LinkedHashMap[String, Any](
      "copies" -> copies, "base_sf" -> baseDir, "corpus_build_s" -> tBuild)
    // stress invariants are collected, not thrown: a violated claim must
    // never destroy the evidence — the JSON (with a "failures" array)
    // prints first, the nonzero exit comes after
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(cond: Boolean, msg: => String): Unit =
      if (!cond) failures += msg
    // a query's audit (graft.queries.Q) after the query: its wall time is
    // recorded under `key`, and a throw is recorded as a failure
    def audit(name: String, dir: String, key: String): Unit = {
      val (t, res) = time(scala.util.Try(SparkEntry.audits(name)(spark, dir)))
      r += key -> t
      res.failed.foreach(e => check(false, s"$name audit failed: ${e.getMessage}"))
    }

    // skew counters first (cheap, independent jobs): the df-cap replica
    // claim — hot count and dropped rows scale by exactly `copies`,
    // max df is unchanged — is checked, not assumed
    if (sec("skew")) {
      val (hot1, maxDf1, drop1) = dfCapCounters(spark, baseDir)
      val (hotN, maxDfN, dropN) = dfCapCounters(spark, scaledDir)
      r ++= Seq("hot_shingles_base" -> hot1, "hot_shingles_scaled" -> hotN,
        "max_df_base" -> maxDf1, "max_df_scaled" -> maxDfN,
        "dropped_shingle_rows_base" -> drop1,
        "dropped_shingle_rows_scaled" -> dropN)
      check(hotN == copies * hot1 && maxDfN == maxDf1 &&
        dropN == copies * drop1,
        s"df histogram did not replicate per copy: hot $hot1->$hotN, " +
          s"maxDf $maxDf1->$maxDfN, dropped $drop1->$dropN")
    }

    for (q <- Seq("dedup_clusters", "dedup_minhash_lsh") if sec("ops")) {
      // warm nothing: each (query, scale) is a cold single run — this is
      // a stress record, not a median bench; GC/load context comes from
      // the wall-clock ratio against the linear expectation
      val (t1, rows1, sr1, sw1) = measured(q, baseDir)
      if (q == "dedup_clusters")
        r += "dedup_clusters_rounds_base" -> DedupQueries.lastClusterRounds
      val (tN, rowsN, srN, swN) = measured(q, scaledDir)
      if (q == "dedup_clusters") {
        // the large/small-star claim: rounds grow ~log, never linearly
        r += "dedup_clusters_rounds_scaled" -> DedupQueries.lastClusterRounds
        check(DedupQueries.lastClusterRounds <= 12,
          s"dedup_clusters took ${DedupQueries.lastClusterRounds} star " +
            "rounds at 16x — the O(log n) contraction claim is broken")
      }
      r ++= Seq(s"${q}_base_s" -> t1, s"${q}_scaled_s" -> tN,
        s"${q}_rows_base" -> rows1, s"${q}_rows_scaled" -> rowsN,
        s"${q}_shuffle_read_mb_base" -> sr1 / 1e6,
        s"${q}_shuffle_read_mb_scaled" -> srN / 1e6,
        s"${q}_shuffle_write_mb_base" -> sw1 / 1e6,
        s"${q}_shuffle_write_mb_scaled" -> swN / 1e6,
        s"${q}_time_ratio" -> tN / t1,
        s"${q}_shuffle_ratio" -> (if (sr1 > 0) srN.toDouble / sr1 else -1.0))
      if (q == "dedup_clusters")
        // exact tier: per-copy isomorphism makes N× an equality, and a
        // miss means the operator (or the cap) broke under scale
        check(rowsN == copies * rows1,
          s"$q rows: expected ${copies}x${rows1}, got $rowsN")
      else {
        // hash-dependent tier: bound the drift around N× instead
        val drift = math.abs(rowsN.toDouble / (copies.toDouble * rows1) - 1)
        check(drift <= 0.15,
          s"$q rows drifted ${math.round(drift * 100)}% from ${copies}x " +
            s"($rows1 -> $rowsN)")
        r += s"${q}_rows_drift_from_linear" -> drift
      }
    }
    // ------------------------------------------------- embedding tier
    // dedup_semantic's OPERATOR tier (the query minus its bounded-
    // quadratic verifier — at 33k+ vectors the verifier would dominate
    // the measurement) and the LSH band-width knob, both on a 16×
    // permuted-replica corpus with per-copy planted twins.
    import spark.implicits._
    if (sec("emb")) {
    val offT = SimilarityQueries.PlantIdOffset
    val embBase = s"$scaledDir/emb_base"
    val embScaled = s"$scaledDir/emb_scaled"
    val (tEmbBuild, _) = time {
      scaledEmbeddings(spark, baseDir, 1).write.mode("overwrite").parquet(embBase)
      scaledEmbeddings(spark, baseDir, copies).write.mode("overwrite")
        .parquet(embScaled)
    }
    r += "emb_build_s" -> tEmbBuild
    // a 9 MB parquet file arrives as ~1 split; spread it like the
    // many-partition scan a real corpus gets (the repartition's ~MBs of
    // shuffle are measured too — negligible vs the join volumes)
    def readEmb(path: String): DataFrame =
      spark.read.parquet(path).repartition(cpus.toInt)

    var semRecall = Map.empty[String, Double]
    for ((label, path, mult) <- Seq(("base", embBase, 1), ("scaled", embScaled, copies))) {
      val (t, tier, sr, sw) = measuredF(DedupQueries.semanticTier(spark, readEmb(path)))
      try {
        // tier construction materializes `within`, so t covers the whole
        // operator: normalize, k-means, assignment, within-cell pairs
        val plantedWithin = tier.within
          .filter($"id_b" === $"id_a" + offT).count()
        val impostors = tier.pairsWithin - plantedWithin
        check(impostors == 0L,
          s"within-cell tier surfaced $impostors non-twin pairs at $label — " +
            "cross-copy cosines reached the 0.9 threshold, the permuted-" +
            "replica construction's disjointness claim is broken")
        val recall = plantedWithin.toDouble /
          (mult.toLong * SimilarityQueries.PlantCount)
        semRecall += label -> recall
        r ++= Seq(s"sem_${label}_s" -> t, s"sem_${label}_n" -> tier.n,
          s"sem_${label}_cells" -> tier.cells,
          s"sem_${label}_max_cell_pop" -> tier.maxCellPop,
          s"sem_${label}_pairs_within" -> tier.pairsWithin,
          s"sem_${label}_planted_recall" -> recall,
          s"sem_${label}_shuffle_read_mb" -> sr / 1e6,
          s"sem_${label}_shuffle_write_mb" -> sw / 1e6)
        // phase attribution (normalize/kmeans/assign/within-join) — the
        // r11 ask: a benched-number drift must decompose into phases
        r ++= DedupQueries.lastSemanticPhases.map {
          case (p, secs) => s"sem_${label}_phase_${p}_s" -> (secs: Any)
        }
      } finally tier.unpersist()
    }
    r += "sem_time_ratio" ->
      (r("sem_scaled_s").asInstanceOf[Double] / r("sem_base_s").asInstanceOf[Double])
    // the operator's RECALL must survive the scale-up, not just its cost
    check(semRecall("scaled") >= semRecall("base") - 0.1,
      s"semantic-dedup planted recall degraded under 16×: " +
        s"base ${semRecall("base")} -> scaled ${semRecall("scaled")}")

    // LSH: candidate volume is Σ occupancy² per bucket, so FIXED 8-bit
    // bands at 16× corpus must blow up super-linearly (occupancy 8→130);
    // naively raising to 12-bit bands at the same 4-band count restores
    // ~linear candidates but pays recall (measured 0.888 → 0.724) — and
    // the SHIPPED autoBandGeometry (occupancy-constant bits, recall-
    // compensated band count — what ann_lsh_cosine/ann_lsh_recall now
    // run) must restore ~linear candidates WITHOUT the recall loss.
    val nScaled = spark.read.parquet(embScaled).count()
    val (autoPlanes, autoBits) = SimilarityQueries.autoBandGeometry(nScaled)
    r ++= Seq("lsh_auto_bits" -> autoBits,
      "lsh_auto_bands" -> autoPlanes / autoBits)
    var lshCand = Map.empty[String, Long]
    var lshRecall = Map.empty[String, Double]
    for ((label, path, mult, planes, bits) <- Seq(
        ("base_8bit", embBase, 1, 32, 8),
        ("scaled_8bit", embScaled, copies, 32, 8),
        ("scaled_12bit", embScaled, copies, 48, 12),
        ("scaled_auto", embScaled, copies, autoPlanes, autoBits))) {
      val (t, (cand, twins), sr, sw) =
        measuredF(SimilarityQueries.lshScaleStats(readEmb(path), planes, bits))
      lshCand += label -> cand
      lshRecall += label ->
        (twins.toDouble / (mult.toLong * SimilarityQueries.PlantCount))
      r ++= Seq(s"lsh_${label}_s" -> t, s"lsh_${label}_candidates" -> cand,
        s"lsh_${label}_twin_recall" -> lshRecall(label),
        s"lsh_${label}_shuffle_read_mb" -> sr / 1e6,
        s"lsh_${label}_shuffle_write_mb" -> sw / 1e6)
    }
    val linear = copies.toDouble * lshCand("base_8bit")
    r ++= Seq(
      "lsh_scaled_8bit_vs_linear" -> lshCand("scaled_8bit") / linear,
      "lsh_scaled_12bit_vs_linear" -> lshCand("scaled_12bit") / linear,
      "lsh_scaled_auto_vs_linear" -> lshCand("scaled_auto") / linear)
    check(lshCand("scaled_8bit") > 4 * linear,
      "fixed 8-bit bands stayed ~linear at 16× — the occupancy model " +
        "behind the documented band-width knob is wrong, investigate")
    // the hand-picked 12-bit twin is CALIBRATED for the 16× corpus
    // (12 bits ≈ the occupancy target there); at other scales its
    // occupancy drifts and the ~linear expectation is meaningless —
    // the auto geometry below is the scale-generic claim
    if (copies == 16)
      check(lshCand("scaled_12bit") < 3 * linear,
        s"occupancy-scaled 12-bit bands did not restore ~linear candidates " +
          s"(${lshCand("scaled_12bit")} vs linear $linear)")
    // autoBandGeometry's scale-generic claim: PER-BAND candidate volume
    // stays ~linear (occupancy is held constant by construction); the
    // TOTAL grows with the recall-compensation band count (8 bands at
    // 64× vs the base's 4 — a deliberate, recorded trade), so the bound
    // scales by bands_auto / bands_base
    // factor 2 (not the old flat 3): at 16× auto picks 6 bands, so
    // 2 × (6/4) = 3× reproduces the r13 design-point bound exactly —
    // a flat 3 × bandScale would have silently LOOSENED it to 4.5×
    val bandScale = math.max(1.0, (autoPlanes / autoBits) / 4.0)
    check(lshCand("scaled_auto") < 2 * bandScale * linear,
      s"autoBandGeometry did not hold per-band candidates ~linear " +
        s"(${lshCand("scaled_auto")} vs linear $linear × 2 × band factor " +
        s"$bandScale)")
    check(lshRecall("scaled_auto") >= 0.8,
      s"autoBandGeometry's recall compensation failed: twin recall " +
        s"${lshRecall("scaled_auto")} < 0.8 at ${autoPlanes / autoBits}×" +
        s"$autoBits-bit (theory ≥ 0.85 by construction)")
    }

    // --------------------------------------- incremental PQ maintenance
    // The ann_pq_incremental claim at 16×: the change-feed maintain
    // encodes only the delta, so its cost must sit far under the
    // one-time full build (fresh staging on the scaled corpus runs both
    // in one call — the phase timers attribute them), and the steady
    // state (second run) must never re-stage or re-train.
    if (sec("pqinc")) {
      val pqDir = s"$scaledDir/pqinc"
      val (tE, _) = time {
        scaledEmbeddings(spark, baseDir, copies).write.mode("overwrite")
          .parquet(s"$pqDir/embeddings.parquet")
      }
      r += "pqinc_emb_build_s" -> tE
      // the permuted-replica corpus is a deliberate distribution shift
      // against the copy-0-trained frozen codebooks — exactly the
      // codebook drift the probe-escalated re-rank policy exists for.
      // The in-query floor (0.7) stays ON: the policy must buy the
      // recall back by deepening the pool, never by re-training
      // (checked below via the frozen-staging phase assertions).
      val (t1, n1, _, _) = measuredF(
        SparkEntry.queries("ann_pq_incremental")(spark, pqDir).count())
      check(n1 == 1L, "ann_pq_incremental must emit its one gate row")
      val ph1 = SimilarityQueries.lastPqIncPhases
      r += "pqinc_cold_total_s" -> t1
      r ++= ph1.map { case (k, v) => s"pqinc_cold_${k}_s" -> (v: Any) }
      check(ph1.contains("stage_full_encode"),
        "fresh scaled staging must pay the one-time full build")
      // the delta-only claim is checked in ROWS, not wall time: at this
      // corpus size both encode passes are job-overhead-dominated (~1 s
      // each, times recorded above), so wall time cannot witness the
      // 10× row difference — the row counts do, exactly
      val inst = SimilarityQueries.lastInstrument.get("ann_pq_incremental")
      val nEmb = spark.read.parquet(s"$pqDir/embeddings.parquet").count()
      r ++= Seq("pqinc_n_total" -> nEmb,
        "pqinc_encoded_delta" -> inst("encoded_delta").toLong,
        "pqinc_recall" -> inst("recall"),
        "pqinc_rerank_pool" -> inst("rerank_pool").toLong,
        "pqinc_rerank_escalations" -> inst("rerank_escalations").toLong)
      check(inst("encoded_delta") * 5 < nEmb,
        s"maintain encoded ${inst("encoded_delta")} of $nEmb rows — " +
          "that is not a delta-only pass")
      check(inst("recall") >= SimilarityQueries.PqIncProbeTarget,
        s"drift policy must hold recall >= " +
          s"${SimilarityQueries.PqIncProbeTarget} under the replica " +
          s"shift (got ${inst("recall")})")
      check(inst("rerank_pool").toLong <= nEmb / 8,
        s"escalated pool ${inst("rerank_pool").toLong} exceeded the n/8 cap")
      audit("ann_pq_incremental", pqDir, "pqinc_cold_audit_s")
      val (t2, _, _, _) = measuredF(
        SparkEntry.queries("ann_pq_incremental")(spark, pqDir).count())
      val ph2 = SimilarityQueries.lastPqIncPhases
      r += "pqinc_steady_total_s" -> t2
      r ++= ph2.map { case (k, v) => s"pqinc_steady_${k}_s" -> (v: Any) }
      check(!ph2.contains("stage_full_encode"),
        "steady state must not rebuild the index or re-train codebooks")
    }

    // ------------------------------------------------ KLL sketch tier
    // The replica corpus carries n_chars UNCHANGED per copy, so the
    // scaled corpus's true quantiles are IDENTICAL to the base's — the
    // sketch must hold its rank bound at 16× the stream length with the
    // same O(k) state, and the measured answers are checked against the
    // scaled corpus's own exact ranks (not assumed equal to base).
    if (sec("kll")) {
      def kllTier(dir: String): (Double, Double, Long, Long) = {
        val (t, (qs, n), sr, sw) = measuredF {
          Tables.load(spark, dir, "documents")
            .createOrReplaceTempView("kll_stress_docs")
          val row = spark.sql(
            """SELECT kll_sketch_get_quantile_bigint(
              |    kll_sketch_agg_bigint(n_chars, 400), array(0.5D, 0.9D, 0.99D)),
              |  COUNT(*) FROM kll_stress_docs""".stripMargin).head()
          (row.getSeq[Long](0), row.getLong(1))
        }
        val ranks = spark.sql(s"""
          |SELECT
          |  SUM(CASE WHEN n_chars <= ${qs(0)} THEN 1 ELSE 0 END),
          |  SUM(CASE WHEN n_chars <= ${qs(1)} THEN 1 ELSE 0 END),
          |  SUM(CASE WHEN n_chars <= ${qs(2)} THEN 1 ELSE 0 END)
          |FROM kll_stress_docs""".stripMargin).head()
        val err = Seq(0.5, 0.9, 0.99).zipWithIndex.map { case (phi, i) =>
          math.abs(ranks.getLong(i).toDouble / n - phi)
        }.max
        (t, err, sr, sw)
      }
      kllTier(baseDir) // warmup: codegen + view registration, unrecorded
      val (t1, err1, _, _) = kllTier(baseDir)
      val (tN, errN, srN, swN) = kllTier(scaledDir)
      r ++= Seq("kll_base_s" -> t1, "kll_scaled_s" -> tN,
        "kll_base_rank_err" -> err1, "kll_scaled_rank_err" -> errN,
        "kll_time_ratio" -> tN / t1,
        "kll_scaled_shuffle_read_mb" -> srN / 1e6,
        "kll_scaled_shuffle_write_mb" -> swN / 1e6)
      check(err1 <= 0.02 && errN <= 0.02,
        s"KLL rank error broke the 0.02 bound under 16x: " +
          s"base $err1, scaled $errN")
    }

    // ------------------------------------- manifest-stats planning tier
    // The 100 TB claim behind DwrfLogStats, measured: a 256-file
    // snapshot table planned through the commit's stats sidecar must
    // open footers ONLY for the filter's survivors, and the same query
    // with the sidecar removed (footer-pass fallback) must open all 256
    // — wall-clock for both recorded. At object-store latencies each
    // footer open is a round trip, so the open-count ratio IS the
    // planning-latency ratio; the local-FS wall clock underststates it
    // but the counters don't.
    // Round-11 crossover record (r10 found sidecar planning SLOWER than
    // the parallel footer fallback at 256 files locally — the re-parse
    // per query was the cost): the parsed-sidecar cache in
    // DwrfLogStats.load fixes the repeat-planning path, so we record
    // cold (first parse) and warm (cached) sidecar planning vs the
    // footer fallback at 256 / 1k / 4k files. The warm number is the
    // operative one — a driver plans the same table version repeatedly.
    for (mpFiles <- Seq(256, 1024, 4096) if sec("mstats")) {
      import graft.sources.dwrf.{DwrfLog, DwrfLogStats, DwrfPlanningProbe}
      import org.apache.hadoop.fs.Path
      val mpDir = s"$scaledDir/mstats$mpFiles"
      val conf = graft.sources.dwrf.DwrfUtil.sessionHadoopConf()
      val mpRoot = new Path(mpDir)
      val fs = mpRoot.getFileSystem(conf)
      if (fs.exists(mpRoot)) fs.delete(mpRoot, true)
      val (tStage, _) = time {
        spark.range(0, 2560000L, 1, 8)
          .select($"id", ($"id" % 1000).as("bucket"),
            concat(lit("pay-"), format_string("%09d", $"id")).as("payload"))
          .repartitionByRange(mpFiles, $"id")
          .write.format("dwrf").mode("overwrite").save(mpDir)
        DwrfLog.enable(mpRoot, conf)
      }
      def planScan(): (Double, Long, Long) = {
        val f0 = DwrfPlanningProbe.footerReads.get()
        val (t, n) = time {
          spark.read.format("dwrf").load(mpDir)
            .where($"id".between(5000L, 6000L)).count()
        }
        check(n == 1001L, s"manifest-prune stress scan returned $n rows")
        (t, n, DwrfPlanningProbe.footerReads.get() - f0)
      }
      spark.read.format("dwrf").load(mpDir).limit(1).count() // codegen warmup
      val (tSidecarCold, _, fSidecarCold) = planScan() // parse + prune
      // warm (cached-summaries) plan vs fallback: min-of-3 each — the
      // scan's execution rides along in both numbers, and on this host
      // single runs swing ±30%, which at 256-1k files is larger than
      // the planning delta under test
      def minOf3(run: () => (Double, Long, Long)): (Double, Long) = {
        val rs = (1 to 3).map(_ => run())
        (rs.map(_._1).min, rs.last._3)
      }
      val (tSidecarWarm, fSidecar) = minOf3(() => planScan())
      // remove the sidecar: planning falls back to one footer per file
      val v = DwrfLog.latestVersion(mpRoot, conf).get
      fs.delete(new Path(DwrfLog.logDir(mpRoot),
        DwrfLogStats.sidecarName(v)), false)
      val (tFallback, fFallback) = minOf3(() => planScan())
      r ++= Seq(s"mstats${mpFiles}_stage_s" -> tStage,
        s"mstats${mpFiles}_plan_s_sidecar_cold" -> tSidecarCold,
        s"mstats${mpFiles}_plan_s_sidecar_warm" -> tSidecarWarm,
        s"mstats${mpFiles}_plan_s_fallback" -> tFallback,
        s"mstats${mpFiles}_footers_sidecar" -> fSidecar,
        s"mstats${mpFiles}_footers_fallback" -> fFallback,
        s"mstats${mpFiles}_footer_ratio" ->
          (fFallback.toDouble / math.max(1L, fSidecar)))
      check(fSidecarCold <= 4 && fSidecar <= 4,
        s"sidecar planning opened $fSidecar footers for a 2-file id range " +
          s"at $mpFiles files")
      check(fFallback == mpFiles,
        s"fallback planning must open all $mpFiles footers, opened $fFallback")
      // On a LOCAL FS the parallel footer pass is nearly free, so the
      // wall-clock delta at a few hundred files sits inside host noise
      // (both ~0.1 s); the operative 100 TB claim is the OPEN-COUNT
      // ratio above (each footer open is an object-store round trip).
      // The wall gate therefore asserts no-regression with a noise
      // allowance, not a strict win — r10's cache-less sidecar was 15%
      // slower, which this still catches.
      check(tSidecarWarm <= tFallback * 1.15 + 0.02,
        f"warm sidecar planning ($tSidecarWarm%.3f s) regressed past the " +
          f"footer fallback ($tFallback%.3f s) at $mpFiles files")
      fs.delete(mpRoot, true) // 4k-file dirs are large; reclaim as we go
    }

    // --------------------------------- streaming epoch-cost breakdown
    // stream_dwrf_source's bench median (5.3 s at r10, 3× pass spread)
    // was flagged `weak`: is the cost per-epoch fixed overhead (planning
    // / WAL / state commit — multiplies by TRIGGER COUNT at 100×, fine)
    // or data decode (multiplies by DATA)? Spark answers this directly:
    // every micro-batch reports durationMs per phase. Sum them across
    // the run and record the split — the claim becomes a measurement.
    if (sec("streamsrc")) {
      val phases = scala.collection.concurrent.TrieMap.empty[String, Long]
      var batches = 0L
      var rowsIn = 0L
      val ql = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          batches += 1
          rowsIn += e.progress.numInputRows
          e.progress.durationMs.forEach { (k, v) =>
            phases.updateWith(k) { p => Some(p.getOrElse(0L) + v) }
          }
        }
      }
      spark.streams.addListener(ql)
      val (tStream, nOut, _, _) =
        measuredF(SparkEntry.queries("stream_dwrf_source")(spark, baseDir).count())
      // listener bus is async: wait for the progress events to drain
      var waited = 0
      while (batches == 0 && waited < 50) { Thread.sleep(100); waited += 1 }
      Thread.sleep(300)
      spark.streams.removeListener(ql)
      val exec = phases.getOrElse("triggerExecution", 0L)
      val addBatch = phases.getOrElse("addBatch", 0L)
      // everything in triggerExecution that is NOT addBatch (decode +
      // sink write) is per-epoch engine overhead: offset/WAL commits,
      // planning, getBatch
      r ++= Seq("stream_src_total_s" -> tStream,
        "stream_src_batches" -> batches,
        "stream_src_rows_in" -> rowsIn,
        "stream_src_rows_out" -> nOut,
        "stream_src_addbatch_s" -> addBatch / 1e3,
        "stream_src_engine_overhead_s" -> math.max(0L, exec - addBatch) / 1e3,
        "stream_src_planning_s" ->
          (phases.getOrElse("queryPlanning", 0L) / 1e3),
        "stream_src_wal_s" ->
          ((phases.getOrElse("walCommit", 0L) +
            phases.getOrElse("commitOffsets", 0L)) / 1e3),
        "stream_src_getbatch_s" ->
          ((phases.getOrElse("getBatch", 0L) +
            phases.getOrElse("latestOffset", 0L)) / 1e3))
      check(batches > 0 && rowsIn > 0,
        s"stream_dwrf_source breakdown saw $batches batches / $rowsIn rows " +
          "— the instrument measured nothing")
    }

    // --------------------------------- runtime group filter at scale
    // The r11 claim: a join-keyed MERGE rewrites only the files holding
    // matched rows (the `_file IN (matched)` runtime group filter), so
    // a churn-sized MERGE into a wide table costs O(matched files), not
    // O(table). Measured here at 256 files: the same single-key MERGE
    // with the rule ON vs OFF — replaced-file count and wall clock.
    if (sec("gf")) {
      import graft.sources.dwrf.DwrfLog
      import org.apache.hadoop.fs.Path
      val gfDir = s"$scaledDir/gfmerge"
      val conf = graft.sources.dwrf.DwrfUtil.sessionHadoopConf()
      val gfRoot = new Path(gfDir)
      val gfFs = gfRoot.getFileSystem(conf)
      val gfFlag = "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
      def stageGf(): Unit = {
        if (gfFs.exists(gfRoot)) gfFs.delete(gfRoot, true)
        spark.range(0, 2560000L, 1, 8)
          .select($"id", ($"id" % 7).as("grp"),
            concat(lit("pay-"), format_string("%09d", $"id")).as("payload"))
          .repartitionByRange(256, $"id")
          .write.format("dwrf").mode("overwrite").save(gfDir)
        DwrfLog.enable(gfRoot, conf)
        spark.sql("DROP TABLE IF EXISTS graft_gf_stress")
        spark.sql(s"CREATE TABLE graft_gf_stress USING dwrf LOCATION '$gfDir'")
      }
      def mergeOnce(targetKey: Long): (Double, Int) = {
        val live0 = DwrfLog.latest(gfRoot, conf).get.files.toSet
        spark.range(targetKey, targetKey + 1)
          .select($"id", lit(-1L).as("ngrp"))
          .createOrReplaceTempView("graft_gf_src")
        val (t, _) = time {
          spark.sql("""MERGE INTO graft_gf_stress t USING graft_gf_src c
            |ON t.id = c.id
            |WHEN MATCHED THEN UPDATE SET grp = c.ngrp
            |""".stripMargin)
        }
        val live1 = DwrfLog.latest(gfRoot, conf).get.files.toSet
        (t, (live0 -- live1).size)
      }
      stageGf()
      spark.sql("SELECT COUNT(*) FROM graft_gf_stress").collect() // warm
      mergeOnce(1000L) // warm the MERGE plan/codegen path off-measurement
      val (tOn, replacedOn) = mergeOnce(5000L)
      spark.conf.set(gfFlag, "false")
      val (tOff, replacedOff) = try mergeOnce(9000L)
      finally spark.conf.set(gfFlag, "true")
      r ++= Seq("gf_files" -> 256,
        "gf_merge_s_filtered" -> tOn, "gf_replaced_filtered" -> replacedOn,
        "gf_merge_s_full" -> tOff, "gf_replaced_full" -> replacedOff,
        "gf_speedup" -> tOff / math.max(1e-9, tOn))
      check(replacedOn == 1,
        s"group-filtered single-key MERGE replaced $replacedOn files " +
          "(expected exactly the 1 matched file)")
      check(replacedOff == 256,
        s"rule-off MERGE replaced $replacedOff files (expected the full " +
          "256 — the contrast baseline broke)")
      // On a LOCAL FS rewriting 256 small files costs ~nothing, so the
      // wall delta is thin (measured 1.07 vs 1.23 s); the operative
      // 100 TB metric is the 256x rewritten-file reduction above (each
      // avoided file is an object-store read+write round trip). The
      // wall gate is a no-regression bound with noise allowance.
      check(tOn < tOff * 1.2 + 0.05,
        f"group-filtered MERGE ($tOn%.2f s) regressed past the full " +
          f"rewrite ($tOff%.2f s) at 256 files")
      spark.sql("DROP TABLE IF EXISTS graft_gf_stress")
      gfFs.delete(gfRoot, true)
    }

    // ------------------------------- bucketed SPJ at millions of rows
    // The r11 bucketed-table claim measured: a 2.56M x 256k join on a
    // high-cardinality key, both tables bucket(32, k) through the graft
    // catalog — with V2 bucketing the join must move ZERO shuffle
    // bytes (the layout is the exchange); the control run with the
    // report ignored pays the full two-sided shuffle. At 100 TB the
    // delta IS the fact-to-fact shuffle that never happens.
    if (sec("spj")) {
      val wh = s"$scaledDir/spjwh"
      val fsw = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(graft.sources.dwrf.DwrfUtil.sessionHadoopConf())
      if (fsw.exists(new org.apache.hadoop.fs.Path(wh)))
        fsw.delete(new org.apache.hadoop.fs.Path(wh), true)
      spark.conf.set("spark.sql.catalog.graft_opspj",
        "graft.sources.dwrf.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft_opspj.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_opspj.lake")
      spark.sql("CREATE TABLE graft_opspj.lake.fact (k BIGINT, x BIGINT) " +
        "USING dwrf PARTITIONED BY (bucket(32, k))")
      spark.sql("CREATE TABLE graft_opspj.lake.dim (k BIGINT, w BIGINT) " +
        "USING dwrf PARTITIONED BY (bucket(32, k))")
      val (tStage, _) = time {
        spark.range(0, 2560000L, 1, 8)
          .selectExpr("id % 256000 AS k", "id AS x")
          .writeTo("graft_opspj.lake.fact").append()
        spark.range(0, 256000L, 1, 8)
          .selectExpr("id AS k", "id * 10 AS w")
          .writeTo("graft_opspj.lake.dim").append()
      }
      val oldBt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def joinOnce(): (Double, Long, Long, Long) = {
        val (t, n, sr, sw) = measuredF {
          spark.table("graft_opspj.lake.fact")
            .join(spark.table("graft_opspj.lake.dim"), "k")
            .selectExpr("COUNT(*) AS n", "SUM(x * w) AS dot")
            .head().getLong(0)
        }
        (t, n, sr, sw)
      }
      try {
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        joinOnce() // warm codegen/footers off-measurement
        val (tSpj, nSpj, srSpj, swSpj) = joinOnce()
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        val (tSh, nSh, srSh, swSh) = joinOnce()
        r ++= Seq("spj_stage_s" -> tStage,
          "spj_rows" -> nSpj,
          "spj_join_s_bucketed" -> tSpj,
          "spj_join_s_shuffled" -> tSh,
          "spj_shuffle_mb_bucketed" -> (srSpj + swSpj) / 1e6,
          "spj_shuffle_mb_shuffled" -> (srSh + swSh) / 1e6,
          "spj_speedup" -> tSh / math.max(1e-9, tSpj))
        check(nSpj == 2560000L && nSh == nSpj,
          s"spj join rows diverged: bucketed $nSpj vs shuffled $nSh")
        // the residual KBs are the final one-row global aggregate's
        // exchange (partial -> single partition), not the join: the
        // JOIN's two-sided shuffle (52 MB in the control) must be gone
        check(srSpj + swSpj < 1_000_000L,
          s"bucketed join moved ${(srSpj + swSpj) / 1e6} MB of shuffle — " +
            "the storage-partitioned plan did not engage")
        check(srSh + swSh > 0L,
          "control join moved no shuffle bytes — the contrast baseline broke")

        // ---- zipf-skewed twin (the r11 ask): one hot key owns 9
        // average-buckets' worth of rows, so the bucket it hashes into
        // holds ~10× the average population. The storage-partitioned
        // join has no shuffle to rebalance — its cost is bounded by the
        // hot bucket's single task — while the shuffled control gets
        // AQE's skew-join splitting. Both outcomes are RECORDED (time +
        // shuffle + whether AQE's skew handling engaged), so the trade
        // is a measurement: co-located layout wins shuffle bytes always,
        // and the numbers say what skew level makes AQE's rebalancing
        // competitive.
        spark.sql("CREATE TABLE graft_opspj.lake.fact_skew " +
          "(k BIGINT, x BIGINT) USING dwrf PARTITIONED BY (bucket(32, k))")
        val (tStageSkew, _) = time {
          spark.range(0, 2560000L, 1, 8)
            .selectExpr(
              "CASE WHEN id < 720000 THEN 0L ELSE id % 256000 END AS k",
              "id AS x")
            .writeTo("graft_opspj.lake.fact_skew").append()
        }
        def joinSkew(bucketed: Boolean): (Double, Long, Long, Long, Boolean) = {
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled",
            bucketed.toString)
          val df = spark.table("graft_opspj.lake.fact_skew")
            .join(spark.table("graft_opspj.lake.dim"), "k")
            .selectExpr("COUNT(*) AS n", "SUM(x * w) AS dot")
          val (t, n, sr, sw) = measuredF { df.head().getLong(0) }
          (t, n, sr, sw,
            df.queryExecution.executedPlan.toString.contains("skew=true"))
        }
        joinSkew(bucketed = true) // warm footers off-measurement
        val (tSk, nSk, srSk, swSk, _) = joinSkew(bucketed = true)
        val (tSkSh, nSkSh, srSkSh, swSkSh, aqeSkew) = joinSkew(bucketed = false)
        r ++= Seq("spj_skew_stage_s" -> tStageSkew,
          "spj_skew_rows" -> nSk,
          "spj_skew_hot_key_rows" -> 720000L,
          "spj_skew_join_s_bucketed" -> tSk,
          "spj_skew_join_s_shuffled" -> tSkSh,
          "spj_skew_shuffle_mb_bucketed" -> (srSk + swSk) / 1e6,
          "spj_skew_shuffle_mb_shuffled" -> (srSkSh + swSkSh) / 1e6,
          "spj_skew_aqe_skew_split_engaged" -> aqeSkew,
          "spj_skew_speedup" -> tSkSh / math.max(1e-9, tSk))
        check(nSk == 2560000L && nSkSh == nSk,
          s"skewed spj join rows diverged: bucketed $nSk vs shuffled $nSkSh")
        check(srSk + swSk < 1_000_000L,
          s"skewed bucketed join moved ${(srSk + swSk) / 1e6} MB of " +
            "shuffle — the storage-partitioned plan did not survive skew")

        // ---- ≥32× hot bucket WITH the r13 mitigation: the table rolls
        // files at a byte target (dwrf.target.file.bytes), so the hot
        // bucket lands as ~data-even splits instead of one file, and
        // partially-clustered SPJ leaves those splits UNGROUPED (dim
        // replicated over them) — the hot bucket becomes parallel tasks
        // at zero shuffle. The straggler ratio (max/median join-task
        // time and rows) is the recorded claim.
        spark.sql("CREATE TABLE graft_opspj.lake.fact_skew32 " +
          "(k BIGINT, x BIGINT) USING dwrf " +
          "PARTITIONED BY (bucket(32, k)) TBLPROPERTIES (" +
          "'dwrf.target.file.bytes'='1048576')")
        val (tStage32, _) = time {
          spark.range(0, 5120000L, 1, 8)
            .selectExpr(
              "CASE WHEN id < 2560000 THEN 0L ELSE id % 256000 END AS k",
              "id AS x")
            .writeTo("graft_opspj.lake.fact_skew32").append()
        }
        val taskStats = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, Long)] // (stageId, durationMs, inputRecords)
        val taskListener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (e.taskMetrics != null) taskStats.synchronized {
              taskStats += ((e.stageId, e.taskInfo.duration,
                e.taskMetrics.inputMetrics.recordsRead))
            }
        }
        def joinSkew32(bucketed: Boolean): (Double, Long, Long, Long) = {
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled",
            bucketed.toString)
          spark.conf.set("spark.sql.sources.v2.bucketing." +
            "partiallyClusteredDistribution.enabled", bucketed.toString)
          val (t, n, sr, sw) = measuredF {
            spark.table("graft_opspj.lake.fact_skew32")
              .join(spark.table("graft_opspj.lake.dim"), "k")
              // moduli keep the 5.12M-row dot product inside a long
              .selectExpr("COUNT(*) AS n",
                "SUM((x % 1000000) * (w % 1000)) AS dot")
              .head().getLong(0)
          }
          (t, n, sr, sw)
        }
        joinSkew32(bucketed = true) // warm footers off-measurement
        spark.sparkContext.addSparkListener(taskListener)
        taskStats.synchronized(taskStats.clear())
        val (tSk32, nSk32, srSk32, swSk32) = joinSkew32(bucketed = true)
        // settle until the async listener bus stops delivering task-end
        // events (a fixed sleep undercounts tail tasks on a loaded host
        // — the DwrfBucketSaltSpec settle pattern)
        var prevTaskCount = -1
        while (prevTaskCount != taskStats.synchronized(taskStats.size)) {
          prevTaskCount = taskStats.synchronized(taskStats.size)
          Thread.sleep(300)
        }
        val joinStage = taskStats.synchronized {
          taskStats.groupBy(_._1).maxByOption(_._2.size)
        }
        spark.sparkContext.removeSparkListener(taskListener)
        val (tSk32Sh, nSk32Sh, srSk32Sh, swSk32Sh) =
          joinSkew32(bucketed = false)
        def ratioOf(xs: Seq[Long]): Double = {
          val sorted = xs.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          sorted.last.toDouble / med
        }
        val (nTasks, timeRatio, rowsRatio) = joinStage match {
          case Some((_, ts)) =>
            (ts.size, ratioOf(ts.map(_._2).toSeq), ratioOf(ts.map(_._3).toSeq))
          case None => (0, -1.0, -1.0)
        }
        r ++= Seq("spj_skew32_stage_s" -> tStage32,
          "spj_skew32_rows" -> nSk32,
          "spj_skew32_hot_key_rows" -> 2560000L,
          "spj_skew32_join_s_bucketed" -> tSk32,
          "spj_skew32_join_s_shuffled" -> tSk32Sh,
          "spj_skew32_shuffle_mb_bucketed" -> (srSk32 + swSk32) / 1e6,
          "spj_skew32_shuffle_mb_shuffled" -> (srSk32Sh + swSk32Sh) / 1e6,
          "spj_skew32_speedup" -> tSk32Sh / math.max(1e-9, tSk32),
          "spj_skew32_join_tasks" -> nTasks,
          "spj_skew32_straggler_time_ratio" -> timeRatio,
          "spj_skew32_straggler_rows_ratio" -> rowsRatio)
        check(nSk32 == 5120000L && nSk32Sh == nSk32,
          s"skew32 join rows diverged: bucketed $nSk32 vs shuffled $nSk32Sh")
        check(srSk32 + swSk32 < 1_000_000L,
          s"skew32 bucketed join moved ${(srSk32 + swSk32) / 1e6} MB of " +
            "shuffle — the mitigated plan must stay zero-shuffle")
        check(tSk32 < tSk32Sh,
          s"skew32 bucketed path ($tSk32 s) must beat the shuffled twin " +
            s"($tSk32Sh s) at 32x skew")
        check(nTasks > 32,
          s"skew32 join ran $nTasks tasks — the hot bucket's splits were " +
            "grouped back into a straggler")
        check(rowsRatio > 0 && rowsRatio <= 3.0,
          s"skew32 straggler rows ratio $rowsRatio — a task still " +
            "concentrates the hot key")
        check(timeRatio > 0 && timeRatio <= 3.5,
          s"skew32 straggler time ratio $timeRatio exceeds the ~2x target " +
            "envelope")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBt)
        spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        spark.sql("DROP TABLE IF EXISTS graft_opspj.lake.fact")
        spark.sql("DROP TABLE IF EXISTS graft_opspj.lake.fact_skew")
        spark.sql("DROP TABLE IF EXISTS graft_opspj.lake.fact_skew32")
        spark.conf.unset("spark.sql.sources.v2.bucketing." +
          "partiallyClusteredDistribution.enabled")
        spark.sql("DROP TABLE IF EXISTS graft_opspj.lake.dim")
      }
    }

    // --------------------------- wide-schema projection pruning (P1)
    // 200 columns, 200k rows: a 2-of-200-column aggregate must read ~1%
    // of the bytes a full-width read does — the projection-pushdown
    // contract that makes a 100 TB feature-store scan pay for what it
    // SELECTs, not for the table width. Byte accounting is exact (the
    // reader's own pread counter on the row path), the DataFrame-path
    // timing contrast rides the same files.
    if (sec("wide")) {
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.types.StructType
      import graft.sources.dwrf.{DwrfFileReader, DwrfUtil}
      val nCols = 200
      val nRowsW = 200000L
      val outW = s"$scaledDir/widewh"
      val wideCols = (0 until nCols).map(i =>
        expr(s"cast(id * ${i + 1} AS double)").as(s"c$i"))
      val (tStageW, _) = time {
        spark.range(0, nRowsW, 1, 8)
          .select(col("id").as("k") +: wideCols: _*)
          .write.format("dwrf").mode("overwrite").save(outW)
      }
      val hconf = DwrfUtil.sessionHadoopConf()
      def bytesFor(fields: Set[String]): Long = {
        var total = 0L
        DwrfUtil.listDataFiles(new Path(outW), hconf).foreach { f =>
          val r = new DwrfFileReader(f, hconf)
          try {
            val narrow = StructType(r.schema.fields.filter(x => fields(x.name)))
            val it = r.rows(r.footer.stripes, narrow, Nil)
            while (it.hasNext) it.next()
            total += r.counters.bytesRead
          } finally r.close()
        }
        total
      }
      val bytesNarrow = bytesFor(Set("c3", "c197"))
      val bytesWide = bytesFor((0 until nCols).map(i => s"c$i").toSet + "k")
      def aggScan(narrow: Boolean): Double = {
        val df = spark.read.format("dwrf").load(outW)
        val aggs =
          if (narrow) Seq(sum(col("c3")), sum(col("c197")))
          else (0 until nCols).map(i => sum(col(s"c$i")))
        val (t, _, _, _) = measuredF { df.agg(aggs.head, aggs.tail: _*).head() }
        t
      }
      aggScan(narrow = true); aggScan(narrow = false) // warm
      val tNarrow = Seq(aggScan(true), aggScan(true), aggScan(true)).sorted.apply(1)
      val tWide = Seq(aggScan(false), aggScan(false), aggScan(false)).sorted.apply(1)
      r ++= Seq(
        "wide_cols" -> nCols,
        "wide_rows" -> nRowsW,
        "wide_stage_s" -> tStageW,
        "wide_bytes_2col" -> bytesNarrow,
        "wide_bytes_full" -> bytesWide,
        "wide_bytes_pct" -> bytesNarrow.toDouble * 100.0 / bytesWide,
        "wide_scan_s_2col" -> tNarrow,
        "wide_scan_s_full" -> tWide,
        "wide_scan_speedup" -> tWide / math.max(1e-9, tNarrow))
      check(bytesNarrow * 20 <= bytesWide,
        s"2-of-200-column read must touch <= 5% of full-width bytes: " +
          s"$bytesNarrow vs $bytesWide")
      check(tNarrow < tWide,
        s"narrow aggregate must beat full-width: $tNarrow vs $tWide")
    }

    // ------------------------- per-stride bloom point-lookup at millions
    // The r12 stride-bloom claim measured: 2.56M rows written as 8 dwrf
    // files, each clustered on hash(k) so every file AND every stride's
    // k-range spans the whole domain — min/max stats prune nothing. A
    // 3-key point lookup composes the two bloom rungs: per-FILE blooms
    // keep only the owning files, then (bloom.stride on) per-STRIDE
    // blooms cut each kept file to ~the owning strides. The off twin
    // (bloom.stride=false) isolates the stride tier's contribution. At
    // 100 TB the delta is reading ~one stride per surviving file
    // instead of every stride of it.
    if (sec("bloom")) {
      import org.apache.spark.sql.sources.In
      import graft.sources.dwrf.DwrfUtil
      val nRows = 2560000L
      val strideRows = 4096
      def stage(dirName: String, strideBlooms: Boolean): (Double, String, Long) = {
        val out = s"$scaledDir/$dirName"
        val (t, _) = time {
          // payload ~64 B/row so the contrast scan pays real decode for
          // every surviving stride, like a production row
          spark.range(0, nRows, 1, 8)
            .selectExpr("id AS k",
              "concat(md5(cast(id AS string)), md5(cast(id + 1 AS string))) AS x")
            .repartition(8)
            .sortWithinPartitions(expr("hash(k)"))
            .write.format("dwrf").mode("overwrite")
            .option("bloom.columns", "k")
            .option("bloom.stride", strideBlooms.toString)
            .option("bloom.fpp", "0.005")
            .option("row.index.stride", strideRows.toString)
            .save(out)
        }
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(DwrfUtil.sessionHadoopConf())
        val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(out))
          .filter(_.isFile).map(_.getLen).sum
        (t, out, bytes)
      }
      // throwaway warmup of the SAME shape so codegen/zlib/JIT cost
      // doesn't ride the first measured stage (a cold first dwrf write
      // pays ~7 s of JIT here; warmed, on/off stage times converge)
      spark.range(0, 512000L, 1, 8)
        .selectExpr("id AS k",
          "concat(md5(cast(id AS string)), md5(cast(id + 1 AS string))) AS x")
        .repartition(8)
        .sortWithinPartitions(expr("hash(k)"))
        .write.format("dwrf").mode("overwrite")
        .option("bloom.columns", "k")
        .option("bloom.stride", "true")
        .option("row.index.stride", strideRows.toString)
        .save(s"$scaledDir/bloomwh_warm")
      val (tStageOn, dirOn, bytesOn) = stage("bloomwh_on", strideBlooms = true)
      val (tStageOff, dirOff, bytesOff) = stage("bloomwh_off", strideBlooms = false)
      val keys = Array[Any](7L, nRows / 2, nRows - 3)
      // like DwrfUtil.surfacedRows but also totals the reader's pread
      // bytes — the honest I/O number (boundary-chunk slack included)
      def lookup(d: String): (Double, Long, Long, Long) = {
        import org.apache.hadoop.fs.Path
        import graft.sources.dwrf.DwrfFileReader
        val hc = DwrfUtil.sessionHadoopConf()
        var rows = 0L; var strides = 0L; var bytes = 0L
        val (t, _) = time {
          DwrfUtil.listDataFiles(new Path(d), hc).foreach { f =>
            val r = new DwrfFileReader(f, hc)
            try {
              // key + payload: the shape a real lookup reads
              val it = r.rows(r.footer.stripes, r.schema, Seq(In("k", keys)))
              while (it.hasNext) { it.next(); rows += 1 }
              strides += r.counters.stridesSkipped
              bytes += r.counters.bytesRead
            } finally r.close()
          }
        }
        (t, rows, strides, bytes)
      }
      def median3(f: => Double): Double = {
        val ts = Seq(f, f, f).sorted; ts(1)
      }
      lookup(dirOn); lookup(dirOff) // warm footers/page cache off-measurement
      val (_, rowsOn, stridesOn, bytesLkOn) = lookup(dirOn)
      val (_, rowsOff, stridesOff, bytesLkOff) = lookup(dirOff)
      val tOn = median3(lookup(dirOn)._1)
      val tOff = median3(lookup(dirOff)._1)
      // the columnar DataFrame path too: the end-to-end scan a user
      // runs — aggregating over the payload so surviving strides pay
      // real decode (a bare count() reads no values at all)
      def scanCount(d: String): (Double, Long) = {
        val (t, n, _, _) = measuredF {
          spark.read.format("dwrf").load(d)
            .filter(col("k").isin(keys.map(_.asInstanceOf[Long]): _*))
            .agg(count(col("x")).as("n"), sum(length(col("x"))))
            .head().getLong(0)
        }
        (t, n)
      }
      scanCount(dirOn); scanCount(dirOff) // warm
      val nOn = scanCount(dirOn)._2
      val nOff = scanCount(dirOff)._2
      val tScanOn = median3(scanCount(dirOn)._1)
      val tScanOff = median3(scanCount(dirOff)._1)
      r ++= Seq(
        "bloom_rows" -> nRows,
        "bloom_stage_s_on" -> tStageOn,
        "bloom_stage_s_off" -> tStageOff,
        "bloom_bytes_on" -> bytesOn,
        "bloom_bytes_off" -> bytesOff,
        "bloom_index_overhead_pct" ->
          (bytesOn - bytesOff).toDouble * 100.0 / bytesOff,
        "bloom_lookup_s_on" -> tOn,
        "bloom_lookup_s_off" -> tOff,
        "bloom_surfaced_rows_on" -> rowsOn,
        "bloom_surfaced_rows_off" -> rowsOff,
        "bloom_lookup_bytes_on" -> bytesLkOn,
        "bloom_lookup_bytes_off" -> bytesLkOff,
        "bloom_strides_skipped_on" -> stridesOn,
        "bloom_strides_skipped_off" -> stridesOff,
        "bloom_scan_s_on" -> tScanOn,
        "bloom_scan_s_off" -> tScanOff,
        "bloom_scan_speedup" -> tScanOff / math.max(1e-9, tScanOn))
      check(nOn == 3L && nOff == 3L,
        s"bloom lookup row counts diverged: on $nOn off $nOff (expect 3)")
      check(rowsOn * 10 <= rowsOff,
        s"stride blooms must collapse the surfaced volume >= 10x: " +
          s"on $rowsOn vs off $rowsOff")
      check(stridesOn > stridesOff,
        s"stride blooms skipped no extra strides: on $stridesOn off $stridesOff")
      check(bytesLkOn * 5 <= bytesLkOff,
        s"stride blooms must collapse lookup I/O >= 5x even with " +
          s"boundary-chunk slack: on $bytesLkOn vs off $bytesLkOff bytes")
    }

    // ----------------------------------- CDC maintain cost attribution
    // The two heaviest bench rows (stream_agg_maintain / stream_cdc_apply)
    // are multi-job queries: staging (cached across runs), the drain and
    // the rollup. Record one run's phase split so the bench median's cost
    // is an attribution, not a guess — the operator is `drain` — and the
    // audit's time (the exactly-once re-drain, the idempotency re-apply)
    // under its own key.
    for ((name, phasesOf) <- Seq(
        ("stream_cdc_apply", () => graft.queries.StreamingQueries.lastCdcPhases),
        ("stream_agg_maintain",
          () => graft.queries.StreamingQueries.lastAggMaintainPhases),
        ("stream_join_attrib",
          () => graft.queries.StreamingQueries.lastJoinAttribPhases))
        if sec("cdc")) {
      val (t, n, _, _) =
        measuredF(SparkEntry.queries(name)(spark, baseDir).count())
      val phs = phasesOf()
      r += s"${name}_total_s" -> t
      phs.foreach { case (k, v) => r += s"${name}_${k}_s" -> v }
      r += s"${name}_unattributed_s" -> math.max(0.0, t - phs.values.sum)
      check(phs.nonEmpty, s"$name recorded no phase breakdown")
      check(n > 0, s"$name returned no rows in the breakdown run")
      audit(name, baseDir, s"${name}_audit_s")
    }

    spark.sparkContext.removeSparkListener(listener)

    val json = (r ++ Seq("failures" ->
      failures.map(f => "\"" + f.replace("\\", "\\\\")
        .replace("\"", "\\\"") + "\"").mkString("[", ",", "]"))).map {
      case (k, v: Double) => s""""$k":${math.round(v * 1000) / 1000.0}"""
      case (k, v: String) if k == "failures" => s""""$k":$v"""
      case (k, v: String) => s""""$k":"$v""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")
    println(json)
    spark.stop()
    require(failures.isEmpty,
      s"${failures.size} stress invariant(s) violated (evidence JSON above):\n" +
        failures.mkString("\n"))
  }
}
