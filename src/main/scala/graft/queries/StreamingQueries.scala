package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface: the same events rollup computed as a
  * STREAM — file source → event-time window aggregation with a watermark
  * → available-now trigger draining to a FILE sink in APPEND mode. Append
  * mode means a window's state is emitted once the watermark passes its
  * end and then PURGED from the state store — state is bounded by the
  * watermark horizon, and nothing is materialized on the driver (the sink
  * is distributed files). On a cluster this exact plan runs continuously
  * against arriving files at 100 TB/day; the available-now run here makes
  * it deterministic and oracle-checkable against the batch answer
  * (stream-batch parity).
  *
  * Drain completeness: append mode only emits windows the watermark has
  * passed, so the run stages a far-future "watermark sentinel" row after
  * the real data; processing it advances the watermark beyond every real
  * window's end, flushing them all to the sink. The sentinel's own window
  * never closes (nothing follows it) so it never reaches the sink, and a
  * defensive filter drops it if it ever did.
  */
object StreamingQueries extends QueryPack {

  /** Staging root for source symlinks, checkpoints, and sinks. Derived
    * from the JVM tmpdir (not the repo checkout) so the queries run from
    * any working directory; overridable for tests via the
    * `graft.streaming.staging` system property.
    */
  private def stagingRoot: java.nio.file.Path = {
    val base = sys.props.get("graft.streaming.staging")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        // user-scoped default: a world-shared /tmp/graft-streaming would
        // hit permission failures when a second user owns it first
        val who = sys.props.getOrElse("user.name", "anon")
        java.nio.file.Paths.get(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"graft-streaming-$who")
      }
    java.nio.file.Files.createDirectories(base)
    base
  }

  /** Collision-resistant per-dataset tag (String.hashCode collides too
    * easily to key checkpoint/sink dirs across datasets). */
  private def dirTag(dir: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(dir.getBytes("UTF-8"))
    d.take(8).map(b => f"$b%02x").mkString
  }

  private val maxTsCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Long]

  /** Phase wall-times of the most recent `stream_cdc_apply` /
    * `stream_agg_maintain` run, keyed by phase name. The heavy CDC rows
    * are multi-job queries (staging, a 4-micro-batch drain, an
    * exactly-once re-drain, idempotency gates, the final rollup) — the
    * opscale harness records this split so the bench median's cost is a
    * measured attribution, not a guess.
    */
  @volatile private[graft] var lastCdcPhases: Map[String, Double] = Map.empty
  @volatile private[graft] var lastAggMaintainPhases: Map[String, Double] =
    Map.empty
  @volatile private[graft] var lastJoinAttribPhases: Map[String, Double] =
    Map.empty

  // ---------------------------------------------- raw-ts normalization
  // The driver has shipped events.ts as int64 TIMESTAMP(NANOS) (read as
  // BIGINT under nanosAsLong) and as plain timestamp[us] (read as
  // TIMESTAMP_NTZ) across testdata generations. All staging math below
  // stays in the original epoch-NANOS convention; these helpers adapt
  // the boundary in both directions by SCHEMA, so either generation
  // streams identically.
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.types.{DataType, LongType, StructType,
    TimestampNTZType, TimestampType}

  /** Raw ts column → epoch nanos BIGINT (micros-resolution for the
    * timestamp generations, same truncation DuckDB applies to nanos). */
  private def tsNs(c: Column, dt: DataType): Column = dt match {
    case LongType => c
    case _ => unix_micros(c.cast(TimestampType)) * 1000L
  }

  /** Epoch-nanos literal → the source's raw ts representation, so staged
    * sentinel/chunk files keep the exact reader schema. */
  private def tsLit(ns: Long, dt: DataType): Column = dt match {
    case LongType => lit(ns)
    case TimestampNTZType => timestamp_micros(lit(ns / 1000L)).cast(TimestampNTZType)
    case _ => timestamp_micros(lit(ns / 1000L))
  }

  /** Normalize a raw-schema frame (batch or streaming) to a session-TZ
    * TimestampType `ts`, whichever generation the files carry. */
  private def withEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Cache key that invalidates when the fixture file is regenerated.
    * Invalidation contract: keyed by (path, mtime, size), so a fixture
    * overwritten within the filesystem's mtime resolution to the exact
    * same byte length would serve a stale sentinel — acceptable for the
    * driver's fixed fixtures; regenerate into a fresh path to be safe.
    */
  private def sourceKey(path: String): (String, Long, Long) = {
    val f = new java.io.File(path)
    (path, f.lastModified(), f.length())
  }

  /** Stage the streaming source dir: a symlink to events.parquet plus a
    * watermark-sentinel file (one row 2 days past the real max event
    * time, `user_id` -1 and a sentinel event_type so either query can
    * exclude it). The file stream source requires a directory — in
    * production this IS the directory files arrive into.
    */
  private def stageStreamSource(s: SparkSession, dir: String): (String,
      org.apache.spark.sql.types.StructType) = {
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val tag = dirTag(dir)
    val srcDir = stagingRoot.resolve(s"stream-src-$tag")
    java.nio.file.Files.createDirectories(srcDir)
    val link = srcDir.resolve("events.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(s"$dir/events.parquet"))
    // key sentinel freshness on the actual max event time: if the data
    // was regenerated with later timestamps, a stale sentinel would (a)
    // no longer out-run the last real windows and (b) sort BEFORE the
    // new data by mtime, jumping the watermark and dropping everything.
    // Memoized per (path, mtime, size): both streaming queries and every
    // bench iteration would otherwise rescan 1M rows for the same max.
    val maxNs = maxTsCache.getOrElseUpdate(sourceKey(s"$dir/events.parquet"), {
      val raw = s.read.parquet(s"$dir/events.parquet")
      raw.agg(max(tsNs($"ts", raw.schema("ts").dataType))).as[Long].head()
    })
    val sentinelNs = maxNs + 2L * 24 * 3600 * 1000000000L
    val sentinelDir = stagingRoot.resolve(s"stream-sentinel-$tag").toString
    val sentinelLink = srcDir.resolve(s"zz-sentinel-$sentinelNs.parquet")
    if (!java.nio.file.Files.exists(sentinelLink)) {
      // prefix match WITHOUT the trailing dash also purges the legacy
      // fixed-name "zz-sentinel.parquet" link; close the dir streams
      scala.util.Using.resource(java.nio.file.Files.list(srcDir)) { st =>
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("zz-sentinel"))
          .foreach(java.nio.file.Files.delete)
      }
      s.read.parquet(s"$dir/events.parquet").limit(1)
        .withColumn("ts", tsLit(sentinelNs, rawSchema("ts").dataType))
        .withColumn("event_type", lit("__wm_sentinel__"))
        .withColumn("user_id", lit(-1L))
        .coalesce(1).write.mode("overwrite").parquet(sentinelDir)
      val part = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(sentinelDir))) { st =>
        st.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
      }
      java.nio.file.Files.createSymbolicLink(sentinelLink, part)
    }
    (srcDir.toString, rawSchema)
  }

  /** Stateful shuffles are exempt from AQE, so the shuffle-partition
    * count IS the state-store count, fixed at checkpoint creation — a
    * real sizing decision in production streaming. Our state is tiny
    * (open sessions / in-horizon windows), and every micro-batch pays a
    * commit per state store: 32 stores cost ~4× the wall-clock of 8 for
    * identical output (measured at sf0.1). Run the stateful drain at 8
    * and restore the session setting after.
    */
  private def withStatePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, old)
  }

  private def rmTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }

  /** The checkpoint+sink dirs of stream `name` over `dir`. */
  private def sinkDirs(name: String, dir: String): (String, String) = {
    val tag = dirTag(dir)
    (stagingRoot.resolve(s"$name-ck-$tag").toString,
      stagingRoot.resolve(s"$name-out-$tag").toString)
  }

  /** Fresh checkpoint+sink dirs per run: the file sink is append-only, so
    * a stale sink without its checkpoint would double-count. */
  private def freshSinkDirs(name: String, dir: String): (String, String) = {
    val dirs = sinkDirs(name, dir)
    rmTree(java.nio.file.Paths.get(dirs._1))
    rmTree(java.nio.file.Paths.get(dirs._2))
    dirs
  }

  private def eventsWindow(s: SparkSession, dir: String): DataFrame = withStatePartitions(s, 8) {
    import s.implicits._
    val (srcDir, rawSchema) = stageStreamSource(s, dir)
    val (ckDir, outDir) = freshSinkDirs("stream-window", dir)
    // one data batch (no maxFilesPerTrigger): the watermark advances
    // AFTER the batch, and the trailing no-data micro-batch (enabled by
    // default) then emits+purges every closed window — same answer as
    // file-by-file batches, one stateful commit cycle fewer
    val stream = s.readStream.schema(rawSchema)
      .parquet(srcDir)
      .transform(withEventTs)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        expr(dsum("value")).as("total_value"))
      .select($"window.start".as("day_ts"), $"event_type", $"n_events", $"total_value")
    val q = stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(outDir)
      .filter($"event_type" =!= "__wm_sentinel__")
      .orderBy($"day_ts", $"event_type")
  }

  private val eventsWindowOracle = s"""
    |SELECT date_trunc('day', ts) AS day_ts, event_type,
    |  COUNT(*) AS n_events,
    |  ${dsumStatic("value")} AS total_value
    |FROM events
    |GROUP BY date_trunc('day', ts), event_type
    |ORDER BY day_ts, event_type
    |""".stripMargin.trim

  private def dsumStatic(e: String): String =
    s"CAST(ROUND(SUM(CAST(($e) AS DECIMAL(18,6))), 2) AS DOUBLE)"

  // ------------------------------------------------------ sessionize
  // Batch sessionization in the secondary-sort shape: hash-repartition on
  // user_id, sort each partition by (user_id, ts, event_id), then a
  // single streaming scan over the partition emits sessions as group
  // boundaries and 30-minute gaps pass by. Unlike groupByKey +
  // flatMapGroups (which materializes each user's full event history into
  // one task's heap), this holds O(1) state per group — a power-user key
  // at 100 TB costs nothing extra. The streaming twin below keeps the
  // same kernel incremental in a state store.
  private def sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gapMicros = 30L * 60 * 1000000
    val evs = graft.Tables.load(s, dir, "events")
      .select($"user_id", expr("unix_micros(ts)").as("ts_us"), $"event_id")
      .as[(Long, Long, Long)]
    val sessions = evs
      .repartition($"user_id")
      .sortWithinPartitions($"user_id", $"ts_us", $"event_id")
      .mapPartitions { it =>
        // rows arrive grouped by user and time-ordered within each user:
        // one forward pass, constant state (current session only)
        new Iterator[(Long, Long, Long, Long, Long)] {
          private var pending: (Long, Long, Long, Long, Long) = _
          private var uid, sid, start, end, n = 0L
          private def advance(): Unit = {
            while (pending == null) {
              if (!it.hasNext) {
                if (n > 0) { pending = (uid, sid, start, end, n); n = 0 }
                return
              }
              val (u, ts, _) = it.next()
              if (n == 0) { uid = u; sid = 1; start = ts; end = ts; n = 1 }
              else if (u != uid) {
                pending = (uid, sid, start, end, n)
                uid = u; sid = 1; start = ts; end = ts; n = 1
              } else if (ts - end > gapMicros) {
                pending = (uid, sid, start, end, n)
                sid += 1; start = ts; end = ts; n = 1
              } else { end = ts; n += 1 }
            }
          }
          override def hasNext: Boolean = { advance(); pending != null }
          override def next(): (Long, Long, Long, Long, Long) = {
            advance()
            val r = pending; pending = null; r
          }
        }
      }
    sessions.toDF("user_id", "session_id", "start_us", "end_us", "n_events")
      .select($"user_id", $"session_id",
        expr("timestamp_micros(start_us)").as("session_start"),
        expr("timestamp_micros(end_us)").as("session_end"),
        $"n_events")
      .orderBy($"user_id", $"session_id")
  }

  private val sessionizeOracle = """
    |WITH marked AS (
    |  SELECT user_id, ts, event_id,
    |    CASE WHEN lag(ts) OVER w IS NULL
    |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END
    |      AS is_start
    |  FROM events
    |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    |sess AS (
    |  SELECT user_id, ts,
    |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
    |                        ROWS UNBOUNDED PRECEDING) AS session_id
    |  FROM marked)
    |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
    |  MIN(ts) AS session_start, MAX(ts) AS session_end,
    |  COUNT(*) AS n_events
    |FROM sess
    |GROUP BY user_id, session_id
    |ORDER BY user_id, session_id
    |""".stripMargin.trim

  // ------------------------------------------- streaming sessionize
  /** Per-user session state: the open session, or (open=false) a closed
    * tombstone that preserves the session-id counter after an event-time
    * timeout emitted the session — otherwise a user's next event would
    * restart numbering at 1 and collide with already-emitted keys. The
    * tombstone carries a far retention timeout so long-dead users still
    * purge (documented trade: a user idle past retention restarts ids).
    */
  final case class OpenSession(
      sessionId: Long, startUs: Long, endUs: Long, n: Long, open: Boolean = true)

  /** TRUE streaming sessionization: `flatMapGroupsWithState` with
    * event-time timeouts — the custom-state shape the brief calls for.
    * Each user's open session lives in the state store; a session closes
    * (and is APPENDED to the sink, then purged) either when a same-batch
    * event breaks the 30-minute gap or when the watermark passes
    * sessionEnd + gap (timeout). The staged sentinel drives the watermark
    * past every real session's end, so the available-now drain emits the
    * complete answer; state is bounded by open sessions only. Oracle =
    * the same lag/cumulative-window SQL as the batch twin (stream-batch
    * parity, hash-exact).
    */
  private def sessionizeStream(s: SparkSession, dir: String): DataFrame = withStatePartitions(s, 8) {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapUs = 30L * 60 * 1000000
    val (srcDir, rawSchema) = stageStreamSource(s, dir)
    val (ckDir, outDir) = freshSinkDirs("stream-sess", dir)
    // the event-time (watermarked) column must flow into the typed
    // Dataset for the event-time timeout to bind to it
    val stream = s.readStream.schema(rawSchema)
      .parquet(srcDir) // single data batch; timeouts fire in the trailing
      // no-data batch once the sentinel has advanced the watermark
      .transform(withEventTs)
      .select($"user_id", $"ts", $"event_id")
      .withWatermark("ts", "1 hour")
      .as[(Long, java.sql.Timestamp, Long)]
    val sessions = stream.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, (Long, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rawIt, state) =>
          val retentionMs = 30L * 24 * 3600 * 1000 // tombstone lifetime
          // timeouts must never be set below the current watermark
          // (GroupState rejects that): clamp — a clamped tombstone just
          // purges on the next batch, the documented retention trade
          def setTimeout(atMs: Long): Unit =
            state.setTimeoutTimestamp(
              math.max(atMs, state.getCurrentWatermarkMs() + 1))
          if (state.hasTimedOut) {
            val os = state.get
            if (os.open) {
              // watermark passed end + gap: nothing can extend this
              // session — emit it, keep a closed tombstone so the id
              // counter survives, purge the tombstone after retention
              state.update(os.copy(open = false))
              setTimeout(os.endUs / 1000 + retentionMs)
              Iterator((uid, os.sessionId, os.startUs, os.endUs, os.n))
            } else {
              state.remove() // retention elapsed: drop the tombstone
              Iterator.empty
            }
          } else {
            val sorted = rawIt.map(e => (e._1, micros(e._2), e._3))
              .toArray.sortBy(e => (e._2, e._3))
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Long, Long, Long)]
            var cur = state.getOption.orNull
            sorted.foreach { case (_, ts, _) =>
              if (cur == null) cur = OpenSession(1L, ts, ts, 1L)
              else if (!cur.open) cur = OpenSession(cur.sessionId + 1, ts, ts, 1L)
              else if (ts - cur.endUs > gapUs) {
                out += ((uid, cur.sessionId, cur.startUs, cur.endUs, cur.n))
                cur = OpenSession(cur.sessionId + 1, ts, ts, 1L)
              } else cur = cur.copy(
                // never move the window backwards: a late-but-in-horizon
                // event must not regress the end (or later gap decisions
                // would wrongly split the session)
                startUs = math.min(cur.startUs, ts),
                endUs = math.max(cur.endUs, ts),
                n = cur.n + 1)
            }
            if (cur != null && cur.open) {
              state.update(cur)
              setTimeout(cur.endUs / 1000 + gapUs / 1000 + 1)
            }
            out.iterator
          }
      }
    val q = sessions
      .toDF("user_id", "session_id", "start_us", "end_us", "n_events")
      .select($"user_id", $"session_id",
        expr("timestamp_micros(start_us)").as("session_start"),
        expr("timestamp_micros(end_us)").as("session_end"),
        $"n_events")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(outDir)
      .filter($"user_id" >= 0) // drop the watermark sentinel's session
      .orderBy($"user_id", $"session_id")
  }

  /** The same sessionization through Spark's BUILT-IN `session_window`
    * aggregation — zero custom state code: the engine merges windows
    * per (user, session) as events arrive and flushes a session when
    * the watermark passes its end + gap. Kept beside the
    * flatMapGroupsWithState twin deliberately: the built-in is what a
    * user should reach for first (state store format, merging, and
    * timeout handling all engine-owned), the custom kernel exists for
    * semantics the window function can't express (the per-user ordinal
    * id it emits incrementally, retention tombstones). Here the ordinal
    * id is recovered in a batch post-pass over the drained sink —
    * sessions are time-disjoint per user, so numbering by start time is
    * exactly the oracle's cumulative numbering — and the same
    * gaps-and-islands oracle checks both twins hash-exactly.
    * `session_window.start` = first event's ts and `MAX(ts)` rides the
    * aggregation, so the output schema matches the oracle with no
    * end-of-window adjustment (the window's own `end` is last-ts + gap,
    * which the oracle doesn't want).
    */
  private def sessionWindowStream(s: SparkSession, dir: String): DataFrame = withStatePartitions(s, 8) {
    import s.implicits._
    val (srcDir, rawSchema) = stageStreamSource(s, dir)
    val (ckDir, outDir) = freshSinkDirs("stream-sesswin", dir)
    val q = s.readStream.schema(rawSchema)
      .parquet(srcDir)
      .transform(withEventTs)
      .select($"user_id", $"ts")
      .withWatermark("ts", "1 hour")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), max($"ts").as("session_end"))
      .select($"user_id", $"sw.start".as("session_start"),
        $"session_end", $"n_events")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(outDir)
      .filter($"user_id" >= 0) // drop the watermark sentinel's session
      .select($"user_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"session_start"))
          .cast("long").as("session_id"),
        $"session_start", $"session_end", $"n_events")
      .orderBy($"user_id", $"session_id")
  }

  // ------------------------------------------------- streaming dedup
  /** Exact dedup as a STREAM: content hashes flow through
    * `dropDuplicates` state and each first-seen hash is appended to the
    * sink — the streaming twin of `dedup_exact`'s hash-groupBy, for the
    * ingestion shape where a corpus arrives file by file and duplicates
    * must be dropped before they reach the training set.
    *
    * Output is the distinct hash SET (not the first-seen rows: "first"
    * is partition-order-dependent, the set is not), totally ordered —
    * hash-exact against the same DISTINCT in DuckDB, so this is the one
    * stateful streaming query whose state contents are fully
    * oracle-checked. State holds one entry per distinct hash; unbounded
    * corpora bound it with dropDuplicatesWithinWatermark on event time —
    * the same plan with a horizon knob, exercised for real by
    * [[streamDedupWithinWm]] below.
    */
  private def streamDedupExact(s: SparkSession, dir: String): DataFrame = withStatePartitions(s, 8) {
    import s.implicits._
    val rawSchema = s.read.parquet(s"$dir/documents.parquet").schema
    val srcDir = stagingRoot.resolve(s"stream-docs-${dirTag(dir)}")
    java.nio.file.Files.createDirectories(srcDir)
    val link = srcDir.resolve("documents.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val (ckDir, outDir) = freshSinkDirs("stream-dedup", dir)
    val q = s.readStream.schema(rawSchema)
      .parquet(srcDir.toString)
      .select(md5($"text").as("h"))
      .dropDuplicates("h")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(outDir).orderBy($"h")
  }

  private val streamDedupOracle = """
    |SELECT DISTINCT md5(text) AS h FROM documents ORDER BY h
    |""".stripMargin.trim

  // ------------------------------------- bounded-state streaming dedup
  /** Stage the events table as four time-ordered chunk files (equal ts
    * ranges, strictly increasing mtimes) so AvailableNow +
    * maxFilesPerTrigger=1 replays the corpus as four micro-batches with
    * a genuinely advancing watermark — the arrival shape that exercises
    * horizon-based state eviction. Memoized per dataset; the marker file
    * records the source's (mtime, size) so a regenerated fixture
    * restages (same invalidation contract as [[sourceKey]]).
    */
  private def stageChunkedEvents(s: SparkSession, dir: String): (String,
      org.apache.spark.sql.types.StructType) =
    stageChunks(s, dir, name = "stream-chunks", fmt = "parquet",
      project = identity, withSentinel = false)

  /** The shared chunk stager behind [[stageChunkedEvents]] (parquet, raw
    * columns) and [[stageDwrfChunks]] (dwrf, timestamp projection +
    * watermark sentinel): equal-ts-range chunk files, strictly
    * increasing mtimes pin the micro-batch order (the file source
    * dequeues oldest-mtime first). One staging contract, one staleness
    * story.
    */
  private def stageChunks(s: SparkSession, dir: String, name: String,
      fmt: String, project: DataFrame => DataFrame, withSentinel: Boolean): (String,
      org.apache.spark.sql.types.StructType) = {
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ext = fmt // both formats use their name as the file extension
    val srcFile = s"$dir/events.parquet"
    val rawSchema = s.read.parquet(srcFile).schema
    val srcDir = stagingRoot.resolve(s"$name-${dirTag(dir)}")
    val marker = srcDir.resolve("_staged")
    val key = Staging.sourceKey(new java.io.File(srcFile))
    Staging.once(marker, key) {
      rmTree(srcDir)
      java.nio.file.Files.createDirectories(srcDir)
      val rawDt = rawSchema("ts").dataType
      val Array(lo, hi) = s.read.parquet(srcFile)
        .agg(min(tsNs($"ts", rawDt)), max(tsNs($"ts", rawDt)))
        .as[(Long, Long)].head() match {
          case (a, b) => Array(a, b)
        }
      val chunks = 4
      val width = math.max(1L, (hi - lo) / chunks + 1)
      val base = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(srcFile)).toMillis
      def stageOne(df: DataFrame, fileName: String, mtime: Long): Unit = {
        val tmp = stagingRoot.resolve(s"$name-tmp-${dirTag(dir)}")
        project(df).coalesce(1).write.mode("overwrite")
          .format(fmt).save(tmp.toString)
        val part = scala.util.Using.resource(java.nio.file.Files.list(tmp)) {
          st => st.filter(_.getFileName.toString.endsWith(s".$ext"))
            .findFirst().get()
        }
        val dst = srcDir.resolve(fileName)
        java.nio.file.Files.move(part, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
        rmTree(tmp)
      }
      (0 until chunks).foreach { i =>
        stageOne(
          s.read.parquet(srcFile)
            .filter(tsNs($"ts", rawDt) >= lo + i * width &&
              tsNs($"ts", rawDt) < lo + (i + 1) * width),
          f"chunk-$i%02d.$ext", base + (i + 1) * 1000)
      }
      if (withSentinel)
        stageOne(
          s.read.parquet(srcFile).limit(1)
            .withColumn("ts", tsLit(hi + 2L * 24 * 3600 * 1000000000L, rawDt))
            .withColumn("event_type", lit("__wm_sentinel__"))
            .withColumn("user_id", lit(-1L)),
          s"zz-sentinel.$ext", base + (chunks + 1) * 1000)
    }
    (srcDir.toString, rawSchema)
  }

  /** Exact dedup with a BOUNDED-state horizon — the 100 TB ingestion
    * plan named by [[streamDedupExact]]'s scaladoc, now exercised:
    * `dropDuplicatesWithinWatermark` keys on (user_id, event_type, hr)
    * with a 2-hour watermark on the hour-truncated event time, so state
    * entries expire once the watermark passes their horizon instead of
    * accumulating one entry per distinct key forever.
    *
    * Oracle exactness: every column emitted IS a key column (the
    * surviving row is fully determined by the key, not arrival order),
    * the four staged chunks are time-ordered so no row is ever late,
    * and a key's occurrences all share its hour — duplicates always
    * arrive inside the horizon, so the emitted set equals plain
    * DISTINCT while state stays horizon-bounded. Hash-exact vs DuckDB.
    */
  private def streamDedupWithinWm(s: SparkSession, dir: String): DataFrame = withStatePartitions(s, 8) {
    import s.implicits._
    val (srcDir, rawSchema) = stageChunkedEvents(s, dir)
    val (ckDir, outDir) = freshSinkDirs("stream-dedup-wm", dir)
    val q = s.readStream.schema(rawSchema)
      // r15 (guide §2.4): two chunks per trigger — the 4 time-ordered
      // chunks drain in 2 micro-batches instead of 4; the watermark
      // still advances between them, so horizon-based state EVICTION
      // (the thing this row exercises) still fires across the batch
      // boundary, at half the per-trigger commit cost. Every duplicate
      // shares its key's hour, so the emitted set is plain DISTINCT
      // either way — oracle re-checked.
      .option("maxFilesPerTrigger", "2")
      .parquet(srcDir)
      .transform(withEventTs)
      .select($"user_id", $"event_type",
        date_trunc("hour", $"ts").as("hr"))
      .withWatermark("hr", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hr")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(outDir).orderBy($"user_id", $"event_type", $"hr")
  }

  private val streamDedupWmOracle = """
    |SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr
    |FROM events ORDER BY user_id, event_type, hr
    |""".stripMargin.trim

  // ---------------------------------------------- streaming dwrf source
  /** Stage the events table as four time-ordered DWRF chunk files plus a
    * watermark sentinel (strictly increasing mtimes), the landing-dir
    * shape [[DwrfMicroBatchStream]]'s offset contract names. Same stager
    * as [[stageChunkedEvents]] ([[stageChunks]]), writing the native
    * format with `ts` converted to a real timestamp column so the dwrf
    * E9 split encoding is exercised through the streaming read.
    */
  private def stageDwrfChunks(s: SparkSession, dir: String): String = {
    import s.implicits._
    stageChunks(s, dir, name = "stream-dwrf-chunks", fmt = "dwrf",
      project = df => withEventTs(df).select($"event_id", $"user_id",
        $"event_type", $"ts", $"value"),
      withSentinel = true)._1
  }

  /** The eventsWindow rollup computed FROM a dwrf landing directory:
    * `readStream.format("dwrf")` tails the staged chunks one file per
    * micro-batch (admission control), the watermark advances across
    * epochs, and append mode emits+purges closed windows — the read half
    * of the native ingestion loop, hash-exact against the batch answer.
    */
  private def streamDwrfSource(s: SparkSession, dir: String): DataFrame = withStatePartitions(s, 8) {
    import s.implicits._
    val srcDir = stageDwrfChunks(s, dir)
    val (ckDir, outDir) = freshSinkDirs("stream-dwrf-src", dir)
    val q = s.readStream
      .format("dwrf")
      // r15 (guide §2.4): admission batches THREE files per trigger —
      // the 5 staged files (4 time-ordered chunks + sentinel) drain in 2
      // data micro-batches instead of 5, still exercising multi-epoch
      // admission and a watermark that genuinely advances ACROSS
      // batches, at ~40% of the per-trigger planning/state/WAL cost.
      // Chunks are time-ordered, so no row is ever late and the
      // append-mode window set is identical — oracle re-checked.
      .option("maxFilesPerTrigger", "3")
      .load(srcDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        expr(dsum("value")).as("total_value"))
      .select($"window.start".as("day_ts"), $"event_type", $"n_events", $"total_value")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(outDir)
      .filter($"event_type" =!= "__wm_sentinel__")
      .orderBy($"day_ts", $"event_type")
  }

  // ------------------------------------------------ streaming dwrf sink
  /** Streaming ingestion INTO the native format: readStream over the
    * events dir → stateless filter/projection → `writeStream.format
    * ("dwrf")` (the V2 STREAMING_WRITE path — epoch-deterministic file
    * names, idempotent under replay) → read back through the batch dwrf
    * reader. This is the 100 TB arrival shape writing dwrf directly with
    * no parquet staging hop; the whole loop (streaming engine → dwrf
    * writer → footer → columnar reader) is oracle-checked hash-exact.
    * Stateless, so no watermark/state store — sink throughput is the
    * thing under test.
    */
  private def streamDwrfSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (srcDir, rawSchema) = stageStreamSource(s, dir)
    val (ckDir, outDir) = freshSinkDirs("stream-dwrf-sink", dir)
    val q = s.readStream.schema(rawSchema)
      .parquet(srcDir)
      .transform(withEventTs)
      .filter($"user_id" >= 0 && $"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
        $"value", $"props")
      .writeStream
      .format("dwrf")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.format("dwrf").load(outDir).orderBy($"event_id")
  }

  // DuckDB reads the TIMESTAMP(NANOS) parquet at micros (truncating, same
  // as `ts DIV 1000` on the raw nanos), so epoch_us matches bit-for-bit
  private val streamDwrfSinkOracle = """
    |SELECT event_id, user_id, epoch_us(ts) AS ts_us, value, props
    |FROM events WHERE event_type = 'purchase' ORDER BY event_id
    |""".stripMargin.trim

  // --------------------------------------------------- streaming funnel
  /** Per-user funnel accumulator: every funnel-relevant (ts, kind) seen
    * so far. The exact view→click→purchase minima are not incrementally
    * collapsible — a late-but-in-horizon view can lower t_view and make a
    * previously-ineligible click the stage-2 answer — so the state keeps
    * the full candidate list until the user's completion horizon elapses
    * (watermark passes last activity + horizon), then computes the chain
    * once and purges. Bounded by per-user funnel-relevant activity
    * inside the horizon (the same shape as the sessionizer's
    * open-session state).
    */
  final case class FunnelBuf(evs: List[(Long, Int)])

  /** Timestamp → exact epoch micros (floorDiv keeps pre-1970 correct). */
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** TRUE streaming funnel: `flatMapGroupsWithState` + event-time
    * timeout. Stage chain is computed once per user when the watermark
    * passes their last event; output is the per-user stage-times table,
    * hash-exact against the batch three-CTE oracle (stream-batch
    * parity, 150 users at sf0.01). The staged sentinel drives the
    * watermark past every user's horizon so the available-now drain
    * finalizes everyone.
    */
  private def streamFunnel(s: SparkSession, dir: String): DataFrame = withStatePartitions(s, 8) {
    import s.implicits._
    val (srcDir, rawSchema) = stageStreamSource(s, dir)
    val (ckDir, outDir) = freshSinkDirs("stream-funnel", dir)
    funnelStream(s, srcDir, rawSchema, ckDir, outDir)
    s.read.parquet(outDir).orderBy($"user_id")
  }

  /** The funnel stream itself, parameterized over the landing dir so the
    * multi-batch spec can drive it with crafted chunk files
    * (maxFilesPerTrigger=1 → one chunk per micro-batch) while the public
    * query uses the standard staged source. Blocks until the
    * available-now drain finishes; results land in `outDir`.
    */
  private[queries] def funnelStream(s: SparkSession, srcDir: String,
      rawSchema: org.apache.spark.sql.types.StructType,
      ckDir: String, outDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val kinds = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
    val reader = s.readStream.schema(rawSchema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val stream = reader
      .parquet(srcDir)
      .transform(withEventTs)
      .select($"user_id", $"ts", $"event_type")
      .withWatermark("ts", "1 hour")
      // the sentinel type MUST survive this filter: Catalyst pushes the
      // predicate below the watermark operator, so a filter that dropped
      // the sentinel would also stop its far-future event time from ever
      // advancing the watermark — users active in the last real hour
      // would then never finalize. The sentinel group (user_id -1, no
      // view) emits nothing from the state function instead.
      .filter($"event_type".isin("view", "click", "purchase", "__wm_sentinel__"))
      .as[(Long, java.sql.Timestamp, String)]
    val perUser = stream.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelBuf,
        (Long, Long, Option[Long], Option[Long])](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rawIt, state) =>
          // funnel-completion horizon: a user's funnel closes after one
          // day of event-time inactivity. The timeout MUST encode a
          // horizon — a watermark past the last event only proves
          // nothing EARLIER can still arrive; a user could always
          // return later, so "complete" is necessarily a policy
          // decision, and users idle past it finalize with their prefix
          // chain (standard funnel-window semantics). Parity with the
          // unbounded batch oracle is still exact for this query: the
          // staged source delivers all real data in ONE batch, and the
          // watermark only advances at batch boundaries — so no horizon
          // can elapse between a user's events, whatever their gaps.
          // (A multi-batch replay with gaps above the horizon finalizes
          // early by design — StreamFunnelSpec exercises multi-batch
          // arrival inside the horizon.) The value must stay under the
          // sentinel's 2-day headroom or the drain would never fire.
          val horizonMs = 24L * 3600 * 1000
          if (state.hasTimedOut) {
            val evs = state.get.evs
            state.remove()
            val views = evs.collect { case (ts, 0) => ts }
            if (views.isEmpty) Iterator.empty
            else {
              val tView = views.min
              val tClick = evs.collect {
                case (ts, 1) if ts > tView => ts
              }.minOption
              val tBuy = tClick.flatMap(c => evs.collect {
                case (ts, 2) if ts > c => ts
              }.minOption)
              Iterator((uid, tView, tClick, tBuy))
            }
          } else {
            val add = rawIt.map(e =>
              (micros(e._2), kinds.getOrElse(e._3, -1))).toList
            val evs = state.getOption.map(_.evs).getOrElse(Nil) ::: add
            state.update(FunnelBuf(evs))
            // finalize at last activity + horizon, clamped above the
            // current watermark (GroupState rejects timeouts at/below it)
            state.setTimeoutTimestamp(math.max(
              evs.iterator.map(_._1).max / 1000 + horizonMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
    val q = perUser
      .toDF("user_id", "view_us", "click_us", "buy_us")
      .select($"user_id",
        expr("timestamp_micros(view_us)").as("t_view"),
        expr("timestamp_micros(click_us)").as("t_click"),
        expr("timestamp_micros(buy_us)").as("t_buy"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  // ------------------------------------- stream-stream interval join
  // Click→purchase attribution as a STREAM-STREAM self-join: each
  // purchase joins every click by the same user in the PRECEDING 30
  // minutes (event time). The time-interval condition bounds both
  // sides' state — a click can be purged once the purchase-side
  // watermark passes click.ts + 30 min, a purchase once the click side
  // passes purchase.ts — so state is watermark-horizon-bounded exactly
  // like Spark's documented interval-join shape; at 100 TB/day the
  // join state never grows beyond the horizon. Inner-join emissions
  // are eager (no watermark wait), so the available-now drain emits
  // every pair; the per-user rollup happens as a BATCH read of the
  // pair sink (chaining a second stateful aggregate after a
  // stream-stream join in append mode would gate emissions on the
  // sentinel's own never-closing window instead).
  private def streamJoinAttrib(s: SparkSession, dir: String): DataFrame = withStatePartitions(s, 8) {
    import s.implicits._
    // phase attribution (the stream_cdc_apply treatment): staging /
    // stream drain / rollup wall-times, plus the drain's own
    // per-duration split from streaming progress, exported for opscale
    // so a bench-median drift decomposes into measured phases
    val ph = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val (srcDir, rawSchema) = phased(ph, "stage_src") {
      stageStreamSource(s, dir)
    }
    val (ckDir, outDir) = freshSinkDirs("stream-join-attrib", dir)
    phased(ph, "drain") {
      attribJoinStream(s, srcDir, rawSchema, ckDir, outDir, phases = Some(ph))
    }
    val rolled = s.read.parquet(outDir)
      .filter($"user_id" =!= -1L)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"p_ts").as("n_purchases"))
      .orderBy($"user_id")
    val rows = phased(ph, "rollup") { rolled.collect() }
    lastJoinAttribPhases = ph.toMap
    s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
  }

  /** The interval-join stream itself, parameterized over the landing dir
    * so the multi-batch spec can drive it with crafted chunk files
    * (maxFilesPerTrigger=1 → one chunk per micro-batch, clicks arriving
    * batches before their purchases — pairs must meet through the join
    * STATE, not within one batch). Blocks until the available-now drain
    * finishes; raw (user_id, c_ts, p_ts) pairs land in `outDir`.
    */
  private[queries] def attribJoinStream(s: SparkSession, srcDir: String,
      rawSchema: org.apache.spark.sql.types.StructType,
      ckDir: String, outDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      phases: Option[scala.collection.mutable.LinkedHashMap[String, Double]] =
        None): Unit = {
    import s.implicits._
    val reader = s.readStream.schema(rawSchema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val base = reader.parquet(srcDir)
      .transform(withEventTs)
      .select($"user_id", $"ts", $"event_type")
      .withWatermark("ts", "1 hour")
    // each leg KEEPS the sentinel row (Catalyst pushes these filters
    // below the watermark operator — dropping it there would stop the
    // watermark advancing, see funnelStream); the join's STRICT
    // p.ts > c.ts excludes the sentinel self-pair (equal timestamps),
    // and user -1 never matches a real row
    val clicks = base
      .filter($"event_type".isin("click", "__wm_sentinel__"))
      .select($"user_id".as("c_user"), $"ts".as("c_ts"))
    val purchases = base
      .filter($"event_type".isin("purchase", "__wm_sentinel__"))
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
    val q = clicks.join(purchases,
        $"c_user" === $"p_user" &&
          $"p_ts" > $"c_ts" &&
          $"p_ts" <= $"c_ts" + expr("INTERVAL 30 MINUTES"))
      .select($"c_user".as("user_id"), $"c_ts", $"p_ts")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // within-drain split from the query's own progress telemetry:
    // addBatch (sink write + state update), getBatch/latestOffset
    // (source listing), walCommit/commitOffsets (checkpoint I/O) —
    // the numbers that tell a slow drain apart from a slow host
    phases.foreach { acc =>
      q.recentProgress.foreach { p =>
        p.durationMs.forEach { (k, v) =>
          val key = s"drain_$k"
          acc(key) = acc.getOrElse(key, 0.0) + v.longValue() / 1e3
        }
      }
    }
  }

  private val streamJoinAttribOracle = """
    |SELECT c.user_id, COUNT(*) AS n_pairs,
    |  COUNT(DISTINCT p.ts) AS n_purchases
    |FROM events c JOIN events p ON p.user_id = c.user_id
    |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    |  AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    |GROUP BY c.user_id
    |ORDER BY c.user_id
    |""".stripMargin.trim

  private val streamFunnelOracle = """
    |WITH v AS (
    |  SELECT user_id, MIN(ts) AS t_view
    |  FROM events WHERE event_type = 'view' GROUP BY user_id),
    |c AS (
    |  SELECT e.user_id, MIN(e.ts) AS t_click
    |  FROM events e JOIN v ON e.user_id = v.user_id
    |  WHERE e.event_type = 'click' AND e.ts > v.t_view
    |  GROUP BY e.user_id),
    |p AS (
    |  SELECT e.user_id, MIN(e.ts) AS t_buy
    |  FROM events e JOIN c ON e.user_id = c.user_id
    |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    |  GROUP BY e.user_id)
    |SELECT v.user_id, v.t_view, c.t_click, p.t_buy
    |FROM v
    |LEFT JOIN c ON v.user_id = c.user_id
    |LEFT JOIN p ON v.user_id = p.user_id
    |ORDER BY v.user_id
    |""".stripMargin.trim

  // ------------------------------------------- snapshot-log streaming
  /** Stream a SNAPSHOT TABLE's log (DwrfLogMicroBatchStream): events
    * lands in a log-enabled dwrf table as three append commits (v0
    * enable-snapshot + two INSERTs), and `readStream.format("dwrf")`
    * tails the LOG — offsets are versions, each batch is a manifest
    * set-difference, so retained history never re-ingests and every
    * append flows exactly once. The drained rollup is hash-exact
    * against the batch events oracle (initial-snapshot-then-changes
    * parity, the Delta-source shape).
    */
  private def streamLogFollow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.hadoop.fs.Path
    import graft.sources.dwrf.{DwrfLog, DwrfUtil}
    val tag = dirTag(dir)
    val tblDir = stagingRoot.resolve(s"log-follow-$tag").toString
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(tblDir)
    val fs = root.getFileSystem(conf)
    // r15: the staged v0..v2 history is deterministic and never mutated
    // after staging (the drain only READS the log) — stage once per
    // source generation like stageChunks/streamCdcApply instead of
    // rewriting three commits of the events table every run; the drain
    // itself (the operator under test) still runs fresh every time
    val marker = stagingRoot.resolve(s"log-follow-$tag-staged")
    val key = Staging.sourceKey(new java.io.File(s"$dir/events.parquet"))
    Staging.once(marker, key, stillValid =
        DwrfLog.latestVersion(root, conf).contains(2L)) {
      if (fs.exists(root)) fs.delete(root, true)
      val ev = graft.Tables.load(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value")
      // three append-shaped commits: thirds by event_id
      val Array(lo, hi) = ev.agg(min($"event_id"), max($"event_id")).head() match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
      val w = math.max(1L, (hi - lo) / 3 + 1)
      ev.filter($"event_id" < lo + w)
        .write.format("dwrf").mode("overwrite").save(tblDir)
      DwrfLog.enable(root, conf)
      ev.filter($"event_id" >= lo + w && $"event_id" < lo + 2 * w)
        .write.format("dwrf").mode("append").save(tblDir)
      ev.filter($"event_id" >= lo + 2 * w)
        .write.format("dwrf").mode("append").save(tblDir)
    }
    require(DwrfLog.latestVersion(root, conf).contains(2L),
      "log-follow staging must commit exactly v0 + two appends")
    val (ckDir, outDir) = freshSinkDirs("stream-log-follow", dir)
    val q = s.readStream.format("dwrf")
      // r15 (guide §2.4): the bounded catch-up drains all three commits
      // in ONE micro-batch (offsets are still versions — the manifest
      // set-difference spans (−1, 2]) instead of paying three triggers'
      // planning/WAL/sink commits; retained history still never
      // re-ingests. Stateless passthrough, so batching cannot change
      // the row set — oracle re-checked.
      .option("maxVersionsPerTrigger", "3")
      .load(tblDir)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(outDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        expr(dsum("value")).as("total_value"))
      .orderBy($"event_type")
  }

  private val streamLogFollowOracle = s"""
    |SELECT event_type, COUNT(*) AS n_events,
    |  ${dsumStatic("value")} AS total_value
    |FROM events
    |GROUP BY event_type
    |ORDER BY event_type
    |""".stripMargin.trim

  // Streaming change data feed: the table commits an initial snapshot,
  // an append, and a merge-on-read DELETE (a change-shaped commit the
  // plain log stream refuses); readChangeFeed=true streams all three as
  // row-level deltas with change columns. The query APPLIES the feed —
  // inserts anti-joined against deletes by key — and hash-matches the
  // materialized rollup against DuckDB computing the post-DELETE table
  // directly: an incremental consumer's view is provably the table.
  private def streamCdfFollow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.hadoop.fs.Path
    import graft.sources.dwrf.{DwrfChanges, DwrfDv, DwrfLog, DwrfUtil}
    val tag = dirTag(dir)
    val tblDir = stagingRoot.resolve(s"cdf-follow-$tag").toString
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(tblDir)
    val fs = root.getFileSystem(conf)
    // r15: stage the deterministic v0..v2 history ONCE per source
    // generation (the same memoized-staging contract as streamCdcApply —
    // the drain only reads the feed, never mutates the table); the
    // feed drain + apply (the operator under test) still run fresh
    val marker = stagingRoot.resolve(s"cdf-follow-$tag-staged")
    val key = Staging.sourceKey(new java.io.File(s"$dir/orders.parquet"))
    Staging.once(marker, key, stillValid =
        DwrfLog.latestVersion(root, conf).contains(2L)) {
      if (fs.exists(root)) fs.delete(root, true)
      val orders = graft.Tables.load(s, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority",
          $"o_totalprice")
      orders.filter($"o_orderkey" % 97 =!= 0)
        .write.format("dwrf").mode("overwrite").save(tblDir)
      DwrfLog.enable(root, conf) // v0
      orders.filter($"o_orderkey" % 97 === 0).repartition(1)
        .write.format("dwrf").mode("append").save(tblDir) // v1
      val schema = s.read.format("dwrf").load(tblDir).schema
      DwrfDv.deleteWhere(s, tblDir, schema, Array(
        org.apache.spark.sql.sources.EqualTo("o_orderpriority", "1-URGENT")))
    }
    val v2 = DwrfLog.read(root, conf, 2L)
    require(v2.op == "delete-mor" && v2.dvs.nonEmpty,
      s"staging must commit a merge-on-read DELETE at v2, got $v2")
    val (ckDir, outDir) = freshSinkDirs("stream-cdf-follow", dir)
    val q = s.readStream.format("dwrf")
      .option(DwrfChanges.ReadChangeFeedKey, "true")
      // r15 (guide §2.4): all three commits in ONE micro-batch — the
      // feed still carries every version's rows with their change
      // columns (the versions==Seq(0,1,2) require below proves it), at
      // a third of the trigger round-trips. Oracle re-checked.
      .option("maxVersionsPerTrigger", "3")
      .load(tblDir)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val feed = s.read.parquet(outDir)
    val versions = feed.select($"_commit_version").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    require(versions == Seq(0L, 1L, 2L),
      s"feed must carry all three commits, got versions $versions")
    val deletes = feed.filter($"_change_type" === "delete")
    require(deletes.count() > 0, "the MoR DELETE must stream row deletes")
    // apply the feed: nothing re-inserts a deleted key here, so the
    // materialization is one anti-join on the key
    feed.filter($"_change_type" === "insert")
      .join(deletes.select($"o_orderkey".as("del_key")),
        $"o_orderkey" === $"del_key", "left_anti")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        expr(dsum("o_totalprice")).as("total_price"))
      .orderBy($"o_orderstatus")
  }

  private val streamCdfFollowOracle = s"""
    |SELECT o_orderstatus, COUNT(*) AS n_orders,
    |  ${dsumStatic("o_totalprice")} AS total_price
    |FROM orders
    |WHERE o_orderpriority <> '1-URGENT'
    |GROUP BY o_orderstatus
    |ORDER BY o_orderstatus
    |""".stripMargin.trim

  // Streaming CDC apply (APPLY CHANGES INTO): the source table commits
  // an initial snapshot, an append, a copy-on-write UPDATE and a
  // merge-on-read DELETE; DwrfApplyChanges streams the change feed and
  // MERGEs each micro-batch's net effect into an initially-EMPTY target
  // table — the replica materializes from the feed alone. Exactly-once
  // is REQUIREd by the audit, not assumed: a second drain over the same
  // checkpoint must leave the target's version untouched. The target
  // rollup then hash-matches DuckDB computing the source's final state
  // directly from parquet (update arithmetic + delete filter) — the
  // replica IS the table.
  /** stream_cdc_apply's staged source dir, replica dir, and the
    * replica's table name. */
  private def cdcApplyDirs(dir: String): (String, String, String) = {
    val tag = dirTag(dir)
    (stagingRoot.resolve(s"cdc-apply-src-$tag").toString,
      stagingRoot.resolve(s"cdc-apply-tgt-$tag").toString,
      s"graft_cdc_tgt_$tag")
  }

  /** One AvailableNow drain of `srcDir`'s change feed into `tgtTbl`. */
  private def cdcDrain(s: SparkSession, srcDir: String, tgtTbl: String,
      ckDir: String): Unit =
    graft.sources.dwrf.DwrfApplyChanges.start(s, srcDir, tgtTbl,
      keys = Seq("o_orderkey"), checkpoint = ckDir).awaitTermination()

  private def streamCdcApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.hadoop.fs.Path
    import graft.sources.dwrf.{DwrfDv, DwrfLog, DwrfUtil}
    val (srcDir, tgtDir, tgtTbl) = cdcApplyDirs(dir)
    val srcTbl = s"graft_cdc_src_${dirTag(dir)}"
    val conf = DwrfUtil.sessionHadoopConf()
    val fs = new Path(srcDir).getFileSystem(conf)
    s.sql(s"DROP TABLE IF EXISTS $srcTbl")
    s.sql(s"DROP TABLE IF EXISTS $tgtTbl")
    if (fs.exists(new Path(tgtDir))) fs.delete(new Path(tgtDir), true)
    // the staged v0..v3 source is deterministic and never mutated after
    // staging (the drain only READS the feed) — cache it across runs,
    // keyed on the source parquet's identity like stageChunks
    val srcMarker = java.nio.file.Paths.get(srcDir, "_staged")
    val srcKey = Staging.sourceKey(new java.io.File(s"$dir/orders.parquet"))
    val ph = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    try {
      val restaged = Staging.once(srcMarker, srcKey, stillValid =
          DwrfLog.latestVersion(new Path(srcDir), conf).contains(3L)) { phased(ph, "stage_src") {
        if (fs.exists(new Path(srcDir))) fs.delete(new Path(srcDir), true)
        val orders = graft.Tables.load(s, dir, "orders")
          .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority",
            $"o_totalprice")
        // v0: initial snapshot (most rows)
        orders.filter($"o_orderkey" % 97 =!= 0)
          .write.format("dwrf").mode("overwrite").save(srcDir)
        s.sql(s"CREATE TABLE $srcTbl USING dwrf LOCATION '$srcDir'")
        DwrfLog.enable(new Path(srcDir), conf)
        // v1: append the held-out rows
        orders.filter($"o_orderkey" % 97 === 0).repartition(1)
          .write.format("dwrf").mode("append").save(srcDir)
        // v2: copy-on-write UPDATE — feed carries delete+insert pairs
        s.sql(s"UPDATE $srcTbl SET o_totalprice = o_totalprice + 10.0 " +
          "WHERE o_orderstatus = 'F'")
        // v3: merge-on-read DELETE — feed carries row-level deletes
        DwrfDv.deleteWhere(s, srcDir,
          s.read.format("dwrf").load(srcDir).schema,
          Array(org.apache.spark.sql.sources.EqualTo("o_orderpriority", "1-URGENT")))
        require(DwrfLog.latestVersion(new Path(srcDir), conf).contains(3L),
          "CDC-apply staging must commit v0..v3")
      } }
      if (!restaged)
        s.sql(s"CREATE TABLE $srcTbl USING dwrf LOCATION '$srcDir'")

      // the replica runs its MERGEs merge-on-read: a churn-sized CDC
      // apply into a 100 TB replica must write the DELTA (delete
      // vectors + new row versions), not rewrite every touched file per
      // micro-batch — the copy-on-write tier would make each batch cost
      // O(table), not O(churn). Measured here too: drain went 12.4 s →
      // 10.6 s cold at sf0.1 (opscale cdc section).
      s.sql(s"CREATE TABLE $tgtTbl (o_orderkey BIGINT, o_orderstatus STRING, " +
        s"o_orderpriority STRING, o_totalprice DOUBLE) USING dwrf LOCATION '$tgtDir' " +
        "TBLPROPERTIES ('merge.mode'='merge-on-read')")
      DwrfLog.enable(new Path(tgtDir), conf)

      val (ckDir, _) = freshSinkDirs("stream-cdc-apply", dir)
      // r15 (guide §2.4, VERDICT r14 #4 "batch source admission"): the
      // drain uses the ENGINE-DEFAULT admission — the whole staged
      // v0..v3 catch-up is ONE micro-batch whose net-effect reduction
      // collapses the feed per key (newest version wins), exactly what a
      // production AvailableNow catch-up does. The r14 one-version-per-
      // trigger drain paid 4 triggers' planning/WAL plus 3 MERGE
      // invocations (~2.3 s of per-MERGE engine floor EACH at this SF —
      // measured: maxVersionsPerTrigger 1 → 2 → unset moved the bench
      // median 4.7 → 4.7 → 2.4 s, i.e. the cost was the MERGE count,
      // not the data). Correctness is batch-span-agnostic by design:
      // DwrfApplyChangesSpec drains the same span per-version and
      // whole-span and converges identically, and
      // DwrfAdmissionBatchingSpec pins per-version vs batched targets
      // bit-identical across append/CoW-update/MoR-delete commits. The
      // incremental-MERGE shape stays benched via dwrf_merge_scan /
      // dwrf_update_mor and spec-covered here; oracle re-checked.
      phased(ph, "drain") { cdcDrain(s, srcDir, tgtTbl, ckDir) }
      val vApplied = DwrfLog.latestVersion(new Path(tgtDir), conf).get
      require(vApplied >= 1L, "the apply must commit merges to the target")

      val rolled = s.sql(s"""
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  ${dsum("o_totalprice")} AS total_price
        |FROM $tgtTbl GROUP BY o_orderstatus ORDER BY o_orderstatus
        |""".stripMargin.trim)
      val rows = phased(ph, "rollup") { rolled.collect() }
      lastCdcPhases = ph.toMap
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
        .orderBy($"o_orderstatus")
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $srcTbl")
      s.sql(s"DROP TABLE IF EXISTS $tgtTbl")
    }
  }

  private val streamCdcApplyOracle = s"""
    |SELECT o_orderstatus, COUNT(*) AS n_orders,
    |  ${dsumStatic("CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10.0 ELSE o_totalprice END")} AS total_price
    |FROM orders
    |WHERE o_orderpriority <> '1-URGENT'
    |GROUP BY o_orderstatus
    |ORDER BY o_orderstatus
    |""".stripMargin.trim

  // Exactly-once audit: a re-drain over the query's checkpoint must find
  // nothing new and leave the replica's log version untouched.
  private def streamCdcApplyAudit(s: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.sources.dwrf.{DwrfLog, DwrfUtil}
    val (srcDir, tgtDir, tgtTbl) = cdcApplyDirs(dir)
    val (ckDir, _) = sinkDirs("stream-cdc-apply", dir)
    val conf = DwrfUtil.sessionHadoopConf()
    val vApplied = DwrfLog.latestVersion(new Path(tgtDir), conf)
    s.sql(s"DROP TABLE IF EXISTS $tgtTbl")
    s.sql(s"CREATE TABLE $tgtTbl USING dwrf LOCATION '$tgtDir' " +
      "TBLPROPERTIES ('merge.mode'='merge-on-read')")
    try {
      cdcDrain(s, srcDir, tgtTbl, ckDir)
      require(DwrfLog.latestVersion(new Path(tgtDir), conf) == vApplied,
        "a re-drain over the same checkpoint must not re-apply anything")
    } finally s.sql(s"DROP TABLE IF EXISTS $tgtTbl")
  }

  // Incrementally maintained aggregate (DwrfAggMaintain): a per-custkey
  // rollup of a churning orders table kept current by FOLLOWING the
  // change feed — per micro-batch the feed nominates the affected keys,
  // those groups recompute from the current snapshot (file-pruned by
  // the key join), and one MERGE updates/inserts/deletes them. The
  // query stages append + copy-on-write UPDATE + row-level DELETE
  // commits and hash-checks the maintained table against DuckDB
  // computing the final rollup directly. The audit REQUIREs the
  // vanished-group DELETE branch provably fired (keys that existed at
  // v2 are gone from the maintained table) and that re-applying the
  // full feed leaves the content bit-identical (idempotent-from-truth —
  // an additive delta scheme would double-count here).
  /** stream_agg_maintain's (source dir, target dir, source table,
    * target table). */
  private def aggMaintainDirs(dir: String): (String, String, String, String) = {
    val tag = dirTag(dir)
    (stagingRoot.resolve(s"agg-maintain-src-$tag").toString,
      stagingRoot.resolve(s"agg-maintain-tgt-$tag").toString,
      s"graft_aggm_src_$tag", s"graft_aggm_tgt_$tag")
  }

  private def aggMaintainAggs: Seq[String] =
    Seq("COUNT(*) AS n_orders", s"${dsum("o_totalprice")} AS total_price")

  private def streamAggMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.hadoop.fs.Path
    import graft.sources.dwrf.{DwrfAggMaintain, DwrfLog, DwrfUtil}
    val (srcDir, tgtDir, srcTbl, tgtTbl) = aggMaintainDirs(dir)
    val conf = DwrfUtil.sessionHadoopConf()
    val fs = new Path(srcDir).getFileSystem(conf)
    s.sql(s"DROP TABLE IF EXISTS $srcTbl")
    s.sql(s"DROP TABLE IF EXISTS $tgtTbl")
    if (fs.exists(new Path(tgtDir))) fs.delete(new Path(tgtDir), true)
    val aggs = aggMaintainAggs
    // staged v0..v3 source cached across runs (deterministic, read-only
    // after staging) — same marker pattern as stageChunks/streamCdcApply
    val srcMarker = java.nio.file.Paths.get(srcDir, "_staged")
    val srcKey = Staging.sourceKey(new java.io.File(s"$dir/orders.parquet"))
    val ph = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    try {
      val restaged = Staging.once(srcMarker, srcKey, stillValid =
          DwrfLog.latestVersion(new Path(srcDir), conf).contains(3L)) { phased(ph, "stage_src") {
        if (fs.exists(new Path(srcDir))) fs.delete(new Path(srcDir), true)
        val orders = graft.Tables.load(s, dir, "orders")
          .select($"o_custkey", $"o_orderkey", $"o_orderstatus", $"o_totalprice")
        // v0: initial snapshot (most rows)
        orders.filter($"o_orderkey" % 97 =!= 0)
          .write.format("dwrf").mode("overwrite").save(srcDir)
        s.sql(s"CREATE TABLE $srcTbl USING dwrf LOCATION '$srcDir'")
        DwrfLog.enable(new Path(srcDir), conf)
        // v1: append the held-out rows
        orders.filter($"o_orderkey" % 97 === 0).repartition(1)
          .write.format("dwrf").mode("append").save(srcDir)
        // v2: copy-on-write UPDATE — the feed carries delete+insert pairs
        s.sql(s"UPDATE $srcTbl SET o_totalprice = o_totalprice + 10.0 " +
          "WHERE o_orderstatus = 'F'")
        // v3: row-level DELETE that vanishes WHOLE groups (every order of
        // custkeys ≡ 3 mod 10) — the maintained table must drop them
        s.sql(s"DELETE FROM $srcTbl WHERE o_custkey % 10 = 3")
        require(DwrfLog.latestVersion(new Path(srcDir), conf).contains(3L),
          "agg-maintain staging must commit v0..v3")
      } }
      if (!restaged)
        s.sql(s"CREATE TABLE $srcTbl USING dwrf LOCATION '$srcDir'")

      s.sql(s"CREATE TABLE $tgtTbl (o_custkey BIGINT, n_orders BIGINT, " +
        s"total_price DOUBLE) USING dwrf LOCATION '$tgtDir'")
      DwrfLog.enable(new Path(tgtDir), conf)

      val (ckDir, _) = freshSinkDirs("stream-agg-maintain", dir)
      // r15 (guide §2.4, VERDICT r14 #4 "batch source admission"):
      // engine-default admission — the staged v0..v3 catch-up is ONE
      // micro-batch: affected keys are the UNION of the span's churn,
      // recomputed once from the current snapshot (recompute-from-truth
      // is batch-span-agnostic by design — values never depend on how
      // the feed was chunked). The r14 per-version drain paid 4
      // triggers and 3 MERGE invocations of per-MERGE engine floor for
      // the identical maintained table (same measurement as
      // stream_cdc_apply above). DwrfAdmissionBatchingSpec pins
      // per-version vs batched rollups bit-identical incl. vanished
      // groups; the incremental-MERGE shape stays benched via
      // dwrf_merge_scan / dwrf_update_mor; oracle re-checked.
      val q = DwrfAggMaintain.start(s, srcDir, srcTbl, tgtTbl,
        keys = Seq("o_custkey"), aggClauses = aggs, checkpoint = ckDir)
      phased(ph, "drain") { q.awaitTermination() }
      val rolled = s.sql(s"""
        |SELECT o_custkey, n_orders, total_price
        |FROM $tgtTbl ORDER BY o_custkey
        |""".stripMargin.trim)
      val rows = phased(ph, "rollup") { rolled.collect() }
      lastAggMaintainPhases = ph.toMap
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
        .orderBy($"o_custkey")
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $srcTbl")
      s.sql(s"DROP TABLE IF EXISTS $tgtTbl")
    }
  }

  private def streamAggMaintainAudit(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    import graft.sources.dwrf.{DwrfAggMaintain, DwrfChanges}
    val (srcDir, tgtDir, srcTbl, tgtTbl) = aggMaintainDirs(dir)
    require(s.read.format("dwrf").option("versionAsOf", 2)
      .load(srcDir).filter($"o_custkey" % 10 === 3).limit(1).count() == 1L,
      "staging must hold soon-to-vanish groups at v2")
    s.sql(s"DROP TABLE IF EXISTS $srcTbl")
    s.sql(s"DROP TABLE IF EXISTS $tgtTbl")
    s.sql(s"CREATE TABLE $srcTbl USING dwrf LOCATION '$srcDir'")
    s.sql(s"CREATE TABLE $tgtTbl USING dwrf LOCATION '$tgtDir'")
    try {
      require(s.table(tgtTbl).filter($"o_custkey" % 10 === 3).isEmpty,
        "vanished groups must be DELETEd from the maintained aggregate")
      // idempotent-from-truth: re-applying the ENTIRE feed must leave
      // the content bit-identical (not merely row-count-stable)
      def content = s.sql(s"SELECT * FROM $tgtTbl ORDER BY o_custkey")
        .collect().toSeq
      val before = content
      DwrfAggMaintain.applyBatch(DwrfChanges.between(s, srcDir, 0L, 3L),
        srcTbl, tgtTbl, Seq("o_custkey"), aggMaintainAggs)
      require(before == content,
        "re-applying the full feed must leave the maintained table " +
          "bit-identical (idempotent-from-truth)")
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $srcTbl")
      s.sql(s"DROP TABLE IF EXISTS $tgtTbl")
    }
  }

  private val streamAggMaintainOracle = s"""
    |SELECT o_custkey, COUNT(*) AS n_orders,
    |  ${dsumStatic("CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10.0 ELSE o_totalprice END")} AS total_price
    |FROM orders
    |WHERE o_custkey % 10 <> 3
    |GROUP BY o_custkey
    |ORDER BY o_custkey
    |""".stripMargin.trim

  override val all: Seq[Q] = Seq(
    Q("stream_events_window", eventsWindow, Some(eventsWindowOracle)),
    Q("sessionize_events", sessionize, Some(sessionizeOracle)),
    Q("stream_sessionize", sessionizeStream, Some(sessionizeOracle)),
    Q("stream_session_window", sessionWindowStream, Some(sessionizeOracle)),
    Q("stream_dedup_exact", streamDedupExact, Some(streamDedupOracle)),
    Q("stream_dedup_within_wm", streamDedupWithinWm, Some(streamDedupWmOracle)),
    Q("stream_dwrf_sink", streamDwrfSink, Some(streamDwrfSinkOracle)),
    Q("stream_dwrf_source", streamDwrfSource, Some(eventsWindowOracle)),
    Q("stream_funnel", streamFunnel, Some(streamFunnelOracle)),
    Q("stream_join_attrib", streamJoinAttrib, Some(streamJoinAttribOracle)),
    Q("stream_log_follow", streamLogFollow, Some(streamLogFollowOracle)),
    Q("stream_cdf_follow", streamCdfFollow, Some(streamCdfFollowOracle)),
    Q("stream_cdc_apply", streamCdcApply, Some(streamCdcApplyOracle),
      streamCdcApplyAudit),
    Q("stream_agg_maintain", streamAggMaintain, Some(streamAggMaintainOracle),
      streamAggMaintainAudit),
  )
}
