package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dwrf.TestSpark

/** Two contracts of [[Tables.load]].
  *
  * Timestamps: the driver has regenerated `events.parquet` across testdata
  * generations with two different physical types for `ts`:
  *   - int64 TIMESTAMP(NANOS), which Spark reads as BIGINT nanos under
  *     `spark.sql.legacy.parquet.nanosAsLong` (rounds ≤ 8), and
  *   - plain timestamp[us] (no timezone), which Spark reads as
  *     TIMESTAMP_NTZ (round 10 onward).
  * Round 9 lost 43 of 92 correctness rows because the loader assumed the
  * first generation. This spec pins the contract: whatever the file
  * carries, [[Tables.load]] serves one canonical session-TZ TimestampType
  * `ts` with identical instants.
  *
  * Schema memo: a repeat load of an unchanged file is served its
  * inferred schema without Spark's inference job, and the memoized schema
  * is exactly what a fresh inference returns. A rewritten file or a
  * flipped inference conf is inferred again.
  */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // one row at a known instant: 2024-01-15 12:30:45.123456 UTC
  private val us = 1705321845123456L

  private def freshDir(): String = {
    val d = Files.createTempDirectory("tables-spec-").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def loadedTs(sfDir: String): (DataType, Long) = {
    val df = Tables.load(spark, sfDir, "events")
    val dt = df.schema("ts").dataType
    val got = df.select(unix_micros(col("ts"))).head().getLong(0)
    (dt, got)
  }

  test("legacy generation: int64 nanos ts normalizes to TimestampType") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    Seq((1L, us * 1000L, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val (dt, got) = loadedTs(dir)
    assert(dt === TimestampType)
    assert(got === us)
  }

  test("current generation: timestamp[us] NTZ ts normalizes to TimestampType") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    Seq((1L, us, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // confirm the fixture really round-trips as NTZ before testing load
    assert(spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType === TimestampNTZType)
    val (dt, got) = loadedTs(dir)
    assert(dt === TimestampType)
    assert(got === us)
  }

  test("driver testdata loads with a TimestampType ts at every sf") {
    Seq("sf0.001", "sf0.01").foreach { sf =>
      val df = Tables.load(spark, s"/root/testdata/$sf", "events")
      assert(df.schema("ts").dataType === TimestampType, sf)
      assert(df.limit(1).count() === 1L, sf)
    }
  }

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** An events table written without Spark's schema metadata, as the
    * driver's generator writes it, whose `ts` has the parquet logical
    * type `unit`: NANOS is the legacy generation (which Spark itself
    * cannot write), MICROS the current one. */
  private def rawEventsDir(unit: String): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = graft.TestDirs.tmp(s"tables-$unit-").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        s"required int64 ts (TIMESTAMP($unit,false)); }")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", if (unit == "NANOS") us * 1000L else us))
    finally w.close()
    dir
  }

  /** An events table whose `ts` is timestamp[us] without a time zone,
    * plus a metadata-carrying column. */
  private def ntzEventsDir(): String = {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("tables-ntz-").toString
    Seq((1L, us)).toDF("event_id", "ts_us")
      .select(col("event_id").as("event_id", new MetadataBuilder()
          .putString("comment", "event key").build()),
        timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("a repeat load of an unchanged file launches no Spark job") {
    val dir = ntzEventsDir()
    val (_, first) = JobCount.of(spark)(Tables.load(spark, dir, "events"))
    assert(first >= 1, "the first load must infer the schema")
    val (df, again) = JobCount.of(spark)(Tables.load(spark, dir, "events"))
    assert(again === 0)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) === us)
  }

  test("the memoized schema equals a fresh inference, under both nanosAsLong values") {
    val ntz = s"${ntzEventsDir()}/events.parquet"
    val nanos = s"${rawEventsDir("NANOS")}/events.parquet"
    for (v <- Seq("true", "false")) withConf("spark.sql.legacy.parquet.nanosAsLong", v) {
      val fresh = spark.read.parquet(ntz).schema
      assert(fresh("ts").dataType === TimestampNTZType)
      assert(fresh("event_id").metadata.getString("comment") === "event key")
      Tables.readParquet(spark, ntz)
      val (memo, jobs) = JobCount.of(spark)(Tables.readParquet(spark, ntz).schema)
      assert(jobs === 0, s"nanosAsLong=$v")
      // StructField equality covers names, types, nullability and metadata
      assert(memo === fresh, s"nanosAsLong=$v")
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      val fresh = spark.read.parquet(nanos).schema
      assert(fresh("ts").dataType === LongType)
      Tables.readParquet(spark, nanos)
      val (memo, jobs) = JobCount.of(spark)(Tables.readParquet(spark, nanos).schema)
      assert(jobs === 0)
      assert(memo === fresh)
    }
    // without the legacy flag Spark refuses TIMESTAMP(NANOS): the memo
    // must not answer from the entry made under the flag
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      intercept[Exception](Tables.readParquet(spark, nanos))
    }
    val (dt, got) = loadedTs(new java.io.File(nanos).getParent)
    assert(dt === TimestampType)
    assert(got === us)
  }

  test("a rewritten file is inferred again") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("tables-rewrite-").toString
    Seq((1L, "a")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.load(spark, dir, "documents").columns.toSeq === Seq("doc_id", "text"))
    Seq((1L, "a", "en")).toDF("doc_id", "text", "lang")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (df, jobs) = JobCount.of(spark)(Tables.load(spark, dir, "documents"))
    assert(jobs >= 1, "a new content stamp must miss the memo")
    assert(df.columns.toSeq === Seq("doc_id", "text", "lang"))
    assert(df.head().getString(2) === "en")
  }

  test("flipping an inference conf is not served a stale schema") {
    val path = s"${rawEventsDir("MICROS")}/events.parquet"
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "true") {
      assert(Tables.readParquet(spark, path).schema("ts").dataType === TimestampNTZType)
    }
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
      val memo = Tables.readParquet(spark, path).schema
      assert(memo("ts").dataType === TimestampType)
      assert(memo === spark.read.parquet(path).schema)
    }
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "true") {
      assert(Tables.readParquet(spark, path).schema("ts").dataType === TimestampNTZType)
    }
  }
}
