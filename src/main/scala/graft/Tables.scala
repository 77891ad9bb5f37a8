package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Test-table access. All driver tables are parquet files under an sf dir
  * (TESTDATA.md). Queries receive the sf dir and read from it; the driver's
  * DuckDB oracle reads the same files, so table names here must match the
  * bare names used in `SparkEntry.oracleSql`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Content stamp of a parquet file OR directory: (Σ mtime+length,
    * Σ length + file count). A bare (lastModified, length) of the top
    * entry has 1-second mtime granularity and a directory's own length
    * is not content-derived — a fixture rewritten in place within the
    * same second would serve a stale memo entry. Walking the tree makes
    * any rewritten part file move the stamp (the staging-epoch
    * discipline).
    */
  private[graft] def contentStamp(f: java.io.File): (Long, Long) = {
    if (!f.isDirectory) (f.lastModified(), f.length())
    else {
      var a = 0L; var b = 0L
      val walk = java.nio.file.Files.walk(f.toPath)
      try {
        val it = walk.iterator()
        while (it.hasNext) {
          val p = it.next().toFile
          if (p.isFile) { a += p.lastModified() + p.length(); b += p.length() + 1 }
        }
      } finally walk.close()
      (a, b)
    }
  }

  /** Inferred parquet schemas, keyed on (path, content stamp, inference
    * confs). `spark.read.parquet` infers the schema with a one-task Spark
    * job (`mergeSchemasInParallel`) on every call, even for one file — on
    * the driver tables that job costs ~55 ms per load, more than many
    * queries' data work. A hit reads with the memoized schema instead,
    * which launches no job. The confs in the key are every explicitly set
    * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` value (nanosAsLong,
    * binaryAsString, int96AsTimestamp, inferTimestampNTZ, field ids, …)
    * plus case sensitivity and ignoreCorruptFiles: flipping any of them
    * misses, and an unset conf reads its default, which cannot change
    * within a JVM.
    */
  private val schemaMemo =
    scala.collection.concurrent.TrieMap.empty[(String, (Long, Long), Seq[(String, String)]), StructType]

  private def inferenceConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive" || k == "spark.sql.files.ignoreCorruptFiles"
    }.sorted

  /** `spark.read.parquet(path)`, with the schema inference memoized per
    * content stamp. Only local paths are memoized: the stamp is a local
    * file walk. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    if (!f.exists()) spark.read.parquet(path)
    else {
      // bound the memo: one JVM visiting many datasets must not grow it
      // without limit, and a miss costs only one inference
      if (schemaMemo.size > 256) schemaMemo.clear()
      val key = (f.getAbsolutePath, contentStamp(f), inferenceConfs(spark))
      schemaMemo.get(key) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          schemaMemo.put(key, df.schema)
          df
      }
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    // reader rejects; read the raw int64 and truncate to micros exactly
    // like DuckDB does when it casts ns -> its native us timestamps.
    // Check-then-set: no steady-state mutation, and any interleaving is
    // benign because every writer sets the identical value. (A
    // first-caller-only memo would NOT be safe: a losing racer could
    // read the parquet before the winner set the conf.)
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(nanosKey).contains("true"))
      spark.conf.set(nanosKey, "true")
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    // The driver has shipped events.ts as both TIMESTAMP(NANOS) (read as
    // int64 under nanosAsLong) and plain timestamp[us] (read as
    // TIMESTAMP_NTZ) across testdata generations. Normalize BY SCHEMA to
    // session-TZ TimestampType so every downstream query sees one type;
    // with the UTC session TZ the NTZ cast is value-preserving and lands
    // on the same instants the nanos path produced.
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (name == "events")
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    else df
  }

  private val registeredDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register every table as a temp view so shared ANSI SQL (identical text
    * to the DuckDB oracle) can run through Catalyst unchanged. Memoized per
    * (session, sfDir): re-registering on every query would re-read all ten
    * parquet footers each time.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    if (registeredDir.get(spark) != sfDir) {
      names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
      registeredDir.put(spark, sfDir)
    }
}
