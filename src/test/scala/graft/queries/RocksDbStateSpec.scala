package graft.queries


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dwrf.TestSpark

/** Streaming state beyond the heap: the same stateful operators the
  * query pack ships (dedup, windowed aggregation) running on Spark's
  * RocksDB state store provider instead of the default in-memory
  * HashMap provider. At 100 TB a global dedup's key set dwarfs executor
  * memory; RocksDB keeps state native + on-disk with bounded JVM
  * footprint, and nothing in our operators may depend on the provider.
  * The spec proves (a) answers are provider-identical, and (b) the
  * RocksDB provider actually engaged (its custom metrics appear in the
  * query progress) — not just that the conf was set.
  */
class RocksDbStateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withProvider[A](provider: Option[String])(f: => A): A = {
    val prev = spark.conf.getOption(ProviderKey)
    provider match {
      case Some(p) => spark.conf.set(ProviderKey, p)
      case None => spark.conf.unset(ProviderKey)
    }
    try f
    finally prev match {
      case Some(p) => spark.conf.set(ProviderKey, p)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  /** Global dropDuplicates over `batches` of longs; returns the total
    * rows emitted across all drains (append-mode dedup emits each key
    * exactly once over the checkpoint's lifetime, so this IS the
    * distinct count) and every state-operator custom-metric name
    * observed across the run's progress events. The sink is
    * foreachBatch — the memory sink refuses checkpoint recovery, and
    * recovery across drains is exactly what's under test.
    */
  private def runDedup(name: String, batches: Seq[Seq[Long]]): (Long, Set[String]) = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ck = graft.TestDirs.tmp(s"rocksdb-$name-").toString
    val stream = MemoryStream[Long]
    val metrics = scala.collection.mutable.Set.empty[String]
    val total = new java.util.concurrent.atomic.AtomicLong
    batches.foreach { b =>
      stream.addData(b: _*)
      val q = stream.toDF().toDF("id")
        .dropDuplicates("id")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          total.addAndGet(df.count()); ()
        }
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.foreach(_.stateOperators.foreach(so =>
        metrics ++= so.customMetrics.keySet.asInstanceOf[java.util.Set[String]]
          .toArray(Array.empty[String])))
    }
    (total.get(), metrics.toSet)
  }

  test("global streaming dedup is provider-identical and RocksDB engages") {
    // 3 batches, 60k ids each, 50% overlap with the previous batch:
    // exact distinct = 30k + 3*30k = 120000
    val batches = (0 until 3).map(i =>
      (i * 30000L until i * 30000L + 60000L).toSeq)
    val (nDefault, mDefault) = withProvider(None)(runDedup("hm", batches))
    val (nRocks, mRocks) = withProvider(Some(RocksDb))(runDedup("rk", batches))
    assert(nDefault == 120000L, s"default-provider dedup got $nDefault")
    assert(nRocks == nDefault,
      s"RocksDB answer $nRocks != default $nDefault — state provider leaked " +
        "into operator semantics")
    assert(!mDefault.exists(_.toLowerCase.contains("rocksdb")),
      s"default run unexpectedly reports RocksDB metrics: $mDefault")
    assert(mRocks.exists(_.toLowerCase.contains("rocksdb")),
      s"RocksDB provider did not engage — no rocksdb custom metrics in " +
        s"$mRocks")
  }

  test("windowed aggregation restores from a RocksDB checkpoint across runs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    withProvider(Some(RocksDb)) {
      val ck = graft.TestDirs.tmp("rocksdb-win-").toString
      val stream = MemoryStream[(java.sql.Timestamp, Long)]
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      def drain(): Unit = {
        val q = stream.toDF().toDF("ts", "v")
          .withWatermark("ts", "10 minutes")
          .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"))
          .agg(org.apache.spark.sql.functions.sum($"v").as("total"))
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.select($"total").collect().foreach(r => seen.add(r.getLong(0)))
            ()
          }
          .option("checkpointLocation", ck)
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      def ts(min: Int) = new java.sql.Timestamp(3600L * 1000 + min * 60000L)
      stream.addData((ts(0), 5L), (ts(10), 7L))
      drain()
      // second run = a fresh query restoring the window's partial sum
      // (12) from the RocksDB checkpoint, then folding in 8 more
      stream.addData((ts(20), 8L))
      drain()
      assert(seen.contains(20L),
        s"restored window must accumulate 5+7+8=20, saw ${seen}")
    }
  }
}
