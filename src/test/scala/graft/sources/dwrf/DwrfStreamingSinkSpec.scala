package graft.sources.dwrf


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** `writeStream.format("dwrf")` — the V2 STREAMING_WRITE path.
  *
  * Two contracts under test:
  *  1. end-to-end: a multi-batch MemoryStream drains into dwrf files and
  *     the batch reader returns exactly the streamed rows;
  *  2. idempotency: file names are a deterministic function of
  *     (epoch, partition), so re-running a writer for the same epoch
  *     (task retry / epoch replay after a crash before checkpoint
  *     commit) OVERWRITES rather than duplicates.
  */
class DwrfStreamingSinkSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("memory stream drains to dwrf across epochs; batch read matches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dir = graft.TestDirs.tmp("streamsink-").toString
    val stream = MemoryStream[(Long, String, Double)]
    val q = stream.toDF().toDF("id", "tag", "v")
      .writeStream
      .format("dwrf")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ck")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())

    stream.addData((1L, "a", 1.5), (2L, "b", 2.5))
    q.start().awaitTermination()
    stream.addData((3L, "c", 3.5))
    q.start().awaitTermination() // second drain = a later epoch
    val back = s.read.format("dwrf").load(s"$dir/out")
      .orderBy($"id").as[(Long, String, Double)].collect()
    assert(back.toSeq == Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))

    // epoch-tagged deterministic names, no taskId component
    val names = new java.io.File(s"$dir/out").listFiles
      .map(_.getName).filter(_.endsWith(".dwrf")).sorted
    assert(names.nonEmpty &&
      names.forall(_.matches("part-e\\d{9}-p\\d{5}\\.dwrf")), names.toSeq)
  }

  test("partitioned streaming write: partition.columns option → Hive dirs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dir = graft.TestDirs.tmp("streampart-").toString
    val stream = MemoryStream[(Long, String)]
    stream.addData((1L, "a"), (2L, "b"), (3L, "a"))
    // .partitionBy is DROPPED by Spark for V2 path-based streaming sinks;
    // the documented spelling is the partition.columns option
    stream.toDF().toDF("id", "tag")
      .writeStream
      .format("dwrf")
      .option("partition.columns", "tag")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ck")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    val dirs = new java.io.File(s"$dir/out").listFiles
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("tag=a", "tag=b"))
    val back = s.read.format("dwrf").load(s"$dir/out")
      .orderBy($"id").as[(Long, String)].collect().toSeq
    assert(back == Seq((1L, "a"), (2L, "b"), (3L, "a")))
  }

  test("uncommitted epoch files are invisible to a concurrent reader") {
    val dir = graft.TestDirs.tmp("streaminflight-").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val factory = new DwrfStreamingDataWriterFactory(
      schema.json, dir, Map.empty,
      new SerializableHadoopConf(new org.apache.hadoop.conf.Configuration()))
    val w = factory.createWriter(partitionId = 0, taskId = 1, epochId = 0)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    row.update(0, 1L)
    w.write(row)
    // mid-write: bytes live in `.….inprogress` — the landing-dir lister
    // (what a tailing stream reader uses) must see NOTHING yet
    assert(DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.conf.Configuration()).isEmpty,
      "half-written epoch file leaked into the listing")
    w.commit()
    w.close()
    val visible = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.conf.Configuration())
    assert(visible.map(_.getName) == Seq("part-e000000000-p00000.dwrf"))
  }

  test("uncommitted PARTITIONED epoch files are invisible too") {
    val dir = graft.TestDirs.tmp("streaminflightpart-").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    val factory = new DwrfStreamingDataWriterFactory(
      schema.json, dir, Map.empty,
      new SerializableHadoopConf(new org.apache.hadoop.conf.Configuration()),
      partCols = Seq("tag"))
    val w = factory.createWriter(partitionId = 0, taskId = 1, epochId = 0)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    row.update(0, 1L)
    row.update(1, org.apache.spark.unsafe.types.UTF8String.fromString("a"))
    w.write(row)
    assert(DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.conf.Configuration()).isEmpty,
      "half-written partitioned epoch file leaked into the listing")
    w.commit()
    w.close()
    val visible = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.conf.Configuration())
    assert(visible.map(_.getName) == Seq("part-e000000000-p00000.dwrf") &&
      visible.head.getParent.getName == "tag=a", visible)
  }

  test("replaying an epoch overwrites its file instead of duplicating") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("streamreplay-").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val factory = new DwrfStreamingDataWriterFactory(
      schema.json, dir, Map.empty,
      new SerializableHadoopConf(new org.apache.hadoop.conf.Configuration()))

    def writeEpoch(epochId: Long, taskId: Long, ids: Seq[Long]): Unit = {
      val w = factory.createWriter(partitionId = 0, taskId = taskId, epochId)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      ids.foreach { id => row.update(0, id); w.write(row) }
      w.commit()
      w.close()
    }

    writeEpoch(epochId = 7, taskId = 100, ids = Seq(1L, 2L, 3L))
    // replay of epoch 7 on a DIFFERENT task attempt: same file, new bytes
    writeEpoch(epochId = 7, taskId = 999, ids = Seq(1L, 2L, 3L))
    writeEpoch(epochId = 8, taskId = 101, ids = Seq(4L))

    val back = s.read.format("dwrf").load(dir)
      .orderBy($"id").as[Long].collect()
    assert(back.toSeq == Seq(1L, 2L, 3L, 4L), "replayed epoch must not duplicate")
    val files = new java.io.File(dir).listFiles
      .map(_.getName).filter(_.endsWith(".dwrf"))
    assert(files.length == 2, files.toSeq) // one per epoch, not per attempt
  }

  test("sort.columns holds on the STREAMING write path too") {
    // micro-batch planning honors RequiresDistributionAndOrdering
    // (SPARK-34183), so the epoch's rows reach the writer sorted and the
    // landing files carry selective stride stats from day one
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dir = graft.TestDirs.tmp("streamsort-").toString
    val stream = MemoryStream[Long]
    val q = stream.toDF().toDF("raw")
      .selectExpr("pmod(raw * 2654435761, 1000) AS key") // scrambled
      .writeStream
      .format("dwrf")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ck")
      .option("sort.columns", "key")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
    stream.addData(0L until 1000L: _*)
    q.start().awaitTermination()

    val conf = new org.apache.hadoop.conf.Configuration()
    val keys = DwrfUtil.listDataFiles(
        new org.apache.hadoop.fs.Path(s"$dir/out"), conf).flatMap { f =>
      val r = new DwrfFileReader(f, conf)
      try r.rows(r.footer.stripes, r.schema, Nil).map(_.getLong(0)).toVector
      finally r.close()
    }
    assert(keys.nonEmpty && keys == keys.sorted,
      s"epoch rows must arrive at the streaming writer sorted (head: ${keys.take(10)})")
    assert(keys.toSet == (0L until 1000L).toSet) // permutation intact
  }
}
