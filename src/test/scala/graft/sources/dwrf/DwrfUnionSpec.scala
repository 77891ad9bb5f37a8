package graft.sources.dwrf


import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
import org.scalatest.funsuite.AnyFunSuite

/** Tagged-struct UNION convention (reference TestOrcFile.java:742
  * testUnionAndTimestamp, OrcUnion.java:36): exactly-one-non-null branch,
  * selected by a byte tag, through write/read — including nested branch
  * types and stride-seek reads.
  */
class DwrfUnionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmpDir(): String =
    graft.TestDirs.tmp("dwrf-union-").toString

  test("union with nested branches round trips exactly") {
    val dir = tmpDir()
    spark.range(0, 3000, 1, 1).select(
      col("id"),
      UnionConvention.tagged((col("id") % 3).cast("int"),
        struct(col("id").as("a"), concat(lit("x-"), col("id")).as("b")),
        array(col("id"), col("id") * 2),
        (col("id") * 1.5).cast("double")).as("u"))
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000").save(dir)

    val back = spark.read.format("dwrf").load(dir)
    // invariant: every row well-formed after the round trip
    val ok = back.filter(UnionConvention.wellFormed(col("u"), 3)).count()
    assert(ok == 3000, "exactly-one-non-null branch must survive the format")

    val rows = back.orderBy("id").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val u = r.getStruct(1)
      assert(u.getByte(0) == (id % 3).toByte)
      (id % 3) match {
        case 0 =>
          val st = u.getStruct(1)
          assert(st.getLong(0) == id && st.getString(1) == s"x-$id")
          assert(u.isNullAt(2) && u.isNullAt(3))
        case 1 =>
          assert(u.isNullAt(1) && u.isNullAt(3))
          assert(u.getSeq[Long](2) == Seq(id, id * 2))
        case _ =>
          assert(u.isNullAt(1) && u.isNullAt(2))
          assert(u.getDouble(3) == id * 1.5)
      }
    }
  }

  test("union columns decode correctly after a stride seek") {
    val dir = tmpDir()
    spark.range(0, 4000, 1, 1).select(
      col("id"),
      UnionConvention.tagged((col("id") % 2).cast("int"),
        col("id") * 10, concat(lit("s-"), col("id"))).as("u"))
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000").save(dir)

    // filter on id confines the read to stride 2; union must seek with it.
    // structs-of-atomics vectorize, so this filtered read must ALSO be on
    // the columnar path (struct decoders seeking with the stride run)
    val q = spark.read.format("dwrf").load(dir)
      .filter(col("id") >= 2000L && col("id") < 2010L)
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      "filtered struct scan should vectorize")
    val got = q.orderBy("id").collect()
    assert(got.length == 10)
    got.foreach { r =>
      val id = r.getLong(0)
      val u = r.getStruct(1)
      if (id % 2 == 0) assert(u.getLong(1) == id * 10 && u.isNullAt(2))
      else assert(u.isNullAt(1) && u.getString(2) == s"s-$id")
    }
  }
}
