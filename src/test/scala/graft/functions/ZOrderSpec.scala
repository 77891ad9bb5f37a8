package graft.functions


import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dwrf.{DwrfUtil, TestSpark}

/** z_order(x, y): Morton clustering code. Kernel laws first, then the
  * property the feature exists for — a z-sorted dwrf file stride-skips
  * range predicates on BOTH dimensions, where a plain x-sort helps only x.
  */
class ZOrderSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // ------------------------------------------------------ kernel laws
  test("per-dimension monotonicity: fixing one key, z order follows the other") {
    val rnd = new scala.util.Random(7)
    val vals = Seq(Long.MinValue, Int.MinValue.toLong, -5L, 0L, 3L,
      Int.MaxValue.toLong, Long.MaxValue) ++ Seq.fill(50)(rnd.nextInt().toLong)
    val sorted = vals.distinct.sorted
    for (fixed <- Seq(-3L, 0L, 12345L)) {
      val zx = sorted.map(v => ZOrderKernel.interleave2(v, fixed))
      assert(zx == zx.sorted, s"x-monotonicity broke at fixed y=$fixed")
      val zy = sorted.map(v => ZOrderKernel.interleave2(fixed, v))
      assert(zy == zy.sorted, s"y-monotonicity broke at fixed x=$fixed")
    }
  }

  test("interleave is injective on 32-bit inputs") {
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(2000)((rnd.nextInt().toLong, rnd.nextInt().toLong)).distinct
    val zs = pairs.map { case (a, b) => ZOrderKernel.interleave2(a, b) }
    assert(zs.distinct.size == pairs.size)
  }

  test("expression evaluates in SQL and matches the kernel") {
    GraftFunctions.register(spark)
    val rows = spark.sql(
      "SELECT z_order(3, 5) AS z1, z_order(-1, 7) AS z2").head()
    assert(rows.getLong(0) == ZOrderKernel.interleave2(3L, 5L))
    assert(rows.getLong(1) == ZOrderKernel.interleave2(-1L, 7L))
  }

  // ----------------------------------------------------- N-ary kernel
  test("interleaveN(k=2) is bit-identical to interleave2") {
    val rnd = new scala.util.Random(3)
    (1 to 500).foreach { _ =>
      val a = rnd.nextLong(); val b = rnd.nextLong()
      assert(ZOrderKernel.interleaveN(Array(a, b)) ==
        ZOrderKernel.interleave2(a, b))
    }
  }

  test("interleaveN: per-dimension monotonicity at k=3 and k=4") {
    val rnd = new scala.util.Random(5)
    val vals = (Seq(Long.MinValue, Int.MinValue.toLong, -7L, 0L, 9L,
      Int.MaxValue.toLong, Long.MaxValue) ++
      Seq.fill(60)(rnd.nextInt().toLong)).distinct.sorted
    for (k <- Seq(3, 4); dim <- 0 until k) {
      val fixed = Array.fill(k)(42L)
      val zs = vals.map { v =>
        val arr = fixed.clone(); arr(dim) = v
        ZOrderKernel.interleaveN(arr)
      }
      // non-strict: truncation to the top min(32, 64/k) bits keeps
      // order, collapsing only low-bit neighbors
      assert(zs.zip(zs.tail).forall { case (x, y) => x <= y },
        s"k=$k dim=$dim not monotone")
    }
  }

  test("N-ary z_order registers in SQL and matches the kernel") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT z_order(3, 5, 9) AS z3, z_order(-1, 7, 2, 8) AS z4").head()
    assert(r.getLong(0) == ZOrderKernel.interleaveN(Array(3L, 5L, 9L)))
    assert(r.getLong(1) == ZOrderKernel.interleaveN(Array(-1L, 7L, 2L, 8L)))
  }

  // ------------------------------------------- both-dimension skipping
  private def surfaced(dir: String, filters: Seq[Filter], col: String): Long =
    DwrfUtil.surfacedRows(dir, col, filters)._1

  test("z-sorted layout stride-skips ranges on BOTH dimensions; x-sort only on x") {
    GraftFunctions.register(spark)
    val n = 65536
    // scrambled 256x256 grid: x and y fully uncorrelated with row order
    val grid = spark.range(0, n, 1, 1).select(
      pmod(col("id") * 2654435761L, lit(n.toLong)).as("k"))
      .select((col("k") % 256).as("x"), (col("k") / 256).cast("long").as("y"))

    def tmp(tag: String) = graft.TestDirs.tmp(s"dwrf-z-$tag-").toString
    val zDir = tmp("z"); val xDir = tmp("x")

    grid.withColumn("z", expr("z_order(x, y)"))
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1024")
      .option("sort.columns", "z")
      .save(zDir)
    grid.write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1024")
      .option("sort.columns", "x")
      .save(xDir)

    val xRange = Seq[Filter](GreaterThanOrEqual("x", 0L), LessThan("x", 16L))
    val yRange = Seq[Filter](GreaterThanOrEqual("y", 0L), LessThan("y", 16L))

    // plain x-sort: x range skips hard, y range reads everything
    assert(surfaced(xDir, xRange, "x") <= n / 8, "x-sort must skip on x")
    assert(surfaced(xDir, yRange, "y") == n, "x-sort cannot skip on y")

    // z-sort: each 1024-row stride is an aligned 32x32 z-quad of the
    // complete grid, so a 16-wide band on EITHER axis touches exactly the
    // 8 quads straddling it: 8192 rows surfaced, 56 of 64 strides skipped
    val zx = surfaced(zDir, xRange, "x")
    val zy = surfaced(zDir, yRange, "y")
    assert(zx == n / 8, s"z-sort x-band must surface 8 quads (got $zx of $n)")
    assert(zy == n / 8, s"z-sort y-band must surface 8 quads (got $zy of $n)")
    // and correctness through Spark is unchanged
    val back = spark.read.format("dwrf").load(zDir)
      .filter(col("y") < 16).count()
    assert(back == n / 16)
  }
}
