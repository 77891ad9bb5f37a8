package graft.sources.dwrf

import org.scalatest.funsuite.AnyFunSuite

/** Cross-writer memory governance (reference MemoryManager,
  * `MemoryManager.java:148-306`): pool-scaled stripe budgets, rich→needy
  * rebalance, and low-memory mode (dictionary abandonment + zlib
  * escalation) applied to an in-flight writer.
  */
class DwrfMemoryGovernorSpec extends AnyFunSuite {

  private def withPool[A](bytes: Long)(f: => A): A = {
    DwrfMemoryGovernor.resetForTest()
    DwrfMemoryGovernor.poolBytesOverride = bytes
    try f finally {
      DwrfMemoryGovernor.poolBytesOverride = -1L
      DwrfMemoryGovernor.resetForTest()
    }
  }

  test("budgets scale with pool oversubscription; floors hold") {
    withPool(512L * 1024 * 1024) {
      val a = DwrfMemoryGovernor.register(256L * 1024 * 1024)
      assert(DwrfMemoryGovernor.scale == 1.0)
      assert(DwrfMemoryGovernor.budgetFor(a) == 256L * 1024 * 1024)
      val b = DwrfMemoryGovernor.register(256L * 1024 * 1024)
      val c = DwrfMemoryGovernor.register(256L * 1024 * 1024)
      val d = DwrfMemoryGovernor.register(256L * 1024 * 1024)
      // 1 GB requested vs 512 MB pool: scale 0.5, budgets 128 MB
      assert(DwrfMemoryGovernor.scale == 0.5)
      assert(DwrfMemoryGovernor.budgetFor(a) == 128L * 1024 * 1024)
      // a deliberately tiny configured stripe is honored exactly
      val tiny = DwrfMemoryGovernor.register(65536L)
      assert(DwrfMemoryGovernor.budgetFor(tiny) == 65536L)
      // scaling never drops a large writer below the 4 MB floor
      (1 to 200).foreach(_ => DwrfMemoryGovernor.register(256L * 1024 * 1024))
      assert(DwrfMemoryGovernor.budgetFor(a) == DwrfMemoryGovernor.MinBudgetBytes)
      Seq(a, b, c, d).foreach(DwrfMemoryGovernor.unregister)
    }
  }

  test("low-memory mode trips past 4x oversubscription, lifts with hysteresis") {
    withPool(512L * 1024 * 1024) {
      val regs = (1 to 8).map(_ =>
        DwrfMemoryGovernor.register(256L * 1024 * 1024))
      // 2 GB vs 512 MB: scale 0.25 — not yet low (strict <)
      assert(!DwrfMemoryGovernor.lowMemory)
      val r9 = DwrfMemoryGovernor.register(256L * 1024 * 1024)
      assert(DwrfMemoryGovernor.lowMemory, "scale 0.22 must trip low-memory")
      // hysteresis: dropping back to 0.33 is not enough, 0.5 is
      DwrfMemoryGovernor.unregister(r9)
      DwrfMemoryGovernor.unregister(regs.head)
      DwrfMemoryGovernor.unregister(regs(1))
      assert(DwrfMemoryGovernor.lowMemory, "0.33 < 2x threshold keeps the mode")
      regs.drop(2).take(2).foreach(DwrfMemoryGovernor.unregister)
      assert(!DwrfMemoryGovernor.lowMemory, "scale 0.5 lifts the mode")
      regs.drop(4).foreach(DwrfMemoryGovernor.unregister)
    }
  }

  test("rebalance halves rich writers and grows needy ones under pressure") {
    withPool(256L * 1024 * 1024) {
      val rich = DwrfMemoryGovernor.register(256L * 1024 * 1024)
      val needy = DwrfMemoryGovernor.register(256L * 1024 * 1024)
      (1 to 8).foreach(_ => DwrfMemoryGovernor.register(256L * 1024 * 1024))
      assert(DwrfMemoryGovernor.lowMemory)
      val needyBudget0 = DwrfMemoryGovernor.budgetFor(needy)
      DwrfMemoryGovernor.noteFlush(needy)
      DwrfMemoryGovernor.noteFlush(needy) // >= 2 flushes = needy
      DwrfMemoryGovernor.addedRows(DwrfMemoryGovernor.RowsBetweenChecks)
      assert(rich.currentMultiplier < 1.0, "idle writers must shed allocation")
      assert(needy.currentMultiplier > 1.0, "flushing writers must gain it")
      // budget math: needy grew (clamped at its request), rich shrank
      assert(DwrfMemoryGovernor.budgetFor(needy) > needyBudget0)
    }
  }

  test("a rich writer's halved multiplier decays back once pressure lifts") {
    withPool(256L * 1024 * 1024) {
      val rich = DwrfMemoryGovernor.register(256L * 1024 * 1024)
      val needy = DwrfMemoryGovernor.register(256L * 1024 * 1024)
      val extra = (1 to 8).map(_ =>
        DwrfMemoryGovernor.register(256L * 1024 * 1024))
      DwrfMemoryGovernor.noteFlush(needy)
      DwrfMemoryGovernor.noteFlush(needy)
      DwrfMemoryGovernor.addedRows(DwrfMemoryGovernor.RowsBetweenChecks)
      assert(rich.currentMultiplier < 1.0)
      // lift the pressure: most writers finish their files
      extra.foreach(DwrfMemoryGovernor.unregister)
      assert(!DwrfMemoryGovernor.lowMemory)
      // each subsequent check doubles the halved multiplier toward 1.0 —
      // a long-lived writer must not keep an undersized stripe budget
      // for the rest of its file after one unlucky idle check
      DwrfMemoryGovernor.addedRows(DwrfMemoryGovernor.RowsBetweenChecks)
      assert(rich.currentMultiplier == 1.0,
        s"multiplier stuck at ${rich.currentMultiplier} after pressure lifted")
      DwrfMemoryGovernor.unregister(rich)
      DwrfMemoryGovernor.unregister(needy)
    }
  }

  test("low-memory write abandons dictionaries in-flight and stays readable") {
    import org.apache.spark.sql.types._
    withPool(1L * 1024 * 1024) { // 1 MB pool: any real writer oversubscribes
      val schema = StructType(Seq(StructField("s", StringType)))
      val bos = new java.io.ByteArrayOutputStream()
      val w = new DwrfFileWriter(schema,
        DwrfWriteOptions.fromMap(Map("compression" -> "zlib")), bos)
      // 8 registrations of 256 MB vs 1 MB pool → low memory immediately
      val extra = (1 to 8).map(_ =>
        DwrfMemoryGovernor.register(256L * 1024 * 1024))
      assert(DwrfMemoryGovernor.lowMemory)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      // highly repetitive values: WOULD dictionary-encode absent pressure
      (0 until 5000).foreach { i =>
        row.update(0, org.apache.spark.unsafe.types.UTF8String
          .fromString(s"repeat-${i % 7}"))
        w.addRow(row)
      }
      w.close()
      extra.foreach(DwrfMemoryGovernor.unregister)
      // the footer must show DIRECT encoding (dictionary abandoned) and
      // the file must read back every value intact
      val dir = graft.TestDirs.tmp("dwrf-gov-")
      val f = dir.resolve("t.dwrf")
      java.nio.file.Files.write(f, bos.toByteArray)
      val r = new DwrfFileReader(
        new org.apache.hadoop.fs.Path(f.toString),
        new org.apache.hadoop.conf.Configuration())
      try {
        val got = r.rows(r.footer.stripes, r.schema, Nil)
          .map(_.getUTF8String(0).toString).toVector
        assert(got.size == 5000)
        assert(got(13) == "repeat-6")
        val sf = r.readStripeFooter(r.footer.stripes.head)
        assert(!sf.encodings(1).dictionary,
          "low-memory pressure must force the string column DIRECT")
      } finally r.close()
    }
  }

  test("a sole writer on a sane pool is untouched (scale 1, no pressure)") {
    withPool(4L * 1024 * 1024 * 1024) {
      val r = DwrfMemoryGovernor.register(256L * 1024 * 1024)
      assert(DwrfMemoryGovernor.scale == 1.0)
      assert(!DwrfMemoryGovernor.lowMemory)
      assert(DwrfMemoryGovernor.budgetFor(r) == 256L * 1024 * 1024)
      DwrfMemoryGovernor.unregister(r)
    }
  }
}
