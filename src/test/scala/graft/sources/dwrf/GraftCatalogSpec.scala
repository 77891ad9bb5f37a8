package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The `graft` V2 catalog ([[GraftCatalog]]): namespace/table CRUD, SQL
  * time travel via VERSION AS OF, external-dir adoption, ALTER, DML.
  */
class GraftCatalogSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graftcat",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftcat.warehouse", warehouse)
    s
  }
  private lazy val warehouse = graft.TestDirs.tmp("graft-cat-").toString
  private val conf = new Configuration()

  test("namespace + table CRUD with INSERT/SELECT through the catalog") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.lake")
    s.sql("CREATE TABLE graftcat.lake.t1 (id BIGINT, tag STRING) USING dwrf")
    s.sql("INSERT INTO graftcat.lake.t1 VALUES (1, 'a'), (2, 'b')")
    assert(s.sql("SELECT id, tag FROM graftcat.lake.t1 ORDER BY id")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    assert(s.sql("SHOW TABLES IN graftcat.lake").collect()
      .map(_.getString(1)).contains("t1"))
    s.sql("DROP TABLE graftcat.lake.t1")
    assert(!s.sql("SHOW TABLES IN graftcat.lake").collect()
      .map(_.getString(1)).contains("t1"))
  }

  test("SQL VERSION AS OF reads a pinned snapshot through the catalog") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.lake")
    s.sql("CREATE TABLE graftcat.lake.tt (id BIGINT) USING dwrf")
    s.sql("INSERT INTO graftcat.lake.tt VALUES (1), (2), (3)")
    DwrfLog.enable(new Path(s"$warehouse/lake/tt"), conf)
    s.sql("INSERT INTO graftcat.lake.tt VALUES (4), (5)")
    s.sql("DELETE FROM graftcat.lake.tt WHERE id <= 2")
    def ids(sql: String): Seq[Long] =
      s.sql(sql).as[Long].collect().sorted.toSeq
    assert(ids("SELECT id FROM graftcat.lake.tt") === Seq(3L, 4L, 5L))
    assert(ids("SELECT id FROM graftcat.lake.tt VERSION AS OF 1") ===
      Seq(1L, 2L, 3L, 4L, 5L))
    assert(ids("SELECT id FROM graftcat.lake.tt VERSION AS OF 0") ===
      Seq(1L, 2L, 3L))
    s.sql("DROP TABLE graftcat.lake.tt")
  }

  test("SQL TIMESTAMP AS OF resolves the newest commit at or before the instant") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.lake")
    s.sql("CREATE TABLE graftcat.lake.ts (id BIGINT) USING dwrf")
    s.sql("INSERT INTO graftcat.lake.ts VALUES (1)")
    DwrfLog.enable(new Path(s"$warehouse/lake/ts"), conf)
    Thread.sleep(10)
    val mid = System.currentTimeMillis()
    Thread.sleep(10)
    s.sql("INSERT INTO graftcat.lake.ts VALUES (2)")
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(mid))
    def ids(sql: String): Seq[Long] = s.sql(sql).as[Long].collect().sorted.toSeq
    assert(ids("SELECT id FROM graftcat.lake.ts") === Seq(1L, 2L))
    assert(ids(s"SELECT id FROM graftcat.lake.ts TIMESTAMP AS OF '$lit'") ===
      Seq(1L))
    // an instant before all retained history fails loud
    val err = intercept[Exception](
      ids("SELECT id FROM graftcat.lake.ts TIMESTAMP AS OF '1999-01-01 00:00:00'"))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c => c.getMessage != null &&
      c.getMessage.contains("no snapshot of")), s"got: $err")
    s.sql("DROP TABLE graftcat.lake.ts")
  }

  test("an external dwrf dir dropped into the warehouse loads by inference") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.lake")
    Seq((7L, 1.5), (8L, 2.5)).toDF("k", "v")
      .write.format("dwrf").mode("overwrite")
      .save(s"$warehouse/lake/adopted")
    assert(s.sql("SELECT k, v FROM graftcat.lake.adopted ORDER BY k")
      .as[(Long, Double)].collect().toSeq === Seq((7L, 1.5), (8L, 2.5)))
  }

  test("ALTER TABLE ADD COLUMNS evolves the sidecar schema") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.lake")
    s.sql("CREATE TABLE graftcat.lake.ev (id BIGINT) USING dwrf")
    s.sql("INSERT INTO graftcat.lake.ev VALUES (1)")
    s.sql("ALTER TABLE graftcat.lake.ev ADD COLUMNS (note STRING)")
    s.sql("INSERT INTO graftcat.lake.ev VALUES (2, 'fresh')")
    assert(s.sql("SELECT id, note FROM graftcat.lake.ev ORDER BY id")
      .as[(Long, Option[String])].collect().toSeq ===
      Seq((1L, None), (2L, Some("fresh"))))
    s.sql("DROP TABLE graftcat.lake.ev")
  }

  test("ALTER TABLE DROP COLUMN is metadata-only and tombstones the name") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.lake")
    s.sql("CREATE TABLE graftcat.lake.dc (id BIGINT, tag STRING, v DOUBLE) USING dwrf")
    s.sql("INSERT INTO graftcat.lake.dc VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    val files0 = DwrfUtil.listDataFileStatuses(
      new Path(s"$warehouse/lake/dc"), conf)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSet

    s.sql("ALTER TABLE graftcat.lake.dc DROP COLUMN tag")
    // metadata-only: no data file rewritten, reads stop projecting
    assert(DwrfUtil.listDataFileStatuses(new Path(s"$warehouse/lake/dc"), conf)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .toSet === files0)
    assert(s.table("graftcat.lake.dc").columns.toSeq === Seq("id", "v"))
    // post-drop inserts carry the narrow schema; old and new files mix
    s.sql("INSERT INTO graftcat.lake.dc VALUES (3, 3.5)")
    assert(s.sql("SELECT id, v FROM graftcat.lake.dc ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))

    // resurrect refused: pre-drop files still hold tag's old values
    val err = intercept[Exception](
      s.sql("ALTER TABLE graftcat.lake.dc ADD COLUMNS (tag STRING)"))
    assert(err.getMessage.contains("resurrect"))
    // a fresh name is fine
    s.sql("ALTER TABLE graftcat.lake.dc ADD COLUMNS (tag2 STRING)")
    assert(s.table("graftcat.lake.dc").columns.toSeq === Seq("id", "v", "tag2"))
    s.sql("DROP TABLE graftcat.lake.dc")
  }

  test("ALTER TABLE RENAME COLUMN is metadata-only; old files resolve by alias") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.lake")
    s.sql("CREATE TABLE graftcat.lake.rn (id BIGINT, amount DOUBLE, tag STRING) USING dwrf")
    s.sql("INSERT INTO graftcat.lake.rn VALUES (1, 1.5, 'a'), (2, 2.5, 'b')")
    val files0 = DwrfUtil.listDataFileStatuses(
      new Path(s"$warehouse/lake/rn"), conf)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSet

    s.sql("ALTER TABLE graftcat.lake.rn RENAME COLUMN amount TO price")
    // metadata-only: no data file rewritten
    assert(DwrfUtil.listDataFileStatuses(new Path(s"$warehouse/lake/rn"), conf)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .toSet === files0)
    assert(s.table("graftcat.lake.rn").columns.toSeq ===
      Seq("id", "price", "tag"))
    // pre-rename files resolve the NEW name to their old physical column
    assert(s.sql("SELECT id, price FROM graftcat.lake.rn ORDER BY id")
      .as[(Long, Double)].collect().toSeq === Seq((1L, 1.5), (2L, 2.5)))
    // filters on the new name still work (and prune) on old files
    assert(s.sql("SELECT id FROM graftcat.lake.rn WHERE price > 2.0")
      .as[Long].collect().toSeq === Seq(2L))
    // new inserts carry the new physical name; generations mix cleanly
    s.sql("INSERT INTO graftcat.lake.rn VALUES (3, 3.5, 'c')")
    assert(s.sql("SELECT id, price FROM graftcat.lake.rn ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))
    // chain: a second rename resolves BOTH prior generations
    s.sql("ALTER TABLE graftcat.lake.rn RENAME COLUMN price TO cost")
    assert(s.sql("SELECT id, cost FROM graftcat.lake.rn ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))
    // aggregates over mixed generations
    assert(s.sql("SELECT CAST(SUM(cost) AS DOUBLE) FROM graftcat.lake.rn")
      .head().getDouble(0) === 7.5)

    // the old name is tombstoned: re-ADD would resurrect old values
    val err = intercept[Exception](
      s.sql("ALTER TABLE graftcat.lake.rn ADD COLUMNS (amount DOUBLE)"))
    assert(err.getMessage.contains("resurrect"))
    // renaming another column ONTO a retired name refuses too
    val err2 = intercept[Exception](
      s.sql("ALTER TABLE graftcat.lake.rn RENAME COLUMN tag TO price"))
    assert(err2.getMessage.contains("resurrect"))
    // UPDATE (copy-on-write rewrite) reads old generations through the
    // alias and writes the new name — migration-by-rewrite
    s.sql("UPDATE graftcat.lake.rn SET cost = cost + 10.0 WHERE id = 1")
    assert(s.sql("SELECT id, cost FROM graftcat.lake.rn ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 11.5), (2L, 2.5), (3L, 3.5)))
    s.sql("DROP TABLE graftcat.lake.rn")
  }

  test("RENAME after TYPE widening: old files resolve by alias AND upcast") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.lake")
    s.sql("CREATE TABLE graftcat.lake.rw (id BIGINT, n INT) USING dwrf")
    s.sql("INSERT INTO graftcat.lake.rw VALUES (1, 10)") // INT generation
    s.sql("ALTER TABLE graftcat.lake.rw ALTER COLUMN n TYPE BIGINT")
    s.sql("INSERT INTO graftcat.lake.rw VALUES (2, 20)") // BIGINT generation
    s.sql("ALTER TABLE graftcat.lake.rw RENAME COLUMN n TO amount")
    s.sql("INSERT INTO graftcat.lake.rw VALUES (3, 30)") // renamed generation
    // three physical generations: (n: int), (n: bigint), (amount: bigint)
    // — the read resolves the alias AND upcasts the int generation
    assert(s.sql("SELECT id, amount FROM graftcat.lake.rw ORDER BY id")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(s.sql("SELECT SUM(amount) FROM graftcat.lake.rw").head().getLong(0)
      == 60L)
    // filters on the renamed+widened column reach all generations
    assert(s.sql("SELECT id FROM graftcat.lake.rw WHERE amount >= 20")
      .as[Long].collect().sorted.toSeq === Seq(2L, 3L))
    s.sql("DROP TABLE graftcat.lake.rw")
  }

  test("ALTER COLUMN TYPE widens losslessly; narrowing refuses") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.lake")
    s.sql("CREATE TABLE graftcat.lake.wd (id INT, v FLOAT) USING dwrf")
    s.sql("INSERT INTO graftcat.lake.wd VALUES (1, CAST(1.5 AS FLOAT))")
    val files0 = DwrfUtil.listDataFileStatuses(
      new Path(s"$warehouse/lake/wd"), conf)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSet

    s.sql("ALTER TABLE graftcat.lake.wd ALTER COLUMN id TYPE BIGINT")
    s.sql("ALTER TABLE graftcat.lake.wd ALTER COLUMN v TYPE DOUBLE")
    // metadata-only: the int/float-written file is untouched and upcasts
    assert(DwrfUtil.listDataFileStatuses(new Path(s"$warehouse/lake/wd"), conf)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .toSet === files0)
    assert(s.table("graftcat.lake.wd").schema.map(_.dataType.simpleString)
      === Seq("bigint", "double"))
    // post-ALTER inserts carry the wide types; generations mix on read
    s.sql("INSERT INTO graftcat.lake.wd VALUES (4000000000, 2.5)")
    assert(s.sql("SELECT id, v FROM graftcat.lake.wd ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.5), (4000000000L, 2.5)))
    // and the widened column still aggregates through the footer path
    assert(s.sql("SELECT MAX(id) FROM graftcat.lake.wd").as[Long].head()
      === 4000000000L)

    // narrowing never reaches the catalog: Spark's analyzer refuses any
    // non-upcast AlterColumns first (NOT_SUPPORTED_CHANGE_COLUMN)
    val narrow = intercept[Exception](
      s.sql("ALTER TABLE graftcat.lake.wd ALTER COLUMN id TYPE INT"))
    assert(narrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    // int→double passes Spark's upcast check but is NOT value-lossless
    // for 64-bit longs downstream — OUR widening rule refuses the
    // cross-family drift with its own message
    s.sql("ALTER TABLE graftcat.lake.wd ADD COLUMNS (small INT)")
    val drift = intercept[Exception](
      s.sql("ALTER TABLE graftcat.lake.wd ALTER COLUMN small TYPE DOUBLE"))
    assert(drift.getMessage.contains("widening"))
    s.sql("DROP TABLE graftcat.lake.wd")
  }
}
