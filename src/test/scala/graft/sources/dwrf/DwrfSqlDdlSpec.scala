package graft.sources.dwrf


import org.scalatest.funsuite.AnyFunSuite

/** The SQL-DDL surface a Hive-format user expects: CREATE TABLE … USING
  * dwrf, INSERT INTO / INSERT OVERWRITE, CTAS, and SELECT with pushdown
  * through the catalog path — the V2 provider must behave identically
  * whether reached via `spark.read.format` or a catalog table.
  */
class DwrfSqlDdlSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def mkdir(): String = graft.TestDirs.tmp("dwrf-ddl-").toString

  test("CREATE TABLE USING dwrf + INSERT INTO/OVERWRITE + SELECT") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    s.sql("DROP TABLE IF EXISTS dwrf_ddl_t")
    s.sql(s"""CREATE TABLE dwrf_ddl_t (id BIGINT, tag STRING, price DECIMAL(12,2))
             |USING dwrf LOCATION '$dir'""".stripMargin)
    s.sql("""INSERT INTO dwrf_ddl_t VALUES
            |  (1, 'a', 10.50), (2, 'b', 20.25), (3, 'a', 30.00)""".stripMargin)
    assert(s.sql("SELECT COUNT(*) FROM dwrf_ddl_t").head().getLong(0) == 3)
    // append semantics
    s.sql("INSERT INTO dwrf_ddl_t VALUES (4, 'c', 40.75)")
    assert(s.sql("SELECT COUNT(*) FROM dwrf_ddl_t").head().getLong(0) == 4)
    // filter + aggregate through the catalog path
    val got = s.sql("""SELECT tag, SUM(price) AS total FROM dwrf_ddl_t
                      |WHERE id <= 3 GROUP BY tag ORDER BY tag""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDecimal(1).toPlainString)).toSeq
    assert(got == Seq(("a", "40.50"), ("b", "20.25")))
    // overwrite replaces everything
    s.sql("INSERT OVERWRITE dwrf_ddl_t VALUES (9, 'z', 1.00)")
    assert(s.sql("SELECT id, tag FROM dwrf_ddl_t").as[(Long, String)]
      .collect().toSeq == Seq((9L, "z")))
    s.sql("DROP TABLE dwrf_ddl_t")
  }

  test("ALTER TABLE ADD COLUMNS: mixed write generations read coherently") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    s.sql("DROP TABLE IF EXISTS dwrf_ddl_alter")
    s.sql(s"""CREATE TABLE dwrf_ddl_alter (id BIGINT, tag STRING)
             |USING dwrf LOCATION '$dir'""".stripMargin)
    s.sql("INSERT INTO dwrf_ddl_alter VALUES (1, 'a'), (2, 'b')")
    s.sql("ALTER TABLE dwrf_ddl_alter ADD COLUMNS (note STRING, score DOUBLE)")
    // rows written BEFORE the ALTER read the new columns as null;
    // rows written after carry values — one scan over both generations
    s.sql("INSERT INTO dwrf_ddl_alter VALUES (3, 'c', 'fresh', 0.5)")
    val got = s.sql(
      """SELECT id, tag, note, score FROM dwrf_ddl_alter ORDER BY id""")
      .as[(Long, String, Option[String], Option[Double])].collect().toSeq
    assert(got == Seq((1L, "a", None, None), (2L, "b", None, None),
      (3L, "c", Some("fresh"), Some(0.5))))
    // predicates on the added column still push down / evaluate sanely
    assert(s.sql(
      "SELECT COUNT(*) FROM dwrf_ddl_alter WHERE note = 'fresh'")
      .head().getLong(0) == 1)
    assert(s.sql(
      "SELECT COUNT(*) FROM dwrf_ddl_alter WHERE note IS NULL")
      .head().getLong(0) == 2)
    s.sql("DROP TABLE dwrf_ddl_alter")
  }

  test("CTAS materializes a queryable dwrf table") {
    val s = spark
    val dir = mkdir()
    s.sql("DROP TABLE IF EXISTS dwrf_ddl_ctas")
    s.sql(s"""CREATE TABLE dwrf_ddl_ctas USING dwrf LOCATION '$dir'
             |AS SELECT id, CAST(id % 5 AS STRING) AS bucket
             |FROM RANGE(100)""".stripMargin)
    val n = s.sql("SELECT COUNT(DISTINCT bucket) FROM dwrf_ddl_ctas")
      .head().getLong(0)
    assert(n == 5)
    // files on disk are plain dwrf — path reads see the same table
    assert(s.read.format("dwrf").load(dir).count() == 100)
    s.sql("DROP TABLE dwrf_ddl_ctas")
  }
}
