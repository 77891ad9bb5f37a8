package graft.sources.dwrf

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream,
  ObjectInputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** [[SerializableHadoopConf]] ships every key/value pair of the session's
  * Hadoop conf to tasks, in a form smaller than `Configuration.write`.
  */
class SerializableHadoopConfSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def entries(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def serialize(o: AnyRef): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bos)
    out.writeObject(o)
    out.close()
    bos.toByteArray
  }

  private def roundTrip(c: Configuration): Configuration =
    new ObjectInputStream(new ByteArrayInputStream(
      serialize(new SerializableHadoopConf(c)))).readObject()
      .asInstanceOf[SerializableHadoopConf].value

  /** A live session conf plus the values an encoding could mangle. */
  private def sessionConf(): Configuration = {
    val key = "spark.hadoop.graft.spec.override"
    spark.conf.set(key, "from-session")
    try {
      val c = DwrfUtil.sessionHadoopConf()
      c.set("graft.spec.long", "x" * 70000 + "π")
      c.set("graft.spec.unicode", "naïve 🙂 ü — 日本")
      c
    } finally spark.conf.unset(key)
  }

  test("a Java-serialization round trip keeps every key/value pair") {
    val c = sessionConf()
    val back = roundTrip(c)
    assert(entries(back) === entries(c))
    assert(entries(c).size > 100, "expected a full session conf")
    assert(back.get("graft.spec.long").length === 70001)
    assert(back.get("graft.spec.long").getBytes("UTF-8").length > 65535)
    assert(back.get("graft.spec.unicode") === "naïve 🙂 ü — 日本")
    assert(back.get("spark.hadoop.graft.spec.override") === "from-session")
  }

  test("the encoded form is smaller than Configuration.write") {
    val c = sessionConf()
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    c.write(out)
    out.close()
    val compact = serialize(new SerializableHadoopConf(c)).length
    assert(compact < bos.size(), s"compact $compact vs Configuration.write ${bos.size()}")
  }
}
