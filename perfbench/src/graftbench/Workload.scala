package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** What every workload gets: the session, where its inputs are, a private
  * scratch directory, and the seed everything random is drawn from. */
final case class Env(spark: SparkSession, dataDir: String, scanDataDir: String,
    workDir: String, seed: Long, cores: Int) {
  def dwrf(dir: String): DataFrame = spark.read.format("dwrf").load(dir)
}

/** A closed-loop workload: set-up, then rounds of ops. Every round holds
  * the same op kinds (parameters and order drawn from the seed), so runs
  * with different seeds measure the same mix. */
trait Workload {
  def name: String
  /** Builds the benchmark's own in-memory source data, once. */
  def source(): Unit
  /** Stages the inputs through the system (its writer, log, catalog); run
    * several times, each replacing the last. */
  def stage(): Unit
  /** Expected answers, computed from the source data once staged. */
  def prepareChecks(): Unit
  def round(r: Int): Seq[Op]
  /** Untimed rounds (of round 0's op kinds) before timing starts. */
  def warmupRounds: Int = 1
  /** Fewest timed rounds: enough for well over 20 ops, so that the tail
    * (ten samples beyond it) lies above the median, and for every op kind
    * to be traced and untraced in a traced run. With `seconds` shorter than
    * these rounds take, every run times the same op mix, so its
    * percentiles fall at the same place in it. */
  def timedRounds: Int
  /** End-to-end metrics only this workload has. */
  def ownMetrics(recs: Seq[OpRecord]): Seq[Metric]
  /** Per-layer metrics only this workload has (traced run). */
  def ownLayerMetrics(recs: Seq[OpRecord], plans: Map[Long, Seq[QueryExecution]]): Seq[Metric] = Nil
}

object Fs {
  def treeBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        var n = 0L
        s.forEach(p => if (java.nio.file.Files.isRegularFile(p)) n += java.nio.file.Files.size(p))
        n
      } finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }

  /** (rows, raw bytes, on-disk bytes) over the data files' footers. */
  def footers(dir: String): (Long, Long, Long) = {
    val conf = graft.sources.dwrf.DwrfUtil.sessionHadoopConf()
    val files = graft.sources.dwrf.DwrfUtil.listDataFileStatuses(new Path(dir), conf)
    var rows = 0L
    var raw = 0L
    files.foreach { st =>
      val r = new graft.sources.dwrf.DwrfFileReader(st.getPath, conf)
      try { rows += r.footer.numRows; raw += r.footer.rawDataSize }
      finally r.close()
    }
    (rows, raw, files.map(_.getLen).sum)
  }
}

/** Sums of plan-node metrics after an action. The dwrf reader and writer
  * publish their counters as DataSource V2 custom metrics, which Spark
  * keeps on the scan and write nodes under the metric's name. */
object PlanMetrics {
  val ReadKeys: Seq[String] = Seq("stripesRead", "stripesSkipped", "stridesSkipped",
    "stridesBloomSkipped", "bytesRead", "batchesEmitted", "preads", "decompressMs")
  val WriteKeys: Seq[String] = Seq("writeEncodeMs", "writeFlushMs", "writeCompressMs",
    "writeCompressBlocks", "writeBytesOut", "writeStripes")
  private val keys = (ReadKeys ++ WriteKeys).toSet

  def of(qe: QueryExecution): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p.metrics.foreach { case (k, m) => if (keys(k)) acc(k) += m.value }
      p match {
        case b: BatchScanExec if b.metrics.contains("stripesRead") =>
          acc("scanRows") += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    val plan = try Some(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => None }
    plan.foreach(walk)
    acc.toMap
  }

  def sum(qes: Seq[QueryExecution]): Map[String, Long] =
    qes.map(of).foldLeft(Map.empty[String, Long].withDefaultValue(0L)) { (a, m) =>
      m.foldLeft(a) { case (x, (k, v)) => x.updated(k, x(k) + v) }
    }

  /** The dwrf.read.* layer metrics over the ops that scanned dwrf. */
  def readLayer(recs: Seq[OpRecord], plans: Map[Long, Seq[QueryExecution]]): Seq[Metric] = {
    val per = recs.map(r => r -> sum(plans.getOrElse(r.id, Nil)))
      .filter { case (_, m) => m("stripesRead") + m("stripesSkipped") > 0 }
    if (per.isEmpty) return Nil
    val n = per.size.toDouble
    def tot(k: String) = per.map(_._2(k)).sum.toDouble
    val filtered = per.filter(_._1.op.rowsMatched >= 0)
    val surfaced = filtered.map(_._2("scanRows")).sum.toDouble
    val matched = filtered.map(_._1.op.rowsMatched).sum.toDouble
    Seq(
      Metric("dwrf.read.scan_ops", n, "count"),
      Metric("dwrf.read.bytes_read_per_op", tot("bytesRead") / n, "B"),
      Metric("dwrf.read.preads_per_op", tot("preads") / n, "count"),
      Metric("dwrf.read.stripes_read", tot("stripesRead") / n, "count/op"),
      Metric("dwrf.read.stripes_skipped", tot("stripesSkipped") / n, "count/op"),
      Metric("dwrf.read.strides_skipped", tot("stridesSkipped") / n, "count/op"),
      Metric("dwrf.read.strides_bloom_skipped", tot("stridesBloomSkipped") / n, "count/op"),
      Metric("dwrf.read.batches", tot("batchesEmitted") / n, "count/op"),
      Metric("dwrf.read.decompress_ms_per_op", tot("decompressMs") / n, "ms")) ++
      (if (matched > 0) Seq(Metric("dwrf.read.rows_surfaced_per_row_matched", surfaced / matched, "ratio"))
       else Nil)
  }

  /** The dwrf.write.* layer metrics over the ops that wrote dwrf files. */
  def writeLayer(recs: Seq[OpRecord], plans: Map[Long, Seq[QueryExecution]]): Seq[Metric] = {
    val per = recs.map(r => sum(plans.getOrElse(r.id, Nil))).filter(_("writeStripes") > 0)
    if (per.isEmpty) return Nil
    val n = per.size.toDouble
    def tot(k: String) = per.map(_(k)).sum.toDouble
    Seq(
      Metric("dwrf.write.write_ops", n, "count"),
      Metric("dwrf.write.encode_ms", tot("writeEncodeMs") / n, "ms/op"),
      Metric("dwrf.write.flush_ms", tot("writeFlushMs") / n, "ms/op"),
      Metric("dwrf.write.compress_ms", tot("writeCompressMs") / n, "ms/op"),
      Metric("dwrf.write.compress_blocks", tot("writeCompressBlocks") / n, "count/op"),
      Metric("dwrf.write.bytes_out", tot("writeBytesOut") / n, "B/op"),
      Metric("dwrf.write.stripes", tot("writeStripes") / n, "count/op"))
  }
}
