package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** JVM side of the benchmark: one client thread drives one workload in a
  * closed loop (the next op starts when the last one returns) for a fixed
  * time, then writes every metric, with its unit, as JSON to `--out`.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0/1),
  * data (the workload's parquet tables), scan-data (the sf0.1-shaped
  * tables the scan/write workloads and the kernel table use), work (a
  * private scratch directory), cores, setup-reps, out.
  *
  * A traced run traces every other occurrence of each op kind: end-to-end
  * numbers come from the untraced ops, per-layer numbers from the traced
  * ones, and the difference between the two is the tracing overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${a("workload")}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalogImplementation", "in-memory")
      // the status store keeps every job and SQL execution it saw; bounded
      // here so retained heap does not grow with the number of ops run
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val json = try run(spark, a) finally spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json)
  }

  private def run(spark: SparkSession, a: Map[String, String]): String = {
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val env = Env(spark, a("data"), a("scan-data"), a("work"), a("seed").toLong, a("cores").toInt)
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val w: Workload = a("workload") match {
      case "scan" => new ScanWorkload(env)
      case "write" => new WriteWorkload(env)
      case "pipeline" => new PipelineWorkload(env)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: the source data once; staging through the system several
    // times, of which the median counts; then the expected answers and the
    // untimed warm-up rounds
    val (sourceS, _) = Clock.timed(w.source())
    val stageS = (1 to a("setup-reps").toInt).map(_ => Clock.timed(w.stage())._1)
    val (checksS, _) = Clock.timed(w.prepareChecks())
    val warmRecs = mutable.ArrayBuffer.empty[OpRecord]
    val (warmS, _) = Clock.timed(loop(w, Seq.fill(w.warmupRounds)(-1), None, warmRecs))
    val warmErrors = warmRecs.flatMap(_.error)
    val setupS = sessionS + sourceS + Stats.median(stageS) + checksS + warmS

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val recs = mutable.ArrayBuffer.empty[OpRecord]
    val plans = mutable.Map.empty[Long, Seq[QueryExecution]]
    val gc0 = gcMs
    val tLoop = System.nanoTime()
    var r = 0
    // at least the workload's timed rounds, whole rounds, for `seconds`
    while (r < w.timedRounds || (System.nanoTime() - tLoop) / 1e9 < seconds) {
      plans ++= loop(w, Seq(r), tracer, recs)
      r += 1
    }
    val loopS = (System.nanoTime() - tLoop) / 1e9
    val gcDelta = gcMs - gc0
    if (!traced) recs.foreach(_.op.plans.clear())
    val heapMb = retainedHeapMb()

    val timed = recs.filterNot(_.traced).toSeq
    val attempted = recs.size + warmRecs.size
    val lat = timed.map(_.ms)
    // too few samples for a tail leaves it unset, which fails the run
    val (tailPct, tail) = Stats.tail(lat).getOrElse((Double.NaN, Double.NaN))
    val opsFailed = recs.count(_.error.isDefined) + warmErrors.size
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("ops_s", timed.size / (lat.sum / 1e3), "1/s"),
      Metric("op_p50_ms", Stats.median(lat), "ms"),
      Metric("op_tail_ms", tail, "ms"),
      Metric("op_tail_percentile", tailPct, "%"),
      Metric("op_tail_samples", lat.size.toDouble, "count"),
      Metric("cpu_ms_per_op", timed.map(_.cpuNs).sum / 1e6 / timed.size, "ms"),
      Metric("retained_heap_mb", heapMb, "MB"),
      Metric("error_rate", opsFailed.toDouble / attempted, "ratio"),
      Metric("session_s", sessionS, "s"),
      Metric("source_s", sourceS, "s"),
      Metric("stage_s", Stats.median(stageS), "s"),
      Metric("warmup_s", checksS + warmS, "s"),
      Metric("rounds", r.toDouble, "count"),
      Metric("loop_s", loopS, "s")) ++ w.ownMetrics(recs.toSeq)

    val perKind = timed.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      k -> Stats.median(rs.map(_.ms))
    }
    val layer = tracer.map(t => layers(spark, env, w, t, recs.toSeq, plans.toMap, gcDelta)).getOrElse(Nil)
    // the layers' self times must account for the traced ops' wall time
    val traceErrors = layer.find(_.name == "trace.accounted_share").filter(m => math.abs(m.value - 1) > 0.01)
      .map(m => s"trace: layer self times cover ${m.value} of op wall time").toSeq
    val selfTable = tracer.map(t => selfTimes(t, recs.filter(_.traced).toSeq)).getOrElse("{}")
    tracer.foreach(_.write(java.nio.file.Paths.get(a("work"), "trace", "spans.jsonl")))

    val conf = spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1)
      .filterNot(_._1.matches(".*(dir|host|id|port|startTime|extraJavaOptions)$"))
    val rt = ManagementFactory.getRuntimeMXBean
    Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num((opsFailed + traceErrors.size).toDouble),
      "errors" -> Json.arr((warmErrors ++ recs.flatMap(_.error) ++ traceErrors).take(10).map(Json.str).toSeq),
      "metrics" -> Json.metrics(e2e),
      "layer_metrics" -> Json.metrics(layer),
      "op_p50_ms_by_kind" -> Json.obj(perKind.map { case (k, v) => k -> Json.num(v) }),
      // every timed op in run order, to see whether latencies drift
      "op_ms" -> Json.arr(timed.map(r => Json.arr(Seq(Json.str(r.kind), Json.num(r.ms))))),
      "self_time" -> selfTable,
      "jvm" -> Json.obj(Seq(
        "version" -> Json.str(System.getProperty("java.version")),
        "vm" -> Json.str(rt.getVmName),
        "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
        "args" -> Json.arr(rt.getInputArguments.asScala.toSeq.filterNot(_.startsWith("--add-opens"))
          .map(Json.str)))),
      "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) })))
  }

  /** Heap in use after full collections. Spark frees broadcast and
    * shuffle state asynchronously once a GC finds it unreachable, so collect
    * until the figure stops falling. */
  private def retainedHeapMb(): Double = {
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6 }
    var last = used
    var i = 0
    var next = { Thread.sleep(100); used }
    while (i < 5 && last - next > 1.0) { last = next; Thread.sleep(100); next = used; i += 1 }
    math.min(last, next)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs the given rounds; returns the plans each traced op ran (the
    * traced run reads dwrf counters from them). With a tracer, every other
    * occurrence of each op kind is traced, starting with the first, so
    * every kind has traced samples and, from its second occurrence on,
    * untraced ones to compare them with. */
  private def loop(w: Workload, rounds: Seq[Int], tracer: Option[Tracer],
      out: mutable.ArrayBuffer[OpRecord]): Map[Long, Seq[QueryExecution]] = {
    val plans = mutable.Map.empty[Long, Seq[QueryExecution]]
    rounds.foreach { r =>
      // warm-up (round -1) reuses round 0's op kinds
      w.round(math.max(r, 0)).foreach { op =>
        val id = nextId
        nextId += 1
        val prepErr = attempt(op.prepare())
        val seen = out.count(_.kind == op.kind)
        val t = tracer.filter(_ => seen % 2 == 0)
        t.foreach { tr => tr.attach(); Trace.tracer = t; tr.beginOp(id); Trace.op = id }
        val c0 = Clock.processCpuNs
        val s = Clock.nowMs
        val runErr = prepErr.orElse(attempt(op.run()))
        val e = Clock.nowMs
        val c1 = Clock.processCpuNs
        Trace.op = -1L
        val rec = OpRecord(id, op.kind, s, e, c1 - c0, None, t.isDefined, op)
        t.foreach { tr =>
          try plans(id) = tr.endOp(rec)
          finally { tr.detach(); Trace.tracer = None }
        }
        val err = runErr.orElse(try op.check() catch { case scala.util.control.NonFatal(x) => Some(msg(op, x)) })
        out += rec.copy(error = err)
      }
    }
    plans.toMap
  }

  private var nextId = 0L

  private def msg(op: Op, e: Throwable): String = s"${op.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}"

  private def attempt(f: => Unit): Option[String] =
    try { f; None } catch { case scala.util.control.NonFatal(e) => Some(e.toString) }

  /** Per-layer metrics of the traced ops. */
  private def layers(spark: SparkSession, env: Env, w: Workload, t: Tracer, recs: Seq[OpRecord],
      plans: Map[Long, Seq[QueryExecution]], gcDelta: Long): Seq[Metric] = {
    val tr = recs.filter(_.traced)
    val un = recs.filterNot(_.traced)
    val n = tr.size.toDouble
    val work = tr.map(r => t.sparkWork(r))
    val spans = t.allSpans
    val byOp = spans.groupBy(_.op)
    def jobUnionMs(r: OpRecord): Double = {
      val iv = byOp.getOrElse(r.id, Nil).filter(_.layer == "spark.job")
        .map(s => (math.max(s.startMs, r.startMs), math.min(s.endMs, r.endMs))).filter(x => x._2 > x._1)
        .sortBy(_._1)
      var covered = 0.0
      var end = Double.MinValue
      iv.foreach { case (s, e) =>
        if (s > end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      covered
    }
    val driverMs = tr.map(r => r.ms - jobUnionMs(r))
    val planMs = tr.map(r => byOp.getOrElse(r.id, Nil).filter(_.layer == "spark.plan")
      .map(s => s.endMs - s.startMs).sum)
    val wallMs = tr.map(_.ms).sum
    val runMs = work.map(_.executorRunMs).sum.toDouble
    val selfs = tr.map(r => t.selfTimes(r))
    val accounted = selfs.map(_._1.values.sum).sum
    val outside = selfs.map(_._2).sum
    // tracing overhead: per op kind, median traced latency over median untraced
    val kinds = tr.map(_.kind).distinct.filter(k => un.exists(_.kind == k))
    val ratios = kinds.map { k =>
      Stats.median(tr.filter(_.kind == k).map(_.ms)) / Stats.median(un.filter(_.kind == k).map(_.ms))
    }
    val overheadPct = if (ratios.isEmpty) Double.NaN
      else (math.exp(ratios.map(math.log).sum / ratios.size) - 1) * 100
    val overheadMs = if (kinds.isEmpty) Double.NaN else kinds.map { k =>
      Stats.median(tr.filter(_.kind == k).map(_.ms)) - Stats.median(un.filter(_.kind == k).map(_.ms))
    }.sum / kinds.size

    val kernels = new Kernels(spark, env.scanDataDir, env.workDir).run()
    val sparkLayer = Seq(
      Metric("spark.plan_ms_per_op", planMs.sum / n, "ms"),
      Metric("spark.jobs_per_op", work.map(_.jobs).sum / n, "count"),
      Metric("spark.stages_per_op", work.map(_.stages).sum / n, "count"),
      Metric("spark.tasks_per_op", work.map(_.tasks).sum / n, "count"),
      Metric("spark.executor_cpu_ms_per_op", work.map(_.executorCpuNs).sum / 1e6 / n, "ms"),
      Metric("spark.executor_run_ms_per_op", runMs / n, "ms"),
      Metric("spark.task_gc_ms_per_op", work.map(_.taskGcMs).sum / n, "ms"),
      Metric("spark.gc_ms_per_op", gcDelta / (recs.size.toDouble), "ms"),
      Metric("spark.shuffle_read_mb_per_op", work.map(_.shuffleReadBytes).sum / 1e6 / n, "MB"),
      Metric("spark.shuffle_write_mb_per_op", work.map(_.shuffleWriteBytes).sum / 1e6 / n, "MB"),
      Metric("spark.spill_mb_per_op", work.map(_.spillBytes).sum / 1e6 / n, "MB"),
      Metric("spark.driver_ms_per_op", driverMs.sum / n, "ms"),
      Metric("spark.slot_util", runMs / (wallMs * env.cores), "ratio"))
    val queries = if (w.name != "pipeline") Nil else tr.groupBy(_.kind).toSeq.sortBy(_._1).flatMap {
      case (k, rs) =>
        val all = recs.filter(_.kind == k).map(_.ms)
        Seq(
          Metric(s"queries.$k.p50_ms", Stats.median(all), "ms"),
          Metric(s"queries.$k.driver_ms", Stats.median(rs.map(r => r.ms - jobUnionMs(r))), "ms"),
          Metric(s"queries.$k.jobs", rs.map(r => t.sparkWork(r).jobs).sum.toDouble / rs.size, "count"))
    }
    val traceMeta = Seq(
      Metric("trace.ops", n, "count"),
      Metric("trace.spans", spans.size.toDouble, "count"),
      Metric("trace.accounted_share", accounted / wallMs, "ratio"),
      Metric("trace.outside_share", outside / wallMs, "ratio"),
      Metric("trace.stray_spans", t.strays(tr).toDouble, "count"),
      Metric("trace.overhead_pct", overheadPct, "%"),
      Metric("trace.overhead_ms_per_op", overheadMs, "ms"))
    kernels ++ PlanMetrics.readLayer(tr, plans) ++ PlanMetrics.writeLayer(tr, plans) ++
      w.ownLayerMetrics(tr, plans) ++ sparkLayer ++ queries ++ traceMeta
  }

  /** Self time by layer: mean ms per op, overall and per op kind. */
  private def selfTimes(t: Tracer, tr: Seq[OpRecord]): String = {
    def table(rs: Seq[OpRecord]): String = {
      val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      rs.foreach(r => t.selfTimes(r)._1.foreach { case (l, ms) => acc(l) += ms })
      Json.obj(acc.toSeq.sortBy(_._1).map { case (l, ms) => l -> Json.num(ms / rs.size) } :+
        ("wall" -> Json.num(rs.map(_.ms).sum / rs.size)))
    }
    Json.obj(Seq(
      "all_ops_ms" -> table(tr),
      "by_kind_ms" -> Json.obj(tr.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) => k -> table(rs) })))
  }
}
