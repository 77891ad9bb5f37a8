package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary; spans of one op share `op`. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    startMs: Double, endMs: Double) {
  def toJson: String = Json.obj(Seq("id" -> Json.num(id.toDouble), "parent" -> Json.num(parent.toDouble),
    "op" -> Json.num(op.toDouble), "layer" -> Json.str(layer), "name" -> Json.str(name),
    "start_ms" -> Json.num(startMs), "end_ms" -> Json.num(endMs)))
}

/** Spark work attributed to one op by the listener. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var executorRunMs = 0L
  var taskGcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Traced-run recorder. Registered only while a traced op runs: a
  * SparkListener (jobs, stages, task metrics) and a QueryExecutionListener
  * (plans run by writes and SQL commands), both attributed to the op whose
  * id rides the `graftbench.op` local property, plus bench-side spans
  * around calls into graft. Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  val OpKey = "graftbench.op"
  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobWork = mutable.Map.empty[Int, SparkWork]
  private val jobOp = mutable.Map.empty[Int, (Long, Double)] // job -> (op, start)
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Double)] // job -> (spanId, op, start)
  private val stageJob = mutable.Map.empty[Int, (Int, Long)] // stage -> (job, op)
  private val pendingPlans = mutable.ArrayBuffer.empty[QueryExecution]
  private val opSpanId = mutable.Map.empty[Long, Long]

  private def add(s: Span): Unit = spans.synchronized(spans += s)
  private def workOf(job: Int): SparkWork = jobWork.synchronized(jobWork.getOrElseUpdate(job, new SparkWork))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong).foreach { op =>
        val id = ids.getAndIncrement()
        jobSpan.synchronized(jobSpan(e.jobId) = (id, op, e.time.toDouble))
        stageJob.synchronized(e.stageIds.foreach(s => stageJob(s) = (e.jobId, op)))
        jobOp.synchronized(jobOp(e.jobId) = (op, e.time.toDouble))
        workOf(e.jobId).jobs += 1
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.synchronized(jobSpan.remove(e.jobId)).foreach { case (id, op, start) =>
        add(Span(id, opSpanId.synchronized(opSpanId.getOrElse(op, 0L)), op, "spark.job",
          s"job ${e.jobId}", start, e.time.toDouble))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      stageJob.synchronized(stageJob.get(info.stageId)).foreach { case (job, op) =>
        workOf(job).stages += 1
        for (s <- info.submissionTime; c <- info.completionTime) {
          val parent = jobSpan.synchronized(jobSpan.get(job)).map(_._1).getOrElse(0L)
          add(Span(ids.getAndIncrement(), parent, op, "spark.stage",
            s"stage ${info.stageId} (${info.numTasks} tasks)", s.toDouble, c.toDouble))
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.synchronized(stageJob.get(e.stageId)).foreach { case (job, _) =>
        val w = workOf(job)
        val m = e.taskMetrics
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.executorCpuNs += m.executorCpuTime
            w.executorRunMs += m.executorRunTime
            w.taskGcMs += m.jvmGCTime
            w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pendingPlans.synchronized(pendingPlans += qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      pendingPlans.synchronized(pendingPlans += qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  /** Marks the start of a traced op: later jobs carry its id. */
  def beginOp(op: Long): Unit = {
    opSpanId.synchronized(opSpanId(op) = ids.getAndIncrement())
    spark.sparkContext.setLocalProperty(OpKey, op.toString)
  }

  /** Closes a traced op: records its span and plan-phase spans, and returns
    * the plans run on its behalf by commands (after draining the bus). */
  def endOp(rec: OpRecord): Seq[QueryExecution] = {
    spark.sparkContext.setLocalProperty(OpKey, null)
    drain()
    val opSpan = opSpanId.synchronized(opSpanId(rec.id))
    add(Span(opSpan, 0L, rec.id, "op", rec.kind, rec.startMs, rec.endMs))
    val fromCommands = pendingPlans.synchronized {
      val p = pendingPlans.toList; pendingPlans.clear(); p
    }
    val all = (rec.op.plans.toList ++ fromCommands).distinct
    all.foreach { qe =>
      qe.tracker.phases.foreach { case (phase, ps) =>
        add(Span(ids.getAndIncrement(), opSpan, rec.id, "spark.plan", phase,
          ps.startTimeMs.toDouble, ps.endTimeMs.toDouble))
      }
    }
    all
  }

  /** Bench-side span around one call into graft during the current op. */
  def call[A](op: Long, layer: String, name: String)(f: => A): A = {
    val t0 = Clock.nowMs
    try f
    finally add(Span(ids.getAndIncrement(), opSpanId.synchronized(opSpanId.getOrElse(op, 0L)),
      op, layer, name, t0, Clock.nowMs))
  }

  /** A job carries the op id of the thread that started it, and pooled
    * threads inherit local properties from the op that created them; a job
    * tagged with an op but started outside its window is such a stray and
    * belongs to no op. */
  private def within(rec: OpRecord, startMs: Double, endMs: Double): Boolean =
    startMs <= rec.endMs + SlackMs && endMs >= rec.startMs - SlackMs
  private val SlackMs = 5.0

  def sparkWork(rec: OpRecord): SparkWork = {
    val jobs = jobOp.synchronized(jobOp.toList).collect {
      case (job, (op, start)) if op == rec.id && within(rec, start, start) => job
    }
    val sum = new SparkWork
    jobWork.synchronized(jobs.flatMap(jobWork.get)).foreach { w =>
      sum.jobs += w.jobs; sum.stages += w.stages; sum.tasks += w.tasks
      sum.executorCpuNs += w.executorCpuNs; sum.executorRunMs += w.executorRunMs
      sum.taskGcMs += w.taskGcMs; sum.shuffleReadBytes += w.shuffleReadBytes
      sum.shuffleWriteBytes += w.shuffleWriteBytes; sum.spillBytes += w.spillBytes
    }
    sum
  }

  /** Spans tagged with an op that lie wholly outside its window. */
  def strays(recs: Seq[OpRecord]): Int = {
    val byId = recs.map(r => r.id -> r).toMap
    allSpans.count(s => s.layer != "op" && byId.get(s.op).exists(r => !within(r, s.startMs, s.endMs)))
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per layer of each op: every instant of the op's wall time is
    * given to the deepest span active then (op < plan/call/job < stage), so
    * the layers of an op sum to its wall time. Child time falling outside
    * the op's window is returned separately as `outside`. */
  def selfTimes(rec: OpRecord): (Map[String, Double], Double) = {
    val mine = allSpans.filter(s => s.op == rec.id && s.layer != "op" && within(rec, s.startMs, s.endMs))
    def depth(l: String): Int = l match {
      case "spark.stage" => 2
      case _ => 1
    }
    val outside = mine.map { s =>
      math.max(0.0, rec.startMs - s.startMs) + math.max(0.0, s.endMs - rec.endMs)
    }.sum
    val clipped = mine.map(s => s.copy(startMs = math.max(s.startMs, rec.startMs),
      endMs = math.min(s.endMs, rec.endMs))).filter(s => s.endMs > s.startMs)
    val cuts = (clipped.flatMap(s => Seq(s.startMs, s.endMs)) ++ Seq(rec.startMs, rec.endMs))
      .distinct.sorted
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val mid = (a + b) / 2
        val active = clipped.filter(s => s.startMs <= mid && mid < s.endMs)
        val layer = if (active.isEmpty) "driver"
          else active.maxBy(s => (depth(s.layer), s.startMs)).layer
        acc(layer) += b - a
      case _ =>
    }
    (acc.toMap, outside)
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try allSpans.sortBy(_.startMs).foreach { s => w.write(s.toJson); w.newLine() }
    finally w.close()
  }
}

/** Where workload code records spans around its calls into graft. Untraced
  * runs and untraced ops pay one volatile read. */
object Trace {
  @volatile var tracer: Option[Tracer] = None
  @volatile var op: Long = -1L

  def call[A](layer: String, name: String)(f: => A): A = tracer match {
    case Some(t) if op >= 0 => t.call(op, layer, name)(f)
    case _ => f
  }
}
