package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional for driver
  * spans); `parent` is the id of the span that caused it, or -1. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Double, end: Double, op: Long)

/** In-memory trace of one run: driver spans opened by the harness around
  * each call into the engine, plus Spark job, stage and task spans and
  * per-layer counters taken from Spark's public listener interfaces. Nothing
  * is written until the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var nextId = 1L
  // epoch-ms clock with nanoTime resolution for driver spans
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  @volatile var enabled = false
  @volatile var currentOp = -1L

  def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }
  def max(name: String, v: Double): Unit = synchronized {
    counters(name) = math.max(counters.getOrElse(name, 0.0), v)
  }

  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  private def record(s: Span): Unit = if (enabled) synchronized { spans += s }

  // driver span id -> (operation id, the operation span's layer), from the
  // moment the span opens: listener events are delivered later, on the
  // listener bus, and find their operation through the job's span
  private val openSpans = mutable.HashMap.empty[Long, (Long, String)]

  /** Time `body` as a driver span; jobs it submits name it as parent. */
  def span[T](sc: SparkContext, layer: String, name: String, parent: Long)(
      body: Long => T): T = {
    val id = newId()
    synchronized {
      openSpans(id) = openSpans.getOrElse(parent, (currentOp, layer))
    }
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = now()
    try body(id)
    finally {
      record(Span(id, parent, layer, name, t0, now(), currentOp))
      sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  // --- Spark listeners ----------------------------------------------------

  // job -> (span id, parent span id, submit time)
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long, Double)]
  // job -> (operation id, operation layer) of the driver span that submitted it
  private val jobOp = mutable.HashMap.empty[Int, (Long, String)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSpan = mutable.HashMap.empty[(Int, Int), Long]
  private val jobFirstTask = mutable.HashMap.empty[Int, Double]

  private def opOf(job: Int): (Long, String) = jobOp.getOrElse(job, (-1L, ""))
  private def stageOp(stage: Int): (Long, String) =
    stageJob.get(stage).map(opOf).getOrElse((-1L, ""))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (!enabled) return
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .map(_.toLong).getOrElse(-1L)
      jobSpan(e.jobId) = (newId(), parent, e.time.toDouble)
      jobOp(e.jobId) = openSpans.getOrElse(parent, (-1L, ""))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      add("sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, parent, submit) =>
        record(Span(id, parent, "sched.job", s"job ${e.jobId}", submit, e.time.toDouble,
          opOf(e.jobId)._1))
        jobFirstTask.remove(e.jobId).foreach(t => add("sched.first_task_wait_ms", t - submit))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        if (!enabled) return
        val info = e.stageInfo
        add("sched.stages", 1)
        for (sub <- info.submissionTime; done <- info.completionTime) {
          val parent = stageJob.get(info.stageId).flatMap(j => jobSpan.get(j)).map(_._1)
            .getOrElse(-1L)
          val id = stageSpan.getOrElseUpdate((info.stageId, info.attemptNumber()), newId())
          record(Span(id, parent, "sched.stage", s"stage ${info.stageId}", sub.toDouble,
            done.toDouble, stageOp(info.stageId)._1))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (!enabled) return
      val ti = e.taskInfo
      val (op, opLayer) = stageOp(e.stageId)
      val sid = stageSpan.getOrElseUpdate((e.stageId, e.stageAttemptId), newId())
      record(Span(newId(), sid, "exec.task", s"task ${ti.taskId}", ti.launchTime.toDouble,
        ti.finishTime.toDouble, op))
      stageJob.get(e.stageId).foreach { j =>
        val t = ti.launchTime.toDouble
        if (jobSpan.contains(j) && jobFirstTask.get(j).forall(_ > t)) jobFirstTask(j) = t
      }
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_ms", m.executorRunTime.toDouble)
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
        add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("sink.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        if (opLayer == "etl.upsert")
          add("sink.upsert_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (!enabled) return
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble)
        .getOrElse(0.0)
      add("catalyst.analysis_ms", ms("analysis"))
      add("catalyst.optimization_ms", ms("optimization"))
      add("catalyst.planning_ms", ms("planning"))
      add("broadcast.bytes", broadcastBytes(qe.executedPlan).toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def broadcastBytes(p: SparkPlan): Long = {
    val own = p match {
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      case _ => 0L
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => Nil
    }
    own + (inner ++ p.children ++ p.subqueries).map(broadcastBytes).sum
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (!enabled) return
      val p = e.progress
      add("stream.batches", 1)
      add("stream.batch_ms", p.batchDuration.toDouble)
      p.stateOperators.foreach { s =>
        add("stream.state_rows", s.numRowsTotal.toDouble)
        add("stream.state_commit_ms", s.commitTimeMs.toDouble)
      }
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def json(): String = synchronized {
    val sb = new StringBuilder
    sb ++= "{\"spans\":["
    spans.iterator.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb += ','
      sb ++= s"[${s.id},${s.parent},${Json.str(s.layer)},${Json.str(s.name)}," +
        f"${s.start}%.3f,${s.end}%.3f,${s.op}]"
    }
    sb ++= "],\"counters\":"
    sb ++= Json.obj(counters.toSeq.map { case (k, v) => k -> Json.num(v) })
    sb ++= "}"
    sb.toString
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
