package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of a trace. Times are epoch nanoseconds; Spark's own events
  * carry millisecond times, so job, stage and action spans are
  * millisecond-grained.
  */
final case class Span(trace: Int, id: String, parent: String, kind: String,
                      name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** What the listeners saw during one traced operation. */
final case class OpTrace(spans: Seq[Span], phaseNs: Map[String, Long],
                         planNs: Long, counters: Map[String, Double],
                         stageSkew: Double, cachePeakBytes: Long) {
  def root: Span = spans.head

  /** Self time per span kind: a span's duration minus the part of it
    * that its children cover.
    */
  def selfNs: Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        s.durNs - Tracer.unionNs(cs)
      }.sum
    }
  }

  /** Spans of `kind` whose ancestor chain passes through a span of
    * kind `under`.
    */
  def countUnder(kind: String, under: String): Int = {
    val byId = spans.map(s => s.id -> s).toMap
    @annotation.tailrec
    def inside(id: String): Boolean = byId.get(id) match {
      case Some(s) if s.kind == under => true
      case Some(s) => inside(s.parent)
      case None => false
    }
    spans.count(s => s.kind == kind && inside(s.parent))
  }
}

/** Outside-in tracer: a `SparkListener` (jobs, stages, tasks, SQL
  * executions, cached blocks) plus a `QueryExecutionListener` (action
  * name, planning phases, what the action read and wrote), both
  * registered by the benchmark. All listener state sits behind one
  * monitor, and [[end]] drains the listener bus before it reads any of
  * it. Spans stay in memory; the caller writes them out when the run ends.
  *
  * `classify` names the phase an action belongs to; it sees the action
  * name, the query, and the phases seen so far in the operation.
  */
final class Tracer(spark: SparkSession,
                   classify: (String, QueryExecution, Seq[String]) => String) {
  private val lock = new Object
  private val sc = spark.sparkContext

  // ---- state guarded by `lock` -------------------------------------
  private var trace = -1 // -1: no operation open, events are ignored
  private var opName = ""
  private var opStartNs = 0L
  private val own = mutable.ArrayBuffer.empty[Span]
  private val execStart = mutable.Map.empty[Long, (Long, Long)] // id -> (root, ms)
  private val execEnd = mutable.Map.empty[Long, Long]
  private val execOfQuery = mutable.Map.empty[Long, Long] // query id -> execution id
  private val actions = mutable.LinkedHashMap.empty[Long, (String, String, Long, Long)]
  private val jobs = mutable.Map.empty[Int, (Option[Long], String, Long, Long)]
  private val stages = mutable.Map.empty[(Int, Int), (Int, Long, Long, String)]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val cached = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  private var cachePeak = 0L

  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowNs: Long = offsetNs + System.nanoTime()
  private val SpanProp = "perfbench.span"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      if (trace >= 0) {
        val p = Option(e.properties)
        val root = p.flatMap(x => Option(x.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(x.getProperty("spark.sql.execution.id")))).map(_.toLong)
        val span = p.flatMap(x => Option(x.getProperty(SpanProp))).getOrElse("")
        jobs(e.jobId) = (root, span, e.time, -1L)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(_4 = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      stageJob.get(i.stageId).filter(jobs.contains).foreach { j =>
        stages((i.stageId, i.attemptNumber())) =
          (j, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.name)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (trace >= 0 && stageJob.get(e.stageId).exists(jobs.contains)) {
        taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
        counters("tasks") += 1
        Option(e.taskMetrics).foreach { m =>
          counters("cpu_ns") += m.executorCpuTime
          counters("gc_ms") += m.jvmGCTime
          counters("input_bytes") += m.inputMetrics.bytesRead
          counters("output_bytes") += m.outputMetrics.bytesWritten
          counters("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          counters("spill_bytes") += m.diskBytesSpilled
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        cachedBytes += size - cached.getOrElse(b.blockId.name, 0L)
        if (size > 0) cached(b.blockId.name) = size else cached.remove(b.blockId.name)
        cachePeak = math.max(cachePeak, cachedBytes)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      if (trace >= 0) e match {
        case s: SparkListenerSQLExecutionStart =>
          execStart(s.executionId) = (s.rootExecutionId.getOrElse(s.executionId), s.time)
        case s: SparkListenerSQLExecutionEnd =>
          execEnd(s.executionId) = s.time
          Bridge.queryId(s).foreach(q => execOfQuery(q) = s.executionId)
        case _ =>
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L)
    private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        if (trace >= 0) {
          val phase = classify(funcName, qe, actions.values.map(_._2).toSeq)
          val plan = qe.tracker.phases.collect {
            case (p, s) if p != "analysis" => (s.endTimeMs - s.startTimeMs) * 1000000L
          }.sum
          actions(qe.id) = (s"$funcName ${qe.analyzed.nodeName}", phase, durationNs, plan)
        }
      }
  }

  /** Open an operation, the root span of trace `id`, and register the
    * listeners; operations outside begin/end run with no listener.
    */
  def begin(id: Int, name: String): Unit = {
    Bridge.drainListenerBus(sc) // earlier events must not land in this op
    lock.synchronized {
      trace = id; opName = name
      Seq(own, execStart, execEnd, execOfQuery, actions, jobs, stages, taskMs, stageJob, counters,
        cached).foreach(_.clear())
      cachedBytes = 0L; cachePeak = 0L
    }
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    sc.setLocalProperty(SpanProp, s"op-$id")
    lock.synchronized { opStartNs = nowNs }
  }

  /** Run `f` inside a child span of the open operation. Jobs that `f`
    * submits from this thread become the span's children.
    */
  def span[A](kind: String, name: String)(f: => A): A = {
    val id = lock.synchronized(s"$kind-$trace-${own.size}")
    sc.setLocalProperty(SpanProp, id)
    val t0 = nowNs
    try f finally {
      val t1 = nowNs
      lock.synchronized(own += Span(trace, id, s"op-$trace", kind, name, t0, t1))
      sc.setLocalProperty(SpanProp, s"op-$trace")
    }
  }

  /** Close the operation, unregister the listeners, and return
    * everything recorded for the operation.
    */
  def end(): OpTrace = {
    val t1 = nowNs
    sc.setLocalProperty(SpanProp, null)
    Bridge.drainListenerBus(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    lock.synchronized {
      val opId = s"op-$trace"
      val root = Span(trace, opId, "", "op", opName, opStartNs, t1)
      val ms = 1000000L
      // every SQL execution the query listener reported is an action span
      val actionSpans = actions.keys.toSeq.flatMap { q =>
        for (id <- execOfQuery.get(q); (top, startMs) <- execStart.get(id); endMs <- execEnd.get(id))
          yield {
            val (fn, phase, _, _) = actions(q)
            // a nested execution (a command run inside another) belongs
            // to its root; a root one to the harness span it started in
            val parent = if (top != id) s"action-$top"
              else own.find(s => s.startNs <= startMs * ms + ms && startMs * ms <= s.endNs)
                .map(_.id).getOrElse(opId)
            Span(trace, s"action-$id", parent, "action", s"$phase:$fn", startMs * ms, endMs * ms)
          }
      }
      val actionIds = actionSpans.map(_.id).toSet
      val jobSpans = jobs.toSeq.collect { case (j, (root, prop, s, e)) if e >= 0 =>
        val viaAction = root.map(r => s"action-$r").filter(actionIds)
        val parent = viaAction.getOrElse(if (prop.nonEmpty) prop else opId)
        Span(trace, s"job-$j", parent, "job", s"job $j", s * ms, e * ms)
      }
      val stageSpans = stages.toSeq.map { case ((s, a), (j, st, en, name)) =>
        Span(trace, s"stage-$s.$a", s"job-$j", "stage", name, st * ms, en * ms)
      }
      val skew = taskMs.values.filter(_.size > 1).map { ds =>
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2).max(1L)
        sorted.last.toDouble / med
      }.foldLeft(1.0)(math.max)
      val rootActions = actions.filter { case (q, _) =>
        execOfQuery.get(q).forall(id => execStart.get(id).forall(_._1 == id))
      }
      val phases = rootActions.values.groupMapReduce(_._2)(_._3)(_ + _)
      val plan = rootActions.values.map(_._4).sum
      val c = (counters.toMap ++ Map(
        "jobs" -> jobSpans.size.toDouble,
        "stages" -> stageSpans.size.toDouble,
        "exec_ns" -> Tracer.unionNs(jobSpans.map(s => (s.startNs, s.endNs))).toDouble))
        .withDefaultValue(0.0)
      trace = -1
      OpTrace(root +: (own.toSeq ++ actionSpans ++ jobSpans ++ stageSpans),
        phases, plan, c, skew, cachePeak)
    }
  }
}

object Tracer {

  /** Total length covered by a set of intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    covered
  }

  /** One span as a JSON object line. */
  def json(s: Span): String =
    s"""{"trace":${s.trace},"id":"${s.id}","parent":"${s.parent}","kind":"${s.kind}",""" +
      s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
}
