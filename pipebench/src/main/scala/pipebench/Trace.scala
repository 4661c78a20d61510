package pipebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PipebenchBus, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `trace` groups the spans of one query or
  * batch; `parent` is the enclosing span (0 at the root).
  */
final case class Span(id: Long, layer: String, name: String, parent: Long,
    trace: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Engine work attributed to one span: everything Spark ran while the
  * span's job group was set, and the Catalyst phases of its queries.
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** executor run time of each task, per stage (for task skew). */
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
  }
}

/** Span recorder. Disabled, `span` only runs its body. Enabled, every
  * span sets a Spark job group naming it, and a SparkListener plus a
  * QueryExecutionListener attribute jobs, stages, task metrics and
  * Catalyst phases to the innermost span that caused them. Spans are kept
  * in memory; [[report]] reads them once the listener bus has drained.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val counters = mutable.Map[Long, Counters]()
  private val stageSpan = mutable.Map[Int, Long]()
  private val execSpan = mutable.Map[Long, Long]()
  private val queryExec = mutable.Map[Long, Long]()
  private val phases = mutable.ArrayBuffer[(Long, Map[String, Long])]()
  private val Prefix = "pb-"

  private def spanOf(group: String): Option[Long] =
    Option(group).filter(_.startsWith(Prefix)).map(_.drop(Prefix.length).toLong)

  private def ctr(id: Long): Counters = counters.getOrElseUpdate(id, new Counters)

  private def locked[T](f: => T): T = Tracer.this.synchronized(f)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      spanOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
        .foreach { s =>
          ctr(s).jobs += 1
          e.stageIds.foreach(stageSpan(_) = s)
        }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = locked {
      stageSpan.get(e.stageInfo.stageId).foreach(ctr(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = ctr(s)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => locked {
        s.jobGroupId.flatMap(g => spanOf(g)).foreach(execSpan(s.executionId) = _)
      }
      case e: SparkListenerSQLExecutionEnd => locked {
        PipebenchBus.queryOf(e).foreach(qe => queryExec(qe.id) = e.executionId)
      }
      case _ =>
    }
  }

  private object QeListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = locked {
      phases += ((qe.id, qe.tracker.phases.map { case (k, v) => k -> v.durationMs }))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
  }

  /** Run `body` as one span of `layer`. `parent` overrides the enclosing
    * span, for work handed to another thread.
    */
  def span[T](layer: String, name: String, trace: String = "",
      parent: Option[Long] = None)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val outer = stack.get()
      val p = parent.getOrElse(outer.headOption.getOrElse(0L))
      val savedGroup = sc.getLocalProperty("spark.jobGroup.id")
      val savedDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(s"$Prefix$id", s"$layer.$name $trace", interruptOnCancel = false)
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        if (savedGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(savedGroup, savedDesc, interruptOnCancel = false)
        synchronized { done += Span(id, layer, name, p, trace, t0, t1) }
      }
    }

  def current: Option[Long] = stack.get().headOption

  /** Wait for the listener bus, then hand back spans and their engine
    * counters (Catalyst phases folded in).
    */
  def report(): Report = {
    if (enabled) PipebenchBus.drain(sc)
    synchronized {
      phases.foreach { case (qid, ph) =>
        queryExec.get(qid).flatMap(execSpan.get).foreach { s =>
          val c = ctr(s)
          c.analysisMs += ph.getOrElse("analysis", 0L)
          c.optimizationMs += ph.getOrElse("optimization", 0L)
          c.planningMs += ph.getOrElse("planning", 0L)
        }
      }
      phases.clear()
      new Report(done.toVector.sortBy(_.startNs), counters.toMap)
    }
  }
}

/** The recorded spans of one traced run, with self times and the
  * per-layer table.
  */
final class Report(val spans: Vector[Span], byId: Map[Long, Counters]) {
  private val children = spans.groupBy(_.parent)
  private val byIdSpan = spans.map(s => s.id -> s).toMap

  /** The name of the span's root: the run phase (set-up, timed pass,
    * replay) it belongs to.
    */
  def phase(s: Span): String =
    byIdSpan.get(s.parent).fold(s.name)(phase)

  /** Spans under the root span named `name`. */
  def under(name: String): Vector[Span] = spans.filter(s => s.parent != 0 && phase(s) == name)

  def counters(s: Span): Counters = byId.getOrElse(s.id, new Counters)

  /** Duration minus the part of it covered by child spans. */
  def selfMs(s: Span): Double = {
    val kids = children.getOrElse(s.id, Vector.empty)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Calls of `layer.name` in the timed pass, or in set-up when only
    * set-up makes them (the base ingest).
    */
  def of(layer: String, name: String): Vector[Span] = {
    val all = spans.filter(s => s.layer == layer && s.name == name)
    val timed = all.filter(phase(_) == "pass")
    if (timed.nonEmpty) timed else all
  }

  def ofLayer(layer: String): Vector[Span] = spans.filter(_.layer == layer)

  def total(ss: Seq[Span]): Counters = {
    val c = new Counters
    ss.foreach(s => c.add(counters(s)))
    c
  }

  /** One row per (phase, layer, call): calls, wall and self time, and
    * the engine counters of the call's own job group.
    */
  def table: String = {
    val header = Seq("phase", "layer", "call", "calls", "wall_ms", "self_ms", "jobs",
      "stages", "tasks", "exec_run_ms", "exec_cpu_ms", "gc_ms",
      "shuffle_read_b", "shuffle_write_b", "spill_b", "input_b",
      "analysis_ms", "optimization_ms", "planning_ms")
    val rows = spans.groupBy(s => (phase(s), s.layer, s.name)).toVector.sortBy(_._1).map {
      case ((ph, layer, name), ss) =>
        val c = total(ss)
        Seq(ph, layer, name, ss.size.toString, f"${ss.map(_.ms).sum}%.1f",
          f"${ss.map(selfMs).sum}%.1f", c.jobs.toString, c.stages.toString,
          c.tasks.toString, c.runMs.toString, (c.cpuNs / 1000000).toString,
          c.gcMs.toString, c.shuffleRead.toString, c.shuffleWrite.toString,
          c.spill.toString, c.input.toString, c.analysisMs.toString,
          c.optimizationMs.toString, c.planningMs.toString)
    }
    (header +: rows).map(_.mkString("\t")).mkString("", "\n", "\n")
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"layer":"${s.layer}","name":"${s.name}","parent":${s.parent},""" +
      s""""trace":"${s.trace}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""self_ms":${selfMs(s)},"jobs":${counters(s).jobs}}"""
  }.mkString("", "\n", "\n")
}
