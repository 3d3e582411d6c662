package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder around the benchmark's calls into the engine. The
  * untraced runs use [[NoTrace]], which only runs the body. */
trait Trace {
  /** Run `body` as a span called `name`. `op = true` starts a new
    * operation: the span and its descendants share its id. */
  def span[T](name: String, op: Boolean = false)(body: => T): T
  /** Attach a measured number to the innermost open span. */
  def note(key: String, value: Double): Unit = ()
}

object NoTrace extends Trace {
  def span[T](name: String, op: Boolean)(body: => T): T = body
}

/** Counts of Spark work attributed to one span (by the span id the
  * benchmark puts in the job's local properties). */
final class Counts {
  var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inBytes, inRows, outBytes = 0L
  var planningMs = 0L
  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; inBytes += o.inBytes
    inRows += o.inRows; outBytes += o.outBytes
    planningMs += o.planningMs
  }
}

final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long,
                      notes: Map[String, Double] = Map.empty)

/** The traced run's collector: spans recorded by the benchmark's own code,
  * plus a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener registered only while tracing. Everything stays
  * in memory until [[write]]. */
final class Tracer(spark: SparkSession) extends Trace {
  import Tracer.SpanProp

  private val sc = spark.sparkContext
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, Long, mutable.Map[String, Double])]] {
    override def initialValue() = Nil
  }
  private val counts = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val querySpan = new ConcurrentHashMap[String, Long]()
  /** Epoch-ms ↔ nanoTime anchor, to place progress-derived spans. */
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  private def countsOf(span: Long): Counts = counts.computeIfAbsent(span, _ => new Counts)
  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      countsOf(s).synchronized { countsOf(s).jobs += 1 }
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.put(x.toLong, s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties)
      stageSpan.put(e.stageInfo.stageId, s)
      countsOf(s).synchronized { countsOf(s).stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val c = countsOf(stageSpan.getOrDefault(e.stageId, 0L))
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inBytes += m.inputMetrics.bytesRead
        c.inRows += m.inputMetrics.recordsRead
        c.outBytes += m.outputMetrics.bytesWritten
      }
      stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(m.executorRunTime)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      val c = countsOf(execSpan.getOrDefault(qe.id, 0L))
      c.synchronized { c.planningMs += planning }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every queued listener event, then detach the listeners. */
  def stop(): Unit = {
    org.apache.spark.graftbench.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def span[T](name: String, op: Boolean)(body: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get
    val (parent, opId) = stack match {
      case (p, o, _) :: _ => (p, if (op) id else o)
      case Nil => (0L, id)
    }
    val notes = mutable.Map[String, Double]()
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    open.set((id, opId, notes) :: stack)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, opId, name, t0, System.nanoTime(), notes.toMap))
      open.set(stack)
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  override def note(key: String, value: Double): Unit =
    open.get.headOption.foreach { case (_, _, n) => n(key) = value }

  /** Remember which span started a streaming query, so its micro-batch
    * spans hang below it. */
  def streamStarted(queryId: java.util.UUID): Unit =
    open.get.headOption.foreach { case (id, _, _) => querySpan.put(queryId.toString, id) }

  def spans: Seq[Span] = done.asScala.toSeq ++ batchSpans

  /** One span per micro-batch, from its progress report, with the
    * engine's reported phases as sequential child spans (latestOffset,
    * walCommit, queryPlanning, getBatch, addBatch, commitOffsets — the
    * order the micro-batch engine runs them in). */
  private lazy val batchSpans: Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    for (p <- progress.asScala if p.durationMs.containsKey("addBatch")) {
      val parent = querySpan.getOrDefault(p.id.toString, 0L)
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val startNs = anchorNs + (startMs - anchorMs) * 1000000L
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val id = ids.incrementAndGet()
      val total = d.getOrElse("triggerExecution", 0L)
      out += Span(id, parent, parent, "stream.batch", startNs, startNs + total * 1000000L,
        Map("batch_id" -> p.batchId.toDouble, "rows" -> p.numInputRows.toDouble))
      var at = startNs
      for (ph <- Seq("latestOffset", "walCommit", "queryPlanning", "getBatch", "addBatch",
                     "commitOffsets"); v <- d.get(ph)) {
        out += Span(ids.incrementAndGet(), id, parent, s"stream.$ph", at, at + v * 1000000L)
        at += v * 1000000L
      }
    }
    out.toSeq
  }

  /** Each span called `name`, with the work attributed to it and to its
    * descendants. */
  def perSpan(name: String): Seq[(Span, Counts)] = {
    val all = spans
    val children = all.groupBy(_.parent)
    all.filter(_.name == name).map { root =>
      val acc = new Counts
      def walk(s: Span): Unit = {
        Option(counts.get(s.id)).foreach(acc.add)
        children.getOrElse(s.id, Nil).foreach(walk)
      }
      walk(root)
      root -> acc
    }
  }

  def total: Counts = {
    val acc = new Counts
    counts.values.asScala.foreach(acc.add)
    acc
  }

  /** max/median task run time of the worst stage with at least `minTasks`
    * tasks (1.0 = perfectly even). */
  def taskSkew(minTasks: Int): Double = {
    val ratios = stageTaskMs.values.asScala.map(_.asScala.toSeq.map(_.toDouble))
      .filter(_.size >= minTasks)
      .map { ts => val med = Stats.median(ts); if (med <= 0) 1.0 else ts.max / med }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Span durations with self time (duration minus the part of it that its
    * child spans cover) and attributed counts, as JSON lines. */
  def write(file: java.io.File): Unit = {
    val all = spans.sortBy(_.startNs)
    val children = all.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var sum = 0L; var curA = -1L; var curB = -1L
      for ((a, b) <- iv) {
        if (curB < 0 || a > curB) { if (curB > curA) sum += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) sum += curB - curA
      sum
    }
    val w = new java.io.PrintWriter(file, "UTF-8")
    try for (s <- all) {
      val c = Option(counts.get(s.id))
      val fields = Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name),
        "start_ms" -> Json.num((s.startNs - anchorNs) / 1e6),
        "dur_ms" -> Json.num((s.endNs - s.startNs) / 1e6),
        "self_ms" -> Json.num((s.endNs - s.startNs - covered(s)) / 1e6)) ++
        s.notes.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) } ++
        c.toSeq.flatMap(c => Seq(
          "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
          "task_run_ms" -> c.runMs.toString, "task_cpu_ms" -> Json.num(c.cpuNs / 1e6),
          "gc_ms" -> c.gcMs.toString, "shuffle_write_bytes" -> c.shuffleWrite.toString,
          "shuffle_read_bytes" -> c.shuffleRead.toString, "spill_bytes" -> c.spill.toString,
          "scan_bytes" -> c.inBytes.toString, "scan_rows" -> c.inRows.toString,
          "write_bytes" -> c.outBytes.toString, "planning_ms" -> c.planningMs.toString))
      w.println(Json.obj(fields))
    } finally w.close()
  }
}

object Tracer {
  /** The local property naming the span a Spark job runs under. Streaming
    * queries inherit it from the thread that starts them. */
  val SpanProp = "graftbench.span"
}
