package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span is (name, start, end, parent, tag);
  * parents come from a per-thread stack, so nesting follows the call
  * order. Disabled recorders run the body with no bookkeeping, which is
  * what the trace-overhead comparison measures against. */
final class Spans(val enabled: Boolean) {
  import Spans.Span

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Run `body` inside a span. When `spark` is given, Spark jobs the body
    * starts on this thread carry the span id as a local property. */
  def apply[T](name: String, tag: String = "", spark: SparkContext = null)(body: => T): T =
    labeled(name, tag, spark)(_ => body)

  /** [[apply]] whose body may rename its span once it knows what it did
    * (a status read that turns out to see a finished job). */
  def labeled[T](name: String, tag: String = "", spark: SparkContext = null)(
      body: (String => Unit) => T): T =
    if (!enabled) body(_ => ())
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val prev = if (spark != null) spark.getLocalProperty(Spans.Property) else null
      if (spark != null) spark.setLocalProperty(Spans.Property, id.toString)
      var label = name
      val t0 = System.nanoTime()
      try body(label = _)
      finally {
        val t1 = System.nanoTime()
        if (spark != null) spark.setLocalProperty(Spans.Property, prev)
        stack.set(parents)
        done.add(Span(id, label, parents.headOption.getOrElse(0L), tag,
          Thread.currentThread().getName, t0, t1))
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name: duration minus the durations of child spans. */
  def selfMs: Map[String, Double] = {
    val spans = all
    val childMs = spans.groupMapReduce(_.parent)(_.ms)(_ + _)
    spans.groupMapReduce(_.name)(s => s.ms - childMs.getOrElse(s.id, 0.0))(_ + _)
  }

  def totalMs: Map[String, Double] = all.groupMapReduce(_.name)(_.ms)(_ + _)
  def count: Map[String, Int] = all.groupMapReduce(_.name)(_ => 1)(_ + _)
  def byId: Map[Long, Span] = all.map(s => s.id -> s).toMap

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "tag" -> s.tag,
        "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Spans {
  val Property = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, tag: String,
                        thread: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** Spark-side attribution: one SparkListener, one QueryExecutionListener
  * and one StreamingQueryListener, registered for the traced pass and
  * removed afterwards. Jobs are attributed to the span whose id rides in
  * the job's local properties. */
final class SparkProbe(spark: SparkSession) {
  final class JobRec(val span: Long, val stages: Seq[Int])
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var shufRead = 0L; var shufWrite = 0L; var spill = 0L
    var submitted = 0L; var completed = 0L
  }

  private val lock = new Object
  val jobs = mutable.Map.empty[Int, JobRec]
  val stages = mutable.Map.empty[Int, StageAgg]
  var planningMs = 0.0
  var executions = 0
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Property)))
        .flatMap(_.toLongOption).getOrElse(0L)
      jobs(e.jobId) = new JobRec(span, e.stageIds)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
      a.submitted = e.stageInfo.submissionTime.getOrElse(0L)
      a.completed = e.stageInfo.completionTime.getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      val ph = qe.tracker.phases
      planningMs += Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      executions += 1
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Wait for the listener bus to drain, then detach every listener. */
  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Let queued listener events arrive (the bus is asynchronous). */
  def drain(): Unit = {
    val quiet = 300L
    var last = snapshot
    var stable = 0L
    while (stable < quiet) {
      Thread.sleep(50); stable += 50
      val now = snapshot
      if (now != last) { last = now; stable = 0 }
    }
  }
  private def snapshot: (Int, Int, Int, Int) = lock.synchronized {
    (jobs.size, stages.values.map(_.tasks.toInt).sum, executions, progress.size)
  }

  /** Median wall of a trivial one-task job: the per-job dispatch floor. */
  def dispatchMsPerJob(n: Int = 15): Double = {
    val sc = spark.sparkContext
    sc.parallelize(Seq(1), 1).count()
    Stats.median((1 to n).map { _ =>
      val t0 = System.nanoTime(); sc.parallelize(Seq(1), 1).count(); (System.nanoTime() - t0) / 1e6
    })
  }

  /** Spark totals for the jobs attributed to any of `spanIds`; with an
    * empty set, for every job seen. `driverGapMs` is span wall not covered
    * by a running stage of that span. */
  def totals(spanIds: Set[Long], spans: Map[Long, Spans.Span]): Map[String, Double] = lock.synchronized {
    val js = jobs.values.filter(j => spanIds.isEmpty || spanIds(j.span)).toSeq
    val st = js.flatMap(_.stages).distinct.flatMap(stages.get)
    val gap = js.groupBy(_.span).toSeq.map { case (sid, jj) =>
      spans.get(sid).map { s =>
        val iv = jj.flatMap(_.stages).distinct.flatMap(stages.get)
          .filter(a => a.submitted > 0 && a.completed >= a.submitted)
          .map(a => (a.submitted, a.completed)).sortBy(_._1)
        var covered = 0L; var curS = -1L; var curE = -1L
        iv.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        math.max(0.0, s.ms - covered)
      }.getOrElse(0.0)
    }.sum
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> st.size.toDouble,
      "tasks" -> st.map(_.tasks).sum.toDouble,
      "driver_gap_ms" -> gap,
      "executor_run_ms" -> st.map(_.runMs).sum.toDouble,
      "executor_cpu_ms" -> st.map(_.cpuNs).sum / 1e6,
      "gc_ms" -> st.map(_.gcMs).sum.toDouble,
      "input_bytes" -> st.map(_.inBytes).sum.toDouble,
      "shuffle_read_bytes" -> st.map(_.shufRead).sum.toDouble,
      "shuffle_write_bytes" -> st.map(_.shufWrite).sum.toDouble,
      "spill_bytes" -> st.map(_.spill).sum.toDouble)
  }

  def jobsBySpan: Map[Long, Int] = lock.synchronized {
    jobs.values.groupMapReduce(_.span)(_ => 1)(_ + _)
  }

  def streamingTotals: Map[String, Double] = lock.synchronized {
    def dur(k: String) = progress.map(p => Option(p.progress.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    Map(
      "batches" -> progress.size.toDouble,
      "trigger_ms" -> dur("triggerExecution"),
      "add_batch_ms" -> dur("addBatch"),
      "get_batch_ms" -> dur("getBatch"),
      "latest_offset_ms" -> dur("latestOffset"),
      "query_planning_ms" -> dur("queryPlanning"),
      "wal_commit_ms" -> dur("walCommit"),
      "commit_offsets_ms" -> dur("commitOffsets"),
      // rows held in state at each stream's last progress, summed over streams
      "state_rows" -> progress.groupBy(_.progress.id).values
        .map(_.last.progress.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "state_commit_ms" -> progress.map(_.progress.stateOperators.map(_.commitTimeMs).sum).sum.toDouble)
  }
}
