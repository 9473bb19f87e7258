package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region on the driver thread: the run, a pass, an operation,
  * or an operation's build/action phase. Times are epoch milliseconds,
  * the clock Spark stamps its own listener events with. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Long, var endMs: Long = -1L)

final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int], span: Int)
final case class StageRec(id: Int, site: String, submitMs: Long, doneMs: Long)
final case class TaskAgg(var tasks: Int = 0, var runMs: Long = 0L, var cpuNs: Long = 0L,
    var gcMs: Long = 0L, var inputBytes: Long = 0L, var shuffleRead: Long = 0L,
    var shuffleWrite: Long = 0L, var spill: Long = 0L)
final case class ProgressRec(timeMs: Long, batchMs: Long, walCommitMs: Long,
    stateCommitMs: Long, stateRows: Long)

/**
 * In-memory tracer for the traced run: one `SparkListener`, one
 * `StreamingQueryListener` and one `QueryExecutionListener`. The driver
 * thread opens and closes spans; the listeners record Spark's events
 * with Spark's own timestamps, and everything is attributed to the
 * innermost span covering it when the run ends. Nothing is written out
 * until then.
 */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val taskAggs = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()
  private val progress = new ConcurrentLinkedQueue[ProgressRec]()
  // per successful query execution: (start of its planning phase, ms of
  // analysis + optimization + planning)
  private val planPhases = new ConcurrentLinkedQueue[(Long, Long)]()

  /** Open a span under the innermost open one; the job-span local
    * property lets the listener attribute jobs the driver thread (or a
    * thread it starts, such as a stream's) submits while it is open. */
  def begin(kind: String, name: String, sc: org.apache.spark.SparkContext): Span = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), kind, name,
      System.currentTimeMillis())
    spans += s
    open.push(s)
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    s
  }

  def end(s: Span, sc: org.apache.spark.SparkContext): Unit = {
    s.endMs = System.currentTimeMillis()
    open.pop()
    sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.add(JobRec(e.jobId, e.time, e.stageIds, span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, Tracer.callSite(i.details),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = taskAggs.computeIfAbsent(e.stageId, _ => TaskAgg())
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      for (planning <- ph.get("planning"))
        planPhases.add(planning.startTimeMs ->
          Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      progress.add(ProgressRec(
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.batchDuration, ms("walCommit"),
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  /** Per-span totals, self-contained: each layer counter of a span
    * covers the jobs and progress events attributed to it and to every
    * span below it. `self_ms` is the span's wall time minus its
    * children's. */
  def report(): Seq[Map[String, Any]] = {
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(id: Int): List[Int] =
      if (id < 0) Nil else id :: ancestors(byId(id).parent)
    def innermost(t: Long): Int = {
      val c = spans.filter(s => s.startMs <= t && t <= s.endMs)
      if (c.isEmpty) -1 else c.maxBy(_.id).id
    }
    val stageById = stages.asScala.map(s => s.id -> s).toMap
    // A later job lists a stage an earlier one already ran (and skips
    // it); the stage's work belongs to the first job that lists it.
    val owner = jobs.asScala.toSeq.sortBy(_.id).reverse
      .flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    val acc = mutable.Map.empty[Int, mutable.Map[String, Double]]
    def add(span: Int, k: String, v: Double): Unit =
      for (a <- ancestors(span)) {
        val m = acc.getOrElseUpdate(a, mutable.Map.empty)
        m(k) = m.getOrElse(k, 0.0) + v
      }
    val busy = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    for (j <- jobs.asScala) {
      val span = if (j.span >= 0) j.span else innermost(j.startMs)
      val end = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.startMs)
      for (a <- ancestors(span)) busy.getOrElseUpdate(a, mutable.ArrayBuffer.empty) +=
        (j.startMs -> end)
      add(span, "jobs", 1)
      for (sid <- j.stageIds if owner(sid) == j.id; st <- stageById.get(sid)) {
        val t = Option(taskAggs.get(sid)).getOrElse(TaskAgg())
        add(span, "stages", 1)
        add(span, "tasks", t.tasks)
        add(span, "task_run_ms", t.runMs)
        add(span, "task_cpu_ms", t.cpuNs / 1e6)
        add(span, "task_gc_ms", t.gcMs)
        add(span, "input_bytes", t.inputBytes)
        add(span, "shuffle_read_bytes", t.shuffleRead)
        add(span, "shuffle_write_bytes", t.shuffleWrite)
        add(span, "spill_bytes", t.spill)
        add(span, s"site:${st.site}:stages", 1)
        add(span, s"site:${st.site}:tasks", t.tasks)
        add(span, s"site:${st.site}:ms", (st.doneMs - st.submitMs).toDouble)
      }
      // a job counts once per call site: the site of its last stage
      j.stageIds.lastOption.flatMap(stageById.get).foreach(st =>
        add(span, s"site:${st.site}:jobs", 1))
    }
    for (p <- progress.asScala) {
      val span = innermost(p.timeMs)
      add(span, "batches", 1)
      add(span, "batch_ms", p.batchMs)
      add(span, "wal_commit_ms", p.walCommitMs)
      add(span, "state_commit_ms", p.stateCommitMs)
      add(span, "state_rows", p.stateRows)
    }
    // an execution's plan cost belongs to the span it was planned in: the
    // action that ran it (its analysis may have run earlier, in the build)
    for ((start, ms) <- planPhases.asScala)
      add(innermost(start), "plan_ms", ms.toDouble)
    val childMs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endMs - c.startMs).sum }
    spans.toSeq.map { s =>
      val wall = s.endMs - s.startMs
      val intervals = busy.getOrElse(s.id, mutable.ArrayBuffer.empty)
        .map { case (a, b) => (a max s.startMs, b min s.endMs) }.filter(x => x._1 < x._2)
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "wall_ms" -> wall,
        "self_ms" -> (wall - childMs.getOrElse(s.id, 0L)),
        "job_busy_ms" -> Tracer.unionLength(intervals.toSeq),
        "counters" -> acc.getOrElse(s.id, mutable.Map.empty).toMap)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Total length of the union of [start, end) intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- xs.sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    total + (curE - curS)
  }

  /** The first graft frame of a stage's call-site stack, as
    * `File.scala:method`, without the line number, so a site keeps its
    * name when code around it moves. Non-graft stacks fall back to the
    * stage's own short name, again without the line. */
  def callSite(details: String): String = {
    val Frame = """\s*(?:at\s+)?graft\.([\w.$]+)\.([\w$]+)\((\w+\.scala):\d+\)""".r
    details.linesIterator.collectFirst { case Frame(cls, method, file) =>
      val m = method.replaceAll("""^\$anonfun\$""", "").replaceAll("""\$\d+$""", "")
        .replaceAll("""\$.*$""", "")
      s"$file:$m"
    }.getOrElse("other")
  }
}
