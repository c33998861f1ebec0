package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around each call the harness makes into an engine layer.
  *
  * A span records its name, start, end, parent span and the operation
  * (one measured unit of work) it belongs to. Spans stay in memory and
  * are only aggregated (or dumped, with self times) when the run ends.
  * When tracing is off `span` is a plain call, so traced and untraced
  * runs execute the same harness code.
  */
object Trace {
  @volatile var enabled = false

  final case class Span(id: Int, name: String, op: String, parent: Int, start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[String](() => "")

  /** Tags every span (and every Spark job, through the thread-local
    * property the listener reads) started inside `f` with `op`.
    */
  def withOp[A](sc: org.apache.spark.SparkContext, op: String)(f: => A): A = {
    val prev = currentOp.get
    currentOp.set(op)
    sc.setLocalProperty(Counters.OpProperty, op)
    try f
    finally {
      currentOp.set(prev)
      sc.setLocalProperty(Counters.OpProperty, if (prev.isEmpty) null else prev)
    }
  }

  /** Starts `f` on a new thread inside the caller's current span and
    * operation (Spark's job properties are inherited by a new thread);
    * the returned function waits for the result and rethrows a failure.
    */
  def fork[A](f: => A): () => A = {
    val (op, parents) = (currentOp.get, stack.get)
    @volatile var result: Either[Throwable, A] = null
    val t = new Thread(() => {
      currentOp.set(op); stack.set(parents)
      result = try Right(f) catch { case e: Throwable => Left(e) }
    }, "perfbench-fork")
    t.start()
    () => { t.join(); result.fold(e => throw e, identity) }
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized { spans += Span(id, name, currentOp.get, parents.headOption.getOrElse(0), t0, t1) }
      }
    }

  def clear(): Unit = spans.synchronized(spans.clear())

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Total seconds spent in spans called `name`. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  /** Per-span durations of spans called `name`, in recording order. */
  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.seconds)

  /** Writes every span as one JSON line, with its self time (duration
    * minus the durations of its direct children).
    */
  def dump(out: java.io.PrintStream): Unit = {
    val ss = all
    val childTime = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.end - s.start).sum }
    ss.sortBy(_.start).foreach { s =>
      val self = (s.end - s.start) - childTime.getOrElse(s.id, 0L)
      out.println(
        s"""{"span":${s.id},"name":"${s.name}","op":"${s.op}","parent":${s.parent},""" +
          s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":$self}""")
    }
  }
}

/** Counts at the Spark runtime boundary: jobs, tasks, scheduling wait,
  * task run/CPU time, shuffle, spill and I/O bytes, plus per-operation
  * job wait (first task launch minus job submission). Registered by the
  * harness on traced runs only.
  */
class Counters extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskWaitMs = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val bytesRead = new AtomicLong
  val bytesWritten = new AtomicLong
  val sqlExecs = new AtomicLong
  val writeNs = new AtomicLong

  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobFirstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()

  def reset(): Unit = {
    Seq(jobs, tasks, taskWaitMs, taskRunMs, taskCpuNs, shuffleWrite, shuffleRead, spill,
      bytesRead, bytesWritten, sqlExecs, writeNs).foreach(_.set(0))
    Seq(stageSubmitted, stageJob, jobOp, jobSubmit, jobFirstLaunch).foreach(_.clear())
  }

  /** Events arriving while inactive (checks, set-up) are not counted. */
  @volatile var active = false

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    jobs.incrementAndGet()
    jobSubmit.put(e.jobId, e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty(Counters.OpProperty)))
      .foreach(jobOp.put(e.jobId, _))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      jobFirstLaunch.merge(j, e.taskInfo.launchTime, (a, b) => math.min(a, b))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.containsKey(e.stageId)) countTask(e)

  private def countTask(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val info = e.taskInfo
    Option(stageSubmitted.get(e.stageId)).foreach(s => taskWaitMs.addAndGet(math.max(0L, info.launchTime - s)))
    taskRunMs.addAndGet(info.duration)
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) {
      sqlExecs.incrementAndGet()
      if (qe.analyzed.nodeName == Counters.FileWrite) writeNs.addAndGet(durationNs)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (active) sqlExecs.incrementAndGet()

  /** Job wait per operation id: Σ over the operation's jobs of (first
    * task launch − job submission), in seconds.
    */
  def jobWaitByOp: Map[String, Double] =
    jobOp.asScala.toSeq.groupBy(_._2).map { case (op, js) =>
      op -> js.map { case (j, _) =>
        val launch = jobFirstLaunch.get(j)
        val submit = jobSubmit.get(j)
        if (launch == null || submit == null) 0.0 else math.max(0L, launch - submit) / 1e3
      }.sum
    }
}

object Counters {
  val OpProperty = "perfbench.op"

  /** The counters of the measured session, while its window is open. */
  @volatile var live: Option[(org.apache.spark.SparkContext, Counters)] = None

  def start(sc: org.apache.spark.SparkContext, c: Counters): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    c.reset(); c.active = true; live = Some(sc -> c)
  }

  def stop(): Unit = {
    live.foreach { case (sc, c) => org.apache.spark.perfbench.ListenerBus.drain(sc); c.active = false }
    live = None
  }

  /** Runs `f` (a result check that itself runs Spark work) uncounted:
    * the bus is drained on both sides, so every event before `f` is
    * counted and none of `f`'s are. For one client at a time only.
    */
  def excluded[A](f: => A): A = live match {
    case None => f
    case Some((sc, c)) =>
      org.apache.spark.perfbench.ListenerBus.drain(sc); c.active = false
      try f finally { org.apache.spark.perfbench.ListenerBus.drain(sc); c.active = true }
  }
  /** The command that writes a sink's files; table sinks nest it inside
    * their save and create-as-select commands.
    */
  val FileWrite = "InsertIntoHadoopFsRelationCommand"
}
