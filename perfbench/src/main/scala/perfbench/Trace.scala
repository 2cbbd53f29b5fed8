package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval. Times are nanoseconds since the tracer's origin;
  * `op` is the op id (workload/op/rep) the interval belongs to. */
final case class Span(id: Long, parent: Long, name: String, op: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are kept only when `enabled`; the
  * timing helpers work either way, so the untraced run measures the
  * same calls without the bookkeeping. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(1L)
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def nowNs: Long = System.nanoTime() - originNs
  /** Listener events carry epoch milliseconds; map them onto our clock. */
  def fromEpochMs(ms: Long): Long = (ms - originEpochMs) * 1000000L
  def newId(): Long = ids.getAndIncrement()
  def current: Long = stack.get.headOption.getOrElse(0L)

  def add(s: Span): Unit = if (enabled) recorded.synchronized { recorded += s }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  /** Runs `f` inside a span and returns its result and wall time (ms). */
  def timed[A](name: String, op: String, id: Long = newId())(f: => A): (A, Double) = {
    val parent = current
    stack.set(id :: stack.get)
    val s = nowNs
    try {
      val a = f
      (a, (nowNs - s) / 1e6)
    } finally {
      add(Span(id, parent, name, op, s, nowNs))
      stack.set(stack.get.tail)
    }
  }

  def span[A](name: String, op: String)(f: => A): A = timed(name, op)(f)._1
}

/** Per-op engine counters, summed over every task the op ran. */
final class EngineAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  /** Task run times per stage, and each stage's wall, for skew. */
  val stageRuns = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
  val stageWall = mutable.Map.empty[Long, Long]

  /** Max over median task run time in the op's longest stage. */
  def skew: Double =
    if (stageWall.isEmpty) 1.0
    else {
      val runs = stageRuns.getOrElse(stageWall.maxBy(_._2)._1,
        mutable.ArrayBuffer(1L)).sorted
      val med = math.max(1L, runs(runs.length / 2))
      math.max(1L, runs.last).toDouble / med
    }
}

/** Counts jobs, stages and tasks per op (the op id travels in the local
  * property [[EngineListener.OpKey]]) and, when tracing, records job,
  * stage and task spans under the op's span. */
final class EngineListener(tracer: Tracer) extends SparkListener {
  import EngineListener._
  private val aggs = mutable.Map.empty[String, EngineAgg]
  private val stageOp = mutable.Map.empty[Int, (String, Long)]
  private val jobs = mutable.Map.empty[Int, (String, Long, Long, Long)]
  private val stageSpan = mutable.Map.empty[Long, (Long, Long)]

  private def agg(op: String): EngineAgg = aggs.getOrElseUpdate(op, new EngineAgg)
  private def stageKey(id: Int, attempt: Int): Long = id.toLong << 16 | attempt

  /** Removes and returns the counters of `op` (read after BusDrain). */
  def take(op: String): EngineAgg = synchronized(aggs.remove(op).getOrElse(new EngineAgg))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse(NoOp)
    val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
    val id = tracer.newId()
    jobs(e.jobId) = (op, id, parent, e.time)
    e.stageIds.foreach(s => stageOp(s) = (op, id))
    agg(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    stageOp.filterInPlace { case (_, (_, job)) => jobs.get(e.jobId).forall(_._2 != job) }
    jobs.remove(e.jobId).foreach { case (op, id, parent, start) =>
      tracer.add(Span(id, parent, "engine.job", op,
        tracer.fromEpochMs(start), tracer.fromEpochMs(e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val start = info.submissionTime.getOrElse(System.currentTimeMillis())
    stageSpan(stageKey(info.stageId, info.attemptNumber())) = (tracer.newId(), start)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val key = stageKey(info.stageId, info.attemptNumber())
    val (op, jobSpan) = stageOp.getOrElse(info.stageId, (NoOp, 0L))
    val a = agg(op)
    a.stages += 1
    val (id, start) = stageSpan.remove(key)
      .getOrElse((tracer.newId(), info.submissionTime.getOrElse(0L)))
    val end = info.completionTime.getOrElse(System.currentTimeMillis())
    a.stageWall(key) = end - start
    tracer.add(Span(id, jobSpan, "engine.stage", op,
      tracer.fromEpochMs(start), tracer.fromEpochMs(end)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (op, _) = stageOp.getOrElse(e.stageId, (NoOp, 0L))
    val a = agg(op)
    a.tasks += 1
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime
      a.runMs += run
      // the Spark UI's definition: task duration not spent deserializing,
      // running, serializing the result or fetching it
      a.schedulerDelayMs += math.max(0L, info.duration - run -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.resultBytes += m.resultSize
      a.stageRuns.getOrElseUpdate(stageKey(e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += run
    }
    if (tracer.enabled) {
      val parent = stageSpan.get(stageKey(e.stageId, e.stageAttemptId)).map(_._1).getOrElse(0L)
      tracer.add(Span(tracer.newId(), parent, "engine.task", op,
        tracer.fromEpochMs(info.launchTime), tracer.fromEpochMs(info.finishTime)))
    }
  }
}

object EngineListener {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val NoOp = "-"
}

/** Keeps every micro-batch progress of the streaming queries an op runs;
  * the op is named by [[current]] (stream ops run one at a time). */
final class StreamListener extends StreamingQueryListener {
  @volatile var current: String = EngineListener.NoOp
  private val byOp = mutable.Map.empty[String, mutable.ArrayBuffer[StreamingQueryProgress]]

  def take(op: String): Seq[StreamingQueryProgress] =
    synchronized(byOp.remove(op).map(_.toList).getOrElse(Nil))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      byOp.getOrElseUpdate(current, mutable.ArrayBuffer.empty) += e.progress
    }
}
