package yamonbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** In-memory spans for the traced run. A span has a name, the layer it
  * belongs to, start and end (epoch ms), a parent span and the request id
  * shared by every span of one request. With tracing off, [[span]] only
  * runs its body.
  */
object Trace {
  final case class Span(id: Long, name: String, layer: String, req: Long,
      parent: Long, start: Double, end: Double) {
    def ms: Double = end - start
  }

  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val parents = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val epochAtStart = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()

  /** Epoch ms of a `System.nanoTime` reading. */
  def epochMs(nanos: Long): Double = epochAtStart + (nanos - nanoAtStart) / 1e6

  def newRequest(): Long = ids.incrementAndGet()

  def span[A](name: String, layer: String, req: Long = 0L)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = parents.get
      parents.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        parents.set(stack)
        spans.add(Span(id, name, layer, req, stack.headOption.getOrElse(0L),
          epochMs(t0), epochMs(System.nanoTime())))
      }
    }

  /** Records a span observed by a listener rather than timed in place. */
  def add(name: String, layer: String, start: Double, end: Double,
      parent: Long = 0L, req: Long = 0L): Long = {
    val id = ids.incrementAndGet()
    if (on) spans.add(Span(id, name, layer, req, parent, start, end))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

/** Spark's public listener buses, read by the benchmark: task metrics and
  * job intervals from a [[SparkListener]], micro-batch progress from a
  * [[StreamingQueryListener]]. Registered for the traced run only.
  */
final class Telemetry extends SparkListener {
  import Telemetry._

  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[(Double, Double)]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
      m.executorRunTime.toDouble, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, e.stageId))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time.toDouble): Unit

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add((s, e.time.toDouble)))

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress): Unit
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streams)
  }
}

object Telemetry {
  final case class TaskRec(start: Double, end: Double, runMs: Double,
      cpuMs: Double, gcMs: Double, rowsIn: Long, bytesIn: Long,
      shuffleBytes: Long, spillBytes: Long, stage: Int)
}
