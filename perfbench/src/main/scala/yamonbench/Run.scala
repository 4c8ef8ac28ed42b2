package yamonbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run: its session, seed, time budget, scratch directory
  * and everything it measures. Workloads report end-to-end samples with
  * [[sample]] and named layer values with [[layer]]; every attempted
  * operation goes through [[attempt]], and every output check through
  * [[check]], so failures are counted and named, never swallowed.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: File) {

  val cores: Int = spark.sparkContext.defaultParallelism
  val telemetry: Option[Telemetry] = if (traced) Some(new Telemetry) else None

  private val attempts = new AtomicLong()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val samples = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val layers = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val setups = new ConcurrentLinkedQueue[Double]()

  private val streams = new ConcurrentLinkedQueue[(String, String)]()

  /** Remembers a started stream's id under its role ("raw" or "lts"). */
  def stream(role: String, id: java.util.UUID): Unit = streams.add(role -> id.toString): Unit

  def streamIds(role: String): Set[String] =
    streams.asScala.collect { case (`role`, id) => id }.toSet

  def attempted: Long = attempts.get
  def failed: Seq[String] = failures.asScala.toSeq

  /** Runs one counted operation; a throw is recorded under `name` and
    * yields None.
    */
  def attempt[A](name: String)(body: => A): Option[A] = {
    attempts.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable =>
        failures.add(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        System.err.println(s"[perfbench] failed $name: $e")
        None
    }
  }

  /** A correctness check: counted like an operation, failing under its
    * own name.
    */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempts.incrementAndGet()
    if (!ok) {
      failures.add(s"check $name: $detail")
      System.err.println(s"[perfbench] check failed $name: $detail")
    }
  }

  /** Records a failure of an operation already counted by [[attempt]]. */
  def fail(name: String, detail: String): Unit = {
    failures.add(s"$name: $detail")
    System.err.println(s"[perfbench] failed $name: $detail")
  }

  def sample(metric: String, v: Double): Unit =
    samples.computeIfAbsent(metric, _ => new ConcurrentLinkedQueue[Double]()).add(v): Unit

  def samplesOf(metric: String): Seq[Double] =
    Option(samples.get(metric)).map(_.asScala.toSeq).getOrElse(Nil)

  def allSamples: Map[String, Seq[Double]] =
    samples.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap

  def layer(metric: String, v: Double): Unit = layers.put(metric, v): Unit

  def layerValues: Map[String, Double] = layers.asScala.toMap

  /** Times one set-up repetition. */
  def setup[A](body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    setups.add((System.nanoTime() - t0) / 1e9)
    r
  }

  def setupSeconds: Seq[Double] = setups.asScala.toSeq

  /** A fresh scratch directory under the run's work dir. */
  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

object Run {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }
}
