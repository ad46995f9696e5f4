package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed call: epoch-ms interval (for job attribution), duration, GC
  * time inside it, and RDD storage held before and after (traced passes).
  */
final case class Span(op: String, startMs: Long, endMs: Long, ms: Double, gcMs: Long,
    heldBefore: Long, heldAfter: Long)

/** One pass over a workload's operations. The driver thread issues the
  * calls one after another (a closed loop with one client). Only the calls
  * themselves, including consuming their output, are timed; output checks
  * run between calls, untimed. An operation fails if it throws or if its
  * check reports an error.
  */
final class Pass(val spark: SparkSession, recorder: Option[Recorder]) {
  val spans = mutable.ArrayBuffer[Span]()
  val counters = mutable.LinkedHashMap[String, Double]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0
  var digest = 0L
  private var adjustedS = 0.0

  def traced: Boolean = recorder.isDefined
  def failed: Int = failures.size
  def ms: Double = spans.map(_.ms).sum

  /** Timed seconds with hypervisor steal taken out (see [[Stopwatch]]). */
  def seconds: Double = adjustedS

  private def held(): Long = recorder.fold(0L) { r =>
    Recorder.drain(spark.sparkContext)
    r.storageHeld
  }

  /** Time `body` as operation `name`; `check` returns error messages. */
  def op[T](name: String)(body: => T)(check: T => Seq[String]): Option[T] = {
    attempted += 1
    val sc = spark.sparkContext
    val before = held()
    val gc0 = Pass.gcMs()
    sc.setLocalProperty(Recorder.OpKey, name)
    val w0 = System.currentTimeMillis()
    val sw = new Stopwatch
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    sw.stop()
    val w1 = System.currentTimeMillis()
    sc.setLocalProperty(Recorder.OpKey, null)
    adjustedS += sw.seconds
    spans += Span(name, w0, w1, sw.wallS * 1000, Pass.gcMs() - gc0, before, held())
    result match {
      case Left(e) =>
        failures += s"$name threw ${e.toString.take(300)}"
        None
      case Right(v) =>
        val errs = try check(v) catch { case e: Throwable => Seq(s"check threw $e") }
        if (errs.nonEmpty) failures += s"$name: ${errs.take(3).mkString("; ")}"
        Some(v)
    }
  }

  /** Fold a value into this pass's output digest. */
  def mix(v: Long): Unit = digest = digest * 0x100000001B3L ^ v
}

object Pass {
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
