package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work counters, summed over every task that ends. */
final class Counters extends SparkListener {
  private val c = Array.fill(8)(new AtomicLong)
  override def onJobStart(e: SparkListenerJobStart): Unit = { c(0).incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(1).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(2).addAndGet(m.executorRunTime)
      c(3).addAndGet(m.jvmGCTime)
      c(4).addAndGet(m.inputMetrics.bytesRead)
      c(5).addAndGet(m.inputMetrics.recordsRead)
      c(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(7).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snapshot(): Array[Long] = c.map(_.get)
}

object Counters {
  /** Names of the snapshot slots, in order. */
  val Names = Seq("jobs", "tasks", "task_ms", "gc_ms", "in_bytes", "in_records",
    "shuffle_bytes", "spill_bytes")
}

/** Times calls into graft. Untraced, it only measures durations. Traced,
  * it also keeps a span per call (name, start, end, parent, operation)
  * with the Spark counters that moved inside it; spans stay in memory
  * until [[spansJson]] writes them out at the end of the run. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  private val counters: Option[Counters] =
    if (on) { val l = new Counters; spark.sparkContext.addSparkListener(l); Some(l) } else None
  private val spans = ArrayBuffer.empty[String]
  private var nextId = 0
  private var stack: List[Int] = Nil
  var op: String = ""

  /** Runs body; returns its value and its duration in seconds. */
  def span[T](name: String, arg: String = "", bytes: Long = 0L)(body: => T): (T, Double) = {
    if (!on) {
      val t0 = System.nanoTime()
      val v = body
      return (v, (System.nanoTime() - t0) / 1e9)
    }
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val before = snapshot()
    val t0 = System.nanoTime()
    val v = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    val after = snapshot()
    spans += Json.obj("type" -> Json.str("span"), "name" -> Json.str(name),
      "id" -> id.toString, "parent" -> parent.toString, "op" -> Json.str(op),
      "arg" -> Json.str(arg), "bytes" -> bytes.toString, "t0" -> t0.toString, "t1" -> t1.toString,
      "c" -> Json.obj(Counters.Names.indices.map(i => Counters.Names(i) -> (after(i) - before(i)).toString): _*))
    (v, (t1 - t0) / 1e9)
  }

  private def snapshot(): Array[Long] = counters match {
    case Some(c) => BenchBus.drain(spark.sparkContext); c.snapshot()
    case None => Array.emptyLongArray
  }

  def spansJson: Seq[String] = spans.toSeq
}
