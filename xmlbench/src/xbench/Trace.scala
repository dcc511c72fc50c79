package xbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed region around a call into the library. `parent` is the id of
  * the enclosing span (-1 for a pass), `pass` the pass it belongs to.
  * Wall-clock millis are kept beside the monotonic nanos so spans line up
  * with Spark's job events.
  */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
    layer: String, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; spans are written out once, at exit. When
  * disabled, `span` only runs its body.
  */
final class Tracer {
  val spans = new ArrayBuffer[Span]()
  var enabled = false
  private var stack: List[Int] = Nil
  private var pass = -1

  def startPass(p: Int): Unit = pass = p

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the span ends
      stack = id :: stack
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, pass, name, layer, s0, System.nanoTime(),
          m0, System.currentTimeMillis())
      }
    }

  def ofPass(p: Int): Seq[Span] = spans.iterator.filter(s => s != null && s.pass == p).toSeq

  /** Self time per layer: each span's duration minus what its children cover. */
  def selfSeconds(passes: Int => Boolean): Map[String, Double] = {
    val done = spans.iterator.filter(s => s != null && passes(s.pass)).toSeq
    val childTime = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    done.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def toJsonLines: Iterator[String] = spans.iterator.filter(_ != null).map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
      "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
  }
}

final case class TaskRec(stage: Int, durationMs: Long)
final case class JobRec(startMs: Long, endMs: Long)

/** Engine counters from Spark's public listener APIs, read at pass
  * boundaries after the listener bus has drained.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var planNs = 0L
  val taskRecs = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobRecs = new ConcurrentLinkedQueue[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs += 1
    Option(jobStarts.remove(e.jobId)).foreach(s => jobRecs.add(JobRec(s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    taskRecs.add(TaskRec(e.stageId, e.taskInfo.duration))
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(sc: SparkContext): Snap = {
    org.apache.spark.XbenchBus.drain(sc)
    Snap(jobs, tasks, cpuNs, gcMs, shuffleWriteBytes, spillBytes, planNs,
      taskRecs.size, jobRecs.size)
  }

  def tasksBetween(a: Snap, b: Snap): Seq[TaskRec] =
    taskRecs.asScala.slice(a.taskCount, b.taskCount).toSeq

  def jobsBetween(a: Snap, b: Snap): Seq[JobRec] =
    jobRecs.asScala.slice(a.jobCount, b.jobCount).toSeq

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.XbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

final case class Snap(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, planNs: Long, taskCount: Int,
    jobCount: Int)
