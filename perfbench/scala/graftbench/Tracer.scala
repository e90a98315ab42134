package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters observed from outside graft: one `SparkListener` for jobs,
  * stages, tasks, task queueing, shuffle, spill and input records, and
  * one `QueryExecutionListener` for the Catalyst phase times each
  * executed query's `QueryExecution.tracker` recorded. Both are
  * registered only between [[attach]] and [[detach]], so untraced work,
  * in traced runs too, pays no listener dispatch. Callers take a
  * [[counters]] snapshot before and after the work they attribute and
  * [[Tracer.diff]] the two. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private var attached = false
  private val names = Seq(
    "jobs", "stages", "tasks", "job_us", "task_wait_us", "shuffle_bytes",
    "spill_bytes", "input_records", "queries", "analysis_us", "optimize_us",
    "plan_us")
  private val c: Map[String, AtomicLong] = names.map(_ -> new AtomicLong()).toMap
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  def attach(spark: SparkSession): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  /** Deliver the events posted so far, then stop listening. */
  def detach(spark: SparkSession): Unit = if (attached) {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
    attached = false
  }

  def counters(): Map[String, Long] = c.map { case (k, v) => k -> v.get() }

  def snapshot(): JsonNode = Tracer.toJson(counters())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t => add("job_us", (e.time - t) * 1000L))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    add("stages", 1)
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stageSubmitted.remove(e.stageInfo.stageId)
    ()
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageSubmitted.get(e.stageId)).foreach { t =>
      add("task_wait_us", math.max(0L, e.taskInfo.launchTime - t) * 1000L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_records", m.inputMetrics.recordsRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = {
    add("queries", 1)
    val p = qe.tracker.phases
    def us(name: String): Long = p.get(name).map(_.durationMs * 1000L).getOrElse(0L)
    add("analysis_us", us("analysis"))
    add("optimize_us", us("optimization"))
    add("plan_us", us("planning"))
  }
}

object Tracer {
  private val mapper = new ObjectMapper()

  def toJson(m: Map[String, Long]): JsonNode = {
    val o: ObjectNode = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    o
  }

  def diff(a: Map[String, Long], b: Map[String, Long]): JsonNode =
    toJson(b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) })
}

/** Storage memory held by cached or checkpointed RDD blocks, tracked
  * from block updates, with its peak since the last [[reset]], and the
  * number of distinct RDDs that ever stored a block (so an RDD cached
  * and released within one request still counts). Always registered:
  * memory is an end-to-end metric, not a trace. */
final class StorageMeter private () extends SparkListener {
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val rdds = ConcurrentHashMap.newKeySet[Int]()
  private val current = new AtomicLong()
  private val peakBytes = new AtomicLong()

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val size = info.memSize + info.diskSize
      val key = id.name
      if (size > 0) rdds.add(id.rddId)
      val old = if (size > 0) blocks.put(key, size) else blocks.remove(key)
      val now = current.addAndGet(size - (if (old == null) 0L else old.longValue))
      peakBytes.accumulateAndGet(now, (a: Long, b: Long) => math.max(a, b))
    }
  }

  def storedRdds: Int = rdds.size
  def peak: Long = peakBytes.get()
  def reset(): Unit = peakBytes.set(current.get())
}

object StorageMeter {
  def install(spark: SparkSession): StorageMeter = {
    val m = new StorageMeter()
    spark.sparkContext.addSparkListener(m)
    m
  }
}
