package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the harness' own records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * line up with the listener's epoch-millisecond job times.
  */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def ms(): Double = (System.nanoTime() + base) / 1e6
}

/** The traced run's recorder. When `enabled` and [[start]]ed, [[span]]
  * keeps (name, start, end, parent, op) records in memory and tags the
  * Spark jobs the calling thread fires with a job group naming the
  * span; listeners collect per-job, per-SQL-execution, GC and
  * cache-size records. All of it is written out by [[dump]] when the
  * run ends. Otherwise [[span]] only runs its body.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val GroupKey = "spark.jobGroup.id"

  private val spans = new ConcurrentLinkedQueue[SpanRec]()
  private val nextId = new AtomicInteger()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String, op: Long)(body: => T): T =
    if (!started) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      val prevGroup = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, s"perfbench:$id")
      stack.set(id :: stack.get)
      val t0 = Clock.ms()
      try body
      finally {
        spans.add(SpanRec(id, name, t0, Clock.ms(), parent, op))
        stack.set(stack.get.tail)
        sc.setLocalProperty(GroupKey, prevGroup)
      }
    }

  // ---- Spark jobs, stages, tasks ----

  private final class JobRec(val job: Int, val group: String, val submit: Long) {
    var end = 0L
    var stages, tasks = 0
    var taskMs, schedMs, shuffleWrite, shuffleRead, spill, inputBytes,
        inputRecords = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).map(_.getProperty(GroupKey)).orNull
      jobs(e.jobId) = new JobRec(e.jobId, group, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        val i = e.taskInfo
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.schedMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
  }

  // ---- Catalyst: planning phases and scan metrics per execution ----

  private val sqlRecs = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def dur(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      val ss = scans(qe.executedPlan)
      def metric(k: String) = ss.flatMap(_.metrics.get(k)).map(_.value).sum
      sqlRecs.add(Map("func" -> func, "start_ms" -> start,
        "analysis_ms" -> dur("analysis"), "optimization_ms" -> dur("optimization"),
        "planning_ms" -> dur("planning"), "files" -> metric("numFiles"),
        "partitions" -> metric("numPartitions")))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- JVM: GC time and the heap left after each collection ----

  private val heapAfterGcPeak = new AtomicLong()
  private val gcListener: javax.management.NotificationListener = (n, _) =>
    if (n.getType ==
        com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.values().asScala
        .map(_.getUsed).sum
      heapAfterGcPeak.accumulateAndGet(after, math.max)
    }
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs = gcBeans.map(_.getCollectionTime).sum

  // ---- cached-table bytes (SparkContext.getRDDStorageInfo) ----

  private val persistedPeak = new AtomicLong()
  @volatile private var polling = false
  private val poller = new Thread(() => {
    while (polling) {
      val b = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      persistedPeak.accumulateAndGet(b, math.max)
      Thread.sleep(20)
    }
  }, "perfbench-storage-poller")
  poller.setDaemon(true)

  private var gcAtStart = 0L
  private var startMs = 0.0
  @volatile private var started = false

  /** Start collecting (no-op unless enabled). */
  def start(): Unit = if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    gcBeans.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener(gcListener, null, null)
      case _ =>
    }
    gcAtStart = gcMs
    startMs = Clock.ms()
    started = true
    polling = true
    poller.start()
  }

  /** Stop collecting and write spans.jsonl, jobs.jsonl, sql.jsonl into
    * `dir`; returns the run-level counters for the result record.
    */
  def dump(dir: java.nio.file.Path): Map[String, Any] = {
    if (!enabled) return Map.empty
    polling = false
    poller.join()
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
    gcBeans.foreach {
      case e: javax.management.NotificationEmitter =>
        e.removeNotificationListener(gcListener)
      case _ =>
    }
    def write(name: String, rows: Iterable[Map[String, Any]]): Unit =
      scala.util.Using.resource(new PrintWriter(dir.resolve(name).toFile, "UTF-8")) { w =>
        rows.foreach(r => w.println(Json(r)))
      }
    write("spans.jsonl", spans.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
      "parent" -> s.parent, "op" -> s.op)))
    write("jobs.jsonl", synchronized(jobs.values.toList).map(j => Map(
      "job" -> j.job,
      "span" -> Option(j.group).filter(_.startsWith("perfbench:"))
        .map(_.stripPrefix("perfbench:").toInt).getOrElse(0),
      "submit_ms" -> j.submit, "end_ms" -> j.end, "stages" -> j.stages,
      "tasks" -> j.tasks, "task_ms" -> j.taskMs, "sched_ms" -> j.schedMs,
      "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
      "spill" -> j.spill, "input_bytes" -> j.inputBytes,
      "input_records" -> j.inputRecords)))
    write("sql.jsonl", sqlRecs.asScala)
    Map("gc_ms" -> (gcMs - gcAtStart),
      "heap_after_gc_peak_mb" -> heapAfterGcPeak.get / 1048576.0,
      "persisted_bytes_peak" -> persistedPeak.get,
      "trace_start_ms" -> startMs, "trace_end_ms" -> Clock.ms())
  }
}

object Trace {
  private final case class SpanRec(id: Int, name: String, start: Double,
      end: Double, parent: Int, op: Long)
}
