package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution:
  * one epoch anchor plus nanoTime deltas, so span bounds compare
  * directly with Spark's task launch/finish times (epoch ms). */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Memory peaks over a measuring window.
  *
  * Managed: the most memory Spark held at once (execution plus storage,
  * on and off heap) above what it held when the window or the
  * execution began, sampled every millisecond by a thread that runs
  * only inside the window. Caches, broadcasts, large task results and
  * sort/aggregation/join buffers all pass through it, and it counts
  * bytes held, not garbage. Broadcast blocks of earlier queries stay
  * until a GC lets Spark's cleaner drop them; starting from the level
  * at hand keeps them out.
  *
  * Old generation: the largest old generation right after a GC, from
  * the JMX GC notifications. Under G1 it also holds dead promoted
  * objects and whatever large buffers are live at the moment of the
  * GC, so it varies with when collections fall. */
object MemoryPeaks {
  @volatile private var on = false
  private val oldGen = new AtomicLong(0L)
  private val managed = new AtomicLong(0L)
  private var windowBase = 0L
  private var sampler: Thread = null

  private val listener: NotificationListener = (n, _) =>
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") => u.getUsed
      }.sum
      oldGen.accumulateAndGet(old, math.max)
    }

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }

  /** Restart the managed peak at the level Spark holds now, and return it. */
  def mark(): Long = {
    val now = org.apache.spark.perfbench.ManagedMemory.usedBytes()
    managed.set(now)
    now
  }

  /** The managed peak since `mark()` returned `base`, above `base`, MB. */
  def managedAboveMb(base: Long): Double = (managed.get - base) / 1048576.0

  /** Start a measuring window. */
  def start(): Unit = {
    oldGen.set(0L)
    windowBase = mark()
    on = true
    sampler = new Thread(() => while (on) {
      managed.accumulateAndGet(org.apache.spark.perfbench.ManagedMemory.usedBytes(), math.max)
      Thread.sleep(1)
    }, "perfbench-memory")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** End the window: (managed peak above the window's start, peak old
    * generation after a GC), MB. */
  def stopMb(): (Double, Double) = {
    on = false
    sampler.join()
    (managedAboveMb(windowBase), oldGen.get / 1048576.0)
  }
}

/** Spans around the calls into each layer, kept in memory and written
  * out at the end. Spark jobs are attributed to the span open on the
  * submitting thread through a job-group-style local property. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val queries = new ConcurrentLinkedQueue[Query]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  /** Run f inside a span. With `outputs`, the span also counts the data
    * files that appear under that directory while it is open. */
  def span[A](name: String, detail: String = "", outputs: Option[String] = None)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    sc.setLocalProperty(SpanProp, id.toString)
    val before = outputs.map(dataFiles)
    val t0 = Clock.nowMs
    try f
    finally {
      val t1 = Clock.nowMs
      val files = outputs.map(d => (dataFiles(d) -- before.get).size.toLong).getOrElse(0L)
      spans.add(Span(id, parent, name, detail, t0, t1, files))
      stack.set(stack.get.tail)
      sc.setLocalProperty(SpanProp, stack.get.headOption.map(_.toString).orNull)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      e.stageIds.foreach(s => stageSpan.put(s, sid))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) tasks.add(Task(
        stageSpan.getOrDefault(e.stageId, 0), e.stageId, info.launchTime, info.finishTime,
        m.executorCpuTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        queries.add(Query(phases.map(_.startTimeMs).min.toDouble, phases.map(_.durationMs).sum / 1e3))
    }
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Deliver every queued listener event before the spans are read. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)
}

object Tracer {
  val SpanProp = "graft.perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, detail: String,
      startMs: Double, endMs: Double, files: Long)
  final case class Task(span: Int, stage: Int, launchMs: Long, finishMs: Long,
      cpuNs: Long, runMs: Long, shuffleBytes: Long, spillBytes: Long)
  /** One planned query: when planning began, and its planning seconds. */
  final case class Query(startMs: Double, planS: Double)

  /** Published data files (parquet, csv) under dir. */
  def dataFiles(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Set.empty
    else {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator.asScala.map(_.toString)
        .filter(p => (p.endsWith(".parquet") || p.endsWith(".csv")) && !p.contains("_temporary"))
        .toSet
      finally walk.close()
    }
  }

  def toJson(t: Tracer): Json.Value = Json.obj(
    "spans" -> Json.arr(t.spans.asScala.toSeq.sortBy(_.id).map(s => Json.arr(Seq(
      Json.num(s.id), Json.num(s.parent), Json.str(s.name), Json.str(s.detail),
      Json.num(s.startMs), Json.num(s.endMs), Json.num(s.files))))),
    "tasks" -> Json.arr(t.tasks.asScala.toSeq.map(k => Json.arr(Seq(
      Json.num(k.span), Json.num(k.stage), Json.num(k.launchMs), Json.num(k.finishMs),
      Json.num(k.cpuNs), Json.num(k.runMs), Json.num(k.shuffleBytes), Json.num(k.spillBytes))))),
    "queries" -> Json.arr(t.queries.asScala.toSeq.map(q => Json.arr(Seq(
      Json.num(q.startMs), Json.num(q.planS))))),
  )
}
