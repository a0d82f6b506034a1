package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span: a call from the benchmark into one layer. `parent` is the
  * enclosing span's id (-1 for an op's root span). */
final case class Span(id: Int, name: String, op: Long, parent: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` only runs its body: the
  * untraced runs read no extra clocks and keep no records. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var op = -1L

  def beginOp(opId: Long): Unit = { op = opId; stack.clear() }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, op, parent, System.nanoTime(), -1L)
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Durations (ms) of every span named `name`. */
  def durations(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Self time of each span: its duration minus the part its children cover. */
  def selfMs: Map[Int, Double] = {
    val child = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.ms)
    spans.iterator.map(s => s.id -> (s.ms - child(s.id))).toMap
  }

  def writeTsv(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("id\tname\top\tparent\tstart_ns\tend_ns\n")
    spans.foreach(s => sb.append(s"${s.id}\t${s.name}\t${s.op}\t${s.parent}\t${s.startNs}\t${s.endNs}\n"))
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark work per op, counted by a listener keyed on the job group the
  * runner sets around every op (`op-<id>`). */
final class SparkCounter extends SparkListener {
  final class Counts {
    val jobs, stages, tasks = new AtomicLong
    val cpuNs, gcMs, deserMs, shRead, shWrite, spill, input = new AtomicLong
  }
  val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val open = new AtomicLong

  private def counts(g: String): Counts = byGroup.computeIfAbsent(g, _ => new Counts)
  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    open.incrementAndGet()
    groupOf(e.properties).foreach { g =>
      counts(g).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = open.decrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties).orElse(Option(stageGroup.get(e.stageInfo.stageId)))
    g.foreach { x =>
      stageGroup.put(e.stageInfo.stageId, x)
      counts(x).stages.incrementAndGet()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = counts(g)
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.deserMs.addAndGet(m.executorDeserializeTime)
        c.shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.input.addAndGet(m.inputMetrics.bytesRead)
      }
    }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the task-end count has settled. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    var stable = 0
    while (System.nanoTime() < deadline && stable < 3) {
      val now = byGroup.values.asScala.map(_.tasks.get).sum
      if (open.get == 0 && now == last) stable += 1 else stable = 0
      last = now
      Thread.sleep(100)
    }
  }
}

/** Session state that must not grow across a window: persisted RDDs,
  * CacheManager entries and temp views. Growth means later ops may be
  * served from caches an earlier op leaked. */
object Hygiene {
  final case class State(persistedRdds: Int, cachedPlans: Int, tempViews: Long)

  def snapshot(spark: SparkSession): State = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // CacheManager exposes no entry count; its entries live in `cachedData`
    val cached = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")) match {
      case Some(f) =>
        f.setAccessible(true)
        f.get(cm) match {
          case s: scala.collection.Seq[_] => s.size
          case _ => if (cm.isEmpty) 0 else 1
        }
      case None => if (cm.isEmpty) 0 else 1
    }
    State(spark.sparkContext.getPersistentRDDs.size, cached,
      spark.catalog.listTables().collect().count(_.isTemporary).toLong)
  }
}

/** Driver heap in use right after a full collection. The pauses between
  * collections let Spark's ContextCleaner drop the blocks and broadcasts the
  * first one freed (with 200 ms, whether it had run varied between runs). */
object Heap {
  def retainedMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(500); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
