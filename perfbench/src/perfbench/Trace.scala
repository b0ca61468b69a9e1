package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task and job totals, for one span or for a whole run. */
final class Acc {
  var taskMs = 0L      // executorRunTime summed over tasks
  var cpuNs = 0L       // executorCpuTime summed over tasks
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L       // bytes spilled to disk
  var peakMem = 0L     // largest per-task peak execution memory
  var maxTaskMs = 0L   // longest task (launch to finish)
  var jobs = 0
  var stages = 0
  var tasks = 0L

  def taskCoreS: Double = taskMs / 1000.0

  /** Totals of this minus `o`; maxima are kept from this. */
  def minus(o: Acc): Acc = {
    val d = new Acc
    d.taskMs = taskMs - o.taskMs; d.cpuNs = cpuNs - o.cpuNs; d.gcMs = gcMs - o.gcMs
    d.shuffleWrite = shuffleWrite - o.shuffleWrite; d.shuffleRead = shuffleRead - o.shuffleRead
    d.spill = spill - o.spill; d.peakMem = peakMem; d.maxTaskMs = maxTaskMs
    d.jobs = jobs - o.jobs; d.stages = stages - o.stages; d.tasks = tasks - o.tasks
    d
  }

  def add(o: Acc): Unit = {
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem); maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
  }
}

/** Attributes Spark jobs, stages and tasks to the span that was open on the
  * submitting thread. The span id travels as a Spark local property, which
  * Spark copies into every job's properties (and into the threads it spawns
  * for broadcasts and concurrent actions). Jobs submitted outside any span
  * land under id -1.
  */
final class LayerListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val accs = new ConcurrentHashMap[Int, Acc]()

  private def acc(span: Int): Acc = accs.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan.put(_, span))
    val a = acc(span)
    a.synchronized { a.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageSpan.getOrDefault(e.stageId, -1))
      a.synchronized {
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
        a.tasks += 1
      }
    }
  }

  /** Copy of the totals so far, per span id. */
  def snapshot(): Map[Int, Acc] = accs.asScala.map { case (k, v) =>
    val c = new Acc; v.synchronized(c.add(v)); k -> c
  }.toMap

  def total(): Acc = { val t = new Acc; snapshot().values.foreach(t.add); t }
}

/** One traced interval. `parent` is -1 for a root. Times are nanoTime. */
final case class Span(id: Int, name: String, parent: Int, runId: String, start: Long) {
  var end: Long = -1L
  def wallS: Double = (end - start) / 1e9
}

/** In-memory span recorder. `span` opens a child of the current span on the
  * calling thread and publishes its id to Spark for job attribution.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  val spans = ArrayBuffer[Span]()
  private var current = -1

  def span[T](name: String)(f: => T): T = {
    val s = Span(Tracer.nextId.getAndIncrement().toInt, name, current, runId, System.nanoTime())
    spans += s
    val prevProp = sc.getLocalProperty(Tracer.Key)
    val prev = current
    current = s.id
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try f finally {
      s.end = System.nanoTime()
      current = prev
      sc.setLocalProperty(Tracer.Key, prevProp)
    }
  }

  def byName(name: String): Option[Span] = spans.find(_.name == name)
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum

  /** Totals of a span including all its descendants. */
  def accOf(s: Span, accs: Map[Int, Acc]): Acc = {
    val t = new Acc
    accs.get(s.id).foreach(t.add)
    children(s).foreach(c => t.add(accOf(c, accs)))
    t
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""run_id":${Json.str(s.runId)},"start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val Key = "perfbench.span"
  private val nextId = new AtomicLong(0)
}

object Heap {
  private def used: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** Heap occupancy right after a full collection, in MB: the live data,
    * including the blocks an operation still holds. Spark's ContextCleaner
    * frees broadcast blocks and shuffle state only after a GC has cleared
    * their owners, on its own thread, so one GC leaves a varying amount of
    * dead data behind: collect again until the heap stops shrinking.
    */
  def liveMb(): Double = {
    var before = Long.MaxValue
    var after = used
    var rounds = 0
    while (rounds < 4 && before - after > (1L << 20)) {
      before = after
      System.gc()
      Thread.sleep(300)
      after = used
      rounds += 1
    }
    after / 1048576.0
  }
}

/** Host CPU accounting from /proc/stat: busy and steal jiffies. */
object Steal {
  def jiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val l = try src.getLines().next() finally src.close()
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      (f.take(3).sum + f.slice(5, 7).sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  /** Share of this VM's CPU demand that the host stole between two
    * samples: steal ÷ (busy + steal) jiffies, in [0, 1].
    */
  def share(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = b._1 - a._1; val steal = b._2 - a._2
    if (busy + steal <= 0) 0.0 else steal.toDouble / (busy + steal)
  }
}

object Bus {
  /** Block until queued listener events are delivered. The method is
    * private[spark] in source but public in bytecode, so it is reached by
    * reflection; a short sleep stands in if it cannot be found.
    */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0) match {
        case Some(m) => m.invoke(bus)
        case None => Thread.sleep(300)
      }
    } catch { case _: Throwable => Thread.sleep(300) }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
