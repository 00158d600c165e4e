package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: `tag` is the query, batch or round id
  * the call served (-1 when none). Times are
  * `System.nanoTime` readings. */
final case class Span(id: Int, name: String, parent: Int, tag: Long,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest by call structure on the one
  * client thread; each span also stamps the Spark local property
  * [[Tracer.SpanProp]], so the [[Ledger]] can charge every Spark job
  * to the innermost span that submitted it. Disabled, `span` only
  * runs its body. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[A](name: String, tag: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val id = Tracer.ids.getAndIncrement()
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, tag, t0, t1)
      }
    }

  def named(prefix: String): Seq[Span] = spans.toSeq.filter(_.name.startsWith(prefix))

  /** Self time per span name: the span's time minus its children's. */
  def selfTimes: Map[String, (Long, Int)] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.ns)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(s => s.ns - child(s.id)).sum, ss.size)
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** span ids are unique across tracers, so one ledger serves them all */
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Spark-side counts for one span. */
final class Counts {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var taskMsMax = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var gcMs = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; taskMsMax = math.max(taskMsMax, o.taskMsMax)
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; gcMs += o.gcMs
  }
  /** executor CPU time over executor run time, summed over tasks. */
  def cpuRunRatio: Double = if (runMs == 0) 0.0 else cpuNs / 1e6 / runMs
}

/** Stage and task ledger, keyed by the span that submitted each job. */
final class Ledger extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  val bySpan = mutable.Map.empty[Int, Counts]

  private def at(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    at(span).jobs += 1
    e.stageIds.foreach(st => stageSpan(st) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    c.taskMsMax = math.max(c.taskMsMax, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Summed counts of the given spans. */
  def over(spans: Seq[Span]): Counts = synchronized {
    val out = new Counts
    spans.foreach(s => bySpan.get(s.id).foreach(out += _))
    out
  }
}

/** JVM-wide counters read from the management beans. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Bytes allocated so far by the calling thread. */
  def threadAlloc: Long = threads.getCurrentThreadAllocatedBytes

  /** Bytes allocated so far by every live thread. */
  def allAlloc: Long = {
    val ids = threads.getAllThreadIds
    threads.getThreadAllocatedBytes(ids).filter(_ > 0).sum
  }

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, MiB. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case p: Product => render(p.productIterator.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
