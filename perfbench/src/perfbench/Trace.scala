package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One layer call: `parent` is the enclosing span (0 = the op itself). */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into the program's layers, kept in
  * memory and written out when the run ends. Every Spark job started inside
  * a span carries the span id (and the op id) as local properties, so the
  * listener attributes engine work to the span that caused it.
  *
  * With `active` off a span only runs its body: the untraced run pays one
  * branch per layer call.
  */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  var active = false
  private var op = 0
  private var current = 0
  private var nextId = 1

  def beginOp(id: Int): Unit = {
    op = id
    current = 0
    sc.setLocalProperty(Counters.OpKey, id.toString)
    sc.setLocalProperty(Counters.SpanKey, null)
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      current = id
      sc.setLocalProperty(Counters.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        current = parent
        sc.setLocalProperty(Counters.SpanKey, if (parent == 0) null else parent.toString)
      }
    }
}

/** Engine counts per (op, span), from the listener bus. */
final class Tally {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
}

final class Counters extends SparkListener {
  private val byKey = new ConcurrentHashMap[(Int, Int), Tally]()
  private val stageKey = new ConcurrentHashMap[Int, (Int, Int)]()

  private def keyOf(props: java.util.Properties): (Int, Int) = {
    def get(k: String): Int =
      Option(props).flatMap(p => Option(p.getProperty(k))).map(_.toInt).getOrElse(0)
    (get(Counters.OpKey), get(Counters.SpanKey))
  }

  private def tally(k: (Int, Int)): Tally = byKey.computeIfAbsent(k, _ => new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t = tally(keyOf(e.properties))
    t.synchronized(t.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val k = keyOf(e.properties)
    stageKey.put(e.stageInfo.stageId, k)
    val t = tally(k)
    t.synchronized(t.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val t = tally(stageKey.getOrDefault(e.stageId, (0, 0)))
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def snapshot: Seq[((Int, Int), Tally)] = byKey.asScala.toSeq.sortBy(_._1)
}

object Counters {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  /** Wait until the listener bus has delivered every posted event.
    * `listenerBus` is private[spark] in Scala but public in bytecode.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }
}
