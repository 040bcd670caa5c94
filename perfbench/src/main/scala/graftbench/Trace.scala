package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.{PlanStats, Probe, TaskTotals}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One traced call into a layer. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, trace: Long, layer: String, name: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder for the traced run. When tracing is off every
  * call runs its body and records nothing. Spans nest per thread; each
  * workload operation opens a new trace id. While a span is open its thread
  * carries the job group `span-<id>`, which is how [[Probe]] attributes
  * Spark jobs, tasks and executed plans to it.
  */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong()
  private val traces = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  /** root span of the operation in progress, 0 between operations */
  @volatile private var currentOp = 0L
  val probe = new Probe(() => currentOp)
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  /** Register the listeners. Spans and stream progress are recorded only
    * while [[on]] is set: the timed loop, not set-up or warm-up.
    */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (on) progress.add(e)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** A workload operation: a new trace id, and a root span. Spans opened
    * on other threads while it runs (streaming batches) become its children.
    */
  def op[T](layer: String, name: String)(f: => T): T =
    if (!on) f else {
      val saved = stack.get
      stack.set(Nil)
      try span(layer, name, traces.incrementAndGet(), root = true)(f) finally {
        stack.set(saved)
        currentOp = 0L
      }
    }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f else span(layer, name, stack.get.headOption.map(_._2).getOrElse(0L), root = false)(f)

  private def span[T](layer: String, name: String, trace: Long, root: Boolean)(f: => T): T = {
    val sc = SparkSession.active.sparkContext
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.map(_._1).getOrElse(if (root) 0L else currentOp)
    if (root) currentOp = id
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    stack.set((id, trace) :: stack.get)
    sc.setJobGroup(s"span-$id", s"$layer.$name")
    val t0 = System.nanoTime()
    try f finally {
      done.add(Span(id, parent, trace, layer, name, t0, System.nanoTime()))
      stack.set(stack.get.tail)
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)

  def named(layer: String, name: String): Seq[Span] =
    spans.filter(s => s.layer == layer && s.name == name)

  /** Duration minus the time covered by direct children. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    s.ms - kids.map(_.ms).sum
  }

  /** Span ids of `s` and all its descendants. */
  def subtree(s: Span): Set[Long] = {
    val all = spans
    var ids = Set(s.id)
    var grown = true
    while (grown) {
      val next = ids ++ all.filter(c => ids.contains(c.parent)).map(_.id)
      grown = next.size > ids.size
      ids = next
    }
    ids
  }

  def totals(s: Span): Seq[TaskTotals] =
    subtree(s).toSeq.flatMap(id => Option(probe.totals.get(id)))

  def plans(s: Span): Seq[PlanStats] =
    subtree(s).toSeq.flatMap(id => Option(probe.plans.get(id)).map(_.asScala.toSeq).getOrElse(Nil))
}
