package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One wall clock for everything: epoch milliseconds with nanoTime
  * resolution, comparable with Spark listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final class Span(val id: Int, val name: String, val parent: Int, val pass: Int,
    val start: Double) {
  @volatile var end: Double = -1
  def open: Boolean = end < 0
}

/** Spark counters attributed to one span (its own jobs only; the report
  * rolls children up into parents). */
final class Counters {
  val jobs, tasks, runMs, gcMs, inBytes, inRows, outBytes, shuffleWrite, spill =
    new AtomicLong()
}

/** In-memory span recorder. Pass spans are always kept (the end-to-end
  * counters are summed per pass); inner layer spans only when tracing.
  * The open span's id travels to Spark as a job-local property, which is
  * how [[Attribution]] assigns task counters to spans. */
object Trace {
  val Key = "perfbench.span"
  @volatile var layers = false
  /** Span that receives jobs submitted from threads the benchmark did not
    * start (the program's own thread pools), where the property is absent
    * or stale: the innermost open span of the thread running the pass.
    * Passes are sequential in those workloads, so this is exact. */
  @volatile var fallback = 0
  @volatile var passThread: Thread = null
  val spans = new ConcurrentLinkedQueue[Span]()
  val byId = new ConcurrentHashMap[Integer, Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  val counters = new ConcurrentHashMap[Integer, Counters]()

  def countersOf(id: Int): Counters = counters.computeIfAbsent(id, _ => new Counters)

  def current: Int = stack.get.headOption.map(_.id).getOrElse(0)

  def add(name: String, parent: Int, pass: Int, start: Double, end: Double): Span = {
    val s = new Span(ids.incrementAndGet(), name, parent, pass, start)
    s.end = end
    spans.add(s); byId.put(s.id, s)
    s
  }

  /** Run `body` inside a span; layer spans are skipped unless tracing.
    * The parent is the thread's innermost open span, else the pass. */
  def span[T](sc: SparkContext, name: String, pass: Int, layer: Boolean = true)
      (body: => T): T = {
    if (layer && !layers) return body
    val s = add(name, if (stack.get.isEmpty) pass else current, pass, Clock.nowMs, -1)
    val prev = sc.getLocalProperty(Key)
    val onPassThread = Thread.currentThread eq passThread
    stack.set(s :: stack.get)
    sc.setLocalProperty(Key, s.id.toString)
    if (onPassThread) fallback = s.id
    try body
    finally {
      s.end = Clock.nowMs
      stack.set(stack.get.tail)
      sc.setLocalProperty(Key, prev)
      if (onPassThread) fallback = s.parent
    }
  }
}

/** SparkListener that attributes task metrics to benchmark spans and
  * records the SQL executions that write each pipeline model and each
  * `Staged` artifact. */
final class Attribution(modelPath: scala.util.matching.Regex) extends SparkListener {
  /** A write into `Staged`'s artifact root names the artifact's key. */
  private val stagedPath = """Arguments: \S*/graft_stage_[^/\s]*/([\w.\-]+)""".r
  /** Staged key → end of the last execution that wrote it. */
  val stagedEnd = new ConcurrentHashMap[String, Double]()
  private val execStaged = new ConcurrentHashMap[java.lang.Long, String]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  /** (pass, model) → [start, end] over the executions writing it. */
  val models = new ConcurrentHashMap[(Int, String), Array[Double]]()
  private val execModel = new ConcurrentHashMap[java.lang.Long, (Int, String)]()

  private def resolve(props: java.util.Properties): Int = {
    val id = Option(props).flatMap(p => Option(p.getProperty(Trace.Key)))
      .map(_.toInt).getOrElse(0)
    val s = Trace.byId.get(id)
    if (s != null && s.open) id else Trace.fallback
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sid = resolve(e.properties)
    e.stageIds.foreach(st => stageSpan.put(st, sid))
    Trace.countersOf(sid).jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val sid: Int = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(Trace.fallback)
    val c = Trace.countersOf(sid)
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.inBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inRows.addAndGet(m.inputMetrics.recordsRead)
      c.outBytes.addAndGet(m.outputMetrics.bytesWritten)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val plan = s.physicalPlanDescription
      if (plan.contains("InsertIntoHadoopFsRelationCommand")) {
        stagedPath.findFirstMatchIn(plan).foreach(m => execStaged.put(s.executionId, m.group(1)))
        modelPath.findFirstMatchIn(plan).foreach { m =>
          val key = (m.group(1).toInt, m.group(2))
          execModel.put(s.executionId, key)
          models.compute(key, (_, v) =>
            if (v == null) Array(s.time.toDouble, -1) else Array(math.min(v(0), s.time), v(1)))
        }
      }
    case x: SparkListenerSQLExecutionEnd =>
      Option(execStaged.get(x.executionId)).foreach(k => stagedEnd.put(k, x.time.toDouble))
      Option(execModel.get(x.executionId)).foreach { key =>
        models.computeIfPresent(key, (_, v) => Array(v(0), math.max(v(1), x.time.toDouble)))
      }
    case _ =>
  }
}
