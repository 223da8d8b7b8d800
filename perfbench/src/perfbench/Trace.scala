package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters attached to one span (summed over its jobs/tasks). */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runNs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var input = 0L; var output = 0L; var planningMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // streaming progress: durationMs keys summed over micro-batches
  val streamMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var batches = 0L
  var streamRows = 0L
}

/** One span: a call into a layer's public function, made from the
  * benchmark. `trace` groups the spans of one pipeline stage,
  * increment or query. Times are epoch milliseconds. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
                      start: Long, var end: Long = -1L) {
  val counters = new Counters
  def dur: Long = end - start
}

/** In-memory span recorder plus the Spark listeners that attribute
  * engine work to the innermost open span. Off by default: with
  * tracing off `span` only runs its body, and no listener is
  * registered, so end-to-end runs pay nothing for it. Jobs are tied
  * to spans through a job tag set on the calling thread; Spark copies
  * local properties into the threads it starts (stream execution),
  * so streaming jobs land on the span that started the stream. */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val TagPrefix = "pbspan-"
  private var sc: SparkContext = _

  // listener-side maps, resolved when the run ends
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val planning = new ConcurrentHashMap[Long, Long]() // qe id -> ms
  private val queryStart = new ConcurrentHashMap[String, Long]() // run id -> span

  private def spanOfTags(tags: Iterable[String]): Option[Long] =
    tags.filter(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix).toLong)
      .reduceOption((a, b) => math.max(a, b)) // innermost = newest

  def current: Option[Span] = stack.get.headOption

  /** Run `body` inside a span named `name`; a span with no open parent
    * starts a trace. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current
      val id = ids.incrementAndGet()
      val trace = parent.map(_.trace).getOrElse(id)
      val s = Span(id, trace, parent.map(_.id).getOrElse(0L), name,
        System.currentTimeMillis())
      spans.put(id, s)
      stack.set(s :: stack.get)
      sc.addJobTag(TagPrefix + id)
      try body
      finally {
        s.end = System.currentTimeMillis()
        sc.removeJobTag(TagPrefix + id)
        stack.set(stack.get.tail)
      }
    }

  /** Tie a started stream to the current span (progress events are
    * delivered asynchronously, by run id). */
  def streamStarted(runId: java.util.UUID): Unit =
    current.foreach(s => queryStart.put(runId.toString, s.id))

  private def counters(id: Long): Option[Counters] =
    Option(spans.get(id)).map(_.counters)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.tags"))).toSeq
        .flatMap(_.split(","))
      spanOfTags(tags).foreach { id =>
        jobSpan.put(e.jobId, id)
        e.stageIds.foreach(st => stageSpan.put(st, id))
        counters(id).foreach { c => c.synchronized {
          c.jobs += 1; c.stages += e.stageIds.size
          c.jobIntervals += ((e.time, -1L))
        } }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).flatMap(counters).foreach { c =>
        c.synchronized {
          // close the earliest still-open interval of this span
          val i = c.jobIntervals.indexWhere(_._2 < 0)
          if (i >= 0) c.jobIntervals(i) = (c.jobIntervals(i)._1, e.time)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).flatMap(counters).foreach { c =>
        val m = e.taskMetrics
        if (m != null) c.synchronized {
          c.tasks += 1
          c.runNs += m.executorRunTime * 1000000L
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          val info = e.taskInfo
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        spanOfTags(s.jobTags).foreach(id => execSpan.put(s.executionId, id))
      case _ =>
    }
  }

  private object Plans extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      planning.put(qe.id, qe.tracker.phases.values.map(_.durationMs).sum)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // progress events carry no job tag: resolve by run id at the end
      pendingProgress.add((p.runId.toString, p.numInputRows, p.durationMs.asScala.map {
        case (k, v) => k -> v.longValue() }.toMap))
    }
  }
  private val pendingProgress =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Map[String, Long])]()

  /** Register the listeners (traced runs only). */
  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    enabled = true
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
  }

  private var finished: Seq[Span] = null

  /** Drain the listener bus and resolve the asynchronous attributions
    * (once; later calls return the same spans). */
  def finish(spark: SparkSession): Seq[Span] = {
    if (!enabled) return Nil
    if (finished != null) return finished
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    planning.asScala.foreach { case (qe, ms) =>
      Option(execSpan.get(qe)).flatMap(counters).foreach(c =>
        c.synchronized(c.planningMs += ms))
    }
    pendingProgress.asScala.foreach { case (qid, rows, d) =>
      Option(queryStart.get(qid)).flatMap(counters).foreach { c =>
        c.synchronized {
          c.batches += 1
          c.streamRows += rows
          d.foreach { case (k, v) => c.streamMs(k) += v }
        }
      }
    }
    finished = spans.values.asScala.toSeq.sortBy(_.id)
    finished
  }

  /** Length of the union of intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 >= i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Self time of each span: its duration minus the part of it its
    * direct children cover. */
  def selfMs(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = unionMs(kids.getOrElse(s.id, Nil).map(k =>
        (math.max(k.start, s.start), math.min(k.end, s.end))))
      s.id -> (s.dur - covered)
    }.toMap
  }
}
