package pipebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.io.GraftIO

/** One timed interval at a layer boundary. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int,
    thread: String, runId: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. The current span rides an inheritable thread
  * local, so a thread the pipeline starts inside a span (its side-sink
  * thread) parents its spans under that span. The span name is also set as
  * a Spark local property, which the [[EngineListener]] reads back from
  * every job and stage to attribute engine work to the span that caused it. */
final class Tracer(sc: SparkContext, val runId: Int) {
  private val nextId = new AtomicInteger(1)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  def span[A](name: String)(body: => A): A = {
    val id = nextId.getAndIncrement()
    val parent: Int = current.get
    val prevProp = sc.getLocalProperty(Tracer.SpanProperty)
    current.set(id)
    sc.setLocalProperty(Tracer.SpanProperty, name)
    val t0 = System.nanoTime()
    try body
    finally {
      recorded.add(Span(id, name, t0, System.nanoTime(), parent,
        Thread.currentThread().getName, runId))
      current.set(parent)
      sc.setLocalProperty(Tracer.SpanProperty, prevProp)
    }
  }

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  val SpanProperty = "pipebench.span"
  val Unattributed = "(none)"

  /** Length of the union of `[start, end)` intervals. */
  def unionNanos(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `a`'s intervals that some interval of `b` also covers. */
  def overlapNanos(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long =
    a.map { case (s, e) =>
      unionNanos(b.flatMap { case (bs, be) =>
        val lo = math.max(s, bs); val hi = math.min(e, be)
        if (hi > lo) Some((lo, hi)) else None
      })
    }.sum
}

/** Engine counts per span name, from a SparkListener (jobs, stages, tasks)
  * and a QueryExecutionListener (Catalyst phase times). */
final class EngineListener extends SparkListener with QueryExecutionListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var taskNanos = 0L; var queueWaitMs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
  }
  private val bySpan = mutable.Map.empty[String, Counts]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private var catalystMs = 0L

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(pp => Option(pp.getProperty(Tracer.SpanProperty)))
      .getOrElse(Tracer.Unattributed)

  private def counts(span: String): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counts(spanOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = span
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    counts(span).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageSpan.getOrElse(e.stageId, Tracer.Unattributed))
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    c.taskNanos += e.taskInfo.duration * 1000000L
    stageSubmitted.get(e.stageId).foreach(s =>
      c.queueWaitMs += math.max(0L, e.taskInfo.launchTime - s))
    Option(e.taskMetrics).foreach { m =>
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { catalystMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { catalystMs += qe.tracker.phases.values.map(_.durationMs).sum }

  def reset(): Unit = synchronized {
    bySpan.clear(); stageSpan.clear(); stageSubmitted.clear(); catalystMs = 0L
  }

  def catalystSeconds: Double = synchronized(catalystMs / 1000.0)

  /** Counts of every span whose name satisfies `p`, summed. */
  def total(p: String => Boolean = _ => true): Counts = synchronized {
    val t = new Counts
    bySpan.foreach { case (k, c) if p(k) =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.failedTasks += c.failedTasks; t.taskNanos += c.taskNanos
      t.queueWaitMs += c.queueWaitMs; t.shuffleWriteBytes += c.shuffleWriteBytes
      t.spillBytes += c.spillBytes
    case _ =>
    }
    t
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Timing decorator over a [[GraftIO]]: every call is a span, and every
  * path written and file listed or read is recorded for the io counts. */
final class TimedIO(inner: GraftIO, tr: Tracer, cfg: graft.config.GeneralConfig)
    extends GraftIO {
  val written = new ConcurrentLinkedQueue[String]()
  private val listed = new AtomicInteger(0)
  private val readFilesCount = new AtomicInteger(0)

  def filesListed: Int = listed.get
  def filesRead: Int = readFilesCount.get

  private def sinkKind(path: String): String =
    if (path.contains(s"/${cfg.manifestDir}/")) "manifest"
    else if (path.endsWith(s"/${cfg.transformedDataDir}")) "transformed"
    else if (path.endsWith(s"/${cfg.errorRecordsDir}")) "error_records"
    else if (path.endsWith("/pre_transform")) "desc_pre"
    else if (path.endsWith("/post_transform")) "desc_post"
    else "other"

  override def read(spark: SparkSession, path: String, fileType: String,
      options: Map[String, String]): DataFrame =
    tr.span("io.read")(inner.read(spark, path, fileType, options))

  override def write(df: DataFrame, path: String, fileType: String, targetSizeGb: Double,
      options: Map[String, String]): Unit = {
    tr.span(s"io.write.${sinkKind(path)}")(
      inner.write(df, path, fileType, targetSizeGb, options))
    written.add(path)
  }

  override def writeText(text: String, path: String): Unit = {
    tr.span("io.write_text")(inner.writeText(text, path))
    written.add(path)
  }

  override def newGuid(): String = inner.newGuid()
  override def now(): java.time.Instant = inner.now()

  override def listFiles(spark: SparkSession, path: String, fileType: String,
      options: Map[String, String]): Seq[String] = {
    val out = tr.span("io.list_files")(inner.listFiles(spark, path, fileType, options))
    listed.addAndGet(out.size)
    out
  }

  override def readFiles(spark: SparkSession, files: Seq[String], fileType: String,
      options: Map[String, String], schema: Option[StructType]): DataFrame = {
    readFilesCount.addAndGet(files.size)
    tr.span("io.read_files")(inner.readFiles(spark, files, fileType, options, schema))
  }
}
