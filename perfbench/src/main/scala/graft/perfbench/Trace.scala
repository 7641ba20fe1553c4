package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The engine's layers, keyed by the source file of the innermost `graft.*`
  * frame in a job's call site. Frames of this package are the benchmark's
  * own (`bench`); any other file is `other`, so the layer totals add up.
  */
object Layers {
  val names: Seq[String] = Seq("ingest", "graph", "store", "resolve",
    "similarity", "query", "sinks", "bench", "other")

  private val byFile: Map[String, String] = Map(
    "TaggedText.scala" -> "ingest",
    "BibGraph.scala" -> "graph", "DocGraph.scala" -> "graph",
    "GraphQueries.scala" -> "graph",
    "BucketedStore.scala" -> "store",
    "EntityResolution.scala" -> "resolve",
    "Similarity.scala" -> "similarity",
    "Router.scala" -> "query", "AnswerService.scala" -> "query",
    "QueryText.scala" -> "query",
    "GraphDump.scala" -> "sinks", "Neo4jCsv.scala" -> "sinks")

  private val Frame = """\s*(?:at\s+)?(graft\.[\w.$]+)\(([^:)]+).*""".r

  /** Layer of a long-form call site (one stack frame per line). */
  def of(callSite: String): String =
    callSite.linesIterator.collectFirst { case Frame(cls, file) =>
      if (cls.startsWith("graft.perfbench.")) "bench"
      else if (file.startsWith("NearestCells")) "similarity"
      else byFile.getOrElse(file, "other")
    }.getOrElse("other")
}

/** A closed interval of epoch milliseconds. */
final case class Interval(start: Double, end: Double) {
  def length: Double = end - start
}

object Interval {
  /** Total length of the union of `xs`. */
  def unionLength(xs: Iterable[Interval]): Double = {
    var total, curS, curE = 0.0
    var open = false
    xs.toSeq.sortBy(_.start).foreach { i =>
      if (!open || i.start > curE) {
        if (open) total += curE - curS
        curS = i.start; curE = i.end; open = true
      } else curE = math.max(curE, i.end)
    }
    if (open) total += curE - curS
    total
  }

  /** Parts of `xs` that fall inside `w`. */
  def clip(xs: Iterable[Interval], w: Interval): Iterable[Interval] =
    xs.flatMap { i =>
      val s = math.max(i.start, w.start)
      val e = math.min(i.end, w.end)
      if (e > s) Some(Interval(s, e)) else None
    }
}

/** Spans the benchmark records around its own calls into the engine: name,
  * interval and the span that caused it. Kept in memory until the end.
  */
final class Spans {
  final case class Span(id: Int, name: String, parent: Option[Int],
                        interval: Interval)

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Epoch milliseconds at nanosecond resolution. */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption
    val start = now()
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      done.synchronized(done += Span(id, name, parent, Interval(start, now())))
    }
  }

  def all: Seq[Span] = done.synchronized(done.toList)

  /** Span duration minus the part its child spans cover. */
  def selfMs(span: Span): Double = {
    val kids = all.filter(_.parent.contains(span.id)).map(_.interval)
    span.interval.length - Interval.unionLength(Interval.clip(kids, span.interval))
  }
}

/** Per-layer Spark accounting. Every job is tagged with the benchmark phase
  * current at its start, so the report counts only the measured operations
  * (setup and output checks run in other phases).
  */
final class LayerListener extends SparkListener {
  @volatile var phase: String = "setup"

  final class Acc {
    var jobs, stages, tasks, filesWritten = 0L
    var taskMs, shuffleRead, shuffleWrite, spill, written = 0.0
    var peakMem = 0L
    val jobIntervals = mutable.ArrayBuffer[Interval]()
  }

  private case class Exec(layer: String, phase: String,
                          fileMetrics: mutable.Set[Long])
  private case class Job(layer: String, phase: String, start: Long)

  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val accs = Layers.names.map(_ -> new Acc).toMap
  private val allIntervals = mutable.ArrayBuffer[Interval]()
  /** Executor run time of every measured task, attributed or not. */
  @volatile var totalTaskMs = 0.0
  @volatile var fenceSeen = false
  val FenceGroup = "perfbench-fence"

  private def writtenFileMetrics(p: SparkPlanInfo): Seq[Long] =
    p.metrics.filter(_.name == "number of written files")
      .map(_.accumulatorId) ++ p.children.flatMap(writtenFileMetrics)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      val own = Layers.of(e.details)
      val layer =
        if (own != "other") own
        else e.rootExecutionId.flatMap(r => Option(execs.get(r)))
          .map(_.layer).getOrElse(own)
      execs.put(e.executionId, Exec(layer, phase,
        mutable.Set(writtenFileMetrics(e.sparkPlanInfo): _*)))
    case e: SparkListenerSQLAdaptiveExecutionUpdate =>
      Option(execs.get(e.executionId)).foreach(_.fileMetrics ++=
        writtenFileMetrics(e.sparkPlanInfo))
    case e: SparkListenerDriverAccumUpdates =>
      Option(execs.get(e.executionId)).filter(_.phase == "measure")
        .foreach { x =>
          val n = e.accumUpdates.collect {
            case (id, v) if x.fileMetrics.contains(id) => v
          }.sum
          synchronized(accs(x.layer).filesWritten += n)
        }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .contains(FenceGroup)) return
    val exec = props
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execs.get(id.toLong)))
    val layer = exec.map(_.layer).getOrElse(
      if (e.stageInfos.isEmpty) "other"
      else Layers.of(e.stageInfos.maxBy(_.stageId).details))
    val job = Job(layer, phase, e.time)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(stageJob.put(_, job))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)) match {
      case Some(job) => synchronized {
        val interval = Interval(job.start.toDouble, e.time.toDouble)
        allIntervals += interval
        if (job.phase == "measure") {
          val a = accs(job.layer)
          a.jobs += 1
          a.jobIntervals += interval
        }
      }
      case None => fenceSeen = true
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).filter(_.phase == "measure")
      .foreach(j => synchronized(accs(j.layer).stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val job = Option(stageJob.get(e.stageId))
    if (m != null && job.forall(_.phase == "measure") &&
        (job.nonEmpty || phase == "measure"))
      synchronized(totalTaskMs += m.executorRunTime)
    job.filter(_.phase == "measure")
      .foreach { j =>
        if (m != null) synchronized {
          val a = accs(j.layer)
          a.tasks += 1
          a.taskMs += m.executorRunTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          a.written += m.outputMetrics.bytesWritten
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
  }

  /** Runs a tiny job and waits until the listener has seen it end: the
    * listener bus is FIFO, so every earlier event has been handled too.
    */
  def drain(spark: SparkSession): Unit = {
    fenceSeen = false
    val sc = spark.sparkContext
    sc.setJobGroup(FenceGroup, "listener fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!fenceSeen && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  def acc(layer: String): Acc = accs(layer)

  /** Every job interval (any phase), for driver-time accounting. */
  def jobIntervals: Seq[Interval] = synchronized(allIntervals.toList)
}
