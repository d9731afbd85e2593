package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Out-of-process view of one Spark session: a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener that record SQL
  * executions, jobs, stages, tasks, planning phases and streaming
  * progress in memory. Attached only for traced repetitions, so the
  * timed repetitions run without it. All times are epoch milliseconds.
  */
final class Tracer(spark: SparkSession) {
  final case class Exec(id: Long, start: Long, var end: Long, description: String,
      writePath: Option[String], writeAccums: Map[Long, String])
  final case class Job(id: Long, start: Long, var end: Long, execId: Option[Long], stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, name: String, start: Long, end: Long, tasks: Int)
  final case class Task(stageId: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, recordsRead: Long)
  final case class Plan(end: Long, analysisMs: Long, optimizerMs: Long, physicalMs: Long)
  final case class Stream(id: String, start: Long, var firstProgressEnd: Option[Long], var batches: Int)

  val execs = mutable.LinkedHashMap[Long, Exec]()
  val jobs = mutable.LinkedHashMap[Long, Job]()
  val stages = mutable.ArrayBuffer[Stage]()
  val tasks = mutable.ArrayBuffer[Task]()
  val plans = mutable.ArrayBuffer[Plan]()
  val streams = mutable.LinkedHashMap[String, Stream]()
  /** (executionId, metric name) -> summed driver-side value of the write node */
  val writeMetrics = mutable.Map[(Long, String), Long]().withDefaultValue(0L)

  private val writeNode = "InsertIntoHadoopFsRelationCommand"
  private val writePathRe = (writeNode + """ (\S+?),""").r.unanchored

  /** Output path of the write node of a plan, from its one-line form
    * "Execute InsertIntoHadoopFsRelationCommand <path>, ...". */
  private def writePath(info: SparkPlanInfo): Option[String] =
    if (info.nodeName.contains(writeNode)) info.simpleString match {
      case writePathRe(p) => Some(p)
      case _              => None
    }
    else info.children.view.flatMap(writePath).headOption

  private def writeAccums(info: SparkPlanInfo): Map[Long, String] = {
    val own =
      if (info.nodeName.contains(writeNode)) info.metrics.map(m => m.accumulatorId -> m.name).toMap
      else Map.empty[Long, String]
    info.children.foldLeft(own)(_ ++ writeAccums(_))
  }

  private val sparkListener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
      event match {
        case e: SparkListenerSQLExecutionStart =>
          execs(e.executionId) = Exec(e.executionId, e.time, -1L, e.description,
            writePath(e.sparkPlanInfo), writeAccums(e.sparkPlanInfo))
        case e: SparkListenerSQLAdaptiveExecutionUpdate =>
          execs.get(e.executionId).foreach(x =>
            execs(x.id) = x.copy(writeAccums = x.writeAccums ++ writeAccums(e.sparkPlanInfo)))
        case e: SparkListenerSQLExecutionEnd =>
          execs.get(e.executionId).foreach(_.end = e.time)
        case e: SparkListenerDriverAccumUpdates =>
          execs.get(e.executionId).foreach { x =>
            e.accumUpdates.foreach { case (acc, v) =>
              x.writeAccums.get(acc).foreach(name => writeMetrics((x.id, name)) += v)
            }
          }
        case _ =>
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      jobs(e.jobId.toLong) = Job(e.jobId.toLong, e.time, -1L, exec, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId.toLong).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      stages += Stage(s.stageId, s.attemptNumber(), s.name, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L), s.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m == null) tasks += Task(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0)
      else tasks += Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.inputMetrics.recordsRead)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
      plans += Plan(end, ms("analysis"), ms("optimization"), ms("planning"))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        streams(e.runId.toString) = Stream(e.runId.toString,
          java.time.Instant.parse(e.timestamp).toEpochMilli, None, 0)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        streams.get(p.runId.toString).foreach { s =>
          s.batches += 1
          if (s.firstProgressEnd.isEmpty) {
            val took = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
            s.firstProgressEnd = Some(java.time.Instant.parse(p.timestamp).toEpochMilli + took)
          }
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Block until every event posted so far has reached the listeners.
    * `LiveListenerBus.waitUntilEmpty` is Spark-internal; it is public in
    * bytecode, so reflection reaches it. */
  def drain(): Unit = {
    val sc: SparkContext = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def attach(): Unit = {
    drain()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wall milliseconds of [a, b) covered by at least one running task. */
  def busyMs(a: Long, b: Long): Long = synchronized {
    coveredMs(tasks.map(t => (t.launch, t.finish)).toSeq, a, b)
  }

  /** Wall milliseconds of [a, b) covered by at least one SQL execution. */
  def execCoveredMs(a: Long, b: Long): Long = synchronized {
    coveredMs(execs.values.filter(_.end > 0).map(x => (x.start, x.end)).toSeq, a, b)
  }

  /** Length of the union of `intervals`, clipped to [a, b). */
  private def coveredMs(intervals: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (-1L, -1L)
    clipped.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) covered += ce - cs
    covered
  }

  /** Records read by the tasks of every job of one SQL execution. */
  def recordsRead(execId: Long): Long = synchronized {
    val stageIds = jobs.values.filter(_.execId.contains(execId)).flatMap(_.stageIds).toSet
    tasks.filter(t => stageIds.contains(t.stageId)).map(_.recordsRead).sum
  }

  def execsIn(a: Long, b: Long): Seq[Exec] = synchronized {
    execs.values.filter(x => x.start >= a && x.start < b).toSeq
  }

  /** Span tree of one window as JSON lines: execution -> job -> stage. */
  def spans(a: Long, b: Long, parent: String, out: mutable.ArrayBuffer[String]): Unit = synchronized {
    def q(s: String) = Json.str(s)
    execsIn(a, b).foreach { x =>
      val write = x.writePath.map(p => s""","write_path":${q(p)}""").getOrElse("")
      out += s"""{"span":"exec-${x.id}","parent":${q(parent)},"kind":"sql_execution","start_ms":${x.start},"end_ms":${x.end},"records_read":${recordsRead(x.id)},"name":${q(x.description.take(120))}$write}"""
    }
    jobs.values.filter(j => j.start >= a && j.start < b).foreach { j =>
      val p = j.execId.map(e => s"exec-$e").getOrElse(parent)
      out += s"""{"span":"job-${j.id}","parent":${q(p)},"kind":"job","start_ms":${j.start},"end_ms":${j.end}}"""
      val owned = j.stageIds.toSet
      stages.filter(s => owned.contains(s.id)).foreach { s =>
        out += s"""{"span":"stage-${s.id}.${s.attempt}","parent":"job-${j.id}","kind":"stage","start_ms":${s.start},"end_ms":${s.end},"tasks":${s.tasks},"name":${q(s.name.take(80))}}"""
      }
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
