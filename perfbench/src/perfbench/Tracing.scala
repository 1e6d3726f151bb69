package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view of Spark: one [[SparkListener]] (jobs, stages,
  * tasks and their bytes), one [[QueryExecutionListener]] (Catalyst phase
  * times from `qe.tracker`) and one [[StreamingQueryListener]] (micro-batch
  * phase times). They only observe; nothing is installed inside the engine.
  *
  * Events arrive asynchronously, so each is kept with its own timestamp and
  * [[Tracing.summarize]] keeps the ones that fall inside the timed window.
  *
  * Work is attributed to a request through two local properties the
  * harness sets on the thread that submits it: `perfbench.req` (the span
  * parent of the job) and `perfbench.jobs` (a counter name the job start is
  * added to, e.g. `entry.construct_jobs.ann`).
  */
object Tracing {
  val ReqProp = "perfbench.req"
  val JobsProp = "perfbench.jobs"

  final case class Job(id: Int, startEpoch: Long, req: String, counter: String) {
    @volatile var endEpoch: Long = -1L
  }
  final case class Task(stage: String, finishEpoch: Long, ms: Double, inBytes: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Plan(epoch: Long, phaseMs: Map[String, Double])

  final class Events {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Double])]()
  }

  private final class Jobs(ev: Events) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      ev.jobs.put(e.jobId, Job(e.jobId, e.time, prop(ReqProp), prop(JobsProp)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(ev.jobs.get(e.jobId)).foreach(_.endEpoch = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      ev.stages.add((s"${i.stageId}.${i.attemptNumber()}",
        i.completionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      ev.tasks.add(Task(s"${e.stageId}.${e.stageAttemptId}", e.taskInfo.finishTime,
        e.taskInfo.duration.toDouble,
        m.fold(0L)(_.inputMetrics.bytesRead),
        m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
        m.fold(0L)(x => x.memoryBytesSpilled + x.diskBytesSpilled)))
    }
  }

  private final class Plans(ev: Events) extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      ev.plans.add(Plan(start, phases.map { case (k, v) => k -> v.durationMs.toDouble }))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private final class Streams(ev: Events) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      ev.batches.add((System.currentTimeMillis(),
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap))
  }

  private val installed = mutable.Map.empty[SparkSession, Events]

  /** Install the three listeners on `spark` once; later calls return the
    * same event store (the install-once pattern: check, then add).
    */
  def install(spark: SparkSession): Events = synchronized {
    installed.getOrElseUpdate(spark, {
      val ev = new Events
      spark.sparkContext.addSparkListener(new Jobs(ev))
      spark.listenerManager.register(new Plans(ev))
      spark.streams.addListener(new Streams(ev))
      ev
    })
  }

  /** Let the asynchronous listener buses deliver what the window produced. */
  def drain(): Unit = Thread.sleep(1500)

  /** Fold the events inside [startEpoch, endEpoch] into `rec`. */
  def summarize(ev: Events, rec: Recorder, startEpoch: Long, endEpoch: Long): Unit = {
    def in(t: Long) = t >= startEpoch && t <= endEpoch
    def rel(t: Long) = (t - rec.epoch0).toDouble
    val jobs = ev.jobs.values.asScala.toSeq.filter(j => in(j.startEpoch)).sortBy(_.id)
    rec.add("spark.jobs", jobs.size)
    jobs.foreach { j =>
      val end = if (j.endEpoch < 0) endEpoch else j.endEpoch
      rec.jobIntervals += ((rel(j.startEpoch), rel(end)))
      if (j.counter.nonEmpty) rec.add(j.counter, 1)
      rec.span(s"job-${j.id}", if (j.req.isEmpty) "unattributed" else j.req,
        "spark.job", rel(j.startEpoch), rel(end))
    }
    val stageKeys = ev.stages.asScala.filter(s => in(s._2)).map(_._1).toSet
    rec.add("spark.stages", stageKeys.size)
    val tasks = ev.tasks.asScala.toSeq.filter(t => in(t.finishEpoch))
    rec.add("spark.tasks", tasks.size)
    rec.add("spark.task_ms", tasks.map(_.ms).sum)
    rec.add("spark.input_bytes", tasks.map(_.inBytes).sum.toDouble)
    rec.add("spark.shuffle_read_bytes", tasks.map(_.shuffleRead).sum.toDouble)
    rec.add("spark.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum.toDouble)
    rec.add("spark.spill_bytes", tasks.map(_.spill).sum.toDouble)
    tasks.groupBy(_.stage).values.foreach(ts => rec.stageTasks += ts.map(_.ms))
    val plans = ev.plans.asScala.toSeq.filter(p => in(p.epoch))
    rec.add("catalyst.actions", plans.size)
    for ((phase, name) <- Seq("analysis" -> "catalyst.analysis_ms",
        "optimization" -> "catalyst.optimization_ms", "planning" -> "catalyst.planning_ms"))
      rec.add(name, plans.map(_.phaseMs.getOrElse(phase, 0.0)).sum)
    val batches = ev.batches.asScala.toSeq.filter(b => in(b._1))
    rec.add("stream.batches", batches.size)
    for (k <- StreamPhases)
      rec.add(s"stream.batch_ms.$k", batches.map(_._2.getOrElse(k, 0.0)).sum)
  }

  val StreamPhases = Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets",
    "triggerExecution")

  /** Run `f` with the attribution properties set on this thread. */
  def withProps[A](spark: SparkSession, req: String, counter: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ReqProp, req)
    sc.setLocalProperty(JobsProp, counter)
    try f
    finally { sc.setLocalProperty(ReqProp, null); sc.setLocalProperty(JobsProp, null) }
  }
}
