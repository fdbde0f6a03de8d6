package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It observes the program from outside:
  * Spark listener events (jobs, tasks, query executions, stream
  * progress), spans the benchmark opens around its own calls into a
  * graft layer, and a sampler of the driver threads. Everything stays
  * in memory until [[perLayer]] folds it into one table at the end.
  *
  * Spark reports events with epoch-millisecond times, so an event is
  * charged to the timed operation whose window contains it; events
  * outside every window (set-up, the benchmark's own probes) are
  * ignored. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  /** SQL execution id → module of the call site that started it */
  private val execModules = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  /** span name → (calls, busy nanos) */
  private val spans = mutable.Map.empty[String, (Long, Long)]
  /** extra counters the workloads record (store observations) */
  private val sums = mutable.Map.empty[String, (Long, Double)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      def property(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val ofExecution = property(ExecutionIdProperty).flatMap(id => Option(execModules.get(id.toLong)))
      jobStarts.put(e.jobId, (e.time, moduleOfCallSite(details).orElse(ofExecution)
        .orElse(property(LayerProperty)).getOrElse("bench")))
    }
    // AQE submits its stage jobs from a thread pool, so their call site
    // holds no graft frame; the query execution that owns them records
    // the call site of the thread that started it
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        moduleOfCallSite(s.details)
          .orElse(s.rootExecutionId.flatMap(r => Option(execModules.get(r))))
          .foreach(execModules.put(s.executionId, _))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t, m) => jobs.add(Job(t, e.time, m)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.taskInfo.finishTime, e.taskInfo.duration,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val scans = scansOf(qe.executedPlan)
      def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      // charged at the end of planning: inside the window of the op that ran it
      val at = ph.values.map(_.endTimeMs).maxOption.getOrElse(System.currentTimeMillis())
      qes.add(Qe(at, ms("analysis"), ms("optimization"), ms("planning"),
        scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        progress.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)
  private val sampler = new Sampler(Thread.currentThread())

  def span[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerProperty)
    sc.setLocalProperty(LayerProperty, name.takeWhile(_ != '.'))
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      sc.setLocalProperty(LayerProperty, prev)
      synchronized {
        val (c, ns) = spans.getOrElse(name, (0L, 0L))
        spans(name) = (c + 1, ns + dt)
      }
    }
  }

  /** Add one observation of a counter; the table reports its mean. */
  def observe(name: String, value: Double): Unit = synchronized {
    val (n, s) = sums.getOrElse(name, (0L, 0.0))
    sums(name) = (n + 1, s + value)
  }

  def startSampling(): Unit = sampler.start()
  def stopSampling(): Unit = sampler.stop()

  /** The per-layer table over the given operation windows (epoch ms). */
  def perLayer(windows: Seq[(Long, Long)], gcMs: Double, leakedRdds: Int): Map[String, Double] = {
    // listener events arrive asynchronously; let the bus drain
    var last = -1; var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val n = jobs.size + tasks.size + qes.size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
    val ops = windows.size.max(1).toDouble
    def inside(t: Long) = windows.exists { case (s, e) => t >= s && t <= e }
    val js = jobs.asScala.toSeq.filter(j => inside(j.start))
    val ts = tasks.asScala.toSeq.filter(t => inside(t.end))
    val qs = qes.asScala.toSeq.filter(q => inside(q.end))
    val busyMs = windows.map { case (s, e) =>
      union(js.map(j => (j.start max s, j.end min e)).filter { case (a, b) => b > a })
    }.sum
    val wallMs = windows.map { case (s, e) => e - s }.sum
    val mb = 1024.0 * 1024.0
    val out = mutable.LinkedHashMap[String, Double](
      "spark.jobs" -> js.size / ops,
      "spark.job_busy_s" -> busyMs / 1000.0 / ops,
      "spark.driver_gap_s" -> (wallMs - busyMs) / 1000.0 / ops,
      "spark.analysis_ms" -> qs.map(_.analysis).sum / ops,
      "spark.optimization_ms" -> qs.map(_.optimization).sum / ops,
      "spark.planning_ms" -> qs.map(_.planning).sum / ops,
      "spark.task_s" -> ts.map(_.ms).sum / 1000.0 / ops,
      "spark.max_task_s" -> (if (ts.isEmpty) 0.0 else ts.map(_.ms).max / 1000.0),
      "spark.gc_s" -> gcMs / 1000.0 / ops,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb / ops,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb / ops,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb / ops,
      "spark.scan_files" -> qs.map(_.files).sum / ops,
      "spark.scan_mb" -> qs.map(_.bytes).sum / mb / ops,
      "spark.leaked_rdds" -> leakedRdds.toDouble)
    JobModules.foreach { m =>
      val mj = js.filter(_.module == m)
      out(s"$m.jobs") = mj.size / ops
      out(s"$m.job_s") = mj.map(j => j.end - j.start).sum / 1000.0 / ops
    }
    val spanTable = synchronized(spans.toMap)
    SpanMetrics.foreach { case (metric, span, scale) =>
      val (calls, ns) = spanTable.getOrElse(span, (0L, 0L))
      out(metric) = if (calls == 0) 0.0 else ns / 1e9 * scale / calls
      out(s"${span}_calls") = calls.toDouble
    }
    val pr = progress.asScala.toSeq.filter(p => inside(p._1))
    Seq("triggerExecution" -> "streaming.trigger_ms", "addBatch" -> "streaming.add_batch_ms",
      "latestOffset" -> "streaming.latest_offset_ms").foreach { case (k, metric) =>
      out(metric) = if (pr.isEmpty) 0.0 else pr.map(_._2.getOrElse(k, 0L)).sum.toDouble / pr.size
    }
    val sumTable = synchronized(sums.toMap)
    StoreMetrics.foreach { m =>
      out(m) = sumTable.get(m).map { case (n, s) => s / n }.getOrElse(0.0)
    }
    out ++= sampler.fractions()
    out.toMap
  }
}

object Trace {
  private final case class Job(start: Long, end: Long, module: String)
  private final case class Task(end: Long, ms: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long)
  private final case class Qe(end: Long, analysis: Long, optimization: Long,
      planning: Long, files: Long, bytes: Long)

  /** Local property carrying the layer of the span that submitted a job:
    * jobs the benchmark itself triggers (a collect on a dataset
    * relation) have no graft frame in their call site. */
  val LayerProperty = "perfbench.layer"
  /** Local property Spark sets on every job of a SQL execution. */
  val ExecutionIdProperty = "spark.sql.execution.id"

  val Modules: Seq[String] = Seq("sources", "normalize", "schema", "incremental",
    "pipeline", "write", "dataset", "streaming", "ext", "functions", "operators")
  /** Modules that trigger Spark actions of their own. */
  val JobModules: Seq[String] = Seq("sources", "pipeline", "incremental", "write",
    "dataset", "streaming", "ext", "operators")

  /** (metric, span, scale from seconds): mean busy time per call. */
  val SpanMetrics: Seq[(String, String, Double)] = Seq(
    ("sources.read_jsonl_s", "sources.read_jsonl", 1.0),
    ("pipeline.run_s", "pipeline.run", 1.0),
    ("write.compact_s", "write.compact", 1.0),
    ("write.vacuum_s", "write.vacuum", 1.0)) ++
    Seq("lookup", "range", "agg", "join", "asof", "rowcounts", "loads", "topn")
      .map(t => (s"dataset.${t}_ms", s"dataset.$t", 1000.0)) ++ Seq(
    ("ext.assemble_s", "ext.assemble", 1.0),
    ("ext.index_s", "ext.index", 1.0))

  val StoreMetrics: Seq[String] = Seq("write.manifests_written", "write.segments_live",
    "write.merge_rewrite_frac", "dataset.lookup_scan_frac")

  val SampleBuckets: Seq[String] = Modules ++ Seq("analyzer", "optimizer", "planner",
    "aqe", "job_wait", "bench", "other")

  /** Module of the innermost graft frame of a long-form call site. */
  def moduleOfCallSite(details: String): Option[String] =
    details.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") => moduleOfClass(l)
    }

  def moduleOfClass(cls: String): String = {
    val parts = cls.split('.')
    if (parts.length > 2 && Modules.contains(parts(1))) parts(1) else "other"
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** File-source scans of an executed plan, through AQE stages and
    * subqueries. */
  def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case s: QueryStageExec => scansOf(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => (other.children ++ other.subqueries).flatMap(scansOf)
  }

  /** Samples the driver's main thread — or, while it waits on a
    * streaming query, the stream execution threads — at a fixed
    * interval and charges each sample to a bucket: the innermost graft
    * module frame, a Catalyst phase, or waiting on a Spark job. */
  final class Sampler(main: Thread, intervalMs: Long = 5L) {
    private val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private val running = new AtomicBoolean(false)
    private var thread: Thread = _

    def start(): Unit = if (running.compareAndSet(false, true)) {
      thread = new Thread(() => loop(), "perfbench-sampler")
      thread.setDaemon(true)
      thread.start()
    }

    def stop(): Unit = if (running.compareAndSet(true, false)) thread.join()

    private def loop(): Unit = {
      var streamThreads = Seq.empty[Thread]
      var refreshed = 0L
      while (running.get) {
        val st = main.getStackTrace
        val targets =
          if (st.exists(f => f.getClassName.contains("StreamExecution") ||
              f.getMethodName == "awaitTermination")) {
            if (System.currentTimeMillis() - refreshed > 200) {
              streamThreads = Thread.getAllStackTraces.keySet.asScala.toSeq
                .filter(_.getName.startsWith("stream execution thread"))
              refreshed = System.currentTimeMillis()
            }
            streamThreads.map(t => (t.getState, t.getStackTrace))
          } else Seq((main.getState, st))
        targets.foreach { case (state, frames) =>
          if (frames.nonEmpty) synchronized { counts(bucket(state, frames)) += 1 }
        }
        Thread.sleep(intervalMs)
      }
    }

    def fractions(): Map[String, Double] = synchronized {
      val total = counts.values.sum.max(1L).toDouble
      SampleBuckets.map(b => s"driver.${b}_frac" -> counts(b) / total).toMap
    }
  }

  private val waitMarkers = Seq("org.apache.spark.scheduler.JobWaiter",
    "org.apache.spark.scheduler.DAGScheduler", "org.apache.spark.util.ThreadUtils",
    "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec")

  def bucket(state: Thread.State, frames: Array[StackTraceElement]): String = {
    val waiting = state == Thread.State.WAITING || state == Thread.State.TIMED_WAITING
    if (waiting && frames.exists(f => waitMarkers.exists(f.getClassName.startsWith)))
      "job_wait"
    else frames.iterator.map(f => frameBucket(f.getClassName)).collectFirst {
      case Some(b) => b
    }.getOrElse("other")
  }

  private def frameBucket(c: String): Option[String] =
    if (c.startsWith("graft.")) Some(moduleOfClass(c)).filter(_ != "other")
    else if (c.startsWith("perfbench.")) Some("bench")
    else if (c.startsWith("org.apache.spark.sql.catalyst.analysis.")) Some("analyzer")
    else if (c.startsWith("org.apache.spark.sql.catalyst.optimizer.") ||
      c.startsWith("org.apache.spark.sql.execution.SparkOptimizer")) Some("optimizer")
    else if (c.startsWith("org.apache.spark.sql.catalyst.planning.") ||
      c.startsWith("org.apache.spark.sql.execution.SparkStrategies") ||
      c.startsWith("org.apache.spark.sql.execution.SparkPlanner")) Some("planner")
    else if (c.startsWith("org.apache.spark.sql.execution.adaptive.")) Some("aqe")
    else None
}
