package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.PerfbenchSqlBridge
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced call: name, start, end, parent span and request id, plus
  * the engine counters the listeners attribute to it. */
final class Span(val id: Long, val name: String, val parent: Long, val req: Long,
    val startNs: Long, val timed: Boolean) {
  @volatile var endNs: Long = 0L
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  def add(k: String, v: Long): Unit = counters.computeIfAbsent(k, _ => new LongAdder).add(v)
  def get(k: String): Long = Option(counters.get(k)).map(_.sum()).getOrElse(0L)
  def ms: Double = if (endNs == 0L) 0.0 else (endNs - startNs) / 1e6
  def counterMap: Map[String, Long] = counters.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

/** Spans in memory, written out when the run ends. A span around a call
  * sets the Spark local property [[Trace.Prop]] on the calling thread;
  * the listeners attribute every job, stage and task (and the planning
  * time and parquet files read of every SQL execution) to the span named
  * by that property. */
object Trace {
  val Prop = "perfbench.span"
  @volatile var on = false
  /** True while the timed phase runs; spans record it. */
  @volatile var timedPhase = false

  private val ids = new AtomicLong()
  private val all = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[Span]()
  private val t0 = System.nanoTime()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** Engine counters of streaming micro-batches, by batch id. */
  val streamBatches = new ConcurrentHashMap[Long, Span]()

  def spans: Seq[Span] = all.asScala.toSeq
  def named(n: String): Seq[Span] = spans.filter(s => s.name == n && s.timed)

  /** Counter `k` of span `s` plus all its descendants. */
  def total(s: Span, k: String): Long = {
    val kids = spans.groupBy(_.parent)
    def go(x: Span): Long = x.get(k) + kids.getOrElse(x.id, Nil).map(go).sum
    go(s)
  }
  private def open(name: String, req: Long): Span = {
    val parent = current.get()
    val s = new Span(ids.incrementAndGet(), name, if (parent == null) 0L else parent.id,
      if (req != 0L || parent == null) req else parent.req, System.nanoTime(), timedPhase)
    all.add(s)
    byId.put(s.id, s)
    s
  }

  @volatile private var sc: SparkContext = _

  /** Time `f` as a span; jobs it runs on this thread are attributed to it. */
  def span[T](name: String, req: Long = 0L)(f: => T): T =
    if (!on) f
    else {
      val s = open(name, req)
      val parent = current.get()
      val ctx = sc
      val prev = ctx.getLocalProperty(Prop)
      ctx.setLocalProperty(Prop, s.id.toString)
      current.set(s)
      try f
      finally {
        s.endNs = System.nanoTime()
        current.set(parent)
        ctx.setLocalProperty(Prop, prev)
      }
    }

  /** A span for a call that returns a lazy result the caller runs later
    * on the same thread (the HTTP handlers): the call itself is timed,
    * and the property stays set so the jobs that run the result are
    * attributed to this span until the thread's next sticky span. */
  def sticky[T](name: String)(f: => T): T =
    if (!on) f
    else if (current.get() != null) span(name)(f) // nested in a traced call
    else {
      val s = open(name, 0L)
      current.set(s)
      try f
      finally {
        s.endNs = System.nanoTime()
        current.set(null)
        sc.setLocalProperty(Prop, s.id.toString)
      }
    }

  /** Add to a counter of the innermost open span on this thread. */
  def count(k: String, v: Long): Unit =
    if (on) Option(current.get()).foreach(_.add(k, v))

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    on = true
    spark.sparkContext.addSparkListener(new Attribution)
    spark.streams.addListener(new Progress)
  }

  private val stageOwner = new ConcurrentHashMap[Int, Seq[Span]]()
  private val jobOwner = new ConcurrentHashMap[Int, (Seq[Span], Long)]()
  private val execOwner = new ConcurrentHashMap[Long, Span]()
  /** (SQL execution id, its planning ms). */
  private val planning = new ConcurrentLinkedQueue[(Long, Long)]()
  /** The "number of files read" metric of each parquet scan: accumulator
    * id -> SQL execution id, and accumulator id -> value. */
  private val fileAccums = new ConcurrentHashMap[Long, Long]()
  private val accumValues = new ConcurrentHashMap[Long, Long]()

  private def owners(props: java.util.Properties): Seq[Span] = {
    if (props == null) return Nil
    val s = Option(props.getProperty(Prop)).flatMap(p => Option(byId.get(p.toLong)))
    val b = Option(props.getProperty("streaming.sql.batchId")).map { id =>
      streamBatches.computeIfAbsent(id.toLong,
        k => new Span(-k - 1, "stream.batch", 0L, k, System.nanoTime(), timedPhase))
    }
    s.toSeq ++ b
  }

  private final class Attribution extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val o = owners(e.properties)
      if (o.nonEmpty) {
        o.foreach(_.add("jobs", 1))
        jobOwner.put(e.jobId, (o, e.time))
        e.stageIds.foreach(id => stageOwner.putIfAbsent(id, o))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => o.headOption.foreach(execOwner.putIfAbsent(x.toLong, _)))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOwner.remove(e.jobId)).foreach { case (o, t) =>
        o.foreach(_.add("job_ms", e.time - t)) }
    /** SQL executions, keyed by the execution id their jobs carry: the
      * planning time of each (from its end event; a QueryExecutionListener
      * sees the same query but not that id, `QueryExecution.id` being a
      * counter of its own), and the files its parquet scans read, from the
      * scans' driver-side metric as the SQL UI gets it. Plans are read at
      * the start and at every adaptive re-plan: a scan whose stage comes
      * back empty drops out of the final plan. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => scans(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => scans(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => accumValues.put(id, v) }
      case end: SparkListenerSQLExecutionEnd =>
        val qe = PerfbenchSqlBridge.queryExecution(end)
        if (qe != null) planning.add(end.executionId -> qe.tracker.phases.values.map(_.durationMs).sum)
      case _ =>
    }
    private def scans(exec: Long, p: SparkPlanInfo): Unit = {
      if (p.nodeName.startsWith("Scan parquet"))
        p.metrics.filter(_.name == "number of files read")
          .foreach(m => fileAccums.put(m.accumulatorId, exec))
      p.children.foreach(scans(exec, _))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach(_.foreach(_.add("stages", 1)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { o =>
        val m = e.taskMetrics
        val i = e.taskInfo
        o.foreach { s =>
          s.add("tasks", 1)
          if (m != null) {
            s.add("task_run_ms", m.executorRunTime)
            s.add("task_cpu_ms", m.executorCpuTime / 1000000L)
            s.add("gc_ms", m.jvmGCTime)
            s.add("scheduler_delay_ms", math.max(0L, i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime))
            s.add("input_bytes", m.inputMetrics.bytesRead)
            s.add("input_records", m.inputMetrics.recordsRead)
            s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
            s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
            s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
            s.add("output_bytes", m.outputMetrics.bytesWritten)
            s.add("output_records", m.outputMetrics.recordsWritten)
          }
        }
      }
  }


  private final class Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Wait for the listener bus, then attribute planning time and files read. */
  def settle(spark: SparkSession): Unit = if (on) {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    var e = planning.poll()
    while (e != null) {
      Option(execOwner.get(e._1)).foreach(_.add("planning_ms", e._2))
      e = planning.poll()
    }
    fileAccums.forEach { (acc, exec) =>
      Option(execOwner.get(exec)).foreach(_.add("parquet_files_read", accumValues.getOrDefault(acc, 0L)))
    }
    fileAccums.clear()
  }

  /** Engine totals over every span and micro-batch of the timed phase. */
  def engineTotals: Map[String, Long] = {
    val ss = spans.filter(_.timed) ++ streamBatches.values().asScala.filter(_.timed)
    ss.flatMap(_.counterMap.toSeq).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  def dump(path: java.nio.file.Path, head: String): Unit = {
    val sb = new StringBuilder
    sb.append("{").append(head).append(", \"spans\": [")
    val ss = spans ++ streamBatches.values().asScala
    ss.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""req": ${s.req}, "start_ms": ${Json.num((s.startNs - t0) / 1e6)}, """ +
        s""""end_ms": ${Json.num(if (s.endNs == 0L) 0.0 else (s.endNs - t0) / 1e6)}, """ +
        s""""timed": ${s.timed}, "counters": """ +
        s.counterMap.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}") +
        "}")
    }
    sb.append("]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
