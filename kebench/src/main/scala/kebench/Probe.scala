package kebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark runtime counters, summed over the jobs of one call or more. */
final class Counters {
  var jobs = 0L; var broadcastJobs = 0L; var stages = 0L; var tasks = 0L
  var failedTasks = 0L; var taskCpuNs = 0L; var taskRunMs = 0L
  var jobWaitMs = 0.0; var shuffleRead = 0L; var shuffleWrite = 0L
  var inputBytes = 0L; var outputBytes = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; broadcastJobs += o.broadcastJobs; stages += o.stages
    tasks += o.tasks; failedTasks += o.failedTasks; taskCpuNs += o.taskCpuNs
    taskRunMs += o.taskRunMs; jobWaitMs += o.jobWaitMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    this
  }

  def toJson: String =
    s"""{"jobs":$jobs,"broadcast_jobs":$broadcastJobs,"stages":$stages,""" +
      s""""tasks":$tasks,"failed_tasks":$failedTasks,"task_cpu_ms":${taskCpuNs / 1e6},""" +
      s""""task_run_ms":$taskRunMs,"job_wait_ms":$jobWaitMs,""" +
      s""""shuffle_read_bytes":$shuffleRead,"shuffle_write_bytes":$shuffleWrite,""" +
      s""""input_bytes":$inputBytes,"output_bytes":$outputBytes}"""
}

/** One timed call into a graft layer. `layer` is a module name
  * (chunker, ingest, text_index, knn, spark, caches), `op` the
  * operation type, `req` the request it serves, `parent` the
  * enclosing call (0 at the top). Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, req: String, layer: String,
                      op: String, start: Long, end: Long, ok: Boolean) {
  def ms: Double = (end - start) / 1e6
}

/** Times calls and, when tracing, attributes Spark work to them.
  *
  * The benchmark makes its calls from one thread, one after another,
  * so the open calls form one chain. Every call runs under its own
  * Spark job group, `kebench:<span id>`. A [[SparkListener]] maps each
  * job to that group's span and sums the job's stage and task metrics
  * into it. Two cases need more than the job group:
  *  - graft's `Par` pool threads keep the local properties they were
  *    created with, so a reused pool thread submits under the group of
  *    an old call;
  *  - Spark SQL can run jobs of one execution from helper threads
  *    with no group.
  * Such a job is charged through its SQL execution id to the span that
  * started that execution, and failing that to the innermost open
  * call. Jobs that start while no call is open are counted as
  * unattributed.
  *
  * Untraced runs register no listener and set no job groups: they
  * only time calls. Spans stay in memory and are written at the end.
  */
final class Probe(sc: SparkContext, val tracing: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  // the chain of open calls, innermost first; the listener reads it
  private val open = new ConcurrentLinkedDeque[java.lang.Long]()
  // java boxes throughout: a missing key must read as null, not 0
  private val counters = new ConcurrentHashMap[java.lang.Long, Counters]()
  private val jobSpan = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val jobSubmit = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val execSpan = new ConcurrentHashMap[String, java.lang.Long]()
  val unattributedJobs = new AtomicLong(0L)

  private def countersOf(span: Long): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val exec = prop("spark.sql.execution.root.id")
        .orElse(prop("spark.sql.execution.id"))
      val byGroup = prop("spark.jobGroup.id").collect {
        case g if g.startsWith("kebench:") => g.stripPrefix("kebench:")
      }.filter(id => id.nonEmpty && id.forall(_.isDigit))
        .map(id => java.lang.Long.valueOf(id.toLong)).filter(open.contains)
      val span = byGroup
        .orElse(exec.flatMap(x => Option(execSpan.get(x))))
        .orElse(Option(open.peekFirst()))
        .map(_.longValue)
      span match {
        case Some(s) =>
          exec.foreach(x => execSpan.putIfAbsent(x, s))
          jobSpan.put(e.jobId, s)
          jobSubmit.put(e.jobId, e.time)
          e.stageIds.foreach(st => stageJob.put(st, e.jobId))
          val c = countersOf(s)
          val tags = prop("spark.job.tags").getOrElse("") +
            prop("spark.job.description").getOrElse("")
          c.synchronized {
            c.jobs += 1
            if (tags.toLowerCase.contains("broadcast")) c.broadcastJobs += 1
          }
        case None => unattributedJobs.incrementAndGet()
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j =>
        Option(jobSpan.get(j))).foreach { s =>
        val c = countersOf(s.longValue); c.synchronized(c.stages += 1)
      }

    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        Option(jobSubmit.remove(j)).foreach { submitted =>
          Option(jobSpan.get(j)).foreach { s =>
            val c = countersOf(s.longValue)
            c.synchronized(c.jobWaitMs += math.max(0L,
              e.taskInfo.launchTime - submitted.longValue))
          }
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobSpan.get(j)))
        .foreach { s =>
          val c = countersOf(s.longValue)
          val m = Option(e.taskMetrics)
          c.synchronized {
            c.tasks += 1
            if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks += 1
            m.foreach { t =>
              c.taskCpuNs += t.executorCpuTime
              c.taskRunMs += t.executorRunTime
              c.inputBytes += t.inputMetrics.bytesRead
              c.outputBytes += t.outputMetrics.bytesWritten
              c.shuffleRead += t.shuffleReadMetrics.totalBytesRead
              c.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
            }
          }
        }
  }

  if (tracing) sc.addSparkListener(listener)

  /** Times `body` as one call of `layer`/`op`; a call that throws is
    * recorded as failed and rethrown. */
  def call[T](layer: String, op: String, req: String = "")(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = Option(open.peekFirst()).map(_.longValue).getOrElse(0L)
    val t0 = System.nanoTime()
    open.push(id)
    if (tracing)
      sc.setJobGroup(s"kebench:$id", s"$layer.$op $req", interruptOnCancel = false)
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val t1 = System.nanoTime()
      open.pop()
      spans.add(Span(id, parent, req, layer, op, t0, t1, ok))
      if (tracing) {
        if (parent == 0L) sc.clearJobGroup()
        else sc.setJobGroup(s"kebench:$parent", "", interruptOnCancel = false)
      }
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (tracing) org.apache.spark.KebenchAccess.drain(sc)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Counters of one span alone (not of its children). */
  def own(span: Long): Counters =
    Option(counters.get(span)).getOrElse(new Counters)

  /** Counters of a span and all its descendants. */
  def total(span: Span, children: Map[Long, Seq[Span]]): Counters = {
    val c = new Counters().add(own(span.id))
    children.getOrElse(span.id, Nil).foreach(ch => c.add(total(ch, children)))
    c
  }
}
