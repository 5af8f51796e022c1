package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: spans of one key share `group`; `parent` is the
  * enclosing span's id (0 at the top). */
final case class Span(id: Int, parent: Int, group: String, name: String,
                      startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, driven by the benchmark's single client
  * thread. Disabled, it only runs the body. */
final class Spans(val enabled: Boolean) {
  val all = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  var group: String = ""

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        all += Span(id, parent, group, name, t0, System.nanoTime())
      }
    }

  /** Self time per module: a span's time minus its child spans' time,
    * summed by the module prefix of the span name (`sinks.write` →
    * `sinks`). */
  def selfSecsByModule: Map[String, Double] = {
    val childSecs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.secs).sum }
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (m, ss) =>
      m -> ss.map(s => s.secs - childSecs.getOrElse(s.id, 0.0)).sum
    }
  }

  def jsonLines: Seq[String] = all.sortBy(_.startNs).map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "group" -> s.group,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.toSeq
}

/** Layer counters of one scope (a key, a memo build, a listener phase). */
final class Acc {
  var jobs, stages, tasks, checkpointJobs, untaggedJobs = 0L
  var taskRunMs, taskCpuNs, schedDelayMs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var analysisMs, optimizerMs, planningMs = 0L
  var ruleNs, ruleCalls, ruleEffective = 0L
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()

  /** Wall milliseconds covered by at least one job. */
  def jobCoverMs: Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE >= 0) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE >= 0) covered += curE - curS
    covered
  }

  def add(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    checkpointJobs += o.checkpointJobs; untaggedJobs += o.untaggedJobs
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    analysisMs += o.analysisMs; optimizerMs += o.optimizerMs; planningMs += o.planningMs
    ruleNs += o.ruleNs; ruleCalls += o.ruleCalls; ruleEffective += o.ruleEffective
  }
}

/** Spark's public listener surfaces, attributed to the scope the
  * client thread names. The client drains the listener bus before it
  * changes scope, so events of one scope never land in the next. */
final class Layers(spark: SparkSession) {
  /** The current scope; it is also the job group of its jobs. */
  @volatile private var scope = "setup"
  val byScope = mutable.LinkedHashMap[String, Acc]()
  /** Every progress of every stream, with the scope it ran in. */
  val progress = mutable.ArrayBuffer[(String, StreamingQueryProgress)]()
  private val jobStart = mutable.Map[Int, Long]()
  private val watchedRules = Seq("FoldSelfCosine", "RewriteWindowTopK", "RewriteBandJoin")

  private def acc: Acc = synchronized(byScope.getOrElseUpdate(scope, new Acc))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val a = acc
      a.jobs += 1
      jobStart(e.jobId) = e.time
      val props = Option(e.properties)
      val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      if (!g.contains(scope)) a.untaggedJobs += 1
      val site = props.flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("") +
        " " + e.stageInfos.map(_.name).mkString(" ")
      if (site.contains("checkpoint at") || site.contains("localCheckpoint at") ||
          site.contains("checkpoint(") || site.contains("Checkpoint at")) a.checkpointJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => acc.jobSpans += ((s, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      acc.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc
      a.tasks += 1
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        if (i != null && i.finishTime > 0) {
          val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          a.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      val a = acc
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      a.analysisMs += ms("analysis")
      a.optimizerMs += ms("optimization")
      a.planningMs += ms("planning")
      qe.tracker.rules.foreach { case (name, r) =>
        if (watchedRules.exists(name.contains)) {
          a.ruleNs += r.totalTimeNs
          a.ruleCalls += r.numInvocations
          a.ruleEffective += r.numEffectiveInvocations
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      progress += ((scope, e.progress))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `body` as scope `name` under job group `name`. */
  def within[A](name: String)(body: => A): A = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    scope = name
    spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
    try body
    finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      scope = "idle"
    }
  }

  def scopeAcc(name: String): Acc = synchronized(byScope.getOrElse(name, new Acc))
}
