package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A workload's pass, returned as (end-to-end metrics, per-layer
  * metrics, operations attempted, failures). End-to-end metrics whose
  * name starts with `info.` are printed but not part of the result line. */
object Workloads {
  type Out = (Map[String, Double], Map[String, Double], Int, Seq[String])

  def listener(spark: SparkSession, out: File, seed: Long, cores: Int, spans: Spans,
               traced: Boolean): Out = {
    val layers = if (traced) Some(new Layers(spark)) else None
    layers.foreach(_.attach())
    val dir = new File(out, "listener")
    val p = try Listener.pass(spark, dir, seed, cores, spans, layers)
    finally deleteTree(dir)
    val tail = p.tailBatchMs
    val e2e = Map(
      "suite_s" -> p.wallS,
      "op_geomean_ms" -> Stats.geomean(tail),
      "info.op_p50_ms" -> Stats.median(tail),
      "info.listener_rows_per_s" -> p.backfillRows / p.backfillS,
      "info.listener_batch_p50_ms" -> Stats.median(tail),
      "info.listener_batch_p95_ms" -> Stats.quantile(tail, 0.95),
      "info.listener_tail_batches" -> tail.size.toDouble,
      "info.listener_rows" -> p.expectedRows.toDouble)
    val layerOut = mutable.LinkedHashMap[String, Double]()
    layers.foreach { l =>
      Listener.phaseP50(p.backfillProgress).foreach { case (k, v) => layerOut(s"streaming.backfill.$k") = v }
      Listener.phaseP50(p.tailProgress).foreach { case (k, v) => layerOut(s"streaming.tail.$k") = v }
      layerOut("streaming.batches") = (p.backfillProgress.size + p.tailProgress.size).toDouble
      layerOut("streaming.resume_ms") = p.resumeMs
      layerOut("streaming.backfill_rows_per_s") = p.backfillRows / p.backfillS
      layerOut("streaming.tail_batch_p95_ms") = Stats.quantile(tail, 0.95)
      try layerOut ++= Listener.probes(spark, new File(out, "probes"), seed, cores, p.backfillRows, spans, l)
      finally deleteTree(new File(out, "probes"))
      layerOut("trace.suite_s") = p.wallS
      l.detach()
      // every progress of every stream, not only the last
      // numRecentProgressUpdates of each query
      val lines = l.progress.map { case (scope, p) => s"""{"scope":${Json.str(scope)},"progress":${p.json}}""" }
      Files.write(Paths.get(out.getPath, "progress.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    (e2e, layerOut.toMap, 3, p.failures)
  }

  /** Runs the keys of `expected` (key → digest) and checks each digest. */
  def keys(spark: SparkSession, workload: String, expected: Map[String, String],
           data: String, cores: Int, out: File, spans: Spans, traced: Boolean): Out = {
    val fns = Keys.all(workload)
    // name order, the same for every seed: per-key latency depends on
    // position (the first keys pay the pass's first-use codegen)
    val order = expected.keys.toSeq.sorted
    val layers = if (traced) Some(new Layers(spark)) else None
    layers.foreach(_.attach())
    def scoped[A](name: String)(body: => A): A = layers.fold(body)(_.within(name)(body))
    val failures = mutable.ArrayBuffer[String]()
    val memoSecs = mutable.LinkedHashMap[String, Double]()
    val wall = mutable.LinkedHashMap[String, Double]()
    val t0 = System.nanoTime()
    def buildMemo(tag: String): Unit = {
      val m0 = System.nanoTime()
      spans.group = s"memo.$tag"
      try spans(s"util.memo.$tag")(scoped(s"memo.$tag")(Keys.memos(tag)(spark, data)))
      catch { case e: Throwable => failures += s"memo $tag: ${e.getMessage}" }
      memoSecs(tag) = (System.nanoTime() - m0) / 1e9
    }
    if (workload == "llm-pipeline") Keys.passMemos.foreach(buildMemo)
    order.foreach { k =>
      spans.group = k
      val k0 = System.nanoTime()
      val got = scoped(k) {
        try {
          val df = spans("queries.build")(fns(k)(spark, data))
          Right(spans("queries.materialize")(Keys.digest(df)))
        } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(200)) }
      }
      wall(k) = (System.nanoTime() - k0) / 1e9
      spark.catalog.clearCache()
      got match {
        case Left(err) => failures += s"$k: threw: $err"
        case Right(d) if expected(k) != d => failures += s"$k: digest $d, expected ${expected(k)}"
        case _ => ()
      }
    }
    val suiteS = (System.nanoTime() - t0) / 1e9
    if (traced && workload == "llm-pipeline") Keys.probeMemos.foreach(buildMemo)
    val lat = wall.values.toSeq
    val e2e = Map(
      "suite_s" -> suiteS,
      "op_geomean_ms" -> Stats.geomean(lat) * 1000,
      "info.op_p50_ms" -> Stats.median(lat) * 1000,
      "info.key_p50_s" -> Stats.median(lat),
      "info.keys" -> lat.size.toDouble,
      "info.memo_s" -> Keys.passMemos.flatMap(memoSecs.get).sum)
    val layerOut = mutable.LinkedHashMap[String, Double]()
    layers.foreach { l =>
      val tot = new Acc
      var driverSelf = 0.0
      order.foreach { k =>
        val a = l.scopeAcc(k)
        tot.add(a)
        driverSelf += math.max(0.0, wall(k) - a.jobCoverMs / 1000.0)
      }
      def spanSum(n: String) = spans.all.filter(_.name == n).map(_.secs).sum
      val keyWall = wall.values.sum
      layerOut ++= Seq(
        "queries.build_s" -> spanSum("queries.build"),
        "queries.materialize_s" -> spanSum("queries.materialize"),
        "queries.jobs" -> tot.jobs.toDouble,
        "queries.stages" -> tot.stages.toDouble,
        "queries.tasks" -> tot.tasks.toDouble,
        "queries.checkpoint_jobs" -> tot.checkpointJobs.toDouble,
        "queries.untagged_jobs" -> tot.untaggedJobs.toDouble,
        "queries.driver_self_s" -> driverSelf,
        "queries.analysis_ms" -> tot.analysisMs.toDouble,
        "queries.optimizer_ms" -> tot.optimizerMs.toDouble,
        "queries.planning_ms" -> tot.planningMs.toDouble,
        "queries.task_run_s" -> tot.taskRunMs / 1e3,
        "queries.task_cpu_s" -> tot.taskCpuNs / 1e9,
        "queries.sched_delay_s" -> tot.schedDelayMs / 1e3,
        "queries.gc_s" -> tot.gcMs / 1e3,
        "queries.input_mb" -> tot.inputBytes / 1048576.0,
        "queries.shuffle_read_mb" -> tot.shuffleReadBytes / 1048576.0,
        "queries.shuffle_write_mb" -> tot.shuffleWriteBytes / 1048576.0,
        "queries.spill_mb" -> tot.spillBytes / 1048576.0,
        "queries.core_util" -> (if (keyWall > 0) tot.taskRunMs / 1e3 / (keyWall * cores) else 0.0),
        "plans.rule_ms" -> tot.ruleNs / 1e6,
        "plans.rule_effective_ratio" ->
          (if (tot.ruleCalls > 0) tot.ruleEffective.toDouble / tot.ruleCalls else 0.0),
        "trace.suite_s" -> suiteS)
      memoSecs.foreach { case (t, s) => layerOut(s"util.memo_build_s.$t") = s }
      // per-key cost card next to the spans
      val cards = order.map { k =>
        val a = l.scopeAcc(k)
        Json.obj("key" -> k, "wall_s" -> wall(k), "jobs" -> a.jobs, "stages" -> a.stages,
          "tasks" -> a.tasks, "checkpoint_jobs" -> a.checkpointJobs, "untagged_jobs" -> a.untaggedJobs,
          "job_cover_s" -> a.jobCoverMs / 1e3, "task_run_s" -> a.taskRunMs / 1e3,
          "analysis_ms" -> a.analysisMs, "optimizer_ms" -> a.optimizerMs, "planning_ms" -> a.planningMs)
      }
      Files.write(Paths.get(out.getPath, "keys.jsonl"), cards.mkString("", "\n", "\n").getBytes("UTF-8"))
      l.detach()
    }
    (e2e, layerOut.toMap, order.size + memoSecs.size, failures.toSeq)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
