package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, run one workload's pass, check
  * its outputs, and write `result.json` into `--out`.
  *
  * {{{
  * Main --workload listener|analytics-floor|llm-pipeline --seed 1
  *      --trace 0|1 --cores 4 --data <sf0.1 dir> --out <run dir>
  *      --expected <expected digests> [--mode run|setup|calibrate|selftest]
  *      [--keys k1,k2 --dump <dir>]
  * }}}
  * `setup` stops after set-up (timed from outside); `calibrate` runs
  * each key of the workload once, dumping its output for the DuckDB
  * oracle and printing its digest.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args.getOrElse("seed", "1").toLong
    val traced = args.getOrElse("trace", "0") == "1"
    val cores = args.getOrElse("cores", "4").toInt
    val data = args("data")
    val out = new File(args("out"))
    val mode = args.getOrElse("mode", "run")
    out.mkdirs()
    val loadStart = loadavg()

    val spark = newSession(cores, out)
    warmUp(spark)
    println("@@setup_done")
    System.out.flush()
    // a set-up-only run is timed up to here; its exit is not measured
    if (mode == "setup") Runtime.getRuntime.halt(0)

    mode match {
      case "calibrate" =>
        val keys = args.get("keys").map(_.split(",").toSeq).getOrElse(Keys.all(workload).keys.toSeq.sorted)
        calibrate(spark, workload, keys, data, args.get("dump"), out)
      case "selftest" =>
        if (!selfTest(spark, args("expected"), data, cores, out)) { spark.stop(); sys.exit(1) }
      case _ => run(spark, workload, seed, traced, cores, data, out, args, loadStart)
    }
    spark.stop()
  }

  private def run(spark: SparkSession, workload: String, seed: Long, traced: Boolean, cores: Int,
                  data: String, out: File, args: Map[String, String], loadStart: String): Unit = {
    val spans = new Spans(traced)
    val (e2e, layerOut, attempted, failures) = workload match {
      case "listener" => Workloads.listener(spark, out, seed, cores, spans, traced)
      case w =>
        val expected = Json.readFlat(new String(Files.readAllBytes(Paths.get(args("expected"))), "UTF-8"))
        Workloads.keys(spark, w, expected, data, cores, out, spans, traced)
    }
    val layers = mutable.LinkedHashMap[String, Double]() ++ layerOut
    if (traced) {
      val reg = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        spans("expr.registry_ensure")(graft.expr.Registry.ensure(spark))
        (System.nanoTime() - t0) / 1e6
      }
      layers("expr.registry_ensure_ms") = Stats.median(reg)
      spans.selfSecsByModule.foreach { case (m, s) => layers(s"trace.self_s.$m") = s }
      layers("trace.spans") = spans.all.size.toDouble
      Files.write(Paths.get(out.getPath, "spans.jsonl"),
        spans.jsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val rss = peakRssMb()
    if (traced) layers("jvm.peak_rss_mb") = rss
    val result = Map(
      "workload" -> workload,
      "e2e" -> (e2e ++ Map("info.peak_rss_mb" -> rss)),
      "per_layer" -> layers,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures,
      "stamp" -> Map(
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
        "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> cores,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "seed" -> seed, "data" -> data, "run_dir" -> out.getAbsolutePath,
        "run_dir_fs" -> fsType(out.getAbsolutePath)))
    Files.write(Paths.get(out.getPath, "result.json"), Json.value(result).getBytes("UTF-8"))
  }

  def newSession(cores: Int, out: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Generic warm-up: the JVM and whole-stage codegen on one aggregate
    * job, and graft's function registration. Workload-specific first
    * use (the parquet reader, the custom expressions' codegen) is paid
    * inside the pass, by whichever operation touches it first. */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000L).selectExpr("sum(id)", "avg(id)").collect()
    graft.expr.Registry.ensure(spark)
  }

  private def calibrate(spark: SparkSession, workload: String, keys: Seq[String], data: String,
                        dump: Option[String], out: File): Unit = {
    val fns = Keys.all(workload)
    val oracled = Keys.oracled(workload)
    if (workload == "llm-pipeline") Keys.passMemos.foreach(t => Keys.memos(t)(spark, data))
    val lines = keys.map { k =>
      val t0 = System.nanoTime()
      val rec = try {
        val df = fns(k)(spark, data)
        val d = Keys.digest(df)
        val secs = (System.nanoTime() - t0) / 1e9
        dump.foreach(dir => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$k"))
        Json.obj("key" -> k, "secs" -> secs, "digest" -> d, "oracled" -> oracled(k))
      } catch {
        case e: Throwable =>
          Json.obj("key" -> k, "secs" -> (System.nanoTime() - t0) / 1e9,
            "error" -> String.valueOf(e.getMessage).take(300), "oracled" -> oracled(k))
      }
      spark.catalog.clearCache()
      println("@@calibrate " + rec)
      rec
    }
    dump.foreach { dir =>
      val sql = Keys.families(workload).flatMap(_._2).filter { case (k, _) => keys.contains(k) }
      Files.write(Paths.get(dir, "oracle_sql.json"), Json.value(sql.toMap).getBytes("UTF-8"))
    }
    Files.write(Paths.get(out.getPath, "calibrate.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
  }

  /** The output checks must flag a corrupted expected digest and a
    * duplicated listener row, and pass the uncorrupted inputs. */
  private def selfTest(spark: SparkSession, expectedFile: String, data: String, cores: Int,
                       out: File): Boolean = {
    val expected = Json.readFlat(new String(Files.readAllBytes(Paths.get(expectedFile)), "UTF-8"))
    val Seq(bad, good) = expected.keys.toSeq.sorted.take(2)
    val corrupted = Map(bad -> expected(bad).reverse, good -> expected(good))
    val (_, _, _, keyFailures) = Workloads.keys(spark, "analytics-floor", corrupted, data, cores,
      out, new Spans(false), traced = false)
    val lo = Listener.startBlock(1L)
    val want = Listener.decode(Listener.batchRead(spark, lo, lo + 999, cores))
    val dup = want.union(want.limit(1))
    val (_, cleanFailures) = Listener.checkFrames(want, want)
    val (_, dupFailures) = Listener.checkFrames(dup, want)
    val checks = Seq(
      "corrupted digest flagged" -> keyFailures.exists(_.startsWith(s"$bad:")),
      "intact digest passes" -> !keyFailures.exists(_.startsWith(s"$good:")),
      "duplicated listener row flagged" -> dupFailures.exists(_.contains("duplicate")),
      "intact listener rows pass" -> cleanFailures.isEmpty)
    checks.foreach { case (name, pass) => println(s"@@selftest ${if (pass) "ok" else "FAIL"} $name") }
    checks.forall(_._2)
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+").take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** The driver JVM's resident high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }

  /** Filesystem type of the mount holding `path` (e.g. ext4, tmpfs). */
  def fsType(path: String): String =
    try {
      val mounts = scala.io.Source.fromFile("/proc/mounts").getLines().toSeq.map(_.split(" "))
      mounts.filter(m => path == m(1) || path.startsWith(m(1).stripSuffix("/") + "/"))
        .maxByOption(_(1).length).map(m => s"${m(2)} at ${m(1)}").getOrElse("unknown")
    } catch { case _: Throwable => "unknown" }
}
