package kgbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Benchmark entry point (started by run.py, which builds the classes):
  *
  * {{{
  * kgbench.Main --workload W --seed N --seconds S --trace 0|1
  *              --work-dir DIR --result FILE [--scale X]
  * }}}
  *
  * `--trace 0` measures the end-to-end metrics with nothing attached;
  * `--trace 1` is the separate traced run that yields the per-layer
  * metrics. The result object goes to FILE; DIR holds every table and
  * span file the run writes.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: Double, workDir: String, result: String)

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got ${args.mkString(" ")}")
    val m = args.grouped(2).map(kv => kv(0).drop(2) -> kv(1)).toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    require(Set("0", "1").contains(need("trace")), "--trace is 0 or 1")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.getOrElse("scale", "1").toDouble, need("work-dir"), need("result"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.workDir))
    val correct = run(a)
    sys.exit(if (correct) 0 else 1)
  }

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs one workload and writes the result object; true when every
    * operation and check was correct.
    */
  def run(a: Args): Boolean = {
    val cores = Runtime.getRuntime.availableProcessors
    val load0 = Host.loadAvg1()
    val ticks0 = Host.cpuTicks()
    val (spark, sessionS) = seconds(Sessions.local(cores, appName = "kgbench"))
    spark.sparkContext.setLogLevel("ERROR")
    val conf = sessionConf(spark)
    val ctx = new Ctx(spark, a.seed, a.scale, a.workDir, cores)
    val w = Workloads(a.workload, ctx)
    val (metrics, attempted, failed, checks, details) =
      if (a.trace) traced(ctx, w, a) else timed(ctx, w, a, sessionS)
    val contention = Seq(
      "steal_pct" -> Host.stealPct(ticks0, Host.cpuTicks()),
      "loadavg1_start" -> load0, "loadavg1_end" -> Host.loadAvg1(),
      "process_cpu_s" -> Host.processCpuS(), "cores" -> cores)
    spark.stop()

    val correct = failed == 0 && checks.forall(_.ok)
    checks.foreach(c => println(s"kgbench: check ${c.name} ok=${c.ok} ${c.detail}"))
    println("kgbench: contention " + contention.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val metricsJson = Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
    }))
    val artifact = Json.obj(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "scale" -> a.scale, "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricsJson,
      "checks" -> checks.map(c => Json.Raw(Json.obj(Seq("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)))),
      "contention" -> Json.Raw(Json.obj(contention)),
      "session_conf" -> Json.Raw(Json.obj(conf))) ++ details)
    Files.write(Paths.get(a.workDir, "artifact.json"), artifact.getBytes(UTF_8))
    Files.write(Paths.get(a.result), Json.obj(Seq("correct" -> correct,
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metricsJson)).getBytes(UTF_8))
    correct
  }

  /** Session settings that change what is measured: the ones `Sessions`
    * sets, plus the scratch dir the benchmark pins through its environment.
    */
  private def sessionConf(spark: SparkSession): Seq[(String, String)] =
    spark.sparkContext.getConf.getAll.toSeq
      .filterNot { case (k, _) => k.startsWith("spark.app.") || k.startsWith("spark.driver.") ||
        k == "spark.executor.id" }
      .sorted

  /** Input preparations per timed run; `setup_s` takes their median. */
  val setupReps = 3

  type Outcome = (Seq[(String, Double, String)], Int, Int, Seq[Check], Seq[(String, Any)])

  /** The end-to-end run: set-up, warm-up, then a closed loop of
    * operations for the requested seconds, then the correctness checks.
    */
  private def timed(ctx: Ctx, w: Workload, a: Args, sessionS: Double): Outcome = {
    // the tagger is trained once: its first training in a fresh JVM is
    // most of a run's fixed cost (about 20 s), so only the workload's own
    // preparation is repeated
    val trainS = seconds(ctx.trainTagger())._2
    val setups = (1 to setupReps).map { r =>
      if (r > 1) w.release()
      seconds(w.prepare())._2
    }
    var i = 0
    var attempted = 0
    var failed = 0
    def runOp(): (Double, Long) = {
      w.before(i)
      val ((ok, rows), s) = seconds {
        try w.op(i) catch { case NonFatal(e) => println(s"kgbench: op $i failed: $e"); (false, 0L) }
      }
      i += 1
      attempted += 1
      if (!ok) failed += 1
      (s, rows)
    }
    val warmupS = seconds { w.warmup(); (1 to w.warmupOps).foreach(_ => runOp()) }._2
    val cpu0 = Host.processCpuS()
    val ticks0 = Host.cpuTicks()
    val t0 = System.nanoTime()
    val ops = ArrayBuffer.empty[(Double, Long)]
    while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) ops += runOp()
    val windowS = (System.nanoTime() - t0) / 1e9
    val cpuS = Host.processCpuS() - cpu0
    val steal = Host.stealPct(ticks0, Host.cpuTicks())
    val (checks, checksS) = seconds(try w.checks() catch {
      case NonFatal(e) => Seq(Check("checks", ok = false, e.toString))
    })
    attempted += checks.length
    failed += checks.count(!_.ok)

    val opSeconds = ops.map(_._1).toSeq
    val opS = opSeconds.sum
    val turns = ops.map(_._2).sum.toDouble
    val setupS = sessionS + trainS + Stats.median(setups)
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("turns_per_s", turns / opS, "1/s"),
      ("turns_per_cpu_s", turns / cpuS, "1/s"),
      ("op_p50_s", Stats.median(opSeconds), "s"),
      ("ok_frac", (attempted - failed).toDouble / attempted, "frac"),
      ("peak_rss_mb", Host.peakRssMb(), "MB"))
    println(s"kgbench: ${w.name} " + metrics.map { case (n, v, u) => s"$n=$v $u" }.mkString(", ") +
      f", failed_frac=${failed.toDouble / attempted}%.4f; ${opSeconds.length} operations, " +
      f"window_s=$windowS%.2f window_steal_pct=$steal%.2f")
    val details = Seq(
      "ops_s" -> opSeconds, "ops_turns" -> ops.map(_._2).toSeq,
      "window_s" -> windowS, "window_cpu_s" -> cpuS, "window_steal_pct" -> steal,
      "session_s" -> sessionS, "train_s" -> trainS, "prepare_reps_s" -> setups,
      "warmup_s" -> warmupS, "checks_s" -> checksS)
    w.release()
    (metrics, attempted, failed, checks, details)
  }

  private def traced(ctx: Ctx, w: Workload, a: Args): Outcome = {
    val layers = new Layers(ctx, w, a.seconds)
    layers.run()
    val spanFile = Paths.get(a.workDir, "spans.jsonl")
    Files.write(spanFile, layers.spans.mkString("", "\n", "\n").getBytes(UTF_8))
    val checks = layers.checks.toSeq
    (layers.metrics, layers.attempted + checks.length,
      layers.failed + checks.count(!_.ok), checks, Seq("spans_file" -> spanFile.toString))
  }
}
