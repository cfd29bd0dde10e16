package kgbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.{KgPipeline, Sessions}
import graft.functions.CompiledTagger
import graft.ml.SectionTagger
import graft.operators.{ConvFinalize, Linking, Scoring, SparqlLite, TripleEmit, TurnExtract}
import graft.rules.{DictRules, Rules}
import graft.sources.{TranscriptGen, VersionedTable}

/** Executed-plan evidence read through AQE's final plan and its stages. */
object PlanShape extends AdaptiveSparkPlanHelper {
  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  def exchanges(df: DataFrame): Int = collectWithSubqueries(plan(df)) {
    case e: ShuffleExchangeLike => e
    case e: BroadcastExchangeLike => e
  }.size

  def joins(df: DataFrame): Int = collectWithSubqueries(plan(df)) { case j: BaseJoinExec => j }.size

  /** Rows produced by the plan's leaves (the scans) of an executed frame. */
  def leafRows(df: DataFrame): Long = collectWithSubqueries(plan(df)) {
    case l: LeafExecNode => l.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }.sum
}

/** The traced run: per-layer numbers for one workload, gathered around the
  * public calls of every layer, with the benchmark's listener attributing
  * Spark task metrics to the spans by time window.
  */
final class Layers(ctx: Ctx, w: Workload, seconds: Double) {
  private implicit val spark: SparkSession = ctx.spark
  private val tracer = new Tracer(s"${w.name}-${ctx.seed}")
  private val listener = new EngineListener
  private val out = ArrayBuffer.empty[(String, Double, String)]
  val checks: ArrayBuffer[Check] = ArrayBuffer.empty
  var attempted = 0
  var failed = 0
  private var opIndex = 0

  def metrics: Seq[(String, Double, String)] = out.toSeq
  def spans: Seq[String] = tracer.jsonLines

  private def put(name: String, value: Double, unit: String): Unit = out += ((name, value, unit))

  private def engine(s: Span): Window = listener.window(spark.sparkContext, s.startMs, s.endMs)

  private def runOp(): Double = {
    val i = opIndex
    opIndex += 1
    w.before(i)
    val t0 = System.nanoTime()
    val ok = try w.op(i)._1 catch { case scala.util.control.NonFatal(_) => false }
    attempted += 1
    if (!ok) failed += 1
    (System.nanoTime() - t0) / 1e6
  }

  def run(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    ctx.tracer = Some(tracer)
    tracer.span("setup") {
      tracer.span("setup.tagger")(ctx.trainTagger())
      tracer.span("setup.prepare")(w.prepare())
    }
    tracer.span("warmup") { w.warmup(); (1 to w.warmupOps).foreach(_ => runOp()) }
    opLayer()
    constructionLayers()
    kernels()
    checks ++= tracer.span("checks")(w.checks())
    ctx.tracer = None
    spark.sparkContext.removeSparkListener(listener)
    serialBaseline()
  }

  /** The workload's own operation over the window, alternating between
    * bare and traced operations: the difference of their medians is the
    * tracing overhead, and the traced ones give the engine's numbers per
    * operation.
    */
  private def opLayer(): Unit = {
    val bare = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def bareOp(): Unit = { ctx.tracer = None; bare += runOp(); ctx.tracer = Some(tracer) }
    def tracedOp(): Unit = traced += tracer.span("op")(runOp())
    // pairs in ABBA order, so a trend in operation times cancels out
    while (traced.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (traced.length % 2 == 0) { bareOp(); tracedOp() } else { tracedOp(); bareOp() }
    }
    val wins = tracer.all.filter(_.name == "op").map(engine)
    val win = Window(wins.flatMap(_.tasks), wins.flatMap(_.jobs), wins.map(_.wallS).sum)
    val n = traced.length.toDouble
    put("spark.jobs", win.jobs.length / n, "count/op")
    put("spark.tasks", win.tasks.length / n, "count/op")
    put("spark.executor_cpu_s", win.cpuS / n, "s/op")
    put("spark.gc_s", win.gcS / n, "s/op")
    put("spark.shuffle_write_bytes", win.shuffleWriteBytes / n, "B/op")
    put("spark.spill_bytes", win.spillBytes / n, "B/op")
    put("spark.first_task_delay_s", win.firstTaskDelayS, "s")
    put("spark.executor_busy_frac", win.busyFrac(ctx.cores), "frac")
    val (b, t) = (Stats.median(bare.toSeq), Stats.median(traced.toSeq))
    put("trace.untraced_op_ms", b, "ms")
    put("trace.overhead_ms", t - b, "ms")
  }

  /** S1-S6 mirrored call for call from `KgPipeline.triplesFromCleaned`,
    * each stage cached and counted so its cost is its own; then the write
    * and the query layers over the triples it produced.
    */
  private def constructionLayers(): Unit = {
    val input = w.constructionInput()
    tracer.span("construct.fused") {
      val hashed = Kg.hashFrame(KgPipeline.computeTriples(input, ctx.tagger).toDF())
      Kg.readHash(hashed)
      put("plan.exchanges", PlanShape.exchanges(hashed), "count")
      put("plan.joins", PlanShape.joins(hashed), "count")
    }
    put("trace.fused_s", tracer.named("construct.fused").seconds, "s")

    val cached = ArrayBuffer.empty[DataFrame]
    def stage[A](name: String)(f: => (A, DataFrame)): A = {
      val (a, df) = tracer.span(name) {
        val (a, df) = f
        cached += df.cache()
        put(s"$name.rows_out", df.count(), "rows")
        (a, df)
      }
      val s = tracer.named(name)
      val win = engine(s)
      put(s"$name.busy_s", s.seconds, "s")
      put(s"$name.cpu_s", win.cpuS, "s")
      put(s"$name.jobs", win.jobs.length, "count")
      put(s"$name.shuffle_write_bytes", win.shuffleWriteBytes, "B")
      put(s"$name.gc_s", win.gcS, "s")
      put(s"$name.task_skew", win.taskSkew, "ratio")
      a
    }
    val stages = Seq("s1_clean", "s2_tag", "s3_extract", "s4_conv", "s5_scoring", "s5_linking", "s6_emit")
    val cleaned = stage("s1_clean") { val c = KgPipeline.cleanTurns(input); (c, c) }
    val tagged = stage("s2_tag") { val t = SectionTagger.predict(ctx.tagger, cleaned); (t, t) }
    val extracted = stage("s3_extract") { val x = TurnExtract.extract(tagged); (x, x) }
    val convs = stage("s4_conv") { val c = ConvFinalize.runClustered(extracted); (c, c.toDF()) }
    val enriched = stage("s5_scoring") {
      val convSkills = convs.select(col("conv_id"), explode(col("skills")).as("skill"))
      val si = Scoring.sectorAndIsco(convSkills).cache()
      cached += si
      val convLoc = convs.toDF().select(col("conv_id"), col("location"))
        .filter(col("location").isNotNull)
      val e = si.select(col("conv_id"), col("sector"), col("isco3"))
        .join(convLoc, Seq("conv_id"), "left")
        .join(broadcast(Scoring.estimateDim), Seq("location", "isco3"), "left")
        .select(col("conv_id"), col("sector"), col("estimated_salary"))
      (e, e)
    }
    val (canonical, audit) = stage("s5_linking") {
      val r = Linking.canonicalizeWithMetrics(convs.toDF().select(explode(col("orgs")).as("surface")))
      (r, r._1)
    }
    val triples = stage("s6_emit") {
      val t = TripleEmit.runEnriched(convs, enriched, canonical).toDF(); (t, t)
    }
    put("trace.decomp_sum_s", stages.map(tracer.named(_).seconds).sum, "s")
    linking(canonical, audit)

    val (table, version) = tracer.span("write.append")(w.traceWrite(triples))
    val files = version.dirs.lastOption.toSeq.flatMap { d =>
      Option(new java.io.File(s"$table/$d").listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    put("write.append_s", tracer.named("write.append").seconds, "s")
    put("write.files", files.length, "count")
    put("write.bytes_per_triple", files.map(_.length).sum.toDouble / math.max(1L, triples.count()), "B")
    cached.reverse.foreach(_.unpersist())
    queries(table)
  }

  /** Blocking evidence for entity linking: which path ran, how many
    * surfaces, and of the surface pairs sharing a 3-character shingle (the
    * candidate pairs blocking produces) the share that ended up linked.
    */
  private def linking(canonical: DataFrame, audit: DataFrame): Unit = {
    val rows = canonical.select("surface", "canonical").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val paths = audit.collect().map(_.getString(0)).toSet
    def sh(s: String): Set[String] = {
      val l = s.toLowerCase
      if (l.length < 3) Set(l) else (0 to l.length - 3).map(i => l.substring(i, i + 3)).toSet
    }
    val surfaces = rows.keys.toIndexedSeq
    val shingles = surfaces.map(sh)
    var candidates = 0L
    var matched = 0L
    for (a <- surfaces.indices; b <- (a + 1) until surfaces.length
         if (shingles(a) intersect shingles(b)).nonEmpty) {
      candidates += 1
      if (rows(surfaces(a)) == rows(surfaces(b))) matched += 1
    }
    put("s5_linking.surfaces", surfaces.length, "count")
    // 1 = driver-side local index, 2 = distributed LSH
    put("s5_linking.path", if (paths.contains("path_lsh")) 2 else 1, "id")
    put("s5_linking.match_frac", if (candidates == 0) 0.0 else matched.toDouble / candidates, "frac")
  }

  /** One query of each template over the table the write layer produced,
    * each checked against its hand-built `GraphQuery.bgpMatch` equivalent.
    */
  private def queries(table: String): Unit = {
    val pools = new QueryPools(VersionedTable.read(table))
    val per = (0 until 4).map { k =>
      val q = pools.query(ctx.seed, k)
      val s = tracer.span(s"query.${q.template}") {
        val tri = VersionedTable.read(table)
        val df = tracer.span("query.plan")(SparqlLite.sparql(tri, q.text))
        val n = tracer.span("query.exec")(df.collect()).length
        checks += GraphQ.check(tri, q, "trace_query")
        (tracer.named("query.plan").seconds, tracer.named("query.exec").seconds,
          PlanShape.leafRows(df).toDouble, n.toDouble)
      }
      val jobs = engine(tracer.named(s"query.${q.template}")).jobs.length
      (s, jobs)
    }
    put("query.plan_s", per.map(_._1._1).sum / per.length, "s")
    put("query.exec_s", per.map(_._1._2).sum / per.length, "s")
    put("query.jobs", per.map(_._2).sum.toDouble / per.length, "count")
    put("query.rows_in_per_row_out", per.map(_._1._3).sum / math.max(1.0, per.map(_._1._4).sum), "ratio")
  }

  /** Single-thread, driver-side kernel timings over a fixed in-memory turn
    * sample: median ns per turn over five passes, and the share of turns
    * on which the kernel found something.
    */
  private def kernels(): Unit = tracer.span("kernels") {
    import spark.implicits._
    val convs = (0L until ctx.scaled(600)).map(i => TranscriptGen.turnsFor(i, ctx.seed, 0, 0))
    val turns = convs.flatten
    val texts = turns.map(_.text).toArray
    val cleaned = texts.map(Rules.cleanString)
    val pre = texts.map(t => DictRules.preprocess(t).toLowerCase)
    val tagger = CompiledTagger.compile(ctx.tagger.model, ctx.tagger.labels)
      .getOrElse(throw new IllegalStateException("tagger did not compile to the native serve path"))
    def kernel(name: String, in: Array[String])(hit: String => Boolean): Unit = {
      var hits = 0
      val passes = (0 to 5).map { pass =>
        val t0 = System.nanoTime()
        var i = 0
        hits = 0
        while (i < in.length) { if (hit(in(i))) hits += 1; i += 1 }
        (System.nanoTime() - t0).toDouble / in.length
      }.drop(1)
      put(s"kernel.$name.ns_per_turn", Stats.median(passes), "ns")
      put(s"kernel.$name.hit_frac", hits.toDouble / in.length, "frac")
    }
    kernel("clean", texts)(t => Rules.cleanString(t) != t.trim.toLowerCase)
    kernel("tag", cleaned)(c => tagger.predict(c) != "description")
    kernel("title", pre)(p => DictRules.extractTitle(p).nonEmpty)
    kernel("skills", pre)(p => DictRules.extractSkills(p).nonEmpty)
    kernel("education", cleaned)(c => Rules.extractEducation(c).nonEmpty)
    kernel("locations", cleaned)(c => Rules.extractLocations(c).nonEmpty)
    kernel("orgs", texts)(t => Rules.extractOrgs(t).nonEmpty)

    // conv finalize: per-conversation resolution over the sample's
    // extracted turns, collected once through the S1-S3 public calls
    val slim = TurnExtract.extract(SectionTagger.predict(ctx.tagger,
        KgPipeline.cleanTurns(spark.createDataset(turns))))
      .select("conv_id", "turn_idx", "tool", "text", "emp_groups", "locations", "orgs",
        "edu_phrases", "sal", "start_dates", "deadline_dates")
      .as[ConvFinalize.SlimTurn].collect().groupBy(_.conv_id).toSeq.sortBy(_._1)
      .map { case (id, ts) => (id, ts.toSeq) }
    val passes = (0 to 5).map { _ =>
      val t0 = System.nanoTime()
      slim.foreach { case (id, ts) => ConvFinalize.finalizeConv(id, ts) }
      (System.nanoTime() - t0).toDouble / turns.length
    }.drop(1)
    put("kernel.conv_finalize.ns_per_turn", Stats.median(passes), "ns")
  }

  /** The same reduced construction on all cores and then on `local[1]`:
    * their ratio over the core count is the parallel efficiency. Runs
    * last, because it replaces the session.
    */
  private def serialBaseline(): Unit = {
    val n = ctx.scaled(1000)
    def timeOn(s: SparkSession, reps: Int): Double = {
      val turns = TranscriptGen.dataset(s, n, ctx.seed, 0, 0).cache()
      turns.count()
      Kg.readHash(Kg.hashFrame(KgPipeline.computeTriples(turns, ctx.tagger)(s).toDF()))
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        Kg.readHash(Kg.hashFrame(KgPipeline.computeTriples(turns, ctx.tagger)(s).toDF()))
        (System.nanoTime() - t0) / 1e9
      }
      turns.unpersist()
      Stats.median(ts)
    }
    val parallel = timeOn(spark, 3)
    spark.stop()
    val serial = Sessions.local(1, appName = "kgbench-serial")
    serial.sparkContext.setLogLevel("ERROR")
    val one = try timeOn(serial, 1) finally serial.stop()
    put("spark.parallel_efficiency", one / (ctx.cores * parallel), "frac")
  }
}
