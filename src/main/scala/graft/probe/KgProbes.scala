package graft.probe

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.{Bench, KgPipeline, Sessions, SparkEntry}
import graft.functions.NerProxyFast
import graft.ml.SectionTagger
import graft.obs.StageStats
import graft.operators.{ConvFinalize, Dedup}
import graft.rules.Rules
import graft.sources.TranscriptGen
import Kit._

/** Probes of the kg pipeline and its kernels. Each prints the lines and the
  * JSON keys recorded in BENCH_SCALING.md.
  */
object KgProbes {

  private def tagger(spark: SparkSession): SectionTagger.Trained =
    SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 200))

  /** `profile kg|<query> [reps]`: per-stage wall, task count, task time and
    * shuffle bytes of the last of `reps` runs of the fused kg pipeline
    * (`computeTriples().count()` over SPARK_GRAFT_CONVS generated
    * conversations) or of one SparkEntry query on SPARK_GRAFT_SF_DIR.
    * SPARK_GRAFT_EXPLAIN=1 also writes the kg plan (see [[Kit.writePlan]]).
    */
  def profile(args: Seq[String]): Unit = {
    val target = args.headOption.getOrElse(throw new IllegalArgumentException(
      "profile needs a target: kg or a SparkEntry query name"))
    val reps = args.lift(1).fold(3)(_.toInt)
    withSession() { implicit spark =>
      val (tag, run): (String, Int => Unit) =
        if (target == "kg") {
          val t = tagger(spark)
          val turns = TranscriptGen.dataset(spark, long("SPARK_GRAFT_CONVS", 40000),
            seed = 42L, skewConvs = 4, skewTurns = 800).cache()
          println(s"[kgprof] turns=${turns.count()}")
          if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
            writePlan(KgPipeline.computeTriples(turns, t).toDF(), "kg_pipeline")
          ("kgprof", i => {
            val (m, sec) = Bench.time(KgPipeline.computeTriples(turns, t).count())
            println(f"[kgprof] run $i triples=$m wall=$sec%.3f s (cum cpu=${Bench.processCpuSec()}%.1f)")
          })
        } else {
          val fn = SparkEntry.queries.getOrElse(target, throw new IllegalArgumentException(
            s"profile: unknown target '$target'; use kg or a SparkEntry query name"))
          ("qprof", i => {
            SparkEntry.clearEntryCache()
            val (n, sec) = Bench.time(fn(spark, Kit.sfDir).count())
            println(f"[qprof] $target run $i rows=$n wall=$sec%.3f s")
          })
        }
      (1 until reps).foreach(run)
      val stats = StageStats.attach(spark.sparkContext)
      run(reps)
      val stages = stats.stages
      println(f"[$tag] jobs=${stats.jobs} stages=${stages.length}")
      stages.foreach { r =>
        println(f"[$tag] stage ${r.id}%4d wall=${r.wallMs}%5d ms tasks=${r.tasks}%3d " +
          f"taskTime=${r.runTimeMs}%6d ms shR=${r.shuffleRead}%9d shW=${r.shuffleWrite}%9d  ${r.name}")
      }
    }
  }

  /** `hotkey`: adversarial hot-key stress for the two skew-guarded
    * shuffles: the salted conv aggregation and the LSH bucket caps must keep
    * the shuffle bounded when one key dominates.
    *
    *  - Conv path: ONE conversation carries ~10% of all turns. Both the
    *    salted two-level path and the clustered map-side path run; the
    *    report has per-pass seconds and the straggler ratio of the
    *    heaviest stage, the number that explodes when a hot key serializes
    *    one reducer.
    *  - Linking path: a 30k-surface vocabulary where one boilerplate family
    *    of 5k near-identical surfaces shares its shingle sets (the all-pairs
    *    bucket would be ~12.5M pairs); bandedMinHashPairs must star-sample
    *    it, and the audit frame reports the trade (n_oversized_buckets /
    *    n_star_pairs) instead of hiding it.
    */
  def hotkey(args: Seq[String]): Unit = withSession() { implicit spark =>
    import spark.implicits._
    val nConvs = long("SPARK_GRAFT_CONVS", 100000)
    val stats = StageStats.attach(spark.sparkContext)
    // baseline avg ≈ 15.8 turns/conv, so skewTurns ≈ 1.75 × nConvs puts
    // the hot conversation at ~10% of the total bag
    val turns = TranscriptGen.dataset(spark, nConvs, 42L,
      skewConvs = 1, skewTurns = (nConvs * 1.75).toInt).cache()
    val nTurns = turns.count()
    val extracted = KgPipeline.extractTurns(KgPipeline.cleanTurns(turns), tagger(spark),
      extractDates = false).cache()
    extracted.count()
    val hotShare = extracted.filter(col("conv_id") === "conv-00000000").count().toDouble / nTurns
    def pass(f: => Long): (Double, Double, Long) = {
      stats.reset()
      val (n, sec) = Bench.time(f)
      (sec, stats.stragglerRatio, n)
    }
    ConvFinalize.run(extracted).count() // warm-up
    val (saltSec, saltRat, nc1) = pass(ConvFinalize.run(extracted).count())
    val (clusSec, clusRat, nc2) = pass(ConvFinalize.runClustered(extracted).count())
    require(nc1 == nc2, s"paths disagree under skew: $nc1 vs $nc2")
    turns.unpersist(); extracted.unpersist()

    val surfaces = spark.range(0, 25000)
      .select(concat(lit("org "), md5(col("id").cast("string"))).as("surface"))
      .unionAll(spark.range(0, 5000)
        .select(concat(lit("hub family corp"), lit(" "),
          (col("id") % 5).cast("string")).as("surface"))) // 5 distinct × 1000
      .unionAll(spark.range(0, 5000)
        .select(concat(lit("hubco shared boilerplate entry number "),
          col("id")).as("surface"))) // 5k DISTINCT sharing most shingles
    val nodes = surfaces.distinct()
      .withColumn("id", monotonically_increasing_id())
      .withColumn("shingles",
        array_distinct(transform(
          sequence(lit(0), greatest(length(lower(col("surface"))) - 3, lit(0))),
          i => lower(col("surface")).substr(i + 1, lit(3)))))
      .select("id", "shingles").localCheckpoint()
    val ((nPairs, m), lshSec) = Bench.time {
      val (pairs, audit) = Dedup.bandedMinHashPairsAudited(nodes, bucketCap = 2000)
      (pairs.count(), audit.as[(String, Long)].collect().toMap)
    }
    println(Json("metric" -> "hotkey_stress", "convs" -> nConvs, "turns" -> nTurns,
      "hot_conv_share" -> num(hotShare, 3), "salted_sec" -> num(saltSec, 2),
      "salted_straggler" -> num(saltRat, 2), "clustered_sec" -> num(clusSec, 2),
      "clustered_straggler" -> num(clusRat, 2), "lsh_pairs" -> nPairs,
      "lsh_sec" -> num(lshSec, 2), "n_oversized_buckets" -> m("n_oversized_buckets"),
      "n_star_pairs" -> m("n_star_pairs"), "max_bucket" -> m("max_bucket_size")))
  }

  /** `anchor`: the 100x scale anchor, one end-to-end kg leg at ≥ 100M turns
    * (SPARK_GRAFT_CONVS=6400000, about 101M turns; needs a ~90g heap, the
    * stage caches spill via MEMORY_AND_DISK) with the per-stage seconds of
    * [[Bench.kgStages]] and the shuffle bytes of the pipeline stages only:
    * the listener attaches after generation and tagger training.
    */
  def anchor(args: Seq[String]): Unit = withSession() { implicit spark =>
    val nConvs = long("SPARK_GRAFT_CONVS", 6400000)
    val t = tagger(spark)
    // persisted before the timed region so s1_clean measures cleaning, not
    // a second generation pass
    val turns = TranscriptGen.dataset(spark, nConvs, seed = 42L,
        skewConvs = 4, skewTurns = 800)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nTurns, genSec) = Bench.time(turns.count())
    val stats = StageStats.attach(spark.sparkContext)
    val ((stages, nTriples), totalSec) =
      Bench.time(Bench.kgStages(spark, t, turns, unpersistEagerly = true))
    turns.unpersist()
    val sh = stats.shuffle
    println(Json("metric" -> "anchor_100x", "convs" -> nConvs, "turns" -> nTurns,
      "triples" -> nTriples, "gen_sec" -> num(genSec, 1), "pipeline_sec" -> num(totalSec, 1),
      "turns_per_sec" -> num(nTurns / totalSec, 1),
      "stage_split" -> Json(stages.map { case (k, v) => k -> num(v, 1) }: _*),
      "shuffle_write_gb" -> num(sh.writeBytes / 1e9, 2),
      "shuffle_read_gb" -> num(sh.readBytes / 1e9, 2),
      "peak_stage_write_gb" -> num(sh.peak.fold(0L)(_.shuffleWrite) / 1e9, 2),
      "peak_stage" -> sh.peak.fold("")(s => s"${s.id}:${s.name}".take(64)),
      "cores" -> cores(spark)))
  }

  /** `scaling`: the same kg job at local[8] and local[32] on identical input
    * (the single-host proxy of N vs 4N executors, BASELINE.md), interleaved
    * min-of-SPARK_GRAFT_REPS.
    */
  def scaling(args: Seq[String]): Unit = {
    val nConvs = long("SPARK_GRAFT_CONVS", 40000)
    val runs = interleaved(int("SPARK_GRAFT_REPS", 2), Seq(8, 32)) { cores =>
      withSession(Sessions.local(cores, appName = s"graft-scaling-$cores")) { spark =>
        Bench.kgOnce(spark, 200) // JIT/codegen warm-up
        val (run, m) = Bench.measure(Bench.kgOnce(spark, nConvs))
        (run, m.copy(sec = run._3)) // kgOnce times the pipeline alone
      }
    }
    levelsJson("scaling_efficiency", runs, c => s"local[$c]")
  }

  /** `cluster-scaling`: the kg job on REAL separate executor JVMs
    * (local-cluster, 1 vs 4 executors × SPARK_GRAFT_EXEC_CORES), the
    * "N and 4N executors" criterion run literally as far as one host allows:
    * own heap, GC and JIT per executor, shuffle over the block-transfer
    * service; only the host's memory bus stays shared, so this is a lower
    * bound on real scale-out. Needs SPARK_HOME. Each session runs a warm-up
    * sized to drain the fresh executors' JIT backlog, then
    * SPARK_GRAFT_PASSES measured passes, all listed in `runs`.
    */
  def clusterScaling(args: Seq[String]): Unit = {
    val nConvs = long("SPARK_GRAFT_CONVS", 40000)
    val coresPerExec = int("SPARK_GRAFT_EXEC_CORES", 8)
    val passes = int("SPARK_GRAFT_PASSES", 2)
    val runs = interleaved(int("SPARK_GRAFT_REPS", 2), Seq(1, 4)) { execs =>
      withSession(Sessions.localCluster(execs, coresPerExec, appName = s"graft-cluster-$execs")) {
        spark =>
          // measuring before every executor registered would charge
          // executor start-up to the small level only
          val deadline = System.nanoTime() + 120L * 1000000000L
          while (spark.sparkContext.getExecutorMemoryStatus.size < execs + 1 &&
              System.nanoTime() < deadline) Thread.sleep(200)
          Bench.kgOnce(spark, math.max(nConvs / 10, 2000))
          Seq.fill(passes) {
            val (run, m) = Bench.measure(Bench.kgOnce(spark, nConvs))
            (run, m.copy(sec = run._3))
          }
      }
    }.map { case (k, v) => k -> v.flatten }
    levelsJson("cluster_scaling_efficiency", runs, e => s"executors=$e x $coresPerExec", withRuns = true)
  }

  /** One scaling JSON line over two levels of kgOnce runs. */
  private def levelsJson(metric: String, runs: Map[Int, Seq[((Long, Long, Double), Bench.Measured)]],
      label: Int => String, withRuns: Boolean = false): Unit = {
    val levels = runs.keys.toSeq.sorted
    val best = levels.map(l => l -> runs(l).minBy(_._2.sec)._1).toMap
    def tput(l: Int) = best(l)._1 / best(l)._3
    val speedup = tput(levels.last) / tput(levels.head)
    println(Json("metric" -> metric,
      "value" -> num(speedup / (levels.last.toDouble / levels.head), 3), "unit" -> "ratio",
      "levels" -> Json(levels.map { l =>
        label(l) -> Json(Seq("sec" -> num(best(l)._3, 2), "turns_per_sec" -> num(tput(l), 1)) ++
          (if (withRuns) Seq("runs" -> runs(l).map(r => num(r._2.sec, 2))) else Nil): _*)
      }: _*),
      "turns" -> best(levels.head)._1, "speedup" -> num(speedup, 3),
      "max_steal_pct" -> num(maxSteal(runs.values.flatten.map(_._2)), 1)))
  }

  /** `conv`: the s4_conv shuffle stage, salted vs clustered, passes
    * interleaved at the SPARK_GRAFT_MASTER session; then the same A/B fused
    * end to end.
    */
  def conv(args: Seq[String]): Unit = withSession() { implicit spark =>
    val t = tagger(spark)
    val turns = TranscriptGen.dataset(spark, long("SPARK_GRAFT_CONVS", 200000), 42L, 4, 800).cache()
    def extract() = KgPipeline.extractTurns(KgPipeline.cleanTurns(turns), t, extractDates = false)
    val extracted = extract().cache()
    println(s"[probe] extracted=${extracted.count()}")
    def report(what: String, unit: String, runs: Map[String, Seq[(Long, Double)]]): Unit =
      for ((arm, rs) <- runs; ((n, sec), i) <- rs.zipWithIndex)
        println(f"[probe] $what $arm pass ${i + 1}: $sec%.2f s ($n $unit)")
    report("conv", "convs", interleaved(3, Seq("salted", "clustered")) {
      case "salted" => Bench.time(ConvFinalize.run(extracted).count())
      case _ => Bench.time(ConvFinalize.runClustered(extracted).count())
    })
    report("fused", "triples", interleaved(2, Seq("salted", "clustered")) {
      case "salted" => Bench.time(KgPipeline.triplesFromConvs(ConvFinalize.run(extract()).cache()).count())
      case _ => Bench.time(KgPipeline.computeTriples(turns, t).count())
    })
  }

  /** `tag`: the compiled-tagger serve cost (s2_tag) alone at the
    * SPARK_GRAFT_MASTER session, three passes so JIT warm-up and steady
    * state separate.
    */
  def tag(args: Seq[String]): Unit = withSession() { implicit spark =>
    val t = tagger(spark)
    val turns = TranscriptGen.dataset(spark, long("SPARK_GRAFT_CONVS", 100000), 42L, 4, 800).cache()
    println(s"[probe] turns=${turns.count()}")
    val cleaned = KgPipeline.cleanTurns(turns).cache()
    cleaned.count()
    (1 to 3).foreach { i =>
      val (_, sec) = Bench.time(SectionTagger.predict(t, cleaned).agg(count(col("category"))).head())
      println(f"[probe] predict pass $i: $sec%.2f s")
    }
  }

  /** The per-turn kernel this engine adds to Spark's row path (clean chain,
    * gazetteer scan, ORG scan, NER-proxy counts, salary), with no Spark
    * machinery; `kernel` and `kernel-worker` measure exactly this work.
    */
  private def kernelPass(texts: Array[String]): Long = {
    var acc = 0L
    var i = 0
    while (i < texts.length) {
      val raw = texts(i)
      val clean = Rules.cleanString(raw)
      acc += Rules.scanGazetteer(clean).size
      acc += Rules.extractOrgs(raw).size
      acc += NerProxyFast.counts(UTF8String.fromString(clean)).numElements()
      acc += Rules.extractSalary(clean).map(_.values.size).getOrElse(0)
      i += 1
    }
    acc
  }

  private def kernelTexts(nConvs: Long, keep: Long => Boolean): Array[String] =
    (0L until nConvs).filter(keep).flatMap(i => TranscriptGen.turnsFor(i, 42L, 0, 0).map(_.text)).toArray

  /** `kernel`: thread scaling of [[kernelPass]] at 8 vs 32 threads in one
    * JVM, interleaved min-of-SPARK_GRAFT_REPS; isolates "does our per-row
    * code scale across threads" from host and Spark noise.
    */
  def kernel(args: Seq[String]): Unit = {
    val texts = kernelTexts(long("SPARK_GRAFT_KERNEL_CONVS", 30000), _ => true)
    println(s"[kernel] texts=${texts.length}")
    kernelPass(texts.take(20000)) // JIT warm-up
    val runs = measured(int("SPARK_GRAFT_REPS", 3), Seq(8, 32)) { threads =>
      val chunk = (texts.length + threads - 1) / threads
      val next = new AtomicInteger(0)
      val ts = Seq.fill(threads)(new Thread(() => {
        var c = next.getAndIncrement()
        while (c * chunk < texts.length) {
          kernelPass(texts.slice(c * chunk, math.min((c + 1) * chunk, texts.length)))
          c = next.getAndIncrement()
        }
      }))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    val tput = runs.map { case (l, rs) => l -> texts.length / best(rs) }
    val speedup = tput(32) / tput(8)
    println(Json(Seq("metric" -> "kernel_scaling_efficiency", "value" -> num(speedup / 4.0, 3),
        "unit" -> "ratio") ++
      runs.keys.map(l => s"threads[$l]" -> Json("sec" -> num(best(runs(l)), 2),
        "turns_per_sec" -> num(tput(l), 1))) ++
      Seq("texts" -> texts.length, "speedup" -> num(speedup, 3)): _*))
  }

  /** `kernel-worker SHARD N_SHARDS N_CONVS`: the process-level twin of
    * `kernel`: [[kernelPass]] single-threaded over a modulo shard of the
    * same corpus, so N of these JVMs side by side model N one-core
    * executors. Driven by scripts/proc_scale.sh.
    */
  def kernelWorker(args: Seq[String]): Unit = {
    val (shard, nShards, nConvs) = args.map(_.toLong) match {
      case Seq(a, b, c) => (a, b, c)
      case _ => throw new IllegalArgumentException("kernel-worker needs SHARD N_SHARDS N_CONVS")
    }
    val texts = kernelTexts(nConvs, _ % nShards == shard)
    val acc = kernelPass(texts.take(20000)) // warm-up
    val (acc2, sec) = Bench.time(kernelPass(texts))
    println(f"[worker] shard=$shard/$nShards texts=${texts.length} sec=$sec%.2f acc=${acc + acc2}")
  }
}
