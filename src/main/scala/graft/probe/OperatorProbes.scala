package graft.probe

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, SparkEntry}
import graft.functions.TokenJaccardFunctions.token_jaccard
import graft.operators.{Dedup, GraphMetrics, GraphQuery, TextAnalysis}
import graft.operators.GraphQuery.PathExpr.{Plus, PlusAll, Pred}
import graft.operators.GraphQuery.TriplePattern
import graft.rules.{AhoCorasick, DictRules}
import graft.sources.{Dims, TranscriptGen, VersionedTable}
import Kit._

/** Probes of single operators: each A/B or scale leg on a deterministic
  * fixture, interleaved min-of-reps, printing the lines and JSON keys
  * recorded in BENCH_SCALING.md.
  */
object OperatorProbes {

  /** Synthetic graph of `nEdges` edges over edges/10 nodes: uniform hash
    * endpoints plus a 1% hub stripe onto 16 nodes, so the rank aggregation
    * sees real key skew.
    */
  private def graphEdges(spark: SparkSession, nEdges: Long): DataFrame = {
    val nNodes = math.max(nEdges / 10, 100L)
    spark.range(0, nEdges).select(
      when(pmod(col("id"), lit(100)) === 0,
        pmod(xxhash64(col("id"), lit(1)), lit(16)))
        .otherwise(pmod(xxhash64(col("id"), lit(2)), lit(nNodes))).as("src"),
      pmod(xxhash64(col("id"), lit(3)), lit(nNodes)).as("dst"))
  }

  /** `graph`: the iterative graph operators (PageRank, BFS, LPA, weighted
    * relaxation, bounded closure, triangles) at local[8] vs local[32] on
    * SPARK_GRAFT_EDGES edges, interleaved min-of-reps.
    */
  def graph(args: Seq[String]): Unit = {
    val nEdges = long("SPARK_GRAFT_EDGES", 5000000)
    val triEdges = long("SPARK_GRAFT_TRI_EDGES", 10000000)
    val iters = int("SPARK_GRAFT_PR_ITERS", 5)
    val runs = interleaved(int("SPARK_GRAFT_REPS", 2), Seq(8, 32)) { cores =>
      withSession(graft.Sessions.local(cores, appName = s"graft-graph-scale-$cores")) { spark =>
        val e = graphEdges(spark, nEdges).cache()
        e.count()
        GraphMetrics.pageRank(e.limit(50000), 2).count() // codegen warm-up
        val seeds = e.select(col("src").as("node")).filter(col("node") < 16).distinct()
        // weighted relaxation from the hub stripe
        val we = e.withColumn("w", pmod(xxhash64(col("src"), col("dst")), lit(7)) + 1)
        val onHubGraph = Seq(
          "pagerank" -> Bench.measure(GraphMetrics.pageRank(e, iters).count())._2,
          "bfs" -> Bench.measure(GraphMetrics.minHops(e, seeds, maxHops = 6).count())._2,
          "lpa" -> Bench.measure(GraphMetrics.labelPropagation(e, iters = 3).count())._2,
          "mincost" -> Bench.measure(GraphMetrics.minCost(we, seeds, maxIters = 4).count())._2)
        e.unpersist()
        // closure on the shape it exists for, length-8 chains (SPARQL p+
        // over a hierarchy); on the hub graph its output is quadratic
        val ch = spark.range(0, nEdges)
          .where(pmod(col("id"), lit(8)) =!= 7)
          .select(col("id").as("src"), (col("id") + 1).as("dst"))
          .localCheckpoint()
        val closure = Bench.measure(GraphQuery.transitiveClosure(ch, maxHops = 7).count())._2
        val te = graphEdges(spark, triEdges).localCheckpoint()
        (onHubGraph :+ ("closure" -> closure) :+
          ("triangles" -> Bench.measure(GraphMetrics.triangles(te).count())._2)).toMap
      }
    }
    def leg(op: String, extra: (String, Any)*): Json = {
      val Seq(s8, s32) = Seq(8, 32).map(l => runs(l).map(_(op).sec).min)
      Json(extra ++ Seq("local8_sec" -> num(s8, 2), "local32_sec" -> num(s32, 2),
        "efficiency" -> num(s8 / s32 / 4.0, 3)): _*)
    }
    val pr32 = runs(32).map(_("pagerank").sec).min
    println(Json("metric" -> "graph_scaling", "edges" -> nEdges,
      "pagerank" -> Json(leg("pagerank", "iters" -> iters).fields :+
        ("edges_per_sec_32" -> num(nEdges * iters / pr32, 0)): _*),
      "bfs" -> leg("bfs"), "triangles" -> leg("triangles", "edges" -> triEdges),
      "lpa" -> leg("lpa"), "mincost" -> leg("mincost"), "closure" -> leg("closure"),
      "max_steal_pct" -> num(maxSteal(runs.values.flatten.flatMap(_.values)), 1)))
  }

  /** `asof`: GraphQuery.asOfJoin's union-tag/window form (one shuffle, no
    * pair explosion) vs the naive range join + per-left-row argmax, on K
    * keys × L left × R right rows per key (SPARK_GRAFT_ASOF_KEYS/LEFT/RIGHT),
    * so the naive intermediate is L×R per key while the window form stays
    * L+R. Both must produce the same match relation (content checksum).
    */
  def asof(args: Seq[String]): Unit = withSession() { spark =>
    val keys = int("SPARK_GRAFT_ASOF_KEYS", 2000)
    val perLeft = int("SPARK_GRAFT_ASOF_LEFT", 500)
    val perRight = int("SPARK_GRAFT_ASOF_RIGHT", 500)
    // deterministic, hash-free streams: left ts stride 7, right stride 11
    def side(perKey: Int, stride: Int, tag: String): DataFrame =
      spark.range(keys.toLong * perKey)
        .select(
          (col("id") % keys).as("k"),
          ((col("id") / keys) * stride + length(lit(tag))).as("ts"),
          (col("id") % 9973).cast("double").as("v"))
        .localCheckpoint() // time the join, not the generator
    val left = side(perLeft, 7, "le")
    val right = side(perRight, 11, "r")
    val nL = left.count(); val nR = right.count()
    def windowed(): DataFrame =
      GraphQuery.asOfJoin(left.withColumnRenamed("v", "lv"), right, Seq("k"), "ts", Seq("v"))
    def naive(): DataFrame = {
      val l = left.withColumnRenamed("v", "lv").withColumn("lid", monotonically_increasing_id())
      val r = right.select(col("k").as("rk"), col("ts").as("r_ts"), col("v").as("r_v"))
      val m = l.join(r, col("k") === col("rk") && col("r_ts") <= col("ts"))
        .groupBy(col("lid").as("mlid"))
        .agg(max(struct(col("r_ts"), col("r_v"))).as("m"))
      l.join(m, col("lid") === col("mlid"), "left")
        .select(col("k"), col("ts"), col("lv"), col("m.r_ts").as("r_ts"), col("m.r_v").as("r_v"))
    }
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.select(count(lit(1)),
        sum(hash(col("k"), col("ts"), col("lv"), col("r_ts"), col("r_v")).cast("long"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val runs = interleaved(int("SPARK_GRAFT_REPS", 2), Seq("windowed", "naive")) {
      case "windowed" => Bench.time(checksum(windowed()))
      case _ => Bench.time(checksum(naive()))
    }
    runs("windowed").zip(runs("naive")).zipWithIndex.foreach { case (((cw, tw), (cn, tn)), i) =>
      require(cw == cn, s"as-of divergence: windowed=$cw naive=$cn")
      println(f"[asof] rep=${i + 1} left=$nL right=$nR rows=${cw._1} " +
        f"windowed=$tw%6.2f s naive=$tn%6.2f s speedup=${tn / tw}%5.1fx")
    }
    val Seq(bw, bn) = Seq("windowed", "naive").map(a => runs(a).map(_._2).min)
    println(f"[asof] BEST windowed=$bw%6.2f s naive=$bn%6.2f s speedup=${bn / bw}%5.1fx " +
      f"(naive intermediate ≈ ${keys.toLong * perLeft * perRight / 2}%,d rows)")
  }

  /** Chain forest: node v(i) → v(i+1) except at component boundaries. */
  private def chainTriples(spark: SparkSession, nNodes: Long, compSize: Long): DataFrame =
    spark.range(0, nNodes)
      .where(pmod(col("id") + 1, lit(compSize)) =!= 0 && col("id") + 1 < nNodes)
      .select(concat(lit("v"), col("id")).as("subj"), lit("next").as("pred"),
        concat(lit("v"), col("id") + 1).as("obj"))

  /** `path-seed`: a point query `<c> next+ ?x` answered by full-graph
    * fixpoint then filter vs seeded at c (GraphQuery.pathPairsFrom), on a
    * forest of SPARK_GRAFT_COMP-node chains: the full closure materializes
    * K·M·(M+1)/2 pairs while c's cone is at most M−1. A second leg seeds
    * the 4× graph with the same component size: seeded time must track the
    * cone, not the graph. Pair sets are asserted equal.
    */
  def pathSeed(args: Seq[String]): Unit = withSession() { spark =>
    val nNodes = long("SPARK_GRAFT_NODES", 2000000)
    val compSize = long("SPARK_GRAFT_COMP", 64)
    val t1 = chainTriples(spark, nNodes, compSize).localCheckpoint()
    val t4 = chainTriples(spark, nNodes * 4, compSize).localCheckpoint()
    val n1 = t1.count(); val n4 = t4.count()
    // the first node of a mid-graph component: cone = compSize-1
    val seed = s"v${(nNodes / 2 / compSize) * compSize}"
    val expr = PlusAll(Pred("next"))
    def seeded(t: DataFrame): DataFrame =
      GraphQuery.pathPairsFrom(t, expr, spark.range(1).select(lit(seed).as("src")))
    def fullThenFilter(t: DataFrame): DataFrame =
      GraphQuery.pathPairs(t, Plus(Pred("next"), compSize.toInt + 4)).where(col("src") === seed)
    seeded(t1.limit(10000)).count() // warm-up
    val runs = measured(int("SPARK_GRAFT_REPS", 3), Seq("seeded", "seeded_4x", "full")) {
      case "seeded" => seeded(t1).count()
      case "seeded_4x" => seeded(t4).count()
      case _ => fullThenFilter(t1).count()
    }
    val counts = runs.values.flatMap(_.map(_._1)).toSet
    require(counts.size == 1, s"seeded, 4x-seeded and full-then-filter pair counts differ: $counts")
    val s = seeded(t1).select("src", "dst")
    val f = fullThenFilter(t1).select("src", "dst")
    require(s.exceptAll(f).isEmpty && f.exceptAll(s).isEmpty,
      "seeded vs full-then-filter pair SETS differ")
    val Seq(a, b, full) = runs.values.map(best).toSeq
    println(Json("metric" -> "path_seeding", "edges_1x" -> n1, "edges_4x" -> n4,
      "cone_pairs" -> counts.head, "full_then_filter_sec" -> num(full, 2),
      "seeded_sec" -> num(a, 2), "seeded_4x_sec" -> num(b, 2), "speedup" -> num(full / a, 1),
      "seeded_4x_ratio" -> num(b / a, 2),
      "max_steal_pct" -> num(maxSteal(runs.values.flatten.map(_._2)), 1)))
  }

  /** `simjoin`: the same declarative cross join + token_jaccard threshold
    * with plans.SimilarityJoinRule firing (TokenJaccardExpr form) vs the
    * quadratic plan (the composed-Column form the rule does not match), at
    * 500..4000 sf documents; counts must agree. SPARK_GRAFT_SKIP_QUAD=1
    * times only the rewritten side.
    */
  def simjoin(args: Seq[String]): Unit = withSession() { spark =>
    val skipQuad = sys.env.get("SPARK_GRAFT_SKIP_QUAD").contains("1")
    for (n <- Seq(500, 1000, 2000, 4000)) {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < n)
        .select(col("doc_id").as("id"), Dedup.wordShingles(col("text"), 3).as("sh"))
        .localCheckpoint() // shingle once; time only the join
      d.count()
      def pairs(sim: (Column, Column) => Column): Long =
        d.as("a").crossJoin(d.as("b"))
          .filter(sim(col("a.sh"), col("b.sh")) > 0.05 && col("a.id") < col("b.id")).count()
      val (cRw, tRw) = Bench.time(pairs(token_jaccard))
      if (skipQuad) println(f"[simjoin] n=$n%5d pairs=$cRw%6d rewritten=$tRw%7.2f s")
      else {
        val (cNv, tNv) = Bench.time(pairs(Dedup.jaccard))
        require(cRw == cNv, s"rewrite diverged at n=$n: $cRw vs $cNv")
        println(f"[simjoin] n=$n%5d pairs=$cRw%6d rewritten=$tRw%7.2f s quadratic=$tNv%7.2f s speedup=${tNv / tRw}%5.1fx")
      }
    }
  }

  /** Skewed synthetic triples: `mentions` doc→entity is ~99.7% of the
    * table (the hub), `hq_in` entity→city one per entity, `ceo_of`
    * person→entity 500 rows.
    */
  private def bgpTriples(spark: SparkSession, nMentions: Long, nEntities: Long): DataFrame = {
    val mentions = spark.range(0, nMentions).select(
      concat(lit("d"), pmod(xxhash64(col("id"), lit(1)), lit(nMentions / 4))).as("subj"),
      lit("mentions").as("pred"),
      concat(lit("e"), pmod(xxhash64(col("id"), lit(2)), lit(nEntities))).as("obj"))
    val hq = spark.range(0, nEntities).select(
      concat(lit("e"), col("id")).as("subj"), lit("hq_in").as("pred"),
      concat(lit("city"), pmod(col("id"), lit(200))).as("obj"))
    val ceo = spark.range(0, 500).select(
      concat(lit("p"), col("id")).as("subj"), lit("ceo_of").as("pred"),
      concat(lit("e"), col("id")).as("obj"))
    mentions.unionAll(hq).unionAll(ceo)
  }

  /** `bgp`: selectivity-driven BGP join ordering (GraphQuery.orderPatterns)
    * on an adversarial pattern order, hub predicate first, over
    * SPARK_GRAFT_TRIPLES skewed triples: as written (no stats) vs reordered
    * (BgpStats). Bindings must agree; the reordered plan probes the hub
    * with a 500-binding broadcast prefix instead of shuffling it.
    */
  def bgp(args: Seq[String]): Unit = withSession() { spark =>
    val nMentions = long("SPARK_GRAFT_TRIPLES", 20000000)
    // entities above the broadcast threshold: the written order must then
    // shuffle the full hub table against them
    val t = bgpTriples(spark, nMentions, math.max(nMentions / 10, 1000L)).localCheckpoint()
    val nTriples = t.count()
    val pattern = Seq(TriplePattern("?d", "mentions", "?e"),
      TriplePattern("?e", "hq_in", "?c"), TriplePattern("?p", "ceo_of", "?e"))
    GraphQuery.bgpMatch(t.limit(100000), pattern, None).count() // warm-up
    val (st, mStats) = Bench.measure(GraphQuery.BgpStats.compute(t))
    val runs = measured(int("SPARK_GRAFT_REPS", 3), Seq(None, Some(st)))(s =>
      GraphQuery.bgpMatch(t, pattern, s).count())
    val bindings = runs.values.flatMap(_.map(_._1)).toSet
    require(bindings.size == 1, s"ordering changed the bindings: $bindings")
    val Seq(u, o) = runs.values.map(best).toSeq
    println(Json("metric" -> "bgp_ordering", "triples" -> nTriples, "bindings" -> bindings.head,
      "user_order_sec" -> num(u, 2), "reordered_sec" -> num(o, 2), "speedup" -> num(u / o, 2),
      "stats_sec" -> num(mStats.sec, 2),
      "max_steal_pct" -> num(maxSteal(runs.values.flatten.map(_._2)), 1)))
  }

  /** `dedup`: banded minhash dedup over the sf documents replicated
    * 2×/8×/32× with id offsets (each replica an exact-dup family, the worst
    * case for candidate volume); throughput must stay about flat.
    */
  def dedup(args: Seq[String]): Unit = withSession() { implicit spark =>
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    Seq(2, 8, 32).foreach { reps =>
      val u = (0 until reps).map(k =>
          docs.select((col("doc_id") + k.toLong * 1000000L).as("doc_id"), col("text")))
        .reduce(_ union _).cache()
      val n = u.count()
      val (rows, sec) = Bench.time(Dedup.minHashDedup(u, "doc_id", "text", maxDistance = 0.3).count())
      u.unpersist()
      println(f"[dedup-scale] docs=$n rows_out=$rows sec=$sec%.2f docs_per_sec=${n / sec}%.0f")
    }
  }

  /** 13k two-word phrases over common-word pools, salted with the real
    * fixture surfaces so genuine hits occur in the generated text (the
    * reference ESCO automaton covers ~13k surface forms).
    */
  private def syntheticDict(): Seq[String] = {
    val n = 13000
    val a = Seq("data", "software", "senior", "cloud", "network", "test",
      "product", "project", "machine", "deep", "web", "mobile", "system",
      "business", "digital", "agile", "quality", "customer", "service",
      "support", "field", "clinical", "retail", "logistics", "energy",
      "financial", "legal", "medical", "technical", "global", "smart",
      "secure", "rapid", "core", "open", "visual", "neural", "robotic",
      "virtual", "applied", "modern", "classic", "urban", "rural", "solar",
      "heavy", "light", "fast", "slow", "green", "blue", "lean", "prime",
      "micro", "macro", "hybrid", "remote", "onsite", "backend", "frontend",
      "fullstack", "embedded", "realtime", "batch", "stream", "graph",
      "vector", "tensor", "quantum", "spatial", "temporal", "causal",
      "static", "dynamic", "linear", "sparse", "dense", "robust", "scalable",
      "portable", "modular", "atomic", "parallel", "serial", "binary",
      "decimal", "optical", "acoustic", "thermal", "chemical", "electric",
      "magnetic", "organic", "synthetic", "natural", "manual", "automated",
      "assisted", "guided", "managed", "shared", "private", "public")
    val b = Seq("engineering", "analysis", "design", "testing", "operations",
      "management", "development", "research", "planning", "modeling",
      "automation", "integration", "migration", "deployment", "monitoring",
      "optimization", "visualization", "classification", "regression",
      "clustering", "forecasting", "simulation", "validation", "auditing",
      "reporting", "budgeting", "negotiation", "communication", "leadership",
      "training", "coaching", "recruiting", "sourcing", "procurement",
      "assembly", "welding", "machining", "inspection", "maintenance",
      "repair", "installation", "calibration", "diagnostics", "logistics",
      "warehousing", "dispatching", "scheduling", "invoicing", "accounting",
      "compliance", "governance", "security", "cryptography", "networking",
      "virtualization", "containers", "orchestration", "pipelines",
      "architecture", "prototyping", "documentation", "localization",
      "translation", "copywriting", "editing", "publishing", "marketing",
      "advertising", "branding", "merchandising", "pricing", "selling",
      "consulting", "strategy", "transformation", "innovation", "quality",
      "safety", "ergonomics", "sustainability", "recycling", "farming",
      "harvesting", "irrigation", "nursing", "therapy", "radiology",
      "surgery", "pharmacy", "dentistry", "teaching", "tutoring",
      "assessment", "curriculum", "administration", "litigation",
      "arbitration", "underwriting", "actuarial", "brokerage", "trading",
      "settlement", "custody", "taxation", "payroll", "benefits",
      "onboarding", "retention", "analytics", "engineering2", "support",
      "operations2", "services", "systems", "platforms", "frameworks",
      "libraries", "databases", "warehouses", "lakes", "meshes")
    val fixture = Dims.skillSurfaceToPreferred.keys.toSeq.sorted
    val synth = for {
      i <- 0 until (n - fixture.size)
    } yield s"${a(i % a.size)} ${b((i / a.size) % b.size)} ${i / (a.size * b.size) match {
      case 0 => "skills"
      case k => s"level$k"
    }}"
    (fixture ++ synth.distinct).distinct
  }

  /** `dict`: the X13 skill scanner (DictRules.greedyMatches) over the same
    * turns with the fixture dictionary and with [[syntheticDict]]: the
    * Aho-Corasick scan is O(text + matches), so the 13k dictionary must not
    * scale super-linearly with dictionary size.
    */
  def dict(args: Seq[String]): Unit = withSession() { implicit spark =>
    import spark.implicits._
    val turns = TranscriptGen.dataset(spark, long("SPARK_GRAFT_CONVS", 40000), 42L, 4, 800)
      .map(t => if (t.text == null) "" else t.text.toLowerCase).cache()
    val n = turns.count()
    val small = Dims.skillSurfaceToPreferred.keys.toSeq.sorted
    val big = syntheticDict()
    val scanners = Seq(small, big).map(d => spark.sparkContext.broadcast(new AhoCorasick(d)))
    // min-of-2: the first pass of each doubles as its warm-up
    val runs = measured(2, scanners)(bc =>
      turns.mapPartitions(_.map(t => DictRules.greedyMatches(bc.value, t).size.toLong)).reduce(_ + _))
    val Seq((tSmall, mSmall), (tBig, mBig)) = runs.values.map(r => (best(r), r.head._1)).toSeq
    println(Json("metric" -> "dict_scale", "turns" -> n, "dict_small" -> small.size,
      "dict_big" -> big.size, "sec_small" -> num(tSmall, 2), "sec_big" -> num(tBig, 2),
      "matches_small" -> mSmall, "matches_big" -> mBig, "slowdown" -> num(tBig / tSmall, 2),
      "turns_per_sec_big" -> num(n / tBig, 0), "cores" -> cores(spark)))
  }

  /** `text-scan`: the native text-analysis kernels (ScanExprs/LangExprs) vs
    * their regex/Column twins on the sf documents amplified
    * SPARK_GRAFT_AMP times; each op reduces through a cheap aggregate so the
    * kernel dominates.
    */
  def textScan(args: Seq[String]): Unit = withSession() { spark =>
    val reps = int("SPARK_GRAFT_REPS", 3)
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet").select("text")
    val docs = Seq.fill(int("SPARK_GRAFT_AMP", 200))(docs0).reduce(_ union _).localCheckpoint()
    val n = docs.count()
    def exec(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())
    // sum(hash(..)) not sum(length(..)): length('zh')==length('en')==2 lets
    // PushFoldableIntoBranches + SimplifyConditionals fold the Column twins'
    // whole CASE to a literal, deleting the work under test
    def strOp(f: Column => Column): () => Unit = () => exec(docs.select(sum(hash(f(col("text"))))))
    def numOp(f: Column => Column): () => Unit = () => exec(docs.select(sum(f(col("text")))))
    val ops: Seq[(String, () => Unit, () => Unit)] = Seq(
      ("lang_marker", strOp(TextAnalysis.langId), strOp(TextAnalysis.langIdColumn)),
      ("lang_trigram", strOp(TextAnalysis.langIdTrigram), strOp(TextAnalysis.langIdTrigramColumn)),
      ("quality", numOp(TextAnalysis.qualityScore), numOp(TextAnalysis.qualityScoreColumn)),
      ("tokens", numOp(c => TextAnalysis.wsTokenCount(c) + TextAnalysis.bpeTokenCount(c)),
        numOp(c => TextAnalysis.wsTokenCountRegex(c) + TextAnalysis.bpeTokenCountRegex(c))),
      ("fingerprint", strOp(TextAnalysis.fingerprint), strOp(TextAnalysis.fingerprintRegex)),
      ("normalize", strOp(TextAnalysis.normalize), strOp(TextAnalysis.normalizeRegex)))
    ops.foreach { case (_, nat, twin) => nat(); twin() } // C2 tier-up
    val results = ops.map { case (name, nat, twin) =>
      val Seq(bestN, bestT) = minSecs(reps)(nat, twin)
      println(f"[textscan] $name native=$bestN%.3f s twin=$bestT%.3f s speedup=${bestT / bestN}%.2fx")
      name -> Json("native_sec" -> num(bestN, 3), "twin_sec" -> num(bestT, 3),
        "speedup" -> num(bestT / bestN, 2), "native_mrows_per_sec" -> num(n / bestN / 1e6, 2))
    }
    println(Json("metric" -> "text_scan_kernels", "rows" -> n, "reps" -> reps,
      "ops" -> Json(results: _*)))
  }

  /** `noop [query ...]`: per-query noop-sink timing (the noop write computes
    * every column of every row without a sink), min-of-SPARK_GRAFT_QREPS,
    * default the headline set, plus each plan written by [[Kit.writePlan]]
    * for the plan-diff trail.
    */
  def noop(args: Seq[String]): Unit = withSession() { spark =>
    val names = if (args.nonEmpty) args else Bench.headline
    def run(n: String): Unit = {
      SparkEntry.clearEntryCache()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    names.foreach(run) // C2 tier-up
    val times = names.map { n =>
      writePlan(SparkEntry.queries(n)(spark, sfDir), n)
      spark.sparkContext.setJobDescription(s"noop:$n")
      n -> minSecs(int("SPARK_GRAFT_QREPS", 3))(() => run(n)).head
    }
    spark.sparkContext.setJobDescription(null)
    println(Json("metric" -> "noop_total", "value" -> num(times.map(_._2).sum, 3), "unit" -> "sec",
      "queries" -> Json(times.map { case (k, v) => k -> num(v, 3) }: _*), "sf" -> sfDir,
      "suffix" -> str("SPARK_GRAFT_PLAN_SUFFIX", "before"), "cores" -> cores(spark)))
  }

  /** `ext-smoke`: the Catalyst extension surface under real executor JVMs
    * (local-cluster, needs SPARK_HOME): the similarity-join rewrite fires,
    * executors resolve graft.functions codegen calls from their classpath,
    * and the SQL registry works on a cluster session.
    */
  def extSmoke(args: Seq[String]): Unit =
    withSession(graft.Sessions.localCluster(2, 4, 3072, appName = "graft-ext-smoke")) { spark =>
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").as("id"), Dedup.wordShingles(col("text"), 3).as("sh"))
      val q = d.as("a").crossJoin(d.as("b"))
        .filter(token_jaccard(col("a.sh"), col("b.sh")) > 0.05 && col("a.id") < col("b.id"))
      val plan = q.queryExecution.executedPlan.toString
      val quad = plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin")
      val n = q.count()
      val sqlJ = spark.sql("SELECT graft_token_jaccard(array('a','b'), array('b','c')) AS j")
        .head().getDouble(0)
      val dbscan = spark.sql("SELECT size(graft_filter_skills_dbscan(array('x'))) AS n").head().getInt(0)
      println(s"[ext-smoke] rewritten=${!quad} pairs=$n sql_jaccard=$sqlJ dbscan_empty=$dbscan")
    }

  /** `file-skip`: VersionedTable's manifest-level skipping on the sf
    * documents committed as SPARK_GRAFT_GROUPS file groups, four legs:
    *  - file_skip: range-contiguous appends; a one-group range read as a
    *    full scan (parquet row-group stats still prune below it, so this is
    *    the fair baseline), via readRange (fresh index per call: cold plan)
    *    and via one reused scanIndexed index (warm plan);
    *  - sorted_rewrite: arrival-order appends give every group the full key
    *    range, so nothing prunes until rewriteSorted repairs the layout;
    *  - bloom_skip: equality on a high-cardinality key that is not the
    *    clustering column, where only bloom sidecars can prune;
    *  - zorder_second_axis: a doc_id-sorted table full-scans an n_chars
    *    band; rewriteZOrder(doc_id, n_chars) bounds it.
    * Every pruned answer must equal the full scan's (count + checksum).
    */
  def fileSkip(args: Seq[String]): Unit = withSession() { implicit spark =>
    val groups = int("SPARK_GRAFT_GROUPS", 32)
    val nCores = cores(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "n_chars", "text")
    val b = docs.agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).collect()(0)
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val width = (hi - lo) / groups + 1
    def tempTable(tag: String): String = Files.createTempDirectory(s"graft-fss$tag").toString
    def answer(df: DataFrame): Row =
      df.agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("text")).cast("decimal(38,0)")))
        .collect()(0)
    def timed(arms: (() => Any)*): Seq[Double] = minSecs(3)(arms: _*)

    val table = tempTable("")
    val (_, buildSec) = Bench.time(for (g <- 0 until groups) {
      val glo = lo + g * width
      VersionedTable.append(docs.where(col("doc_id").between(glo, glo + width - 1)), table)
    })
    val cur = VersionedTable.versions(table).last
    require(cur.dirs.size == groups, s"expected $groups file groups, got ${cur.dirs.size}")
    val qlo = lo + (groups / 2) * width // exactly the middle group's range
    val qhi = qlo + width - 1
    val (keep, skip) = VersionedTable.pruneDirs(table, cur, "doc_id", qlo, qhi)
    require(keep.size == 1 && skip.size == groups - 1,
      s"pruning must keep exactly 1 group, kept ${keep.size}")
    def fullScan() = answer(VersionedTable.read(table).where(col("doc_id").between(qlo, qhi)))
    def pruned() = answer(VersionedTable.readRange(table, "doc_id", qlo, qhi))
    val (scanDf, scanIdx) = VersionedTable.scanIndexed(table)
    def prunedScan() = answer(scanDf.where(col("doc_id").between(qlo, qhi)))
    val aFull0 = fullScan(); val aPruned0 = pruned(); val aScan0 = prunedScan()
    require(aFull0 == aPruned0, s"pruned answer diverged: $aPruned0 != $aFull0")
    require(aFull0 == aScan0, s"FileIndex scan answer diverged: $aScan0 != $aFull0")
    require(scanIdx.lastKeptDirs.size == 1,
      s"FileIndex pushdown kept ${scanIdx.lastKeptDirs.size} groups, expected 1")
    val Seq(tFull, tPruned, tScan) = timed(() => fullScan(), () => pruned(), () => prunedScan())
    println(Json("metric" -> "file_skip", "rows" -> aFull0.getLong(0), "groups" -> groups,
      "groups_opened" -> keep.size, "sec_full_scan" -> num(tFull, 3),
      "sec_pruned" -> num(tPruned, 3), "sec_scan_pushdown" -> num(tScan, 3),
      "speedup" -> num(tFull / tPruned, 2), "build_sec" -> num(buildSec, 1), "cores" -> nCores))

    val table2 = tempTable("-il")
    for (g <- 0 until groups)
      VersionedTable.append(docs.where(pmod(col("doc_id"), lit(groups)) === g), table2)
    val (keepIl, _) = VersionedTable.pruneDirs(table2, VersionedTable.versions(table2).last,
      "doc_id", qlo, qhi)
    require(keepIl.size == groups, s"interleaved groups must all overlap the range, kept ${keepIl.size}")
    def prunedIl() = answer(VersionedTable.readRange(table2, "doc_id", qlo, qhi))
    val aPre = prunedIl()
    require(aPre == aFull0, s"interleaved answer diverged: $aPre != $aFull0")
    val Seq(tPre) = timed(() => prunedIl())
    val (sorted, tRewrite) =
      Bench.time(VersionedTable.rewriteSorted(table2, "doc_id", targetGroups = groups))
    val (keepS, _) = VersionedTable.pruneDirs(table2, sorted, "doc_id", qlo, qhi)
    require(keepS.size <= 2, // range boundaries are sampler-placed
      s"sorted layout should isolate the range, kept ${keepS.size} of ${sorted.dirs.size}")
    val aPost = prunedIl()
    require(aPost == aFull0, s"post-rewrite answer diverged: $aPost != $aFull0")
    val Seq(tPost) = timed(() => prunedIl())
    println(Json("metric" -> "sorted_rewrite", "rows" -> aFull0.getLong(0), "groups" -> groups,
      "opened_pre" -> keepIl.size, "opened_post" -> keepS.size, "sec_range_pre" -> num(tPre, 3),
      "sec_range_post" -> num(tPost, 3), "speedup" -> num(tPre / tPost, 2),
      "rewrite_sec" -> num(tRewrite, 1), "cores" -> nCores))

    // md5(doc_id): every group's key range spans the hex space
    val table3 = tempTable("-bloom")
    VersionedTable.setBloomColumns(table3, Seq("key"), fpp = 0.001)
    val keyed = docs.select(md5(col("doc_id").cast("string")).as("key"), col("doc_id"), col("text"))
    val (_, bloomBuildSec) = Bench.time(for (g <- 0 until groups)
      VersionedTable.append(keyed.where(pmod(col("doc_id"), lit(groups)) === g), table3))
    val probe = java.security.MessageDigest.getInstance("MD5")
      .digest(hi.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def fullK() = answer(VersionedTable.read(table3).where(col("key") === probe))
    val (scanK, idxK) = VersionedTable.scanIndexed(table3)
    def bloomK() = answer(scanK.where(col("key") === probe))
    val aFk = fullK(); val aBk = bloomK()
    require(aFk == aBk && aFk.getLong(0) >= 1L,
      s"bloom lookup diverged: $aBk != $aFk (rows ${aFk.getLong(0)})")
    require(idxK.lastKeptDirs.size == 1,
      s"bloom pruning kept ${idxK.lastKeptDirs.size} of $groups groups, expected 1")
    val Seq(tFk, tBk) = timed(() => fullK(), () => bloomK())
    println(Json("metric" -> "bloom_skip", "rows" -> aFk.getLong(0), "groups" -> groups,
      "groups_opened" -> idxK.lastKeptDirs.size, "sec_full_scan" -> num(tFk, 3),
      "sec_bloom_pruned" -> num(tBk, 3), "speedup" -> num(tFk / tBk, 2),
      "build_sec" -> num(bloomBuildSec, 1), "cores" -> nCores))

    // table2 is doc_id-sorted now: an n_chars band is structurally a full scan
    val nQ1 = docs.stat.approxQuantile("n_chars", Array(0.25), 0.001)(0).toLong
    val bandCond = col("n_chars") <= nQ1 // lower quarter by count (long tail)
    val boxCond = col("doc_id").between(lo + (hi - lo) / 4, lo + (hi - lo) / 2) && bandCond
    val (sortedDf, sortedIdx) = VersionedTable.scanIndexed(table2)
    val aSortBand = answer(sortedDf.where(bandCond))
    val openedSortBand = sortedIdx.lastKeptDirs.size
    require(openedSortBand == groups,
      s"the sorted layout must full-scan the second axis, opened $openedSortBand")
    val aSortBox = answer(sortedDf.where(boxCond))
    val openedSortBox = sortedIdx.lastKeptDirs.size
    val (zv, tZRewrite) =
      Bench.time(VersionedTable.rewriteZOrder(table2, Seq("doc_id", "n_chars"), groups))
    val (zDf, zIdx) = VersionedTable.scanIndexed(table2)
    val aZBand = answer(zDf.where(bandCond))
    val openedZBand = zIdx.lastKeptDirs.size
    require(aZBand == aSortBand, s"z-order band diverged: $aZBand != $aSortBand")
    require(openedZBand <= groups / 2,
      s"z-order must bound the second-axis band: opened $openedZBand of $groups")
    val aZBox = answer(zDf.where(boxCond))
    val openedZBox = zIdx.lastKeptDirs.size
    require(aZBox == aSortBox, s"z-order box diverged: $aZBox != $aSortBox")
    val Seq(tSortBand, tZBand) =
      timed(() => answer(sortedDf.where(bandCond)), () => answer(zDf.where(bandCond)))
    println(Json("metric" -> "zorder_second_axis", "rows" -> aZBand.getLong(0),
      "groups" -> zv.dirs.size, "band_opened_sorted" -> openedSortBand,
      "band_opened_zorder" -> openedZBand, "box_opened_sorted" -> openedSortBox,
      "box_opened_zorder" -> openedZBox, "sec_band_sorted" -> num(tSortBand, 3),
      "sec_band_zorder" -> num(tZBand, 3), "speedup" -> num(tSortBand / tZBand, 2),
      "rewrite_sec" -> num(tZRewrite, 1), "cores" -> nCores))
  }
}
