package kgbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.KgPipeline
import graft.golden.GoldenPipeline
import graft.ml.SectionTagger
import graft.model.{Triple, Turn}
import graft.operators.{GraphQuery, SparqlLite}
import graft.operators.GraphQuery.TriplePattern
import graft.sources.{TranscriptGen, VersionedTable}

/** State shared by every workload of one run: the session, the seed the
  * inputs are generated from, the trained tagger and the optional tracer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val scale: Double,
    val workDir: String, val cores: Int) {
  var tagger: SectionTagger.Trained = _
  var tracer: Option[Tracer] = None

  /** Spans only exist in the traced run; otherwise the call runs bare. */
  def span[A](name: String)(f: => A): A = tracer.fold(f)(_.span(name)(f))

  def trainTagger(): Unit =
    tagger = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 200, seed = seed))

  def scaled(n: Int): Int = math.max(1, math.round(n * scale).toInt)

  def dir(name: String): String = s"$workDir/$name"
}

/** One correctness check made after the measured window. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A workload: a set-up that can be repeated, and one operation the
  * closed loop repeats with a single client.
  */
trait Workload {
  def name: String
  /** Everything between the tagger and the first operation. */
  def prepare(): Unit
  /** Drops what [[prepare]] built, before it runs again. */
  def release(): Unit
  /** Untimed passes that bring the JIT to its steady state before the
    * first operation; their output is not used.
    */
  def warmup(): Unit = ()
  /** Operations run untimed (but checked) before the measured window. */
  def warmupOps: Int
  /** Untimed preparation of operation `i` (input generation). */
  def before(i: Int): Unit = ()
  /** Operation `i`: (output correct, turns consumed). */
  def op(i: Int): (Boolean, Long)
  def checks(): Seq[Check]
  /** Turns whose construction the traced run decomposes stage by stage. */
  def constructionInput(): Dataset[Turn]
  /** Table the traced run writes its decomposed triples to and queries. */
  def traceWrite(triples: DataFrame): (String, VersionedTable.Version)
}

object Kg {
  val skewConvs = 4
  val skewTurns = 800

  def convId(i: Long): String = f"conv-$i%08d"

  /** One aggregate over a triple set: row count and an order-independent
    * content hash. The two 32-bit halves of each row hash are summed apart
    * so the sums cannot overflow.
    */
  def hashFrame(triples: DataFrame): DataFrame = {
    val h = xxhash64(col("subj"), col("pred"), col("obj"))
    triples.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(col("h"), 32)))
  }

  def readHash(hashed: DataFrame): (Long, String) = {
    val r = hashed.head()
    (r.getLong(0), if (r.getLong(0) == 0) "empty" else f"${r.getLong(1)}%x.${r.getLong(2)}%x")
  }

  def contentHash(triples: DataFrame): (Long, String) = readHash(hashFrame(triples))

  /** Triple-set precision and recall of the pipeline against the pure
    * golden derivation, over the conversations in `ids`.
    */
  def goldenCheck(name: String, got: Seq[Triple], ids: Seq[Long], seed: Long): Check = {
    val want = ids.flatMap(i => GoldenPipeline.triplesForConv(i, seed, skewConvs, skewTurns)).toSet
    val g = got.toSet
    val tp = (g intersect want).size.toDouble
    val p = if (g.isEmpty) 0.0 else tp / g.size
    val r = if (want.isEmpty) 0.0 else tp / want.size
    Check(name, p >= 0.95 && r >= 0.95,
      f"precision=$p%.4f recall=$r%.4f got=${g.size} want=${want.size} convs=${ids.size}")
  }

  /** The skewed conversations plus `n` more drawn from `[from, until)`. */
  def sampleIds(seed: Long, from: Long, until: Long, n: Int): Seq[Long] = {
    val r = new Random(seed)
    val drawn = if (until <= from) Seq.empty
      else Seq.fill(n)(from + (r.nextDouble() * (until - from)).toLong)
    ((0L until math.min(skewConvs.toLong, until)) ++ drawn).distinct
  }

  def triplesOf(df: DataFrame): Seq[Triple] =
    df.select("subj", "pred", "obj").collect().toSeq
      .map(r => Triple(r.getString(0), r.getString(1), r.getString(2)))

  def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      val ps = java.nio.file.Files.walk(f.toPath)
      try ps.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally ps.close()
    }
  }
}

/** The fused `KgPipeline.computeTriples` over one large generated batch,
  * with the skewed long conversations in it.
  */
final class BatchLarge(ctx: Ctx) extends Workload {
  import ctx.spark
  val name = "batch_large"
  val warmupOps = 2
  private val nConvs = ctx.scaled(4000)
  private var turns: Dataset[Turn] = _
  private var nTurns = 0L
  private var reference: (Long, String) = _
  private var mismatches = 0
  private var golden: Check = _

  def prepare(): Unit = {
    turns = TranscriptGen.dataset(spark, nConvs, ctx.seed, Kg.skewConvs, Kg.skewTurns).cache()
    nTurns = turns.count()
  }

  def release(): Unit = turns.unpersist(blocking = true)

  /** An operation's time keeps falling for its first ten or so runs, as
    * more of the driver-side planning and the kernels get compiled; small
    * constructions run the same code paths at a fraction of the cost.
    */
  override def warmup(): Unit = {
    val small = TranscriptGen.dataset(spark, ctx.scaled(300), ctx.seed, 0, 0).cache()
    (1 to 3).foreach(_ => Kg.contentHash(KgPipeline.computeTriples(small, ctx.tagger)(spark).toDF()))
    small.unpersist(blocking = true)
  }

  /** The first operation's output is kept once: its content hash is the
    * reference every later operation must reproduce, and a sample of its
    * conversations is compared with the golden derivation.
    */
  def op(i: Int): (Boolean, Long) = {
    val triples = ctx.span("kg.computeTriples")(KgPipeline.computeTriples(turns, ctx.tagger)(spark))
    val first = reference == null
    val df = if (first) triples.toDF().cache() else triples.toDF()
    val h = ctx.span("kg.execute")(Kg.contentHash(df))
    if (first) {
      reference = h
      val ids = Kg.sampleIds(ctx.seed, Kg.skewConvs, nConvs, 96)
      golden = Kg.goldenCheck("golden_pr",
        Kg.triplesOf(df.filter(col("subj").isin(ids.map(Kg.convId): _*))), ids, ctx.seed)
      df.unpersist()
    } else if (h != reference) mismatches += 1
    (h == reference && h._1 > 0, nTurns)
  }

  def checks(): Seq[Check] = Seq(
    Check("content_hash_stable", mismatches == 0, s"reference=$reference mismatching_ops=$mismatches"),
    golden)

  def constructionInput(): Dataset[Turn] = turns

  def traceWrite(triples: DataFrame): (String, VersionedTable.Version) = {
    val t = ctx.dir("trace-table")
    Kg.deleteTree(t)
    (t, VersionedTable.append(triples, t)(spark))
  }
}

/** Closed loop of exactly-once commits: each operation constructs the
  * triples of the next disjoint window of conversations and commits them
  * with `VersionedTable.appendOnce` into one growing table.
  */
final class IncrementalCommits(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._
  val name = "incremental_commits"
  // the first windows (window 0 holds the skewed conversations) are
  // committed untimed while commit times still fall
  val warmupOps = 4
  private val convsPerCommit = ctx.scaled(200)
  private val table = ctx.dir("commits")
  private var input: Dataset[Turn] = _
  private var inputRows = 0L
  private var committed = 0

  private def window(k: Int): Seq[Turn] =
    (k.toLong * convsPerCommit until (k + 1).toLong * convsPerCommit)
      .flatMap(i => TranscriptGen.turnsFor(i, ctx.seed, Kg.skewConvs, Kg.skewTurns))

  private def txn(k: Int): String = s"window-$k"

  def prepare(): Unit = { Kg.deleteTree(table); committed = 0 }

  def release(): Unit = ()

  override def before(i: Int): Unit = {
    val turns = window(i)
    inputRows = turns.length
    input = spark.createDataset(turns)
  }

  def op(i: Int): (Boolean, Long) = {
    val triples = ctx.span("kg.computeTriples")(KgPipeline.computeTriples(input, ctx.tagger)(spark))
    val (v, now) = ctx.span("write.appendOnce")(
      VersionedTable.appendOnce(triples.toDF(), table, txn(i))(spark))
    val ok = now && v.seq == committed + 1
    if (now) committed = v.seq
    (ok, inputRows)
  }

  def checks(): Seq[Check] = {
    val all = VersionedTable.read(table)(spark)
    val ids = Kg.sampleIds(ctx.seed, Kg.skewConvs, committed.toLong * convsPerCommit, 96)
    val got = Kg.triplesOf(all.filter(col("subj").isin(ids.map(Kg.convId): _*)))
    // replay a committed window: the same txn must change nothing
    val replayed = 1
    val versionsBefore = VersionedTable.versions(table).length
    val rowsBefore = all.count()
    val again = KgPipeline.computeTriples(spark.createDataset(window(replayed)), ctx.tagger)(spark)
    val (_, now) = VersionedTable.appendOnce(again.toDF(), table, txn(replayed))(spark)
    val versionsAfter = VersionedTable.versions(table).length
    val rowsAfter = VersionedTable.read(table)(spark).count()
    Seq(Kg.goldenCheck("golden_pr", got, ids, ctx.seed),
      Check("replay_is_noop", !now && versionsAfter == versionsBefore && rowsAfter == rowsBefore,
        s"committed_now=$now versions=$versionsBefore->$versionsAfter rows=$rowsBefore->$rowsAfter"))
  }

  def constructionInput(): Dataset[Turn] = spark.createDataset(window(committed))

  def traceWrite(triples: DataFrame): (String, VersionedTable.Version) =
    (table, VersionedTable.appendOnce(triples, table, txn(committed))(spark)._1)
}

/** One query of the graph-read mix the traced run sends to the table its
  * write layer produced: the query text and the same query built by hand
  * from `GraphQuery.bgpMatch` and DataFrame operators.
  */
final case class GraphQ(template: String, text: String, handBuilt: DataFrame => DataFrame)

/** Constants the query mix draws from, taken from the written graph. */
final class QueryPools(triples: DataFrame) {
  private def objs(pred: String): IndexedSeq[String] =
    triples.filter(col("pred") === pred).select("obj").distinct().collect()
      .map(_.getString(0)).sorted.toIndexedSeq
  val titles: IndexedSeq[String] = objs("job_title")
  val locations: IndexedSeq[String] = objs("job_location")
  val skills: IndexedSeq[String] = objs("skill")
  val convs: IndexedSeq[String] = triples.filter(col("pred") === "skill").select("subj")
    .distinct().orderBy("subj").limit(2000).collect().map(_.getString(0)).toIndexedSeq

  /** Query `i` of the mix: the four templates in turn, constants drawn
    * from a generator seeded by (seed, i).
    */
  def query(seed: Long, i: Int): GraphQ = {
    val r = new Random(seed * 1000003L + i)
    def pick(xs: IndexedSeq[String]) = xs(r.nextInt(xs.length))
    def q(s: String) = "'" + s.replace("'", "") + "'"
    def tp(s: String, p: String, o: String) = TriplePattern(s, p, o)
    i % 4 match {
      case 0 =>
        val (title, minH) = (pick(titles), Seq(38, 40, 42)(r.nextInt(3)))
        GraphQ("star_filter",
          s"SELECT ?c ?h ?l WHERE { ?c job_title ${q(title)} . ?c work_hours ?h . " +
            s"?c job_location ?l . FILTER ( ?h >= $minH ) }",
          t => GraphQuery.bgpMatch(t, Seq(tp("?c", "job_title", title),
            tp("?c", "work_hours", "?h"), tp("?c", "job_location", "?l")))
            .filter(col("h").cast("double") >= minH).select("c", "h", "l"))
      case 1 =>
        val loc = pick(locations)
        GraphQ("group_count",
          s"SELECT ?s (COUNT(?c) AS ?n) WHERE { ?c job_location ${q(loc)} . ?c sector ?s } GROUP BY ?s",
          t => GraphQuery.bgpMatch(t, Seq(tp("?c", "job_location", loc), tp("?c", "sector", "?s")))
            .groupBy("s").agg(count(col("c")).as("n")))
      case 2 =>
        val (skill, loc) = (pick(skills), pick(locations))
        GraphQ("optional",
          s"SELECT ?c ?e WHERE { ?c skill ${q(skill)} . ?c job_location ${q(loc)} . " +
            "OPTIONAL { ?c education_requirements ?e } }",
          t => GraphQuery.bgpMatch(t, Seq(tp("?c", "skill", skill), tp("?c", "job_location", loc)))
            .join(GraphQuery.bgpMatch(t, Seq(tp("?c", "education_requirements", "?e"))), Seq("c"), "left")
            .select("c", "e"))
      case _ =>
        val conv = pick(convs)
        GraphQ("co_skill",
          s"SELECT ?s (COUNT(?b) AS ?n) WHERE { ${q(conv)} skill ?s . ?b skill ?s } GROUP BY ?s",
          t => GraphQuery.bgpMatch(t, Seq(tp(conv, "skill", "?s"), tp("?b", "skill", "?s")))
            .groupBy("s").agg(count(col("b")).as("n")))
    }
  }
}

object GraphQ {
  def rows(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(v => if (v == null) null else v.toString))
      .sortBy(_.mkString("\u0001"))

  /** The query text and its hand-built equivalent return the same rows. */
  def check(triples: DataFrame, q: GraphQ, label: String): Check = {
    val got = rows(SparqlLite.sparql(triples, q.text))
    val want = rows(q.handBuilt(triples))
    Check(s"$label.${q.template}", got == want, s"rows=${got.size} expected=${want.size}")
  }
}

object Workloads {
  val names: Seq[String] = Seq("batch_large", "incremental_commits")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "batch_large" => new BatchLarge(ctx)
    case "incremental_commits" => new IncrementalCommits(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${names.mkString(", ")})")
  }
}
