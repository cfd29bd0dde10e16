package graft.probe

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, Sessions}

/** What every diagnostic probe shares: its settings, its session, its
  * interleaved timer and its one-line JSON output.
  */
object Kit {

  def int(name: String, default: Int): Int = sys.env.get(name).fold(default)(_.toInt)
  def long(name: String, default: Long): Long = sys.env.get(name).fold(default)(_.toLong)
  def str(name: String, default: String): String = sys.env.getOrElse(name, default)

  /** The directory of the generated sf tables (TESTDATA.md). */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", throw new IllegalArgumentException(
    "set SPARK_GRAFT_SF_DIR to the directory of the sf tables"))

  /** The probe session: `SPARK_GRAFT_MASTER` empty is `local[SPARK_GRAFT_CPUS]`,
    * `cluster:N` is N real executor JVMs ([[Sessions.localCluster]]).
    */
  private def session(): SparkSession = str("SPARK_GRAFT_MASTER", "") match {
    case "" => Sessions.local(int("SPARK_GRAFT_CPUS", 32), appName = "graft-probe")
    case m if m.startsWith("cluster:") =>
      Sessions.localCluster(m.stripPrefix("cluster:").toInt, appName = "graft-probe")
    case m => throw new IllegalArgumentException(
      s"SPARK_GRAFT_MASTER must be empty or cluster:N, got '$m'")
  }

  /** Runs `f` on a fresh session and stops it afterwards. */
  def withSession[A](make: => SparkSession = session())(f: SparkSession => A): A = {
    val spark = make
    spark.sparkContext.setLogLevel("WARN")
    try f(spark) finally spark.stop()
  }

  /** Cores the session schedules on (the `cores` key of the probes' JSON). */
  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Writes `df`'s formatted plan to `$SPARK_GRAFT_PLANS/<name>_<SPARK_GRAFT_PLAN_SUFFIX>.txt`. */
  def writePlan(df: DataFrame, name: String): Unit = {
    val dir = Paths.get(str("SPARK_GRAFT_PLANS", "plans/r06"))
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${name}_${str("SPARK_GRAFT_PLAN_SUFFIX", "before")}.txt"),
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        .getBytes("UTF-8"))
  }

  /** Runs every arm once per round, in the given order, for `reps` rounds
    * (8,32,8,32,…): host interference arrives in bursts of minutes, and
    * running one arm's reps back to back would let a slow phase pass for
    * an arm effect. Returns each arm's results in run order.
    */
  def interleaved[K, A](reps: Int, arms: Seq[K])(run: K => A): ListMap[K, Seq[A]] = {
    val rounds = Seq.fill(reps)(arms.map(run))
    ListMap.from(arms.zipWithIndex.map { case (k, i) => k -> rounds.map(_(i)) })
  }

  /** [[interleaved]] with every run wrapped in [[Bench.measure]]. */
  def measured[K, A](reps: Int, arms: Seq[K])(run: K => A)
      : ListMap[K, Seq[(A, Bench.Measured)]] =
    interleaved(reps, arms)(k => Bench.measure(run(k)))

  /** Min-of-reps seconds. */
  def best(runs: Seq[(Any, Bench.Measured)]): Double = runs.map(_._2.sec).min

  /** Interleaved min-of-reps seconds of each arm. */
  def minSecs(reps: Int)(arms: (() => Any)*): Seq[Double] =
    measured(reps, arms.indices)(i => arms(i)()).values.map(best).toSeq

  /** Largest steal over `runs`; -1 when none was measurable. */
  def maxSteal(runs: Iterable[Bench.Measured]): Double =
    runs.foldLeft(-1.0)((a, m) => math.max(a, m.stealPct))

  /** JSON value for `v` with `digits` fixed decimals; null when not finite. */
  def num(v: Double, digits: Int): Json.Raw =
    Json.Raw(if (v.isNaN || v.isInfinite) "null"
      else s"%.${digits}f".formatLocal(java.util.Locale.ROOT, v))

  /** A JSON object whose keys keep the given order. */
  final case class Json(fields: (String, Any)*) {
    override def toString: String = Json.render(this)
  }

  object Json {
    /** Pre-rendered JSON text. */
    final case class Raw(text: String)

    def render(v: Any): String = v match {
      case Raw(t) => t
      case o: Json => o.fields.map { case (k, x) => quote(k) + ":" + render(x) }
        .mkString("{", ",", "}")
      case s: String => quote(s)
      case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
      case x @ (_: Int | _: Long) => x.toString
      case x => throw new IllegalArgumentException(s"no JSON form for $x")
    }

    def quote(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
  }
}
