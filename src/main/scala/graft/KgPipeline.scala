package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.SectionTagger
import graft.model.{Triple, Turn}
import graft.operators._
import graft.sources.TranscriptGen

/** End-to-end dataflow S0→S6 (SURVEY §7.1), composed here and nowhere
  * else. Stage functions are pure Dataset transforms: the fused run
  * ([[computeTriples]]) chains them, the checkpointing driver
  * (graft.PipelineMain) materializes each one and resumes from any of
  * them, and the benches cache and count them one by one.
  */
object KgPipeline {

  /** S1 — canonical clean chain as one codegen'd projection (the
    * precompiled clean_text expression; the pure-Column chain it is pinned
    * against lives in operators.CleanText).
    */
  def cleanTurns(turns: Dataset[Turn]): DataFrame =
    turns.toDF().withColumn("text_clean",
      graft.functions.CleanFunctions.clean_text(col("text")))

  /** Training frame for the tagger: generator-labeled turns from a conv-id
    * region disjoint from any evaluation range (the reference trains on a
    * separate annotated corpus, SURVEY §2.5).
    */
  def taggerTrainingFrame(spark: SparkSession, nConvs: Int = 300,
      firstConv: Long = 1000000L, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val labeled = spark.range(firstConv, firstConv + nConvs)
      .flatMap(i => TranscriptGen.labeledTurnsFor(i, seed).map { case (t, c) => (t.text, c) })
      .toDF("text", "category")
    labeled.withColumn("text_clean", graft.functions.CleanFunctions.clean_text(col("text")))
      .select("text_clean", "category")
      // pin partition assignment AND in-partition order so model fitting
      // (treeAggregate fold order, per-partition sampling) is bit-identical
      // across parallelism levels — the q23/q31 golden oracles rely on it
      .repartition(8, col("text_clean"))
      .sortWithinPartitions("text_clean", "category")
  }

  /** S2+S3 — tag every cleaned turn with its section, then extract the
    * per-turn mentions. `extractDates` is the X5 flag (reference ships it
    * disabled — ExtractInfo.py:131-132).
    */
  def extractTurns(cleaned: DataFrame, tagger: SectionTagger.Trained,
      extractDates: Boolean)(implicit spark: SparkSession): DataFrame =
    TurnExtract.extract(SectionTagger.predict(tagger, cleaned), extractDates)

  /** S5 scoring — (conv_id, sector, estimated_salary), at most one row per
    * conversation. Sector and salary estimate resolve against the cached
    * sector/ISCO frame in ONE conv-scale join chain (si ⟕ location ⟕
    * broadcast dim), so the emit pays a single conv-scale left join. The
    * left joins keep exactly the inner-join estimate rows: a missed
    * location or dim key just leaves estimated_salary null.
    */
  def scoreConvs(convs: Dataset[ConvExtract])(implicit spark: SparkSession): DataFrame = {
    val convSkills = convs.select(col("conv_id"), explode(col("skills")).as("skill"))
    val si = Scoring.sectorAndIsco(convSkills).cache()
    val convLoc = convs.toDF().select(col("conv_id"), col("location"))
      .filter(col("location").isNotNull)
    si.select(col("conv_id"), col("sector"), col("isco3"))
      .join(convLoc, Seq("conv_id"), "left")
      .join(broadcast(Scoring.estimateDim), Seq("location", "isco3"), "left")
      .select(col("conv_id"), col("sector"), col("estimated_salary"))
  }

  /** S5 linking — the canonical map (surface, canonical) over every org
    * mention, plus the blocking audit (`metric`, `value`).
    */
  def linkOrgs(convs: Dataset[ConvExtract])(
      implicit spark: SparkSession): (DataFrame, DataFrame) =
    Linking.canonicalizeWithMetrics(convs.toDF().select(explode(col("orgs")).as("surface")))

  /** S5+S6 from resolved conversations to triples: scoring, linking, then
    * the emit ([[TripleEmit.runEnriched]]). `convs` is read three times;
    * callers cache it.
    */
  def triplesFromConvs(convs: Dataset[ConvExtract])(
      implicit spark: SparkSession): Dataset[Triple] = {
    val enriched = scoreConvs(convs)
    TripleEmit.runEnriched(convs, enriched, linkOrgs(convs)._1)
  }

  /** S2-S6 from cleaned turns to triples, fused. S4 resolves conversations
    * via [[ConvFinalize.runClustered]]: every caller feeds conv-clustered,
    * turn-sorted input (transcript tables sorted by (conv_id, turn_idx),
    * the generator, the stage checkpoints), and the clustered path keeps
    * the per-turn payload out of the shuffle while throwing (never
    * corrupting) on contract violations. Arbitrarily ordered input goes
    * through [[ConvFinalize.run]] and [[triplesFromConvs]] instead.
    */
  def triplesFromCleaned(cleaned: DataFrame, tagger: SectionTagger.Trained,
      extractDates: Boolean = false)(implicit spark: SparkSession): Dataset[Triple] =
    triplesFromConvs(
      ConvFinalize.runClustered(extractTurns(cleaned, tagger, extractDates)).cache())

  def computeTriples(turns: Dataset[Turn], tagger: SectionTagger.Trained,
      extractDates: Boolean = false)(implicit spark: SparkSession): Dataset[Triple] =
    triplesFromCleaned(cleanTurns(turns), tagger, extractDates)
}
