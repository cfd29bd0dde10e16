package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ml.SectionTagger
import graft.operators.ConvFinalize
import graft.sources.TranscriptGen

/** Diagnostic twin of [[TagProbe]] for the fact-scale shuffle stage
  * (s4_conv): repeated passes isolate the warm cross-process shuffle cost
  * at a given master (see BENCH_SCALING.md round 3).
  */
object ConvProbe {
  def main(args: Array[String]): Unit = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "")
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_CONVS", "200000").toLong
    implicit val spark: SparkSession =
      if (master.startsWith("cluster:"))
        Sessions.localCluster(master.stripPrefix("cluster:").toInt, appName = "graft-convprobe")
      else Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
        appName = "graft-convprobe")
    spark.sparkContext.setLogLevel("WARN")
    val tagger = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 200))
    val turns = TranscriptGen.dataset(spark, nConvs, 42L, 4, 800).cache()
    def extract() = KgPipeline.extractTurns(KgPipeline.cleanTurns(turns), tagger,
      extractDates = false)
    val extracted = extract().cache()
    println(s"[probe] extracted=${extracted.count()}")
    // interleave the salted shuffle path and the clustered map-side path so
    // host-noise windows hit both alike
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = ConvFinalize.run(extracted).count()
      println(f"[probe] conv salted pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n convs)")
      val t1 = System.nanoTime()
      val m = ConvFinalize.runClustered(extracted).count()
      println(f"[probe] conv clustered pass $i: ${(System.nanoTime() - t1) / 1e9}%.2f s ($m convs)")
    }
    // the same A/B fused end-to-end (uncached stages, the bench shape)
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val a = KgPipeline.triplesFromConvs(ConvFinalize.run(extract()).cache()).count()
      println(f"[probe] fused salted pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($a triples)")
      val t1 = System.nanoTime()
      val b = KgPipeline.computeTriples(turns, tagger).count()
      println(f"[probe] fused clustered pass $i: ${(System.nanoTime() - t1) / 1e9}%.2f s ($b triples)")
    }
    spark.stop()
  }
}
