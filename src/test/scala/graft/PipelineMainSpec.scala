package graft

import java.nio.file.Files

import graft.model.{Triple, Turn}
import graft.operators.{ConvExtract, ConvFinalize}

/** The checkpointing driver against the fused run: stage by stage through
  * its tables, PipelineMain must land exactly the triples
  * [[KgPipeline.computeTriples]] derives from the same transcripts with the
  * same tagger, and a resume from a middle stage must reproduce them.
  */
class PipelineMainSpec extends SparkSpec {

  private lazy val out: String = {
    val dir = Files.createTempDirectory("graft-pipeline-main").resolve("kg").toString
    PipelineMain.run(Array("--out", dir, "--convs", "60", "--to-stage", "s6"))
    dir
  }

  private def landed(): Set[Triple] = {
    import spark.implicits._
    spark.read.parquet(s"$out/s6_triples").as[Triple].collect().toSet
  }

  test("s6_triples equal the fused run over s0 with the saved s2 tagger") {
    import spark.implicits._
    val got = landed()
    val turns = spark.read.parquet(s"$out/s0_transcripts").as[Turn]
    val want = KgPipeline.computeTriples(turns, PipelineMain.loadTagger(s"$out/s2_model"))
      .collect().toSet
    assert(want.map(_.subj).size == 60, "every conversation yields triples")
    assert(got == want, s"only-driver=${(got -- want).take(5)} only-fused=${(want -- got).take(5)}")
  }

  test("a resume from s4 leaves s6_triples unchanged") {
    val before = landed()
    PipelineMain.run(Array("--out", out, "--from-stage", "s4", "--to-stage", "s6"))
    val after = landed()
    assert(after == before,
      s"only-resumed=${(after -- before).take(5)} only-first=${(before -- after).take(5)}")
    val s4Runs = spark.read.parquet(s"$out/lineage").filter("stage = 's4_conv'")
      .select("run_id").distinct().count()
    assert(s4Runs == 2, "the resume re-ran s4")
  }

  test("s4 falls back to the salted path when the scan breaks the clustered layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pipeline-s4").resolve("kg").toString
    // round-robin repartition scatters every conversation's turns
    spark.read.parquet(s"$out/s3_extract").repartition(4).write.parquet(s"$dir/s3_extract")
    val log = new java.io.ByteArrayOutputStream()
    Console.withOut(log)(PipelineMain.run(Array("--out", dir, "--from-stage", "s4", "--to-stage", "s4")))
    assert(log.toString.contains("falling back to the salted path"), log.toString)
    val got = spark.read.parquet(s"$dir/s4_conv").as[ConvExtract].collect().toSet
    val want = ConvFinalize.run(spark.read.parquet(s"$dir/s3_extract")).collect().toSet
    assert(got.size == 60 && got == want,
      s"only-driver=${(got -- want).take(3)} only-salted=${(want -- got).take(3)}")
  }
}
