package graft

import org.apache.spark.sql.functions.col

import graft.obs.StageStats

/** The stage listener and the probe runner built on it. */
class StageStatsSpec extends SparkSpec {

  test("StageStats records a known shuffle without sleeping for the bus") {
    import spark.implicits._
    val stats = StageStats.attach(spark.sparkContext)
    try {
      // 10 ms per task keeps every duration, and so the median, above 0
      spark.range(0, 10000, 1, 8).as[Long]
        .mapPartitions { it => Thread.sleep(10); it }
        .groupBy(col("value") % 7).count().collect()
      val mapStage = stats.stages.find(_.shuffleWrite > 0)
        .getOrElse(fail(s"no shuffle-map stage in ${stats.stages}"))
      assert(mapStage.taskMs.size == 8 && mapStage.tasks == 8)
      assert(stats.stragglerRatio >= 1.0)
      val sh = stats.shuffle
      assert(sh.writeBytes >= mapStage.shuffleWrite && sh.readBytes > 0)
      assert(sh.peak.map(_.id).contains(mapStage.id))
      assert(stats.jobs >= 1)
      stats.reset()
      assert(stats.stages.isEmpty && stats.jobs == 0 && stats.stragglerRatio == -1.0)
    } finally spark.sparkContext.removeSparkListener(stats)
  }

  test("probe JSON lines escape stage names and keep key order") {
    import graft.probe.Kit.{num, Json}
    val line = Json("peak_stage" -> "7:scan \"a\\b\"\n\tx", "n" -> 3L,
      "sec" -> num(1.0 / 3, 2), "bad" -> num(Double.NaN, 2), "runs" -> Seq(num(1, 1))).toString
    assert(line ==
      """{"peak_stage":"7:scan \"a\\b\"\n\tx","n":3,"sec":0.33,"bad":null,"runs":[1.0]}""")
  }

  test("Probe rejects an unknown name and lists the known ones") {
    val e = intercept[IllegalArgumentException](Probe.main(Array("no-such-probe")))
    Probe.probes.keys.foreach(k => assert(e.getMessage.contains(k), s"$k missing: ${e.getMessage}"))
  }

  test("Probe kernel-worker runs without a SparkSession") {
    // the shared session is live: a probe that built one would get it from
    // getOrCreate and stop it on exit, or fail on a second context
    val sc = spark.sparkContext
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Probe.main(Array("kernel-worker", "0", "1", "50")))
    assert(out.toString.contains("[worker] shard=0/1 texts="), out.toString)
    assert(!sc.isStopped && spark.sparkContext.eq(sc))
  }
}
