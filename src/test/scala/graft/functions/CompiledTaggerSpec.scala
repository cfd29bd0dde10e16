package graft.functions

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import graft.{KgPipeline, SparkSpec}
import graft.ml.SectionTagger

/** The per-JVM folded serve layout is shared by every task of one model:
  * concurrent first calls, which build outside the cache lock, must still
  * all receive the one published instance.
  */
class CompiledTaggerSpec extends SparkSpec {

  test("8 threads racing on a cold foldedFor all get the same layout") {
    val tagger = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 60))
    val ct = CompiledTagger.compile(tagger.model, tagger.labels)
      .getOrElse(fail("LR pipeline must compile"))
    val threads = 8
    val barrier = new CyclicBarrier(threads)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val got = (1 to threads).map(_ => pool.submit(() => {
        barrier.await(30, TimeUnit.SECONDS)
        CompiledTagger.foldedFor(ct)
      })).map(_.get(60, TimeUnit.SECONDS))
      assert(got.forall(_ eq got.head), "every racer must get the published layout")
      assert(CompiledTagger.foldedFor(ct) eq got.head, "later calls hit the cache")
    } finally pool.shutdownNow()
  }
}
