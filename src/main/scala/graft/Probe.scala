package graft

import scala.collection.immutable.ListMap

import graft.probe.{KgProbes, OperatorProbes}

/** The one entry point of the diagnostic probes: `graft.Probe <name> [args]`.
  * Sizes come from the probes' `SPARK_GRAFT_*` variables; every probe
  * prints the lines or the one JSON line recorded in BENCH_SCALING.md.
  * Only probes that need Spark start a session (`kernel` and
  * `kernel-worker` run on the bare JVM).
  */
object Probe {

  val probes: ListMap[String, Seq[String] => Unit] = ListMap(
    "profile" -> KgProbes.profile,
    "hotkey" -> KgProbes.hotkey,
    "anchor" -> KgProbes.anchor,
    "scaling" -> KgProbes.scaling,
    "cluster-scaling" -> KgProbes.clusterScaling,
    "conv" -> KgProbes.conv,
    "tag" -> KgProbes.tag,
    "kernel" -> KgProbes.kernel,
    "kernel-worker" -> KgProbes.kernelWorker,
    "graph" -> OperatorProbes.graph,
    "asof" -> OperatorProbes.asof,
    "path-seed" -> OperatorProbes.pathSeed,
    "simjoin" -> OperatorProbes.simjoin,
    "bgp" -> OperatorProbes.bgp,
    "dedup" -> OperatorProbes.dedup,
    "dict" -> OperatorProbes.dict,
    "text-scan" -> OperatorProbes.textScan,
    "noop" -> OperatorProbes.noop,
    "ext-smoke" -> OperatorProbes.extSmoke,
    "file-skip" -> OperatorProbes.fileSkip)

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("")
    val probe = probes.getOrElse(name, throw new IllegalArgumentException(
      s"unknown probe '$name'; known: ${probes.keys.mkString(", ")}"))
    probe(args.toSeq.tail)
  }
}
