package perfbench

import java.nio.file.{Files, Path, Paths}
import graft.pipeline.SyntheticKb
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
    files: Option[Long])

final case class Metric(name: String, value: Double, unit: String)

final case class Outcome(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]) {
  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/**
 * KG-construction benchmark entry point. One JVM runs one workload:
 *
 *   Main --workload dense_short|long_docs --seed N --seconds S --trace 0|1 --work DIR
 *        [--files N]
 *
 * and prints one JSON result line last on stdout. `--trace 0` measures the
 * end-to-end metrics; `--trace 1` runs the traced pass for the per-layer
 * metrics. `--files` overrides the workload's corpus size. It is for sizing
 * studies, and a sized run is not comparable with the recorded figures.
 * See perfbench/README.md.
 */
object Main {

  /** Entities of the SyntheticKb every workload links against. */
  val KbSize = 2000L

  /** Corpus files per workload: about the same content bytes in both. */
  val CorpusFiles: Map[String, Long] = Map("dense_short" -> 2000L, "long_docs" -> 200L)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), kv.get("files").map(_.toLong))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Inputs.Cores}]")
      .appName("perfbench")
      // the program's bench configuration, at 4 cores
      .config("spark.sql.shuffle.partitions", Inputs.Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val files = o.files.getOrElse(CorpusFiles.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}")))
    Files.createDirectories(o.work)
    val inputs = new Inputs(o.workload, o.seed, files, KbSize, o.work.resolve("input"))
    val outcome = if (o.trace) Traced.run(o, inputs) else untraced(o, inputs)
    println(outcome.json)
  }

  /**
   * End-to-end run: set-up (fresh session, then the KB artifacts), then
   * checked pipeline passes until `--seconds` have passed, at least one.
   * The first pass is cold: it pays JIT and code generation, as a batch job
   * in a fresh JVM does. Input generation is not part of the set-up time.
   */
  def untraced(o: Opts, inputs: Inputs): Outcome = {
    val out = o.work.resolve("out").toString
    val t0 = System.nanoTime()
    val spark = session(o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    inputs.write(spark)
    val want = inputs.golden
    val corpus = inputs.corpus(spark)
    val t1 = System.nanoTime()
    val kb = SyntheticKb.kbDims(spark, inputs.kbSize)
    val setupS = sessionS + (System.nanoTime() - t1) / 1e9

    val ledger = new Ledger
    val end = System.nanoTime() + o.seconds * 1000000000L
    do Ops.checkedPass(spark, corpus, kb, out, want, ledger)
    while (System.nanoTime() < end)
    spark.stop()
    // logged, not reported: its run-to-run spread is too wide for a bound
    System.err.println(f"[perfbench] peak RSS ${Summary.peakRssMb()}%.1f MB")
    // every pass handles the whole corpus: throughput is per median pass
    val pass = Summary.median(ledger.seconds.toSeq)
    Outcome(ledger.failed == 0, ledger.attempted, ledger.failed, Seq(
      Metric("setup_s", setupS, "s"),
      Metric("files_per_s", inputs.files / pass, "files/s"),
      Metric("triples_per_s", want.size / pass, "triples/s")))
  }
}
