package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import graft.pipeline._
import graft.streaming.StreamingOps
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Attempted and failed operations plus the wall times of the good ones. */
final class Ledger {
  var attempted = 0
  var failed = 0
  val seconds = ArrayBuffer.empty[Double]

  /** Runs one operation that returns its wall time and whether its output
   * was right. An exception or a wrong output counts as a failure. */
  def run(what: String)(op: => (Double, Boolean)): Unit = {
    attempted += 1
    try {
      val (s, ok) = op
      if (ok) seconds += s
      else { failed += 1; System.err.println(s"[perfbench] wrong output: $what") }
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] failed: $what")
        e.printStackTrace()
    }
  }
}

object Summary {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
    finally src.close()
  }
}

/**
 * The benchmark's inputs for one workload and seed: the corpus table on
 * disk and its plan-computed golden triples. Only the table reaches the
 * program.
 */
final class Inputs(val workload: String, val seed: Long, val files: Long, val kbSize: Long,
    dir: Path) {
  import Inputs._

  val corpusDir: String = dir.resolve("corpus").toString

  /** Writes the corpus table, one parquet file per core. */
  def write(spark: SparkSession): Unit = {
    val corpus = workload match {
      case "dense_short" => Corpus.generateScaled(spark, files, kbSize, NumRepos, seed, Cores)
      case "long_docs" => LongDocs.generate(spark, files, kbSize, NumRepos, seed, Cores)
    }
    corpus.write.parquet(corpusDir)
  }

  def corpus(spark: SparkSession): Dataset[SourceFile] = {
    import spark.implicits._
    spark.read.parquet(corpusDir).as[SourceFile]
  }

  lazy val golden: Set[Ops.TripleKey] =
    Corpus.goldenFinalTriplesScaled(seed, files, NumRepos, kbSize)
}

object Inputs {
  val NumRepos = 200
  val Cores = 4
}

/**
 * The measured operations, each through the program's public calls only: a
 * pipeline pass ([[Pipeline.run]], then [[Materialize.writeStage]] of the
 * canonical triples) and a micro-batch ([[StreamingOps.incrementalKg]]).
 */
object Ops {

  type TripleKey = (String, String, String, String)

  /** (subject, predicate, object, inferred) rows of a triple table. */
  def tripleKeys(ds: Dataset[Triple]): Seq[TripleKey] =
    ds.select(col("subject"), col("predicate"), col("obj"), col("inferred")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq

  /** Exactly the golden triples, each once. */
  def isGolden(got: Seq[TripleKey], want: Set[TripleKey]): Boolean =
    got.size == want.size && got.toSet == want

  /** The lineage rows [[Materialize.writeStage]] wrote for the canonical
   * table: (lang, bucket, rowCount, sha256) of the files on disk. */
  def lineage(out: String): Set[String] = {
    val s = Files.list(Paths.get(out, "canonical", "lineage"))
    try s.toArray.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.endsWith(".json"))
      .flatMap(p => Files.readAllLines(p).toArray.map(_.toString)).toSet
    finally s.close()
  }

  private val RowCount = "\"rowCount\":(\\d+)".r

  def writtenRows(lineage: Set[String]): Long =
    lineage.toSeq.flatMap(l => RowCount.findFirstMatchIn(l).map(_.group(1).toLong)).sum

  /** One pass, timed from the corpus scan to the written canonical table.
   * It is right when its triples are the golden ones and the written table
   * holds one row per triple. */
  def checkedPass(spark: SparkSession, corpus: Dataset[SourceFile], kb: KbDims,
      out: String, want: Set[TripleKey], ledger: Ledger): Unit =
    ledger.run(s"pipeline pass into $out") {
      val t0 = System.nanoTime()
      val r = Pipeline.run(spark, corpus, PipelineConfig(), Some(kb))
      Materialize.writeStage(r.canonicalTriples.toDF(), "canonical", out, resume = false)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] pass $s%.3f s")
      val right = isGolden(tripleKeys(r.triples), want) && writtenRows(lineage(out)) == want.size
      r.unpersistStages(keepCanonMap = true)
      (s, right)
    }

  /** One micro-batch: an AvailableNow run over `in`, waited for. Returns
   * the wall time and the run's progress reports. */
  def microBatch(spark: SparkSession, in: String, out: String,
      kb: KbDims): (Double, Array[StreamingQueryProgress]) = {
    val t0 = System.nanoTime()
    val q = StreamingOps.incrementalKg(spark, StreamingOps.corpusStream(spark, in), out,
      PipelineConfig(), Some(kb))
    q.awaitTermination()
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] micro-batch $s%.3f s")
    (s, q.recentProgress)
  }
}
