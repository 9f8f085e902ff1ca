package perfbench

import graft.pipeline._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The long_docs generator: long files, unchanged goldens, real overlap
 * duplicates. Run with `sbt test` in perfbench/. */
class LongDocsSpec extends AnyFunSuite {

  private val seed = 7L
  private val files = 24L
  private val kbSize = 2000L
  private val plans = (0L until files).map(Corpus.planScaled(seed, files, Inputs.NumRepos, kbSize, _))

  test("every long document is longer than one chunk and spans at least MinChunks") {
    plans.foreach { p =>
      val doc = LongDocs.render(p)
      assert(doc.length > Detect.DefaultChunkSize)
      assert(doc.length > (LongDocs.MinChunks - 1) * LongDocs.Step + Detect.DefaultOverlap)
    }
  }

  test("each plant's first occurrence stays in plan order") {
    plans.foreach { p =>
      val doc = LongDocs.render(p)
      val firsts = p.plants.map(pl => doc.indexOf(pl.surface))
      assert(firsts.forall(_ >= 0) && firsts == firsts.sorted, p.path)
    }
  }

  test("the pipeline's triples on long_docs equal the scaled golden; overlap duplicates occur") {
    val spark = SparkSession.builder().master("local[2]").appName("long-docs-spec")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val corpus = LongDocs.generate(spark, files, kbSize, Inputs.NumRepos, seed, 2).cache()
      val r = Pipeline.run(spark, corpus, PipelineConfig(), Some(SyntheticKb.kbDims(spark, kbSize)))
      val got = Ops.tripleKeys(r.triples)
      assert(Ops.isGolden(got, Corpus.goldenFinalTriplesScaled(seed, files, Inputs.NumRepos, kbSize)))
      val raw = r.mentions.count()
      val unique = r.mentions.drop("chunkId").distinct().count()
      assert(raw > unique, s"raw $raw vs unique $unique mention rows")
    } finally spark.stop()
  }
}
