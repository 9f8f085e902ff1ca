package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/**
 * Degenerate-input robustness: at 100 TB a partition with zero matches is
 * not an edge case but a certainty (cold repos, generated code, minified
 * blobs), and an empty input glob must not crash a scheduled job. The
 * whole DAG — detect → link → relate → dedup → canonicalize, plus the
 * statistics block — must complete and return EMPTY frames, not throw.
 */
class EdgeCaseSpec extends AnyFunSuite {
  import SparkHolder.spark
  import spark.implicits._

  private def run(corpus: org.apache.spark.sql.Dataset[SourceFile]): PipelineResult =
    Pipeline.run(spark, corpus)

  test("empty corpus flows through the full pipeline as empty outputs") {
    val res = run(spark.emptyDataset[SourceFile])
    assert(res.mentions.count() == 0)
    assert(res.linked.count() == 0)
    assert(res.triples.count() == 0)
    assert(res.canonicalTriples.count() == 0)
    // the full statistics block renders zeros, not NPEs (reference
    // orchestrator.py:521-523 empty-result else-branch)
    val json = Stats.statisticsJson(res.linked, res.docEntities, res.triples,
      KB.wikidata(spark), KB.dbpedia(spark))
    assert(json.contains(""""total_entities": 0"""))
    assert(json.contains(""""entity_connections": []"""))
  }

  test("corpus with no KB mentions yields empty KG but keeps doc accounting") {
    val corpus = Seq(
      SourceFile("r0", "a.py", "c0", "en", "zzz qqq nothing matches here 123"),
      SourceFile("r1", "b.py", "c1", "en", "")).toDS()
    val res = run(corpus)
    assert(res.mentions.count() == 0)
    assert(res.canonicalTriples.count() == 0)
    // the manifest still accounts for every input row (including empty content)
    assert(Corpus.manifest(corpus).count() == 2)
  }

  test("an empty stage writes an empty lineage and its completion marker, then resumes") {
    val empty = Seq.empty[(String, String, String, String, String, String)]
      .toDF("docId", "lang", "subjectId", "predicate", "objectId", "inferred")
    val out = java.nio.file.Files.createTempDirectory("graft-empty-stage").toString
    assert(Materialize.writeStage(empty, "canonical", out))
    assert(Materialize.isComplete(s"$out/canonical"))
    val lineage = java.nio.file.Paths.get(out, "canonical", "lineage")
    val files = java.nio.file.Files.list(lineage)
    val lines = try files.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".json"))
        .map(p => java.nio.file.Files.readAllLines(p).size).sum
      finally files.close()
    assert(lines == 0)
    assert(!Materialize.writeStage(empty, "canonical", out, resume = true))
  }
}
