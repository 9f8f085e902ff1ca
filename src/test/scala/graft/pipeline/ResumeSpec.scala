package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Stage-granular checkpoint/resume (north_star; SURVEY.md §5 resume test):
 * kill-after-stage-k is simulated by deleting completion markers. */
class ResumeSpec extends AnyFunSuite {
  import SparkHolder.spark

  test("checkpointed run resumes at the first incomplete stage") {
    val corpus = Corpus.generate(spark, 120L, 10, 42L, 4)
    val out = Files.createTempDirectory("graft-resume").toString

    val (res1, ran1) = Pipeline.runCheckpointed(spark, corpus, out)
    assert(ran1 == Seq("linked", "triples", "canonical"))
    val triples1 = res1.select("subjectId", "predicate", "objectId", "inferred")
      .collect().map(_.toSeq).toSet
    assert(triples1.nonEmpty)

    // full rerun: everything resumed, nothing recomputed
    val (_, ran2) = Pipeline.runCheckpointed(spark, corpus, out)
    assert(ran2.isEmpty)

    // "kill" after stage 2: canonical marker missing -> only canonical reruns
    Files.delete(Materialize.completeMarker(s"$out/canonical"))
    val (res3, ran3) = Pipeline.runCheckpointed(spark, corpus, out)
    assert(ran3 == Seq("canonical"))
    val triples3 = res3.select("subjectId", "predicate", "objectId", "inferred")
      .collect().map(_.toSeq).toSet
    assert(triples3 == triples1)

    // lineage rows exist for every stage with the required fields
    // (north_star: partition id, input file count, row count, sha256)
    Seq("linked", "triples", "canonical").foreach { st =>
      val lin = spark.read.json(s"$out/$st/lineage")
      assert(lin.columns.toSet ==
        Set("lang", "bucket", "rowCount", "sha256", "stage", "inputFiles"))
      assert(lin.count() > 0)
      import org.apache.spark.sql.functions.col
      assert(lin.filter(col("inputFiles").isNull || col("inputFiles") <= 0).count() == 0, st)
    }

    // a fresh run into a different dir at different parallelism yields
    // identical final lineage (the cross-cluster-size determinism invariant)
    val out2 = Files.createTempDirectory("graft-resume2").toString
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      Pipeline.runCheckpointed(spark, corpus, out2)
      val l1 = spark.read.json(s"$out/canonical/lineage")
        .select("lang", "bucket", "rowCount", "sha256").collect().map(_.toSeq).toSet
      val l2 = spark.read.json(s"$out2/canonical/lineage")
        .select("lang", "bucket", "rowCount", "sha256").collect().map(_.toSeq).toSet
      assert(l1 == l2)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}

/** The streaming mapPartitions digest must produce byte-identical lineage to
 * the legacy collect_list aggregate formulation (same '\n'-joined sorted row
 * set per (lang, bucket)), at any parallelism. */
class LineageDigestSpec extends AnyFunSuite {
  import SparkHolder.spark
  import org.apache.spark.sql.functions._

  test("streaming digest equals the collect_list formulation") {
    val corpus = Corpus.generate(spark, 150L, 12, 43L, 5)
    val result = Pipeline.run(spark, corpus)
    val df = result.canonicalTriples.toDF()
    val streaming = Materialize.lineage(df, "t", buckets = 8)
      .select("lang", "bucket", "rowCount", "sha256").collect().map(_.toSeq).toSet

    // legacy formulation, inline (the implementation this replaced)
    val rowStr = concat_ws("\u0001", Materialize.tripleOrder.map(col): _*)
    val legacy = Materialize.withBucket(df, 8)
      .select(col("lang"), col("bucket").cast("int").as("bucket"), rowStr.as("r"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("rowCount"),
        sha2(concat_ws("\n", sort_array(collect_list(col("r")))), 256).as("sha256"))
      .select("lang", "bucket", "rowCount", "sha256").collect().map(_.toSeq).toSet

    assert(streaming == legacy)
    assert(streaming.nonEmpty)

    // parallelism-invariance of the streaming form itself
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val low = Materialize.lineage(df, "t", buckets = 8)
        .select("lang", "bucket", "rowCount", "sha256").collect().map(_.toSeq).toSet
      assert(low == streaming)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}

/** writeStage digests the rows it writes without reading them back; its
 * lineage must still describe what is on disk: every stage's lineage JSON
 * equals [[Materialize.lineage]] of the stage's files, read back. */
class WrittenLineageSpec extends AnyFunSuite {
  import SparkHolder.spark
  import spark.implicits._
  import org.apache.spark.sql.functions.sum

  private val cols = Seq("lang", "bucket", "rowCount", "sha256", "inputFiles")

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] =
    df.select(cols.head, cols.tail: _*).collect().map(_.toSeq.map(String.valueOf)).toSet

  private def assertMatchesDisk(out: String, stage: String, sortCols: Seq[String],
      buckets: Int = Materialize.DefaultBuckets): Unit = {
    val recorded = rowSet(spark.read.json(s"$out/$stage/lineage"))
    val onDisk = rowSet(Materialize.lineage(Materialize.readStage(spark, stage, out), stage,
      buckets, sortCols))
    assert(recorded.nonEmpty, stage)
    assert(recorded == onDisk, stage)
  }

  test("checkpointed stages: recorded lineage equals the lineage of the files on disk") {
    val corpus = Corpus.generate(spark, 120L, 10, 44L, 4)
    val out = Files.createTempDirectory("graft-lineage").toString
    Pipeline.runCheckpointed(spark, corpus, out)
    // linked sorts by a non-string column (citationStart)
    assertMatchesDisk(out, "linked", Seq("docId", "citationStart", "entityName"))
    assertMatchesDisk(out, "triples", Seq("subject", "predicate", "obj", "inferred", "docId"))
    assertMatchesDisk(out, "canonical", Materialize.tripleOrder)
  }

  test("empty lang and null fields: recorded lineage equals the lineage on disk") {
    // the writer stores an empty partition string as NULL; a NULL field has
    // its own sentinel in the digest
    val rows = Seq(
      ("r1:a", "", "Q1", "USES", "Q2", "explicit"),
      ("r1:b", "", "Q1", "USES", null, "explicit"),
      ("r2:a", null, "Q3", "USES", "Q4", "implicit"),
      ("r3:a", "en", "Q5", "USES", "Q6", "explicit"),
      ("r3:b", "en", "Q5", null, "Q6", "explicit"))
    val df = rows.toDF("docId", "lang", "subjectId", "predicate", "objectId", "inferred")
    val out = Files.createTempDirectory("graft-lineage-nulls").toString
    Materialize.writeStage(df, "canonical", out, buckets = 4, resume = false)
    assertMatchesDisk(out, "canonical", Materialize.tripleOrder, buckets = 4)
    val recorded = spark.read.json(s"$out/canonical/lineage")
    assert(recorded.filter($"lang".isNull).agg(sum("rowCount")).first().getLong(0) == 3)
  }
}
