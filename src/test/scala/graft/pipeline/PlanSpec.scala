package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Physical-plan assertions: the plan properties the scale design depends on
 * are pinned here so a refactor cannot silently regress them
 * (SURVEY.md §4 "what our engine relies on Catalyst for — verify in plans").
 */
class PlanSpec extends AnyFunSuite {
  import SparkHolder.spark
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val corpus = Corpus.generate(spark, 60L, 5, 42L, 2)
  private lazy val gaz = spark.sparkContext.broadcast(Gazetteer.fromKb())
  private lazy val mentions = Detect.rawMentions(Detect.chunks(corpus), gaz)

  test("parquet scan gets predicate and projection pushdown") {
    val q = graft.SparkEntry.queries("q_filter_project")(spark, "/root/testdata/sf0.001")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters:") && scan.contains("l_shipdate"),
      "filters must reach the parquet scan")
    assert(scan.contains("ReadSchema"))
    // projection pruning: unused wide columns must not be read
    assert(!scan.split("ReadSchema")(1).split("\n")(0).contains("l_extendedprice"))
  }

  /** A SortAggregate is fine on the KB build side (dimension-scale, inside
   * the BroadcastExchange subtree) but must never touch the mention-scale
   * probe side, where it would mean per-row interpreted struct orderings. */
  private def assertNoProbeSideSortAgg(plan: String): Unit = {
    val firstSortAgg = plan.indexOf("SortAggregate")
    val broadcastBuild = plan.indexOf("BroadcastExchange")
    assert(firstSortAgg == -1 || (broadcastBuild != -1 && firstSortAgg > broadcastBuild),
      "SortAggregate on the mention-scale probe side")
  }

  test("link is broadcast-join + hash-aggregate only — no sort aggregate, no shuffle lookup") {
    val plan = planOf(Link.link(mentions, KB.labels(spark)).toDF())
    assert(plan.contains("BroadcastHashJoin"), "KB lookup must be a broadcast join")
    assert(!plan.contains("SortMergeJoin"), "mention stream must not shuffle for the lookup")
    assert(plan.contains("HashAggregate"))
    assertNoProbeSideSortAgg(plan)
  }

  test("docEntities is a pure hash aggregate on the probe side") {
    val plan = planOf(Link.docEntities(Link.link(mentions, KB.labels(spark))))
    assert(plan.contains("HashAggregate"))
    assertNoProbeSideSortAgg(plan)
  }

  test("mention dedup is a grouping-only distinct (no window)") {
    val plan = planOf(mentions.drop("chunkId").distinct().toDF())
    assert(plan.contains("HashAggregate") && !plan.contains("Window"))
  }

  test("detect→link→docEntities rides ONE mention-stream shuffle") {
    // HashPartitioning(docId) must satisfy the distinct AND the per-doc
    // groupBy (docId is a subset of both clustering key sets): exactly one
    // non-broadcast Exchange in the whole chain
    val plan = planOf(Link.docEntities(Link.link(mentions, KB.labels(spark))))
    // dimension-sized exchanges (bestPerAlias groupBy inside the broadcast
    // subtree) are fine; the MENTION stream — keyed by docId — must shuffle
    // exactly once
    val docShuffles = "Exchange hashpartitioning\\(docId".r.findAllIn(plan).size
    assert(docShuffles == 1,
      s"expected exactly 1 docId exchange, found $docShuffles in:\n$plan")
  }

  test("no query plans a cartesian product or nested-loop join over big inputs") {
    val dir = "/root/testdata/sf0.001"
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf(graft.SparkEntry.queries("q_topk")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("statistics explode+count+top-k also plans as TakeOrderedAndProject") {
    val plan = planOf(graft.SparkEntry.queries("q_explode_topk")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("similarity/dedup candidate joins are equi-joins — never nested-loop") {
    val dir = "/root/testdata/sf0.001"
    Seq("q_similarity_expr", "q_cosine_pairs", "q_minhash_dedup",
      "q_jaccard_pairs", "q_simhash_pairs").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$name plans a non-equi pair join")
    }
  }

  /** Triple rows over four langs and seven repos. */
  private def stageFrame(n: Int) = {
    val langs = Seq("scala", "java", "go", "python")
    spark.range(0, n).select(
      concat(lit("repo"), col("id") % 7).as("repo"),
      element_at(typedLit(langs), (col("id") % 4 + 1).cast("int")).as("lang"),
      concat(lit("Q"), col("id") % 50).as("subjectId"),
      lit("USES").as("predicate"),
      concat(lit("Q"), col("id") % 30).as("objectId"),
      lit("explicit").as("inferred"),
      col("id").as("docId"))
  }

  /** Read-path half of the materialization contract: writeStage lays data
   * out as `lang=X/bucket=N` directories so per-language consumers read only
   * their shard; this pins that a lang predicate becomes a PARTITION filter
   * (directories skipped at planning) rather than a data filter (every file
   * scanned then filtered) — the difference between reading 1/k and k/k of
   * a 100 TB triple table. */
  test("materialized stage reads prune lang partitions at the scan") {
    val out = java.nio.file.Files.createTempDirectory("graft-prune").toString
    Materialize.writeStage(stageFrame(400), "triples", out, buckets = 4, resume = false)

    val all = Materialize.readStage(spark, "triples", out)
    val pruned = all.filter(col("lang") === "scala")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:"), "scan must expose partition filters")
    val pf = plan.split("PartitionFilters:")(1).split("\n")(0)
    assert(pf.contains("lang"), s"lang must prune partitions, got: $pf")

    val prunedFiles = pruned.select(input_file_name()).distinct().count()
    val allFiles = all.select(input_file_name()).distinct().count()
    assert(prunedFiles * 2 <= allFiles,
      s"pruned read touched $prunedFiles of $allFiles files")
    assert(pruned.count() == 100)
  }

  /** Every node of an executed plan, through adaptive plans and query
   * stages; a cached relation's own plan is not a child. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  /** Single-pass write: the stage data is exchanged once, on (lang, bucket),
   * and the lineage is digested from the persisted partitions the parquet
   * writer consumed — no file of the stage is read back, and nothing
   * re-partitions the rows below the digest's MapPartitions. */
  test("writeStage exchanges once on (lang, bucket) and digests the persisted partitions") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val out = java.nio.file.Files.createTempDirectory("graft-single-pass").toString
    spark.listenerManager.register(listener)
    try {
      Materialize.writeStage(stageFrame(400), "triples", out, buckets = 4, resume = false)
      // listener calls are asynchronous; the lineage write is writeStage's last query
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!plans.toArray.exists(_.toString.contains(s"$out/triples/lineage")) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val all = plans.toArray(Array.empty[SparkPlan]).toSeq
    assert(all.exists(_.toString.contains(s"$out/triples/lineage")), "lineage write not observed")
    // the plan strings include the persisted frame's own plan
    val text = all.map(_.toString)
    assert(!text.exists(_.contains("FileScan")), "writeStage read files back")
    val exchanges = text.flatMap(_.split("\n")).filter(_.contains("Exchange"))
    val repartition = "Exchange hashpartitioning\\(lang#\\d+, bucket#\\d+, \\d+\\)".r
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(repartition.findFirstIn(e).nonEmpty, s"unexpected exchange: $e"))
    val digests = all.flatMap(nodes).collect { case m: MapPartitionsExec => m }
    assert(digests.nonEmpty, "no digest MapPartitions observed")
    digests.foreach { m =>
      val below = nodes(m)
      assert(!below.exists(_.isInstanceOf[Exchange]), s"exchange below the digest:\n$m")
      assert(below.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"digest not over the persisted frame:\n$m")
    }
  }

  test("the digest fails loudly when a (lang, bucket) group spans partitions") {
    // one group, dealt round-robin over two partitions
    val oneGroup = stageFrame(40).withColumn("lang", lit("go")).withColumn("repo", lit("repo0"))
    val split = Materialize.withBucket(oneGroup, buckets = 4).repartition(2)
    val e = intercept[IllegalStateException](
      Materialize.digest(split, "triples", Materialize.tripleOrder))
    assert(e.getMessage.contains("more than one partition"))
  }
}
