package perfbench

import java.nio.file.{Files, Path}
import graft.pipeline._
import graft.streaming.StreamingOps
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

/**
 * The traced run: the KB artifacts and one pipeline pass, built by calling
 * each layer's public function in [[SyntheticKb.kbDims]]'s and
 * [[Pipeline.run]]'s order, with every layer materialized under its own
 * span. Its canonical output must equal an untraced pass's, so this copy of
 * the stage order cannot drift from the program unnoticed.
 */
object Traced {

  val Layers = Seq("detect", "link", "doc_entities", "relate", "dedup", "canonicalize",
    "materialize")

  /** Micro-batches of the streaming leg of a traced run. */
  val StreamBatches = 3

  /** [[SyntheticKb.kbDims]]'s artifacts, one span each. */
  def kb(spark: SparkSession, m: Long, tracer: Tracer): (KbDims, Gazetteer) = {
    val labels = tracer.span("kb.labels")(SyntheticKb.labels(spark, m).localCheckpoint(true))
    val canon = tracer.span("kb.canonical_map")(
      Canonicalize.canonicalMapFromKb(labels, SyntheticKb.dbpedia(spark, m), None)
        .localCheckpoint(true))
    val linkDim = tracer.span("kb.link_dim")(Link.bestPerAlias(labels).localCheckpoint(true))
    val (gaz, gazBc) = tracer.span("kb.gazetteer") {
      val g = SyntheticKb.gazetteer(m)
      (g, spark.sparkContext.broadcast(g))
    }
    (KbDims(labels, SyntheticKb.wikidata(spark, m), SyntheticKb.dbpedia(spark, m), None,
      () => gaz, Some(canon), Some(linkDim), Some(gazBc)), gaz)
  }

  /** What the traced pass saw: rows out of each layer, the ratios' bases,
   * the deduplicated triples and the JVM's GC time over the pass. */
  final case class LayerRows(rowsOut: Map[String, Long], uniqueMentions: Long,
      linkedWithQid: Long, tripleKeys: Seq[Ops.TripleKey], gcSeconds: Double)

  /** Collection time of every garbage collector of this JVM, which in local
   * mode also runs the tasks. */
  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum / 1e3

  /** [[Pipeline.run]] and the canonical write, one span per layer. Each
   * layer's output is persisted and counted inside its span. */
  def pipeline(spark: SparkSession, corpus: Dataset[SourceFile], kb: KbDims,
      out: String, tracer: Tracer): LayerRows = {
    val cfg = PipelineConfig()
    val rowsOut = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val persisted = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    def counted[T](name: String)(ds: => Dataset[T]): Dataset[T] =
      tracer.span(name) {
        val d = ds.persist()
        persisted += d
        rowsOut(name) = d.count()
        d
      }
    val gc0 = gcSeconds()
    val (mentions, linked, deduped) = tracer.span("pipeline") {
      val mentions = counted("detect")(Detect.rawMentions(
        Detect.chunks(corpus, cfg.chunkSize, cfg.chunkOverlap), kb.gazetteerBroadcast.get))
      val linked = counted("link")(
        Link.link(mentions, kb.labels, broadcastDim = true, prebuiltDim = kb.linkDim))
      val docEntities = counted("doc_entities")(Link.docEntities(linked))
      val raw = counted("relate")(Relate.triples(docEntities, kb.wikidata))
      val deduped = counted("dedup")(Dedup.exactThenConsolidate(raw, fuzzy = cfg.runFuzzyDedup))
      val canonical = counted("canonicalize")(
        Canonicalize.canonicalTriples(deduped, kb.canonicalMap.get))
      tracer.span("materialize") {
        Materialize.writeStage(canonical.toDF(), "canonical", out, resume = false)
        rowsOut("materialize") = Ops.writtenRows(Ops.lineage(out))
      }
      (mentions, linked, deduped)
    }
    val gc = gcSeconds() - gc0
    // the ratios' extra actions run after the pipeline span, in a group of their own
    val rows = tracer.span("ratios") {
      LayerRows(rowsOut.toMap, mentions.drop("chunkId").distinct().count(),
        linked.filter(col("qid").isNotNull).count(), Ops.tripleKeys(deduped), gc)
    }
    persisted.foreach(_.unpersist(false))
    rows
  }

  private def bytesUnder(dir: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => p.toString.endsWith(".parquet")).mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }

  def run(o: Opts, inputs: Inputs): Outcome = {
    val spark = Main.session(o.work)
    inputs.write(spark)
    val corpus = inputs.corpus(spark)
    val want = inputs.golden
    val tracer = new Tracer(spark.sparkContext, s"${o.workload}-${o.seed}")
    val (kb, gaz) = tracer.span("kb")(this.kb(spark, inputs.kbSize, tracer))
    val ledger = new Ledger

    // a warm-up pass, the traced pass, then the untraced reference pass. The
    // traced pass must write the same canonical partitions: the lineage rows
    // carry each (lang, bucket) partition's row count and digest
    val untracedOut = o.work.resolve("untraced").toString
    Ops.checkedPass(spark, corpus, kb, untracedOut, want, ledger)
    val tracedOut = o.work.resolve("traced").toString
    var rows: LayerRows = null
    ledger.run("traced pass") {
      rows = pipeline(spark, corpus, kb, tracedOut, tracer)
      val same = Ops.isGolden(rows.tripleKeys, want) &&
        Ops.lineage(tracedOut) == Ops.lineage(untracedOut)
      if (!same) System.err.println("[perfbench] traced output differs from the untraced pass")
      (tracer.get("pipeline").seconds, same)
    }
    val reference = new Ledger
    Ops.checkedPass(spark, corpus, kb, untracedOut, want, reference)
    val untracedS = reference.seconds.headOption.getOrElse(0.0)

    // streaming leg: the corpus in StreamBatches files, one AvailableNow run each
    val staged = o.work.resolve("stream-staged")
    corpus.repartition(StreamBatches).write.parquet(staged.toString)
    val in = o.work.resolve("stream-in")
    Files.createDirectories(in)
    val streamOut = o.work.resolve("stream-out").toString
    val streamLedger = new Ledger
    val parts = Files.list(staged).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
    val progress = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f, in.resolve(s"batch-$i.parquet"))
      streamLedger.run(s"traced micro-batch $i") {
        val (s, got) = Ops.microBatch(spark, in.toString, streamOut, kb)
        progress ++= got
        (s, true)
      }
    }
    val streamRight =
      Ops.isGolden(Ops.tripleKeys(StreamingOps.readStreamTriples(spark, streamOut)), want)
    if (!streamRight) System.err.println("[perfbench] merged stream output differs from the golden")
    def progressMedian(keys: String*): Double = Summary.median(progress.toSeq.map { p =>
      keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0
    })

    val traceFile = o.work.resolveSibling(s"trace-${tracer.runId}.json")
    tracer.write(traceFile)
    System.err.println(s"[perfbench] spans written to $traceFile")

    val layerMetrics = Layers.flatMap { l =>
      val t = tracer.totals(l)
      Seq(
        Metric(s"$l.wall_s", tracer.get(l).seconds, "s"),
        Metric(s"$l.rows_out", rows.rowsOut(l).toDouble, "count"),
        Metric(s"$l.cpu_s", t.cpuNs / 1e9, "s"),
        Metric(s"$l.shuffle_write_mb", t.shuffleWriteBytes / 1048576.0, "MB"),
        Metric(s"$l.spill_mb", t.spillBytes / 1048576.0, "MB"),
        Metric(s"$l.task_skew", t.taskSkew, "ratio"))
    }
    def share(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    def n(layer: String) = rows.rowsOut(layer)
    val metrics = layerMetrics ++ Seq(
      Metric("detect.overlap_dup_share",
        share(n("detect") - rows.uniqueMentions, n("detect")), "ratio"),
      Metric("link.hit_share", share(rows.linkedWithQid, n("link")), "ratio"),
      Metric("dedup.keep_share", share(n("dedup"), n("relate")), "ratio"),
      Metric("materialize.bytes_per_triple",
        share(bytesUnder(s"$tracedOut/canonical/data"), n("materialize")), "B"),
      Metric("kb.labels_s", tracer.get("kb.labels").seconds, "s"),
      Metric("kb.canonical_map_s", tracer.get("kb.canonical_map").seconds, "s"),
      Metric("kb.link_dim_s", tracer.get("kb.link_dim").seconds, "s"),
      Metric("kb.gazetteer_build_s", tracer.get("kb.gazetteer").seconds, "s"),
      Metric("kb.gazetteer_states", gaz.nStates.toDouble, "count"),
      Metric("kb.gazetteer_bytes", gaz.sparseBytes.toDouble, "B"),
      Metric("stream.add_batch_s", progressMedian("addBatch"), "s"),
      Metric("stream.planning_s", progressMedian("queryPlanning"), "s"),
      Metric("stream.commit_s", progressMedian("walCommit", "commitOffsets"), "s"),
      Metric("spark.task_retries", tracer.metrics.taskRetries.toDouble, "count"),
      Metric("pipeline.gc_s", rows.gcSeconds, "s"),
      Metric("trace.overhead_s", tracer.get("pipeline").seconds - untracedS, "s"),
      Metric("jvm.peak_rss_mb", Summary.peakRssMb(), "MB"))
    spark.stop()
    // a wrong merged stream output cannot be traced to one batch: all of them fail
    val failed = ledger.failed + reference.failed +
      (if (streamRight) streamLedger.failed else streamLedger.attempted)
    Outcome(failed == 0, ledger.attempted + reference.attempted + streamLedger.attempted,
      failed, metrics)
  }
}
