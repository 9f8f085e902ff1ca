package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/**
 * Per-round benchmark main (driver contract): times every SparkEntry query
 * against SPARK_GRAFT_SF_DIR plus the full KG pipeline, and prints exactly
 * ONE JSON line on stdout.
 *
 * Forced materialization uses the noop sink (full compute, no I/O cost in
 * the measurement). Query timings are end-to-end wall-clock per query.
 */
object Bench {

  /** Single source of truth for the dim-join-path knob: the same parse
   * decides both the join strategy (here, in runPipelineBench) and the
   * `broadcast_dims` field ScaleBenchOne records in BENCH_scaling.json —
   * two independent parses could silently diverge and poison the
   * longitudinal scaling evidence. */
  def broadcastDimsFromEnv: Boolean =
    sys.env.get("GRAFT_BROADCAST_DIMS").forall(_.toBoolean)

  /** @param kbSize 0 = toy EntityUniverse KB + sparse corpus (round-1-3
   * comparable); > 0 = SyntheticKb of that many entities + the dense scaled
   * corpus (10-30 plants/file), the configuration that exercises broadcast
   * dims, gazetteer, and the dedup/consolidation shuffles at real sizes. */
  def runPipelineBench(spark: SparkSession, nFiles: Long,
      kbSize: Long = 0L): (Double, Long, Long) = {
    import graft.pipeline._
    // corpus as an on-disk parquet table (the Iceberg-table stand-in):
    // written once per size, scanned columnar by every measured run
    val corpus =
      if (kbSize > 0)
        Corpus.materializeScaled(spark, s"/tmp/graft-corpus-kb$kbSize-$nFiles",
          nFiles, kbSize, numRepos = 200, seed = 42L,
          partitions = spark.sparkContext.defaultParallelism * 2)
      else Corpus.materialize(spark, s"/tmp/graft-corpus-$nFiles", nFiles,
        numRepos = 200, seed = 42L, partitions = spark.sparkContext.defaultParallelism * 2)
    val kbDims = if (kbSize > 0) Some(SyntheticKb.kbDims(spark, kbSize)) else None
    val nDocs = corpus.count()
    // phase timers for scaling forensics (stderr, env-gated, off in driver runs)
    val trace = sys.env.contains("GRAFT_STAGE_TIMES")
    def phase[T](label: String)(f: => T): T = {
      val p0 = System.nanoTime()
      val r = f
      if (trace) System.err.println(f"  [phase] $label: ${(System.nanoTime() - p0) / 1e9}%.2f s")
      r
    }
    // GRAFT_BROADCAST_DIMS=false measures the shuffle-join dim path — the
    // one a real-Wikidata dimension (1.1e8 labels, past the ~1e7-row
    // cutover) would take; default true matches the driver bench
    val cfg = PipelineConfig(broadcastDims = broadcastDimsFromEnv)
    val t0 = System.nanoTime()
    val result = phase("Pipeline.run (plan + docEntities count + canonMap ckpt)")(
      Pipeline.run(spark, corpus, cfg, kb = kbDims))
    phase("canonical noop write")(
      result.canonicalTriples.write.format("noop").mode("overwrite").save())
    val nTriples = phase("triples count")(result.triples.count())
    val dt = (System.nanoTime() - t0) / 1e9
    // a PREBUILT canonical map is a session-lived artifact shared by every
    // run against this KB — unpersisting it here would drop the cached
    // checkpoint blocks out from under the next rep
    result.unpersistStages(keepCanonMap = kbDims.flatMap(_.canonicalMap).nonEmpty)
    (dt, nDocs, nTriples)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // 100k-file pipeline corpus: validated to fit an 8g driver heap with
    // best-of-2 reps (stage caches are row-lean), and the larger run halves
    // the fixed driver/planning share of the files/sec headline vs 50k
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILES", "100000").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // local-scale knobs (cluster defaults are right at real data sizes):
      // our rows are small but CPU-heavy, so 64MB-target AQE coalescing and
      // 128MB scan splits would leave most cores idle
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // task-memory pages default to 64MB long[] — humongous for G1 regions,
      // measured as continuous concurrent GC + fragmentation across reps
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm each query once (Janino codegen + JIT dominate first runs by
    // 5-20x and are irrelevant at cluster scale), then report the BEST of
    // two measured runs: the sandbox host has bursty co-tenants (documented
    // in BASELINE.md — identical code measured 5-18x apart across windows),
    // and min-of-2 halves the chance a burst lands on the recorded number
    val repsByQuery = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): Boolean =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case NonFatal(_) => false }
      def timedOnce(): Double = {
        val t0 = System.nanoTime()
        if (once()) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      val warmOk = once()
      val m1 = if (warmOk) timedOnce() else -1.0
      val m2 = if (m1 >= 0) timedOnce() else -1.0
      name -> Seq(m1, m2)
    }
    val results = repsByQuery.map { case (name, reps) =>
      name -> (if (reps(1) >= 0) reps.min else reps.head)
    }
    // a run that threw is recorded as -1: name those queries, so an error is
    // visible in the JSON line and not only missing from the total
    val failed = repsByQuery.collect { case (name, reps) if reps.exists(_ < 0) => name }

    // free the dedup/pack/sim ops' persisted intermediates before the pipeline bench
    graft.ops.DedupOps.unpersistIntermediates()
    graft.ops.PackOps.unpersistIntermediates()
    graft.ops.SimOps.unpersistIntermediates()

    Bench.runPipelineBench(spark, math.max(1000L, nFiles / 10)) // warm-up
    val run1 = runPipelineBench(spark, nFiles)
    val run2 = runPipelineBench(spark, nFiles)
    val (pipeSec, nDocs, nTriples) = if (run1._1 <= run2._1) run1 else run2

    // scaled-KB pipeline: 10^5-entity SyntheticKb + dense corpus (10-30
    // plants/file) — triples/sec is a real metric here (the toy corpus
    // yields only ~200 distinct triples at any size), and the broadcast
    // dims / gazetteer / dedup shuffles run at representative sizes
    val kbSize = sys.env.getOrElse("SPARK_GRAFT_KB", "100000").toLong
    val scaledFiles = sys.env.getOrElse("SPARK_GRAFT_SCALED_FILES", "100000").toLong
    Bench.runPipelineBench(spark, math.max(1000L, scaledFiles / 10), kbSize) // warm-up
    val s1 = runPipelineBench(spark, scaledFiles, kbSize)
    val s2 = runPipelineBench(spark, scaledFiles, kbSize)
    val (scaledSec, scaledDocs, scaledTriples) = if (s1._1 <= s2._1) s1 else s2

    val all = results :+ ("kg_pipeline" -> pipeSec) :+ ("kg_pipeline_scaled" -> scaledSec)
    val qs = all.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    // headline numbers are min-of-2 (noisy-host mitigation, BASELINE.md);
    // BOTH reps go into the JSON so the run-to-run spread is reproducible
    // from bench output alone, not just from prose
    val allReps = repsByQuery :+ ("kg_pipeline" -> Seq(run1._1, run2._1)) :+
      ("kg_pipeline_scaled" -> Seq(s1._1, s2._1))
    val repsJson = allReps.map { case (k, rs) =>
      "\"" + k + "\":" + rs.map(r => f"$r%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // headline "value" = queries + toy kg_pipeline ONLY, comparable with
    // rounds 1-3 output; the scaled leg is reported as its own field
    // (kg_pipeline_scaled_sec) so adding a new bench leg can never shift
    // the longitudinal headline again (round-4 ADVICE)
    val total = (results :+ ("kg_pipeline" -> pipeSec)).map(_._2).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"reps":$repsJson,"sf":"$sfDir","kg_files":$nDocs,"kg_triples":$nTriples,"kg_files_per_sec":${nDocs / pipeSec}%.1f,"kg_triples_per_sec":${nTriples / pipeSec}%.1f,"kb_size":$kbSize,"kg_pipeline_scaled_sec":$scaledSec%.3f,"kg_scaled_files":$scaledDocs,"kg_scaled_triples":$scaledTriples,"kg_scaled_files_per_sec":${scaledDocs / scaledSec}%.1f,"kg_scaled_triples_per_sec":${scaledTriples / scaledSec}%.1f,"cores":$cpus,"failed":$failedJson}"""
    // the one machine-readable line goes to stdout AND its own file: the
    // round-4 driver's log-tail capture truncated it (the reps object
    // roughly doubled its length) and recorded "parsed": null — a sidecar
    // file can't be eaten by tail truncation. stdout FIRST: a bad sidecar
    // path (InvalidPathException is a RuntimeException, not IOException)
    // must not lose the whole multi-minute run's numbers
    println(line)
    val sidecar = sys.env.getOrElse("GRAFT_BENCH_JSON", "/root/repo/bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(sidecar),
      (line + "\n").getBytes("UTF-8"))
    catch { case NonFatal(_) => () } // stdout already carries it
    spark.stop()
  }
}
