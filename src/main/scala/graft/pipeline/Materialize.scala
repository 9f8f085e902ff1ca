package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/**
 * Stage 7: deterministic materialization with per-partition lineage and
 * stage-granular checkpoint/resume (north_star; the reference's analog is the
 * sha256-keyed JSON file cache, cache_utils.py:7-51, which lets a rerun skip
 * completed work).
 *
 * Physical layout: output partitioned by `lang` (partition pruning for
 * per-language consumers) and bucketed by `pmod(hash(repo), buckets)` — the
 * bucket count is FIXED, independent of shuffle parallelism, so the
 * per-partition sha256 lineage is identical across cluster sizes (the N vs 4N
 * scaling comparison depends on this; SURVEY.md §7.4). The hot-repo skew is
 * defused because one repo hashes to one bucket out of many while every other
 * bucket still receives a balanced share; within a bucket the writer sorts,
 * so files are deterministic byte-for-byte modulo parquet metadata.
 */
object Materialize {

  val DefaultBuckets = 64

  /** Sort columns defining the canonical order of a triple row. */
  val tripleOrder = Seq("subjectId", "predicate", "objectId", "inferred", "docId")

  def withBucket(df: DataFrame, buckets: Int = DefaultBuckets): DataFrame = {
    val base = if (df.columns.contains("repo")) df
      else df.withColumn("repo", substring_index(col("docId"), ":", 1))
    base.withColumn("bucket", pmod(hash(col("repo")), lit(buckets)))
  }

  /**
   * Per-(lang,bucket) lineage rows of any frame: `df` is bucketed,
   * hash-partitioned on exactly (lang, bucket) and handed to [[digest]].
   * [[writeStage]] skips the repartition: it digests the partitions it has
   * just written.
   */
  def lineage(df: DataFrame, stage: String, buckets: Int = DefaultBuckets,
      sortCols: Seq[String] = tripleOrder): DataFrame =
    digest(withBucket(df, buckets).repartition(col("lang"), col("bucket")), stage, sortCols)

  /**
   * Lineage of a frame that carries `lang` and `bucket` and is already
   * hash-partitioned on them: per (lang, bucket) its row count, the sha256
   * of its sorted row set and its input-file count. Only local sorts run.
   * Computed eagerly — at most buckets × langs rows — and returned as a
   * local frame.
   *
   * STREAMING digest: rows are hash-partitioned on exactly (lang, bucket) —
   * so every row of a group lands in one partition — sorted within the
   * partition by (lang, bucket, r), and folded into a SHA-256 one row at a
   * time inside mapPartitions. Constant memory per task regardless of bucket
   * size (the previous collect_list formulation materialized a whole bucket
   * — ~1.5 TB at 10^12-row scale — as one in-memory array). The digest bytes
   * are identical to sha2(concat_ws("\n", sort_array(collect_list(r)))) —
   * rows joined by '\n' in binary UTF8 order — which LineageDigestSpec pins
   * against the legacy aggregate formulation at fixture scale.
   *
   * north_star lineage contract: "(partition id, input file count, triple
   * count, sha256)" — the input-file count is the number of distinct
   * non-null `docId`s of the group (null without a `docId` column), counted
   * the same streaming way over a local sort by (lang, bucket, docId). Both
   * folds run in one job with no exchange; their rows are merged here.
   *
   * @throws IllegalStateException when a (lang, bucket) group comes out of
   * more than one partition — the plan contract the streaming folds rest on
   */
  private[pipeline] def digest(keyed: DataFrame, stage: String,
      sortCols: Seq[String]): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    // explicit NULL sentinel: bare concat_ws SKIPS null fields, so rows
    // differing only in null position — (a, NULL, b) vs (a, b, NULL) — or
    // null-vs-empty would serialize identically and the digest could not
    // see that corruption. \u0000NUL cannot appear in real column text.
    // Triple rows are all non-null, so digests are unchanged there
    // (LineageDigestSpec still pins the legacy-aggregate equality).
    val rowStr = concat_ws("\u0001",
      sortCols.map(c => coalesce(col(c).cast("string"), lit("\u0000NUL"))): _*)
    // per group, in `v` order: (lang, bucket, row count, sha256 hex) when
    // `sha`, else (lang, bucket, distinct non-null values, null)
    def fold(v: Column, sha: Boolean): Dataset[(String, Int, Long, String)] = keyed
      .select(col("lang"), col("bucket"), v.as("v"))
      .sortWithinPartitions(col("lang"), col("bucket"), col("v"))
      .as[(String, Int, String)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer[(String, Int, Long, String)]()
        var curLang: String = null
        var curBucket: Int = 0
        var md: java.security.MessageDigest = null
        var last: String = null
        var n = 0L
        var open = false
        def flush(): Unit = if (open) {
          out += ((curLang, curBucket, n,
            if (sha) md.digest().map(b => f"${b & 0xff}%02x").mkString else null))
        }
        it.foreach { case (lang, bucket, v) =>
          if (!open || lang != curLang || bucket != curBucket) {
            flush()
            curLang = lang; curBucket = bucket; open = true
            md = if (sha) java.security.MessageDigest.getInstance("SHA-256") else null
            last = null
            n = 0L
          }
          if (sha) {
            if (n > 0) md.update('\n'.toByte)
            md.update(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            n += 1
          } else if (v != null && v != last) { last = v; n += 1 }
        }
        flush()
        out.iterator
      }
    val hasDocs = keyed.columns.contains("docId")
    val shas = fold(rowStr, sha = true)
    val folds =
      if (hasDocs) shas.union(fold(col("docId").cast("string"), sha = false)).collect()
      else shas.collect()
    def byGroup(rows: Array[(String, Int, Long, String)]) =
      rows.groupBy(r => (r._1, r._2)).map {
        case (key, Array(r)) => key -> r
        case (key, _) => throw new IllegalStateException(
          s"stage $stage: (lang, bucket) $key came out of more than one partition")
      }
    val (digests, files) = folds.partition(_._4 != null)
    val inputFiles = byGroup(files)
    byGroup(digests).toSeq.map { case (key, (lang, bucket, n, sha)) =>
      (lang, bucket, n, sha, stage, inputFiles.get(key).map(_._3))
    }.toDF("lang", "bucket", "rowCount", "sha256", "stage", "inputFiles")
  }

  def completeMarker(dir: String): java.nio.file.Path = Paths.get(dir, "_GRAFT_COMPLETE")

  def isComplete(dir: String): Boolean = Files.exists(completeMarker(dir))

  /**
   * Write a stage output + lineage atomically enough for resume: data and
   * lineage first, the completion marker last. `resume = true` skips the
   * write when the marker exists (stage-granular restart).
   *
   * Single pass: the bucketed frame is built and persisted once; the parquet
   * write consumes it and the lineage is digested from the SAME persisted
   * partitions, so the stage plan executes once and nothing is read back
   * from disk. The rows digested are the rows written — the writer's one
   * rewrite, an empty partition string to NULL (`__HIVE_DEFAULT_PARTITION__`),
   * is applied up front — and WrittenLineageSpec pins the lineage against a
   * digest of the files on disk. An empty stage yields an empty lineage.
   *
   * @throws IllegalStateException from [[digest]] when a (lang, bucket)
   * group came out of more than one partition
   */
  def writeStage(df: DataFrame, stage: String, outDir: String,
      buckets: Int = DefaultBuckets, resume: Boolean = true,
      sortCols: Seq[String] = tripleOrder): Boolean = {
    val dir = s"$outDir/$stage"
    if (resume && isComplete(dir)) return false
    // partition cols lead the sort: FileFormatWriter requires its output
    // ordered by (lang, bucket) and INSERTS ITS OWN SORT on just those keys
    // when the child order doesn't have them as a prefix — discarding the
    // canonical sortCols order (Spark's sort is not stable under spill).
    // With the prefix satisfied, no extra sort runs and file content order
    // IS the canonical order, making the data files deterministic.
    val bucketed = withBucket(df, buckets)
      .withColumn("lang", nullif(col("lang"), lit("")))
      .repartition(col("lang"), col("bucket"))
      .sortWithinPartitions((Seq("lang", "bucket") ++ sortCols).map(col): _*)
      .persist()
    try {
      bucketed.write.mode(SaveMode.Overwrite)
        .partitionBy("lang", "bucket")
        .parquet(s"$dir/data")
      digest(bucketed, stage, sortCols)
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).json(s"$dir/lineage")
    } finally bucketed.unpersist(false)
    Files.createDirectories(Paths.get(dir))
    Files.write(completeMarker(dir), java.util.Arrays.asList(stage))
    true
  }

  def readStage(spark: SparkSession, stage: String, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/$stage/data")
}
