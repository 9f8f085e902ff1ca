package perfbench

import graft.pipeline.{Corpus, Detect, SourceFile}
import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * Renderer for the `long_docs` workload: the same [[Corpus.planScaled]] plans
 * as the dense corpus, each turned into a document of about 22 KB, so every
 * file spans at least [[MinChunks]] detection chunks.
 *
 * The planted sentences keep the dense renderer's adjacency ("a interacts
 * with b"), so each plant's first occurrence stays in plan order and the
 * expected triples are still [[Corpus.goldenFinalTriplesScaled]]. Code filler
 * without any gazetteer alias token sits between the sentences. A closing
 * overview line that repeats every surface starts just inside the overlap
 * of two chunks, so the first few of its mentions are seen by both chunks:
 * the raw mention stream carries overlap duplicates in every file.
 */
object LongDocs {

  val Step: Int = Detect.DefaultChunkSize - Detect.DefaultOverlap
  val MinChunks = 6
  /** the overview starts this far into the overlap of chunks 4 and 5 */
  val OverviewAt: Int = (MinChunks - 1) * Step + 30

  private def comment(lang: String): String =
    if (lang == "py" || lang == "md") "# " else "// "

  /** Appends exactly `chars` characters of alias-free code lines. */
  private def filler(r: java.util.Random, chars: Int, sb: StringBuilder): Unit = if (chars > 0) {
    val end = sb.length + chars
    while (end - sb.length > 60) {
      val j = r.nextInt(1000)
      if (r.nextBoolean()) sb.append(f"  static int step$j%03d(int v) { return v * ${r.nextInt(90) + 10}%02d + 7; }\n")
      else sb.append(f"  // slot $j%03d keeps ${r.nextInt(900) + 100}%03d bytes until the next flush\n")
    }
    while (sb.length < end - 1) sb.append(' ')
    sb.append('\n')
  }

  def render(p: Corpus.FilePlan): String = {
    val r = new java.util.Random(p.commit.hashCode.toLong * 1000003L + p.id)
    val c = comment(p.lang)
    val surf = p.plants.map(_.surface)
    val sentences = surf.sliding(2).collect {
      case Seq(a, b) => s"$c$a interacts with $b in this module.\n"
      case Seq(a) => s"$c$a is configured here.\n"
    }.toSeq
    val sb = new StringBuilder(s"// commit ${p.commit} path ${p.path}\n")
    // split the filler budget before the overview at random cut points
    val budget = OverviewAt - sb.length - sentences.map(_.length).sum
    val cuts = (0 +: Seq.fill(sentences.size)(r.nextInt(budget))).sorted
    sentences.zip(cuts.sliding(2)).foreach { case (s, Seq(from, to)) =>
      filler(r, to - from, sb)
      sb.append(s)
    }
    filler(r, OverviewAt - sb.length, sb)
    sb.append(s"${c}Overview: ${surf.mkString(", ")}.\n")
    filler(r, 1500 + r.nextInt(2000), sb)
    sb.toString
  }

  def generate(spark: SparkSession, numFiles: Long, kbSize: Long, numRepos: Int,
      seed: Long, partitions: Int): Dataset[SourceFile] = {
    import spark.implicits._
    spark.range(0L, numFiles, 1L, partitions).map { id =>
      val p = Corpus.planScaled(seed, numFiles, numRepos, kbSize, id)
      SourceFile(p.repo, p.path, p.commit, p.lang, render(p))
    }
  }
}
