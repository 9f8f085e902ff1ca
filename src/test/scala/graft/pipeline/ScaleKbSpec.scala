package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/**
 * Scale-stress correctness: the full pipeline against a SyntheticKb of
 * 20,000 entities (~27k aliases) and the dense scaled corpus (10-30 plants
 * per file) must still match plan-computed goldens EXACTLY — the same P/R
 * contract PipelineGoldenSpec pins at the toy KB, here exercised through the
 * scaled broadcast dims, the (dense-or-sparse) gazetteer at real dictionary
 * width, and group-structured partOf implicits. The throughput side of the
 * scale story lives in Bench/ScaleBenchOne (BASELINE.md round 4).
 */
class ScaleKbSpec extends AnyFunSuite {
  import SparkHolder.spark
  import spark.implicits._

  private val seed = 42L
  private val numFiles = 400L
  private val numRepos = 40
  private val kbSize = 20000L

  private lazy val corpus =
    Corpus.generateScaled(spark, numFiles, kbSize, numRepos, seed, partitions = 8).persist()
  private lazy val result =
    Pipeline.run(spark, corpus, kb = Some(SyntheticKb.kbDims(spark, kbSize)))

  test("scaled KB: linked entities match the plant plan exactly") {
    val got = result.docEntities
      .select($"docId", $"entityName", $"qid", $"entityType")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    val want = Corpus.goldenEntitiesScaled(seed, numFiles, numRepos, kbSize).toSet
    val missing = want -- got
    val extra = got -- want
    info(s"entities got=${got.size} want=${want.size}")
    assert(missing.isEmpty, s"missing ${missing.size}: ${missing.take(5)}")
    assert(extra.isEmpty, s"extra ${extra.size}: ${extra.take(5)}")
  }

  test("scaled KB: triples match golden at P/R >= 0.95 (expect 1.0)") {
    val got = result.triples
      .select($"subject", $"predicate", $"obj", $"inferred")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    val want = Corpus.goldenFinalTriplesScaled(seed, numFiles, numRepos, kbSize)
    val tp = (got intersect want).size.toDouble
    val precision = if (got.isEmpty) 0.0 else tp / got.size
    val recall = if (want.isEmpty) 0.0 else tp / want.size
    info(f"precision=$precision%.4f recall=$recall%.4f got=${got.size} want=${want.size}")
    assert(want.size > numFiles, "dense corpus should yield > 1 triple per file")
    assert(precision >= 0.95, s"precision $precision; extra=${(got -- want).take(5)}")
    assert(recall >= 0.95, s"recall $recall; missing=${(want -- got).take(5)}")
  }

  test("scaled KB: canonicalization keeps distinct qids apart at 20k entities") {
    val pairs = result.canonMap.collect().map(r => r.getString(0) -> r.getString(1))
    assert(pairs.length == kbSize) // one canonical row per KB title
    // component ids must be unique per entity here: every entity has its own
    // qid + dbpedia chain and no cross-entity identity edges exist
    assert(pairs.map(_._2).distinct.length == kbSize, "false merges at scale")
  }

  test("broadcast and shuffle link paths produce identical links (the cutover contract)") {
    val gaz = spark.sparkContext.broadcast(SyntheticKb.gazetteer(kbSize))
    val labels = SyntheticKb.labels(spark, kbSize)
    val mentions = Detect.rawMentions(Detect.chunks(corpus.limit(50)), gaz)
    def collectLinks(broadcastDim: Boolean) =
      Link.link(mentions, labels, broadcastDim)
        .select($"docId", $"entityName", $"qid", $"citationStart")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
        .toSet
    val viaBroadcast = collectLinks(broadcastDim = true)
    val viaShuffle = collectLinks(broadcastDim = false)
    assert(viaBroadcast.nonEmpty)
    assert(viaBroadcast == viaShuffle)
  }

  test("scaled KB: KGC rounds over group heads match the plan-computed golden exactly") {
    // round-4 VERDICT #7: the KGC golden previously ran at the toy KB only —
    // here kgcRounds=3 lifts (member, partOf, groupHead) across the 20k-entity
    // group structure regardless of same-document co-presence
    val res = Pipeline.run(spark, corpus, cfg = PipelineConfig(kgcRounds = 3),
      kb = Some(SyntheticKb.kbDims(spark, kbSize)))
    val got = res.triples
      .select($"subject", $"predicate", $"obj", $"inferred")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    val want = Corpus.goldenKgcTriplesScaled(seed, numFiles, numRepos, kbSize)
    val base = Corpus.goldenFinalTriplesScaled(seed, numFiles, numRepos, kbSize)
    info(s"base=${base.size} afterKgc=${want.size} got=${got.size}")
    assert(want.size > base.size, "KGC should add novel member->head triples at the scaled KB")
    val missing = want -- got
    val extra = got -- want
    assert(missing.isEmpty, s"missing ${missing.size}: ${missing.take(5)}")
    assert(extra.isEmpty, s"extra ${extra.size}: ${extra.take(5)}")
    res.linked.unpersist(); res.docEntities.unpersist(); res.triples.unpersist()
  }

  test("broadcast and shuffle dimension paths produce identical pipeline output " +
      "(relate/kgc/canonicalize cutover contract)") {
    // every KB-derived dimension join (Relate.implicitTriples' rel table,
    // Pipeline.kgc's rel + type dims, Canonicalize.canonicalTriples' two map
    // views) must yield the same rows with broadcast hints off — the shuffle
    // path a >5 GB KB (real Wikidata: 1.1e8 labels) would take
    val small = corpus.limit(60).localCheckpoint(true)
    def outputs(b: Boolean) = {
      val r = Pipeline.run(spark, small.as[SourceFile],
        cfg = PipelineConfig(kgcRounds = 2, broadcastDims = b),
        kb = Some(SyntheticKb.kbDims(spark, kbSize)))
      val trip = r.triples.select($"subject", $"predicate", $"obj", $"inferred")
        .collect().map(x => (x.getString(0), x.getString(1), x.getString(2), x.getString(3))).toSet
      val canon = r.canonicalTriples.select($"subjectId", $"predicate", $"objectId")
        .collect().map(x => (x.getString(0), x.getString(1), x.getString(2))).toSet
      r.linked.unpersist(); r.docEntities.unpersist(); r.triples.unpersist()
      (trip, canon)
    }
    val (tB, cB) = outputs(b = true)
    val (tS, cS) = outputs(b = false)
    assert(tB.nonEmpty && cB.nonEmpty)
    assert(tB == tS, "triples diverge between broadcast and shuffle dim paths")
    assert(cB == cS, "canonical triples diverge between broadcast and shuffle dim paths")
  }

  test("gazetteer CSR (sparse) path equals the dense path at dictionary width") {
    val m = 3000L
    val patterns = (0L until m).flatMap { i =>
      val s = SyntheticKb.spec(i, m)
      s.exactAlias +: s.synonymAlias.toSeq
    }
    val dense = Gazetteer.build(patterns, dense = true)
    val sparse = Gazetteer.build(patterns, dense = false)
    info(s"states=${dense.nStates} sparseBytes=${dense.sparseBytes}")
    val texts = (0 until 40).map { k =>
      val r = new scala.util.Random(k)
      (0 until 12).map { _ =>
        val i = r.nextInt(m.toInt)
        if (r.nextBoolean()) SyntheticKb.title(i) else s"filler${r.nextInt(100)}"
      }.mkString(" , ")
    }
    texts.foreach { t =>
      val a = dense.findMentions(t).map(x => (x.start, x.end, x.pattern))
      val b = sparse.findMentions(t).map(x => (x.start, x.end, x.pattern))
      assert(a == b, s"dense/sparse mismatch on: $t")
      assert(a.nonEmpty)
    }
  }

  test("kbDims returns the SAME session-cached artifacts across calls (build-once contract)") {
    val d1 = SyntheticKb.kbDims(spark, kbSize)
    val d2 = SyntheticKb.kbDims(spark, kbSize)
    // the broadcast handle, link dim, canonical map and label index are
    // build-once per (SparkContext, size): a second call must hand back the
    // identical instances, not rebuild/re-ship them
    assert(d1.gazetteerBroadcast.get eq d2.gazetteerBroadcast.get)
    assert(d1.linkDim.get eq d2.linkDim.get)
    assert(d1.canonicalMap.get eq d2.canonicalMap.get)
    assert(d1.labels eq d2.labels)
  }
}

/**
 * The session caches of KB artifacts ([[SyntheticKb.kbDims]],
 * [[KbDims.default]]) build once per key even when callers race: a losing
 * concurrent build would leak its gazetteer broadcast and its checkpointed
 * frames for the rest of the session.
 */
class KbDimsCacheSpec extends AnyFunSuite {
  import SparkHolder.spark
  import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

  /** Persisted RDDs (the artifacts' localCheckpoints) that `f` leaves behind. */
  private def checkpointsLeftBy(f: => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.emptyRDD[Int].id
    f
    sc.getPersistentRDDs.keys.count(_ > before)
  }

  test("concurrent kbDims callers share one build and one gazetteer broadcast") {
    val single = checkpointsLeftBy(SyntheticKb.kbDims(spark, 301L))
    val threads = 4
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      var ids = Seq.empty[Long]
      val racing = checkpointsLeftBy {
        val calls = (1 to threads).map(_ => pool.submit(new Callable[Long] {
          def call(): Long = {
            start.await()
            SyntheticKb.kbDims(spark, 300L).gazetteerBroadcast.get.id
          }
        }))
        start.countDown()
        ids = calls.map(_.get(5, TimeUnit.MINUTES))
      }
      assert(ids.distinct.size == 1, s"broadcast ids $ids")
      assert(racing == single,
        s"$threads racing callers left $racing checkpoints, one build $single")
    } finally pool.shutdownNow()
  }
}
