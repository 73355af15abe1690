package graft.queries

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic cross-checks between the dedup and similarity families —
  * the properties a training-data pipeline actually relies on, beyond
  * the per-query DuckDB oracle (which pins values, not meaning):
  * near-dup detectors must agree with each other, and the ANN path
  * must approximate the brute-force baseline.
  */
class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Total quantization error Σ_(vec,m) min_c ‖sv−cv‖² under codebook
    * `cb`, the quantity Lloyd's passes never increase.
    */
  private def pqQuantError(sub: DataFrame, cb: DataFrame): Double =
    sub.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), SimilarityQueries.d2Col("sv", "cv").as("d2"))
      .groupBy(col("vec_id"), col("m")).agg(min(col("d2")).as("d2"))
      .agg(sum(col("d2"))).head().getDouble(0)

  private val dir = "/root/testdata/sf0.001"

  test("exact dedup collapses the doubled corpus to one keeper per text") {
    val out = DedupQueries.d01_exact(spark, dir).cache()
    val d = graft.Tables(spark, dir, "documents")
    val docs = d.count()
    val maxId = d.agg(max(col("doc_id"))).head.getLong(0)
    assert(out.count() === docs)
    assert(out.agg(min(col("n_copies"))).head.getLong(0) === 2L)
    // keeper is always the original (un-offset, ≤ max genuine) id
    assert(out.filter(col("keeper") > maxId).count() === 0L)
  }

  test("trained PQ codebook cuts quantization error and holds top-1 recall") {
    val sub = SimilarityQueries.pqSub(spark, dir).cache()
    val seedErr = pqQuantError(
      sub, SimilarityQueries.pqSeedCodebook(sub))
    val trained = SimilarityQueries.pqTrainedCodebook(sub)
    val trainedErr = pqQuantError(sub, trained)
    // Lloyd is monotone non-increasing in quantization error; the
    // trained codebook must never be worse than the id-sampled seed.
    assert(trainedErr <= seedErr + 1e-9,
      s"quantization error rose: seed=$seedErr trained=$trainedErr")
    info(f"quantization error: seed=$seedErr%.1f trained=$trainedErr%.1f " +
      f"(${100 * (1 - trainedErr / seedErr)}%.1f%% lower)")

    // Top-1 recall against the exact brute-force baseline (rk = 1).
    val truth = SimilarityQueries.s01_knn_brute(spark, dir)
      .filter(col("rk") === 1).select("qid", "nn_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("qid", "nn_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      truth.count { case (q, n) => got.get(q).contains(n) }.toDouble / truth.size
    }
    // Note s01 ranks by cosine while PQ ranks by L2 on unnormalized
    // vectors, so exact top-1 agreement is a conservative yardstick;
    // what matters is that training never loses to the id-sampled
    // seed (measured here: seed 0.00, trained 0.10 — all inputs and
    // both algorithms are deterministic, so these are stable).
    val r5 = recall(SimilarityQueries.s05_knn_pq(spark, dir))
    val r6 = recall(SimilarityQueries.s06_knn_pq_trained(spark, dir))
    info(f"top-1 recall vs s01: s05=$r5%.2f s06=$r6%.2f")
    assert(r6 >= r5, s"trained recall $r6 below seed recall $r5")
    assert(r6 >= 0.05, s"trained recall $r6 below pinned floor")
    sub.unpersist()
  }

  test("high-jaccard pairs are caught by MinHash LSH banding") {
    val jac = DedupQueries.d02_ngram_jaccard(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val lsh = DedupQueries.d03_minhash_lsh(spark, dir)
      .filter(col("n_bands") >= 1)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.nonEmpty, "testdata should contain planted near-duplicates")
    val caught = jac.count(lsh.contains)
    assert(caught.toDouble / jac.length >= 0.9,
      s"LSH recall on jaccard≥0.5 pairs: $caught/${jac.length}")
  }

  test("near-dup pairs have small SimHash hamming distance") {
    val sh = DedupQueries.d04_simhash(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = DedupQueries.d02_ngram_jaccard(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val d = java.lang.Long.bitCount(sh(r.getLong(0)) ^ sh(r.getLong(1)))
      // ≤ 25% of the 32-bit signature width for jaccard ≥ 0.5 pairs
      assert(d <= 8, s"hamming(${r.getLong(0)}, ${r.getLong(1)}) = $d")
    }
  }

  test("d07 banded pairs equal the brute-force Hamming-3 definition (pigeonhole losslessness)") {
    val banded = DedupQueries.d07_simhash_hamming(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = DedupQueries.d04_simhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs if ida < idb
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (ida, idb, d.toLong)).toSet
    assert(brute.nonEmpty, "fixture should contain Hamming-3 near-dups")
    assert(banded === brute)
  }

  test("d08 recovers planted embedding near-dups and nothing else") {
    val pairs = DedupQueries.d08_embed_neardup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val e = graft.Tables(spark, dir, "embeddings")
    val n = e.count()
    val off = e.agg(max(col("vec_id"))).head.getLong(0) + 1L
    assert(pairs.nonEmpty)
    // every reported pair is a planted (v, v+off) copy — the natural
    // corpus has no cosine ≥ τ pairs (max natural cos < 0.8)
    pairs.foreach { case (a, b, c) =>
      assert(b === a + off, s"non-planted pair ($a,$b)")
      assert(c >= 0.99 && c <= 1.0 + 1e-12, s"cos($a,$b)=$c out of range")
    }
    // two-table banding recall on the planted pairs (analysis: ~97%,
    // a miss straddles a hyperplane in both tables)
    assert(pairs.length.toDouble / n >= 0.9,
      s"planted-pair recall ${pairs.length}/$n")
  }

  test("posting-size ceiling drops stop-shingle fanout but keeps discriminative pairs") {
    import spark.implicits._
    // Skewed fixture: 100 docs all share one boilerplate shingle
    // ("stop"); docs 1 and 2 additionally share a discriminative
    // shingle ("rare"). Each doc also has a unique shingle; `n` is the
    // doc's shingle count carried on the rows (the shingles() schema).
    val sh = (1L to 100L).flatMap { id =>
      val n = if (id <= 2) 3L else 2L
      Seq((id, "en", n, "stop"), (id, "en", n, s"uniq$id")) ++
        (if (id <= 2) Seq((id, "en", n, "rare")) else Nil)
    }.toDF("doc_id", "lang", "n", "sh")

    // Unbounded (cap ≥ 100): the stop shingle alone yields all
    // C(100,2) = 4950 pairs.
    val unbounded = DedupQueries.ngramJaccardPairs(sh, maxPosting = 100)
    assert(unbounded.count() === 4950L)

    // Cap below the skewed posting: the 100-doc group is dropped
    // before any array is built; only the rare-shingle pair survives,
    // with c undercounted by the dropped common (the recall trade).
    val capped = DedupQueries.ngramJaccardPairs(sh, maxPosting = 50)
      .collect()
    assert(capped.length === 1)
    assert((capped(0).getLong(0), capped(0).getLong(1)) === (1L, 2L))
    // jaccard from the surviving intersection only: c=1, |A|=|B|=3
    assert(math.abs(capped(0).getDouble(2) - 1.0 / 5) < 1e-15)

    // Production default is far above the testdata's max posting (14),
    // so the DuckDB oracle row is unaffected by the ceiling.
    assert(DedupQueries.DefaultMaxPosting > 14)

    // The audit relation makes the same trade observable at run time:
    // under cap=50 exactly the stop shingle is over-cap, forgoing its
    // C(100,2) pairs — the count the unbounded run materialized above.
    val audit = DedupQueries.postingAudit(sh, maxPosting = 50).collect()
    assert(audit.length === 1)
    val a = audit(0)
    assert(a.getLong(a.fieldIndex("n_shingles")) === 102L)
    assert(a.getLong(a.fieldIndex("n_singleton")) === 100L)
    assert(a.getLong(a.fieldIndex("n_pairable")) === 1L)
    assert(a.getLong(a.fieldIndex("n_over_cap")) === 1L)
    assert(a.getLong(a.fieldIndex("dropped_pairs")) === 4950L)
    assert(a.getLong(a.fieldIndex("max_psize")) === 100L)
  }

  test("near-dup clusters agree with the pair graph and keep one doc each") {
    val pairs = DedupQueries.d03_minhash_lsh(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rows = DedupQueries.d06_neardup_clusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val cluster = rows.map(r => r._1 -> r._2).toMap
    val docs = graft.Tables(spark, dir, "documents").count()
    assert(rows.length === docs)
    assert(pairs.nonEmpty)
    // paired docs co-cluster (label prop converges on the testdata's
    // small components within the fixed 3 rounds)
    pairs.foreach { case (a, b) =>
      assert(cluster(a) === cluster(b), s"pair ($a,$b) split across clusters")
    }
    // cluster id is the component minimum and the unique keeper
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid, s"cluster $cid not its min id")
      assert(members.count(_._3) === 1, s"cluster $cid keeper count")
      assert(members.find(_._3).get._1 === cid)
    }
    // unpaired docs are singletons
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    rows.filter(r => !paired.contains(r._1)).foreach { case (id, c, k) =>
      assert(c === id && k, s"unpaired doc $id not a singleton keeper")
    }
  }

  test("multi-probe LSH strictly improves recall@1 over single-probe") {
    val brute = SimilarityQueries.s01_knn_brute(spark, dir)
      .filter(col("rk") === 1)
      .select("qid", "nn_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recallAt1(multiProbe: Boolean): (Int, Map[Long, Double]) = {
      val rows = SimilarityQueries.knnLsh(spark, dir, multiProbe)
        .select("qid", "nn_id", "cos").collect()
      val hits = rows.count(r => brute(r.getLong(0)) == r.getLong(1))
      (hits, rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap)
    }
    val (single, singleCos) = recallAt1(multiProbe = false)
    val (multi, multiCos) = recallAt1(multiProbe = true)
    assert(multi > single,
      s"multi-probe recall@1 $multi/${brute.size} not above single-probe $single")
    // probe set is a superset, so per-query best cos never regresses
    singleCos.foreach { case (q, c) =>
      assert(multiCos(q) >= c - 1e-15, s"q=$q multi ${multiCos(q)} < single $c")
    }
  }

  test("IVF nprobe=2 improves on single-cell probing") {
    val brute = SimilarityQueries.s01_knn_brute(spark, dir)
      .filter(col("rk") === 1)
      .select("qid", "nn_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def run(nprobe: Int): (Int, Map[Long, Double]) = {
      val rows = SimilarityQueries.knnIvf(spark, dir, nprobe)
        .select("qid", "nn_id", "cos").collect()
      (rows.count(r => brute(r.getLong(0)) == r.getLong(1)),
        rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap)
    }
    val (single, singleCos) = run(1)
    val (multi, multiCos) = run(2)
    // candidate superset ⇒ per-query best cos never regresses, and the
    // second cell must strictly improve at least one query's best
    assert(multi >= single, s"recall@1 regressed: $multi < $single")
    singleCos.foreach { case (q, c) =>
      assert(multiCos(q) >= c - 1e-15, s"q=$q multi ${multiCos(q)} < $c")
    }
    assert(multiCos.values.sum > singleCos.values.sum + 1e-12,
      "second probe cell changed nothing")
  }

  test("k-means training monotonically tightens cells (Lloyd's descent)") {
    val dot = graft.functions.GraftExpressions.dot _
    def meanMinD2(iters: Int): Double = {
      val cents = SimilarityQueries.kmeansCentroids(spark, dir, iters)
      val e = SimilarityQueries.embDouble(spark, dir)
      e.join(cents)
        .select(col("vec_id"),
          (dot(col("v"), col("v")) - lit(2d) * dot(col("v"), col("cv")) +
            dot(col("cv"), col("cv"))).as("d2"))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("d2"))
        .agg(avg(col("d2"))).head().getDouble(0)
    }
    val seed = meanMinD2(0)
    val mid = meanMinD2(1)
    val trained = meanMinD2(3)
    assert(mid <= seed + 1e-12, s"pass 1 worsened: $seed -> $mid")
    assert(trained <= mid + 1e-12, s"pass 3 worsened: $mid -> $trained")
    assert(trained < seed * 0.9,
      s"training barely moved: $seed -> $trained")
  }

  test("repeated spans equal the brute-force 13-gram occurrence counts") {
    val d = "/root/testdata/sf0.01"
    val got = DedupQueries.d11_repeated_spans(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val spans = graft.Tables(spark, d, "documents")
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val w = r.getString(1).split(" ")
        if (w.length < 13) Nil
        else w.sliding(13).map(g => (g.mkString(" "), r.getLong(0))).toSeq
      }
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(g: String) =
      md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = spans.groupBy(_._1).filter(_._2.length >= 2)
      .map { case (g, occ) =>
        key(g) -> ((occ.length.toLong, occ.map(_._2).distinct.length.toLong,
          occ.map(_._2).min))
      }
    assert(got === expected)
    assert(got.nonEmpty)
    // cross-doc repeats exist, not just within-doc ones
    assert(got.values.exists(_._2 >= 2))
  }

  test("span removal excises exactly the tokens covered by repeated spans") {
    val d = "/root/testdata/sf0.01"
    val docs = graft.Tables(spark, d, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    // brute force: global span multiset → repeated spans → coverage
    val allSpans = docs.toSeq.flatMap { case (id, w) =>
      if (w.length < 13) Nil
      else w.sliding(13).zipWithIndex.map { case (g, i) => (g.mkString(" "), id, i) }
    }
    val repeated = allSpans.groupBy(_._1).filter(_._2.size >= 2).keySet
    val expected = docs.map { case (id, w) =>
      val starts = allSpans.filter(s => s._2 == id && repeated(s._1)).map(_._3)
      val keep = w.indices.filterNot(i => starts.exists(s => s <= i && i <= s + 12))
      id -> ((w.length.toLong, keep.length.toLong, keep.map(w).mkString(" ")))
    }
    val got = DedupQueries.d12_span_removal(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (id, want) => assert(got(id) === want, s"doc $id") }
    // the operator bites on the fixture and untouched docs pass through
    assert(got.values.exists(v => v._2 < v._1))
    assert(got.values.exists(v => v._2 === v._1))
  }

  test("PQ codes quantize losslessly for codebook vectors; ADC is a true d2 lower-bound proxy") {
    // A vector whose subvectors ARE codewords encodes to itself, so its
    // ADC distance to a query is the quantized true distance: for every
    // (query, codebook-vector) pair, approx_d2 must be within PqM
    // quantization steps of the exact ‖q−v‖² (each of the 8 partials
    // floors away < 2⁻²⁰).
    val d = "/root/testdata/sf0.01"
    val exact = SimilarityQueries.normed(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0d)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
    val got = SimilarityQueries.s05_knn_pq(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === 20) // one winner per query
    got.foreach { case (qid, nn, _) => assert(qid < 20 && nn != qid) }
    // winners that are codebook vectors carry (near-)exact distances
    val cbWinners = got.filter(g => g._2 % 31 == 0 && g._2 < 31 * 16)
    cbWinners.foreach { case (qid, nn, ad2) =>
      val truth = d2(exact(qid), exact(nn))
      assert(math.abs(ad2 - truth) <= 8.0 / 1048576.0 + 1e-12,
        s"q=$qid nn=$nn adc=$ad2 true=$truth")
    }
  }

  test("LSH ANN returns true in-bucket neighbors no better than brute force") {
    val brute = SimilarityQueries.s01_knn_brute(spark, dir)
      .filter(col("rk") === 1)
      .select("qid", "cos").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = SimilarityQueries.s02_knn_lsh(spark, dir)
      .select("qid", "cos").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, c) =>
      assert(c <= brute(q) + 1e-12, s"LSH beat brute force for q=$q")
    }
  }

  test("s07 (GroupedTopK plan) returns exactly s01's rows via the heap operator") {
    val a = SimilarityQueries.s01_knn_brute(spark, dir)
      .collect().map(_.toSeq).toSet
    val b = SimilarityQueries.s07_knn_topk_operator(spark, dir)
    assert(b.collect().map(_.toSeq).toSet === a)
    // the top-k itself runs on the custom operator: two heap passes
    // (partial + final), and the only Window is the residual ranking
    // of the already-k-bounded rows
    val phys = b.queryExecution.executedPlan.toString
    assert("GroupedTopK".r.findAllIn(phys).size >= 2, phys.take(2000))
  }

  test("s08 recall audit agrees with the tiers' own answers and ranks") {
    val brute = SimilarityQueries.s01_knn_brute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) // qid, rk, nn_id
    val top1 = brute.filter(_._2 == 1L).map(r => r._1 -> r._3).toMap
    val rank = brute.map(r => (r._1, r._3) -> r._2).toMap
    val lsh = SimilarityQueries.s02_knn_lsh(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val ivf = SimilarityQueries.s03_knn_ivf(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap

    val got = SimilarityQueries.s08_recall_audit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3), r.getLong(4)))).toMap
    assert(got.keySet ===
      lsh.keySet.map(q => (q, "lsh")) ++ ivf.keySet.map(q => (q, "ivf")))
    got.foreach { case ((qid, m), (annId, hit, rk)) =>
      assert(annId === (if (m == "lsh") lsh(qid) else ivf(qid)), s"q=$qid $m")
      assert(hit === (annId == top1(qid)), s"q=$qid $m hit_top1")
      assert(rk === rank.getOrElse((qid, annId), -1L), s"q=$qid $m rank")
      assert(hit === (rk == 1L), s"q=$qid $m hit⇔rank1")
    }
  }

  test("incremental near-dup gate: copies rejected, novel and bandless admitted") {
    import spark.implicits._
    // Synthetic corpus in a temp dir so the collision structure is
    // exact, not probabilistic: an identical copy shares the whole
    // signature (all 4 bands hit), disjoint text shares no shingles
    // (0 hits), and a < 3-word doc has no bands (admits trivially).
    val seenText = "the quick brown fox jumps over the lazy dog again today"
    val tmp = java.nio.file.Files.createTempDirectory("d13").toString
    Seq(
      (1L, seenText, "en", "web", seenText.length.toLong),
      (10L, seenText, "en", "src0", seenText.length.toLong),
      (11L, "completely different words about maritime navigation charts", "en", "src0", 59L),
      (12L, "hi there", "en", "src0", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = DedupQueries.d13_incremental_neardup(spark, tmp)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out === Map(10L -> ((4L, false)), 11L -> ((0L, true)),
      12L -> ((0L, true))))
  }

  test("incremental near-dup gate agrees with the d03 pair graph on testdata") {
    val d = graft.Tables(spark, dir, "documents")
    val seenIds = d.filter(col("source") =!= "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchIds = d.filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // A batch doc is rejected iff d03's band-collision graph links it
    // to at least one seen doc (pairs within the batch don't count).
    val linkedToSeen = DedupQueries.d03_minhash_lsh(spark, dir)
      .select("doc_a", "doc_b").collect()
      .flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        Seq(a -> b, b -> a)
      }
      .collect { case (x, y) if batchIds(x) && seenIds(y) => x }.toSet
    val out = DedupQueries.d13_incremental_neardup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.keySet === batchIds)
    out.foreach { case (id, admitted) =>
      assert(admitted === !linkedToSeen(id),
        s"doc $id admitted=$admitted but linkedToSeen=${linkedToSeen(id)}")
    }
  }

  test("containment recovers every planted excerpt at exactly 1.0") {
    val d = graft.Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val off = d.map(_._1).max + 1
    // sampled docs whose half-length excerpt still carries >= 1 shingle
    val eligible = d.collect {
      case (id, t) if t.split(" ").length >= 3 && id % 5 == 0 => id
    }
    assert(eligible.nonEmpty)
    val pairs = DedupQueries.d14_containment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    eligible.foreach { id =>
      assert(pairs.get((id, id + off)).contains(1.0), s"excerpt of $id")
    }
    // Jaccard would MISS these: the excerpt/original pairs sit well
    // below d02's own similarity regime for long docs (that's the
    // point of the containment measure)
    pairs.values.foreach(c => assert(c >= 0.9 && c <= 1.0))
  }

  test("sharded containment audit is row-identical to the one-shot audit") {
    // shard-count invariance is the design claim: partitioning the
    // shingle-hash space keeps posting groups whole, so per-shard
    // pair counts SUM exactly — and the sliced merge (slices =
    // shards/2 kicks in at 16) re-partitions only the OUTPUT key
    // space. 16 shards exercises both envelope phases.
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))
    val oneShot = DedupQueries.d14_containment(spark, dir)
      .collect().map(key).sortBy(_.toString)
    val sharded = DedupQueries.containmentSharded(
        DedupQueries.containmentShingles(spark, dir),
        DedupQueries.DefaultMaxPosting, 16, "spec16")
      .collect().map(key).sortBy(_.toString)
    assert(sharded === oneShot)
    // and the registered (4-shard, lazy-merge) form too
    val registered = DedupQueries.d16_containment_sharded(spark, dir)
      .collect().map(key).sortBy(_.toString)
    assert(registered === oneShot)
  }

  test("sharded audit survives a sparse corpus (absent shard/slice dirs) and honors a custom root") {
    import spark.implicits._
    // Adversarial layout for the envelope path: every shingle hash
    // ≡ 0 (mod 16) so 15 of 16 shards emit NO pairs (partitionBy
    // writes no slice dirs at all there), and every doc id ≡ 0
    // (mod 8) so only slice 0 of 8 ever occurs — a blind
    // shard_i/slice=j read would throw AnalysisException on both
    // kinds of hole. Docs: 8 ⊇ 16 (c=4, containment 4/4 = 1.0);
    // 24 disjoint (no pair).
    val sh = Seq(
      (8L, "en", 5L, 0L), (8L, "en", 5L, 16L), (8L, "en", 5L, 32L),
      (8L, "en", 5L, 48L), (8L, "en", 5L, 64L),
      (16L, "en", 4L, 0L), (16L, "en", 4L, 16L), (16L, "en", 4L, 32L),
      (16L, "en", 4L, 48L),
      (24L, "en", 2L, 160L), (24L, "en", 2L, 176L))
      .toDF("doc_id", "lang", "n", "sh")
    val root = java.nio.file.Files
      .createTempDirectory("d16root").toString
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))
    def sharded(shards: Int, tag: String) = {
      spark.conf.set("graft.layout.root", root)
      try DedupQueries.containmentSharded(
          sh, DedupQueries.DefaultMaxPosting, shards, tag)
        .collect().map(key).toSeq
      finally spark.conf.unset("graft.layout.root")
    }
    val sliced = sharded(16, "sparse16")
    assert(sliced === Seq((8L, 16L, 4L, 5L, 4L, 1.0)))
    // same rows through the lazy single-phase branch
    val lazyMerge = sharded(2, "sparse2")
    assert(lazyMerge === sliced)
    // the spill landed under the custom root, and the sliced path
    // deleted its shard dirs once the merged slices were written
    val base = new java.io.File(s"$root/d16_shards_16_sparse16")
    assert(base.isDirectory, "custom spill root was not used")
    assert(!base.listFiles.exists(_.getName.startsWith("shard_")),
      "sliced path must delete shard dirs after the merge")
    assert(new java.io.File(base, "merged/slice_0").isDirectory)
  }

  test("d16 auto shard count: measured SF calibration, floor, cap, and sentinel parity") {
    val B = 300000000L // default pair budget (the measured sf10 envelope)
    // the three measured corpus stats (capped Σ n·(n−1)/2, BENCH_NOTES)
    assert(DedupQueries.autoShards(326026L, B) === 2) // sf0.1
    assert(DedupQueries.autoShards(44350867L, B) === 2) // sf1: 22M/shard fits
    assert(DedupQueries.autoShards(4484211527L, B) === 16) // sf10 envelope
    assert(DedupQueries.autoShards(0L, B) === 2,
      "floor is 2 — the least S that still exercises the sharded path")
    assert(DedupQueries.autoShards(Long.MaxValue, B) === 4096, "runaway cap")
    // sentinel path end-to-end: AUTO resolves on the real corpus
    // (tiny here → the floor 2) and is row-identical to explicit S=4
    val sh = DedupQueries.containmentShingles(spark, dir)
    def rows(spec: Int, tag: String) =
      DedupQueries.containmentSharded(sh, DedupQueries.DefaultMaxPosting,
          spec, tag).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).sorted.toSeq
    val auto = rows(DedupQueries.AutoShards, "autoshards")
    assert(auto.nonEmpty)
    assert(auto === rows(4, "autoshards4"))
  }

  test("quality keeper picks each cluster's longest member (ties -> min id)") {
    val clusters = DedupQueries.d06_neardup_clusters(spark, dir)
      .select("doc_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val toks = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = clusters.groupBy(_._2).map { case (c, members) =>
      val best = members.map(_._1).minBy(id => (-toks(id), id))
      c -> ((best, toks(best), members.length.toLong))
    }
    val got = DedupQueries.d15_quality_keeper(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === expected)
    // the policy differs from d06's min-id keeper somewhere on this
    // corpus (otherwise the query proves nothing)
    val minId = clusters.groupBy(_._2).map { case (c, m) => c -> m.map(_._1).min }
    assert(got.exists { case (c, (k, _, _)) => k != minId(c) })
  }

  test("SQ8 ranking is well-formed and agrees with brute force on top-1 for most queries") {
    val sq8 = SimilarityQueries.s09_knn_sq8(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = sq8.groupBy(_._1)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L), s"q=$q")
      val byRk = rows.sortBy(_._2).map(_._4)
      byRk.sliding(2).foreach { case Array(a, b) => assert(a >= b, s"q=$q") }
      rows.foreach(r => assert(r._4 <= 1.0 + 1e-9 && r._4 >= -1.0 - 1e-9))
    }
    // 8-bit quantization keeps most top-1 answers: the standard SQ8
    // quality bar (loose on purpose — the oracle pins exact values)
    val exact1 = SimilarityQueries.s01_knn_brute(spark, dir).collect()
      .collect { case r if r.getLong(1) == 1L => r.getLong(0) -> r.getLong(2) }
      .toMap
    val hit = byQ.count { case (q, rows) =>
      rows.find(_._2 == 1L).map(_._3) == exact1.get(q)
    }
    assert(hit >= byQ.size / 2, s"SQ8 top-1 recall $hit/${byQ.size}")
  }
}
