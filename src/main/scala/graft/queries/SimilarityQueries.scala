package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor similarity search over the
  * `embeddings` table (`embedding: array<float>`, 64-dim).
  *
  *  - s01 is the '''brute-force cosine top-k baseline''': |Q|·n scored
  *    pairs with the query side broadcast — exact, and the recall
  *    yardstick for every ANN variant. Linear in n, so fine for a
  *    bounded query set even at cluster scale, but not for all-pairs.
  *  - s02 is the '''scale path''': random-hyperplane LSH. Each vector
  *    hashes to a `nbits`-bit bucket (sign pattern against
  *    deterministic pseudo-random hyperplanes); search touches only the
  *    query's bucket — candidate generation is a bucket equi-join, the
  *    same sparse-join shape as the dedup family, shuffling
  *    O(n/2^nbits) candidates per query instead of n.
  *
  * The hyperplanes are integer pseudo-random weights derived from
  * (plane, dim) by a LCG-style formula — deterministic, so DuckDB
  * reproduces them and both queries are oracle-exact (dot products are
  * identical left-to-right IEEE folds, see [[DedupQueries]]).
  */
object SimilarityQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** w(p, d) = ((1103515245·p + 12345·d + 42) mod 97) − 48 ∈ [−48, 48]. */
  private def planeWeightSql(p: String, d: String): String =
    s"(((1103515245 * CAST($p AS BIGINT) + 12345 * CAST($d AS BIGINT) + 42) % 97) - 48)"

  private[queries] val NBits = 8

  /** Index-fold dot product, identical op order to the DuckDB oracle;
    * codegen'd custom expression ([[graft.functions.DotProduct]]).
    */
  private def dotExpr(a: String, b: String): Column =
    graft.functions.GraftExpressions.dot(col(a), col(b))

  /** w(p, i) materialized driver-side for 1-based i ∈ [1, dim] — the
    * hyperplanes become literal double arrays, so the projection is the
    * same codegen'd dot product as the scoring path.
    */
  private def planeWeights(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(i =>
      (((1103515245L * p + 12345L * (i + 1) + 42) % 97) - 48).toDouble)

  /** Signed projection of `v` onto hyperplane `p` (integer weights,
    * double accumulate, left-to-right).
    */
  private def projExpr(v: String, p: Int, dim: Int): Column =
    graft.functions.GraftExpressions.dot(lit(planeWeights(p, dim)), col(v))

  /** LSH bucket id: Σ (proj_p(v) > 0) << p over NBits hyperplanes
    * starting at plane `offset` — offsets carve independent hash
    * tables out of the same (plane, dim) weight stream (d08 uses
    * tables at offsets 0 and NBits).
    */
  private[queries] def bucketColAt(v: String, dim: Int, offset: Int): Column =
    (0 until NBits).map { p =>
      when(projExpr(v, offset + p, dim) > 0d, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  private def bucketCol(v: String, dim: Int): Column =
    bucketColAt(v, dim, 0)

  private[queries] def normed(s: SparkSession, dir: String): DataFrame =
    SharedRelations(s, dir, "embeddings_normed") {
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sqrt(dotExpr("embedding", "embedding")).as("nrm"))
    }

  // Brute-force cosine top-k (k=5) for queries vec_id < 20: exact
  // baseline. Query side broadcast; ranking via window row_number with
  // a deterministic tiebreak.
  def s01_knn_brute(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = normed(s, dir)
    val q = broadcast(e.filter(col("vec_id") < 20).toDF("qid", "qv", "qn"))
    val scored = q.join(e.toDF("did", "dv", "dn"), col("qid") =!= col("did"))
      .select(col("qid"), col("did"),
        (dotExpr("qv", "dv") / (col("qn") * col("dn"))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("did").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("qid"), col("rk").cast(LongType).as("rk"),
        col("did").as("nn_id"), col("cos"))
  }

  // LSH-bucketed ANN: same queries, candidates restricted to probed
  // buckets. Multi-probe (the default) searches the query's own bucket
  // plus its NBits Hamming-1 neighbors — the classic recall fix for
  // single-probe LSH's empty/unlucky-bucket cliff (a vector near a
  // hyperplane lands on either side with ~equal probability). The
  // probe keys explode BROADCAST-side (|Q|·(NBits+1) rows), so
  // candidate generation stays a bucket-key equi-join against the
  // same pre-computable index table — at 100 TB the data side is
  // scanned once and shuffled only on matching bucket keys, identical
  // shape to single-probe, ~(NBits+1)/2^nbits of the data as
  // candidates. `probed` reports which bucket the winner came from.
  def s02_knn_lsh(s: SparkSession, dir: String): DataFrame =
    knnLsh(s, dir, multiProbe = true)

  private[queries] def knnLsh(s: SparkSession, dir: String,
                              multiProbe: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Vector dim probed once (one row-group read even at scale); the
    // hyperplane literals are sized to it.
    val dim = t(s, dir, "embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    val e = normed(s, dir).withColumn("bucket", bucketCol("embedding", dim))
    val q0 = e.filter(col("vec_id") < 20).toDF("qid", "qv", "qn", "qbucket")
    val probes =
      if (multiProbe)
        array(col("qbucket") +: (0 until NBits).map(p =>
          col("qbucket").bitwiseXOR(lit(1L << p))): _*)
      else array(col("qbucket"))
    val q = broadcast(q0.select(col("qid"), col("qv"), col("qn"),
      col("qbucket"), explode(probes).as("bucket")))
    // Buckets partition the data side, so a candidate appears under
    // exactly one probe — no post-join dedup needed.
    val cand = q.join(e.toDF("did", "dv", "dn", "bucket"), Seq("bucket"))
      .filter(col("qid") =!= col("did"))
      .select(col("qid"), col("qbucket"), col("bucket").as("probed"),
        col("did"), (dotExpr("qv", "dv") / (col("qn") * col("dn"))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("did").asc)
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("qid"), col("qbucket").as("bucket"), col("probed"),
        col("did").as("nn_id"), col("cos"))
  }

  /** IVF coarse-quantizer seed set: every [[IvfSeedMod]]-th vector,
    * CAPPED at [[IvfMaxCentroids]] codewords. The cap is what keeps
    * the assignment argmin linear in n — without it |C| grows with the
    * corpus and assignment is quadratic, the same defect class as
    * s05's first uncapped codebook: the r9 sf10 probe measured s03's
    * uncapped cold at 556s (200k vectors × 2062 centroids = 412M
    * scored pairs). The cap bound (6208) exceeds every oracle-SF's max
    * vec_id, so results at sf ≤ 0.1 are bit-identical to the uncapped
    * seed; only the ≥sf1 scale path changes.
    */
  private[queries] val IvfSeedMod = 97
  private[queries] val IvfMaxCentroids = 64

  // IVF-style ANN: a deterministic coarse quantizer (every 97th vector
  // is a centroid, capped at [[IvfMaxCentroids]] — see the seed-set
  // doc), each vector assigned to its nearest centroid by
  // cosine (the inverted-file build); queries probe their `nprobe`
  // nearest cells (the standard IVF recall knob — a query near a cell
  // boundary has its true neighbor in the second-closest cell about as
  // often as the closest). At scale the assignment is a broadcast of
  // a FIXED number of centroids against n vectors (linear scan,
  // map-side), the
  // query-cell ranking touches only |Q|·|C| pairs, and search stays a
  // cell-key equi-join — the same sparse-join scale shape as s02.
  // `cell` reports the query's own (top-1) cell, `probed` the cell the
  // winner was found in.
  def s03_knn_ivf(s: SparkSession, dir: String): DataFrame =
    knnIvf(s, dir, nprobe = 2)

  private[queries] def knnIvf(s: SparkSession, dir: String,
                              nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = normed(s, dir)
    val cents = broadcast(e.filter(col("vec_id") % IvfSeedMod === 0 &&
        col("vec_id") < IvfSeedMod * IvfMaxCentroids)
      .toDF("cid", "cv", "cn"))
    val asg = SharedRelations(s, dir, "ivf_assign") {
      val scored = e.join(cents)
        .select(col("vec_id"), col("cid"),
          (dotExpr("embedding", "cv") / (col("nrm") * col("cn"))).as("cos"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("cid").asc)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"))
    }
    // Query-side cell ranking: |Q| queries × |C| centroids, broadcast.
    val qcells = broadcast(
      e.filter(col("vec_id") < 20).join(cents)
        .select(col("vec_id").as("qid"), col("cid"),
          (dotExpr("embedding", "cv") / (col("nrm") * col("cn"))).as("qcos"))
        .withColumn("crn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("qcos").desc, col("cid").asc)))
        .filter(col("crn") <= nprobe)
        .select(col("qid"), col("cid").as("cell"), col("crn")))
    val q = e.filter(col("vec_id") < 20).toDF("qid", "qv", "qn")
      .join(qcells, Seq("qid"))
    val d = e.join(asg, Seq("vec_id")).toDF("did", "dv", "dn", "cell")
    val cand = q.join(d, Seq("cell")).filter(col("qid") =!= col("did"))
      .select(col("qid"), col("cell").as("probed"), col("did"),
        (dotExpr("qv", "dv") / (col("qn") * col("dn"))).as("cos"))
    val top1 = qcells.filter(col("crn") === 1)
      .select(col("qid"), col("cell"))
    val w2 = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("did").asc)
    cand.withColumn("rn", row_number().over(w2)).filter(col("rn") === 1)
      .join(top1, Seq("qid"))
      .select(col("qid"), col("cell"), col("probed"),
        col("did").as("nn_id"), col("cos"))
  }

  /** Lloyd iterations for [[s04_knn_ivf_trained]]. */
  private val KmIters = 3

  /** Fixed-point quantum for the centroid means: coordinates are
    * scaled by 2²⁰, floored to int64, and summed EXACTLY — the same
    * bit-exact-determinism design as the PageRank family's int64
    * ranks. A double-sum mean would depend on accumulation order
    * (different between engines and between cluster runs); the int64
    * sum is order-free, and the one int→double conversion is exact
    * below 2⁵³ (10⁹ vectors × 2²⁰ ≈ 2⁵⁰ — scales).
    */
  private val KmQuant = 1048576L

  /** Embeddings as double vectors — shared by the k-means train,
    * assign, and probe stages.
    */
  private[queries] def embDouble(s: SparkSession, dir: String): DataFrame =
    SharedRelations(s, dir, "embeddings_double") {
      t(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    }

  /** Squared euclidean ‖v−c‖² = v·v − 2 v·c + c·c (three codegen'd
    * dots, no intermediate difference vector).
    */
  private[queries] def d2Col(v: String, cv: String): Column =
    dotExpr(v, v) - lit(2d) * dotExpr(v, cv) + dotExpr(cv, cv)

  /** Nearest trained cell per vector — broadcast argmin with a
    * deterministic (d2, cid) tiebreak.
    */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = e.join(broadcast(cents))
      .select(col("vec_id"), col("cid"), d2Col("v", "cv").as("d2"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("cid").asc)
    sc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
  }

  /** Lloyd's k-means over the embedding table, as the engine's
    * iterative-driver shape (O14): per pass, one broadcast argmin
    * assignment + one (cell, dim) aggregation — both node-keyed
    * equi-joins/aggs, no driver-side data. Centroid means are int64
    * fixed-point ([[KmQuant]]) so training is bit-deterministic and
    * the unrolled DuckDB oracle matches hash-exactly. Seeds are
    * s03's capped sampler (every [[IvfSeedMod]]-th vector, at most
    * [[IvfMaxCentroids]] — the cap keeps each Lloyd pass linear in n);
    * at 100 TB the same loop runs with a
    * k-means|| oversampled seed set — the per-pass plan is unchanged.
    */
  private[queries] def kmeansCentroids(s: SparkSession, dir: String,
                                       iters: Int): DataFrame = {
    val e = embDouble(s, dir)
    var cents = e.filter(col("vec_id") % IvfSeedMod === 0 &&
        col("vec_id") < IvfSeedMod * IvfMaxCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    var it = 0
    while (it < iters) {
      val asg = assignCells(e, cents)
      val m = asg.join(e, Seq("vec_id"))
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(floor(col("x") * KmQuant).cast(LongType)).cast(DoubleType) /
          (count(lit(1)) * KmQuant).cast(DoubleType)).as("mu"))
      cents = m.groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("pm"))
        .select(col("cid"),
          transform(col("pm"), p => p.getField("mu")).as("cv"))
      it += 1
    }
    cents
  }

  // IVF with TRAINED centroids — the production path s03's
  // deterministic sampler stands in for: 3 Lloyd passes refine the
  // seed cells (mean assignment distance drops ~40% on the testdata,
  // pinned in the spec), then the probe tail is s03's exact shape
  // (broadcast assignment, nprobe=2 cell equi-join). Training cost is
  // iters × (one broadcast scan + one keyed agg) — the same per-pass
  // scale budget as PageRank.
  def s04_knn_ivf_trained(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = SharedRelations(s, dir, "kmeans_cents") {
      kmeansCentroids(s, dir, KmIters)
    }
    val e = embDouble(s, dir)
      .withColumn("nrm", sqrt(dotExpr("v", "v")))
    val asg = SharedRelations(s, dir, "kmeans_assign") {
      assignCells(embDouble(s, dir), cents)
    }
    val qcells = broadcast(
      embDouble(s, dir).filter(col("vec_id") < 20).join(broadcast(cents))
        .select(col("vec_id").as("qid"), col("cid"), d2Col("v", "cv").as("d2"))
        .withColumn("crn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("d2").asc, col("cid").asc)))
        .filter(col("crn") <= 2)
        .select(col("qid"), col("cid").as("cell"), col("crn")))
    val q = e.filter(col("vec_id") < 20).toDF("qid", "qv", "qn")
      .join(qcells, Seq("qid"))
    val d = e.join(asg, Seq("vec_id")).toDF("did", "dv", "dn", "cell")
    val cand = q.join(d, Seq("cell")).filter(col("qid") =!= col("did"))
      .select(col("qid"), col("cell").as("probed"), col("did"),
        (dotExpr("qv", "dv") / (col("qn") * col("dn"))).as("cos"))
    val top1 = qcells.filter(col("crn") === 1)
      .select(col("qid"), col("cell"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("did").asc)
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(top1, Seq("qid"))
      .select(col("qid"), col("cell"), col("probed"),
        col("did").as("nn_id"), col("cos"))
  }

  /** PQ parameters (see [[s05_knn_pq]]): subspace count, codebook
    * sampler (every 31st vector's subvectors become codewords, capped
    * at [[PqK]] codewords per subspace — a FIXED codebook size is what
    * makes PQ's encode cost linear in n; an uncapped sampler would
    * grow the codebook with the corpus and the encode argmin
    * quadratically), and the fixed-point quantum for the ADC partials.
    */
  private val PqM = 8
  private val PqSampleMod = 31L
  private val PqK = 16L
  private val PqQuant = 1048576L

  // Product-quantization ANN with asymmetric distance (ADC) — the
  // memory-bound scale path the IVF family doesn't cover: each vector
  // is ENCODED as PqM one-byte-ish codes (nearest codeword per
  // subspace), a ~32× compression of a 64-dim float vector, and search
  // scans the code table instead of the vectors. Per query the ADC
  // lookup table (quantized ‖q_m − c‖² for every (subspace, codeword))
  // is broadcast — kilobytes — so the scan is one broadcast equi-join
  // on (m, code) + a per-(query, vector) sum: at 100 TB only the
  // packed code table moves, never the embeddings. Partial distances
  // are int64 fixed-point ([[PqQuant]], the k-means-means design) so
  // the cross-subspace sum is order-free and the oracle hash-exact;
  // the one final /2²⁰ is an exact power-of-two scaling.
  def s05_knn_pq(s: SparkSession, dir: String): DataFrame =
    pqAdc(s, dir, pqSeedCodebook(pqSub(s, dir)), "pq_codes")

  /** Subvector relation shared by the PQ family (s05's encode/LUT and
    * s06's Lloyd training read it several times): (vec_id, m, sv) with
    * sv the dim/[[PqM]]-wide slice of subspace m.
    */
  private[queries] def pqSub(s: SparkSession, dir: String): DataFrame =
    SharedRelations(s, dir, "pq_sub") {
      val dim = t(s, dir, "embeddings")
        .select(size(col("embedding"))).head().getInt(0)
      val subDim = dim / PqM
      embDouble(s, dir)
        .select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"),
          col("v"))
        .select(col("vec_id"), col("m"),
          slice(col("v"), col("m") * subDim + 1, lit(subDim)).as("sv"))
    }

  /** s05's id-sampled codebook: every [[PqSampleMod]]-th vector's
    * subvectors, capped at [[PqK]] codewords per subspace.
    */
  private[queries] def pqSeedCodebook(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") % PqSampleMod === 0 &&
        col("vec_id") < PqSampleMod * PqK)
      .select(col("m"), col("vec_id").as("cid"), col("sv").as("cv"))

  /** Nearest codeword per (vector, subspace) — broadcast argmin with
    * the deterministic (d2, cid) tiebreak; s05's encode and s06's
    * Lloyd assignment are the same operator.
    */
  private[queries] def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = sub.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("cid"), d2Col("sv", "cv").as("d2"))
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("d2").asc, col("cid").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid"))
  }

  /** Encode + ADC search tail shared by s05/s06, parameterized on the
    * codebook. Encode: [[pqAssign]], materialized once per codebook
    * (`encKey`). (A production sink would collect_list the M codes
    * into one packed row; the exploded form is what the ADC join
    * consumes directly.) Every (m, code) of a data vector matches
    * exactly one LUT row per query, so each (qid, did) group sums
    * exactly [[PqM]] partials.
    */
  private def pqAdc(s: SparkSession, dir: String, cb: DataFrame,
                    encKey: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sub = pqSub(s, dir)
    val enc = SharedRelations(s, dir, encKey) {
      pqAssign(sub, cb).select(col("vec_id"), col("m"), col("cid").as("code"))
    }
    val lut = broadcast(sub.filter(col("vec_id") < 20)
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id").as("qid"), col("m"), col("cid").as("code"),
        floor(d2Col("sv", "cv") * PqQuant).cast(LongType).as("d2q")))
    val adc = enc.join(lut, Seq("m", "code"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d2q")).as("d2q"))
    val w2 = Window.partitionBy(col("qid"))
      .orderBy(col("d2q").asc, col("vec_id").asc)
    adc.withColumn("rn", row_number().over(w2)).filter(col("rn") === 1)
      .select(col("qid"), col("vec_id").as("nn_id"),
        (col("d2q").cast(DoubleType) / lit(PqQuant.toDouble)).as("approx_d2"))
  }

  /** Lloyd passes for [[s06_knn_pq_trained]]'s codebook. */
  private val PqIters = 3

  // PQ with a TRAINED codebook — the production-shaped variant of s05
  // (round-8 verdict item: the id-modulus sampler is biased toward low
  // ids). Same K=16 seeds and the exact ADC tail of s05, but each
  // codeword is refined by [[PqIters]] joint Lloyd passes over all
  // subspaces at once: assignment is the s05 encode argmin, means are
  // int64 fixed-point per (m, cid, pos) ([[KmQuant]], the s04 design)
  // — bit-deterministic, so the unrolled DuckDB oracle is hash-exact.
  // Per-pass cost is one broadcast argmin + one keyed agg over the
  // subvector relation (the s04/PageRank per-pass budget); the
  // codebook stays 8×16 rows, kilobytes, broadcast. Quantization error
  // is non-increasing per pass (pinned in the spec) — the property PQ
  // recall rides on at scale.
  def s06_knn_pq_trained(s: SparkSession, dir: String): DataFrame = {
    val cb = SharedRelations(s, dir, "pq_cb_trained") {
      pqTrainedCodebook(pqSub(s, dir))
    }
    pqAdc(s, dir, cb, "pq_codes_trained")
  }

  /** s01's brute-force cosine top-k re-planned through the custom
    * [[graft.plans.GroupedTopK]] operator: identical scored relation,
    * but the per-query top-5 is bounded per-group heaps → a ≤k-rows-
    * per-group-per-partition exchange → final heaps, instead of the
    * window plan's full sort of every partition. The residual
    * `row_number` only ranks the already-k-bounded output (≤ 5·|Q|
    * rows) for s01-identical columns. At 100 TB this is the duel-
    * measured q39 win applied where it matters most — brute-force
    * rescoring fan-outs (|Q|·|corpus| scored rows) are exactly the
    * shape whose sort the heap pass eliminates. Same oracle as s01;
    * row-for-row equivalence with s01 additionally pinned in the spec.
    */
  def s07_knn_topk_operator(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = normed(s, dir)
    val q = broadcast(e.filter(col("vec_id") < 20).toDF("qid", "qv", "qn"))
    val scored = q.join(e.toDF("did", "dv", "dn"), col("qid") =!= col("did"))
      .select(col("qid"), col("did"),
        (dotExpr("qv", "dv") / (col("qn") * col("dn"))).as("cos"))
    val top = graft.plans.GroupedTopK.of(scored, Seq("qid"),
      Seq(("cos", false), ("did", true)), 5)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("did").asc)
    top.withColumn("rk", row_number().over(w))
      .select(col("qid"), col("rk").cast(LongType).as("rk"),
        col("did").as("nn_id"), col("cos"))
  }

  // ANN recall audit — the evaluation step an approximate index ships
  // with: each ANN tier's answer (s02 LSH, s03 IVF) joined against the
  // exact brute-force top-5 (s01), reporting per query whether the
  // approximate neighbor IS the true nearest (hit_top1) and where it
  // ranks in the exact top-5 (−1 = outside). This makes the
  // recall/probe-budget trade-off of the index a first-class
  // oracle-checked relation instead of a claim in a doc — the same
  // no-silent-degradation stance as d02_posting_audit.
  //
  // Scale shape: the three inputs are the tiers' own (already
  // bounded) |Q|-row results, so the audit costs three joins over ~20
  // rows regardless of corpus size; at 100 TB the expensive part is
  // the tiers themselves, shared via their memoized relations.
  def s08_recall_audit(s: SparkSession, dir: String): DataFrame = {
    val brute = s01_knn_brute(s, dir).select(col("qid"), col("rk"),
      col("nn_id"))
    val exact = brute.filter(col("rk") === 1)
      .select(col("qid"), col("nn_id").as("true_nn"))
    val ann = s02_knn_lsh(s, dir)
      .select(col("qid"), lit("lsh").as("method"), col("nn_id").as("ann_id"))
      .unionByName(s03_knn_ivf(s, dir)
        .select(col("qid"), lit("ivf").as("method"), col("nn_id").as("ann_id")))
    ann.join(exact, Seq("qid"))
      .join(brute.select(col("qid"), col("nn_id").as("ann_id"),
        col("rk").as("b5rk")), Seq("qid", "ann_id"), "left")
      .select(col("qid"), col("method"), col("ann_id"),
        (col("ann_id") === col("true_nn")).as("hit_top1"),
        coalesce(col("b5rk"), lit(-1L)).as("rank_in_top5"))
  }

  // Scalar-quantized (SQ8) cosine top-k — the THIRD standard ANN
  // compression tier alongside IVF (s03/s04) and PQ (s05/s06): each
  // dimension is affinely quantized to an 8-bit code against the
  // corpus per-dim (min, max), shrinking vectors 4× (float32→int8)
  // with no codebook to train. The per-dim stats are ONE tiny
  // aggregation collected driver-side (2·dim scalars — the
  // planeWeights literal-array pattern), so the encode is a fully
  // codegen'd narrow map (dim clamp/floor expressions, no
  // higher-order lambdas); scoring reuses the codegen'd dot product
  // on the integral code arrays — every product and partial sum is
  // an exact small integer in double, so ranking is bit-deterministic
  // and the oracle replicates the identical 3-op quantizer. At scale
  // the win is memory traffic: the scan and the broadcast query side
  // move 1-byte codes, not floats.
  def s09_knn_sq8(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = t(s, dir, "embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // per-dim (min, max) via ONE posexplode aggregation (2 agg
    // buffers over dim·n rows), not 2·dim unrolled agg expressions —
    // the unrolled form's generated update method blew janino's
    // 64 KB limit at dim=64 and ran interpreted (observed r17)
    val statRows = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast(DoubleType)).as("mn"),
        max(col("x").cast(DoubleType)).as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val lo = Array.tabulate(dim)(i => statRows(i)._1)
    val rng = Array.tabulate(dim)(i => statRows(i)._2 - lo(i))
    // one codegen'd expression with a runtime dim loop (the PolyHash/
    // DotProduct rule applied to the encode — bit-identical clamp
    // sequence, ~60 lines of generated code instead of ~13k)
    def codes(vcol: String) =
      graft.functions.GraftExpressions.sq8(col(vcol), lo, rng)
    val enc = emb.select(col("vec_id"), codes("embedding").as("cv"))
      .withColumn("cn", sqrt(dotExpr("cv", "cv")))
      .filter(col("cn") > 0d)
    val q = broadcast(enc.filter(col("vec_id") < 20).toDF("qid", "qv", "qn"))
    val scored = q.join(enc.toDF("did", "dv", "dn"), col("qid") =!= col("did"))
      .select(col("qid"), col("did"),
        (dotExpr("qv", "dv") / (col("qn") * col("dn"))).as("cos_sq8"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sq8").desc, col("did").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("qid"), col("rk").cast(LongType).as("rk"),
        col("did").as("nn_id"), col("cos_sq8"))
  }

  /** [[PqIters]] Lloyd passes over the subvector relation, all
    * subspaces jointly (grouped by (m, cid)); empty cells drop out of
    * the group-by, the standard Lloyd degeneracy handling — identical
    * in the oracle because assignments are identical.
    */
  private[queries] def pqTrainedCodebook(sub: DataFrame): DataFrame = {
    var cb = pqSeedCodebook(sub)
    var it = 0
    while (it < PqIters) {
      val asg = pqAssign(sub, cb)
      cb = asg.join(sub, Seq("vec_id", "m"))
        .select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("m"), col("cid"), col("pos"))
        .agg((sum(floor(col("x") * KmQuant).cast(LongType)).cast(DoubleType) /
          (count(lit(1)) * KmQuant).cast(DoubleType)).as("mu"))
        .groupBy(col("m"), col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("pm"))
        .select(col("m"), col("cid"),
          transform(col("pm"), p => p.getField("mu")).as("cv"))
      it += 1
    }
    cb
  }

  private def dotSql(a: String, b: String): String =
    s"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), " +
      s"LIST_TRANSFORM(RANGE(1, LEN($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      s"(acc, x) -> acc + x)"

  private def projSql(v: String, p: Int): String =
    s"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), " +
      s"LIST_TRANSFORM(RANGE(1, LEN($v) + 1), " +
      s"i -> CAST(${planeWeightSql(p.toString, "i")} AS DOUBLE) * CAST($v[i] AS DOUBLE))), " +
      s"(acc, x) -> acc + x)"

  /** Oracle twin of [[bucketColAt]]. */
  private[queries] def bucketSqlAt(v: String, offset: Int): String =
    (0 until NBits).map { p =>
      s"(CASE WHEN ${projSql(v, offset + p)} > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")

  private def bucketSql(v: String): String = bucketSqlAt(v, 0)

  /** Oracle twin of [[s02_knn_lsh]] — also s08's LSH CTE. */
  private lazy val LshOracle: String = {
    val probeList = ("bucket" +: (0 until NBits).map(p =>
      s"xor(bucket, ${1L << p})")).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding,
       |    SQRT(${dotSql("embedding", "embedding")}) AS nrm,
       |    ${bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn,
       |    bucket AS qbucket, UNNEST($probeList) AS probe
       |  FROM e WHERE vec_id < 20),
       |p AS (SELECT q.qid, q.qbucket, d.bucket AS probed, d.vec_id AS did,
       |    ${dotSql("q.qe", "d.embedding")} / (q.qn * d.nrm) AS cos
       |  FROM q JOIN e d ON d.bucket = q.probe AND q.qid <> d.vec_id)
       |SELECT qid, qbucket AS bucket, probed, did AS nn_id, cos FROM (
       |  SELECT qid, qbucket, probed, did, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, did ASC) AS rk
       |  FROM p) WHERE rk = 1""".stripMargin
  }

  /** The exact brute-force top-5 oracle — shared by s01, its
    * GroupedTopK re-plan s07, and (as the ground-truth CTE) s08.
    */
  private lazy val BruteOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding,
       |    SQRT(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |p AS (SELECT q.vec_id AS qid, d.vec_id AS did,
       |    ${dotSql("q.embedding", "d.embedding")} / (q.nrm * d.nrm) AS cos
       |  FROM e q JOIN e d ON q.vec_id < 20 AND q.vec_id <> d.vec_id)
       |SELECT qid, CAST(rk AS BIGINT) AS rk, did AS nn_id, cos FROM (
       |  SELECT qid, did, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, did ASC) AS rk
       |  FROM p) WHERE rk <= 5""".stripMargin

  val oracle: Map[String, String] = Map(
    "s01_knn_brute" -> BruteOracle,
    "s07_knn_topk_operator" -> BruteOracle,
    "s08_recall_audit" ->
      s"""WITH b AS ($BruteOracle),
         |l AS ($LshOracle),
         |i AS ($IvfOracle),
         |ann AS (SELECT qid, 'lsh' AS method, nn_id AS ann_id FROM l
         |  UNION ALL SELECT qid, 'ivf' AS method, nn_id AS ann_id FROM i),
         |ex AS (SELECT qid, nn_id AS true_nn FROM b WHERE rk = 1)
         |SELECT ann.qid, ann.method, ann.ann_id,
         |  ann.ann_id = ex.true_nn AS hit_top1,
         |  COALESCE(b5.rk, -1) AS rank_in_top5
         |FROM ann JOIN ex USING (qid)
         |LEFT JOIN b b5 ON b5.qid = ann.qid AND b5.nn_id = ann.ann_id""".stripMargin,
    // identical 3-op quantizer ((x − lo)·255 / (hi − lo), floor,
    // clamp) on identical per-dim stats ⇒ identical codes; products
    // of ≤255 codes are exact in double, so cos ordering matches bit
    // for bit
    "s09_knn_sq8" ->
      s"""WITH px0 AS (SELECT vec_id, embedding,
         |    UNNEST(RANGE(1, LEN(embedding) + 1)) AS i
         |  FROM embeddings),
         |px AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x FROM px0),
         |mm AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM px GROUP BY 1),
         |codes AS (SELECT vec_id,
         |    LIST(CASE WHEN hi = lo THEN 0.0
         |      ELSE LEAST(255.0, GREATEST(0.0,
         |        FLOOR((x - lo) * 255.0 / (hi - lo)))) END
         |      ORDER BY i) AS cv
         |  FROM px JOIN mm USING (i) GROUP BY vec_id),
         |e AS (SELECT vec_id, cv, SQRT(${dotSql("cv", "cv")}) AS cn
         |  FROM codes),
         |ef AS (SELECT * FROM e WHERE cn > 0),
         |p AS (SELECT q.vec_id AS qid, d.vec_id AS did,
         |    ${dotSql("q.cv", "d.cv")} / (q.cn * d.cn) AS cos_sq8
         |  FROM ef q JOIN ef d ON q.vec_id < 20 AND q.vec_id <> d.vec_id)
         |SELECT qid, CAST(rk AS BIGINT) AS rk, did AS nn_id, cos_sq8 FROM (
         |  SELECT qid, did, cos_sq8,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos_sq8 DESC, did ASC) AS rk
         |  FROM p) WHERE rk <= 5""".stripMargin,
    "s02_knn_lsh" -> LshOracle,
    "s03_knn_ivf" -> IvfOracle,
    "s04_knn_ivf_trained" -> TrainedIvfOracle,
    "s05_knn_pq" -> PqOracle,
    "s06_knn_pq_trained" -> TrainedPqOracle,
  )

  /** Oracle twin of [[s06_knn_pq_trained]]: [[PqOracle]]'s sub/seed
    * CTEs, [[TrainedIvfOracle]]'s unrolled-Lloyd pattern with the
    * extra subspace dimension (grouped by (m, cid)), then the s05 ADC
    * tail over the trained codebook.
    */
  private lazy val TrainedPqOracle: String = {
    def d2Sql(v: String, cv: String) =
      s"${dotSql(v, v)} - 2 * ${dotSql(v, cv)} + ${dotSql(cv, cv)}"
    val sb = new StringBuilder(
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(RANGE(1, LEN(embedding)+1),
         |      i -> CAST(embedding[i] AS DOUBLE)) AS v
         |  FROM embeddings),
         |sub AS MATERIALIZED (SELECT vec_id, u.m AS m,
         |    v[u.m*(LEN(v)//$PqM)+1 : (u.m+1)*(LEN(v)//$PqM)] AS sv
         |  FROM e, UNNEST(RANGE(0, $PqM)) AS u(m)),
         |cb0 AS MATERIALIZED (SELECT m, vec_id AS cid, sv AS cv
         |  FROM sub WHERE vec_id % $PqSampleMod = 0
         |    AND vec_id < ${PqSampleMod * PqK})""".stripMargin)
    for (it <- 1 to PqIters) {
      val p = it - 1
      sb.append(s""",
        |sc$it AS (SELECT s.vec_id, s.m, c.cid,
        |    ${d2Sql("s.sv", "c.cv")} AS d2
        |  FROM sub s JOIN cb$p c ON s.m = c.m),
        |asg$it AS MATERIALIZED (SELECT vec_id, m, cid FROM (
        |  SELECT vec_id, m, cid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, m
        |      ORDER BY d2 ASC, cid ASC) AS rn
        |  FROM sc$it) WHERE rn = 1),
        |mu$it AS (SELECT a.m, a.cid, u.i AS pos,
        |    CAST(SUM(CAST(FLOOR(s.sv[u.i] * $KmQuant) AS BIGINT)) AS DOUBLE) /
        |      CAST(COUNT(*) * $KmQuant AS DOUBLE) AS mu
        |  FROM asg$it a JOIN sub s ON a.vec_id = s.vec_id AND a.m = s.m,
        |    UNNEST(RANGE(1, LEN(s.sv)+1)) AS u(i)
        |  GROUP BY a.m, a.cid, u.i),
        |cb$it AS MATERIALIZED (SELECT m, cid, LIST(mu ORDER BY pos) AS cv
        |  FROM mu$it GROUP BY m, cid)""".stripMargin)
    }
    sb.append(s""",
      |enc AS (SELECT vec_id, m, cid AS code FROM (
      |  SELECT s.vec_id, s.m, c.cid,
      |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
      |      ORDER BY ${d2Sql("s.sv", "c.cv")} ASC, c.cid ASC) AS rn
      |  FROM sub s JOIN cb$PqIters c ON s.m = c.m) WHERE rn = 1),
      |lut AS (SELECT s.vec_id AS qid, s.m, c.cid AS code,
      |    CAST(FLOOR((${d2Sql("s.sv", "c.cv")}) * $PqQuant) AS BIGINT) AS d2q
      |  FROM sub s JOIN cb$PqIters c ON s.m = c.m WHERE s.vec_id < 20),
      |adc AS (SELECT l.qid, en.vec_id AS did,
      |    CAST(SUM(l.d2q) AS BIGINT) AS d2q
      |  FROM enc en JOIN lut l ON l.m = en.m AND l.code = en.code
      |  WHERE l.qid <> en.vec_id GROUP BY 1, 2)
      |SELECT qid, did AS nn_id,
      |  CAST(d2q AS DOUBLE) / $PqQuant.0 AS approx_d2 FROM (
      |  SELECT qid, did, d2q,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2q ASC, did ASC) AS rn
      |  FROM adc) WHERE rn = 1""".stripMargin)
    sb.toString
  }

  /** Oracle twin of [[s05_knn_pq]]: subspace slices (DuckDB list
    * slicing is 1-based inclusive, `LEN(v)//PqM` the subspace width),
    * the same d2 = v·v − 2v·c + c·c op order, int64-quantized partials.
    */
  private lazy val PqOracle: String = {
    def d2Sql(v: String, cv: String) =
      s"${dotSql(v, v)} - 2 * ${dotSql(v, cv)} + ${dotSql(cv, cv)}"
    s"""WITH e AS (SELECT vec_id,
       |    LIST_TRANSFORM(RANGE(1, LEN(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE)) AS v
       |  FROM embeddings),
       |sub AS (SELECT vec_id, u.m AS m,
       |    v[u.m*(LEN(v)//$PqM)+1 : (u.m+1)*(LEN(v)//$PqM)] AS sv
       |  FROM e, UNNEST(RANGE(0, $PqM)) AS u(m)),
       |cb AS (SELECT m, vec_id AS cid, sv AS cv
       |  FROM sub WHERE vec_id % $PqSampleMod = 0
       |    AND vec_id < ${PqSampleMod * PqK}),
       |enc AS (SELECT vec_id, m, cid AS code FROM (
       |  SELECT s.vec_id, s.m, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY ${d2Sql("s.sv", "c.cv")} ASC, c.cid ASC) AS rn
       |  FROM sub s JOIN cb c ON s.m = c.m) WHERE rn = 1),
       |lut AS (SELECT s.vec_id AS qid, s.m, c.cid AS code,
       |    CAST(FLOOR((${d2Sql("s.sv", "c.cv")}) * $PqQuant) AS BIGINT) AS d2q
       |  FROM sub s JOIN cb c ON s.m = c.m WHERE s.vec_id < 20),
       |adc AS (SELECT l.qid, en.vec_id AS did,
       |    CAST(SUM(l.d2q) AS BIGINT) AS d2q
       |  FROM enc en JOIN lut l ON l.m = en.m AND l.code = en.code
       |  WHERE l.qid <> en.vec_id GROUP BY 1, 2)
       |SELECT qid, did AS nn_id,
       |  CAST(d2q AS DOUBLE) / $PqQuant.0 AS approx_d2 FROM (
       |  SELECT qid, did, d2q,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2q ASC, did ASC) AS rn
       |  FROM adc) WHERE rn = 1""".stripMargin
  }

  /** Unrolled-Lloyd oracle for [[s04_knn_ivf_trained]]:
    * `AS MATERIALIZED` per pass (the graph-family iterative pattern),
    * int64 fixed-point means, then the s03-style probe tail over the
    * trained cells.
    */
  private lazy val TrainedIvfOracle: String = {
    def d2Sql(v: String, cv: String) =
      s"${dotSql(v, v)} - 2 * ${dotSql(v, cv)} + ${dotSql(cv, cv)}"
    val sb = new StringBuilder(
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(RANGE(1, LEN(embedding)+1),
         |      i -> CAST(embedding[i] AS DOUBLE)) AS v
         |  FROM embeddings),
         |c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv
         |  FROM e WHERE vec_id % $IvfSeedMod = 0
         |    AND vec_id < ${IvfSeedMod * IvfMaxCentroids})""".stripMargin)
    for (it <- 1 to KmIters) {
      val p = it - 1
      sb.append(s""",
        |sc$it AS (SELECT e.vec_id, c.cid,
        |    ${d2Sql("e.v", "c.cv")} AS d2
        |  FROM e CROSS JOIN c$p c),
        |asg$it AS MATERIALIZED (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        |  FROM sc$it) WHERE rn = 1),
        |m$it AS (SELECT a.cid, u.i AS pos,
        |    CAST(SUM(CAST(FLOOR(e.v[u.i] * $KmQuant) AS BIGINT)) AS DOUBLE) /
        |      CAST(COUNT(*) * $KmQuant AS DOUBLE) AS mu
        |  FROM asg$it a JOIN e ON a.vec_id = e.vec_id,
        |    UNNEST(RANGE(1, LEN(e.v)+1)) AS u(i)
        |  GROUP BY a.cid, u.i),
        |c$it AS MATERIALIZED (SELECT cid, LIST(mu ORDER BY pos) AS cv
        |  FROM m$it GROUP BY cid)""".stripMargin)
    }
    sb.append(s""",
      |en AS (SELECT vec_id, v, SQRT(${dotSql("v", "v")}) AS nrm FROM e),
      |scf AS (SELECT e.vec_id, c.cid,
      |    ${d2Sql("e.v", "c.cv")} AS d2
      |  FROM e CROSS JOIN c$KmIters c),
      |fasg AS (SELECT vec_id, cid FROM (
      |  SELECT vec_id, cid,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
      |  FROM scf) WHERE rn = 1),
      |qc AS (SELECT vec_id AS qid, cid AS cell, rn AS crn FROM (
      |  SELECT vec_id, cid,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
      |  FROM scf WHERE vec_id < 20) WHERE rn <= 2),
      |p AS (SELECT q.vec_id AS qid, qc.cell AS probed, d.vec_id AS did,
      |    ${dotSql("q.v", "d.v")} / (q.nrm * d.nrm) AS cos
      |  FROM en q JOIN qc ON qc.qid = q.vec_id
      |  JOIN fasg da ON da.cid = qc.cell AND da.vec_id <> q.vec_id
      |  JOIN en d ON d.vec_id = da.vec_id)
      |SELECT p.qid, t.cell, p.probed, p.did AS nn_id, p.cos FROM (
      |  SELECT qid, probed, did, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, did ASC) AS rn
      |  FROM p) p
      |JOIN (SELECT qid, cell FROM qc WHERE crn = 1) t ON t.qid = p.qid
      |WHERE p.rn = 1""".stripMargin)
    sb.toString
  }

  private lazy val IvfOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding,
       |    SQRT(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cn
       |  FROM e WHERE vec_id % $IvfSeedMod = 0
       |    AND vec_id < ${IvfSeedMod * IvfMaxCentroids}),
       |sc AS (SELECT e.vec_id, c.cid,
       |    ${dotSql("e.embedding", "c.cv")} / (e.nrm * c.cn) AS cos
       |  FROM e CROSS JOIN c),
       |asg AS (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
       |  FROM sc) WHERE rn = 1),
       |qc AS (SELECT vec_id AS qid, cid AS cell, rn AS crn FROM (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
       |  FROM sc WHERE vec_id < 20) WHERE rn <= 2),
       |p AS (SELECT q.vec_id AS qid, qc.cell AS probed, d.vec_id AS did,
       |    ${dotSql("q.embedding", "d.embedding")} / (q.nrm * d.nrm) AS cos
       |  FROM e q JOIN qc ON qc.qid = q.vec_id
       |  JOIN asg da ON da.cid = qc.cell AND da.vec_id <> q.vec_id
       |  JOIN e d ON d.vec_id = da.vec_id)
       |SELECT p.qid, t.cell, p.probed, p.did AS nn_id, p.cos FROM (
       |  SELECT qid, probed, did, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, did ASC) AS rn
       |  FROM p) p
       |JOIN (SELECT qid, cell FROM qc WHERE crn = 1) t ON t.qid = p.qid
       |WHERE p.rn = 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_knn_brute" -> (s01_knn_brute _),
    "s02_knn_lsh" -> (s02_knn_lsh _),
    "s03_knn_ivf" -> (s03_knn_ivf _),
    "s04_knn_ivf_trained" -> (s04_knn_ivf_trained _),
    "s05_knn_pq" -> (s05_knn_pq _),
    "s06_knn_pq_trained" -> (s06_knn_pq_trained _),
    "s07_knn_topk_operator" -> (s07_knn_topk_operator _),
    "s08_recall_audit" -> (s08_recall_audit _),
    "s09_knn_sq8" -> (s09_knn_sq8 _),
  )
}
