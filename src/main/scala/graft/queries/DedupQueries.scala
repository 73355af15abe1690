package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication family over `documents` / `embeddings` — the
  * training-data-pipeline layer (exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, embedding nearest-neighbor), built Spark-first:
  *
  *  - Candidate generation is always a '''sparse equi-join''' (shared
  *    shingle / band bucket / block key), never an O(n²) cross join —
  *    the property that survives a 100× scale-up. The only cross
  *    product in the family is d05's brute-force kNN baseline, which is
  *    bounded to a fixed query set (its scale path is s02's LSH).
  *  - All arithmetic is int64 or single-IEEE-op double so every query
  *    hash-matches its DuckDB oracle bit for bit (see
  *    [[TextQueries.polyHash]] for the shared shingle hash).
  *
  * Reference lineage: the reference's `HashSet` in-reduce dedup and
  * string-packed adjacency (pageRank_v2.java:184,195,207-213) are the
  * seed of d01's hash-group dedup; everything else generalizes it to
  * corpus scale.
  */
object DedupQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Mersenne-prime modulus shared with the oracle. */
  private val P = 2147483647L

  /** Spread a small scan across the session's cores before a
    * CPU-heavy derivation: scan split counts derive from BYTES
    * (guide §6 — a few-MB corpus arrives as ONE split under a
    * bytes-true split rule), so the gram explode + hash + partial-agg
    * pipelines below — and every later pass over a persisted result,
    * which keeps the build's layout — would otherwise run
    * single-threaded at any core count. Compute-bound parallelism
    * tracks cores (guide §1.2 "per-task work"), unlike exchange
    * widths, which track data volume (§2); the round-robin exchange
    * costs one pass over the raw corpus slice. Never NARROWS an
    * already-parallel scan (a 100 TB corpus keeps its byte-derived
    * splits).
    */
  private def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df else df.repartition(cores)
  }

  /** MinHash permutation constants (a·h + b) mod P. */
  private val Perms: Seq[(Long, Long)] =
    Seq((1L, 0L), (7L, 3L), (13L, 17L), (31L, 29L),
      (101L, 5L), (131L, 11L), (151L, 23L), (181L, 41L))

  /** Word-3-gram distinct shingles of `text`, as (doc_id, lang, n, sh)
    * rows — `n` is the document's distinct-shingle count, computed on
    * the pre-explode array so the Jaccard denominator needs NO
    * doc-keyed aggregation + re-join downstream (at corpus scale that
    * was a full extra exchange of the shingle relation). Spark side of
    * the shared shingle CTE.
    */
  private[graft] def shingles(s: SparkSession, dir: String): DataFrame =
    SharedRelations(s, dir, "doc_shingles") {
      shingleRowsOf(spread(s, t(s, dir, "documents")))
    }

  /** [[shingles]]' derivation on any (doc_id, lang, text) relation —
    * d14 feeds it a planted excerpt corpus.
    */
  private def shingleRowsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      // The IF makes the expression TOTAL, not just filtered:
      // InferFiltersFromGenerate clones the generator input into an
      // inferred `size(shs) > 0` predicate and pushes it down beside
      // the row filter, where it can evaluate on unfiltered rows —
      // an unguarded element_at(w, i+2) then throws on < 3-word docs
      // (ANSI). Same hardening on every sequence-window explode.
      .withColumn("shs",
        expr("IF(size(w) >= 3, array_distinct(transform(sequence(1, size(w) - 2), " +
          "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1), element_at(w, i+2)))), " +
          "array())"))
      .select(col("doc_id"), col("lang"),
        size(col("shs")).cast(LongType).as("n"),
        explode(col("shs")).as("sh"))

  /** Oracle twin of [[shingles]] — a WITH prefix callers extend. */
  private val ShinglesCte: String =
    """WITH w AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id, lang,
      |  UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
      |  FROM w WHERE LEN(w) >= 3)""".stripMargin

  // Exact dedup by content hash over a corpus with real duplicates
  // (documents unioned with a re-ingested copy, ids offset): group on
  // md5, keep the min id. At 100 TB the 16-byte digest — not the text —
  // is the shuffle key, and partial aggregation collapses dup groups
  // map-side. The re-ingest offset is max(doc_id)+1 — a 1-row broadcast
  // scalar, never a constant that a larger sf's genuine ids could
  // collide with.
  def d01_exact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val off = broadcast(d.agg((max(col("doc_id")) + 1L).as("off")))
    val corpus = d.union(
      d.crossJoin(off).select(col("doc_id") + col("off"), col("text")))
    corpus.groupBy(md5(col("text")).as("content_key"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
  }

  /** The `source` partition that plays the incoming batch in
    * [[d09_incremental]].
    */
  private val IncrementalBatch = "src0"

  // Incremental-ingest dedup — the shape a CONTINUOUSLY-fed corpus
  // needs (d01 dedups a closed corpus): admit from the new batch only
  // documents whose content digest is unseen in the already-ingested
  // corpus, via a digest left-anti join. At 100 TB the seen side is
  // the corpus's maintained digest index (16 B/doc — a bucketed table
  // on content_key, so the anti-join co-locates without an exchange);
  // only digests shuffle, never text. The streaming twin is
  // StreamOps.dedupWithinWatermark (same key, watermark-bounded state
  // instead of a persistent index).
  def d09_incremental(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val batch = d.filter(col("source") === IncrementalBatch)
      .select(col("doc_id"), md5(col("text")).as("content_key"))
    val seen = d.filter(col("source") =!= IncrementalBatch)
      .select(md5(col("text")).as("content_key"))
    batch.join(seen, Seq("content_key"), "left_anti")
  }

  // Incremental-ingest NEAR-dup gate — [[d09_incremental]]'s exact
  // digest anti-join generalized to LSH bucket collision: a batch doc
  // (source = src0) is admitted iff NONE of its 4 minhash band buckets
  // appears in the already-ingested corpus's bucket index. Output is
  // the full batch with per-doc observability (n_hit_bands, admitted)
  // rather than the admitted subset alone — rejections are as
  // auditable as admissions (the no-silent-rewrites principle).
  // At 100 TB the seen side IS the maintained index: distinct
  // (band, bkey) — 4 short rows per ingested doc, deduped — so the
  // semi-join ships band digests, never signatures or text, and a
  // bucketed index table co-locates it without an exchange. Docs too
  // short to shingle (< 3 words) have no bands and admit trivially,
  // exactly like the streaming twin's no-key pass-through.
  def d13_incremental_neardup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val bands = minhashBands(s, dir)
    val batch = d.filter(col("source") === IncrementalBatch).select(col("doc_id"))
    val seenBuckets = bands
      .join(d.filter(col("source") =!= IncrementalBatch).select(col("doc_id")),
        Seq("doc_id"))
      .select(col("band"), col("bkey")).distinct()
    val hits = bands.join(batch, Seq("doc_id"))
      .join(seenBuckets, Seq("band", "bkey"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_bands"))
    batch.join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_hit_bands"), lit(0L)).as("n_hit_bands"),
        (coalesce(col("n_hit_bands"), lit(0L)) === 0L).as("admitted"))
  }

  /** Span length for [[d11_repeated_spans]] — 13 words, the standard
    * exact-substring-dedup span (long enough that natural text never
    * collides; repeats are real copies or boilerplate).
    */
  private val SpanN = 13

  /** Positional 13-gram spans (doc_id, pos, digest) — the stage output
    * both span queries read (the shingles/doc_ngrams8 pattern): the
    * O(tokens) window explode and the md5 run ONCE per (session,
    * sfDir), not once per consumer — d12 alone would otherwise explode
    * the corpus twice (its `rep` and `starts` subtrees shuffle
    * differently, so ReuseExchange can't dedup them).
    */
  private[graft] def docSpans(s: SparkSession, dir: String): DataFrame =
    SharedRelations(s, dir, "doc_spans13") {
      // Codegen'd position explode (TextQueries.gramPositions; the
      // interpreted-lambda rationale is documented there), window text
      // via slice + array_join AFTER the generator.
      TextQueries.gramPositions(spread(s, t(s, dir, "documents")), SpanN)
        .select(col("doc_id"), col("i").as("pos"),
          md5(array_join(slice(col("w"), col("i"), lit(SpanN)), " ")).as("k"))
    }

  // Span-level exact dedup / boilerplate mining — the repeated-span
  // pass doc-level dedup misses: every 13-word window of the corpus,
  // grouped, keeping spans that occur ≥ 2 times (total occurrences,
  // distinct docs, first doc). At 100 TB the shuffle key is the span's
  // 16-byte digest, never the text — ~24 B/row through the exchange —
  // and partial aggregation collapses each split's repeats map-side;
  // the singleton long tail dies in the HAVING. The window explode is
  // O(tokens) rows — the inherent cost of exact substring dedup (a
  // suffix-array build has the same input scan but needs a global
  // sort; the digest-group form is the shuffle-friendly equivalent at
  // fixed span length).
  def d11_repeated_spans(s: SparkSession, dir: String): DataFrame =
    docSpans(s, dir)
      .groupBy(col("k").as("span_key"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occ") >= 2)

  // Span REMOVAL — the action step of exact substring dedup (d11 is
  // the audit): every token covered by a globally-repeated 13-gram
  // span is excised, the per-doc transform real pipelines apply to
  // strip boilerplate. Three stages: positional grams (one corpus
  // scan), the repeated-digest set (one digest-keyed agg, d11's
  // shape), and a per-doc rewrite driven by the doc's sorted
  // span-start list (collect_list per doc — bounded by tokens/doc,
  // not corpus size). The rewrite itself is per-row higher-order
  // functions: keep token i unless some start x has x ≤ i ≤ x+12 —
  // O(L·|starts|) per doc, and |starts| is small except for heavily
  // boilerplated docs, exactly where the work belongs. Docs under 13
  // words (or with no repeated spans) pass through byte-identical.
  // Policy: every occurrence is excised (the boilerplate reading; a
  // doc that is ALL boilerplate cleans to empty). The keep-first
  // variant joins d11's first_doc in and exempts (doc_id = first_doc)
  // starts — same shuffle shape, one more digest-keyed column.
  def d12_span_removal(s: SparkSession, dir: String): DataFrame = {
    val w = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val g = docSpans(s, dir)
    val rep = g.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("k"))
    val starts = g.join(rep, Seq("k"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ss"))
    w.join(starts, Seq("doc_id"), "left")
      .withColumn("ss", coalesce(col("ss"), expr("CAST(array() AS array<int>)")))
      .withColumn("keep", expr(
        s"filter(sequence(1, size(w)), " +
          s"i -> NOT exists(ss, x -> x <= i AND i <= x + ${SpanN - 1}))"))
      .select(col("doc_id"),
        size(col("w")).cast(LongType).as("n_before"),
        size(col("keep")).cast(LongType).as("n_after"),
        expr("array_join(transform(keep, i -> element_at(w, i)), ' ')")
          .as("cleaned"))
  }

  // Canonical-form exact dedup — d01 with the C4-style normalization
  // real pipelines hash: lowercase, strip non-alphanumerics, collapse
  // runs of spaces, trim. Catches the trivial-variant duplicates
  // (case, punctuation, spacing) that byte-exact hashing misses while
  // staying one narrow map + one digest-keyed shuffle; the patterns
  // are simple classes that Java and RE2 regex dialects agree on.
  def d10_canonical(s: SparkSession, dir: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    t(s, dir, "documents")
      .select(col("doc_id"), canon.as("c"))
      .groupBy(md5(col("c")).as("canon_key"))
      .agg(min(col("doc_id")).as("keeper"),
        count(lit(1)).as("n_variants"))
  }

  /** Posting-size ceiling for [[d02_ngram_jaccard]]'s pair explode.
    * The pair fanout per (lang, shingle) group is quadratic in posting
    * size, so one boilerplate shingle shared by 10⁶ docs would put a
    * 10¹²-struct array in a single task. Postings above the cap are
    * treated as stop-shingles and dropped — the standard recall trade
    * (a pair sharing ONLY ubiquitous shingles is missed; pairs also
    * sharing any discriminative shingle still surface, with `c`
    * undercounted by the dropped commons). Testdata max posting is 14,
    * so the DuckDB oracle (which has no ceiling) stays hash-exact.
    */
  val DefaultMaxPosting: Int = 1000

  // n-gram Jaccard near-dup pairs via the inverted index, posting-list
  // form: group the shingle relation per (lang, sh) into a sorted
  // posting of (doc_id, |doc|) structs, explode the ordered pairs of
  // each posting, and aggregate per pair. Three shuffles total
  // (posting-size pre-pass, posting build, pair agg — doc sizes ride
  // along on the shingle rows, see [[shingles]]), and singleton
  // shingles (size < 2 postings) drop out for free — no self-join of
  // the full shingle relation at all. At corpus scale the safeguard is
  // the posting-size ceiling ([[DefaultMaxPosting]]), which bounds the
  // per-group pair fanout to maxPosting²/2.
  // jaccard = |∩| / (|A|+|B|−|∩|), one double division.
  def d02_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(shingles(s, dir), DefaultMaxPosting)

  /** Pair generation for d02, parameterized on the shingle relation
    * (doc_id, lang, n, sh) — `n` the doc's total shingle count — and
    * the posting-size ceiling, exposed so the skewed-fixture spec can
    * pin the ceiling's recall trade directly.
    */
  private[graft] def ngramJaccardPairs(sh: DataFrame,
                                       maxPosting: Int): DataFrame =
    pairCounts(sh, maxPosting)
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast(DoubleType) /
          (col("na") + col("nb") - col("c")).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= 0.05)

  /** Shared inverted-index pair counting under d02 and d14: per
    * unordered doc pair sharing ≥ 1 shingle posting, the intersection
    * size `c` and both shingle totals. The final projection decides
    * the similarity measure (Jaccard vs containment).
    */
  private def pairCounts(sh: DataFrame, maxPosting: Int): DataFrame = {
    // Ceiling enforced BEFORE collect_list, via a count-only pre-pass:
    // filtering after collection would still build the over-cap
    // posting array in one aggregation buffer (a 10⁹-doc stop-shingle
    // = a 16 GB buffer). Counting first costs one extra exchange of
    // the shingle relation but keeps every buffer O(8 bytes); the
    // collect_list then only ever sees surviving groups, so its
    // arrays are bounded by maxPosting.
    val keep = sh.groupBy(col("lang"), col("sh"))
      .agg(count(lit(1)).as("psize"))
      .filter(col("psize").between(2, maxPosting))
      .select(col("lang"), col("sh"))
    // EXPLICIT width on the posting exchange (same keys as the groupBy,
    // so it IS the aggregation's exchange, not an extra one): the pair
    // explode below fans each posting out to O(maxPosting²/2) rows, so
    // its input partitioning must track COMPUTE (cores), not the
    // posting relation's few shuffled megabytes — AQE's byte-derived
    // coalescing (advisory-size mode) would fold the explode onto one
    // task (measured r19: d02 1.5→2.3 s, d14/d16 likewise, under
    // coalescePartitions.parallelismFirst=false). An explicit width is
    // AQE-proof; the skew ceiling stays [[DefaultMaxPosting]].
    val width = sh.sparkSession.sparkContext.defaultParallelism
    val posting = sh.join(keep, Seq("lang", "sh"), "left_semi")
      .repartition(width, col("lang"), col("sh"))
      .groupBy(col("lang"), col("sh"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
    val pairs = posting.select(explode(expr(
        "flatten(transform(sequence(1, size(ds) - 1), i -> " +
          "transform(sequence(i + 1, size(ds)), j -> " +
          "struct(element_at(ds, i) AS a, element_at(ds, j) AS b))))")).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.n").as("na"), col("p.b.n").as("nb"))
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("c"), max(col("na")).as("na"),
        max(col("nb")).as("nb"))
  }

  /** Containment threshold for [[d14_containment]] — the excerpt /
    * quoted-article detector's gate.
    */
  private val ContainTau = 0.9

  /** Excerpt-planting modulus for [[d14_containment]]: one doc in
    * [[ExcerptMod]] gets a planted half-length excerpt — a sample is
    * enough for structural recall, and it keeps the audit corpus at
    * 1.2× instead of 2× (pair volume scales ~quadratically in the
    * per-posting multiplicity).
    */
  private val ExcerptMod = 5L

  // Containment dedup — the near-dup mode Jaccard MISSES: a short
  // excerpt inside a long original has low Jaccard (union is the big
  // doc) but containment |A∩B| / min(|A|,|B|) ≈ 1 — the
  // quoted-article / extended-rewrite case every curation pipeline
  // also gates on. Corpus is documents plus planted half-length
  // excerpts for every [[ExcerptMod]]-th doc (ids offset by the
  // broadcast max+1 scalar, d01's pattern), so recall on true
  // excerpts is structural; the pair machinery is d02's inverted
  // index (same posting ceiling, same sparse-join scale shape —
  // never O(n²)) over int64 SHINGLE HASHES — postings carry 8-byte
  // keys instead of ~20-char gram strings (hash-before-pair differs
  // from pair-on-strings only on polyHash collisions, ~|shingles|²/2³¹
  // per doc pair; the oracle applies the identical hash, so parity
  // is exact — the d04 stance). The measure is one double division
  // of exact int64 counts.
  def d14_containment(s: SparkSession, dir: String): DataFrame =
    containmentOf(containmentShingles(s, dir), DefaultMaxPosting)

  /** The containment projection shared by [[d14_containment]] and its
    * sharded twin [[d16_containment_sharded]] — one double division of
    * exact int64 counts over a pair-count relation.
    */
  private def containmentOf(pairs: DataFrame): DataFrame =
    pairs
      .select(col("doc_a"), col("doc_b"), col("c"), col("na"), col("nb"),
        (col("c").cast(DoubleType) /
          least(col("na"), col("nb")).cast(DoubleType)).as("containment"))
      .filter(col("containment") >= ContainTau)

  private def containmentOf(sh: DataFrame, maxPosting: Int): DataFrame =
    containmentOf(pairCounts(sh, maxPosting))

  /** d14's audit corpus shingle relation (doc_id, lang, n, sh):
    * documents plus planted half-length excerpts, position-exploded
    * 3-gram int64 hashes, deduped per doc, with the per-doc total
    * riding along.
    */
  private[graft] def containmentShingles(s: SparkSession, dir: String): DataFrame =
    // Session-scoped shared materialization, like every other d-family
    // base relation (doc_shingles, doc_spans13, minhash_sig, …): d14
    // and d16 both derive from this, and the derivation (position
    // explode + hash dedup + two joins) was measured this round as the
    // dominant per-sample cost of BOTH audits at sf0.1 — it was the
    // one base relation still rebuilt per invocation (r18
    // optimization; bench medians measure steady-state over warmed
    // family caches by standing methodology).
    SharedRelations(s, dir, "containment_shingles") {
      containmentShinglesUncached(s, dir)
    }

  private[graft] def containmentShinglesUncached(s: SparkSession,
                                                 dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
    val off = broadcast(d.agg((max(col("doc_id")) + 1L).as("off")))
    val exc = d.filter(col("doc_id") % ExcerptMod === 0L).crossJoin(off)
      .withColumn("w", split(col("text"), " "))
      .select((col("doc_id") + col("off")).as("doc_id"), col("lang"),
        expr("concat_ws(' ', slice(w, 1, greatest(CAST(size(w) / 2 AS INT), 3)))")
          .as("text"))
    val corpus = spread(s, d.unionByName(exc))
    // Codegen'd position explode (TextQueries.gramPositions), NOT the
    // transform-lambda shingle build: the excerpt text is a nested
    // slice/concat expression, and inside an interpreted HOF every
    // element_at(w, ·) re-inlines that whole chain per element (the
    // r10 sf10 lesson) — measured 9.7s per derivation at sf0.1 vs
    // ~1s for this shape. Hash-dedup per doc is d04's pattern: the
    // exchange moves distinct (doc, hash) 16-byte rows.
    def shRel = {
      val hashed = TextQueries.gramPositions(
          corpus.select(col("doc_id"), col("text")), 3)
        .select(col("doc_id"),
          graft.functions.GraftExpressions.polyHash(concat_ws(" ",
            element_at(col("w"), col("i")),
            element_at(col("w"), col("i") + 1),
            element_at(col("w"), col("i") + 2))).as("sh"))
        .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("occ"))
        .select(col("doc_id"), col("sh"))
      val n = hashed.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      hashed.join(n, Seq("doc_id"))
        .join(corpus.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n"), col("sh"))
    }
    shRel
  }

  /** Sentinel shard count meaning "derive S from corpus stats" —
    * see [[autoShards]]. [[d16_containment_sharded]] always derives
    * it; the result is shard-count-invariant — only the peak
    * in-flight pair volume (~1/S) changes. */
  private[graft] val AutoShards = -1

  /** Per-shard candidate-pair budget for [[autoShards]] (spark conf
    * `graft.d16.pairBudget` / env `GRAFT_D16_PAIR_BUDGET`). The
    * default is the measured sf10 envelope: S=16 there put ~2.8·10⁸
    * pairs in flight per shard and completed on a 24 GB heap where
    * the one-shot audit OOM'd (BENCH_NOTES r12); size it to the
    * executor memory/disk actually available.
    */
  private def d16PairBudget(s: SparkSession): Long =
    s.conf.getOption("graft.d16.pairBudget")
      .orElse(sys.env.get("GRAFT_D16_PAIR_BUDGET"))
      .map(_.toLong).getOrElse(300000000L)

  /** The d16 S-dial heuristic, one division per candidate shard
    * count: smallest power-of-2 S (floor 2) whose per-shard pair
    * volume `pairVolume / S` fits `budget`. The floor exists ONLY to
    * keep the sharded machinery exercised when the budget alone would
    * say S=1 (which would degenerate d16 into d14's one-shot audit);
    * 2 is the least S that still runs the multi-shard spill + merge
    * path. It was 4 through r17 — at small SF that bought two extra
    * passes over the PINNED shingle relation for no additional
    * coverage, so the optimization round lowered it (measured r18 at
    * local[32] sf0.1: 6.3s → 6.1s, shuffle records 1.64M → 1.32M —
    * modest locally because the per-sample shingle DERIVATION, not
    * the cached shard passes, dominates there; the un-cached re-scan
    * cost the floor governs is what matters at cluster scale).
    * Calibration against the measured corpus stats: sf0.1 has
    * 3.3·10⁵ capped pairs → 2; sf1 4.4·10⁷ → 2 (22M pairs/shard,
    * well inside the 3·10⁸ budget the S=4 r12 runs proved with 75M);
    * sf10 4.5·10⁹ → 16 — UNCHANGED, the measured envelope that
    * completes where S=1 OOMs.
    */
  private[graft] def autoShards(pairVolume: Long, budget: Long): Int = {
    var s = 2
    while (s < 4096 && pairVolume / s > budget) s *= 2
    s
  }

  /** The SHARDED exact containment audit — the runnable form of the
    * "run the exact audit per-shard at scale" posture d02/d14 document
    * (the r10 verdict's missing piece #3). Exactness: the pair
    * machinery generates pairs per (lang, sh) posting group and sums
    * intersection counts per pair afterwards, so partitioning the
    * SHINGLE-HASH space into S shards keeps every posting group whole
    * (shard key = pmod(sh, S)); per-shard pair counts then sum to
    * exactly the unsharded counts (`na`/`nb` ride along identically in
    * every shard). Each shard is materialized EAGERLY and sequentially
    * (localCheckpoint) before the next starts, so peak memory/spill is
    * ~1/S of d14's — the bounded envelope that completes at sf10 where
    * the one-shot audit OOMs. The trade, recorded: S sequential scans
    * of the shingle relation (it is persisted across shards here, so
    * in practice one derivation + S cached passes). Result is
    * row-identical to [[d14_containment]] — same oracle SQL, and the
    * same cap-parity caveat (oracle is uncapped; parity needs the
    * posting audit to confirm the ceiling inactive).
    */
  def d16_containment_sharded(s: SparkSession, dir: String): DataFrame =
    containmentSharded(containmentShingles(s, dir), DefaultMaxPosting,
      AutoShards, graft.sources.Layouts.tag(dir))

  /** The spill lands in `<layout root>/d16_shards_<S>_<tag>`
    * ([[graft.sources.Layouts]]); at cluster scale point the root at
    * an object-store URI (the paths go through Hadoop's FileSystem
    * API, so any scheme the cluster mounts works). */
  private[graft] def containmentSharded(sh: DataFrame, maxPosting: Int,
                                        shardsSpec: Int, tag: String)
      : DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = sh.sparkSession
    // Pin the shingle relation for the S passes — unless the caller
    // handed us an ALREADY-persisted relation (the shared
    // containment_shingles), whose pin belongs to SharedRelations and
    // must survive this call (an unpersist here would silently turn
    // every later use into a full recompute).
    val callerPinned = sh.storageLevel != StorageLevel.NONE
    val pinned = if (callerPinned) sh else sh.persist(StorageLevel.MEMORY_AND_DISK)
    // AUTO S: one aggregate over the (already pinned) shingle relation
    // measures the exact capped pair volume — Σ n·(n−1)/2 over
    // (lang, sh) posting groups with n ≤ cap, integral arithmetic —
    // and autoShards picks the smallest S whose per-shard volume fits
    // the budget. The stat job doubles as the cache-settling pass the
    // shard loop would otherwise pay.
    val shards =
      if (shardsSpec == AutoShards) {
        val vol = pinned.groupBy(col("lang"), col("sh"))
          .agg(count(lit(1)).as("n"))
          .where(col("n") <= maxPosting)
          .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("v"))
          .head().getLong(0)
        autoShards(vol, d16PairBudget(spark))
      } else shardsSpec
    // Sequential shard jobs, each SPILLED TO STORAGE before the next
    // starts — the production per-shard recipe verbatim: shard outputs
    // land in the object store, the merge is a separate job. Peak
    // executor memory is ONE shard's pair volume (the r11 first cut
    // held every shard's result as an in-memory checkpoint and OOM'd
    // at sf10 exactly like the audit it replaces — S × |pairs| rows
    // pinned; disk is where the cross-shard working set belongs).
    // Two further sf10-measured disciplines: (1) shard outputs carry
    // ONLY (doc_a, doc_b, c) — na/nb are functionally dependent on
    // the doc id, and shipping them through the S-fold-duplicated
    // shard relation and the merge shuffle cost ~40% extra bytes (the
    // |docs|-sized doc-total table below rejoins them after the merge
    // agg); (2) a GC nudge after each shard job lets the
    // ContextCleaner release that job's shuffle files — in one
    // long-lived JVM, S shard jobs' un-collected shuffles otherwise
    // accumulate ~the whole pair volume on local disk (the Bench
    // family-boundary lesson applied per shard). Path keyed by
    // (shard count, input tag): a later call on another SF must not
    // overwrite files an earlier call's LAZY result still reads.
    // The MERGE is envelope-bounded the same way (the second sf10
    // lesson): 16 shards at sf10 hold 4.2·10⁹ partial pair rows —
    // a single cross-shard groupBy would shuffle all of them at once
    // (~40+ GB of spill, over the local disk budget even though each
    // phase-1 job fit). So shard outputs are additionally
    // PARTITIONED BY a pair-slice key (pmod(doc_a, J)), and phase 2
    // runs J sequential slice-merges, each reading only its slice
    // directories and shuffling ~1/J of the pair volume. Peak disk =
    // shards + ONE slice's shuffle. Slicing engages in the ENVELOPE
    // regime only (J = shards/2 at shards ≥ 16, J = 1 below): at the
    // oracle SFs the in-flight merge is cheap, and skipping phase 2's
    // extra write + the per-slice GC nudge keeps the small-SF cost
    // honest.
    val slices = if (shards >= 16) shards / 2 else 1
    val base =
      graft.sources.Layouts.under(spark, s"d16_shards_${shards}_$tag")
    val hconf = spark.sparkContext.hadoopConfiguration
    def exists(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).exists(hp)
    }
    def delete(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).delete(hp, true)
    }
    def runShard(i: Int): Unit = {
      val pc = pairCounts(
        pinned.filter(pmod(col("sh"), lit(shards.toLong)) === i), maxPosting)
        .select(col("doc_a"), col("doc_b"), col("c"))
      if (slices > 1)
        pc.withColumn("slice", pmod(col("doc_a"), lit(slices.toLong)))
          .write.mode("overwrite").partitionBy("slice")
          .parquet(s"$base/shard_$i")
      else pc.write.mode("overwrite").parquet(s"$base/shard_$i")
    }
    (0 until shards).foreach { i =>
      runShard(i)
      // the GC nudge costs ~1s a pop — only worth it in the
      // many-shard envelope regime where stale shuffles actually
      // threaten the disk budget (ContextCleaner frees a shard job's
      // shuffle files only after its objects are collected)
      if (shards > 4) System.gc()
    }
    // per-doc shingle totals (|docs| rows) — written next to the
    // shards so the returned lazy relation never re-derives the
    // shingle explode
    pinned.select(col("doc_id"), col("n")).distinct()
      .write.mode("overwrite").parquet(s"$base/docn")
    if (!callerPinned) pinned.unpersist(false)
    // cross-shard reduce: a pair sharing shingles in k shards appears
    // ≤ k times and c sums exactly
    def mergeOf(paths: Seq[String]) =
      spark.read.parquet(paths: _*)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("c")).as("c"))
    val merged =
      if (slices > 1) {
        // partitionBy only creates directories for slice values that
        // actually OCCUR in a shard's output — on a sparse/skewed
        // corpus a shard can emit no pairs for some slice (or none at
        // all), so each slice-merge reads only the shard/slice dirs
        // that exist (a blind read of an absent path would throw).
        val mergedSlices = (0 until slices).flatMap { j =>
          val ins = (0 until shards).map(i => s"$base/shard_$i/slice=$j")
            .filter(exists)
          if (ins.isEmpty) None
          else {
            mergeOf(ins)
              .write.mode("overwrite").parquet(s"$base/merged/slice_$j")
            System.gc()
            Some(s"$base/merged/slice_$j")
          }
        }
        // merged slices now hold the whole pair volume — drop the
        // shard files so peak disk really is shards + one slice's
        // shuffle, not shards + merged accumulating until a manual
        // cleanup between runs
        (0 until shards).foreach(i => delete(s"$base/shard_$i"))
        if (mergedSlices.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType),
              StructField("c", LongType))))
        else spark.read.parquet(mergedSlices: _*)
      } else
        // lazy single-phase merge: the relation reads the shard dirs
        // directly (an empty non-partitioned write still carries its
        // schema, so no existence filter is needed), which means the
        // shard files must outlive this call — fine at the oracle SFs
        // this branch serves, where the whole pair volume is small
        mergeOf((0 until shards).map(i => s"$base/shard_$i"))
    // doc totals rejoin post-agg (AQE broadcasts the |docs|-sized
    // side when it fits)
    val docN = spark.read.parquet(s"$base/docn")
    containmentOf(merged
      .join(docN.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(docN.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("c"), col("na"), col("nb")))
  }

  // Runtime observability for d02's posting-size ceiling (the
  // no-silent-caps principle, end to end): per lang, how many shingle
  // groups exist, how many are pairable (2..cap), how many the ceiling
  // drops, and how many candidate pairs those drops forgo
  // (psize·(psize−1)/2 per over-cap group — exact int64, the product
  // of consecutive ints is even). On the testdata max_psize = 14 so
  // n_over_cap = 0 — the audit PROVES the ceiling is inactive here;
  // the skewed-fixture spec pins the nonzero case with a tiny cap.
  def d02_posting_audit(s: SparkSession, dir: String): DataFrame =
    postingAudit(shingles(s, dir), DefaultMaxPosting)

  /** Audit relation for [[ngramJaccardPairs]]'s ceiling, parameterized
    * the same way. One posting-size agg + one per-lang rollup — strictly
    * cheaper than d02 itself (no pair explode).
    */
  private[graft] def postingAudit(sh: DataFrame, maxPosting: Int): DataFrame =
    sh.groupBy(col("lang"), col("sh"))
      .agg(count(lit(1)).as("psize"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("psize") === 1, 1L).otherwise(0L)).as("n_singleton"),
        sum(when(col("psize").between(2, maxPosting), 1L).otherwise(0L))
          .as("n_pairable"),
        sum(when(col("psize") > maxPosting, 1L).otherwise(0L)).as("n_over_cap"),
        sum(when(col("psize") > maxPosting,
          expr("psize * (psize - 1) div 2")).otherwise(0L)).as("dropped_pairs"),
        max(col("psize")).as("max_psize"))

  // MinHash + LSH banding: 8 permutation mins per doc, 4 bands of 2 →
  // band-bucket equi-join yields candidate pairs; n_bands = how many
  // bands collided (≥3 ⇒ near-certain near-dup at this signature size).
  /** LSH band rows (doc_id, band, bkey) — 4 bands of 2 minhash mins.
    * The signature relation is cached via SharedRelations (64
    * bytes/doc): every consumer (d03's self-join branches, d13's
    * batch/seen split) reads it instead of re-running the
    * shingle→hash→min aggregation. One posexplode pass generates all
    * 4 band rows per signature — a union of per-band selects would
    * recompute the whole pipeline once per band.
    */
  private[queries] def minhashBands(s: SparkSession, dir: String): DataFrame = {
    val sig = SharedRelations(s, dir, "minhash_sig") {
      // ONE codegen pass, NO intermediate materialization: explode
      // straight off the documents scan, hash, and let the min
      // aggregates' map-side partials collapse 50 shingle rows per doc
      // to one 8-long signature row BEFORE the exchange — the shuffle
      // ships |docs| rows, never |shingles|. Min over a multiset
      // equals min over the set, so skipping [[shingles]]'s
      // array_distinct is bit-identical to the oracle's grouped-min
      // over distinct shingles. What this deliberately does NOT do is
      // reuse the CACHED shingle explode ([[shingles]]): the r10 sf10
      // probe measured that cache's cold build at ~742s (250M rows
      // materialized through MEMORY_AND_DISK, heavy spill), all
      // charged to d03/d13's first run, while this whole-stage-codegen
      // pipeline never stores the exploded rows at all. (A
      // higher-order-function variant — transform + array_min per
      // row, zero shuffle — was measured too: 384s, because lambda
      // evaluation is interpreted per element; the codegen explode +
      // partial-agg form wins.) The cached exploded relation remains
      // where its semantics are the point: d02's postings, d04's
      // distinct-shingle votes.
      // Codegen'd position explode (TextQueries.gramPositions): the
      // transform-built shingle array was a CodegenFallback lambda per
      // element — the position/element_at form is the same rows at
      // ~4.4× the throughput (measured, BENCH_NOTES "interpreted
      // gram explodes").
      val sh = TextQueries.gramPositions(spread(s, t(s, dir, "documents")), 3)
        .select(col("doc_id"), concat_ws(" ",
          element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1),
          element_at(col("w"), col("i") + 2)).as("sh"))
      val h = sh.select(col("doc_id"), TextQueries.polyHash("sh").as("h"))
      val mins = Perms.zipWithIndex.map { case ((a, b), i) =>
        min((col("h") * lit(a) + lit(b)) % lit(P)).as(s"m$i")
      }
      h.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    }
    sig.select(col("doc_id"),
        posexplode(array((0 until 4).map(bnd =>
          concat_ws("_", col(s"m${2 * bnd}"), col(s"m${2 * bnd + 1}"))): _*))
          .as(Seq("band", "bkey")))
      .select(col("doc_id"), col("band").cast("int").as("band"), col("bkey"))
  }

  // The band join is the scale path: signatures are 64 bytes/doc and
  // candidates ≪ n².
  def d03_minhash_lsh(s: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(s, dir)
    bands.toDF("ida", "band", "bkey")
      .join(bands.toDF("idb", "band", "bkey"), Seq("band", "bkey"))
      .filter(col("ida") < col("idb"))
      .groupBy(col("ida").as("doc_a"), col("idb").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Signature width in bits; widens to 64 for a 10⁹-doc corpus. The
    * vote pipeline, banding, and oracle are all width-parametric.
    * (Bit 31 is structurally 0 — polyHash < 2³¹ — so the effective
    * width is 31 bits; harmless, noted for honesty.)
    */
  private val SimhashBits = 32

  /** SimHash signature relation (doc_id, simhash) —
    * [[SimhashBits]]-bit signature from bit votes over the doc's
    * distinct word-3-gram shingle hashes (same 3-gram window as
    * [[shingles]]; derivation is its own codegen pass, see the body
    * note). Features must be shingles, not unigrams: on a templated
    * corpus the shared vocabulary dominates unigram votes and the
    * signatures collapse (measured at sf0.1: 93% of docs landed in ONE
    * band bucket and Hamming ≤ 3 held for 4.77M of 12.5M pairs —
    * saturated; with shingle features the same corpus yields 246 pairs
    * and a max bucket of 65). Docs below one shingle (< 3 words) have
    * no signature — they carry no shingle features, the same boundary
    * d02/d03 draw. Cached: d04 emits it and d07 joins it on both
    * sides; 8 bytes/doc, the cheapest relation in the family.
    */
  private[graft] def simhashSigs(s: SparkSession, dir: String): DataFrame =
    SharedRelations(s, dir, "simhash_sig") {
      // Features are distinct (doc, shingle-HASH) pairs, built from the
      // codegen position explode (TextQueries.gramPositions) — NOT from
      // the cached [[shingles]] relation: the r10 sf10 sweep measured
      // d04 at 720s when it inherited that cache's cold build (250M
      // string rows through MEMORY_AND_DISK — the d03 pathology; d03's
      // rewrite had left d04 the first payer). Here the dedup is a
      // (doc_id, h) aggregate whose map-side partial collapses each
      // doc's repeats fully (a doc's shingles are co-located), so the
      // exchange moves |distinct (doc, h)| 16-byte rows and nothing is
      // cached. Hash-then-distinct vs distinct-then-hash differs only
      // if two of a doc's shingles collide in polyHash (~50²/2³² per
      // doc); the oracle applies the same order, so parity is exact.
      val h = TextQueries.gramPositions(spread(s, t(s, dir, "documents")), 3)
        .select(col("doc_id"), graft.functions.GraftExpressions.polyHash(
          concat_ws(" ",
            element_at(col("w"), col("i")),
            element_at(col("w"), col("i") + 1),
            element_at(col("w"), col("i") + 2))).as("h"))
        .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("occ"))
        .select(col("doc_id"), col("h"))
      val votes = (0 until SimhashBits).map { i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
          .as(s"b$i")
      }
      val fp = (0 until SimhashBits).map { i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
      }.reduce(_ + _)
      h.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
        .select(col("doc_id"), fp.as("simhash"))
    }

  // SimHash signatures: near-dups land within small hamming distance
  // (the pair join is d07; this emits the signature relation itself).
  def d04_simhash(s: SparkSession, dir: String): DataFrame =
    simhashSigs(s, dir)

  /** Bands per signature for [[d07_simhash_hamming]]'s pigeonhole
    * join: 4 bands of [[SimhashBits]]/4 bits. Any pair within Hamming
    * distance [[D07MaxHamming]] (= bands − 1) differs in at most 3
    * bits, so by pigeonhole at least one band is bit-identical —
    * banding loses NO pairs, which the oracle proves by being the
    * direct all-pairs definition while the Spark plan only ever joins
    * within buckets.
    */
  private val D07Bands = 4
  private val D07BandBits = SimhashBits / D07Bands
  private val D07MaxHamming = D07Bands - 1

  // SimHash near-dup pairs at scale: equi-join signatures on (band,
  // band-value) — candidates are bounded by bucket co-occupancy, never
  // O(n²) — then verify with one bit_count(xor) per candidate. The
  // signature (8 bytes) rides the band rows so verification needs no
  // re-join against the corpus; duplicates from multi-band agreement
  // collapse in the final distinct.
  def d07_simhash_hamming(s: SparkSession, dir: String): DataFrame = {
    val sig = simhashSigs(s, dir)
    val bands = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until D07Bands).map(b =>
        shiftright(col("simhash"), D07BandBits * b)
          .bitwiseAND((1 << D07BandBits) - 1)): _*))
        .as(Seq("band", "bval")))
    val a = bands.select(col("doc_id").as("doc_a"), col("simhash").as("sa"),
      col("band"), col("bval"))
    val b = bands.select(col("doc_id").as("doc_b"), col("simhash").as("sb"),
      col("band"), col("bval"))
    a.join(b, Seq("band", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast(LongType)
          .as("hamming"))
      .filter(col("hamming") <= D07MaxHamming)
      .distinct()
  }

  /** Per-dim noise scale for [[d08_embed_neardup]]'s planted copies:
    * `((vec_id + i) % 7 − 3) · 0.002` on unit-norm vectors puts the
    * planted pair at cos ≈ 0.9995 (well above [[D08Tau]]) while every
    * natural pair in the corpus sits below 0.8 — the threshold
    * separates them with two orders of magnitude of margin.
    */
  private val D08NoiseScale = "0.002"
  private val D08Tau = 0.99
  private val D08Tables = 2

  // Embedding-cosine near-dup pairs at scale — the vector twin of d03:
  // the corpus (embeddings unioned with noised re-ingested copies, ids
  // offset — d01's corpus trick in vector space) hashes into
  // D08Tables independent random-hyperplane tables (s02's planes at
  // offsets 0 and 8), candidates come from a (table, bucket)
  // equi-join — never O(n²) — and one exact cosine per candidate
  // keeps pairs ≥ τ. Banding recall is ~97% per the two-table
  // sign-flip odds (a missed pair straddles a hyperplane in BOTH
  // tables); the oracle replicates the banding, so the result is
  // exactly "what two-table LSH finds", hash-checked. Vectors (and
  // norms) ride the band rows: verification needs no re-join.
  def d08_embed_neardup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val base = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    // Re-ingest offset is max(vec_id)+1 (broadcast scalar, like d01) so
    // the planted namespace can never collide with genuine ids at any
    // sf; the noise term keys off the ORIGINAL vec_id either way.
    val off = broadcast(emb.agg((max(col("vec_id")) + 1L).as("off")))
    val pert = emb.crossJoin(off)
      .select((col("vec_id") + col("off")).as("vec_id"),
        expr("transform(embedding, (x, i) -> CAST(x AS DOUBLE) + " +
          s"CAST((vec_id + i) % 7 - 3 AS DOUBLE) * ${D08NoiseScale}D)").as("v"))
    // Persisted: 16 hyperplane projections per row, and both sides of
    // the band self-join read it — ~0.5 KB/vector, cheap to pin.
    val bands = SharedRelations(s, dir, "embed_neardup_bands") {
      base.union(pert)
        .withColumn("nrm", sqrt(dotExpr("v", "v")))
        .select(col("vec_id"), col("v"), col("nrm"),
          posexplode(array((0 until D08Tables).map(tb =>
            SimilarityQueries.bucketColAt("v", dim,
              tb * SimilarityQueries.NBits)): _*))
            .as(Seq("tbl", "bkt")))
    }
    val a = bands.toDF("vec_a", "va", "na", "tbl", "bkt")
    val b = bands.toDF("vec_b", "vb", "nb", "tbl", "bkt")
    a.join(b, Seq("tbl", "bkt"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (graft.functions.GraftExpressions.dot(col("va"), col("vb")) /
          (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= D08Tau)
      .distinct()
  }

  /** Near-dup CLUSTERING — the step a dedup pipeline runs after
    * candidate generation: d03's banded pairs become an undirected
    * graph, connected components assign every document a cluster id
    * (the component's minimum doc_id, via min-label propagation over
    * `rounds` fixed rounds, the SQL-unrollable form — the converged
    * variant is [[graft.graph.GraphOps.connectedComponentsFromSym]]),
    * and the cluster representative is the keeper. Documents with no candidate
    * pair are their own singleton cluster.
    *
    * Scale shape: the pair graph is tiny relative to the corpus
    * (candidates ≪ n² by LSH design), label propagation is one
    * node-keyed join + min-agg per round (g05's shape), and the final
    * assignment is one left join of the corpus against the labels —
    * the whole path stays equi-join/aggregate, no driver loops over
    * data.
    */
  def d06_neardup_clusters(s: SparkSession, dir: String,
                           rounds: Int = NeardupRounds): DataFrame = {
    // Persisted: every propagation round joins against this relation —
    // unpinned, each round would re-run the whole band-join candidate
    // generation (the plan repeats the d03 subtree once per round).
    val sym = SharedRelations(s, dir, "neardup_sym") {
      val pairs = d03_minhash_lsh(s, dir)
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b"), col("doc_a")))
        .distinct()
    }
    // Self-loops make each round a SINGLE join + agg: lab_i(v) =
    // min over u ∈ N(v) ∪ {v} of lab_{i-1}(u), so the previous round's
    // labels are referenced once. The textbook least(own, min-neighbor)
    // form reads them twice — join base and message build — which
    // doubles the unpinned plan per round (2^r copies of the seed
    // subtree by round r; measured as p01's 3.6s composition cost
    // before this rewrite). Result is value-identical; the oracle keeps
    // the least/coalesce formulation as an independent derivation.
    val symLoop = SharedRelations(s, dir, "neardup_symloop") {
      sym.union(
        sym.select(col("u")).distinct().select(col("u"), col("u").as("v")))
    }
    var lab = sym.select(col("u").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster"))
    var i = 0
    while (i < rounds) {
      lab = symLoop.join(lab, symLoop("u") === lab("doc_id"))
        .groupBy(symLoop("v").as("doc_id"))
        .agg(min(col("cluster")).as("cluster"))
      i += 1
    }
    t(s, dir, "documents").select(col("doc_id"))
      .join(lab, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("is_keeper", col("doc_id") === col("cluster"))
  }

  /** Index-based dot product Σ a[i]·b[i] folded left-to-right — the
    * exact same op sequence as the oracle's list_reduce, so the double
    * result is bit-identical. Codegen'd custom expression
    * ([[graft.functions.DotProduct]]).
    */
  private def dotExpr(a: String, b: String): Column =
    graft.functions.GraftExpressions.dot(col(a), col(b))

  // Embedding-cosine nearest neighbor for a fixed query set (vec_id <
  // 100): the brute-force baseline — bounded cross product (|Q|·n), a
  // broadcast of the query side at any scale. The unbounded-scale ANN
  // path is s02's LSH bucketing.
  def d05_embed_nn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = SimilarityQueries.normed(s, dir)
    val q = broadcast(e.filter(col("vec_id") < 100).toDF("qid", "qv", "qn"))
    val cand = q.join(e.toDF("did", "dv", "dn"), col("qid") =!= col("did"))
      .select(col("qid"), col("did"),
        (dotExpr("qv", "dv") / (col("qn") * col("dn"))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("did").asc)
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("qid"), col("did").as("nn_id"), col("cos"))
  }

  /** Oracle twin of [[simhashSigs]] — WITH prefix ending in `sig`,
    * built on the shared [[ShinglesCte]]; `AS MATERIALIZED` because
    * d07's self-join reads it twice.
    */
  private lazy val SimhashCte: String = {
    val votes = (0 until SimhashBits).map(i =>
      s"CAST(SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b$i")
      .mkString(",\n  ")
    val fp = (0 until SimhashBits).map(i =>
      s"(CASE WHEN b$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
       |sh0 AS (SELECT doc_id,
       |  UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
       |  FROM w),
       |h AS (SELECT DISTINCT doc_id, ${TextQueries.polyHashSql("sh")} AS h
       |  FROM sh0),
       |bits AS (SELECT doc_id,
       |  $votes
       |  FROM h GROUP BY doc_id),
       |sig AS MATERIALIZED (SELECT doc_id, $fp AS simhash FROM bits)""".stripMargin
  }

  /** Left-to-right double fold — DuckDB twin of
    * [[graft.functions.DotProduct]].
    */
  private def dotSql(a: String, b: String): String =
    s"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), " +
      s"LIST_TRANSFORM(RANGE(1, LEN($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      s"(acc, x) -> acc + x)"

  /** Oracle twin of [[d08_embed_neardup]] — the banding (tables at
    * plane offsets 0 and NBits) is replicated exactly, so the compare
    * proves the Spark plan finds precisely the two-table-LSH pair set.
    */
  private lazy val D08Oracle: String = {
    val bucketSqls = (0 until D08Tables).map(tb =>
      SimilarityQueries.bucketSqlAt("v", tb * SimilarityQueries.NBits))
    val bandSelects = bucketSqls.zipWithIndex.map { case (_, i) =>
      s"SELECT vec_id, v, nrm, $i AS tbl, b$i AS bkt FROM corpus"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH off AS (SELECT MAX(vec_id) + 1 AS off FROM embeddings),
       |base AS (SELECT vec_id,
       |    LIST_TRANSFORM(RANGE(1, LEN(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE)) AS v
       |  FROM embeddings),
       |pert AS (SELECT vec_id + off AS vec_id,
       |    LIST_TRANSFORM(RANGE(1, LEN(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE) +
       |        CAST((vec_id + i - 1) % 7 - 3 AS DOUBLE) * $D08NoiseScale) AS v
       |  FROM embeddings, off),
       |corpus AS MATERIALIZED (SELECT vec_id, v,
       |    SQRT(${dotSql("v", "v")}) AS nrm,
       |    ${bucketSqls.zipWithIndex.map { case (b, i) => s"$b AS b$i" }
        .mkString(",\n    ")}
       |  FROM (SELECT * FROM base UNION ALL SELECT * FROM pert)),
       |bands AS (
       |  $bandSelects),
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
       |  FROM bands a JOIN bands b
       |    ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id)
       |SELECT DISTINCT vec_a, vec_b, cos FROM p WHERE cos >= $D08Tau""".stripMargin
  }

  private def permMinSql(i: Int): String = {
    val (a, b) = Perms(i)
    s"MIN((h * $a + $b) % $P) AS m$i"
  }

  /** Shingle→minhash-signature→band CTE prefix shared by the d03 and
    * d06 oracles.
    */
  private[queries] lazy val BandsCte: String = ShinglesCte + s""",
    |h AS (SELECT doc_id, ${TextQueries.polyHashSql("sh")} AS h FROM s),
    |sig AS (SELECT doc_id, ${(0 until 8).map(permMinSql).mkString(", ")}
    |  FROM h GROUP BY doc_id),
    |bands AS (
    |${(0 until 4).map(b =>
      s"  SELECT doc_id, $b AS band, CAST(m${2 * b} AS VARCHAR) || '_' || " +
        s"CAST(m${2 * b + 1} AS VARCHAR) AS bkey FROM sig")
      .mkString("\n  UNION ALL\n")})""".stripMargin

  /** Unrolled label-propagation CTE prefix ending in `l{rounds}` —
    * `AS MATERIALIZED` per round like the graph-family oracles (plain
    * CTEs inline per reference in DuckDB; see [[GraphQueries]]'s
    * EdgesCte note). Shared by the d06 oracle and the curation
    * pipeline's ([[PipelineQueries]]) keeper gate.
    */
  private[queries] def neardupLabelsCte(rounds: Int): String = {
    val sb = new StringBuilder(BandsCte)
    sb.append(""",
      |pairs AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |l0 AS MATERIALIZED (SELECT DISTINCT u AS doc_id, u AS cluster FROM sym)""".stripMargin)
    for (i <- 1 to rounds) {
      val p = i - 1
      sb.append(s""",
        |m$i AS MATERIALIZED (SELECT sym.v AS doc_id, MIN(l.cluster) AS nbr
        |  FROM sym JOIN l$p l ON sym.u = l.doc_id GROUP BY sym.v),
        |l$i AS MATERIALIZED (SELECT l.doc_id,
        |  LEAST(l.cluster, COALESCE(m$i.nbr, l.cluster)) AS cluster
        |  FROM l$p l LEFT JOIN m$i ON l.doc_id = m$i.doc_id)""".stripMargin)
    }
    sb.toString
  }

  /** Rounds the registered d06 query runs (and p01 inherits). */
  private[queries] val NeardupRounds = 3

  // Quality-aware cluster keeper — what production dedup actually
  // retains: d06 keeps the MIN-ID doc per near-dup cluster (stable,
  // arbitrary); this variant keeps the LONGEST doc (ties → min id),
  // the "best representative" policy curation pipelines apply so the
  // kept corpus doesn't systematically prefer whichever copy was
  // crawled first. Composes d06's converged labels (shared persisted
  // relations — no re-derivation) with a doc-keyed token-count join;
  // the per-cluster argmax is a window under a TOTAL order, so the
  // keeper is deterministic and the whole policy is one oracle-checked
  // relation.
  def d15_quality_keeper(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = d06_neardup_clusters(s, dir)
      .select(col("doc_id"), col("cluster"))
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    val wc = Window.partitionBy(col("cluster"))
    lab.join(toks, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(wc))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("keeper"),
        col("n_tokens").as("keeper_tokens"), col("n_members"))
  }

  private def neardupClustersOracle(rounds: Int): String =
    neardupLabelsCte(rounds) + s"""
      |SELECT d.doc_id, COALESCE(l$rounds.cluster, d.doc_id) AS cluster,
      |  d.doc_id = COALESCE(l$rounds.cluster, d.doc_id) AS is_keeper
      |FROM documents d LEFT JOIN l$rounds ON d.doc_id = l$rounds.doc_id""".stripMargin

  /** The uncapped containment-audit oracle shared by d14 and d16 —
    * the direct pair definition over the excerpt-planted corpus.
    */
  private lazy val ContainmentOracleSql: String = s"""
    |WITH base AS (SELECT doc_id, lang, text FROM documents),
    |off AS (SELECT MAX(doc_id) + 1 AS off FROM base),
    |exc AS (SELECT doc_id + off AS doc_id, lang,
    |    ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:GREATEST(
    |      LEN(STRING_SPLIT(text, ' ')) // 2, 3)], ' ') AS text
    |  FROM base, off WHERE doc_id % $ExcerptMod = 0),
    |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM exc),
    |w AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS w FROM corpus),
    |s AS (SELECT doc_id, lang,
    |  UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
    |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
    |  FROM w WHERE LEN(w) >= 3),
    |s2 AS (SELECT DISTINCT doc_id, lang, ${TextQueries.polyHashSql("sh")} AS sh
    |  FROM s),
    |n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM s2 GROUP BY 1),
    |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    |    CAST(COUNT(*) AS BIGINT) AS c
    |  FROM s2 a JOIN s2 b ON a.sh = b.sh AND a.lang = b.lang
    |    AND a.doc_id < b.doc_id
    |  GROUP BY 1, 2)
    |SELECT doc_a, doc_b, c, na.n AS na, nb.n AS nb,
    |  CAST(c AS DOUBLE) / CAST(LEAST(na.n, nb.n) AS DOUBLE) AS containment
    |FROM inter
    |JOIN n na ON na.doc_id = doc_a
    |JOIN n nb ON nb.doc_id = doc_b
    |WHERE CAST(c AS DOUBLE) / CAST(LEAST(na.n, nb.n) AS DOUBLE)
    |  >= $ContainTau""".stripMargin

  val oracle: Map[String, String] = Map(
    "d09_incremental" -> s"""
      |SELECT MD5(d.text) AS content_key, d.doc_id
      |FROM documents d
      |WHERE d.source = '$IncrementalBatch' AND NOT EXISTS (
      |  SELECT 1 FROM documents s
      |  WHERE s.source <> '$IncrementalBatch' AND MD5(s.text) = MD5(d.text))""".stripMargin,
    "d10_canonical" ->
      """SELECT MD5(c) AS canon_key, MIN(doc_id) AS keeper,
        |  COUNT(*) AS n_variants
        |FROM (SELECT doc_id,
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS c
        |  FROM documents)
        |GROUP BY 1""".stripMargin,
    "d11_repeated_spans" -> s"""
      |WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w
      |  FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= $SpanN),
      |g AS (SELECT doc_id,
      |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - ${SpanN - 2}),
      |      i -> ARRAY_TO_STRING(w[i:i+${SpanN - 1}], ' '))) AS g
      |  FROM w)
      |SELECT MD5(g) AS span_key, CAST(COUNT(*) AS BIGINT) AS n_occ,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  MIN(doc_id) AS first_doc
      |FROM g GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,
    "d12_span_removal" -> s"""
      |WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, u.i AS pos,
      |    ARRAY_TO_STRING(w[u.i:u.i+${SpanN - 1}], ' ') AS g
      |  FROM w, UNNEST(RANGE(1, LEN(w) - ${SpanN - 2})) AS u(i)
      |  WHERE LEN(w) >= $SpanN),
      |rep AS (SELECT MD5(g) AS k FROM g GROUP BY 1 HAVING COUNT(*) >= 2),
      |starts AS (SELECT g.doc_id, LIST(g.pos ORDER BY g.pos) AS ss
      |  FROM g JOIN rep ON MD5(g.g) = rep.k GROUP BY 1),
      |clean AS (SELECT w.doc_id,
      |    CAST(LEN(w.w) AS BIGINT) AS n_before, w.w AS w,
      |    LIST_FILTER(RANGE(1, LEN(w.w) + 1),
      |      i -> LEN(LIST_FILTER(COALESCE(s.ss, []),
      |        x -> x <= i AND i <= x + ${SpanN - 1})) = 0) AS keep
      |  FROM w LEFT JOIN starts s ON w.doc_id = s.doc_id)
      |SELECT doc_id, n_before, CAST(LEN(keep) AS BIGINT) AS n_after,
      |  -- COALESCE: DuckDB's ARRAY_TO_STRING of an empty list is NULL,
      |  -- Spark's array_join is '' (a fully-excised doc hits this)
      |  COALESCE(ARRAY_TO_STRING(LIST_TRANSFORM(keep, i -> w[i]), ' '), '')
      |    AS cleaned
      |FROM clean""".stripMargin,
    "d01_exact" ->
      """WITH off AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + off, text FROM documents, off)
        |SELECT MD5(text) AS content_key, MIN(doc_id) AS keeper,
        |  COUNT(*) AS n_copies
        |FROM corpus GROUP BY 1""".stripMargin,
    "d02_ngram_jaccard" -> (ShinglesCte + """,
      |n AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      |  FROM s a JOIN s b ON a.sh = b.sh AND a.lang = b.lang
      |    AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE) AS jaccard
      |FROM inter
      |JOIN n na ON na.doc_id = doc_a
      |JOIN n nb ON nb.doc_id = doc_b
      |WHERE CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE) >= 0.05""".stripMargin),
    // the posting ceiling is provably inactive on this corpus
    // (posting-audit max_psize ≤ 28 with the doubled corpus, cap
    // DefaultMaxPosting = 1000), so the oracle is the direct uncapped
    // definition — d02's stance. Oracle parity for the capped Spark
    // side (d02/d14/d15) holds ONLY on corpora where the posting
    // audit confirms n_over_cap = 0; past that (e.g. sf10, where
    // postings exceed the cap) the uncapped oracle diverges by
    // design and the drop audit is the contract instead.
    "d15_quality_keeper" -> (neardupLabelsCte(NeardupRounds) + s""",
      |lab AS (SELECT d.doc_id,
      |    COALESCE(l$NeardupRounds.cluster, d.doc_id) AS cluster,
      |    CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents d
      |  LEFT JOIN l$NeardupRounds ON d.doc_id = l$NeardupRounds.doc_id),
      |r AS (SELECT cluster, doc_id, n_tokens,
      |    ROW_NUMBER() OVER (PARTITION BY cluster
      |      ORDER BY n_tokens DESC, doc_id ASC) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members
      |  FROM lab)
      |SELECT cluster, doc_id AS keeper, n_tokens AS keeper_tokens,
      |  n_members
      |FROM r WHERE rn = 1""".stripMargin),
    "d14_containment" -> ContainmentOracleSql,
    // the sharded audit computes the IDENTICAL relation (sharding the
    // shingle-hash space keeps posting groups whole; per-shard counts
    // sum exactly), so one SQL text checks both implementations — the
    // g11/g12 stance
    "d16_containment_sharded" -> ContainmentOracleSql,
    "d02_posting_audit" -> (ShinglesCte + s""",
      |p AS (SELECT lang, sh, COUNT(*) AS psize FROM s GROUP BY 1, 2)
      |SELECT lang, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN psize = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
      |  CAST(SUM(CASE WHEN psize BETWEEN 2 AND $DefaultMaxPosting THEN 1 ELSE 0 END) AS BIGINT) AS n_pairable,
      |  CAST(SUM(CASE WHEN psize > $DefaultMaxPosting THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
      |  CAST(SUM(CASE WHEN psize > $DefaultMaxPosting THEN psize * (psize - 1) // 2 ELSE 0 END) AS BIGINT) AS dropped_pairs,
      |  MAX(psize) AS max_psize
      |FROM p GROUP BY lang""".stripMargin),
    "d03_minhash_lsh" -> (BandsCte + """
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
      |FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |GROUP BY 1, 2""".stripMargin),
    "d13_incremental_neardup" -> (BandsCte + s"""
      |SELECT d.doc_id,
      |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hit_bands,
      |  COALESCE(h.n, 0) = 0 AS admitted
      |FROM documents d LEFT JOIN (
      |  SELECT b.doc_id, COUNT(*) AS n FROM bands b
      |  WHERE EXISTS (
      |    SELECT 1 FROM bands sb JOIN documents sd ON sb.doc_id = sd.doc_id
      |    WHERE sd.source <> '$IncrementalBatch'
      |      AND sb.band = b.band AND sb.bkey = b.bkey)
      |  GROUP BY 1) h ON d.doc_id = h.doc_id
      |WHERE d.source = '$IncrementalBatch'""".stripMargin),
    "d06_neardup_clusters" -> neardupClustersOracle(NeardupRounds),
    "d04_simhash" -> (SimhashCte + "\nSELECT doc_id, simhash FROM sig"),
    "d07_simhash_hamming" -> (SimhashCte + s"""
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= $D07MaxHamming""".stripMargin),
    "d08_embed_neardup" -> D08Oracle,
    "d05_embed_nn" -> {
      def dot(a: String, b: String) =
        s"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), " +
          s"LIST_TRANSFORM(RANGE(1, LEN($a) + 1), " +
          s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
          s"(acc, x) -> acc + x)"
      s"""WITH e AS (SELECT vec_id, embedding,
         |    SQRT(${dot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |p AS (SELECT q.vec_id AS qid, d.vec_id AS did,
         |    ${dot("q.embedding", "d.embedding")} / (q.nrm * d.nrm) AS cos
         |  FROM e q JOIN e d ON q.vec_id < 100 AND q.vec_id <> d.vec_id)
         |SELECT qid, did AS nn_id, cos FROM (
         |  SELECT qid, did, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, did ASC) AS rn
         |  FROM p) WHERE rn = 1""".stripMargin
    },
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact" -> (d01_exact _),
    "d02_ngram_jaccard" -> (d02_ngram_jaccard _),
    "d14_containment" -> (d14_containment _),
    "d16_containment_sharded" -> (d16_containment_sharded _),
    "d15_quality_keeper" -> (d15_quality_keeper _),
    "d02_posting_audit" -> (d02_posting_audit _),
    "d03_minhash_lsh" -> (d03_minhash_lsh _),
    "d04_simhash" -> (d04_simhash _),
    "d05_embed_nn" -> (d05_embed_nn _),
    "d06_neardup_clusters" -> ((s, d) => d06_neardup_clusters(s, d, NeardupRounds)),
    "d07_simhash_hamming" -> (d07_simhash_hamming _),
    "d08_embed_neardup" -> (d08_embed_neardup _),
    "d09_incremental" -> (d09_incremental _),
    "d13_incremental_neardup" -> (d13_incremental_neardup _),
    "d10_canonical" -> (d10_canonical _),
    "d11_repeated_spans" -> (d11_repeated_spans _),
    "d12_span_removal" -> (d12_span_removal _),
  )
}
