package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{Blooms, Hashing}
import graft.operators.CacheScope

/**
 * Deduplication operators for large-scale text corpora — the four
 * standard tiers, each shaped for 100 TB:
 *
 *  - exact       : hash-groupBy on the md5 digest (16-byte shuffle key,
 *                  never the document body),
 *  - MinHash+LSH : shingle → minhash signature → banded bucket join; the
 *                  join key is (band, signature slice), so candidate
 *                  generation is one shuffle on small keys and never
 *                  compares documents pairwise across the corpus,
 *  - SimHash     : 60-bit fingerprint, banded for hamming-radius lookup,
 *  - n-gram Jaccard: exact verification over LSH candidates only
 *                  (O(candidates), not O(n^2)).
 *
 * Everything is built-in codegen'd expressions (no UDFs); per-document
 * work is proportional to token count. Hash arithmetic lives in
 * [[graft.functions.Hashing]] and is bit-identical to the DuckDB oracle.
 */
object Dedup {

  /** Whitespace tokens (keeps multiplicity, drops empties). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Distinct word k-shingles, space-joined. Documents with fewer than k
   * tokens produce an empty array (callers filter them). */
  def shingles(text: Column, k: Int): Column =
    shinglesFromTokens(tokens(text), k)

  /** Shingles from a pre-tokenized column. Pass an attribute (aliased
   * column) — `toks` is referenced per shingle index, so an inline
   * tokenizer expression would re-split the text per shingle. */
  def shinglesFromTokens(toks: Column, k: Int): Column =
    // guard: Spark's sequence(0, n) DESCENDS when n < 0, so short docs
    // must short-circuit to an empty array, not a bogus sequence
    when(size(toks) >= k,
      array_distinct(
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(k))))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** 31-bit-reduced per-token hashes — md5 each token ONCE; alias the
   * result before feeding [[shingleHashesFromTokenHashes]]. */
  def tokenHashes31(toks: Column): Column =
    transform(toks, t => pmod(Hashing.h60(t), lit(Hashing.P)))

  /** POSITIONAL k-gram hash sequence (no dedup — order preserved) from
   * aliased token hashes; the winnowing input. */
  def shingleHashSeq(hs: Column, k: Int): Column =
    when(size(hs) >= k,
      transform(sequence(lit(0), size(hs) - k), i =>
        // pmod INSIDE the fold: un-reduced, the polynomial reaches
        // ~P·31^(k−1) and wraps Long at k≥8 — silently diverging from
        // the true mod-P value (and from DuckDB, which errors instead).
        // Interleaved reduction keeps every intermediate < 2^36 and is
        // value-identical for the small k where no overflow occurred.
        (0 until k).map(j => element_at(hs, i + lit(j + 1)))
          .reduce((acc, h) => pmod(acc * 31 + h, lit(Hashing.P)))))
      .otherwise(array().cast(ArrayType(LongType)))

  /** Winnowing (Schleimer/Wilkerson/Aiken): slide a window of `w` over
   * the positional k-gram hashes, keep each window's minimum — a robust
   * local fingerprint set guaranteeing shared fingerprints for any
   * sufficiently long shared substring. `grams` MUST be an aliased
   * attribute. */
  def winnowing(grams: Column, w: Int): Column =
    when(size(grams) >= w,
      array_distinct(
        transform(sequence(lit(0), size(grams) - w), i =>
          array_min(slice(grams, i + lit(1), lit(w))))))
      .otherwise(array_distinct(grams))

  /**
   * Distinct shingle hashes from pre-computed token hashes (MUST be an
   * aliased attribute — referenced k times per shingle): a k-shingle's
   * hash is the polynomial `((h1*31 + h2)*31 + h3) mod P`. This costs k
   * md5s per *token* instead of one md5 per *shingle string* (which
   * also re-concatenates k words each) — ~5x less hashing per corpus
   * pass. Collisions live in 31-bit space but are identical in the
   * DuckDB oracle (same formula), so comparisons stay exact.
   */
  def shingleHashesFromTokenHashes(hs: Column, k: Int): Column =
    when(size(hs) >= k,
      array_distinct(
        transform(sequence(lit(0), size(hs) - k), i =>
          // interleaved pmod — see shingleHashSeq: overflow-safe for any
          // k, value-identical where the un-reduced fold didn't overflow
          (0 until k).map(j => element_at(hs, i + lit(j + 1)))
            .reduce((acc, h) => pmod(acc * 31 + h, lit(Hashing.P))))))
      .otherwise(array().cast(ArrayType(LongType)))

  /** MinHash signature: for each permutation j, min over shingle hashes
   * of (a_j * (h mod P) + b_j) mod P — the native one-pass
   * [[graft.functions.MinHashSig]] codegen expression (the unrolled
   * `array(array_min(transform(...)) x k)` form it replaces traversed
   * and copied the array once per permutation). */
  def minhashSignature(hashes: Column, perms: Seq[(Long, Long)]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.graft.ColumnBridge.expression(hashes), perms))

  /** The pre-native unrolled formulation, kept as the reference the
   * spec cross-checks the expression against. */
  private[graft] def minhashSignatureUnrolled(hashes: Column,
                                              perms: Seq[(Long, Long)]): Column =
    array(perms.map { case (a, b) =>
      array_min(transform(hashes, h =>
        pmod(lit(a) * pmod(h, lit(Hashing.P)) + lit(b), lit(Hashing.P))))
    }: _*)

  /** LSH bands: split the signature into `bands` slices of `rows`; each
   * becomes a (band index, joined-values key) struct. */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        concat_ws(",", slice(sig, b * rows + lit(1), lit(rows))).as("bkey")))

  /**
   * MinHash-LSH candidate pairs: documents sharing at least one band.
   * Returns (idA, idB, n_matching) with idA < idB, where n_matching is
   * the number of equal signature positions (estimated Jaccard =
   * n_matching / perms.size — exact integer, engine-portable).
   */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numPerms: Int = 16,
                        bands: Int = 4)(implicit scope: CacheScope): DataFrame = {
    // bands > numPerms gives zero-row bands (every bucket key empty →
    // the banded join degenerates to the full cross product this
    // operator exists to avoid); a non-divisor silently drops trailing
    // signature positions
    require(bands >= 1 && bands <= numPerms && numPerms % bands == 0,
      s"bands ($bands) must divide numPerms ($numPerms)")
    val perms = Hashing.minhashPerms(numPerms)
    val rows = numPerms / bands
    // alias boundary: materialize the shingle hashes ONCE per row before
    // the signature references them 16 times — without it the md5 subtree
    // is inlined per permutation (a 16x recompute; CollapseProject keeps
    // multi-referenced non-cheap aliases in their own projection)
    // The signature table is materialized (scope-persisted) before the
    // banded self-join: both join sides reuse one tokenize+hash pass —
    // the standard "build the signature table first" LSH shape. It is
    // tiny relative to the corpus (id + 16 longs per doc) and spills to
    // disk if it ever isn't; the caller's CacheScope owns its lifetime.
    val sigs = scope.persist(df
      .select(col(idCol).as("_id"), tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= k)
      .select(col("_id"), tokenHashes31(col("_t")).as("_th"))
      .select(col("_id"), shingleHashesFromTokenHashes(col("_th"), k).as("_h"))
      .select(col("_id"), minhashSignature(col("_h"), perms).as("_sig")))
    val banded = sigs.select(col("_id"), col("_sig"),
      explode(lshBands(col("_sig"), bands, rows)).as("_b"))
      .select(col("_id"), col("_sig"), col("_b.band"), col("_b.bkey"))
    val a = banded.select(col("band"), col("bkey"),
      col("_id").as("ida"), col("_sig").as("siga"))
    val b = banded.select(col("band"), col("bkey"),
      col("_id").as("idb"), col("_sig").as("sigb"))
    a.join(b, Seq("band", "bkey")).filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        aggregate(sequence(lit(1), lit(numPerms)), lit(0),
          (acc, j) => acc + when(
            element_at(col("siga"), j) === element_at(col("sigb"), j), 1)
            .otherwise(0)).as("n_matching"))
      .groupBy("ida", "idb").agg(max("n_matching").as("n_matching"))
  }

  /** SimHash from pre-computed token hashes — the native codegen'd
   * [[graft.functions.SimHash60]] expression: one array pass bumping 60
   * primitive counters per element (the unrolled-`aggregate` form it
   * replaces traversed the array once PER BIT with boxed lambda
   * accumulators; results are bit-identical, d3's oracle still
   * hash-matches). Also registered as SQL `graft_simhash60` via
   * [[graft.GraftExtensions]]. */
  def simhashFromHashes(hs: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SimHash60(
        org.apache.spark.sql.graft.ColumnBridge.expression(hs)))

  /** The pre-native unrolled formulation, kept as the reference
   * implementation the spec cross-checks the expression against. */
  private[graft] def simhashFromHashesUnrolled(hs: Column): Column = {
    val bits = (0 until 60).map { i =>
      val bitSum = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, i) % 2 === 1, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup pairs: bucket by 4 bands of 15 bits (a pair within
   * hamming radius 3 of the 60-bit space shares at least one band by
   * pigeonhole), verify with exact hamming <= maxHamming.
   *
   * RECALL CONTRACT: the pigeonhole guarantee covers radius ≤ 3 only.
   * With maxHamming > 3, pairs at distance 4..maxHamming are reported
   * IF they happen to share a band, silently absent otherwise — the
   * standard banded-LSH recall trade (the oracle mirrors the same
   * banding, so verification is exact over the candidates either way).
   * Callers needing guaranteed recall at larger radii must raise the
   * band count, not just maxHamming.
   */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 16)(implicit scope: CacheScope): DataFrame = {
    // materialized once; both self-join sides reuse it (see
    // minhashCandidates for the rationale)
    val sh = scope.persist(df
      .select(col(idCol).as("_id"),
        transform(tokens(col(textCol)), t => Hashing.h60(t)).as("_hs"))
      .select(col("_id"), simhashFromHashes(col("_hs")).as("_sh")))
    val banded = sh.select(col("_id"), col("_sh"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        pmod(shiftright(col("_sh"), b * 15), lit(32768L)).as("bkey"))): _*))
        .as("_b"))
      .select(col("_id"), col("_sh"), col("_b.band"), col("_b.bkey"))
    val a = banded.select(col("band"), col("bkey"),
      col("_id").as("ida"), col("_sh").as("sha"))
    val b = banded.select(col("band"), col("bkey"),
      col("_id").as("idb"), col("_sh").as("shb"))
    a.join(b, Seq("band", "bkey")).filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"), hamming(col("sha"), col("shb")).as("hamming"))
      .groupBy("ida", "idb").agg(min("hamming").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact word-k-gram Jaccard for candidate pairs: join shingle-hash
   * sets back and intersect — O(candidates), the verification stage
   * after LSH. `pairs` must have columns (ida, idb). */
  def jaccardVerify(pairs: DataFrame, df: DataFrame, idCol: String,
                    textCol: String, k: Int = 3): DataFrame = {
    val sets = df
      .select(col(idCol).as("_id"), tokens(col(textCol)).as("_t"))
      .select(col("_id"), tokenHashes31(col("_t")).as("_th"))
      .select(col("_id"), shingleHashesFromTokenHashes(col("_th"), k).as("_set"))
    pairs
      .join(sets.select(col("_id").as("ida"), col("_set").as("seta")), "ida")
      .join(sets.select(col("_id").as("idb"), col("_set").as("setb")), "idb")
      .withColumn("_i", size(array_intersect(col("seta"), col("setb"))))
      .select(col("ida"), col("idb"),
        (col("_i").cast(DoubleType) /
          (size(col("seta")) + size(col("setb")) - col("_i")).cast(DoubleType))
          .as("jaccard"))
  }

  /**
   * Decontamination: find training documents sharing at least
   * `minShared` distinct k-shingles with any benchmark document — the
   * train/eval overlap scan every serious corpus pipeline runs.
   *
   * Shape: an inverted index on shingle hashes (explode + equi-join),
   * with shingles occurring in more than `maxDf` documents dropped
   * first — both the standard practice (ubiquitous n-grams are not
   * contamination evidence) and the skew mitigation (hot shingles would
   * otherwise concentrate the join on a few reducers).
   */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
                    benchPred: Column, k: Int = 3, minShared: Int = 5,
                    maxDf: Int = 10)(implicit scope: CacheScope): DataFrame = {
    // the hashed table feeds two consumers (the df-count aggregation and
    // the rare-join probe side) — materialize the expensive
    // tokenize+hash pass once, like the sibling LSH operators
    val hashed = scope.persist(df
      .select(col(idCol).as("_id"), benchPred.as("_bench"),
        tokens(col(textCol)).as("_t"))
      .select(col("_id"), col("_bench"), tokenHashes31(col("_t")).as("_th"))
      .select(col("_id"), col("_bench"),
        shingleHashesFromTokenHashes(col("_th"), k).as("_h")))
    val sh = hashed.select(col("_id"), col("_bench"),
      explode(col("_h")).as("h"))
    val rare = sh.groupBy("h")
      .agg(count(lit(1)).as("_df")) // hashes are distinct per doc
      .filter(col("_df") <= maxDf)
      .select("h")
    // the rare-filtered postings feed BOTH the bench and the train side;
    // persist them (small — rare shingles only, df <= maxDf) so the
    // explode → df-count → join subtree derives exactly once instead of
    // once per side (exchange reuse does not catch it: the two
    // consumers filter before their next shuffle)
    val filt = scope.persist(sh.join(rare, "h"))
    val bench = filt.filter(col("_bench")).select(col("h"), col("_id").as("bench_id"))
    val train = filt.filter(!col("_bench")).select(col("h"), col("_id").as("train_id"))
    bench.join(train, "h")
      .groupBy("bench_id", "train_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * Bloom-pruned decontamination — the ASYMMETRIC variant of
   * [[decontaminate]] for the common real shape: a small benchmark
   * suite against a huge training corpus. The bench side's (df-capped)
   * shingle hashes compile into a broadcast Bloom filter; train-side
   * shingles are pruned by `might_contain` BEFORE the join shuffle, so
   * the shuffle carries ~|bench shingles| worth of train postings
   * instead of the whole corpus's. No df-aggregation ever runs over the
   * train side (d5's inverted-index variant pays one). Bloom false
   * positives survive the prune and die in the exact join — the result
   * is bit-identical to the unpruned plan, so the oracle is the plain
   * exact-overlap SQL.
   */
  def decontaminateBloom(df: DataFrame, idCol: String, textCol: String,
                         benchPred: Column, k: Int = 3, minShared: Int = 3,
                         benchMaxDf: Int = 10, numBits: Long = 1L << 22)
                        (implicit scope: CacheScope): DataFrame = {
    val hashed = scope.persist(df
      .select(col(idCol).as("_id"), benchPred.as("_bench"),
        tokens(col(textCol)).as("_t"))
      .select(col("_id"), col("_bench"), tokenHashes31(col("_t")).as("_th"))
      .select(col("_id"), col("_bench"),
        shingleHashesFromTokenHashes(col("_th"), k).as("_h")))
    val benchSh = hashed.filter(col("_bench"))
      .select(col("_id").as("bench_id"), explode(col("_h")).as("h"))
    // df cap on the BENCH side only (it is small, the count is cheap):
    // bounds join fanout the way d5's corpus-wide rare-filter does
    val keep = benchSh.groupBy("h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= benchMaxDf).select("h")
    val bench = scope.persist(benchSh.join(keep, "h"))
    val bloom = Blooms.build(bench, col("h"),
      expectedItems = math.max(1L, numBits / 16), numBits = numBits)
    val train = hashed.filter(!col("_bench"))
      .select(col("_id").as("train_id"), explode(col("_h")).as("h"))
      .filter(if (bloom == null) lit(false) else Blooms.mightContain(bloom, col("h")))
    bench.join(train, "h")
      .groupBy("bench_id", "train_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * Connected components over near-duplicate candidate pairs — the
   * pairs→groups step that turns LSH output into actionable clusters
   * (cluster id = smallest doc id in the component; a dedup pass keeps
   * that representative and drops the rest).
   *
   * Algorithm: iterative min-label propagation. Each round is one
   * shuffle join (symmetric edges ⋈ labels) and one shuffle aggregation
   * (min label per node); the label frame is `localCheckpoint`ed per
   * round so lineage stays O(1) across iterations instead of growing a
   * plan per round. Rounds needed = component diameter; LSH components
   * are band-bucket near-cliques, so 2-3 rounds close them in practice
   * (a 100 TB corpus with adversarially long duplicate chains would want
   * the large-star/small-star variant, which this loop's edge/label
   * representation is the direct substrate for). Convergence is detected
   * by the label SUM: labels only ever decrease, so the sum strictly
   * decreases iff any label changed — one O(1) aggregate per round, no
   * change-count join.
   *
   * Input must have columns (ida, idb); output is (node, label) with one
   * row per distinct id appearing in any pair.
   */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 25)
                       (implicit scope: CacheScope): DataFrame = {
    val edges = scope.persist(
      pairs.select(col("ida").as("u"), col("idb").as("v"))
        .union(pairs.select(col("idb").as("u"), col("ida").as("v")))
        .distinct())
    var labels = edges.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    // sum over an empty label frame is NULL (an LSH run with zero
    // candidate pairs) — coalesce so the empty case converges to the
    // empty (node,label) frame instead of NPEing, like the star variant
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("label"), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      labels = edges
        .join(labels.select(col("node").as("v"), col("label").as("vl")), "v")
        .select(col("u"), col("vl"))
        .union(labels.select(col("node").as("u"), col("label").as("vl")))
        .groupBy(col("u").as("node")).agg(min("vl").as("label"))
        .localCheckpoint()
      val sumNow = labelSum(labels)
      converged = sumNow == prevSum
      prevSum = sumNow
      iter += 1
    }
    require(converged, s"duplicateClusters did not converge in $maxIters rounds")
    labels
  }

  /**
   * Connected components by alternating large-star / small-star
   * contraction — the scale path for components whose diameter is not
   * small. [[duplicateClusters]] needs rounds = component diameter
   * (fine for LSH band-bucket near-cliques); an adversarially chained
   * corpus (A~B~C~... with no short-cuts) would need thousands of
   * min-label rounds, while star contraction closes any component in
   * O(log^2 n) alternations regardless of diameter.
   *
   * Each round is two shuffle-aggregate + shuffle-join passes over the
   * edge list only (no separate label frame):
   *  - large-star: every neighbor v > u links to m(u) = min(N(u) u {u}),
   *    over the symmetric adjacency;
   *  - small-star: on the (big, small)-oriented output, every smaller
   *    neighbor and u itself link to m(u) = min of u's smaller neighbors.
   * Both only ever re-point edges at neighborhood minima, so endpoint
   * sums are non-increasing; convergence is detected by an O(1)
   * (count, sum(u), sum(v)) fingerprint and then *proven* by two cheap
   * structural aggregates (out-degree 1, no two-level chains) — the loop
   * never trusts the fingerprint alone.
   *
   * Input must have columns (ida, idb); output is (node, label) with one
   * row per distinct id appearing in any pair — identical to
   * [[duplicateClusters]] (label = component minimum).
   */
  def duplicateClustersStar(pairs: DataFrame, maxIters: Int = 50)
                           (implicit scope: CacheScope): DataFrame = {
    // every distinct id in ANY pair — the output contract; a node whose
    // only appearance is a self-pair has no edge after the filter below
    // and must still emit as its own singleton (duplicateClusters does)
    val allNodes = pairs.select(col("ida").as("node"))
      .union(pairs.select(col("idb").as("node"))).distinct()
    // Canonical (u > v) orientation; self-pairs dropped.
    var edges = pairs
      .select(greatest(col("ida"), col("idb")).as("u"),
              least(col("ida"), col("idb")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()

    def fingerprint(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum("u"), lit(0L)), coalesce(sum("v"), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    var prev = fingerprint(edges)
    if (prev._1 == 0L)
      return allNodes.select(col("node"), col("node").as("label"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // Large-star over the symmetric adjacency: (v, m(u)) for v > u.
      // Output keeps the (big, small) orientation: v > u >= m.
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val largeMin = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = sym.join(largeMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // Small-star on the oriented edges: every smaller neighbor != m
      // and u itself link to m(u) = min(N_small(u)). v > m, u > m hold.
      val smallMin = large.groupBy("u").agg(min("v").as("m"))
      val joined = large.join(smallMin, "u")
      edges = joined.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(smallMin.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint()
      val now = fingerprint(edges)
      converged = now == prev
      prev = now
      iter += 1
    }
    require(converged, s"duplicateClustersStar did not converge in $maxIters rounds")
    // Prove the fixed point is a star forest: every non-root points to
    // exactly one node, and no pointed-at node points anywhere itself.
    val maxOutDeg = edges.groupBy("u").agg(count(lit(1)).as("d"))
      .agg(max("d")).head().getLong(0)
    require(maxOutDeg == 1L, s"star fixed point violated: out-degree $maxOutDeg")
    val chains = edges.select(col("v").as("u")).distinct()
      .join(edges.select(col("u")), "u").limit(1).count()
    require(chains == 0L, "star fixed point violated: two-level chain remains")
    val labeled = edges.select(col("u").as("node"), col("v").as("label"))
      .union(edges.select(col("v").as("node"), col("v").as("label")))
      .distinct()
    // self-pair-only nodes rejoin as singletons (label = themselves)
    labeled.unionByName(
      allNodes.join(labeled.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("label")))
  }

  /**
   * Chunk-level cross-corpus dedup — the paragraph-dedup pass
   * (RefinedWeb/Gopher-style: a paragraph appearing in >= minDf distinct
   * documents is boilerplate; strip it, keep the rest of each document
   * in order). The synthetic corpus has no paragraph breaks, so a
   * deterministic fixed-size token chunker stands in for the splitter —
   * swapping in `split(text, "\n\n")` changes one line, not the shape.
   *
   * Scale shape: the frequency pass groups on the chunk's 16-byte md5
   * (like [[exactDedup]]); the rejoin is a shuffle on the same digest so
   * it co-partitions with the frequency table; reassembly is one
   * groupBy(doc) with an array_sort on (pos, chunk) — no window, no
   * driver-side state. Output per input doc: (id, n_chunks, n_kept,
   * clean_digest) where clean_digest = md5 of the space-rejoined kept
   * chunks (md5("") when everything was boilerplate).
   */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 10, minDf: Int = 2): DataFrame = {
    val base = df
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) > 0)
      .select(col(idCol),
        ceil(size(col("_t")).cast(DoubleType) / chunkTokens)
          .cast(IntegerType).as("n_chunks"),
        col("_t"))
    val chunks = base.select(col(idCol), posexplode(
        transform(sequence(lit(0), col("n_chunks") - 1),
          i => concat_ws(" ", slice(col("_t"), i * chunkTokens + 1, lit(chunkTokens)))))
        .as(Seq("pos", "chunk")))
      .select(col(idCol), col("pos"), col("chunk"), md5(col("chunk")).as("_d"))
    val freq = chunks.groupBy("_d")
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDf)
    // anti join: boilerplate digests are the FILTERED-OUT minority, so
    // the right side is small; everything else passes through untouched
    val kept = chunks.join(freq, Seq("_d"), "left_anti")
    val agg = kept.groupBy(col(idCol))
      .agg(count(lit(1)).cast(IntegerType).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
            x => x.getField("chunk")))).as("clean_digest"))
    base.select(col(idCol), col("n_chunks"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("clean_digest"), md5(lit(""))).as("clean_digest"))
  }

  /**
   * Exact substring-span dedup — the sliding-window method of
   * "Deduplicating Training Data Makes Language Models Better" (Lee et
   * al. 2022): every k-token window is digested; windows whose digest
   * appears in >= minDf DISTINCT documents mark their positions, and
   * overlapping/adjacent marked windows merge into maximal spans
   * `[span_start, span_end)` in token coordinates — the byte ranges a
   * pipeline would cut. (The paper uses a suffix array on one machine;
   * the window-digest formulation is the distributable equivalent at a
   * fixed granularity k.)
   *
   * Scale shape: the frequency pass groups on the window's 16-byte md5
   * — fixed-width keys with map-side combine, never window text; the
   * mark-join co-partitions on the same digest; span merging is a
   * per-document window function (islands over ascending positions:
   * same-length intervals merge iff the position gap <= k), so state
   * never exceeds one document's marked windows per task.
   */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int, minDf: Int = 2)
                    (implicit scope: graft.operators.CacheScope): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = scope.persist(df
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= k)
      .select(col(idCol), explode(transform(
          sequence(lit(0), size(col("_t")) - k),
          i => struct(i.as("i"),
            unhex(md5(concat_ws(" ", slice(col("_t"), i + 1, lit(k))))).as("g"))))
        .as("_w"))
      .select(col(idCol), col("_w.i").as("i"), col("_w.g").as("g")))
    val dup = wins.groupBy("g")
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDf)
      .select("g")
    val marked = wins.join(dup, Seq("g")).select(col(idCol), col("i"))
    val byDoc = Window.partitionBy(idCol).orderBy("i")
    marked
      .withColumn("_brk",
        when(col("i") - lag(col("i"), 1).over(byDoc) > k, 1).otherwise(0))
      .withColumn("_grp", sum(col("_brk")).over(byDoc))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("i")).as("span_start"), (max(col("i")) + k).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** X27: n-gram NOVELTY score — the per-document data-valuation dual
   * of [[containmentPairs]]: the fraction of a doc's distinct shingles
   * that appear NOWHERE else in the corpus (df = 1). A mixing pipeline
   * uses it as the marginal-information dial: docs scoring near 0 are
   * recombinations of text the corpus already has (even when no single
   * pair crosses a dedup threshold), docs near 1 bring new content.
   * Two narrow aggregations over the same 8-byte shingle-hash frame
   * the dedup family shuffles — df per shingle, then novel-count per
   * doc — never a pairwise join, so at 100 TB it costs two map-side-
   * combined shuffles of (hash, id). The score is one small-int
   * division, bit-identical in the oracle. */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String, k: Int)
                  (implicit scope: graft.operators.CacheScope): DataFrame = {
    // set semantics by construction: [[shingleHashesFromTokenHashes]]
    // applies array_distinct per doc, so the exploded (doc, shingle)
    // pairs are already unique — _df below is true DOCUMENT frequency
    // ("appears nowhere ELSE in the corpus"), never occurrence counts,
    // with no extra dedup shuffle needed
    val sh = scope.persist(df
      .select(col(idCol), tokenHashes31(tokens(col(textCol))).as("_th"))
      .select(col(idCol),
        explode(shingleHashesFromTokenHashes(col("_th"), k)).as("_h")))
    val dfCount = sh.groupBy("_h").agg(count(lit(1)).as("_df"))
    sh.join(dfCount, Seq("_h"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
  }

  /** X28: novelty AT ADMISSION — [[noveltyScore]]'s production form:
   * an incoming batch scores against a FROZEN reference corpus (the
   * d13 admission shape), so nothing recomputes corpus-wide df per
   * batch. The reference's distinct-shingle set is the persisted
   * artifact admission reuses run after run — at 100 TB it's built
   * once and the per-batch cost is one left join of the BATCH's
   * shingles against it (batch-side shuffle only; the reference side
   * is the pre-bucketed big build side). novelty = the fraction of an
   * incoming doc's distinct shingles the reference has never seen. */
  def noveltyAtAdmission(reference: DataFrame, incoming: DataFrame,
                         idCol: String, textCol: String, k: Int)
                        (implicit scope: graft.operators.CacheScope): DataFrame = {
    // per-doc distinct by construction (array_distinct inside
    // [[shingleHashesFromTokenHashes]]): n_shingles/n_known count the
    // doc's DISTINCT shingles — set semantics, no extra dedup shuffle
    def sh(df: DataFrame) = df
      .select(col(idCol), tokenHashes31(tokens(col(textCol))).as("_th"))
      .select(col(idCol),
        explode(shingleHashesFromTokenHashes(col("_th"), k)).as("_h"))
    val refSet = scope.persist(sh(reference).select("_h").distinct())
    sh(incoming)
      .join(refSet.withColumn("_known", lit(1L)), Seq("_h"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("_known"), lit(0L))).as("n_known"))
      .select(col(idCol), col("n_shingles"), col("n_known"),
        ((col("n_shingles") - col("n_known")).cast("double") /
          col("n_shingles").cast("double")).as("novelty"))
  }

  /** X26: CONTAINMENT near-dup — the asymmetric overlap |A∩B| / |A|
   * over informative shingles, the case Jaccard-based detection (d2/d4)
   * structurally misses: a short document quoted whole inside a much
   * larger one has tiny Jaccard (union ≈ the big doc) but containment ≈
   * 1 for the small side. Candidates come from a shingle inverted
   * index, not MinHash — LSH's collision probability IS Jaccard, so it
   * under-samples exactly the pairs this operator exists to find.
   *
   * The production dial is the document-frequency cap: shingles held by
   * more than `maxDf` docs are boilerplate and are excluded from BOTH
   * the numerator and the denominator ("containment over informative
   * shingles") — that bounds the posting-list self-join at Σ df² ≤
   * maxDf · Σ df, the same skew bound d5's decontamination uses, and
   * the shuffle moves 8-byte shingle hashes + ids, never text. The
   * threshold is integer-exact (shared·tauDen ≥ n_a·tauNum); the
   * reported containment is one small-int division, bit-identical in
   * the oracle. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
                       tauNum: Int, tauDen: Int, maxDf: Int)
                      (implicit scope: graft.operators.CacheScope): DataFrame = {
    // (doc, shingle) pairs are unique by construction (array_distinct
    // inside [[shingleHashesFromTokenHashes]]), so _df is true DOCUMENT
    // frequency and |A∩B|/|A| ranges over DISTINCT shingles — set
    // semantics: a shingle repeated inside one doc neither inflates the
    // pair counts nor sneaks past the boilerplate cap
    val sh = scope.persist(df
      .select(col(idCol), tokenHashes31(tokens(col(textCol))).as("_th"))
      .select(col(idCol),
        explode(shingleHashesFromTokenHashes(col("_th"), k)).as("_h")))
    val rare = sh.groupBy("_h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxDf)
      .select("_h")
    val p = scope.persist(sh.join(rare, Seq("_h")))
    val na = p.groupBy(idCol).agg(count(lit(1)).as("n_a"))
    p.as("a").join(p.as("b"),
        col("a._h") === col("b._h") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("ida"), col(s"b.$idCol").as("idb"))
      .agg(count(lit(1)).as("shared"))
      .join(na.select(col(idCol).as("ida"), col("n_a")), Seq("ida"))
      .filter(col("shared") * tauDen >= col("n_a") * tauNum)
      .select(col("ida"), col("idb"), col("n_a"), col("shared"),
        (col("shared").cast("double") / col("n_a").cast("double"))
          .as("containment"))
  }

  /** X25: the REPAIR closing [[duplicateSpans]]'s detection — the cut
   * Lee et al. 2022 apply after finding exact duplicated substrings:
   * every cross-doc duplicated k-token window is removed from all but
   * the EARLIEST document holding it (min id per shingle keeps its
   * text, duplicates keep the rest of theirs — the doc stays usable,
   * like x24's split repair), and the surviving tokens reassemble in
   * order. Returns one row per input document: token counts and the
   * cleaned text.
   *
   * Scale shape: the shingle shuffle moves 16-byte digests + ids (never
   * text), the removed-position frame is O(duplicated windows) and
   * folds to one small sorted array per affected doc, and the repair
   * itself is an id-keyed left join + a per-row array filter — no
   * corpus-wide pass touches document bodies twice. */
  def spanDedupRepair(df: DataFrame, idCol: String, textCol: String, k: Int)
                     (implicit scope: graft.operators.CacheScope): DataFrame = {
    val toks = scope.persist(df.select(col(idCol), tokens(col(textCol)).as("_t")))
    val wins = scope.persist(toks
      .filter(size(col("_t")) >= k)
      .select(col(idCol), explode(transform(
          sequence(lit(0), size(col("_t")) - k),
          i => struct(i.as("i"),
            unhex(md5(concat_ws(" ", slice(col("_t"), i + 1, lit(k))))).as("g"))))
        .as("_w"))
      .select(col(idCol), col("_w.i").as("i"), col("_w.g").as("g")))
    val keeper = wins.groupBy("g")
      .agg(countDistinct(col(idCol)).as("_df"), min(col(idCol)).as("_keep"))
      .filter(col("_df") >= 2)
      .select("g", "_keep")
    val removed = wins.join(keeper, Seq("g"))
      .filter(col("_keep") < col(idCol))
      .select(col(idCol), explode(sequence(col("i"), col("i") + (k - 1))).as("j"))
      .groupBy(idCol).agg(sort_array(collect_set(col("j"))).as("_rm"))
    toks.join(removed, Seq(idCol), "left")
      .select(col(idCol),
        size(col("_t")).as("n_tokens"),
        coalesce(size(col("_rm")), lit(0)).as("n_removed"),
        concat_ws(" ",
          when(col("_rm").isNull, col("_t"))
            .otherwise(filter(col("_t"),
              (t, j) => !exists(col("_rm"), x => x === j)))).as("clean_text"))
  }

  // ===== Incremental admission state (w12/w14's production form) =====
  //
  // The r13 streamed-admission gates re-derived the evolving
  // reference's signatures from raw text on EVERY micro-batch —
  // O(|reference| text) per trigger, unbounded over the stream's life.
  // The fix is the same discipline the vector side already has (e14:
  // frozen constants, admission = O(batch) work against persisted
  // state): the reference's DERIVED artifacts persist as append-only
  // parquet state tables, appended per admitted batch, and every
  // verdict is batch-side hashing + joins against that state. No
  // trigger reads reference TEXT after the one-time seed bootstrap.

  /** Per-document admission ARTIFACTS — the derived state an evolving
   * reference persists so admission never re-reads its text:
   * `(doc_id, dig, sset, sig)` where `dig` = 16-byte md5 of the text,
   * `sset` = distinct k-shingle hashes ([[shingleHashesFromTokenHashes]]
   * — the jaccard-verify and novelty substrate), `sig` = the MinHash
   * signature (null for sub-k-token docs, mirroring
   * [[minhashCandidates]]' size >= k filter). One tokenize+hash pass
   * per document — the exact expressions the full-rescan path runs,
   * factored so the output is WRITTEN once and JOINED thereafter. At
   * 100 TB the table is ~16 bytes + 8·|shingles| per doc, bucketed on
   * its join keys; per-trigger admission cost is O(batch) hashing plus
   * joins against it — the e14 "O(batch), never O(corpus)" contract
   * applied to text. */
  def admissionArtifacts(df: DataFrame, idCol: String, textCol: String,
                         k: Int, numPerms: Int): DataFrame = {
    val perms = Hashing.minhashPerms(numPerms)
    df.select(col(idCol).as("doc_id"), unhex(md5(col(textCol))).as("dig"),
        tokens(col(textCol)).as("_t"))
      .select(col("doc_id"), col("dig"), tokenHashes31(col("_t")).as("_th"))
      .select(col("doc_id"), col("dig"),
        shingleHashesFromTokenHashes(col("_th"), k).as("sset"))
      .select(col("doc_id"), col("dig"), col("sset"),
        when(size(col("sset")) > 0,
          minhashSignature(col("sset"), perms)).as("sig"))
  }

  /** Banded LSH keys from STORED artifact signatures — `(band, bkey,
   * doc_id)`, the join-ready reference side of the candidate pass. A
   * narrow projection over precomputed signatures (sub-k docs carry a
   * null sig and yield no bands, exactly the full-rescan filter); no
   * text, no hashing. */
  def artifactBands(art: DataFrame, numBands: Int, numPerms: Int): DataFrame = {
    require(numBands >= 1 && numBands <= numPerms && numPerms % numBands == 0,
      s"bands ($numBands) must divide numPerms ($numPerms)")
    val rows = numPerms / numBands
    art.filter(col("sig").isNotNull)
      .select(col("doc_id"),
        explode(lshBands(col("sig"), numBands, rows)).as("_b"))
      .select(col("doc_id"), col("_b.band").as("band"), col("_b.bkey").as("bkey"))
  }

  /** The INCREMENTAL admission verdict — the streamed gates'
   * per-trigger core: the incoming batch's artifacts check against the
   * PRECOMPUTED reference state. Exactly equivalent to the full-rescan
   * form (the spec proves it row-for-row): exact_dup = digest SEMI-join
   * hit (semi tolerates duplicate state rows — two identical admitted
   * docs — without a per-trigger distinct), near_dup = banded candidate
   * (batch bands x state bands, the cross-boundary pairs the full form
   * kept) verified by the same exact-Jaccard expression at `tau`.
   * Shuffles carry band keys, 16-byte digests and shingle-hash arrays
   * — never text; the batch side is batch-proportional and the joins
   * stay threshold-decided. */
  def admissionVerdictIncremental(batchArt: DataFrame, stateArt: DataFrame,
                                  numBands: Int, numPerms: Int,
                                  tau: Double = 0.5)
                                 (implicit scope: CacheScope): DataFrame = {
    val exactIds = batchArt.join(stateArt.select("dig"), Seq("dig"), "left_semi")
      .select(col("doc_id")).withColumn("_ex", lit(true))
    val bb = artifactBands(batchArt, numBands, numPerms)
      .select(col("band"), col("bkey"), col("doc_id").as("bid"))
    val sb = artifactBands(stateArt, numBands, numPerms)
      .select(col("band"), col("bkey"), col("doc_id").as("rid"))
    val cands = bb.join(sb, Seq("band", "bkey")).select("bid", "rid").distinct()
    val bSets = batchArt.select(col("doc_id").as("bid"), col("sset").as("seta"))
    val rSets = stateArt.select(col("doc_id").as("rid"), col("sset").as("setb"))
    val nearIds = cands.join(bSets, "bid").join(rSets, "rid")
      .withColumn("_i", size(array_intersect(col("seta"), col("setb"))))
      // the same float expression jaccardVerify reports, so the >= tau
      // cut is bit-identical to the full-rescan verdict's
      .filter((col("_i").cast(DoubleType) /
        (size(col("seta")) + size(col("setb")) - col("_i")).cast(DoubleType))
        >= tau)
      .select(col("bid").as("doc_id")).distinct().withColumn("_nr", lit(true))
    batchArt.select("doc_id")
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_ex"), lit(false)).as("exact_dup"),
        coalesce(col("_nr"), lit(false)).as("near_dup"))
      .withColumn("admitted", !col("exact_dup") && !col("near_dup"))
  }

  /** [[noveltyAtAdmission]] against PRECOMPUTED state shingles — the
   * reference side is the persisted `(h)` table (per-batch distinct;
   * the SEMI join cannot double-count a shingle two admitted batches
   * both contributed), the batch side explodes the batch's own
   * artifacts. Same output contract: sub-k docs yield no row, callers
   * left-join. */
  def noveltyIncremental(batchArt: DataFrame, stateSh: DataFrame): DataFrame = {
    val sh = batchArt.select(col("doc_id"), explode(col("sset")).as("_h"))
    val known = sh.join(stateSh.select(col("h").as("_h")), Seq("_h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_known"))
    batchArt.filter(size(col("sset")) > 0)
      .select(col("doc_id"), size(col("sset")).cast(LongType).as("n_shingles"))
      .join(known, Seq("doc_id"), "left")
      // coalesce BEFORE the ratio: a fully-novel doc (zero known
      // shingles) has no `known` row, and a ratio over the raw NULL
      // would report novelty NULL instead of 1.0
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_known"), lit(0L)).as("n_known"))
      .select(col("doc_id"), col("n_shingles"), col("n_known"),
        ((col("n_shingles") - col("n_known")).cast("double") /
          col("n_shingles").cast("double")).as("novelty"))
  }

  /** D16: DECONTAMINATION AT ADMISSION — [[decontaminate]]'s
   * production form at the ingest gate (the d13/x28 admission shape):
   * the BENCHMARK suite's df-capped shingle POSTINGS are the frozen
   * persisted artifact (built once — benchmark suites change rarely —
   * and at 100 TB bucketed on the shingle hash); per batch, the
   * incoming docs' shingles join the postings and any doc sharing
   * >= `minShared` distinct informative shingles with any single
   * benchmark doc is refused. One row per incoming doc:
   * (id, n_bench_docs, max_shared, contaminated). Per-batch cost is
   * batch-side hashing + one join against the postings; the df cap
   * bounds join fanout exactly as [[decontaminate]]'s — and the
   * shuffle carries 8-byte shingle hashes + ids, never text. */
  def decontaminateAtAdmission(bench: DataFrame, incoming: DataFrame,
                               idCol: String, textCol: String, k: Int,
                               minShared: Int, maxDf: Int)
                              (implicit scope: CacheScope): DataFrame = {
    def sh(df: DataFrame) = df
      .select(col(idCol), tokenHashes31(tokens(col(textCol))).as("_th"))
      .select(col(idCol),
        explode(shingleHashesFromTokenHashes(col("_th"), k)).as("_h"))
    val bsh = scope.persist(
      sh(bench).select(col(idCol).as("bench_id"), col("_h")))
    val keep = bsh.groupBy("_h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select("_h")
    // the postings table IS the frozen artifact a deployment persists;
    // here it materializes once per call (the ingest-side analog of
    // x28's reference shingle set)
    val posts = scope.persist(bsh.join(keep, Seq("_h")))
    val hits = sh(incoming)
      .join(posts, Seq("_h"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minShared)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bench_docs"), max("_shared").as("max_shared"))
    incoming.select(idCol)
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"))
      .withColumn("contaminated", col("n_bench_docs") > 0)
  }

  /** The per-batch core of [[decontaminateAtAdmission]] against
   * PRECOMPUTED postings — the streamed gates' form: the batch side is
   * its artifact table (shingles explode from the stored `sset`, no
   * re-tokenization), the benchmark side is the frozen `(bench_id, h)`
   * posting table read back from state. Returns the distinct ids of
   * contaminated batch docs (>= `minShared` shared shingles with a
   * single benchmark doc). */
  def contaminatedIds(batchArt: DataFrame, posts: DataFrame,
                      minShared: Int): DataFrame =
    batchArt.select(col("doc_id"), explode(col("sset")).as("_h"))
      .join(posts.select(col("bench_id"), col("h").as("_h")), Seq("_h"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minShared)
      .select("doc_id").distinct()

  /** CONTAINMENT at admission against PRECOMPUTED reference postings —
   * x26's asymmetric quoted-inside detection run as an ingest-gate leg
   * (the case the Jaccard dedup leg structurally misses: a wave-0-
   * admitted doc quoted whole inside a much larger incoming doc has
   * tiny Jaccard but containment ≈ 1 for the quoted side). The batch
   * side explodes stored artifact `sset`s (distinct by construction);
   * the reference side is the persisted `(ref_id, h, n_b)` posting
   * state — seed postings df-capped at bootstrap (boilerplate dial,
   * the d16 discipline; the seed IS the corpus bulk), per-admitted-
   * batch appends raw (batch-bounded fanout; a production deployment
   * re-caps at reindex-style maintenance). A batch doc is contained-
   * dup when it shares >= ⌈tau·least(n_a, n_b)⌉ distinct shingles with
   * a single reference doc in EITHER direction (incoming-quotes-ref or
   * ref-quotes-incoming), with a floor on the smaller side so trivial
   * snippets don't trigger. Integer-exact threshold
   * (shared·tauDen >= least·tauNum), bit-identical in the oracle; the
   * shuffle carries 8-byte shingle hashes + ids, never text. */
  def containedIds(batchArt: DataFrame, cposts: DataFrame,
                   tauNum: Int, tauDen: Int, minShingles: Int): DataFrame =
    batchArt.select(col("doc_id"),
        size(col("sset")).cast(LongType).as("_na"),
        explode(col("sset")).as("_h"))
      .join(cposts.select(col("ref_id"), col("h").as("_h"), col("n_b")),
        Seq("_h"))
      .groupBy("doc_id", "ref_id")
      .agg(count(lit(1)).as("_shared"), min("_na").as("_na"),
        min("n_b").as("_nb"))
      .filter(least(col("_na"), col("_nb")) >= minShingles &&
        col("_shared") * tauDen >= least(col("_na"), col("_nb")) * tauNum)
      .select("doc_id").distinct()

  /** The seed/bootstrap form of the containment posting state: the
   * reference docs' distinct shingles df-capped over the reference
   * (shingles held by more than `maxDf` docs are boilerplate and leave
   * both the postings and the denominators — "containment over
   * informative shingles", x26's production dial), with `n_b` = each
   * doc's surviving-shingle count denormalized onto its rows. */
  def containmentPostings(art: DataFrame, maxDf: Int): DataFrame = {
    val sh = art.select(col("doc_id").as("ref_id"),
      explode(col("sset")).as("h"))
    val keep = sh.groupBy("h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select("h")
    val capped = sh.join(keep, Seq("h"))
    val nb = capped.groupBy("ref_id").agg(count(lit(1)).as("n_b"))
    capped.join(nb, Seq("ref_id")).select("ref_id", "h", "n_b")
  }

  /** The PRODUCTION maintenance fold — ONE fenced compaction publishing
   * every derived-table rewrite atomically with the fold itself:
   *
   *  - `cpost` (when present and `recapMaxDf` is set) rebuilds from the
   *    folded `art` tables under the GLOBAL df cap — the RE-CAP the
   *    per-batch append defers to: batches append their postings RAW
   *    (a batch can't know global document frequency), so boilerplate
   *    that becomes hot only ACROSS batches leaves the postings and the
   *    `n_b` denominators here, at the next maintenance window, exactly
   *    as a reindex re-trains quantizers;
   *  - `emb` (when present and `rebucket` is set) RE-BUCKETS from the
   *    stored vectors under the caller's bucketing expression — the
   *    LSH-dial growth point for the semantic admission leg: as the
   *    reference crosses bucket-occupancy thresholds the caller grows
   *    the plane count (expected bucket ≈ 16 docs, the d14b/e9c dial)
   *    and the folded state re-buckets in the same atomic publish, so
   *    batch and state sides always bucket under the SAME planes;
   *  - every other sub-table concatenates verbatim.
   *
   * All rewrites stage under the fold's dot-prefixed temp and go live
   * with its single rename — readers see the old state or the fully
   * rewritten one, never a torn mix. Fenced by the admission epoch. */
  def maintenanceFold(spark: org.apache.spark.sql.SparkSession,
                      stateDir: String, upTo: Long,
                      subs: Seq[String], epoch: Long,
                      recapMaxDf: Option[Int] = None,
                      rebucket: Option[Column => Column] = None): Boolean =
    graft.text.AdmissionState.fold(spark, stateDir, upTo, subs, epoch,
      build = (sub, read) => (sub, recapMaxDf, rebucket) match {
        case ("cpost", Some(maxDf), _) =>
          containmentPostings(read("art"), maxDf)
        case ("emb", _, Some(bucketOf)) =>
          read("emb").select(col("ref_id"), bucketOf(col("vec")).as("bucket"),
            col("vec"))
        case _ => read(sub)
      })

  /** Exact dedup: keep the smallest id per identical text. The groupBy
   * key is the md5 digest — at 100 TB the shuffle moves 16-byte keys and
   * ids, never document bodies. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("_digest"), col(idCol))
      .groupBy("_digest")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("_digest")
}
