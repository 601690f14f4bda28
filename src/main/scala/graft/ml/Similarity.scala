package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Hashing
import graft.operators.CacheScope

/**
 * Similarity search over embedding columns (`array<float>`):
 *
 *  - brute-force cosine top-k — the exact baseline, O(N·Q); fine when Q
 *    is small or N fits a broadcast, the correctness reference otherwise;
 *  - random-hyperplane LSH ANN — the scale path: each vector hashes to a
 *    bucket (8 sign bits), search touches only the query's bucket. At
 *    100 TB the bucketing is a narrow map + one shuffle on (bucket),
 *    and recall/latency trade via nPlanes.
 *
 * Dot products fold left-to-right in double precision (`aggregate` over
 * `zip_with`), which the DuckDB oracle mirrors exactly — cosine scores
 * are bit-identical, so even float outputs hash-compare.
 */
object Similarity {

  /** Sequential double-precision dot product — the native codegen'd
   * [[graft.functions.VectorDot]] expression (tight primitive loop in
   * whole-stage codegen; arithmetic identical to the
   * `aggregate(zip_with(...))` fold it replaces, so oracle scores stay
   * bit-exact). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.VectorDot(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Brute-force cosine top-k: for each query vector, the k nearest other
   * vectors. Ties break by neighbor id (deterministic).
   * `queries`/`corpus`: (id, vec). Broadcast the query side — the corpus
   * streams past it, one window per query partition ranks.
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** max(|x_i|) of a float vector, in double. Compute this ONCE behind an
   * alias before [[quantizeInt8]] references it — inlined, it would
   * re-scan the array per element. */
  def absMax(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast(DoubleType))))

  /**
   * Symmetric int8 quantization: q_i = floor(x_i / amax * 127), values
   * in [-127, 127] (zero vectors quantize to zeros). `floor`, not
   * `round` — floor is bit-identical across engines while half-way
   * rounding rules differ, so quantized results stay oracle-exact.
   *
   * This is the memory/shuffle scale lever for similarity search: int8
   * is 4x smaller than float32 (a 100 TB float corpus becomes 25 TB to
   * scan, cache, and shuffle) and the integer dot product is exact
   * arithmetic — no float-order concerns — and SIMD-friendly. Stored as
   * array<int> here for arithmetic clarity; a production layout packs
   * the same values into a dim-byte binary column.
   */
  def quantizeInt8(vec: Column, amax: Column): Column =
    when(amax > 0,
      transform(vec, x =>
        floor(x.cast(DoubleType) / amax * 127).cast(IntegerType)))
      .otherwise(transform(vec, _ => lit(0)))

  /** Exact integer dot product of two quantized vectors (widened to
   * long; 64 * 127^2 is far inside the range). Integer addition is
   * associative, so unlike the float path no fold-order contract is
   * needed. */
  def dotInt(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(LongType) * y.cast(LongType)),
      lit(0L), (acc, v) => acc + v)

  /**
   * Quantized brute-force top-k: rank neighbors by the int8×int8 integer
   * dot (ties by neighbor id). Same broadcast-queries/streaming-corpus
   * shape as [[bruteForceTopK]] at a quarter of the scan+shuffle bytes;
   * a production pipeline quantizes the corpus ONCE at ingest and every
   * later search pays only integer math.
   */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def quant(df: DataFrame, idAs: String, vecAs: String) = df
      .select(col("id").as(idAs), col("vec").as("_v"), absMax(col("vec")).as("_amax"))
      .select(col(idAs), quantizeInt8(col("_v"), col("_amax")).as(vecAs))
    val q = quant(queries, "query_id", "qvec")
    val c = quant(corpus, "neighbor_id", "cvec")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dotInt(col("qvec"), col("cvec")).as("qdot"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("qdot").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Sign-bit binary embedding: bit i set iff vec[i] > 0, packed into ONE
   * long for dim ≤ 64 — the extreme end of the compression ladder
   * (float32 → int8 → PQ codes → 1 bit/dim, 256× smaller than float32
   * here). Hamming distance over sign bits approximates angular
   * distance; search is one XOR + popcount per candidate.
   *
   * dim ≤ 64 by contract (one long): a longer vector fails LOUDLY —
   * Java's shift wraps mod 64, so without the guard bit 64 would
   * silently alias bit 0 and distances would be quietly wrong. Wider
   * embeddings pack into `array<long>` (dim/64 words) with the same
   * xor+popcount per word.
   */
  def signBits(vec: Column): Column =
    when(size(vec) > 64, raise_error(
      concat(lit("signBits supports dim <= 64, got "), size(vec).cast(StringType))))
      .otherwise(aggregate(zip_with(vec,
        sequence(lit(0), size(vec) - 1),
        (x, i) => when(x > 0.0f,
          call_function("shiftleft", lit(1L), i.cast(IntegerType)))
          .otherwise(lit(0L))),
        lit(0L), (acc, v) => acc + v))

  /**
   * Binary (Hamming) top-k over [[signBits]] sketches: rank by ascending
   * `popcount(xor(a, b))`, ties by neighbor id. Same broadcast-queries /
   * streaming-corpus shape as [[bruteForceTopK]] — but the corpus scan
   * is 8 bytes per vector and the distance is two machine instructions,
   * the cheapest possible first-pass filter before exact rerank.
   */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def pack(df: DataFrame, idAs: String, bitsAs: String) = df
      .select(col("id").as(idAs), signBits(col("vec")).as(bitsAs))
    val q = pack(queries, "query_id", "qbits")
    val c = pack(corpus, "neighbor_id", "cbits")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        bit_count(col("qbits").bitwiseXOR(col("cbits"))).as("hamming"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Two-stage retrieval — the production search pattern the ladder
   * builds toward: a cheap binary Hamming pass shortlists `shortlist`
   * candidates per query (8 B/vector scan), then ONLY those rejoin
   * their full vectors for the exact-cosine rerank to `k`. At 100 TB
   * the first stage touches every vector at 1/256 the bytes and the
   * expensive stage touches `queries × shortlist` rows.
   */
  def hammingRerankTopK(queries: DataFrame, corpus: DataFrame,
                        shortlist: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val short = hammingTopK(queries, corpus, shortlist)
      .select("query_id", "neighbor_id")
    val qv = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    val cv = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"))
    val scored = short.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ---- product quantization (PQ) ----------------------------------------

  /** Fixed pseudo-random PQ codebooks in data range: entry (j, c, d) =
   * ((h60("pq_j_c_d") mod 2001) - 1000) / 2000 ∈ [-0.5, 0.5] — like
   * [[ivfCentroids]], literal-embedded in both the Spark plan and the
   * oracle SQL (a production build trains them with per-subspace
   * k-means; the encode/ADC mechanics are identical). */
  def pqCodebooks(m: Int, subDim: Int, codes: Int): Seq[Seq[Seq[Double]]] =
    (0 until m).map(j => (0 until codes).map(c => (0 until subDim).map(d =>
      (Hashing.h60(s"pq_${j}_${c}_$d") % 2001 - 1000) / 2000.0)))

  /** 0.5·‖codeword‖² per (subspace, code) — driver-computed constants
   * shared verbatim by plan and oracle, so argmin-L2 assignment is
   * engine-exact (argmax of dot − ½‖c‖², ‖x‖² constant per row). */
  def pqCellNorms(books: Seq[Seq[Seq[Double]]]): Seq[Seq[Double]] =
    books.map(_.map(cb => 0.5 * cb.map(x => x * x).sum))

  /** Project each row's vector to its m aliased subvectors — used by
   * the Lloyd training loop, whose re-centering aggregates per
   * (subspace, code) cell over the sliced subvectors. */
  private def withSubvectors(df: DataFrame, idAs: String, m: Int, subDim: Int,
                             extra: Seq[Column]): DataFrame =
    df.select((col("id").as(idAs) +: extra) ++ ((0 until m).map(j =>
      slice(col("vec"), j * subDim + 1, subDim).as(s"_s$j"))): _*)

  /** PQ encode: per subspace, the 1-BASED index of the L2-nearest
   * codeword (ties to the smaller index — the same desc-score /
   * smaller-id rank as [[rankCells]]). Output: (id, codes
   * array<int>) — at 100 TB this is the whole
   * point: m bytes of code replace dim floats (32x here), so the corpus
   * fits memory tiers it otherwise never could, and search never touches
   * the original vectors. ONE compact codegen expression
   * ([[graft.functions.PqEncode]]) — the old m×codes×subDim-literal
   * formulation fell off the same cliff as the IVF quantizer at
   * production codebook sizes (68.6s vs sub-second for 10k rows at 256
   * codewords; `bench/pq_ladder_r07.json`). */
  private def pqEncodeCol(vec: Column, books: Seq[Seq[Seq[Double]]],
                          cns: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.graft.ColumnBridge.expression(vec), books, cns))

  private def pqAdcCol(vec: Column, books: Seq[Seq[Seq[Double]]]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.PqAdc(
        org.apache.spark.sql.graft.ColumnBridge.expression(vec), books))

  def pqEncode(corpus: DataFrame, idAs: String, books: Seq[Seq[Seq[Double]]],
               cns: Seq[Seq[Double]]): DataFrame =
    corpus.select(col("id").as(idAs),
      pqEncodeCol(col("vec"), books, cns).as("codes"))

  /** Per-query ADC lookup tables: adct[j][c] = dot(q_subj, books[j][c])
   * — m×codes doubles per query, computed once, broadcast with the
   * query row ([[graft.functions.PqAdc]]). */
  def pqAdcTables(queries: DataFrame, idAs: String,
                  books: Seq[Seq[Seq[Double]]]): DataFrame =
    queries.select(col("id").as(idAs),
      pqAdcCol(col("vec"), books).as("adct"))

  /**
   * Per-subspace Lloyd training of PQ codebooks — the production path
   * next to the fixed pseudo-random stand-ins ([[pqCodebooks]]), same
   * relationship as [[trainIvfCentroids]] to [[ivfCentroids]]. One
   * aggregation pass per iteration: encode with the current books, then
   * re-center every (subspace, code) cell on the mean of its assigned
   * subvectors (codewords with no members keep their value). The
   * shuffle carries only (m*codes) partial sum rows per map task.
   *
   * DETERMINISTIC: partial sums accumulate in DECIMAL (exact and
   * associative — reduction order cannot change the result), and the
   * single mean division happens once on the driver. Trained codebooks
   * are therefore bit-identical across partitionings and retries, which
   * is what lets searches over them carry hash-exact oracles (the
   * trained literals render into the oracle SQL verbatim).
   *
   * `sampleMod`: train on the deterministic hash-sample `hash(id) %
   * sampleMod == 0` — the production shape (codebooks need a
   * representative sample, not the corpus; FAISS trains on ~100k
   * vectors regardless of corpus size). At 100 TB this is the
   * difference between iters full scans and iters scans of a fixed
   * small frame; 1 disables sampling.
   */
  def trainPqCodebooks(corpus: DataFrame, m: Int, subDim: Int, codes: Int,
                       iters: Int = 2, sampleMod: Int = 1): Seq[Seq[Seq[Double]]] = {
    // the sample is scanned once per iteration — pin it in memory for
    // the loop (it is small by construction: FAISS-style fixed-size
    // training sets, not the corpus)
    val train =
      (if (sampleMod <= 1) corpus
       else corpus.filter(pmod(hash(col("id")), lit(sampleMod)) === 0)).cache()
    try {
      trainPqLoop(train, m, subDim, codes, iters)
    } finally train.unpersist(blocking = false)
  }

  private def trainPqLoop(train: DataFrame, m: Int, subDim: Int, codes: Int,
                          iters: Int): Seq[Seq[Seq[Double]]] = {
    var books = pqCodebooks(m, subDim, codes)
    for (_ <- 0 until iters) {
      val cns = pqCellNorms(books)
      val exploded = withSubvectors(train, "id", m, subDim,
          extra = Seq(pqEncodeCol(col("vec"), books, cns).as("_codes")))
        .select(explode(array((0 until m).map(j =>
          struct(lit(j).as("j"), element_at(col("_codes"), j + 1).as("c"),
            col(s"_s$j").as("sub"))): _*)).as("e"))
        .select(col("e.j"), col("e.c"), col("e.sub"))
      val sums = exploded.groupBy("j", "c")
        .agg(count(lit(1)).as("n"),
          array((0 until subDim).map(i =>
            sum(element_at(col("sub"), i + 1).cast(SumDecimal))): _*).as("s"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getLong(2), r.getSeq[java.math.BigDecimal](3)))
        .toMap
      books = books.zipWithIndex.map { case (book, j) =>
        book.zipWithIndex.map { case (old, ci) =>
          sums.get((j, ci + 1)) match {
            case Some((n, sArr)) if n > 0 => sArr.map(_.doubleValue / n)
            case _ => old
          }
        }
      }
    }
    books
  }

  /**
   * PQ asymmetric-distance top-k: queries stay exact, the corpus is its
   * codes; score = Σ_j adct[j][code_j] (a fixed left-to-right sum of m
   * doubles — engine-exact). One broadcast join, zero corpus-side float
   * math at query time; m table lookups per (query, doc).
   */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             books: Seq[Seq[Seq[Double]]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = books.size
    val cns = pqCellNorms(books)
    val c = pqEncode(corpus, "neighbor_id", books, cns)
    val q = pqAdcTables(queries, "query_id", books)
    val adc = (0 until m).map(j =>
      element_at(element_at(col("adct"), j + 1),
        element_at(col("codes"), j + 1))).reduce(_ + _)
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * IVF-PQ — the composed 100 TB architecture (what FAISS runs at
   * scale): the corpus carries only (cell, m codes) per vector; a query
   * probes its `nprobe` best cells and ADC-scores just those cells'
   * codes. Search I/O = corpus × nprobe/nCells × m bytes — with 1024
   * cells, nprobe 8 and m 8, that is ~0.01% of the float corpus per
   * query. One equi-shuffle on cell (or zero if the code table is
   * bucketed by cell at ingest).
   */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                books: Seq[Seq[Seq[Double]]], cents: Seq[Seq[Long]],
                nprobe: Int): DataFrame =
    ivfPqTopKWith(queries, corpus, k, books, cents.map(_.map(_.toDouble)), nprobe)

  /** [[ivfPqTopK]] over double-precision (e.g. TRAINED) coarse
   * centroids — the [[ivfTopKWith]] relationship. Composes the index
   * TABLE form: build, then search. */
  def ivfPqTopKWith(queries: DataFrame, corpus: DataFrame, k: Int,
                    books: Seq[Seq[Seq[Double]]], centsD: Seq[Seq[Double]],
                    nprobe: Int): DataFrame =
    ivfPqSearchIndex(queries, ivfPqIndex(corpus, books, centsD), k,
      books, centsD, nprobe)

  /**
   * The IVF-PQ index TABLE: `(id, cell, codes)` — what a production
   * deployment persists (bucketed by `cell`) and serves from. Building
   * is row-local (assign + encode against the frozen constants, no
   * shuffle, no cross-row state), which is exactly what makes
   * [[ivfPqAdmit]] correct: an entry depends only on its own vector.
   */
  def ivfPqIndex(corpus: DataFrame, books: Seq[Seq[Seq[Double]]],
                 centsD: Seq[Seq[Double]]): DataFrame =
    corpus.select(col("id"),
      ivfAssignD(col("vec"), centsD).as("cell"),
      pqEncodeCol(col("vec"), books, pqCellNorms(books)).as("codes"))

  /**
   * INCREMENTAL index maintenance — fold a newly admitted batch into an
   * EXISTING index against the FROZEN trained constants: assign each new
   * vector to its trained cell, PQ-encode it against the trained
   * codebooks, append. No retrain, no rebuild, no touch of existing
   * entries — because index entries are row-local functions of (vector,
   * constants), `admit(build(existing), incoming) ≡ build(existing ∪
   * incoming)` exactly, and search over the merged table equals search
   * over a from-scratch rebuild (the e14 gate pins this equivalence
   * against a rebuilt-form oracle). At 100 TB the batch is a narrow map
   * over the new rows only — the continual-ingestion cost is O(batch),
   * never O(corpus), the same admission shape as d13's dedup gate.
   */
  def ivfPqAdmit(index: DataFrame, incoming: DataFrame,
                 books: Seq[Seq[Seq[Double]]],
                 centsD: Seq[Seq[Double]]): DataFrame =
    index.unionByName(ivfPqIndex(incoming, books, centsD))

  /**
   * Tombstone DELETION over a prebuilt index — the remaining index
   * lifecycle verb next to [[ivfPqAdmit]]: takedowns, license
   * revocations and dedup verdicts remove documents from a corpus
   * that the index must stop serving. Logical deletion is an anti-join
   * on id — at 100 TB the tombstone side carries only 8-byte ids, so
   * a takedown-sized list broadcasts and a bulk purge degrades to one
   * id-keyed shuffle of the index, never a rebuild; either way no
   * entry is re-derived (entries are row-local, the [[ivfPqAdmit]]
   * argument in reverse). COMPACTION is this same frame written back
   * over the index table (bucketed by cell, as at ingest): the
   * recurring per-search anti-join cost becomes a one-time rewrite.
   * `IndexLifecycleSpec` pins logical ≡ compacted ≡ rebuilt-without-
   * deleted; the e17 gate hash-checks serve-after-delete against the
   * rebuilt-form oracle.
   */
  def ivfPqDelete(index: DataFrame, tombstones: DataFrame): DataFrame =
    index.join(tombstones.select("id"), Seq("id"), "left_anti")

  /**
   * SURGICAL cell split — the rebalance verb continual admission makes
   * necessary: probe cost is Σ|probed cells|, so the fullest cell
   * bounds search I/O, and a production index splits it rather than
   * retrain the world. O(|cell|) by construction: only the split
   * cell's members join their vectors back and choose between the two
   * sub-centroids (`subs`, trained by [[trainIvfCentroids]] on just
   * those members; ties to sub 0 — the same smaller-id rule as the
   * quantizer); sub 0 keeps the old cell id, sub 1 takes `newCell`;
   * PQ codes never change — valid for RAW-codebook indexes only
   * (codes encode the vector itself; a RESIDUAL index's codes encode
   * `vec − ct[cell]` and must re-encode on move — use
   * [[ivfPqResidualSplit]]); every other entry is untouched. The deliberate
   * production trade: non-members do NOT re-rank against the new
   * sub-centroids — no global reshuffle. The e18 gate's oracle
   * computes exactly this surgical assignment.
   *
   * Scale note: the member-vector fetch is an id equi-join; a cell too
   * big to broadcast would otherwise shuffle the vector table, so at
   * 100 TB store the raw vectors cell-partitioned like the index
   * itself — the fetch is then a pruned scan of one cell's files
   * (the same `SelectedBucketsCount` contract the serve path uses).
   */
  def ivfPqSplit(index: DataFrame, vecs: DataFrame, cell: Int,
                 subs: Seq[Seq[Double]], newCell: Int): DataFrame = {
    require(subs.size == 2, s"split is binary, got ${subs.size} subs")
    val moved = index.filter(col("cell") === cell)
      .join(vecs.select("id", "vec"), "id")
      .select(col("id"),
        when(ivfAssignD(col("vec"), subs) === 0, lit(cell))
          .otherwise(lit(newCell)).as("cell"),
        col("codes"))
    index.filter(col("cell") =!= cell).unionByName(moved)
  }

  /**
   * IVF cell MERGE — the inverse maintenance verb of [[ivfPqSplit]]:
   * deletion holes (takedowns concentrated in a domain) hollow cells
   * out, and serving then pays a probe slot for a near-empty cell —
   * merging the two emptiest reclaims it (the remedy for the drift the
   * lifecycle recall deletion leg measured,
   * bench/lifecycle_recall_r13.json). The merge is
   * SURGICAL and O(index): `cellB`'s members relabel to `cellA`, cells
   * above `cellB` shift down one slot, and — the raw-family fact that
   * makes this a pure narrow map with NO vector fetch — PQ codes never
   * change (codebooks encode raw vectors, not residuals; contrast
   * [[ivfPqResidualSplit]], where moving a member forces a re-encode).
   * The deliberate production trade, pinned by the e26 oracle exactly
   * as e18 pins the split's: merged members do NOT re-rank against
   * the other centroids — no global reshuffle, the cell table shrinks
   * by one and everything else is untouched. Serve against the
   * post-merge table (slot `cellA` = the occupancy-weighted merged
   * centroid).
   */
  def ivfPqMerge(index: DataFrame, cellA: Int, cellB: Int): DataFrame = {
    require(cellA < cellB,
      s"merge target must be the smaller slot, got $cellA !< $cellB")
    index.select(col("id"),
      when(col("cell") === cellB, lit(cellA))
        .when(col("cell") > cellB, col("cell") - 1)
        .otherwise(col("cell")).as("cell"),
      col("codes"))
  }

  /**
   * Search a PREBUILT `(id, cell, codes)` index table — the serving
   * path: never touches original vectors (the index is self-contained),
   * probes `nprobe` trained cells per query, ADC-scores only those
   * cells' codes. Queries stay exact floats; their ADC lookup tables
   * broadcast.
   */
  def ivfPqSearchIndex(queries: DataFrame, index: DataFrame, k: Int,
                       books: Seq[Seq[Seq[Double]]],
                       centsD: Seq[Seq[Double]], nprobe: Int): DataFrame =
    adcRank(index,
      queries.select(col("id").as("query_id"),
        explode(ivfProbesD(col("vec"), centsD, nprobe)).as("cell"),
        pqAdcCol(col("vec"), books).as("adct")),
      k, books.size, seed = None)

  /** The shared ADC serving core: broadcast the per-query probe frame
   * `q(query_id, cell, adct[, seed cols])` against the `(id, cell,
   * codes)` index, sum the table lookups (folding LEFT from `seed`
   * when present — the association the rendered oracles use), rank
   * per query. One body for the raw ([[ivfPqSearchIndex]]) and
   * residual ([[ivfPqResidualTopK]]) paths. */
  private def adcRank(index: DataFrame, q: DataFrame, k: Int, m: Int,
                      seed: Option[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = index.withColumnRenamed("id", "neighbor_id")
    val terms = (0 until m).map(j =>
      element_at(element_at(col("adct"), j + 1),
        element_at(col("codes"), j + 1)))
    val adc = (seed.toSeq ++ terms).reduce(_ + _)
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Two-stage retrieval: IVF-PQ ADC retrieves `n` candidates per query
   * from the codes alone, then the candidates — and ONLY the
   * candidates — fetch their exact vectors by id and re-rank by true
   * cosine (the FAISS `refine` / vector-DB rerank stage, the standard
   * production serving pipeline). At 100 TB: stage 1 scans m bytes per
   * vector; stage 2 is a queries×n-row candidate frame (broadcast-
   * sized by construction) joined against the vector table — with the
   * vectors id-bucketed, a pruned fetch, never a second corpus scan.
   * Rerank recovers the ranking resolution ADC loses inside a cell:
   * the recall ceiling becomes stage 1's candidate recall rather than
   * the code quality.
   */
  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int, n: Int,
                      books: Seq[Seq[Seq[Double]]], centsD: Seq[Seq[Double]],
                      nprobe: Int): DataFrame =
    exactRerank(
      ivfPqTopKWith(queries, corpus, n, books, centsD, nprobe),
      queries, corpus, k)

  /** The shared EXACT-rerank stage (FAISS `refine`): candidates
   * `(query_id, neighbor_id)` — and ONLY the candidates — fetch their
   * exact vectors by id and re-rank by true cosine. One body for every
   * stage-1 retriever (raw ADC [[ivfPqRerankTopK]], residual ADC
   * [[ivfPqResidualRerankTopK]], a prebuilt index table
   * [[ivfPqRerankSearchIndex]]). The candidate frame is queries×n rows
   * by construction but sits behind a window aggregation, so the static
   * size estimate blocks auto-broadcast — hint it explicitly: the
   * corpus-side vector fetch must stay a broadcast probe, never a
   * corpus shuffle. */
  private def exactRerank(cands: DataFrame, queries: DataFrame,
                          corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = cands.select("query_id", "neighbor_id")
    val qv = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val nv = corpus.select(col("id").as("neighbor_id"), col("vec").as("nv"))
    val scored = nv.join(broadcast(cand.join(broadcast(qv), "query_id")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[ivfPqRerankTopK]] served from a PREBUILT `(id, cell, codes)`
   * index table — the lifecycle-journey serving verb: stage 1 probes
   * the index (which may have lived through admission, splits, deletes
   * and compaction — it is the ONLY source of candidates, so a
   * tombstoned entry can never resurface), stage 2 fetches exact
   * vectors for the candidates alone from the raw vector table. */
  def ivfPqRerankSearchIndex(queries: DataFrame, index: DataFrame,
                             vecs: DataFrame, k: Int, n: Int,
                             books: Seq[Seq[Seq[Double]]],
                             centsD: Seq[Seq[Double]],
                             nprobe: Int): DataFrame =
    exactRerank(
      ivfPqSearchIndex(queries, index, n, books, centsD, nprobe),
      queries, vecs, k)

  /** IndexIVFPQR — FAISS's production fidelity ladder endpoint:
   * RESIDUAL codes ([[ivfPqResidualTopK]]'s MIPS-decomposed stage 1)
   * WITH exact refine ([[exactRerank]]'s stage 2). Residual encoding
   * buys candidate recall where the coarse quantizer explains variance;
   * the rerank moves the final-ranking ceiling from code quality to
   * that candidate recall — composing the two is what IVFPQR ships. */
  def ivfPqResidualRerankTopK(queries: DataFrame, corpus: DataFrame,
                              k: Int, n: Int,
                              books: Seq[Seq[Seq[Double]]],
                              centsD: Seq[Seq[Double]],
                              nprobe: Int): DataFrame =
    exactRerank(
      ivfPqResidualTopK(queries, corpus, n, books, centsD, nprobe),
      queries, corpus, k)

  /**
   * [[ivfPqSplit]] for a RESIDUAL index: moving a member invalidates
   * its codes (they encode `vec − ct[oldCell]`), so the split
   * re-encodes each moved member against its NEW sub-centroid in the
   * same pass that reassigns it — still O(|cell|), one extra
   * [[pqEncodeCol]] per moved row; every other entry is untouched.
   * `IndexLifecycleSpec` pins the surgical result row-identical to an
   * independent rebuild of the members under the two sub-centroids.
   */
  def ivfPqResidualSplit(index: DataFrame, vecs: DataFrame, cell: Int,
                         subs: Seq[Seq[Double]], newCell: Int,
                         books: Seq[Seq[Seq[Double]]]): DataFrame = {
    require(subs.size == 2, s"split is binary, got ${subs.size} subs")
    val sidx = ivfAssignD(col("vec"), subs)
    val moved = index.filter(col("cell") === cell)
      .join(vecs.select("id", "vec"), "id")
      .select(col("id"),
        when(sidx === 0, lit(cell)).otherwise(lit(newCell)).as("cell"),
        pqEncodeCol(residualCol(col("vec"), sidx, subs),
          books, pqCellNorms(books)).as("codes"))
    index.filter(col("cell") =!= cell).unionByName(moved)
  }

  /**
   * Residual-family cell MERGE — [[ivfPqMerge]] where re-encode-on-move
   * cuts BOTH ways: after the merge, `cellA`'s surviving slot holds the
   * merged centroid, so not only `cellB`'s relabeled members but ALSO
   * `cellA`'s unmoved ones now sit beside a centroid their codes were
   * never encoded against — every member of either cell re-encodes its
   * residual against `mergedCentroid` in the same O(|cellA|+|cellB|)
   * pass (stale codes beside a new centroid would silently corrupt
   * every score — the exact failure mode [[ivfPqResidualSplit]]
   * documents for the split). Untouched cells shift labels above
   * `cellB` down one slot with their codes intact, since their
   * centroids didn't move.
   */
  def ivfPqResidualMerge(index: DataFrame, vecs: DataFrame,
                         cellA: Int, cellB: Int,
                         mergedCentroid: Seq[Double],
                         books: Seq[Seq[Seq[Double]]]): DataFrame = {
    require(cellA < cellB,
      s"merge target must be the smaller slot, got $cellA !< $cellB")
    val moved = index.filter(col("cell") === cellA || col("cell") === cellB)
      .join(vecs.select("id", "vec"), "id")
      .select(col("id"), lit(cellA).as("cell"),
        pqEncodeCol(residualCol(col("vec"), lit(0), Seq(mergedCentroid)),
          books, pqCellNorms(books)).as("codes"))
    index.filter(col("cell") =!= cellA && col("cell") =!= cellB)
      .select(col("id"),
        when(col("cell") > cellB, col("cell") - 1)
          .otherwise(col("cell")).as("cell"),
        col("codes"))
      .unionByName(moved)
  }

  /** Residual of a vector against one cell's centroid — float lanes
   * widen to double (exact) before the IEEE subtraction, so the DuckDB
   * mirror `embedding[i]::DOUBLE - ct[cell][i]` lands on identical
   * bits. `cell` is the 0-based quantizer output. */
  private def residualCol(vec: Column, cell: Column,
                          centsD: Seq[Seq[Double]]): Column =
    zip_with(vec.cast("array<double>"),
      element_at(typedLit(centsD.map(_.toSeq)), cell + lit(1)),
      (a, b) => a - b)

  /**
   * RESIDUAL IVF-PQ index — the FAISS-fidelity variant of
   * [[ivfPqIndex]]: codes quantize the residual `vec − centroid(cell)`
   * instead of the raw vector. Residuals concentrate near the origin
   * (the coarse quantizer removed the between-cell variance), so the
   * same code budget spends its resolution on the within-cell detail —
   * the accuracy argument for residual encoding. Search scores by the
   * inner-product decomposition `dot(q,c) + dot(q,r̂)` — an exact
   * centroid term per probed cell plus ONE raw-query ADC table over
   * the residual codebooks ([[ivfPqResidualTopK]]). Index build stays
   * a row-local narrow map (assign, subtract, encode), so admission
   * ([[ivfPqAdmit]]) and deletion ([[ivfPqDelete]]) carry over
   * unchanged (`IndexLifecycleSpec` pins both). [[ivfPqSplit]] does
   * NOT: residual codes encode `vec − ct[cell]`, so moving a member
   * to a new cell invalidates its codes — use [[ivfPqResidualSplit]],
   * which re-encodes each moved member against its new sub-centroid
   * in the same O(|cell|) pass.
   */
  def ivfPqResidualIndex(corpus: DataFrame, books: Seq[Seq[Seq[Double]]],
                         centsD: Seq[Seq[Double]]): DataFrame =
    corpus
      .select(col("id"), col("vec"),
        ivfAssignD(col("vec"), centsD).as("cell"))
      .select(col("id"), col("cell"),
        pqEncodeCol(residualCol(col("vec"), col("cell"), centsD),
          books, pqCellNorms(books)).as("codes"))

  /** Train PQ codebooks on the RESIDUALS (each vector minus its
   * assigned cell's centroid) — the codebooks [[ivfPqResidualIndex]]
   * encodes against. Same deterministic per-subspace Lloyd as
   * [[trainPqCodebooks]]. */
  def trainResidualBooks(corpus: DataFrame, m: Int, subDim: Int, codes: Int,
                         centsD: Seq[Seq[Double]], iters: Int,
                         sampleMod: Int): Seq[Seq[Seq[Double]]] =
    trainPqCodebooks(corpus.select(col("id"),
      residualCol(col("vec"), ivfAssignD(col("vec"), centsD), centsD)
        .as("vec")),
      m, subDim, codes, iters, sampleMod)

  /** Residual IVF-PQ search via the inner-product decomposition
   * `dot(q, x) ≈ dot(q, c_cell) + dot(q, r̂)`: the centroid term is
   * EXACT (one Dim-length fold per probed cell), and the residual term
   * is one ADC table of the RAW query against the residual codebooks —
   * computed once per query and shared across its probes, the same
   * single-table cost as raw IVF-PQ. The corpus side remains
   * `(id, cell, codes)` only; the coarse quantizer's contribution to
   * the score is carried exactly instead of being re-approximated by
   * the codes, which is where the accuracy gain over raw-vector PQ
   * comes from (measured: see `bench/residual_recall_r10.json`). */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                        books: Seq[Seq[Seq[Double]]],
                        centsD: Seq[Seq[Double]], nprobe: Int): DataFrame =
    ivfPqResidualSearchIndex(queries,
      ivfPqResidualIndex(corpus, books, centsD), k, books, centsD, nprobe)

  /** Residual search over a PREBUILT `(id, cell, codes)` residual index
   * — the serving half of [[ivfPqResidualTopK]], split out so a
   * residual index that has lived through admission, splits
   * ([[ivfPqResidualSplit]]), deletion and compaction serves exactly
   * like a fresh one. `centsD` must be the table the index's codes are
   * CURRENTLY encoded against (post-split: the updated table whose
   * split slots hold the sub-centroids — a residual code is only
   * meaningful beside its own centroid). */
  def ivfPqResidualSearchIndex(queries: DataFrame, index: DataFrame, k: Int,
                               books: Seq[Seq[Seq[Double]]],
                               centsD: Seq[Seq[Double]],
                               nprobe: Int): DataFrame = {
    // dot(q, ct[cell]) as the same sequential fold the oracle uses
    val centTerm = aggregate(
      zip_with(col("vec").cast("array<double>"),
        element_at(typedLit(centsD.map(_.toSeq)), col("cell") + lit(1)),
        (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    val q = queries
      .select(col("id").as("query_id"), col("vec"),
        pqAdcCol(col("vec"), books).as("adct"),
        explode(ivfProbesD(col("vec"), centsD, nprobe)).as("cell"))
      .select(col("query_id"), col("cell"), col("adct"),
        centTerm.as("cent_dot"))
    adcRank(index, q, k, books.size, seed = Some(col("cent_dot")))
  }

  /** Deterministic pseudo-random hyperplanes: component (j, d) =
   * (h60("plane_j_d") mod 2001) - 1000, literal-embedded in the plan and
   * reproducible in SQL. */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Long]] =
    (0 until nPlanes).map(j => (0 until dim).map(d =>
      Hashing.h60(s"plane_${j}_$d") % 2001 - 1000))

  /** LSH bucket id: sign bit of each hyperplane dot product — one
   * compact codegen expression ([[graft.functions.LshBucket64]]); the
   * old per-bit `when(dot(lit-array, vec) > 0, ...)` chain hit the
   * same plan-size cliff as the IVF/PQ kernels at 32 planes. */
  def lshBucket(vec: Column, planes: Seq[Seq[Long]]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.LshBucket64(
        org.apache.spark.sql.graft.ColumnBridge.expression(vec),
        planes.map(_.map(_.toDouble))))

  /** Fixed pseudo-random IVF centroids: component (j, d) =
   * (h60("centroid_j_d") mod 2001) - 1000 — like [[hyperplanes]],
   * literal-embedded in the plan and in the oracle SQL. A production
   * build would train these with k-means; the quantizer mechanics
   * (assign, nprobe, in-cell rerank) are identical. */
  def ivfCentroids(nCells: Int, dim: Int): Seq[Seq[Long]] =
    (0 until nCells).map(j => (0 until dim).map(d =>
      graft.functions.Hashing.h60(s"centroid_${j}_$d") % 2001 - 1000))

  /** Cells ranked by centroid score descending, ties to the smaller
   * cell id — ONE compact codegen expression whose generated code is
   * independent of codebook size (see [[graft.functions.IvfRankCells]]
   * for the measured cliff the old nCells×dim-literal formulation hit
   * past ~dozens of cells). */
  private def rankCells(vec: Column, cents: Seq[Seq[Double]],
                        nprobe: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.IvfRankCells(
        org.apache.spark.sql.graft.ColumnBridge.expression(vec),
        cents, nprobe))

  /** IVF coarse assignment: the best-scoring cell. */
  def ivfAssign(vec: Column, cents: Seq[Seq[Long]]): Column =
    ivfAssignD(vec, cents.map(_.map(_.toDouble)))

  def ivfAssignD(vec: Column, cents: Seq[Seq[Double]]): Column =
    element_at(rankCells(vec, cents, 1), 1)

  /** The `nprobe` best cells for a query. */
  def ivfProbesD(vec: Column, cents: Seq[Seq[Double]], nprobe: Int): Column =
    rankCells(vec, cents, nprobe)

  /**
   * SPHERICAL k-means over the corpus (Dhillon & Modha 2001),
   * initialized from the deterministic [[ivfCentroids]] — the
   * production IVF path (the fixed pseudo-random centroids are the
   * verifiable stand-in; this trains real ones and they drop into the
   * same quantizer with no plan change). Spherical — every centroid is
   * renormalized to unit length after its mean update — because the
   * quantizer assigns by raw dot product ([[ivfAssignD]]): with
   * unnormalized means a long centroid captures vectors that are
   * angularly closer to a short one, which is exactly the
   * cell/probe-mismatch that tanks recall under cosine retrieval. On
   * the unit sphere argmax-dot IS argmax-cosine, so assignment,
   * probing, and the retrieval metric all agree.
   *
   * Each iteration is one corpus scan: assign (codegen'd [[dot]] per
   * centroid) → per-cell elementwise sums (ONE shuffle of `nCells × dim`
   * DECIMAL partials with map-side combine) → `nCells` rows collected to
   * the driver. Empty cells keep their previous centroid. At 100 TB the
   * per-iteration cost is the scan; driver state is `nCells × dim`
   * doubles.
   *
   * DETERMINISTIC like [[trainPqCodebooks]]: DECIMAL partial sums are
   * exact and associative, and the mean + unit-normalization divide
   * once on the driver in a fixed fold order — identical centroids
   * under any partitioning, so trained-centroid searches hash-compare
   * against an oracle built from the same literals.
   */
  def trainIvfCentroids(corpus: DataFrame, nCells: Int = 16, dim: Int = 64,
                        iters: Int = 3): Seq[Seq[Double]] =
    trainIvfCentroidsFrom(corpus,
      ivfCentroids(nCells, dim).map(_.map(_.toDouble)), dim, iters)

  /** The Lloyd loop under an EXPLICIT initialization — the same exact
   * decimal-sum math as [[trainIvfCentroids]] (which delegates here
   * with the synthetic grid init, so every trained-constant oracle is
   * unchanged). A production REINDEX seeds from the corpus itself
   * (e.g. a deterministic stride sample) — a drifted corpus's mass
   * then attracts centroids the synthetic grid never reaches; the
   * drift recall probe measured exactly that gap
   * (bench/lifecycle_recall_r14.json). */
  def trainIvfCentroidsFrom(corpus: DataFrame, init: Seq[Seq[Double]],
                            dim: Int, iters: Int): Seq[Seq[Double]] = {
    def unit(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      if (n > 0.0) v.map(_ / n) else v
    }
    var cents = init.map(unit)
    for (_ <- 0 until iters) {
      val sums = corpus
        .select(col("vec"), ivfAssignD(col("vec"), cents).as("cell"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"),
          array((0 until dim).map(i =>
            sum(element_at(col("vec"), i + 1).cast(SumDecimal))): _*).as("s"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[java.math.BigDecimal](2)))
        .toMap
      cents = cents.zipWithIndex.map { case (old, j) =>
        sums.get(j) match {
          case Some((n, s)) if n > 0 => unit(s.map(_.doubleValue / n).toSeq)
          case _ => old
        }
      }
    }
    cents
  }

  /** Deterministic corpus-stride seeding for [[trainIvfCentroidsFrom]]:
   * every ⌈n/k⌉-th vector in id order — the spread-out sample a
   * production reindex initializes from (no RNG: resumable, and the
   * same corpus always trains the same table). The global id order is
   * a DISTRIBUTED range sort (range-partitioned shuffle + per-
   * partition sort), and the global position comes from
   * `zipWithIndex`'s per-partition offsets — never a single-partition
   * `Window.orderBy`, which would funnel the whole corpus through one
   * task at reindex scale. Driver traffic is the k seed vectors. */
  def strideSeeds(corpus: DataFrame, k: Int): Seq[Seq[Double]] = {
    val n = corpus.count()
    val stride = math.max(1L, n / k)
    corpus.select(col("id"), col("vec"))
      .repartitionByRange(col("id"))
      .sortWithinPartitions("id")
      .rdd.zipWithIndex()
      .collect { case (row, i) if i % stride == 0 && i / stride < k =>
        (i, row.getSeq[Float](1).map(_.toDouble).toSeq) }
      .collect()
      .sortBy(_._1).map(_._2).toSeq
  }

  /** Accumulator type for training sums: a float element rounds to 12
   * decimal places deterministically, sums stay exact (15 integer
   * digits of headroom), and order never matters — decimal addition is
   * associative where double addition is not. */
  private val SumDecimal = DecimalType(27, 12)

  /** DECIMAL-exact mean of a corpus's UNIT-normalized vectors — the
   * frozen CENTER for mean-centered LSH bucketing (the w17 semantic
   * leg's spread fix): hashed text-count vectors share a dominant
   * common direction (stopword dims carry most counts identically for
   * every doc), so raw sign-of-dot buckets collapse — measured 15% of
   * an sf0.1 corpus in ONE of 512 buckets. Subtracting the unit-mean
   * leaves residual directions that spread near-uniformly (measured
   * max bucket 754 → 98 at the same dial), while two identical
   * vectors still bucket together under ANY center. DETERMINISTIC
   * like [[trainIvfCentroids]]: unit components are pure per-row
   * double ops, partial sums accumulate in DECIMAL (exact,
   * associative), and the single divide runs on the driver —
   * identical center under any partitioning, so the literal renders
   * into both the Spark plan and the oracle. Trains once at bootstrap
   * and freezes (quantizer discipline); a reindex re-trains it. */
  def meanUnitVector(corpus: DataFrame, vecCol: String, dim: Int): Seq[Double] = {
    val v = col(vecCol)
    val nz = when(norm(v) === 0.0, lit(1.0)).otherwise(norm(v))
    val r = corpus.select(
        count(lit(1)).as("n"),
        array((0 until dim).map(i =>
          sum((element_at(v, i + 1) / nz).cast(SumDecimal))): _*).as("s"))
      .collect()(0)
    val n = r.getLong(0)
    if (n == 0L) Seq.fill(dim)(0.0)
    else r.getSeq[java.math.BigDecimal](1).map(_.doubleValue / n).toSeq
  }

  /** The mean-centered bucketing vector: `vec / max(‖vec‖, 0→1) −
   * center`, element-wise — feed this (not the raw vector) to
   * [[lshBucket]] when the corpus has a dominant common direction.
   * The all-zero vector (empty token bag) skips normalization and
   * centers to `-center` — every empty doc shares one bucket, and
   * their cosine against anything is NaN. Spark SQL (and DuckDB)
   * order NaN GREATER than any numeric, so `cosine >= threshold` is
   * TRUE for zero-vector pairs: two distinct empty-token-bag docs in
   * the shared bucket DO flag as semantic dups — a defensible verdict
   * for content-free documents, and identical under both engines, so
   * gates and oracles agree by construction. */
  def unitCentered(vec: Column, center: Seq[Double]): Column = {
    val nz = when(norm(vec) === 0.0, lit(1.0)).otherwise(norm(vec))
    zip_with(vec, typedlit(center), (x, c) => x / nz - c)
  }

  /**
   * ANN via IVF: corpus partitions into cells by nearest centroid;
   * queries probe their `nprobe` best cells and rerank candidates by
   * exact cosine. The other classic ANN scale path next to
   * [[annTopK]]'s LSH: one shuffle on (cell), search cost |corpus| *
   * nprobe / nCells per query.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nprobe: Int = 2, dim: Int = 64): DataFrame =
    ivfTopKWith(queries, corpus, k,
      ivfCentroids(nCells, dim).map(_.map(_.toDouble)), nprobe)

  /** IVF search against explicit (e.g. [[trainIvfCentroids]]-trained)
   * centroids — identical mechanics, centroids are plan literals. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, k: Int,
                  cents: Seq[Seq[Double]], nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      explode(ivfProbesD(col("vec"), cents, nprobe)).as("cell"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
      ivfAssignD(col("vec"), cents).as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * IVF with corpus-side MULTI-ASSIGNMENT: each corpus vector indexes
   * into its `assign` best cells (not just its nearest), the classic
   * recall lever for corpora with little cluster structure — an
   * isotropic corpus spreads any query's true neighbors across cells
   * almost uniformly, so single-assignment recall is capped near the
   * scanned fraction; overlapping cells recover the neighbors that
   * fell just across a cell boundary. Index size and probe cost scale
   * by `assign` (posting lists hold `assign`×|corpus| entries), which
   * is the trade the e13b recall curve exists to price. A (query,
   * neighbor) pair can now meet in several probed cells, so candidates
   * dedup on (query_id, neighbor_id) before the rank — the score is a
   * pure function of the two vectors, so the dedup is exact.
   * `assign = 1` reduces to [[ivfTopKWith]].
   */
  def ivfTopKMulti(queries: DataFrame, corpus: DataFrame, k: Int,
                   cents: Seq[Seq[Double]], nprobe: Int,
                   assign: Int): DataFrame =
    ivfSearchMultiAssigned(queries,
      ivfMultiAssign(corpus, cents, assign), k, cents, nprobe)

  /** The corpus side of [[ivfTopKMulti]] as a standalone frame —
   * `(neighbor_id, cvec, cell)` with each vector exploded into its
   * `assign` best cells. Split out so a sweep (e13b's recall surface)
   * can persist ONE multi-assignment per assign level and reuse it
   * across every nprobe value: the assignment kernel (nCells×dim dots
   * per corpus row) is the scan-side cost, and Spark physical plans
   * do not dedupe repeated subplans on their own. */
  def ivfMultiAssign(corpus: DataFrame, cents: Seq[Seq[Double]],
                     assign: Int): DataFrame =
    corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
      explode(ivfProbesD(col("vec"), cents, assign)).as("cell"))

  /** Search over a prebuilt [[ivfMultiAssign]] frame — the serving
   * half of [[ivfTopKMulti]]. */
  def ivfSearchMultiAssigned(queries: DataFrame, assigned: DataFrame,
                             k: Int, cents: Seq[Seq[Double]],
                             nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      explode(ivfProbesD(col("vec"), cents, nprobe)).as("cell"))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
      .distinct()
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * k-NN GRAPH construction — every corpus vector's top-k neighbors
   * (the all-pairs variant of [[ivfTopKWith]], the substrate for
   * graph-based curation: SemDeDup variants, dataset cartography,
   * label propagation over embeddings).
   *
   * Scale shape: query-time search broadcasts its tiny query side, but
   * here queries ARE the corpus — so both sides hash-partition on the
   * IVF cell instead (`shuffle_hash` hint pins the shuffled join even
   * at test SF where the optimizer would happily broadcast 500 rows).
   * Shuffle volume is corpus × (1 + nprobe) rows keyed by cell;
   * candidate pairs are Σ_cells |cell| × |probes into cell| — bounded
   * by nprobe/nCells of all-pairs, tunable like every IVF op. The
   * top-k per node is a rank window on query_id (WindowGroupLimit
   * heap-bounds it to k per key before the final shuffle).
   */
  def knnGraph(corpus: DataFrame, k: Int, cents: Seq[Seq[Double]],
               nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = corpus.select(col("id").as("query_id"), col("vec").as("qvec"),
      explode(ivfProbesD(col("vec"), cents, nprobe)).as("cell"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
      ivfAssignD(col("vec"), cents).as("cell"))
    val scored = c.join(q.hint("shuffle_hash"), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * MMR-diversified top-k (Carbonell & Goldstein 1998): retrieve each
   * query's top-`n` by cosine, then greedily rerank to `k` picks by
   * maximal marginal relevance — score(d) = λ·sim(q,d) − (1−λ)·max_{s∈S}
   * sim(d,s), ties to the smaller id. The diversified-retrieval stage of
   * a curation/eval pipeline (don't hand a labeler k near-copies).
   *
   * Scale shape: retrieval is the distributed part ([[bruteForceTopK]]
   * here; any ANN path drops in). The rerank keeps a RUNNING max-penalty
   * per candidate instead of materializing the n×n pairwise-sim frame:
   * max over picks is associative, so each round only has to score the
   * surviving candidates against the ONE pick the previous round added
   * (a 1-row-per-query join), fold it into the carried `pen` column,
   * and rank. Per-round traffic is queries × n rows, total cosine work
   * is queries × n × k — never queries × n² cached state, never
   * corpus-sized, and never through the driver. Only candidate
   * relevance persists (scoped).
   *
   * k ceiling: greedy MMR is INHERENTLY sequential in k — each round is
   * one driver-coordinated job (a single window pass, checkpointed), so
   * wall time is ~k × per-round job latency regardless of cluster size.
   * Measured at n=60 on local[32]: 1.2 s at k=5, 3.8 s at k=25, 6.3 s
   * at k=50 — linear in k
   * (`OperatorsSpec` pins completion + exact-k semantics). Practical
   * ceiling is k in the low hundreds; past that, batch diversification
   * (pick several per round, accepting approximate MMR) is the right
   * operator — greedy-exact is the contract here.
   */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, n: Int, k: Int,
                lambda: Double)(implicit scope: CacheScope): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // validate up front: k <= 0 would otherwise surface as an opaque
    // reduce-on-empty error after the retrieval stage already ran
    require(k >= 1, s"mmrRerank needs at least one pick, got k=$k")
    require(n >= k, s"mmrRerank candidate width n=$n must cover k=$k picks")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmrRerank lambda must be in [0,1], got $lambda")
    val rel = scope.persist(
      bruteForceTopK(queries, corpus, n)
        .select(col("query_id"), col("neighbor_id").as("cand"),
          col("sim").as("rel"))).toDF()
    val vecs = corpus.select(col("id").as("cand"), col("vec"))
    val byScore = (score: Column) => Window.partitionBy("query_id")
      .orderBy(score.desc, col("cand"))
    // pen = max cosine against the picks so far; null until the first
    // pick lands, and greatest() ignores nulls on the fold — so the
    // step-1 score reduces to λ·rel exactly
    val score = lit(lambda) * col("rel") -
      when(col("pen").isNull, lit(0.0)).otherwise(lit(1.0 - lambda) * col("pen"))
    var cands = rel.join(vecs, "cand")
      .withColumn("pen", lit(null).cast("double"))
    // ONE window pass and ONE checkpoint per round, and NO per-round
    // join: ranking by the current MMR score and carrying the TOP row's
    // vector to every survivor (running `first` over the same ordered
    // window) share a single materialization; pick extraction and the
    // penalty fold are then filters over the checkpointed frame. The
    // earlier join-per-round formulation was quadratic in a hidden
    // place: localCheckpoint rewrites stats from the ORIGINAL plan, a
    // join's sizeInBytes estimate is the BigInt PRODUCT of its
    // children's, and a self-referential join per round doubles the
    // BigInt's DIGIT COUNT every round — at k=50 the driver disappeared
    // into BigInteger.multiply inside stats estimation. Filters and
    // projections only scale the estimate, so digits now grow linearly
    // and the deep-k path stays driver-light (k barriers total).
    val picks = Seq.newBuilder[DataFrame]
    for (i <- 1 to k) {
      val w = byScore(score)
      val ranked = cands
        .withColumn("rk", row_number().over(w))
        .withColumn("pvec", first(col("vec")).over(w))
        .localCheckpoint()
      // the pick frames union flat at the end: each references only the
      // round's checkpointed frame, nothing nests, nothing re-evaluates
      picks += ranked.filter(col("rk") === 1)
        .select(col("query_id"), col("cand").as("pick"),
          score.as("score"), lit(i).as("step"))
      // marginal update: drop the pick, fold its similarity into pen —
      // the previous picks' contribution already lives in the column
      if (i < k) cands = ranked.filter(col("rk") > 1)
        .select(col("query_id"), col("cand"), col("rel"), col("vec"),
          greatest(col("pen"), cosine(col("vec"), col("pvec"))).as("pen"))
    }
    picks.result().reduce(_.unionByName(_))
  }

  /**
   * Semantic deduplication (the SemDeDup shape — Abbas et al. 2023):
   * coarse-cluster the corpus by nearest centroid, then WITHIN each
   * cluster drop every vector that has a higher-priority (smaller-id)
   * neighbor with cosine ≥ `tau`. Returns the survivors (id, cell).
   *
   * Scale shape: candidate generation is a self-equi-join on (cell) —
   * never all-pairs; pair count is Σ|cell|², controlled by nCells (at
   * 100 TB: k-means cells sized so each fits an executor, exactly the
   * paper's setup, with [[trainIvfCentroids]] supplying real
   * centroids). The anti-join back is one shuffle on id.
   */
  def semDedup(corpus: DataFrame, cents: Seq[Seq[Long]], tau: Double): DataFrame =
    semDedupBy(corpus, ivfAssign(col("vec"), cents), tau)

  /** [[semDedup]] over TRAINED (double) centroids — the paper's actual
   * configuration: k-means cells sized to the corpus (nCells ∝ √n keeps
   * Σ|cell|² linear-ish), quantized by the same runtime-data expression
   * the IVF search paths use. */
  def semDedupD(corpus: DataFrame, cents: Seq[Seq[Double]], tau: Double): DataFrame =
    semDedupBy(corpus, ivfAssignD(col("vec"), cents), tau)

  private def semDedupBy(corpus: DataFrame, cellOf: org.apache.spark.sql.Column,
                         tau: Double): DataFrame = {
    val b = corpus.select(col("id"), col("vec"), cellOf.as("cell"))
    val l = b.select(col("cell"), col("id").as("ida"), col("vec").as("veca"))
    val r = b.select(col("cell"), col("id").as("idb"), col("vec").as("vecb"))
    val dropped = l.join(r, Seq("cell"))
      .filter(col("ida") < col("idb"))
      .filter(cosine(col("veca"), col("vecb")) >= lit(tau))
      .select(col("idb").as("id")).distinct()
    b.join(dropped, Seq("id"), "left_anti").select(col("id"), col("cell"))
  }

  /**
   * Embedding-cosine near-dup report: the most similar pairs among
   * LSH-bucket cohabitants (candidate generation never goes O(n^2)).
   * Returns the global top `topPairs` by similarity, total-ordered.
   */
  def nearDupPairs(corpus: DataFrame, nPlanes: Int = 8,
                   topPairs: Int = 20, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val b = corpus.select(col("id"), col("vec"),
      lshBucket(col("vec"), planes).as("bucket"))
    val l = b.select(col("bucket"), col("id").as("ida"), col("vec").as("veca"))
    val r = b.select(col("bucket"), col("id").as("idb"), col("vec").as("vecb"))
    l.join(r, Seq("bucket")).filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"), cosine(col("veca"), col("vecb")).as("sim"))
      .orderBy(col("sim").desc, col("ida"), col("idb"))
      .limit(topPairs)
  }

  /**
   * ANN via hyperplane LSH: queries search only their own bucket, then
   * rank by exact cosine. Same output shape as [[bruteForceTopK]]
   * (minus whatever true neighbors hash elsewhere — the recall trade).
   */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val planes = hyperplanes(nPlanes, dim)
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      lshBucket(col("vec"), planes).as("bucket"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
      lshBucket(col("vec"), planes).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
