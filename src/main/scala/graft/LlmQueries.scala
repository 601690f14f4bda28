package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Hashing
import graft.ml.Similarity
import graft.multimodal.Multimodal
import graft.operators.CacheScope
import graft.pipeline.AdmissionGate.{AudioSeedMod, Bands, ContainMaxDf,
  ContainMinShingles, ContainTauDen, ContainTauNum, DecontMaxDf,
  DecontMinShared, Dim, NumPerms, SemMaxBucket, SemTau, scaledPlaneCount}
import graft.text.{Dedup, TextAnalysis}

/**
 * LLM-training-data pipeline queries (dedup / similarity / text analysis /
 * multimodal) with DuckDB oracles. The oracle SQL is GENERATED from the
 * same Scala constants the Spark plans embed (minhash permutations, LSH
 * hyperplanes, stopword profiles), and every float reduction folds
 * left-to-right in double precision in both engines — so even the
 * hash-based and cosine-based results compare exactly, not rows-only.
 */
object LlmQueries {

  import graft.Tables.{T, Tpar}

  // ---- shared constants (Spark plan AND oracle SQL derive from these) ----
  // (NumPerms, Bands, Dim and the admission-leg dials are the gate's,
  // imported from graft.pipeline.AdmissionGate)

  private val Rows = NumPerms / Bands
  private val Perms = Hashing.minhashPerms(NumPerms)
  private val NPlanes = 8
  private val Planes = Similarity.hyperplanes(NPlanes, Dim)
  private val TopK = 10
  private val NCells = 16
  private val NProbe = 2
  private val Cents = Similarity.ivfCentroids(NCells, Dim)
  private val PqM = 8
  private val PqSubDim = Dim / PqM
  private val PqCodes = 16
  private val PqBooks = Similarity.pqCodebooks(PqM, PqSubDim, PqCodes)
  private val PqNorms = Similarity.pqCellNorms(PqBooks)

  // ---- trained quantizer constants (memoized per data dir) ---------------
  //
  // Training is deterministic (DECIMAL partial sums, driver-side mean —
  // see Similarity.trainIvfCentroids/trainPqCodebooks), so the trained
  // constants are pure functions of the corpus: train once per dir,
  // reuse across the query, its oracle, and bench re-runs — exactly the
  // production shape (FAISS trains a quantizer once, then serves).

  private val trainedIvf =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Double]]]
  private val trainedPq =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Double]]]]

  private def embFrame(s: SparkSession, dir: String): DataFrame =
    Tpar(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private[graft] def trainedCents(s: SparkSession, dir: String): Seq[Seq[Double]] =
    trainedIvf.getOrElseUpdate(dir,
      Similarity.trainIvfCentroids(embFrame(s, dir), NCells, Dim, iters = 5))

  private val trainedIvfScaled =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Double]]]

  /** The PRODUCTION cell count: nCells ∝ √n keeps the Σ|cell|² pair
   * frame of the cell-bucketed self-joins (e9, d10) linear-ish in n —
   * the dial `bench/knn_ladder_r07.json` measured (80 cells at sf0.5 =
   * 1.23 s, sublinear). Floor at [[NCells]] so tiny dirs still train a
   * meaningful quantizer. Deterministic per dir: n is a count, training
   * is DECIMAL-exact, so the dynamic oracle renders identical literals. */
  private[graft] def trainedCentsScaled(s: SparkSession, dir: String): Seq[Seq[Double]] =
    trainedIvfScaled.getOrElseUpdate(dir, {
      val n = embFrame(s, dir).count()
      val nCells = math.max(NCells, math.round(math.sqrt(n.toDouble)).toInt)
      Similarity.trainIvfCentroids(embFrame(s, dir), nCells, Dim, iters = 5)
    })

  private[graft] def trainedBooks(s: SparkSession, dir: String): Seq[Seq[Seq[Double]]] =
    trainedPq.getOrElseUpdate(dir,
      Similarity.trainPqCodebooks(embFrame(s, dir), PqM, PqSubDim, PqCodes,
        iters = 2, sampleMod = 4))

  // e14's frozen constants: trained on the EXISTING slice only (vec_id <
  // AdmitBoundary) — the incremental-admission contract is that incoming
  // vectors fold into an index whose quantizers were trained BEFORE they
  // arrived (FAISS semantics: train once, add forever)
  private val AdmitBoundary = 400L

  // e17's deterministic tombstone slice: ids with id % DeleteMod == 3
  // stand in for a takedown list (SQL-expressible, ~14% of the corpus)
  private val DeleteMod = 7L
  private val trainedIvfBase =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Double]]]
  private val trainedPqBase =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Double]]]]

  private def embExisting(s: SparkSession, dir: String): DataFrame =
    embFrame(s, dir).filter(col("id") < AdmitBoundary)

  private[graft] def trainedCentsBase(s: SparkSession, dir: String): Seq[Seq[Double]] =
    trainedIvfBase.getOrElseUpdate(dir,
      Similarity.trainIvfCentroids(embExisting(s, dir), NCells, Dim, iters = 5))

  private[graft] def trainedBooksBase(s: SparkSession, dir: String): Seq[Seq[Seq[Double]]] =
    trainedPqBase.getOrElseUpdate(dir,
      Similarity.trainPqCodebooks(embExisting(s, dir), PqM, PqSubDim, PqCodes,
        iters = 2, sampleMod = 4))

  // e33's RETRAINED constants: quantizers trained on the SURVIVING
  // corpus the reindex will serve (everything admitted minus the
  // tombstoned slice) — the production retrain for drift the surgical
  // verbs can't repair. Memoized per dir like every trained constant.
  private val trainedIvfReindex =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Double]]]
  private val trainedPqReindex =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Double]]]]

  private def embSurvivors(s: SparkSession, dir: String): DataFrame =
    embFrame(s, dir).filter(pmod(col("id"), lit(DeleteMod)) =!= 3)

  private[graft] def trainedCentsReindex(s: SparkSession, dir: String): Seq[Seq[Double]] =
    trainedIvfReindex.getOrElseUpdate(dir,
      Similarity.trainIvfCentroids(embSurvivors(s, dir), NCells, Dim, iters = 5))

  private[graft] def trainedBooksReindex(s: SparkSession, dir: String): Seq[Seq[Seq[Double]]] =
    trainedPqReindex.getOrElseUpdate(dir,
      Similarity.trainPqCodebooks(embSurvivors(s, dir), PqM, PqSubDim, PqCodes,
        iters = 2, sampleMod = 4))

  // ---- DuckDB SQL fragments ----------------------------------------------

  private val P = Hashing.P
  private def h60(e: String) = Hashing.h60Sql(e)
  private val toksSql = """regexp_extract_all(text, '\S+')"""

  /** distinct shingle hashes from 31-bit token hashes `th` (mirrors
   * Dedup.shingleHashesFromTokenHashes: poly combination mod P). */
  private val shingleHashesSql =
    s"""list_distinct(list_transform(range(0, len(th) - 2),
       |  i -> ((th[i+1] * 31 + th[i+2]) * 31 + th[i+3]) % $P))""".stripMargin

  /** per-token 31-bit hashes (mirrors Dedup.tokenHashes31). */
  private val tokenHashesSql =
    s"""list_transform($toksSql, t -> ${h60("t")} % $P)"""

  /** minhash signature literal list (one expr per permutation). */
  private val sigSql = Perms.map { case (a, b) =>
    s"list_min(list_transform(hashes, h -> ($a * (h % $P) + $b) % $P))"
  }.mkString("[", ",\n    ", "]")

  /** sequential double dot product of two DuckDB lists. */
  private def dotSql(a: String, b: String) =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(range(1, ${Dim + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)),
       |  (acc, x) -> acc + x)""".stripMargin

  private def cosineSql(a: String, b: String) =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  // ---- queries -----------------------------------------------------------

  /** D1: exact dedup over a corpus with planted duplicates (the table
   * unioned with itself under shifted ids — keep min id, count copies). */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select("doc_id", "text")
    val corpus = d.unionByName(
      d.withColumn("doc_id", col("doc_id") + 1000000L))
    Dedup.exactDedup(corpus, "doc_id", "text").orderBy("doc_id")
  }

  /** D2: MinHash-LSH candidate pairs with matching-minhash counts. The
   * candidate set (small) materializes inside a [[CacheScope]] so the
   * signature-table cache is released as soon as it is consumed. */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      Dedup.minhashCandidates(Tpar(s, dir, "documents"), "doc_id", "text",
        k = 3, numPerms = NumPerms, bands = Bands)
    }.withColumnRenamed("ida", "doc_a").withColumnRenamed("idb", "doc_b")
      .orderBy("doc_a", "doc_b")

  /** D3: SimHash near-dup pairs within hamming radius 16. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      Dedup.simhashPairs(Tpar(s, dir, "documents"), "doc_id", "text", maxHamming = 16)
    }.withColumnRenamed("ida", "doc_a").withColumnRenamed("idb", "doc_b")
      .orderBy("doc_a", "doc_b")

  /** D4: exact n-gram Jaccard verification over the LSH candidates. */
  def dedupJaccardVerify(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents")
    CacheScope.materialized { implicit scope =>
      val cands = Dedup.minhashCandidates(docs, "doc_id", "text",
        k = 3, numPerms = NumPerms, bands = Bands).select("ida", "idb")
      Dedup.jaccardVerify(cands, docs, "doc_id", "text", k = 3)
        .filter(col("jaccard") >= 0.5)
    }.withColumnRenamed("ida", "doc_a").withColumnRenamed("idb", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  /** D7: Bloom-pruned decontamination — the asymmetric small-bench /
   * huge-train shape: bench shingles → broadcast Bloom, train shingles
   * pruned before the join shuffle, exact verify after. */
  def decontaminationBloom(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      Dedup.decontaminateBloom(Tpar(s, dir, "documents"), "doc_id", "text",
        benchPred = col("doc_id") < 20, k = 3, minShared = 3, benchMaxDf = 10)
    }.orderBy("bench_id", "train_id")

  /** D6: duplicate clusters — connected components over the LSH
   * candidate pairs (pairs→groups: cluster id = min doc id in the
   * component, the representative a dedup pass would keep). */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      val pairs = Dedup.minhashCandidates(Tpar(s, dir, "documents"),
        "doc_id", "text", k = 3, numPerms = NumPerms, bands = Bands)
        .select("ida", "idb")
      val labels = Dedup.duplicateClusters(pairs)
      val sizes = labels.groupBy(col("label"))
        .agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "label")
        .select(col("node").as("doc_id"), col("label").as("cluster_id"),
          col("cluster_size"))
    }.orderBy("doc_id")

  /** D8: duplicate clusters via large-star/small-star contraction —
   * same pairs→groups contract as [[dupClusters]] (identical output,
   * identical oracle), but rounds are O(log^2 n) in component size
   * instead of O(diameter): the variant a 100 TB corpus with
   * adversarially chained duplicates needs. */
  def dupClustersStar(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      val pairs = Dedup.minhashCandidates(Tpar(s, dir, "documents"),
        "doc_id", "text", k = 3, numPerms = NumPerms, bands = Bands)
        .select("ida", "idb")
      val labels = Dedup.duplicateClustersStar(pairs)
      val sizes = labels.groupBy(col("label"))
        .agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "label")
        .select(col("node").as("doc_id"), col("label").as("cluster_id"),
          col("cluster_size"))
    }.orderBy("doc_id")

  /** D9: chunk-level (paragraph-style) boilerplate removal — chunks
   * appearing in >= 2 distinct docs are stripped, documents reassembled
   * in order; output digests the cleaned text. */
  def chunkDedupDocs(s: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedup(Tpar(s, dir, "documents"), "doc_id", "text",
      chunkTokens = 10, minDf = 2)
      .orderBy("doc_id")

  /** X14: repeated n-gram mining — the boilerplate diagnostic: which
   * 5-grams recur across the most documents. Top-k plans as
   * TakeOrderedAndProject after one aggregation keyed on the gram's
   * 16-byte md5 digest (the d9/d1 pattern): the shuffle hashes, sorts
   * and compares fixed-width binary instead of ~5-token strings, and
   * `min(gram)` carries one exemplar text per (key, map task) to
   * resolve the digest back — invisible to results (an md5 collision
   * between distinct 5-grams is negligible; every row in a digest
   * group holds the identical gram, so min = the gram). */
  def repeatedNgrams(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val toks = Tpar(s, dir, "documents")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("_t"))
      .filter(size(col("_t")) >= k)
    val grams = toks.select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("_t")) - k),
        i => concat_ws(" ", slice(col("_t"), i + 1, lit(k))))).as("gram"))
    grams
      .select(unhex(md5(col("gram"))).as("_g"), col("doc_id"), col("gram"))
      .groupBy("_g")
      .agg(min(col("gram")).as("gram"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
      .select("gram", "n_docs", "n_occurrences")
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("gram"))
      .limit(15)
  }

  /** D11: exact substring-span dedup (Lee et al. 2022) — maximal
   * cross-doc duplicated token spans per document, 15-token windows.
   * The spans are what a pipeline cuts before training. */
  def duplicateSpans(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      Dedup.duplicateSpans(Tpar(s, dir, "documents"), "doc_id", "text", k = 15)
    }.orderBy("doc_id", "span_start")

  /** X27: n-gram novelty — the marginal-information score a mixing
   * pipeline dials on: the fraction of each doc's distinct trigram
   * shingles appearing nowhere else in the corpus. */
  def noveltyScoreQ(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      Dedup.noveltyScore(Tpar(s, dir, "documents"), "doc_id", "text", k = 3)
    }.orderBy("doc_id")

  /** X28: admission-time novelty — x27's production form: incoming
   * docs (id ≥ 400, the embeddings family's admission boundary) score
   * against the frozen reference's distinct-shingle set; per-batch
   * cost is one batch-side join, never a corpus-wide df recompute. */
  def noveltyAtAdmissionQ(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      val docs = Tpar(s, dir, "documents")
      Dedup.noveltyAtAdmission(
        docs.filter(col("doc_id") < AdmitBoundary),
        docs.filter(col("doc_id") >= AdmitBoundary),
        "doc_id", "text", k = 3)
    }.orderBy("doc_id")

  /** X26: containment near-dup — the asymmetric |A∩B|/|A| verdict over
   * informative (df-capped) shingles (the d-family's trigram space);
   * finds the quoted-inside pairs Jaccard misses. Threshold ½,
   * integer-exact. */
  def containmentPairsQ(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      Dedup.containmentPairs(Tpar(s, dir, "documents"), "doc_id", "text",
        k = 3, tauNum = 1, tauDen = 2, maxDf = 20)
    }.orderBy("ida", "idb")

  /** X25: span-dedup REPAIR — d11's detection closed into the cut a
   * curation pipeline applies (the x24 pattern at the substring level):
   * duplicated 15-token windows vanish from every doc except the
   * earliest holder, and the gate hashes the REASSEMBLED clean text —
   * an off-by-one in the cut window or a dropped survivor token
   * mismatches the whole document string. */
  def spanDedupRepairQ(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      Dedup.spanDedupRepair(Tpar(s, dir, "documents"), "doc_id", "text", k = 15)
    }.orderBy("doc_id")

  /** D12: the END-TO-END near-dedup verdict — the full pipeline a
   * curation run executes, composed from the stages d2/d4/d6 check
   * individually: MinHash-LSH candidates → exact-Jaccard verify (≥ 0.5)
   * → connected components over the VERIFIED pairs → keep one canonical
   * representative (min id) per cluster. Every document gets a verdict
   * row: its cluster id and whether it survives. The labels frame is
   * O(documents-in-clusters); no broadcast HINT on the verdict join —
   * on a lightly-duplicated corpus AQE broadcasts it, but a
   * CommonCrawl-grade corpus (30%+ near-dup) has corpus-scale labels
   * and must shuffle-join on doc_id; forcing broadcast would OOM the
   * driver exactly when dedup matters most. */
  /** The verdict is a pure function of the corpus, so it memoizes per
   * (session, data dir) like the trained quantizers (the result is a
   * materialized localCheckpoint, ~1 row/doc): d12 and the x18 funnel
   * share one computation per session. Keyed by the session too — a
   * DataFrame is bound to its SparkSession, so a dir-only key would hand
   * a fresh session a handle into a stopped context. */
  private val dedupVerdicts =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def nearDedupCorpus(s: SparkSession, dir: String): DataFrame =
    dedupVerdicts.getOrElseUpdate((s, dir), {
      val docs = Tpar(s, dir, "documents")
      CacheScope.materialized { implicit scope =>
        val cands = Dedup.minhashCandidates(docs, "doc_id", "text",
          k = 3, numPerms = NumPerms, bands = Bands).select("ida", "idb")
        val verified = Dedup.jaccardVerify(cands, docs, "doc_id", "text", k = 3)
          .filter(col("jaccard") >= 0.5).select("ida", "idb")
        val labels = Dedup.duplicateClusters(verified)
        docs.select("doc_id")
          .join(labels, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("cluster_id"),
            (coalesce(col("label"), col("doc_id")) === col("doc_id")).as("kept"))
      }
    }).orderBy("doc_id")

  /** X17: temperature-weighted source mixing — per-source quotas
   * ∝ sqrt(ns) of a 300-doc target (alpha = 0.5 flattens the natural
   * distribution toward uniform), selected by the deterministic
   * rank-by-hash order. The quota derivation is a driver-side fold over
   * the per-source counts; the corpus sees one count aggregation and
   * one rank window. */
  def temperatureMixQ(s: SparkSession, dir: String): DataFrame = {
    val target = 300L
    val docs = T(s, dir, "documents").select("doc_id", "source")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("ns"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val quotas = TextAnalysis.temperatureQuotas(counts, target)
    val qmap = quotas.map { case (src, _, q) => src -> q }.toMap
    TextAnalysis.quotaSample(docs, "source", "doc_id", qmap)
      .groupBy("source")
      .agg(count(lit(1)).as("n_selected"), sum("doc_id").as("sum_ids"))
      .withColumn("quota", element_at(typedLit(qmap), col("source")))
      .select("source", "quota", "n_selected", "sum_ids")
      .orderBy("source")
  }

  /** D5: decontamination — training docs overlapping the "benchmark"
   * slice (doc_id < 20) by >= 5 rare shingles. */
  def decontamination(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      Dedup.decontaminate(Tpar(s, dir, "documents"), "doc_id", "text",
        benchPred = col("doc_id") < 20, k = 3, minShared = 5, maxDf = 10)
    }.orderBy("bench_id", "train_id")

  /** D16: decontamination AT ADMISSION — the ingest-gate form of d5
   * ([[Dedup.decontaminateAtAdmission]]): the benchmark suite (every
   * 10th doc under 400) compiles into frozen df-capped shingle
   * postings, and the incoming batch (docs >= 400, plus planted
   * contaminated docs: the first 30 tokens of every 20th benchmark
   * doc QUOTED verbatim in front of shingle-novel filler) checks
   * against them — any doc sharing >= 5 informative shingles with a
   * single benchmark doc is refused at the door instead of surfacing
   * in a post-hoc corpus scan. The oracle replays the plant and the
   * overlap join exactly. */
  def decontaminateAdmissionQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val bench = docs.filter(col("doc_id") < 400 && col("doc_id") % 10 === 0)
    val incoming = docs.filter(col("doc_id") >= 400)
      .unionByName(bench.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(
            concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 30)),
            lit(" "),
            translate(col("text"), "aeiou", "uoiea")).as("text")))
    CacheScope.materialized { implicit scope =>
      Dedup.decontaminateAtAdmission(bench, incoming, "doc_id", "text",
        k = 3, minShared = 5, maxDf = 10)
    }.orderBy("doc_id")
  }

  /** E1: brute-force cosine top-k (queries = vec_id < 5). */
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.bruteForceTopK(emb.filter(col("id") < 5), emb, TopK)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** E6: product-quantization ADC top-k — the corpus collapses to m
   * one-byte codes per vector (32x smaller than float32 here); queries
   * stay exact and score neighbors by codebook table lookups. */
  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    // Tpar: the per-row encode (m×codes sub-dots + m struct sorts) is
    // narrow; the single-row-group testdata would pin it to one task
    val emb = Tpar(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.pqTopK(emb.filter(col("id") < 5), emb, TopK, PqBooks)
      .select("query_id", "rank", "neighbor_id", "adc")
      .orderBy("query_id", "rank")
  }

  /** E7: IVF-PQ — the composed scale architecture: probe nprobe cells,
   * ADC-score only those cells' codes. */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tpar(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.ivfPqTopK(emb.filter(col("id") < 5), emb, TopK,
      PqBooks, Cents, NProbe)
      .select("query_id", "rank", "neighbor_id", "adc")
      .orderBy("query_id", "rank")
  }

  /** E7b: IVF-PQ with BOTH stages trained — spherical-k-means coarse
   * centroids (e3b's) over Lloyd-trained codebooks (e6b's), completing
   * the trained-variant matrix for the composed production
   * architecture. Deterministic training renders both literal sets
   * into the oracle, so the result is hash-exact like e3b/e6b/e9b. */
  def ivfPqTrainedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tpar(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.ivfPqTopKWith(emb.filter(col("id") < 5), emb, TopK,
      trainedBooks(s, dir), trainedCents(s, dir), NProbe)
      .select("query_id", "rank", "neighbor_id", "adc")
      .orderBy("query_id", "rank")
  }

  /** E6b: PQ ADC top-k with k-means-TRAINED codebooks — the production
   * path next to e6's fixed-book verifiable stand-in (exactly the
   * e3/e3b relationship). Two per-subspace Lloyd iterations from the
   * deterministic init, then the identical encode/ADC mechanics.
   * HASH-EXACT: training sums accumulate in DECIMAL so the books are
   * reduction-order-independent, and the oracle SQL is generated with
   * the same trained literals ([[dynamicOracleSql]]). Books memoize per
   * dir — train once, search many (the production amortization). */
  def pqTrainedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = embFrame(s, dir)
    Similarity.pqTopK(emb.filter(col("id") < 5), emb, TopK, trainedBooks(s, dir))
      .select("query_id", "rank", "neighbor_id", "adc")
      .orderBy("query_id", "rank")
  }

  /** E8: per-label centroid sums through the typed `Aggregator` UDAF —
   * one int8-quantized 64-long buffer per (key, map task) shuffles
   * instead of 64 exploded rows per vector; integer sums make the
   * custom-UDAF surface oracle-exact (the float mean variant is
   * spec-tested in `VectorAggSpec`). */
  def labelCentroidSum(s: SparkSession, dir: String): DataFrame = {
    val q = Tpar(s, dir, "embeddings")
      .select(col("label"), col("embedding").as("_v"),
        Similarity.absMax(col("embedding")).as("_amax"))
      .select(col("label"), Similarity.quantizeInt8(col("_v"), col("_amax")).as("_q"))
    q.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        graft.ml.VectorAgg.vectorSumCol(col("_q")).as("_sums"))
      .select(col("label"), col("n_vecs"),
        posexplode(col("_sums")).as(Seq("_pos", "s")))
      .select(col("label"), col("n_vecs"), (col("_pos") + 1).as("d"), col("s"))
      .orderBy("label", "d")
  }

  /** E5: int8-quantized similarity search — the corpus quantizes to
   * symmetric int8 (4x smaller scan/shuffle than float32), neighbors
   * rank by the exact integer dot product. */
  def quantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.quantizedTopK(emb.filter(col("id") < 5), emb, TopK)
      .select("query_id", "rank", "neighbor_id", "qdot")
      .orderBy("query_id", "rank")
  }

  /** E2: hyperplane-LSH ANN top-k — the bucketed scale path. */
  def annTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.annTopK(emb.filter(col("id") < 5), emb, TopK, NPlanes)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** E3: IVF ANN top-k — coarse quantize to cells, probe the 2 best
   * cells per query, exact-cosine rerank. */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.ivfTopK(emb.filter(col("id") < 5), emb, TopK, NCells, NProbe)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** E15: FILTERED ANN search — top-k among only the vectors matching a
   * metadata predicate (the FAISS-IDSelector / vector-DB
   * "filtered search" production shape: retrieval over the PERMITTED
   * slice, e.g. license-clean documents or one tenant's corpus). The
   * predicate applies to the CORPUS side before the index probe — a
   * pre-filter, so at 100 TB the selectivity reaches the parquet scan
   * (PushedFilters / partition pruning) and vector math touches only
   * surviving rows; queries themselves need not satisfy the filter.
   * Pre-filtering keeps IVF recall semantics per cell; the known
   * caveat — a filter strongly correlated with cell assignment starves
   * probed cells — is the nprobe dial's problem, measured by the e13
   * harness. */
  def filteredTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
    Similarity.ivfTopK(
      emb.filter(col("id") < 5).select("id", "vec"),
      emb.filter(col("label") % 4 === 1).select("id", "vec"),
      TopK, NCells, NProbe)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** E13: ANN recall@k — the eval harness every approximate index
   * needs before it replaces the exact scan: run the IVF search (e3)
   * and the brute-force ground truth (e1) over the same queries and
   * measure, per query, how many of the true top-k the index
   * recovered. Recall is the recall/latency dial's OTHER axis — probe
   * counts and cell counts get tuned against exactly this number, and
   * at 100 TB the eval costs one ground-truth pass over a bounded
   * query sample, not the corpus². Both retrievals are deterministic,
   * so even the recall FRACTION is oracle-exact. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("id") < 5)
    val exact = Similarity.bruteForceTopK(q, emb, TopK)
      .select("query_id", "neighbor_id")
    val approx = Similarity.ivfTopK(q, emb, TopK, NCells, NProbe)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("_n"))
      .select(col("query_id"),
        lit(TopK).as("k"),
        col("_n").cast(IntegerType).as("n_hit"),
        (col("_n").cast(DoubleType) / lit(TopK.toDouble)).as("recall_at_k"))
      .orderBy("query_id")
  }

  /** The (nprobe, corpus-assignment) grid e13b sweeps — the two dials
   * of the recall/cost trade. */
  private[graft] val RecallProbes = Seq(1, 2, 4, 8)
  private[graft] val RecallAssigns = Seq(1, 2, 3)

  /** E13b: the recall/cost SURFACE over TRAINED centroids — e13's
   * harness pointed at the production quantizer (e3b's spherical
   * k-means centroids) and swept across nprobe ∈ {1,2,4,8} ×
   * corpus-assignment ∈ {1,2,3} ([[Similarity.ivfTopKMulti]]). This is
   * the tuning artifact an ANN deployment actually reads: pick the
   * cheapest (nprobe, assign) point whose recall clears the product
   * bar. Both dials matter because the synthetic corpus is isotropic
   * (within-label cosine ≈ cross-label ≈ 0) — the ANN worst case,
   * where single-assignment recall is capped near the scanned corpus
   * fraction and overlapping cells are what lift it: measured here,
   * nprobe=4 goes 0.5 → ~0.85 mean recall as assign goes 1 → 3. One
   * exact ground-truth pass is shared across all twelve sweep points
   * (the expensive side computes once; each IVF run is
   * |corpus|·assign·nprobe/nCells candidates), so at 100 TB the sweep
   * costs one bounded-sample exact scan plus twelve cheap probe runs —
   * not twelve exact scans. Deterministic end-to-end: training is
   * DECIMAL-exact (e3b), retrieval ties break on id, so the recall
   * FRACTIONS hash-compare against the DuckDB oracle. */
  def annRecallTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = embFrame(s, dir)
    val q = emb.filter(col("id") < 5)
    val cents = trainedCents(s, dir)
    // Sweep sharing (r18, guide §1.2 "don't compute things you throw
    // away"): [[IvfRankCells]] ranks cells best-first with deterministic
    // ties, so the nprobe=np probe set is exactly the PREFIX of the
    // nprobe=max set — one probe join per ASSIGN level at max nprobe,
    // keeping each candidate pair's best (minimum) probe rank, re-derives
    // every smaller nprobe point as `min_rank < np` over the persisted
    // scored pairs. 12 corpus-side probe-join/rank passes (4 per assign
    // level) become 3, with 12 cheap window passes over the tiny scored
    // frame; candidates, cosines (pure function of the pair), ranks and
    // therefore recalls are bit-identical to the per-np joins this
    // replaces (spec-pinned against ivfSearchMultiAssigned).
    // Persists, not just shared DataFrames:
    // Spark plans don't dedupe repeated subplans, so without them the
    // union's single action recomputed the exact ground truth 12× and
    // each assign level's scored pairs 4×.
    CacheScope.materialized { implicit scope =>
      annRecallTrainedBuild(emb, q, cents)
    }.orderBy("nprobe", "n_assign", "query_id")
  }

  /** The un-materialized e13b sweep plan — exposed (like d13's
   * `incrementalDedupBuild`) so PlanDump/PlanQualitySpec can inspect
   * the 3-scored-join shape the r18 rewrite claims. */
  private[graft] def annRecallTrainedBuild(emb: DataFrame, q: DataFrame,
      cents: Seq[Seq[Double]])(implicit scope: CacheScope): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxNp = RecallProbes.max
    val exact = scope.persist(Similarity.bruteForceTopK(q, emb, TopK)
      .select("query_id", "neighbor_id")).toDF()
    val qp = q.select(col("id").as("query_id"), col("vec").as("qvec"),
      posexplode(Similarity.ivfProbesD(col("vec"), cents, maxNp)))
      .withColumnRenamed("pos", "_pr").withColumnRenamed("col", "cell")
    (for (a <- RecallAssigns) yield {
      val assigned = Similarity.ivfMultiAssign(emb, cents, a)
      val scored = scope.persist(assigned.join(broadcast(qp), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("_pr"),
          Similarity.cosine(col("qvec"), col("cvec")).as("sim"))
        .groupBy("query_id", "neighbor_id")
        .agg(min(col("_pr")).as("_minpr"), max(col("sim")).as("sim"))).toDF()
      (for (np <- RecallProbes) yield {
        val w = Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))
        val approx = scored.filter(col("_minpr") < np)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= TopK)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        exact.join(approx, Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("_n"))
          .select(lit(np).as("nprobe"), lit(a).as("n_assign"),
            col("query_id"), lit(TopK).as("k"),
            col("_n").cast(IntegerType).as("n_hit"),
            (col("_n").cast(DoubleType) / lit(TopK.toDouble))
              .as("recall_at_k"))
      }).reduce(_.unionByName(_))
    }).reduce(_.unionByName(_))
  }

  /** e13b's (emb, queries, cents) triple for the plan-view tools. */
  private[graft] def annRecallTrainedInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[Seq[Double]]) = {
    val emb = embFrame(s, dir)
    (emb, emb.filter(col("id") < 5), trainedCents(s, dir))
  }

  /** E3b: IVF with k-means-TRAINED centroids — the production path next
   * to e3's fixed-centroid verifiable stand-in. Five spherical k-means
   * iterations from the deterministic init, then the identical quantizer.
   * HASH-EXACT like e6b: DECIMAL training sums make the centroids
   * deterministic, and [[dynamicOracleSql]] renders them into the same
   * oracle SQL shape e3 uses. Centroids memoize per dir. */
  def ivfKmeansTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = embFrame(s, dir)
    Similarity.ivfTopKWith(emb.filter(col("id") < 5), emb, TopK,
        trainedCents(s, dir), NProbe)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** E11: binary sign-bit search — 64 dims pack into ONE long (256×
   * smaller than float32), neighbors rank by ascending Hamming
   * distance. The cheapest first-pass filter of the quantization ladder
   * (e1 float → e5 int8 → e6 PQ → this). */
  def hammingTopKQ(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.hammingTopK(emb.filter(col("id") < 5), emb, TopK)
      .select("query_id", "rank", "neighbor_id", "hamming")
      .orderBy("query_id", "rank")
  }

  /** E12: two-stage retrieval — binary Hamming shortlist (30) → exact
   * cosine rerank (10): the production pattern where the cheap pass
   * touches everything and the exact pass touches only the shortlist. */
  def hammingRerankQ(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.hammingRerankTopK(emb.filter(col("id") < 5), emb,
        shortlist = 30, k = TopK)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** E9: k-NN graph — every embedding's 3 nearest neighbors via the
   * cell-partitioned shuffle join (queries = corpus, so nothing
   * broadcasts; see [[Similarity.knnGraph]] for the scale contract). */
  def knnGraphQ(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(embFrame(s, dir), k = 3,
        Cents.map(_.map(_.toDouble)), NProbe)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")

  /** E9b: the k-NN graph over the PRODUCTION quantizer — spherical
   * k-means centroids instead of the fixed grid (the e3/e3b
   * relationship, completing the trained variant for the one IVF
   * operator that lacked it). Training is deterministic, so the
   * oracle renders the same centroid doubles and the graph is
   * hash-exact like e3b. */
  def knnGraphTrainedQ(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(embFrame(s, dir), k = 3, trainedCents(s, dir), NProbe)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")

  /** E9c: the k-NN graph at the PRODUCTION dial — trained centroids
   * with nCells ∝ √n ([[trainedCentsScaled]]), converging the gate
   * fixture with the configuration the scale ladder actually measured:
   * e9/e9b pin nCells=16 (quadratic-by-construction pair frames, fine
   * at fixture n), this row is the one whose shape survives 100×. Same
   * dynamic-oracle pattern as e3b: deterministic training → literal
   * centroids in the DuckDB SQL → hash-exact. */
  def knnGraphScaledQ(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(embFrame(s, dir), k = 3, trainedCentsScaled(s, dir), NProbe)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")

  /** X18: the END-TO-END curation FUNNEL — the whole pipeline a
   * pretraining-data run executes, with per-stage survivor counts (the
   * report a data team actually reviews): all docs → language-ID keeps
   * identified docs → classifier-head quality filter → exact dedup
   * keeps one doc per identical text → near-dedup keeps cluster
   * representatives. The near-dup verdict is the corpus-wide d12
   * labeling intersected with the funnel survivors (production dedup
   * verdicts are computed corpus-wide once, then each curation branch
   * intersects). One scan computes every per-doc flag; each stage is a
   * tiny aggregate over cumulative filters. */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val verdict = nearDedupCorpus(s, dir).select(col("doc_id"), col("kept"))
    CacheScope.materialized { implicit scope =>
      val base = scope.persist(
        Tpar(s, dir, "documents").select(col("doc_id"), col("text"))
          .withColumn("n_tok", TextAnalysis.tokenCountWs(col("text")).cast(LongType))
          .withColumn("lg", TextAnalysis.langIdFromTokens(
            Dedup.tokens(lower(col("text")))))
          .withColumn("_f", TextAnalysis.qualityFeatures(col("text")))
          .withColumn("logit", TextAnalysis.classifierLogit(col("_f")))
          .select("doc_id", "text", "n_tok", "lg", "logit")).toDF()
      val s2 = base.filter(col("lg") =!= "und")
      val s3 = s2.filter(col("logit") >= 0.0)
      val winners = Dedup.exactDedup(s3, "doc_id", "text").select("doc_id")
      val s4 = s3.join(winners, "doc_id")
      // no broadcast hint: the kept set is MOST of the corpus (d12's
      // survivors) — it must shuffle-join at scale
      val s5 = s4.join(verdict.filter(col("kept")).select("doc_id"), "doc_id")
      def stageAgg(df: DataFrame, i: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
          .select(lit(i).as("stage"), lit(name).as("name"),
            col("n_docs"), col("n_tokens"))
      stageAgg(base, 1, "all")
        .unionByName(stageAgg(s2, 2, "lang_id"))
        .unionByName(stageAgg(s3, 3, "quality"))
        .unionByName(stageAgg(s4, 4, "exact_dedup"))
        .unionByName(stageAgg(s5, 5, "near_dedup"))
    }.orderBy("stage")
  }

  /** D13: INCREMENTAL admission dedup — the continual-ingestion gate: a
   * new batch (ids ≥ 400, plus planted clones of existing docs) checks
   * against the EXISTING corpus before admission. Exact pass = one
   * digest equi-join (16-byte keys — at 100 TB this is the only shuffle
   * that touches the whole history, and it carries digests, never
   * text); near pass = d2's banded candidates restricted to
   * cross-boundary pairs, d4's exact-Jaccard verify. Verdict per
   * incoming doc: exact_dup / near_dup / admitted. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      incrementalDedupBuild(s, dir)
    }.orderBy("doc_id")

  /** The un-materialized d13 plan — exposed so PlanQualitySpec can
   * assert the admission joins are threshold-decided (no hints). */
  private[graft] def incrementalDedupBuild(s: SparkSession, dir: String)(
      implicit scope: CacheScope): DataFrame = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val existing = docs.filter(col("doc_id") < 400)
    val incoming = docs.filter(col("doc_id") >= 400)
      .unionByName(existing.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    admissionVerdict(incoming, existing)
  }

  /** The admission-dedup core shared by d13 (one batch) and w12 (each
   * micro-batch against the evolving reference): exact pass = one
   * digest equi-join; near pass = d2's banded candidates restricted to
   * cross-boundary pairs, d4's exact-Jaccard verify. Batch membership
   * rides as an id-list join (batch-proportional, so at 100 TB the
   * flag frames broadcast under the threshold like every other
   * batch-sized side here — never hinted). */
  private[graft] def admissionVerdict(incoming: DataFrame, existing: DataFrame)(
      implicit scope: CacheScope): DataFrame = {
    val inc = incoming.select(col("doc_id"), unhex(md5(col("text"))).as("_dig"))
    val exDig = existing.select(unhex(md5(col("text"))).as("_dig"))
      .distinct().withColumn("_hit", lit(true))
    val exact = inc.join(exDig, Seq("_dig"), "left")
      .select(col("doc_id"), coalesce(col("_hit"), lit(false)).as("exact_dup"))
    val corpus = existing.unionByName(incoming)
    val aIn = incoming.select(col("doc_id").as("ida"))
      .withColumn("_ina", lit(true))
    val bIn = incoming.select(col("doc_id").as("idb"))
      .withColumn("_inb", lit(true))
    val cands = Dedup.minhashCandidates(corpus, "doc_id", "text",
      k = 3, numPerms = NumPerms, bands = Bands).select("ida", "idb")
      .join(aIn, Seq("ida"), "left").join(bIn, Seq("idb"), "left")
      .select(col("ida"), col("idb"),
        coalesce(col("_ina"), lit(false)).as("_ina"),
        coalesce(col("_inb"), lit(false)).as("_inb"))
      .filter(col("_ina") =!= col("_inb"))
    val nearIds = Dedup.jaccardVerify(cands.select("ida", "idb"),
        corpus, "doc_id", "text", k = 3)
      .filter(col("jaccard") >= 0.5)
      .join(aIn, Seq("ida"), "left")
      .select(when(coalesce(col("_ina"), lit(false)), col("ida"))
        .otherwise(col("idb")).as("doc_id"))
      .distinct().withColumn("_near", lit(true))
    // nearIds is batch-proportional (largest exactly when the batch is
    // duplicate-heavy) — leave the join threshold-decided, never hint
    incoming.select("doc_id")
      .join(exact, "doc_id")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        coalesce(col("_near"), lit(false)).as("near_dup"))
      .withColumn("admitted", !col("exact_dup") && !col("near_dup"))
  }

  /** The canonical three admission waves w12/w14 stream: wave 1
   * carries clones of SEED docs (caught like d13's), wave 2 carries a
   * clone of a WAVE-0 doc — admitted two triggers earlier, never in
   * the seed — which only an evolving reference can reject. */
  private def admissionWaves(docs: DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    val existing = docs.filter(col("doc_id") < 400)
    val later = docs.filter(col("doc_id") >= 400)
    val w0 = later.filter(pmod(col("doc_id"), lit(3)) === 0)
    val w1 = later.filter(pmod(col("doc_id"), lit(3)) === 1)
      .unionByName(existing.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val w2 = later.filter(pmod(col("doc_id"), lit(3)) === 2)
      .unionByName(w0.filter(col("doc_id") % 37 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L))
    (existing, Seq(w0, w1, w2))
  }

  /** Per-JVM staged-wave cache — the memoFrame discipline applied to
   * the admission gates' INPUT staging (r18): every invocation used to
   * re-derive its wave frames (multi-branch unions/joins over the docs
   * table, collapsed to ONE task each by the single-file staging
   * write's coalesce(1) — CollapseRepartition removes the Tpar
   * repartition under it) and re-stage them; now the first invocation
   * materializes each wave once under `target/tmp/stage_cache/<key>`
   * and every later staging — bench reps, and the backlog wave a
   * paused lifecycle gate stages mid-run — is a byte copy + mtime
   * stamp ([[graft.Tables.stageCopy]], same atomic-publish
   * discipline). JVM-scoped like every memo here: a fresh
   * bench/oracle invocation always re-derives from the parquet
   * inputs. The one-time build stages the independent waves
   * concurrently (guide §2.6). */
  private val stagedWaveCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[java.nio.file.Path]]
  private[graft] def stagedWaveFiles(key: String,
      waves: => Seq[DataFrame]): Seq[java.nio.file.Path] =
    stagedWaveCache.getOrElseUpdate(key, {
      val cache = java.nio.file.Paths.get(s"target/tmp/stage_cache/$key")
      graft.util.Fs.deleteRecursive(cache)
      java.nio.file.Files.createDirectories(cache)
      val ws = waves
      val dsts = ws.indices
        .map(i => cache.resolve(f"wave$i%02d.parquet"))
      graft.pipeline.AdmissionGate.inParallel(ws.zip(dsts).map { case (w, p) =>
        () => graft.Tables.stageFile(w, p, 0L)
      })
      dsts
    })

  // ---- admission gates: one lifecycle, the Engine's admission sink ----

  /** An admission gate's working root for one data dir. */
  private def gateBase(name: String, dir: String): String =
    s"target/tmp/${name}_${new java.io.File(dir).getName}"

  /** Lay out an admission gate's fixture under `base` (wiped first):
   * the seed corpus at `seed/`, the benchmark corpus (if any) at
   * `bench/`, and the waves staged once per JVM ([[stagedWaveFiles]]).
   * Returns `stage(i)`, which lands wave i in the source dir `in/` as
   * a minute-spaced file (one trigger per wave at maxFilesPerTrigger=1). */
  private[graft] def stageGateFixture(base: String, seed: DataFrame,
      bench: Option[DataFrame], waves: Seq[DataFrame]): Int => Unit = {
    import java.nio.file.{Files, Paths}
    graft.util.Fs.deleteRecursive(Paths.get(base))
    Files.createDirectories(Paths.get(base, "in"))
    seed.write.parquet(s"$base/seed")
    bench.foreach(_.write.parquet(s"$base/bench"))
    val staged = stagedWaveFiles(graft.Tables.dirTag(base), waves)
    i => graft.Tables.stageCopy(staged(i),
      Paths.get(base, "in", f"wave$i%02d.parquet"),
      1000000000000L + i * 60000L)
  }

  /** The `{"type":"admission"}` pipeline spec over a
   * [[stageGateFixture]] layout: `sink` adds the axis keys. A `wire`
   * source reads the staged waves as Kafka-dump records (the CDC
   * envelope inside the C1 JSON envelope, see [[wireWave]]) and
   * unwraps them with the ExtractNewRecordState SMT. */
  private[graft] def admissionSpecJson(name: String, base: String,
      sink: Seq[(String, String)] = Nil, wire: Boolean = false,
      decodeParallelism: Option[String] = None): String = {
    val q = new com.fasterxml.jackson.databind.ObjectMapper()
    def fields(kvs: Seq[(String, String)]): String = kvs.map { case (k, v) =>
      s"${q.writeValueAsString(k)}:${q.writeValueAsString(v)}"
    }.mkString(",")
    val source = Seq("type" -> "parquet", "path" -> s"$base/in",
        "topic" -> "corpus", "maxFilesPerTrigger" -> "1") ++
      (if (wire) Seq("wireFormat" -> "json_envelope", "schemaDdl" -> DocCdcDdl)
       else Seq("schemaDdl" -> DocRowDdl, "seqColumn" -> "doc_id")) ++
      decodeParallelism.map("decodeParallelism" -> _)
    val keyFields = if (wire) "after" else "doc_id"
    val transforms =
      if (wire) "{\"type\":\"extractNewRecordState\"}" else ""
    val gate = Seq("type" -> "admission", "path" -> s"$base/gate",
      "seedPath" -> s"$base/seed") ++ sink
    s"""{"name":${q.writeValueAsString(name)},
       |"source":{${fields(source)},"keyFields":["$keyFields"]},
       |"transforms":[$transforms],
       |"sink":{${fields(gate)}}}""".stripMargin
  }

  /** Register `spec` on an in-process [[graft.pipeline.Engine]] (its
   * own session at 4 shuffle partitions), drain every staged file and
   * deregister — the admission lifecycle with no REST. Returns each
   * non-empty trigger's (batchId, wall ms) from the query's progress. */
  private[graft] def drainAdmissionGate(s: SparkSession, base: String,
                                        spec: String): Seq[(Long, Long)] = {
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "4")
    val engine = new graft.pipeline.Engine(scoped, s"$base/engine")
    val p = graft.pipeline.PipelineSpec.fromJson(spec)
    val q = engine.register(p)
    try {
      q.processAllAvailable()
      q.recentProgress.toSeq.filter(_.numInputRows > 0).map(pr =>
        (pr.batchId, pr.durationMs.get("triggerExecution").toLong))
    } finally engine.delete(p.name)
  }

  /** A w-/m-gate end to end: stage the fixture, drain it through the
   * admission sink with the `sink` axis keys (`benchKeys` name the keys
   * that point at the `bench` corpus), return the verdict rows. */
  private def admissionGate(s: SparkSession, name: String, dir: String,
      seed: DataFrame, waves: Seq[DataFrame],
      sink: Seq[(String, String)] = Nil, bench: Option[DataFrame] = None,
      benchKeys: Seq[String] = Nil): DataFrame = {
    val base = gateBase(name, dir)
    waves.indices.foreach(stageGateFixture(base, seed, bench, waves))
    drainAdmissionGate(s, base, admissionSpecJson(name, base,
      sink ++ benchKeys.map(_ -> s"$base/bench")))
    s.read.parquet(s"$base/gate/out").drop("batch")
  }

  /** Sink keys switched on. */
  private[graft] def on(keys: String*): Seq[(String, String)] =
    keys.map(_ -> "true")

  /** The full ten-axis gate's sink keys (w18/l14): every axis at the
   * corpus-scaled semantic dial; both benchmark keys point at the one
   * benchmark suite. */
  private def fullGateKeys(s: SparkSession, dir: String)
      : Seq[(String, String)] =
    on("fused", "containment", "semantic", "media") :+
      ("semPlanes" -> d14Planes(s, dir).toString)
  private val FullGateBenchKeys = Seq("benchPath", "benchMediaPath")

  /** W12: STREAMED admission dedup — d13's verdict machinery run
   * INSIDE the streaming lifecycle with the property d13 cannot
   * express: each micro-batch checks against the EVOLVING reference
   * (the seed corpus plus every previously ADMITTED doc), and its own
   * admitted survivors join that reference for the batches after it.
   * The fixture plants both duplicate shapes (see [[admissionWaves]]).
   * The reference's state is parquet artifact tables growing by
   * admitted docs — never executor memory, never re-derived text (see
   * [[graft.pipeline.AdmissionGateCore]]). The oracle unrolls the three
   * admission rounds exactly (shared suffixed minhash pipeline per
   * round). */
  def streamDedupAdmission(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val (existing, waves) = admissionWaves(docs)
    admissionGate(s, "w12", dir, existing, waves)
      .select("doc_id", "exact_dup", "near_dup", "admitted")
      .orderBy("doc_id")
  }

  /** Shared l13–l16 REST lifecycle: spin up an [[graft.pipeline
   * .Engine]] + [[graft.pipeline.ConnectServer]], REST-register the
   * admission spec, drain the pre-staged waves, PAUSE, stage the
   * backlog (which a paused gate must NOT process), RESUME from the
   * checkpoint (a fresh fenced admission epoch supersedes the paused
   * incarnation's, and the gate core rebuilds its live dials from
   * persisted state — [[graft.pipeline.AdmissionGateCore.resumeDials]]),
   * drain the backlog, DEREGISTER. Returns the gate's verdict frame with the
   * lifecycle evidence riding as literal columns (l9's shape). */
  private def driveAdmissionPipeline(
      s: SparkSession, base: String, name: String, specJson: String,
      stageBacklog: () => Unit): DataFrame = {
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "4")
    val engine = new graft.pipeline.Engine(scoped, s"$base/engine")
    val server = new graft.pipeline.ConnectServer(engine)
    val url = server.start()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def call(method: String, path: String, body: Option[String] = None) = {
        val b = java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(url + path))
        val r = http.send(body.fold(b.method(method,
            java.net.http.HttpRequest.BodyPublishers.noBody()))(s =>
            b.method(method,
              java.net.http.HttpRequest.BodyPublishers.ofString(s)))
          .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
        require(r.statusCode() < 400,
          s"$method $path -> HTTP ${r.statusCode()}: ${r.body()}")
        r.body()
      }
      def state_(): String = {
        val n = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(call("GET", s"/connectors/$name/status"))
        n.get("connector").get("state").asText()
      }
      call("POST", "/connectors", Some(specJson))
      scoped.streams.active.foreach(_.processAllAvailable()) // pre-staged
      val stRunning = state_()
      call("PUT", s"/connectors/$name/pause")
      val stPaused = state_()
      stageBacklog() // the backlog a paused gate must NOT process
      call("PUT", s"/connectors/$name/resume")
      scoped.streams.active.foreach(_.processAllAvailable()) // backlog
      val stResumed = state_()
      call("DELETE", s"/connectors/$name")
      val after = call("GET", "/connectors")
      s.read.parquet(s"$base/gate/out").drop("batch")
        .withColumn("status_after_register", lit(stRunning))
        .withColumn("status_while_paused", lit(stPaused))
        .withColumn("status_after_resume", lit(stResumed))
        .withColumn("deregistered", lit(after == "[]"))
    } finally server.stop()
  }

  /** L13: THE INGEST GATE THROUGH THE CONNECT LIFECYCLE — the
   * reference's whole UX is declarative configs over REST (L1/L9).
   * A `{"type": "admission"}` sink spec
   * ([[graft.pipeline.AdmissionSink]]) registers w12's
   * dedup-at-admission as a [[graft.pipeline.PipelineSpec]] via
   * [[graft.pipeline.ConnectServer]], drives wave 0 + 1, PAUSES with
   * the wave-2 backlog already staged, resumes from the checkpoint
   * (a fresh fenced admission epoch supersedes the paused
   * incarnation's), processes the backlog, and deregisters. The
   * verdict rows must equal w12's exactly — same fixture waves, same
   * per-trigger core, same oracle — with the lifecycle evidence
   * riding as literal columns (l9's shape). */
  def admissionPipelineLifecycle(s: SparkSession, dir: String): DataFrame = {
    val base = gateBase("l13", dir)
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val (existing, waves) = admissionWaves(docs)
    val stage = stageGateFixture(base, existing, None, waves)
    stage(0); stage(1) // wave 2 lands as backlog while paused
    driveAdmissionPipeline(s, base, "l13", admissionSpecJson("l13", base),
        () => stage(2))
      .select(col("doc_id"), col("exact_dup"), col("near_dup"),
        col("admitted"),
        col("status_after_register"), col("status_while_paused"),
        col("status_after_resume"), col("deregistered"))
      .orderBy("doc_id")
  }

  /** L14: THE FULL TEN-AXIS GATE THROUGH THE CONNECT LIFECYCLE — w18's
   * complete multimodal admission verdict driven by a REST-registered
   * [[graft.pipeline.PipelineSpec]] whose SINK CONFIG declares every
   * leg as a key (`fused`/`benchPath`/`containment`/`semantic`/
   * `media`/`benchMediaPath` + the `semPlanes` production dial) — the
   * reference's per-connector-config-toggle UX applied to the flagship
   * operator. Same fixture waves as [[streamFullAdmission]]; the
   * verdicts must hash-match it EXACTLY (one shared oracle), with the
   * pause/resume boundary between the two waves: the resumed
   * incarnation re-reads the frozen center from state and re-derives
   * the plane dial ([[graft.pipeline.AdmissionGateCore.resumeDials]]),
   * so the match also proves the dial-resume recipe w18's single
   * uninterrupted drain never exercises. */
  def admissionPipelineFull(s: SparkSession, dir: String): DataFrame = {
    val base = gateBase("l14", dir)
    val (seed, benchM, waves) = fullAdmissionFixture(s, dir)
    val stage = stageGateFixture(base, seed, Some(benchM), waves)
    stage(0) // wave 1 lands as backlog while paused
    val spec = admissionSpecJson("l14", base, fullGateKeys(s, dir) ++
      FullGateBenchKeys.map(_ -> s"$base/bench"))
    driveAdmissionPipeline(s, base, "l14", spec, () => stage(1))
      .select(col("doc_id"), col("exact_dup"), col("near_dup"),
        col("quality_keep"), col("n_shingles"), col("n_known"),
        col("novelty"), col("contaminated"), col("contained_dup"),
        col("semantic_dup"), col("image_dup"), col("audio_dup"),
        col("media_contaminated"), col("admitted"),
        col("status_after_register"), col("status_while_paused"),
        col("status_after_resume"), col("deregistered"))
      .orderBy("doc_id")
  }

  /** The Debezium-envelope-minus-metadata record schema the framed
   * admission gates (l15/l16) declare: the unwrap SMT needs only
   * `{before, after, op}` (`실습수행/Debezium MySQL CDC Source
   * Connector 실습 - 01.md:162-176` — source/ts_ms are capture
   * provenance the gate never reads). */
  private val DocRowDdl = "doc_id BIGINT, text STRING"
  private[graft] val DocCdcDdl =
    s"before STRUCT<$DocRowDdl>, after STRUCT<$DocRowDdl>, op STRING"

  /** Stage a document wave as WIRE records in the Kafka dump shape —
   * each doc wrapped in a CDC envelope and encoded through the C1
   * `{schema,payload}` JSON envelope; `offset` = doc_id (globally
   * unique across the fixture waves, so the transport order is
   * deterministic). `extra` appends pre-built wire rows (the l16
   * malformed plants). */
  private[graft] def wireWave(df: DataFrame,
                              extra: Option[DataFrame] = None): DataFrame = {
    val rowT = org.apache.spark.sql.types.DataType.fromDDL(DocRowDdl)
    val envT = org.apache.spark.sql.types.DataType.fromDDL(DocCdcDdl)
    val w = df.select(
      to_json(struct(col("doc_id"))).as("key"),
      graft.codec.JsonEnvelope.encodeWithSchema(
        struct(
          lit(null).cast(rowT).as("before"),
          struct(col("doc_id").cast("long").as("doc_id"),
            col("text").cast("string").as("text")).as("after"),
          lit("c").as("op")),
        envT).as("value"),
      lit("corpus").as("topic"),
      col("doc_id").cast("long").as("offset"))
    extra.fold(w)(w.unionByName)
  }

  /** L15: THE REFERENCE'S FULL DATA PATH INTO THE GATE — converter →
   * SMT chain → sink. The reference never feeds a sink raw tables:
   * every record crosses `value.converter` and the `transforms` chain
   * first (`실습수행/JDBC Sink Connector 실습.md:331-363`,
   * `실습수행/Debezium MySQL CDC Source Connector 실습 - 02.md` —
   * ExtractNewRecordState in front of the JDBC sink). This gate runs
   * the SAME l13 waves, but staged as wire records: each document
   * wrapped in a Debezium CDC envelope (`{before, after, op}`) and
   * encoded through the C1 `{schema,payload}` JSON envelope into the
   * Kafka dump columns (key/value/topic/offset). The spec declares
   * the converter (`source.wireFormat=json_envelope` + the envelope's
   * record schema) and a NON-EMPTY transform chain
   * (ExtractNewRecordState — T5, the labs' unwrap SMT) in front of
   * the admission sink, and drives the full REST lifecycle with the
   * pause/resume boundary, exactly like l13. The verdicts must
   * hash-match l13's (same waves, same gate core, one shared oracle)
   * — proving the gate composes with the engine's codec + SMT algebra
   * rather than only consuming raw parquet. */
  def admissionPipelineFramed(s: SparkSession, dir: String): DataFrame = {
    val base = gateBase("l15", dir)
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val (existing, waves) = admissionWaves(docs)
    val stage = stageGateFixture(base, existing, None, waves.map(wireWave(_)))
    stage(0); stage(1) // wave 2 lands as backlog while paused
    val spec = admissionSpecJson("l15", base, wire = true,
      decodeParallelism = Some("8"))
    driveAdmissionPipeline(s, base, "l15", spec, () => stage(2))
      .select(col("doc_id"), col("exact_dup"), col("near_dup"),
        col("admitted"),
        col("status_after_register"), col("status_while_paused"),
        col("status_after_resume"), col("deregistered"))
      .orderBy("doc_id")
  }

  /** L16: THE GATE'S ERROR-TOLERANCE LEG — `errors.tolerance=all`
   * with a dead-letter queue, the reference's converter/sink error
   * surface (K11/K13's `errors.deadletterqueue.topic.name`) applied
   * to the admission gate: l13's waves ride the same wire-record
   * transport as l15, with four malformed plants —
   *
   *  - an UNDECODABLE wire record (garbage bytes, wave 0) →
   *    `VALUE_CONVERTER` / `malformed_envelope`;
   *  - a record with a null key (`doc_id` null, wave 1) →
   *    `ADMISSION_GATE` / `null_key`;
   *  - a record with null `text` (wave 1) → `null_text`;
   *  - a document beyond the spec's `maxDocChars` (wave 2) →
   *    `oversized`
   *
   * — all routed to the per-batch gate DLQ instead of failing the
   * trigger, while every CLEAN document's verdict hash-matches l13's
   * (the plants never reach the gate body, and state grows only by
   * admitted artifacts). Output = the verdict rows + the DLQ rows
   * (stage, reason; doc_id falls back to -offset for rows that never
   * decoded one) + the pinned `dlq_n`. */
  def admissionPipelineDlq(s: SparkSession, dir: String): DataFrame = {
    val base = gateBase("l16", dir)
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val (existing, waves) = admissionWaves(docs)
    import s.implicits._
    val rowT = org.apache.spark.sql.types.DataType.fromDDL(DocRowDdl)
    val envT = org.apache.spark.sql.types.DataType.fromDDL(DocCdcDdl)
    def plantRow(id: Option[Long], text: Option[String],
                 offset: Long): DataFrame =
      Seq(offset).toDF("offset").select(
        lit(null).cast("string").as("key"),
        graft.codec.JsonEnvelope.encodeWithSchema(
          struct(
            lit(null).cast(rowT).as("before"),
            struct(
              id.map(lit(_)).getOrElse(lit(null)).cast("long").as("doc_id"),
              text.map(lit(_)).getOrElse(lit(null)).cast("string")
                .as("text")).as("after"),
            lit("c").as("op")),
          envT).as("value"),
        lit("corpus").as("topic"),
        col("offset").cast("long").as("offset"))
    val garbage = Seq(("""not an envelope ### {"broken""", 8000000L))
      .toDF("value", "offset").select(
        lit(null).cast("string").as("key"), col("value"),
        lit("corpus").as("topic"), col("offset"))
    val plants = Seq(
      0 -> garbage,
      1 -> plantRow(None, Some("orphan document with no key"), 8000001L)
        .unionByName(plantRow(Some(9000001L), None, 9000001L)),
      2 -> plantRow(Some(9000002L), Some("y " * 5000), 9000002L)).toMap
    val stage = stageGateFixture(base, existing, None,
      waves.zipWithIndex.map { case (w, i) => wireWave(w, plants.get(i)) })
    stage(0); stage(1) // wave 2 lands as backlog while paused
    val spec = admissionSpecJson("l16", base,
      Seq("errorsTolerance" -> "all", "maxDocChars" -> "5000"),
      wire = true, decodeParallelism = Some("8"))
    val verdicts =
      driveAdmissionPipeline(s, base, "l16", spec, () => stage(2))
        .select(col("doc_id"), col("exact_dup"), col("near_dup"),
          col("admitted"),
          lit(null).cast("string").as("stage"),
          lit(null).cast("string").as("reason"))
    val dlq = s.read.parquet(s"$base/gate/dlq")
      .select(coalesce(col("doc_id"), -col("seq")).as("doc_id"),
        lit(null).cast("boolean").as("exact_dup"),
        lit(null).cast("boolean").as("near_dup"),
        lit(null).cast("boolean").as("admitted"),
        col("stage"), col("reason"))
    val dlqN = dlq.count()
    verdicts.unionByName(dlq)
      .withColumn("dlq_n", lit(dlqN))
      .orderBy("doc_id")
  }

  /** W14: FUSED streamed curation admission — the actual production
   * ingest gate, composing three verdicts the suite gates separately
   * into ONE per-micro-batch decision: w12's evolving-reference dedup
   * (exact digest + banded near), x15's classifier-head quality filter
   * (batch-local — no reference needed), and x28's admission-time
   * novelty (scored against the same evolving reference's
   * distinct-shingle set). admitted = not a dup AND quality passes;
   * novelty rides as a SCORE, not a gate — the mixing dial downstream
   * weighs it. Only admitted survivors join the reference the NEXT
   * batch checks against, so a near-dup of a wave-0 survivor is caught
   * two triggers later while a near-dup of a REJECTED doc is not.
   * State is the same parquet artifact-table family w12 grows (never
   * executor memory, never re-derived text —
   * [[graft.pipeline.AdmissionGateCore]]),
   * verdicts land in idempotent per-batch dirs, and the per-batch cost
   * is one digest semi-join + one banded-candidate pass + one shingle
   * semi-join + a handful of codegen'd multiply-adds — all against
   * precomputed state. The oracle unrolls the three admission rounds
   * exactly (w12's suffixed pattern) with the quality and novelty legs
   * joined per round. */
  def streamCurationAdmission(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val (existing, waves) = admissionWaves(docs)
    admissionGate(s, "w14", dir, existing, waves, on("fused"))
      .select("doc_id", "exact_dup", "near_dup", "quality_keep",
        "n_shingles", "n_known", "novelty", "admitted")
      .orderBy("doc_id")
  }

  /** W15: the COMPLETE fused production ingest gate — w14's per-batch
   * verdict (evolving-reference dedup + quality head + novelty) plus
   * the d16 DECONTAMINATION leg: every incoming doc also checks
   * against the FROZEN benchmark suite's df-capped shingle postings
   * (built once at bootstrap, read by every trigger — the fourth
   * admission axis, and the one a training-data pipeline can least
   * afford to skip: an admitted benchmark quote poisons every eval
   * downstream). admitted = not-a-dup AND quality AND NOT
   * contaminated; only 4-way survivors join the evolving reference.
   * Wave 1 plants 30-token verbatim quotes of benchmark docs in front
   * of shingle-novel filler — caught by the posting join while the
   * dedup leg stays silent (Jaccard vs the quoted doc is tiny: the
   * case decontamination exists for). The oracle unrolls the three
   * rounds with the frozen contamination table joined per round. */
  def streamDecontaminatedAdmission(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val (existing, waves0) = admissionWaves(docs)
    val bench = docs.filter(col("doc_id") < 400 && col("doc_id") % 10 === 0)
    val plants = bench.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 6000000L).as("doc_id"),
        concat(
          concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 30)),
          lit(" "),
          translate(col("text"), "aeiou", "uoiea")).as("text"))
    // TWO waves (r16): wave 1 absorbs the old wave 2 — every plant
    // targets wave-0-ADMITTED or seed docs, so the evolving-reference
    // property still exercises (catches one trigger later instead of
    // two) at ~2/3 the bench cost; the oracle unrolls two rounds
    val waves = Seq(waves0(0),
      waves0(1).unionByName(plants).unionByName(waves0(2)))
    admissionGate(s, "w15", dir, existing, waves, on("fused"),
        Some(bench), Seq("benchPath"))
      .select("doc_id", "exact_dup", "near_dup", "quality_keep",
        "n_shingles", "n_known", "novelty", "contaminated", "admitted")
      .orderBy("doc_id")
  }

  /** W16: the fused ingest gate with the CONTAINMENT leg — w15's four
   * axes (evolving-reference dedup, quality head, novelty,
   * benchmark decontamination) plus x26's asymmetric quoted-inside
   * detection against the evolving reference's posting state, the
   * fifth axis and the one the dedup leg structurally under-catches:
   * the second wave plants (a) a LARGE doc quoting a wave-0-ADMITTED doc whole
   * between two real same-wave filler docs — Jaccard vs the quoted doc
   * ≈ ⅓ (dedup leg silent), novel filler (novelty high), real prose
   * (quality passes), no benchmark overlap (decontamination silent) —
   * and (b) a 22-token verbatim slice of a wave-0-admitted doc (the
   * reverse direction: incoming contained in reference). Both are
   * caught ONLY by the containment join: shared·5 >= least(n_a,n_b)·4
   * over the persisted `(ref_id, h, n_b)` postings. Only 5-way
   * survivors join the reference. The oracle unrolls the two rounds
   * with the containment state rebuilt per round (seed df-capped +
   * admitted raw, exactly the state tables' content). */
  def streamContainedAdmission(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val (existing, waves0) = admissionWaves(docs)
    val bench = docs.filter(col("doc_id") < 400 && col("doc_id") % 10 === 0)
    val benchPlants = bench.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 6000000L).as("doc_id"),
        concat(
          concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 30)),
          lit(" "),
          translate(col("text"), "aeiou", "uoiea")).as("text"))
    // quoted-inside plants: a LONG-ENOUGH wave-0 doc p (>= 40 tokens,
    // so its shingle set clears the containment floor) sandwiched
    // between the texts of two OTHER real docs from wave 2 (p+2 and
    // p+5 are ≡ 2 mod 3, so both fillers are legitimate wave-2 docs;
    // inner joins drop plants whose fillers fall past the id range —
    // oracle mirrors). The reverse-direction plant slices 22 tokens
    // out of a >= 60-token wave-0 doc: containment of the slice ≈ 1
    // while Jaccard vs the source stays well under the 0.5 dedup cut.
    val w0 = waves0(0)
    val later = docs.filter(col("doc_id") >= 400)
    val f1 = later.select(col("doc_id").as("_f1id"), col("text").as("_f1"))
    val f2 = later.select(col("doc_id").as("_f2id"), col("text").as("_f2"))
    val quoting = w0
      .filter(col("doc_id") % 7 === 0 && size(Dedup.tokens(col("text"))) >= 40)
      .join(f1, col("doc_id") + 2 === col("_f1id"))
      .join(f2, col("doc_id") + 5 === col("_f2id"))
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(col("_f1"), lit(" "), col("text"), lit(" "), col("_f2"))
          .as("text"))
    val sliced = w0
      .filter(col("doc_id") % 11 === 0 && size(Dedup.tokens(col("text"))) >= 60)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 22)).as("text"))
    // TWO waves (r16, the w15 move): the containment plants target
    // wave-0-ADMITTED docs, so they catch one trigger later
    val waves = Seq(waves0(0), waves0(1).unionByName(benchPlants)
      .unionByName(waves0(2)).unionByName(quoting).unionByName(sliced))
    admissionGate(s, "w16", dir, existing, waves,
        on("fused", "containment"), Some(bench), Seq("benchPath"))
      .select("doc_id", "exact_dup", "near_dup", "quality_keep",
        "n_shingles", "n_known", "novelty", "contaminated",
        "contained_dup", "admitted")
      .orderBy("doc_id")
  }

  /** W17: the fused ingest gate with the SEMANTIC leg — all of w16's
   * axes plus paraphrase detection over hashed-text vectors (the d15
   * SemDeDup composition run incrementally): the evolving reference
   * persists `(ref_id, bucket, vec)` embedding state (x23's hashing-
   * trick vector + the LSH bucket), and each batch doc is refused when
   * a same-bucket reference doc sits at cosine >= 0.9. Word-order
   * paraphrase is the case EVERY shingle leg is structurally blind to:
   * the second wave plants token-REVERSED copies of wave-0-ADMITTED docs — the
   * token bag is identical (vector identical → same bucket, cosine
   * exactly 1) but the 3-gram shingle set is disjoint, so exact /
   * MinHash / containment / decontamination all stay silent, quality
   * reads the same features that admitted the original, and novelty
   * reads HIGH. Only the semantic join catches it. PRODUCTION DIAL:
   * the plane count is corpus-scaled (expected bucket ≈ 16 docs — the
   * d14b/e9c move, grown further at the maintenance fold as the
   * reference crosses occupancy thresholds) and state buckets hotter
   * than [[SemMaxBucket]] leave the join (the m7 cap — degenerate
   * token bags pile onto one vector), so per-trigger comparisons stay
   * O(batch × cap) however the reference grows. The oracle unrolls the
   * rounds with the embedding CTE global, the SAME plane literals and
   * cap rendered in, and the bucket-equality cosine join per round. */
  def streamSemanticAdmission(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val (existing, waves0) = admissionWaves(docs)
    val bench = docs.filter(col("doc_id") < 400 && col("doc_id") % 10 === 0)
    val benchPlants = bench.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 6000000L).as("doc_id"),
        concat(
          concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 30)),
          lit(" "),
          translate(col("text"), "aeiou", "uoiea")).as("text"))
    val w0 = waves0(0)
    val paraphrase = w0.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 8000000L).as("doc_id"),
        concat_ws(" ", reverse(Dedup.tokens(col("text")))).as("text"))
    // TWO waves (r16, the w15 move): the paraphrase plants target
    // wave-0-ADMITTED docs, so they catch one trigger later
    val waves = Seq(waves0(0), waves0(1).unionByName(benchPlants)
      .unionByName(waves0(2)).unionByName(paraphrase))
    admissionGate(s, "w17", dir, existing, waves,
        on("fused", "containment", "semantic") :+
          ("semPlanes" -> d14Planes(s, dir).toString),
        Some(bench), Seq("benchPath"))
      .select("doc_id", "exact_dup", "near_dup", "quality_keep",
        "n_shingles", "n_known", "novelty", "contaminated",
        "contained_dup", "semantic_dup", "admitted")
      .orderBy("doc_id")
  }

  /** M22: FUSED MULTIMODAL streamed admission — w14's production
   * ingest gate extended to media: each micro-batch's documents pack
   * into REAL PNG (id-seeded texture) and WAV (id-seeded phase)
   * payloads, decode + fingerprint in the codec seam (m6's aHash,
   * m9's window-energy fingerprint), and the verdict fuses FOUR axes
   * per doc: text exact (digest vs state), text near (banded + exact
   * Jaccard vs state), image dup and audio dup (fingerprint-group
   * membership vs the evolving reference's m6/m9 fingerprint STATE
   * tables — the same incremental append-only state discipline as the
   * text artifacts; nothing re-decodes reference media, ever).
   * admitted = clean on all four; only admitted docs' artifacts AND
   * fingerprints join the reference for later triggers.
   *
   * The plants cover the verdict matrix: wave-1 carries translated
   * (same-length, shingle-novel) clones of SEED docs at offset 7M
   * (both media dup: 7M ≡ 0 mod both id seeds), 1M (image-only: the
   * audio phase moves) and 3.5M (audio-only: the texture moves);
   * wave-2 carries translated clones of WAVE-0 docs at 7M — media
   * dups of docs admitted two triggers earlier, which only an
   * evolving fingerprint state can reject — plus verbatim copies of
   * seed docs at 21M (all four flags fire). On this synthesis a
   * verbatim copy is dup in every modality (media derive from text),
   * and natural fingerprint collisions surface beyond the plants —
   * the oracle rebuilds every member's fingerprints in closed form
   * and unrolls the three admission rounds exactly, so every
   * collision is mirrored. */
  def streamMultimodalAdmission(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val seed = docs.filter(col("doc_id") < 400)
    val later = docs.filter(col("doc_id") >= 400)
    def tmut(df: DataFrame): DataFrame =
      df.withColumn("text", translate(col("text"), "aeiou", "uoiea"))
    val w0 = later.filter(pmod(col("doc_id"), lit(3)) === 0)
    val w1 = later.filter(pmod(col("doc_id"), lit(3)) === 1)
      .unionByName(tmut(seed.filter(col("doc_id") % 50 === 0))
        .withColumn("doc_id", col("doc_id") + 7000000L))
      .unionByName(tmut(seed.filter(col("doc_id") % 70 === 0))
        .withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(tmut(seed.filter(col("doc_id") % 90 === 0))
        .withColumn("doc_id", col("doc_id") + 3500000L))
    val w2 = later.filter(pmod(col("doc_id"), lit(3)) === 2)
      .unionByName(tmut(w0.filter(col("doc_id") % 5 === 0))
        .withColumn("doc_id", col("doc_id") + 7000000L))
      .unionByName(seed.filter(col("doc_id") % 100 === 0)
        .withColumn("doc_id", col("doc_id") + 21000000L))
    admissionGate(s, "m22", dir, seed, Seq(w0, w1, w2), on("media"))
      .select("doc_id", "exact_dup", "near_dup", "image_dup", "audio_dup",
        "admitted")
      .orderBy("doc_id")
  }

  /** M24: m22's multimodal ingest gate plus MEDIA DECONTAMINATION —
   * the d16 discipline applied to m6/m9 fingerprints: a benchmark
   * media suite's image/audio fingerprints freeze at bootstrap
   * (16 bytes per doc per modality) and every incoming doc's decoded
   * fingerprints equality-join against them; a match refuses
   * admission — an admitted benchmark image poisons multimodal eval
   * exactly as a quoted benchmark answer poisons text eval. The
   * benchmark here is DISJOINT from the seed corpus (docs 300–399 vs
   * seed < 300), so a benchmark-media clone matches NO state
   * fingerprint — the dup legs stay silent and ONLY the contamination
   * leg catches it. Plants: translated (same byte length — the
   * synthesis derives pixels/samples from (length, id mod seed))
   * clones of benchmark docs at offset 7M (both fingerprints
   * preserved, text shingle-novel) in waves 1 and 2; m22's evolving
   * media-dup plants ride along against the smaller seed. The oracle
   * rebuilds all fingerprints in closed form and unrolls the three
   * rounds with the frozen benchmark fingerprint tables global. */
  def streamMediaDecontaminatedAdmission(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val seed = docs.filter(col("doc_id") < 300)
    val bench = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val later = docs.filter(col("doc_id") >= 400)
    def tmut(df: DataFrame): DataFrame =
      df.withColumn("text", translate(col("text"), "aeiou", "uoiea"))
    val w0 = later.filter(pmod(col("doc_id"), lit(3)) === 0)
    val w1 = later.filter(pmod(col("doc_id"), lit(3)) === 1)
      .unionByName(tmut(seed.filter(col("doc_id") % 50 === 0))
        .withColumn("doc_id", col("doc_id") + 7000000L))
      .unionByName(tmut(bench.filter(col("doc_id") % 30 === 0))
        .withColumn("doc_id", col("doc_id") + 7000000L))
    val w2 = later.filter(pmod(col("doc_id"), lit(3)) === 2)
      .unionByName(tmut(w0.filter(col("doc_id") % 5 === 0))
        .withColumn("doc_id", col("doc_id") + 7000000L))
      .unionByName(tmut(bench.filter(col("doc_id") % 45 === 0))
        .withColumn("doc_id", col("doc_id") + 14000000L))
    admissionGate(s, "m24", dir, seed, Seq(w0, w1, w2), on("media"),
        Some(bench), Seq("benchMediaPath"))
      .select("doc_id", "exact_dup", "near_dup", "image_dup", "audio_dup",
        "media_contaminated", "admitted")
      .orderBy("doc_id")
  }

  /** W18: THE COMPLETE MULTIMODAL INGEST GATE — every admission axis
   * this engine has, fused into ONE per-trigger verdict over
   * (text, image, audio) documents: text exact + MinHash near + quality
   * + novelty + benchmark decontamination (w15) + containment (w16) +
   * semantic paraphrase (w17, at the production plane dial with the
   * centered bucketing and hot-bucket cap) AND image dup + audio dup
   * (m22, evolving fingerprint state) + media decontamination (m24,
   * frozen benchmark-media fingerprints). A production corpus is
   * admitted ONCE — until this gate, the 7-leg text gate and the
   * 5-leg media gate were siblings that never met.
   *
   * ONE benchmark suite (docs 300–399, disjoint from the corpus)
   * freezes for BOTH decontamination legs. Per-axis-unique plants
   * (each flagged by the one DUP/CONTAMINATION leg the others are
   * structurally blind to — the quality leg additionally refuses the
   * vowel-garbled media plants, correctly, so the media axes are
   * proven by their FLAGS, not by admission alone): image-only =
   * translated clone at the image-seed-preserving offset (+1M — audio
   * phase moves, text shingles novel); audio-only = +3.5M (audio seed
   * preserved, texture moves); media-decontamination = translated
   * clone of a BENCHMARK doc at +7M (both fingerprints preserved,
   * nothing in the reference to dup against); text-decontamination =
   * the w15 slice plant over the DISJOINT benchmark (+6M — caught by
   * contamination alone, containment silent because no REFERENCE doc
   * contains the slice); containment = w16's quoted-inside (+4M) and
   * sliced (+5M) plants; semantic = w17's token-reversed plants at
   * +8.3M (≡ 0 mod NEITHER media seed, so the length-preserving
   * reversal can't ride the image axis); quality = vowel→punct junk
   * (+9.3M); and a verbatim copy (+1.3M, both media seeds moved)
   * fires the whole TEXT family at once (exact, near, containment,
   * semantic) as the cross-axis sanity row. The second wave's +7M translated
   * clones of wave-0-admitted docs prove the EVOLVING media
   * fingerprint state (dups of docs admitted a trigger earlier).
   * The oracle unrolls the two rounds with every leg's CTEs global
   * where its state is frozen (benchmarks, center, planes) and
   * per-round where it evolves (reference text, postings, embeddings,
   * media fingerprints). */
  /** The w18/l14 shared fixture: (seed, benchmark corpus, waves) —
   * see [[streamFullAdmission]]'s scaladoc for the per-axis-unique
   * plant catalog. ONE construction so the in-process drain and the
   * REST-registered pipeline provably gate IDENTICAL waves (they share
   * the oracle). */
  private def fullAdmissionFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val seed = docs.filter(col("doc_id") < 300)
    // ONE benchmark suite (docs 300–399, DISJOINT from the corpus)
    // freezes for BOTH decontamination legs — text postings and media
    // fingerprints — so a benchmark quote/clone matches nothing in the
    // reference and ONLY its contamination leg catches it
    val benchM = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val benchT = benchM
    val later = docs.filter(col("doc_id") >= 400)
    def tmut(df: DataFrame): DataFrame =
      df.withColumn("text", translate(col("text"), "aeiou", "uoiea"))
    val w0 = later.filter(pmod(col("doc_id"), lit(3)) === 0)
    val w1 = later.filter(pmod(col("doc_id"), lit(3)) === 1)
      .unionByName(seed.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 1300000L))
      .unionByName(tmut(seed.filter(col("doc_id") % 70 === 0))
        .withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(tmut(seed.filter(col("doc_id") % 90 === 0))
        .withColumn("doc_id", col("doc_id") + 3500000L))
      .unionByName(tmut(benchM.filter(col("doc_id") % 30 === 0))
        .withColumn("doc_id", col("doc_id") + 7000000L))
      .unionByName(benchT.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(
            concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 30)),
            lit(" "),
            translate(col("text"), "aeiou", "uoiea")).as("text")))
    val f1 = later.select(col("doc_id").as("_f1id"), col("text").as("_f1"))
    val f2 = later.select(col("doc_id").as("_f2id"), col("text").as("_f2"))
    val quoting = w0
      .filter(col("doc_id") % 7 === 0 && size(Dedup.tokens(col("text"))) >= 40)
      .join(f1, col("doc_id") + 2 === col("_f1id"))
      .join(f2, col("doc_id") + 5 === col("_f2id"))
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(col("_f1"), lit(" "), col("text"), lit(" "), col("_f2"))
          .as("text"))
    val sliced = w0
      .filter(col("doc_id") % 11 === 0 && size(Dedup.tokens(col("text"))) >= 60)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 22)).as("text"))
    // +8.3M (not the w17 +8M): 8.3M is ≡ 0 mod NEITHER media seed, so a
    // length-preserving token reversal can't also ride the image axis
    val paraphrase = w0.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 8300000L).as("doc_id"),
        concat_ws(" ", reverse(Dedup.tokens(col("text")))).as("text"))
    val junk = seed.filter(col("doc_id") % 60 === 0)
      .select((col("doc_id") + 9300000L).as("doc_id"),
        upper(translate(col("text"), "aeiou", "!!!!!")).as("text"))
    val evolving = tmut(w0.filter(col("doc_id") % 5 === 0))
      .withColumn("doc_id", col("doc_id") + 7000000L)
    // TWO waves (r16, the w15 move): every wave-1 plant targets
    // wave-0-ADMITTED, seed or benchmark docs — the evolving-reference
    // property exercises one trigger later at ~2/3 the bench cost
    val w1all = w1.unionByName(later.filter(pmod(col("doc_id"), lit(3)) === 2))
      .unionByName(quoting).unionByName(sliced).unionByName(paraphrase)
      .unionByName(junk).unionByName(evolving)
    (seed, benchM, Seq(w0, w1all))
  }

  def streamFullAdmission(s: SparkSession, dir: String): DataFrame = {
    val (seed, benchM, waves) = fullAdmissionFixture(s, dir)
    admissionGate(s, "w18", dir, seed, waves, fullGateKeys(s, dir),
        Some(benchM), FullGateBenchKeys)
      .select("doc_id", "exact_dup", "near_dup", "quality_keep",
        "n_shingles", "n_known", "novelty", "contaminated",
        "contained_dup", "semantic_dup", "image_dup", "audio_dup",
        "media_contaminated", "admitted")
      .orderBy("doc_id")
  }

  /** E14: INCREMENTAL ANN INDEX MAINTENANCE — the continual-ingestion
   * path every production vector index needs (d13's admission story
   * applied to the north-star index): the IVF/PQ quantizers train ONCE
   * on the existing corpus (vec_id < 400) and freeze; the existing
   * index materializes; an incoming batch (vec_id ≥ 400) is admitted by
   * assigning each new vector to its trained cell and PQ-encoding it
   * against the frozen codebooks — an O(batch) narrow map, never an
   * O(corpus) rebuild. Search (queries from BOTH sides of the boundary)
   * runs over the merged `(id, cell, codes)` table with no access to
   * the original vectors. The DuckDB oracle computes the REBUILT form —
   * one index pass over the whole corpus with the same frozen literals
   * — so the hash gate IS the proof that search-after-admission ≡
   * search-over-rebuilt. */
  def incrementalIndex(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val emb = embFrame(s, dir)
    CacheScope.materialized { implicit scope =>
      // the existing index is a materialized table (what production
      // would read back from storage) — admission appends to it without
      // re-deriving a single existing entry
      val index0 = scope.persist(Similarity.ivfPqIndex(
        emb.filter(col("id") < AdmitBoundary), books, cents)).toDF()
      val merged = Similarity.ivfPqAdmit(index0,
        emb.filter(col("id") >= AdmitBoundary), books, cents)
      val queries = emb.filter(col("id") < 5 ||
        (col("id") >= AdmitBoundary && col("id") < AdmitBoundary + 3))
      Similarity.ivfPqSearchIndex(queries, merged, TopK, books, cents, NProbe)
        .select("query_id", "rank", "neighbor_id", "adc")
    }.orderBy("query_id", "rank")
  }

  /** E16: STREAMING index admission — e14's admission step run INSIDE
   * the streaming lifecycle: the existing index materializes once
   * (batch), then incoming vectors arrive as three file-source
   * micro-batches (`maxFilesPerTrigger=1`) and each batch encodes
   * against the FROZEN trained constants and appends to the delta log
   * through the EPOCH-FENCED admission channel
   * ([[graft.ml.IndexStore.admit]] — per-batch commit dirs, idempotent
   * on replay, fence re-checked before every batch's write). Search
   * reads base + delta back from
   * storage — the serving path sees only `(id, cell, codes)` files,
   * never the original vectors, and a base alongside streamed deltas
   * is exactly the layout a production index maintains. The oracle is
   * the REBUILT whole-corpus form with the same frozen literals, so
   * the gate proves the streamed admission lost, duplicated, and
   * re-derived nothing. */
  /** Shared harness for the streaming index gates (e16 admission, w10
   * serving): wipe `base`, stage `waves` pmod-partitioned slices of
   * `df` as minute-spaced files under `base/in`, and return the scoped
   * file-source stream over them (`maxFilesPerTrigger=1`, fresh
   * session, small shuffle) — one staging protocol, so a fix to the
   * mtime stamping or wave partitioning lands in both gates. */
  private def stageWaveStream(s: SparkSession, base: String, df: DataFrame,
                              waves: Int = 3): DataFrame = {
    import java.nio.file.{Files, Paths}
    graft.util.Fs.deleteRecursive(Paths.get(base))
    val in = Paths.get(base, "in")
    Files.createDirectories(in)
    stagedWaveFiles(s"sw_${graft.Tables.dirTag(base)}",
        (0 until waves).map(i =>
          df.filter(pmod(col("id"), lit(waves)) === i)))
      .zipWithIndex.foreach { case (src, i) =>
        graft.Tables.stageCopy(src, in.resolve(f"wave$i%02d.parquet"),
          1000000000000L + i * 60000L)
      }
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "4")
    scoped.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
  }

  /** Drive one FENCED admission pass to completion — the encoded
   * stream runs through [[graft.ml.IndexStore.admit]] under the
   * holder's epoch, so every micro-batch re-checks the fence before
   * its write and a rescheduled admission job refuses instead of
   * interleaving the delta log (the production writer discipline every
   * store gate below demonstrates). */
  private def admitStream(encoded: DataFrame, idxDir: String,
                          ckpt: String, epoch: Long): Unit = {
    val q = graft.ml.IndexStore.admit(encoded, idxDir, ckpt, epoch)
    q.processAllAvailable()
    q.stop()
  }

  def streamIndexAdmission(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val emb = embFrame(s, dir)
    val base = s"target/tmp/e16_${new java.io.File(dir).getName}"
    val incoming = emb.filter(col("id") >= AdmitBoundary)
    val stream = stageWaveStream(s, base, incoming)
    val idxDir = s"$base/index"
    val ep = graft.ml.IndexStore.acquireWriter(idxDir)
    graft.ml.IndexStore.writeBase(
      Similarity.ivfPqIndex(emb.filter(col("id") < AdmitBoundary), books, cents),
      idxDir, ep)
    admitStream(Similarity.ivfPqIndex(stream, books, cents), idxDir,
      s"$base/ckpt", ep)
    // past-threshold maintenance: three committed per-wave deltas exceed
    // maxDeltaFiles=2, so the round trips the fold — the serving view
    // (and the oracle hash) must not move by a row (IndexStoreSpec
    // asserts the file-level effects this gate's oracle can't see)
    graft.ml.IndexStore.compact(s, idxDir, maxDeltaFiles = 2,
      retainVersions = 1, epoch = ep)
    val index = graft.ml.IndexStore.read(s, idxDir)
    val queries = emb.filter(col("id") < 3 ||
      (col("id") >= AdmitBoundary && col("id") < AdmitBoundary + 2))
    Similarity.ivfPqSearchIndex(queries, index, TopK, books, cents, NProbe)
      .select("query_id", "rank", "neighbor_id", "adc")
      .orderBy("query_id", "rank")
  }

  /** W10: STREAMING ANN serving — the query side of the streaming
   * story (e16 streams index ADMISSION; this streams the SEARCHES).
   * Query vectors arrive as file-source micro-batches and each batch
   * runs the batch search against the PREBUILT persisted index via
   * `foreachBatch` — the production serving idiom for "stream of
   * requests against a static artifact": per trigger, the micro-batch
   * of queries broadcasts (requests are small by construction) and
   * probes the index exactly like the batch path, so there is no
   * state store and no watermark — serving is stateless. Each batch
   * writes its results to its OWN `batch=<id>` directory with
   * overwrite, so a replayed trigger after a crash rewrites the same
   * files — idempotent, effectively exactly-once. Per-query results
   * are independent of micro-batch assignment, so the oracle is the
   * plain rebuilt search over the union of all streamed queries. */
  def streamAnnServe(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val emb = embFrame(s, dir)
    val base = s"target/tmp/w10_${new java.io.File(dir).getName}"
    val queries = emb.filter(col("id") < 6)
    val stream = stageWaveStream(s, base, queries)
    val indexDir = s"$base/index"
    val outDir = s"$base/out"
    Similarity.ivfPqIndex(emb, books, cents)
      .write.mode("overwrite").parquet(indexDir)
    val q = stream.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Similarity.ivfPqSearchIndex(batch,
            batch.sparkSession.read.parquet(indexDir),
            TopK, books, cents, NProbe)
          .select("query_id", "rank", "neighbor_id", "adc")
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }.start()
    q.processAllAvailable()
    q.stop()
    s.read.parquet(outDir).drop("batch")
      .select("query_id", "rank", "neighbor_id", "adc")
      .orderBy("query_id", "rank")
  }

  /** E25: merge-on-read DELETES through the store — e17 gates the
   * logical delete as a DataFrame op; this gates it as a STORAGE verb
   * ([[graft.ml.IndexStore.tombstone]]): after streamed admission, the
   * takedown logs one tombstone id-batch (no base rewrite — at 100 TB
   * a delete must cost an id-list append, with the rewrite riding the
   * next fold), the view anti-joins it out immediately, and the fold
   * then applies it PHYSICALLY — deltas and tombstones fold in the
   * same atomic marker commit. Serve runs post-fold from the new base;
   * the oracle is e17's rebuilt-over-survivors form under e16's query
   * set, so the hash pins that the storage delete lost and leaked
   * nothing (the merge-on-read ≡ post-fold equivalence itself is
   * pinned row-exactly in `IndexStoreSpec`). */
  def storeTombstoneServe(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val emb = embFrame(s, dir)
    val base = s"target/tmp/e25_${new java.io.File(dir).getName}"
    val stream = stageWaveStream(s, base,
      emb.filter(col("id") >= AdmitBoundary))
    val idxDir = s"$base/index"
    val ep = graft.ml.IndexStore.acquireWriter(idxDir)
    graft.ml.IndexStore.writeBase(
      Similarity.ivfPqIndex(emb.filter(col("id") < AdmitBoundary), books, cents),
      idxDir, ep)
    admitStream(Similarity.ivfPqIndex(stream, books, cents), idxDir,
      s"$base/ckpt", ep)
    graft.ml.IndexStore.tombstone(s, idxDir,
      emb.filter(pmod(col("id"), lit(DeleteMod)) === lit(3)).select("id"), ep)
    // 3 deltas + 1 tombstone batch > 2: the fold applies the delete
    // physically and drains both logs
    graft.ml.IndexStore.compact(s, idxDir, maxDeltaFiles = 2,
      retainVersions = 1, epoch = ep)
    val index = graft.ml.IndexStore.read(s, idxDir)
    val queries = emb.filter(col("id") < 3 ||
      (col("id") >= AdmitBoundary && col("id") < AdmitBoundary + 2))
    Similarity.ivfPqSearchIndex(queries, index, TopK, books, cents, NProbe)
      .select("query_id", "rank", "neighbor_id", "adc")
      .orderBy("query_id", "rank")
  }

  /** E28: VERSION-PINNED reads + VACUUM GRACE — the reader-side half
   * of the compaction contract. e16/e25 prove the fold preserves the
   * CURRENT serving view; this gate proves what the contract promises
   * the readers the fold overlaps: compaction with `retainVersions=2`
   * keeps the pre-fold version AND its folded delta files on disk, so
   * a reader pinned at v0 ([[graft.ml.IndexStore.readAt]] — a 100 TB
   * serving tier mid-query when the maintenance window fires) resolves
   * its exact pre-fold file set (old base + retained deltas + live
   * tombstone anti-join) while a current reader resolves the new
   * physically-merged base — and both serve the IDENTICAL answer. The
   * explicit [[graft.ml.IndexStore.vacuum]] then retires v0 and its
   * files, and the view still doesn't move by a row. Three tagged
   * serves, one rebuilt-over-survivors oracle replicated under the
   * tags: time travel pins the view; vacuum moves only files. */
  def storeTimeTravelServe(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val emb = embFrame(s, dir)
    val base = s"target/tmp/e28_${new java.io.File(dir).getName}"
    val stream = stageWaveStream(s, base,
      emb.filter(col("id") >= AdmitBoundary))
    val idxDir = s"$base/index"
    val ep = graft.ml.IndexStore.acquireWriter(idxDir)
    graft.ml.IndexStore.writeBase(
      Similarity.ivfPqIndex(emb.filter(col("id") < AdmitBoundary), books, cents),
      idxDir, ep)
    admitStream(Similarity.ivfPqIndex(stream, books, cents), idxDir,
      s"$base/ckpt", ep)
    graft.ml.IndexStore.tombstone(s, idxDir,
      emb.filter(pmod(col("id"), lit(DeleteMod)) === lit(3)).select("id"), ep)
    // 3 deltas + 1 tombstone > 2 trips the fold; retainVersions=2
    // opens the grace window instead of retiring v0 immediately
    graft.ml.IndexStore.compact(s, idxDir, maxDeltaFiles = 2,
      retainVersions = 2, epoch = ep)
    require(graft.ml.IndexStore.liveVersions(idxDir) == Seq(0, 1),
      "e28 needs both versions live through the grace window — " +
        "readAt(v0) must resolve the retained pre-fold file set")
    val queries = emb.filter(col("id") < 3 ||
      (col("id") >= AdmitBoundary && col("id") < AdmitBoundary + 2))
    def serve(view: String, index: DataFrame): DataFrame =
      Similarity.ivfPqSearchIndex(queries, index, TopK, books, cents, NProbe)
        .select("query_id", "rank", "neighbor_id", "adc")
        .withColumn("view", lit(view))
    // materialize (lineage CUT, not just cached) BEFORE the vacuum: the
    // grace serves must have read their file sets while v0's still
    // exists — serving, then retiring, never a recompute over deleted
    // files
    val grace =
      serve("v0_grace", graft.ml.IndexStore.readAt(s, idxDir, 0))
        .unionByName(serve("v1_grace", graft.ml.IndexStore.read(s, idxDir)))
        .localCheckpoint()
    graft.ml.IndexStore.vacuum(idxDir, retainVersions = 1, epoch = ep)
    require(graft.ml.IndexStore.liveVersions(idxDir) == Seq(1),
      "vacuum must retire the out-of-grace version")
    grace.unionByName(
        serve("v1_vacuumed", graft.ml.IndexStore.read(s, idxDir)))
      .orderBy("view", "query_id", "rank")
  }

  /** E33: REINDEX — retrain + shadow build + atomic cutover, the verb
   * for drift the surgical verbs can't repair (`bench/
   * lifecycle_recall_r12.json` shows splits/merges only BEND the recall
   * frontier; when the corpus outgrows its quantizers, production
   * retrains and re-encodes). The journey: base + fenced streamed
   * admission + merge-on-read tombstone (the store in its lived-in
   * state), then the REINDEX: quantizers retrain on the SURVIVING
   * corpus, the index rebuilds under the new constants as a SHADOW
   * while v0 keeps serving, and [[graft.ml.IndexStore.cutover]]
   * publishes it atomically via the version marker with a vacuum-grace
   * window. Four tagged serves pin the whole contract: v0_pre (before
   * the cutover) and v0_grace (PINNED at v0 after it) serve the
   * identical old-constant answer — a reader mid-cutover never sees a
   * torn view; v1_cutover and v1_vacuumed serve the identical
   * new-constant answer — vacuum moves only files. The oracle is the
   * rebuilt-over-survivors form under the OLD literals for the v0 tags
   * and the RETRAINED literals for the v1 tags. */
  def reindexCutover(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val emb = embFrame(s, dir)
    val base = s"target/tmp/e33_${new java.io.File(dir).getName}"
    val stream = stageWaveStream(s, base,
      emb.filter(col("id") >= AdmitBoundary))
    val idxDir = s"$base/index"
    val ep = graft.ml.IndexStore.acquireWriter(idxDir)
    graft.ml.IndexStore.writeBase(
      Similarity.ivfPqIndex(emb.filter(col("id") < AdmitBoundary), books, cents),
      idxDir, ep)
    admitStream(Similarity.ivfPqIndex(stream, books, cents), idxDir,
      s"$base/ckpt", ep)
    graft.ml.IndexStore.tombstone(s, idxDir,
      emb.filter(pmod(col("id"), lit(DeleteMod)) === lit(3)).select("id"), ep)
    val queries = emb.filter(col("id") < 3 ||
      (col("id") >= AdmitBoundary && col("id") < AdmitBoundary + 2))
    def serve(view: String, index: DataFrame, bks: Seq[Seq[Seq[Double]]],
              cts: Seq[Seq[Double]]): DataFrame =
      Similarity.ivfPqSearchIndex(queries, index, TopK, bks, cts, NProbe)
        .select("query_id", "rank", "neighbor_id", "adc")
        .withColumn("view", lit(view))
    // materialized BEFORE the cutover (lineage cut): v0_pre must have
    // read its file set while it was the CURRENT version
    val pre = serve("v0_pre", graft.ml.IndexStore.read(s, idxDir),
      books, cents).localCheckpoint()
    // RETRAIN on the survivors, SHADOW BUILD, ATOMIC CUTOVER
    val newCents = trainedCentsReindex(s, dir)
    val newBooks = trainedBooksReindex(s, dir)
    val rebuilt = Similarity.ivfPqIndex(embSurvivors(s, dir),
      newBooks, newCents)
    graft.ml.IndexStore.cutover(s, idxDir, rebuilt, retainVersions = 2,
      epoch = ep)
    require(graft.ml.IndexStore.liveVersions(idxDir) == Seq(0, 1),
      "e33 needs both versions live through the cutover grace window")
    val grace =
      serve("v0_grace", graft.ml.IndexStore.readAt(s, idxDir, 0),
          books, cents)
        .unionByName(serve("v1_cutover",
          graft.ml.IndexStore.read(s, idxDir), newBooks, newCents))
        .localCheckpoint()
    graft.ml.IndexStore.vacuum(idxDir, retainVersions = 1, epoch = ep)
    require(graft.ml.IndexStore.liveVersions(idxDir) == Seq(1),
      "vacuum must retire the pre-reindex version after the grace")
    pre.unionByName(grace)
      .unionByName(serve("v1_vacuumed",
        graft.ml.IndexStore.read(s, idxDir), newBooks, newCents))
      .orderBy("view", "query_id", "rank")
  }

  /** E29: the MAINTENANCE PLANNER — the "who decides" half of the
   * lifecycle verbs e14–e28 gate individually. Input: the full corpus
   * under the FROZEN base quantizer (trained on the pre-admission
   * slice — the admission-skew shape e18's split exists to fix).
   * Output: a DECLARATIVE plan frame, the ordered list of surgical
   * verbs the next maintenance window should run. The rules are
   * BUDGET-driven, not threshold-driven — at 100 TB a maintenance
   * window affords a fixed number of surgical verbs, so the planner
   * ranks offenders instead of waiting for a drifting float cutoff
   * (k-means keeps occupancy near-uniform, so absolute thresholds
   * like "2× mean" fire never or everywhere); all comparisons are
   * integer-exact products:
   *   - SPLIT the two most-occupied cells strictly above the mean
   *     (occ·nCells > total; ties by cell id) — the cells that
   *     dominate per-probe cost, worst first (e18's verb);
   *   - MERGE the two least-occupied cells when the merged cell
   *     would stay under the split bound (Σocc·nCells ≤ 2·total —
   *     reclaims the slots splits consume; e26's verb).
   * Perfect uniformity yields an empty plan — correct, not vacuous.
   * Plan rows carry the occupancy evidence so an operator can audit
   * why each verb fired. The planner costs ONE narrow aggregation
   * over cell assignments — at 100 TB it reads the index table's cell
   * column, never a vector; the two-row picks are driver folds over
   * the O(nCells) stats frame, like every trained-constant memo. */
  def maintenancePlan(s: SparkSession, dir: String): DataFrame = {
    val cents = trainedCentsBase(s, dir)
    val cells = embFrame(s, dir)
      .select(Similarity.ivfAssignD(col("vec"), cents).as("cell"))
    planFromCells(s, cells).orderBy("action", "cell_a")
  }

  /** The e29 rules over a prebuilt cell-label frame — the planner core
   * shared by the batch gate and w13's per-trigger observation. The
   * planner never reads a vector: its input is the index table's cell
   * column, its cost one narrow aggregation + an O(nCells) driver
   * fold. */
  private def planFromCells(s: SparkSession, cells: DataFrame): DataFrame =
    CacheScope.materialized { implicit scope =>
      // fixed denominator nCells: EMPTY cells stay in the frame — they
      // are exactly what merge reclaims, and a non-empty-only mean
      // would drift as cells hollow out
      val o = scope.persist(
        s.range(NCells).select(col("id").cast(IntegerType).as("cell"))
          .join(cells.groupBy("cell").count(), Seq("cell"), "left")
          .select(col("cell"), coalesce(col("count"), lit(0L)).as("occ"))).toDF()
      val total = o.agg(sum(col("occ"))).collect()(0).getLong(0)
      val splits = o.filter(col("occ") * NCells > lit(total))
        .orderBy(col("occ").desc, col("cell")).limit(2)
        .select(lit("split").as("action"), col("cell").as("cell_a"),
          lit(null).cast(IntegerType).as("cell_b"),
          col("occ").as("occupancy"))
      val low2 = o.orderBy(col("occ"), col("cell")).limit(2).collect()
      val merges =
        if (low2.length == 2 &&
            low2.map(_.getLong(1)).sum * NCells <= 2L * total) {
          val Seq(a, b) = low2.map(_.getInt(0)).toSeq.sorted
          Seq((("merge"), a, b, low2.map(_.getLong(1)).sum))
        } else Nil
      import s.implicits._
      splits.unionByName(
        merges.toDF("action", "cell_a", "cell_b", "occupancy")
          .select(col("action"), col("cell_a"),
            col("cell_b").cast(IntegerType), col("occupancy")))
    }

  /** W13: the planner INSIDE the admission stream — continuous
   * observation: each micro-batch lands its cell labels in its OWN
   * idempotent `adm<id>` dir (the w12 replay discipline — a retried
   * trigger overwrites its own labels instead of double-appending them
   * into every subsequent plan's input), then the e29 rules run over
   * the union of the seed plus every label dir up to that trigger, and
   * the trigger's plan frame lands in an idempotent `batch_id=` dir.
   * The stream only OBSERVES — planning needs no vector and no
   * training, so it rides the ingest loop at one narrow aggregation
   * per trigger; a separate maintenance window (e31) drains the
   * recorded backlog. The gate pins the full plan HISTORY: three waves
   * → three plan frames, each derived from exactly its admission
   * prefix. */
  def streamMaintenancePlans(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val cents = trainedCentsBase(s, dir)
    val emb = embFrame(s, dir)
    val base = s"target/tmp/w13_${new java.io.File(dir).getName}"
    val stream = stageWaveStream(s, base,
      emb.filter(col("id") >= AdmitBoundary))
    val idxDir = s"$base/idx"
    val plansDir = s"$base/plans"
    emb.filter(col("id") < AdmitBoundary)
      .select(col("id"), Similarity.ivfAssignD(col("vec"), cents).as("cell"))
      .write.mode("overwrite").parquet(s"$idxDir/seed")
    val q = stream
      .select(col("id"), Similarity.ivfAssignD(col("vec"), cents).as("cell"))
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val sp = batch.sparkSession
        batch.write.mode("overwrite").parquet(s"$idxDir/adm$id")
        // the plan input = seed + labels up to and including THIS
        // trigger; a crashed later attempt's leftover dir never leaks
        // into an earlier batch's replayed plan
        val listing = Files.list(Paths.get(idxDir))
        val parts = try listing.iterator().asScala.toList.map(_.toString)
          .filter { p =>
            val n = Paths.get(p).getFileName.toString
            n == "seed" ||
              (n.startsWith("adm") && n.stripPrefix("adm").toLong <= id)
          } finally listing.close()
        planFromCells(sp, sp.read.parquet(parts: _*).select("cell"))
          .write.mode("overwrite").parquet(s"$plansDir/batch_id=$id")
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    s.read.parquet(plansDir)
      .select(col("batch_id").cast(IntegerType).as("batch_id"),
        col("action"), col("cell_a"), col("cell_b"), col("occupancy"))
      .orderBy("batch_id", "action", "cell_a")
  }

  /** E30's executable form of the e29 plan, memoized per dir: the same
   * integer-exact budget rules as [[maintenancePlan]] replayed as a
   * driver fold over the O(nCells) occupancy map (the documented
   * trained-constant pattern — [[mergeState]] collects the same map),
   * plus the 2-means sub-centroids each planned split needs, trained on
   * only that cell's members (e18's O(|cell|) contract). Keyed on the
   * fixture DIR under the same single-load assumption as every trained
   * constant here: the embeddings under a dir are immutable for the
   * process lifetime (regenerating them in-process would serve e30–e32
   * a stale plan — restart instead, as Verify/Bench do). */
  private val applyMemo = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[(Int, Seq[Seq[Double]])], Option[(Int, Int)],
      Map[Int, Long])]
  private def maintenancePlanState(s: SparkSession, dir: String):
      (Seq[(Int, Seq[Seq[Double]])], Option[(Int, Int)], Map[Int, Long]) =
    applyMemo.getOrElseUpdate(dir, {
      val cents = trainedCentsBase(s, dir)
      val emb = embFrame(s, dir)
      val counts = emb
        .select(Similarity.ivfAssignD(col("vec"), cents).as("cell"))
        .groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val occ = (j: Int) => counts.getOrElse(j, 0L)
      val total = (0 until NCells).map(occ).sum
      val splitCells = (0 until NCells)
        .filter(j => occ(j) * NCells > total)
        .sortBy(j => (-occ(j), j.toLong)).take(2)
      val low2 = (0 until NCells).sortBy(j => (occ(j), j.toLong)).take(2)
      val merge =
        if (low2.map(occ).sum * NCells <= 2L * total)
          Some((low2.min, low2.max)) else None
      val splits = splitCells.map { c =>
        c -> Similarity.trainIvfCentroids(
          emb.filter(Similarity.ivfAssignD(col("vec"), cents) === c),
          nCells = 2, dim = Dim, iters = 3)
      }
      (splits, merge, (0 until NCells).map(j => j -> occ(j)).toMap)
    })

  /** E30: maintenance plan EXECUTION — closes the loop e29 opens. The
   * planner's verbs run IN PLAN ORDER against the materialized index
   * through the same surgical operators the individual gates pin
   * ([[Similarity.ivfPqSplit]] per planned split — each appends one
   * cell; [[Similarity.ivfPqMerge]] for the planned pair — slots shift
   * down), and the output is every member's (cell_before, cell_after):
   * the hash gate proves the composed execution moved EXACTLY the
   * planned cells' members (split members to their 2-means side, merged
   * members to the surviving slot, everyone else only relabeled by the
   * shift) and nothing else. Splits run before the merge, so the merge
   * shift relabels the freshly appended cells too — the oracle replays
   * that ordering. Cost at 100 TB = the verbs' own contracts: each
   * split O(|cell|) with a vector fetch only for its members, the
   * merge a pure narrow map, never a rebuild. */
  def maintenanceApply(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val emb = embFrame(s, dir)
    val (splits, mergeOpt, _) = maintenancePlanState(s, dir)
    CacheScope.materialized { implicit scope =>
      val index0 = scope.persist(
        Similarity.ivfPqIndex(emb, books, cents)).toDF()
      val afterSplits = splits.zipWithIndex.foldLeft(index0: DataFrame) {
        case (idx, ((c, subs), i)) =>
          Similarity.ivfPqSplit(idx, emb, c, subs, newCell = NCells + i)
      }
      val finalIdx = mergeOpt.fold(afterSplits) { case (a, b) =>
        Similarity.ivfPqMerge(afterSplits, a, b)
      }
      index0.select(col("id"), col("cell").as("cell_before"))
        .join(finalIdx.select(col("id"), col("cell").as("cell_after")),
          Seq("id"))
    }.orderBy("id")
  }

  /** Post-maintenance centroid table: splits append their 2-means
   * sub-centroids in plan order, the merge collapses its pair into the
   * plan-time occupancy-weighted centroid (e26's rule) and shifts
   * higher slots down. Shared by e31's serve and its oracle. */
  private def maintainedCents(cents: Seq[Seq[Double]],
                              splits: Seq[(Int, Seq[Seq[Double]])],
                              mergeOpt: Option[(Int, Int)],
                              occ: Map[Int, Long]): Seq[Seq[Double]] = {
    val afterSplits = splits.foldLeft(cents) { case (cs, (c, subs)) =>
      cs.updated(c, subs(0)) :+ subs(1)
    }
    mergeOpt.fold(afterSplits) { case (a, b) =>
      val (na, nb) = (occ.getOrElse(a, 0L), occ.getOrElse(b, 0L))
      val merged =
        if (na + nb == 0L)
          afterSplits(a).zip(afterSplits(b)).map { case (x, y) => (x + y) / 2.0 }
        else afterSplits(a).zip(afterSplits(b)).map { case (x, y) =>
          (na * x + nb * y) / (na + nb).toDouble
        }
      afterSplits.updated(a, merged).patch(b, Nil, 1)
    }
  }

  /** The e29 rules as one SQL block over `embeddings WHERE pred` —
   * shared by the batch planner oracle (pred TRUE) and w13's
   * per-trigger history (one block per admission prefix, each
   * prefixed with its batch_id literal via `batchSel`). */
  private def planOracleBlock(cents: Seq[Seq[Double]], pred: String,
                              batchSel: String = ""): String =
    s"""WITH cents AS (SELECT ${doubleLit2(cents)} AS ct),
       |asg AS (SELECT (-(${rankedSql("embedding")})[1].nj - 1) AS cell
       |        FROM embeddings, cents WHERE $pred),
       |occ AS (
       |  SELECT r.cell, coalesce(c.n, 0) AS occ
       |  FROM (SELECT unnest(range(0, $NCells)) AS cell) r
       |  LEFT JOIN (SELECT cell, count(*) AS n FROM asg GROUP BY cell) c
       |  USING (cell)),
       |tot AS (SELECT count(*) AS t FROM embeddings WHERE $pred),
       |splits AS (
       |  SELECT 'split' AS action, cell::INTEGER AS cell_a,
       |    CAST(NULL AS INTEGER) AS cell_b, occ::BIGINT AS occupancy
       |  FROM occ, tot WHERE occ * $NCells > t
       |  ORDER BY occ DESC, cell LIMIT 2),
       |low2 AS (SELECT cell, occ FROM occ ORDER BY occ, cell LIMIT 2),
       |merges AS (
       |  SELECT 'merge' AS action, min(cell)::INTEGER AS cell_a,
       |    max(cell)::INTEGER AS cell_b, sum(occ)::BIGINT AS occupancy
       |  FROM low2
       |  HAVING sum(occ) * $NCells <= 2 * (SELECT t FROM tot))
       |SELECT ${batchSel}action, cell_a, cell_b, occupancy FROM splits
       |UNION ALL SELECT ${batchSel}action, cell_a, cell_b, occupancy FROM merges""".stripMargin

  /** The e31/e32 oracles' shared parts: the composed surgical cell
   * CASE in rankedSql's 1-based space (split members choose their
   * 2-means side, merged members relabel to the surviving slot, the
   * shift renumbers everything above — appended cells included), the
   * literal CTEs it references, and the post-maintenance table. */
  private def maintenanceOracleParts(s: SparkSession, dir: String):
      (String, String, String, Seq[Seq[Double]]) = {
    val cents = trainedCentsBase(s, dir)
    val (splits, mergeOpt, occ) = maintenancePlanState(s, dir)
    val n = cents.size
    val newCents = maintainedCents(cents, splits, mergeOpt, occ)
    val oldCell = s"-(${rankedSql("embedding")})[1].nj"
    val splitCase =
      if (splits.isEmpty) s"($oldCell)"
      else "(CASE " + splits.zipWithIndex.map { case ((c, _), i) =>
        s"""WHEN $oldCell = ${c + 1} THEN
           |      (CASE WHEN -(${rankedSql("embedding", 2, s"sc$i")})[1].nj = 1
           |       THEN ${c + 1} ELSE ${n + i + 1} END)""".stripMargin
      }.mkString(" ") + s" ELSE $oldCell END)"
    val cCell = mergeOpt.fold(splitCase) { case (a, b) =>
      s"""CASE WHEN $splitCase = ${b + 1} THEN ${a + 1}
         |     WHEN $splitCase > ${b + 1} THEN $splitCase - 1
         |     ELSE $splitCase END""".stripMargin
    }
    val subCtes = splits.zipWithIndex.map { case ((_, subs), i) =>
      s"subc$i AS (SELECT ${doubleLit2(subs)} AS sc$i)" }
    val extra = (s"cents2 AS (SELECT ${doubleLit2(newCents)} AS ct2)" +: subCtes)
      .mkString("", ",\n", ",\n")
    (cCell, extra,
      ", cents2" + splits.indices.map(i => s", subc$i").mkString, newCents)
  }

  /** E32: the plan's verbs under the RESIDUAL family — e30's composed
   * execution where re-encode-on-move applies at EVERY step: each
   * split re-encodes both of its cell's sides against their 2-means
   * sub-centroids ([[Similarity.ivfPqResidualSplit]]), the merge
   * re-encodes both cells against the merged centroid
   * ([[Similarity.ivfPqResidualMerge]]), untouched cells shift labels
   * with codes intact (their centroids didn't move). The composed
   * invariant the oracle pins: after the whole plan, EVERY member's
   * codes are its residual against the FINAL table's slot — uniform,
   * because a centroid changed exactly where a re-encode ran. Serving
   * probes the post-maintenance table; one stale code anywhere
   * mismatches that member's every score. */
  def residualMaintenanceApply(s: SparkSession, dir: String): DataFrame = {
    val books = trainedResidualBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val (splits, mergeOpt, occ) = maintenancePlanState(s, dir)
    val emb = embFrame(s, dir)
    val newCents = maintainedCents(cents, splits, mergeOpt, occ)
    CacheScope.materialized { implicit scope =>
      val index0 = scope.persist(
        Similarity.ivfPqResidualIndex(emb, books, cents)).toDF()
      val afterSplits = splits.zipWithIndex.foldLeft(index0: DataFrame) {
        case (idx, ((c, subs), i)) =>
          Similarity.ivfPqResidualSplit(idx, emb, c, subs,
            newCell = NCells + i, books)
      }
      val maintained = mergeOpt.fold(afterSplits) { case (a, b) =>
        // slot a < b < NCells, so its index is unshifted in the final
        // table — newCents(a) IS the merged centroid
        Similarity.ivfPqResidualMerge(afterSplits, emb, a, b,
          newCents(a), books)
      }
      Similarity.ivfPqResidualSearchIndex(emb.filter(col("id") < 5),
          maintained, TopK, books, newCents, NProbe)
        .select("query_id", "rank", "neighbor_id", "adc")
    }.orderBy("query_id", "rank")
  }

  /** E31: the PLANNER driving maintenance through the STORE journey —
   * e21's plumbing with e29 deciding instead of a hardcoded verb list:
   * base from the pre-admission slice, the rest streamed through the
   * delta dir (three checkpointed micro-batches), a threshold fold,
   * then the e29 plan's verbs run against the STORE-read index (each
   * split O(|cell|), the merge a narrow map), the maintained table
   * written back to storage, and serving reads ONLY that table —
   * candidates cannot come from anywhere else. The oracle is the
   * rebuilt form: full-corpus assignment under the frozen base
   * quantizer, e30's composed surgical CASE for the post-plan cells,
   * probes against the post-maintenance centroid table. One hash
   * equality pins the whole journey ≡ plan-applied rebuild. */
  def storeMaintenanceJourney(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val (splits, mergeOpt, occ) = maintenancePlanState(s, dir)
    val emb = embFrame(s, dir)
    val base = s"target/tmp/e31_${new java.io.File(dir).getName}"
    val stream = stageWaveStream(s, base,
      emb.filter(col("id") >= AdmitBoundary))
    val idxDir = s"$base/index"
    val ep = graft.ml.IndexStore.acquireWriter(idxDir)
    graft.ml.IndexStore.writeBase(
      Similarity.ivfPqIndex(emb.filter(col("id") < AdmitBoundary), books, cents),
      idxDir, ep)
    admitStream(Similarity.ivfPqIndex(stream, books, cents), idxDir,
      s"$base/ckpt", ep)
    graft.ml.IndexStore.compact(s, idxDir, maxDeltaFiles = 2,
      retainVersions = 1, epoch = ep)
    val admitted = graft.ml.IndexStore.read(s, idxDir)
    val afterSplits = splits.zipWithIndex.foldLeft(admitted) {
      case (idx, ((c, subs), i)) =>
        Similarity.ivfPqSplit(idx, emb, c, subs, newCell = NCells + i)
    }
    val maintained = mergeOpt.fold(afterSplits) { case (a, b) =>
      Similarity.ivfPqMerge(afterSplits, a, b)
    }
    // the maintained index is the serving table: written back to
    // storage, read back, searched — same discipline as e21
    val servedDir = s"$base/maintained"
    maintained.write.mode("overwrite").parquet(servedDir)
    val newCents = maintainedCents(cents, splits, mergeOpt, occ)
    Similarity.ivfPqSearchIndex(emb.filter(col("id") < 5),
        s.read.parquet(servedDir), TopK, books, newCents, NProbe)
      .select("query_id", "rank", "neighbor_id", "adc")
      .orderBy("query_id", "rank")
  }

  /** W11: streamed serving FROM THE LIVE STORE — w10's foreachBatch
   * request loop pointed at [[graft.ml.IndexStore.read]] instead of a
   * frozen parquet file list, against a store in its STEADY state:
   * a folded base version plus two late-admitted, not-yet-folded
   * deltas (w10 serves a static artifact; e16 admits but serves once,
   * after maintenance; the race spec proves isolation — this gate
   * composes the production serving path end-to-end and oracle-pins
   * its answers). Each query micro-batch re-resolves the serving view
   * through the version marker + committed admission batches, which is
   * exactly what a 100 TB serving tier does between maintenance
   * windows. The late admission continues the SAME checkpointed fenced
   * stream after the fold — the checkpoint keeps batch numbering, so
   * the fold/admission interleaving is the real one, not a staged
   * simplification. */
  def streamServeFromStore(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Paths
    val books = trainedBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val emb = embFrame(s, dir)
    val base = s"target/tmp/w11_${new java.io.File(dir).getName}"
    // the staging helper wipes only its own subdir — wipe the whole
    // gate root so the index/checkpoints from a previous run never
    // collide with writeBase (the gate must be re-runnable)
    graft.util.Fs.deleteRecursive(Paths.get(base))
    val idxDir = s"$base/index"
    val inc = emb.filter(col("id") >= AdmitBoundary)
    val even = inc.filter(pmod(col("id"), lit(2)) === 0)
    val admStream = stageWaveStream(s, s"$base/admit", even)
    val ep = graft.ml.IndexStore.acquireWriter(idxDir)
    graft.ml.IndexStore.writeBase(
      Similarity.ivfPqIndex(emb.filter(col("id") < AdmitBoundary), books, cents),
      idxDir, ep)
    def runAdmission(stream: DataFrame): Unit =
      admitStream(Similarity.ivfPqIndex(stream, books, cents), idxDir,
        s"$base/admit/ckpt", ep)
    runAdmission(admStream)
    graft.ml.IndexStore.compact(s, idxDir, maxDeltaFiles = 2,
      retainVersions = 1, epoch = ep)
    // late admission AFTER the fold: two more waves land in the same
    // staging dir with later mtimes and the SAME checkpoint resumes —
    // they stay unfolded, so serving reads base ∪ live delta tail
    val in = Paths.get(s"$base/admit", "in")
    stagedWaveFiles(s"w11late_${graft.Tables.dirTag(dir)}",
        Seq(1L, 3L).map(r => inc.filter(pmod(col("id"), lit(4)) === r)))
      .zipWithIndex.foreach { case (src, i) =>
        graft.Tables.stageCopy(src, in.resolve(f"wave${3 + i}%02d.parquet"),
          1000000000000L + (3 + i) * 60000L)
      }
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "4")
    runAdmission(scoped.readStream.schema(even.schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString))
    // ≥ 2: one per late micro-batch at least — a batch may write more
    // than one part file at larger SFs, so an exact file count would
    // be asserting an accident of partitioning
    require(graft.ml.IndexStore.unfoldedDeltaFiles(s, idxDir).size >= 2,
      "w11's serving view must carry live unfolded deltas — the gate " +
        "exists to exercise base ∪ delta resolution per micro-batch")
    // the serving loop: writer quiesced (L6), queries stream in
    val queries = emb.filter(col("id") < 6)
    val qStream = stageWaveStream(s, s"$base/serve", queries)
    val outDir = s"$base/out"
    val q = qStream.writeStream
      .option("checkpointLocation", s"$base/serve/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Similarity.ivfPqSearchIndex(batch,
            graft.ml.IndexStore.read(batch.sparkSession, idxDir),
            TopK, books, cents, NProbe)
          .select("query_id", "rank", "neighbor_id", "adc")
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }.start()
    q.processAllAvailable()
    q.stop()
    s.read.parquet(outDir).drop("batch")
      .select("query_id", "rank", "neighbor_id", "adc")
      .orderBy("query_id", "rank")
  }

  /** E21's split state — e18's [[splitState]] under the BASE-trained
   * quantizer (the lifecycle journey freezes e14's constants): fullest
   * cell of the POST-admission corpus (ties to the smaller id), 2-means
   * subs trained on only that cell's members, post-split centroid
   * table. Memoized per dir like every trained constant; the corpus
   * here is pre-delete — the journey splits before it tombstones, and
   * the sub-centroids legitimately saw the soon-deleted members. */
  private val e21Memo = scala.collection.concurrent.TrieMap
    .empty[String, (Int, Seq[Seq[Double]], Seq[Seq[Double]])]
  private def e21SplitState(s: SparkSession, dir: String):
      (Int, Seq[Seq[Double]], Seq[Seq[Double]]) =
    e21Memo.getOrElseUpdate(dir, {
      val cents = trainedCentsBase(s, dir)
      val emb = embFrame(s, dir)
      val counts = emb
        .select(Similarity.ivfAssignD(col("vec"), cents).as("cell"))
        .groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val c = (0 until cents.size)
        .maxBy(j => (counts.getOrElse(j, 0L), -j.toLong))
      val subs = Similarity.trainIvfCentroids(
        emb.filter(Similarity.ivfAssignD(col("vec"), cents) === c),
        nCells = 2, dim = Dim, iters = 3)
      (c, subs, cents.updated(c, subs(0)) :+ subs(1))
    })

  /** E21: the FULL index lifecycle composed into ONE journey — every
   * verb e14–e20 gate in isolation, run in production order against a
   * single stored index: BUILD the base over the existing slice
   * (frozen base-trained quantizers) → STREAMED ADMISSION of the
   * incoming vectors as three checkpointed micro-batches → DELTA
   * COMPACTION past the file threshold ([[graft.ml.IndexStore]]) →
   * SURGICAL CELL SPLIT of the now-fullest cell → TOMBSTONE DELETE
   * (`id % 7 = 3`) → physical COMPACTION of the survivors → SERVE WITH
   * EXACT RERANK from the compacted table. The oracle is the REBUILT
   * index over the net surviving corpus under the same frozen
   * constants (surgical split assignment, post-split probe table, 3k
   * ADC candidates, exact-cosine refine), so one hash equality proves
   * the verbs COMPOSE: ordering effects, split-then-delete
   * interaction, admission-through-compaction plumbing, and
   * serve-after-everything all collapse into `journey ≡ rebuild` —
   * which is the invariant that lets a 100 TB deployment run each verb
   * as an O(batch)/O(|cell|) increment instead of ever rebuilding. */
  def indexLifecycleE2E(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val (c, subs, newCents) = e21SplitState(s, dir)
    val emb = embFrame(s, dir)
    val base = s"target/tmp/e21_${new java.io.File(dir).getName}"
    val stream = stageWaveStream(s, base,
      emb.filter(col("id") >= AdmitBoundary))
    val idxDir = s"$base/index"
    val ep = graft.ml.IndexStore.acquireWriter(idxDir)
    graft.ml.IndexStore.writeBase(
      Similarity.ivfPqIndex(emb.filter(col("id") < AdmitBoundary), books, cents),
      idxDir, ep)
    admitStream(Similarity.ivfPqIndex(stream, books, cents), idxDir,
      s"$base/ckpt", ep)
    graft.ml.IndexStore.compact(s, idxDir, maxDeltaFiles = 2,
      retainVersions = 1, epoch = ep)
    val admitted = graft.ml.IndexStore.read(s, idxDir)
    val split = Similarity.ivfPqSplit(admitted, emb, c, subs,
      newCell = cents.size)
    val tombs = emb.filter(pmod(col("id"), lit(DeleteMod)) === lit(3))
      .select("id")
    val live = Similarity.ivfPqDelete(split, tombs)
    // physical compaction of the post-delete index: the serving table
    // is read back from storage — candidates can only come from here,
    // so a tombstone can never resurface at serve time
    val servedDir = s"$base/compacted"
    live.write.mode("overwrite").parquet(servedDir)
    val queries = emb.filter(col("id") < 4 ||
      (col("id") >= AdmitBoundary && col("id") < AdmitBoundary + 2))
    Similarity.ivfPqRerankSearchIndex(queries, s.read.parquet(servedDir),
        emb, TopK, RerankN, books, newCents, NProbe)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  private val trainedResPq =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Double]]]]
  /** e19's residual codebooks: trained on `vec − centroid(cell)` with
   * the full-corpus trained coarse centroids; memoized per dir like
   * every trained constant. */
  private def trainedResidualBooks(s: SparkSession, dir: String): Seq[Seq[Seq[Double]]] =
    trainedResPq.getOrElseUpdate(dir,
      Similarity.trainResidualBooks(embFrame(s, dir), PqM, PqSubDim, PqCodes,
        trainedCents(s, dir), iters = 2, sampleMod = 4))

  /** E19: RESIDUAL IVF-PQ search — the FAISS-fidelity composition
   * ([[Similarity.ivfPqResidualIndex]]): both stages trained (spherical
   * k-means coarse cells, Lloyd codebooks over the RESIDUALS), codes
   * quantize `vec − centroid(cell)` so the byte budget spends itself on
   * within-cell detail, and search scores the MIPS decomposition
   * `dot(q,c) + dot(q,r̂)` — the coarse term exact per probed cell, one
   * raw-query ADC table shared across probes. HASH-EXACT end to end
   * like e7b: training is
   * DECIMAL-deterministic and the float→double residual widening is
   * exact, so the oracle rebuilds the identical residuals, codes and
   * scores from the rendered literals. */
  def residualTopK(s: SparkSession, dir: String): DataFrame = {
    val cents = trainedCents(s, dir)
    val books = trainedResidualBooks(s, dir)
    val emb = embFrame(s, dir)
    Similarity.ivfPqResidualTopK(emb.filter(col("id") < 5), emb,
        TopK, books, cents, NProbe)
      .select("query_id", "rank", "neighbor_id", "adc")
      .orderBy("query_id", "rank")
  }

  private val trainedResPqBase =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Double]]]]
  /** e23's residual codebooks, frozen like every lifecycle constant:
   * trained on the EXISTING slice's residuals against the base-trained
   * coarse centroids. */
  private def trainedResidualBooksBase(s: SparkSession, dir: String): Seq[Seq[Seq[Double]]] =
    trainedResPqBase.getOrElseUpdate(dir,
      Similarity.trainResidualBooks(embExisting(s, dir), PqM, PqSubDim, PqCodes,
        trainedCentsBase(s, dir), iters = 2, sampleMod = 4))

  /** E23: the lifecycle journey for the RESIDUAL index family — e21's
   * composition where the codes carry meaning only BESIDE their
   * centroid (`vec − ct[cell]`), which is exactly what makes the
   * residual lifecycle the harder one: admission re-residualizes
   * against the frozen table ([[Similarity.ivfPqResidualIndex]], the
   * row-local argument carries over), but the SPLIT must RE-ENCODE
   * every moved member against its new sub-centroid in the same
   * O(|cell|) pass ([[Similarity.ivfPqResidualSplit]]) — stale codes
   * beside a new centroid would silently corrupt every score in the
   * split cells. Build → admit → surgical residual split → tombstone
   * delete → serve via the MIPS decomposition over the POST-SPLIT
   * centroid table. The oracle rebuilds the surviving corpus's
   * residual index with the surgical cell assignment and residuals
   * against the post-split table, so the hash gate pins both the
   * composition AND the re-encode-on-move contract (an oracle built
   * from stale codes would mismatch every moved row). Batch admission
   * here (e21 already gates the streamed/compacted storage path —
   * this gate isolates the residual-specific semantics). */
  def residualLifecycle(s: SparkSession, dir: String): DataFrame = {
    val books = trainedResidualBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val (c, subs, newCents) = e21SplitState(s, dir)
    val emb = embFrame(s, dir)
    CacheScope.materialized { implicit scope =>
      val index0 = scope.persist(Similarity.ivfPqResidualIndex(
        emb.filter(col("id") < AdmitBoundary), books, cents)).toDF()
      val merged = index0.unionByName(Similarity.ivfPqResidualIndex(
        emb.filter(col("id") >= AdmitBoundary), books, cents))
      val split = Similarity.ivfPqResidualSplit(merged, emb, c, subs,
        newCell = cents.size, books = books)
      val tombs = emb.filter(pmod(col("id"), lit(DeleteMod)) === lit(3))
        .select("id")
      val live = Similarity.ivfPqDelete(split, tombs)
      val queries = emb.filter(col("id") < 4 ||
        (col("id") >= AdmitBoundary && col("id") < AdmitBoundary + 2))
      Similarity.ivfPqResidualSearchIndex(queries, live, TopK, books,
        newCents, NProbe)
        .select("query_id", "rank", "neighbor_id", "adc")
    }.orderBy("query_id", "rank")
  }

  /** E24: the residual family through the STREAMED STORAGE path —
   * e21's IndexStore plumbing (versioned base, sink-log delta,
   * threshold-tripped fold) carrying e23's residual semantics, which
   * is the composition neither gate covers alone: e21 streams RAW
   * codes (storage-agnostic payload), e23 admits residual codes but
   * in one batch union. Here the residual rows — codes meaningful
   * only BESIDE their centroid — are what streams through the sink
   * log, survives a delta fold, re-encodes through the surgical split
   * and serves from the physically compacted table. Same frozen
   * constants and same rebuilt-form oracle as e23: the storage moves
   * (streamed admission, fold, compaction) must not move the answer
   * by a row, and the split-after-fold leg pins that re-encode-on-move
   * survives a fold in between. */
  def residualStreamLifecycle(s: SparkSession, dir: String): DataFrame = {
    val books = trainedResidualBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val (c, subs, newCents) = e21SplitState(s, dir)
    val emb = embFrame(s, dir)
    val base = s"target/tmp/e24_${new java.io.File(dir).getName}"
    val stream = stageWaveStream(s, base,
      emb.filter(col("id") >= AdmitBoundary))
    val idxDir = s"$base/index"
    val ep = graft.ml.IndexStore.acquireWriter(idxDir)
    graft.ml.IndexStore.writeBase(
      Similarity.ivfPqResidualIndex(
        emb.filter(col("id") < AdmitBoundary), books, cents),
      idxDir, ep)
    admitStream(Similarity.ivfPqResidualIndex(stream, books, cents), idxDir,
      s"$base/ckpt", ep)
    graft.ml.IndexStore.compact(s, idxDir, maxDeltaFiles = 2,
      retainVersions = 1, epoch = ep)
    val admitted = graft.ml.IndexStore.read(s, idxDir)
    val split = Similarity.ivfPqResidualSplit(admitted, emb, c, subs,
      newCell = cents.size, books = books)
    val tombs = emb.filter(pmod(col("id"), lit(DeleteMod)) === lit(3))
      .select("id")
    val live = Similarity.ivfPqDelete(split, tombs)
    val servedDir = s"$base/compacted"
    live.write.mode("overwrite").parquet(servedDir)
    val queries = emb.filter(col("id") < 4 ||
      (col("id") >= AdmitBoundary && col("id") < AdmitBoundary + 2))
    Similarity.ivfPqResidualSearchIndex(queries, s.read.parquet(servedDir),
        TopK, books, newCents, NProbe)
      .select("query_id", "rank", "neighbor_id", "adc")
      .orderBy("query_id", "rank")
  }

  // e20's candidate width: ADC retrieves 3k candidates, exact cosine
  // reranks them down to k
  private val RerankN = 3 * TopK

  /** E20: two-stage ADC retrieve + EXACT rerank
   * ([[Similarity.ivfPqRerankTopK]]) — the FAISS `refine` stage, the
   * standard production serving pipeline: stage 1 scans only the m
   * codes per vector (e7b's trained IVF-PQ) for 3k candidates, stage 2
   * fetches exact vectors for ONLY those candidates (queries×3k rows,
   * broadcast-sized) and re-ranks by true cosine. Recall's ceiling
   * moves from the code quality to stage-1 candidate recall. The
   * oracle nests the full e7b shape as the candidate subquery and
   * reranks with the same cosine the e1 gate pins, so the final
   * ordering is hash-exact. */
  def rerankTopK(s: SparkSession, dir: String): DataFrame = {
    val cents = trainedCents(s, dir)
    val books = trainedBooks(s, dir)
    val emb = embFrame(s, dir)
    Similarity.ivfPqRerankTopK(emb.filter(col("id") < 5), emb,
        TopK, RerankN, books, cents, NProbe)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** E22: IndexIVFPQR — the composition FAISS ships as its production
   * fidelity ladder's endpoint, built from the two halves e19 and e20
   * gate separately: stage 1 retrieves 3k candidates from the RESIDUAL
   * index via the MIPS decomposition (`dot(q,c) + dot(q,r̂)` — the
   * within-cell byte budget spent on detail), stage 2 fetches exact
   * vectors for ONLY those candidates and re-ranks by true cosine.
   * Residual codes lift CANDIDATE recall where the coarse quantizer
   * explains variance (`bench/residual_recall_r10.json`); the refine
   * stage converts that candidate recall into final-ranking recall —
   * which is why the two compose rather than compete. Hash-exact like
   * both parents: the oracle nests the full e19 shape (widened to 3k)
   * under the e20 rerank wrapper. */
  def residualRerankTopK(s: SparkSession, dir: String): DataFrame = {
    val cents = trainedCents(s, dir)
    val books = trainedResidualBooks(s, dir)
    val emb = embFrame(s, dir)
    Similarity.ivfPqResidualRerankTopK(emb.filter(col("id") < 5), emb,
        TopK, RerankN, books, cents, NProbe)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** E18's split state, memoized per dir (training + the occupancy scan
   * run once; the query fn and the dynamic oracle read the SAME
   * constants). Deterministic end-to-end: occupancy counts are exact,
   * the fullest cell ties to the smaller id, and the 2-means sub-split
   * is [[Similarity.trainIvfCentroids]]'s DECIMAL-exact Lloyd
   * restricted to the cell's members. */
  private val splitMemo = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[Seq[Double]], Int, Seq[Seq[Double]], Seq[Seq[Double]])]
  private def splitState(s: SparkSession, dir: String):
      (Seq[Seq[Double]], Int, Seq[Seq[Double]], Seq[Seq[Double]]) =
    splitMemo.getOrElseUpdate(dir, {
      val oldCents = trainedCents(s, dir)
      val emb = embFrame(s, dir)
      val counts = emb
        .select(Similarity.ivfAssignD(col("vec"), oldCents).as("cell"))
        .groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      // fullest cell, ties to the smaller id — the probe-cost hot spot
      val c = (0 until oldCents.size)
        .maxBy(j => (counts.getOrElse(j, 0L), -j.toLong))
      val subs = Similarity.trainIvfCentroids(
        emb.filter(Similarity.ivfAssignD(col("vec"), oldCents) === c),
        nCells = 2, dim = Dim, iters = 3)
      val newCents = oldCents.updated(c, subs(0)) :+ subs(1)
      (oldCents, c, subs, newCents)
    })

  /** E18: IVF cell SPLIT — incremental rebalance of an overflowing
   * cell, the maintenance verb continual admission (e14/e16) makes
   * necessary: probe cost is Σ|probed cells|, so the fullest cell
   * bounds search I/O, and production indexes split it rather than
   * retrain the world (FAISS rebalancing / segment-split semantics).
   * The split is SURGICAL and O(|cell|): a 2-means trains on only the
   * cell's members, only those members fetch their vectors and choose
   * between the two sub-centroids (ties to the first — the same
   * smaller-id rule as the quantizer), every other entry is untouched,
   * and PQ codes never change (codebooks encode raw vectors, not
   * residuals). Queries probe the post-split centroid table. The
   * deliberate production trade pinned by the oracle: non-members do
   * NOT re-rank against the new sub-centroids (no global reshuffle) —
   * the oracle computes exactly this surgical assignment, so the hash
   * gate proves the split moved precisely the split cell's members and
   * nothing else. */
  def cellSplit(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooks(s, dir)
    val (oldCents, c, subs, newCents) = splitState(s, dir)
    val emb = embFrame(s, dir)
    CacheScope.materialized { implicit scope =>
      val index = scope.persist(
        Similarity.ivfPqIndex(emb, books, oldCents)).toDF()
      val updated = Similarity.ivfPqSplit(index, emb, c, subs,
        newCell = oldCents.size)
      val queries = emb.filter(col("id") < 5)
      Similarity.ivfPqSearchIndex(queries, updated, TopK, books,
        newCents, NProbe)
        .select("query_id", "rank", "neighbor_id", "adc")
    }.orderBy("query_id", "rank")
  }

  private val mergeMemo = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[Seq[Double]], Int, Int, Seq[Seq[Double]])]
  /** e26's merge state: the two LEAST-occupied cells of the trained
   * table over the corpus (ties to the smaller id), their
   * occupancy-weighted merged centroid in the smaller slot, the larger
   * slot removed and every higher cell shifted down — memoized per dir
   * like every trained constant. */
  private def mergeState(s: SparkSession, dir: String):
      (Seq[Seq[Double]], Int, Int, Seq[Seq[Double]]) =
    mergeMemo.getOrElseUpdate(dir, {
      val oldCents = trainedCents(s, dir)
      val emb = embFrame(s, dir)
      val counts = emb
        .select(Similarity.ivfAssignD(col("vec"), oldCents).as("cell"))
        .groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val Seq(cA, cB) = (0 until oldCents.size)
        .sortBy(j => (counts.getOrElse(j, 0L), j.toLong)).take(2).sorted
      val (nA, nB) = (counts.getOrElse(cA, 0L), counts.getOrElse(cB, 0L))
      val merged =
        if (nA + nB == 0L)
          oldCents(cA).zip(oldCents(cB)).map { case (x, y) => (x + y) / 2.0 }
        else oldCents(cA).zip(oldCents(cB)).map { case (x, y) =>
          (nA * x + nB * y) / (nA + nB).toDouble
        }
      val newCents = oldCents.updated(cA, merged)
        .patch(cB, Nil, 1)
      (oldCents, cA, cB, newCents)
    })

  /** E26: IVF cell MERGE — the inverse maintenance verb of e18's
   * split, and the remedy for the drift the lifecycle recall
   * deletion leg measured (bench/lifecycle_recall_r13.json): takedowns hollow
   * cells out, and a near-empty cell still costs a probe slot. The
   * two least-occupied cells merge surgically
   * ([[Similarity.ivfPqMerge]]): members relabel, higher cells shift
   * down one slot, PQ codes never change (raw codebooks — no vector
   * fetch at all, a pure narrow map), and queries probe the
   * post-merge table whose surviving slot holds the
   * occupancy-weighted merged centroid. The oracle computes exactly
   * this surgical relabeling over the old table — merged members do
   * NOT re-rank against other centroids, and the hash pins that the
   * merge moved precisely the two cells' labels and nothing else. */
  def cellMerge(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooks(s, dir)
    val (oldCents, cA, cB, newCents) = mergeState(s, dir)
    val emb = embFrame(s, dir)
    CacheScope.materialized { implicit scope =>
      val index = scope.persist(
        Similarity.ivfPqIndex(emb, books, oldCents)).toDF()
      val updated = Similarity.ivfPqMerge(index, cA, cB)
      val queries = emb.filter(col("id") < 5)
      Similarity.ivfPqSearchIndex(queries, updated, TopK, books,
        newCents, NProbe)
        .select("query_id", "rank", "neighbor_id", "adc")
    }.orderBy("query_id", "rank")
  }

  /** E27: cell merge under the RESIDUAL family — where
   * re-encode-on-move cuts BOTH ways ([[Similarity.ivfPqResidualMerge]]):
   * the surviving slot holds the merged centroid, so `cellA`'s unmoved
   * members are just as stale as `cellB`'s relabeled ones — every
   * member of either cell re-encodes against the merged centroid in
   * one O(|A|+|B|) pass, untouched cells shift labels with codes
   * intact. The oracle computes residuals against the post-merge table
   * for the surgically-mapped cells, so an implementation that forgot
   * to re-encode `cellA`'s own members (the easy half to miss — they
   * "didn't move") would mismatch every one of their scores. */
  def residualCellMerge(s: SparkSession, dir: String): DataFrame = {
    val books = trainedResidualBooks(s, dir)
    val (oldCents, cA, cB, newCents) = mergeState(s, dir)
    val emb = embFrame(s, dir)
    CacheScope.materialized { implicit scope =>
      val index = scope.persist(
        Similarity.ivfPqResidualIndex(emb, books, oldCents)).toDF()
      val updated = Similarity.ivfPqResidualMerge(index, emb, cA, cB,
        newCents(cA), books)
      val queries = emb.filter(col("id") < 5)
      Similarity.ivfPqResidualSearchIndex(queries, updated, TopK, books,
        newCents, NProbe)
        .select("query_id", "rank", "neighbor_id", "adc")
    }.orderBy("query_id", "rank")
  }

  /** E17: index DELETION — serve after tombstoning. A production index
   * outlives its corpus membership: takedowns and dedup verdicts
   * (d12's world) remove documents, and search must stop returning
   * them WITHOUT a rebuild. The tombstone set here is a deterministic
   * slice (`id % 7 = 3` — the SQL-expressible stand-in for a takedown
   * list); [[Similarity.ivfPqDelete]] anti-joins it against the
   * prebuilt `(id, cell, codes)` table and serving proceeds over the
   * survivors. The oracle is the REBUILT index over only the surviving
   * corpus with the same frozen trained literals, so the hash gate
   * proves logical deletion ≡ rebuild-without-deleted — no ghost
   * neighbors, no collateral loss. Compaction (the physical form of
   * the same filter) is pinned equivalent in `IndexLifecycleSpec`. */
  def indexDelete(s: SparkSession, dir: String): DataFrame = {
    val books = trainedBooksBase(s, dir)
    val cents = trainedCentsBase(s, dir)
    val emb = embFrame(s, dir)
    CacheScope.materialized { implicit scope =>
      // the index is a materialized table (read back from storage in
      // production); deletion must not re-derive any entry from vectors
      val index = scope.persist(
        Similarity.ivfPqIndex(emb, books, cents)).toDF()
      val tombs = emb.filter(pmod(col("id"), lit(DeleteMod)) === lit(3))
        .select("id")
      val live = Similarity.ivfPqDelete(index, tombs)
      val queries = emb.filter(col("id") < 5)
      Similarity.ivfPqSearchIndex(queries, live, TopK, books, cents, NProbe)
        .select("query_id", "rank", "neighbor_id", "adc")
    }.orderBy("query_id", "rank")
  }

  /** X21: SPLIT-LEAKAGE AUDIT — assign every document to train/val by
   * hash (reproducible, like x9), then find near-duplicate pairs that
   * CROSS the boundary: the eval-integrity check a pipeline runs before
   * shipping a held-out set (a val doc with a train near-copy measures
   * memorization, not generalization). Candidates come from the same
   * banded LSH join as d2 — filtered to cross-split pairs — and verify
   * by exact Jaccard like d4; the corpus never pairs within a split. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents")
    CacheScope.materialized { implicit scope =>
      val isVal = TextAnalysis.hashSampleKeep(col("text"), 0.2)
      val tagged = docs.select(col("doc_id"), col("text"), isVal.as("in_val"))
      val cands = Dedup.minhashCandidates(docs, "doc_id", "text",
        k = 3, numPerms = NumPerms, bands = Bands).select("ida", "idb")
      // the flag frame is corpus-sized (one bit per doc) — never
      // broadcast it; the candidate side is the small one, and these
      // equi-joins shuffle on the ids at scale
      val va = tagged.select(col("doc_id").as("ida"), col("in_val").as("va"))
      val vb = tagged.select(col("doc_id").as("idb"), col("in_val").as("vb"))
      val cross = cands.join(va, "ida").join(vb, "idb")
        .filter(col("va") =!= col("vb")).select("ida", "idb")
      Dedup.jaccardVerify(cross, docs, "doc_id", "text", k = 3)
        .filter(col("jaccard") >= 0.5)
        .join(va, "ida")
        .select(
          when(col("va"), col("idb")).otherwise(col("ida")).as("train_id"),
          when(col("va"), col("ida")).otherwise(col("idb")).as("val_id"),
          col("jaccard"))
    }.orderBy("train_id", "val_id")
  }

  /** X24: split-leakage REPAIR — x21 detects train/val contamination;
   * this closes the loop with the deterministic fix an eval pipeline
   * actually applies: every val doc with ANY cross-split near-dup
   * moves to train (val must be contamination-free; the moved doc
   * stays usable for training — dropping it would waste data for no
   * extra hygiene). One row per doc with the before/after assignment
   * and the moved flag, so downstream mixes re-derive from the
   * repaired split and audits can count the migration. Same candidate
   * machinery as x21 (banded LSH, cross-split restriction, exact
   * Jaccard verify); the repair itself is one distinct + left join —
   * at 100 TB the leak set is pair-verified-small and the join is
   * threshold-decided like d13's. */
  def splitLeakageRepair(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents")
    CacheScope.materialized { implicit scope =>
      val isVal = TextAnalysis.hashSampleKeep(col("text"), 0.2)
      val tagged = docs.select(col("doc_id"), isVal.as("in_val"))
      val cands = Dedup.minhashCandidates(docs, "doc_id", "text",
        k = 3, numPerms = NumPerms, bands = Bands).select("ida", "idb")
      val va = tagged.select(col("doc_id").as("ida"), col("in_val").as("va"))
      val vb = tagged.select(col("doc_id").as("idb"), col("in_val").as("vb"))
      val cross = cands.join(va, "ida").join(vb, "idb")
        .filter(col("va") =!= col("vb")).select("ida", "idb")
      val leakedVal = Dedup.jaccardVerify(cross, docs, "doc_id", "text", k = 3)
        .filter(col("jaccard") >= 0.5)
        .join(va, "ida")
        .select(when(col("va"), col("ida")).otherwise(col("idb")).as("doc_id"))
        .distinct().withColumn("_leak", lit(true))
      tagged.join(leakedVal, Seq("doc_id"), "left")
        .select(col("doc_id"), col("in_val").as("in_val_before"),
          (col("in_val") && !coalesce(col("_leak"), lit(false)))
            .as("in_val_after"),
          (col("in_val") && coalesce(col("_leak"), lit(false))).as("moved"))
    }.orderBy("doc_id")
  }

  private val MmrK = 5
  private val MmrLambda = 0.7

  /** E10: MMR-diversified top-k — retrieve top-10 by cosine, greedily
   * rerank to 5 picks by maximal marginal relevance (λ = 0.7). The
   * oracle unrolls the same greedy into k generated SQL layers, scoring
   * with the identical double constants the Spark plan folds in. */
  def mmrDiversifyQ(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      val emb = embFrame(s, dir)
      Similarity.mmrRerank(emb.filter(col("id") < 5), emb,
        n = TopK, k = MmrK, lambda = MmrLambda)
    }.orderBy("query_id", "step")

  /** D10: semantic dedup (SemDeDup) — coarse-cluster by IVF cell, drop
   * within-cell vectors with a smaller-id neighbor at cosine ≥ τ, keep
   * the survivors. τ sits at this synthetic corpus's similarity tail
   * (max pairwise cosine ≈ 0.51 — no planted semantic dups), so the
   * operator exercises real drops; a production corpus sets τ ≈ 0.95+
   * and trained centroids ([[Similarity.trainIvfCentroids]]). */
  def semDedupQ(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(embFrame(s, dir), Cents, SemDedupTau)
      .orderBy("id")

  /** D10b: SemDeDup at the PRODUCTION dial — trained centroids with
   * nCells ∝ √n ([[trainedCentsScaled]]), the paper's own setup, so the
   * Σ|cell|² pair frame of the within-cell self-join stays linear-ish
   * as the corpus grows (the same e9→e9c convergence: gate fixture =
   * production configuration). Dynamic oracle like e9c. */
  def semDedupScaledQ(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedupD(embFrame(s, dir), trainedCentsScaled(s, dir),
        SemDedupTau)
      .orderBy("id")

  private val SemDedupTau = 0.40

  /** E4: embedding-cosine near-dup — top pairs among LSH cohabitants. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.nearDupPairs(emb, NPlanes, topPairs = 20)
      .orderBy(col("sim").desc, col("ida"), col("idb"))
  }

  /** X1: language ID (marker-profile heuristic). Tokens alias-bound so
   * the tokenizer runs once, not once per language profile. */
  def langId(s: SparkSession, dir: String): DataFrame =
    Tpar(s, dir, "documents")
      .select(col("doc_id"), Dedup.tokens(lower(col("text"))).as("_t"))
      .select(col("doc_id"), TextAnalysis.langIdFromTokens(col("_t")).as("lang_guess"))
      .groupBy("lang_guess").agg(count(lit(1)).as("n"))
      .orderBy("lang_guess")

  /** X5: within-doc repetition ratio — boilerplate detection. */
  def repetition(s: SparkSession, dir: String): DataFrame =
    Tpar(s, dir, "documents")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("_t"))
      .select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("_t"), 3).as("rep_ratio"))
      .orderBy("doc_id")

  /** X2: quality features + composite score per document. */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val f = TextAnalysis.qualityFeatures(col("text"))
    Tpar(s, dir, "documents").select(col("doc_id"),
      f.getField("n_words").as("n_words"),
      f.getField("mean_word_len").as("mean_word_len"),
      f.getField("punct_ratio").as("punct_ratio"),
      f.getField("stopword_ratio").as("stopword_ratio"),
      f.getField("distinct_ratio").as("distinct_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  /** X15: classifier-head quality FILTER — the logreg/fasttext stage of
   * a CCNet/GPT-3-style pipeline: linear head over the x2 features,
   * rational fast-sigmoid probability, keep = logit ≥ 0. Features
   * compute once behind an alias; the head is a handful of codegen'd
   * multiply-adds per doc. */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    Tpar(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.qualityFeatures(col("text")).as("_f"))
      .select(col("doc_id"), TextAnalysis.classifierLogit(col("_f")).as("logit"))
      .select(col("doc_id"), col("logit"),
        TextAnalysis.fastSigmoid(col("logit")).as("prob"),
        (col("logit") >= 0.0).as("keep"))
      .orderBy("doc_id")

  /** X16: LM-likelihood scoring (the perplexity-filter stage) — mean
   * Laplace-smoothed char-bigram probability per document under a model
   * trained on the corpus (a production run trains on a trusted
   * reference corpus — same scoring join, different training frame).
   * The model is a counts DATAFRAME joined into the scoring pass, never
   * a driver-collected map: bounded by charset², which is plan-literal
   * safe only for ASCII — a CJK corpus makes it 10⁷⁺ entries. The
   * vocab-sized counts frame is scope-cached so training runs once, not
   * once per downstream join. */
  def bigramLmQ(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { scope =>
      val docs = Tpar(s, dir, "documents").filter(length(col("text")) >= 2)
      val mb = scope.persist(TextAnalysis.bigramCounts(docs, "text"))
      TextAnalysis.bigramLmScore(docs, "doc_id", "text", mb)
    }.orderBy("doc_id")

  // x22's filter threshold on the mean Laplace bigram probability —
  // sits at the corpus's score median so the verdict discriminates
  private val X22Threshold = 0.24

  /** X22: REFERENCE-trained perplexity filter — the CCNet/Gopher
   * quality-filter shape that x16's scaladoc promises: the bigram LM
   * trains on a TRUSTED REFERENCE SPLIT (here the x9-style
   * deterministic hash split at 30% stands in for "Wikipedia"), then
   * scores only the REMAINING corpus, and documents below the
   * threshold drop. Same scoring join as x16 — different training
   * frame — plus the keep verdict; train/score separation is the
   * point: a model trained on the whole corpus scores its own noise as
   * normal, a reference-trained one measures distance FROM the
   * reference. At 100 TB the reference counts frame is charset²-
   * bounded and the scoring pass is x16's one-scan join. */
  def referenceLmFilter(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { scope =>
      val docs = Tpar(s, dir, "documents").filter(length(col("text")) >= 2)
      val isRef = TextAnalysis.hashSampleKeep(col("text"), 0.3)
      val mb = scope.persist(
        TextAnalysis.bigramCounts(docs.filter(isRef), "text"))
      TextAnalysis.bigramLmScore(docs.filter(!isRef), "doc_id", "text", mb)
        .select(col("doc_id"), col("lm_score"),
          (col("lm_score") >= X22Threshold).as("keep"))
    }.orderBy("doc_id")

  /** X19: the Gopher heuristic rule battery — per-rule measurements +
   * the combined keep verdict per document. minStopWords tunes to 1
   * here: the synthetic corpus carries almost no English function
   * words, and at the paper's 2 the verdict would be vacuously false
   * corpus-wide (the oracle checks the verdict either way; 1 makes it
   * discriminate ~50/50 on this data). */
  def gopherRulesQ(s: SparkSession, dir: String): DataFrame =
    Tpar(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.gopherRules(col("text"), minStopWords = 1).as("_g"))
      .select(col("doc_id"),
        col("_g.n_words").as("n_words"),
        col("_g.mean_word_len").as("mean_word_len"),
        col("_g.symbol_ratio").as("symbol_ratio"),
        col("_g.bullet_ratio").as("bullet_ratio"),
        col("_g.ellipsis_ratio").as("ellipsis_ratio"),
        col("_g.alpha_word_ratio").as("alpha_word_ratio"),
        col("_g.n_stopwords").as("n_stopwords"),
        col("_g.keep").as("keep"))
      .orderBy("doc_id")

  /** X3: token counts — whitespace and BPE-ish subword units. */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tpar(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).as("n_ws_tokens"),
      TextAnalysis.tokenCountBpe(col("text")).as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** X4: rolling-hash document fingerprints. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tpar(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** X6: winnowing fingerprints — per-doc count/min/sum of the
   * window-minima fingerprint set (scalar projections; the set itself
   * is an array, which the oracle harness can't sort on). */
  def winnowingFp(s: SparkSession, dir: String): DataFrame =
    Tpar(s, dir, "documents")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("_t"))
      .select(col("doc_id"), Dedup.tokenHashes31(col("_t")).as("_th"))
      .select(col("doc_id"), Dedup.shingleHashSeq(col("_th"), 3).as("_g"))
      .select(col("doc_id"), Dedup.winnowing(col("_g"), 4).as("_fp"))
      .select(col("doc_id"),
        size(col("_fp")).as("n_fp"),
        array_min(col("_fp")).as("fp_min"),
        aggregate(col("_fp"), lit(0L), (a, x) => a + x).as("fp_sum"))
      .orderBy("doc_id")

  /** M1: multimodal plumbing — pack docs as binary media, extract
   * features via the partition-batched (stub) decoder. */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    // REAL codec path end-to-end: synthesize genuine PNG bytes into the
    // binary column, then decode them with javax.imageio in the
    // partition-batched seam. Every output column below comes from the
    // DECODER's raster reads, not the synthesis metadata — the oracle
    // checks the decode because PNG is lossless and the pixel algebra
    // has a closed form over length(text).
    val packed = Multimodal.packAsPng(Tpar(s, dir, "documents"), "doc_id", "text")
    Multimodal.extractImageFeatures(packed)
      .select(col("media_id"),
        col("features.width").as("width"),
        col("features.height").as("height"),
        col("features.n_pixels").as("n_pixels"),
        col("features.pixel_sum").as("pixel_sum"),
        col("features.mean_luma").as("mean_luma"))
      .orderBy("media_id")
  }

  /** M3: REAL audio decode end-to-end — synthesize RIFF/WAVE PCM16
   * payloads into the binary column, decode them with
   * `javax.sound.sampled` in the partition-batched seam. Every output
   * column comes from the DECODER's frame reads (format, rate and
   * endianness included); the oracle rebuilds the waveform from
   * `length(text)` because PCM is lossless. */
  def audioStats(s: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.packAsWav(Tpar(s, dir, "documents"), "doc_id", "text")
    Multimodal.extractAudioFeatures(packed)
      .select(col("media_id"),
        col("features.sample_rate").as("sample_rate"),
        col("features.n_samples").as("n_samples"),
        col("features.duration_ms").as("duration_ms"),
        col("features.peak_abs").as("peak_abs"),
        col("features.amp_sum").as("amp_sum"),
        col("features.rms").as("rms"))
      .orderBy("media_id")
  }

  /** M16: QUARANTINED media decode — the corrupt-record error channel
   * (s9 CSV, k11 DLQ) at the media decode seam: the fixture corrupts
   * every 7th clip's payload by cutting the data section in half
   * (header intact, declared length now a lie — the interrupted-upload
   * shape) and every remaining 11th clip's container magic, then
   * [[Multimodal.extractAudioFeaturesQuarantined]] turns each failure
   * into a typed verdict row while the healthy clips decode to their
   * full m3 stats in the same pass. The corruption is applied with
   * PLAIN column functions over the binary payload (substring/concat —
   * binary ops are columns too), and the oracle replays verdicts and
   * stats in closed form from the planted ids and the synthesis
   * arithmetic. One pass, no job failure, nothing silently dropped —
   * the contract a 100 TB media ingest actually needs. */
  def quarantinedAudioStats(s: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.packAsWav(Tpar(s, dir, "documents"), "doc_id", "text")
    val corrupted = packed.withColumn("payload",
      when(col("media_id") % 7 === 0,
        expr("substring(payload, 1, 44 + cast(floor((length(payload) - 44) / 2) as int))"))
        .when(col("media_id") % 11 === 0,
          concat(lit("X".getBytes("US-ASCII")),
            expr("substring(payload, 2, length(payload) - 1)")))
        .otherwise(col("payload")))
    Multimodal.extractAudioFeaturesQuarantined(corrupted)
      .orderBy("media_id")
  }

  /** M20: quarantine PARITY across the image and video decoders — m16
   * covers audio only; this gate plants the same two corruption shapes
   * into the PNG and Y4M corpora and runs both through quarantined
   * decoders that classify through ONE shared seam
   * ([[Multimodal.extractImageFeaturesQuarantined]] /
   * [[Multimodal.extractVideoFeaturesQuarantined]] — the
   * `classifyDecode` + [[graft.multimodal.TruncatedMediaException]]
   * machinery): every 7th payload's data section is CUT (PNG: halved,
   * losing the IEND tail under an intact signature; Y4M: final byte
   * dropped, so the last frame's planes end early — a half cut could
   * land exactly on a frame boundary and parse as a valid shorter
   * stream, which would be a silently-wrong fixture, not a truncation)
   * and every remaining 11th payload's container magic is broken →
   * `unreadable_container`. Healthy rows carry the m1/m5 closed-form
   * stats; one `checksum` column (pixel_sum / y_sum) keeps the two
   * modalities union-compatible. One pass per modality, no job
   * failure, nothing silently dropped. */
  def quarantinedMediaParity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents")
    def corrupt(df: DataFrame, cutExpr: String): DataFrame =
      df.withColumn("payload",
        when(col("media_id") % 7 === 0, expr(cutExpr))
          .when(col("media_id") % 11 === 0,
            concat(lit("X".getBytes("US-ASCII")),
              expr("substring(payload, 2, length(payload) - 1)")))
          .otherwise(col("payload")))
    val img = Multimodal.extractImageFeaturesQuarantined(
      corrupt(Multimodal.packAsPng(docs, "doc_id", "text"),
        "substring(payload, 1, cast(ceil(length(payload) / 2.0) as int))"))
      .select(lit("image").as("modality"), col("media_id"), col("ok"),
        col("err_kind"), col("width"), col("height"),
        col("pixel_sum").as("checksum"))
    val vid = Multimodal.extractVideoFeaturesQuarantined(
      corrupt(Multimodal.packAsY4m(docs, "doc_id", "text"),
        "substring(payload, 1, length(payload) - 1)"))
      .select(lit("video").as("modality"), col("media_id"), col("ok"),
        col("err_kind"), col("width"), col("height"),
        col("y_sum").as("checksum"))
    img.unionByName(vid).orderBy("modality", "media_id")
  }

  /** M4: REAL image resize end-to-end — PNG decode → nearest-neighbor
   * half-size → PNG re-encode → decode again for stats. Every number
   * comes from the second DECODE of the re-encoded bytes; the sampled
   * raster (out(x,y) = in(2x, 2y) over the a+x+y synthesis) keeps a
   * closed form the oracle checks exactly. */
  def imageResize(s: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.packAsPng(Tpar(s, dir, "documents"), "doc_id", "text")
    Multimodal.extractImageFeatures(Multimodal.resizePng(packed, factor = 2))
      .select(col("media_id"),
        col("features.width").as("width"),
        col("features.height").as("height"),
        col("features.pixel_sum").as("pixel_sum"))
      .orderBy("media_id")
  }

  /** M6: IMAGE perceptual-hash dedup — multimodal near-dup detection
   * composed from the REAL decode path: PNG payloads decode in the
   * partition-batched seam, average-hash (8×8 nearest sample,
   * threshold against the sampled mean, [[Multimodal.imagePHash]]),
   * then the d1-style verdict over the HASH instead of the bytes:
   * images sharing an aHash group together regardless of global
   * brightness (the mean threshold cancels the offset — exactly the
   * re-brightened copies byte-level dedup can never see; the synthetic
   * corpus plants them, since `a = len % 200` varies while the
   * gradient structure repeats per (w,h)). At 100 TB the decode+hash
   * is one narrow corpus pass and the verdict shuffles 8-byte hashes,
   * never pixels — the image analog of d1's digest contract. */
  def imagePHashDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = Multimodal.packAsPng(Tpar(s, dir, "documents"), "doc_id", "text")
    Multimodal.imagePHash(packed)
      .withColumn("n_same",
        count(lit(1)).over(Window.partitionBy("hash_hi", "hash_lo")))
      .select(col("media_id"), col("hash_hi"), col("hash_lo"),
        col("n_same"))
      .orderBy("media_id")
  }

  /** M7: image NEAR-duplicate pairs — banded Hamming over the
   * perceptual hash ([[Multimodal.phashNearDupPairs]]), closing the gap
   * m6 leaves: m6 groups on EXACT aHash equality, but a real re-encode
   * or noise pass flips a few bits, so production image dedup
   * thresholds Hamming distance. The fixture plants exactly that:
   * every 17th document's textured image re-renders under a shifted id
   * (+10⁶, same texture seed) with three sampled pixels bumped — a
   * deterministic stand-in for a noisy re-encode whose hash lands a
   * few bits from its original (the m6-style closed-form oracle
   * rebuilds both hashes, so even the planted distances are
   * hash-exact). Textured images (not m6's gradients) keep the banded
   * buckets diverse; the hot-bucket cap handles whatever degenerate
   * classes remain. The whole pipeline is the real decode path: PNG
   * encode → imageio decode → aHash → banded 16-byte-row join. */
  def imageNearDup(s: SparkSession, dir: String): DataFrame =
    imagePairFrame(s, dir).orderBy("ida", "idb")

  private val M7MaxHamming = 8
  private val M7MaxBucket = 64
  private val M7Bump = 60

  // ---- memoized fingerprint/pair frames (per dir) -------------------------
  //
  // The pairs gates (m7/m10/m12) and their cluster-verdict gates
  // (m13/m14/m15) share the identical decode → fingerprint → banded-join
  // work; recomputing it per gate re-decodes the whole media corpus and
  // re-runs the join. Same discipline as the trained-constant memos:
  // materialize ONCE per dir as a parquet artifact (what a production
  // pipeline persists anyway — fingerprints and verified pairs are its
  // reusable intermediates), read back everywhere. Lineage is CUT at
  // the artifact, so a verdict gate measures closure cost, not a second
  // decode; the same single-load-per-dir assumption as every memo here.

  private val mmMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def memoFrame(s: SparkSession, dir: String, key: String)
                       (build: String => Unit): DataFrame = {
    val path = mmMemo.getOrElseUpdate(s"$key|$dir", {
      // the artifact path carries a digest of the FULL dir, not just
      // its basename: the memo never rebuilds on a hit, so two fixture
      // dirs sharing a basename must never share an artifact (unlike
      // the per-gate target/tmp dirs, which rewrite every invocation
      // and self-heal). MD5 of the absolute path — a 32-bit hashCode
      // could collide across dirs and silently cross-contaminate.
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(new java.io.File(dir).getAbsolutePath.getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString
      val p = s"target/tmp/memo_${key}_${new java.io.File(dir).getName}_$tag"
      build(p)
      p
    })
    s.read.parquet(path)
  }

  /** m7/m13's hash frame: textured originals plus the planted
   * bit-bumped clones of every 17th doc. */
  private def imageHashFrame(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "m7fp") { p =>
      val docs = Tpar(s, dir, "documents").select("doc_id", "text")
      val orig = Multimodal.packAsPngTextured(docs, "doc_id", "text")
      val clones = Multimodal.packAsPngTextured(
        docs.filter(col("doc_id") % 17 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L),
        "doc_id", "text", bumpDelta = M7Bump)
      Multimodal.imagePHash(orig.unionByName(clones))
        .write.mode("overwrite").parquet(p)
    }

  private def imagePairFrame(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "m7pairs") { p =>
      CacheScope.withScope { implicit scope =>
        Multimodal.phashNearDupPairs(imageHashFrame(s, dir),
            maxHamming = M7MaxHamming, maxBucket = M7MaxBucket)
          .write.mode("overwrite").parquet(p)
      }
    }

  /** m10/m14's fingerprint frame: originals plus the planted
   * window-perturbed clones of every 13th doc. */
  private def audioFpFrame(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "m10fp") { p =>
      val docs = Tpar(s, dir, "documents").select("doc_id", "text")
      val orig = Multimodal.packAsWav(docs, "doc_id", "text")
      val clones = Multimodal.packAsWav(
        docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L),
        "doc_id", "text",
        perturbWindows = M10Windows, perturbDelta = M10Delta)
      Multimodal.audioFingerprint(orig.unionByName(clones))
        .write.mode("overwrite").parquet(p)
    }

  private def audioPairFrame(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "m10pairs") { p =>
      CacheScope.withScope { implicit scope =>
        Multimodal.audioNearDupPairs(audioFpFrame(s, dir),
            maxHamming = M10MaxHamming, maxBucket = M10MaxBucket)
          .write.mode("overwrite").parquet(p)
      }
    }

  /** m12/m15's fingerprint frame: originals plus the planted
   * re-levelled AND window-perturbed clones of every 19th doc. */
  private def videoFpFrame(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "m12fp") { p =>
      val docs = Tpar(s, dir, "documents").select("doc_id", "text")
      val orig = Multimodal.packAsY4m(docs, "doc_id", "text")
      val clones = Multimodal.packAsY4m(
        docs.filter(col("doc_id") % 19 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L),
        "doc_id", "text", brightnessShift = M12Shift,
        perturbWindows = M12Windows, perturbDelta = M12Delta)
      Multimodal.videoFingerprint(orig.unionByName(clones))
        .write.mode("overwrite").parquet(p)
    }

  private def videoPairFrame(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "m12pairs") { p =>
      CacheScope.withScope { implicit scope =>
        Multimodal.videoNearDupPairs(videoFpFrame(s, dir),
            maxHamming = M12MaxHamming, maxBucket = M12MaxBucket)
          .write.mode("overwrite").parquet(p)
      }
    }

  /** M23: the UNMEMOIZED decode → fingerprint → banded-join build —
   * m12's exact pipeline recomputed from payload bytes EVERY run. The
   * r13 memo made m7/m10/m12/m13–m15 read back prebuilt artifacts
   * (min-over-reps discards the one rep that pays the build), so a
   * perf regression in the decode/fingerprint/join path had become
   * invisible to the bench suite — this gate is the timed build the
   * memo family checks against, and its oracle is m12's verbatim. */
  def videoNearDupBuild(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val orig = Multimodal.packAsY4m(docs, "doc_id", "text")
    val clones = Multimodal.packAsY4m(
      docs.filter(col("doc_id") % 19 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L),
      "doc_id", "text", brightnessShift = M12Shift,
      perturbWindows = M12Windows, perturbDelta = M12Delta)
    CacheScope.materialized { implicit scope =>
      Multimodal.videoNearDupPairs(
        Multimodal.videoFingerprint(orig.unionByName(clones)),
        maxHamming = M12MaxHamming, maxBucket = M12MaxBucket)
    }.orderBy("ida", "idb")
  }

  /** M8: the DOCUMENT-level multimodal dedup verdict — the
   * LLM-pipeline reality m1–m7 build toward: a (text, image) document
   * pair carries TWO dedup verdicts that can disagree (same photo
   * re-captioned; same boilerplate caption on different photos), and
   * the keep decision must be made per DOCUMENT. Composes the
   * corpus-wide text verdict (d12's near-dedup labeling, shared via
   * the same memo x18 uses — computed once per session) with the image
   * verdict (m6's aHash groups, keep = smallest media_id of the hash
   * group) into one row per document: both modality flags plus the
   * conservative conjunction (`keep` = canonical representative on
   * BOTH sides — the policy that never ships a duplicate in either
   * modality; the flags stay exposed because other policies — drop
   * only the image, keep text-unique docs — are downstream choices).
   * The disagreement matrix is real on this corpus: text clusters form
   * on content, image groups on the (w,h) gradient classes, and the
   * gate's hash compare pins every cell of it. */
  def docMediaVerdict(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val text = nearDedupCorpus(s, dir)
      .select(col("doc_id"), col("kept").as("text_kept"))
    val docs = Tpar(s, dir, "documents")
    val img = Multimodal.imagePHash(
      Multimodal.packAsPng(docs, "doc_id", "text"))
    val w = Window.partitionBy("hash_hi", "hash_lo")
    val imgKept = img
      .withColumn("image_kept", col("media_id") === min("media_id").over(w))
      .select(col("media_id").as("doc_id"), col("image_kept"))
    text.join(imgKept, "doc_id")
      .select(col("doc_id"), col("text_kept"), col("image_kept"),
        (col("text_kept") && col("image_kept")).as("keep"))
      .orderBy("doc_id")
  }

  /** M8B: the TRI-modal document verdict — m8 widened to the full
   * (text, image, audio) document shape the trilogy builds toward:
   * three independent modality verdicts (d12's text near-dedup
   * closure, m6's aHash groups, m9's audio-fingerprint groups — keep =
   * smallest media_id of the group on each media side) composed into
   * one row per document with the conservative triple conjunction.
   * The disagreement matrix now has 8 cells; five are populated on
   * this corpus (text clusters on content, image groups on (w,h)
   * gradient classes, audio groups on the PCM length classes — three
   * DIFFERENT partitions of the same documents), and the gate's hash
   * compare pins every row of it. The flags stay exposed: which modalities must
   * agree before a drop is a downstream policy, not the engine's
   * call. */
  def docMediaVerdictTri(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val text = nearDedupCorpus(s, dir)
      .select(col("doc_id"), col("kept").as("text_kept"))
    val docs = Tpar(s, dir, "documents")
    val img = Multimodal.imagePHash(
      Multimodal.packAsPng(docs, "doc_id", "text"))
    val wImg = Window.partitionBy("hash_hi", "hash_lo")
    val imgKept = img
      .withColumn("image_kept", col("media_id") === min("media_id").over(wImg))
      .select(col("media_id").as("doc_id"), col("image_kept"))
    val aud = Multimodal.audioFingerprint(
      Multimodal.packAsWav(docs, "doc_id", "text"))
    val wAud = Window.partitionBy("fp_hi", "fp_lo")
    val audKept = aud
      .withColumn("audio_kept", col("media_id") === min("media_id").over(wAud))
      .select(col("media_id").as("doc_id"), col("audio_kept"))
    text.join(imgKept, "doc_id").join(audKept, "doc_id")
      .select(col("doc_id"), col("text_kept"), col("image_kept"),
        col("audio_kept"),
        (col("text_kept") && col("image_kept") && col("audio_kept"))
          .as("keep"))
      .orderBy("doc_id")
  }

  /** M9: AUDIO fingerprint dedup — the audio leg of the perceptual
   * trilogy ([[Multimodal.audioFingerprint]]): real RIFF/WAVE payloads
   * decode in the `AudioSystem` seam, windowed integer energies fold to
   * the gain-invariant sign-delta fingerprint, and the d1-style
   * verdict groups on the fingerprint instead of the bytes — the
   * re-mastered copies byte dedup can never see. The oracle rebuilds
   * the energies from the PCM synthesis arithmetic (integer-exact end
   * to end). */
  def audioFingerprintDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = Multimodal.packAsWav(Tpar(s, dir, "documents"), "doc_id", "text")
    Multimodal.audioFingerprint(packed)
      .withColumn("n_same",
        count(lit(1)).over(Window.partitionBy("fp_hi", "fp_lo")))
      .select(col("media_id"), col("fp_hi"), col("fp_lo"), col("n_same"))
      .orderBy("media_id")
  }

  /** M10: audio NEAR-duplicate pairs — banded Hamming over the m9
   * fingerprint ([[Multimodal.audioNearDupPairs]]), closing for audio
   * the gap m7 closed for images: m9 groups on fingerprint EQUALITY,
   * but a real re-encode or light distortion perturbs a few window
   * energies and flips the adjacent delta bits, so production audio
   * dedup thresholds Hamming distance. The fixture plants exactly
   * that: every 13th document's waveform re-synthesizes under a
   * shifted id (+10⁶, same text so same base waveform) with three
   * fingerprint windows perturbed in the PCM itself — a deterministic
   * stand-in for localized distortion whose fingerprint lands a few
   * bits from its original (the closed-form oracle rebuilds both
   * fingerprints sample-exactly, so even the planted distances are
   * hash-exact; clips too short to populate the perturbed windows
   * degrade to exact copies at distance 0, which still pair). The
   * whole pipeline is the real decode path: RIFF encode → AudioSystem
   * decode → windowed energies → banded 16-byte-row join. */
  def audioNearDup(s: SparkSession, dir: String): DataFrame =
    audioPairFrame(s, dir).orderBy("ida", "idb")

  private val M10Windows = Seq(2, 9, 33)
  private val M10Delta = 17000L
  private val M10MaxHamming = 8
  private val M10MaxBucket = 64

  /** M11: VIDEO perceptual-fingerprint dedup — the third leg of the
   * trilogy (m6/m7 images, m9/m10 audio): real Y4M payloads demux in
   * the [[Multimodal.videoFingerprint]] seam, the concatenated luma
   * stream folds to windowed sums, and bit p compares adjacent window
   * MEANS by cross-multiplication — exactly invariant under a global
   * brightness lift, the levels-change re-encode byte dedup (and m5's
   * raw luma stats) can never see. The fixture plants exactly that:
   * every 11th document's clip re-renders under a shifted id (+10⁶)
   * with every luma sample lifted by a constant, and the d1-style
   * verdict groups it with its original (fingerprints are EQUAL by
   * the invariance, pinned sample-exactly by the closed-form oracle);
   * distinct content stays apart except where the synthesis collides
   * whole length classes — the same honest caveat as m9. */
  def videoFingerprintDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val orig = Multimodal.packAsY4m(docs, "doc_id", "text")
    val clones = Multimodal.packAsY4m(
      docs.filter(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L),
      "doc_id", "text", brightnessShift = M11Shift)
    Multimodal.videoFingerprint(orig.unionByName(clones))
      .withColumn("n_same",
        count(lit(1)).over(Window.partitionBy("fp_hi", "fp_lo")))
      .select(col("media_id"), col("fp_hi"), col("fp_lo"), col("n_same"))
      .orderBy("media_id")
  }

  private val M11Shift = 40

  /** M12: video NEAR-duplicate pairs — banded Hamming over the m11
   * fingerprint, completing the near-dup trilogy (m7 images, m10
   * audio, this): m11 groups on fingerprint EQUALITY, but a real
   * re-encode both re-levels globally AND distorts locally, so the
   * planted clone here carries BOTH — a global brightness lift (which
   * the fingerprint cancels exactly) and three perturbed stream
   * windows (which flip the adjacent delta bits). Every 19th
   * document's clip re-renders under a shifted id (+10⁶) with that
   * combined distortion, and the closed-form oracle rebuilds both
   * fingerprints sample-exactly before replaying the identical banded
   * join — planted distances are hash-exact, recall degradation from
   * the hot-bucket cap is mirrored, never hidden. The cap itself is
   * wider than m7/m10's (256): the tiny synthesized clips collapse
   * into few fingerprint classes, and the gate should still FIND the
   * planted pairs through their unperturbed band at this corpus
   * size. */
  def videoNearDup(s: SparkSession, dir: String): DataFrame =
    videoPairFrame(s, dir).orderBy("ida", "idb")

  private val M12Shift = 20
  private val M12Windows = Seq(3, 17, 44)
  private val M12Delta = 25
  private val M12MaxHamming = 8
  private val M12MaxBucket = 256

  /** M13: the image near-dup CLUSTER VERDICT — what a pipeline actually
   * consumes: m7 emits near-dup PAIRS, but the keep decision needs the
   * transitive closure (A≈B, B≈C ⇒ one keeper among {A,B,C} even when
   * A–C's Hamming alone clears nothing), which is exactly d8's
   * star-contraction machinery ([[Dedup.duplicateClustersStar]] — the
   * diameter-safe path at 100 TB) running on 16-byte hash pairs
   * instead of text digests. One row per corpus member: cluster label
   * (min id), keep = is the label. The oracle closes m7's pair chain
   * with the same recursive reach/label shape the text closures use —
   * modality changes the fingerprint, never the verdict machinery. */
  def imageNearDupVerdict(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      nearDupClusterVerdict(imageHashFrame(s, dir), imagePairFrame(s, dir))
    }.orderBy("media_id")

  /** M14: the audio near-dup CLUSTER VERDICT — m13's shape over m10's
   * pairs: the transitive closure of the banded-Hamming fingerprint
   * pairs via the same star contraction, one (cluster_id, kept) row
   * per clip. Modality changes the fingerprint; the closure and the
   * verdict are the same machinery — which is exactly the claim this
   * gate makes checkable for audio. */
  def audioNearDupVerdict(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      nearDupClusterVerdict(audioFpFrame(s, dir), audioPairFrame(s, dir))
    }.orderBy("media_id")

  /** M15: the video near-dup CLUSTER VERDICT — the trilogy's last leg
   * (m13 images, m14 audio, this): m12's banded-Hamming pairs over the
   * brightness-cancelling video fingerprint close transitively through
   * the same star contraction into one (cluster_id, kept) row per
   * clip. Same planted corpus as m12 (re-levelled AND window-perturbed
   * clones of every 19th doc), same oracle move as m13/m14: the
   * closed-form pair chain plus the recursive reach/label closure —
   * three modalities, one verdict machine, all three now checkable. */
  def videoNearDupVerdict(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      nearDupClusterVerdict(videoFpFrame(s, dir), videoPairFrame(s, dir))
    }.orderBy("media_id")

  /** pairs → per-member verdict, shared by m13/m14/m15:
   * star-contraction closure, label = min id of the component, keep =
   * is the label;
   * singletons (no surviving pair) keep themselves via the left join. */
  private def nearDupClusterVerdict(members: DataFrame,
                                    pairs: DataFrame)(
      implicit scope: CacheScope): DataFrame = {
    val labels = Dedup.duplicateClustersStar(pairs)
      .withColumnRenamed("node", "media_id")
    members.select(col("media_id"))
      .join(labels, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("label"), col("media_id")).as("cluster_id"))
      .withColumn("kept", col("cluster_id") === col("media_id"))
  }

  /** M5: REAL video decode end-to-end — synthesize YUV4MPEG2 streams
   * (the mjpegtools/ffmpeg uncompressed interchange container) into the
   * binary column, then demux them with the pure-JVM [[Y4mDecoder]] in
   * the partition-batched seam. Dimensions, frame rate, frame count and
   * every luma stat come from the CONTAINER parse and plane reads; the
   * keyframe sampler (every 2nd frame) runs over the real demux too.
   * Y4M planes are raw, so the oracle rebuilds the stream's stats in
   * closed form from `length(text)` — the same lossless-codec contract
   * as m1 (PNG) and m3 (PCM). */
  def videoStats(s: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.packAsY4m(Tpar(s, dir, "documents"), "doc_id", "text")
    Multimodal.extractVideoFeatures(packed, sampleStride = 2)
      .select(col("media_id"),
        col("features.width").as("width"),
        col("features.height").as("height"),
        col("features.n_frames").as("n_frames"),
        col("features.fps_num").as("fps_num"),
        col("features.duration_ms").as("duration_ms"),
        col("features.y_sum").as("y_sum"),
        col("features.mean_luma").as("mean_luma"),
        col("features.n_frames_sampled").as("n_frames_sampled"),
        col("features.sampled_y_sum").as("sampled_y_sum"))
      .orderBy("media_id")
  }

  /** M19: overlapped audio CHUNKING — the ASR-standard pre-transcription
   * verb (fixed-length windows, 50% hop, the last one short), completing
   * the segmentation matrix: text chunks (d9), video shots (m18), audio
   * chunks here. The chunk table derives from the REAL RIFF header parse
   * (n_samples/rate from [[Multimodal.extractAudioFeatures]]'s decode,
   * never caller metadata) and is pure sequence arithmetic after it —
   * one explode, no second payload pass; downstream ASR reads
   * (media_id, start, len) slices. Chunk 80 samples, hop 40. */
  def audioChunksQ(s: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.packAsWav(Tpar(s, dir, "documents"),
      "doc_id", "text")
    Multimodal.extractAudioFeatures(packed)
      .select(col("media_id"),
        col("features.sample_rate").as("rate"),
        col("features.n_samples").as("n"))
      .select(col("media_id"), col("rate"), col("n"),
        explode(sequence(lit(0L), expr("(n - 1) div 40"))).as("k"))
      .select(col("media_id"),
        col("k").cast(IntegerType).as("seg_idx"),
        (col("k") * 40).cast(IntegerType).as("start_sample"),
        least(lit(80L), col("n") - col("k") * 40)
          .cast(IntegerType).as("seg_len"),
        col("rate").cast(IntegerType).as("rate"))
      .orderBy("media_id", "seg_idx")
  }

  /** M17: SCENE-CUT detection — the shot-boundary pass before keyframe
   * selection, over the REAL Y4M demux. The fixture plants a sustained
   * scene change (every luma sample of frames t ≥ 2 lifts by 40), so
   * the frame-to-frame mean delta is 3 everywhere except a 43 spike
   * exactly at the cut; threshold 10 separates them with an
   * integer-exact compare. The oracle replays deltas in closed form
   * from `length(text)` — the same lossless-codec contract as m5. */
  def videoSceneCutsQ(s: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.packAsY4m(Tpar(s, dir, "documents"),
      "doc_id", "text", cutAtFrame = 2, cutDelta = 40)
    Multimodal.videoSceneCuts(packed, threshold = 10)
      .orderBy("media_id", "frame_idx")
  }

  /** M18: SHOT-aware keyframe selection — m17's cuts folded into the
   * verb the pipeline actually wants: per-shot segments (shot_id = the
   * running count of cuts at or before the frame) and one
   * representative frame per shot (the middle one — deterministic,
   * content-position-free). "One keyframe per shot" is the sampling
   * contract every-Nth-frame (m2/m5's stride) cannot give: a static
   * hour then a cut yields two keyframes, not 1800 near-identical
   * ones. The fold is a window cum-sum + one groupBy over the m17
   * delta rows — shot tables stay (media_id, ints), never pixels. */
  def shotKeyframesQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = Multimodal.packAsY4m(Tpar(s, dir, "documents"),
      "doc_id", "text", cutAtFrame = 2, cutDelta = 40)
    val deltas = Multimodal.videoSceneCuts(packed, threshold = 10)
    // frame 0 opens shot 0; every cut frame opens the next shot
    val frames = packed
      .select(col("media_id"), lit(0).as("frame_idx"), lit(false).as("is_cut"))
      .unionByName(deltas.select("media_id", "frame_idx", "is_cut"))
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
    frames
      .withColumn("shot_id",
        sum(col("is_cut").cast(IntegerType)).over(w).cast(IntegerType))
      .groupBy("media_id", "shot_id")
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).cast(IntegerType).as("n_frames"))
      .withColumn("keyframe_idx",
        expr("(start_frame + end_frame) div 2").cast(IntegerType))
      .orderBy("media_id", "shot_id")
  }

  /** M21: SHOT-level video near-dup — the partial-overlap case the
   * whole-stream fingerprint (m11/m12) structurally misses: a re-edit
   * or compilation SHARES SHOTS with its sources without its full
   * stream resembling any of them. One decode pass per clip yields the
   * m17 cuts, the m18 shot fold and one 64-bit fingerprint PER SHOT
   * ([[Multimodal.videoShotFingerprints]]); shots band through the
   * shared banded-Hamming core keyed by the `(media_id, shot_id)`
   * struct (no shot-count bound); and the
   * clip-pair verdict is containment-style — the fraction of clip A's
   * shots matched by at least one of B's (directed, like x26). The
   * fixture plants exactly the claim: for every 23rd doc whose clip
   * has a post-cut second shot, a composite clip whose MIDDLE THIRD is
   * that shot byte-for-byte between two flat host segments
   * ([[Multimodal.packAsY4mSpliced]]) — so the donor third ALWAYS
   * matches its source (verified in the dump: every planted pair
   * surfaces in both directions). At this corpus's tiny clip sizes the
   * 64-bit codes over few-byte shot streams also collide beyond the
   * plant (the same honest caveat as m9/m11 — fractions often exceed
   * the geometric 1/3), and the oracle mirrors every such collision:
   * it rebuilds each shot's stream from the synthesis algebra
   * (originals' cut profile AND composites' three-segment profile) and
   * replays the banded join and both verdict directions exactly. */
  def shotNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tpar(s, dir, "documents").select("doc_id", "text")
    val orig = Multimodal.packAsY4m(docs, "doc_id", "text",
      cutAtFrame = 2, cutDelta = 40)
    val comps = Multimodal.packAsY4mSpliced(
      docs.filter(col("doc_id") % 23 === 0)
        .withColumn("doc_id", col("doc_id") + 3000000L),
      "doc_id", "text")
    CacheScope.materialized { implicit scope =>
      val shots = scope.persist(
        Multimodal.videoShotFingerprints(orig.unionByName(comps))).toDF()
      val pairs = Multimodal.videoShotNearDupPairs(shots,
        maxHamming = M21MaxHamming, maxBucket = M21MaxBucket)
      // read the struct shot keys apart, keep CROSS-clip matches,
      // symmetrize to directed rows, then the containment-style verdict
      val m = pairs.select(
          col("ida.media_id").as("mida"),
          col("ida.shot_id").as("sida"),
          col("idb.media_id").as("midb"),
          col("idb.shot_id").as("sidb"))
        .filter(col("mida") =!= col("midb"))
      val directed = m.select(col("mida").as("ida"), col("midb").as("idb"),
          col("sida").as("shot_a"))
        .unionByName(m.select(col("midb").as("ida"), col("mida").as("idb"),
          col("sidb").as("shot_a")))
        .distinct()
      val nShots = shots.groupBy(col("media_id").as("ida"))
        .agg(count(lit(1)).as("n_shots_a"))
      // matched-clip pairs are sparse (near-dup evidence), so the
      // n_shots side stays threshold-decided like every verdict join
      directed.groupBy("ida", "idb")
        .agg(countDistinct(col("shot_a")).as("n_shared"))
        .join(nShots, "ida")
        .select(col("ida"), col("idb"), col("n_shots_a"), col("n_shared"),
          (col("n_shared").cast(DoubleType) /
            col("n_shots_a").cast(DoubleType)).as("shared_frac"))
    }.orderBy("ida", "idb")
  }

  private val M21MaxHamming = 8
  private val M21MaxBucket = 256

  /** X23: FEATURE-HASHED text embeddings
   * ([[TextAnalysis.hashedEmbedding]] — the Weinberger et al. 2009
   * hashing trick): the text → vector-space bridge, so the similarity
   * family can run on raw text with no external encoder. The gate
   * projects integer-exact scalars of each document's vector (token
   * count, nonzero components, component sum, position-weighted
   * checksum — arrays themselves aren't harness-sortable, x6's move);
   * the signed counts are integers far below 2²⁴, so every float is
   * exact and the oracle rebuilds the vector bit-for-bit. */
  def hashedEmbeddingQ(s: SparkSession, dir: String): DataFrame =
    Tpar(s, dir, "documents")
      .select(col("doc_id"), Dedup.tokens(lower(col("text"))).as("_t"))
      .select(col("doc_id"), size(col("_t")).as("n_tokens"),
        TextAnalysis.hashedEmbedding(col("_t"), Dim).as("_v"))
      .select(col("doc_id"), col("n_tokens"),
        size(filter(col("_v"), x => x =!= 0.0f)).as("nnz"),
        aggregate(col("_v"), lit(0.0),
          (a, x) => a + x.cast(DoubleType)).as("v_sum"),
        aggregate(zip_with(col("_v"), sequence(lit(1), lit(Dim)),
            (x, i) => x.cast(DoubleType) * i.cast(DoubleType)),
          lit(0.0), (a, x) => a + x).as("v_checksum"))
      .orderBy("doc_id")

  /** D14: text near-dup via HASHED-EMBEDDING cosine — the composition
   * x23 exists for: documents embed through the hashing trick and the
   * EXISTING embedding near-dup operator ([[Similarity.nearDupPairs]]:
   * LSH bucketing, within-bucket cosine, global top pairs) runs on raw
   * text unchanged. Near-dup text pairs share token multisets, so
   * their signed-count vectors land at cosine ≈ 1 (identical token
   * bags hit exactly 1.0) — a third near-dup signal next to MinHash
   * (d2, set overlap) and SimHash (d3, weighted bits), this one
   * inheriting every dial of the vector family. Cosine over the
   * integer-exact counts is engine-exact, so the gate hash-compares
   * like e4. */
  def textEmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      // persist: both sides of the LSH self-join read the embedded
      // frame — without it every side re-tokenizes and re-embeds
      val emb = scope.persist(Tpar(s, dir, "documents")
        .select(col("doc_id").as("id"),
          TextAnalysis.hashedEmbedding(
            Dedup.tokens(lower(col("text"))), Dim).as("vec"))).toDF()
      Similarity.nearDupPairs(emb, NPlanes, topPairs = 20)
    }.orderBy(col("sim").desc, col("ida"), col("idb"))

  /** d14b's plane count, memoized per dir: enough hyperplanes that the
   * expected LSH bucket holds ~16 documents, so the Σ|bucket|² pair
   * frame stays linear-ish as the corpus grows — the nPlanes dial is
   * to the LSH family what nCells ∝ √n is to the IVF family (d10b/
   * e9c). Deterministic (a count), so the dynamic oracle renders the
   * same plane literals. */
  private val d14PlanesMemo =
    scala.collection.concurrent.TrieMap.empty[String, Int]
  private def d14Planes(s: SparkSession, dir: String): Int =
    d14PlanesMemo.getOrElseUpdate(dir,
      scaledPlaneCount(Tpar(s, dir, "documents").count()))

  /** The semantic leg's frozen bucketing center for a gate whose seed
   * is `doc_id < maxId` (w17 seeds at 400; w18/l14 at 300, keeping the
   * benchmark media suite disjoint), memoized per (dir, cutoff): the
   * DECIMAL-exact unit-mean of the seed's hashed embeddings
   * ([[Similarity.meanUnitVector]]) — deterministic, so the literal the
   * oracle renders is the center the gate derives from its seed at
   * bootstrap. */
  private val semCenterMemo =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Double]]
  private def semCenterOver(s: SparkSession, dir: String,
                            maxId: Long): Seq[Double] =
    semCenterMemo.getOrElseUpdate(s"$dir|$maxId", {
      val docs = Tpar(s, dir, "documents").select("doc_id", "text")
      Similarity.meanUnitVector(docs.filter(col("doc_id") < maxId)
        .select(TextAnalysis.hashedEmbedding(
          Dedup.tokens(lower(col("text"))), Dim).as("vec")), "vec", Dim)
    })

  /** D14b: d14 at the PRODUCTION dial — the plane count grows with the
   * corpus (expected bucket ≈ 16 docs), exactly the e9→e9c/d10→d10b
   * convergence for the LSH family: the gate fixture IS the
   * configuration whose shape survives 100×. Fewer cohabitants per
   * bucket trades recall for bounded pair counts — the standard LSH
   * dial, measured by the same harness family as every other recall
   * trade here. */
  def textEmbeddingNearDupScaled(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      val emb = scope.persist(Tpar(s, dir, "documents")
        .select(col("doc_id").as("id"),
          TextAnalysis.hashedEmbedding(
            Dedup.tokens(lower(col("text"))), Dim).as("vec"))).toDF()
      Similarity.nearDupPairs(emb, d14Planes(s, dir), topPairs = 20)
    }.orderBy(col("sim").desc, col("ida"), col("idb"))

  /** D15: TEXT semantic dedup — the d10 SemDeDup shape over hashed
   * text embeddings: coarse-cluster the text vectors by IVF cell, drop
   * within-cell documents with a smaller-id neighbor at cosine ≥ τ.
   * The third family composition over the x23 bridge (d14 = LSH
   * near-dup pairs, this = the cluster-then-prune dedup verdict):
   * token-overlapping documents land at cosine near 1 and prune
   * exactly like embedding near-dups. τ = 0.9 — text vectors are
   * signed COUNTS, so high cosine means genuinely shared token
   * distributions, and the corpus's planted near-dups sit above it
   * while topically-distinct docs do not. */
  /** The hashed-text-vector frame the d14/d15 family shares. */
  private def textEmb(s: SparkSession, dir: String): DataFrame =
    Tpar(s, dir, "documents")
      .select(col("doc_id").as("id"),
        TextAnalysis.hashedEmbedding(
          Dedup.tokens(lower(col("text"))), Dim).as("vec"))

  def textSemDedup(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      val emb = scope.persist(textEmb(s, dir)).toDF()
      Similarity.semDedup(emb, Cents, tau = 0.9)
    }.orderBy("id")

  /** d15b's centroids: spherical k-means over the TEXT vectors with
   * nCells ∝ √n — the d10b production dial applied to the text
   * family, so the within-cell pair frame stays linear-ish as the
   * corpus grows. Deterministic, memoized per dir, rendered into the
   * dynamic oracle. */
  private val d15CentsMemo =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Double]]]
  private def d15Cents(s: SparkSession, dir: String): Seq[Seq[Double]] =
    d15CentsMemo.getOrElseUpdate(dir, {
      val emb = textEmb(s, dir)
      val n = emb.count()
      val nCells = math.max(NCells, math.round(math.sqrt(n.toDouble)).toInt)
      Similarity.trainIvfCentroids(emb, nCells, Dim, iters = 5)
    })

  /** D15b: d15 at the PRODUCTION dial — trained √n-cell centroids over
   * the text vectors themselves (the e9c/d10b/d14b convergence: the
   * gate fixture IS the configuration whose shape survives 100×). */
  def textSemDedupScaled(s: SparkSession, dir: String): DataFrame =
    CacheScope.materialized { implicit scope =>
      val emb = scope.persist(textEmb(s, dir)).toDF()
      Similarity.semDedupD(emb, d15Cents(s, dir), tau = 0.9)
    }.orderBy("id")

  /** X20: per-source vocabulary cardinality via the KMV bottom-k sketch
   * ([[graft.functions.Sketches]]) — the distinct-count estimator a
   * 100 TB curation run uses where exact COUNT(DISTINCT) would shuffle
   * the full token set: the aggregation carries ≤ k longs per (source,
   * map task), and per-batch sketches union losslessly. Deterministic
   * md5 hashing makes even the ESTIMATE oracle-exact. */
  def kmvVocabulary(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    // 3-shingles, not bare tokens: the synthetic corpus has a tiny
    // shared vocabulary (~30 words), but its shingle space is
    // combinatorial — thousands per source — so the ESTIMATE path is
    // what the gate checks, not just the exact-below-k fallback
    Tpar(s, dir, "documents")
      .select(col("source"),
        explode(Dedup.shingles(col("text"), 3)).as("sh"))
      .select(col("source"), graft.functions.Hashing.h60(col("sh")).as("h"))
      .groupBy("source")
      .agg(graft.functions.Sketches.kmvCol(col("h"), k).as("sk"))
      .select(col("source"),
        size(col("sk.mins")).as("m"),
        element_at(col("sk.mins"), size(col("sk.mins"))).as("hk"),
        graft.functions.Sketches.kmvEstimate(col("sk"), k).as("est_distinct"))
      .orderBy("source")
  }

  /** X7: PII detection + redaction. The synthetic corpus has no PII, so
   * the query plants a deterministic email/phone per doc, then counts
   * and scrubs — exercising the real mechanism end-to-end. */
  def piiRedact(s: SparkSession, dir: String): DataFrame =
    Tpar(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or +1 555-01"), format_string("%02d", col("doc_id") % 100),
          lit(".")).as("_pii"))
      .select(col("doc_id"),
        TextAnalysis.piiCount(col("_pii"), "email").as("n_email"),
        TextAnalysis.piiCount(col("_pii"), "phone").as("n_phone"),
        TextAnalysis.redactPii(col("_pii")).as("redacted"))
      .select(col("doc_id"), col("n_email"), col("n_phone"),
        substring(col("redacted"), -40, 40).as("redacted_tail"))
      .orderBy("doc_id")

  /** X8: top terms per document by a deterministic tf-idf variant
   * (score = tf * N/df — exact division instead of ln(), so both
   * engines agree bit-for-bit; ranking is what matters). */
  def tfIdfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = T(s, dir, "documents")
    // N folds in as a broadcast scalar (like the oracle's CTE) — no
    // eager count() job at plan-construction time
    val n = docs.agg(count(lit(1)).cast(DoubleType).as("nd"))
    val terms = docs
      .select(col("doc_id"), explode(Dedup.tokens(lower(col("text")))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df derives FROM tf as a window count over `term` (tf has one row
    // per (doc, term), so rows-per-term IS document frequency): the
    // corpus tokenizes ONCE and no join is needed. A separate
    // `tf.groupBy(term).count` branch does NOT get exchange-reused —
    // column pruning strips the count from the df side, so the subtrees
    // differ and the tokenize runs twice (verified in the plan;
    // PlanQualitySpec pins the single-scan shape).
    val wTerm = Window.partitionBy("term")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * (col("nd") / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "score")
      .orderBy("doc_id", "rank")
  }

  /** X11: quantile-band quality filtering — keep documents whose quality
   * score falls in the exact-rank [p25, p75] band, the
   * threshold-selection step of a curation pipeline. Thresholds are
   * ORDER STATISTICS (the k-th smallest by (q, doc_id), k =
   * floor(p·(n-1))+1), not interpolated percentiles: rank selection is
   * engine-exact where interpolation arithmetic is not. Each bound is a
   * `TakeOrdered` heap top-k + 1-row agg — no global sort, no window
   * over a single partition; the two tiny driver-side lookups are the
   * same O(1) pattern as the incremental watermark reads. */
  def qualityBand(s: SparkSession, dir: String): DataFrame = {
    val scored = Tpar(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = scored.count()
      def bound(p: Double): Double = {
        val k = (p * (n - 1)).floor.toInt + 1
        scored.orderBy("q", "doc_id").limit(k)
          .agg(max("q")).head().getDouble(0)
      }
      val (lo, hi) = (bound(0.25), bound(0.75))
      scored.filter(col("q") >= lo && col("q") <= hi)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_in_band"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang")
        .localCheckpoint()
    } finally scored.unpersist(blocking = false)
  }

  /** X9: stratified reproducible sampling — per-language rates applied
   * via hash thresholds (en downsampled to 20%, others kept at 80%). */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .filter(when(col("lang") === "en",
        TextAnalysis.hashSampleKeep(col("text"), 0.2))
        .otherwise(TextAnalysis.hashSampleKeep(col("text"), 0.8)))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"))
      .orderBy("lang")

  /** X12: per-domain quota sampling — cap each source at 10 documents,
   * selected by hash order (deterministic, unbiased within the source). */
  def domainCap(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.domainCap(
      T(s, dir, "documents").select("doc_id", "source"),
      "source", "doc_id", cap = 10)
      .select("source", "rk", "doc_id")
      .orderBy("source", "rk")

  /** X13: corpus mix report — GROUPING SETS over (lang), (source), and
   * (lang, source): doc and token tallies at every granularity a
   * sampling-plan needs, in ONE aggregation pass (Expand + single
   * shuffle — Catalyst never rescans the corpus per grouping). */
  def mixReport(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "documents").createOrReplaceTempView("v_documents")
    s.sql("""
      SELECT lang, source,
        grouping_id() AS gid,
        count(*) AS n_docs,
        CAST(sum(size(filter(split(text, '\\s+'), t -> length(t) > 0)))
          AS BIGINT) AS n_tokens
      FROM v_documents
      GROUP BY GROUPING SETS ((lang), (source), (lang, source))
      ORDER BY gid, lang, source""")
  }

  /** X10: sequence packing — documents concatenate in id order and chunk
   * into fixed token-budget training sequences (seq = floor of the
   * preceding cumulative token count / budget). Packing runs WITHIN
   * contiguous id shards: a global ordered window would serialize on
   * one task at 100 TB; per-shard packing is the distributed version of
   * the same contract (each shard = one packing stream). */
  def sequencePacking(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 256
    val shardSize = 100
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    T(s, dir, "documents")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("_t"))
      .select(col("doc_id"), size(col("_t")).cast("long").as("n_tokens"))
      .withColumn("shard", floor(col("doc_id") / shardSize))
      .withColumn("seq_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / budget))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy("shard", "seq_id")
  }

  /** M2: frame sampling + resize metadata over binary media — every 4th
   * 16-byte frame, first sampled frame's byte sum as checksum. */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.packAsMedia(Tpar(s, dir, "documents"), "doc_id", "text")
    val sampled = Multimodal.resizeStub(
      Multimodal.sampleFrames(packed, frameBytes = 16, stride = 4), 50)
    sampled.select(col("media_id"),
        col("n_frames_sampled"),
        col("meta.width").as("half_width"),
        element_at(col("frames"), 1).as("_f1"))
      .select(col("media_id"), col("n_frames_sampled"), col("half_width"),
        aggregate(sequence(lit(1), octet_length(col("_f1"))), lit(0L),
          (a, i) => a + ascii(col("_f1").substr(i, lit(1)).cast(StringType)))
          .as("f1_checksum"))
      .orderBy("media_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m2_frame_sample" -> (frameSample _),
    "d1_dedup_exact" -> (dedupExact _),
    "d2_dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "d3_dedup_simhash" -> (dedupSimhash _),
    "d4_dedup_jaccard_verify" -> (dedupJaccardVerify _),
    "d5_decontamination" -> (decontamination _),
    "d16_decontaminate_admission" -> (decontaminateAdmissionQ _),
    "d6_dup_clusters" -> (dupClusters _),
    "d8_dup_clusters_star" -> (dupClustersStar _),
    "d9_chunk_dedup" -> (chunkDedupDocs _),
    "x14_repeated_ngrams" -> (repeatedNgrams _),
    "d7_decontaminate_bloom" -> (decontaminationBloom _),
    "e1_cosine_topk" -> (cosineTopK _),
    "e2_ann_lsh_topk" -> (annTopK _),
    "e3_ivf_topk" -> (ivfTopK _),
    "e13_ann_recall" -> (annRecall _),
    "e13b_ann_recall_trained" -> (annRecallTrained _),
    "e3b_ivf_kmeans_topk" -> (ivfKmeansTopK _),
    "e4_embedding_neardup" -> (embeddingNearDup _),
    "d10_semdedup" -> (semDedupQ _),
    "d10b_semdedup_scaled" -> (semDedupScaledQ _),
    "d11_dup_spans" -> (duplicateSpans _),
    "x25_span_dedup_repair" -> (spanDedupRepairQ _),
    "x26_containment_pairs" -> (containmentPairsQ _),
    "x27_novelty_score" -> (noveltyScoreQ _),
    "x28_novelty_admission" -> (noveltyAtAdmissionQ _),
    "d12_neardedup_corpus" -> (nearDedupCorpus _),
    "x17_temperature_mix" -> (temperatureMixQ _),
    "e9_knn_graph" -> (knnGraphQ _),
    "e9b_knn_graph_trained" -> (knnGraphTrainedQ _),
    "e9c_knn_graph_scaled" -> (knnGraphScaledQ _),
    "e10_mmr_diversify" -> (mmrDiversifyQ _),
    "e11_hamming_topk" -> (hammingTopKQ _),
    "e12_hamming_rerank" -> (hammingRerankQ _),
    "x18_curation_funnel" -> (curationFunnel _),
    "x19_gopher_rules" -> (gopherRulesQ _),
    "x21_split_leakage" -> (splitLeakage _),
    "x24_split_leakage_repair" -> (splitLeakageRepair _),
    "d13_incremental_dedup" -> (incrementalDedup _),
    "e5_quantized_topk" -> (quantizedTopK _),
    "e6_pq_topk" -> (pqTopK _),
    "e6b_pq_trained_topk" -> (pqTrainedTopK _),
    "e7_ivfpq_topk" -> (ivfPqTopK _),
    "e7b_ivfpq_trained_topk" -> (ivfPqTrainedTopK _),
    "e14_incremental_index" -> (incrementalIndex _),
    "e15_filtered_topk" -> (filteredTopK _),
    "e16_stream_index_admission" -> (streamIndexAdmission _),
    "e17_index_delete" -> (indexDelete _),
    "e18_cell_split" -> (cellSplit _),
    "e26_cell_merge" -> (cellMerge _),
    "e27_residual_cell_merge" -> (residualCellMerge _),
    "e19_ivfpq_residual_topk" -> (residualTopK _),
    "e20_ivfpq_exact_rerank" -> (rerankTopK _),
    "e21_index_lifecycle_e2e" -> (indexLifecycleE2E _),
    "e22_ivfpqr_topk" -> (residualRerankTopK _),
    "e23_residual_lifecycle" -> (residualLifecycle _),
    "e24_residual_stream_index" -> (residualStreamLifecycle _),
    "e25_store_tombstone_serve" -> (storeTombstoneServe _),
    "e28_store_time_travel" -> (storeTimeTravelServe _),
    "e29_maintenance_plan" -> (maintenancePlan _),
    "e30_maintenance_apply" -> (maintenanceApply _),
    "e31_store_maintenance" -> (storeMaintenanceJourney _),
    "e32_residual_maintenance" -> (residualMaintenanceApply _),
    "e33_reindex_cutover" -> (reindexCutover _),
    "w13_stream_maintenance_plans" -> (streamMaintenancePlans _),
    "w10_stream_ann_serve" -> (streamAnnServe _),
    "w11_stream_serve_from_store" -> (streamServeFromStore _),
    "w12_stream_dedup_admission" -> (streamDedupAdmission _),
    "w14_stream_curation_admission" -> (streamCurationAdmission _),
    "w15_stream_decontaminated_admission" -> (streamDecontaminatedAdmission _),
    "w16_stream_contained_admission" -> (streamContainedAdmission _),
    "w17_stream_semantic_admission" -> (streamSemanticAdmission _),
    "w18_stream_full_admission" -> (streamFullAdmission _),
    "l13_admission_pipeline" -> (admissionPipelineLifecycle _),
    "l14_admission_pipeline_full" -> (admissionPipelineFull _),
    "l15_admission_framed_smt" -> (admissionPipelineFramed _),
    "l16_admission_gate_dlq" -> (admissionPipelineDlq _),
    "e8_label_centroid_sum" -> (labelCentroidSum _),
    "x1_lang_id" -> (langId _),
    "x2_quality_score" -> (qualityScore _),
    "x15_quality_classifier" -> (qualityClassifier _),
    "x16_bigram_lm" -> (bigramLmQ _),
    "x22_reference_lm_filter" -> (referenceLmFilter _),
    "x3_token_count" -> (tokenCount _),
    "x4_fingerprint" -> (fingerprint _),
    "x5_repetition" -> (repetition _),
    "x6_winnowing" -> (winnowingFp _),
    "x7_pii_redact" -> (piiRedact _),
    "x8_tfidf_top_terms" -> (tfIdfTopTerms _),
    "x9_stratified_sample" -> (stratifiedSample _),
    "x10_sequence_packing" -> (sequencePacking _),
    "x11_quality_band" -> (qualityBand _),
    "x12_domain_cap" -> (domainCap _),
    "x13_mix_report" -> (mixReport _),
    "x20_kmv_distinct" -> (kmvVocabulary _),
    "x23_hashed_embedding" -> (hashedEmbeddingQ _),
    "d14_text_embedding_neardup" -> (textEmbeddingNearDup _),
    "d14b_text_neardup_scaled" -> (textEmbeddingNearDupScaled _),
    "d15_text_semdedup" -> (textSemDedup _),
    "d15b_text_semdedup_scaled" -> (textSemDedupScaled _),
    "m1_multimodal_features" -> (multimodalFeatures _),
    "m3_audio_stats" -> (audioStats _),
    "m4_image_resize" -> (imageResize _),
    "m5_video_stats" -> (videoStats _),
    "m17_video_scene_cuts" -> (videoSceneCutsQ _),
    "m18_shot_keyframes" -> (shotKeyframesQ _),
    "m19_audio_chunks" -> (audioChunksQ _),
    "m6_image_phash_dedup" -> (imagePHashDedup _),
    "m7_image_near_dedup" -> (imageNearDup _),
    "m8_doc_media_verdict" -> (docMediaVerdict _),
    "m9_audio_fp_dedup" -> (audioFingerprintDedup _),
    "m8b_trimodal_verdict" -> (docMediaVerdictTri _),
    "m10_audio_near_dedup" -> (audioNearDup _),
    "m11_video_fp_dedup" -> (videoFingerprintDedup _),
    "m12_video_near_dedup" -> (videoNearDup _),
    "m13_image_near_dedup_verdict" -> (imageNearDupVerdict _),
    "m14_audio_near_dedup_verdict" -> (audioNearDupVerdict _),
    "m15_video_near_dedup_verdict" -> (videoNearDupVerdict _),
    "m16_quarantined_decode" -> (quarantinedAudioStats _),
    "m20_quarantined_media_parity" -> (quarantinedMediaParity _),
    "m21_shot_near_dedup" -> (shotNearDup _),
    "m22_multimodal_admission" -> (streamMultimodalAdmission _),
    "m23_video_neardup_build" -> (videoNearDupBuild _),
    "m24_media_decontaminated_admission" -> (streamMediaDecontaminatedAdmission _)
  )

  // ---- oracle SQL --------------------------------------------------------

  /** The banded-LSH candidate CTE chain, parameterized by source table
   * (d13 runs it over a staged union instead of `documents`) and by a
   * CTE-name suffix (w12 instantiates the chain once per admission
   * round, so the rounds' intermediates must not collide). */
  private def minhashPipelineSqlOver(tbl: String, sfx: String = "") =
    // MATERIALIZED: DuckDB inlines CTEs by default; the admission-round
    // oracles reference these through diamond-shaped ref/v chains, and
    // inlining re-evaluates the whole tokenize+minhash subtree (and
    // re-opens the parquet) once per reference — the w16 oracle ran out
    // of file descriptors before the hints and 205 s with only the
    // top-level ones. Semantics-neutral.
    s"""sigs$sfx AS MATERIALIZED (
       |  SELECT doc_id AS _id, $sigSql AS sig
       |  FROM (SELECT doc_id, $shingleHashesSql AS hashes
       |        FROM (SELECT doc_id, $tokenHashesSql AS th
       |              FROM $tbl WHERE len($toksSql) >= 3))),
       |banded$sfx AS MATERIALIZED (
       |  ${(0 until Bands).map(b =>
            s"SELECT _id, $b AS band, array_to_string(list_slice(sig, ${b * Rows + 1}, ${b * Rows + Rows}), ',') AS bkey, sig FROM sigs$sfx")
            .mkString("\n  UNION ALL ")}),
       |cand$sfx AS (
       |  SELECT a._id AS doc_a, b._id AS doc_b, a.sig AS siga, b.sig AS sigb
       |  FROM banded$sfx a JOIN banded$sfx b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a._id < b._id)""".stripMargin

  private lazy val minhashPipelineSql = minhashPipelineSqlOver("documents")

  private val langScoreSql = TextAnalysis.LangProfiles.map { case (lang, words) =>
    val wl = words.map(w => s"'$w'").mkString("[", ",", "]")
    s"len(list_filter(regexp_extract_all(lower(text), '\\S+'), t -> list_contains($wl, t))) AS s_$lang"
  }.mkString(",\n    ")

  private val langGuessSql = {
    val langs = TextAnalysis.LangProfiles.map(_._1)
    val cases = langs.zipWithIndex.map { case (l, i) =>
      val geAll = langs.filterNot(_ == l).drop(i).map(o => s"s_$l >= s_$o")
      val gtPrior = langs.take(i).map(o => s"s_$l > s_$o")
      val conds = (Seq(s"s_$l > 0") ++ gtPrior ++ geAll).mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n      ")
    s"CASE $cases ELSE 'und' END"
  }

  private val stopwordsSql = TextAnalysis.LangProfiles.flatMap(_._2).distinct
    .map(w => s"'$w'").mkString("[", ",", "]")

  private val planesSql = Planes.map(_.mkString("[", ",", "]"))
    .mkString("[", ",\n     ", "]")

  private val centsSql = Cents.map(_.mkString("[", ",", "]"))
    .mkString("[", ",\n     ", "]")

  // ---- PQ fragments (mirror Similarity.pqEncode/pqAdcTables exactly) ----

  private val pqBooksSql = PqBooks.map(_.map(_.mkString("[", ",", "]"))
    .mkString("[", ",", "]")).mkString("[", ",\n     ", "]")

  private val pqNormsSql = PqNorms.map(_.mkString("[", ",", "]"))
    .mkString("[", ",\n     ", "]")

  /** sequential double dot over one PQ subspace. */
  private def pqDotSql(a: String, b: String) =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(range(1, ${PqSubDim + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)),
       |  (acc, x) -> acc + x)""".stripMargin

  /** 1-based nearest-codeword index for subspace j (argmax of
   * dot − ½‖c‖², ties to the smaller code — mirrors the struct sort). */
  private def pqCodeSql(j: Int) =
    s"""CAST(-(list_reverse(list_sort(list_transform(range(1, ${PqCodes + 1}),
       |  c -> {'s': ${pqDotSql(s"cbs[${j + 1}][c]", s"s$j")} - cn[${j + 1}][c],
       |        'nj': -c})))[1].nj) AS INTEGER)""".stripMargin

  /** Cells ranked desc by centroid score, ties to smaller id — mirrors
   * Similarity.rankCells / IvfRankCells (list_sort asc then reverse =
   * rank desc on (score, -cellId)). */
  private def rankedSql(v: String, nCells: Int = NCells, ct: String = "ct") =
    s"""list_reverse(list_sort(list_transform(range(1, ${nCells + 1}),
       |  j -> {'s': ${dotSql(s"$ct[j]", v)}, 'nj': -j})))""".stripMargin

  /** e3/e3b/e9/e9c share one oracle shape: the centroid literal (and
   * its count — e9c's scales with √n), the query predicate (5 probes vs
   * the whole corpus for the k-NN graph) and k differ.
   * `Double.toString` output round-trips exactly through DuckDB's
   * parser, so trained doubles compare bit-exact like the fixed
   * longs. */
  private def ivfOracleSql(centsLit: String, qPred: String = "vec_id < 5",
                           topK: Int = TopK, nCells: Int = NCells,
                           cPred: String = "TRUE"): String =
    s"""WITH cents AS (SELECT $centsLit AS ct),
       |q AS (SELECT vec_id AS query_id, embedding AS qv,
       |        unnest(list_transform(list_slice(${rankedSql("qv", nCells)}, 1, $NProbe),
       |          x -> -x.nj)) AS cell
       |      FROM embeddings, cents WHERE $qPred),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
       |        -(${rankedSql("cv", nCells)})[1].nj AS cell
       |      FROM embeddings, cents WHERE $cPred),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS sim
       |  FROM q JOIN c USING (cell) WHERE query_id <> neighbor_id)
       |SELECT query_id, rank, neighbor_id, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id) AS rank FROM scored) t
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  /** e13b: the recall surface — ONE exact ground truth CTE, one probe
   * CTE per nprobe, one multi-assignment corpus CTE per assign level,
   * then a (join → DISTINCT pair → top-k → recall) block per grid
   * point, unioned. Mirrors the Spark plan: the exact side computes
   * once, the centroid literal renders once, candidates dedup on
   * (query_id, neighbor_id) because multi-assignment can meet a pair
   * in several probed cells. */
  private def recallCurveOracleSql(centsLit: String, probes: Seq[Int],
                                   assigns: Seq[Int]): String = {
    val probeCtes = probes.map { np =>
      s"""iq$np AS (SELECT vec_id AS query_id, embedding AS qv,
         |        unnest(list_transform(list_slice(${rankedSql("qv")}, 1, $np),
         |          x -> -x.nj)) AS cell
         |      FROM embeddings, cents WHERE vec_id < 5)""".stripMargin
    }.mkString(",\n")
    val assignCtes = assigns.map { a =>
      s"""ic$a AS (SELECT vec_id AS neighbor_id, embedding AS cv,
         |        unnest(list_transform(list_slice(${rankedSql("cv")}, 1, $a),
         |          x -> -x.nj)) AS cell
         |      FROM embeddings, cents)""".stripMargin
    }.mkString(",\n")
    val blocks = (for (a <- assigns; np <- probes) yield {
      s"""iscore${np}_$a AS (
         |  SELECT DISTINCT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS sim
         |  FROM iq$np JOIN ic$a USING (cell) WHERE query_id <> neighbor_id),
         |ivf${np}_$a AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rank FROM iscore${np}_$a) t
         |  WHERE rank <= $TopK),
         |r${np}_$a AS (SELECT $np AS nprobe, $a AS n_assign, e.query_id,
         |    $TopK AS k,
         |    CAST(count(i.neighbor_id) AS INTEGER) AS n_hit,
         |    count(i.neighbor_id)::DOUBLE / ${TopK}.0 AS recall_at_k
         |  FROM exact e LEFT JOIN ivf${np}_$a i USING (query_id, neighbor_id)
         |  GROUP BY e.query_id)""".stripMargin
    }).mkString(",\n")
    val unioned = (for (a <- assigns; np <- probes) yield
      s"SELECT * FROM r${np}_$a").mkString(" UNION ALL ")
    s"""WITH cents AS (SELECT $centsLit AS ct),
       |eq AS (SELECT vec_id AS query_id, embedding AS qv
       |       FROM embeddings WHERE vec_id < 5),
       |ec AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |escore AS (
       |  SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS sim
       |  FROM eq, ec WHERE query_id <> neighbor_id),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id) AS rank FROM escore) t
       |  WHERE rank <= $TopK),
       |$probeCtes,
       |$assignCtes,
       |$blocks
       |SELECT * FROM ($unioned) ORDER BY nprobe, n_assign, query_id""".stripMargin
  }

  /** e6/e6b likewise: one PQ-ADC oracle shape over (codebooks, ½‖c‖²
   * norms) literals. */
  private def pqOracleSql(booksLit: String, normsLit: String): String =
    s"""WITH cb AS (SELECT $booksLit AS cbs, $normsLit AS cn),
       |sub AS (SELECT vec_id,
       |  ${(0 until PqM).map(j =>
            s"list_slice(embedding, ${j * PqSubDim + 1}, ${j * PqSubDim + PqSubDim}) AS s$j")
            .mkString(",\n  ")}
       |  FROM embeddings),
       |enc AS (SELECT vec_id,
       |  [${(0 until PqM).map(pqCodeSql).mkString(",\n   ")}] AS codes
       |  FROM sub, cb),
       |q AS (SELECT vec_id AS query_id,
       |  [${(0 until PqM).map(j =>
            s"list_transform(range(1, ${PqCodes + 1}), c -> ${pqDotSql(s"cbs[${j + 1}][c]", s"s$j")})")
            .mkString(",\n   ")}] AS adct
       |  FROM sub, cb WHERE vec_id < 5),
       |scored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |    (${(0 until PqM).map(j => s"adct[${j + 1}][codes[${j + 1}]]").mkString(" + ")}) AS adc
       |  FROM q, enc e WHERE query_id <> e.vec_id)
       |SELECT query_id, rank, neighbor_id, adc FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc DESC, neighbor_id) AS rank FROM scored) t
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** Render a double so DuckDB lexes it as DOUBLE, not DECIMAL: inside a
   * list literal, plain decimals unify to DECIMAL(38,s) whose int128 →
   * double conversion is not correctly rounded for 17-digit values; an
   * exponent suffix pins the DOUBLE parse (strtod — exact round-trip). */
  private def dLit(d: Double): String = {
    val s = d.toString
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }

  private def doubleLit2(xs: Seq[Seq[Double]]): String =
    xs.map(_.map(dLit).mkString("[", ",", "]")).mkString("[", ",\n     ", "]")

  private def doubleLit3(xs: Seq[Seq[Seq[Double]]]): String =
    xs.map(_.map(_.map(dLit).mkString("[", ",", "]")).mkString("[", ",", "]"))
      .mkString("[", ",\n     ", "]")

  /**
   * Oracles that depend on TRAINED constants: the same SQL shapes as
   * e3/e6, with the k-means-trained centroid/codebook literals rendered
   * in. Training is deterministic (DECIMAL sums), so the literals here
   * equal the ones the Spark plan embedded — `Verify` merges these into
   * the dumped oracle_sql.json at the data dir it runs against.
   */
  val dynamicOracleSql: Map[String, (SparkSession, String) => String] = Map(
    "e3b_ivf_kmeans_topk" ->
      ((s, dir) => ivfOracleSql(doubleLit2(trainedCents(s, dir)))),
    "e9b_knn_graph_trained" ->
      ((s, dir) => ivfOracleSql(doubleLit2(trainedCents(s, dir)),
        qPred = "TRUE", topK = 3)),
    "e9c_knn_graph_scaled" ->
      ((s, dir) => {
        val cents = trainedCentsScaled(s, dir)
        ivfOracleSql(doubleLit2(cents), qPred = "TRUE", topK = 3,
          nCells = cents.size)
      }),
    // d10's oracle shape with the trained √n-cell centroids rendered in
    "d10b_semdedup_scaled" ->
      ((s, dir) => {
        val cents = trainedCentsScaled(s, dir)
        s"""WITH cents AS (SELECT ${doubleLit2(cents)} AS ct),
           |b AS (SELECT vec_id AS id, embedding AS v,
           |        CAST(-(${rankedSql("v", cents.size)})[1].nj - 1 AS INTEGER) AS cell
           |      FROM embeddings, cents),
           |d AS (SELECT DISTINCT y.id FROM b x JOIN b y USING (cell)
           |      WHERE x.id < y.id AND ${cosineSql("x.v", "y.v")} >= 0.40e0)
           |SELECT id, cell FROM b WHERE id NOT IN (SELECT id FROM d)
           |ORDER BY id""".stripMargin
      }),
    "e7b_ivfpq_trained_topk" -> ((s, dir) => {
      val books = trainedBooks(s, dir)
      ivfPqOracleSql(doubleLit2(trainedCents(s, dir)), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)))
    }),
    // the REBUILT form of e14: one whole-corpus index pass with the
    // SAME base-slice-trained literals the incremental plan froze
    "e14_incremental_index" -> ((s, dir) => {
      val books = trainedBooksBase(s, dir)
      ivfPqOracleSql(doubleLit2(trainedCentsBase(s, dir)), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)),
        qPred = s"(vec_id < 5 OR (vec_id >= $AdmitBoundary AND vec_id < ${AdmitBoundary + 3}))")
    }),
    // e20 nests the full e7b candidate query (topK widened to 3k) and
    // reranks by the e1-pinned exact cosine
    "e20_ivfpq_exact_rerank" -> ((s, dir) => {
      val books = trainedBooks(s, dir)
      rerankWrapSql(ivfPqOracleSql(doubleLit2(trainedCents(s, dir)),
        doubleLit3(books), doubleLit2(Similarity.pqCellNorms(books)),
        topK = RerankN))
    }),
    // e21 = the journey's rebuilt form: one whole-corpus index pass
    // under the frozen base constants with the SURGICAL split
    // assignment (e18's override), the tombstone slice excluded
    // (e17's cPred), queries probing the post-split table, 3k ADC
    // candidates reranked by exact cosine (e20's wrapper) — hash
    // equality against this is the proof the lifecycle verbs compose
    "e21_index_lifecycle_e2e" -> ((s, dir) => {
      val books = trainedBooksBase(s, dir)
      val oldCents = trainedCentsBase(s, dir)
      val (c, subs, newCents) = e21SplitState(s, dir)
      val n = oldCents.size
      val oldCell = s"-(${rankedSql("embedding")})[1].nj"
      rerankWrapSql(ivfPqOracleSql(doubleLit2(oldCents), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)),
        qPred = s"(vec_id < 4 OR (vec_id >= $AdmitBoundary AND vec_id < ${AdmitBoundary + 2}))",
        cPred = s"NOT (vec_id % $DeleteMod = 3)",
        extraCtes =
          s"""cents2 AS (SELECT ${doubleLit2(newCents)} AS ct2),
             |cents3 AS (SELECT ${doubleLit2(subs)} AS ct3),
             |""".stripMargin,
        fromExtra = ", cents2, cents3",
        cCell =
          s"""CASE WHEN $oldCell = ${c + 1}
             |    THEN CASE WHEN -(${rankedSql("embedding", 2, "ct3")})[1].nj = 1
             |         THEN ${c + 1} ELSE ${n + 1} END
             |    ELSE $oldCell END""".stripMargin,
        qRanked = rankedSql("embedding", n + 1, "ct2"),
        topK = RerankN))
    }),
    // e23 = the residual journey's rebuilt form: surviving corpus,
    // surgical cell assignment (e18's CASE over the base table + subs),
    // residuals and serving both against the POST-SPLIT table ct2 —
    // an oracle built from stale (pre-split) codes would mismatch
    // every moved row, so the hash pins the re-encode-on-move contract
    "e23_residual_lifecycle" -> (residualJourneyOracle _),
    // e24 = the SAME rebuilt form: the streamed-storage admission and
    // the fold are pure storage moves, so the journey's answer is
    // identical to e23's — one oracle pins both compositions
    "e24_residual_stream_index" -> (residualJourneyOracle _),
    // e25 = e17's rebuilt-over-survivors form under e16's query set:
    // the storage-level merge-on-read delete + fold must serve exactly
    // what an index built without the tombstoned rows serves
    "e25_store_tombstone_serve" -> ((s, dir) => {
      val books = trainedBooksBase(s, dir)
      ivfPqOracleSql(doubleLit2(trainedCentsBase(s, dir)), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)),
        qPred = s"(vec_id < 3 OR (vec_id >= $AdmitBoundary AND vec_id < ${AdmitBoundary + 2}))",
        cPred = s"NOT (vec_id % $DeleteMod = 3)")
    }),
    // e28 = e25's rebuilt-over-survivors form replicated under the
    // three serving tags: the version-pinned grace read, the current
    // read during grace, and the current read post-vacuum must all
    // serve the identical answer — time travel pins the VIEW, vacuum
    // moves only files
    "e28_store_time_travel" -> ((s, dir) => {
      val books = trainedBooksBase(s, dir)
      val body = ivfPqOracleSql(doubleLit2(trainedCentsBase(s, dir)),
        doubleLit3(books), doubleLit2(Similarity.pqCellNorms(books)),
        qPred = s"(vec_id < 3 OR (vec_id >= $AdmitBoundary AND vec_id < ${AdmitBoundary + 2}))",
        cPred = s"NOT (vec_id % $DeleteMod = 3)")
      s"""SELECT v.view, r.query_id, r.rank, r.neighbor_id, r.adc
         |FROM ($body) r
         |CROSS JOIN (VALUES ('v0_grace'), ('v1_grace'), ('v1_vacuumed')) v(view)
         |ORDER BY view, query_id, rank""".stripMargin
    }),
    // e33 = rebuilt-over-survivors under the OLD (base-trained)
    // literals for the v0 tags and the RETRAINED (survivor-trained)
    // literals for the v1 tags: the pinned reader's grace view is the
    // old index, the cutover view IS the fresh-trained rebuild, and
    // vacuum moves only files
    "e33_reindex_cutover" -> ((s, dir) => {
      val oldBooks = trainedBooksBase(s, dir)
      val newBooks = trainedBooksReindex(s, dir)
      val qPred = s"(vec_id < 3 OR (vec_id >= $AdmitBoundary AND vec_id < ${AdmitBoundary + 2}))"
      val cPred = s"NOT (vec_id % $DeleteMod = 3)"
      val oldBody = ivfPqOracleSql(doubleLit2(trainedCentsBase(s, dir)),
        doubleLit3(oldBooks), doubleLit2(Similarity.pqCellNorms(oldBooks)),
        qPred = qPred, cPred = cPred)
      val newBody = ivfPqOracleSql(doubleLit2(trainedCentsReindex(s, dir)),
        doubleLit3(newBooks), doubleLit2(Similarity.pqCellNorms(newBooks)),
        qPred = qPred, cPred = cPred)
      s"""SELECT v.view, r.query_id, r.rank, r.neighbor_id, r.adc
         |FROM ($oldBody) r
         |CROSS JOIN (VALUES ('v0_pre'), ('v0_grace')) v(view)
         |UNION ALL
         |SELECT v.view, r.query_id, r.rank, r.neighbor_id, r.adc
         |FROM ($newBody) r
         |CROSS JOIN (VALUES ('v1_cutover'), ('v1_vacuumed')) v(view)
         |ORDER BY view, query_id, rank""".stripMargin
    }),
    // e29 = the planner's budget-ranked integer-exact rules replayed
    // over the same frozen-quantizer cell assignment: occupancy from a
    // GROUP BY with empty cells kept, split = top-2 strictly-above-mean
    // by (occ DESC, cell), merge = the two lowest (occ, cell) rows when
    // the merged cell stays under the split bound — all as products,
    // never a float mean
    "e29_maintenance_plan" -> ((s, dir) =>
      planOracleBlock(trainedCentsBase(s, dir), "TRUE") +
        "\nORDER BY action, cell_a"),
    // w13 = one e29 block per admission prefix (wave k covers
    // vec_id % 3 <= k on top of the pre-admission slice), unioned with
    // the trigger's batch_id — the plan history the stream records
    "w13_stream_maintenance_plans" -> ((s, dir) => {
      val cents = trainedCentsBase(s, dir)
      val blocks = (0 until 3).map { k =>
        "(" + planOracleBlock(cents,
          s"(vec_id < $AdmitBoundary OR vec_id % 3 <= $k)",
          s"$k AS batch_id, ") + ")"
      }
      s"""SELECT batch_id, action, cell_a, cell_b, occupancy FROM (
         |${blocks.mkString("\nUNION ALL\n")}
         |) ORDER BY batch_id, action, cell_a""".stripMargin
    }),
    // e30 = the plan's verbs replayed surgically over the base
    // assignment in plan order: split members choose their 2-means side
    // (sub-centroid literals, ties to the first), merged members
    // relabel to the surviving slot, the merge shift renumbers every
    // higher cell — including the split-appended ones
    "e30_maintenance_apply" -> ((s, dir) => {
      val cents = trainedCentsBase(s, dir)
      val (splits, mergeOpt, _) = maintenancePlanState(s, dir)
      val constCols = s"${doubleLit2(cents)} AS ct" +:
        splits.zipWithIndex.map { case ((_, subs), i) =>
          s"${doubleLit2(subs)} AS s$i" }
      val passThrough = splits.indices.map(i => s", s$i").mkString
      val splitCase =
        if (splits.isEmpty) "cell_before"
        else "CASE " + splits.zipWithIndex.map { case ((c, _), i) =>
          s"""WHEN cell_before = $c THEN
             |    (CASE WHEN -(${rankedSql("embedding", 2, s"s$i")})[1].nj = 1
             |     THEN $c ELSE ${NCells + i} END)""".stripMargin
        }.mkString("\n  ") + " ELSE cell_before END"
      val mergeCase = mergeOpt.fold("cell1") { case (a, b) =>
        s"CASE WHEN cell1 = $b THEN $a WHEN cell1 > $b THEN cell1 - 1 ELSE cell1 END"
      }
      s"""WITH consts AS (SELECT ${constCols.mkString(",\n  ")}),
         |a0 AS (SELECT vec_id AS id, embedding$passThrough,
         |  (-(${rankedSql("embedding")})[1].nj - 1) AS cell_before
         |  FROM embeddings, consts),
         |a1 AS (SELECT id, cell_before, ($splitCase) AS cell1 FROM a0)
         |SELECT id, cell_before, ($mergeCase) AS cell_after FROM a1
         |ORDER BY id""".stripMargin
    }),
    // e31 = the plan-applied REBUILD: full-corpus assignment under the
    // frozen base quantizer with e30's composed surgical CASE on the
    // corpus side, probes against the post-maintenance table ct2 —
    // the journey (store admission, fold, planner verbs, write-back,
    // serve-from-storage) must hash-equal this closed form
    "e31_store_maintenance" -> ((s, dir) => {
      val books = trainedBooksBase(s, dir)
      val (cCell, extra, fromExtra, newCents) = maintenanceOracleParts(s, dir)
      ivfPqOracleSql(doubleLit2(trainedCentsBase(s, dir)), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)),
        extraCtes = extra,
        fromExtra = fromExtra,
        cCell = cCell,
        qRanked = rankedSql("embedding", newCents.size, "ct2"))
    }),
    // e32 = the same composed CASE under the residual oracle: residuals
    // AND serving both against the post-maintenance table ct2, so a
    // stale code beside any moved centroid — a split side, either
    // merged cell — would mismatch every one of its scores
    "e32_residual_maintenance" -> ((s, dir) => {
      val books = trainedResidualBooksBase(s, dir)
      val (cCell, extra, fromExtra, newCents) = maintenanceOracleParts(s, dir)
      residualOracleSql(doubleLit2(trainedCentsBase(s, dir)), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)),
        extraCtes = extra,
        fromExtra = fromExtra,
        cCell = cCell,
        serveCt = "ct2", serveN = newCents.size)
    }),
    // e22 = IndexIVFPQR: e19's fully-residualized candidate query
    // (widened to 3k) nested under the same exact-rerank wrapper
    "e22_ivfpqr_topk" -> ((s, dir) => {
      val books = trainedResidualBooks(s, dir)
      rerankWrapSql(residualOracleSql(doubleLit2(trainedCents(s, dir)),
        doubleLit3(books), doubleLit2(Similarity.pqCellNorms(books)),
        topK = RerankN))
    }),
    // e19 = the residual shape: both sides re-residualize against ct
    // before slicing; codes/ADC reuse the shared PQ fragments over the
    // residual slices
    "e19_ivfpq_residual_topk" -> ((s, dir) => {
      val books = trainedResidualBooks(s, dir)
      residualOracleSql(doubleLit2(trainedCents(s, dir)), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)))
    }),
    // e18's surgical form: corpus-side cell = old assignment except the
    // split cell's members, which choose between the two sub-centroids
    // (ties to the first); queries probe the post-split table (ct2).
    // Cell ids here are the oracle's own 1-based convention — only the
    // partition STRUCTURE must match the Spark plan, and it does:
    // oracle cell c+1 ↔ spark cell c (sub0), oracle n+1 ↔ spark n (sub1)
    "e18_cell_split" -> ((s, dir) => {
      val books = trainedBooks(s, dir)
      val (oldCents, c, subs, newCents) = splitState(s, dir)
      val n = oldCents.size
      val oldCell = s"-(${rankedSql("embedding")})[1].nj"
      ivfPqOracleSql(doubleLit2(oldCents), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)),
        extraCtes =
          s"""cents2 AS (SELECT ${doubleLit2(newCents)} AS ct2),
             |cents3 AS (SELECT ${doubleLit2(subs)} AS ct3),
             |""".stripMargin,
        fromExtra = ", cents2, cents3",
        cCell =
          s"""CASE WHEN $oldCell = ${c + 1}
             |    THEN CASE WHEN -(${rankedSql("embedding", 2, "ct3")})[1].nj = 1
             |         THEN ${c + 1} ELSE ${n + 1} END
             |    ELSE $oldCell END""".stripMargin,
        qRanked = rankedSql("embedding", n + 1, "ct2"))
    }),
    // e27 = e26's surgical CASE under the residual oracle: residuals
    // and serving both against the post-merge table ct2, so stale
    // codes beside the merged centroid — cellA's unmoved members
    // included — would mismatch every score
    "e27_residual_cell_merge" -> ((s, dir) => {
      val books = trainedResidualBooks(s, dir)
      val (oldCents, cA, cB, newCents) = mergeState(s, dir)
      val n = oldCents.size
      val oldCell = s"-(${rankedSql("embedding")})[1].nj"
      residualOracleSql(doubleLit2(oldCents), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)),
        extraCtes =
          s"""cents2 AS (SELECT ${doubleLit2(newCents)} AS ct2),
             |""".stripMargin,
        fromExtra = ", cents2",
        cCell =
          s"""CASE WHEN $oldCell = ${cB + 1} THEN ${cA + 1}
             |     WHEN $oldCell > ${cB + 1} THEN $oldCell - 1
             |     ELSE $oldCell END""".stripMargin,
        serveCt = "ct2", serveN = n - 1)
    }),
    // e26's surgical form: corpus-side cell = old assignment with
    // cellB's members relabeled into cellA and higher cells shifted
    // down; queries probe the post-merge table ct2 (size n−1, slot
    // cA+1 = the weighted merged centroid)
    "e26_cell_merge" -> ((s, dir) => {
      val books = trainedBooks(s, dir)
      val (oldCents, cA, cB, newCents) = mergeState(s, dir)
      val n = oldCents.size
      val oldCell = s"-(${rankedSql("embedding")})[1].nj"
      ivfPqOracleSql(doubleLit2(oldCents), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)),
        extraCtes =
          s"""cents2 AS (SELECT ${doubleLit2(newCents)} AS ct2),
             |""".stripMargin,
        fromExtra = ", cents2",
        cCell =
          s"""CASE WHEN $oldCell = ${cB + 1} THEN ${cA + 1}
             |     WHEN $oldCell > ${cB + 1} THEN $oldCell - 1
             |     ELSE $oldCell END""".stripMargin,
        qRanked = rankedSql("embedding", n - 1, "ct2"))
    }),
    // w10 = the batch search over the union of the streamed queries —
    // per-query results are micro-batch-assignment-independent
    "w10_stream_ann_serve" -> (streamServeOracle _),
    // w11 = the same rebuilt form as w10: serving from the live store
    // view (folded base ∪ unfolded delta tail) instead of a static
    // parquet must not move an answer — one oracle pins both paths
    "w11_stream_serve_from_store" -> (streamServeOracle _),
    // the REBUILT form of e17: index over only the SURVIVING corpus
    // (tombstoned slice excluded), same frozen base-trained literals —
    // hash-equality proves logical deletion lost and leaked nothing
    "e17_index_delete" -> ((s, dir) => {
      val books = trainedBooksBase(s, dir)
      ivfPqOracleSql(doubleLit2(trainedCentsBase(s, dir)), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)),
        cPred = s"NOT (vec_id % $DeleteMod = 3)")
    }),
    // e16 = e14's semantics with the admission streamed: same rebuilt
    // oracle shape, distinct query slice
    "e16_stream_index_admission" -> ((s, dir) => {
      val books = trainedBooksBase(s, dir)
      ivfPqOracleSql(doubleLit2(trainedCentsBase(s, dir)), doubleLit3(books),
        doubleLit2(Similarity.pqCellNorms(books)),
        qPred = s"(vec_id < 3 OR (vec_id >= $AdmitBoundary AND vec_id < ${AdmitBoundary + 2}))")
    }),
    // d15b: d15's oracle shape with the trained √n-cell centroid
    // literals over the text vectors rendered in
    "d15b_text_semdedup_scaled" -> ((s, dir) => {
      val cents = d15Cents(s, dir)
      s"""WITH cents AS (SELECT ${doubleLit2(cents)} AS ct),
         |$hashedEmbCtes,
         |b AS (SELECT doc_id AS id, v,
         |        CAST(-(${rankedSql("v", cents.size)})[1].nj - 1 AS INTEGER) AS cell
         |      FROM hv, cents),
         |dd AS (SELECT DISTINCT y.id FROM b x JOIN b y USING (cell)
         |      WHERE x.id < y.id AND ${cosineSql("x.v", "y.v")} >= 0.9e0)
         |SELECT id, cell FROM b WHERE id NOT IN (SELECT id FROM dd)
         |ORDER BY id""".stripMargin
    }),
    // d14b: the d14 oracle shape with the corpus-scaled plane count's
    // literals rendered in (deterministic — a count picks nPlanes)
    "d14b_text_neardup_scaled" -> ((s, dir) => {
      val nP = d14Planes(s, dir)
      val pls = Similarity.hyperplanes(nP, Dim)
        .map(_.mkString("[", ",", "]")).mkString("[", ",\n     ", "]")
      s"""WITH planes AS (SELECT $pls AS pl),
         |$hashedEmbCtes,
         |b AS (SELECT doc_id AS id, v, ${bucketSqlN("v", nP)} AS bucket
         |      FROM hv, planes)
         |SELECT a.id AS ida, b2.id AS idb, ${cosineSql("a.v", "b2.v")} AS sim
         |FROM b a JOIN b b2 USING (bucket) WHERE a.id < b2.id
         |ORDER BY sim DESC, ida, idb LIMIT 20""".stripMargin
    }),
    "e13b_ann_recall_trained" ->
      ((s, dir) => recallCurveOracleSql(doubleLit2(trainedCents(s, dir)),
        RecallProbes, RecallAssigns)),
    "e6b_pq_trained_topk" -> ((s, dir) => {
      val books = trainedBooks(s, dir)
      pqOracleSql(doubleLit3(books), doubleLit2(Similarity.pqCellNorms(books)))
    }),
    // w17: the semantic leg renders at the corpus-scaled plane dial
    // (deterministic — a count picks nPlanes, exactly d14b's move) with
    // the frozen seed-mean bucketing center as a literal
    "w17_stream_semantic_admission" ->
      ((s, dir) => w17OracleSql(d14Planes(s, dir),
        semCenterOver(s, dir, 400L))),
    // w18: the complete multimodal gate — same dial, center over ITS
    // seed (doc_id < 300, the media-benchmark-disjoint cutoff)
    "w18_stream_full_admission" ->
      ((s, dir) => w18OracleSql(d14Planes(s, dir),
        semCenterOver(s, dir, 300L))),
    // l14 = w18's verdict through the REST lifecycle: one shared oracle
    // (same fixture waves, same gate core) plus the lifecycle-evidence
    // literals (l13's shape)
    "l14_admission_pipeline_full" ->
      // concatenated, NOT one stripMargin template: the embedded w18 SQL
      // carries `||` concat operators at line starts, which stripMargin
      // would truncate into bare `|` binder errors
      ((s, dir) =>
        """SELECT doc_id, exact_dup, near_dup, quality_keep, n_shingles,
          |  n_known, novelty, contaminated, contained_dup, semantic_dup,
          |  image_dup, audio_dup, media_contaminated, admitted,
          |  'RUNNING' AS status_after_register,
          |  'PAUSED' AS status_while_paused,
          |  'RUNNING' AS status_after_resume,
          |  TRUE AS deregistered
          |FROM (
          |""".stripMargin +
        w18OracleSql(d14Planes(s, dir), semCenterOver(s, dir, 300L)) +
        "\n) ORDER BY doc_id"))

  /** e7/e7b/e14 share one oracle shape: coarse-centroid and codebook
   * literals differ (fixed grid vs trained doubles), and e14 widens the
   * query predicate across its admission boundary. The index CTE always
   * covers ALL embeddings in one pass — for e14 that is the REBUILT
   * index the incremental Spark plan must equal. */
  private def ivfPqOracleSql(centsLit: String, booksLit: String,
                             normsLit: String,
                             qPred: String = "vec_id < 5",
                             cPred: String = "TRUE",
                             extraCtes: String = "",
                             fromExtra: String = "",
                             cCell: String = null,
                             qRanked: String = null,
                             topK: Int = TopK): String = {
    // e18 overrides the corpus-side cell expression (surgical split
    // assignment) and the query-side probe ranking (post-split
    // centroid table); every other oracle keeps the defaults
    val cc = Option(cCell).getOrElse(s"-(${rankedSql("embedding")})[1].nj")
    val qr = Option(qRanked).getOrElse(rankedSql("embedding"))
    s"""WITH cents AS (SELECT $centsLit AS ct),
       |${extraCtes}cb AS (SELECT $booksLit AS cbs, $normsLit AS cn),
       |sub AS (SELECT vec_id, embedding,
       |  ${(0 until PqM).map(j =>
              s"list_slice(embedding, ${j * PqSubDim + 1}, ${j * PqSubDim + PqSubDim}) AS s$j")
              .mkString(",\n  ")}
       |  FROM embeddings),
       |c AS (SELECT vec_id AS neighbor_id,
       |  ($cc) AS cell,
       |  [${(0 until PqM).map(pqCodeSql).mkString(",\n   ")}] AS codes
       |  FROM sub, cents$fromExtra, cb WHERE $cPred),
       |q AS (SELECT vec_id AS query_id,
       |  unnest(list_transform(list_slice($qr, 1, $NProbe),
       |    x -> -x.nj)) AS cell,
       |  [${(0 until PqM).map(j =>
              s"list_transform(range(1, ${PqCodes + 1}), c -> ${pqDotSql(s"cbs[${j + 1}][c]", s"s$j")})")
              .mkString(",\n   ")}] AS adct
       |  FROM sub, cents$fromExtra, cb WHERE $qPred),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    (${(0 until PqM).map(j => s"adct[${j + 1}][codes[${j + 1}]]").mkString(" + ")}) AS adc
       |  FROM q JOIN c USING (cell) WHERE query_id <> neighbor_id)
       |SELECT query_id, rank, neighbor_id, adc FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc DESC, neighbor_id) AS rank FROM scored) t
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** e19's oracle: codes quantize the corpus RESIDUAL
   * `rv[i] = embedding[i]::DOUBLE − ct[cell][i]` (slices named `s$j`
   * so [[pqCodeSql]] applies unchanged); search scores the
   * inner-product decomposition — an exact `dot(q, serveCt[cell])`
   * (sequential fold, the same shape as [[dotSql]]) plus the raw
   * query's ADC over the residual codebooks. e23 overrides the
   * corpus-side cell (surgical split CASE), the residual/serving
   * centroid table (`serveCt` — the post-split table the codes are
   * encoded against), the corpus predicate (tombstones) and the probe
   * width; every other oracle keeps the defaults (`serveCt` = `ct`). */
  /** The streamed-serving rebuilt-form oracle (w10 AND w11): the plain
   * batch search over the union of all streamed queries against the
   * full admitted corpus — per-query results are independent of both
   * micro-batch assignment and WHERE the index rows were read from. */
  private def streamServeOracle(s: SparkSession, dir: String): String = {
    val books = trainedBooksBase(s, dir)
    ivfPqOracleSql(doubleLit2(trainedCentsBase(s, dir)), doubleLit3(books),
      doubleLit2(Similarity.pqCellNorms(books)),
      qPred = "vec_id < 6")
  }

  /** The residual journey's rebuilt-form oracle (e23 AND e24): the
   * surviving corpus re-assigned through the surgical split CASE,
   * residuals and serving against the post-split table. Shared because
   * the two gates differ only in HOW admission reached storage (batch
   * union vs streamed delta + fold) — the answer must not. */
  private def residualJourneyOracle(s: SparkSession, dir: String): String = {
    val books = trainedResidualBooksBase(s, dir)
    val oldCents = trainedCentsBase(s, dir)
    val (c, subs, newCents) = e21SplitState(s, dir)
    val n = oldCents.size
    val oldCell = s"-(${rankedSql("embedding")})[1].nj"
    residualOracleSql(doubleLit2(oldCents), doubleLit3(books),
      doubleLit2(Similarity.pqCellNorms(books)),
      qPred = s"(vec_id < 4 OR (vec_id >= $AdmitBoundary AND vec_id < ${AdmitBoundary + 2}))",
      extraCtes =
        s"""cents2 AS (SELECT ${doubleLit2(newCents)} AS ct2),
           |cents3 AS (SELECT ${doubleLit2(subs)} AS ct3),
           |""".stripMargin,
      fromExtra = ", cents2, cents3",
      cCell =
        s"""CASE WHEN $oldCell = ${c + 1}
           |    THEN CASE WHEN -(${rankedSql("embedding", 2, "ct3")})[1].nj = 1
           |         THEN ${c + 1} ELSE ${n + 1} END
           |    ELSE $oldCell END""".stripMargin,
      cPred = s"NOT (vec_id % $DeleteMod = 3)",
      serveCt = "ct2", serveN = n + 1)
  }

  private def residualOracleSql(centsLit: String, booksLit: String,
                                normsLit: String,
                                qPred: String = "vec_id < 5",
                                topK: Int = TopK,
                                extraCtes: String = "",
                                fromExtra: String = "",
                                cCell: String = null,
                                cPred: String = "TRUE",
                                serveCt: String = "ct",
                                serveN: Int = NCells): String = {
    val cc = Option(cCell).getOrElse(s"-(${rankedSql("embedding")})[1].nj")
    val rvSql = s"""list_transform(range(1, ${Dim + 1}),
                   |    i -> embedding[i]::DOUBLE - $serveCt[cell][i])""".stripMargin
    def slices(src: String) = (0 until PqM).map(j =>
      s"list_slice($src, ${j * PqSubDim + 1}, ${j * PqSubDim + PqSubDim}) AS s$j")
      .mkString(",\n  ")
    s"""WITH cents AS (SELECT $centsLit AS ct),
       |${extraCtes}cb AS (SELECT $booksLit AS cbs, $normsLit AS cn),
       |cbase AS (SELECT vec_id, embedding,
       |  ($cc) AS cell
       |  FROM embeddings, cents$fromExtra WHERE $cPred),
       |cres AS (SELECT vec_id, cell, $rvSql AS rv FROM cbase, cents$fromExtra),
       |csub AS (SELECT vec_id, cell,
       |  ${slices("rv")}
       |  FROM cres),
       |c AS (SELECT vec_id AS neighbor_id, cell,
       |  [${(0 until PqM).map(pqCodeSql).mkString(",\n   ")}] AS codes
       |  FROM csub, cb),
       |qbase AS (SELECT vec_id AS query_id, embedding,
       |  unnest(list_transform(list_slice(${rankedSql("embedding", serveN, serveCt)}, 1, $NProbe),
       |    x -> -x.nj)) AS cell
       |  FROM embeddings, cents$fromExtra WHERE $qPred),
       |q AS (SELECT query_id, cell,
       |  ${dotSql("embedding", s"$serveCt[cell]")} AS cent_dot,
       |  [${(0 until PqM).map(j =>
              s"list_transform(range(1, ${PqCodes + 1}), c -> ${pqDotSql(s"cbs[${j + 1}][c]", s"sq$j")})")
              .mkString(",\n   ")}] AS adct
       |  FROM (SELECT query_id, cell, embedding,
       |    ${(0 until PqM).map(j =>
              s"list_slice(embedding, ${j * PqSubDim + 1}, ${j * PqSubDim + PqSubDim}) AS sq$j")
              .mkString(",\n    ")}
       |    FROM qbase) qs, cents$fromExtra, cb),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    (cent_dot + ${(0 until PqM).map(j => s"adct[${j + 1}][codes[${j + 1}]]").mkString(" + ")}) AS adc
       |  FROM q JOIN c USING (cell) WHERE query_id <> neighbor_id)
       |SELECT query_id, rank, neighbor_id, adc FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc DESC, neighbor_id) AS rank FROM scored) t
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** The exact-rerank wrapper (e20's outer shape, shared by every
   * two-stage oracle): nest ANY stage-1 candidate query and rerank its
   * `(query_id, neighbor_id)` pairs by the e1-pinned exact cosine. */
  private def rerankWrapSql(inner: String, topK: Int = TopK): String =
    s"""SELECT query_id, rank, neighbor_id, sim FROM (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM (
       |    SELECT c.query_id, c.neighbor_id,
       |      ${cosineSql("q.embedding", "x.embedding")} AS sim
       |    FROM ($inner) c
       |    JOIN embeddings q ON q.vec_id = c.query_id
       |    JOIN embeddings x ON x.vec_id = c.neighbor_id) s0) t
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  /** x23/d14's hashed-embedding CTE chain: per-doc token hashes, then
   * the dim-wide signed-count vector (bucket = h mod dim, sign = hash
   * bit 30 — mirrors [[TextAnalysis.hashedEmbedding]] exactly; the
   * counts are small integers, so DOUBLE arithmetic is exact). */
  private def hashedEmbCtesOver(tbl: String) =
    s"""hsx AS (SELECT doc_id,
       |  list_transform(regexp_extract_all(lower(text), '\\S+'),
       |    t -> ${h60("t")}) AS hs
       |  FROM $tbl),
       |hv AS (SELECT doc_id, len(hs) AS n_tokens,
       |  list_transform(range(0, $Dim), i ->
       |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(hs, h ->
       |      CASE WHEN h % $Dim = i
       |        THEN (CASE WHEN (h >> 30) & 1 = 0 THEN 1.0 ELSE -1.0 END)
       |        ELSE 0.0 END)), (a, x) -> a + x)) AS v
       |  FROM hsx)""".stripMargin

  private lazy val hashedEmbCtes = hashedEmbCtesOver("documents")

  private def bucketSql(vec: String) = bucketSqlN(vec, NPlanes)

  private def bucketSqlN(vec: String, nPlanes: Int) =
    (0 until nPlanes).map { j =>
      s"CASE WHEN (${dotSql(s"pl[${j + 1}]", vec)}) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Shared by d6 (min-label propagation) and d8 (star contraction):
   * both produce cluster id = component minimum over the same LSH
   * candidate pairs. */
  private lazy val ccClosureOracleSql =
    s"""WITH RECURSIVE $minhashPipelineSql,
       |pairs AS (SELECT DISTINCT doc_a AS u, doc_b AS v FROM cand),
       |edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |lab AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |        FROM reach GROUP BY u)
       |SELECT l.doc_id, l.cluster_id, c.cluster_size
       |FROM lab l JOIN (SELECT cluster_id, count(*) AS cluster_size
       |                 FROM lab GROUP BY cluster_id) c USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** e10: the greedy MMR rerank unrolled into k generated layers —
   * layer i picks argmax(λ·rel − (1−λ)·max-penalty-vs-picks-1..i−1),
   * with the penalty join and NOT EXISTS exclusion over the union of
   * the earlier layers. λ and 1−λ render via [[dLit]] so both engines
   * fold the identical doubles. */
  private lazy val mmrOracleSql: String = {
    val lam = dLit(MmrLambda)
    val oml = dLit(1.0 - MmrLambda)
    val layers = (2 to MmrK).map { i =>
      val selU = (1 until i).map(j => s"SELECT query_id, pick FROM s$j")
        .mkString(" UNION ALL ")
      s"""sel$i AS ($selU),
         |p$i AS (
         |  SELECT r.query_id, r.cand, r.rel, max(p.psim) AS pen
         |  FROM rel r
         |  JOIN pair p ON p.query_id = r.query_id AND p.a = r.cand
         |  JOIN sel$i s ON s.query_id = p.query_id AND s.pick = p.b
         |  WHERE NOT EXISTS (SELECT 1 FROM sel$i x
         |                    WHERE x.query_id = r.query_id AND x.pick = r.cand)
         |  GROUP BY r.query_id, r.cand, r.rel),
         |s$i AS (
         |  SELECT query_id, cand AS pick, score, $i AS step FROM (
         |    SELECT query_id, cand, $lam * rel - $oml * pen AS score,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY $lam * rel - $oml * pen DESC, cand) AS rk
         |    FROM p$i) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val finalU = (1 to MmrK).map(j => s"SELECT * FROM s$j").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS cand, embedding AS cv FROM embeddings),
       |rel0 AS (
       |  SELECT query_id, cand, ${cosineSql("qv", "cv")} AS rel
       |  FROM q, c WHERE query_id <> cand),
       |rel AS (SELECT query_id, cand, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cand) AS rk FROM rel0) t WHERE rk <= $TopK),
       |vv AS (SELECT vec_id AS cand, embedding AS v FROM embeddings),
       |pair AS (
       |  SELECT r1.query_id, r1.cand AS a, r2.cand AS b,
       |    ${cosineSql("v1.v", "v2.v")} AS psim
       |  FROM rel r1 JOIN vv v1 ON r1.cand = v1.cand
       |  JOIN rel r2 ON r1.query_id = r2.query_id AND r1.cand <> r2.cand
       |  JOIN vv v2 ON r2.cand = v2.cand),
       |s1 AS (
       |  SELECT query_id, cand AS pick, $lam * rel AS score, 1 AS step FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cand) AS rk FROM rel) t WHERE rk = 1),
       |$layers
       |SELECT query_id, pick, score, step FROM ($finalU) u
       |ORDER BY query_id, step""".stripMargin
  }

  /** The x2/x15 feature CTE and the generated classifier head — shared
   * by the x15 oracle and the x18 funnel's quality stage. The head is
   * generated from the SAME weight constants the Spark plan folds in
   * (left-associative, like Catalyst). */
  private lazy val classifierZSql = TextAnalysis.QualityWeights.map { case (n, w) =>
    val f = if (n == "n_words") s"$n::DOUBLE" else n
    s"(${w}e0) * $f"
  }.mkString(s"(${TextAnalysis.QualityBias}e0) + ", " + ", "")

  private def qualityFeaturesCteOver(tbl: String) =
    s"""f AS (
       |  SELECT doc_id,
       |    len($toksSql)::BIGINT AS n_words,
       |    list_sum(list_transform($toksSql, t -> length(t)))::DOUBLE
       |      / len($toksSql)::DOUBLE AS mean_word_len,
       |    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
       |      / length(text)::DOUBLE AS punct_ratio,
       |    len(list_filter($toksSql, t -> list_contains($stopwordsSql, lower(t))))::DOUBLE
       |      / len($toksSql)::DOUBLE AS stopword_ratio,
       |    len(list_distinct($toksSql))::DOUBLE / len($toksSql)::DOUBLE AS distinct_ratio
       |  FROM $tbl)""".stripMargin

  private lazy val qualityFeaturesCte = qualityFeaturesCteOver("documents")

  /** The d12 CTE chain up to `lab` (doc_id → cluster minimum over the
   * VERIFIED near-dup pairs) — shared by the d12 oracle and the x18
   * funnel's near-dedup stage. */
  private lazy val nearDedupLabCtes =
    s"""$minhashPipelineSql,
       |cpairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
       |sets AS (SELECT doc_id AS _id, $shingleHashesSql AS s
       |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents)),
       |vpairs AS (
       |  SELECT doc_a AS u, doc_b AS v
       |  FROM cpairs JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id
       |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
       |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5),
       |edges AS (SELECT u, v FROM vpairs UNION SELECT v AS u, u AS v FROM vpairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |lab AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |        FROM reach GROUP BY u)""".stripMargin

  /** The m6 closed-form aHash CTE chain over the gradient pack, ending
   * in `hh(doc_id, hash_hi, hash_lo)` — shared by the m6 oracle and the
   * m8 document-level verdict. */
  private lazy val gradientPhashCtes =
    """d AS (
      |  SELECT doc_id, 1 + length(text) % 16 AS w,
      |    1 + length(text) % 12 AS h, length(text) % 200 AS a
      |  FROM documents),
      |g AS (SELECT doc_id, a,
      |  list_transform(range(0, 8), i -> (i * w) // 8) AS xs,
      |  list_transform(range(0, 8), j -> (j * h) // 8) AS ys
      |  FROM d),
      |s AS (SELECT doc_id, a, xs, ys,
      |  64 * a + 8 * list_sum(xs) + 8 * list_sum(ys) AS total FROM g),
      |hh AS (SELECT doc_id,
      |  CAST(list_sum(flatten(list_transform(range(4, 8), j ->
      |    list_transform(range(0, 8), i ->
      |      CASE WHEN 64 * (a + xs[i + 1] + ys[j + 1]) >= total
      |        THEN (1::BIGINT << (j * 8 + i - 32)) ELSE 0::BIGINT END))))
      |    AS BIGINT) AS hash_hi,
      |  CAST(list_sum(flatten(list_transform(range(0, 4), j ->
      |    list_transform(range(0, 8), i ->
      |      CASE WHEN 64 * (a + xs[i + 1] + ys[j + 1]) >= total
      |        THEN (1::BIGINT << (j * 8 + i)) ELSE 0::BIGINT END))))
      |    AS BIGINT) AS hash_lo
      |  FROM s)""".stripMargin

  /** The m7 closed-form chain over the textured planted corpus
   * (originals + bumped shifted-id clones of every 17th doc): texture,
   * bump clamp, aHash bits, band keys, hot-bucket cap, banded join,
   * exact popcount verify — ending in `tp(ida, idb, hamming)` and with
   * the full member list in `par(mid, ...)`. Shared by the m7 pair
   * oracle and the m13 cluster-verdict oracle. */
  private lazy val texturedNearDupCtes =
    s"""par AS (
       |  SELECT doc_id AS mid, length(text) AS len, 0 AS bump FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, length(text), $M7Bump FROM documents
       |  WHERE doc_id % 17 = 0),
       |tb AS (
       |  SELECT mid, bump,
       |    (len + 31 * (mid % 1000000)) % 200 AS a,
       |    3 + 2 * ((len + (mid % 1000000)) % 13) AS p1,
       |    5 + 2 * ((len + 3 * (mid % 1000000)) % 11) AS p2
       |  FROM par),
       |tg AS (SELECT mid,
       |  flatten(list_transform(range(0, 8), j ->
       |    list_transform(range(0, 8), i ->
       |      CASE WHEN (i = 1 AND j = 1) OR (i = 3 AND j = 3)
       |             OR (i = 5 AND j = 7)
       |        THEN least((a + (2 * i) * p1 + ((j * 12) // 8) * p2) % 251
       |               + bump, 250)
       |        ELSE (a + (2 * i) * p1 + ((j * 12) // 8) * p2) % 251
       |      END))) AS sv
       |  FROM tb),
       |tt AS (SELECT mid, sv, list_sum(sv) AS total FROM tg),
       |thh AS (SELECT mid,
       |  CAST(list_sum(list_transform(range(32, 64), p ->
       |    CASE WHEN 64 * sv[p + 1] >= total
       |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
       |    AS hash_hi,
       |  CAST(list_sum(list_transform(range(0, 32), p ->
       |    CASE WHEN 64 * sv[p + 1] >= total
       |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
       |    AS hash_lo
       |  FROM tt),
       |tband AS (
       |  SELECT mid, hash_hi, hash_lo, 0 AS band, hash_lo & 65535 AS bkey
       |  FROM thh
       |  UNION ALL SELECT mid, hash_hi, hash_lo, 1, (hash_lo >> 16) & 65535 FROM thh
       |  UNION ALL SELECT mid, hash_hi, hash_lo, 2, hash_hi & 65535 FROM thh
       |  UNION ALL SELECT mid, hash_hi, hash_lo, 3, (hash_hi >> 16) & 65535 FROM thh),
       |tok AS (SELECT band, bkey FROM tband
       |        GROUP BY 1, 2 HAVING count(*) <= $M7MaxBucket),
       |tbf AS (SELECT b.* FROM tband b JOIN tok USING (band, bkey)),
       |tp AS (
       |  SELECT a.mid AS ida, b.mid AS idb,
       |    min(bit_count(xor(a.hash_hi, b.hash_hi))
       |      + bit_count(xor(a.hash_lo, b.hash_lo)))::INTEGER AS hamming
       |  FROM tbf a JOIN tbf b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.mid < b.mid GROUP BY 1, 2)""".stripMargin

  /** The m10 closed-form chain over the planted audio corpus
   * (originals + window-perturbed shifted-id clones of every 13th
   * doc): PCM synthesis with the perturbation additive, window
   * energies, fingerprint bits, band keys, hot-bucket cap, banded
   * join — ending in `tp(ida, idb, hamming)` with the member list in
   * `par(mid, ...)`. Shared by the m10 pair oracle and the m14
   * cluster-verdict oracle. */
  private lazy val audioNearDupCtes =
    s"""par AS (
       |  SELECT doc_id AS mid, length(text) AS len, 0 AS pert FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, length(text), 1 FROM documents
       |  WHERE doc_id % 13 = 0),
       |d AS (SELECT mid, 1 + len % 240 AS n,
       |  (len * 131) % 65521 AS a, pert FROM par),
       |e AS (SELECT mid,
       |  list_transform(range(0, 65), w ->
       |    list_reduce(list_prepend(0::BIGINT,
       |      list_transform(range((w * n) // 65, ((w + 1) * n) // 65),
       |        j -> abs(((a + j * 7919 +
       |            CASE WHEN pert = 1 AND w IN (${M10Windows.mkString(", ")})
       |              THEN $M10Delta ELSE 0 END) % 65521) - 32760)::BIGINT)),
       |      (x, y) -> x + y)) AS es
       |  FROM d),
       |hh AS (SELECT mid,
       |  CAST(list_sum(list_transform(range(32, 64), p ->
       |    CASE WHEN es[p + 2] > es[p + 1]
       |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
       |    AS fp_hi,
       |  CAST(list_sum(list_transform(range(0, 32), p ->
       |    CASE WHEN es[p + 2] > es[p + 1]
       |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
       |    AS fp_lo
       |  FROM e),
       |tband AS (
       |  SELECT mid, fp_hi, fp_lo, 0 AS band, fp_lo & 65535 AS bkey
       |  FROM hh
       |  UNION ALL SELECT mid, fp_hi, fp_lo, 1, (fp_lo >> 16) & 65535 FROM hh
       |  UNION ALL SELECT mid, fp_hi, fp_lo, 2, fp_hi & 65535 FROM hh
       |  UNION ALL SELECT mid, fp_hi, fp_lo, 3, (fp_hi >> 16) & 65535 FROM hh),
       |tok AS (SELECT band, bkey FROM tband
       |        GROUP BY 1, 2 HAVING count(*) <= $M10MaxBucket),
       |tbf AS (SELECT b.* FROM tband b JOIN tok USING (band, bkey)),
       |tp AS (
       |  SELECT a.mid AS ida, b.mid AS idb,
       |    min(bit_count(xor(a.fp_hi, b.fp_hi))
       |      + bit_count(xor(a.fp_lo, b.fp_lo)))::INTEGER AS hamming
       |  FROM tbf a JOIN tbf b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.mid < b.mid GROUP BY 1, 2)""".stripMargin

  /** The m12 closed-form chain over the planted video corpus
   * (originals + re-levelled AND window-perturbed shifted-id clones of
   * every 19th doc): luma synthesis with the brightness shift and the
   * perturbation additive, 65 windowed sums + span sizes, the
   * cross-multiplied mean-compare fingerprint bits (the shift cancels
   * exactly), band keys, hot-bucket cap, banded join — ending in
   * `tp(ida, idb, hamming)` with the member list in `par(mid, ...)`.
   * Shared by the m12 pair oracle and the m15 cluster-verdict oracle. */
  private lazy val videoNearDupCtes =
    s"""par AS (
       |  SELECT doc_id AS mid, length(text) AS len, 0 AS pert FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, length(text), 1 FROM documents
       |  WHERE doc_id % 19 = 0),
       |d AS (SELECT mid, 2 * (1 + len % 6) AS wd, 2 * (1 + len % 4) AS ht,
       |  1 + len % 5 AS nf, len % 180 AS a, pert FROM par),
       |dn AS (SELECT mid, wd, ht, nf, a, pert,
       |  wd * ht * nf AS n, wd * ht AS fsz FROM d),
       |e AS (SELECT mid,
       |  list_transform(range(0, 65), w ->
       |    list_reduce(list_prepend(0::BIGINT,
       |      list_transform(range((w * n) // 65, ((w + 1) * n) // 65),
       |        k -> (a + pert * $M12Shift
       |              + CASE WHEN pert = 1 AND w IN (${M12Windows.mkString(", ")})
       |                  THEN $M12Delta ELSE 0 END
       |              + ((k % fsz) % wd) + ((k % fsz) // wd)
       |              + 3 * (k // fsz))::BIGINT)),
       |      (x, y) -> x + y)) AS es,
       |  list_transform(range(0, 65), w ->
       |    (((w + 1) * n) // 65 - (w * n) // 65)::BIGINT) AS ss
       |  FROM dn),
       |hh AS (SELECT mid,
       |  CAST(list_sum(list_transform(range(32, 64), p ->
       |    CASE WHEN es[p + 2] * ss[p + 1] > es[p + 1] * ss[p + 2]
       |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
       |    AS fp_hi,
       |  CAST(list_sum(list_transform(range(0, 32), p ->
       |    CASE WHEN es[p + 2] * ss[p + 1] > es[p + 1] * ss[p + 2]
       |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
       |    AS fp_lo
       |  FROM e),
       |tband AS (
       |  SELECT mid, fp_hi, fp_lo, 0 AS band, fp_lo & 65535 AS bkey
       |  FROM hh
       |  UNION ALL SELECT mid, fp_hi, fp_lo, 1, (fp_lo >> 16) & 65535 FROM hh
       |  UNION ALL SELECT mid, fp_hi, fp_lo, 2, fp_hi & 65535 FROM hh
       |  UNION ALL SELECT mid, fp_hi, fp_lo, 3, (fp_hi >> 16) & 65535 FROM hh),
       |tok AS (SELECT band, bkey FROM tband
       |        GROUP BY 1, 2 HAVING count(*) <= $M12MaxBucket),
       |tbf AS (SELECT b.* FROM tband b JOIN tok USING (band, bkey)),
       |tp AS (
       |  SELECT a.mid AS ida, b.mid AS idb,
       |    min(bit_count(xor(a.fp_hi, b.fp_hi))
       |      + bit_count(xor(a.fp_lo, b.fp_lo)))::INTEGER AS hamming
       |  FROM tbf a JOIN tbf b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.mid < b.mid GROUP BY 1, 2)""".stripMargin

  /** The m9 closed-form audio-fingerprint CTE chain over the PCM
   * synthesis, ending in `ahh(doc_id, fp_hi, fp_lo)` — shared by the
   * m9 oracle and the m8b tri-modal verdict (names prefixed `a` so the
   * chain composes beside `gradientPhashCtes`' d/hh). */
  private lazy val audioFpCtes =
    """ad AS (
      |  SELECT doc_id, 1 + length(text) % 240 AS n,
      |    (length(text) * 131) % 65521 AS a
      |  FROM documents),
      |ae AS (SELECT doc_id,
      |  list_transform(range(0, 65), w ->
      |    list_reduce(list_prepend(0::BIGINT,
      |      list_transform(range((w * n) // 65, ((w + 1) * n) // 65),
      |        j -> abs(((a + j * 7919) % 65521) - 32760)::BIGINT)),
      |      (x, y) -> x + y)) AS es
      |  FROM ad),
      |ahh AS (SELECT doc_id,
      |  CAST(list_sum(list_transform(range(32, 64), p ->
      |    CASE WHEN es[p + 2] > es[p + 1]
      |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
      |    AS fp_hi,
      |  CAST(list_sum(list_transform(range(0, 32), p ->
      |    CASE WHEN es[p + 2] > es[p + 1]
      |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
      |    AS fp_lo
      |  FROM ae)""".stripMargin

  /** d12: the composed pipeline — candidates, exact-Jaccard verify,
   * closure over VERIFIED pairs, left join back to every document. */
  private lazy val nearDedupCorpusOracleSql =
    s"""WITH RECURSIVE $nearDedupLabCtes
       |SELECT d.doc_id,
       |  coalesce(l.cluster_id, d.doc_id) AS cluster_id,
       |  (coalesce(l.cluster_id, d.doc_id) = d.doc_id) AS kept
       |FROM documents d LEFT JOIN lab l USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** x18: the funnel oracle — lang/quality flags from the shared CTEs,
   * exact-dedup winners via GROUP BY text among stage-3 survivors,
   * near-dedup survivors from the shared d12 `lab` closure, then one
   * aggregate row per cumulative stage. */
  private lazy val curationFunnelOracleSql =
    s"""WITH RECURSIVE $nearDedupLabCtes,
       |scored AS (SELECT doc_id, $langScoreSql FROM documents),
       |lang AS (SELECT doc_id, $langGuessSql AS lg FROM scored),
       |$qualityFeaturesCte,
       |z AS (SELECT doc_id, $classifierZSql AS logit FROM f),
       |base AS (
       |  SELECT d.doc_id, d.text, len($toksSql)::BIGINT AS n_tok,
       |    lang.lg, z.logit
       |  FROM documents d JOIN lang USING (doc_id) JOIN z USING (doc_id)),
       |k2 AS (SELECT * FROM base WHERE lg <> 'und'),
       |k3 AS (SELECT * FROM k2 WHERE logit >= 0.0e0),
       |win AS (SELECT min(doc_id) AS doc_id FROM k3 GROUP BY text),
       |k4 AS (SELECT b.* FROM k3 b JOIN win USING (doc_id)),
       |keep5 AS (SELECT d.doc_id FROM documents d LEFT JOIN lab l USING (doc_id)
       |          WHERE coalesce(l.cluster_id, d.doc_id) = d.doc_id),
       |k5 AS (SELECT b.* FROM k4 b JOIN keep5 USING (doc_id))
       |SELECT 1 AS stage, 'all' AS name, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM base
       |UNION ALL SELECT 2, 'lang_id', count(*), CAST(sum(n_tok) AS BIGINT) FROM k2
       |UNION ALL SELECT 3, 'quality', count(*), CAST(sum(n_tok) AS BIGINT) FROM k3
       |UNION ALL SELECT 4, 'exact_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM k4
       |UNION ALL SELECT 5, 'near_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM k5
       |ORDER BY stage""".stripMargin

  /** w17's oracle, rendered at the corpus-scaled plane dial (`nP` =
   * [[d14Planes]]'s count): w16's unrolled rounds + the SEMANTIC leg —
   * the hashed-text vector + LSH bucket rebuild globally over allc
   * (x23/d14's CTE chain); each round's semantic_dup is a
   * bucket-equality join against that round's reference at exact
   * cosine >= 0.9, with the round's HOT state buckets (occupancy >
   * [[SemMaxBucket]]) excluded exactly as the Spark leg excludes them.
   * Buckets derive from the unit-normalized, `ctr`-centered vector
   * (the frozen seed-mean center, rendered as a literal like every
   * trained constant); cosine stays over the raw vectors. Refs evolve
   * by the 6-way admitted flag. */
  private def w17OracleSql(nP: Int, ctr: Seq[Double]): String = {
    val pls = Similarity.hyperplanes(nP, Dim)
      .map(_.mkString("[", ",", "]")).mkString("[", ",\n     ", "]")
    def round(i: Int, ref: String, w: String): String =
      s"""c$i AS (SELECT doc_id, text FROM $ref
         |        UNION ALL SELECT doc_id, text FROM $w),
         |${minhashPipelineSqlOver(s"c$i", s"$i")},
         |x$i AS (SELECT doc_a, doc_b FROM cand$i
         |  WHERE (doc_a IN (SELECT doc_id FROM $w))
         |     <> (doc_b IN (SELECT doc_id FROM $w))),
         |near$i AS (
         |  SELECT DISTINCT CASE WHEN doc_a IN (SELECT doc_id FROM $w)
         |    THEN doc_a ELSE doc_b END AS doc_id
         |  FROM x$i JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5),
         |rsh$i AS MATERIALIZED (SELECT DISTINCT h FROM dsh
         |  JOIN $ref USING (doc_id)),
         |nov$i AS (
         |  SELECT d.doc_id, count(*) AS n_shingles,
         |    CAST(sum(CASE WHEN r.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_known
         |  FROM dsh d JOIN $w USING (doc_id)
         |  LEFT JOIN rsh$i r USING (h)
         |  GROUP BY d.doc_id),
         |cp$i AS MATERIALIZED (SELECT ref_id, h, n_b FROM cps
         |  UNION ALL
         |  SELECT d.doc_id AS ref_id, d.h,
         |    count(*) OVER (PARTITION BY d.doc_id) AS n_b
         |  FROM dsh d JOIN $ref r USING (doc_id) WHERE d.doc_id >= 400),
         |ch$i AS (SELECT d.doc_id, p.ref_id, p.n_b, count(*) AS shared
         |  FROM dsh d JOIN $w w USING (doc_id) JOIN cp$i p USING (h)
         |  GROUP BY 1, 2, 3),
         |cont$i AS (SELECT DISTINCT c.doc_id
         |  FROM ch$i c JOIN nsh USING (doc_id)
         |  WHERE least(nsh.n, c.n_b) >= $ContainMinShingles
         |    AND c.shared * $ContainTauDen >=
         |        least(nsh.n, c.n_b) * $ContainTauNum),
         |semcap$i AS (SELECT r.bucket FROM bv r
         |  JOIN $ref rr ON rr.doc_id = r.doc_id
         |  GROUP BY r.bucket HAVING count(*) <= $SemMaxBucket),
         |sem$i AS (SELECT DISTINCT b.doc_id
         |  FROM bv b JOIN $w w ON w.doc_id = b.doc_id
         |  JOIN semcap$i sc ON sc.bucket = b.bucket
         |  JOIN bv r ON r.bucket = b.bucket
         |  JOIN $ref rr ON rr.doc_id = r.doc_id
         |  WHERE ${cosineSql("b.v", "r.v")} >= $SemTau),
         |v$i AS MATERIALIZED (SELECT i.doc_id,
         |    (md5(i.text) IN (SELECT md5(text) FROM $ref)) AS exact_dup,
         |    (n.doc_id IS NOT NULL) AS near_dup,
         |    q.quality_keep,
         |    nv.n_shingles, nv.n_known,
         |    (nv.n_shingles - nv.n_known)::DOUBLE / nv.n_shingles::DOUBLE
         |      AS novelty,
         |    (c.doc_id IS NOT NULL) AS contaminated,
         |    (cn.doc_id IS NOT NULL) AS contained_dup,
         |    (sm.doc_id IS NOT NULL) AS semantic_dup
         |  FROM $w i LEFT JOIN near$i n USING (doc_id)
         |  JOIN q USING (doc_id)
         |  LEFT JOIN nov$i nv USING (doc_id)
         |  LEFT JOIN ct c USING (doc_id)
         |  LEFT JOIN cont$i cn USING (doc_id)
         |  LEFT JOIN sem$i sm USING (doc_id))""".stripMargin
    s"""WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
       |bench AS (SELECT doc_id, text FROM documents
       |          WHERE doc_id < 400 AND doc_id % 10 = 0),
       |w0 AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 0),
       |w1 AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 1
       |       UNION ALL
       |       SELECT doc_id + 1000000, text FROM documents
       |       WHERE doc_id < 400 AND doc_id % 50 = 0
       |       UNION ALL
       |       SELECT doc_id + 6000000,
       |         array_to_string(list_slice($toksSql, 1, 30), ' ')
       |           || ' ' || translate(text, 'aeiou', 'uoiea')
       |       FROM bench WHERE doc_id % 20 = 0),
       |w2 AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 2
       |       UNION ALL
       |       SELECT doc_id + 2000000, text FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 37 = 0
       |       UNION ALL
       |       SELECT doc_id + 8000000,
       |         array_to_string(list_reverse($toksSql), ' ')
       |       FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 13 = 0),
       |w1a AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2),
       |allc AS MATERIALIZED (SELECT * FROM seed UNION ALL SELECT * FROM w0
       |         UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2),
       |sets AS MATERIALIZED (SELECT doc_id AS _id, $shingleHashesSql AS s
       |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc)),
       |dsh AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM (
       |  SELECT doc_id, unnest($shingleHashesSql) AS h
       |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc))),
       |nsh AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM dsh
       |  GROUP BY 1),
       |bsh AS MATERIALIZED (SELECT doc_id AS bench_id,
       |          unnest($shingleHashesSql) AS h
       |        FROM (SELECT doc_id, $tokenHashesSql AS th FROM bench)),
       |bkeep AS (SELECT h FROM bsh GROUP BY h HAVING count(*) <= $DecontMaxDf),
       |posts AS MATERIALIZED (SELECT bench_id, h FROM bsh
       |        JOIN bkeep USING (h)),
       |cthit AS (SELECT d.doc_id, p.bench_id, count(*) AS shared
       |          FROM dsh d JOIN posts p USING (h)
       |          GROUP BY 1, 2 HAVING count(*) >= $DecontMinShared),
       |ct AS MATERIALIZED (SELECT DISTINCT doc_id FROM cthit),
       |csh AS (SELECT doc_id AS ref_id, h FROM dsh WHERE doc_id < 400),
       |ckeep AS (SELECT h FROM csh GROUP BY h
       |          HAVING count(*) <= $ContainMaxDf),
       |cps AS MATERIALIZED (SELECT ref_id, h,
       |          count(*) OVER (PARTITION BY ref_id) AS n_b
       |        FROM csh JOIN ckeep USING (h)),
       |planes AS (SELECT $pls AS pl),
       |sctr AS (SELECT ${ctr.map(dLit).mkString("[", ",", "]")} AS sc),
       |${hashedEmbCtesOver("allc")},
       |hvn AS (SELECT doc_id, v,
       |      CASE WHEN sqrt(${dotSql("v", "v")}) = 0 THEN 1.0::DOUBLE
       |           ELSE sqrt(${dotSql("v", "v")}) END AS nz
       |      FROM hv),
       |hvc AS (SELECT doc_id, v, list_transform(range(0, $Dim),
       |        i -> v[i + 1] / nz - sc[i + 1]) AS w
       |      FROM hvn, sctr),
       |bv AS MATERIALIZED (SELECT doc_id, v, ${bucketSqlN("w", nP)} AS bucket
       |      FROM hvc, planes),
       |${qualityFeaturesCteOver("allc")},
       |q AS (SELECT doc_id, ($classifierZSql) >= 0.0e0 AS quality_keep
       |      FROM f),
       |${round(0, "seed", "w0")},
       |ref1 AS MATERIALIZED (SELECT * FROM seed UNION ALL
       |         SELECT w.doc_id, w.text FROM w0 w JOIN v0 v USING (doc_id)
       |         WHERE NOT v.exact_dup AND NOT v.near_dup AND v.quality_keep
       |           AND NOT v.contaminated AND NOT v.contained_dup
       |           AND NOT v.semantic_dup),
       |${round(1, "ref1", "w1a")}
       |SELECT doc_id, exact_dup, near_dup, quality_keep, n_shingles,
       |  n_known, novelty, contaminated, contained_dup, semantic_dup,
       |  (NOT exact_dup AND NOT near_dup AND quality_keep
       |   AND NOT contaminated AND NOT contained_dup
       |   AND NOT semantic_dup) AS admitted
       |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
       |ORDER BY doc_id""".stripMargin
  }

  /** w18's oracle — the COMPLETE multimodal gate unrolled: w17's text
   * CTEs (seed cutoff 300, text benchmark = seed docs % 10, plane +
   * center literals rendered at the production dial) merged with m24's
   * media fingerprint CTEs (computed in closed form over corpus ∪
   * benchmark media), one v$i per round carrying all ten flags, refs
   * evolving by the 9-way admitted verdict. */
  private def w18OracleSql(nP: Int, ctr: Seq[Double]): String = {
    val pls = Similarity.hyperplanes(nP, Dim)
      .map(_.mkString("[", ",", "]")).mkString("[", ",\n     ", "]")
    def round(i: Int, ref: String, w: String): String =
      s"""c$i AS (SELECT doc_id, text FROM $ref
         |        UNION ALL SELECT doc_id, text FROM $w),
         |${minhashPipelineSqlOver(s"c$i", s"$i")},
         |x$i AS (SELECT doc_a, doc_b FROM cand$i
         |  WHERE (doc_a IN (SELECT doc_id FROM $w))
         |     <> (doc_b IN (SELECT doc_id FROM $w))),
         |near$i AS (
         |  SELECT DISTINCT CASE WHEN doc_a IN (SELECT doc_id FROM $w)
         |    THEN doc_a ELSE doc_b END AS doc_id
         |  FROM x$i JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5),
         |rsh$i AS MATERIALIZED (SELECT DISTINCT h FROM dsh
         |  JOIN $ref USING (doc_id)),
         |nov$i AS (
         |  SELECT d.doc_id, count(*) AS n_shingles,
         |    CAST(sum(CASE WHEN r.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_known
         |  FROM dsh d JOIN $w USING (doc_id)
         |  LEFT JOIN rsh$i r USING (h)
         |  GROUP BY d.doc_id),
         |cp$i AS MATERIALIZED (SELECT ref_id, h, n_b FROM cps
         |  UNION ALL
         |  SELECT d.doc_id AS ref_id, d.h,
         |    count(*) OVER (PARTITION BY d.doc_id) AS n_b
         |  FROM dsh d JOIN $ref r USING (doc_id) WHERE d.doc_id >= 300),
         |ch$i AS (SELECT d.doc_id, p.ref_id, p.n_b, count(*) AS shared
         |  FROM dsh d JOIN $w w USING (doc_id) JOIN cp$i p USING (h)
         |  GROUP BY 1, 2, 3),
         |cont$i AS (SELECT DISTINCT c.doc_id
         |  FROM ch$i c JOIN nsh USING (doc_id)
         |  WHERE least(nsh.n, c.n_b) >= $ContainMinShingles
         |    AND c.shared * $ContainTauDen >=
         |        least(nsh.n, c.n_b) * $ContainTauNum),
         |semcap$i AS (SELECT r.bucket FROM bv r
         |  JOIN $ref rr ON rr.doc_id = r.doc_id
         |  GROUP BY r.bucket HAVING count(*) <= $SemMaxBucket),
         |sem$i AS (SELECT DISTINCT b.doc_id
         |  FROM bv b JOIN $w w ON w.doc_id = b.doc_id
         |  JOIN semcap$i sc ON sc.bucket = b.bucket
         |  JOIN bv r ON r.bucket = b.bucket
         |  JOIN $ref rr ON rr.doc_id = r.doc_id
         |  WHERE ${cosineSql("b.v", "r.v")} >= $SemTau),
         |img$i AS (SELECT DISTINCT b.doc_id
         |  FROM mih b JOIN $w w ON w.doc_id = b.doc_id
         |  JOIN mih r ON r.hash_hi = b.hash_hi AND r.hash_lo = b.hash_lo
         |  JOIN $ref rr ON rr.doc_id = r.doc_id),
         |aud$i AS (SELECT DISTINCT b.doc_id
         |  FROM mah b JOIN $w w ON w.doc_id = b.doc_id
         |  JOIN mah r ON r.fp_hi = b.fp_hi AND r.fp_lo = b.fp_lo
         |  JOIN $ref rr ON rr.doc_id = r.doc_id),
         |v$i AS MATERIALIZED (SELECT i.doc_id,
         |    (md5(i.text) IN (SELECT md5(text) FROM $ref)) AS exact_dup,
         |    (n.doc_id IS NOT NULL) AS near_dup,
         |    q.quality_keep,
         |    nv.n_shingles, nv.n_known,
         |    (nv.n_shingles - nv.n_known)::DOUBLE / nv.n_shingles::DOUBLE
         |      AS novelty,
         |    (c.doc_id IS NOT NULL) AS contaminated,
         |    (cn.doc_id IS NOT NULL) AS contained_dup,
         |    (sm.doc_id IS NOT NULL) AS semantic_dup,
         |    (im.doc_id IS NOT NULL) AS image_dup,
         |    (au.doc_id IS NOT NULL) AS audio_dup,
         |    (mc.doc_id IS NOT NULL) AS media_contaminated
         |  FROM $w i LEFT JOIN near$i n USING (doc_id)
         |  JOIN q USING (doc_id)
         |  LEFT JOIN nov$i nv USING (doc_id)
         |  LEFT JOIN ct c USING (doc_id)
         |  LEFT JOIN cont$i cn USING (doc_id)
         |  LEFT JOIN sem$i sm USING (doc_id)
         |  LEFT JOIN img$i im USING (doc_id)
         |  LEFT JOIN aud$i au USING (doc_id)
         |  LEFT JOIN mct mc USING (doc_id))"""
    def refNext(k: Int, prev: String, w: String, v: String): String =
      s"""ref$k AS MATERIALIZED (SELECT * FROM $prev UNION ALL
         |         SELECT w.doc_id, w.text FROM $w w JOIN $v v USING (doc_id)
         |         WHERE NOT v.exact_dup AND NOT v.near_dup AND v.quality_keep
         |           AND NOT v.contaminated AND NOT v.contained_dup
         |           AND NOT v.semantic_dup AND NOT v.image_dup
         |           AND NOT v.audio_dup AND NOT v.media_contaminated)"""
    s"""WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
       |benchm AS (SELECT doc_id, text FROM documents
       |          WHERE doc_id >= 300 AND doc_id < 400),
       |bench_t AS (SELECT doc_id, text FROM documents
       |          WHERE doc_id >= 300 AND doc_id < 400),
       |w0 AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 0),
       |w1 AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 1
       |       UNION ALL
       |       SELECT doc_id + 1300000, text FROM documents
       |       WHERE doc_id < 300 AND doc_id % 50 = 0
       |       UNION ALL
       |       SELECT doc_id + 1000000, translate(text, 'aeiou', 'uoiea')
       |       FROM documents WHERE doc_id < 300 AND doc_id % 70 = 0
       |       UNION ALL
       |       SELECT doc_id + 3500000, translate(text, 'aeiou', 'uoiea')
       |       FROM documents WHERE doc_id < 300 AND doc_id % 90 = 0
       |       UNION ALL
       |       SELECT doc_id + 7000000, translate(text, 'aeiou', 'uoiea')
       |       FROM documents
       |       WHERE doc_id >= 300 AND doc_id < 400 AND doc_id % 30 = 0
       |       UNION ALL
       |       SELECT doc_id + 6000000,
       |         array_to_string(list_slice($toksSql, 1, 30), ' ')
       |           || ' ' || translate(text, 'aeiou', 'uoiea')
       |       FROM documents
       |       WHERE doc_id >= 300 AND doc_id < 400 AND doc_id % 20 = 0),
       |w2 AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 2
       |       UNION ALL
       |       SELECT p.doc_id + 4000000,
       |         f1.text || ' ' || p.text || ' ' || f2.text
       |       FROM documents p
       |       JOIN documents f1 ON f1.doc_id = p.doc_id + 2
       |       JOIN documents f2 ON f2.doc_id = p.doc_id + 5
       |       WHERE p.doc_id >= 400 AND p.doc_id % 3 = 0
       |         AND p.doc_id % 7 = 0
       |         AND len(regexp_extract_all(p.text, '\\S+')) >= 40
       |       UNION ALL
       |       SELECT doc_id + 5000000,
       |         array_to_string(list_slice($toksSql, 1, 22), ' ')
       |       FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 11 = 0
       |         AND len($toksSql) >= 60
       |       UNION ALL
       |       SELECT doc_id + 8300000,
       |         array_to_string(list_reverse($toksSql), ' ')
       |       FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 13 = 0
       |       UNION ALL
       |       SELECT doc_id + 9300000,
       |         upper(translate(text, 'aeiou', '!!!!!'))
       |       FROM documents WHERE doc_id < 300 AND doc_id % 60 = 0
       |       UNION ALL
       |       SELECT doc_id + 7000000, translate(text, 'aeiou', 'uoiea')
       |       FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 5 = 0),
       |w1a AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2),
       |allc AS MATERIALIZED (SELECT * FROM seed UNION ALL SELECT * FROM w0
       |         UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2),
       |allm AS MATERIALIZED (SELECT * FROM allc
       |         UNION ALL SELECT * FROM benchm),
       |sets AS MATERIALIZED (SELECT doc_id AS _id, $shingleHashesSql AS s
       |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc)),
       |dsh AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM (
       |  SELECT doc_id, unnest($shingleHashesSql) AS h
       |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc))),
       |nsh AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM dsh
       |  GROUP BY 1),
       |bsh AS MATERIALIZED (SELECT doc_id AS bench_id,
       |          unnest($shingleHashesSql) AS h
       |        FROM (SELECT doc_id, $tokenHashesSql AS th FROM bench_t)),
       |bkeep AS (SELECT h FROM bsh GROUP BY h HAVING count(*) <= $DecontMaxDf),
       |posts AS MATERIALIZED (SELECT bench_id, h FROM bsh
       |        JOIN bkeep USING (h)),
       |cthit AS (SELECT d.doc_id, p.bench_id, count(*) AS shared
       |          FROM dsh d JOIN posts p USING (h)
       |          GROUP BY 1, 2 HAVING count(*) >= $DecontMinShared),
       |ct AS MATERIALIZED (SELECT DISTINCT doc_id FROM cthit),
       |csh AS (SELECT doc_id AS ref_id, h FROM dsh WHERE doc_id < 300),
       |ckeep AS (SELECT h FROM csh GROUP BY h
       |          HAVING count(*) <= $ContainMaxDf),
       |cps AS MATERIALIZED (SELECT ref_id, h,
       |          count(*) OVER (PARTITION BY ref_id) AS n_b
       |        FROM csh JOIN ckeep USING (h)),
       |planes AS (SELECT $pls AS pl),
       |sctr AS (SELECT ${ctr.map(dLit).mkString("[", ",", "]")} AS sc),
       |${hashedEmbCtesOver("allc")},
       |hvn AS (SELECT doc_id, v,
       |      CASE WHEN sqrt(${dotSql("v", "v")}) = 0 THEN 1.0::DOUBLE
       |           ELSE sqrt(${dotSql("v", "v")}) END AS nz
       |      FROM hv),
       |hvc AS (SELECT doc_id, v, list_transform(range(0, $Dim),
       |        i -> v[i + 1] / nz - sc[i + 1]) AS w
       |      FROM hvn, sctr),
       |bv AS MATERIALIZED (SELECT doc_id, v, ${bucketSqlN("w", nP)} AS bucket
       |      FROM hvc, planes),
       |${qualityFeaturesCteOver("allc")},
       |q AS (SELECT doc_id, ($classifierZSql) >= 0.0e0 AS quality_keep
       |      FROM f),
       |mtb AS (SELECT doc_id,
       |    (length(text) + 31 * (doc_id % 1000000)) % 200 AS a,
       |    3 + 2 * ((length(text) + (doc_id % 1000000)) % 13) AS p1,
       |    5 + 2 * ((length(text) + 3 * (doc_id % 1000000)) % 11) AS p2
       |  FROM allm),
       |mtg AS (SELECT doc_id,
       |  flatten(list_transform(range(0, 8), j ->
       |    list_transform(range(0, 8), i ->
       |      (a + (2 * i) * p1 + ((j * 12) // 8) * p2) % 251))) AS sv
       |  FROM mtb),
       |mtt AS (SELECT doc_id, sv, list_sum(sv) AS total FROM mtg),
       |mih AS MATERIALIZED (SELECT doc_id,
       |  CAST(list_sum(list_transform(range(32, 64), p ->
       |    CASE WHEN 64 * sv[p + 1] >= total
       |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
       |    AS hash_hi,
       |  CAST(list_sum(list_transform(range(0, 32), p ->
       |    CASE WHEN 64 * sv[p + 1] >= total
       |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
       |    AS hash_lo
       |  FROM mtt),
       |mad AS (SELECT doc_id, 1 + length(text) % 240 AS n,
       |    (length(text) * 131 + 37 * (doc_id % ${AudioSeedMod})) % 65521
       |      AS a
       |  FROM allm),
       |mae AS (SELECT doc_id,
       |  list_transform(range(0, 65), w ->
       |    list_reduce(list_prepend(0::BIGINT,
       |      list_transform(range((w * n) // 65, ((w + 1) * n) // 65),
       |        j -> abs(((a + j * 7919) % 65521) - 32760)::BIGINT)),
       |      (x, y) -> x + y)) AS es
       |  FROM mad),
       |mah AS MATERIALIZED (SELECT doc_id,
       |  CAST(list_sum(list_transform(range(32, 64), p ->
       |    CASE WHEN es[p + 2] > es[p + 1]
       |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
       |    AS fp_hi,
       |  CAST(list_sum(list_transform(range(0, 32), p ->
       |    CASE WHEN es[p + 2] > es[p + 1]
       |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
       |    AS fp_lo
       |  FROM mae),
       |bihash AS (SELECT hash_hi, hash_lo FROM mih
       |           JOIN benchm USING (doc_id)),
       |bahash AS (SELECT fp_hi, fp_lo FROM mah
       |           JOIN benchm USING (doc_id)),
       |mct AS MATERIALIZED (
       |  SELECT DISTINCT m.doc_id FROM mih m
       |  JOIN bihash b ON b.hash_hi = m.hash_hi AND b.hash_lo = m.hash_lo
       |  WHERE m.doc_id NOT IN (SELECT doc_id FROM benchm)
       |  UNION
       |  SELECT DISTINCT m.doc_id FROM mah m
       |  JOIN bahash b ON b.fp_hi = m.fp_hi AND b.fp_lo = m.fp_lo
       |  WHERE m.doc_id NOT IN (SELECT doc_id FROM benchm)),
       |${round(0, "seed", "w0")},
       |${refNext(1, "seed", "w0", "v0")},
       |${round(1, "ref1", "w1a")}
       |SELECT doc_id, exact_dup, near_dup, quality_keep, n_shingles,
       |  n_known, novelty, contaminated, contained_dup, semantic_dup,
       |  image_dup, audio_dup, media_contaminated,
       |  (NOT exact_dup AND NOT near_dup AND quality_keep
       |   AND NOT contaminated AND NOT contained_dup
       |   AND NOT semantic_dup AND NOT image_dup AND NOT audio_dup
       |   AND NOT media_contaminated) AS admitted
       |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
       |ORDER BY doc_id""".stripMargin
  }

  /** w12's oracle — the three admission rounds unrolled with one
   * suffixed banded pipeline per round; SHARED by the w12 gate and the
   * l13 REST-lifecycle gate (which drives the identical fixture waves
   * through the Connect-registered admission sink, so its verdict rows
   * must hash-match these). */
  private lazy val w12AdmissionOracle: String = {
    def round(i: Int, ref: String, w: String): String =
      s"""c$i AS (SELECT doc_id, text FROM $ref
         |        UNION ALL SELECT doc_id, text FROM $w),
         |${minhashPipelineSqlOver(s"c$i", s"$i")},
         |x$i AS (SELECT doc_a, doc_b FROM cand$i
         |  WHERE (doc_a IN (SELECT doc_id FROM $w))
         |     <> (doc_b IN (SELECT doc_id FROM $w))),
         |near$i AS (
         |  SELECT DISTINCT CASE WHEN doc_a IN (SELECT doc_id FROM $w)
         |    THEN doc_a ELSE doc_b END AS doc_id
         |  FROM x$i JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5),
         |v$i AS (SELECT i.doc_id,
         |    (md5(i.text) IN (SELECT md5(text) FROM $ref)) AS exact_dup,
         |    (n.doc_id IS NOT NULL) AS near_dup
         |  FROM $w i LEFT JOIN near$i n USING (doc_id))""".stripMargin
    s"""WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
       |w0 AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 0),
       |w1 AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 1
       |       UNION ALL
       |       SELECT doc_id + 1000000, text FROM documents
       |       WHERE doc_id < 400 AND doc_id % 50 = 0),
       |w2 AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 2
       |       UNION ALL
       |       SELECT doc_id + 2000000, text FROM documents
       |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 37 = 0),
       |allc AS (SELECT * FROM seed UNION ALL SELECT * FROM w0
       |         UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2),
       |sets AS (SELECT doc_id AS _id, $shingleHashesSql AS s
       |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc)),
       |${round(0, "seed", "w0")},
       |ref1 AS (SELECT * FROM seed UNION ALL
       |         SELECT w.doc_id, w.text FROM w0 w JOIN v0 v USING (doc_id)
       |         WHERE NOT v.exact_dup AND NOT v.near_dup),
       |${round(1, "ref1", "w1")},
       |ref2 AS (SELECT * FROM ref1 UNION ALL
       |         SELECT w.doc_id, w.text FROM w1 w JOIN v1 v USING (doc_id)
       |         WHERE NOT v.exact_dup AND NOT v.near_dup),
       |${round(2, "ref2", "w2")}
       |SELECT doc_id, exact_dup, near_dup,
       |  (NOT exact_dup AND NOT near_dup) AS admitted
       |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1
       |      UNION ALL SELECT * FROM v2)
       |ORDER BY doc_id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "x18_curation_funnel" -> curationFunnelOracleSql,
    "d12_neardedup_corpus" -> nearDedupCorpusOracleSql,
    // quota derivation mirrored exactly: sqrt (correctly rounded, unlike
    // pow), name-ordered fold for Z, floor((300*p)/z) — identical doubles
    // → identical integer quotas; selection is the x12 rank-by-hash order
    "x17_temperature_mix" ->
      s"""WITH n AS (SELECT source, count(*) AS ns FROM documents GROUP BY source),
         |z AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
         |        list(sqrt(ns::DOUBLE) ORDER BY source)), (a, x) -> a + x) AS z
         |      FROM n),
         |q AS (SELECT source, ns,
         |        least(ns, CAST(floor(300 * sqrt(ns::DOUBLE) / z) AS BIGINT)) AS quota
         |      FROM n, z),
         |r AS (SELECT source, doc_id,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY ${h60("source || '|' || doc_id")}, doc_id) AS rk
         |      FROM documents),
         |sel AS (SELECT r.source, r.doc_id
         |        FROM r JOIN q USING (source) WHERE rk <= quota)
         |SELECT source, q.quota, count(*) AS n_selected,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM sel JOIN q USING (source)
         |GROUP BY source, q.quota ORDER BY source""".stripMargin,
    // the d2/d4 pipeline over the staged union corpus, candidates
    // restricted to cross-boundary pairs; exact pass is a digest IN-set
    "d13_incremental_dedup" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents
         |  WHERE doc_id < 400 AND doc_id % 50 = 0),
         |${minhashPipelineSqlOver("corpus")},
         |inc AS (SELECT doc_id, text FROM corpus WHERE doc_id >= 400),
         |exd AS (SELECT DISTINCT md5(text) AS dg FROM corpus WHERE doc_id < 400),
         |cpairs AS (SELECT DISTINCT doc_a, doc_b FROM cand
         |           WHERE (doc_a >= 400) <> (doc_b >= 400)),
         |sets AS (SELECT doc_id AS _id, $shingleHashesSql AS s
         |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM corpus)),
         |near AS (
         |  SELECT DISTINCT CASE WHEN doc_a >= 400 THEN doc_a ELSE doc_b END AS doc_id
         |  FROM cpairs JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5)
         |SELECT i.doc_id,
         |  (md5(i.text) IN (SELECT dg FROM exd)) AS exact_dup,
         |  (n.doc_id IS NOT NULL) AS near_dup,
         |  (md5(i.text) NOT IN (SELECT dg FROM exd) AND n.doc_id IS NULL) AS admitted
         |FROM inc i LEFT JOIN near n USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // w12: the three admission rounds unrolled exactly — each round
    // re-instantiates the banded pipeline (suffixed CTEs) over
    // (evolving reference ∪ wave) and the next reference adds the
    // round's admitted survivors; one shared shingle-set CTE serves
    // every round's Jaccard verify (ids are globally unique)
    "w12_stream_dedup_admission" -> w12AdmissionOracle,
    // l13 = w12's verdict rows (the REST-registered gate runs the SAME
    // fixture waves through the SAME per-trigger core) plus the
    // lifecycle-evidence literal columns, exactly l9's shape
    "l13_admission_pipeline" ->
      s"""SELECT doc_id, exact_dup, near_dup, admitted,
         |  'RUNNING' AS status_after_register,
         |  'PAUSED' AS status_while_paused,
         |  'RUNNING' AS status_after_resume,
         |  TRUE AS deregistered
         |FROM ($w12AdmissionOracle)
         |ORDER BY doc_id""".stripMargin,
    // l15 = l13's oracle EXACTLY (same waves, same gate core, same
    // lifecycle): the converter + unwrap-SMT transport in front of the
    // sink must be verdict-invisible — that invariance IS the gate
    "l15_admission_framed_smt" ->
      s"""SELECT doc_id, exact_dup, near_dup, admitted,
         |  'RUNNING' AS status_after_register,
         |  'PAUSED' AS status_while_paused,
         |  'RUNNING' AS status_after_resume,
         |  TRUE AS deregistered
         |FROM ($w12AdmissionOracle)
         |ORDER BY doc_id""".stripMargin,
    // l16 = w12's verdicts on the CLEAN docs (the malformed plants
    // dead-letter before the gate body and state grows only by
    // admitted artifacts, so clean verdicts are unchanged) + the four
    // planted DLQ rows with their (stage, reason) pinned + dlq_n
    "l16_admission_gate_dlq" ->
      s"""SELECT * FROM (
         |  SELECT doc_id, exact_dup, near_dup, admitted,
         |    CAST(NULL AS VARCHAR) AS stage,
         |    CAST(NULL AS VARCHAR) AS reason,
         |    CAST(4 AS BIGINT) AS dlq_n
         |  FROM ($w12AdmissionOracle)
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    (CAST(-8000000 AS BIGINT), CAST(NULL AS BOOLEAN),
         |     CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN),
         |     'VALUE_CONVERTER', 'malformed_envelope', CAST(4 AS BIGINT)),
         |    (-8000001, NULL, NULL, NULL,
         |     'ADMISSION_GATE', 'null_key', 4),
         |    (9000001, NULL, NULL, NULL,
         |     'ADMISSION_GATE', 'null_text', 4),
         |    (9000002, NULL, NULL, NULL,
         |     'ADMISSION_GATE', 'oversized', 4)
         |  ) t(doc_id, exact_dup, near_dup, admitted, stage, reason, dlq_n)
         |) ORDER BY doc_id""".stripMargin,
    // w14 = w12's unrolled rounds with the quality head (one global CTE
    // — quality is batch-local) and the per-round novelty leg (the
    // reference's distinct shingles as of that round) joined into each
    // round's verdict; refs evolve by the FUSED admitted flag
    "w14_stream_curation_admission" -> {
      def round(i: Int, ref: String, w: String): String =
        s"""c$i AS (SELECT doc_id, text FROM $ref
           |        UNION ALL SELECT doc_id, text FROM $w),
           |${minhashPipelineSqlOver(s"c$i", s"$i")},
           |x$i AS (SELECT doc_a, doc_b FROM cand$i
           |  WHERE (doc_a IN (SELECT doc_id FROM $w))
           |     <> (doc_b IN (SELECT doc_id FROM $w))),
           |near$i AS (
           |  SELECT DISTINCT CASE WHEN doc_a IN (SELECT doc_id FROM $w)
           |    THEN doc_a ELSE doc_b END AS doc_id
           |  FROM x$i JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
           |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5),
           |rsh$i AS (SELECT DISTINCT h FROM dsh JOIN $ref USING (doc_id)),
           |nov$i AS (
           |  SELECT d.doc_id, count(*) AS n_shingles,
           |    CAST(sum(CASE WHEN r.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           |      AS n_known
           |  FROM dsh d JOIN $w USING (doc_id)
           |  LEFT JOIN rsh$i r USING (h)
           |  GROUP BY d.doc_id),
           |v$i AS (SELECT i.doc_id,
           |    (md5(i.text) IN (SELECT md5(text) FROM $ref)) AS exact_dup,
           |    (n.doc_id IS NOT NULL) AS near_dup,
           |    q.quality_keep,
           |    nv.n_shingles, nv.n_known,
           |    (nv.n_shingles - nv.n_known)::DOUBLE / nv.n_shingles::DOUBLE
           |      AS novelty
           |  FROM $w i LEFT JOIN near$i n USING (doc_id)
           |  JOIN q USING (doc_id)
           |  LEFT JOIN nov$i nv USING (doc_id))""".stripMargin
      s"""WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
         |w0 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 0),
         |w1 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 1
         |       UNION ALL
         |       SELECT doc_id + 1000000, text FROM documents
         |       WHERE doc_id < 400 AND doc_id % 50 = 0),
         |w2 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 2
         |       UNION ALL
         |       SELECT doc_id + 2000000, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 37 = 0),
         |allc AS (SELECT * FROM seed UNION ALL SELECT * FROM w0
         |         UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2),
         |sets AS (SELECT doc_id AS _id, $shingleHashesSql AS s
         |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc)),
         |dsh AS (SELECT DISTINCT doc_id, h FROM (
         |  SELECT doc_id, unnest($shingleHashesSql) AS h
         |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc))),
         |${qualityFeaturesCteOver("allc")},
         |q AS (SELECT doc_id, ($classifierZSql) >= 0.0e0 AS quality_keep
         |      FROM f),
         |${round(0, "seed", "w0")},
         |ref1 AS (SELECT * FROM seed UNION ALL
         |         SELECT w.doc_id, w.text FROM w0 w JOIN v0 v USING (doc_id)
         |         WHERE NOT v.exact_dup AND NOT v.near_dup AND v.quality_keep),
         |${round(1, "ref1", "w1")},
         |ref2 AS (SELECT * FROM ref1 UNION ALL
         |         SELECT w.doc_id, w.text FROM w1 w JOIN v1 v USING (doc_id)
         |         WHERE NOT v.exact_dup AND NOT v.near_dup AND v.quality_keep),
         |${round(2, "ref2", "w2")}
         |SELECT doc_id, exact_dup, near_dup, quality_keep, n_shingles,
         |  n_known, novelty,
         |  (NOT exact_dup AND NOT near_dup AND quality_keep) AS admitted
         |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1
         |      UNION ALL SELECT * FROM v2)
         |ORDER BY doc_id""".stripMargin
    },
    // w15 = w14's unrolled rounds + the FROZEN d16 contamination table
    // (benchmark postings are state built once, so the leg is a global
    // CTE joined per round); refs evolve by the 4-way admitted flag
    "w15_stream_decontaminated_admission" -> {
      def round(i: Int, ref: String, w: String): String =
        s"""c$i AS (SELECT doc_id, text FROM $ref
           |        UNION ALL SELECT doc_id, text FROM $w),
           |${minhashPipelineSqlOver(s"c$i", s"$i")},
           |x$i AS (SELECT doc_a, doc_b FROM cand$i
           |  WHERE (doc_a IN (SELECT doc_id FROM $w))
           |     <> (doc_b IN (SELECT doc_id FROM $w))),
           |near$i AS (
           |  SELECT DISTINCT CASE WHEN doc_a IN (SELECT doc_id FROM $w)
           |    THEN doc_a ELSE doc_b END AS doc_id
           |  FROM x$i JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
           |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5),
           |rsh$i AS (SELECT DISTINCT h FROM dsh JOIN $ref USING (doc_id)),
           |nov$i AS (
           |  SELECT d.doc_id, count(*) AS n_shingles,
           |    CAST(sum(CASE WHEN r.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           |      AS n_known
           |  FROM dsh d JOIN $w USING (doc_id)
           |  LEFT JOIN rsh$i r USING (h)
           |  GROUP BY d.doc_id),
           |v$i AS (SELECT i.doc_id,
           |    (md5(i.text) IN (SELECT md5(text) FROM $ref)) AS exact_dup,
           |    (n.doc_id IS NOT NULL) AS near_dup,
           |    q.quality_keep,
           |    nv.n_shingles, nv.n_known,
           |    (nv.n_shingles - nv.n_known)::DOUBLE / nv.n_shingles::DOUBLE
           |      AS novelty,
           |    (c.doc_id IS NOT NULL) AS contaminated
           |  FROM $w i LEFT JOIN near$i n USING (doc_id)
           |  JOIN q USING (doc_id)
           |  LEFT JOIN nov$i nv USING (doc_id)
           |  LEFT JOIN ct c USING (doc_id))""".stripMargin
      s"""WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
         |bench AS (SELECT doc_id, text FROM documents
         |          WHERE doc_id < 400 AND doc_id % 10 = 0),
         |w0 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 0),
         |w1 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 1
         |       UNION ALL
         |       SELECT doc_id + 1000000, text FROM documents
         |       WHERE doc_id < 400 AND doc_id % 50 = 0
         |       UNION ALL
         |       SELECT doc_id + 6000000,
         |         array_to_string(list_slice($toksSql, 1, 30), ' ')
         |           || ' ' || translate(text, 'aeiou', 'uoiea')
         |       FROM bench WHERE doc_id % 20 = 0),
         |w2 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 2
         |       UNION ALL
         |       SELECT doc_id + 2000000, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 37 = 0),
         |w1a AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2),
       |allc AS (SELECT * FROM seed UNION ALL SELECT * FROM w0
         |         UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2),
         |sets AS (SELECT doc_id AS _id, $shingleHashesSql AS s
         |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc)),
         |dsh AS (SELECT DISTINCT doc_id, h FROM (
         |  SELECT doc_id, unnest($shingleHashesSql) AS h
         |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc))),
         |bsh AS (SELECT doc_id AS bench_id, unnest($shingleHashesSql) AS h
         |        FROM (SELECT doc_id, $tokenHashesSql AS th FROM bench)),
         |bkeep AS (SELECT h FROM bsh GROUP BY h HAVING count(*) <= $DecontMaxDf),
         |posts AS (SELECT bench_id, h FROM bsh JOIN bkeep USING (h)),
         |cthit AS (SELECT d.doc_id, p.bench_id, count(*) AS shared
         |          FROM dsh d JOIN posts p USING (h)
         |          GROUP BY 1, 2 HAVING count(*) >= $DecontMinShared),
         |ct AS (SELECT DISTINCT doc_id FROM cthit),
         |${qualityFeaturesCteOver("allc")},
         |q AS (SELECT doc_id, ($classifierZSql) >= 0.0e0 AS quality_keep
         |      FROM f),
         |${round(0, "seed", "w0")},
         |ref1 AS (SELECT * FROM seed UNION ALL
         |         SELECT w.doc_id, w.text FROM w0 w JOIN v0 v USING (doc_id)
         |         WHERE NOT v.exact_dup AND NOT v.near_dup AND v.quality_keep
         |           AND NOT v.contaminated),
         |${round(1, "ref1", "w1a")}
         |SELECT doc_id, exact_dup, near_dup, quality_keep, n_shingles,
         |  n_known, novelty, contaminated,
         |  (NOT exact_dup AND NOT near_dup AND quality_keep
         |   AND NOT contaminated) AS admitted
         |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
         |ORDER BY doc_id""".stripMargin
    },
    // w16 = w15's unrolled rounds + the CONTAINMENT leg: the posting
    // state rebuilds per round (seed df-capped at the bootstrap dial +
    // every previously-admitted doc's raw postings — exactly the cpost
    // state tables' content); refs evolve by the 5-way admitted flag
    "w16_stream_contained_admission" -> {
      def round(i: Int, ref: String, w: String): String =
        s"""c$i AS (SELECT doc_id, text FROM $ref
           |        UNION ALL SELECT doc_id, text FROM $w),
           |${minhashPipelineSqlOver(s"c$i", s"$i")},
           |x$i AS (SELECT doc_a, doc_b FROM cand$i
           |  WHERE (doc_a IN (SELECT doc_id FROM $w))
           |     <> (doc_b IN (SELECT doc_id FROM $w))),
           |near$i AS (
           |  SELECT DISTINCT CASE WHEN doc_a IN (SELECT doc_id FROM $w)
           |    THEN doc_a ELSE doc_b END AS doc_id
           |  FROM x$i JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
           |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5),
           |rsh$i AS MATERIALIZED (SELECT DISTINCT h FROM dsh JOIN $ref USING (doc_id)),
           |nov$i AS MATERIALIZED (
           |  SELECT d.doc_id, count(*) AS n_shingles,
           |    CAST(sum(CASE WHEN r.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           |      AS n_known
           |  FROM dsh d JOIN $w USING (doc_id)
           |  LEFT JOIN rsh$i r USING (h)
           |  GROUP BY d.doc_id),
           |cp$i AS MATERIALIZED (SELECT ref_id, h, n_b FROM cps
           |  UNION ALL
           |  SELECT d.doc_id AS ref_id, d.h,
           |    count(*) OVER (PARTITION BY d.doc_id) AS n_b
           |  FROM dsh d JOIN $ref r USING (doc_id) WHERE d.doc_id >= 400),
           |ch$i AS (SELECT d.doc_id, p.ref_id, p.n_b, count(*) AS shared
           |  FROM dsh d JOIN $w w USING (doc_id) JOIN cp$i p USING (h)
           |  GROUP BY 1, 2, 3),
           |cont$i AS (SELECT DISTINCT c.doc_id
           |  FROM ch$i c JOIN nsh USING (doc_id)
           |  WHERE least(nsh.n, c.n_b) >= $ContainMinShingles
           |    AND c.shared * $ContainTauDen >=
           |        least(nsh.n, c.n_b) * $ContainTauNum),
           |v$i AS MATERIALIZED (SELECT i.doc_id,
           |    (md5(i.text) IN (SELECT md5(text) FROM $ref)) AS exact_dup,
           |    (n.doc_id IS NOT NULL) AS near_dup,
           |    q.quality_keep,
           |    nv.n_shingles, nv.n_known,
           |    (nv.n_shingles - nv.n_known)::DOUBLE / nv.n_shingles::DOUBLE
           |      AS novelty,
           |    (c.doc_id IS NOT NULL) AS contaminated,
           |    (cn.doc_id IS NOT NULL) AS contained_dup
           |  FROM $w i LEFT JOIN near$i n USING (doc_id)
           |  JOIN q USING (doc_id)
           |  LEFT JOIN nov$i nv USING (doc_id)
           |  LEFT JOIN ct c USING (doc_id)
           |  LEFT JOIN cont$i cn USING (doc_id))""".stripMargin
      s"""WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
         |bench AS (SELECT doc_id, text FROM documents
         |          WHERE doc_id < 400 AND doc_id % 10 = 0),
         |w0 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 0),
         |w1 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 1
         |       UNION ALL
         |       SELECT doc_id + 1000000, text FROM documents
         |       WHERE doc_id < 400 AND doc_id % 50 = 0
         |       UNION ALL
         |       SELECT doc_id + 6000000,
         |         array_to_string(list_slice($toksSql, 1, 30), ' ')
         |           || ' ' || translate(text, 'aeiou', 'uoiea')
         |       FROM bench WHERE doc_id % 20 = 0),
         |w2 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 2
         |       UNION ALL
         |       SELECT doc_id + 2000000, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 37 = 0
         |       UNION ALL
         |       SELECT p.doc_id + 4000000,
         |         f1.text || ' ' || p.text || ' ' || f2.text
         |       FROM documents p
         |       JOIN documents f1 ON f1.doc_id = p.doc_id + 2
         |       JOIN documents f2 ON f2.doc_id = p.doc_id + 5
         |       WHERE p.doc_id >= 400 AND p.doc_id % 3 = 0
         |         AND p.doc_id % 7 = 0
         |         AND len(regexp_extract_all(p.text, '\\S+')) >= 40
         |       UNION ALL
         |       SELECT doc_id + 5000000,
         |         array_to_string(list_slice($toksSql, 1, 22), ' ')
         |       FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 11 = 0
         |         AND len($toksSql) >= 60),
         |w1a AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2),
       |allc AS MATERIALIZED (SELECT * FROM seed UNION ALL SELECT * FROM w0
         |         UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2),
         |sets AS MATERIALIZED (SELECT doc_id AS _id, $shingleHashesSql AS s
         |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc)),
         |dsh AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM (
         |  SELECT doc_id, unnest($shingleHashesSql) AS h
         |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc))),
         |nsh AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
         |bsh AS (SELECT doc_id AS bench_id, unnest($shingleHashesSql) AS h
         |        FROM (SELECT doc_id, $tokenHashesSql AS th FROM bench)),
         |bkeep AS (SELECT h FROM bsh GROUP BY h HAVING count(*) <= $DecontMaxDf),
         |posts AS MATERIALIZED (SELECT bench_id, h FROM bsh JOIN bkeep USING (h)),
         |cthit AS (SELECT d.doc_id, p.bench_id, count(*) AS shared
         |          FROM dsh d JOIN posts p USING (h)
         |          GROUP BY 1, 2 HAVING count(*) >= $DecontMinShared),
         |ct AS MATERIALIZED (SELECT DISTINCT doc_id FROM cthit),
         |csh AS (SELECT doc_id AS ref_id, h FROM dsh WHERE doc_id < 400),
         |ckeep AS (SELECT h FROM csh GROUP BY h
         |          HAVING count(*) <= $ContainMaxDf),
         |cps AS MATERIALIZED (SELECT ref_id, h, count(*) OVER (PARTITION BY ref_id) AS n_b
         |        FROM csh JOIN ckeep USING (h)),
         |${qualityFeaturesCteOver("allc")},
         |q AS (SELECT doc_id, ($classifierZSql) >= 0.0e0 AS quality_keep
         |      FROM f),
         |${round(0, "seed", "w0")},
         |ref1 AS MATERIALIZED (SELECT * FROM seed UNION ALL
         |         SELECT w.doc_id, w.text FROM w0 w JOIN v0 v USING (doc_id)
         |         WHERE NOT v.exact_dup AND NOT v.near_dup AND v.quality_keep
         |           AND NOT v.contaminated AND NOT v.contained_dup),
         |${round(1, "ref1", "w1a")}
         |SELECT doc_id, exact_dup, near_dup, quality_keep, n_shingles,
         |  n_known, novelty, contaminated, contained_dup,
         |  (NOT exact_dup AND NOT near_dup AND quality_keep
         |   AND NOT contaminated AND NOT contained_dup) AS admitted
         |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
         |ORDER BY doc_id""".stripMargin
    },
    // m22 = w12's unrolled text rounds fused with the media verdicts:
    // every member's textured aHash (mih) and id-seeded audio
    // fingerprint (mah) rebuild once in closed form from the synthesis
    // algebra; each round's image/audio dup = fingerprint-group
    // membership against that round's evolving reference; refs grow by
    // the four-way admitted flag
    "m22_multimodal_admission" -> {
      def round(i: Int, ref: String, w: String): String =
        s"""c$i AS (SELECT doc_id, text FROM $ref
           |        UNION ALL SELECT doc_id, text FROM $w),
           |${minhashPipelineSqlOver(s"c$i", s"$i")},
           |x$i AS (SELECT doc_a, doc_b FROM cand$i
           |  WHERE (doc_a IN (SELECT doc_id FROM $w))
           |     <> (doc_b IN (SELECT doc_id FROM $w))),
           |near$i AS (
           |  SELECT DISTINCT CASE WHEN doc_a IN (SELECT doc_id FROM $w)
           |    THEN doc_a ELSE doc_b END AS doc_id
           |  FROM x$i JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
           |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5),
           |img$i AS (SELECT DISTINCT b.doc_id
           |  FROM mih b JOIN $w w ON w.doc_id = b.doc_id
           |  JOIN mih r ON r.hash_hi = b.hash_hi AND r.hash_lo = b.hash_lo
           |  JOIN $ref rr ON rr.doc_id = r.doc_id),
           |aud$i AS (SELECT DISTINCT b.doc_id
           |  FROM mah b JOIN $w w ON w.doc_id = b.doc_id
           |  JOIN mah r ON r.fp_hi = b.fp_hi AND r.fp_lo = b.fp_lo
           |  JOIN $ref rr ON rr.doc_id = r.doc_id),
           |v$i AS (SELECT i.doc_id,
           |    (md5(i.text) IN (SELECT md5(text) FROM $ref)) AS exact_dup,
           |    (n.doc_id IS NOT NULL) AS near_dup,
           |    (im.doc_id IS NOT NULL) AS image_dup,
           |    (au.doc_id IS NOT NULL) AS audio_dup
           |  FROM $w i LEFT JOIN near$i n USING (doc_id)
           |  LEFT JOIN img$i im USING (doc_id)
           |  LEFT JOIN aud$i au USING (doc_id))""".stripMargin
      s"""WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
         |w0 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 0),
         |w1 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 1
         |       UNION ALL
         |       SELECT doc_id + 7000000, translate(text, 'aeiou', 'uoiea')
         |       FROM documents WHERE doc_id < 400 AND doc_id % 50 = 0
         |       UNION ALL
         |       SELECT doc_id + 1000000, translate(text, 'aeiou', 'uoiea')
         |       FROM documents WHERE doc_id < 400 AND doc_id % 70 = 0
         |       UNION ALL
         |       SELECT doc_id + 3500000, translate(text, 'aeiou', 'uoiea')
         |       FROM documents WHERE doc_id < 400 AND doc_id % 90 = 0),
         |w2 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 2
         |       UNION ALL
         |       SELECT doc_id + 7000000, translate(text, 'aeiou', 'uoiea')
         |       FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 5 = 0
         |       UNION ALL
         |       SELECT doc_id + 21000000, text FROM documents
         |       WHERE doc_id < 400 AND doc_id % 100 = 0),
         |allc AS (SELECT * FROM seed UNION ALL SELECT * FROM w0
         |         UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2),
         |sets AS (SELECT doc_id AS _id, $shingleHashesSql AS s
         |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc)),
         |mtb AS (SELECT doc_id,
         |    (length(text) + 31 * (doc_id % 1000000)) % 200 AS a,
         |    3 + 2 * ((length(text) + (doc_id % 1000000)) % 13) AS p1,
         |    5 + 2 * ((length(text) + 3 * (doc_id % 1000000)) % 11) AS p2
         |  FROM allc),
         |mtg AS (SELECT doc_id,
         |  flatten(list_transform(range(0, 8), j ->
         |    list_transform(range(0, 8), i ->
         |      (a + (2 * i) * p1 + ((j * 12) // 8) * p2) % 251))) AS sv
         |  FROM mtb),
         |mtt AS (SELECT doc_id, sv, list_sum(sv) AS total FROM mtg),
         |mih AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(32, 64), p ->
         |    CASE WHEN 64 * sv[p + 1] >= total
         |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
         |    AS hash_hi,
         |  CAST(list_sum(list_transform(range(0, 32), p ->
         |    CASE WHEN 64 * sv[p + 1] >= total
         |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
         |    AS hash_lo
         |  FROM mtt),
         |mad AS (SELECT doc_id, 1 + length(text) % 240 AS n,
         |    (length(text) * 131 + 37 * (doc_id % ${AudioSeedMod})) % 65521
         |      AS a
         |  FROM allc),
         |mae AS (SELECT doc_id,
         |  list_transform(range(0, 65), w ->
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(range((w * n) // 65, ((w + 1) * n) // 65),
         |        j -> abs(((a + j * 7919) % 65521) - 32760)::BIGINT)),
         |      (x, y) -> x + y)) AS es
         |  FROM mad),
         |mah AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(32, 64), p ->
         |    CASE WHEN es[p + 2] > es[p + 1]
         |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
         |    AS fp_hi,
         |  CAST(list_sum(list_transform(range(0, 32), p ->
         |    CASE WHEN es[p + 2] > es[p + 1]
         |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
         |    AS fp_lo
         |  FROM mae),
         |${round(0, "seed", "w0")},
         |ref1 AS (SELECT * FROM seed UNION ALL
         |         SELECT w.doc_id, w.text FROM w0 w JOIN v0 v USING (doc_id)
         |         WHERE NOT v.exact_dup AND NOT v.near_dup
         |           AND NOT v.image_dup AND NOT v.audio_dup),
         |${round(1, "ref1", "w1")},
         |ref2 AS (SELECT * FROM ref1 UNION ALL
         |         SELECT w.doc_id, w.text FROM w1 w JOIN v1 v USING (doc_id)
         |         WHERE NOT v.exact_dup AND NOT v.near_dup
         |           AND NOT v.image_dup AND NOT v.audio_dup),
         |${round(2, "ref2", "w2")}
         |SELECT doc_id, exact_dup, near_dup, image_dup, audio_dup,
         |  (NOT exact_dup AND NOT near_dup
         |   AND NOT image_dup AND NOT audio_dup) AS admitted
         |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1
         |      UNION ALL SELECT * FROM v2)
         |ORDER BY doc_id""".stripMargin
    },
    // m24 = m22's unrolled rounds + the FROZEN benchmark-media
    // fingerprint tables — see below; w17's oracle moved to
    // [[dynamicOracleSql]] (its plane count is the corpus-scaled d14b
    // dial, so the literals render per dir)
    // m24 = m22's unrolled rounds + the FROZEN benchmark-media
    // fingerprint tables (bench is DISJOINT from the seed, so a
    // benchmark clone matches no state fingerprint — only the
    // contamination join catches it); fingerprints rebuild in closed
    // form over allc ∪ bench; refs evolve by the 5-way admitted flag
    "m24_media_decontaminated_admission" -> {
      def round(i: Int, ref: String, w: String): String =
        s"""c$i AS (SELECT doc_id, text FROM $ref
           |        UNION ALL SELECT doc_id, text FROM $w),
           |${minhashPipelineSqlOver(s"c$i", s"$i")},
           |x$i AS (SELECT doc_a, doc_b FROM cand$i
           |  WHERE (doc_a IN (SELECT doc_id FROM $w))
           |     <> (doc_b IN (SELECT doc_id FROM $w))),
           |near$i AS (
           |  SELECT DISTINCT CASE WHEN doc_a IN (SELECT doc_id FROM $w)
           |    THEN doc_a ELSE doc_b END AS doc_id
           |  FROM x$i JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id
           |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
           |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5),
           |img$i AS (SELECT DISTINCT b.doc_id
           |  FROM mih b JOIN $w w ON w.doc_id = b.doc_id
           |  JOIN mih r ON r.hash_hi = b.hash_hi AND r.hash_lo = b.hash_lo
           |  JOIN $ref rr ON rr.doc_id = r.doc_id),
           |aud$i AS (SELECT DISTINCT b.doc_id
           |  FROM mah b JOIN $w w ON w.doc_id = b.doc_id
           |  JOIN mah r ON r.fp_hi = b.fp_hi AND r.fp_lo = b.fp_lo
           |  JOIN $ref rr ON rr.doc_id = r.doc_id),
           |v$i AS MATERIALIZED (SELECT i.doc_id,
           |    (md5(i.text) IN (SELECT md5(text) FROM $ref)) AS exact_dup,
           |    (n.doc_id IS NOT NULL) AS near_dup,
           |    (im.doc_id IS NOT NULL) AS image_dup,
           |    (au.doc_id IS NOT NULL) AS audio_dup,
           |    (mc.doc_id IS NOT NULL) AS media_contaminated
           |  FROM $w i LEFT JOIN near$i n USING (doc_id)
           |  LEFT JOIN img$i im USING (doc_id)
           |  LEFT JOIN aud$i au USING (doc_id)
           |  LEFT JOIN mct mc USING (doc_id))""".stripMargin
      s"""WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
         |bench AS (SELECT doc_id, text FROM documents
         |          WHERE doc_id >= 300 AND doc_id < 400),
         |w0 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 0),
         |w1 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 1
         |       UNION ALL
         |       SELECT doc_id + 7000000, translate(text, 'aeiou', 'uoiea')
         |       FROM documents WHERE doc_id < 300 AND doc_id % 50 = 0
         |       UNION ALL
         |       SELECT doc_id + 7000000, translate(text, 'aeiou', 'uoiea')
         |       FROM documents
         |       WHERE doc_id >= 300 AND doc_id < 400 AND doc_id % 30 = 0),
         |w2 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 2
         |       UNION ALL
         |       SELECT doc_id + 7000000, translate(text, 'aeiou', 'uoiea')
         |       FROM documents
         |       WHERE doc_id >= 400 AND doc_id % 3 = 0 AND doc_id % 5 = 0
         |       UNION ALL
         |       SELECT doc_id + 14000000, translate(text, 'aeiou', 'uoiea')
         |       FROM documents
         |       WHERE doc_id >= 300 AND doc_id < 400 AND doc_id % 45 = 0),
         |allc AS MATERIALIZED (SELECT * FROM seed UNION ALL SELECT * FROM w0
         |        UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2),
         |allm AS MATERIALIZED (SELECT * FROM allc
         |        UNION ALL SELECT * FROM bench),
         |sets AS MATERIALIZED (SELECT doc_id AS _id, $shingleHashesSql AS s
         |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM allc)),
         |mtb AS (SELECT doc_id,
         |    (length(text) + 31 * (doc_id % 1000000)) % 200 AS a,
         |    3 + 2 * ((length(text) + (doc_id % 1000000)) % 13) AS p1,
         |    5 + 2 * ((length(text) + 3 * (doc_id % 1000000)) % 11) AS p2
         |  FROM allm),
         |mtg AS (SELECT doc_id,
         |  flatten(list_transform(range(0, 8), j ->
         |    list_transform(range(0, 8), i ->
         |      (a + (2 * i) * p1 + ((j * 12) // 8) * p2) % 251))) AS sv
         |  FROM mtb),
         |mtt AS (SELECT doc_id, sv, list_sum(sv) AS total FROM mtg),
         |mih AS MATERIALIZED (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(32, 64), p ->
         |    CASE WHEN 64 * sv[p + 1] >= total
         |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
         |    AS hash_hi,
         |  CAST(list_sum(list_transform(range(0, 32), p ->
         |    CASE WHEN 64 * sv[p + 1] >= total
         |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
         |    AS hash_lo
         |  FROM mtt),
         |mad AS (SELECT doc_id, 1 + length(text) % 240 AS n,
         |    (length(text) * 131 + 37 * (doc_id % ${AudioSeedMod})) % 65521
         |      AS a
         |  FROM allm),
         |mae AS (SELECT doc_id,
         |  list_transform(range(0, 65), w ->
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(range((w * n) // 65, ((w + 1) * n) // 65),
         |        j -> abs(((a + j * 7919) % 65521) - 32760)::BIGINT)),
         |      (x, y) -> x + y)) AS es
         |  FROM mad),
         |mah AS MATERIALIZED (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(32, 64), p ->
         |    CASE WHEN es[p + 2] > es[p + 1]
         |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
         |    AS fp_hi,
         |  CAST(list_sum(list_transform(range(0, 32), p ->
         |    CASE WHEN es[p + 2] > es[p + 1]
         |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
         |    AS fp_lo
         |  FROM mae),
         |bihash AS (SELECT hash_hi, hash_lo FROM mih
         |           JOIN bench USING (doc_id)),
         |bahash AS (SELECT fp_hi, fp_lo FROM mah
         |           JOIN bench USING (doc_id)),
         |mct AS MATERIALIZED (
         |  SELECT DISTINCT m.doc_id FROM mih m
         |  JOIN bihash b ON b.hash_hi = m.hash_hi AND b.hash_lo = m.hash_lo
         |  WHERE m.doc_id NOT IN (SELECT doc_id FROM bench)
         |  UNION
         |  SELECT DISTINCT m.doc_id FROM mah m
         |  JOIN bahash b ON b.fp_hi = m.fp_hi AND b.fp_lo = m.fp_lo
         |  WHERE m.doc_id NOT IN (SELECT doc_id FROM bench)),
         |${round(0, "seed", "w0")},
         |ref1 AS MATERIALIZED (SELECT * FROM seed UNION ALL
         |         SELECT w.doc_id, w.text FROM w0 w JOIN v0 v USING (doc_id)
         |         WHERE NOT v.exact_dup AND NOT v.near_dup
         |           AND NOT v.image_dup AND NOT v.audio_dup
         |           AND NOT v.media_contaminated),
         |${round(1, "ref1", "w1")},
         |ref2 AS MATERIALIZED (SELECT * FROM ref1 UNION ALL
         |         SELECT w.doc_id, w.text FROM w1 w JOIN v1 v USING (doc_id)
         |         WHERE NOT v.exact_dup AND NOT v.near_dup
         |           AND NOT v.image_dup AND NOT v.audio_dup
         |           AND NOT v.media_contaminated),
         |${round(2, "ref2", "w2")}
         |SELECT doc_id, exact_dup, near_dup, image_dup, audio_dup,
         |  media_contaminated,
         |  (NOT exact_dup AND NOT near_dup
         |   AND NOT image_dup AND NOT audio_dup
         |   AND NOT media_contaminated) AS admitted
         |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1
         |      UNION ALL SELECT * FROM v2)
         |ORDER BY doc_id""".stripMargin
    },
    // same banded candidates + exact-Jaccard verify as d2/d4, restricted
    // to pairs whose hash-split flags differ; x9's split arithmetic
    "x21_split_leakage" ->
      s"""WITH $minhashPipelineSql,
         |cpairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
         |sets AS (SELECT doc_id AS _id, $shingleHashesSql AS s
         |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents)),
         |flag AS (SELECT doc_id, ${h60("text")} % 1000 < 200 AS in_val
         |         FROM documents),
         |cross0 AS (
         |  SELECT doc_a, doc_b, fa.in_val AS va
         |  FROM cpairs JOIN flag fa ON doc_a = fa.doc_id
         |  JOIN flag fb ON doc_b = fb.doc_id
         |  WHERE fa.in_val <> fb.in_val),
         |ver AS (
         |  SELECT doc_a, doc_b, va,
         |    len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE AS jaccard
         |  FROM cross0 JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id)
         |SELECT CASE WHEN va THEN doc_b ELSE doc_a END AS train_id,
         |  CASE WHEN va THEN doc_a ELSE doc_b END AS val_id, jaccard
         |FROM ver WHERE jaccard >= 0.5
         |ORDER BY train_id, val_id""".stripMargin,
    // x24: x21's leak chain, then the repair — every leaking val doc's
    // assignment flips to train, one row per doc with the audit flags
    "x24_split_leakage_repair" ->
      s"""WITH $minhashPipelineSql,
         |cpairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
         |sets AS (SELECT doc_id AS _id, $shingleHashesSql AS s
         |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents)),
         |flag AS (SELECT doc_id, ${h60("text")} % 1000 < 200 AS in_val
         |         FROM documents),
         |cross0 AS (
         |  SELECT doc_a, doc_b, fa.in_val AS va
         |  FROM cpairs JOIN flag fa ON doc_a = fa.doc_id
         |  JOIN flag fb ON doc_b = fb.doc_id
         |  WHERE fa.in_val <> fb.in_val),
         |ver AS (
         |  SELECT doc_a, doc_b, va,
         |    len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE AS jaccard
         |  FROM cross0 JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id),
         |leak AS (SELECT DISTINCT CASE WHEN va THEN doc_a ELSE doc_b END AS doc_id
         |         FROM ver WHERE jaccard >= 0.5)
         |SELECT f.doc_id, f.in_val AS in_val_before,
         |  (f.in_val AND l.doc_id IS NULL) AS in_val_after,
         |  (f.in_val AND l.doc_id IS NOT NULL) AS moved
         |FROM flag f LEFT JOIN leak l USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "d1_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM corpus GROUP BY text ORDER BY doc_id""".stripMargin,
    "d2_dedup_minhash_lsh" ->
      s"""WITH $minhashPipelineSql
         |SELECT doc_a, doc_b,
         |  max(list_sum(list_transform(range(1, ${NumPerms + 1}),
         |    j -> CASE WHEN siga[j] = sigb[j] THEN 1 ELSE 0 END)))::INTEGER AS n_matching
         |FROM cand GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin,
    // Connected components as a recursive transitive closure — O(n^2)
    // per component, fine for an oracle over the tiny candidate graph
    // (the Spark side is the scalable label-propagation loop; d8 is the
    // star-contraction variant with the identical pairs→groups contract,
    // so both check against the same closure).
    "d6_dup_clusters" -> ccClosureOracleSql,
    "x14_repeated_ngrams" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS t FROM documents
         |  WHERE len($toksSql) >= 5),
         |grams AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(0, len(t) - 4),
         |      i -> array_to_string(t[i+1:i+5], ' '))) AS gram
         |  FROM toks)
         |SELECT gram, count(DISTINCT doc_id) AS n_docs,
         |  count(*) AS n_occurrences
         |FROM grams GROUP BY gram
         |HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY n_docs DESC, n_occurrences DESC, gram
         |LIMIT 15""".stripMargin,
    "d9_chunk_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS t FROM documents
         |  WHERE len($toksSql) > 0),
         |chunks AS (
         |  SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, u.chunk FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(0, CAST(ceil(len(t)/10.0) AS BIGINT)),
         |        i -> {'pos': i, 'chunk': array_to_string(t[i*10+1:i*10+10], ' ')})) AS u
         |    FROM toks)),
         |freq AS (
         |  SELECT chunk, count(DISTINCT doc_id) AS dfreq FROM chunks GROUP BY chunk),
         |kept AS (
         |  SELECT c.doc_id, c.pos, c.chunk FROM chunks c JOIN freq f USING (chunk)
         |  WHERE f.dfreq < 2),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    md5(string_agg(chunk, ' ' ORDER BY pos)) AS clean_digest
         |  FROM kept GROUP BY doc_id),
         |base AS (SELECT doc_id, CAST(ceil(len(t)/10.0) AS INTEGER) AS n_chunks FROM toks)
         |SELECT b.doc_id, b.n_chunks,
         |  CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_kept,
         |  coalesce(a.clean_digest, md5('')) AS clean_digest
         |FROM base b LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "d8_dup_clusters_star" -> ccClosureOracleSql,
    "d3_dedup_simhash" ->
      s"""WITH sh AS (
         |  SELECT doc_id AS _id,
         |    list_sum(list_transform(range(0, 60), i ->
         |      CASE WHEN list_sum(list_transform(hs, h ->
         |          CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |        THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS sh
         |  FROM (SELECT doc_id,
         |          list_transform($toksSql, t -> ${h60("t")}) AS hs
         |        FROM documents)),
         |banded AS (
         |  ${(0 until 4).map(b =>
              s"SELECT _id, $b AS band, (sh >> ${b * 15}) & 32767 AS bkey, sh FROM sh")
              .mkString("\n  UNION ALL ")}),
         |pairs AS (
         |  SELECT a._id AS doc_a, b._id AS doc_b,
         |    min(bit_count(xor(a.sh, b.sh)))::INTEGER AS hamming
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
         |  WHERE a._id < b._id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, hamming FROM pairs
         |WHERE hamming <= 16 ORDER BY doc_a, doc_b""".stripMargin,
    "d4_dedup_jaccard_verify" ->
      s"""WITH $minhashPipelineSql,
         |pairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
         |sets AS (SELECT doc_id AS _id, $shingleHashesSql AS s
         |         FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents))
         |SELECT doc_a, doc_b,
         |  len(list_intersect(a.s, b.s))::DOUBLE /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE AS jaccard
         |FROM pairs JOIN sets a ON doc_a = a._id JOIN sets b ON doc_b = b._id
         |WHERE len(list_intersect(a.s, b.s))::DOUBLE /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d5_decontamination" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($shingleHashesSql) AS h
         |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents)),
         |rare AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= 10),
         |filt AS (SELECT doc_id, h FROM sh JOIN rare USING (h)),
         |b AS (SELECT doc_id AS bench_id, h FROM filt WHERE doc_id < 20),
         |t AS (SELECT doc_id AS train_id, h FROM filt WHERE doc_id >= 20)
         |SELECT bench_id, train_id, count(*) AS n_shared
         |FROM b JOIN t USING (h)
         |GROUP BY 1, 2 HAVING count(*) >= 5
         |ORDER BY bench_id, train_id""".stripMargin,
    // d16: the plant (30-token verbatim quote + shingle-novel filler)
    // and the df-capped overlap join replayed per incoming doc
    "d16_decontaminate_admission" ->
      s"""WITH bench AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id < 400 AND doc_id % 10 = 0),
         |inc AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
         |  UNION ALL
         |  SELECT doc_id + 5000000,
         |    array_to_string(list_slice($toksSql, 1, 30), ' ')
         |      || ' ' || translate(text, 'aeiou', 'uoiea')
         |  FROM bench WHERE doc_id % 20 = 0),
         |bsh AS (SELECT doc_id AS bench_id, unnest($shingleHashesSql) AS h
         |        FROM (SELECT doc_id, $tokenHashesSql AS th FROM bench)),
         |keep AS (SELECT h FROM bsh GROUP BY h HAVING count(*) <= 10),
         |posts AS (SELECT bench_id, h FROM bsh JOIN keep USING (h)),
         |ish AS (SELECT doc_id, unnest($shingleHashesSql) AS h
         |        FROM (SELECT doc_id, $tokenHashesSql AS th FROM inc)),
         |hits AS (SELECT doc_id, bench_id, count(*) AS shared
         |         FROM ish JOIN posts USING (h)
         |         GROUP BY 1, 2 HAVING count(*) >= 5),
         |agg AS (SELECT doc_id, count(*) AS n_bench_docs,
         |          max(shared) AS max_shared
         |        FROM hits GROUP BY 1)
         |SELECT i.doc_id,
         |  coalesce(a.n_bench_docs, 0) AS n_bench_docs,
         |  coalesce(a.max_shared, 0) AS max_shared,
         |  (a.doc_id IS NOT NULL) AS contaminated
         |FROM inc i LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // the Bloom prune is invisible to results (no false negatives; false
    // positives die in the exact join), so the oracle is plain overlap
    "d7_decontaminate_bloom" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($shingleHashesSql) AS h
         |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents)),
         |b0 AS (SELECT doc_id AS bench_id, h FROM sh WHERE doc_id < 20),
         |keep AS (SELECT h FROM b0 GROUP BY h HAVING count(*) <= 10),
         |b AS (SELECT bench_id, h FROM b0 JOIN keep USING (h)),
         |t AS (SELECT doc_id AS train_id, h FROM sh WHERE doc_id >= 20)
         |SELECT bench_id, train_id, count(*) AS n_shared
         |FROM b JOIN t USING (h)
         |GROUP BY 1, 2 HAVING count(*) >= 3
         |ORDER BY bench_id, train_id""".stripMargin,
    "x23_hashed_embedding" ->
      s"""WITH $hashedEmbCtes
         |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
         |  CAST(len(list_filter(v, x -> x <> 0.0)) AS INTEGER) AS nnz,
         |  list_reduce(list_prepend(0.0::DOUBLE, v), (a, x) -> a + x) AS v_sum,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range(1, ${Dim + 1}), i -> v[i] * i)),
         |    (a, x) -> a + x) AS v_checksum
         |FROM hv ORDER BY doc_id""".stripMargin,
    // d15 = d10's SemDeDup shape over the constructed hashed vectors
    "d15_text_semdedup" ->
      s"""WITH cents AS (SELECT $centsSql AS ct),
         |$hashedEmbCtes,
         |b AS (SELECT doc_id AS id, v,
         |        CAST(-(${rankedSql("v")})[1].nj - 1 AS INTEGER) AS cell
         |      FROM hv, cents),
         |dd AS (SELECT DISTINCT y.id FROM b x JOIN b y USING (cell)
         |      WHERE x.id < y.id AND ${cosineSql("x.v", "y.v")} >= 0.9e0)
         |SELECT id, cell FROM b WHERE id NOT IN (SELECT id FROM dd)
         |ORDER BY id""".stripMargin,
    // d14 = e4's LSH near-dup shape over the constructed hashed
    // vectors instead of the embeddings table
    "d14_text_embedding_neardup" ->
      s"""WITH planes AS (SELECT $planesSql AS pl),
         |$hashedEmbCtes,
         |b AS (SELECT doc_id AS id, v, ${bucketSql("v")} AS bucket
         |      FROM hv, planes)
         |SELECT a.id AS ida, b2.id AS idb, ${cosineSql("a.v", "b2.v")} AS sim
         |FROM b a JOIN b b2 USING (bucket) WHERE a.id < b2.id
         |ORDER BY sim DESC, ida, idb LIMIT 20""".stripMargin,
    "e1_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS sim
         |  FROM q, c WHERE query_id <> neighbor_id)
         |SELECT query_id, rank, neighbor_id, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rank FROM scored) t
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "e8_label_centroid_sum" ->
      s"""WITH base AS (
         |  SELECT label, embedding AS v,
         |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
         |  FROM embeddings),
         |quant AS (
         |  SELECT label,
         |    CASE WHEN amax > 0
         |      THEN list_transform(v, x -> CAST(floor(x::DOUBLE / amax * 127) AS BIGINT))
         |      ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
         |  FROM base),
         |n AS (SELECT label, count(*) AS n_vecs FROM quant GROUP BY label),
         |pos AS (SELECT label, i, qv[i] AS q FROM quant, range(1, ${Dim + 1}) t(i))
         |SELECT p.label, n.n_vecs, CAST(p.i AS INTEGER) AS d,
         |  CAST(sum(p.q) AS BIGINT) AS s
         |FROM pos p JOIN n USING (label)
         |GROUP BY p.label, n.n_vecs, p.i
         |ORDER BY label, d""".stripMargin,
    "e7_ivfpq_topk" -> ivfPqOracleSql(centsSql, pqBooksSql, pqNormsSql),

    "e6_pq_topk" -> pqOracleSql(pqBooksSql, pqNormsSql),
    // quantization mirrored exactly: floor(x/amax*127) (floor, not
    // round — half-way rules differ across engines); the dot is pure
    // integer arithmetic, so no fold-order contract is needed
    "e5_quantized_topk" ->
      s"""WITH base AS (
         |  SELECT vec_id, embedding AS v,
         |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
         |  FROM embeddings),
         |quant AS (
         |  SELECT vec_id,
         |    CASE WHEN amax > 0
         |      THEN list_transform(v, x -> CAST(floor(x::DOUBLE / amax * 127) AS BIGINT))
         |      ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
         |  FROM base),
         |q AS (SELECT vec_id AS query_id, qv AS qa FROM quant WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, qv AS qb FROM quant),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |      i -> qa[i] * qb[i])) AS BIGINT) AS qdot
         |  FROM q, c WHERE query_id <> neighbor_id)
         |SELECT query_id, rank, neighbor_id, qdot FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY qdot DESC, neighbor_id) AS rank FROM scored) t
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "e2_ann_lsh_topk" ->
      s"""WITH planes AS (SELECT $planesSql AS pl),
         |q AS (SELECT vec_id AS query_id, embedding AS qv,
         |        ${bucketSql("qv")} AS bucket
         |      FROM embeddings, planes WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
         |        ${bucketSql("cv")} AS bucket
         |      FROM embeddings, planes),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS sim
         |  FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id)
         |SELECT query_id, rank, neighbor_id, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rank FROM scored) t
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "e3_ivf_topk" -> ivfOracleSql(centsSql),
    // e15: the same IVF shape with the corpus pre-filtered to the
    // permitted metadata slice; queries stay unfiltered
    "e15_filtered_topk" -> ivfOracleSql(centsSql, cPred = "label % 4 = 1"),
    // both retrievals re-derived (e1's exact scan, e3's IVF probe) and
    // joined: n_hit = |ivf ∩ exact| per query; the division is one
    // int→double cast and one divide, bit-exact in both engines
    "e13_ann_recall" ->
      s"""WITH cents AS (SELECT $centsSql AS ct),
         |eq AS (SELECT vec_id AS query_id, embedding AS qv
         |       FROM embeddings WHERE vec_id < 5),
         |ec AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |escore AS (
         |  SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS sim
         |  FROM eq, ec WHERE query_id <> neighbor_id),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rank FROM escore) t
         |  WHERE rank <= $TopK),
         |iq AS (SELECT vec_id AS query_id, embedding AS qv,
         |        unnest(list_transform(list_slice(${rankedSql("qv")}, 1, $NProbe),
         |          x -> -x.nj)) AS cell
         |      FROM embeddings, cents WHERE vec_id < 5),
         |ic AS (SELECT vec_id AS neighbor_id, embedding AS cv,
         |        -(${rankedSql("cv")})[1].nj AS cell
         |      FROM embeddings, cents),
         |iscore AS (
         |  SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS sim
         |  FROM iq JOIN ic USING (cell) WHERE query_id <> neighbor_id),
         |ivf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rank FROM iscore) t
         |  WHERE rank <= $TopK)
         |SELECT e.query_id, $TopK AS k,
         |  CAST(count(i.neighbor_id) AS INTEGER) AS n_hit,
         |  count(i.neighbor_id)::DOUBLE / ${TopK}.0 AS recall_at_k
         |FROM exact e LEFT JOIN ivf i USING (query_id, neighbor_id)
         |GROUP BY e.query_id ORDER BY query_id""".stripMargin,
    "e9_knn_graph" -> ivfOracleSql(centsSql, qPred = "TRUE", topK = 3),
    // popcount(xor(signbits)) == count of sign disagreements — the
    // oracle counts those directly from the raw floats (DuckDB's `<<`
    // is overflow-checked at bit 63, so it can't build the packed long;
    // the equality is definitional, not approximate)
    "e11_hamming_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    list_sum(list_transform(range(1, ${Dim + 1}),
         |      i -> CASE WHEN (qv[i] > 0.0) <> (cv[i] > 0.0) THEN 1 ELSE 0 END))::INTEGER
         |      AS hamming
         |  FROM q, c WHERE query_id <> neighbor_id)
         |SELECT query_id, rank, neighbor_id, hamming FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY hamming, neighbor_id) AS rank FROM scored) t
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "e10_mmr_diversify" -> mmrOracleSql,
    // same sign-disagreement shortlist as e11, then the e1 cosine over
    // only the shortlisted pairs
    "e12_hamming_rerank" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |ham AS (
         |  SELECT query_id, neighbor_id,
         |    list_sum(list_transform(range(1, ${Dim + 1}),
         |      i -> CASE WHEN (qv[i] > 0.0) <> (cv[i] > 0.0) THEN 1 ELSE 0 END)) AS h
         |  FROM q, c WHERE query_id <> neighbor_id),
         |short AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY h, neighbor_id) AS rk FROM ham) t WHERE rk <= 30),
         |scored AS (
         |  SELECT s.query_id, s.neighbor_id, ${cosineSql("q.qv", "c.cv")} AS sim
         |  FROM short s JOIN q USING (query_id)
         |  JOIN c USING (neighbor_id))
         |SELECT query_id, rank, neighbor_id, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rank FROM scored) t
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    // duplicated 15-token windows (>= 2 distinct docs) merge into
    // maximal spans per doc: islands over ascending window starts, gap
    // > 15 breaks (same-length intervals)
    "d11_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents
         |           WHERE len($toksSql) >= 15),
         |w AS (SELECT doc_id, i, array_to_string(t[i+1:i+15], ' ') AS gram
         |      FROM (SELECT doc_id, t, unnest(range(0, len(t)-15+1)) AS i FROM t)),
         |d AS (SELECT gram FROM w GROUP BY gram
         |      HAVING count(DISTINCT doc_id) >= 2),
         |m AS (SELECT doc_id, i FROM w JOIN d USING (gram)),
         |b AS (SELECT doc_id, i,
         |        CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 15
         |             THEN 1 ELSE 0 END AS brk
         |      FROM m),
         |g AS (SELECT doc_id, i,
         |        sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
         |      FROM b)
         |SELECT doc_id, CAST(min(i) AS INTEGER) AS span_start,
         |  CAST(max(i) + 15 AS INTEGER) AS span_end
         |FROM g GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin,
    // x26 = the same inverted-index shape as d5, corpus-wide: informative
    // shingles (2 <= df <= 20), pair counts via the posting self-join,
    // integer-exact threshold, containment as one small-int division.
    // (doc, shingle) pairs are unique by construction — shingleHashesSql
    // carries list_distinct, mirroring the Spark side's array_distinct —
    // so df is true document frequency (set semantics)
    "x26_containment_pairs" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($shingleHashesSql) AS h
         |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents)),
         |rare AS (SELECT h FROM sh GROUP BY h HAVING count(*) BETWEEN 2 AND 20),
         |p AS (SELECT doc_id, h FROM sh JOIN rare USING (h)),
         |na AS (SELECT doc_id, count(*) AS n_a FROM p GROUP BY doc_id),
         |shr AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS shared
         |        FROM p a JOIN p b USING (h) WHERE a.doc_id <> b.doc_id
         |        GROUP BY 1, 2)
         |SELECT ida, idb, n_a, shared,
         |  shared::DOUBLE / n_a::DOUBLE AS containment
         |FROM shr JOIN na ON ida = na.doc_id
         |WHERE shared * 2 >= n_a
         |ORDER BY ida, idb""".stripMargin,
    // x27 = df per shingle (document frequency — (doc, shingle) pairs
    // unique via shingleHashesSql's list_distinct, set semantics),
    // novel = df 1, one small-int division
    "x27_novelty_score" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($shingleHashesSql) AS h
         |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents)),
         |d AS (SELECT h, count(*) AS df FROM sh GROUP BY h)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE AS novelty
         |FROM sh JOIN d USING (h) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    // x28 = the reference's distinct shingles, one left join per batch
    // doc (the batch side is per-doc distinct via list_distinct too)
    "x28_novelty_admission" ->
      s"""WITH rsh AS (
         |  SELECT DISTINCT unnest($shingleHashesSql) AS h
         |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents
         |        WHERE doc_id < 400)),
         |ish AS (
         |  SELECT doc_id, unnest($shingleHashesSql) AS h
         |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents
         |        WHERE doc_id >= 400))
         |SELECT i.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN r.h IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_known,
         |  sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE AS novelty
         |FROM ish i LEFT JOIN rsh r USING (h) GROUP BY i.doc_id
         |ORDER BY i.doc_id""".stripMargin,
    // x25 = the repair replayed in closed form: duplicated windows with
    // their min-doc keeper, removed positions = the union of non-keeper
    // windows' [i, i+15), survivors reassembled by position
    "x25_span_dedup_repair" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
         |w AS (SELECT doc_id, i, array_to_string(t[i+1:i+15], ' ') AS gram
         |      FROM (SELECT doc_id, t, unnest(range(0, len(t)-15+1)) AS i
         |            FROM t WHERE len(t) >= 15)),
         |d AS (SELECT gram, min(doc_id) AS keep FROM w GROUP BY gram
         |      HAVING count(DISTINCT doc_id) >= 2),
         |rm AS (SELECT DISTINCT w.doc_id, w.i + u.j AS j
         |       FROM w JOIN d USING (gram), unnest(range(0, 15)) u(j)
         |       WHERE d.keep < w.doc_id),
         |ra AS (SELECT doc_id, count(*) AS n_removed FROM rm GROUP BY doc_id),
         |pos AS (SELECT doc_id, j, t[j+1] AS tok
         |        FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS j FROM t)),
         |kept AS (SELECT p.doc_id, p.j, p.tok
         |         FROM pos p ANTI JOIN rm USING (doc_id, j)),
         |clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS clean_text
         |          FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.t) AS INTEGER) AS n_tokens,
         |  CAST(coalesce(ra.n_removed, 0) AS INTEGER) AS n_removed,
         |  coalesce(clean.clean_text, '') AS clean_text
         |FROM t LEFT JOIN ra USING (doc_id) LEFT JOIN clean USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // same cell assignment + sequential-fold cosine as the Spark plan;
    // the survivors are ids with no smaller-id same-cell neighbor >= tau
    "d10_semdedup" ->
      s"""WITH cents AS (SELECT $centsSql AS ct),
         |b AS (SELECT vec_id AS id, embedding AS v,
         |        CAST(-(${rankedSql("v")})[1].nj - 1 AS INTEGER) AS cell
         |      FROM embeddings, cents),
         |d AS (SELECT DISTINCT y.id FROM b x JOIN b y USING (cell)
         |      WHERE x.id < y.id AND ${cosineSql("x.v", "y.v")} >= 0.40e0)
         |SELECT id, cell FROM b WHERE id NOT IN (SELECT id FROM d)
         |ORDER BY id""".stripMargin,
    "e4_embedding_neardup" ->
      s"""WITH planes AS (SELECT $planesSql AS pl),
         |b AS (SELECT vec_id AS id, embedding AS v,
         |        ${bucketSql("v")} AS bucket
         |      FROM embeddings, planes)
         |SELECT a.id AS ida, b2.id AS idb, ${cosineSql("a.v", "b2.v")} AS sim
         |FROM b a JOIN b b2 USING (bucket) WHERE a.id < b2.id
         |ORDER BY sim DESC, ida, idb LIMIT 20""".stripMargin,
    "x1_lang_id" ->
      s"""WITH scored AS (SELECT doc_id, $langScoreSql FROM documents)
         |SELECT $langGuessSql AS lang_guess, count(*) AS n
         |FROM scored GROUP BY 1 ORDER BY lang_guess""".stripMargin,
    "x13_mix_report" ->
      s"""SELECT lang, source, grouping(lang, source) AS gid,
         |  count(*) AS n_docs,
         |  CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |FROM documents
         |GROUP BY GROUPING SETS ((lang), (source), (lang, source))
         |ORDER BY gid, lang, source""".stripMargin,
    "x12_domain_cap" ->
      s"""SELECT source, rk, doc_id FROM (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${h60("source || '|' || doc_id")}, doc_id) AS rk
         |  FROM documents) t
         |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    "x11_quality_band" ->
      s"""WITH f AS (
         |  SELECT doc_id, lang,
         |    len($toksSql)::BIGINT AS n_words,
         |    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
         |      / length(text)::DOUBLE AS punct_ratio,
         |    len(list_filter($toksSql, t -> list_contains($stopwordsSql, lower(t))))::DOUBLE
         |      / len($toksSql)::DOUBLE AS stopword_ratio,
         |    len(list_distinct($toksSql))::DOUBLE / len($toksSql)::DOUBLE AS distinct_ratio
         |  FROM documents),
         |s AS (SELECT doc_id, lang,
         |  ((least(n_words::DOUBLE / 50.0, 1.0) * 0.3 + distinct_ratio * 0.4)
         |     + least(stopword_ratio * 5.0, 1.0) * 0.3)
         |    * (1.0 - least(punct_ratio * 10.0, 1.0) * 0.5) AS q
         |  FROM f),
         |r AS (SELECT s.*, row_number() OVER (ORDER BY q, doc_id) AS rn,
         |        count(*) OVER () AS c FROM s),
         |b AS (SELECT
         |  max(CASE WHEN rn = CAST(floor(0.25*(c-1)) AS INT) + 1 THEN q END) AS lo,
         |  max(CASE WHEN rn = CAST(floor(0.75*(c-1)) AS INT) + 1 THEN q END) AS hi FROM r)
         |SELECT lang, count(*) AS n_in_band, min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM r, b WHERE q >= lo AND q <= hi
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // histogram() rebuilds the exact integer model counts; scoring
    // folds cnt·p over per-doc DISTINCT bigrams in bigram-sorted order
    // — the same sequence the Spark side's array_sort fold walks, so
    // the mean probability compares bit-exact
    "x16_bigram_lm" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 2),
         |bg AS (SELECT doc_id, length(text) - 1 AS n,
         |         substr(text, i, 2) AS b, substr(text, i, 1) AS c
         |       FROM d, LATERAL unnest(range(1, length(text))) AS u(i)),
         |stats AS (SELECT histogram(b) AS mb, histogram(c) AS mc,
         |                 count(DISTINCT b) AS v FROM bg),
         |bgd AS (SELECT doc_id, n, b, c, count(*) AS cnt
         |        FROM bg GROUP BY 1, 2, 3, 4),
         |terms AS (SELECT doc_id, n, b,
         |    cnt * ((coalesce((mb[b])[1]::BIGINT, 0) + 1.0)
         |           / (coalesce((mc[c])[1]::BIGINT, 0) + v)) AS t
         |  FROM bgd, stats)
         |SELECT doc_id,
         |  list_reduce(list_prepend(0.0::DOUBLE, array_agg(t ORDER BY b)),
         |    (acc, x) -> acc + x) / any_value(n) AS lm_score
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x16's scoring shape with the TRAINING frame restricted to the
    // hash-designated reference split and scoring to its complement;
    // the threshold literal renders from the same constant the plan
    // folds, so the keep verdict compares identical bits
    "x22_reference_lm_filter" ->
      s"""WITH refd AS (SELECT text FROM documents
         |  WHERE length(text) >= 2 AND ${h60("text")} % 1000 < 300),
         |tgt AS (SELECT doc_id, text FROM documents
         |  WHERE length(text) >= 2 AND NOT (${h60("text")} % 1000 < 300)),
         |bgr AS (SELECT substr(text, i, 2) AS b, substr(text, i, 1) AS c
         |        FROM refd, LATERAL unnest(range(1, length(text))) AS u(i)),
         |stats AS (SELECT histogram(b) AS mb, histogram(c) AS mc,
         |                 count(DISTINCT b) AS v FROM bgr),
         |bg AS (SELECT doc_id, length(text) - 1 AS n,
         |         substr(text, i, 2) AS b, substr(text, i, 1) AS c
         |       FROM tgt, LATERAL unnest(range(1, length(text))) AS u(i)),
         |bgd AS (SELECT doc_id, n, b, c, count(*) AS cnt
         |        FROM bg GROUP BY 1, 2, 3, 4),
         |terms AS (SELECT doc_id, n, b,
         |    cnt * ((coalesce((mb[b])[1]::BIGINT, 0) + 1.0)
         |           / (coalesce((mc[c])[1]::BIGINT, 0) + v)) AS t
         |  FROM bgd, stats),
         |sc AS (SELECT doc_id,
         |  list_reduce(list_prepend(0.0::DOUBLE, array_agg(t ORDER BY b)),
         |    (acc, x) -> acc + x) / any_value(n) AS lm_score
         |FROM terms GROUP BY doc_id)
         |SELECT doc_id, lm_score, lm_score >= ${dLit(X22Threshold)} AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,
    // same feature CTE as x2; the head is generated from the SAME
    // weight constants the Spark plan folds in (left-associative, like
    // Catalyst), and the fast-sigmoid is rational — bit-exact
    "x15_quality_classifier" ->
      s"""WITH $qualityFeaturesCte,
         |z AS (SELECT doc_id, $classifierZSql AS logit FROM f)
         |SELECT doc_id, logit,
         |  0.5e0 * (1.0e0 + logit / (1.0e0 + abs(logit))) AS prob,
         |  logit >= 0.0e0 AS keep
         |FROM z ORDER BY doc_id""".stripMargin,
    // counts are integers, each ratio one double division — the keep
    // verdict compares identical bits; stop-word hits generated from the
    // same GopherStopWords constant the plan embeds
    "x19_gopher_rules" -> {
      val stops = TextAnalysis.GopherStopWords.map(w => s"'$w'")
        .mkString("[", ",", "]")
      s"""WITH g AS (
         |  SELECT doc_id,
         |    len($toksSql)::BIGINT AS n_words,
         |    list_sum(list_transform($toksSql, t -> length(t)))::DOUBLE
         |      / len($toksSql)::DOUBLE AS mean_word_len,
         |    (len(regexp_extract_all(text, '#'))
         |      + len(regexp_extract_all(text, '\\.\\.\\.')))::DOUBLE
         |      / len($toksSql)::DOUBLE AS symbol_ratio,
         |    len(list_filter(str_split(text, chr(10)),
         |      l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE
         |      / len(str_split(text, chr(10)))::DOUBLE AS bullet_ratio,
         |    len(list_filter(str_split(text, chr(10)),
         |      l -> regexp_matches(l, '(\\.\\.\\.|…)$$')))::DOUBLE
         |      / len(str_split(text, chr(10)))::DOUBLE AS ellipsis_ratio,
         |    len(list_filter($toksSql, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
         |      / len($toksSql)::DOUBLE AS alpha_word_ratio,
         |    len(list_filter($stops,
         |      w -> list_contains(list_transform($toksSql, t -> lower(t)), w)))::INTEGER
         |      AS n_stopwords
         |  FROM documents)
         |SELECT *, (n_words >= 50 AND n_words <= 100000
         |  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |  AND symbol_ratio <= 0.1
         |  AND bullet_ratio <= 0.1 AND ellipsis_ratio <= 0.3
         |  AND alpha_word_ratio >= 0.8 AND n_stopwords >= 1) AS keep
         |FROM g ORDER BY doc_id""".stripMargin
    },
    "x2_quality_score" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    len($toksSql)::BIGINT AS n_words,
         |    list_sum(list_transform($toksSql, t -> length(t)))::DOUBLE
         |      / len($toksSql)::DOUBLE AS mean_word_len,
         |    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
         |      / length(text)::DOUBLE AS punct_ratio,
         |    len(list_filter($toksSql, t -> list_contains($stopwordsSql, lower(t))))::DOUBLE
         |      / len($toksSql)::DOUBLE AS stopword_ratio,
         |    len(list_distinct($toksSql))::DOUBLE / len($toksSql)::DOUBLE AS distinct_ratio
         |  FROM documents)
         |SELECT doc_id, n_words, mean_word_len, punct_ratio, stopword_ratio,
         |  distinct_ratio,
         |  ((least(n_words::DOUBLE / 50.0, 1.0) * 0.3 + distinct_ratio * 0.4)
         |     + least(stopword_ratio * 5.0, 1.0) * 0.3)
         |    * (1.0 - least(punct_ratio * 10.0, 1.0) * 0.5) AS quality
         |FROM f ORDER BY doc_id""".stripMargin,
    "x3_token_count" ->
      s"""SELECT doc_id,
         |  len($toksSql)::INTEGER AS n_ws_tokens,
         |  (list_sum(list_transform(regexp_extract_all(text, '[A-Za-z]+'),
         |     w -> ceil(length(w) / 4.0)::BIGINT))
         |   + length(regexp_replace(text, '[A-Za-z\\s]+', '', 'g')))::BIGINT AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x4_fingerprint" ->
      s"""SELECT doc_id,
         |  CASE WHEN length(norm) > 0 THEN
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(range(1, length(norm) + 1),
         |        i -> unicode(substr(norm, i, 1))::BIGINT)),
         |      (acc, c) -> (acc * 31 + c) % $P)
         |  ELSE 0 END AS fp
         |FROM (SELECT doc_id,
         |        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
         |      FROM documents) ORDER BY doc_id""".stripMargin,
    "x5_repetition" ->
      s"""SELECT doc_id,
         |  CASE WHEN len($toksSql) >= 3 THEN
         |    1.0 - len(list_distinct(list_transform(range(0, len($toksSql) - 2),
         |      i -> $toksSql[i+1] || ' ' || $toksSql[i+2] || ' ' || $toksSql[i+3])))::DOUBLE
         |    / len(list_transform(range(0, len($toksSql) - 2),
         |      i -> $toksSql[i+1] || ' ' || $toksSql[i+2] || ' ' || $toksSql[i+3]))::DOUBLE
         |  ELSE 0.0 END AS rep_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x6_winnowing" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |    CASE WHEN len(th) >= 3 THEN
         |      list_transform(range(0, len(th) - 2),
         |        i -> ((th[i+1] * 31 + th[i+2]) * 31 + th[i+3]) % $P)
         |    ELSE []::BIGINT[] END AS grams
         |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents)),
         |fp AS (
         |  SELECT doc_id,
         |    CASE WHEN len(grams) >= 4 THEN
         |      list_distinct(list_transform(range(0, len(grams) - 3),
         |        i -> list_min(list_slice(grams, i + 1, i + 4))))
         |    ELSE list_distinct(grams) END AS fps
         |  FROM g)
         |SELECT doc_id, len(fps) AS n_fp, list_min(fps) AS fp_min,
         |  list_reduce(list_prepend(0::BIGINT, fps), (a, x) -> a + x) AS fp_sum
         |FROM fp ORDER BY doc_id""".stripMargin,
    "x9_stratified_sample" ->
      s"""SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_id,
         |  max(doc_id) AS max_id
         |FROM documents
         |WHERE CASE WHEN lang = 'en'
         |  THEN ${h60("text")} % 1000 < 200
         |  ELSE ${h60("text")} % 1000 < 800 END
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "x10_sequence_packing" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(floor(doc_id / 100) AS BIGINT) AS shard,
        |    len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tokens
        |  FROM documents),
        |seqd AS (
        |  SELECT shard, doc_id, n_tokens,
        |    CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
        |      / 256) AS BIGINT) AS seq_id
        |  FROM d)
        |SELECT shard, seq_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM seqd GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin,
    "x7_pii_redact" -> {
      val email = TextAnalysis.PiiPatterns.toMap.apply("email")
      val phone = TextAnalysis.PiiPatterns.toMap.apply("phone")
      val card = TextAnalysis.PiiPatterns.toMap.apply("card")
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id || '@example.com or +1 555-01'
         |      || printf('%02d', doc_id % 100) || '.' AS p
         |  FROM documents),
         |red AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(p, '$email')) AS n_email,
         |    len(regexp_extract_all(p, '$phone')) AS n_phone,
         |    regexp_replace(regexp_replace(regexp_replace(p,
         |      '$email', '[EMAIL]', 'g'),
         |      '$phone', '[PHONE]', 'g'),
         |      '$card', '[CARD]', 'g') AS redacted
         |  FROM planted)
         |SELECT doc_id, n_email, n_phone,
         |  substr(redacted, -40, 40) AS redacted_tail
         |FROM red ORDER BY doc_id""".stripMargin
    },
    // bottom-64 of the same md5-derived hash domain; when the buffer
    // filled, estimate = 63·2⁶⁰ / h₍₆₄₎ — one exact-product literal,
    // one long→double cast, one divide: bit-identical across engines
    "x20_kmv_distinct" ->
      """WITH toks AS (
        |  SELECT source, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |sh AS (
        |  SELECT source, unnest(list_transform(range(0, len(tk) - 2),
        |    i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS t
        |  FROM toks),
        |h AS (SELECT DISTINCT source,
        |        (('0x' || substr(md5(t), 1, 15))::BIGINT) AS h FROM sh),
        |r AS (SELECT source, h,
        |        row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM h),
        |s AS (SELECT source, count(*) AS m, max(h) AS hk
        |      FROM r WHERE rk <= 64 GROUP BY source)
        |SELECT source, CAST(m AS INTEGER) AS m, hk,
        |  CASE WHEN m < 64 THEN m::DOUBLE
        |       ELSE 63.0 * 1152921504606846976.0 / hk::DOUBLE END AS est_distinct
        |FROM s ORDER BY source""".stripMargin,
    "x8_tfidf_top_terms" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS nd FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf * (nd / df) AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf * (nd / df) DESC, term) AS rank
        |  FROM tf JOIN idf USING (term), n)
        |SELECT doc_id, rank, term, score FROM scored
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "m2_frame_sample" ->
      """SELECT doc_id AS media_id,
        |  len(range(0, greatest(CAST(ceil(length(text) / 16.0) AS INTEGER) - 1, 0) + 1, 4))
        |    AS n_frames_sampled,
        |  CAST(floor((1 + length(text) % 640) * 50 / 100.0) AS INTEGER) AS half_width,
        |  list_sum(list_transform(range(1, least(length(text), 16) + 1),
        |    i -> unicode(substr(text, i, 1))::BIGINT))::BIGINT AS f1_checksum
        |FROM documents ORDER BY media_id""".stripMargin,
    // the decoder's stats rebuilt from the synthesis arithmetic:
    // sample(i) = ((a + i·7919) mod 65521) − 32760, a = (len·131) mod
    // 65521 — integer sums exact, rms = sqrt(sumsq/n) in both engines
    "m3_audio_stats" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + length(text) % 240 AS n,
        |    8000 + (length(text) % 4) * 4000 AS rate,
        |    (length(text) * 131) % 65521 AS a
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n, rate,
        |    list_transform(range(0, n), i -> ((a + i * 7919) % 65521) - 32760) AS ss
        |  FROM d)
        |SELECT doc_id AS media_id,
        |  CAST(rate AS INTEGER) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
        |  CAST(list_max(list_transform(ss, x -> abs(x))) AS INTEGER) AS peak_abs,
        |  CAST(list_sum(ss) AS BIGINT) AS amp_sum,
        |  sqrt(list_sum(list_transform(ss, x -> x * x))::DOUBLE / n) AS rms
        |FROM s ORDER BY media_id""".stripMargin,
    // m16: verdicts replay from the planted ids (%7 truncation wins
    // over %11 magic-flip — the same precedence the column expression
    // applies); healthy rows carry m3's closed-form stats, quarantined
    // rows NULL them
    "m16_quarantined_decode" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + length(text) % 240 AS n,
        |    8000 + (length(text) % 4) * 4000 AS rate,
        |    (length(text) * 131) % 65521 AS a
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n, rate,
        |    list_transform(range(0, n), i -> ((a + i * 7919) % 65521) - 32760) AS ss,
        |    (doc_id % 7 <> 0 AND doc_id % 11 <> 0) AS healthy
        |  FROM d)
        |SELECT doc_id AS media_id,
        |  healthy AS ok,
        |  CASE WHEN doc_id % 7 = 0 THEN 'truncated_payload'
        |       WHEN doc_id % 11 = 0 THEN 'unreadable_container' END AS err_kind,
        |  CASE WHEN healthy THEN CAST(rate AS INTEGER) END AS sample_rate,
        |  CASE WHEN healthy THEN CAST(n AS BIGINT) END AS n_samples,
        |  CASE WHEN healthy
        |    THEN CAST(list_max(list_transform(ss, x -> abs(x))) AS INTEGER)
        |  END AS peak_abs,
        |  CASE WHEN healthy THEN CAST(list_sum(ss) AS BIGINT) END AS amp_sum
        |FROM s ORDER BY media_id""".stripMargin,
    // m20: the m16 verdict CASE replayed per modality (same planted-id
    // precedence), healthy rows carrying m1's pixel_sum / m5's y_sum
    // closed forms as the shared checksum column
    "m20_quarantined_media_parity" ->
      """WITH verd AS (SELECT doc_id,
        |    (doc_id % 7 <> 0 AND doc_id % 11 <> 0) AS ok,
        |    CASE WHEN doc_id % 7 = 0 THEN 'truncated_payload'
        |         WHEN doc_id % 11 = 0 THEN 'unreadable_container'
        |    END AS err_kind,
        |    length(text) AS len
        |  FROM documents),
        |di AS (SELECT doc_id, ok, err_kind, 1 + len % 16 AS w,
        |         1 + len % 12 AS h, len % 200 AS a FROM verd),
        |dv AS (SELECT doc_id, ok, err_kind, 2 * (1 + len % 6) AS w,
        |         2 * (1 + len % 4) AS h, 1 + len % 5 AS nf,
        |         len % 180 AS a FROM verd)
        |SELECT 'image' AS modality, doc_id AS media_id, ok, err_kind,
        |  CASE WHEN ok THEN CAST(w AS INTEGER) END AS width,
        |  CASE WHEN ok THEN CAST(h AS INTEGER) END AS height,
        |  CASE WHEN ok THEN
        |    CAST(w*h*a + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS BIGINT)
        |  END AS checksum
        |FROM di
        |UNION ALL
        |SELECT 'video', doc_id, ok, err_kind,
        |  CASE WHEN ok THEN CAST(w AS INTEGER) END,
        |  CASE WHEN ok THEN CAST(h AS INTEGER) END,
        |  CASE WHEN ok THEN
        |    CAST(nf*(w*h*a + h*(w*(w-1)//2) + w*(h*(h-1)//2))
        |         + 3*w*h*(nf*(nf-1)//2) AS BIGINT)
        |  END
        |FROM dv
        |ORDER BY modality, media_id""".stripMargin,
    // nearest-neighbor half-size of the a+x+y raster: out(x,y) = a+2x+2y
    // over ceil(W/2)×ceil(H/2) — closed form again after the re-decode
    "m4_image_resize" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + length(text) % 16 AS w,
        |    1 + length(text) % 12 AS h, length(text) % 200 AS a
        |  FROM documents),
        |r AS (SELECT doc_id, (w + 1) // 2 AS w2, (h + 1) // 2 AS h2, a FROM d)
        |SELECT doc_id AS media_id,
        |  CAST(w2 AS INTEGER) AS width,
        |  CAST(h2 AS INTEGER) AS height,
        |  CAST(w2*h2*a + 2*(h2*(w2*(w2-1)//2) + w2*(h2*(h2-1)//2)) AS BIGINT)
        |    AS pixel_sum
        |FROM r ORDER BY media_id""".stripMargin,
    // aHash in closed form: sampled(i,j) = a + (i*w)//8 + (j*h)//8,
    // bit = 64*sampled >= Σsampled (the integer form of p >= mean; the
    // brightness offset a cancels), bits packed row-major into two
    // 32-bit halves — mirrors Multimodal.imagePHash exactly (CTE chain
    // shared with the m8 document-level verdict)
    "m6_image_phash_dedup" ->
      s"""WITH $gradientPhashCtes
         |SELECT doc_id AS media_id, hash_hi, hash_lo,
         |  count(*) OVER (PARTITION BY hash_hi, hash_lo) AS n_same
         |FROM hh ORDER BY media_id""".stripMargin,
    // m7: the textured corpus (originals + bumped shifted-id clones of
    // every 17th doc) rebuilt in closed form — texture, bump clamp,
    // aHash bits, band keys, hot-bucket cap, banded join, exact
    // popcount verify: each stage mirrors the Spark plan exactly
    "m7_image_near_dedup" ->
      s"""WITH $texturedNearDupCtes
         |SELECT ida, idb, hamming FROM tp WHERE hamming <= $M7MaxHamming
         |ORDER BY ida, idb""".stripMargin,
    // m13: m7's pair chain closed transitively (the d8 reach/label
    // shape) into the per-image keep verdict — singletons label
    // themselves via the left join
    "m13_image_near_dedup_verdict" ->
      s"""WITH RECURSIVE $texturedNearDupCtes,
         |prs AS (SELECT ida AS u, idb AS v FROM tp
         |        WHERE hamming <= $M7MaxHamming),
         |edges AS (SELECT u, v FROM prs UNION SELECT v AS u, u AS v FROM prs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |lab AS (SELECT u AS media_id, least(u, min(v)) AS cluster_id
         |        FROM reach GROUP BY u)
         |SELECT m.media_id,
         |  coalesce(l.cluster_id, m.media_id) AS cluster_id,
         |  (coalesce(l.cluster_id, m.media_id) = m.media_id) AS kept
         |FROM (SELECT mid AS media_id FROM par) m
         |LEFT JOIN lab l USING (media_id)
         |ORDER BY media_id""".stripMargin,
    // m8: the d12 text closure and the m6 image-hash chain composed
    // into the per-document keep decision
    "m8_doc_media_verdict" ->
      s"""WITH RECURSIVE $nearDedupLabCtes,
         |$gradientPhashCtes,
         |img AS (SELECT doc_id,
         |  (doc_id = min(doc_id) OVER (PARTITION BY hash_hi, hash_lo))
         |    AS image_kept
         |  FROM hh),
         |txt AS (SELECT d2.doc_id,
         |  (coalesce(l.cluster_id, d2.doc_id) = d2.doc_id) AS text_kept
         |  FROM documents d2 LEFT JOIN lab l USING (doc_id))
         |SELECT t.doc_id, t.text_kept, i.image_kept,
         |  (t.text_kept AND i.image_kept) AS keep
         |FROM txt t JOIN img i USING (doc_id) ORDER BY doc_id""".stripMargin,
    // m8b: the d12 text closure, the m6 image-hash chain and the m9
    // audio-fingerprint chain composed into the per-document triple
    // verdict
    "m8b_trimodal_verdict" ->
      s"""WITH RECURSIVE $nearDedupLabCtes,
         |$gradientPhashCtes,
         |$audioFpCtes,
         |img AS (SELECT doc_id,
         |  (doc_id = min(doc_id) OVER (PARTITION BY hash_hi, hash_lo))
         |    AS image_kept
         |  FROM hh),
         |aud AS (SELECT doc_id,
         |  (doc_id = min(doc_id) OVER (PARTITION BY fp_hi, fp_lo))
         |    AS audio_kept
         |  FROM ahh),
         |txt AS (SELECT d2.doc_id,
         |  (coalesce(l.cluster_id, d2.doc_id) = d2.doc_id) AS text_kept
         |  FROM documents d2 LEFT JOIN lab l USING (doc_id))
         |SELECT t.doc_id, t.text_kept, i.image_kept, au.audio_kept,
         |  (t.text_kept AND i.image_kept AND au.audio_kept) AS keep
         |FROM txt t JOIN img i USING (doc_id) JOIN aud au USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // m9: window energies over the closed-form PCM samples
    // (sample(j) = ((a + j*7919) mod 65521) − 32760, a = (len·131) mod
    // 65521; window w spans [w·n//65, (w+1)·n//65)), then bit p =
    // e[p+1] > e[p], packed into two 32-bit halves like m6
    "m9_audio_fp_dedup" ->
      s"""WITH $audioFpCtes
         |SELECT doc_id AS media_id, fp_hi, fp_lo,
         |  count(*) OVER (PARTITION BY fp_hi, fp_lo) AS n_same
         |FROM ahh ORDER BY media_id""".stripMargin,
    // m10: the m9 energy/fingerprint chain over the planted corpus
    // (originals + perturbed shifted-id clones of every 13th doc — the
    // perturbation adds M10Delta inside the mod for samples in windows
    // 2/9/33, boundaries exactly as the decoder slices them), then the
    // m7 band/hot-bucket/popcount join over (fp_hi, fp_lo)
    "m10_audio_near_dedup" ->
      s"""WITH $audioNearDupCtes
         |SELECT ida, idb, hamming FROM tp WHERE hamming <= $M10MaxHamming
         |ORDER BY ida, idb""".stripMargin,
    // m14: m10's pair chain closed transitively (the same d8
    // reach/label shape as m13) into the per-clip keep verdict
    "m14_audio_near_dedup_verdict" ->
      s"""WITH RECURSIVE $audioNearDupCtes,
         |prs AS (SELECT ida AS u, idb AS v FROM tp
         |        WHERE hamming <= $M10MaxHamming),
         |edges AS (SELECT u, v FROM prs UNION SELECT v AS u, u AS v FROM prs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |lab AS (SELECT u AS media_id, least(u, min(v)) AS cluster_id
         |        FROM reach GROUP BY u)
         |SELECT m.media_id,
         |  coalesce(l.cluster_id, m.media_id) AS cluster_id,
         |  (coalesce(l.cluster_id, m.media_id) = m.media_id) AS kept
         |FROM (SELECT mid AS media_id FROM par) m
         |LEFT JOIN lab l USING (media_id)
         |ORDER BY media_id""".stripMargin,
    // m11: the luma stream in closed form (sample k of W×H×nf: frame
    // k//(W·H), row/col from the remainder, value a+sh+x+y+3t), 65
    // windowed sums + span sizes, bit p = cross-multiplied mean
    // compare e[p+1]·s[p] > e[p]·s[p+1] — the brightness lift sh
    // cancels exactly, so planted clones land in their originals'
    // groups
    "m11_video_fp_dedup" ->
      s"""WITH par AS (
         |  SELECT doc_id AS mid, length(text) AS len, 0 AS sh FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, length(text), $M11Shift FROM documents
         |  WHERE doc_id % 11 = 0),
         |d AS (SELECT mid, 2 * (1 + len % 6) AS wd, 2 * (1 + len % 4) AS ht,
         |  1 + len % 5 AS nf, len % 180 AS a, sh FROM par),
         |dn AS (SELECT mid, wd, ht, nf, a, sh,
         |  wd * ht * nf AS n, wd * ht AS fsz FROM d),
         |e AS (SELECT mid,
         |  list_transform(range(0, 65), w ->
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(range((w * n) // 65, ((w + 1) * n) // 65),
         |        k -> (a + sh + ((k % fsz) % wd) + ((k % fsz) // wd)
         |              + 3 * (k // fsz))::BIGINT)),
         |      (x, y) -> x + y)) AS es,
         |  list_transform(range(0, 65), w ->
         |    (((w + 1) * n) // 65 - (w * n) // 65)::BIGINT) AS ss
         |  FROM dn),
         |hh AS (SELECT mid,
         |  CAST(list_sum(list_transform(range(32, 64), p ->
         |    CASE WHEN es[p + 2] * ss[p + 1] > es[p + 1] * ss[p + 2]
         |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
         |    AS fp_hi,
         |  CAST(list_sum(list_transform(range(0, 32), p ->
         |    CASE WHEN es[p + 2] * ss[p + 1] > es[p + 1] * ss[p + 2]
         |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
         |    AS fp_lo
         |  FROM e)
         |SELECT mid AS media_id, fp_hi, fp_lo,
         |  count(*) OVER (PARTITION BY fp_hi, fp_lo) AS n_same
         |FROM hh ORDER BY media_id""".stripMargin,
    // m21: one row per SHOT of every clip (originals under the m18 cut
    // profile; composites under the spliced three-segment profile),
    // each shot's luma stream rebuilt from the synthesis algebra
    // (value = a + x + y + ramp·(3t + 40·[t≥2])), the m11 window/bit
    // fold per shot, the m7 band/hot-bucket/popcount join over
    // mid·16+sid keys, then the directed shared-shot-fraction verdict
    "m21_shot_near_dedup" -> {
      val fpPerShot =
        s"""dd AS (SELECT doc_id, 2 * (1 + length(text) % 6) AS wd,
           |  2 * (1 + length(text) % 4) AS ht, 1 + length(text) % 5 AS nf,
           |  length(text) % 180 AS a FROM documents),
           |par AS (
           |  SELECT doc_id AS mid, 0 AS sid, 0 AS t0,
           |    CASE WHEN nf <= 2 THEN nf ELSE 2 END AS m, a, 1 AS ramp,
           |    wd, ht
           |  FROM dd
           |  UNION ALL
           |  SELECT doc_id, 1, 2, nf - 2, a, 1, wd, ht FROM dd WHERE nf >= 3
           |  UNION ALL
           |  SELECT doc_id + 3000000, 0, 0, nf - 2, a, 0, wd, ht FROM dd
           |  WHERE nf >= 3 AND doc_id % 23 = 0
           |  UNION ALL
           |  SELECT doc_id + 3000000, 1, 2, nf - 2, a, 1, wd, ht FROM dd
           |  WHERE nf >= 3 AND doc_id % 23 = 0
           |  UNION ALL
           |  SELECT doc_id + 3000000, 2, 0, nf - 2, a, 0, wd, ht FROM dd
           |  WHERE nf >= 3 AND doc_id % 23 = 0),
           |dn AS (SELECT mid, sid, t0, a, ramp, wd, ht,
           |  m * wd * ht AS n, wd * ht AS fsz FROM par),
           |e AS (SELECT mid, sid,
           |  list_transform(range(0, 65), w ->
           |    list_reduce(list_prepend(0::BIGINT,
           |      list_transform(range((w * n) // 65, ((w + 1) * n) // 65),
           |        k -> (a + ((k % fsz) % wd) + ((k % fsz) // wd)
           |              + ramp * (3 * (t0 + k // fsz)
           |                  + CASE WHEN t0 + k // fsz >= 2
           |                    THEN 40 ELSE 0 END))::BIGINT)),
           |      (x, y) -> x + y)) AS es,
           |  list_transform(range(0, 65), w ->
           |    (((w + 1) * n) // 65 - (w * n) // 65)::BIGINT) AS ss
           |  FROM dn),
           |hh AS (SELECT mid * 16 + sid AS skey,
           |  CAST(list_sum(list_transform(range(32, 64), p ->
           |    CASE WHEN es[p + 2] * ss[p + 1] > es[p + 1] * ss[p + 2]
           |      THEN (1::BIGINT << (p - 32)) ELSE 0::BIGINT END)) AS BIGINT)
           |    AS fp_hi,
           |  CAST(list_sum(list_transform(range(0, 32), p ->
           |    CASE WHEN es[p + 2] * ss[p + 1] > es[p + 1] * ss[p + 2]
           |      THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS BIGINT)
           |    AS fp_lo
           |  FROM e),
           |tband AS (
           |  SELECT skey, fp_hi, fp_lo, 0 AS band, fp_lo & 65535 AS bkey
           |  FROM hh
           |  UNION ALL SELECT skey, fp_hi, fp_lo, 1, (fp_lo >> 16) & 65535 FROM hh
           |  UNION ALL SELECT skey, fp_hi, fp_lo, 2, fp_hi & 65535 FROM hh
           |  UNION ALL SELECT skey, fp_hi, fp_lo, 3, (fp_hi >> 16) & 65535 FROM hh),
           |tok AS (SELECT band, bkey FROM tband
           |        GROUP BY 1, 2 HAVING count(*) <= $M21MaxBucket),
           |tbf AS (SELECT b.* FROM tband b JOIN tok USING (band, bkey)),
           |tp AS (
           |  SELECT a.skey AS ida, b.skey AS idb,
           |    min(bit_count(xor(a.fp_hi, b.fp_hi))
           |      + bit_count(xor(a.fp_lo, b.fp_lo)))::INTEGER AS hamming
           |  FROM tbf a JOIN tbf b ON a.band = b.band AND a.bkey = b.bkey
           |  WHERE a.skey < b.skey GROUP BY 1, 2)""".stripMargin
      s"""WITH $fpPerShot,
         |mm AS (SELECT ida // 16 AS mida, ida % 16 AS sida,
         |         idb // 16 AS midb, idb % 16 AS sidb
         |       FROM tp WHERE hamming <= $M21MaxHamming),
         |cr AS (SELECT * FROM mm WHERE mida <> midb),
         |directed AS (
         |  SELECT mida AS ida, midb AS idb, sida AS shot_a FROM cr
         |  UNION
         |  SELECT midb, mida, sidb FROM cr),
         |ns AS (SELECT mid AS ida, count(*) AS n_shots_a FROM par
         |       GROUP BY mid)
         |SELECT ida, idb, n_shots_a, n_shared,
         |  n_shared::DOUBLE / n_shots_a::DOUBLE AS shared_frac
         |FROM (SELECT ida, idb, count(DISTINCT shot_a) AS n_shared
         |      FROM directed GROUP BY 1, 2)
         |JOIN ns USING (ida)
         |ORDER BY ida, idb""".stripMargin
    },
    // m12: the m11 luma/fingerprint chain over the planted corpus
    // (clones of every 19th doc re-levelled by M12Shift — which the
    // cross-multiplied compare cancels — AND perturbed by M12Delta in
    // windows 3/17/44), then the m7 band/hot-bucket/popcount join
    "m12_video_near_dedup" ->
      s"""WITH $videoNearDupCtes
         |SELECT ida, idb, hamming FROM tp WHERE hamming <= $M12MaxHamming
         |ORDER BY ida, idb""".stripMargin,
    // m23 recomputes m12's pipeline unmemoized — same result, so the
    // same closed-form oracle; only the timing differs (that is the
    // point: the memo gates no longer time the build)
    "m23_video_neardup_build" ->
      s"""WITH $videoNearDupCtes
         |SELECT ida, idb, hamming FROM tp WHERE hamming <= $M12MaxHamming
         |ORDER BY ida, idb""".stripMargin,
    // m15: m12's pair chain closed transitively (the same d8
    // reach/label shape as m13/m14) into the per-clip keep verdict
    "m15_video_near_dedup_verdict" ->
      s"""WITH RECURSIVE $videoNearDupCtes,
         |prs AS (SELECT ida AS u, idb AS v FROM tp
         |        WHERE hamming <= $M12MaxHamming),
         |edges AS (SELECT u, v FROM prs UNION SELECT v AS u, u AS v FROM prs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |lab AS (SELECT u AS media_id, least(u, min(v)) AS cluster_id
         |        FROM reach GROUP BY u)
         |SELECT m.media_id,
         |  coalesce(l.cluster_id, m.media_id) AS cluster_id,
         |  (coalesce(l.cluster_id, m.media_id) = m.media_id) AS kept
         |FROM (SELECT mid AS media_id FROM par) m
         |LEFT JOIN lab l USING (media_id)
         |ORDER BY media_id""".stripMargin,
    // pixel(x,y) = a+x+y over W×H with a=len%200 (< 256 always), so
    // sum = W*H*a + H*ΣX + W*ΣY — the decoded stats in closed form
    "m1_multimodal_features" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + length(text) % 16 AS w,
        |    1 + length(text) % 12 AS h, length(text) % 200 AS a
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(w*h*a + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS BIGINT) AS pixel_sum,
        |  (w*h*a + h*(w*(w-1)//2) + w*(h*(h-1)//2))::DOUBLE
        |    / (w*h)::DOUBLE AS mean_luma
        |FROM d ORDER BY media_id""".stripMargin,
    // the Y4M demuxer's stats rebuilt from the synthesis arithmetic:
    // Y(x,y,t) = a+x+y+3t over W×H×nf (all < 256), per-frame base sum
    // b = W·H·a + H·ΣX + W·ΣY, stream sum = nf·b + 3·W·H·Σt; the
    // stride-2 sampler keeps frames t=0,2,… → ns = (nf+1)//2 with
    // Σ(sampled t) = 2·(0+1+…+(ns−1)) = ns·(ns−1)
    // m19 = the chunk grid in closed form from the synthesis lengths:
    // hop-40 starts while they land inside the clip, last chunk short
    "m19_audio_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + length(text) % 240 AS n,
        |    8000 + (length(text) % 4) * 4000 AS rate
        |  FROM documents)
        |SELECT doc_id AS media_id, CAST(k AS INTEGER) AS seg_idx,
        |  CAST(k * 40 AS INTEGER) AS start_sample,
        |  CAST(least(80, n - k * 40) AS INTEGER) AS seg_len,
        |  CAST(rate AS INTEGER) AS rate
        |FROM (SELECT doc_id, n, rate,
        |        unnest(range(0, (n - 1) // 40 + 1)) AS k FROM d)
        |ORDER BY media_id, seg_idx""".stripMargin,
    // m17 = the planted-cut stream's deltas in closed form: the uniform
    // +3/frame ramp everywhere, +40 once at the sustained scene change
    // (which exists only when the clip reaches frame 2)
    "m17_video_scene_cuts" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + length(text) % 5 AS nf FROM documents)
        |SELECT doc_id AS media_id, CAST(t AS INTEGER) AS frame_idx,
        |  (3 + CASE WHEN t = 2 THEN 40 ELSE 0 END)::DOUBLE AS delta_mean,
        |  (3 + CASE WHEN t = 2 THEN 40 ELSE 0 END) > 10 AS is_cut
        |FROM (SELECT doc_id, unnest(range(1, nf)) AS t FROM d)
        |ORDER BY media_id, frame_idx""".stripMargin,
    // m18 = the shot fold in closed form: the only cut is the planted
    // one at t=2 (when the clip reaches it), so shots are [0,1] and
    // [2, nf-1] — or one shot when nf <= 2
    "m18_shot_keyframes" ->
      """WITH d AS (SELECT doc_id, 1 + length(text) % 5 AS nf FROM documents),
        |f AS (SELECT doc_id, unnest(range(0, nf)) AS t FROM d),
        |s AS (SELECT doc_id, t,
        |        CASE WHEN t >= 2 THEN 1 ELSE 0 END AS shot_id FROM f)
        |SELECT doc_id AS media_id, CAST(shot_id AS INTEGER) AS shot_id,
        |  CAST(min(t) AS INTEGER) AS start_frame,
        |  CAST(max(t) AS INTEGER) AS end_frame,
        |  CAST(count(*) AS INTEGER) AS n_frames,
        |  CAST((min(t) + max(t)) // 2 AS INTEGER) AS keyframe_idx
        |FROM s GROUP BY doc_id, s.shot_id
        |ORDER BY media_id, shot_id""".stripMargin,
    "m5_video_stats" ->
      """WITH d AS (
        |  SELECT doc_id, 2 * (1 + length(text) % 6) AS w,
        |    2 * (1 + length(text) % 4) AS h,
        |    1 + length(text) % 5 AS nf,
        |    24 + length(text) % 2 AS fps,
        |    length(text) % 180 AS a
        |  FROM documents),
        |b AS (
        |  SELECT *, w*h*a + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS base,
        |    (nf + 1) // 2 AS ns
        |  FROM d)
        |SELECT doc_id AS media_id,
        |  CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(nf AS INTEGER) AS n_frames,
        |  CAST(fps AS INTEGER) AS fps_num,
        |  CAST(nf * 1000 // fps AS BIGINT) AS duration_ms,
        |  CAST(nf*base + 3*w*h*(nf*(nf-1)//2) AS BIGINT) AS y_sum,
        |  (nf*base + 3*w*h*(nf*(nf-1)//2))::DOUBLE
        |    / (w*h*nf)::DOUBLE AS mean_luma,
        |  CAST(ns AS INTEGER) AS n_frames_sampled,
        |  CAST(ns*base + 3*w*h*ns*(ns-1) AS BIGINT) AS sampled_y_sum
        |FROM b ORDER BY media_id""".stripMargin
  )
}
