package graft

import org.apache.spark.sql.functions._
import graft.text.{Dedup, TextAnalysis}
import graft.ml.Similarity
import graft.operators.{AsOfJoin, CacheScope}

/** Specs for the LLM-pipeline operators and the as-of join. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def docs() = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog")) // exact dup of 1
    .toDF("doc_id", "text")

  test("exact dedup keeps min id and counts copies") {
    val out = Dedup.exactDedup(docs(), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("minhash LSH finds the near-dup pair, not the unrelated doc") {
    val pairs = CacheScope.withScope { implicit scope =>
      Dedup.minhashCandidates(docs(), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    }
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 4L))) // exact dup: all 16 minhashes match
    assert(pairs.find(p => p._1 == 1L && p._2 == 4L).get._3 == 16)
    assert(keys.contains((1L, 2L)) || keys.contains((2L, 4L))) // near dup
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard verify: exact dup = 1.0, near dup in (0,1)") {
    val j = CacheScope.withScope { implicit scope =>
      val cands = Dedup.minhashCandidates(docs(), "doc_id", "text")
        .select("ida", "idb")
      Dedup.jaccardVerify(cands, docs(), "doc_id", "text")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    }
    assert(j((1L, 4L)) == 1.0)
    j.get((1L, 2L)).foreach(v => assert(v > 0.0 && v < 1.0))
  }

  test("bloom filter: no false negatives, real selectivity, prune-then-verify matches exact") {
    import graft.functions.Blooms
    val members = (0L until 500L).map(i => i * 7919L)
    val bloom = Blooms.build(members.toDF("h"), col("h"), 500L, 1L << 16)
    val probes = (0L until 5000L).toDF("x")
      .select(col("x"), Blooms.mightContain(bloom, col("x") * 7919L).as("m"),
        Blooms.mightContain(bloom, col("x") * 7919L + 1L).as("nm"))
      .collect()
    assert(probes.filter(_.getLong(0) < 500).forall(_.getBoolean(1))) // no FNs
    val fp = probes.count(_.getBoolean(2)).toDouble / probes.length
    assert(fp < 0.1, s"false-positive rate $fp too high to prune anything")

    // operator: bloom-pruned result == plain exact overlap
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // bench
      (21L, "alpha beta gamma delta epsilon eta"), // shares 3 shingles with 1
      (22L, "unrelated words entirely different here")
    ).toDF("doc_id", "text")
    val out = CacheScope.withScope { implicit scope =>
      Dedup.decontaminateBloom(docs, "doc_id", "text",
        benchPred = col("doc_id") < 20, k = 3, minShared = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    assert(out.toSeq == Seq((1L, 21L, 3L)))
  }

  test("duplicateClusters: min-label components over a chain + a clique + a singleton pair") {
    // chain 1-2-3-4-5 (diameter 4 forces multiple propagation rounds),
    // clique {10,11,12}, isolated pair {20,21}
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("ida", "idb")
    val labels = CacheScope.withScope { implicit scope =>
      Dedup.duplicateClusters(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("duplicateClusters: zero candidate pairs yields an empty labeling, not an NPE") {
    val pairs = Seq.empty[(Long, Long)].toDF("ida", "idb")
    val n = CacheScope.withScope { implicit scope =>
      Dedup.duplicateClusters(pairs).count()
    }
    assert(n === 0)
  }

  test("chunkDedup strips cross-doc boilerplate chunks and reassembles in order") {
    // chunkTokens=2: docs 1/2 share chunk "x y"; doc 3 is pure boilerplate
    val docs = Seq(
      (1L, "a b x y"), (2L, "c d x y e"), (3L, "x y")).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 2, minDf = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((2, 1, h("a b"))))
    assert(out(2L) == ((3, 2, h("c d e"))))   // trailing short chunk kept
    assert(out(3L) == ((1, 0, h(""))))        // fully boilerplate
  }

  test("duplicateClustersStar: long chain closes without diameter-many rounds") {
    // path 0-1-2-...-39: diameter 39, the min-label worst case; star
    // contraction must close it well inside its iteration budget.
    val chain = (0L until 39L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((100L, 101L))).toDF("ida", "idb")
    val labels = CacheScope.withScope { implicit scope =>
      Dedup.duplicateClustersStar(pairs, maxIters = 12)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val want = (0L to 39L).map(_ -> 0L).toMap ++ Map(100L -> 100L, 101L -> 100L)
    assert(labels == want)
  }

  test("simhash: identical texts distance 0, near-dups close, unrelated far") {
    val sh = docs().select(col("doc_id"),
        transform(Dedup.tokens(col("text")), t => graft.functions.Hashing.h60(t)).as("_hs"))
      .select(col("doc_id"), Dedup.simhashFromHashes(col("_hs")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(4L)) == 0)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
  }

  test("int8 quantization stays in [-127,127] and quantized top-k finds the duplicate vector") {
    val vecs = Seq(
      (0L, Array(0.9f, 0.1f, -0.4f)),
      (1L, Array(0.9f, 0.1f, -0.4f)), // duplicate of 0
      (2L, Array(-0.5f, 0.8f, 0.2f)),
      (3L, Array(0.0f, 0.0f, 0.0f))) // zero vector edge
      .toDF("id", "vec")
    val quant = vecs
      .select(col("id"), col("vec").as("_v"), Similarity.absMax(col("vec")).as("_m"))
      .select(col("id"), Similarity.quantizeInt8(col("_v"), col("_m")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(quant.values.flatten.forall(v => v >= -127 && v <= 127))
    assert(quant(3L).forall(_ == 0))
    assert(quant(0L) == quant(1L))
    val top1 = Similarity.quantizedTopK(vecs.filter(col("id") === 0), vecs, 1)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(top1.sameElements(Array(1L)))
  }

  test("PQ: identical vectors encode identically, codes in range, duplicate outranks the negation") {
    val dim = 64
    val base = Array.tabulate(dim)(i => (math.sin(i + 1) * 0.3).toFloat)
    val vecs = Seq(
      (0L, base),
      (1L, base.clone()),        // exact duplicate of the query
      (2L, base.map(x => -x)))   // worst possible ADC
      .toDF("id", "vec")
    val books = Similarity.pqCodebooks(8, 8, 16)
    val cns = Similarity.pqCellNorms(books)
    val codes = Similarity.pqEncode(vecs, "id", books, cns)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(0L) == codes(1L))
    assert(codes.values.flatten.forall(c => c >= 1 && c <= 16))
    val top = Similarity.pqTopK(vecs.filter(col("id") === 0), vecs, 2, books)
      .orderBy("rank").select("neighbor_id").collect().map(_.getLong(0))
    assert(top.head == 1L)
  }

  test("trainPqCodebooks reduces quantization distortion on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val (m, subDim, codes) = (8, 8, 16)
    val init = Similarity.pqCodebooks(m, subDim, codes)
    val trained = Similarity.trainPqCodebooks(emb, m, subDim, codes, iters = 2)
    val vecs = emb.collect().map(_.getSeq[Float](1).map(_.toDouble))
    // mean min-L2^2 reconstruction error; Lloyd steps must not worsen it
    def distortion(books: Seq[Seq[Seq[Double]]]): Double =
      vecs.map { v =>
        (0 until m).map { j =>
          val s = v.slice(j * subDim, (j + 1) * subDim)
          books(j).map(cb =>
            cb.zip(s).map { case (a, b) => (a - b) * (a - b) }.sum).min
        }.sum
      }.sum / vecs.length
    assert(distortion(trained) < distortion(init))
  }

  test("duplicateSpans merges overlapping duplicated windows into maximal spans") {
    // docs 1 and 2 share tokens 'c d e f' (positions 2..5 in doc 1,
    // 0..3 in doc 2); with k=3, duplicated windows are 'c d e' and
    // 'd e f' — overlapping, so each doc reports ONE merged span
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "c d e f x y z w"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val spans = CacheScope.withScope { implicit scope =>
      Dedup.duplicateSpans(docs, "doc_id", "text", k = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    }
    assert(spans === Set((1L, 2, 6), (2L, 0, 4)))
  }

  test("semDedup drops the smaller-priority twin within a cell, keeps strangers") {
    import graft.ml.Similarity
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val aDup = Seq(0.99f, 0.01f, 0.0f, 0.0f)   // cos(a, aDup) ~ 1
    val ortho = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val corpus = Seq((1L, a), (2L, aDup), (3L, ortho)).toDF("id", "vec")
    // one centroid -> everything lands in the same cell; tau 0.9
    val cents = Seq(Seq(1L, 1L, 1L, 1L))
    val kept = Similarity.semDedup(corpus, cents, tau = 0.9)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L)) // 2 dropped: smaller-id near-twin exists
  }

  test("cosine top-k ranks an identical vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
      (2L, Array(0.9f, 0.1f, 0.0f)),   // close
      (3L, Array(0.0f, 0.0f, 1.0f)))   // orthogonal
      .toDF("id", "vec")
    val out = Similarity.bruteForceTopK(
        vecs.filter(col("id") === 0), vecs, 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(r.fieldIndex("neighbor_id")), r.getInt(r.fieldIndex("rank"))))
    assert(out.head == (1L, 1)) // identical vector ranks first
    assert(out(1) == (2L, 2))
    assert(out(2) == (3L, 3))
  }

  test("knn graph: every node gets neighbors, twins find each other first") {
    // two tight clusters around e1 and e3; within a cluster every member
    // shares the same best IVF cell, so the graph must pair them up
    val base = Array.fill(64)(0.0f)
    def v(axis: Int, eps: Float, at: Int): Array[Float] = {
      val a = base.clone(); a(axis) = 1.0f; a(at) = eps; a
    }
    val vecs = Seq(
      (0L, v(1, 0.00f, 5)), (1L, v(1, 0.01f, 5)), (2L, v(1, 0.02f, 5)),
      (3L, v(3, 0.00f, 7)), (4L, v(3, 0.01f, 7)), (5L, v(3, 0.02f, 7)))
      .toDF("id", "vec")
    val cents = Similarity.ivfCentroids(4, 64).map(_.map(_.toDouble))
    val out = Similarity.knnGraph(vecs, k = 2, cents, nprobe = 2)
      .collect().map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getInt(r.fieldIndex("rank"))) -> r.getLong(r.fieldIndex("neighbor_id")))
      .toMap
    val byQuery = out.keys.map(_._1).toSet
    assert(byQuery == Set(0L, 1L, 2L, 3L, 4L, 5L), "every node has neighbors")
    // top neighbor stays within the node's own cluster
    for (q <- 0L to 2L) assert(Set(0L, 1L, 2L).contains(out((q, 1))) && out((q, 1)) != q)
    for (q <- 3L to 5L) assert(Set(3L, 4L, 5L).contains(out((q, 1))) && out((q, 1)) != q)
  }

  test("signBits packs 64 dims into one long (bit 63 included); hamming ranks twins first") {
    val v0 = Array.tabulate(64)(i => if (i == 0 || i == 63) 1.0f else -1.0f)
    val bits = Seq((0L, v0)).toDF("id", "vec")
      .select(Similarity.signBits(col("vec"))).head().getLong(0)
    assert(bits == (1L | (1L << 63))) // negative long: top bit is data, not sign
    val flipOne = v0.clone(); flipOne(7) = 1.0f
    val far = v0.map(-_)
    val vecs = Seq((0L, v0), (1L, v0), (2L, flipOne), (3L, far)).toDF("id", "vec")
    val out = Similarity.hammingTopK(vecs.filter(col("id") === 0), vecs, 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(r.fieldIndex("neighbor_id")),
        r.getInt(r.fieldIndex("hamming"))))
    assert(out(0) == (1L, 0))   // identical: distance 0
    assert(out(1) == (2L, 1))   // one flipped sign
    assert(out(2) == (3L, 64))  // full negation: all 64 bits differ
    // dim > 64 fails loudly (Java shifts wrap mod 64 — silent aliasing)
    val wide = Seq((0L, Array.fill(65)(1.0f))).toDF("id", "vec")
    intercept[Exception] {
      wide.select(Similarity.signBits(col("vec"))).collect()
    }
  }

  test("MMR rerank: near-duplicate candidates are deferred for diversity") {
    // query along e0; candidates: two near-copies of the best match, one
    // moderately relevant but orthogonal-to-them doc, one weak doc.
    // Plain top-3 = {1,2,3}; MMR must interleave the diverse doc ahead
    // of the second near-copy.
    def v(xs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(8)(0.0f); xs.foreach { case (i, x) => a(i) = x }; a
    }
    val corpus = Seq(
      (1L, v(0 -> 1.0f, 1 -> 0.10f)),          // near-copy A (best)
      (2L, v(0 -> 1.0f, 1 -> 0.11f)),          // near-copy of A
      (3L, v(0 -> 0.8f, 2 -> 0.60f)),          // relevant but diverse
      (4L, v(3 -> 1.0f)))                      // weak
      .toDF("id", "vec")
    val queries = Seq((0L, v(0 -> 1.0f))).toDF("id", "vec")
    val picks = CacheScope.withScope { implicit scope =>
      Similarity.mmrRerank(queries, corpus, n = 4, k = 3, lambda = 0.5)
        .orderBy("step").collect()
        .map(r => r.getLong(r.fieldIndex("pick")))
    }
    assert(picks.length == 3)
    assert(picks(0) == 1L)              // pure relevance first
    assert(picks(1) == 3L)              // diversity beats the near-copy
    assert(picks.toSet == Set(1L, 3L, 2L) || picks.toSet == Set(1L, 3L, 4L))
  }

  test("MMR rerank at k=50: deep pick sequences stay exact and bounded") {
    // the k-ceiling probe: 50 sequential rounds must complete with flat
    // per-round plans (no lineage nesting), return exactly k distinct
    // picks in step order, and respect MMR's step-1 contract (pure
    // relevance). Distinct off-axis jitter keeps every score tie-free.
    val corpus = (1 until 61).map { i =>
      val a = Array.fill(8)(0.0f)
      a(i % 8) = 1.0f
      a((i + 1) % 8) = 0.001f * i
      (i.toLong, a)
    }.toDF("id", "vec")
    val queries = Seq((0L, Array.fill(8)(0.5f))).toDF("id", "vec")
    val picks = CacheScope.withScope { implicit scope =>
      Similarity.mmrRerank(queries, corpus, n = 60, k = 50, lambda = 0.7)
        .orderBy("step").collect()
    }
    assert(picks.length == 50)
    assert(picks.map(_.getLong(picks.head.fieldIndex("pick"))).distinct.length == 50,
      "picks must never repeat")
    assert(picks.map(_.getInt(picks.head.fieldIndex("step"))).toSeq == (1 to 50))
  }

  test("MMR rerank rejects invalid dials loudly, before any retrieval runs") {
    val corpus = (1 until 8).map { i =>
      val a = Array.fill(8)(0.0f); a(i % 8) = 1.0f; (i.toLong, a)
    }.toDF("id", "vec")
    val queries = corpus.filter(col("id") === 1L)
    CacheScope.withScope { implicit scope =>
      intercept[IllegalArgumentException] {
        Similarity.mmrRerank(queries, corpus, n = 5, k = 0, lambda = 0.5) }
      intercept[IllegalArgumentException] {
        Similarity.mmrRerank(queries, corpus, n = 2, k = 3, lambda = 0.5) }
      intercept[IllegalArgumentException] {
        Similarity.mmrRerank(queries, corpus, n = 5, k = 2, lambda = 1.5) }
    }
  }

  test("hashedEmbedding: signed counts, empty-doc zero vector, loud nulls") {
    import graft.text.TextAnalysis
    val docs = Seq(
      (1L, "alpha beta alpha"),   // repeated token accumulates
      (2L, "alpha beta alpha"),   // identical text -> identical vector
      (3L, ""),                   // no tokens -> zero vector
      (4L, "gamma")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.hashedEmbedding(
          graft.text.Dedup.tokens(lower(col("text"))), 16).as("v"))
      .orderBy("doc_id").collect()
    val v1 = out(0).getSeq[Float](1)
    assert(v1 == out(1).getSeq[Float](1), "same text must embed identically")
    assert(v1.map(math.abs).sum == 3.0f, "three tokens, |contributions| = 3")
    assert(out(2).getSeq[Float](1).forall(_ == 0.0f), "empty doc = zero vector")
    assert(out(3).getSeq[Float](1).map(math.abs).sum == 1.0f)
    // cosine of identical token bags is exactly 1 (the d14 planted signal)
    val sim = docs.filter(col("doc_id") <= 2)
      .select(TextAnalysis.hashedEmbedding(
        graft.text.Dedup.tokens(lower(col("text"))), 16).as("vec"))
      .limit(2).collect().map(_.getSeq[Float](0))
    assert(sim(0) == sim(1))
    // a NULL token array is loud, not a garbage vector
    val withNull = Seq((9L, null: String)).toDF("doc_id", "text")
      .select(TextAnalysis.hashedEmbedding(
        graft.text.Dedup.tokens(lower(col("text"))), 16).as("v"))
      .collect()
    assert(withNull(0).isNullAt(0))
  }

  test("k-means IVF: training converges on clustered data, recall matches brute force") {
    // 4 well-separated clusters on the axes of a 4-dim space; every
    // point gets a distinct small off-axis offset so similarities are
    // tie-free
    val vecs = (0 until 60).map { i =>
      val c = i % 4
      val v = Array.fill(4)(0.0f)
      v(c) = 1.0f
      v((c + 1) % 4) = 0.001f * (i + 1)
      (i.toLong, v)
    }
    val df = vecs.toDF("id", "vec")
    val init = Similarity.ivfCentroids(4, 4).map(_.map(_.toDouble))
    val cents = Similarity.trainIvfCentroids(df, nCells = 4, dim = 4, iters = 3)
    assert(cents != init) // training actually moved the centroids
    // single-probe search against trained cells reproduces the exact
    // brute-force top-5 (same-cluster points co-locate in one cell)
    val queries = df.filter(col("id") < 4)
    val got = Similarity.ivfTopKWith(queries, df, 5, cents, nprobe = 1)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = Similarity.bruteForceTopK(queries, df, 5)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("ivfTopKMulti: assign=1 equals single-assignment, overlap dedups, recall never drops") {
    // reuse the clustered fixture but query ACROSS cluster boundaries:
    // mix two axes so the query's neighbors straddle two cells
    val vecs = (0 until 60).map { i =>
      val c = i % 4
      val v = Array.fill(4)(0.0f)
      v(c) = 1.0f
      v((c + 1) % 4) = 0.3f + 0.001f * i // strong off-axis pull
      (i.toLong, v)
    }
    val df = vecs.toDF("id", "vec")
    val cents = Similarity.trainIvfCentroids(df, nCells = 4, dim = 4, iters = 3)
    val queries = df.filter(col("id") < 4)
    def pairs(res: org.apache.spark.sql.DataFrame) =
      res.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    // assign=1 reduces exactly to the single-assignment operator
    val single = pairs(Similarity.ivfTopKWith(queries, df, 5, cents, nprobe = 1))
    val multi1 = pairs(Similarity.ivfTopKMulti(queries, df, 5, cents,
      nprobe = 1, assign = 1))
    assert(multi1.toSet == single.toSet)
    // overlapping cells never produce duplicate (query, neighbor) pairs
    val multi2 = pairs(Similarity.ivfTopKMulti(queries, df, 5, cents,
      nprobe = 2, assign = 2))
    assert(multi2.length == multi2.distinct.length)
    // candidates only grow with assign, so recall vs brute force never drops
    val truth = pairs(Similarity.bruteForceTopK(queries, df, 5)).toSet
    val r1 = (multi1.toSet & truth).size
    val r2 = (pairs(Similarity.ivfTopKMulti(queries, df, 5, cents,
      nprobe = 1, assign = 2)).toSet & truth).size
    assert(r2 >= r1)
  }

  test("probe-prefix sweep sharing: min-probe-rank filter reproduces ivfSearchMultiAssigned at every (assign, nprobe)") {
    import org.apache.spark.sql.expressions.Window
    // the r18 e13b rewrite rests on IvfRankCells' prefix property: the
    // nprobe=np probe list is exactly the first np entries of the
    // nprobe=max list, so one scored join at max nprobe + a
    // min-probe-rank < np filter must reproduce the per-np operator
    // bit-for-bit (pairs AND ranks)
    val vecs = (0 until 60).map { i =>
      val c = i % 4
      val v = Array.fill(4)(0.0f)
      v(c) = 1.0f
      v((c + 1) % 4) = 0.3f + 0.001f * i
      (i.toLong, v)
    }
    val df = vecs.toDF("id", "vec")
    val cents = Similarity.trainIvfCentroids(df, nCells = 4, dim = 4, iters = 3)
    val queries = df.filter(col("id") < 4)
    val maxNp = 4
    val qp = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      posexplode(Similarity.ivfProbesD(col("vec"), cents, maxNp)))
      .withColumnRenamed("pos", "_pr").withColumnRenamed("col", "cell")
    for (a <- Seq(1, 2, 3)) {
      val assigned = Similarity.ivfMultiAssign(df, cents, a)
      val scored = assigned.join(broadcast(qp), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("_pr"),
          Similarity.cosine(col("qvec"), col("cvec")).as("sim"))
        .groupBy("query_id", "neighbor_id")
        .agg(min(col("_pr")).as("_minpr"), max(col("sim")).as("sim"))
      for (np <- Seq(1, 2, 4)) {
        val w = Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))
        val got = scored.filter(col("_minpr") < np)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select("query_id", "rank", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        val want = Similarity
          .ivfSearchMultiAssigned(queries, assigned, 5, cents, np)
          .select("query_id", "rank", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        assert(got == want, s"assign=$a nprobe=$np")
      }
    }
  }

  test("incremental IVF-PQ admission equals a from-scratch rebuild") {
    // quantizers train on the EXISTING slice only; the incoming batch
    // folds in against those frozen constants. Because index entries
    // are row-local, admit(build(existing), incoming) must be
    // row-identical to build(existing ∪ incoming) — and search over
    // either table must agree exactly
    val vecs = (0 until 80).map { i =>
      val c = i % 4
      val v = Array.fill(8)(0.0f)
      v(c) = 1.0f
      v((c + 4) % 8) = 0.001f * (i + 1)
      (i.toLong, v)
    }
    val df = vecs.toDF("id", "vec")
    val existing = df.filter(col("id") < 60)
    val incoming = df.filter(col("id") >= 60)
    val cents = Similarity.trainIvfCentroids(existing, nCells = 4, dim = 8,
      iters = 3)
    val books = Similarity.trainPqCodebooks(existing, m = 2, subDim = 4,
      codes = 4, iters = 2)
    val merged = Similarity.ivfPqAdmit(
      Similarity.ivfPqIndex(existing, books, cents), incoming, books, cents)
    val rebuilt = Similarity.ivfPqIndex(df, books, cents)
    def rows(ix: org.apache.spark.sql.DataFrame) = ix
      .select(col("id"), col("cell"), col("codes").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(rows(merged) == rows(rebuilt))
    assert(rows(merged).exists(_._1 >= 60),
      "admitted entries missing from the merged index")
    // search over the merged index matches search over the rebuild,
    // rank for rank, for queries from BOTH sides of the boundary (at
    // this coarse 4-code resolution same-cluster vectors share codes,
    // so ADC ties resolve to the smaller id — admitted NEIGHBOR ranks
    // are exercised by the e14 oracle gate at full 16-code books)
    val queries = df.filter(col("id") < 2 || col("id") === 60)
    def res(ix: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqSearchIndex(queries, ix, 5, books, cents, nprobe = 2)
        .select("query_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val afterAdmit = res(merged)
    assert(afterAdmit == res(rebuilt))
    assert(afterAdmit.exists(_._1 == 60),
      "an admitted vector could not be searched")
  }

  test("bigramLmScore is the mean Laplace-smoothed bigram probability") {
    import graft.text.TextAnalysis
    // trained on "abab": bigrams ab(x2), ba(x1); V=2; derived char
    // contexts a->2, b->1 (count(c·) = Σ count(c*))
    val mb = TextAnalysis.bigramCounts(Seq("abab").toDF("text"), "text")
    val got = TextAnalysis.bigramLmScore(
      Seq((1L, "abab")).toDF("id", "text"), "id", "text", mb)
      .head().getDouble(1)
    // positions: ab, ba, ab -> (3/4 + 2/3 + 3/4) / 3
    assert(math.abs(got - (0.75 + 2.0 / 3 + 0.75) / 3) < 1e-12)
    // unseen bigrams AND unseen contexts back off to 1/(0+V)
    val cold = TextAnalysis.bigramLmScore(
      Seq((1L, "zz")).toDF("id", "text"), "id", "text", mb)
      .head().getDouble(1)
    assert(math.abs(cold - 1.0 / 2) < 1e-12)
    // sub-bigram docs drop out (no positions to score)
    assert(TextAnalysis.bigramLmScore(
      Seq((1L, "x")).toDF("id", "text"), "id", "text", mb).count() == 0)
  }

  test("langId picks the profile with most marker hits; und when none") {
    val out = Seq(
      (1, "the cat and the dog is here"),
      (2, "der hund und die katze ist hier"),
      (3, "xyzzy plugh"))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out == Map(1 -> "en", 2 -> "de", 3 -> "und"))
  }

  test("token counts: ws vs BPE-ish") {
    val out = Seq(("ab cdefgh 12, x!")).toDF("text")
      .select(TextAnalysis.tokenCountWs(col("text")).as("ws"),
        TextAnalysis.tokenCountBpe(col("text")).as("bpe"))
      .head()
    assert(out.getInt(0) == 4)
    // ab(1) + cdefgh(2) + x(1) pieces, plus '1','2',',','!' = 4 others
    assert(out.getLong(1) == 8L)
  }

  test("fingerprint is whitespace/case-normalized and order-sensitive") {
    val fps = Seq(
      (1, "Hello  World"), (2, "hello world"), (3, "world hello"))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fps(1) == fps(2)) // case + whitespace normalize
    assert(fps(2) != fps(3)) // order matters
  }

  test("gopher rules: each rule fires on its own violation, good prose passes") {
    val good = ("the quick brown fox jumps over dogs and cats daily with " * 6).trim
    val cases = Seq(
      (1L, good, true),
      (2L, "the and of short", false),                         // < 50 words
      (3L, good + " ###### " + ("# " * 12).trim, false),       // symbol ratio
      (4L, good + "\n- bullet\n- bullet\n- bullet", false),    // bullet lines
      (5L, good.split(" ").grouped(10).map(_.mkString(" ") + " word...")
        .mkString("\n"), false),                               // ellipsis lines
      (6L, ("the of " + "1234 9876 " * 30).trim, false))       // alpha ratio
      .toDF("doc_id", "text", "want")
    val out = cases.select(col("doc_id"), col("want"),
      TextAnalysis.gopherRules(col("text")).as("g"))
      .select(col("doc_id"), col("want"), col("g.keep").as("keep"),
        col("g.n_stopwords"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    out.foreach { case (id, (want, got)) => assert(got == want, s"doc $id") }
    // the stop-word threshold parameterizes (paper default 2)
    val relaxed = Seq((7L, ("the cat " * 30).trim)).toDF("doc_id", "text")
    val k2 = relaxed.select(TextAnalysis.gopherRules(col("text"), 2)("keep"))
      .head().getBoolean(0)
    val k1 = relaxed.select(TextAnalysis.gopherRules(col("text"), 1)("keep"))
      .head().getBoolean(0)
    assert(!k2 && k1) // one distinct stop word: fails at 2, passes at 1
  }

  test("temperatureQuotas flattens the mix and never over-draws a source") {
    // natural 400:100:4 — sqrt-flattened 20:10:2 proportions
    val q = TextAnalysis.temperatureQuotas(
      Seq(("big", 400L), ("mid", 100L), ("tiny", 4L)), target = 160L)
      .map { case (s, _, quota) => s -> quota }.toMap
    assert(q("big") == 100L)  // floor(160*20/32)
    assert(q("mid") == 50L)   // floor(160*10/32)
    assert(q("tiny") == 4L)   // capped at ns (floor would be 10)
    // flattening: big is 100x tiny by count but only 25x by quota
    assert(q("big").toDouble / q("tiny") < 400.0 / 4.0)
    // input order must not matter (the fold is name-ordered)
    assert(TextAnalysis.temperatureQuotas(
      Seq(("tiny", 4L), ("big", 400L), ("mid", 100L)), 160L)
      .map { case (s, _, quota) => s -> quota }.toMap == q)
  }

  test("quotaSample keeps exactly quota(domain) docs, hash-smallest first") {
    val df = (1L to 30L).map(i => (i, if (i <= 20) "a" else "b"))
      .toDF("doc_id", "source")
    val out = TextAnalysis.quotaSample(df, "source", "doc_id",
      Map("a" -> 5L, "b" -> 100L))
    val byDomain = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDomain == Map("a" -> 5L, "b" -> 10L)) // b capped by its size
    // the kept 'a' docs are the 5 hash-smallest — re-running with a
    // larger quota must keep a superset (rank-by-hash is stable)
    val kept5 = out.filter(col("source") === "a")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept9 = TextAnalysis.quotaSample(df, "source", "doc_id",
      Map("a" -> 9L, "b" -> 100L)).filter(col("source") === "a")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept5.subsetOf(kept9))
    // a domain missing from the quota map fails LOUDLY (a stale-snapshot
    // quota map would otherwise silently drop the whole new domain)
    val e = intercept[Exception](
      TextAnalysis.quotaSample(df, "source", "doc_id", Map("a" -> 5L)).count())
    assert(e.getMessage != null && e.getMessage.contains("no quota for domain") ||
      Option(e.getCause).exists(_.getMessage.contains("no quota for domain")))
  }

  test("near-dedup verdict keeps one representative per duplicate cluster") {
    val corpus = docs() // 1 ≈ 2 near-dup, 4 = exact dup of 1, 3 unrelated
    val out = CacheScope.withScope { implicit scope =>
      val cands = Dedup.minhashCandidates(corpus, "doc_id", "text")
        .select("ida", "idb")
      val verified = Dedup.jaccardVerify(cands, corpus, "doc_id", "text", k = 3)
        .filter(col("jaccard") >= 0.5).select("ida", "idb")
      val labels = Dedup.duplicateClusters(verified)
      corpus.select("doc_id")
        .join(labels, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(out(1L) == 1L && out(4L) == 1L) // exact dups cluster to min id
    assert(out(3L) == 3L)                  // unrelated doc is its own rep
    val kept = out.filter { case (id, c) => id == c }.keySet
    assert(kept.contains(1L) && !kept.contains(4L))
  }

  test("asof join matches latest right row at or before left ts, else null") {
    val left = Seq((1, 10, 100L), (2, 10, 205L), (3, 10, 50L), (4, 99, 100L))
      .toDF("event_id", "k", "ts")
    val right = Seq((10, 100L, "v100"), (10, 200L, "v200"))
      .toDF("k", "ts", "payload")
    val out = AsOfJoin.asof(left, right, "k", "k", "ts", "ts")
      .select(col("event_id"), col("asof.payload").as("p"))
      .collect().map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    assert(out(1).contains("v100")) // ties: <= is inclusive
    assert(out(2).contains("v200"))
    assert(out(3).isEmpty)          // before any right row
    assert(out(4).isEmpty)          // key with no right rows
  }
}
