package graft

import graft.functions.RollingHash
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Validates the sketch-based operators (no ANSI-SQL oracle) against exact
  * ground truth: MinHash-LSH and SimHash against exact n-gram Jaccard pairs,
  * LSH-bucketed ANN against brute-force cosine top-k.
  */
class DedupSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  test("rolling_hash native expression matches the reference Scala fold") {
    val rows = docs.limit(20)
      .select(col("text"), expr("rolling_hash(text)").as("h"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == RollingHash.hash(r.getString(0).getBytes("UTF-8")))
    }
  }

  test("simhash: identical token arrays get identical fingerprints; perturbation stays near") {
    val df = Seq(
      ("a b c d e f g h i j k l m n o p", 1),
      ("a b c d e f g h i j k l m n o p", 2),     // identical
      ("a b c d e f g h i j k l m n o q", 3),     // one token changed
      ("z y x w v u t s r q p o n m l k", 4)      // unrelated
    ).toDF("text", "id")
      .select(col("id"), expr("simhash64(split(text, ' '))").as("fp"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(df(1) == df(2))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(df(1), df(3)) < hamming(df(1), df(4)))
  }

  test("minhash-LSH finds most exact-jaccard near-dup pairs (recall >= 0.8)") {
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-duplicates")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall: exact=$exact lsh=$lsh")
  }

  test("withExactJaccard self-check: minhash estimate within sketch error bar") {
    val pairs = Dedup.withExactJaccard(Dedup.minhashLshPairs(docs), docs)
      .select("doc_a", "doc_b", "est_jaccard", "exact_jaccard").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val est = r.getDouble(2); val exact = r.getDouble(3)
      // 16-perm minhash: std err ~ sqrt(j(1-j)/16) <= 0.125; 3 sigma bound
      assert(math.abs(est - exact) <= 0.375,
        s"pair (${r.getLong(0)},${r.getLong(1)}): est=$est exact=$exact")
    }
  }

  test("simhash pairs overlap the exact near-dup set") {
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && sim.nonEmpty)
    assert((exact & sim).nonEmpty, s"no overlap: exact=$exact simhash=$sim")
  }

  test("LSH ANN results are a subset-quality approximation of brute force") {
    val bf = Similarity.bruteForceTopK(emb, numQueries = 4, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshBucketedTopK(emb, numQueries = 4, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every LSH hit for a query is a real vector pair; some overlap expected
    assert(lsh.nonEmpty)
    val recall = (bf & lsh).size.toDouble / bf.size
    info(s"LSH ANN recall vs brute force: $recall")
    // random 64-dim embeddings are near-orthogonal (top neighbors sit at
    // cosine ~0.25-0.40), so single-bucket LSH recall is structurally
    // modest; multi-table + multi-probe (Hamming-1 query probes) holds
    // >= 0.8 on this fixture (measured 0.85, deterministic planes)
    assert(recall >= 0.8)
  }

  test("IVF ANN recall is reasonable and beats random candidate selection") {
    val bf = Similarity.bruteForceTopK(emb, numQueries = 4, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, numQueries = 4, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    val recall = (bf & ivf).size.toDouble / bf.size
    info(s"IVF ANN recall vs brute force: $recall")
    // nprobe/nlist = 4/16 scans ~25% of the corpus; recall should beat that
    assert(recall >= 0.25)
  }

  test("PQ ANN: ADC cosine tracks exact cosine; recall beats random selection") {
    val bf = Similarity.bruteForceTopK(emb, numQueries = 4, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, numQueries = 4, k = 5).collect()
    assert(pq.nonEmpty)
    // ADC is an estimator of the exact cosine: per-row error bounded by
    // the quantization distortion (16 centroids x 16 subspaces on this data)
    pq.foreach { r =>
      val est = r.getDouble(3); val exact = r.getDouble(4)
      assert(math.abs(est - exact) <= 0.35, s"ADC err: est=$est exact=$exact")
    }
    val pqPairs = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & pqPairs).size.toDouble / bf.size
    info(s"PQ ANN recall vs brute force: $recall")
    // 0.7 measured (deterministic seeds) on near-orthogonal random data —
    // the ADC shortlist (k*4) + exact re-rank recovers most true neighbors
    assert(recall >= 0.5)
  }

  test("IVF-PQ composed ANN: candidates within probed cells; recall beats cell coverage") {
    val bf = Similarity.bruteForceTopK(emb, numQueries = 4, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.ivfPqTopK(emb, numQueries = 4, k = 5).collect()
    assert(ivfpq.nonEmpty)
    // the ADC estimate survives the composition unchanged (same books, same
    // lookup arithmetic as pqTopK) — same distortion bound
    ivfpq.foreach { r =>
      val est = r.getDouble(3); val exact = r.getDouble(4)
      assert(math.abs(est - exact) <= 0.35, s"ADC err: est=$est exact=$exact")
    }
    val pairs = ivfpq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & pairs).size.toDouble / bf.size
    info(s"IVF-PQ ANN recall vs brute force: $recall")
    // candidate set is capped by IVF's nprobe/nlist = 4/16 cell coverage,
    // so the composed recall floor is the IVF gate, not the PQ gate
    assert(recall >= 0.25)
    // composition sanity: every returned neighbor is also an IVF candidate
    // (same centers/probes), i.e. PQ only re-ordered within probed cells.
    // k = corpus size so ivfTopK returns EVERY probed-cell candidate (not a
    // top-k proxy that could spuriously fail when an IVF-PQ pick ranks low
    // by exact cosine among the candidates).
    val corpusSize = emb.count().toInt
    val ivf = Similarity.ivfTopK(emb, numQueries = 4, k = corpusSize)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(ivf),
      s"IVF-PQ returned neighbors outside probed cells: ${pairs -- ivf}")
  }

  test("repetition signals flag degenerate text (Gopher-style)") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over dog")
    ).toDF("doc_id", "text")
    val r = graft.functions.TextAnalysis.repetitionStats(df).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getDouble(3) == 1.0)  // top_token_fraction: all one token
    assert(r(1L).getDouble(4) == 0.8)  // 5 bigrams, 1 distinct
    assert(r(2L).getDouble(3) < 0.2 && r(2L).getDouble(4) == 0.0)
  }

  test("semanticDedup: every flagged pair is a true cosine near-dup (precision 1)") {
    val r = Similarity.semanticDedup(emb).collect()
    assert(r.length > 0 && r.forall(x => !x.isNullAt(1))) // every vector gets a cell
    val flagged = r.filter(!_.isNullAt(2)).map(x => (x.getLong(0), x.getLong(2)))
    assert(flagged.nonEmpty, "expected at least one semantic duplicate at sf0.001")
    val vecs = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .collect()
      .map(x => x.getLong(0) -> x.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    // Keep-lowest-id policy: dup_of is a LOWER id, and the pair really is
    // a cosine near-dup (the cell restriction can lose recall vs the exact
    // all-pairs scan, but never precision).
    flagged.foreach { case (v, keeper) =>
      assert(keeper < v, s"dup_of must be a lower id: $v -> $keeper")
      assert(cos(vecs(v), vecs(keeper)) >= 0.4,
        s"flagged pair ($v, $keeper) below the cosine threshold")
    }
  }

  test("semanticDedupLsh: fit-free cells, same precision-1 contract") {
    val r1 = Similarity.semanticDedupLsh(emb).collect()
    val r2 = Similarity.semanticDedupLsh(emb).collect()
    // deterministic: no fit, no sampling, no driver state
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    val flagged = r1.filter(!_.isNullAt(2)).map(x => (x.getLong(0), x.getLong(2)))
    assert(flagged.nonEmpty, "expected LSH cells to surface some near-dups")
    val vecs = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .collect()
      .map(x => x.getLong(0) -> x.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    flagged.foreach { case (v, keeper) =>
      assert(keeper < v && cos(vecs(v), vecs(keeper)) >= 0.4)
    }
  }

  test("nearDupClusters: transitive chain collapses to one component") {
    // A~B and B~C but A!~C directly: component must still merge all three
    val verts = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.nearDupClusters(verts, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("nearDupClusters: a cold file-backed call keeps only the checkpoints its result reads") {
    // Scoped to RDDs created during this call (ids between two probes),
    // not the global persistent-RDD count other suites' caches perturb.
    // The snapshot is taken as the call returns and holds each RDD
    // strongly, so the ContextCleaner cannot unpersist an unreachable
    // leaked checkpoint behind the check's back.
    val dir = java.nio.file.Files.createTempDirectory("graft_ndc_leak").toString
    try {
      Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id").write.parquet(s"$dir/docs")
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
        .write.parquet(s"$dir/pairs")
      val sc = spark.sparkContext
      val firstId = sc.emptyRDD[Int].id
      val out = Dedup.nearDupClusters(
        spark.read.parquet(s"$dir/docs"), spark.read.parquet(s"$dir/pairs"))
      val persisted = sc.getPersistentRDDs
      val lastId = sc.emptyRDD[Int].id
      assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L))
      val read = out.queryExecution.logical.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
      val leaked = persisted.collect {
        case (id, rdd) if id > firstId && id < lastId && !read(id) &&
            rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE => id
      }
      assert(leaked.isEmpty, s"checkpoints left persisted, unread by the result: $leaked")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("exact dedup groups partition the corpus") {
    val total = docs.count()
    val g = Dedup.exactGroups(docs).agg(sum("dup_count")).as[Long].head
    assert(g == total)
  }

  test("hybridDedup: verdict table is exactly the union of both signals") {
    val h = Similarity.hybridDedup(docs, emb).collect()
    assert(h.nonEmpty)
    val sem = Similarity.semanticDedup(emb).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    h.foreach { r =>
      val id = r.getLong(0)
      val semantic = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(r.isNullAt(1), s"no byte-identical docs in the corpus, doc $id")
      assert(semantic == sem.getOrElse(id, None), s"doc $id semantic verdict")
      assert(r.getBoolean(3) == semantic.isEmpty)
    }
    assert(h.exists(!_.getBoolean(3)), "semantic signal must fire")
    // the corpus has no byte-identical texts, so exercise the exact side
    // with planted copies: 3 re-ids of existing docs must flag back to
    // their originals via the digest, with no semantic verdict (no vec)
    val planted = docs.select(col("doc_id"), col("text")).union(
      docs.filter(col("doc_id") < 3)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val h2 = Similarity.hybridDedup(planted, emb).collect()
      .map(r => r.getLong(0) -> r).toMap
    (0L until 3L).foreach { i =>
      val r = h2(100000 + i)
      assert(r.getLong(1) == i && !r.getBoolean(3),
        s"planted copy ${100000 + i} must be an exact dup of $i")
    }
  }

  test("clusterAudit recovers planted cluster structure (purity >> random)") {
    // DocGen plants 16 well-separated clusters with label == cluster id:
    // the sampled k-means quantizer should assign mostly-pure cells.
    val planted = graft.gen.DocGen.embeddings(spark, 2000)
    val r = Similarity.clusterAudit(planted).collect()
    assert(r.map(_.getLong(1)).sum == 2000, "cells must partition the corpus")
    val weightedPurity = r.map(x => x.getDouble(4) * x.getLong(1)).sum / 2000
    assert(weightedPurity >= 0.6,
      s"planted structure not recovered: weighted purity $weightedPurity (random = 1/16)")
  }

  test("embedding quantization: codes in int8 range, MSE within rounding bound") {
    val r = Similarity.quantizeAudit(emb).collect()
    assert(r.length > 0)
    r.foreach { row =>
      val scale = row.getDouble(2)
      val mse = row.getDouble(5)
      // per-element error <= 0.5/scale, so mse <= 0.25/scale^2
      assert(mse <= 0.25 / (scale * scale) + 1e-12,
        s"vec ${row.getLong(0)}: mse $mse above rounding bound")
      assert(row.getLong(4) <= 127L * 64, "codes must stay in int8 range")
      assert(mse >= 0.0)
    }
  }

  test("token budget sampling: fill-until-reached, monotone, reorder-stable") {
    import graft.operators.Mixture
    val budgets = Map("src0" -> 500L, "src1" -> 1000L)
    val r1 = Mixture.tokenBudgetSample(docs, budgets).collect()
    assert(r1.nonEmpty)
    // unknown sources contribute nothing; every admitted doc STARTED
    // under its source's budget (the last one may overshoot)
    assert(r1.map(_.getString(1)).toSet.subsetOf(budgets.keySet))
    r1.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) < budgets(r.getString(1)))
    }
    // budget is actually binding at sf0.001 (more src0 docs exist than fit)
    val perSrc = r1.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum)
    perSrc.foreach { case (s, toks) =>
      assert(toks >= budgets(s), s"$s under-filled: $toks of ${budgets(s)}")
    }
    // monotone: doubling budgets only ADDS documents
    val r2 = Mixture.tokenBudgetSample(docs, budgets.map { case (k, v) => k -> v * 2 })
      .collect()
    val ids1 = r1.map(_.getLong(0)).toSet
    val ids2 = r2.map(_.getLong(0)).toSet
    assert(ids1.subsetOf(ids2) && ids2.size > ids1.size)
    // content-keyed: a repartitioned/reordered input admits the same set
    val r3 = Mixture.tokenBudgetSample(docs.repartition(7), budgets).collect()
    assert(r3.map(_.getLong(0)).toSet == ids1)
  }

  test("quantizer caches never collide two same-schema in-memory datasets") {
    // Two LocalRelation inputs with the SAME schema but different data: a
    // plan-canonicalization cache key would collapse them to one entry
    // (LocalRelation canonicalizes to its schema only) and silently reuse
    // the first fit's centroids for the second dataset. The guard must
    // refit instead — observable as different top-k results where the
    // datasets genuinely differ.
    def mkEmb(shift: Double) = (0L until 64L).map { i =>
      i -> Array.tabulate(64)(d =>
        (graft.functions.Mix64.mix(i * 64 + d + (shift * 1e6).toLong) >>> 11).toFloat
          / (1L << 53) + (if (i % 8 == 0) shift.toFloat else 0f))
    }.toDF("vec_id", "embedding")
    val a = mkEmb(0.0); val b = mkEmb(5.0)
    // observe the FIT ITSELF (the keyed fit registry) — exact cosines differ
    // across datasets even through a stale shared fit, so only the model
    // arrays can expose a cache collision — AND the end-to-end results,
    // which guard downstream determinism (tie-breaks in probe ranking and
    // shortlists) that the fit arrays alone cannot see
    def runBoth(df: org.apache.spark.sql.DataFrame)
        : (Array[Array[Double]], Array[Array[Array[Double]]], Seq[String]) = {
      val ivf = Similarity.ivfTopK(df, numQueries = 2, k = 3, nlist = 4, nprobe = 1)
        .collect().map(_.toString).toSeq
      val pq = Similarity.pqTopK(df, numQueries = 2, k = 3, m = 16, ksub = 4)
        .collect().map(_.toString).toSeq
      (Similarity.ivfFitFor(df, numQueries = 2, k = 3, nlist = 4, nprobe = 1).get.centers,
        Similarity.pqFitFor(df, numQueries = 2, k = 3, m = 16, ksub = 4).get.books,
        ivf ++ pq)
    }
    val (cenA, bookA, resA) = runBoth(a)
    val (cenA2, bookA2, resA2) = runBoth(a) // same data -> identical refit AND results
    assert(cenA.flatten.toSeq == cenA2.flatten.toSeq)
    assert(bookA.flatten.flatten.toSeq == bookA2.flatten.flatten.toSeq)
    assert(resA == resA2, "same-data rerun changed query results")
    val (cenB, bookB, _) = runBoth(b)
    // different data through the same-schema plan MUST refit: a collision
    // on the schema-only canonical key would return cenA/bookA verbatim
    assert(cenA.flatten.toSeq != cenB.flatten.toSeq,
      "ivf quantizer cache served dataset a's centroids for dataset b")
    assert(bookA.flatten.flatten.toSeq != bookB.flatten.flatten.toSeq,
      "pq codebook cache served dataset a's codebooks for dataset b")
  }

  test("mixture sampling: content-keyed, reorder-stable, monotone in rate") {
    import graft.operators.Mixture
    val rates = Map("a" -> 0.3, "b" -> 0.8)
    // decisions are a pure function of TEXT: identical texts (even across
    // rows) get identical gate values, so dup copies sample identically
    val dups = Seq((1L, "a", "same text"), (2L, "a", "same text"), (3L, "a", "other"))
      .toDF("doc_id", "source", "text")
    val kept = Mixture.sampleBySource(dups, rates).select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) == kept.contains(2L), "dup copies must sample identically")
    // reorder/repartition stability on real data
    val docs = Tables.documents(spark, sf)
    val r1 = Mixture.sampleBySource(docs, Mixture.DriverRates).select("doc_id")
      .as[Long].collect().sorted.toSeq
    val r2 = Mixture.sampleBySource(docs.repartition(7), Mixture.DriverRates)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(r1 == r2, "sampling must not depend on physical layout")
    // monotone: the kept set at rate r is a subset of the kept set at r' > r
    val low = Mixture.sampleBySource(docs, Map.empty, defaultRate = 0.3)
      .select("doc_id").as[Long].collect().toSet
    val high = Mixture.sampleBySource(docs, Map.empty, defaultRate = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(low.subsetOf(high), "raising the rate must only add documents")
    // realized rates track targets (loose: 25 docs/source at this SF)
    val stats = Mixture.mixtureStats(docs, Mixture.DriverRates).collect()
    stats.foreach { r =>
      val realized = r.getAs[Double]("realized_rate")
      val target = r.getAs[Double]("target_rate")
      assert(math.abs(realized - target) < 0.35, s"rate drift: $r")
    }
  }

  test("mixture sampling: broadcast-rate path agrees with the CASE chain") {
    import graft.operators.Mixture
    val docs = Tables.documents(spark, sf)
    // 200 sources: far past BroadcastRateThreshold, includes every source
    // in the data plus phantom keys the dimension carries but no doc matches
    val manyRates = (0 until 200).map(i => s"src$i" -> (0.1 + 0.004 * i)).toMap
    val viaChain = docs
      .filter(Mixture.textUniform(col("text")) <
        Mixture.rateFor(col("source"), manyRates, 0.5))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaJoin = Mixture.sampleBySourceBroadcast(docs, manyRates, 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaChain == viaJoin, "broadcast path changed the kept set")
    // the dispatcher routes high-cardinality maps to the broadcast join and
    // preserves the input schema exactly
    val dispatched = Mixture.sampleBySource(docs, manyRates, 0.5)
    assert(dispatched.columns.toSeq == docs.columns.toSeq)
    assert(dispatched.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "high-cardinality rate map must probe a broadcast dimension")
    // unknown-source fallback: a doc whose source is absent from the map
    // gates on defaultRate on both paths
    val noRates = Mixture.sampleBySourceBroadcast(docs, Map("nope" -> 0.0), 0.7)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val noRatesChain = Mixture.sampleBySource(docs, Map("nope" -> 0.0), 0.7)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(noRates == noRatesChain)
  }

  test("adaptiveParts scales task count with the edge list") {
    assert(Dedup.adaptiveParts(0L) == 4)           // tiny graph: floor
    assert(Dedup.adaptiveParts(120000L) == 4)      // sf0.1-sized: floor
    assert(Dedup.adaptiveParts(10000000L) == 20)   // 10M edges: 20 tasks
    assert(Dedup.adaptiveParts(1000000000L) == 2000) // 1B edges
    assert(Dedup.adaptiveParts(Long.MaxValue) == 2048) // cap
  }

  test("nearDupClusters: 300-hop path converges within default rounds (SV bound)") {
    // Adversarial path graph: consecutive path positions alternate between
    // the two ends of the id range, so the component minimum (0) is ~300
    // label-propagation hops from the far end. Plain neighbor propagation
    // needs diameter rounds and would hit the default 20-round cap; the
    // Shiloach-Vishkin root-hooking + shortcut rounds are O(log n) and
    // must converge — this is the regression the image dHash graph
    // exposed (58-hop eccentricity at sf0.1).
    val n = 300
    val ids = (0 until n).map(i =>
      if (i % 2 == 0) (i / 2).toLong else (n - 1 - i / 2).toLong)
    val pairs = (0 until n - 1).map { i =>
      val (a, b) = (ids(i), ids(i + 1))
      (math.min(a, b), math.max(a, b))
    }.toDF("doc_a", "doc_b")
    val members = (0L until n.toLong).toDF("doc_id")
    val out = Dedup.nearDupClusters(members, pairs).collect()
    assert(out.length == n)
    assert(out.forall(_.getLong(1) == 0L), "single path component, min id 0")
  }
}
