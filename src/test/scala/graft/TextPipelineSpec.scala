package graft

import graft.functions.TextAnalysis
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the round-7 text-pipeline operators:
  * cross-document n-gram overlap, bigram-LM NLL, TF-IDF top terms, and PII
  * redaction. The driver's DuckDB oracle covers these at corpus scale; these
  * specs pin the semantics on inputs small enough to verify by hand.
  */
class TextPipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("crossDocNgramOverlap: shared 3-grams counted corpus-wide, pair-free") {
    val docs = Seq(
      (1L, "a b c d"), // 3-grams {a b c, b c d}
      (2L, "a b c x"), // {a b c, b c x} — shares "a b c" with doc 1
      (3L, "p q r s") // {p q r, q r s} — shares nothing
    ).toDF("doc_id", "text")
    val r = Dedup.crossDocNgramOverlap(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 2 && r(1L).getLong(2) == 1)
    assert(r(1L).getDouble(3) == 0.5)
    assert(r(2L).getLong(2) == 1 && r(2L).getDouble(3) == 0.5)
    assert(r(3L).getLong(2) == 0 && r(3L).getDouble(3) == 0.0)
  }

  test("bigramNll: add-one-smoothed bigram model, hand-computed NLL") {
    // Corpus: c12(a,b)=3 (b,a)=1 (b,b)=1; contexts c1(a)=3 c1(b)=2; V=2.
    // p(b|a) = (3+1)/(3+2) = 4/5;  p(a|b) = p(b|b) = (1+1)/(2+2) = 1/2.
    val docs = Seq(
      (1L, "a b a b"), // bigrams ab, ba, ab -> nll = (2 ln(5/4) + ln 2)/3
      (2L, "a b b") //    bigrams ab, bb     -> nll = (ln(5/4) + ln 2)/2
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bigramNll(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 3 && r(1L).getLong(2) == 2)
    val nll1 = (2 * math.log(5.0 / 4) + math.log(2.0)) / 3
    val nll2 = (math.log(5.0 / 4) + math.log(2.0)) / 2
    assert(r(1L).getDouble(3) == math.rint(nll1 * 1e4) / 1e4)
    assert(r(2L).getLong(1) == 2 && r(2L).getDouble(3) == math.rint(nll2 * 1e4) / 1e4)
  }

  test("bigramNll: every NLL positive/finite; identical text scores identically") {
    val docs = Tables.documents(spark, sf)
    val byId = TextAnalysis.bigramNll(docs).collect()
      .map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(byId.values.forall(v => v > 0 && !v.isNaN && !v.isInfinite))
    // the corpus has no byte-identical docs (verified — an earlier version
    // of this test checked md5 dup groups vacuously), so PLANT a copy:
    // same text -> same model probabilities -> identical NLL
    val planted = docs.select(col("doc_id"), col("text")).union(
      docs.filter(col("doc_id") === 0)
        .select(lit(99999L).as("doc_id"), col("text")))
    val byId2 = TextAnalysis.bigramNll(planted).collect()
      .map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(byId2(0L) == byId2(99999L))
  }

  test("tfidfTopTerms: smooth idf, rank by score then term") {
    // N=3; df: a->1, b->2, c->2. idf(a)=ln 2 + 1, idf(b)=idf(c)=ln(4/3)+1.
    val docs = Seq(
      (1L, "a a b"),
      (2L, "b c"),
      (3L, "c c c")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.tfidfTopTerms(docs, k = 2).collect()
      .map(x => (x.getLong(0), x.getInt(1)) -> x).toMap
    assert(r((1L, 1)).getString(2) == "a") // (2/3)(ln2+1) beats (1/3)(ln(4/3)+1)
    assert(r((1L, 2)).getString(2) == "b")
    // doc 2 has a score tie between b and c -> term asc breaks it
    assert(r((2L, 1)).getString(2) == "b" && r((2L, 2)).getString(2) == "c")
    val c3 = r((3L, 1))
    assert(c3.getString(2) == "c" && c3.getLong(3) == 3 && c3.getLong(4) == 2)
    val expected = math.rint((math.log(4.0 / 3) + 1.0) * 1e6) / 1e6
    assert(c3.getDouble(5) == expected) // tf = 3/3 = 1
  }

  test("curation funnel: every stage bites on a crafted corpus") {
    import graft.operators.Curation
    val good = "the " + (1 to 50).map(i => s"w$i").mkString(" ") // 51 tokens:
    // length term 0.5 + distinct ~0.3 + stop ~0.004 ≈ 0.8 >= 0.5; 'the' -> en
    val docs = Seq(
      (1L, good, "srcA"),
      (2L, good, "srcA"), // exact duplicate -> dropped at stage 3
      (3L, "zz qq pp", "srcA") // no lang markers -> dropped at stage 1
    ).toDF("doc_id", "text", "source")
    val r = Curation.funnel(docs, Seq("the", "a", "of", "and"))
      .collect().map(x => x.getInt(0) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r(0)._1 == 3 && r(1)._1 == 2 && r(2)._1 == 2)
    assert(r(3)._1 == 1, "exact duplicate must be dropped")
    assert(r(4)._1 == 1 && r(5)._1 == 1) // unknown source -> default rate 1.0
    assert(r(5)._2 == 51)
  }

  test("curation funnel: per-stage counts are a monotone loss curve on the corpus") {
    import graft.operators.Curation
    val r = Curation.funnel(Tables.documents(spark, sf), Seq("the", "a", "of", "and"))
      .collect()
    assert(r.length == 6 && r.map(_.getInt(0)).toSeq == (0 to 5))
    val d = r.map(_.getLong(2)); val t = r.map(_.getLong(3))
    assert(d.zip(d.tail).forall { case (a, b) => b <= a }, d.mkString(","))
    assert(t.zip(t.tail).forall { case (a, b) => b <= a }, t.mkString(","))
    // lang, quality, span and sampling all genuinely cut at sf0.001
    assert(d(1) < d(0) && d(2) < d(1) && d(4) < d(3) && d(5) < d(4) && d(5) > 0)
  }

  test("curation funnel: persist path gives identical results; lifecycle holds") {
    import graft.operators.Curation
    val sw = Seq("the", "a", "of", "and")
    // the harness corpus is far below the 1 GiB size gate, so force the
    // persist branch with a zero threshold and compare against the
    // recompute branch (default threshold)
    val recomputed = Curation.funnel(Tables.documents(spark, sf), sw)
      .collect().map(_.toString).toSeq
    val persisted = Curation.funnel(Tables.documents(spark, sf), sw,
        persistThresholdBytes = 0L)
      .collect().map(_.toString).toSeq
    assert(persisted == recomputed, "persisted path must produce identical stage counts")
    // a subsequent recompute-path call must release the persisted frame
    // (the lifecycle contract), and release is idempotent
    Curation.funnel(Tables.documents(spark, sf), sw).collect()
    graft.operators.PlanCache.releasePins(spark, Curation)
    graft.operators.PlanCache.releasePins(spark, Curation)
  }

  test("piiRedact: real PII in text is scrubbed and counted alongside planted") {
    val docs = Seq(
      // doc 1: 1%3!=0 plants one email; text carries a real email + IP
      (1L, "ping bob@x.io from 192.168.0.1 ok"),
      // doc 21: divisible by 3 (no planted email) and by 7 (planted IP)
      (21L, "plain text only"),
      // doc 12: divisible by 3 (no email) and 4 (planted phone)
      (12L, "call later")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.piiRedact(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 2 && r(1L).getLong(2) == 0 && r(1L).getLong(3) == 1)
    assert(r(21L).getLong(1) == 0 && r(21L).getLong(3) == 1)
    assert(r(12L).getLong(2) == 1 && r(12L).getLong(3) == 0)
    val tail1 = r(1L).getString(5)
    assert(!tail1.contains("bob@x.io") && !tail1.contains("192.168.0.1"))
    assert(tail1.contains("[EMAIL]") && r(21L).getString(5).contains("[IP]"))
    assert(r(12L).getString(5).contains("[PHONE]"))
  }
}
