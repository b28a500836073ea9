package graft

import graft.functions.GraftColumns
import org.apache.spark.sql.functions._

/** Edge semantics of the native vector expressions: malformed inputs must
  * yield NULL, never plausible truncated values.
  */
class ExpressionEdgeSpec extends SparkTestBase {
  import spark.implicits._

  test("dot_product/cosine_sim: NULL on length mismatch and null elements") {
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),   // clean
      (2L, Seq(1.0, 2.0), Seq(4.0, 5.0, 6.0)),          // length mismatch
      (3L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0))
    ).toDF("id", "a", "b")
      .select(col("id"),
        GraftColumns.dotProduct(col("a"), col("b")).as("dp"),
        GraftColumns.cosineSim(col("a"), col("b")).as("cs"))
      .orderBy("id").collect()
    assert(df(0).getDouble(1) == 32.0)
    assert(df(1).isNullAt(1) && df(1).isNullAt(2))
    assert(df(2).getDouble(2) == 1.0)

    val withNullElem = Seq((1L, Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)))
      .toDF("id", "a", "b")
      .select(
        GraftColumns.dotProduct(col("a").cast("array<double>"), col("b").cast("array<double>")).as("dp"))
      .collect()
    assert(withNullElem(0).isNullAt(0))
  }

  test("pq_encode / lsh_buckets: NULL on wrong input length; codes/buckets in range") {
    val books = Array.tabulate(2, 4, 3) { (j, c, d) => (j + c + d).toDouble / 10 }
    val planes = Array.tabulate(2 * 2 * 6)(i => if (i % 3 == 0) -1.0 else 1.0)
    val df = Seq(
      (1L, Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6)), // dim 6 = 2 subspaces x 3
      (2L, Seq(0.1, 0.2))                      // wrong length
    ).toDF("id", "v")
      .select(col("id"),
        GraftColumns.pqEncode(col("v"), books).as("codes"),
        GraftColumns.lshBuckets(col("v"), planes, 2, 2, 6).as("buckets"))
      .orderBy("id").collect()
    val codes = df(0).getSeq[Int](1)
    assert(codes.length == 2 && codes.forall(c => c >= 0 && c < 4))
    val buckets = df(0).getSeq[Long](2)
    assert(buckets.length == 2 && buckets.forall(b => b >= 0 && b < 4))
    assert(df(1).isNullAt(1) && df(1).isNullAt(2))
    // codegen and interpreted paths agree
    val interp = graft.functions.PqEncode.encode(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6)),
      books.flatten.flatten,
      books.flatten.map(c => c.map(x => x * x).sum / 2.0), 2, 4, 3)
    assert(interp.toIntArray().toSeq == codes)
  }

  test("pq_lut / code_lookup_sum: compositional equivalence; two instances fuse in one stage") {
    val books = Array.tabulate(2, 4, 3) { (j, c, d) => (j + c + d).toDouble / 10 }
    val vec = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6)
    // TWO CodeLookupSum instances in ONE projection: whole-stage codegen
    // fuses them into one generated function — a fixed local variable name
    // in doGenCode would collide there and silently drop to interpreted
    val row = Seq((1L, vec))
      .toDF("id", "v")
      .select(col("id"),
        GraftColumns.pqLut(col("v"), books).as("lut"),
        GraftColumns.pqEncode(col("v"), books).as("codes"))
      .select(col("id"), col("lut"), col("codes"),
        GraftColumns.codeLookupSum(col("codes"), col("lut")).as("adc"),
        GraftColumns.codeLookupSum(col("codes"),
          array((for (j <- 0 until 2; c <- books(j))
            yield lit(c.map(x => x * x).sum)).toIndexedSeq: _*)).as("n2"))
      .collect()(0)
    val lut = row.getSeq[Double](1)
    assert(lut.length == 8)
    // lut must equal the per-(j,c) subvector dots, same fold order
    for (j <- 0 until 2; c <- 0 until 4) {
      val expect = (0 until 3).foldLeft(0.0)((s, d) => s + vec(j * 3 + d) * books(j)(c)(d))
      assert(lut(j * 4 + c) == expect, s"lut($j,$c)")
    }
    val codes = row.getSeq[Int](2)
    // adc == sum of the code-selected lut cells, left-to-right over j
    val adcExpect = (0 until 2).foldLeft(0.0)((s, j) => s + lut(j * 4 + codes(j)))
    assert(row.getDouble(3) == adcExpect)
    val n2Expect = (0 until 2).foldLeft(0.0)((s, j) =>
      s + books(j)(codes(j)).map(x => x * x).sum)
    assert(row.getDouble(4) == n2Expect)
    // malformed inputs -> null, not garbage
    val bad = Seq((1L, Seq(0.1, 0.2)))
      .toDF("id", "v")
      .select(GraftColumns.pqLut(col("v"), books).as("lut"))
      .collect()(0)
    assert(bad.isNullAt(0))
  }

  test("pq_encode / pq_lut compare and print by codebook content") {
    // each build flattens the (memoized) codebooks into fresh arrays, so
    // two builds hold equal arrays that are different objects
    val build = SparkEntry.queries("ann_pq")
    val (a, b) = (build(spark, sf), build(spark, sf))
    assert(a.sameSemantics(b), "two builds of ann_pq must canonicalize alike")
    // expression and exchange ids count up per build within one session;
    // everything else in the dump must match
    def dump(df: org.apache.spark.sql.DataFrame) =
      PlanDump.text(df).replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    val (da, db) = (dump(a), dump(b))
    assert(da.contains("pq_encode") && da.contains("pq_lut"), da)
    assert(!da.contains("[D@"), da)
    assert(da == db, s"PlanDump texts differ:\n$da\n---\n$db")
  }

  test("fnv1a64/mix64 match reference folds (codegen and SQL-registered paths)") {
    // splitmix64 reference vector: mix(0) is the first value of the
    // well-known splitmix64 stream seeded at 0
    assert(graft.functions.Mix64.mix(0L) == 0xE220A8397B1DCDAFL)
    // parquet-backed source: a Project over a LocalRelation would be
    // constant-folded with INTERPRETED eval (ConvertToLocalRelation),
    // never exercising doGenCode — the documents scan forces the
    // whole-stage-codegen path
    val rows = Tables.documents(spark, sf).limit(20)
      .selectExpr("text", "fnv1a64(text) AS f", "mix64(fnv1a64(text)) AS m")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expectF = graft.functions.SimHash64.fnv1a(r.getString(0).getBytes("UTF-8"))
      assert(r.getLong(1) == expectF)
      assert(r.getLong(2) == graft.functions.Mix64.mix(expectF))
    }
  }

  test("native SQL functions reject a wrong arity or a non-literal size at analysis") {
    val docs = Seq(("a b c d e", 1L)).toDF("text", "doc_id")
      .withColumn("v", expr("array(1.0D, 2.0D)"))
    def rejected(sql: String, condition: String, fn: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](docs.selectExpr(sql))
      assert(e.getCondition.startsWith(condition), s"$sql: ${e.getMessage}")
      assert(e.getMessage.contains(s"`$fn`"), s"$sql: ${e.getMessage}")
    }
    rejected("rolling_hash(text, 1)", "WRONG_NUM_ARGS", "rolling_hash")
    rejected("word_shingles(text, 3, 9)", "WRONG_NUM_ARGS", "word_shingles")
    rejected("dot_product(v)", "WRONG_NUM_ARGS", "dot_product")
    rejected("winnow_stats(text, 8)", "WRONG_NUM_ARGS", "winnow_stats")
    rejected("mix64()", "WRONG_NUM_ARGS", "mix64")
    rejected("word_shingles(text, doc_id)", "NON_FOLDABLE_ARGUMENT", "word_shingles")
    rejected("word_shingles(text, 'x')", "NON_FOLDABLE_ARGUMENT", "word_shingles")
    rejected("word_shingles(text, NULL)", "NON_FOLDABLE_ARGUMENT", "word_shingles")
    rejected("winnow_stats(text, 8, doc_id)", "NON_FOLDABLE_ARGUMENT", "winnow_stats")
    // every accepted arity still builds, a BIGINT literal included
    val ok = docs.selectExpr("size(word_shingles(text))", "size(word_shingles(text, 2))",
      "size(word_shingles(text, CAST(4 AS BIGINT)))", "winnow_stats(text) = winnow_stats(text, 8, 4)")
      .head()
    assert(ok.getInt(0) == 3 && ok.getInt(1) == 4 && ok.getInt(2) == 2 && ok.getBoolean(3))
  }

  test("Column-level API works with no function registration (fresh analyzer path)") {
    // GraftColumns builds its expressions directly, not through the
    // session's function registry.
    val out = Seq((Seq(3.0, 4.0), Seq(3.0, 4.0))).toDF("a", "b")
      .select(GraftColumns.cosineSim(col("a"), col("b")).as("sim"))
      .as[Double].head
    assert(out == 1.0)
  }
}
