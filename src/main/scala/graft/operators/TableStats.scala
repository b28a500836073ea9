package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ANALYZE-style column statistics — the table profile a cost-based
  * optimizer (and a data-quality dashboard) consumes: per column, the row
  * count, null count, exact distinct count, and canonical min/max. The
  * reference leaves statistics to Postgres' ANALYZE; an engine that owns
  * its scans has to produce them itself.
  *
  * Serialization discipline: min/max are emitted as STRINGS in canonical
  * forms that both engines render identically — longs as-is, doubles via
  * the exact cents fixed point, timestamps via epoch micros — never raw
  * double/timestamp rendering (e-notation and fraction padding differ
  * across engines).
  *
  * Scale: TWO passes per table, whatever its width. A counters pass
  * computes row count, nulls and min/max for every column as plain
  * counters with map-side combine; a stacked pass counts every column's
  * distinct values in one narrow distinct over (column, typed key) rows.
  * The report is O(columns), not O(rows).
  */
object TableStats {

  private case class ColSpec(name: String, canon: Column)

  private def profile(table: String, df: DataFrame,
      specs: Seq[ColSpec]): DataFrame = {
    // Two passes, neither of them Spark's multi-distinct Expand (N
    // distinct aggregates in ONE agg fan every input row out N+1 ways
    // before the partial aggregation):
    //   - counters pass: count/nulls/min/max for all columns in one
    //     plain aggregate (map-side combine, no expansion);
    //   - stacked distinct pass: each row becomes one (column_name, key)
    //     row per column, null keys dropped, then ONE distinct over
    //     (column_name, key) and a count per column_name. Its cost is one
    //     scan, one distinct and one count per table, where a
    //     single-distinct branch per column paid a scan, shuffle and job
    //     per column for almost no work each.
    // min/max stay in the counters pass: carried on the stacked rows they
    // bring the fan-out cost back (tried at sf0.1 on 4 cores: 4.2 -> 6.1 s
    // warm CPU).
    val aggs = count(lit(1)).as("n_rows") +: specs.flatMap { s =>
      Seq(
        sum(when(col(s.name).isNull, 1L).otherwise(0L)).as(s"${s.name}__nulls"),
        min(s.canon).as(s"${s.name}__min"),
        max(s.canon).as(s"${s.name}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = specs.map(s =>
      s"'${s.name}', cast(`${s.name}__nulls` as bigint), " +
        s"cast(`${s.name}__min` as string), cast(`${s.name}__max` as string)")
      .mkString(", ")
    val base = wide.select(
      lit(table).as("table_name"),
      col("n_rows"),
      expr(s"stack(${specs.size}, $stacked) " +
        "as (column_name, n_nulls, min_canon, max_canon)"))
    val keys = specs.map(s => typedKey(s.name, df.schema(s.name).dataType))
    val ndv = df.select(inline(array(keys: _*)))
      .where(col("l").isNotNull || col("d").isNotNull || col("s").isNotNull)
      .distinct()
      .groupBy(col("column_name"))
      .agg(count(lit(1)).as("ndv"))
    // an all-null column has no stacked rows: its ndv is 0
    base.join(broadcast(ndv), Seq("column_name"), "left")
      .select(col("table_name"), col("column_name"), col("n_rows"),
        col("n_nulls"), coalesce(col("ndv"), lit(0L)).as("ndv"),
        col("min_canon"), col("max_canon"))
  }

  /** `(column_name, l, d, s)`: the column's value in the slot of its type
    * (long / double / string), the other two null. Values keep their own
    * type, so distinctness is the type's own equality — doubles group as
    * `countDistinct` counts them (0.0 = -0.0, one NaN) — and nothing is
    * rendered to a string. Timestamps key by their epoch micros, which
    * are one-to-one with them.
    */
  private def typedKey(name: String, t: DataType): Column = {
    val v = col(name)
    def key(l: Column = lit(null), d: Column = lit(null),
        s: Column = lit(null)): Column =
      struct(lit(name).as("column_name"), l.cast(LongType).as("l"),
        d.cast(DoubleType).as("d"), s.cast(StringType).as("s"))
    t match {
      case IntegerType | LongType => key(l = v)
      case DoubleType => key(d = v)
      case _: StringType => key(s = v)
      case TimestampType => key(l = unix_micros(v))
      case other => throw new IllegalArgumentException(
        s"columnStats: no distinct key for $name of type $other")
    }
  }

  private def cents(c: Column): Column =
    graft.queries.Analytics.centsOf(c).cast("long")

  /** The harness profile: orders + events, every column in its canonical
    * form.
    */
  def columnStats(orders: DataFrame, events: DataFrame): DataFrame = {
    val ordersP = profile("orders", orders, Seq(
      ColSpec("o_orderkey", col("o_orderkey")),
      ColSpec("o_custkey", col("o_custkey")),
      ColSpec("o_orderstatus", col("o_orderstatus")),
      ColSpec("o_totalprice", cents(col("o_totalprice"))),
      ColSpec("o_orderdate", unix_micros(col("o_orderdate"))),
      ColSpec("o_orderpriority", col("o_orderpriority"))))
    val eventsP = profile("events", events, Seq(
      ColSpec("event_id", col("event_id")),
      ColSpec("ts", unix_micros(col("ts"))),
      ColSpec("user_id", col("user_id")),
      ColSpec("event_type", col("event_type")),
      ColSpec("value", cents(col("value")))))
    ordersP.unionByName(eventsP)
      .orderBy(col("table_name"), col("column_name"))
  }

  /** Equi-join cardinality estimation from Count-Min inner products
    * (Cormode & Muthukrishnan, J.Alg 2005 §4.2) — the optimizer question
    * "how big is orders ⋈ events on user?" answered from two
    * constant-size sketches: est_d = Σ_b A_d[b]·B_d[b], estimate =
    * min_d est_d, with exact ≤ estimate ≤ exact + (e/width)·|A|·|B| w.h.p.
    * The EXACT join size rides along in-row as the self-check — computed
    * from the per-key COUNT frames (Σ c_a·c_b over shared keys), never by
    * materializing the join.
    *
    * Scale: each table folds to (key, count) with map-side combine, then
    * to depth×width counters — the sketches are constant-size state a
    * catalog can keep per column and intersect at plan time without
    * touching data. The hash family is the established mix64 chain
    * (key-mix, then seed-xor-mix per row), bit-exact in the oracle.
    */
  def joinCardinalityEst(orders: DataFrame, events: DataFrame,
      depth: Int = graft.functions.TextAnalysis.CmsDepth,
      width: Int = graft.functions.TextAnalysis.CmsWidth): DataFrame = {
    import graft.functions.GraftColumns.mix64
    val seeds = graft.functions.TextAnalysis.cmsSeeds(depth)
    def cnts(df: DataFrame, key: String): DataFrame = df
      .groupBy(col(key).as("key")).agg(count(lit(1)).as("c"))
    val ca = cnts(orders, "o_custkey")
    val cb = cnts(events, "user_id")
    def counters(cnt: DataFrame): DataFrame = cnt
      .select(col("key"), col("c"),
        explode(array((0 until depth).map(lit): _*)).as("d"))
      .withColumn("bucket",
        mix64(mix64(col("key")).bitwiseXOR(
          element_at(array(seeds.map(lit).toIndexedSeq: _*), col("d") + 1)))
          .bitwiseAND(lit((width - 1).toLong)))
      .groupBy(col("d"), col("bucket"))
      .agg(sum(col("c")).as("counter"))
    val est = counters(ca).withColumnRenamed("counter", "counter_a")
      .join(counters(cb).withColumnRenamed("counter", "counter_b"),
        Seq("d", "bucket"))
      .groupBy(col("d"))
      .agg(sum(col("counter_a") * col("counter_b")).as("est_d"))
      .agg(min(col("est_d")).as("cms_estimate"))
    val exact = ca.withColumnRenamed("c", "c_a")
      .join(cb.withColumnRenamed("c", "c_b"), Seq("key"))
      .agg(coalesce(sum(col("c_a") * col("c_b")), lit(0L))
        .as("exact_join_rows"))
    val statsA = ca.agg(sum(col("c")).as("n_a"),
      count(lit(1)).as("distinct_a"))
    val statsB = cb.agg(sum(col("c")).as("n_b"),
      count(lit(1)).as("distinct_b"))
    statsA.crossJoin(broadcast(statsB))
      .crossJoin(broadcast(exact))
      .crossJoin(broadcast(est))
      .select(
        col("n_a"), col("n_b"), col("distinct_a"), col("distinct_b"),
        col("exact_join_rows"), col("cms_estimate"),
        (col("cms_estimate") - col("exact_join_rows")).as("overestimate"))
  }

  /** Pearson correlation matrix over lineitem's numeric measures in ONE
    * pass, with EXACT integer moment sums: every value goes through the
    * cents fixed point, so Σx, Σx², Σxy are exact (DECIMAL(38,0) here,
    * HUGEINT in the oracle) and the only floating-point work is the final
    * corr = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) on
    * identically-derived operands — corr() builtins are banned from the
    * result path because their streaming formulations differ per engine.
    *
    * Scale: 15 parallel counters in one scan with map-side combine; the
    * report is O(pairs). This is the co-occurrence statistic an optimizer
    * wants for correlated-column cardinality corrections.
    */
  def corrMatrix(lineitem: DataFrame): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // Per-row products multiply as LONGS (cents are domain-bounded:
    // price cents ~1e7, so a product is <=1e14 — far from long overflow
    // regardless of row count); only the cross-row ACCUMULATION is
    // decimal(38,0), where overflow is a function of n. One decimal
    // conversion per row beats a BigDecimal multiply per row (~25% off
    // the whole query at sf0.1).
    def c(name: String): Column =
      graft.queries.Analytics.centsOf(col(name)).cast("long")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs =
      count(lit(1)).as("n") +:
        (cols.map(x => sum(c(x).cast(dec38)).as(s"s_$x")) ++
          cols.map(x => sum((c(x) * c(x)).cast(dec38)).as(s"ss_$x")) ++
          pairs.map { case (x, y) =>
            sum((c(x) * c(y)).cast(dec38)).as(s"sp_${x}__$y")
          })
    val wide = lineitem.agg(aggs.head, aggs.tail: _*)
    val corrCols = pairs.map { case (x, y) =>
      val n = col("n").cast(dec38)
      val num = (n * col(s"sp_${x}__$y") - col(s"s_$x") * col(s"s_$y"))
        .cast("double")
      val dx = (n * col(s"ss_$x") - col(s"s_$x") * col(s"s_$x")).cast("double")
      val dy = (n * col(s"ss_$y") - col(s"s_$y") * col(s"s_$y")).cast("double")
      // NULL for a zero-variance column: 0/0 is NaN on Spark but the
      // engines disagree on rendering — make the degenerate case NULL
      when(dx > lit(0.0) && dy > lit(0.0),
        round(num / (sqrt(dx) * sqrt(dy)), 6)).as(s"corr_${x}__$y")
    }
    val stacked = pairs.map { case (x, y) =>
      s"'$x', '$y', `corr_${x}__$y`"
    }.mkString(", ")
    wide.select(col("n") +: corrCols: _*)
      .select(col("n"),
        expr(s"stack(${pairs.size}, $stacked) as (col_x, col_y, corr)"))
      .select(col("col_x"), col("col_y"), col("n"), col("corr"))
      .orderBy(col("col_x"), col("col_y"))
  }

  /** DuckDB replay of [[corrMatrix]] with HUGEINT moment sums. */
  def corrMatrixOracleSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    def c(name: String) =
      s"CAST(CAST(CAST($name AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)"
    val aggs =
      s"CAST(count(*) AS HUGEINT) AS n" +:
        (cols.map(x => s"sum(${c(x)}) AS s_$x") ++
          cols.map(x => s"sum(${c(x)} * ${c(x)}) AS ss_$x") ++
          pairs.map { case (x, y) =>
            s"sum(${c(x)} * ${c(y)}) AS sp_${x}__$y"
          })
    val rows = pairs.map { case (x, y) =>
      s"""SELECT '$x' AS col_x, '$y' AS col_y, CAST(n AS BIGINT) AS n,
         |    CASE WHEN CAST(n * ss_$x - s_$x * s_$x AS DOUBLE) > 0.0
         |          AND CAST(n * ss_$y - s_$y * s_$y AS DOUBLE) > 0.0
         |    THEN round(CAST(n * sp_${x}__$y - s_$x * s_$y AS DOUBLE)
         |      / (sqrt(CAST(n * ss_$x - s_$x * s_$x AS DOUBLE))
         |         * sqrt(CAST(n * ss_$y - s_$y * s_$y AS DOUBLE))), 6)
         |    END AS corr
         |  FROM w""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH w AS (
       |  SELECT ${aggs.mkString(",\n    ")}
       |  FROM lineitem)
       |SELECT * FROM (
       |  $rows)
       |ORDER BY col_x, col_y""".stripMargin
  }

  /** Exact OLS trend of daily revenue per market segment: regress the
    * day's revenue cents on the day index (days since 1992-01-01) from
    * exact integer moment sums — slope/intercept as integer micros via
    * sign-separated magnitude division (Spark DIV truncates toward zero,
    * DuckDB // floors: they agree only on non-negative operands, so the
    * quotient is always computed on magnitudes and re-signed). r² is the
    * only double: computed from casts of the SAME exact integers on both
    * engines, identical op order, emitted raw.
    *
    *   slope     = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
    *   intercept = (ΣyΣx² − ΣxΣxy) / (nΣx² − (Σx)²)
    *   r²        = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))
    *
    * Scale: orders fold to (segment, day) partials with map-side combine,
    * then to five moment counters per segment — the daily frame is
    * |segments| × |days| bounded, and the final report is O(segments).
    */
  def olsTrend(orders: DataFrame, customer: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = orders
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(
        col("c_mktsegment").as("segment"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .cast("long").as("x"))
      .agg(sum(graft.queries.Analytics.centsOf(col("o_totalprice"))
        .cast("long")).as("y"))
    val m = daily.groupBy(col("segment")).agg(
      count(lit(1)).cast(dec38).as("n"),
      sum(col("x")).cast(dec38).as("sx"),
      sum(col("y")).cast(dec38).as("sy"),
      sum((col("x") * col("x")).cast(dec38)).as("sxx"),
      sum((col("x").cast(dec38) * col("y"))).as("sxy"),
      sum((col("y").cast(dec38) * col("y"))).as("syy"))
    m.select(
        col("segment"), col("n").cast("long").as("n_days"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("ssxy"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("ssxx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("ssyy"),
        (col("sy") * col("sxx") - col("sx") * col("sxy")).as("bnum"))
      .select(
        col("segment"), col("n_days"),
        // ssxx = 0 (a segment with a single distinct day) has no defined
        // trend: NULL, guarded on BOTH engines — unguarded, Spark's ANSI
        // DIV throws where DuckDB's // returns NULL
        expr("CASE WHEN ssxx > 0 THEN CAST(" +
          "CASE WHEN ssxy < 0 THEN -1 ELSE 1 END" +
          " * (abs(ssxy) * 1000000 DIV ssxx) AS BIGINT) END")
          .as("slope_micros"),
        expr("CASE WHEN ssxx > 0 THEN CAST(" +
          "CASE WHEN bnum < 0 THEN -1 ELSE 1 END" +
          " * (abs(bnum) * 1000000 DIV ssxx) AS BIGINT) END")
          .as("intercept_micros"),
        when(col("ssxx") > 0 && col("ssyy") > 0,
          (col("ssxy").cast("double") * col("ssxy").cast("double")) /
            (col("ssxx").cast("double") * col("ssyy").cast("double")))
          .as("r2"))
      .orderBy(col("segment"))
  }

  def olsTrendOracleSql: String =
    """WITH daily AS (SELECT c_mktsegment AS segment,
      |  CAST(date_diff('day', DATE '1992-01-01',
      |    CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |m AS (SELECT segment,
      |  CAST(count(*) AS HUGEINT) AS n,
      |  CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |  CAST(sum(x * x) AS HUGEINT) AS sxx,
      |  CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |  CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      |  FROM daily GROUP BY 1),
      |d AS (SELECT segment, CAST(n AS BIGINT) AS n_days,
      |  n * sxy - sx * sy AS ssxy,
      |  n * sxx - sx * sx AS ssxx,
      |  n * syy - sy * sy AS ssyy,
      |  sy * sxx - sx * sxy AS bnum FROM m)
      |SELECT segment, n_days,
      |  CASE WHEN ssxx > 0 THEN CAST(CASE WHEN ssxy < 0 THEN -1 ELSE 1 END
      |    * (abs(ssxy) * 1000000 // ssxx) AS BIGINT) END AS slope_micros,
      |  CASE WHEN ssxx > 0 THEN CAST(CASE WHEN bnum < 0 THEN -1 ELSE 1 END
      |    * (abs(bnum) * 1000000 // ssxx) AS BIGINT) END AS intercept_micros,
      |  CASE WHEN ssxx > 0 AND ssyy > 0 THEN
      |    (CAST(ssxy AS DOUBLE) * CAST(ssxy AS DOUBLE))
      |      / (CAST(ssxx AS DOUBLE) * CAST(ssyy AS DOUBLE)) END AS r2
      |FROM d ORDER BY segment""".stripMargin

  // ---- oracle generation (single-sourced column list) ----------------------

  private val centsSql = (c: String) =>
    s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"
  private val orderCols: Seq[(String, String)] = Seq(
    "o_orderkey" -> "o_orderkey",
    "o_custkey" -> "o_custkey",
    "o_orderstatus" -> "o_orderstatus",
    "o_totalprice" -> centsSql("o_totalprice"),
    "o_orderdate" -> "epoch_us(o_orderdate)",
    "o_orderpriority" -> "o_orderpriority")
  private val eventCols: Seq[(String, String)] = Seq(
    "event_id" -> "event_id",
    "ts" -> "epoch_us(ts)",
    "user_id" -> "user_id",
    "event_type" -> "event_type",
    "value" -> centsSql("value"))

  /** DuckDB replay: one wide aggregate per table, unpivoted to the same
    * (table, column) report rows.
    */
  def oracleSql: String = {
    def wide(table: String, cols: Seq[(String, String)]): String = {
      val aggs = cols.zipWithIndex.map { case ((name, canon), i) =>
        s"""CAST(sum(CASE WHEN $name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      AS c${i}_nulls,
           |    CAST(count(DISTINCT $name) AS BIGINT) AS c${i}_ndv,
           |    CAST(min($canon) AS VARCHAR) AS c${i}_min,
           |    CAST(max($canon) AS VARCHAR) AS c${i}_max""".stripMargin
      }.mkString(",\n    ")
      s"SELECT CAST(count(*) AS BIGINT) AS n_rows,\n    $aggs\n  FROM $table"
    }
    def rows(table: String, wideName: String,
        cols: Seq[(String, String)]): String =
      cols.zipWithIndex.map { case ((name, _), i) =>
        s"""SELECT '$table' AS table_name, '$name' AS column_name, n_rows,
           |  c${i}_nulls AS n_nulls, c${i}_ndv AS ndv,
           |  c${i}_min AS min_canon, c${i}_max AS max_canon FROM $wideName"""
          .stripMargin
      }.mkString("\n  UNION ALL\n  ")
    s"""WITH ow AS (
       |  ${wide("orders", orderCols)}),
       |ew AS (
       |  ${wide("events", eventCols)}),
       |u AS (
       |  ${rows("orders", "ow", orderCols)}
       |  UNION ALL
       |  ${rows("events", "ew", eventCols)})
       |SELECT * FROM u ORDER BY table_name, column_name""".stripMargin
  }
}
