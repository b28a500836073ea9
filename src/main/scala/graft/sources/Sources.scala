package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink wiring (SURVEY.md §2.1/§2.2 S1-S6, G4).
  *
  * The reference's consume loop (kafka_consumer.py:49-107) becomes a
  * declarative source; its manual offset commit coupled to DB flush
  * (S4, aggregation_service.py:157-158) is subsumed by Structured
  * Streaming checkpointing + the idempotent sink (graft.streaming).
  */
object Sources {

  /** Wire schema of the reference's UserActivityEvent
    * (utils/domain/events.py:41-52; FIXTURES.md §1).
    */
  val userActivityEventSchema: StructType = StructType(Seq(
    StructField("event_id", StringType, nullable = false),
    StructField("user_id", StringType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("timestamp", StringType, nullable = false),
    StructField("session_id", StringType, nullable = false),
    StructField("page_url", StringType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("metadata", MapType(StringType, StringType), nullable = true)))

  /** Harness `events` wire schema (TESTDATA.md), for JSON-line ingestion. */
  val harnessEventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)))

  /** Wire timestamp format OUR producer ([[toKafkaRecords]]) writes:
    * explicit 6-digit fraction — Spark's to_json default (`[.SSS]`)
    * silently truncates to milliseconds, which the kafka_roundtrip_audit
    * oracle catches as a hash mismatch. The CONSUMER side deliberately
    * does NOT pin this format: setting any custom timestampFormat
    * disables Spark's lenient fallback parser, so timestamps from
    * external producers that legitimately omit the fraction or offset
    * (e.g. Python isoformat() with microsecond == 0) would parse to
    * NULL without being counted as corrupt. The default parser accepts
    * both those AND our full-precision wire format losslessly
    * (round-trip identity is spec- and oracle-pinned).
    */
  val wireTimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** S3's "missing key -> error" over a parsed struct column `e`: the
    * record is corrupt when the struct is null, its first field is null,
    * or any field `schema` declares non-nullable is null. Permissive
    * parsers yield a struct of all-null fields (not a null struct) on a
    * malformed payload, and a null field on a missing or unparsable key.
    */
  private def corruptRecord(schema: StructType): Column =
    (schema.head +: schema.filterNot(_.nullable)).distinct
      .map(f => col("e").getField(f.name).isNull)
      .foldLeft(col("e").isNull)(_ || _)

  /** S2+S3 — JSON deserialize with permissive bad-record handling: corrupt
    * payloads ([[corruptRecord]]) are counted via an observable metric (the
    * reference's error counter, kafka_consumer.py:85-107), and dropped.
    */
  def parseJsonEvents(raw: DataFrame, schema: StructType = harnessEventSchema): DataFrame = {
    val corrupt = corruptRecord(schema)
    raw
      .select(from_json(col("value").cast("string"), schema).as("e"))
      .observe("json_parse", count(when(corrupt, 1)).as("corrupt_records"))
      .filter(!corrupt)
      .select(col("e.*"))
  }

  /** S2/S3 CSV variant — `from_csv` deserialize with the same permissive
    * bad-record contract as [[parseJsonEvents]]: malformed lines
    * ([[corruptRecord]]) are counted via observe(), and dropped. CSV
    * is the other wire format a batch ingest edge actually sees; the
    * parse is a codegen'd expression, no RDD hop.
    */
  def parseCsvEvents(raw: DataFrame, schema: StructType): DataFrame = {
    val corrupt = corruptRecord(schema)
    raw
      .select(from_csv(col("value").cast("string"), schema,
        Map("mode" -> "PERMISSIVE")).as("e"))
      .observe("csv_parse", count(when(corrupt, 1)).as("corrupt_records"))
      .filter(!corrupt)
      .select(col("e.*"))
  }

  /** S1 — Kafka streaming source (earliest offsets, like the reference's
    * `auto.offset.reset=earliest`). Requires the spark-sql-kafka connector
    * on the cluster classpath (not present in this harness — wiring is
    * compile-checked only; the parse stage it feeds is tested via
    * [[parseJsonEvents]]).
    */
  def kafkaEventStream(spark: SparkSession, brokers: String, topic: String): DataFrame =
    parseJsonEvents(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())

  /** G4 record shape: the (key, value) rows a Kafka producer ships — key =
    * user_id as a string (partition-by-user, kafka_publisher.py:71-85),
    * value = the whole row as one JSON document. Factored from
    * [[toKafkaSink]] so the serialization contract is testable without a
    * broker: [[parseJsonEvents]] over this frame is the IDENTITY on the
    * events schema (timestamps round-trip at microsecond precision,
    * doubles bit-exactly) — spec-pinned in KafkaContractSpec and
    * driver-oracled as `kafka_roundtrip_audit` (the oracle aggregates the
    * RAW table, so any serializer loss surfaces as a hash mismatch).
    */
  def toKafkaRecords(events: DataFrame, keyCol: String = "user_id"): DataFrame =
    events.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(events.columns.map(col).toIndexedSeq: _*),
        Map("timestampFormat" -> wireTimestampFormat)).as("value"))

  /** G4 — Kafka publish keyed by user_id (partition-by-user like
    * kafka_publisher.py:71-85). Same classpath caveat as the source.
    */
  def toKafkaSink(events: DataFrame, brokers: String, topic: String): Unit =
    toKafkaRecords(events)
      .write
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .save()

  /** JSON-lines file source for the harness event schema (batch analogue of
    * the Kafka value stream — same schema, same permissive parse contract
    * via [[parseJsonEvents]] when wrapped).
    */
  def eventsFromJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(harnessEventSchema).json(path)

  /** ORC round-trip support: the engine is format-agnostic — any columnar
    * source with the events schema feeds the same operators.
    */
  def eventsFromOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Full ORC round trip: write `events` to `path` (overwrite — the write
    * goes through the Hadoop FileSystem API, so the path may be HDFS/S3A)
    * and read it back through [[eventsFromOrc]]. Exercises the whole
    * columnar encode/decode for every harness event type — int64, string,
    * double, microsecond timestamp — so a driver aggregate over the
    * returned frame hash-matches the parquet oracle only if the format
    * conversion is lossless.
    */
  def eventsOrcRoundTrip(events: DataFrame, path: String): DataFrame = {
    events.write.mode("overwrite").orc(path)
    eventsFromOrc(events.sparkSession, path)
  }

  /** S6 — relational read of a served aggregate table over JDBC (the
    * reference's pooled Postgres reads, api/src/infrastructure/database.py).
    * Partitioned read so a large table scans in parallel.
    */
  def jdbcTable(
      spark: SparkSession, url: String, table: String,
      partitionColumn: String, lower: Long, upper: Long,
      numPartitions: Int = 8): DataFrame =
    spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lower)
      .option("upperBound", upper)
      .option("numPartitions", numPartitions)
      .load()

  /** ANSI SQL type for a Spark column — used to CAST the bind parameters
    * inside the generated MERGE (Derby rejects untyped ? in several MERGE
    * positions; the casts also pin the comparison types on any backend).
    */
  private def ansiType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType => "SMALLINT"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case StringType => "VARCHAR(32672)"
    case other =>
      throw new IllegalArgumentException(s"upsertJdbc: unsupported type $other")
  }

  private def jdbcTypeCode(dt: DataType): Int = dt match {
    case LongType => java.sql.Types.BIGINT
    case IntegerType => java.sql.Types.INTEGER
    case ShortType => java.sql.Types.SMALLINT
    case DoubleType => java.sql.Types.DOUBLE
    case FloatType => java.sql.Types.REAL
    case BooleanType => java.sql.Types.BOOLEAN
    case TimestampType => java.sql.Types.TIMESTAMP
    case DateType => java.sql.Types.DATE
    case _: DecimalType => java.sql.Types.DECIMAL
    case _ => java.sql.Types.VARCHAR
  }

  /** SQL identifiers are spliced (not bindable) — restrict to the safe
    * unquoted-identifier alphabet so a caller-supplied table/column name
    * can never inject SQL. Table names may be schema-qualified (one dot).
    */
  private[graft] def validIdent(name: String, allowQualified: Boolean = false): String = {
    val part = "[A-Za-z_][A-Za-z0-9_]*"
    val pat = if (allowQualified) s"$part(\\.$part)?" else part
    require(name.matches(pat), s"upsertJdbc: unsafe SQL identifier '$name'")
    name
  }

  /** A generated upsert statement plus its per-row bind-parameter layout. */
  private[graft] final case class UpsertStatement(
      sql: String, paramFields: Seq[StructField])

  /** Dialect-keyed upsert SQL for `table` keyed on `keyCols`.
    *
    *  - `jdbc:postgresql:` → the reference's native spelling, `INSERT …
    *    ON CONFLICT (keys) DO UPDATE SET col = EXCLUDED.col`
    *    (processor/src/infrastructure/queries/upsert_aggregation.sql:1-19):
    *    same column list in schema order, parameterized row, and every
    *    non-key column updated from EXCLUDED (a superset of the
    *    reference's SET list by `window_end`, which its key functionally
    *    determines — identical final state).
    *  - `jdbc:derby:` / `jdbc:db2:` → ANSI MERGE against the one-row
    *    `SYSIBM.SYSDUMMY1` dummy those engines ship.
    *  - anything else → ANSI MERGE against `(VALUES (1)) AS dual(x)`,
    *    the standard one-row source.
    *
    * Bind parameters are CAST to the column's ANSI type in the MERGE
    * forms (Derby rejects untyped `?` in several MERGE positions); the
    * PG form binds plain `?` (the driver infers from setObject).
    */
  private[graft] def upsertStatement(
      url: String, table: String, schema: StructType,
      keyCols: Seq[String]): UpsertStatement = {
    validIdent(table, allowQualified = true)
    schema.fieldNames.foreach(validIdent(_))
    val keys = schema.fields.filter(f => keyCols.contains(f.name)).toSeq
    val nonKeys = schema.fields.filterNot(f => keyCols.contains(f.name)).toSeq
    require(nonKeys.nonEmpty, "upsertJdbc: need at least one non-key column")
    val all = keys ++ nonKeys
    def cast(f: StructField) = s"CAST(? AS ${ansiType(f.dataType)})"
    if (url.startsWith("jdbc:postgresql:")) {
      // schema column order, so for the reference's aggregate schema the
      // generated text matches upsert_aggregation.sql's column list exactly
      val ordered = schema.fields.toSeq
      val sql =
        s"""INSERT INTO $table (${ordered.map(_.name).mkString(", ")})
           |VALUES (${ordered.map(_ => "?").mkString(", ")})
           |ON CONFLICT (${keys.map(_.name).mkString(", ")})
           |DO UPDATE SET
           |${nonKeys.map(f => s"    ${f.name} = EXCLUDED.${f.name}").mkString(",\n")}""".stripMargin
      UpsertStatement(sql, ordered)
    } else {
      val dual =
        if (url.startsWith("jdbc:derby:") || url.startsWith("jdbc:db2:"))
          "SYSIBM.SYSDUMMY1"
        else "(VALUES (1)) AS dual(x)"
      val sql =
        s"""MERGE INTO $table t USING $dual
           |ON ${keys.map(f => s"t.${f.name} = ${cast(f)}").mkString(" AND ")}
           |WHEN MATCHED THEN UPDATE SET
           |  ${nonKeys.map(f => s"${f.name} = ${cast(f)}").mkString(", ")}
           |WHEN NOT MATCHED THEN INSERT (${all.map(_.name).mkString(", ")})
           |VALUES (${all.map(cast).mkString(", ")})""".stripMargin
      // parameter layout per row: keys (ON), nonKeys (UPDATE), all (INSERT)
      UpsertStatement(sql, keys ++ nonKeys ++ all)
    }
  }

  /** Transient/retryable JDBC failures: the standard transient exception
    * subtypes plus SQLState class 40 (transaction rollback — Derby spells
    * lock timeout `40XL1` and deadlock victim `40001` there).
    */
  private def isTransient(e: java.sql.SQLException): Boolean =
    e.isInstanceOf[java.sql.SQLTransientException] ||
      e.isInstanceOf[java.sql.SQLRecoverableException] ||
      Option(e.getSQLState).exists(_.startsWith("40"))

  /** Write-side SQL upsert over JDBC — the relational twin of the
    * reference's `INSERT ... ON CONFLICT (window_start, event_type)
    * DO UPDATE SET col = EXCLUDED.col`
    * (processor/src/infrastructure/queries/upsert_aggregation.sql:1-19).
    * The SQL text is dialect-keyed on the JDBC URL ([[upsertStatement]]):
    * Postgres gets the reference's native ON CONFLICT spelling, Derby/DB2
    * the ANSI MERGE they support, everything else a standard
    * `(VALUES (1))`-sourced MERGE. The spec executes the Derby form
    * against an embedded database and asserts the generated PG text.
    *
    * Distributed shape: each DataFrame partition opens its own
    * connection and executes the parameterized one-row upsert via JDBC
    * batching, committing every `batchSize` rows. A chunk that fails
    * with a TRANSIENT error (lock timeout / deadlock victim /
    * SQLTransientException) is rolled back and retried up to 3 times —
    * the rows are still buffered driver-free on the executor, and the
    * upsert is idempotent, so a retry (or a whole-task Spark retry
    * replaying already-committed chunks) converges to the same state.
    * At 1000 executors this is the standard fan-in write, bounded by
    * the DB, not by Spark. The per-chunk commit preserves the
    * reference's S4 offset⇄flush coupling: under foreachBatch the
    * streaming checkpoint only advances after every partition's last
    * commit, and a replayed micro-batch re-upserts the same keyed
    * aggregates to the same final state (idempotent at-least-once;
    * replay spec in SourcesObsSpec).
    *
    * Caller contract: `df` is keyed-unique on `keyCols` (true of any
    * groupBy aggregate — the only caller shape), so upsert order across
    * partitions cannot matter.
    */
  def upsertJdbc(
      df: DataFrame, url: String, table: String,
      keyCols: Seq[String], batchSize: Int = 500): Unit = {
    val schema = df.schema
    require(keyCols.nonEmpty && keyCols.forall(schema.fieldNames.contains),
      s"upsertJdbc: keyCols $keyCols must be columns of ${schema.fieldNames.toSeq}")
    require(batchSize > 0, "upsertJdbc: batchSize must be positive")
    val stmt = upsertStatement(url, table, schema, keyCols)
    val sql = stmt.sql
    val paramIdx = stmt.paramFields.map(f => schema.fieldIndex(f.name)).toArray
    val typeCodes = stmt.paramFields.map(f => jdbcTypeCode(f.dataType)).toArray
    val maxAttempts = 3
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      if (rows.nonEmpty) {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val ps = conn.prepareStatement(sql)
          val buf = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](batchSize)
          def flushChunk(): Unit = if (buf.nonEmpty) {
            var attempt = 1
            var done = false
            while (!done) {
              try {
                buf.foreach { row =>
                  var i = 0
                  while (i < paramIdx.length) {
                    val v = row.get(paramIdx(i))
                    if (v == null) ps.setNull(i + 1, typeCodes(i))
                    else ps.setObject(i + 1, v)
                    i += 1
                  }
                  ps.addBatch()
                }
                ps.executeBatch()
                conn.commit() // the flush the checkpoint advance is coupled to
                done = true
              } catch {
                case e: java.sql.SQLException
                    if attempt < maxAttempts && isTransient(e) =>
                  try conn.rollback() catch { case _: java.sql.SQLException => () }
                  try ps.clearBatch() catch { case _: java.sql.SQLException => () }
                  Thread.sleep(50L * attempt)
                  attempt += 1
              }
            }
            buf.clear()
          }
          rows.foreach { row =>
            buf += row
            if (buf.size >= batchSize) flushChunk()
          }
          flushChunk()
          ps.close()
        } finally conn.close()
      }
    }
  }
}
