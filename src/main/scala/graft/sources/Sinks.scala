package graft.sources

import graft.Tables
import graft.etl.Upsert
import graft.ops.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-side surface (SURVEY.md §2.1 S4–S8): the reference's load stage
  * is DDL + row-at-a-time inserts inside transactions
  * (`webscraper-postgres.py:109–144,157–161,190–222`); here each sink is a
  * `DataFrameWriter` job whose commit protocol provides the same
  * all-or-nothing-per-stage property. Both queries physically write and
  * re-read their sink (under target/tmp — recreated per run, so re-running
  * is deterministic and idempotent, matching the reference's re-run
  * semantics).
  */
object Sinks {

  /** q104: JSONL (newline-delimited JSON) write + schema-pinned
    * read-back of the documents corpus — THE interchange format of LLM
    * training corpora (one JSON object per line, splittable, every
    * loader reads it). Schema is pinned on read: schema inference over
    * 100 TB would scan the corpus twice and can widen types between
    * runs. Full-fidelity roundtrip of the text column (escaping,
    * unicode) is exactly what the oracle compare checks. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(spark, dir)
    val out = graft.Tables.tmpPath(spark, "graft_jsonl/documents")
    d.write.mode("overwrite").json(out)
    spark.read.schema(d.schema).json(out)
  }

  /** q108: bucketed-table write + co-located join — the storage-side
    * shuffle elimination a recurring 100 TB join relies on: both sides
    * written `bucketBy` the join key, so every subsequent join on that
    * key skips BOTH exchanges (the plan property is pinned in
    * BucketingSpec; this query makes the path driver-verified for
    * results too). The aggregate runs decimal-exact with DOUBLE at the
    * output boundary (the Tables.dec rule). */
  def bucketedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val c = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graft_q108_orders")
    c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graft_q108_customer")
    val out = spark.table("graft_q108_orders")
      .join(spark.table("graft_q108_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(graft.Tables.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .transform(Materialize) // materialize before the tables drop
    spark.sql("DROP TABLE graft_q108_orders")
    spark.sql("DROP TABLE graft_q108_customer")
    out
  }

  /** q109: ORC write + read-back of the events table — the second
    * columnar format (predicate pushdown, column pruning, and
    * TIMESTAMP_NTZ all flow through Spark's ORC path exactly as through
    * parquet). Roundtripping EVENTS specifically exercises the
    * nanos→NTZ timestamp normalization through a format boundary. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(spark, dir)
    val out = graft.Tables.tmpPath(spark, "graft_orc/events")
    e.write.mode("overwrite").orc(out)
    spark.read.schema(e.schema).orc(out)
  }

  /** q110: small-files compaction — the table-maintenance job every
    * long-lived ingest pipeline runs: a fragmented layout (here: the
    * corpus deliberately written as 64 shards) is rewritten into
    * size-targeted files, file count = ceil(total bytes / target).
    * Sizing reads ONLY filesystem metadata (a listStatus, the same
    * driver-side metadata pass every compaction service does — no data
    * moves until the single repartition write). Content is
    * byte-identical through the rewrite, which is exactly what the
    * identity oracle checks; CompactionSpec asserts the file-count
    * arithmetic. */
  def compactSmallFiles(spark: SparkSession, dir: String,
                        targetBytes: Long = 1L << 20): DataFrame = {
    require(targetBytes > 0, "target file size must be positive")
    val src = graft.Tables.documents(spark, dir)
    val fragmented = graft.Tables.tmpPath(spark, "graft_compact/fragmented")
    src.repartition(64).write.mode("overwrite").parquet(fragmented)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(fragmented)
    val fs = p.getFileSystem(conf)
    val dataFiles = fs.listStatus(p).filter(f => f.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val compacted = graft.Tables.tmpPath(spark, "graft_compact/compacted")
    spark.read.schema(src.schema).parquet(fragmented)
      .repartition(nOut)
      .write.mode("overwrite").parquet(compacted)
    spark.read.schema(src.schema).parquet(compacted)
  }

  /** q122: schema-evolution read — the lakehouse reality that a table's
    * files span writer versions: batch 1 wrote three columns, batch 2
    * added `o_orderstatus`, and a `mergeSchema` read serves the UNION
    * schema with nulls where old files lack the column. Schema merging
    * is a FOOTER-level operation (driver metadata, not a data scan), and
    * the per-file `ReadSchema` still prunes to what each file has — the
    * evolution costs nothing at scan time. Production pins the merged
    * schema in a catalog instead of re-inferring per read; the
    * mergeSchema read here is the bootstrap that derives it. */
  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.orders(spark, dir)
    val v1 = graft.Tables.tmpPath(spark, "graft_evolve/v1")
    val v2 = graft.Tables.tmpPath(spark, "graft_evolve/v2")
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(v1)
    o.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .write.mode("overwrite").parquet(v2)
    spark.read.option("mergeSchema", "true").parquet(v1, v2)
  }

  /** S8: CSV write + schema-preserving read-back of the nation dimension
    * (the reference image's vestigial csv/ dir, Dockerfile:53). */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val out = graft.Tables.tmpPath(spark, "graft_csv/nation")
    n.write.mode("overwrite").option("header", "true").csv(out)
    spark.read.schema(n.schema).option("header", "true").csv(out)
  }

  /** S4/S5: create-table + insert-if-absent as writer jobs — existing
    * rows land via overwrite (DDL/initial load), the anti-join delta
    * lands via append (`ON CONFLICT DO NOTHING`, U1), and the sink is
    * read back as the final state. Appending the delta rather than
    * rewriting the table is what keeps this idempotent AND cheap at
    * 100 TB (the write is proportional to the delta, not the table). */
  def insertIfAbsentSink(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
    val existing = o.filter(col("o_orderkey") % 2 === 0)
    val incoming = o.filter(col("o_orderkey") % 3 === 0)
    val path = graft.Tables.tmpPath(spark, "graft_sink/orders")
    existing.write.mode("overwrite").parquet(path)
    Upsert.insertIfAbsent(existing, incoming, Seq("o_orderkey"))
      .write.mode("append").parquet(path)
    spark.read.parquet(path)
  }

  /** S3/S5's literal JDBC half (`webscraper-postgres.py:104-106,163,225`
    * loads via SQLAlchemy/Postgres): a real `DataFrameWriter.jdbc` +
    * `DataFrameReader.jdbc` roundtrip against embedded Derby (the one
    * JDBC engine shipped in /opt/spark/jars — in-memory, no server, no
    * network). At cluster scale the write side is exactly this API with
    * numPartitions/batchsize options → one batched connection per
    * partition (the foreachPartition story SURVEY S5 describes), and the
    * read side adds partitionColumn bounds for a parallel scan. Derby
    * has no exact DOUBLE↔DECIMAL-free roundtrip concerns here: nation is
    * (bigint, varchar, bigint, varchar) only. */
  def jdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // one shared in-memory DB per JVM; overwrite makes re-runs idempotent
    System.setProperty("derby.stream.error.file", "target/derby.log")
    val url = "jdbc:derby:memory:graftdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Tables.nation(spark, dir)
      .write.mode("overwrite").jdbc(url, "nation_sink", props)
    spark.read.jdbc(url, "nation_sink", props)
  }

  /** Partitioned-layout sink + partition-pruned read-back: at 100 TB the
    * table layout IS the first index — `partitionBy(year)` writes one
    * directory per partition value, and a reader filtering on the
    * partition column touches only that directory (PartitionFilters in
    * the scan, asserted in SinkSpec — distinct from row-group pushdown,
    * which PlanSpec already pins). */
  def partitionedSink(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("o_year"))
    val path = graft.Tables.tmpPath(spark, "graft_sink/orders_by_year")
    o.write.mode("overwrite").partitionBy("o_year").parquet(path)
    spark.read.parquet(path).filter(col("o_year") === 1995)
  }

  val oracle: Map[String, String] = Map(
    "q122_schema_evolution" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey % 2 <> 0""".stripMargin,
    "q37_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q104_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q110_compaction" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q109_orc_roundtrip" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
        |  value, props FROM events""".stripMargin,
    "q108_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "q75_jdbc_roundtrip" ->
      "SELECT * FROM nation",
    "q83_partitioned_sink" ->
      """SELECT o_orderkey, o_totalprice,
        |  CAST(year(o_orderdate) AS INT) AS o_year
        |FROM orders WHERE year(o_orderdate) = 1995""".stripMargin,
    "q38_sink_insert_absent" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0""".stripMargin,
  )
}
