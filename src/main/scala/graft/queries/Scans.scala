package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Tables._

/** Scans / filters / predicates (SURVEY.md §2B "Scans" + "Projections/filters").
  *
  * Reference analogs: projection pushdown at the source
  * (`/root/reference/src/blockchain/evm_adapter.rs:58-61` — Full vs Hashes
  * fetch kind), point lookup (`evm_adapter.rs:51-66`), historical range scan
  * (`/root/reference/src/streams/producers/evm_producer.rs:58-69`).
  *
  * Scale notes: every query here is a single parquet scan with filters and
  * projection pushed to the reader (verified `PushedFilters`/`ReadSchema` in
  * the formatted plan) — no shuffle except the final global sort required for
  * deterministic oracle comparison.
  */
object Scans {

  /** Materialize events partitioned by `event_type` (the bronze layout:
    * BlockIngest.writeBronze partitions by chain_name the same way) once per
    * source fingerprint through [[graft.util.FixtureCache]], so
    * q_scan_partition_prune can demonstrate DIRECTORY pruning — not just
    * row-group pruning — end to end. */
  private[queries] def partitionedEvents(s: SparkSession, dir: String): String =
    graft.util.FixtureCache.buildOnce(dir, "events", "events_by_type") { staging =>
      events(s, dir).write.mode("overwrite")
        .partitionBy("event_type").parquet(staging.toString)
    }

  /** Materialize lineitem z-order-clustered on (l_partkey, l_suppkey) once
    * per source fingerprint (FixtureCache). The layout serves
    * q_scan_zorder: multi-column clustering for stat-based skipping on
    * EITHER dimension of an unpartitioned fact table (LayoutSpec measures
    * the files-touched contrast vs a lexicographic sort; here the contract
    * is that the clustered copy answers box filters exactly like the
    * original). */
  private[queries] def zorderedLineitem(s: SparkSession, dir: String): String =
    graft.util.FixtureCache.buildOnce(dir, "lineitem", "lineitem_zorder") { staging =>
      graft.operators.Layout.zorderWrite(
        lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity"), col("l_extendedprice")),
        staging.toString, Seq("l_partkey", "l_suppkey"), bits = 8, files = 32)
    }

  /** Materialize events in an interchange format once per source
    * fingerprint (FixtureCache). Timestamps ride as epoch-micros longs so
    * the round trip has no timezone/format surface. Serves the
    * q_scan_{jsonl,csv,orc} family: the format-conversion contract (an
    * export re-read through the explicit-schema quarantine readers
    * answers queries exactly like the parquet original). */
  private[queries] def exportedEvents(s: SparkSession, dir: String,
      format: String): String =
    graft.util.FixtureCache.buildOnce(dir, "events", s"events_$format") { staging =>
      val out = staging.toString
      val flat = events(s, dir)
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
      val w = flat.write.mode("overwrite")
      format match {
        case "jsonl" => w.json(out)
        case "csv" => w.option("header", "true").csv(out)
        case "orc" => w.orc(out)
        case "xml" => w.option("rowTag", "event").option("rootTag", "events").xml(out)
        // no spark-avro datasource in this distribution — the engine's
        // own container-file sink (per-partition imperative encoder)
        case "avro" => graft.sources.AvroSource.write(flat, out)
      }
    }

  private[queries] val eventExportSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts_us", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
  }

  /** Two-version parquet export for schema-evolution-on-read: v1 files
    * carry (event_id, user_id) — the schema before `value` existed — and
    * v2 files carry all three columns. Built once like the format
    * exports. */
  private[queries] def exportedEvolvedEvents(s: SparkSession, dir: String): String =
    graft.util.FixtureCache.buildOnce(dir, "events", "events_evolve") { staging =>
      val e = events(s, dir)
      e.filter(col("event_id") < 5000).select(col("event_id"), col("user_id"))
        .write.mode("overwrite").parquet(staging.resolve("v1").toString)
      e.filter(col("event_id") >= 5000)
        .select(col("event_id"), col("user_id"), col("value"))
        .write.mode("overwrite").parquet(staging.resolve("v2").toString)
    }

  /** Per-doc blob export for the binaryFile source (one .bin per doc_id
    * < 100, raw UTF-8 text bytes; written driver-side — Spark has no
    * binary-file WRITER, and 100 bounded fixture files are not a
    * distributed write). Built once like [[exportedEvents]]. */
  private[queries] def exportedDocBlobs(s: SparkSession, dir: String): String =
    graft.util.FixtureCache.buildOnce(dir, "documents", "doc_blobs") { staging =>
      documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text")).collect().foreach { r =>
          java.nio.file.Files.write(
            staging.resolve(f"doc_${r.getLong(0)}%05d.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    }

  /** The shared round-trip aggregate — integer-only (a double SUM would be
    * addition-order-dependent); identical for every export format, so all
    * three format queries share one DuckDB oracle body. */
  private def exportAgg(read: DataFrame): DataFrame =
    read
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        min(col("ts_us")).as("min_ts_us"), max(col("ts_us")).as("max_ts_us"))
      .orderBy(col("event_type"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Format round-trip through the JSON source path (A7/A10's quarantine
    // reader on an explicit schema — never inferred): a JSONL export of
    // events re-read and aggregated must answer exactly like the parquet
    // original (the oracle reads the ORIGINAL table). Integer-only
    // aggregates: double `value` passes through the round trip bit-exactly
    // but its SUM would be addition-order-dependent.
    "q_scan_jsonl" -> ((s, dir) => exportAgg(
      graft.sources.Sources.readJson(s, exportedEvents(s, dir, "jsonl"),
        eventExportSchema).clean)),

    // CSV sibling: header + typed explicit schema through the same
    // quarantine reader; text-format number/string round trip.
    "q_scan_csv" -> ((s, dir) => exportAgg(
      graft.sources.Sources.readCsv(s, exportedEvents(s, dir, "csv"),
        eventExportSchema).clean)),

    // ORC sibling: the columnar interchange format (self-describing, so
    // no quarantine split — Sources.readOrc like parquet).
    "q_scan_orc" -> ((s, dir) => exportAgg(
      graft.sources.Sources.readOrc(s, exportedEvents(s, dir, "orc")))),

    // XML sibling (Spark 4 native xml source): tagged-text round trip
    // through the same quarantine reader + explicit schema.
    "q_scan_xml" -> ((s, dir) => exportAgg(
      graft.sources.Sources.readXml(s, exportedEvents(s, dir, "xml"),
        eventExportSchema, rowTag = "event").clean)),

    // Avro sibling — the row-oriented binary interchange format,
    // round-tripped through the engine's OWN container-file source
    // (AvroSource: avro core is on the classpath, the spark-avro
    // datasource module is not — see AvroSource scaladoc). Explicit
    // schema picks fields by name from each file's self-describing
    // writer schema.
    "q_scan_avro" -> ((s, dir) => exportAgg(
      graft.sources.AvroSource.read(s, exportedEvents(s, dir, "avro"),
        eventExportSchema))),

    // Schema evolution ON READ: a directory whose older parquet files
    // predate the `value` column, unioned with newer ones via
    // mergeSchema=true — old rows surface the added column as null, no
    // rewrite of historical files (the lakehouse add-column path; without
    // mergeSchema the footer of one file dictates and the column is
    // silently dropped or the read fails). Oracle derives the same nulls
    // from the ORIGINAL table by the version split predicate.
    "q_scan_schema_evolution" -> ((s, dir) => {
      import s.implicits._
      val root = exportedEvolvedEvents(s, dir)
      s.read.option("mergeSchema", "true").parquet(s"$root/v1", s"$root/v2")
        .agg(count(lit(1)).as("n_rows"),
          count($"value").as("n_with_value"),
          min($"event_id").as("min_id"), max($"event_id").as("max_id"),
          min($"value").as("min_value"), max($"value").as("max_value"))
    }),

    // binaryFile source — the multimodal INGESTION path (one row per
    // opaque blob file: path, length, content bytes). The oracle never
    // touches the files: identity is proven against the ORIGINAL table
    // (length = octet_length(text), md5(content) = md5 of the same UTF-8
    // bytes) — the same round-trip-to-source discipline as the format
    // queries above. At 100 TB this is how image/audio corpora enter
    // (Media.scala consumes exactly this shape).
    "q_scan_binaryfile" -> ((s, dir) => {
      import s.implicits._
      s.read.format("binaryFile").load(exportedDocBlobs(s, dir))
        .select(
          regexp_extract($"path", "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
          $"length", md5($"content").as("md5"))
        .orderBy($"doc_id")
    }),

    // A3: column pruning decided at the source — 5 of 11 lineitem columns.
    "q_scan_project" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag", $"l_shipdate")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data:
        // sort on every output column so tie rows are order-identical.
        .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag", $"l_shipdate")
    }),

    // A6: date-range + key predicate, both pushed to parquet row groups.
    "q_scan_filter_pushdown" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .filter(
          $"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" <  lit("1997-01-01").cast("timestamp") &&
          $"l_partkey" < 500L)
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity", $"l_shipdate")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity", $"l_shipdate")
    }),

    // A2: single-key fetch; parquet min/max stats skip all other row groups.
    "q_scan_point_lookup" -> ((s, dir) => {
      import s.implicits._
      orders(s, dir)
        .filter($"o_orderkey" === 4242L)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice", $"o_orderdate", $"o_orderpriority")
    }),

    // Compound predicates: AND/OR/NOT, IN, BETWEEN, LIKE.
    "q_filter_compound" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .filter(
          $"l_quantity".between(10, 30) &&
          $"l_returnflag".isin("A", "N") &&
          !($"l_linestatus" === "F") &&
          ($"l_discount" < 0.02 || $"l_tax" > 0.06) &&
          $"l_orderkey".cast("string").like("%7"))
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag", $"l_linestatus", $"l_discount", $"l_tax")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount", $"l_tax")
    }),

    // Correlated scalar subquery — Catalyst decorrelates to an aggregate +
    // join (DecorrelateInnerQuery / RewriteCorrelatedScalarSubquery,
    // SURVEY §4.1); the oracle runs the identical SQL.
    "q_subquery_corr" -> ((s, dir) => {
      orders(s, dir).createOrReplaceTempView("orders_sq")
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_sq o
        WHERE o_totalprice > 1.5 * (
          SELECT avg(i.o_totalprice) FROM orders_sq i
          WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    }),

    // IN-subquery over a derived key set (plans as a semi join).
    "q_subquery_in" -> ((s, dir) => {
      orders(s, dir).createOrReplaceTempView("orders_in")
      lineitem(s, dir).createOrReplaceTempView("lineitem_in")
      s.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders_in
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem_in WHERE l_quantity > 45)
        ORDER BY o_orderkey""")
    }),

    // Partition (directory) pruning on a partitionBy-written table: the
    // partition predicate resolves against the directory index
    // (PartitionFilters in the plan, pinned by PlanSpec) — files under the
    // other event_type directories are never opened. At 100 TB this is the
    // difference between scanning one chain/type and scanning all of them;
    // row-group stats pruning (q_scan_filter_pushdown) cannot deliver it.
    "q_scan_partition_prune" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(partitionedEvents(s, dir))
        .filter($"event_type" === "click")
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .orderBy($"event_id")
    }),

    // DYNAMIC partition pruning: the partitions to keep are only known at
    // RUNTIME — they come from a dim-side predicate on an aggregate
    // (event types with an even event count), not from any literal the
    // optimizer could fold into a static PartitionFilter. Spark plants a
    // dynamicpruningexpression subquery on the fact scan's partition
    // column (reusing the dim's broadcast exchange — PlanSpec pins it), so
    // the fact side opens only the surviving type directories. At 100 TB
    // this is THE mechanism that makes fact⋈filtered-dim joins read a
    // fraction of a date/chain-partitioned fact table; static pruning
    // (q_scan_partition_prune) can't express it.
    "q_scan_dpp" -> ((s, dir) => {
      import s.implicits._
      val fact = s.read.parquet(partitionedEvents(s, dir))
      val dim = events(s, dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_type"))
        .filter($"n_type" % 2 === 0)
      fact.join(dim, "event_type")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"),
          max($"event_id").as("max_event_id"))
        .orderBy($"event_type")
    }),

    // 2-D box filter against the z-order-clustered copy: both predicates
    // push to the reader, and the Morton layout confines matching rows to
    // a handful of files on either dimension (LayoutSpec quantifies).
    "q_scan_zorder" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(zorderedLineitem(s, dir))
        .filter($"l_partkey".between(100, 140) && $"l_suppkey".between(2, 6))
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
          $"l_quantity")
        // (l_orderkey, l_linenumber) is not unique in the synthetic data:
        // sort on every output column so tie rows are order-identical
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
          $"l_quantity")
    }),

    // Null semantics: nullif-produced nulls, IS NULL, null-safe equality,
    // 3-valued logic in the predicate. Mirrors Option fields / coalesce
    // defaults in the reference (`evm.rs:38-42`, `evm_consumer.rs:46-48`).
    "q_filter_null_semantics" -> ((s, dir) => {
      import s.implicits._
      orders(s, dir)
        .select(
          $"o_orderkey",
          nullif($"o_orderstatus", lit("O")).as("st"))
        .filter($"st".isNull || ($"st" <=> "F"))
        .select(
          $"o_orderkey",
          $"st",
          coalesce($"st", lit("none")).as("st2"),
          ($"st" <=> "F").as("eq_f"),
          $"st".isNotNull.as("has_st"))
        .orderBy($"o_orderkey")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate""",

    "q_scan_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_partkey < 500
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate""",

    "q_scan_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey = 4242""",

    "q_filter_compound" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus, l_discount, l_tax
         FROM lineitem
         WHERE l_quantity BETWEEN 10 AND 30
           AND l_returnflag IN ('A', 'N')
           AND NOT (l_linestatus = 'F')
           AND (l_discount < 0.02 OR l_tax > 0.06)
           AND CAST(l_orderkey AS VARCHAR) LIKE '%7'
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_tax""",

    "q_subquery_corr" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders o
         WHERE o_totalprice > 1.5 * (
           SELECT avg(i.o_totalprice) FROM orders i
           WHERE i.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""",

    "q_subquery_in" ->
      """SELECT o_orderkey, o_totalprice
         FROM orders
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
         ORDER BY o_orderkey""",

    // The oracle reads the ORIGINAL events table: the JSONL export is a
    // Spark-side format detail — the round trip must preserve semantics.
    "q_scan_csv" ->
      """SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                min(event_id) AS min_id, max(event_id) AS max_id,
                epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
                epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us
         FROM events
         GROUP BY 1
         ORDER BY 1""",

    "q_scan_orc" ->
      """SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                min(event_id) AS min_id, max(event_id) AS max_id,
                epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
                epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us
         FROM events
         GROUP BY 1
         ORDER BY 1""",

    "q_scan_xml" ->
      """SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                min(event_id) AS min_id, max(event_id) AS max_id,
                epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
                epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us
         FROM events
         GROUP BY 1
         ORDER BY 1""",

    "q_scan_avro" ->
      """SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                min(event_id) AS min_id, max(event_id) AS max_id,
                epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
                epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us
         FROM events
         GROUP BY 1
         ORDER BY 1""",

    "q_scan_schema_evolution" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(CASE WHEN event_id >= 5000 THEN value END) AS BIGINT)
                  AS n_with_value,
                min(event_id) AS min_id, max(event_id) AS max_id,
                min(CASE WHEN event_id >= 5000 THEN value END) AS min_value,
                max(CASE WHEN event_id >= 5000 THEN value END) AS max_value
         FROM events""",

    "q_scan_binaryfile" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS length,
                md5(text) AS md5
         FROM documents
         WHERE doc_id < 100
         ORDER BY doc_id""",

    "q_scan_jsonl" ->
      """SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                min(event_id) AS min_id, max(event_id) AS max_id,
                epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
                epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us
         FROM events
         GROUP BY 1
         ORDER BY 1""",

    // The oracle reads the ORIGINAL events table: the partitioned copy is a
    // Spark-side layout detail; the contract is that pruned reads return
    // exactly the rows a full-scan filter would.
    "q_scan_partition_prune" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
         FROM events
         WHERE event_type = 'click'
         ORDER BY event_id""",

    // Oracle reads the ORIGINAL events twice (fact + dim): the partitioned
    // copy and the runtime pruning are Spark-side physical details — the
    // contract is join-semantics equality.
    "q_scan_dpp" ->
      """WITH dim AS (
           SELECT event_type, count(*) AS n_type FROM events GROUP BY 1)
         SELECT e.event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
                max(e.event_id) AS max_event_id
         FROM events e JOIN dim ON e.event_type = dim.event_type
         WHERE dim.n_type % 2 = 0
         GROUP BY 1
         ORDER BY 1""",

    // Oracle reads the ORIGINAL lineitem: the z-ordered copy is a layout
    // detail — clustered reads must return exactly what a full scan would.
    "q_scan_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem
         WHERE l_partkey BETWEEN 100 AND 140 AND l_suppkey BETWEEN 2 AND 6
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity""",

    "q_filter_null_semantics" ->
      """SELECT o_orderkey, st, coalesce(st, 'none') AS st2,
                (st IS NOT DISTINCT FROM 'F') AS eq_f,
                (st IS NOT NULL) AS has_st
         FROM (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st FROM orders)
         WHERE st IS NULL OR st IS NOT DISTINCT FROM 'F'
         ORDER BY o_orderkey"""
  )
}
