package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Avro container-file source/sink built directly on the avro core
  * library — the fourth interchange format of the A7/A10 round-trip
  * family (jsonl/csv/orc/xml).
  *
  * Why hand-rolled: this distribution ships avro-1.12.1 (core/ipc/mapred
  * — Spark's own shuffle/RPC needs) but NOT the `spark-avro` datasource
  * module — no jar on the classpath registers an avro
  * `DataSourceRegister`, so `spark.read.format("avro")` cannot resolve
  * (verified against every /opt/spark/jars META-INF/services entry),
  * and this environment resolves no external dependencies. The
  * container-file API the core library exposes is the whole format,
  * so the source is built on it:
  *
  *   - [[write]]: one avro container file per partition, written inside
  *     `mapPartitions` (the sanctioned per-partition imperative-IO case —
  *     a file-format ENCODER is exactly per-partition imperative logic),
  *     `_SUCCESS` stamped by the driver after the job lands. Files go to
  *     a filesystem path; at 100 TB the `java.io` stream below is the
  *     one line that changes (an HDFS/object-store OutputStream).
  *   - [[read]]: `binaryFile` rows (one per container file — the same
  *     ingestion shape as the multimodal path) decoded per-partition via
  *     `DataFileReader`; the avro WRITER schema comes from each file's
  *     own header (self-describing, like parquet/orc), while the
  *     caller's explicit StructType picks fields BY NAME — projection
  *     and add-a-column evolution for free, missing fields surface as
  *     null (SourcesSpec pins both).
  *
  * Type surface: the interchange subset the engine exports (long, int,
  * double, string, boolean), each as a `["null", T]` union so nullable
  * columns round-trip. Wider nesting belongs to parquet/orc; an avro
  * export is the row-oriented interchange lane. */
object AvroSource {

  /** Avro record schema for a StructType (interchange subset; every
    * field a nullable union so Spark's default nullability round-trips). */
  def avroSchemaFor(schema: StructType, name: String = "row"): Schema = {
    val fields = schema.fields.map { f =>
      val t = f.dataType match {
        case LongType => "long"
        case IntegerType => "int"
        case DoubleType => "double"
        case StringType => "string"
        case BooleanType => "boolean"
        case other => throw new IllegalArgumentException(
          s"avro interchange subset does not cover ${f.name}: $other")
      }
      s"""{"name": "${f.name}", "type": ["null", "$t"], "default": null}"""
    }.mkString(",")
    new Schema.Parser().parse(
      s"""{"type": "record", "name": "$name", "fields": [$fields]}""")
  }

  /** Write `df` as a directory of avro container files (one per
    * partition, skipping empty partitions) + `_SUCCESS`. OVERWRITE
    * semantics like every sibling format writer: pre-existing part
    * files and `_SUCCESS` are deleted first — a crashed earlier attempt
    * rerun at different parallelism would otherwise leave orphan
    * part files that `read`'s glob folds back in as duplicate rows. */
  def write(df: DataFrame, path: String): Unit = {
    val sparkSchema = df.schema
    val avroJson = avroSchemaFor(sparkSchema).toString
    val dir = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(dir)
    val old = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      old.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          (n.startsWith("part-") && (n.endsWith(".avro") || n.endsWith(".tmp"))) ||
            n == "_SUCCESS"
        }
        .toSeq.foreach(java.nio.file.Files.delete)
    } finally old.close()
    val written = df.rdd.mapPartitionsWithIndex { (i, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val sch = new Schema.Parser().parse(avroJson)
        // Per-ATTEMPT temp name + rename-on-success: a retried or
        // speculative attempt writing part-NNNNN.avro directly could
        // interleave with a zombie attempt still holding the same file —
        // a partially-overwritten container reads back corrupt. Each
        // attempt streams into its own .tmp; the atomic move publishes a
        // complete container (last successful attempt wins — any winner
        // carries identical rows), and orphan .tmp files are invisible
        // to read()'s part-*.avro glob.
        val attempt = org.apache.spark.TaskContext.get() match {
          case null => 0L // direct invocation outside a task (tests)
          case tc => tc.taskAttemptId()
        }
        val tmp = new java.io.File(path, f"part-$i%05d.avro.$attempt%d.tmp")
        val dst = new java.io.File(path, f"part-$i%05d.avro")
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](sch))
        try {
          w.create(sch, tmp)
          var n = 0L
          rows.foreach { r =>
            val rec = new GenericData.Record(sch)
            sparkSchema.fields.zipWithIndex.foreach { case (fld, j) =>
              rec.put(fld.name, if (r.isNullAt(j)) null else r.get(j))
            }
            w.append(rec)
            n += 1
          }
          w.close()
          java.nio.file.Files.move(tmp.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          Iterator.single(n)
        } finally {
          w.close() // idempotent; covers the pre-move failure path
          java.nio.file.Files.deleteIfExists(tmp.toPath)
        }
      }
    }.count() // the action that runs the write job
    require(written >= 0) // keep the action's result on a named path
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
  }

  /** Read a directory of avro container files into rows of `schema` —
    * fields matched BY NAME against each file's own writer schema
    * (missing → null). */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val fields = schema.fields.map(f => (f.name, f.dataType)).toSeq
    // The directory plus a name filter, not a `part-*.avro` glob path: for
    // a glob, Spark's sink-metadata probe logs a WARN with a stack trace.
    val rdd = spark.read.format("binaryFile")
      .option("pathGlobFilter", "part-*.avro").load(path)
      .select(col("content")).rdd.flatMap { row =>
        val in = new SeekableByteArrayInput(row.getAs[Array[Byte]](0))
        val rd = new DataFileReader[GenericRecord](in,
          new GenericDatumReader[GenericRecord]())
        try {
          val out = Vector.newBuilder[Row]
          while (rd.hasNext) {
            val rec = rd.next()
            out += Row.fromSeq(fields.map { case (n, dt) =>
              (Option(rec.getSchema.getField(n)).map(_ => rec.get(n)).orNull, dt) match {
                case (null, _) => null
                case (v, StringType) => v.toString
                case (v, _) => v
              }
            })
          }
          out.result()
        } finally rd.close()
      }
    spark.createDataFrame(rdd, schema)
  }
}
