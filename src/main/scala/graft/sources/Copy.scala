package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** COPY parity — the one operator KuiBaDB fully implements (reference
  * src/commands/copy.rs:101-201: parallel CSV ingest with DELIMITERS /
  * NULL / CSV / (parallel n) options; grammar src/parser/sql.lalrpop:
  * 560-572; COPY TO parsed-but-rejected at copy.rs:273-277).
  *
  * Spark realization: the reader is already split-parallel (one task per
  * input split — the `(parallel n)` fan-out, copy.rs:136-145, is Spark's
  * task model), per-column `typinput` conversion (copy.rs:150-189) is
  * `schema` + ANSI cast, and the L0-file-per-worker + manifest-commit
  * protocol (sv.rs:537-554) is the FileCommitProtocol of a parquet write.
  */
object Copy {

  final case class Options(
      delimiter: String = ",", // DELIMITERS d  (copy.rs:203-214)
      nullValue: String = "", // NULL 'x'      (copy.rs:225-235)
      header: Boolean = false, // WITH CSV HEADER
      parallel: Option[Int] = None) // (parallel n) -> repartition hint

  /** COPY t FROM 'file' — CSV into a typed DataFrame. NOT NULL violations
    * surface as ANSI cast errors (cs.rs:58-76 analogue). */
  def from(spark: SparkSession, path: String, schema: StructType,
      opts: Options = Options()): DataFrame = {
    val df = spark.read
      .option("delimiter", opts.delimiter)
      .option("nullValue", opts.nullValue)
      .option("header", opts.header.toString)
      .schema(schema)
      .csv(path)
    opts.parallel.map(df.repartition(_)).getOrElse(df)
  }

  /** The copy-in (STDIN) variant of [[from]]: the identical typed CSV
    * parse over an already-received Dataset of lines instead of a file
    * scan — the wire server feeds this from accumulated CopyData
    * payloads (the reference grammar itself takes file paths only,
    * sql.lalrpop:560-572; STDIN is the protocol-side extension its
    * DestRemote layer implies). */
  def fromLines(lines: Dataset[String], schema: StructType,
      opts: Options = Options()): DataFrame =
    lines.sparkSession.read
      .option("delimiter", opts.delimiter)
      .option("nullValue", opts.nullValue)
      .option("header", opts.header.toString)
      .schema(schema)
      .csv(lines)

  /** COPY ... TO 'file' (declared-only in the reference; implemented
    * here): DataFrame out to CSV. */
  def to(df: DataFrame, path: String, opts: Options = Options()): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("delimiter", opts.delimiter)
      .option("nullValue", opts.nullValue)
      .option("header", opts.header.toString)
      .csv(path)

  /** Format rows as COPY text lines — the copy-out direction of
    * [[fromLines]], used by the wire server's `COPY t TO STDOUT`
    * sub-protocol. One CSV-dialect line per row via the codegen'd
    * to_csv expression (same delimiter/null options as file COPY, so a
    * line round-trips through [[fromLines]] unchanged). Header
    * emission is the caller's concern (one prepended line), not the
    * formatter's — the Dataset stays a pure per-row map. */
  def toLines(df: DataFrame, opts: Options = Options()): Dataset[String] = {
    import df.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, struct, to_csv}
    import scala.jdk.CollectionConverters._
    df.select(to_csv(struct(df.columns.toIndexedSeq.map(col): _*),
      Map("delimiter" -> opts.delimiter,
        "nullValue" -> opts.nullValue).asJava).as("line")).as[String]
  }

  /** JSONL (one JSON object per line) ingest — the interchange format of
    * training-data pipelines. Same split-parallel reader; pass a schema
    * to skip inference (mandatory at scale: inference scans the data
    * twice and infers per-file). */
  def fromJsonl(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.map(r.schema).getOrElse(r).json(path)
  }

  /** JSONL export: one JSON object per row, split across tasks. */
  def toJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC interchange (Spark-bundled columnar format; same vectorized
    * reader discipline as parquet — predicate pushdown, column pruning,
    * split-parallel scan). */
  def fromOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def toOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Raw text-shard ingest — the entry path for an unprocessed crawl
    * dump (one document per LINE across a directory of shards, the
    * common jsonl-less corpus interchange). Document identity must be
    * reproducible under re-partitioning and re-runs, so the id is a
    * CONTENT hash (xxhash64 of the line), not
    * monotonically_increasing_id (partition-layout-dependent) — the
    * same discipline as the t05 sampler. Duplicate lines collapse to
    * one row per (id, text); COUNT is preserved in n_copies for
    * dedup-aware downstreams. Split-parallel: text sources split by
    * line ranges exactly like the reference's `(parallel n)` workers. */
  def fromTextShards(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.textFile(path).toDF("text")
      .filter(length(trim(col("text"))) > 0)
      .groupBy(xxhash64(col("text")).as("doc_id"), col("text"))
      .agg(count(lit(1)).as("n_copies"))
      .select("doc_id", "text", "n_copies")
  }

  /** COPY ... FROM ... into a managed table (the full reference path:
    * ingest + publish to catalog). */
  def intoTable(spark: SparkSession, path: String, schema: StructType,
      table: String, opts: Options = Options()): Unit = {
    from(spark, path, schema, opts).write.mode(SaveMode.Overwrite)
      .saveAsTable(table)
  }
}
