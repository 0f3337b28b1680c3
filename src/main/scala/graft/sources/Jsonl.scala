package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Gzipped JSONL — the de-facto interchange format of LLM corpora
  * (one JSON object per line, *.jsonl.gz shards). Parquet stays the
  * engine-internal format ([[CorpusSink]]); this is the boundary format
  * for handing corpora to/from tokenizer and eval teams.
  *
  * Scale notes baked into the writer: gzip is NOT splittable, so one
  * shard = one read task forever — `files` bounds the read parallelism
  * (size it like a bucket count: total bytes / ~256 MB). Rows are
  * salted into AT MOST `files` shards regardless of upstream task count
  * (an upper bound, like [[CorpusSink]]'s: two salt groups whose hashes
  * collide mod `files` merge into one shard — never more files, maybe
  * fewer), field order is pinned to the DataFrame's column order, and
  * null fields are kept (round-trip fidelity beats byte thrift at a
  * boundary).
  *
  * Reading uses an EXPLICIT schema: `spark.read.json` without one runs
  * a full inference scan over 100 TB before the real scan — the
  * canonical self-inflicted double read. */
object Jsonl {

  /** Write `df` as at most `files` gzipped JSONL shards under `path`. */
  def writeJsonl(df: DataFrame, path: String, files: Int,
                 saltCol: String): Unit = {
    require(files >= 1, s"files must be >= 1, got $files")
    df.repartition(files, pmod(xxhash64(col(saltCol)), lit(files.toLong)))
      .select(to_json(struct(df.columns.map(col).toIndexedSeq: _*),
        Map("ignoreNullFields" -> "false")).as("value"))
      .write.mode("overwrite")
      .option("compression", "gzip")
      .text(path)
  }

  /** Read JSONL shards (gzip auto-detected) under `path` with the given
    * schema — no inference scan. */
  def readJsonl(spark: SparkSession, path: String,
                schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Test/bench fixture: the documents table exported once per sf dir
    * as gzipped JSONL ([[Shards.fixture]]), so JSONL-scan queries
    * exercise the real text-source path while the oracle reads the same
    * rows from parquet. */
  def ensureDocsFixture(spark: SparkSession, sfDir: String): String =
    Shards.fixture(s"graft_jsonl_v1_${Shards.sfTag(sfDir)}") { dir =>
      writeJsonl(graft.Tables(spark, sfDir, "documents"), dir, files = 4,
        saltCol = "doc_id")
    }
}
