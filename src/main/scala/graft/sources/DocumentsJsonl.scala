package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL corpus source — the interchange format of LLM training data
  * (one JSON object per line). Two scale decisions:
  *
  *  - the schema is EXPLICIT: `spark.read.json` schema inference is a
  *    full extra pass over the data before the real one — never pay
  *    that at 100 TB. Missing fields surface as nulls; extra fields
  *    are ignored.
  *  - malformed lines must not fail the job (a trillion-line crawl
  *    always carries some): PERMISSIVE mode routes them to a
  *    corrupt-record column so ingestion can count and quarantine
  *    them instead of dying at 97%.
  *
  * JSONL is splittable line-by-line, so a directory of .jsonl files
  * parallelizes like any text source (gzip members are the usual
  * per-file parallelism caveat).
  */
object DocumentsJsonl {

  val Corrupt = "_corrupt"

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField(Corrupt, StringType)))

  /** Read a JSONL file/directory into the documents shape. Corrupt
    * lines keep their raw text in `_corrupt` with every other column
    * null.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", Corrupt)
      .json(path)

  /** Valid documents only (the pipeline input), with `n_chars` derived
    * to match the documents table shape.
    */
  def documents(spark: SparkSession, path: String): DataFrame =
    read(spark, path)
      .filter(col(Corrupt).isNull && col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("bigint").as("n_chars"))
}
