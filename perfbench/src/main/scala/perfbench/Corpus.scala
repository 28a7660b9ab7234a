package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The seeded text corpus of the `pack` and `load` workloads.
  *
  * Schema `doc_id, source, text, lang`. The group key `source` is
  * log-uniform over 1..Sources (P(k) ~ 1/k, Zipf-like), so a few groups
  * are huge and many are singletons. Texts have 20 to 200 words drawn
  * log-uniformly from a vocabulary of Vocab words. Every value is a hash
  * of (doc_id, seed), so the corpus depends on the seed and size only,
  * never on partitioning or core count. */
object Corpus {
  val Sources = 100000
  val Vocab = 20000

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false)))

  /** Uniform in [0, 1) from a hash of the row id, the seed and a salt. */
  private def uniform(seed: Long, salt: Column): Column =
    (xxhash64(col("id"), lit(seed), salt) .bitwiseAND(lit((1L << 53) - 1))).cast(DoubleType) /
      lit(math.pow(2, 53))

  private def logUniform(u: Column, n: Int): Column =
    floor(exp(u * lit(math.log(n)))).cast(LongType)

  def generate(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val words = (lit(20) + floor(uniform(seed, lit(-1)) * lit(181))).cast(IntegerType)
    val text = array_join(transform(sequence(lit(1), words),
      i => concat(lit("w"), logUniform(uniform(seed, i), Vocab).cast(StringType))), " ")
    val u = uniform(seed, lit(-3))
    val lang = when(u < 0.6, "en").when(u < 0.75, "de").when(u < 0.85, "fr")
      .when(u < 0.93, "es").otherwise("zh")
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism).select(
      col("id").as("doc_id"),
      format_string("src-%06d", logUniform(uniform(seed, lit(-2)), Sources)).as("source"),
      text.as("text"),
      lang.as("lang"))
  }

  /** Per-group totals in plain SQL, independent of the program's
    * `GroupCounts`: bytes are 8 for `doc_id` plus the UTF-8 length of
    * each string; words are single-space separated, so a string holds
    * one more word than it has spaces. */
  def groupTotalsSql(view: String): String =
    s"""SELECT source AS group_id, count(*) AS num_examples,
       |  sum(8 + octet_length(source) + octet_length(text) + octet_length(lang)) AS num_bytes,
       |  sum(3 + (length(source) - length(replace(source, ' ', '')))
       |        + (length(text) - length(replace(text, ' ', '')))
       |        + (length(lang) - length(replace(lang, ' ', '')))) AS num_words
       |FROM $view GROUP BY source""".stripMargin
}
