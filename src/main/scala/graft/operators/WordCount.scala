package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference core: parallel MapReduce word counting (SURVEY.md §2.A,
  * A1–A10), re-expressed Spark-first, plus the M1 word-count family.
  *
  * Dataflow = scan → tokenize (generator) → partial hash-agg (map-side
  * combine, automatic) → Exchange hashpartitioning(word) → final hash-agg →
  * global sort. Catalyst inserts the combiner and the shuffle; at 100 TB the
  * only all-to-all movement is the (word, partial-count) pairs — vocabulary-
  * sized, not corpus-sized — exactly the MR combiner optimization.
  *
  * The global sort: when its input is small enough that AQE would read it
  * as one partition anyway (`spark.sql.adaptive.coalescePartitions.*`), the
  * sort runs in ONE task ([[graft.plans.SmallSortRule]]) — in the final
  * hash-agg's reduce task once that shuffle's map outputs are known to be
  * small, else behind a single-partition exchange — so a query is 2 jobs
  * (map stage, reduce + sort), not 4 (map stage, range-sampling job
  * re-running the final agg, range-shuffle map stage, sort). Past that size
  * the sort stays a range-partitioned distributed sort.
  *
  * Reference provenance: /root/reference is an empty checkout (SURVEY.md §0);
  * semantics follow Dean & Ghemawat OSDI'04 §2.1 word count.
  */
object WordCount {

  /** Tokenized (doc_id, lang, word) of a `documents` frame — testdata text
    * is pre-normalized lowercase a–z + single spaces (FIXTURES.md), so
    * tokenize = split on ' '. The one tokenizer of the word-count and
    * text-analysis operators.
    */
  private[operators] def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("word"))

  /** A1–A8: full word count, ordered by count desc then word. */
  def wordCount(spark: SparkSession, sfDir: String): DataFrame =
    tokens(Tables.documents(spark, sfDir))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))

  /** Word count over raw TEXT FILES — the reference engine's actual input
    * modality (a MapReduce word counter reads line-oriented text, not
    * parquet). One line = one record; identical downstream plan to
    * [[wordCount]]. At 100 TB the text scan splits by line ranges per file
    * exactly like any other FileScan.
    */
  def wordCountTextFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(explode(split(col("value"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))

  /** The reference's literal shape — `flatMap(split) → map(w → (w,1)) →
    * reduceByKey(_+_)` on the RDD API (BASELINE.json's named approach).
    * reduceByKey's map-side combine IS the MR combiner; the DataFrame
    * variant above is what production code should use (codegen + pushdown),
    * this one exists to cover the reference core API surface 1:1.
    */
  def wordCountRdd(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select("text").as[String].rdd
      .flatMap(_.split(" "))
      .map(w => (w, 1L))
      .reduceByKey(_ + _)
      .toDF("word", "cnt")
      .orderBy(desc("cnt"), asc("word"))
  }

  /** A9: top-k most frequent words (planner: TakeOrderedAndProject — no
    * global sort materialization, each partition keeps k rows).
    */
  def topKWords(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame =
    wordCount(spark, sfDir).limit(k)

  /** Word count per language (two-key group; shuffle on (lang, word)). */
  def perLangWordCount(spark: SparkSession, sfDir: String): DataFrame =
    tokens(Tables.documents(spark, sfDir))
      .groupBy("lang", "word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(asc("lang"), desc("cnt"), asc("word"))

  /** Stopword-filtered count: drop the corpus's function-word-ish tokens.
    * Filter runs map-side, before the shuffle.
    */
  val stopwords: Seq[String] = Seq("a", "the", "of", "and", "to", "in")
  def stopwordFiltered(spark: SparkSession, sfDir: String): DataFrame =
    tokens(Tables.documents(spark, sfDir))
      .filter(!col("word").isin(stopwords: _*))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))

  /** Per-document term frequency, top term per doc. max over a (tf, word)
    * struct = highest tf, ties broken to the lexicographically largest word —
    * deterministic without a second shuffle or a window. Documents are
    * range-partitioned by doc_id BEFORE tokenizing: both aggregates are then
    * clustered already and the ORDER BY doc_id ordered already, so none of
    * them needs an exchange, and the one shuffle moves documents, not the
    * corpus-sized (doc_id, word) partials. The explicit partition count
    * keeps AQE from coalescing the tokenize into one task.
    */
  def topTermPerDoc(spark: SparkSession, sfDir: String): DataFrame =
    tokens(Tables.documents(spark, sfDir)
      .repartitionByRange(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id")))
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(max(struct(col("tf"), col("word"))).as("m"))
      .select(col("doc_id"), col("m.word").as("word"), col("m.tf").as("tf"))
      .orderBy("doc_id")

  /** Top-k words via the custom typed Aggregator (graft.functions.TopKWords,
    * SURVEY.md §2.B10): bounded O(k) aggregation state with map-side partial
    * top-k and k-way merge. Same result (and oracle) as topKWords — the
    * Aggregator is the surface for nesting a top-k inside another
    * aggregation, where sort+limit can't go.
    */
  def topKUdaf(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val counts = tokens(Tables.documents(spark, sfDir))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
    counts.select(graft.functions.TopKWords(k).toColumn.name("arr"))
      .select(explode(col("arr")).as("kv"))
      .select(col("kv._1").as("word"), col("kv._2").as("cnt"))
      .orderBy(desc("cnt"), asc("word"))
  }

  /** Partial (per-partition) sort: the map-side ordering pass a distributed
    * sort is built from — rows-only check (partition layout is not an
    * observable of the oracle).
    */
  def sortWithinPartitions(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .repartition(col("lang"))
      .sortWithinPartitions("lang", "doc_id")
      .select("doc_id", "lang", "n_chars")

  /** Tokens per document (doc-length histogram input). */
  def docTokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      // cast to long: DuckDB len(list) is BIGINT and the oracle compare is
      // dtype-sensitive
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
}
