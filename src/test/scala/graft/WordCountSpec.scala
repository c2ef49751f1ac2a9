package graft

import graft.operators.WordCount
import org.apache.spark.sql.functions._

class WordCountSpec extends SparkSpec {

  test("sum of word counts equals total token count") {
    val total = WordCount.wordCount(spark, sf).agg(sum("cnt")).head.getLong(0)
    val tokens = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(total == tokens)
  }

  test("topK equals full sort take k") {
    val k = 5
    val top = WordCount.topKWords(spark, sf, k).collect().toSeq
    val full = WordCount.wordCount(spark, sf).collect().toSeq.take(k)
    assert(top == full)
  }

  test("stopword-filtered counts exclude every stopword") {
    val words = WordCount.stopwordFiltered(spark, sf)
      .select("word").collect().map(_.getString(0)).toSet
    assert(words.intersect(WordCount.stopwords.toSet).isEmpty)
  }

  test("per-language counts roll up to the global counts") {
    val perLang = WordCount.perLangWordCount(spark, sf)
      .groupBy("word").agg(sum("cnt").as("cnt"))
    val global = WordCount.wordCount(spark, sf)
    assert(perLang.join(global, Seq("word"))
      .filter(perLang("cnt") =!= global("cnt")).count() == 0)
  }

  test("wordCount rows arrive in ORDER BY cnt desc, word order") {
    val rows = WordCount.wordCount(spark, sf).collect()
      .map(r => (r.getAs[Long]("cnt"), r.getAs[String]("word"))).toSeq
    assert(rows.nonEmpty)
    assert(rows == rows.sortBy { case (c, w) => (-c, w) })
  }

  test("perLangWordCount rows arrive in ORDER BY lang, cnt desc, word order") {
    val rows = WordCount.perLangWordCount(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("cnt"), r.getAs[String]("word"))).toSeq
    assert(rows.map(_._1).distinct.size > 1)
    assert(rows == rows.sortBy { case (l, c, w) => (l, -c, w) })
  }

  test("one top term per document") {
    val df = WordCount.topTermPerDoc(spark, sf)
    assert(df.count() == df.select("doc_id").distinct().count())
  }

  test("topTermPerDoc rows arrive in ORDER BY doc_id order") {
    val ids = WordCount.topTermPerDoc(spark, sf).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(ids.size > 1)
    assert(ids == ids.sorted)
  }

  test("TopKWords Aggregator equals sort-and-limit") {
    val viaUdaf = WordCount.topKUdaf(spark, sf, 10).collect().toSeq
    val viaSort = WordCount.topKWords(spark, sf, 10).collect().toSeq
    assert(viaUdaf == viaSort)
  }

  test("sortWithinPartitions keeps all rows and orders within partitions") {
    import org.apache.spark.sql.functions.spark_partition_id
    val df = WordCount.sortWithinPartitions(spark, sf)
    assert(df.count() == Tables.documents(spark, sf).count())
    // within each output partition, doc_id must be non-decreasing per lang
    val parts = df.withColumn("pid", spark_partition_id())
    import spark.implicits._
    val bad = parts.select("pid", "lang", "doc_id").as[(Int, String, Long)]
      .mapPartitions { it =>
        val rows = it.toSeq
        val sorted = rows.sortBy(r => (r._2, r._3))
        Iterator.single(rows == sorted)
      }.filter(ok => !ok)
    assert(bad.count() == 0)
  }
}
