package graft.perfbench

import graft.functions.{TextHash => TH}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Kernel micro-probe: each listed `graft_*` kernel against its
  * interpreted higher-order-function twin over a fixed seed-generated
  * input, at the session's own ANSI setting. The inputs are cached first;
  * each side reads `n` cached rows, repeated `r` times by an explode, and
  * reduces its result to one value. ns/row is (median of three timed runs
  * minus the median of the same read with a trivial reduction) / (n * r).
  * `mismatched_rows` counts rows of the HOF side's input on which the two
  * sides differ (`<=>`); `graft_minhash_bands`' twin mixes each band with
  * xxhash64 (an exact mix overflows under ANSI), so it is a cost twin
  * only and is not compared. */
object KernelProbe {
  val VecRows = 10000
  val DocRows = 500
  private val M = 8
  private val Ks = 16
  private val Sub = 8

  private def sqdist(a: String, b: String) =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0L, (s, x) -> s + x)"

  /** One side of a case: expression, cached rows read, repetitions. */
  final case class Side(expr: String, n: Int, r: Int)
  final case class Case(kernel: String, view: String, k: Side, hof: Side, reducer: String,
                        exact: Boolean = true)

  private def cases: Seq[Case] = {
    val a = (0 until TH.NumHashes).map(TH.coefA).mkString("array(", "L,", "L)")
    val b = (0 until TH.NumHashes).map(TH.coefB).mkString("array(", "L,", "L)")
    val p = TH.P
    Seq(
      Case("graft_sqdist_long", "pb_vec", Side("graft_sqdist_long(a, b)", VecRows, 25),
        Side(sqdist("a", "b"), VecRows, 1), "sum"),
      Case("graft_dot_long", "pb_vec", Side("graft_dot_long(a, b)", VecRows, 25),
        Side("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, x) -> s + x)", VecRows, 1), "sum"),
      Case("graft_sub_long", "pb_vec", Side("graft_sub_long(a, b)", VecRows, 10),
        Side("zip_with(a, b, (x, y) -> x - y)", VecRows, 1), "hash"),
      Case("graft_pq_lut", "pb_vec", Side("graft_pq_lut(cb, a)", VecRows, 2),
        Side(s"flatten(transform(sequence(0, ${M - 1}), s -> transform(sequence(0, ${Ks - 1}), j -> " +
          sqdist(s"slice(a, s * $Sub + 1, $Sub)", s"cb[s * $Ks + j]") + ")))", 300, 1), "hash"),
      Case("graft_pq_adist", "pb_vec", Side("graft_pq_adist(lut, codes)", VecRows, 25),
        Side(s"aggregate(sequence(0, ${M - 1}), 0L, (acc, s) -> acc + lut[s * $Ks + cast(codes[s] AS INT)])",
          VecRows, 1), "sum"),
      Case("graft_shingle_hashes", "pb_doc", Side("graft_shingle_hashes(text)", DocRows, 2),
        Side("array_sort(array_distinct(transform(sequence(0, size(split(text, ' ')) - 3), i -> " +
          "CAST(conv(substring(md5(concat_ws(' ', slice(split(text, ' '), i + 1, 3))), 1, 15), 16, 10) AS BIGINT))))",
          100, 1), "hash"),
      Case("graft_minhash_bands", "pb_doc", Side("graft_minhash_bands(hs)", DocRows, 2),
        Side(s"transform(sequence(0, ${TH.NumBands - 1}), bd -> xxhash64(slice(" +
          s"transform(sequence(0, ${TH.NumHashes - 1}), i -> " +
          s"array_min(transform(hs, h -> ($a[i] * (h % ${p}L) + $b[i]) % ${p}L))), " +
          s"bd * ${TH.BandRows} + 1, ${TH.BandRows})))", 10, 1), "hash", exact = false),
      Case("graft_jaccard_sorted", "pb_doc", Side("graft_jaccard_sorted(hs, hs2)", DocRows, 10),
        Side("size(array_intersect(hs, hs2)) / (size(hs) + size(hs2) - size(array_intersect(hs, hs2)))",
          DocRows, 2), "hash"))
  }

  private def inputs(spark: SparkSession, seed: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def vec(n: Int) = Array.fill(n)(rnd.nextInt(2001).toLong - 1000L)
    val cb = Seq.fill(M * Ks)(vec(Sub).toSeq)
    val rows = (0 until VecRows).map(i => (i.toLong, vec(M * Sub).toSeq, vec(M * Sub).toSeq,
      Array.fill(M)(rnd.nextInt(Ks).toLong).toSeq))
    val vecDf = rows.toDF("id", "a", "b", "codes")
      .crossJoin(Seq(Tuple1(cb)).toDF("cb"))
      .selectExpr("id", "a", "b", "codes", "cb", "graft_pq_lut(cb, a) AS lut")
    val vocab = Seq("scan", "column", "window", "order", "sort", "part", "agg", "value", "line", "key",
      "join", "merge", "group", "query", "a", "the", "row", "stream", "spark", "small", "fast", "batch",
      "hash", "filter", "big", "data", "table", "vector", "customer", "slow")
    val docs = (0 until DocRows).map(i => (i.toLong,
      Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val docDf = docs.toDF("id", "text")
      .selectExpr("id", "text", "graft_shingle_hashes(text) AS hs")
      .selectExpr("id", "text", "hs", "lag(hs, 1, hs) OVER (ORDER BY id) AS hs2")
    (vecDf.cache(), docDf.cache())
  }

  private def sql(view: String, side: Side, select: String): String =
    s"SELECT $select FROM (SELECT * FROM $view WHERE id < ${side.n}) " +
      s"LATERAL VIEW explode(sequence(1, ${side.r})) rep AS rep_i"

  def run(spark: SparkSession, seed: Long): Map[String, Map[String, Any]] = {
    val (vecDf, docDf) = inputs(spark, seed)
    vecDf.createOrReplaceTempView("pb_vec")
    docDf.createOrReplaceTempView("pb_doc")
    vecDf.count(); docDf.count()
    /** median ns of three timed runs after one warm-up */
    def time(q: String): Double = {
      spark.sql(q).head()
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); spark.sql(q).head(); System.nanoTime() - t0
      }.sorted
      ts(1).toDouble
    }
    val baseline = scala.collection.mutable.Map.empty[(String, Int, Int), Double]
    def perRow(c: Case, side: Side): Double = {
      val reduce = if (c.reducer == "sum") s"sum(${side.expr})" else s"bit_xor(xxhash64(${side.expr}))"
      val base = baseline.getOrElseUpdate((c.view, side.n, side.r), time(sql(c.view, side, "sum(id)")))
      math.max(time(sql(c.view, side, reduce)) - base, 0.0) / (side.n.toLong * side.r)
    }
    val out = cases.map { c =>
      val mismatched = if (!c.exact) -1L else spark.sql(s"SELECT count(*) FROM ${c.view} " +
        s"WHERE id < ${c.hof.n} AND NOT (${c.k.expr} <=> ${c.hof.expr})").head().getLong(0)
      c.kernel -> Map[String, Any]("ns_per_row" -> perRow(c, c.k), "hof_ns_per_row" -> perRow(c, c.hof),
        "rows" -> c.k.n.toLong * c.k.r, "hof_rows" -> c.hof.n.toLong * c.hof.r,
        "mismatched_rows" -> mismatched)
    }.toMap
    vecDf.unpersist(); docDf.unpersist()
    spark.catalog.dropTempView("pb_vec"); spark.catalog.dropTempView("pb_doc")
    out
  }
}
