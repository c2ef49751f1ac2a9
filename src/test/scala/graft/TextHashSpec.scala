package graft

import graft.functions.TextHashFunctions._
import org.apache.spark.sql.functions._

/** The codegen'd TextHash kernels must be bit-identical to the interpreted
  * HOF formulations they replaced (round 1's pipeline, which hash-matched
  * the DuckDB oracle) — these tests are the regression anchor for that
  * equivalence.
  */
class TextHashSpec extends SparkSpec {

  /** Round-1 interpreted pipeline: 3-gram shingles (token-set fallback),
    * string-distinct, md5-60 per shingle — sorted for comparability.
    */
  private val hofShingleHashes =
    expr("""array_sort(transform(array_distinct(CASE WHEN size(w) >= 3
           |  THEN transform(sequence(1, size(w)-2),
           |         i -> concat_ws(' ', element_at(w,i), element_at(w,i+1), element_at(w,i+2)))
           |  ELSE w END), s -> cast(conv(substring(md5(s),1,15),16,10) as bigint)))""".stripMargin)

  private def docs = Tables.documents(spark, sf)
    .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))

  test("ShingleHashes matches the interpreted md5/HOF formulation bit-for-bit") {
    val cmp = docs.select(
      shingleHashes(col("text")).as("a"), hofShingleHashes.as("b"))
    assert(cmp.filter(col("a") =!= col("b")).count() == 0)
  }

  test("ShingleHashes token-set fallback for short docs matches") {
    import spark.implicits._
    val shorts = Seq("one", "one two", "a  b", "", "x x x").toDF("text")
      .select(col("text"), split(col("text"), " ").as("w"))
    val cmp = shorts.select(shingleHashes(col("text")).as("a"), hofShingleHashes.as("b"))
    assert(cmp.filter(col("a") =!= col("b")).count() == 0)
  }

  test("WinnowHashes matches the interpreted HOF formulation bit-for-bit (r16)") {
    // the exact round-15 relational form of q_winnow, including the
    // short-doc CASE and the ≥3-token exclusion
    val w = graft.functions.TextHash.WinnowW
    val hof = docs
      .filter(size(col("w")) >= 3)
      .withColumn("hp", expr(
        "transform(sequence(0, size(w)-3), i -> " +
          "cast(conv(substring(md5(concat_ws(' ', w[i], w[i+1], w[i+2])),1,15),16,10) as bigint))"))
      .withColumn("b", expr(
        s"array_sort(array_distinct(CASE WHEN size(hp) >= $w THEN " +
          s"transform(sequence(0, size(hp)-$w), j -> array_min(slice(hp, j+1, $w))) " +
          s"ELSE array(array_min(hp)) END))"))
      .select(col("doc_id"), col("b"))
    val kernel = docs.select(col("doc_id"), winnowHashes(col("text")).as("a"))
    val cmp = kernel.join(hof, "doc_id")
    assert(cmp.filter(col("a") =!= col("b")).count() == 0)
    // docs under 3 tokens: kernel returns empty (explode-excluded, the
    // relational filter's semantics)
    import spark.implicits._
    val shorts = Seq("one", "one two", "").toDF("text")
      .select(winnowHashes(col("text")).as("a"))
    assert(shorts.filter(size(col("a")) =!= 0).count() == 0)
    // ≥3 tokens but fewer than w 3-grams: global minimum kept
    val tiny = Seq("a b c", "a b c d").toDF("text")
      .select(size(winnowHashes(col("text"))).as("n")).collect().map(_.getInt(0))
    assert(tiny.forall(_ == 1))
  }

  test("Md5Top60 matches the conv/substring/md5 formulation bit-for-bit (r16)") {
    val cmp = docs.select(
      graft.functions.TextHashFunctions.md5Top60(col("text")).as("a"),
      expr("cast(conv(substring(md5(text),1,15),16,10) as bigint)").as("b"))
    assert(cmp.filter(col("a") =!= col("b")).count() == 0)
    // SQL-callable via GraftExtensions, survives CODEGEN_ONLY
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.sql("SELECT graft_md5_top60('a b c') AS h, " +
        "cast(conv(substring(md5('a b c'),1,15),16,10) as bigint) AS e").head
      assert(r.getLong(0) == r.getLong(1))
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.codegen.factoryMode", p)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("SimHash60 matches the interpreted sign-sum formulation") {
    val hs = docs.select(col("doc_id"), shingleHashes(col("text")).as("hs"))
    val cmp = hs.select(
      simHash60(col("hs")).as("a"),
      expr("""aggregate(transform(sequence(0, 59), b ->
             |  CASE WHEN aggregate(hs, 0, (acc, x) ->
             |         acc + CASE WHEN (shiftright(x, b) & 1) = 1 THEN 1 ELSE -1 END) > 0
             |       THEN shiftleft(1L, b) ELSE 0L END),
             |  0L, (acc, x) -> acc + x)""".stripMargin).as("b"))
    assert(cmp.filter(col("a") =!= col("b")).count() == 0)
  }

  test("MinHashBands preserves the interpreted signature equality classes") {
    // band keys are a mix of the 4 row minima, so two docs share a band key
    // iff they share the interpreted 4-row signature (mixing collisions
    // would only ADD candidates; equality must never be lost)
    val P = graft.functions.TextHash.P
    def sigExpr(a: Long, b: Long) = s"array_min(transform(hsm, x -> (${a}L * x + ${b}L) % ${P}L))"
    val hs = docs.select(col("doc_id"),
      shingleHashes(col("text")).as("hs"))
      .withColumn("hsm", expr(s"transform(hs, x -> x % ${P}L)"))
    // spot-check band 0 (permutations 0..3) against the interpreted form
    val coefA = (0 until 4).map(graft.functions.TextHash.coefA)
    val coefB = (0 until 4).map(graft.functions.TextHash.coefB)
    val interp = hs.select(col("doc_id"),
      array((0 until 4).map(i => expr(sigExpr(coefA(i), coefB(i)))): _*).as("sig0"))
    val kernel = hs.select(col("doc_id"), minHashBands(col("hs")).getItem(0).as("band0"))
    val joined = interp.join(kernel, "doc_id")
    // same sig0 <=> same band0 across all doc pairs
    val pairs = joined.as("x").crossJoin(joined.as("y"))
      .select(
        (col("x.sig0") === col("y.sig0")).as("sigEq"),
        (col("x.band0") === col("y.band0")).as("bandEq"))
    assert(pairs.filter(col("sigEq") =!= col("bandEq")).count() == 0)
  }

  test("jaccardSorted matches the array_intersect formulation") {
    val a = docs.select(col("doc_id").as("da"), shingleHashes(col("text")).as("ha"))
    val b = docs.select(col("doc_id").as("db"), shingleHashes(col("text")).as("hb"))
    val cmp = a.crossJoin(b).filter(col("da") < col("db")).limit(500)
      .select(
        jaccardSorted(col("ha"), col("hb")).as("x"),
        (size(array_intersect(col("ha"), col("hb"))).cast("double") /
          (size(col("ha")) + size(col("hb")) - size(array_intersect(col("ha"), col("hb"))))).as("y"))
    assert(cmp.filter(col("x") =!= col("y")).count() == 0)
  }

  test("Bigrams matches the interpreted HOF formulation bit-for-bit") {
    val cmp = docs.select(
      graft.functions.TextHashFunctions.bigrams(col("text")).as("a"),
      expr("""CASE WHEN size(w) >= 2
             |  THEN transform(sequence(1, size(w)-1),
             |         i -> concat(element_at(w,i), ' ', element_at(w,i+1)))
             |  ELSE array() END""".stripMargin).as("b"))
    assert(cmp.filter(col("a") =!= col("b")).count() == 0)
    import spark.implicits._
    val shorts = Seq("one", "", "a b", "a  b c").toDF("text")
      .select(col("text"), split(col("text"), " ").as("w"))
    val cmp2 = shorts.select(
      graft.functions.TextHashFunctions.bigrams(col("text")).as("a"),
      expr("""CASE WHEN size(w) >= 2
             |  THEN transform(sequence(1, size(w)-1),
             |         i -> concat(element_at(w,i), ' ', element_at(w,i+1)))
             |  ELSE array() END""".stripMargin).as("b"))
    assert(cmp2.filter(col("a") =!= col("b")).count() == 0)
  }

  test("SkipgramPairs matches the positional-self-join formulation exactly (r17)") {
    // the r16 query self-joined positional tokens on (doc_id, pos + d) and
    // unioned both directions; the kernel must reproduce that multiset of
    // (center, context) pairs per document, order-insensitively
    import spark.implicits._
    val w = graft.functions.TextHash.SkipWindow
    val kernel = docs.select(col("doc_id"),
      explode(skipgramPairs(col("text"))).as("p"))
      .groupBy(col("doc_id"), col("p.center").as("a"), col("p.context").as("b"))
      .agg(count(lit(1)).as("n"))
    val pos = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val lft = pos.select(col("doc_id"), col("pos"), col("word").as("a"),
      explode(array((1 to w).map(lit): _*)).as("d"))
    val rgt = pos.select(col("doc_id").as("rdoc"), col("pos").as("rpos"),
      col("word").as("b"))
    val fwd = lft.join(rgt,
      col("doc_id") === col("rdoc") && (col("pos") + col("d")) === col("rpos"))
      .select(col("doc_id"), col("a"), col("b"))
    val joined = fwd.unionAll(fwd.select(col("doc_id"), col("b").as("a"), col("a").as("b")))
      .groupBy("doc_id", "a", "b").agg(count(lit(1)).as("n"))
    assert(kernel.count() > 0)
    assert(kernel.exceptAll(joined).count() == 0 && joined.exceptAll(kernel).count() == 0)
    // short docs: 0- and 1-token texts emit no pairs
    val shorts = Seq("", "one", "a b").toDF("text")
      .select(skipgramPairs(col("text")).as("p"))
      .select(size(col("p")).as("s")).as[Int].collect().toSeq
    assert(shorts == Seq(0, 0, 2))
  }

  test("kernels run under CODEGEN_ONLY factory mode (never CodegenFallback)") {
    // forcing the codegen factory makes any CodegenFallback expression in
    // the projection throw — the kernels must survive the whole near-dup
    // signature pipeline under it
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val n = docs.select(
        simHash60(shingleHashes(col("text"))).as("f"),
        minHashBands(shingleHashes(col("text"))).as("b"),
        size(skipgramPairs(col("text"))).as("sg"))
        .filter(col("f") =!= 0 || size(col("b")) === 16 || col("sg") >= 0)
        .count()
      assert(n > 0)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.codegen.factoryMode", p)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("kernels are SQL-callable after registration") {
    val n = spark.sql(
      "SELECT graft_simhash60(graft_shingle_hashes('a b c d')) AS f").head.getLong(0)
    assert(n != 0L)
  }

  test("every custom kernel is SQL-callable via GraftExtensions (r13)") {
    // the extension-injected registry (no runtime register() call): the
    // test session loads graft.GraftExtensions via config, so all eight
    // kernels must resolve as bare SQL functions
    val r = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  size(graft_shingle_hashes('a b c d')) AS sh,
        |  size(graft_minhash_bands(graft_shingle_hashes('a b c d'))) AS mb,
        |  graft_simhash60(graft_shingle_hashes('a b c d')) AS f,
        |  graft_jaccard_sorted(array(1L, 2L), array(2L, 3L)) AS j,
        |  size(graft_bigrams('a b c')) AS bg,
        |  graft_morton(3L, 5L) AS z,
        |  graft_hilbert(3L, 5L) AS h""".stripMargin).head
    assert(r.getDouble(0) == 11.0 && r.getInt(1) == 2 && r.getInt(2) == 16)
    assert(r.getLong(3) != 0L && r.getInt(5) == 2)
    assert(r.getLong(6) == graft.functions.MortonInterleave(null, null)
      .nullSafeEval(3L, 5L).asInstanceOf[Long])
    assert(r.getLong(7) == graft.functions.HilbertFunctions.xy2d(3L, 5L))
  }
}
