package graft

import graft.operators.Dedup
import graft.functions.TextHashFunctions.shingleHashes
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("exact dedup survivors cover all copies") {
    val d = Dedup.exactDedup(spark, sf)
    assert(d.agg(sum("n_copies")).head.getLong(0) == Tables.documents(spark, sf).count())
    assert(d.count() == Tables.documents(spark, sf).select("text").distinct().count())
  }

  test("hash dedup agrees with exact dedup on survivor count") {
    assert(Dedup.hashDedup(spark, sf).count() == Dedup.exactDedup(spark, sf).count())
  }

  test("exact dedup is idempotent") {
    val once = Dedup.exactDedup(spark, sf)
    assert(once.select("doc_id").distinct().count() == once.count())
  }

  test("all three near-dup strategies produce identical pair sets") {
    val a = Dedup.jaccardPairs(spark, sf).collect().toSeq
    val b = Dedup.ppjoinPairs(spark, sf).collect().toSeq
    val c = Dedup.minhashPairs(spark, sf).collect().toSeq
    assert(a == b)
    assert(a == c)
  }

  test("near-dup pairs are symmetric-free and above threshold") {
    val p = Dedup.jaccardPairs(spark, sf)
    assert(p.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(p.filter(col("jac") < Dedup.ShingleTau).count() == 0)
  }

  test("band curve: hierarchical configs nest, counts/recall monotone, curve agrees with driver-side banding (r16)") {
    import spark.implicits._
    import graft.functions.TextHashFunctions.{minHashSig => sigFn}
    val sigs = Tables.documents(spark, sf)
      .select(col("doc_id"), sigFn(shingleHashes(col("text"))).as("sig"))
    // candidate sets nest by construction: an r-row band match means both
    // constituent r/2-row halves match
    val cands = Dedup.BandCurveRows.map(r => r ->
      Dedup.bandCandidates(sigs, r).as[(Long, Long)].collect().toSet).toMap
    Dedup.BandCurveRows.sliding(2).foreach { case Seq(lo, hi) =>
      assert(cands(hi).subsetOf(cands(lo)),
        s"cand(r=$hi) ⊄ cand(r=$lo): ${(cands(hi) -- cands(lo)).take(3)}")
    }
    val curve = Dedup.minhashBandCurve(spark, sf)
      .select("rows_per_band", "n_cand", "n_true", "n_hits")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(curve.map(_._1).toSeq == Dedup.BandCurveRows.map(_.toLong))
    // registered counts equal the driver-side candidate sets + truth join
    val truth = Dedup.jaccardPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    curve.foreach { case (r, nCand, nTrue, nHits) =>
      assert(nCand == cands(r.toInt).size.toLong, s"r=$r n_cand")
      assert(nTrue == truth.size.toLong, s"r=$r n_true")
      assert(nHits == (cands(r.toInt) & truth).size.toLong, s"r=$r n_hits")
    }
    // nesting ⇒ candidate count and recall monotone non-increasing in r
    curve.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2, s"n_cand grew: r ${lo._1} → ${hi._1}")
      assert(hi._4 <= lo._4, s"hits grew: r ${lo._1} → ${hi._1}")
    }
    // non-vacuous both ways: the tallest bands still catch the exact
    // duplicates, and the widest config admits false candidates the
    // verify step would prune (the precision trade is real on this data)
    assert(curve.last._4 > 0, "r=16 caught no true pair")
    assert(curve.head._2 > curve.head._4, "r=2 admitted no false candidate — precision arm vacuous")
  }

  /** connectedComponents' two forms: the driver union-find under the
    * default broadcast threshold, the distributed hash-min rounds with
    * broadcasts off (threshold -1). The suffix keeps the default-gate
    * test names unchanged. */
  private val gates = Seq("" -> None, " (distributed rounds)" -> Some("-1"))
  private def underGate[T](gate: Option[String])(body: => T): T =
    gate.fold(body)(g => withConf("spark.sql.autoBroadcastJoinThreshold" -> g)(body))

  /** Union-find ground truth over `pairs`, written independently of the
    * operator: (node, component minimum, node == minimum). Roots ARE
    * component minima because unions always point the larger root at the
    * smaller one. */
  private def unionFindLabels(pairs: Seq[(Long, Long)]): Set[(Long, Long, Boolean)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb }
    pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map { m => val root = find(m); (m, root, m == root) }.toSet
  }

  test("near-dup clusters match a driver-side union-find over the same pairs") {
    import spark.implicits._
    val pairs = Dedup.minhashPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    // independent ground truth: textbook union-find with path compression
    val want = unionFindLabels(pairs.toSeq)
    val got = Dedup.neardupClusters(spark, sf)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == want)
    // every cluster keeps exactly one survivor
    val bad = Dedup.neardupClusters(spark, sf).groupBy("cluster")
      .agg(sum(when(col("is_survivor"), 1L).otherwise(0L)).as("n_surv"))
      .filter(col("n_surv") =!= 1L)
    assert(bad.count() == 0)
  }

  for ((suffix, gate) <- gates)
    test("connected components of the near-dup pairs match a union-find" + suffix) {
      import spark.implicits._
      val pairs = Dedup.minhashPairsRaw(spark, sf).select("doc_a", "doc_b")
      val want = unionFindLabels(pairs.as[(Long, Long)].collect().toSeq)
      assert(want.exists(!_._3), "fixture has no near-dup pair — test is vacuous")
      val got = underGate(gate)(Dedup.connectedComponents(pairs)
        .as[(Long, Long, Boolean)].collect().toSet)
      assert(got == want)
    }

  test("connected components of driver-sized pairs take O(1) jobs, not two per round") {
    val pairs = Dedup.minhashPairsRaw(spark, sf).select("doc_a", "doc_b").localCheckpoint()
    // re-checkpoint (materialized by the gate's count) + collect; the
    // union-find itself runs no job
    val driver = jobsDuring(Dedup.connectedComponents(pairs).collect())
    assert(driver <= 4, s"connectedComponents launched $driver jobs beyond its pair input")
    // the distributed rounds cost more on the same input: the bound above
    // separates the two forms
    val rounds = underGate(Some("-1"))(jobsDuring(Dedup.connectedComponents(pairs).collect()))
    assert(rounds > 4, s"distributed rounds launched only $rounds jobs")
  }

  for ((suffix, gate) <- gates)
    test("connected components propagate across chains (multi-round convergence)" + suffix) {
      import spark.implicits._
      // a 5-node chain plus a separate pair: hash-min needs MULTIPLE rounds
      // here (the corpus's clique-like clusters converge in one), so this
      // pins the iterative propagation itself, incl. transitivity
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
        .toDF("doc_a", "doc_b")
      val got = underGate(gate)(Dedup.connectedComponents(pairs)
        .as[(Long, Long, Boolean)].collect().toSet)
      val want = Set(
        (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false), (5L, 1L, false),
        (10L, 10L, true), (11L, 10L, false))
      assert(got == want)
    }

  for ((suffix, gate) <- gates)
    test("connected components of an empty pair list are empty" + suffix) {
      import spark.implicits._
      val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
      assert(underGate(gate)(Dedup.connectedComponents(none).count()) == 0)
    }

  test("embedding clusters match a driver-side union-find over embedding pairs") {
    import spark.implicits._
    val pairs = Dedup.embeddingPairs(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    val want = unionFindLabels(pairs.toSeq)
    val got = Dedup.embeddingClusters(spark, sf)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == want)
  }

  test("incremental survivors = new batch minus cross-batch near-dups") {
    import spark.implicits._
    // independent expected set from the exact all-pairs ground truth:
    // odd (new-batch) ids having a near-dup pair with an even (indexed) id
    val pairs = Dedup.jaccardPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val droppedNew = pairs.collect {
      case (a, b) if a % 2 == 0 && b % 2 == 1 => b
      case (a, b) if a % 2 == 1 && b % 2 == 0 => a
    }.toSet
    val allNew = Tables.documents(spark, sf).filter(col("doc_id") % 2 === 1)
      .select("doc_id").as[Long].collect().toSet
    val got = Dedup.incrementalSurvivors(spark, sf).as[Long].collect().toSet
    assert(got == allNew -- droppedNew)
    // dupes of the OTHER parity must not leak into the decision
    assert(got.forall(_ % 2 == 1))
  }

  test("bloom incremental dedup is exact: equals the plain anti-join") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val want = docs.filter(col("doc_id") % 2 === 1)
      .join(docs.filter(col("doc_id") % 2 === 0).select("text"),
        Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    val got = Dedup.incrementalSurvivorsBloom(spark, sf).as[Long].collect().toSet
    assert(got == want)
  }

  test("bloom pre-filter routes most new docs around the verify join") {
    import spark.implicits._
    // with a 2^17-bit / 5-probe filter over ~n/2 index docs the false-
    // positive probability is well under 1%, so flagged docs must be (true
    // cross-side dups) + (a tiny FP margin) — the bypass is the point: at
    // scale only this sliver reaches the shuffle join
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val nBatch = docs.filter(col("doc_id") % 2 === 1).count()
    val trueDups = docs.filter(col("doc_id") % 2 === 1)
      .join(docs.filter(col("doc_id") % 2 === 0).select("text"),
        Seq("text"), "left_semi").count()
    val flagged = Dedup.bloomFlagged(spark, sf)
      .filter(col("maybe_dup")).count()
    assert(flagged >= trueDups, "a true duplicate escaped the bloom filter")
    assert(flagged <= trueDups + math.max(2L, nBatch / 100),
      s"FP rate too high: flagged=$flagged trueDups=$trueDups batch=$nBatch")
  }

  test("simhash fingerprints are deterministic across runs") {
    val f1 = Dedup.simhashFingerprints(spark, sf).collect().toSeq
    val f2 = Dedup.simhashFingerprints(spark, sf).collect().toSeq
    assert(f1 == f2)
  }

  test("simhash pairs stay within the hamming threshold") {
    val p = Dedup.simhashPairs(spark, sf)
    assert(p.filter(col("hamming") > Dedup.HammingTau).count() == 0)
  }

  test("embedding near-dup pairs respect the cosine threshold and ordering") {
    val p = Dedup.embeddingPairs(spark, sf)
    assert(p.filter(col("cos") < Dedup.CosineTau - 1e-6).count() == 0)
    assert(p.filter(col("vec_a") >= col("vec_b")).count() == 0)
  }

  test("embedding pair plan is a cluster-local equi-join: no nested loop, no B² tiles") {
    val plan = Dedup.embeddingPairs(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the demoted exact-audit form joins a generated block-pair range; the
    // registered cluster-local form must not (r9 — the last scale-killer)
    assert(!plan.contains("Range ("), plan)
  }

  test("cluster-local pairs = exact global pairs ∩ same-cluster (and measured recall)") {
    import spark.implicits._
    val exact = Dedup.embeddingPairsExact(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val cluster = operators.Similarity.kmeans(spark, sf)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    val want = exact.filter { case (a, b) => cluster(a) == cluster(b) }
    val got = Dedup.embeddingPairs(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(got == want, "cluster-local pair graph must be exactly the same-cluster slice")
    assert(got.subsetOf(exact))
    // the trade is measured, not hidden: report the global recall the
    // SemDeDup partitioning keeps at this sf (info only — the contract is
    // the same-cluster slice, asserted above)
    if (exact.nonEmpty)
      info(f"cluster-local recall vs exact global pairs: ${got.size.toDouble / exact.size}%.3f (${got.size}/${exact.size})")
  }

  test("corpus guard: max pair cosine stays below the tight-τ LSH decay region") {
    // ADVICE r8: q_embedding_clusters_tight pairs an exact oracle with a
    // probabilistic LSH engine path, sound ONLY while the corpus has no
    // pairs in the decay region (cos 0.90-0.95, hamming > 9). Pin that
    // assumption: if regenerated testdata ever grows pairs near the 0.9
    // boundary, this fails loudly instead of silently masking under-recall.
    val row = Dedup.embeddingPairsExact(spark, sf)
      .agg(org.apache.spark.sql.functions.max("cos")).collect()(0)
    val maxCos = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    assert(maxCos < 0.85,
      f"corpus max pair cosine $maxCos%.3f entered the sign-LSH decay region — " +
        "re-verify tight-τ candidate recall before trusting the exact oracle")
  }

  test("tight-τ pairs: planted near-duplicates are all found (candidate recall 1)") {
    import spark.implicits._
    // deterministic corpus: 40 base gaussian vectors + a perturbed copy of
    // each (cos ≥ ~0.995 — the true-duplicate regime the operator targets)
    val rnd = new scala.util.Random(42)
    val base = Seq.tabulate(40)(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val dups = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val got = Dedup.embeddingPairsTightRaw(Dedup.vectorsWithSigFrom(df))
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // ground truth: brute force over all pairs in driver memory
    val all = (base ++ dups).map { case (i, v) => (i, v.map(_.toDouble)) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) { d += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cos(va, vb) >= Dedup.TightCosineTau
    } yield (ia, ib)).toSet
    assert(want.size >= 40, s"planted corpus must contain its duplicates, got ${want.size}")
    assert(got == want)
  }

  test("tight-τ clusters: planted duplicates pair up, everything labels correctly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Seq.tabulate(20)(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val dups = base.map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val vs = Dedup.vectorsWithSigFrom(df)
    val comps = Dedup.connectedComponents(Dedup.embeddingPairsTightRaw(vs)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // every base vector anchors its duplicate's cluster
    assert(comps.length == 40)
    assert(comps.count(_._3) == 20)
    assert(comps.filter(!_._3).forall { case (id, cl, _) => cl == id - 100L })
  }

  test("tight-τ on the live corpus: zero pairs, every vector a singleton survivor") {
    // this testdata's max pair cosine is 0.51 — the tight query must say so
    assert(Dedup.embeddingPairsTight(spark, sf).count() == 0)
    val cl = Dedup.embeddingClustersTight(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    assert(cl.count() == n)
    assert(cl.filter(col("cluster") =!= col("vec_id")).count() == 0)
    assert(cl.filter(!col("is_survivor")).count() == 0)
  }

  test("tight-τ pair plan is bucket-only: no cartesian, no nested loop, no block tiles") {
    val plan = Dedup.embeddingPairsTight(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the B²-tile form joins a generated block-pair range; the tight form must not
    assert(!plan.contains("Range ("), plan)
  }

  test("dup spans: longest duplicated run matches an in-memory recompute") {
    import spark.implicits._
    val got = Dedup.dupSpans(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // independent recompute on trigram STRINGS (no hashing): the operator's
    // 60-bit hash must not change any dup flag
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val tris = docs.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toArray
    }.toMap
    val docFreq = tris.toSeq.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, v) => s -> v.map(_._2).distinct.size }
    val want = docs.map { case (id, _) =>
      val ts = tris(id)
      var best = 0L; var run = 0L
      ts.foreach { s =>
        if (docFreq(s) >= 2) { run += 1; best = math.max(best, run) }
        else run = 0
      }
      (id, ts.length.toLong, best, if (best > 0) best + 2 else 0L)
    }.sortBy(_._1).toSeq
    assert(got == want)
    // the signal is live: some doc has a duplicated span, none exceeds its length
    assert(got.exists(_._3 > 0))
    got.foreach { case (_, n, r, s) => assert(r <= n && (s == 0 || s == r + 2)) }
  }

  test("span scrub: cuts exactly the (longest, earliest) duplicated span") {
    import spark.implicits._
    val got = Dedup.spanScrub(spark, sf)
      .as[(Long, Long, Long, Long, Long, String)].collect().toSeq
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val tris = docs.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toArray
    }.toMap
    val docFreq = tris.toSeq.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, v) => s -> v.map(_._2).distinct.size }
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      val dup = tris(id).zipWithIndex.collect { case (s, i) if docFreq(s) >= 2 => i }
      // maximal runs of consecutive dup positions → (run, start), pick
      // longest then earliest
      val runs = dup.foldLeft(List.empty[(Int, Int)]) { (acc, i) =>
        acc match {
          case (run, st) :: rest if st + run == i => (run + 1, st) :: rest
          case _ => (1, i) :: acc
        }
      }
      runs.sortBy { case (r, st) => (-r, st) }.headOption match {
        case None =>
          (id, w.length.toLong, -1L, 0L, w.length.toLong, md5(w.mkString(" ")))
        case Some((r, st)) =>
          val cw = w.take(st) ++ w.drop(st + r + 2)
          (id, w.length.toLong, st.toLong, r + 2L, cw.length.toLong, md5(cw.mkString(" ")))
      }
    }.sortBy(_._1).toSeq
    assert(got == want)
    // live and bounded: some doc is cut (tiny vocabulary: at this sf every
    // doc shares trigrams), and not every doc loses everything
    assert(got.exists(_._4 > 0) && got.exists(_._5 > 0))
  }

  test("containment pairs match a driver-side brute force over shingle sets") {
    import spark.implicits._
    val got = Dedup.containmentPairs(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), shingleHashes(col("text")).as("hs"))
      .as[(Long, Seq[Long])].collect().map { case (id, hs) => id -> hs.toSet }
    val want = (for {
      (ida, sa) <- sets; (idb, sb) <- sets if ida < idb
      inter = (sa & sb).size.toLong
      minSz = math.min(sa.size, sb.size).toLong
      if inter * Dedup.ContainDen >= minSz * Dedup.ContainNum
    } yield (ida, idb, inter, sa.size.toLong, sb.size.toLong,
      math.rint(inter.toDouble / minSz * 1e6) / 1e6)).toSeq.sorted
    assert(got == want)
    // containment strictly extends symmetric Jaccard: every Jaccard
    // near-dup pair at jac >= 0.9 is also a containment pair
    val jacHigh = Dedup.jaccardPairs(spark, sf).filter(col("jac") >= 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(jacHigh.subsetOf(got.map(t => (t._1, t._2)).toSet))
  }

  test("minhash estimate audit matches a driver-side signature recompute") {
    import spark.implicits._
    import graft.functions.TextHash
    val got = Dedup.minhashEstimate(spark, sf)
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    // same pair set as the verified near-dup pairs
    val pairs = Dedup.minhashPairs(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(t => (t._1, t._2)) == pairs.map(t => (t._1, t._2)))
    assert(got.map(_._5) == pairs.map(_._3)) // jac_exact rides through
    // recompute all 64 affine minima driver-side from the raw shingle hashes
    val sig: Map[Long, Array[Long]] = Tables.documents(spark, sf)
      .select(col("doc_id"), shingleHashes(col("text")).as("hs"))
      .as[(Long, Seq[Long])].collect().map { case (id, hs) =>
        id -> Array.tabulate(TextHash.NumHashes) { j =>
          hs.map(h => (TextHash.coefA(j) * (h % TextHash.P) + TextHash.coefB(j)) % TextHash.P).min
        }
      }.toMap
    got.foreach { case (a, b, nMatch, jacEst, _, err) =>
      val want = sig(a).zip(sig(b)).count { case (x, y) => x == y }.toLong
      assert(nMatch == want && nMatch >= 0 && nMatch <= 64)
      assert(jacEst == math.rint(nMatch / 64.0 * 1e6) / 1e6)
      assert(math.abs(err) <= 1.0)
    }
  }
}
