package graft

import graft.operators.SuffixDedup
import org.apache.spark.sql.DataFrame

/** The suffix-array substring dedup (r15): planted-span exactness, full
  * honesty of every reported span against the raw text, and a brute-force
  * cross-check of the maximum on the real corpus — three independent
  * routes to the same numbers, none sharing code with the operator.
  */
class SuffixDedupSpec extends SparkSpec {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The registered mask body over an arbitrary documents frame. */
  private def windowMask(docs: DataFrame): DataFrame =
    SuffixDedup.windowMaskFrom(docs, SuffixDedup.windowsOf(docs))

  /** Driver-side brute-force mask, sharing code with neither the window
    * route nor the suffix array: for every pair of distinct start
    * positions, the LCP by direct token comparison; whenever it reaches
    * [[SuffixDedup.MaskMinLen]], [p, p + lcp − 1] is covered. Rows are
    * (doc_id, n_tokens, n_dup_tokens, dup_ppm) in doc_id order. */
  private def bruteMask(texts: Seq[(Long, String)]): Seq[(Long, Long, Long, Long)] = {
    val toks = texts.map { case (d, t) => d -> t.split(" ") }
    val starts = for ((d, ts) <- toks; p <- ts.indices) yield (d, ts, p)
    val covered = scala.collection.mutable.Set.empty[(Long, Int)]
    for ((da, ta, pa) <- starts; (db, tb, pb) <- starts if (da, pa) != (db, pb)) {
      var lcp = 0
      while (pa + lcp < ta.length && pb + lcp < tb.length && ta(pa + lcp) == tb(pb + lcp))
        lcp += 1
      if (lcp >= SuffixDedup.MaskMinLen) (pa until pa + lcp).foreach(i => covered += ((da, i)))
    }
    toks.map { case (d, ts) =>
      val nd = covered.count(_._1 == d).toLong
      (d, ts.length.toLong, nd, nd * 1000000 / ts.length)
    }.sortBy(_._1)
  }

  test("planted duplicated span is found with its exact length and positions") {
    import spark.implicits._
    // docs 1 and 2 share exactly the 5-token run "q w e r t"; all filler
    // tokens are unique, so the top span must be that run and the
    // staggered suffix tails must follow at lengths 4, 3, 2
    val docs = Seq(
      (1L, "a b q w e r t c d"),
      (2L, "u v x q w e r t y z"),
      (3L, "m n o p")
    ).toDF("doc_id", "text")
    val got = SuffixDedup.suffixDedupFrom(docs, SuffixDedup.buildRanks(docs))
      .collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(5L, 4L, 3L, 2L),
      s"expected staggered lcps 5,4,3,2; got ${got.map(_.getLong(0)).mkString(",")}")
    val top = got.head
    val pair = Set((top.getLong(1), top.getLong(2)), (top.getLong(3), top.getLong(4)))
    assert(pair == Set((1L, 3L), (2L, 4L)), s"top span at wrong positions: $pair")
    assert(top.getString(5) == md5hex("q w e r t"))
  }

  test("identical-tail edge: equal full suffixes cap at the true remaining length") {
    import spark.implicits._
    // both docs END with "x y" — sentinel-padded rank equality must cap
    // at the real 2-token agreement, not the walk's power-sum overshoot
    val docs = Seq((1L, "a x y"), (2L, "b x y")).toDF("doc_id", "text")
    val got = SuffixDedup.suffixDedupFrom(docs, SuffixDedup.buildRanks(docs))
      .collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(2L), "expected exactly the lcp-2 span")
    val top = got.head
    assert(Set((top.getLong(1), top.getLong(2)), (top.getLong(3), top.getLong(4)))
      == Set((1L, 2L), (2L, 2L)))
  }

  test("degenerate repetition: self-overlapping all-same-token spans cap exactly, brute force agrees") {
    import spark.implicits._
    // the hardest walk path: suffixes of one repeated token tie at every
    // level until the sentinel coordinate separates unequal tails — the
    // top span must be doc 1's pos-1 vs pos-2 SELF-overlap at lcp 5
    // (pos-2's full remaining length), not the power-sum overshoot
    val docs = Seq(
      (1L, "a a a a a a"),
      (2L, "a a a a"),
      (3L, "b c d e f")
    ).toDF("doc_id", "text")
    val got = SuffixDedup.suffixDedupFrom(docs, SuffixDedup.buildRanks(docs))
      .collect()
    assert(got.nonEmpty)
    val top = got.head
    assert(top.getLong(0) == 5L, s"expected top lcp 5, got ${top.getLong(0)}")
    // every reported span must verify against the raw text (the honesty
    // loop from the corpus test, on the adversarial fixture)
    val toks = Map(1L -> Array.fill(6)("a"), 2L -> Array.fill(4)("a"),
      3L -> Array("b", "c", "d", "e", "f"))
    got.foreach { r =>
      val (lcp, da, pa, db, pb) =
        (r.getLong(0).toInt, r.getLong(1), r.getLong(2).toInt, r.getLong(3), r.getLong(4).toInt)
      val sa = toks(da).slice(pa - 1, pa - 1 + lcp)
      val sb = toks(db).slice(pb - 1, pb - 1 + lcp)
      assert(sa.length == lcp && sb.length == lcp && sa.sameElements(sb),
        s"degenerate span verification failed: ($da,$pa)/($db,$pb) lcp=$lcp")
    }
    // independent brute force: max duplicated length over ALL position
    // pairs (self-overlaps included) is exactly 5
    def hasDup(len: Int): Boolean = {
      val seen = scala.collection.mutable.HashSet.empty[String]
      toks.values.exists(t => (0 to t.length - len)
        .exists(i => !seen.add(t.slice(i, i + len).mkString(" "))))
    }
    assert(hasDup(5) && !hasDup(6))
  }

  test("boundary: two identical 128-token docs report lcp exactly 128 (ADVICE r15 — the fixed-R=7 walk capped this at 127)") {
    import spark.implicits._
    // 128 distinct tokens, duplicated verbatim — derivation must pick
    // R = ⌈log₂ 129⌉ = 8 so the walk reach 2^8 − 1 = 255 covers it; the
    // r15 hardcoded R = 7 walked to 127 and its `> 128` guard never fired
    val text = (1 to 128).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val got = SuffixDedup.suffixDedupFrom(docs, SuffixDedup.buildRanks(docs))
      .collect()
    assert(got.head.getLong(0) == 128L,
      s"twin 128-token docs must report lcp 128, got ${got.head.getLong(0)}")
    assert((got.head.getLong(1), got.head.getLong(2), got.head.getLong(3),
      got.head.getLong(4)) == (1L, 1L, 2L, 1L))
  }

  test("derived rounds: a 200-token planted duplicate is found exactly, no constant to edit (VERDICT r15 ask #2)") {
    import spark.implicits._
    // 200-token docs (past the old 2^7 = 128 ceiling) sharing a planted
    // 40-token run; filler tokens are all distinct so the top span is
    // exactly the planted run — buildRanks must derive R = ⌈log₂ 201⌉ = 8
    val run = (1 to 40).map(i => s"r$i").mkString(" ")
    val d1 = ((1 to 100).map(i => s"a$i") ++ run.split(" ") ++ (1 to 60).map(i => s"b$i")).mkString(" ")
    val d2 = ((1 to 80).map(i => s"c$i") ++ run.split(" ") ++ (1 to 80).map(i => s"d$i")).mkString(" ")
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val ranks = SuffixDedup.buildRanks(docs)
    assert(ranks.length - 1 == 8, s"expected 8 derived rounds, got ${ranks.length - 1}")
    val top = SuffixDedup.suffixDedupFrom(docs, ranks).collect().head
    assert(top.getLong(0) == 40L, s"planted 40-token run not found: lcp=${top.getLong(0)}")
    assert((top.getLong(2), top.getLong(4)) == (101L, 81L),
      s"planted run at wrong positions: (${top.getLong(2)}, ${top.getLong(4)})")
  }

  test("every reported span is genuinely duplicated — tokens and fingerprint verified from raw text") {
    val spans = SuffixDedup.suffixDedup(spark, sf).collect()
    assert(spans.nonEmpty, "corpus has no duplicated span >= 2 tokens?")
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    spans.foreach { r =>
      val (lcp, da, pa, db, pb) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert((da, pa) != (db, pb), "span paired with itself")
      val sa = docs(da).slice(pa.toInt - 1, pa.toInt - 1 + lcp.toInt)
      val sb = docs(db).slice(pb.toInt - 1, pb.toInt - 1 + lcp.toInt)
      assert(sa.length == lcp && sb.length == lcp,
        s"span runs past a document end: ($da,$pa)/($db,$pb) lcp=$lcp")
      assert(sa.sameElements(sb), s"span tokens differ: ($da,$pa) vs ($db,$pb) lcp=$lcp")
      assert(r.getString(5) == md5hex(sa.mkString(" ")), "fingerprint mismatch")
    }
  }

  test("mask coverage: planted fixture marks exactly the duplicated run and nothing else") {
    import spark.implicits._
    // docs 1 and 2 share a MaskMinLen-long run; doc 3 is clean — the mask
    // must cover exactly those positions on both sides
    val run = ('a' to 'j').map(c => s"$c$c").mkString(" ") // 10 unique-ish shared tokens
    val docs = Seq(
      (1L, s"u1 u2 $run u3"),
      (2L, s"v1 $run v2 v3"),
      (3L, "w1 w2 w3 w4")
    ).toDF("doc_id", "text")
    val got = windowMask(docs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq((1L, 13L, 10L), (2L, 13L, 10L), (3L, 4L, 0L)),
      s"mask coverage wrong: $got")
    assert(got.head._4 == 10L * 1000000 / 13L)
  }

  test("constructing q_suffix_mask in a fresh session launches no job") {
    val fresh = spark.newSession()
    try {
      // the window count plans lazily: no rank ladder, no LCP walk
      val jobs = jobsDuring(SparkEntry.queries("q_suffix_mask")(fresh, sf))
      assert(jobs == 0, s"q_suffix_mask construction launched $jobs jobs")
    } finally operators.SessionMemos.evict(fresh)
  }

  test("mask honesty on the real corpus: every covered doc's count is within its length; full-dup docs are fully covered") {
    import spark.implicits._
    val mask = graft.operators.SuffixDedup.suffixMask(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(mask.nonEmpty)
    mask.foreach { case (d, n, nd, ppm) =>
      assert(nd >= 0 && nd <= n, s"doc $d: coverage $nd outside [0, $n]")
      assert(ppm == nd * 1000000 / n)
    }
    // the corpus plants whole-document duplicates (q_dedup_exact's
    // fixture); a doc whose top span runs pos 1 → its full length has a
    // verbatim twin and must be 100% covered
    val byDoc = mask.map(r => r._1 -> r).toMap
    val top = graft.operators.SuffixDedup.suffixDedup(spark, sf)
      .as[(Long, Long, Long, Long, Long, String)].collect()
    val fullDup = top.collect {
      case (lcp, da, 1L, _, _, _) if lcp == byDoc(da)._2 => da
    }.toSet
    assert(fullDup.nonEmpty, "no whole-document duplicate in the top spans?")
    fullDup.foreach { d =>
      val (_, n, nd, _) = byDoc(d)
      assert(nd == n, s"full-duplicate doc $d only covered $nd of $n tokens")
    }
  }

  test("mask is island-folded, not position-exploded: a long self-overlapping doc masks fully with an explode-free coverage plan (VERDICT r15 ask #1)") {
    import spark.implicits._
    // 400 tokens of a repeated 20-token phrase: every start's longest
    // duplicated prefix is huge (self-overlap), so a per-position explode
    // of each span would emit Σ lcp ≈ 70k intermediate rows for this one
    // doc; the island fold keeps O(starts). A clean doc pins the zero row.
    val phrase = (1 to 20).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, Seq.fill(20)(phrase).mkString(" ")),
      (2L, (1 to 30).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val mask = windowMask(docs)
    // plan shape: the coverage fold must NOT explode per-position
    // sequences (the r15 scale flaw); the only explodes in the whole
    // plan are the tokenizer's posexplode(split(...))
    val plan = mask.queryExecution.optimizedPlan.toString
    assert(!plan.contains("explode(sequence"),
      s"coverage still explodes per covered position:\n${plan.take(2000)}")
    val got = mask.as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 1 is 100% self-duplicated (every position starts or sits inside
    // a ≥MaskMinLen self-overlapping span); doc 2 is untouched
    assert(got == Seq((1L, 400L, 400L, 1000000L), (2L, 30L, 0L, 0L)),
      s"island mask wrong: $got")
  }

  test("incremental window mask equals a brute-force pairwise-LCP mask on a planted multi-batch corpus") {
    import spark.implicits._
    // base (even ids) and batch (odd ids) docs with duplication WITHIN
    // base, WITHIN batch, and ACROSS the two — the incremental serve must
    // see all three kinds through the combined posting counts
    val runA = (1 to 12).map(i => s"a$i").mkString(" ") // base ↔ base
    val runB = (1 to 15).map(i => s"b$i").mkString(" ") // batch ↔ batch
    val runC = (1 to 11).map(i => s"c$i").mkString(" ") // base ↔ batch
    val texts = Seq(
      (2L, s"u1 u2 $runA u3 $runC"),
      (4L, s"v1 $runA v2 v3"),
      (6L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),
      (1L, s"x1 $runB x2"),
      (3L, s"$runB y1 y2 $runC"),
      (5L, "z1 z2 z3")
    )
    val docs = texts.toDF("doc_id", "text")
    val full = bruteMask(texts)
    // the incremental route: base postings stored first, batch appended,
    // serve off the union (the registered query's exact shape)
    val dir = java.nio.file.Files.createTempDirectory("suffix-win-spec").toString
    SuffixDedup.appendWindowFrame(docs.filter($"doc_id" % 2 === 0), dir, 0L)
    SuffixDedup.appendWindowFrame(docs.filter($"doc_id" % 2 === 1), dir, 1L)
    val incr = SuffixDedup.windowMaskFrom(docs, spark.read.parquet(dir))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(incr == full, s"incremental serve diverged:\n  full=$full\n  incr=$incr")
    // and the cross-batch duplication is genuinely non-vacuous: docs 2
    // and 3 share runC, so both must show coverage beyond their
    // within-batch runs
    val byDoc = full.map(r => r._1 -> r._3).toMap
    assert(byDoc(6L) == 0L, "clean base doc must be uncovered")
    assert(byDoc(5L) == 0L, "clean batch doc must be uncovered")
    assert(byDoc(2L) >= (12L + 11L) && byDoc(3L) >= (15L + 11L),
      s"cross-batch runC not masked: $full")
  }

  test("property: island-fold coverage equals brute-force position counting on random interval sets (r16)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // random inclusive spans [pos, pos+len] per doc — overlapping,
    // nested, duplicated and adjacent cases all arise; the fold must
    // count exactly the union's positions in every one
    val span = Gen.zip(Gen.choose(1L, 60L), Gen.choose(0L, 15L))
      .map { case (p, l) => (p, p + l) }
    val spanList = Gen.nonEmptyListOf(span).map(_.take(12))
    val sets = (0 until 12).flatMap(i =>
      Gen.listOfN(3, spanList).apply(Gen.Parameters.default, Seed(1042L + i)))
    sets.foreach { perDoc =>
      val spans = perDoc.zipWithIndex.flatMap { case (ss, d) =>
        ss.map(s => ((d + 1).toLong, s._1, s._2)) }
      val docs = perDoc.indices
        .map(d => ((d + 1).toLong, (1 to 100).map(i => s"t$i").mkString(" ")))
        .toDF("doc_id", "text")
      val got = SuffixDedup.islandMask(docs, spans.toDF("doc_id", "pos", "pend"))
        .select("doc_id", "n_dup_tokens").as[(Long, Long)].collect().toMap
      perDoc.zipWithIndex.foreach { case (ss, d) =>
        val want = ss.flatMap(s => s._1 to s._2).toSet.size.toLong
        assert(got((d + 1).toLong) == want,
          s"doc ${d + 1}: island fold ${got((d + 1).toLong)} != brute-force $want over $ss")
      }
    }
  }

  test("property: fixed-window mask equals a brute-force pairwise-LCP mask on random corpora") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // binary-vocab random docs + one doc spliced from two others
    // (guaranteed ≥MaskMinLen cross-doc runs) + an all-"a" self-overlap
    // doc — the three duplication species the reduction must cover
    val doc = Gen.listOfN(30, Gen.oneOf("a", "b")).map(_.mkString(" "))
    val bases = (0 until 4).flatMap(i =>
      Gen.listOfN(3, doc).apply(Gen.Parameters.default, Seed(2042L + i)))
    bases.foreach { base =>
      val planted = (base(0).split(" ").slice(0, 15) ++
        base(1).split(" ").slice(5, 20)).mkString(" ")
      val texts = base :+ planted :+ Seq.fill(20)("a").mkString(" ")
      val rows = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val full = bruteMask(rows)
      val incr = windowMask(rows.toDF("doc_id", "text"))
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(incr == full, s"window route diverged on corpus:\n${texts.mkString("\n")}")
      // the sample is non-vacuous: the planted doc must show coverage
      assert(full.exists(r => r._1 == 4L && r._3 > 0),
        "planted splice doc shows no duplication — fixture broken")
    }
  }

  test("stored-artifact serve equals the scan-time top spans; plan reads only store + documents (r16)") {
    val full = SuffixDedup.suffixDedup(spark, sf).collect().map(_.toString).toSeq
    val served = SuffixDedup.suffixSpansServed(spark, sf).collect().map(_.toString).toSeq
    assert(served == full, "stored-artifact serve diverges from the scan-time readout")
    // the serve plan touches only the persisted LCP index and documents
    // (span fingerprints) — no rank-ladder lineage anywhere
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val paths = SuffixDedup.suffixSpansServed(spark, sf)
      .queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      }.flatten
    assert(paths.nonEmpty && paths.forall(p =>
      p.contains("graft-suffix-lcp-index") || p.contains("documents")),
      s"serve plan reads beyond store + documents: $paths")
    assert(paths.exists(_.contains("graft-suffix-lcp-index")), "store not in the serve plan")
  }

  test("top lcp equals the brute-force longest duplicated substring on the real corpus") {
    val spans = SuffixDedup.suffixDedup(spark, sf).collect()
    val top = spans.head.getLong(0)
    // independent driver-side brute force: hash every span of length
    // `top + 1` — if none duplicates, `top` is maximal; and at least one
    // length-`top` span must duplicate (existence, from the honesty test)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getString(1).split(" "))
    def hasDupOfLen(len: Int): Boolean = {
      val seen = scala.collection.mutable.HashSet.empty[String]
      docs.exists { toks =>
        (0 to toks.length - len).exists { i =>
          !seen.add(toks.slice(i, i + len).mkString(" "))
        }
      }
    }
    assert(hasDupOfLen(top.toInt), s"reported max lcp $top has no duplicate?!")
    assert(!hasDupOfLen(top.toInt + 1),
      s"a duplicated span of length ${top + 1} exists but the suffix array reported max $top")
  }
}
