package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Bounded-memory spill rehearsal (dev tooling, like Bench/Verify): runs
  * the shingle-fence dedup family with the heap and the storage pool
  * deliberately starved, so the corpus-order-sized shingle fence
  * (Dedup.fence's size-honesty note) cannot stay resident and
  * MEMORY_AND_DISK must degrade to a disk spill. Prints ONE JSON line:
  * per-query row count + md5 over the sorted rows (compare across a
  * starved and an unstarved run — equal hashes = results unchanged), the
  * cached-block memory/disk bytes (disk > 0 = the fence really spilled),
  * and total task-level shuffle/agg spill bytes.
  *
  * Usage:
  *   SPARK_DRIVER_MEM=8g  tools/run.sh graft.SpillRehearsal <sfDir>         # baseline
  *   SPARK_DRIVER_MEM=512m tools/run.sh graft.SpillRehearsal <sfDir> starve # rehearsal
  *
  * `starve` pins the unified pool to a few MB (fraction 0.05 of the
  * post-reserved heap) with a 30% storage floor — below the sf0.1 fence
  * footprint — and drops the Tungsten page size to 256 KB so spillable
  * execution (hash agg, sort) still gets pages inside the tiny pool and
  * degrades by SPILLING rather than failing allocation. Run it with
  * SPARK_GRAFT_CPUS=2: fewer concurrent tasks = a workable per-task share
  * of the starved pool. SCALE.md records the measured outcome.
  */
object SpillRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val starve = args.length > 1 && args(1) == "starve"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val b = Session.builder(cpus)
    val spark =
      (if (starve)
        b.config("spark.memory.fraction", "0.05")
          .config("spark.memory.storageFraction", "0.3")
          .config("spark.buffer.pageSize", "256k")
      else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // task-level spill accounting (listener survives the whole run)
    val memSpill = new java.util.concurrent.atomic.AtomicLong(0)
    val diskSpill = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
        }
    })

    // the fence-heavy dedup family: inverted-index pairs, banded MinHash,
    // iterative clusters, and the standing-index incremental pass —
    // plus the r11 heavyweights (VERDICT ask #8): the Apriori triple
    // fan-out, the histogram-cube build+serve, and the grid spatial join
    // — plus the r13 additions: the double-aggregate TPC-H Q18 (this
    // round's heaviest shuffle, 176k records at sf0.1), FP-Growth's
    // path-grouped pattern-base aggregate, and the PCA covariance
    // triangle (2080-struct per-row expansion into a partial-combined
    // DECIMAL aggregate — the widest map-side fan-out on the board)
    // — plus the suffix family: the span readout's doubling ladder
    // (localCheckpoint blocks, MEMORY_AND_DISK — the largest cached state
    // on the board, one rank table per round) must degrade to disk under
    // the starved pool while the walk still produces identical hashes;
    // the incremental mask exercises the stored-index read path too
    val queries = Seq("q_neardup_jaccard", "q_neardup_minhash",
      "q_neardup_clusters", "q_dedup_incremental",
      "q_assoc_rules3", "q_quantile_cube", "q_spatial_join",
      "q_tpch_q18", "q_fpgrowth", "q_pca_cov",
      "q_suffix_dedup", "q_suffix_mask", "q_suffix_mask_incremental")
    val results = queries.map { name =>
      val rows = SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).sorted
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.foreach(r => digest.update(r.getBytes("UTF-8")))
      name -> ((rows.length, digest.digest().map("%02x".format(_)).mkString))
    }

    // cached-block placement AFTER the family ran: the fence blocks'
    // disk bytes are the direct evidence of the MEMORY_AND_DISK degrade
    val storage = spark.sparkContext.getRDDStorageInfo
    val memUsed = storage.map(_.memSize).sum
    val diskUsed = storage.map(_.diskSize).sum

    val qs = results.map { case (n, (c, h)) => s""""$n":{"rows":$c,"md5":"$h"}""" }
      .mkString("{", ",", "}")
    println(s"""{"starve":$starve,"queries":$qs,""" +
      s""""cached_mem_bytes":$memUsed,"cached_disk_bytes":$diskUsed,""" +
      s""""task_mem_spilled":${memSpill.get},"task_disk_spilled":${diskSpill.get},""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
