package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional key filter (comma-separated) for targeted tiers — e.g. the
    // heavy tail at a 10x replica tier, written to its OWN artifact so
    // the canonical full-suite BENCH.json is never clobbered by a subset
    val keyFilter = sys.env.get("SPARK_GRAFT_BENCH_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = keyFilter match {
      case Some(ks) => SparkEntry.queries.filter { case (n, _) => ks(n) }
      case None     => SparkEntry.queries
    }
    // a filter that matches nothing (typo'd key list) must be a RED run,
    // not a green empty artifact — same rationale as the -1.0 exit below
    for (ks <- keyFilter if selected.isEmpty) {
      Console.err.println(
        s"ERROR: SPARK_GRAFT_BENCH_KEYS matched no declared keys: ${ks.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    // Untimed warm-up across the distinct physical paths (hash join, hash
    // agg, window function, events timestamp-shim scan) — JIT + codegen +
    // parquet footer caches, so timed queries measure the operator, not
    // JVM startup. Under a key filter, warm only SELECTED keys: on a big
    // replica tier an unselected 60M-row warm-up join would dominate the
    // wall clock for keys that never touch those tables.
    for (w <- Seq("q_join_inner", "q_agg_hash", "q_win_rank", "q_tumbling")
           if keyFilter.forall(_(w)))
      try SparkEntry.queries.get(w).foreach(_(spark, sfDir).count())
      catch { case _: Throwable => () }
    // min of three runs: steady-state operator cost, insulated from one-off
    // JIT/GC noise (each run is a full plan + execute — nothing is cached;
    // ambient VM load was measured swinging full-bench totals ±30%, and the
    // min is the statistic that converges on the true operator cost).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val results = selected.map { case (name, fn) =>
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case t: Throwable =>
                   // a red key must say WHY on stderr: the 100×-tier
                   // min-of-3 run failed 14 keys with swallowed
                   // exceptions and left nothing to diagnose
                   Console.err.println(s"[bench] $name failed: " +
                     s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}")
                   false
                 }
        // Stop the clock HERE: the cleanup below (unpersist + System.gc)
        // is inter-key housekeeping, not operator cost. Timing it charged
        // a full-GC pause to every key — on a loaded machine that was a
        // uniform ~+0.2 s/key floor (round-11 driver run read 104.2 s vs
        // 61.7 s committed on identical plans).
        val elapsed = (System.nanoTime() - t0) / 1e9
        // keys are independent, but localCheckpoint() persists its
        // materialized RDD in the block manager for the JVM lifetime —
        // left alone, checkpoint blocks accumulate across the suite and
        // at the 100× tier the leaked storage OOMed later keys (found
        // when the block-vector keys joined the scale probe). Each run
        // rebuilds its plan from scratch, so dropping them is free.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        // broadcast relations (the block-vector keys ship ~100 MB sides
        // at the 100× tier) are reaped by the ContextCleaner only after
        // their owners are GC'd — nudge collection so one key's
        // broadcasts don't squat the heap under the next key's run
        System.gc()
        (ok, elapsed)
      }
      // a throwing query must read as an ERROR (-1), not as a fast timing —
      // min-of-2 would otherwise prefer the quickest failure
      name -> (if (times.forall(_._1)) times.map(_._2).min else -1.0)
    }
    // ms resolution keeps the JSON line short — the driver's capture of
    // round 2's output was byte-truncated at the head, and full-precision
    // Double.toString (17 sig figs) tripled the line length for nothing
    def fmt(v: Double): String = (math.rint(v * 1000) / 1000).toString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // -1.0 sentinels are ERRORS, not timings: summing them deflates the
    // headline (round 9's committed value read 50.08 s while 24 queries
    // crashed). The total covers only measured queries; `failed` carries
    // the crash count so automation can detect a red run from the JSON.
    val (ok, bad) = results.partition(_._2 >= 0.0)
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","measured":${ok.size},"failed":${bad.size},"queries":$qs,"sf":"$sfDir"}"""
    // the CANONICAL artifact is the file — written whole, it cannot be
    // byte-truncated the way a captured stdout tail can; the single
    // printed line serves line-oriented consumers (no duplicates).
    // Root comes from SPARK_GRAFT_REPO or the launch cwd (user.dir) — a
    // hardcoded path would silently leave a STALE artifact on any other
    // checkout; a failed write must say so, not masquerade as fresh.
    val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO",
                                     System.getProperty("user.dir"))
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    for (path <- Seq(s"$repoRoot/$artifact",
                     s"${System.getProperty("java.io.tmpdir")}/graft_bench_last.json"))
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), line)
      catch { case e: Throwable =>
        Console.err.println(s"WARN: bench artifact write failed for $path: $e")
      }
    println(line)
    // The driver captures only a TAIL of stdout; with 170 per-key entries
    // the detailed line overflows that window and the captured fragment
    // starts mid-object (round 10's BENCH_r10.json had "parsed": null).
    // Emit a COMPACT summary as the LAST stdout line — short enough to
    // always fit a tail capture — and leave per-key detail to the full
    // line above and the BENCH.json artifact.
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","measured":${ok.size},"failed":${bad.size},"sf":"$sfDir","detail":"$artifact"}""")
    spark.stop()
    // A red bench run must be machine-detectable: the round-9 harness
    // recorded rc=0 with 24 crashed queries. Exit non-zero if any query
    // returned the -1.0 sentinel (after the artifact is safely written).
    if (bad.nonEmpty) {
      Console.err.println(s"ERROR: ${bad.size} queries failed: ${bad.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
