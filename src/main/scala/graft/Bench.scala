package graft

/** Timing harness over every SparkEntry query. Single-shot shared-JVM
  * timings on the vector queries swing 2×+ between identical runs (GC,
  * JIT warmup, code-cache churn) — measured across rounds 3/4 on
  * byte-identical code — so each query is run `SPARK_GRAFT_BENCH_REPS`
  * times (default 3) and the MIN is reported: the minimum is the
  * noise-free estimator of a query's true cost (noise only ever adds
  * time). The cache is cleared between reps so no rep is timed against
  * another's persisted intermediates; the session memo
  * (`core.SessionMemo`) is cleared before each query's first rep, so
  * rep 1 is cold whatever query ran before, and later reps are warm.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.GraftSession.cores
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // optional comma-separated name filter for focused A/B timing runs
    // (tools/bench_notes_* adjudications); the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = graft.core.GraftSession.local()
    // ---- fixed-work calibration anchor (VERDICT r15 task 2; shared
    // with the funnel's budget gate — core.HostAnchor): timed at session
    // start so tools/bench_drift.py can compare anchor-NORMALIZED
    // per-query times, canceling uniform host drift; flags moves >1.3x
    // round-over-round. min-of-3 for the same noise-floor reason as the
    // queries themselves. Skipped on filtered (SPARK_GRAFT_BENCH_ONLY)
    // A/B probes — they never append history, so 3 x 600M rows of
    // anchor work would buy nothing (review r16).
    val anchor =
      if (only.isEmpty)
        (1 to 3).map(_ => graft.core.HostAnchor.anchorOnce(spark, cpus)).min
      else 0.0
    // `failed` marks a query whose fn threw on some rep: its time is
    // time-to-exception, meaningless for drift — it stays in the JSON
    // (the driver's record shape is load-bearing) but is excluded from
    // the appended history, so a broken round can't poison the gate as
    // a phantom improvement-then-regression (review r16)
    //
    // Mid-run stall evidence (VERDICT r16 task 7): the r16 driver session
    // stalled for its last 23 queries and nothing in the record showed it
    // — the anchor ran only at session start, so a mid-session host burst
    // poisoned the tail silently. Now every history row carries (a) a
    // wall-clock timestamp and (b) a SEGMENT anchor re-timed once per
    // `anchorEvery` queries (single-shot, ~0.6 s — cheap next to the 50
    // queries it covers), so tools/bench_drift.py can flag a session
    // whose own anchor shifted mid-run instead of adjudicating by memo.
    val anchorEvery = 50
    val tsFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
    var segAnchor = anchor
    var sinceAnchor = 0
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      if (only.isEmpty && sinceAnchor >= anchorEvery) {
        segAnchor = graft.core.HostAnchor.anchorOnce(spark, cpus)
        sinceAnchor = 0
        System.err.println(f"bench: segment anchor $segAnchor%.3f s " +
          f"(session-start anchor $anchor%.3f s)")
      }
      sinceAnchor += 1
      graft.core.SessionMemo.clear(spark) // rep 1 cold, see above
      var failed = false
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case _: Throwable => failed = true; -1L }
        // operators may persist intermediates (LSH docs, CC labels); drop
        // them so queries (and reps) are timed independently, not under
        // accumulated cache/GC pressure from earlier ones
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      name -> ((times.min, failed, tsFmt.format(java.time.Instant.now()),
        segAnchor))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v._1 }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    // the headline on BOTH sides of the full JSON: the driver keeps a
    // bounded stdout tail, and once the registry outgrew it the one big
    // line got cut mid-JSON ("parsed": null in BENCH_r09/r11). A compact
    // first line survives head-keeping capture, a compact last line
    // survives tail-keeping capture; the full per-query record lives in
    // SPARK_GRAFT_BENCH_OUT either way.
    val headline =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"anchor":$anchor,"sf":"$sfDir","reps":$reps}"""
    println(headline)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","anchor":$anchor,"queries":$qs,"sf":"$sfDir","reps":$reps}"""
    println(json)
    println(headline)
    // also write the JSON to a file: stdout tail capture truncates once the
    // registry outgrows the tail window (BENCH_r09 kept 55/82 timings), and
    // the file survives intact regardless of suite size
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "tools/bench_latest.json")
    try {
      val p = java.nio.file.Paths.get(out)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"bench: could not write $out: ${e.getMessage}")
    }
    // ---- per-query bench history (VERDICT r15 task 2): one appended TSV
    // row per (session, query) — session labeled by SPARK_GRAFT_ROUND if
    // the runner sets it, else a UTC timestamp — plus the session's
    // anchor, so tools/bench_drift.py can compare ANCHOR-NORMALIZED times
    // across sessions. Filtered (SPARK_GRAFT_BENCH_ONLY) runs don't
    // append: a targeted A/B probe is not a session record.
    if (only.isEmpty) {
      val label = sys.env.getOrElse("SPARK_GRAFT_ROUND",
        java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.now()))
      val hist = java.nio.file.Paths.get("tools/bench_history.tsv")
      try {
        // sf + cpus ride along so the comparator can refuse sessions
        // that measured different work (an sf0.01 smoke vs the sf0.1
        // record would otherwise flag everything 10x — review r16)
        val header =
          if (java.nio.file.Files.exists(hist)) ""
          else "session\tquery\tseconds\tanchor\tsf\tcpus\tts\tseganchor\n"
        val rows = results.filter(!_._2._2).map { case (k, v) =>
          s"$label\t$k\t${v._1}\t$anchor\t$sfDir\t$cpus\t${v._3}\t${v._4}"
        }.mkString("", "\n", "\n")
        java.nio.file.Files.write(hist, (header + rows).getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch { case e: Exception =>
        System.err.println(s"bench: could not append $hist: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
