package graft
import org.apache.spark.metrics.source.CodegenMetrics

/** Benchmark main: runs every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line. A query that throws is reported with its error and
  * an explicit `failed` list — a broken query must never bench as a fast
  * success (the count() it skips would otherwise read as a speedup).
  */
object Bench {
  /** One row's measurements: `best` is the reported min, `b2lo`/`b2hi` its
    * two best warm runs, `wmin`/`wmax` the full warm range, `compiles` the
    * codegen classes each run compiled (run 1 first).
    */
  private final case class RowResult(name: String, best: Double, b2lo: Double,
    b2hi: Double, wmin: Double, wmax: Double, error: Option[String],
    compiles: Vector[Long]) {
    // the reported min itself failed to replicate (see `noisy` below)
    def noisy: Boolean = error.isEmpty && b2lo > 0 && b2hi / b2lo > 1.5 && b2hi - b2lo > 0.1
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.get(cpus)
    // Warm the JVM (Spark core JIT, codegen infra) on data-free work so the
    // first measured query doesn't absorb one-time startup cost.
    spark.range(1000000).selectExpr("sum(id)").collect()
    // CO-TENANCY SENTINEL (r16 What's-wrong #1: two same-code captures 16%
    // apart with a uniform per-query ratio — capture-time external load,
    // unreadable after the fact). A fixed CPU-bound probe, min of 3, is
    // timed AFTER JIT warm-up and compared against the committed idle-box
    // reference below: a capture whose sentinel runs >1.5× the reference
    // was taken on a loaded box, and the artifact says so about ITSELF
    // (`warmup_sec` + `cotenant`) instead of leaving round-over-round
    // totals to guesswork.
    val warmupSec = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      // modulo keeps the sum far from long overflow under ANSI mode
      spark.range(64000000L).selectExpr("sum(id % 1000000)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    // IO-SENSITIVE SENTINELS (r17 Next #3: two sentinel-idle same-code
    // captures still differed 1.054× — the CPU modulo-sum is blind to
    // disk/page-cache contention). r19 (r18 ADVICE + VERDICT #3): the
    // read probe scans a FIXED self-generated 600k-row file instead of
    // $sfDir/lineitem.parquet — the old probe's duration scaled with the
    // fixture, so its committed reference was only valid at sf0.1 (any
    // larger dir flagged cotenant=true on an idle box). The synthetic
    // frame matches the sf0.1 lineitem probe's work shape (600k rows,
    // ~10 MB, three aggregated columns) so the probe keeps its
    // sensitivity while the reference becomes per-hardware only.
    // A WRITE probe joins it: the r18 capture-band attribution showed
    // page-cache pollution drifting exactly the WRITE-path rows
    // (s10/s11/s12, the sink chains) while staying under both read-side
    // sentinels — dirty-writeback pressure is only visible to a write.
    // A failed probe iteration must NOT enter the min as a fast success:
    // failures record +inf, and an all-failed probe emits -1 with that
    // arm excluded from the verdicts.
    val ioProbeDir = "target/tmp/io_probe.parquet"
    def ioFrame = spark.range(600000L).selectExpr("id",
      "cast(id % 97 as double) as a", "cast(id % 1000003 as long) as b",
      "repeat(chr(65 + cast(id % 26 as int)), 8) as s")
    def probe(label: String)(body: => Unit): Double = {
      val raw = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try { body; (System.nanoTime() - t0) / 1e9 }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $label probe failed (continuing): ${e.getMessage}")
          Double.PositiveInfinity
        }
      }.min
      if (raw.isInfinity) -1.0 else raw
    }
    // seed the read-probe file (untimed; also warms its page-cache state
    // to the same point every capture starts from)
    try ioFrame.write.mode("overwrite").parquet(ioProbeDir)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] io probe seed failed: ${e.getMessage}")
    }
    val ioProbeSec = probe("io read") {
      spark.read.parquet(ioProbeDir)
        .selectExpr("sum(a)", "sum(b % 1000000)", "sum(length(s))").collect()
    }
    // The write probe's frame is materialized OUTSIDE the timed body (r19
    // ADVICE: generating ioFrame's range + repeat/chr expressions inside
    // the timing aliased CPU contention into the write arm and partially
    // duplicated the CPU sentinel). Cached + counted first, so the timed
    // body is dominated by parquet encode + dirty-writeback pressure —
    // the thing this arm exists to see. Same work shape as before, so the
    // committed reference band (0.27-0.32 idle on this hardware) still
    // holds; re-measured r20: 0.27-0.31 idle.
    val ioWriteFrame = ioFrame.persist()
    try ioWriteFrame.count()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] io write probe fill failed (continuing): ${e.getMessage}")
    }
    val ioWriteSec = probe("io write") {
      ioWriteFrame.write.mode("overwrite").parquet("target/tmp/io_probe_w.parquet")
    }
    ioWriteFrame.unpersist(blocking = true)
    // MEMORY-BANDWIDTH SENTINEL (r20, the fourth arm — r19 VERDICT #1(c)
    // predicted a blind spot and this round hit it: a box with clean CPU,
    // IO-read and IO-write stamps still ran the whole suite a uniform
    // ~1.22× slower than the r18 capture box, steal 0.5%, frequency
    // pinned — short-burst probes cannot see sustained-throughput
    // differences such as a slower memory subsystem on a different host
    // generation. This arm scans a ~3 GB cached long column across all
    // cores for ~a second per iteration — memory-bound, not compute- or
    // disk-bound — so a capture taken on a box whose sustained bandwidth
    // differs from the committed reference stamps ITSELF the way
    // cotenant/page-cache captures already do. Reference measured idle on
    // this round's box; env-overridable per hardware like the other refs.
    val membwFrame = spark.range(400000000L).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try membwFrame.count()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] membw probe fill failed (continuing): ${e.getMessage}")
    }
    val membwSec = probe("membw") {
      membwFrame.selectExpr("sum(id % 7)").collect()
    }
    membwFrame.unpersist(blocking = true)
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run — for focused iteration
    // (blank env var means "all")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // Materialize the table caches before measuring: Tables.table
    // repartitions+persists single-row-group scans, and the first query (in
    // sorted order) to touch each table would otherwise absorb its one-time
    // load cost — measured: d1_dedup_exact benched at 15.9s (vs ~2s real)
    // because it paid the full documents-corpus persist. Load-once caching
    // is the reference's own model (app.py:84-85); queries measure queries.
    // Skipped in focused (SPARK_GRAFT_ONLY) runs: those are for relative
    // iteration, and warming all 10 tables would dominate their wall time.
    // Each warm-up is individually fenced: one unloadable table must cost
    // only the queries that touch it, never the round's entire performance
    // artifact (r9: an events schema change outside any try killed the whole
    // bench 19 s in — zero timings recorded for 125 unaffected queries).
    if (only.isEmpty) {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
        .foreach { t =>
          // NonFatal only: an OOM/LinkageError here means the session is
          // broken — limping on would produce misleading per-query numbers
          try Tables.table(spark, sfDir, t).count()
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] warm-up $t failed (continuing): ${e.getMessage}")
          }
        }
      try Tables.events(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up events failed (continuing): ${e.getMessage}")
      }
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // deterministic (sorted) execution order: hash-map order changes when
    // queries are added, which silently moves cache-fill and codegen-warmup
    // costs between queries across rounds
    //
    // Each query runs `runs` times and reports the MIN: a single-shot
    // capture conflates the query with whatever external load / GC pause /
    // page-cache state the round happened to hit (the recorded r5 artifact
    // inflated heavy queries up to 7.5× vs a clean rerun). Min-of-k rejects
    // that interference; note it MEASURES THE WARMED STEADY STATE — a
    // query-internal persist built on run 1 (loan-pattern sets, chain
    // caches) is live for run 2, consistent with the reference's
    // load-once-query-many model (A15) and the table warm-up above.
    // SPARK_GRAFT_RUNS overrides (1 restores single-shot; blank/invalid
    // values fall back to the default rather than aborting the run).
    // Caches created by queries are deliberately NOT swept between
    // queries: DataFrame persists register logical plans in the session
    // CacheManager, and an RDD-level unpersist leaves a dead entry that
    // turns every later persist of the same plan (e.g. d4b reusing d2's
    // shingle sets) into an uncached recompute; Spark's LRU handles
    // genuine storage pressure.
    // Default 3: run 1 fills query-internal caches (cold), runs 2-3 measure
    // the warmed steady state twice — so a >1.5× min-max spread among the
    // SUCCESSFUL runs' warm pair indicates genuine external interference,
    // not the ordinary cold-vs-warm gap (which runs=2 conflated with it).
    val runs = math.max(1,
      sys.env.get("SPARK_GRAFT_RUNS").flatMap(_.trim.toIntOption).getOrElse(3))
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // generated classes compiled per run: Spark compiles only on a miss
      // in its JVM-wide codegen cache, so a warm run's count is the code it
      // could not reuse (see Session.CodegenCacheMaxEntries)
      val compiles = Vector.newBuilder[Long]
      def once(): (Double, Option[String]) = {
        System.gc() // isolate queries from each other's garbage
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        // toRdd.count(), NOT Dataset.count(): count() plans a NEW query
        // whose column pruning DELETES expensive expressions the count
        // doesn't need — a row whose cost lives in its final projection
        // (sketches, per-row scores) would bench its scan, not its work
        // (found r14: a sketch-state row's 50-core-s aggregate pruned to
        // 16). toRdd executes the row's ACTUAL optimized plan, every
        // column computed, nothing shipped to the driver.
        val err = try { fn(spark, sfDir).queryExecution.toRdd.count(); None }
                  catch { case e if scala.util.control.NonFatal(e) =>
                    System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                    Some(e.getClass.getSimpleName)
                  }
        val dt = (System.nanoTime() - t0) / 1e9
        compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        (dt, err)
      }
      var timings = (1 to runs).map(_ => once()).toVector
      // interference detector input: the WARM successful runs (run 1 fills
      // query-internal caches by design, so its gap vs run 2 is expected,
      // not noise).
      def warm = timings.zipWithIndex.collect { case ((t, None), i) if i > 0 => t }
      // Adaptive re-measure: when the warm runs fail to replicate (>1.5×
      // AND >100 ms), the cause is either a one-off external blip — extra
      // runs will agree with the smaller value — or genuine instability —
      // they won't. Up to 2 extra runs, paid ONLY by unstable rows (the
      // stable bulk of the suite costs nothing extra). Measured r8: single
      // blips inflated d4/d6 warm spreads to 5× while their minima stayed
      // reproducible; re-measuring separates that from real bimodality.
      var extra = 0
      def unstable: Boolean = {
        val w = warm
        w.size >= 2 && w.max / w.min > 1.5 && w.max - w.min > 0.1
      }
      while (extra < 2 && runs >= 3 && unstable) {
        timings = timings :+ once(); extra += 1
      }
      // a query that failed on ANY run is reported failed (a flaky query
      // must not bench as its fastest successful run). Timings come from
      // SUCCESSFUL runs when at least one succeeded — a fast-fail duration
      // is not a measurement of the query and must not understate the
      // total (only when every run failed does the failure time stand in).
      val ok = timings.collect { case (t, None) => t }
      val base = if (ok.nonEmpty) ok else timings.map(_._1)
      // The noisy flag asks "is the reported MIN reproducible?", so it
      // compares the two SMALLEST warm runs after re-measuring: a single
      // interference blip among agreeing runs is rejected by min-of-k and
      // must not condemn the row; persistent disagreement even between
      // the two best measurements is genuine. Falls back to all measured
      // runs when fewer than two warm successes exist (runs=1, or run 1
      // was the only success). The reported interval stays the FULL warm
      // range — a flagged row shows everything the detector saw.
      val w = { val ws = warm; if (ws.size >= 2) ws else base }
      val best2 = w.sorted.take(2)
      RowResult(name, base.min, best2.min, best2.max, w.min, w.max,
        timings.flatMap(_._2).headOption, compiles.result())
    }
    val qs = results.map(r => s"${jstr(r.name)}:${r.best}").mkString("{", ",", "}")
    val failed = results.flatMap(r => r.error.map(e => s"${jstr(r.name)}:${jstr(e)}"))
      .mkString("{", ",", "}")
    // self-identifying spread: queries whose two BEST warm runs (after the
    // adaptive re-measure above) disagree by >1.5× AND by at least 100 ms
    // absolute — i.e. the reported min itself failed to replicate, so a
    // reader comparing rounds knows exactly which entries' numbers not to
    // trust. The interval printed is the full warm range. The absolute
    // floor exists because sub-100 ms queries swing past 1.5× on pure
    // scheduler jitter (f1_filter [0.077, 0.192]) — a spread that small
    // can't mislead a round-over-round comparison anyway.
    val noisy = results.filter(_.noisy).map(r => s"${jstr(r.name)}:[${r.wmin},${r.wmax}]")
      .mkString("{", ",", "}")
    val total = results.map(_.best).sum
    val nFailed = results.count(_.error.isDefined)
    // per row: codegen classes compiled by run 1, then by each warm run
    val compilesJson = results.map(r => s"${jstr(r.name)}:${r.compiles.mkString("[", ",", "]")}")
      .mkString("{", ",", "}")
    val compilesRun1 = results.map(_.compiles.head).sum
    val compilesWarm = results.map(_.compiles.tail.sum).sum
    // capture id: md5 of the per-query timing map — names THIS capture in
    // both the artifact and the summary a commit message is built from, so
    // a committed BENCH_DETAIL.json can never silently trail the capture
    // its commit body describes (three rounds of stamp-vs-artifact drift:
    // r11 c22e238, r12 a53676d, r13 8e93924)
    val captureId = java.security.MessageDigest.getInstance("MD5")
      .digest(qs.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    // Committed idle-box references for the co-tenancy sentinels
    // (min-of-3 on this round's hardware, local[32]; CPU probe = the 64M
    // modulo-sum, measured 0.159-0.222 s idle; IO read probe = the fixed
    // 600k-row synthetic scan (fixture-size-invariant, so the ref is
    // per-HARDWARE only — r18 ADVICE); IO write probe = the same frame
    // written to target/tmp). All are EMITTED into the
    // artifact next to their measurements, so a stale constant is
    // auditable from the JSON itself (r17 advisory: the hardcoded 0.17
    // left 25% headroom with no signal when the band drifted), and both
    // are env-overridable for other hardware without a rebuild.
    // a SET-but-unparseable override must fail loudly, not silently fall
    // back to this box's constant (that would reintroduce the r17
    // stale-reference problem on the machine the override was FOR)
    def refEnv(name: String, default: Double): Double = sys.env.get(name) match {
      case Some(v) => v.trim.toDoubleOption.getOrElse(
        sys.error(s"$name must be a number, got '$v'"))
      case None => default
    }
    // The committed reference constants below were measured at local[32]
    // on the capture box. They do NOT scale with core count (the warmup
    // and membw probes parallelize; the 8-core scaling run the driver
    // legitimately performs ran them ~2-4x the 32-core refs and
    // self-stamped CO-TENANT + MEMBW SUSPECT — r20 VERDICT #4). At any
    // other core count the verdict stamps are therefore SUPPRESSED (the
    // raw probe seconds still land in the artifact for the record) unless
    // the caller supplied a full set of refs for that hardware/width via
    // the env overrides.
    val refsCalibrated = cpus == 32 ||
      Seq("SPARK_GRAFT_WARMUP_REF", "SPARK_GRAFT_IO_REF",
        "SPARK_GRAFT_IOW_REF", "SPARK_GRAFT_MEMBW_REF")
        .forall(sys.env.contains)
    val warmupRefSec = refEnv("SPARK_GRAFT_WARMUP_REF", 0.19)
    // idle band measured r19 (4 captures, min-of-3 each): read
    // 0.247-0.342 (steady 0.25-0.28), write 0.274-0.335 (steady
    // 0.27-0.32) — refs sit at the steady band's top so a clean capture
    // never stamps suspect on scheduler jitter alone
    val ioRefSec = refEnv("SPARK_GRAFT_IO_REF", 0.28)
    val ioWriteRefSec = refEnv("SPARK_GRAFT_IOW_REF", 0.31)
    // idle band measured r20 on this box (min-of-3 across captures):
    // see the membw probe note above
    val membwRefSec = refEnv("SPARK_GRAFT_MEMBW_REF", 0.62)
    val cotenant = refsCalibrated && (warmupSec > 1.5 * warmupRefSec ||
      (ioProbeSec > 0 && ioProbeSec > 1.5 * ioRefSec) ||
      (ioWriteSec > 0 && ioWriteSec > 1.5 * ioWriteRefSec) ||
      (membwSec > 0 && membwSec > 1.5 * membwRefSec))
    // SLOW-BOX SUSPECT (r20): the sustained-bandwidth arm outside its
    // 1.2× band with the burst arms clean — totals from this capture are
    // not comparable against captures whose membw matched the reference
    // (the r19→r20 lesson: a uniform ~1.22× whole-suite drift arrived
    // with all three burst stamps clean).
    val membwSuspect = refsCalibrated && membwSec > 0 && membwSec > 1.2 * membwRefSec
    // PAGE-CACHE SUSPECT (r18 VERDICT #3): the r18 polluted capture sat
    // UNDER both 1.5× sentinels while drifting the write-path rows ~5% —
    // so a second, tighter band (1.2×) on either IO arm stamps the
    // capture suspect without condemning it. Round-over-round totals
    // should be compared between captures where this is false; when the
    // driver capture and the committed one disagree, the stamp says
    // which one was taken on a churned cache.
    val pageCacheSuspect = refsCalibrated && !cotenant &&
      ((ioProbeSec > 0 && ioProbeSec > 1.2 * ioRefSec) ||
       (ioWriteSec > 0 && ioWriteSec > 1.2 * ioWriteRefSec))
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"codegen_compiles":$compilesJson,"failed":$failed,"n_failed":$nFailed,"runs":$runs,"noisy":$noisy,"capture_id":"$captureId","warmup_sec":$warmupSec,"warmup_ref_sec":$warmupRefSec,"io_probe_sec":$ioProbeSec,"io_ref_sec":$ioRefSec,"io_write_sec":$ioWriteSec,"io_write_ref_sec":$ioWriteRefSec,"membw_sec":$membwSec,"membw_ref_sec":$membwRefSec,"sentinel_refs_calibrated":$refsCalibrated,"cotenant":$cotenant,"page_cache_suspect":$pageCacheSuspect,"membw_suspect":$membwSuspect,"codegen_compiles_total":{"run1":$compilesRun1,"warm":$compilesWarm},"sf":"$sfDir"}"""
    println(json)
    // Also persist the line to a file: stdout capture truncates on long
    // runs (BENCH_r04 lost 9 of 78 per-query timings to the log tail), so
    // the artifact must not depend on buffer luck.
    // Two copies: target/ for local iteration, and BENCH_DETAIL.json at the
    // repo root so the FULL per-query map gets committed each round — the
    // driver's BENCH_r*.json keeps only a 2000-char stdout tail, which has
    // amputated the per-query timings of full-suite runs more than once.
    // (focused SPARK_GRAFT_ONLY runs skip the repo-root copy — a partial
    // map must not overwrite the committed full-suite artifact)
    val outPaths = if (only.isEmpty) Seq("target/bench.json", "BENCH_DETAIL.json")
                   else Seq("target/bench.json")
    outPaths.foreach { p =>
      try {
        val out = java.nio.file.Paths.get(p)
        Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
      } catch { case e: Exception =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    // Companion summary STAMPED FROM THE ARTIFACT ITSELF, meant to be
    // pasted verbatim into the commit body of any BENCH_DETAIL refresh —
    // two rounds running, a commit message claimed "zero noisy" while the
    // artifact it described flagged rows (r11 c22e238, r12 a53676d). A
    // message derived from this line cannot drift from the capture.
    if (only.isEmpty) {
      val noisyKeys = results.filter(_.noisy).map(r => f"${r.name} [${r.wmin}%.2f, ${r.wmax}%.2f]")
      val summary = f"bench: ${results.size} queries, total $total%.1f s, " +
        s"failed $nFailed, capture $captureId, " +
        f"warmup $warmupSec%.2f s (ref $warmupRefSec%.2f), " +
        f"io $ioProbeSec%.2f s (ref $ioRefSec%.2f), " +
        f"iow $ioWriteSec%.2f s (ref $ioWriteRefSec%.2f), " +
        f"membw $membwSec%.2f s (ref $membwRefSec%.2f)" +
        f"${if (cotenant) " CO-TENANT (loaded box)" else ""}" +
        f"${if (pageCacheSuspect) " PAGE-CACHE SUSPECT" else ""}" +
        f"${if (membwSuspect) " MEMBW SUSPECT (slow box)" else ""}" +
        f"${if (refsCalibrated) "" else " SENTINELS UNCALIBRATED"}, noisy: " +
        (if (noisyKeys.isEmpty) "none" else noisyKeys.mkString("; ")) + "\n"
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("target/bench_summary.txt"), summary.getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write summary: ${e.getMessage}")
      }
      System.err.println("[bench] " + summary.trim)
    }
    // End-of-run cache hygiene: call in every graft loan (ledger + table
    // memos) and report what is STILL persisted — 0 proves the run leaves
    // no graft-owned cache residue (the warm-run sharing above happens
    // BETWEEN queries, within the run; nothing outlives it).
    val leftover = Caches.drain(spark)
    System.err.println(s"[bench] cache drain: $leftover persisted RDDs remain")
    // The one-line JSON is ALSO the last thing on stdout: round captures
    // that keep only a bounded stdout tail have repeatedly amputated the
    // FRONT of the (single, early) JSON line once per-run logging followed
    // it (BENCH_r19 parsed: null — the whole round-over-round comparison
    // was lost). Printing it first AND last means whichever end of the
    // log survives truncation carries a complete copy; target/bench.json
    // remains the canonical artifact.
    println(json)
    spark.stop()
  }
}
