package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with graft's scale-oriented defaults.
  *
  * Local runs use `local[N]`; on a real cluster the same conf block applies
  * unchanged (master comes from spark-submit). Defaults chosen for the
  * 100 TB design point:
  *   - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  *     and broadcast-join demotion/promotion based on observed sizes.
  *   - shuffle.partitions sized to the local core count for tests; on a
  *     cluster AQE's coalescing makes the initial number non-critical.
  *   - `nanosAsLong` so parquet TIMESTAMP(NANOS) columns (one of the
  *     encodings producers have used for `events.ts`) read as bigint
  *     nanoseconds instead of failing; `Tables.tsUsColumn` then adapts to
  *     whichever type actually arrives.
  *   - `InferFiltersFromGenerate` EXCLUDED: the rule rewrites
  *     `Generate(explode(e))` to first filter `size(e) > 0 AND
  *     isnotnull(e)`, and predicate pushdown then substitutes alias
  *     definitions through every Project below — so a computed array
  *     (shingle sets, token splits: the engine's hottest explode inputs)
  *     is evaluated THREE times per row, two of them inside a
  *     non-codegen Filter. Measured on the trigram-shingle explode at
  *     100×: 48.9 s → 0.7 s (70×) with the rule off; every
  *     explode-over-computed-array family (d2/d4/d7/t*) pays the same
  *     tax. The inferred filter buys nothing here — Generate itself
  *     skips empty arrays, and no plan of ours has an exchange between
  *     the inferred filter and the generate. The hot library operators
  *     ALSO use [[graft.functions.ArrayOps.explodeDense]] (explode_outer
  *     + drop the null row, which the rule cannot touch) so they keep
  *     the fast shape under sessions graft did not build.
  *   - `spark.sql.codegen.cache.maxEntries` raised from Spark's 100 to
  *     [[CodegenCacheMaxEntries]]. Spark keeps compiled whole-stage and
  *     projection classes in one JVM-wide LRU cache of that many entries.
  *     A pass over a few rows already needs more than 100 classes, so at
  *     100 a warm pass recompiles whatever was evicted since its last run;
  *     one pass over the whole 241-row registry at sf0.01 compiles about
  *     2.7k distinct classes. Measured on a 4-core VM, 4096 against 100:
  *     the registry's second pass went from 102–104 s to 75 s (3.3k
  *     recompiles down to about 105) for +48 MB of non-heap memory, and
  *     the perfbench dashboard warm pass from 4.8 s to 2.6 s (medians of
  *     ten seeds).
  *     The conf is STATIC and the cache is built once per JVM, at the
  *     first use of codegen, from the session active at that moment: the
  *     first session in a JVM sizes it, later sessions and [[tune]]
  *     cannot change it, so it must be set here, before `getOrCreate`.
  */
object Session {

  /** Entries of Spark's JVM-wide codegen class cache: headroom over the
    * engine's measured working set (see the object note).
    */
  val CodegenCacheMaxEntries = 4096

  /** Keep harness residue out of the repo root. Derby (the embedded
    * metastore db some catalog paths boot) resolves RELATIVE database
    * paths and drops `derby.log` under `derby.system.home`; pointing it at
    * `target/` moves both `metastore_db/` and `derby.log` there.
    * `spark.sql.warehouse.dir` (set in [[builder]])
    * moves `spark-warehouse/`. Must run before Derby first boots in the
    * JVM — builder() and tune() both call it, so every graft entry point
    * is covered.
    */
  def quietResidue(): Unit = {
    val t = new java.io.File("target")
    t.mkdirs()
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", t.getAbsolutePath)
  }

  def builder(cores: Int = 32): SparkSession.Builder = {
    quietResidue()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toString)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // ObjectHashAggregate falls back to SORT-BASED aggregation once a
      // task's hash map passes this many keys (default 128) — for graft's
      // typed aggregates that means sorting the ENTIRE input stream
      // (measured at 1000×: the 30k-key HLL state build spilled 27.6 GB
      // and the 400-shard freq-sketch build 17.7 GB, both pure fallback
      // sorts). Every graft TypedImperativeAggregate buffer is bounded by
      // construction (HLL image ≈ 4 KB fixed, frequent-items capped by
      // maxMapSize, DataSketches images), so 2048 buffers/task is
      // ~10–100 MB — far cheaper than the sort it replaces. Re-measured
      // with the raise: both builds zero spill.
      //
      // HAZARD (documented, deliberate): the conf is session-wide, so it
      // equally lets UNBOUNDED-buffer ObjectHashAggregates — ExactMedian,
      // collect_list, collect_set — hold up to 2048 buffers per task
      // before falling back to sort. On a high-cardinality grouping with
      // wide per-group value sets that is an executor OOM risk the 128
      // default would have converted into (slow but safe) sort fallback.
      // It cannot be scoped per-operator from a lazy library API — the
      // threshold is read from the session conf when the plan EXECUTES,
      // not when the DataFrame is built — so callers mixing graft's
      // bounded-buffer sketches with their own unbounded collects on
      // hot keys should bracket the latter with [[withConf]] restoring
      // the 128 default (see ExactMedian's scaladoc).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2048")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
  }

  /** Library entry point: the session comes with the whole engine wired —
    * graft's optimizer rule (user-written window-argmax rewrites to the
    * partial-aggregating max_by form) and the `graft_*` SQL functions.
    * Sessions built elsewhere opt in via `spark.sql.extensions=
    * graft.plans.GraftExtensions` or `GraftExtensions.registerFunctions`.
    */
  def get(cores: Int = 32): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Seq(graft.plans.ArgmaxRewrite, graft.plans.CseFilterProject).foreach { r =>
      if (!s.experimental.extraOptimizations.contains(r))
        s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ r
    }
    graft.plans.GraftExtensions.registerFunctions(s)
    s
  }

  /** Run `body` with runtime confs temporarily overridden, restoring the
    * prior values (or unsetting) afterwards. The override only affects
    * jobs EXECUTED inside `body` — Spark reads runtime confs at execution,
    * not at DataFrame construction — so wrap the ACTION (count/write/
    * collect), not the operator call. Built for the
    * objectHashAggregate.fallbackThreshold hazard documented on
    * [[builder]]: e.g.
    * `Session.withConf(spark, "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128") { df.write.parquet(p) }`
    * restores sort-fallback safety around an unbounded-buffer collect on
    * a high-cardinality grouping.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) =>
      k -> (try Option(spark.conf.get(k)) catch { case _: Exception => None })
    }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => try spark.conf.unset(k) catch { case _: Exception => () }
    }
  }

  private val codegenCacheWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Apply graft's runtime-settable defaults to an externally-built session.
    * Static confs are skipped by Spark automatically when already fixed;
    * a codegen cache smaller than [[CodegenCacheMaxEntries]] is one of
    * them, so it is reported with one warning per JVM instead. Also
    * registers the `graft_*` SQL functions (idempotent — re-registration
    * overwrites in place), so a tuned session has the same SQL surface as
    * [[get]]: the SQL-text rows (s5l, x12c, q_*_sql) must resolve them
    * in any session.
    */
  def tune(spark: SparkSession): SparkSession = {
    quietResidue()
    val runtime = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // bounded-buffer typed aggregates must hash-aggregate, not sort
      // (see builder note: 128-key fallback sorted the corpus at 1000×)
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2048",
      "spark.sql.session.timeZone" -> "UTC")
    runtime.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    // once per JVM: the cache it describes is JVM-wide, and operators
    // re-tune the session they are handed on every call
    val codegenCache = spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt
    if (codegenCache < CodegenCacheMaxEntries && codegenCacheWarned.compareAndSet(false, true))
      System.err.println(s"[session] WARNING: spark.sql.codegen.cache.maxEntries is " +
        s"$codegenCache, below graft's $CodegenCacheMaxEntries; it is static, so " +
        "warm queries will recompile their generated code. Build the session " +
        "with Session.builder, or set the conf before the first session starts.")
    // MERGE the generate-filter exclusion into any exclusions the caller's
    // session already carries — a plain set() would silently re-enable
    // them (round-13 self-review)
    val inferRule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val existing = try spark.conf.get("spark.sql.optimizer.excludedRules")
      catch { case _: Exception => null }
    val merged = Option(existing).map(_.split(",").map(_.trim).filter(_.nonEmpty))
      .getOrElse(Array.empty[String])
    if (!merged.contains(inferRule))
      try spark.conf.set("spark.sql.optimizer.excludedRules",
        (merged :+ inferRule).mkString(","))
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    // the graft optimizer rules travel with tuning too: a session built
    // elsewhere must plan the same shapes as Session.get —
    // r14 found the verify-kernel CSE absent from benched plans because
    // only get() registered the experimental rules
    Seq(graft.plans.ArgmaxRewrite, graft.plans.CseFilterProject).foreach { r =>
      if (!spark.experimental.extraOptimizations.contains(r))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ r
    }
    graft.plans.GraftExtensions.registerFunctions(spark)
    spark
  }
}
