package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicLong

/** 10×-scale probe harness (VERDICT r10 task #1): run the heavy / quadratic
  * query families at the bench scale AND at a [[ScaleGen]]-expanded scale,
  * recording per-query wall time plus the task-metric aggregates a wall
  * clock can't show — PEAK per-task execution memory (does the working set
  * stay flat?), spill bytes (did anything fall out of memory?), and
  * shuffle volume (does the exchange grow like the design says?).
  *
  * Emits one JSON line per (query, dir) to stdout AND appends to
  * `target/scale_probe.jsonl` so partial results survive an interrupted
  * run. Each query runs `runs` times; wall time reports min (the warmed
  * steady state, as Bench), metrics come from the LAST run only (reset
  * between runs — cold-run cache fills would otherwise inflate shuffle
  * totals).
  *
  * Usage: runMain graft.ScaleProbe <q1,q2,...> <dir> [runs]
  */
object ScaleProbe {

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import graft.operators.{Dedup, Multimodal}

  /** Probe-only query variants — plan shapes the scale probes need that
    * the oracle surface deliberately does not carry (forcing an internal
    * fallback path, or scaling a fixture knob the committed oracle pins):
    *   - `p_d6*_distributed`: the components family with
    *     `localEdgeLimit = 0`, forcing the DISTRIBUTED pointer-jumping
    *     path even when the edge list would take the size-gated local
    *     union-find — what a 100 TB corpus would always run.
    *   - `p_m2{b,e}_1k`: the decode fixtures at 10× the payload COUNT
    *     (doc_id < 1000 vs the oracle rows' < 100) — measures that corpus
    *     growth only adds partitions/wall, never per-task decode memory.
    * These run ONLY through ScaleProbe; correctness for the underlying
    * operators is gated by their oracle rows.
    */
  private val probeOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p_d6_distributed" -> ((s, d) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 2, 0.1),
        localEdgeLimit = 0L)
        .withColumnRenamed("id", "doc_id")),
    "p_d6b_distributed" -> ((s, d) =>
      Dedup.keepCanonical(Tables.documents(s, d), "doc_id",
        Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 2, 0.1),
        localEdgeLimit = 0L)),
    "p_d6c_distributed" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 2, 0.1)
        .select("id_1", "id_2")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val isNew = (col("id_1") + col("id_2")) % 3 === 0
      val res = Dedup.connectedComponentsIncremental(
        Dedup.connectedComponents(pairs.filter(!isNew), localEdgeLimit = 0L),
        pairs.filter(isNew), localEdgeLimit = 0L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      res.count()
      pairs.unpersist()
      res
    }),
    // the 100×-capable components probes: pairs from the SUBQUADRATIC
    // minhash banding (j ≥ 0.5, the d2 recipe) — the oracle d6 rows build
    // pairs with the exact-blocked quadratic (fine at bench SF, the
    // documented reference point), which no 100× corpus would run; what
    // these measure is the label machinery itself at scale
    "p_d6_mh_distributed" -> ((s, d) =>
      Dedup.connectedComponents(
        Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text", 0.5),
        localEdgeLimit = 0L)
        .withColumnRenamed("id", "doc_id")),
    "p_d6c_mh_distributed" -> ((s, d) => {
      val pairs = Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text", 0.5)
        .select("id_1", "id_2")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val isNew = (col("id_1") + col("id_2")) % 3 === 0
      val res = Dedup.connectedComponentsIncremental(
        Dedup.connectedComponents(pairs.filter(!isNew), localEdgeLimit = 0L),
        pairs.filter(isNew), localEdgeLimit = 0L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      res.count()
      pairs.unpersist()
      res
    }),
    // the r16 #8 stretch A/B: d2's verify INSIDE the band join (the d5g
    // shape — sets ride band rows, no candidate-sized exchange) vs the
    // production bloom-pruned sets-join verify. The kernel runs once per
    // band COLLISION here (a high-jaccard pair collides in many bands)
    // and KB-scale set arrays ride every band row — the hypothesis under
    // test is whether that beats sorting the sets frame twice at scale.
    "p_d2_verify_in_band" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nDocs = docs.count()
      val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
      val lk = Dedup.bandKeysCarrying(sets, "doc_id", "id_1", 32, 2, carrySets = true)
      val rk = Dedup.bandKeysCarrying(sets, "doc_id", "id_2", 32, 2, carrySets = true)
      // text-carrying kernel rows → the 2^16 rows/task width rule
      val l2 = Dedup.spreadKernel(lk, nDocs * 32, 1L << 16, col("band"), col("bkey"))
      val r2 = Dedup.spreadKernel(rk, nDocs * 32, 1L << 16, col("band"), col("bkey"))
      l2.join(r2, Seq("band", "bkey"))
        .filter(col("id_1") < col("id_2"))
        .withColumn("inter", graft.functions.ArrayOps
          .sortedIntersectSize(col("id_1_shs"), col("id_2_shs")).cast("double"))
        .withColumn("uni", (col("id_1_n") + col("id_2_n") - col("inter")).cast("double"))
        .withColumn("jaccard",
          round(when(col("uni") > 0, col("inter") / col("uni")).otherwise(0.0), 6))
        .filter(col("jaccard") >= 0.5)
        .select("id_1", "id_2", "jaccard").distinct()
    }),
    // j3b's task-memory lever: the bucketed as-of at HALF the bucket
    // width — same relation (width is a physical blocking knob), half
    // the per-(key, bucket) window state. The r17 third-decade row saw
    // 3.4×/decade peak-task growth on the densified fixture; this probe
    // measures that width is the lever that flattens it.
    "p_j3b_narrow" -> ((s, d) => {
      val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val clicks = Tables.events(s, d).filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      graft.operators.Joins.asofJoinBucketed(purchases, clicks,
        ("user_id", "user_id"), ("ts_us", "ts_us"),
        width = 1800000000L, tiebreak = Some("event_id"))
        .select("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
    }),
    // the r17 guard gate: the plain fixed-cap sparse-Jaccard name at the
    // EXACT parameterization whose 100× form disk-DNF'd the r16 sweep —
    // the probe records whether the call runs or REFUSES (and the wall
    // measures the histogram pricing pass, the only work a refusal costs)
    "p_d4f_guard" -> ((s, d) => {
      import s.implicits._
      val outcome =
        try {
          val n = Dedup.ngramJaccardPairsSparse(Tables.documents(s, d),
            "doc_id", "text", 3, 0.2, maxDf = 50).count()
          s"ACCEPTED: $n pairs"
        } catch {
          case e: IllegalArgumentException => "REFUSED: " + e.getMessage
        }
      Seq(outcome).toDF("guard_outcome")
    }),
    // the r18 in-SQL lifecycle guard: the guarded embedding-index fold
    // (d5k) at the canonical parameterization whose UNGUARDED fold the
    // r17 100× probe measured fatal — the probe records whether the
    // lifecycle runs or REFUSES (wall = the linear day-1 build plus the
    // pricing aggregates, the only work a refusal costs; no fold insert
    // ever runs on a refused day)
    "p_d5k_guard" -> ((s, d) => {
      import s.implicits._
      val outcome =
        try {
          val n = SparkEntry.queries("d5k_embed_index_guarded_sql")(s, d).count()
          s"ACCEPTED: $n survivors"
        } catch {
          case e: IllegalArgumentException => "REFUSED: " + e.getMessage
        }
      Seq(outcome).toDF("guard_outcome")
    }),
    // the r18 retrain arc under an appended-skew load AT SCALE: build the
    // IVF index on the full corpus, append one hot cell's entire
    // population AGAIN (2× the hottest cell — the pile-up appends create
    // when the frozen quantizer mis-fits arrivals), read the occupancy
    // telemetry, derive shouldRetrainIvf at a trigger the skew crosses,
    // and run the triggered rebuild; the row reports the arc's numbers
    // (pre/post imbalance, fired). Fresh dir every run — the probe
    // measures the WHOLE arc, not a staged replay.
    "p_sim_ivf_retrain_skew" -> ((s, d) => {
      import s.implicits._
      import graft.operators.Similarity
      val dir = "target/tmp/probe_ivf_retrain_skew"
      def rm(f: java.io.File): Unit =
        graft.sources.ParquetSink.deleteRecursively(f)
      rm(new java.io.File(dir))
      val emb = Tables.embeddings(s, d)
      Similarity.writeIvfIndex(
        Similarity.buildIvfIndex(emb, "vec_id", "embedding", dim = 64,
          k = 8, iters = 2), dir, "vec_id", shards = 32)
      val baseCells = s.read.parquet(s"$dir/cells")
      val hot = baseCells.groupBy("cell").count()
        .collect().maxBy(r => (r.getLong(1), -r.getInt(0))).getInt(0)
      val maxId = emb.agg(max("vec_id")).head().getLong(0)
      Similarity.updateIvfIndex(
        baseCells.filter(col("cell") === hot)
          .select((col("vec_id") + maxId + 1L).as("vec_id"), col("embedding")),
        dir, "vec_id", "embedding", shards = 32)
      val pre = Similarity.ivfIndexStats(s, dir).head()
      require(!pre.isNullAt(4),
        s"p_sim_ivf_retrain_skew: index at $dir reports no occupancy " +
          "imbalance — empty or degenerate index (empty embeddings fixture?)")
      // shouldRetrainIvf's arithmetic on the collected row (the API call
      // would re-scan cells/ for the same number)
      val fired = pre.getDouble(4) > 1.5
      if (fired)
        Similarity.retrainIvfIndex(s, dir, "vec_id", "embedding",
          dim = 64, k = 8, iters = 2, shards = 32)
      val post = Similarity.ivfIndexStats(s, dir).head()
      // same null discipline as the pre read (r18 ADVICE): a degenerate
      // index reports NULL imbalance — name it instead of NPE'ing
      require(!post.isNullAt(4),
        s"p_sim_ivf_retrain_skew: index at $dir reports no occupancy " +
          "imbalance after the arc — empty or degenerate index")
      // the k-growth lever: a same-k retrain cannot flatten an append
      // whose mass is GENUINELY dense (the duplicated blob is a real
      // cluster); the production rebuild grows k with the corpus —
      // deriveIvfK reads the same stats row and sizes the rebuild so
      // expected probe scan stays ~probes × targetMeanCell
      val kGrown = Similarity.deriveIvfK(s, dir,
        targetMeanCell = math.max(1L, post.getLong(1) / 64))
      val grown = Similarity.buildIvfIndex(
        s.read.parquet(s"$dir/cells").select("vec_id", "embedding"),
        "vec_id", "embedding", dim = 64, k = kGrown, iters = 2)
      val gImb = grown.cells.groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(round(max("n") / avg("n"), 6)).head().getDouble(0)
      Seq((pre.getDouble(4), fired, post.getDouble(4), kGrown.toLong, gImb,
        post.getLong(1)))
        .toDF("pre_imbalance", "retrained", "post_imbalance",
          "derived_k", "post_imbalance_derived_k", "vectors")
    }),
    // the retrain arc at the THIRD DECADE with per-stage walls and the
    // cost-crossover evidence (r18 VERDICT #5): the retrain-vs-rebuild
    // economics a pipeline actually faces is "how many probe batches
    // amortize one retrain" — so the probe times every stage of the arc
    // (append under frozen centroids, the stats read, the k derivation,
    // the staged k'-rebuild + swap) AND the same top-k probe batch
    // before/after, emitting the numbers the crossover arithmetic needs:
    // n_queries* = retrain_sec / (probe_pre_sec − probe_post_sec) per
    // batch. Dense-append skew load = the r18 skew recipe (the hottest
    // cell's population appended again). The rebuild runs at the DERIVED
    // k' (the production pairing the r18 finding established), so the
    // Lloyd passes dominate exactly as they would in production.
    "p_sim_ivf_retrain_arc" -> ((s, d) => {
      import s.implicits._
      import graft.operators.Similarity
      val dir = "target/tmp/probe_ivf_retrain_arc"
      graft.sources.ParquetSink.deleteRecursively(new java.io.File(dir))
      val emb = Tables.embeddings(s, d)
      def timed[T](body: => T): (T, Double) = {
        val t0 = System.nanoTime(); val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val (_, tBuild) = timed(Similarity.writeIvfIndex(
        Similarity.buildIvfIndex(emb, "vec_id", "embedding", dim = 64,
          k = 8, iters = 2), dir, "vec_id", shards = 32))
      val baseCells = s.read.parquet(s"$dir/cells")
      val hot = baseCells.groupBy("cell").count()
        .collect().maxBy(r => (r.getLong(1), -r.getInt(0))).getInt(0)
      val maxId = emb.agg(max("vec_id")).head().getLong(0)
      val (_, tAppend) = timed(Similarity.updateIvfIndex(
        baseCells.filter(col("cell") === hot)
          .select((col("vec_id") + maxId + 1L).as("vec_id"), col("embedding")),
        dir, "vec_id", "embedding", shards = 32))
      val (pre, tStats) = timed(Similarity.ivfIndexStats(s, dir).head())
      require(!pre.isNullAt(4), "p_sim_ivf_retrain_arc: degenerate index")
      // production probe-cost knob: expected scan ≈ probes × target rows
      val target = math.max(1L, pre.getLong(1) / 640)
      val (kPrime, tDerive) = timed(
        Similarity.deriveIvfK(s, dir, targetMeanCell = target))
      val queries = emb.filter(col("vec_id") < 1000)
      def probeBatch(): Double = timed(
        Similarity.ivfTopKFromIndex(Similarity.readIvfIndex(s, dir), queries,
          "vec_id", "embedding", k = 10, probes = 2)
          .queryExecution.toRdd.count())._2
      val tProbePre = probeBatch()
      val (_, tRetrain) = timed(Similarity.retrainIvfIndex(s, dir,
        "vec_id", "embedding", dim = 64, k = kPrime, iters = 2, shards = 32))
      val tProbePost = probeBatch()
      val post = Similarity.ivfIndexStats(s, dir).head()
      require(!post.isNullAt(4), "p_sim_ivf_retrain_arc: degenerate rebuild")
      Seq((pre.getLong(1), pre.getDouble(4), kPrime.toLong, post.getDouble(4),
        tBuild, tAppend, tStats, tDerive, tRetrain, tProbePre, tProbePost))
        .toDF("vectors", "pre_imbalance", "derived_k", "post_imbalance",
          "t_build", "t_append", "t_stats", "t_derive", "t_retrain",
          "t_probe_pre", "t_probe_post")
    }),
    "p_m2b_1k" -> ((s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 1000)
      val png = Multimodal.encodePngBatches(s, ids, "doc_id")
      Multimodal.decodeImageBatches(s, png, "doc_id").toDF()
    }),
    "p_m2e_1k" -> ((s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 1000)
      val avi = Multimodal.encodeAviBatches(s, ids, "doc_id")
      Multimodal.decodeVideoBatches(s, avi, "doc_id").toDF()
    }),
    "p_m2h_1k" -> ((s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 1000)
      val gif = Multimodal.encodeGifBatches(s, ids, "doc_id")
      Multimodal.decodeVideoBatches(s, gif, "doc_id").toDF()
    }),
    // d10 at scale: k grows with the corpus (cells ≈ 64 vectors) — the
    // paper's own recipe (k ∝ N) and the operator's 100 TB contract; the
    // oracle row deliberately pins k=8 (sf-stable, DuckDB-replayable),
    // which at 100× would be the documented quadratic reference point
    "p_d10_scaled_k" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val k = math.max(8L, emb.count() / 64L).toInt
      Dedup.semDedup(emb, "vec_id", "embedding", dim = 64, k = k,
        threshold = 0.4)
    }),
    "p_h1_rrf" -> ((s, d) => SparkEntry.queries("h1_hybrid_rrf")(s, d)),
    // d10c at scale: corpus-trained quantizer with k grown as in
    // p_d10_scaled_k; the batch is the d5c-style 1/11 slice
    "p_d10c_scaled_k" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") % 11 =!= 0)
      val k = math.max(8L, corpus.count() / 64L).toInt
      Dedup.semDedupIncremental(emb.filter(col("vec_id") % 11 === 0), corpus,
        "vec_id", "embedding", dim = 64, k = k, threshold = 0.4)
    }),
    // keep-best at 100×: pairs from the subquadratic minhash banding (the
    // p_d6_mh rationale) — measures the score-keep label machinery, not
    // the oracle row's exact-blocked pair generation
    "p_d6d_mh_distributed" -> ((s, d) =>
      Dedup.keepBest(Tables.documents(s, d), "doc_id",
        Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text", 0.5),
        "n_chars", localEdgeLimit = 0L)),
    // canonical-keep on the same subquadratic pairs — the d6b label
    // machinery's third-decade row (r15 #5)
    "p_d6b_mh_distributed" -> ((s, d) =>
      Dedup.keepCanonical(Tables.documents(s, d), "doc_id",
        Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text", 0.5),
        localEdgeLimit = 0L)),
    // d2f at scale: the same heavy exact-duplicate load (25% of docs
    // re-entered 8× → classes of size 9, a web-crawl-like dup rate) run
    // through the plain LSH vs the collapse-first entry. Identical output
    // relation (expand = true, DedupSpec-pinned); what differs is WHERE
    // the class quadratic lands — the plain path pays it in all 32 bands
    // of the self-join plus 8 redundant signature pipelines per class,
    // the collapsed path pays one 16-byte-fp exchange and re-emits it
    // only as output rows
    "p_d2_dup_plain" -> ((s, d) =>
      Dedup.minhashNearDups(dupInjected(s, d), "doc_id", "text", 0.5)),
    "p_d2f_dup_collapsed" -> ((s, d) =>
      Dedup.minhashNearDupsCollapsed(dupInjected(s, d), "doc_id", "text", 0.5)),
    // d4e at the rate a third-decade corpus would actually use: the oracle
    // row pins rate=0.25 (sf-stable strata for the DuckDB replay); at 1/16
    // the diagnostic prices the same plan from 6% of the postings
    "p_d4e_r16" -> ((s, d) =>
      Dedup.shingleDfStatsSampled(Tables.documents(s, d), "doc_id", "text", 3,
        rate = 0.0625)),
    // t27's PRODUCTION path (sketch only, no exact-side gate): bounded
    // state per partial, one image per partition across the exchange —
    // the row that proves "top terms without a vocabulary shuffle" scales
    "p_t27_hh" -> ((s, d) =>
      graft.operators.TermStats.heavyHitters(Tables.documents(s, d), "text",
        maxMapSize = 1024)),
    // the t7 exact form at the same scale — the vocabulary-sized exchange
    // t27 exists to avoid
    "p_t7_exact_vocab" -> ((s, d) =>
      SparkEntry.queries("t7_vocab")(s, d)),
    // the dataset card and the mixing solver at scale: both one corpus
    // pass + bounded per-source relations
    "p_x14_card" -> ((s, d) =>
      graft.operators.Analytics.corpusReport(Tables.documents(s, d), "text",
        "source")),
    "p_s5p_plan" -> ((s, d) =>
      graft.operators.Sampling.mixingPlan(Tables.documents(s, d), "source",
        "n_chars", temperature = 2.0, budget = 300000000L)),
    // d5h in the third decade, batch FIXED at its 10×-fixture size
    // (r15 #7): the gate's exact branch costs |batch|·|corpus| cosines BY
    // DESIGN ("pay compute, never memory"), so the honest corpus-growth
    // question for a daily ingest is per-batch probe cost vs corpus size —
    // fix the batch (vec_id < 200k: ~18k vectors at any fixture ≥10×),
    // grow the corpus, and require linear wall + the flat ~17 MB
    // broadcast-plus-one-partition task memory
    "p_d5h_fixed_batch" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.embeddingIncrementalAuto(
        emb.filter(col("vec_id") % 11 === 0 && col("vec_id") < 200000L),
        emb.filter(col("vec_id") % 11 =!= 0),
        "vec_id", "embedding", 0.45, dim = 64, bands = 32, bitsPerBand = 4,
        ordinal = true)
    }),
    // d9e sub-phase attribution (r15 #2): the auto pipeline cut at plan
    // points — the simhash+banding scan alone, then + the cells
    // aggregate — so the full-gate wall decomposes into sketch / price /
    // admit+verify
    "p_d9e_sketch" -> ((s, d) =>
      Dedup.fuzzyChunked(Tables.documents(s, d), "doc_id", "text", 40)),
    "p_d9e_cells" -> ((s, d) =>
      Dedup.fuzzyCells(
        Dedup.fuzzyChunked(Tables.documents(s, d), "doc_id", "text", 40))),
    // d2 sub-pipeline attribution probes: the same banded stream cut at
    // successive plan points, so spill/wall deltas pin WHICH exchange owns
    // the third-decade knee (banding narrow → self-join+filter → +distinct)
    "p_d2_banded" -> ((s, d) =>
      Dedup.bandKeys(Dedup.shingleSets(Tables.documents(s, d), "doc_id", "text", 3),
        "doc_id", "id_1", 32, 2)),
    "p_d2_rawcand" -> ((s, d) => {
      val sets = Dedup.shingleSets(Tables.documents(s, d), "doc_id", "text", 3)
      Dedup.bandKeys(sets, "doc_id", "id_1", 32, 2)
        .join(Dedup.bandKeys(sets, "doc_id", "id_2", 32, 2), Seq("band", "bkey"))
        .filter(col("id_1") < col("id_2"))
        .select("id_1", "id_2")
    }),
    "p_d2_cand" -> ((s, d) => {
      val sets = Dedup.shingleSets(Tables.documents(s, d), "doc_id", "text", 3)
      Dedup.bandKeys(sets, "doc_id", "id_1", 32, 2)
        .join(Dedup.bandKeys(sets, "doc_id", "id_2", 32, 2), Seq("band", "bkey"))
        .filter(col("id_1") < col("id_2"))
        .select("id_1", "id_2").distinct()
    }),
    // Bounded-state MEASUREMENT rows (r13 #5): serialized sketch-state
    // bytes against a 100×-wider key space — the x10c ("fixed HLL image
    // per key") and e10/t27b ("sketch state flat in the corpus, sized by
    // shards × maxMapSize") claims as numbers, not structure. The probe
    // preview carries the per-key-space rows into the artifact.
    "p_x10c_state_bytes" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      def stateBytes(nKeys: Int) =
        graft.operators.Agg.buildDistinctSketchState(
          li.withColumn("k", pmod(col("l_orderkey"), lit(nKeys))),
          Seq("k"), "l_partkey")
          .agg(lit(nKeys).as("key_space"), count(lit(1)).as("n_keys"),
            sum(length(col("state_hll"))).as("state_bytes"),
            max(length(col("state_hll"))).as("max_image_bytes"))
      stateBytes(300).unionByName(stateBytes(30000))
    }),
    // e3 in the PRODUCTION sink shape: streaming exact-dedup of the
    // document stream replayed AvailableNow into a parquet sink — result
    // rows never visit the driver, so the probe measures streaming state
    // + sink I/O, not a memory-sink collect
    "p_e3_parquet" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val src = s.readStream.schema(schema).parquet(s"$d/documents.*")
        .withColumn("ts_us", col("doc_id") + lit(1000000000000000L))
      // ONE fixed scratch dir, deleted up front: each invocation replays
      // from a clean checkpoint (the measurement) and at most one
      // corpus-sized output ever sits on disk — a nanoTime-keyed dir per
      // run accumulated ~5M-row outputs unboundedly across sessions
      val out = s"target/scratch_probe/e3_${new java.io.File(d).getName}"
      def rm(f: java.io.File): Unit =
        graft.sources.ParquetSink.deleteRecursively(f)
      rm(new java.io.File(out))
      graft.streaming.StreamOps.runToParquet(s,
        graft.streaming.StreamOps.dedupExactStreaming(src, "text", "ts_us", "1 hour")
          .select("fingerprint"), out)
    }),
    "p_e10_state_bytes" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def bytes(shards: Int) =
        graft.operators.TermStats.buildHeavyHitterShardStates(docs, "doc_id",
          "text", maxMapSize = 1024, shards = shards)
          .agg(lit(shards).as("shards"),
            sum(length(col("state_freq"))).as("state_bytes"),
            max(length(col("state_freq"))).as("max_image_bytes"))
      bytes(4).unionByName(bytes(400))
    }))

  /** Probes whose fn is NOT pure — re-invoking it re-runs a job with disk
    * side effects (p_e3_parquet deletes its scratch dir and replays the
    * whole stream). The tiny-result preview below skips these.
    */
  private val sideEffecting: Set[String] = Set("p_e3_parquet")

  /** 25% of the corpus re-entered 8 more times under shifted ids: exact-dup
    * classes of size 9 at a realistic crawl dup share (corpus grows 3×).
    */
  private def dupInjected(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.filter(col("doc_id") % 4 === 0)
    (1 to 8).foldLeft(docs)((acc, i) =>
      acc.unionByName(base.withColumn("doc_id",
        col("doc_id") + lit(i * 100000000L))))
  }

  private final class MetricsListener extends SparkListener {
    val peakTaskMem = new AtomicLong(0)
    val memSpill = new AtomicLong(0)
    val diskSpill = new AtomicLong(0)
    val shufWrite = new AtomicLong(0)
    val shufRead = new AtomicLong(0)
    // per-stage attribution (stageId → (memSpill, diskSpill, coreTimeNs,
    // taskCount, name)): the probe totals say THAT a query spills or is
    // slow; the top-stages lines say WHERE, keyed back to the plan by
    // stage name — the TASK COUNT is the stage's executed width, i.e.
    // the number AQE actually ran (the bytes-coalescing audit reads it)
    private val stages =
      scala.collection.concurrent.TrieMap.empty[Int, (Long, Long, Long, Long, String)]
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        peakTaskMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        val (ms, ds, rt, tc, n) = stages.getOrElse(te.stageId, (0L, 0L, 0L, 0L, ""))
        // executed width counts SUCCESSFUL attempts only: a retried or
        // speculative task would otherwise inflate the width the
        // bytes-coalescing audit compares against the requested kernel
        val tcInc = if (te.reason == org.apache.spark.Success) 1L else 0L
        stages.put(te.stageId, (ms + m.memoryBytesSpilled,
          ds + m.diskBytesSpilled, rt + m.executorRunTime * 1000000L, tc + tcInc, n))
        ()
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val id = sc.stageInfo.stageId
      stages.get(id).foreach { case (ms, ds, rt, tc, _) =>
        stages.put(id, (ms, ds, rt, tc, sc.stageInfo.name.takeWhile(_ != '\n').take(80)))
      }
    }
    def topSpillStages(k: Int = 5): String =
      stages.toSeq.filter(t => t._2._1 > 0 || t._2._2 > 0)
        .sortBy(t => -(t._2._1 + t._2._2)) // mem+disk: a pure disk-spiller
        .take(k).map { case (id, (ms, ds, _, tc, n)) => // must not drop out
          f"stage $id [$n]: mem ${ms / 1e9}%.1f GB disk ${ds / 1e9}%.1f GB ($tc tasks)"
        }.mkString(" | ")
    def topTimeStages(k: Int = 5): String =
      stages.toSeq.sortBy(-_._2._3).take(k).map { case (id, (_, _, rt, tc, n)) =>
        f"stage $id [$n]: ${rt / 1e9}%.1f core-s / $tc tasks"
      }.mkString(" | ")
    def reset(): Unit = {
      Seq(peakTaskMem, memSpill, diskSpill, shufWrite, shufRead).foreach(_.set(0))
      stages.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(sys.error("usage: ScaleProbe <q1,q2,...> <dir> [runs]"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).flatMap(_.toIntOption).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_SHUFFLE_PARTITIONS decouples the exchange width from the
    // core count: at N× data the per-partition working set grows N× under
    // a fixed partition count (the local-mode stand-in for "more
    // executors"), and raising it is how a cluster keeps sort/join state
    // in memory — the knee probe for the 100× runs.
    val shufParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // SPARK_GRAFT_ADVISORY_MB shrinks AQE's post-shuffle partition target —
    // with coalescing on, raw shuffle.partitions is NOT the binding width
    // (AQE merges back to the advisory size); this is the knob that sizes
    // per-task sort/join state, i.e. where the spill knee actually lives.
    val advisoryMb = sys.env.getOrElse("SPARK_GRAFT_ADVISORY_MB", "64")
    // SPARK_GRAFT_MAX_PARTITION_MB sizes the INPUT splits — the width of
    // map-side partial aggregates/sorts (pre-exchange state lives at scan
    // granularity, not shuffle granularity).
    val maxPartMb = sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_MB", "128")
    val spark = Session.builder(cpus.toInt)
      // harness knob, probes only: the driver-gated streaming replays
      // memory-sink their results, and at 1000× a corpus-sized result
      // (e3's ~5M deduped rows) exceeds the 1 GB default — the SINK would
      // become the measured ceiling instead of the streaming state. The
      // production shape is the parquet-sink replay (p_e3_parquet).
      .config("spark.driver.maxResultSize", "8g")
      // SPARK_GRAFT_EVENTLOG=1 writes the Spark event log under
      // target/eventlog for STAGE-LEVEL wall attribution — the listener's
      // run aggregates can say a config is slower but not which exchange
      // paid for it (the r19 d2 width investigation's tool)
      .config("spark.eventLog.enabled",
        if (sys.env.get("SPARK_GRAFT_EVENTLOG").exists(_ == "1")) "true" else "false")
      .config("spark.eventLog.dir", {
        // created only when event logging is actually on (r19 ADVICE —
        // an unconditional mkdirs left target/eventlog on every probe run)
        val d = new java.io.File("target/eventlog")
        if (sys.env.get("SPARK_GRAFT_EVENTLOG").exists(_ == "1")) d.mkdirs()
        d.getAbsolutePath
      })
      .config("spark.sql.shuffle.partitions", shufParts)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", s"${advisoryMb}m")
      .config("spark.sql.files.maxPartitionBytes", s"${maxPartMb}m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Session.tune(spark)
    // SPARK_GRAFT_STATESTORE=rocksdb runs the streaming replays under the
    // RocksDB provider — the production state store at real state sizes
    if (sys.env.get("SPARK_GRAFT_STATESTORE").exists(_.equalsIgnoreCase("rocksdb")))
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        graft.streaming.StreamOps.RocksDbProvider)
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val out = java.nio.file.Paths.get("target/scale_probe.jsonl")
    java.nio.file.Files.createDirectories(out.getParent)

    names.foreach { name =>
      val fn = probeOnly.getOrElse(name,
        SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name")))
      var rowCount = -1L
      val times = (1 to runs).map { _ =>
        System.gc()
        listener.reset()
        val t0 = System.nanoTime()
        // toRdd.count() executes the row's real plan (Dataset.count()'s
        // column pruning deletes expensive final-projection expressions —
        // the state-bytes probes' whole aggregate was pruned to a
        // distinct-key count; see Bench.once for the full note)
        rowCount = fn(spark, dir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      // metrics reflect the final (warmed) run; listener events are posted
      // asynchronously — the bus API is private, so give the queue a
      // moment to drain (task-end events trail the job by milliseconds)
      Thread.sleep(300)
      // SNAPSHOT the final run's metrics BEFORE the preview re-execution
      // below — without this the preview's tasks land in the same
      // counters and the artifact reports up to 2× the real spill/shuffle
      // (exactly on the tiny-result rows the preview exists for)
      val (pkM, mSp, dSp, sW, sR) = (listener.peakTaskMem.get,
        listener.memSpill.get, listener.diskSpill.get,
        listener.shufWrite.get, listener.shufRead.get)
      val spillLine = if (mSp > 0 || dSp > 0)
        Some(s"[scaleprobe] $name top spill stages: ${listener.topSpillStages()}")
        else None
      val timeLine = if (sys.env.contains("SPARK_GRAFT_STAGE_TIMES"))
        Some(s"[scaleprobe] $name top time stages: ${listener.topTimeStages()}")
        else None
      // tiny results ARE the measurement (the state-bytes probes return a
      // handful of aggregate rows) — carry them into the artifact. JSON
      // string escape covers control chars too (document text in a
      // preview row must not split the JSONL line), and each row is
      // capped so one wide row cannot bloat the artifact.
      def esc(s: String): String = s.flatMap {
        case '\\' => "\\\\"; case '"' => "\\\""; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
      // side-effecting probes must not re-execute for a preview: the
      // re-invocation would delete/replay the scratch sink AFTER the
      // metrics snapshot, silently doubling wall+disk for that invocation
      val preview =
        if (rowCount >= 1 && rowCount <= 8 && !sideEffecting(name))
          esc(fn(spark, dir).collect().map(_.toString.take(400)).mkString("; "))
        else ""
      val json =
        s"""{"query":"$name","dir":"$dir","rows":$rowCount,""" +
        s""""wall_min_s":${times.min},"wall_all_s":[${times.mkString(",")}],""" +
        s""""peak_task_mem":$pkM,""" +
        s""""mem_spill":$mSp,"disk_spill":$dSp,""" +
        s""""shuffle_write":$sW,"shuffle_read":$sR,""" +
        s""""preview":"$preview"}"""
      println(s"[scaleprobe] $json")
      spillLine.foreach(println)
      timeLine.foreach(println)
      java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }
}
