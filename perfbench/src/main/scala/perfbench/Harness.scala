package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** One client, closed loop: the benchmark process sends the engine one row
  * (a `graft.SparkEntry.queries` entry) at a time and waits for it to finish
  * before sending the next, like the reference's single dashboard user.
  *
  * A run is: a first session set-up (build + `Session.tune` + the
  * workload's tables loaded and persisted through `graft.Tables`), timed
  * from process start, then `setups` more set-ups in the same process, each
  * after the previous session stopped, then on the last session one cold
  * pass over the rows and `warm` warm passes. Each pass visits the rows in
  * an order drawn from the seed. A row is timed as two calls: construction,
  * `SparkEntry.queries(name)(spark, dir)`, and execution,
  * `queryExecution.toRdd.count()`, which runs the row's own optimized plan
  * with every column computed.
  *
  * Rows that stage files (indexes, stream copies, round trips) write them
  * under the scratch root named by the `perfbench.scratch` system property,
  * which the caller creates empty for every run (see build.sbt).
  *
  * The outputs of the cold pass and of the last warm pass are written to
  * `check/cold/<row>` and `check/final/<row>` as parquet, outside the timed
  * sections, for the caller to hash against the oracle.
  *
  * With `trace` on, listeners registered here (never inside the engine)
  * record each row's jobs, stages, tasks, Catalyst phases, in-memory scans
  * and streaming progress. Warm passes then alternate traced and untraced,
  * so the tracing overhead is measured in the same process.
  *
  * Writes one JSON document to `out`.
  */
object Harness {

  final case class Opts(data: String, rows: Vector[String], seed: Long, warm: Int,
                        trace: Boolean, cores: Int, out: String, check: String,
                        setups: Int, tables: Seq[String])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("data"), need("rows").split(",").map(_.trim).filter(_.nonEmpty).toVector,
      need("seed").toLong, need("warm").toInt, need("trace") == "1",
      need("cores").toInt, need("out"), need("check"), need("setups").toInt,
      need("tables").split(",").toSeq)
  }

  /** Row name the self-test uses to prove that a throwing row counts as
    * failed rather than fast.
    */
  val ThrowingRow = "perfbench_throws"

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors
    require(o.cores >= 1 && o.cores <= nproc,
      s"refusing to run local[${o.cores}] on a machine with $nproc processors")
    val queries = graft.SparkEntry.queries
    val unknown = o.rows.filterNot(r => queries.contains(r) || r == ThrowingRow)
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(",")}")

    // ---- set-ups: the first is timed from process start (JVM boot and
    // class loading included), the others from after the previous session
    // stopped; the passes use the last session
    val setups = mutable.ArrayBuffer.empty[Json.Obj]
    var spark: SparkSession = null
    for (i <- 0 to o.setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val sinceStart =
        if (i == 0) System.currentTimeMillis() / 1e3 -
          ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
        else 0.0
      spark = graft.Session.builder(o.cores)
        .appName("perfbench")
        .config("spark.local.dir", new File("spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File("spark-warehouse").getAbsolutePath)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      graft.Session.tune(spark)
      val t1 = System.nanoTime()
      o.tables.foreach { t =>
        if (t == "events") graft.Tables.events(spark, o.data).count()
        else graft.Tables.table(spark, o.data, t).count()
      }
      val t2 = System.nanoTime()
      val storage = spark.sparkContext.getRDDStorageInfo
      setups += Json.Obj(
        "setup_s" -> (sinceStart + (t2 - t0) / 1e9),
        "build_s" -> (sinceStart + (t1 - t0) / 1e9),
        "load_s" -> (t2 - t1) / 1e9,
        "cached_mb" -> storage.map(_.memSize).sum / 1e6,
        "partitions" -> storage.map(_.numPartitions).sum)
    }
    val sc = spark.sparkContext
    val tracer = new Tracer

    def runRow(name: String, pass: Int, traced: Boolean, checkKind: Option[String]): Json.Obj = {
      val rec = mutable.LinkedHashMap[String, Json.Value]("row" -> name)
      if (traced) tracer.begin(name)
      sc.setJobGroup(s"$name#$pass#construct", s"construct $name", interruptOnCancel = false)
      val t0 = System.nanoTime()
      var t1 = t0
      var t2 = t0
      var df: DataFrame = null
      var error: Option[String] = None
      try {
        df = if (name == ThrowingRow) sys.error("self-test row throws by design")
             else queries(name)(spark, o.data)
        t1 = System.nanoTime()
        sc.setJobGroup(s"$name#$pass#exec", s"exec $name", interruptOnCancel = false)
        if (traced) tracer.execStarts()
        val qe = df.queryExecution
        if (traced) {
          // plan first (the same lazy plan toRdd uses) so the in-memory
          // scans can be read before the action fills them
          val plan = qe.executedPlan
          tracer.scans(inMemoryScans(plan))
          tracer.nodes(physicalNodes(plan))
        }
        qe.toRdd.count()
        t2 = System.nanoTime()
        if (traced) tracer.phases(qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 })
      } catch {
        case NonFatal(e) =>
          t2 = System.nanoTime()
          if (t1 == t0) t1 = t2
          error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally sc.clearJobGroup()
      if (traced) ListenerBusAccess.drain(sc)
      val t3 = System.nanoTime()
      rec += "construct_s" -> (t1 - t0) / 1e9
      rec += "exec_s" -> (t2 - t1) / 1e9
      rec += "latency_s" -> (t2 - t0) / 1e9
      rec += "wall_s" -> (t3 - t0) / 1e9
      if (traced) rec ++= tracer.end().fields
      // the check write re-executes the row's plan; it is never timed
      checkKind.foreach { kind =>
        val c0 = System.nanoTime()
        if (error.isEmpty)
          try df.write.mode("overwrite").parquet(s"${o.check}/$kind/$name")
          catch { case NonFatal(e) =>
            error = Some(s"check write: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          }
        rec += "checked" -> kind
        rec += "check_s" -> (System.nanoTime() - c0) / 1e9
      }
      error.foreach(e => rec += "error" -> e)
      Json.Obj(rec.toSeq: _*)
    }

    def order(pass: Int): Vector[String] =
      new Random(o.seed * 1000003L + pass).shuffle(o.rows)

    def runPass(pass: Int, kind: String, traced: Boolean, checkKind: Option[String]): Json.Obj = {
      if (traced) tracer.attach(spark) else tracer.detach(spark)
      val rows = order(pass).map(r => runRow(r, pass, traced, checkKind))
      // the pass time is the sum of what its rows took, so the untimed
      // output writes of a checked pass do not count
      Json.Obj("pass" -> pass, "kind" -> kind, "traced" -> traced,
        "wall_s" -> rows.map(_.num("wall_s")).sum,
        "persisted_rdds" -> sc.getPersistentRDDs.size, "rows" -> Json.Arr(rows: _*))
    }

    val passes = mutable.ArrayBuffer.empty[Json.Obj]
    passes += runPass(0, "cold", o.trace, Some("cold"))
    val stagedAfterCold = Tracer.bytesUnder(new File(sys.props("perfbench.scratch"))) / 1e6
    // Traced runs alternate traced and untraced warm passes (at least one
    // of each), so the tracing overhead is traced minus untraced in one
    // process. The last warm pass is the checked one.
    val warmPasses = if (o.trace) math.max(o.warm, 2) else o.warm
    for (i <- 0 until warmPasses) {
      val traced = o.trace && i % 2 == 0
      passes += runPass(passes.size, if (traced || !o.trace) "warm" else "warm_untraced",
        traced, if (i == warmPasses - 1) Some("final") else None)
    }
    tracer.detach(spark)
    val resident = sc.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val persisted = sc.getPersistentRDDs.size
    val drainLeft = graft.Caches.drain(spark)

    val env = Json.Obj(
      "cores" -> o.cores, "nproc" -> nproc,
      "driver_memory_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "scala_version" -> scala.util.Properties.versionNumberString,
      "data" -> o.data, "seed" -> o.seed, "warm_passes" -> o.warm,
      "trace" -> o.trace)
    val doc = Json.Obj(
      "env" -> env,
      "first_setup" -> setups.head,
      "setups" -> Json.Arr(setups.tail.toSeq: _*),
      "passes" -> Json.Arr(passes.toSeq: _*),
      "resident_cache_mb" -> resident,
      "persisted_rdds" -> persisted,
      "drain_left" -> drainLeft,
      "staged_mb" -> stagedAfterCold)
    spark.stop()
    Files.write(Paths.get(o.out), doc.render.getBytes(StandardCharsets.UTF_8))
  }

  /** The physical plan as planned, before adaptive execution re-plans it. */
  private def planned(plan: SparkPlan): SparkPlan = plan match {
    case a: AdaptiveSparkPlanExec => a.inputPlan
    case p => p
  }

  /** Every node of the physical plan, subqueries included. */
  def physicalNodes(plan: SparkPlan): Int =
    planned(plan).collectWithSubqueries { case p => p }.size

  /** The in-memory scans of a planned query, each with whether its buffers
    * were already loaded (a hit) or will be filled by this action.
    */
  def inMemoryScans(plan: SparkPlan): Seq[Boolean] =
    planned(plan).collectWithSubqueries {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder.isCachedColumnBuffersLoaded
    }
}
