package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming-row attribution main (r21): runs named SparkEntry queries with
  * a StreamingQueryListener attached and prints, per micro-batch, the
  * engine's own duration breakdown (`durationMs`: triggerExecution, queryPlanning,
  * getBatch, addBatch, walCommit, commitOffsets) plus state-store metrics —
  * the evidence for deciding whether a streaming replay row's wall time is
  * state-store commit overhead, planning, or genuine addBatch compute.
  *
  * Usage: runMain graft.StreamProbe <q1,q2,...> [dir] [runs]
  *   SPARK_GRAFT_CPUS — core count (default 32)
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(sys.error("usage: StreamProbe <q1,q2,...> [dir] [runs]"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).flatMap(_.toIntOption).getOrElse(1)
    val spark = Session.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // SPARK_GRAFT_PROBE_CONF="k=v;k2=v2" — runtime conf overrides for
    // A/B experiments (state width, provider class) without a rebuild
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach { s =>
      s.split(";").map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        println(s"[probe] conf $k=$v")
        spark.conf.set(k, v)
      }
    }
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[probe] query started ${e.name}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = Option(p.durationMs).map(m =>
          m.entrySet().toArray.map(_.toString).sorted.mkString(", ")).getOrElse("")
        println(s"[probe] batch ${p.batchId}: rows=${p.numInputRows} { $dur }")
        p.stateOperators.foreach { so =>
          println(s"[probe]   state op ${so.operatorName}: rows=${so.numRowsTotal} " +
            s"updated=${so.numRowsUpdated} commitMs=${so.commitTimeMs} " +
            s"mem=${so.memoryUsedBytes} shufflePartitions=${so.numShufflePartitions} " +
            s"loadedProviders=${so.numStateStoreInstances}")
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[probe] query terminated")
    })
    names.foreach { name =>
      (1 to runs).foreach { r =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[probe] ######## $name run $r — $n rows, $wall%.2f s total ########")
      }
    }
    spark.stop()
  }
}
