package perfbench

import graft.QueryDef
import graft.operators.RunCaches
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** The batch workloads: a closed loop of catalog queries, one client.
  *
  * Set-up ends with one untimed pass that writes every result to parquet
  * for the correctness check; it is also the JIT warm-up, and runs up to
  * `checkThreads` queries at once to keep set-up short. Timed passes
  * follow until `seconds` have elapsed; a pass in flight completes. Each
  * timed query starts after `RunCaches.clearAll()`, so every sample pays
  * the cold pipeline, and materializes through the `noop` sink. After each
  * pass the run caches are cleared and the heap still in use is measured
  * after full collections. The seed sets the query order of each pass. */
object Batch {
  def run(spark: SparkSession, names: Seq[String], tier: String, runDir: String,
      seed: Long, seconds: Double, checkThreads: Int, trace: Boolean, rec: Record): Unit = {
    val defs = names.map(n => QueryDef.catalogs.find(_.name == n)
      .getOrElse(sys.error(s"unknown catalog query: $n")))

    // No cache clearing while check runs overlap: a clearer would drop
    // state (such as local checkpoints) a running query still reads.
    RunCaches.clearAll()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(checkThreads)
    try {
      defs.map { q =>
        pool.submit[Unit] { () =>
          rec.attempt()
          try q.run(spark, tier).write.parquet(s"$runDir/results/${q.name}")
          catch { case NonFatal(t) => rec.fail(s"check run of ${q.name}", t) }
        }
      }.foreach(_.get())
    } finally pool.shutdown()
    rec.put("oracle_sql", defs.flatMap(q => q.oracle.map(q.name -> _)).toMap)

    // A traced run traces its first timed pass; the untraced pass after it
    // is the reference for the tracing overhead.
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = Clock.nowMs()
    rec.put("timed_start_ms", t0)
    while (passes.size < (if (trace) 2 else 1) || Clock.nowMs() - t0 < seconds * 1000) {
      val pass = passes.size
      passes += (tracer.filter(_ => pass == 0) match {
        case Some(t) =>
          t.start()
          try timedPass(spark, defs, tier, seed, pass, Some(t), rec) finally t.stop()
        case None => timedPass(spark, defs, tier, seed, pass, None, rec)
      })
    }
    rec.put("passes", passes.toSeq)
    tracer.foreach(t => rec.put("trace", t.snapshot))
  }

  private def timedPass(spark: SparkSession, defs: Seq[QueryDef], tier: String,
      seed: Long, pass: Int, tracer: Option[Tracer], rec: Record): Map[String, Any] = {
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(defs)
    val passSpan = tracer.map(_.open("pass", s"pass$pass", None))
    val queries = order.map { q =>
      RunCaches.clearAll()
      rec.attempt()
      val c0 = Clock.cpuS()
      val t0 = Clock.nowMs()
      val ok =
        try {
          def exec(): Unit = q.run(spark, tier).write.format("noop").mode("overwrite").save()
          tracer.fold(exec())(_.within("query", q.name, passSpan)(exec()))
          true
        } catch { case NonFatal(t) => rec.fail(s"timed run of ${q.name}", t); false }
      Map("name" -> q.name, "start_ms" -> t0, "wall_s" -> (Clock.nowMs() - t0) / 1000,
        "cpu_s" -> (Clock.cpuS() - c0), "ok" -> ok)
    }
    for (t <- tracer; id <- passSpan) t.close(id)
    RunCaches.clearAll()
    Map("pass" -> pass, "traced" -> tracer.isDefined, "queries" -> queries,
      "live_heap_mb" -> Clock.liveHeapMb())
  }
}
