package perfbench

import graft.QueryDef
import graft.operators.IngestIncr
import graft.streaming.StreamOps
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The admission workload: the live admission stream over a generated
  * corpus, fed by an open loop.
  *
  * `corpus/documents.parquet` holds base and increment; the base is indexed
  * during set-up. The increment waits in `stage/` as small parquet files,
  * listed in `files.tsv` (name, docs, warm flag). Set-up delivers the warm
  * files one trigger at a time. Then one generator thread moves each timed
  * file into the watched directory at its due time, `interval` seconds
  * apart, however far behind the engine is. Files arrive by atomic rename,
  * so the file source never sees a partial file. A traced run traces the
  * timed window only. */
object Admission {
  def run(spark: SparkSession, dir: String, runDir: String, interval: Double,
      trace: Boolean, rec: Record): Unit = {
    val files = Files.readAllLines(Paths.get(s"$dir/files.tsv")).asScala.toSeq
      .map(_.split("\t")).map(a => (a(0), a(1).toInt, a(2) == "1"))
    val watch = Paths.get(s"$runDir/watch")
    Files.createDirectories(watch)

    val t0 = Clock.nowMs()
    val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, s"$dir/corpus")
    rec.put("index_build_s", (Clock.nowMs() - t0) / 1000)
    rec.put("split", split)

    val schema = spark.read.parquet(s"$dir/stage/${files.head._1}").schema
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val source = spark.readStream.schema(schema).parquet(watch.toString)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val out = s"$runDir/stream_out"
    val q = StreamOps.ingestAdmission(source, idx, split, s"$runDir/state", out,
      checkpoint = Some(s"$runDir/checkpoint"))

    def deliver(name: String): Double = {
      val from = Paths.get(s"$dir/stage/$name")
      Files.setLastModifiedTime(from,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(from, watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      Clock.nowMs()
    }

    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    try {
      files.filter(_._3).foreach { f => deliver(f._1); q.processAllAvailable() }
      val timed = files.filterNot(_._3)
      tracer.foreach(_.start())
      val start = Clock.nowMs() + 100
      rec.put("timed_start_ms", start)
      val deliveries = mutable.ArrayBuffer.empty[Map[String, Any]]
      val gen = new Thread(() => timed.zipWithIndex.foreach { case ((name, n, _), k) =>
        val due = start + k * interval * 1000
        val wait = (due - Clock.nowMs()).toLong
        if (wait > 0) Thread.sleep(wait)
        deliveries += Map("file" -> name, "docs" -> n, "due_ms" -> due,
          "delivered_ms" -> deliver(name))
      }, "perfbench-generator")
      val c0 = Clock.cpuS()
      gen.start()
      gen.join()
      q.processAllAvailable()
      rec.put("timed_end_ms", Clock.nowMs())
      rec.put("timed_cpu_s", Clock.cpuS() - c0)
      rec.put("live_heap_mb", Clock.liveHeapMb())
      rec.put("deliveries", deliveries.toSeq)
    } finally {
      try q.stop() finally tracer.foreach(_.stop())
    }
    rec.put("progress", q.recentProgress.toSeq.map(_.json))
    tracer.foreach(t => rec.put("trace", t.snapshot))
    q.exception.foreach(e => throw e)

    // correctness inputs, read after the timed window
    spark.read.parquet(out).write.parquet(s"$runDir/verdicts")
    rec.put("oracle_sql", QueryDef.catalogs.find(_.name == "pipe_ingest_incr").get.oracle.get)
  }
}
