package perfbench

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Runs one workload in this JVM and writes its raw record to
  * `<run-dir>/raw.json`. `run.py` launches it and turns the record into
  * metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val runDir = opt("run-dir")
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val rec = new Record
    var spark: SparkSession = null
    try {
      val t0 = Clock.nowMs()
      spark = graft.Engine.session(master = s"local[$cores]",
        shufflePartitions = cores, appName = s"perfbench-$workload")
      rec.put("session_s", (Clock.nowMs() - t0) / 1000)
      spark.conf.set("spark.graft.minhash.indexBase", s"$runDir/index")
      workload match {
        case "admission" =>
          Admission.run(spark, opt("input"), runDir, opt("interval").toDouble, trace, rec)
        case _ =>
          Batch.run(spark, opt("queries").split(",").toSeq, opt("input"), runDir,
            opt("seed").toLong, opt("seconds").toDouble, cores, trace, rec)
      }
    } catch {
      case NonFatal(t) =>
        rec.fail("workload", t)
        rec.put("fatal", true)
    } finally {
      try if (spark != null) spark.stop()
      finally {
        // after the session, so no engine thread competes with the probe
        if (trace) {
          val (hashUs, mulNs) = graft.perfbench.Kernels.probe()
          rec.put("kernels", Map("hash2_us" -> hashUs, "montMul_ns" -> mulNs))
        }
        rec.write(s"$runDir/raw.json")
      }
    }
  }
}
