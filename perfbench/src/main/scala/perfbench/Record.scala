package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** The raw record of one run: samples, check inputs and spans, written as
  * JSON for `run.py` to turn into metrics. Thread-safe. */
final class Record {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  def put(k: String, v: Any): Unit = synchronized { fields(k) = v }

  def attempt(): Unit = synchronized { attempted += 1 }

  def fail(what: String, t: Throwable): Unit = synchronized {
    failed += 1
    errors += s"$what: ${t.getClass.getName}: ${t.getMessage}".take(2000)
    System.err.println(s"[perfbench] $what failed: $t")
  }

  def write(path: String): Unit = synchronized {
    val all = fields.toSeq ++ Seq("attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json.render(all.toMap))
  }
}

object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; write(sb, x) }
      sb += ']'
    case xs: Array[_] => write(sb, xs.toSeq)
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}

/** Clocks shared by every sample: epoch milliseconds with sub-millisecond
  * resolution (aligned with the epoch times Spark puts on its events) and
  * process CPU time, which counts every thread of the JVM. */
object Clock {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Heap in use after full collections, in MB. Spark's context cleaner
    * releases blocks of collected broadcasts and shuffles on its own
    * thread after a collection, so collections repeat, 100 ms apart,
    * until the figure moves by less than 1% (at most ten times). */
  def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = prev
    var n = 1
    do {
      Thread.sleep(100)
      prev = cur
      cur = collect()
      n += 1
    } while (math.abs(cur - prev) > 0.01 * prev && n < 10)
    cur
  }
}
