package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One named value with its unit, as printed. */
final case class Metric(name: String, value: Double, unit: String)

object Stats {
  /** Linear-interpolated quantile (the "inclusive" method); failed
    * operations enter as +Inf, so they miss every percentile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      if (s(hi).isInfinite || s(lo).isInfinite) s(hi)
      else s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly above the q-quantile: a percentile is reported
    * with the number of samples beyond it. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN) "null"
    else if (d.isInfinite) (if (d > 0) "1.0e308" else "-1.0e308")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}

/** Order-insensitive result fingerprint: row count plus the sum of a
  * 64-bit hash of each row's canonical text. Doubles are rounded to 9
  * significant digits so a different summation order cannot flip it. */
object ResultHash {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.9g".format(d)
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => canon(b.doubleValue)
    case b: BigDecimal => canon(b.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[_] => a.toSeq.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^ (MurmurHash3.stringHash(s, 0xbee5).toLong & 0xffffffffL)
  }

  def of(rows: Iterable[Row]): (Long, String) = {
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += rowHash(r) }
    (n, f"$h%016x")
  }

  def of(df: DataFrame): (Long, String) = of(df.collect().toSeq)
}

/** Single-thread micro-kernel (xorshift + add over 2^26 steps; no
  * allocation): a fixed amount of CPU work whose time shows host
  * speed and stalls independently of the engine. */
object HostNoise {
  def microS(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < (1L << 26)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x += i; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("")
    dt
  }

  /** CPU time the hypervisor gave to other guests (all CPUs, seconds,
    * at the kernel's 100 ticks per second): a run whose measured loop
    * overlaps a neighbour's burst shows it here. */
  def stealS(): Double =
    try Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100.0
    catch { case _: Throwable => Double.NaN }

  /** CPU time of this JVM, all threads (the hypervisor's steal is not in it). */
  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Time the JIT compilers spent compiling so far, summed over their threads. */
  def jitS(): Double = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def loadAvg1(): Double =
    try Files.readString(Path.of("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => Double.NaN }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Path.of("/proc/self/status")).toArray(Array.empty[String])
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }
}

object Files2 {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally w.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally w.close()
  }

  def treeFiles(p: Path, suffix: String): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.filter(x => Files.isRegularFile(x) && x.toString.endsWith(suffix)).count()
    finally w.close()
  }
}

/** One timed operation of the measured loop. `s` is +Inf when it failed. */
final case class OpRec(kind: String, round: Int, traced: Boolean, s: Double, error: Option[String])

/** Everything a workload needs: the session, its seed and time budget,
  * the tracer (inactive when not tracing) and the op log it fills. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val cores: Int) {
  val ops = ArrayBuffer.empty[OpRec]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val inputs = ArrayBuffer.empty[(String, String)]
  val extra = ArrayBuffer.empty[Metric]       // workload metrics for the info line
  val layer = ArrayBuffer.empty[Metric]       // workload per-layer metrics (traced)
  private val t0 = System.nanoTime()
  var round = 0

  /** Rounds end with a full collection, outside the timed region, so heap
    * growth (and peak RSS) does not depend on where collections happened
    * to fall in the run. */
  def endRound(): Unit = {
    round += 1
    System.gc()
  }

  def elapsedS: Double = (System.nanoTime() - t0) / 1e9

  /** Rounds per tracing period. A traced run alternates untraced and
    * traced periods, so the same run measures the tracing overhead; a
    * workload whose table state cycles over several rounds sets this to
    * the cycle length, so both kinds of period see the same states. */
  var tracePeriod = 1

  def tracedRound: Boolean = tracer.enabled && (round / tracePeriod) % 2 == 1

  /** Time one measured operation; an exception is recorded as a failed
    * op (latency +Inf), never rethrown. */
  def op[T](kind: String, layerName: String)(body: => T): Option[T] = {
    val traced = tracedRound
    val n0 = System.nanoTime()
    val r = try Right(tracer.opSpan(traced, layerName, kind)(body))
    catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - n0) / 1e9
    r match {
      case Right(v) =>
        ops += OpRec(kind, round, traced, dt, None); Some(v)
      case Left(e) =>
        System.err.println(s"[perfbench] op $kind failed: $e")
        ops += OpRec(kind, round, traced, Double.PositiveInfinity,
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"))
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
    checks += ((name, ok, if (ok) "" else detail))
  }

  def input(name: String, value: Any): Unit = inputs += (name -> value.toString)

  /** Whether to start another round: rounds are whole, and they go on
    * until the time budget is used and at least `minRounds` rounds ran,
    * ending on a period boundary. A traced run runs four periods,
    * untraced and traced in turn: the tracing overhead leaves out the
    * first, which still carries the JIT's tail, and compares the middle
    * untraced period with the traced ones around it, so drift during the
    * run cancels. */
  def anotherRound(minRounds: Int): Boolean = {
    val need = if (tracer.enabled) math.max(minRounds, 4 * tracePeriod) else minRounds
    (elapsedS < measuredStart + seconds || round < need || round % tracePeriod != 0) && underHardLimit
  }

  /** False once a pathologically slow run should stop, also inside a round. */
  def underHardLimit: Boolean = elapsedS < measuredStart + seconds * 2.5 + 80

  var measuredStart = 0.0
  def startMeasuring(): Unit = measuredStart = elapsedS
}

/** A workload: set up its inputs, warm up (untimed rounds), run the
  * measured closed loop, then check outputs outside the timed region. */
trait Workload {
  /** Build the inputs from the seed into `dir` (an empty directory). */
  def setup(ctx: Ctx, dir: Path): Unit
  def warmup(ctx: Ctx): Unit
  def run(ctx: Ctx): Unit
  def checkOutputs(ctx: Ctx): Unit
  /** Traced runs: the workload's own per-layer metrics into `ctx.layer`. */
  def traceLayers(ctx: Ctx): Unit
  /** One kind's latency from its samples in the measured loop. */
  def kindStat(samples: Seq[Double]): Double = Stats.median(samples)
}
