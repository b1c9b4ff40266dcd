package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark JVM. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, traceOut: Option[Path], cores: Int)

object Args {
  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), Paths.get(need("work")).toAbsolutePath,
      m.get("trace-out").map(Paths.get(_).toAbsolutePath),
      m.get("cores").map(_.toInt).getOrElse(3))
  }
}

/** Attempted / failed operation counts of the timed phase. A failed
  * operation is one that threw or answered with an error; its message
  * goes to stderr. */
final class Ops {
  private val attemptedN = new AtomicLong()
  private val failedN = new AtomicLong()
  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  def apply[T](what: String)(f: => T): Option[T] = {
    attemptedN.incrementAndGet()
    try Some(f)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failedN.incrementAndGet()
        System.err.println(s"perfbench: operation $what failed: $e")
        None
    }
  }

  def fail(what: String, why: String): Unit = {
    failedN.incrementAndGet()
    System.err.println(s"perfbench: operation $what failed: $why")
  }
  def attempt(): Unit = attemptedN.incrementAndGet()
}

/** Output checks. Any false check makes the run's `correct` false. */
final class Checks {
  @volatile private var bad = 0
  @volatile private var total = 0
  def ok: Boolean = bad == 0 && total > 0
  def count: Int = total

  def apply(cond: Boolean, msg: => String): Unit = synchronized {
    total += 1
    if (!cond) {
      bad += 1
      if (bad <= 20) System.err.println(s"perfbench: CHECK FAILED: $msg")
    }
  }

  /** Run a block of checks; an exception inside counts as a failed check. */
  def guard(what: String)(f: => Unit): Unit =
    try f
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        apply(cond = false, s"$what threw $e")
        e.printStackTrace()
    }

  def close(a: Double, b: Double, msg: => String, rel: Double = 1e-9): Unit =
    apply(math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b))),
      s"$msg: $a vs $b")
}

/** Everything a workload needs. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val ops = new Ops
  val checks = new Checks
  def seed: Long = args.seed
  def traced: Boolean = args.trace

  /** A fresh directory under the run's work dir. */
  def dir(name: String): String = {
    val p = args.work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

/** What a workload hands back. */
final case class Result(
    throughputPerS: Double,
    latencyP50Ms: Double,
    named: Seq[(String, Double, String)],
    layers: Map[String, Double] = Map.empty)

trait Workload {
  /** Generate the inputs and build the stores and indexes. */
  def build(ctx: Ctx): Unit
  /** Untimed warm-up operations on the build. */
  def warmup(ctx: Ctx): Unit
  /** Timed phase: whole rounds of operations, at least one, sized by
    * `ctx.args.seconds`. */
  def measure(ctx: Ctx): Unit
  /** Check outputs against independent computations and report metrics. */
  def finish(ctx: Ctx): Result
  def close(): Unit = ()
}

object Stats {
  /** Linear-interpolation quantile (q in [0,1]) of the values. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) return 0.0
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")
}

object Files2 {
  /** Data files (parquet) under a directory tree. */
  def parquetFiles(p: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(p))
  }
}
