package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Tables
import graft.model.DerivedState

/** How one op ended. */
sealed trait Outcome
object Outcome {
  case object Ok extends Outcome
  final case class Wrong(got: Fingerprint) extends Outcome
  final case class Threw(error: Throwable) extends Outcome

  /** Builds and forces an op through `force`, then checks the fingerprint. */
  def check(expected: Option[Fingerprint])(force: => Fingerprint): Outcome =
    try {
      val got = force
      if (expected.contains(got)) Ok else Wrong(got)
    } catch { case NonFatal(e) => Threw(e) }

  /** Ops that threw plus ops whose output was wrong, over ops attempted. */
  def errorRate(outcomes: Seq[Outcome]): Double =
    if (outcomes.isEmpty) 0.0 else outcomes.count(_ != Ok).toDouble / outcomes.size
}

/** One op run. Times are System.nanoTime, except `startMs`/`endMs`, which
  * are wall-clock milliseconds comparable with Spark's event times.
  * `liveHeapBytes` is the heap in use after the full GC that follows the op. */
final case class OpSpan(pass: Int, op: String, startMs: Long, endMs: Long,
    start: Long, built: Long, end: Long, outcome: Outcome, rows: Long,
    liveHeapBytes: Long, pinnedRdds: Int, pinnedBytes: Long) {
  def seconds: Double = (end - start) / 1e9
  def buildSeconds: Double = (built - start) / 1e9
  def actionSeconds: Double = (end - built) / 1e9
}

/** One pass; `kind` is warmup, timed or traced. `seconds` is the sum of
  * its ops' latencies, which leaves out the harness's own work between
  * ops; `gcSeconds` likewise counts only collections during ops. */
final case class PassSpan(index: Int, kind: String, startMs: Long, endMs: Long,
    seconds: Double, gcSeconds: Double) {
  def contains(t: Long): Boolean = t >= startMs && t <= endMs
}

/** A standalone probe call into one layer (traced runs only). */
final case class ProbeSpan(kind: String, startMs: Long, endMs: Long, seconds: Double) {
  def contains(t: Long): Boolean = t >= startMs && t <= endMs
}

/** Runs ops and passes against one session, recording spans in memory. */
final class Runner(spark: SparkSession, data: String, expected: Map[String, Fingerprint]) {
  val ops = ArrayBuffer[OpSpan]()
  val passes = ArrayBuffer[PassSpan]()
  val probes = ArrayBuffer[ProbeSpan]()
  private val sc = spark.sparkContext

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def pinned(): (Int, Long) =
    (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)

  /** Runs `order` once. Every op starts from a cleared cache and a
    * collected heap; a traced pass also records what each op leaves pinned
    * above the pass's baseline. */
  def pass(order: Seq[String], kind: String): Unit = {
    val index = passes.size
    val traced = kind == "traced"
    spark.catalog.clearCache()
    System.gc()
    val (baseRdds, baseBytes) = if (traced) pinned() else (0, 0L)
    var gcMs = 0L
    val startMs = System.currentTimeMillis()
    for (op <- order) {
      val gc0 = gcMillis()
      val opStartMs = System.currentTimeMillis()
      val start = System.nanoTime()
      var built = start
      var rows = 0L
      val outcome = Outcome.check(expected.get(op)) {
        val df = SparkEntry.queries(op)(spark, data)
        built = System.nanoTime()
        val fp = Fingerprint.of(df)
        rows = fp.rows
        fp
      }
      val end = System.nanoTime()
      if (built == start) built = end
      val endMs = System.currentTimeMillis()
      gcMs += gcMillis() - gc0
      outcome match {
        case Outcome.Ok =>
        case Outcome.Wrong(got) =>
          System.err.println(s"[perfbench] $op: wrong output ${got.render}, expected ${expected.get(op).map(_.render).getOrElse("<none>")}")
        case Outcome.Threw(e) =>
          System.err.println(s"[perfbench] $op threw: $e")
      }
      // what is still live after a full collection is what the op left
      // behind: pins, caches, driver-side state
      spark.catalog.clearCache()
      System.gc()
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val (rdds, bytes) = if (traced) pinned() else (0, 0L)
      ops += OpSpan(index, op, opStartMs, endMs, start, built, end, outcome, rows, live,
        (rdds - baseRdds).max(0), (bytes - baseBytes).max(0L))
    }
    val mine = ops.filter(_.pass == index)
    passes += PassSpan(index, kind, startMs, System.currentTimeMillis(), mine.map(_.seconds).sum, gcMs / 1e3)
    System.err.println(f"[perfbench] pass $index $kind ${passes.last.seconds}%.3f s " +
      f"(wall ${(passes.last.endMs - startMs) / 1e3}%.3f s): " +
      mine.map(o => f"${o.op} ${o.seconds}%.3f").mkString(", "))
  }

  private def probe(kind: String)(body: => Unit): Unit = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    body
    probes += ProbeSpan(kind, startMs, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
  }

  /** Standalone calls into `model` and `core`, timed from outside. */
  def runProbes(): Unit = {
    probe("register")(DerivedState.register(spark, data))
    probe("load")(Tables.names.foreach(Tables.load(spark, data, _)))
  }
}

object Main {
  final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, expected: String, work: String)

  private val usage =
    "usage: perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> " +
      "--data <dir> --expected <file> --work <dir>"

  def parse(args: Seq[String]): Config = {
    require(args.size % 2 == 0, usage)
    val m = args.grouped(2).map { case Seq(k, v) =>
      require(k.startsWith("--"), usage); k.drop(2) -> v
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k; $usage"))
    val trace = get("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Config(get("workload"), get("seed").toLong, get("seconds").toDouble, trace == "1",
      get("data"), get("expected"), get("work"))
  }

  /** The session: `Bench`'s settings, with the core count of this machine. */
  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A metric as printed: name, value, unit and an optional note. */
  final case class Metric(name: String, value: Double, unit: String, note: String = "")

  def main(args: Array[String]): Unit = {
    val code =
      try { run(parse(args.toSeq)); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(c: Config): Unit = {
    val workload = Workloads.all.getOrElse(c.workload, throw new IllegalArgumentException(
      s"unknown workload ${c.workload}; known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")}"))
    val ops = workload.ops
    val expected = Expected.read(Paths.get(c.expected))
    val missing = ops.filterNot(expected.contains)
    require(missing.isEmpty, s"no expected fingerprint for ${missing.mkString(", ")}")
    // at least three timed passes, and enough that the op-latency tail rule
    // (ten samples beyond the reading) has a sample to report; op_tail_s is
    // read at the percentile the rule gives for this many samples
    val minPasses = math.max(3, (10 + ops.size) / ops.size)

    val spark = session(c.work)
    try {
      val runner = new Runner(spark, c.data, expected)
      val rng = new scala.util.Random(c.seed)
      for (_ <- 1 to workload.warmupPasses) runner.pass(rng.shuffle(ops), "warmup")
      val setupS =
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

      val tracer = if (c.trace) Some(new Tracer(spark.sparkContext)) else None
      val t0 = System.nanoTime()
      var n = 0
      while (n < minPasses * (if (c.trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < c.seconds) {
        tracer match {
          // traced runs alternate untraced and traced passes, so the
          // difference between the two is the tracing overhead
          case Some(t) if n % 2 == 1 =>
            t.attach(spark)
            runner.pass(rng.shuffle(ops), "traced")
            runner.runProbes()
            t.detach(spark)
          case _ => runner.pass(rng.shuffle(ops), "timed")
        }
        n += 1
      }

      val metrics = tracer match {
        case None => Report.endToEnd(runner, setupS, minPasses * ops.size)
        case Some(t) =>
          Report.writeSpans(Paths.get(c.work, s"spans-${c.workload}-seed${c.seed}.jsonl"), runner, t)
          Report.perLayer(runner, t)
      }
      val failed = runner.ops.count(_.outcome != Outcome.Ok)
      println(Report.table(c.workload, metrics, runner))
      println(Report.json(failed == 0, runner.ops.size, failed, metrics))
    } finally spark.stop()
  }
}

/** Expected fingerprints, one op per line: op, columns, rows, hash, tab-separated. */
object Expected {
  def parse(lines: Seq[String]): Map[String, Fingerprint] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      l.split("\t") match {
        case Array(op, cols, rows, hash) =>
          op -> Fingerprint(cols.split(",").toSeq, rows.toLong, BigDecimal(hash))
        case _ => throw new IllegalArgumentException(s"bad expected-fingerprint line: $l")
      }
    }.toMap

  def read(p: Path): Map[String, Fingerprint] = parse(Files.readAllLines(p).asScala.toSeq)

  def line(op: String, f: Fingerprint): String =
    s"$op\t${f.columns.mkString(",")}\t${f.rows}\t${f.hash}"
}
