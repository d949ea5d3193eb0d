package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One operation of a workload's fixed list. */
final case class Op(name: String, family: String, run: SparkSession => Unit)

/** A workload: a fixed operation list, repeated in rounds. */
trait Workload {
  def ops: Seq[Op]
  /** Input preparation that is not part of set-up (e.g. seeding databases). */
  def prepareInputs(): Unit = ()
  def beginRound(spark: SparkSession): Unit = ()
  /** The set-up pass runs these instead of `ops`, so the outputs
    * that are checked come from the program's own calls. */
  def dumpOps: Seq[Op] = ops
  /** After the timed rounds, outside any timing: what the checks read. */
  def dumpChecks(spark: SparkSession): Unit = ()
  /** Traced runs only: calls into single layers, each in its own span. */
  def probes(spark: SparkSession, t: Tracer): Unit = ()
  /** Traced runs only: the same operation with child spans around the
    * harness's calls into lower layers. */
  def tracedOps(t: Tracer): Seq[Op] = ops
  /** Extra per-round counts recorded next to the timings. */
  def roundCounts(): Map[String, Any] = Map.empty
  /** The round budget: a run holds `--seconds / nominalRoundS` timed
    * rounds (at least one), about a warm round's wall time on the
    * reference box (4 slots). The count is fixed from it rather than read
    * off the clock, so every run does the same work. */
  def nominalRoundS: Double
}

final case class Opts(workload: String, data: String, work: String, seconds: Double,
                      trace: Boolean, slots: Int, out: String)

/** The benchmark harness: one JVM, one session, a closed loop of rounds
  * over the workload's operations.
  *
  * Phases: set-up (session start and one pass, counted from JVM start;
  * this pass writes the checked outputs), then as many timed rounds as
  * `--seconds` holds at the workload's nominal round time (traced runs:
  * pairs of one untraced and one traced round, the traced one followed
  * by the workload's layer probes), then the dump the checks read. Raw
  * per-operation records go to one JSON file; run.py turns them into
  * metrics.
  */
object Main {

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("work"), m("seconds").toDouble, m.get("trace").contains("1"),
      m.getOrElse("slots", "4").toInt, m("out"))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.slots}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    if (args.headOption.contains("--oracle-sql")) {
      // the oracle SQL of every catalog entry the benchmark runs
      val names = CatalogWorkload.entries.map(_._1).toSet
      val sql = graft.Queries.all.filter(q => names(q.name)).flatMap(q => q.oracle.map(q.name -> _)).toMap
      Files.writeString(Paths.get(args(1)), Json.write(sql))
      return
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val w: Workload = o.workload match {
      case "portal_etl" => new PortalWorkload(o)
      case "catalog_sf001" => new CatalogWorkload(o)
      case other => sys.error(s"unknown workload $other")
    }
    val prepStart = System.currentTimeMillis()
    val prepCpu0 = Meter.processCpuNs()
    w.prepareInputs()
    val prepMs = System.currentTimeMillis() - prepStart
    val prepCpuNs = Meter.processCpuNs() - prepCpu0
    val meter = new Meter
    val tracer = new Tracer(meter)
    var peakHeap = 0.0
    val heapSamples = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.LinkedHashMap.empty[String, String]

    val spark = session(o)
    meter.attach(spark)

    def gc(): Unit = {
      meter.read(spark) // queued listener events hold heap too
      spark.catalog.clearCache()
      // the first collection hands the last round's broadcasts and
      // shuffles to Spark's cleaner thread; the second, after it has had
      // time to drop their blocks, sees only what is still live
      System.gc()
      Thread.sleep(300)
      System.gc()
      val h = heapMb()
      peakHeap = peakHeap.max(h)
      heapSamples += h
    }

    /** One pass over `ops`; returns per-operation records. */
    def pass(ops: Seq[Op], traced: Boolean): Seq[Map[String, Any]] = {
      w.beginRound(spark)
      gc()
      ops.map { op =>
        val c0 = meter.read(spark)
        val t0 = System.nanoTime()
        val ok = try {
          if (traced) tracer.span(spark, s"op.${op.name}")(op.run(spark)) else op.run(spark)
          true
        } catch {
          case NonFatal(e) =>
            failures.getOrElseUpdate(op.name, String.valueOf(e.getMessage).linesIterator.take(1).mkString)
            false
        }
        val wallNs = System.nanoTime() - t0
        val d = (meter.read(spark) - c0).copy(wallNs = wallNs)
        Map("op" -> op.name, "family" -> op.family, "ok" -> ok) ++ d.toMap
      }
    }

    // ---- set-up: JVM start (input preparation excluded) through session
    // start and the first pass, the cold pass a one-shot user pays; as
    // process CPU time, which a burst of CPU steal during the one sample
    // moves less than the wall time (kept next to it)
    pass(w.dumpOps, traced = false)
    val setupWallS = (System.currentTimeMillis() - jvmStartMs - prepMs) / 1e3
    val setupS = (Meter.processCpuNs() - prepCpuNs) / 1e9

    // ---- timed rounds
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runRound(traced: Boolean): Unit = {
      val ops = pass(if (traced) w.tracedOps(tracer) else w.ops, traced)
      rounds += Map("traced" -> traced, "ops" -> ops) ++ w.roundCounts()
    }
    // traced runs alternate untraced and traced rounds (U T, T U, ...)
    // so JIT warm-up biases neither side of the overhead figure
    def tracedRound(i: Int): Unit = {
      tracer.round = i
      tracer.span(spark, "round")(runRound(traced = true))
      gc()
      tracer.span(spark, "probes")(w.probes(spark, tracer))
    }
    if (o.trace) {
      // at least two pairs, so the two orders cancel each other's JIT bias
      val pairs = math.max(2, (o.seconds / (2 * w.nominalRoundS)).toInt)
      for (i <- 0 until pairs) {
        if (i % 2 == 0) { runRound(traced = false); tracedRound(i) }
        else { tracedRound(i); runRound(traced = false) }
      }
    } else {
      for (_ <- 0 until math.max(1, (o.seconds / w.nominalRoundS).toInt)) runRound(traced = false)
    }
    gc()
    w.dumpChecks(spark)
    spark.stop()

    val result = Map(
      "workload" -> o.workload, "slots" -> o.slots,
      "setup_s" -> setupS, "setup_wall_s" -> setupWallS,
      "rounds" -> rounds.toSeq, "peak_heap_mb" -> peakHeap, "heap_samples" -> heapSamples.toSeq,
      "failures" -> failures.toMap, "spans" -> (if (o.trace) tracer.toJson else Seq.empty))
    Files.writeString(Paths.get(o.out), Json.write(result))
    println(s"[perfbench] ${o.workload}: ${rounds.size} rounds, set-up $setupS s CPU, $setupWallS s wall")
    sys.exit(0)
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
