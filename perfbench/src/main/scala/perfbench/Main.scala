package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
                      traced: Boolean, tmp: Path, out: Path, commit: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("tmp")), Paths.get(need("out")),
      m.getOrElse("commit", "unknown"))
  }
}

/** What one run measures and checks. A workload times engine calls with
  * [[op]], checks results with [[check]] outside the timed windows, and
  * fills [[e2e]] (untraced runs) and [[layer]] (traced runs). */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer,
                val cores: Int) {
  /** Every timed call that returned, in call order. */
  val calls = ArrayBuffer.empty[Call]
  /** The round in progress; -1 outside the rounds. */
  private var current = -1
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.LinkedHashMap.empty[String, Any]

  def dir(name: String): Path = {
    val p = args.tmp.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** Time one engine call; a call that throws counts as a failed
    * operation, is named in the output, and yields None. `variant` tells
    * apart calls of one kind that do different work. */
  def op[A](kind: String, variant: String = "")(f: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(kind)(f)
      val ms = (System.nanoTime() - t0) / 1e6
      calls += Call(kind, variant, current, ms)
      inRoundMs += ms
      Some(r)
    } catch {
      case NonFatal(e) =>
        failures += s"$kind: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  /** A correctness check, run outside every timed window. */
  var checkS = 0.0

  def check(name: String)(cond: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val failure =
      try { if (cond) None else Some(s"check $name failed") }
      catch {
        case NonFatal(e) =>
          Some(s"check $name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    checkS += (System.nanoTime() - t0) / 1e9
    failures ++= failure
  }

  /** Latencies of the calls of one kind, in ms, in call order. */
  def ms(kind: String): Seq[Double] = calls.filter(_.kind == kind).map(_.ms).toSeq

  private var inRoundMs = 0.0

  /** Run `round` until the run's measuring time is used up: at least
    * `min` rounds, at most `max`. A round's time is the sum of its timed
    * calls, so the checks between calls do not count.
    *
    * A traced run traces round 0, which gives the count metrics. From
    * round 1 on it alternates untraced and traced rounds and ends on an
    * untraced one (untraced, traced, untraced at least), so the traced
    * rounds sit at the mean position of the untraced rounds around them: a
    * steady warm-up trend cancels out of the tracing overhead, and the
    * layer times and the overhead compare warm rounds only. */
  def rounds(min: Int, max: Int = Int.MaxValue)(round: Int => Unit): Seq[Round] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[Round]
    val least = if (args.traced) math.max(min, 4) else min
    val most = if (args.traced) 2 + (max - 2) / 2 * 2 else max
    require(most >= least, s"a run needs $least rounds but may run only $most")
    // after an untraced round 1, 3, 5, ...
    def sandwichDone(r: Int) = !args.traced || (r >= 2 && r % 2 == 0)
    var r = 0
    while (r < most && (r < least || !sandwichDone(r) || (System.nanoTime() - t0) / 1e9 < args.seconds)) {
      val traced = args.traced && r % 2 == 0
      tracer.active = traced
      tracer.round = r
      current = r
      inRoundMs = 0.0
      val gc0 = Workload.gcMs()
      round(r)
      out += Round(r, inRoundMs / 1000, traced, Workload.gcMs() - gc0)
      r += 1
    }
    tracer.active = false
    current = -1
    out.toSeq
  }

  /** Median of the repeated set-up, in seconds. Each repetition starts
    * from nothing (a fresh directory); the last one's state is kept. */
  def setup[A](times: Int)(f: Int => A): A = {
    val ts = ArrayBuffer.empty[Double]
    var last: Option[A] = None
    for (i <- 0 until times) {
      val t0 = System.nanoTime()
      last = Some(f(i))
      ts += (System.nanoTime() - t0) / 1e9
    }
    e2e("setup_s") = (Stats.median(ts.toSeq), "s")
    report("setup_runs_s") = ts.toSeq
    last.get
  }
}

/** One timed engine call: its kind and variant, the round it ran in, its
  * latency. */
final case class Call(kind: String, variant: String, round: Int, ms: Double)

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "medallion_chain" -> MedallionChain.run,
    "lakehouse_rw" -> LakehouseRw.run,
    "corpus_dedup" -> CorpusDedup.run)

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case NonFatal(_) => "unknown" }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => 0.0 }

  def session(args: Args, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.tmp.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        args.tmp.resolve("checkpoints").toString)
      .config("spark.sql.catalog.bench", "graft.sources.AtomicParquetCatalog")
      .config("spark.sql.catalog.bench.warehouse", args.tmp.resolve("catalog").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val run = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val cores = Runtime.getRuntime.availableProcessors()
    val loadStart = loadavg()
    val t0 = System.nanoTime()
    val spark = session(args, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = s"${args.workload}-seed${args.seed}-${System.currentTimeMillis()}"
    val ctx = new Ctx(spark, args, new Tracer(runId, args.traced, spark), cores)
    try run(ctx)
    catch {
      case NonFatal(e) =>
        ctx.attempted += 1
        ctx.failures += s"workload aborted: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    ctx.e2e("peak_rss_mb") = (peakRssMb(), "MB")
    val mainS = (System.nanoTime() - t0) / 1e9
    if (args.traced)
      ctx.tracer.write(args.out.resolve(s"$runId.spans.jsonl"))
    spark.stop()

    val facts = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "traced" -> args.traced,
      "nproc" -> cores, "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "git_commit" -> args.commit, "spark_version" -> spark.version,
      "session_start_s" -> sessionS, "checks_s" -> ctx.checkS,
      "main_s" -> mainS,
      "error_rate" -> ctx.failures.size.toDouble / math.max(1L, ctx.attempted),
      "failures" -> ctx.failures.toSeq,
      "samples" -> ctx.calls.groupBy(_.kind).map { case (k, v) => k -> v.size })
    facts ++= ctx.report
    facts("end_to_end") = ctx.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    if (args.traced) facts("per_layer") = ctx.layer
    println("perfbench-report " + Json(facts))
    val metrics: Map[String, Any] =
      if (args.traced) Layers.all.map(m => m.name -> Map("value" -> ctx.layer.getOrElse(m.name, 0.0), "unit" -> m.unit)).toMap
      else ctx.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    println(Json(mutable.LinkedHashMap[String, Any](
      "correct" -> ctx.failures.isEmpty, "attempted" -> ctx.attempted,
      "failed" -> ctx.failures.size, "metrics" -> metrics)))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}
