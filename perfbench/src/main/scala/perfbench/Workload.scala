package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The end-to-end and whole-round metrics every workload reports the same way. */
object Workload {
  /** The seed of round `r` of a run with seed `seed`: rounds differ, runs
    * with the same seed repeat. */
  def roundSeed(seed: Long, r: Int): Long = seed * 1000003L + r

  /** Row count, an order-independent hash of every row, and the value of
    * each of `extra` (aggregates over the whole frame): equal for equal
    * inputs, different for different ones. */
  def fingerprint(df: org.apache.spark.sql.DataFrame,
                  extra: org.apache.spark.sql.Column*): String = {
    import org.apache.spark.sql.functions._
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(df.columns.sorted.map(col): _*), lit(1000000007L))) +: extra: _*).head()
    r.toSeq.map(v => if (v == null) "0" else v.toString).mkString(":")
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Median self time of the warm spans named `name`, in ms. */
  def selfMedianMs(ctx: Ctx, name: String): Double =
    Stats.median(ctx.tracer.warm(name).map(ctx.tracer.selfMs))

  def selfMedianS(ctx: Ctx, name: String): Double = selfMedianMs(ctx, name) / 1000

  /** End-to-end metrics from the rounds, plus the Spark runtime metrics and
    * the tracing overhead of a traced run. The first round pays the JIT
    * warm-up of whatever set-up did not run, so when a run has more than
    * one round the end-to-end metrics come from the later ones. */
  def finish(ctx: Ctx, rounds: Seq[Round]): Unit = {
    val measured = if (rounds.size > 1) rounds.drop(1) else rounds
    val plain = measured.filterNot(_.traced).map(_.wallS)
    val ops = ctx.calls.filter(c => measured.exists(_.index == c.round)).map(_.ms).toSeq
    ctx.e2e("round_s") = (Stats.median(plain), "s")
    ctx.e2e("op_p90_ms") = (Stats.quantile(ops, 0.9), "ms")
    ctx.report("op_p50_ms") = Stats.median(ops)
    ctx.report("rounds") = rounds.size
    ctx.report("round_wall_s") = rounds.map(_.wallS)
    ctx.report("op_samples") = ops.size
    val traced = rounds.filter(_.traced)
    if (traced.nonEmpty) {
      // the warm rounds: untraced, traced, ..., untraced
      val warm = rounds.filter(_.index > 0)
      val tr = ctx.tracer
      val top = tr.spans.filter(_.parent < 0).toSeq
      val ts = tr.tasksUnder(top)
      val k = traced.size.toDouble
      ctx.layer("spark.jobs") = tr.jobsUnder(top) / k
      ctx.layer("spark.tasks") = ts.size / k
      ctx.layer("spark.gc_s") = traced.map(_.gcMs).sum / 1000.0 / k
      ctx.layer("spark.shuffle_read_mb") = Tasks.shuffleReadMb(ts) / k
      // per call kind, so rounds of different shapes compare like with
      // like; means, so that a linear trend cancels between the sides
      def means(rs: Seq[Round]) = ctx.calls.filter(c => rs.exists(_.index == c.round))
        .groupBy(c => (c.kind, c.variant)).map { case (k, cs) => k -> cs.map(_.ms).sum / cs.size }
      val (warmTraced, warmPlain) = warm.partition(_.traced)
      val (t, u) = (means(warmTraced), means(warmPlain))
      val both = t.keySet.intersect(u.keySet).toSeq
      if (both.nonEmpty)
        ctx.layer("trace.overhead") = both.map(t).sum / both.map(u).sum - 1
    }
  }
}

/** The files a workload leaves on disk. */
object Disk {
  /** Regular files under `p`; none when `p` does not exist. */
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally w.close()
    }

  def parquet(p: Path): Seq[Path] = files(p).filter(_.getFileName.toString.endsWith(".parquet"))

  def bytes(fs: Seq[Path]): Long = fs.map(Files.size).sum

  def inode(f: Path): AnyRef = Files.getAttribute(f, "unix:ino")

  def rm(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally w.close()
  }
}

/** One round: its index, the time of its timed calls, whether it was
  * traced, and the GC time it took. */
final case class Round(index: Int, wallS: Double, traced: Boolean, gcMs: Long)
