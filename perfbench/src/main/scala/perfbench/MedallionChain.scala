package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.functions._

import graft.medallion.{BronzeGen, MdpConfig, Pipeline}

/** The paper's own job: the medallion chain bronze -> silver -> gold,
  * narrow rows (4 KB payload), then one bronze -> silver pass of wide
  * rows (256 KB payload, 8 partitions, the non-vectorized-reader path).
  * Write- and generation-heavy in graft.medallion; narrow rows load the
  * write layer row-bound, wide rows byte-bound. */
object MedallionChain {
  /** Input sizes in GB per round. */
  val NarrowGb = 0.1
  val WideGb = 0.1

  def config(base: Path, seed: Long, gb: Double, wide: Boolean): MdpConfig = {
    val d = MdpConfig.fromEnv(base.toString).copy(ingestGb = gb, seed = seed)
    if (wide) d.copy(payloadKb = 256, partitions = 8) else d
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.args.seed

    // set-up: the reference's smoke stage (a 100-row parquet round trip),
    // from nothing each time. The chain then runs on a cold JVM, as a
    // batch job submitted on its own does.
    ctx.setup(3) { i =>
      val c = config(ctx.dir(s"smoke$i"), seed, NarrowGb, wide = false)
      require(Pipeline.smoke(spark, c), "smoke stage failed")
    }

    val tr = ctx.tracer
    val walls = ctx.rounds(min = 1) { r =>
      val base = ctx.dir(s"round$r")
      val roundSeed = Workload.roundSeed(seed, r)
      val n = config(base.resolve("narrow"), roundSeed, NarrowGb, wide = false)
      val w = config(base.resolve("wide"), roundSeed, WideGb, wide = true)
      ctx.op("medallion.bronze")(Pipeline.bronze(spark, n))
      val bronzeBytes = Disk.bytes(Disk.parquet(Paths.get(n.bronzeUri)))
      ctx.op("medallion.silver")(Pipeline.silver(spark, n))
      val silverFiles = Disk.parquet(Paths.get(n.silverFallbackUri))
      ctx.op("medallion.gold")(Pipeline.gold(spark, n))
      // the wide pass replaces the silver table, so check the chain first
      checkRound(ctx, n, withGold = true)
      ctx.op("medallion.wide.bronze")(Pipeline.bronze(spark, w))
      val wideBronzeBytes = Disk.bytes(Disk.parquet(Paths.get(w.bronzeUri)))
      ctx.op("medallion.wide.silver")(Pipeline.silver(spark, w))

      if (tr.active && r == 0) {
        // count-type metrics come from the first traced round only, so a
        // seed reproduces them whatever the run length
        tr.drain()
        // bytes the stage's scans selected over the bytes of its input
        def passes(stage: String, inputBytes: Long) =
          tr.queriesUnder(tr.named(stage)).map(_.scanBytes).sum.toDouble / math.max(1L, inputBytes)
        ctx.layer("medallion.silver.input_passes") = passes("medallion.silver", bronzeBytes)
        ctx.layer("medallion.gold.input_passes") = passes("medallion.gold", Disk.bytes(silverFiles))
        ctx.layer("medallion.wide.silver.input_passes") =
          passes("medallion.wide.silver", wideBronzeBytes)
        ctx.layer("medallion.silver.files_written") = silverFiles.size.toDouble
        ctx.report("input_fingerprint") = Workload.fingerprint(spark.read.parquet(n.bronzeUri))
      }
      checkRound(ctx, w, withGold = false)
      Disk.rm(base)
    }

    // end-to-end: GB/min of the narrow chain and of the wide pass, per round
    val narrowS = ctx.ms("medallion.bronze").indices.map(i =>
      (ctx.ms("medallion.bronze")(i) + ctx.ms("medallion.silver").lift(i).getOrElse(0.0) +
        ctx.ms("medallion.gold").lift(i).getOrElse(0.0)) / 1000)
    val wideS = ctx.ms("medallion.wide.bronze").indices.map(i =>
      (ctx.ms("medallion.wide.bronze")(i) +
        ctx.ms("medallion.wide.silver").lift(i).getOrElse(0.0)) / 1000)
    ctx.report("etl_gbpm") = Stats.median(narrowS.map(NarrowGb / _ * 60))
    ctx.report("etl_wide_gbpm") = Stats.median(wideS.map(WideGb / _ * 60))
    Workload.finish(ctx, walls)

    if (tr.spans.nonEmpty) {
      for (st <- Seq("bronze", "silver", "gold"))
        ctx.layer(s"medallion.${st}_s") = Workload.selfMedianS(ctx, s"medallion.$st")
      for (st <- Seq("bronze", "silver"))
        ctx.layer(s"medallion.wide.${st}_s") = Workload.selfMedianS(ctx, s"medallion.wide.$st")
      val silver = tr.warm("medallion.silver")
      val ts = tr.tasksUnder(silver)
      val k = math.max(1, silver.size).toDouble
      ctx.layer("medallion.silver.jobs") = tr.jobsUnder(silver) / k
      ctx.layer("medallion.silver.shuffle_write_mb") = Tasks.shuffleWriteMb(ts) / k
      ctx.layer("medallion.silver.spill_mb") = Tasks.spillMb(ts) / k
      ctx.layer("medallion.silver.task_skew") = Tasks.skew(ts)
      ctx.layer("medallion.silver.core_util") =
        Tasks.coreUtil(ts, silver.map(_.ms).sum, ctx.cores)
    }
  }

  /** Row-count reconciliation of one round's layers, outside the timing. */
  private def checkRound(ctx: Ctx, c: MdpConfig, withGold: Boolean): Unit = {
    val spark = ctx.spark
    val tag = if (c.payloadKb >= 64) "wide" else "narrow"
    val bronze = spark.read.parquet(c.bronzeUri)
    val expected = BronzeGen.rowsFor(c.ingestGb, c.payloadKb, c.partitions)
    ctx.check(s"$tag bronze rows == BronzeGen.rowsFor") { bronze.count() == expected }
    val kept = bronze.where(col("data_quality_flag") =!= "duplicate_suspected").count()
    val silver = spark.table(c.silverFqn)
    ctx.check(s"$tag silver rows == bronze rows not duplicate_suspected") {
      silver.count() == kept
    }
    if (withGold) {
      val gold = spark.table(c.goldFqn)
      val days = silver.select("interaction_date").distinct().count()
      ctx.check("gold has one row per silver interaction_date") {
        gold.count() == days &&
          gold.select("interaction_date").distinct().count() == days
      }
      ctx.check("gold total_transactions reconciles with silver") {
        val g = gold.agg(sum("total_transactions")).head().getLong(0)
        val s = silver.where(col("transaction_amount") > 0).count()
        g == s
      }
    }
  }
}
