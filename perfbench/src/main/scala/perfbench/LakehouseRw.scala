package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Writes beside reads on one AtomicParquetCatalog table: an sf0.1-sized
  * `orders` table (150k rows, partitioned by o_orderstatus, merge-on-read
  * deletes and merges keyed on o_orderkey), driven in cycles of append,
  * MoR MERGE, MoR DELETE and a streaming drain from a landing table, each
  * followed by four reads and a maintenance call.
  * Many small commits through graft.sources and graft.streaming. */
object LakehouseRw {
  val Rows = 150000L
  val AppendRows = 2000
  val MergeUpdates = 500
  val MergeInserts = 500
  val DrainRows = 1000
  val DeleteSpan = 400
  val RangeSpan = 5000
  /** Cycles of sources staged in set-up; a run never needs more. */
  val MaxCycles = 4

  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** One orders row per key `k`, every column a seeded hash of the key,
    * the seed and `salt` (a later salt is an update of the same key).
    * Other columns of `keys` ride along at the end. */
  def orders(keys: DataFrame, seed: Long, salt: Int): DataFrame = {
    def h(i: Int): Column = pmod(xxhash64(col("k"), lit(seed), lit(salt), lit(i)), lit(1000000007L))
    keys.select(Seq(
      col("k").cast(LongType).as("o_orderkey"),
      (pmod(h(1), lit(15000L)) + 1).as("o_custkey"),
      when(pmod(h(2), lit(100L)) < 49, "F").when(pmod(h(2), lit(100L)) < 98, "O")
        .otherwise("P").as("o_orderstatus"),
      (pmod(h(3), lit(50000000L)) / 100 + 850).cast(DecimalType(12, 2)).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), pmod(h(4), lit(2400L)).cast("int")).as("o_orderdate"),
      element_at(array(Priorities.map(lit): _*), (pmod(h(5), lit(5L)) + 1).cast("int"))
        .as("o_orderpriority"),
      concat(lit("Clerk#"), lpad((pmod(h(6), lit(1000L)) + 1).cast("string"), 9, "0")).as("o_clerk"),
      lit(0).as("o_shippriority"),
      substring(sha2(concat_ws("|", col("k").cast("string"), lit(seed.toString),
        lit(salt.toString)), 256), lit(1), (pmod(h(7), lit(40L)) + 20).cast("int")).as("o_comment")
    ) ++ keys.columns.filter(_ != "k").map(col): _*)
  }

  /** Rows, sum of a row hash and decimal sum of o_totalprice: equal
    * checksums mean equal tables up to an astronomically unlikely collision. */
  def checksum(df: DataFrame): String = Workload.fingerprint(df, sum(col("o_totalprice")))

  /** One cycle's seeded choices. */
  final case class Plan(mergeKeys: Seq[Long], deleteFrom: Long, rangeFrom: Long, point: Long)

  def plan(seed: Long, c: Int): Plan = {
    val rnd = new scala.util.Random(Workload.roundSeed(seed, c))
    Plan(Seq.fill(MergeUpdates)(1L + rnd.nextInt(Rows.toInt)).distinct,
      1L + rnd.nextInt((Rows - DeleteSpan).toInt), 1L + rnd.nextInt((Rows - RangeSpan).toInt),
      1L + rnd.nextInt(Rows.toInt))
  }

  /** Staged inputs of one set-up: the initial rows as plain parquet, and
    * per cycle the append batch, the merge source and the landing batch. */
  final case class Staged(db: String, dir: Path, sourceBytes: Map[(String, Int), Long]) {
    /** Cycle `c`'s rows of one staged source: append, merge or landing. */
    def src(spark: SparkSession, kind: String, c: Int): DataFrame =
      spark.read.parquet(dir.resolve(kind).toString).where(col("cycle") === c).drop("cycle")
  }

  def stage(ctx: Ctx, i: Int): Staged = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    val dir = ctx.dir(s"lakehouse$i")
    val db = s"bench.db$i"
    orders(spark.range(1, Rows + 1).toDF("k"), seed, 0)
      .write.parquet(dir.resolve("initial").toString)
    def keyRange(from: Long, per: Int) =
      spark.range(from, from + MaxCycles.toLong * per).toDF("k")
        .withColumn("cycle", ((col("k") - from) / per).cast("int"))
    orders(keyRange(1000000L, AppendRows), seed, 0)
      .write.partitionBy("cycle").parquet(dir.resolve("append").toString)
    orders(keyRange(3000000L, DrainRows), seed, 0)
      .write.partitionBy("cycle").parquet(dir.resolve("landing").toString)
    import spark.implicits._
    val merge = (0 until MaxCycles).flatMap { c =>
      plan(seed, c).mergeKeys.map(k => (k, c)) ++
        (0 until MergeInserts).map(j => (2000000L + c * MergeInserts + j, c))
    }
    orders(merge.toDF("k", "cycle"), seed, 1)
      .write.partitionBy("cycle").parquet(dir.resolve("merge").toString)

    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $db")
    spark.read.parquet(dir.resolve("initial").toString)
      .writeTo(s"$db.orders").using("parquet").partitionedBy(col("o_orderstatus"))
      .tableProperty("write.delete.mode", "merge-on-read")
      .tableProperty("write.merge.mode", "merge-on-read")
      .create()
    spark.sql(s"ALTER TABLE $db.orders ADD CONSTRAINT orders_pk PRIMARY KEY (o_orderkey) NOT ENFORCED")
    spark.read.parquet(dir.resolve("landing").toString).drop("cycle").limit(0)
      .writeTo(s"$db.landing").using("parquet").create()
    val bytes = for (kind <- Seq("append", "merge", "landing"); c <- 0 until MaxCycles)
      yield (kind, c) -> Disk.bytes(Disk.files(dir.resolve(kind).resolve(s"cycle=$c")))
    Staged(db, dir, bytes.toMap)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    val st = ctx.setup(3)(i => stage(ctx, i))
    val t = s"${st.db}.orders"
    if (ctx.args.traced) ctx.report("input_fingerprint") =
      Seq("initial", "append", "merge", "landing")
        .map(k => Workload.fingerprint(spark.read.parquet(st.dir.resolve(k).toString))).mkString("/")
    val tableDir = ctx.args.tmp.resolve("catalog").resolve(st.db.stripPrefix("bench.")).resolve("orders")
    def src(kind: String, c: Int) = st.src(spark, kind, c)
    val ckpt = st.dir.resolve("drain-checkpoint").toString
    val done = ArrayBuffer.empty[(String, Int)]
    val tr = ctx.tracer
    val commitKinds = Seq("catalog.append", "catalog.merge", "catalog.delete",
      "catalog.drain", "catalog.maintenance")
    val readKinds = Seq("scan.pruned", "scan.range", "scan.point", "scan.time_travel")
    val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    var drainedRows = 0L
    var rowsReturned = 0L

    def currentVersion(): String =
      spark.sql(s"SELECT version FROM $t.history WHERE is_current").head().getString(0)

    def commit(kind: String, c: Int, variant: String = "")(f: => Unit): Unit =
      if (ctx.op(s"catalog.$kind", variant)(f).isDefined) done += ((kind, c))

    // at least three cycles, so the cycles after the first give a median
    val rounds = ctx.rounds(min = 3, max = MaxCycles) { c =>
      val p = plan(seed, c)
      val filesBefore = if (tr.active) dataFiles(tableDir) else Set.empty[AnyRef]
      src("append", c).createOrReplaceTempView("append_src")
      commit("append", c)(spark.sql(s"INSERT INTO $t SELECT * FROM append_src").collect())
      src("merge", c).createOrReplaceTempView("merge_src")
      commit("merge", c)(spark.sql(
        s"""MERGE INTO $t t USING merge_src s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
      val travelTo = currentVersion()
      val travelSum = checksum(spark.table(t))
      commit("delete", c)(spark.sql(
        s"DELETE FROM $t WHERE o_orderkey >= ${p.deleteFrom} AND o_orderkey < ${p.deleteFrom + DeleteSpan}").collect())
      src("landing", c).writeTo(s"${st.db}.landing").append()
      ctx.op("catalog.drain") {
        val q = spark.readStream.table(s"${st.db}.landing").writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).toTable(t)
        try q.awaitTermination() finally q.stop()
        progress ++= q.recentProgress
        q.recentProgress.map(_.numInputRows).sum
      }.foreach { n => drainedRows += n; done += (("drain", c)) }

      def read(kind: String, sql: String): Unit =
        ctx.op(kind)(spark.sql(sql).collect()).foreach(rows => if (tr.active) rowsReturned += rows.length)
      read("scan.pruned",
        s"""SELECT o_orderpriority, count(*), sum(o_totalprice) FROM $t
           |WHERE o_orderstatus = 'P' GROUP BY o_orderpriority""".stripMargin)
      read("scan.range",
        s"SELECT count(*) FROM $t WHERE o_orderkey BETWEEN ${p.rangeFrom} AND ${p.rangeFrom + RangeSpan}")
      read("scan.point", s"SELECT * FROM $t WHERE o_orderkey = ${p.point}")
      ctx.op("scan.time_travel")(checksum(spark.sql(s"SELECT * FROM $t VERSION AS OF '$travelTo'")))
        .foreach { got =>
          if (tr.active) rowsReturned += 1
          ctx.check(s"cycle $c VERSION AS OF matches its commit")(got == travelSum)
        }

      // maintenance closes every cycle, so every cycle has the same shape:
      // rewrite_deletes on even cycles, compact on odd ones
      val ident = s"${st.db.stripPrefix("bench.")}.orders"
      if (tr.active && c == 0) ctx.layer("catalog.delete_entries") =
        spark.sql(s"SELECT count(*) FROM $t.deletes").head().getLong(0).toDouble
      val (proc, args) = if (c % 2 == 0) ("rewrite_deletes", s"'$ident'") else ("compact", s"'$ident', 2")
      commit("maintenance", c, proc)(spark.sql(s"CALL bench.system.$proc($args)").collect())

      // counts after the first cycle, which a seed reproduces exactly
      // (a later compaction orders rows by shuffle arrival, which moves
      // file sizes by a few bytes)
      if (c == 0) {
        val live = spark.sql(s"SELECT count(*), coalesce(sum(size_bytes), 0) FROM $t.files").head()
        ctx.report("space_amp") = uniqueBytes(tableDir).toDouble / math.max(1L, live.getLong(1))
        ctx.layer("catalog.live_files") = live.getLong(0).toDouble
      }
      if (tr.active && c == 0) {
        tr.drain()
        val commits = tr.spans.filter(s => commitKinds.contains(s.name)).toSeq
        val sourceBytes = Seq("append", "merge", "landing").map(k => st.sourceBytes((k, 0))).sum
        ctx.layer("catalog.write_amp") =
          Tasks.outBytes(tr.tasksUnder(commits)).toDouble / math.max(1L, sourceBytes)
        ctx.layer("catalog.files_per_commit") =
          (dataFiles(tableDir) -- filesBefore).size.toDouble / math.max(1, commits.size)
      }
    }

    // correctness: the table equals the same operations applied with plain
    // DataFrame operations to a plain parquet copy
    val ref = reference(ctx, st, done.toSeq)
    ctx.check("final table checksum equals the plain-parquet replay") {
      checksum(spark.table(t)) == checksum(ref)
    }

    val commits = commitKinds.flatMap(ctx.ms)
    val reads = readKinds.flatMap(ctx.ms)
    ctx.report("commit_p50_ms") = Stats.median(commits)
    ctx.report("commit_p90_ms") = Stats.quantile(commits, 0.9)
    ctx.report("read_p50_ms") = Stats.median(reads)
    ctx.report("read_p90_ms") = Stats.quantile(reads, 0.9)
    ctx.report("commit_samples") = commits.size
    ctx.report("read_samples") = reads.size
    ctx.report("stream_rows_per_s") = drainedRows / math.max(ctx.ms("catalog.drain").sum / 1000, 1e-9)
    Workload.finish(ctx, rounds)

    if (tr.spans.nonEmpty) {
      for (k <- commitKinds ++ readKinds)
        ctx.layer(s"${k}_ms") = Workload.selfMedianMs(ctx, k)
      ctx.layer("catalog.delete_growth") = Stats.growth(ctx.ms("catalog.delete"))
      ctx.layer("scan.read_growth") = Stats.growth(ctx.ms("scan.range"))
      val commitSpans = tr.spans.filter(s => commitKinds.contains(s.name)).toSeq
      ctx.layer("catalog.jobs_per_commit") = tr.jobsUnder(commitSpans).toDouble / math.max(1, commitSpans.size)
      val readSpans = tr.spans.filter(s => readKinds.contains(s.name)).toSeq
      val readQueries = tr.queriesUnder(readSpans)
      ctx.layer("scan.files_read") = readQueries.map(_.scanFiles).sum.toDouble / math.max(1, readSpans.size)
      ctx.layer("plan.read_ms") = Stats.median(readSpans.flatMap(s => tr.queriesUnder(Seq(s)).map(_.planMs)))
      ctx.layer("plan.commit_ms") = Stats.median(commitSpans.flatMap(s => tr.queriesUnder(Seq(s)).map(_.planMs)))
      ctx.layer("scan.bytes_per_row_returned") =
        readQueries.map(_.scanBytes).sum.toDouble / math.max(1, rowsReturned)
      val prog = progress.toSeq
      def dur(k: String) = Stats.median(prog.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      ctx.layer("stream.epochs") = prog.size.toDouble / math.max(1, ctx.ms("catalog.drain").size)
      ctx.layer("stream.epoch_ms") = dur("triggerExecution")
      ctx.layer("stream.add_batch_ms") = dur("addBatch")
      ctx.layer("stream.wal_commit_ms") = dur("walCommit")
      ctx.layer("stream.commit_offsets_ms") = dur("commitOffsets")
      ctx.layer("stream.planning_ms") = dur("queryPlanning")
      ctx.layer("stream.latest_offset_ms") = dur("latestOffset")
    }
  }

  /** Inodes of the table's parquet data files, over every version. */
  private def dataFiles(tableDir: Path): Set[AnyRef] = Disk.parquet(tableDir).map(Disk.inode).toSet

  /** Bytes under `dir`, each hard-linked inode counted once. */
  private def uniqueBytes(dir: Path): Long =
    Disk.files(dir).map(f => Disk.inode(f) -> Disk.bytes(Seq(f))).toMap.values.sum

  /** The operations that committed, replayed with plain DataFrame
    * operations over the initial rows, checkpointed to parquet. */
  private def reference(ctx: Ctx, st: Staged, ops: Seq[(String, Int)]): DataFrame = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    def src(kind: String, c: Int) = st.src(spark, kind, c)
    var ref = spark.read.parquet(st.dir.resolve("initial").toString)
    var n = 0
    for ((kind, c) <- ops) {
      kind match {
        case "append" => ref = ref.unionByName(src("append", c))
        case "merge" =>
          val s = src("merge", c)
          ref = ref.join(s.select("o_orderkey"), Seq("o_orderkey"), "left_anti").unionByName(s)
        case "delete" =>
          val p = plan(seed, c)
          ref = ref.where(!(col("o_orderkey") >= p.deleteFrom && col("o_orderkey") < p.deleteFrom + DeleteSpan))
        case "drain" => ref = ref.unionByName(src("landing", c))
        case _ =>
      }
      n += 1
      if (n % 8 == 0) {
        val out = st.dir.resolve(s"reference$n").toString
        ref.write.parquet(out)
        ref = spark.read.parquet(out)
      }
    }
    ref
  }
}
