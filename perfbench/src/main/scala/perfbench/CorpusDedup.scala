package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Graft

/** Training-data cleaning on a synthetic corpus: base documents, each
  * replicated K times with a distinct seeded suffix, so the corpus is a
  * set of near-duplicate K-cliques. The timed calls are Graft.cleanCorpus
  * and Graft.dedupCorpus, each fully materialized: almost all of the work
  * is in graft.api and the graft.functions kernels (minhash, shingle sets,
  * verify), with no catalog and no medallion code.
  *
  * The base documents follow the shape of the TPC-H-ish sf0.1 `documents`
  * table the engine's fixtures use (5,000 rows; the README gives the
  * figures measured on it): words drawn uniformly from a 30-word
  * vocabulary, a length uniform in 10..100 words, and 5% of the documents
  * a copy of another document with the token `dup` appended. */
object CorpusDedup {
  /** Enough that the K replicas put more than [[BroadcastDocLimit]]
    * documents into candidate pairs, so verify runs its shuffled-join path,
    * the one a production-size corpus takes. A traced run checks it. */
  val BaseDocs = 2600
  /** `Graft.jaccardVerify`'s default broadcastDocLimit. */
  val BroadcastDocLimit = 10000L
  /** Replicas per document. Candidate pairs grow about K^2/2 per
    * document, so K sets the verify share of the work. */
  val K = 4
  val WordsMin = 10
  val WordsMax = 100
  /** The sf0.1 documents' vocabulary; every word is about equally frequent. */
  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  /** Share of documents that copy another one and append `dup`. */
  val DupShare = 0.05

  /** The base corpus, a pure function of the seed: document i is the i-th
    * text. Copies are made in index order, so a copy can copy a copy, and
    * two copies of one document are exact duplicates, as in sf0.1. */
  def baseDocs(seed: Long): IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed)
    val docs = Array.fill(BaseDocs) {
      val words = WordsMin + rnd.nextInt(WordsMax - WordsMin + 1)
      Seq.fill(words)(Vocabulary(rnd.nextInt(Vocabulary.size))).mkString(" ")
    }
    for (i <- docs.indices if rnd.nextDouble() < DupShare) {
      val j = (i + 1 + rnd.nextInt(BaseDocs - 1)) % BaseDocs
      docs(i) = docs(j) + " dup"
    }
    docs.toIndexedSeq
  }

  /** The replicated corpus: replica r of base document i has id i*K + r
    * and the base text plus a two-character token of its own (`r` and a
    * seeded digit, distinct among the replicas of one document): small
    * enough that even a 10-word replica stays a near duplicate of its
    * siblings, so every K-clique collapses to one document. */
  def replicated(seed: Long, base: IndexedSeq[String], k: Int): Seq[(Long, String)] = {
    require(k <= 10, "one digit tells at most 10 replicas apart")
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    base.indices.flatMap { i =>
      rnd.shuffle((0 to 9).toList).take(k).zipWithIndex.map { case (d, r) =>
        (i.toLong * k + r, s"${base(i)} r$d")
      }
    }
  }

  private def persistedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / Tasks.MB

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.args.seed

    // set-up: generate and stage the corpus; then dedup the unreplicated
    // corpus once for the kept-count check
    val dir = ctx.setup(3) { i =>
      val base = baseDocs(seed)
      val dir = ctx.dir(s"corpus$i")
      base.zipWithIndex.map { case (t, j) => (j.toLong, t) }.toDF("id", "text")
        .write.parquet(dir.resolve("base").toString)
      replicated(seed, base, K).toDF("id", "text").repartition(ctx.cores)
        .write.parquet(dir.resolve("corpus").toString)
      dir
    }
    val expectedKept = {
      val kept = Graft.dedupCorpus(spark.read.parquet(dir.resolve("base").toString),
        col("id"), col("text"))
      try kept.count() finally kept.unpersist()
    }
    val corpusPath = dir.resolve("corpus").toString
    val docs = spark.read.parquet(corpusPath).cache()
    if (ctx.args.traced) ctx.report("input_fingerprint") = Workload.fingerprint(docs)
    val nDocs = docs.count()
    ctx.report("docs") = nDocs
    ctx.report("base_dedup_kept") = expectedKept
    val tr = ctx.tracer
    var persistMb = 0.0

    // an untraced run measures one round, on a JVM that has run only the
    // set-up, as a cleaning job submitted on its own does (the rule of
    // medallion_chain too); the round outlasts the measuring time, so a
    // second round would only make some runs differ from others
    val rounds = ctx.rounds(min = 1, max = if (ctx.args.traced) Int.MaxValue else 1) { r =>
      ctx.op("api.clean_corpus") {
        val out = Graft.cleanCorpus(docs, col("id"), col("text"),
          chunkWords = 10, maxDocFreq = K, maxDupFrac = 0.5)
        val n = out.count()
        if (tr.active) persistMb = math.max(persistMb, persistedMb(spark))
        out.unpersist()
        n
      }
      ctx.op("api.dedup_corpus") {
        val out = Graft.dedupCorpus(docs, col("id"), col("text"))
        val n = out.count()
        if (tr.active) persistMb = math.max(persistMb, persistedMb(spark))
        out.unpersist()
        n
      }.foreach { n =>
        ctx.check(s"round $r dedupCorpus kept == unreplicated kept ($expectedKept)")(n == expectedKept)
      }
      if (tr.active && r == 0) steps(ctx, docs)
    }

    ctx.report("dedup_docs_per_s") = nDocs / (Stats.median(ctx.ms("api.dedup_corpus")) / 1000)
    ctx.report("clean_docs_per_s") = nDocs / (Stats.median(ctx.ms("api.clean_corpus")) / 1000)
    Workload.finish(ctx, rounds)

    if (tr.spans.nonEmpty) {
      ctx.layer("api.clean_corpus_s") = Workload.selfMedianS(ctx, "api.clean_corpus")
      ctx.layer("api.dedup_corpus_s") = Workload.selfMedianS(ctx, "api.dedup_corpus")
      for (st <- Seq("minhash_signatures", "near_dup_pairs", "jaccard_verify", "connected_components"))
        ctx.layer(s"api.${st}_s") = Workload.selfMedianS(ctx, s"api.$st")
      val calls = tr.warm("api.clean_corpus") ++ tr.warm("api.dedup_corpus")
      val ts = tr.tasksUnder(calls)
      val k = math.max(1, calls.size).toDouble
      ctx.layer("api.shuffle_write_mb") = Tasks.shuffleWriteMb(ts) / k
      ctx.layer("api.spill_mb") = Tasks.spillMb(ts) / k
      ctx.layer("api.persist_mb") = persistMb
      ctx.layer("api.task_skew") = Tasks.skew(ts)
      ctx.layer("api.core_util") = Tasks.coreUtil(ts, calls.map(_.ms).sum, ctx.cores)
    }
    docs.unpersist()
  }

  /** The dedup pipeline's public steps one by one, each materialized under
    * its own span (traced rounds only): where dedup time goes, and how many
    * candidate pairs the LSH banding yields per verified pair. */
  private def steps(ctx: Ctx, docs: DataFrame): Unit = {
    def mat(df: DataFrame): (DataFrame, Long) = { val p = df.persist(); (p, p.count()) }
    val tr = ctx.tracer
    val (sigs, _) = tr.span("api.minhash_signatures")(
      mat(Graft.minhashSignatures(docs, col("id"), col("text"))))
    val (pairs, candidates) = tr.span("api.near_dup_pairs")(mat(Graft.nearDupPairs(sigs)))
    val inPair = pairs.select(col("id_a").as("id")).union(pairs.select(col("id_b").as("id")))
      .distinct().count()
    ctx.report("in_pair_docs") = inPair
    ctx.check(s"verify takes its shuffled join: in-pair docs $inPair > $BroadcastDocLimit")(
      inPair > BroadcastDocLimit)
    val (edges, verified) = tr.span("api.jaccard_verify")(mat(
      Graft.jaccardVerify(docs, col("id"), col("text"), pairs).where(col("jaccard") >= 0.5)))
    tr.span("api.connected_components")(
      mat(Graft.connectedComponents(edges, col("id_a"), col("id_b")))._1.unpersist())
    Seq(sigs, pairs, edges).foreach(_.unpersist())
    ctx.layer("api.candidate_pairs") = candidates.toDouble
    ctx.layer("api.verified_pairs") = verified.toDouble
    ctx.layer("api.pair_yield") = verified.toDouble / math.max(1L, candidates)
  }
}
