package perfbench

/** Every per-layer metric a traced run reports, with its unit and which
  * direction is better. Every workload reports every metric: a layer a
  * workload does not exercise reads 0 there, which is the "predicted flat"
  * column of the README's layer map. BENCHMARK.json lists the same names. */
object Layers {
  final case class M(name: String, unit: String, better: String)

  private def ms(n: String) = M(n, "ms", "lower")
  private def s(n: String) = M(n, "s", "lower")
  private def count(n: String, better: String = "lower") = M(n, "count", better)
  private def ratio(n: String, better: String = "lower") = M(n, "ratio", better)
  private def mb(n: String) = M(n, "MB", "lower")

  val all: Seq[M] = Seq(
    // graft.medallion: the narrow chain
    s("medallion.bronze_s"), s("medallion.silver_s"), s("medallion.gold_s"),
    ratio("medallion.silver.input_passes"), ratio("medallion.gold.input_passes"),
    count("medallion.silver.jobs"), mb("medallion.silver.shuffle_write_mb"),
    mb("medallion.silver.spill_mb"), count("medallion.silver.files_written"),
    ratio("medallion.silver.task_skew"), ratio("medallion.silver.core_util", "higher"),
    // graft.medallion: the payload-256 pass
    s("medallion.wide.bronze_s"), s("medallion.wide.silver_s"),
    ratio("medallion.wide.silver.input_passes"),
    // graft.sources: commits
    ms("catalog.append_ms"), ms("catalog.merge_ms"), ms("catalog.delete_ms"),
    ms("catalog.drain_ms"), ms("catalog.maintenance_ms"),
    ratio("catalog.delete_growth"), count("catalog.files_per_commit"),
    count("catalog.jobs_per_commit"), ratio("catalog.write_amp"),
    count("catalog.live_files"), count("catalog.delete_entries"),
    // graft.sources: scans
    ms("scan.pruned_ms"), ms("scan.range_ms"), ms("scan.point_ms"),
    ms("scan.time_travel_ms"), count("scan.files_read"),
    M("scan.bytes_per_row_returned", "B/row", "lower"), ratio("scan.read_growth"),
    // graft.plans and planning
    ms("plan.read_ms"), ms("plan.commit_ms"),
    // graft.streaming
    count("stream.epochs"), ms("stream.epoch_ms"), ms("stream.add_batch_ms"),
    ms("stream.wal_commit_ms"), ms("stream.commit_offsets_ms"),
    ms("stream.planning_ms"), ms("stream.latest_offset_ms"),
    // graft.api and graft.functions
    s("api.clean_corpus_s"), s("api.dedup_corpus_s"),
    s("api.minhash_signatures_s"), s("api.near_dup_pairs_s"),
    s("api.jaccard_verify_s"), s("api.connected_components_s"),
    count("api.candidate_pairs"), count("api.verified_pairs", "higher"),
    ratio("api.pair_yield", "higher"), mb("api.shuffle_write_mb"),
    mb("api.spill_mb"), mb("api.persist_mb"), ratio("api.task_skew"),
    ratio("api.core_util", "higher"),
    // Spark runtime, whole traced rounds
    count("spark.jobs"), count("spark.tasks"), s("spark.gc_s"),
    mb("spark.shuffle_read_mb"),
    // the cost of tracing itself: traced over untraced round time, minus 1
    ratio("trace.overhead"))
}
