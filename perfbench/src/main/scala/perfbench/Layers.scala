package perfbench

/** The per-layer metrics of the program's own modules that
  * `BENCHMARK.json` lists, each named after the module it measures. A
  * traced run prints all of them; a layer the workload does not exercise
  * reads 0. */
object Layers {
  val Names: Seq[String] = Seq(
    // streaming (FeedV2, HttpFeedSource)
    "stream.latest_offset_s", "stream.query_planning_s", "stream.add_batch_s",
    "stream.wal_commit_s", "stream.commit_offsets_s", "stream.triggers",
    "stream.empty_triggers", "stream.schedule_lag_s", "stream.polls_served",
    "stream.committed_per_served",
    // ops.IngestOps
    "ingest.decode_s", "ingest.enrich_s", "ingest.write_s",
    "ingest.write_first_decile_s", "ingest.write_last_decile_s",
    "ingest.rows", "ingest.files_written", "ingest.bytes_written",
    // ops.CompactOps
    "compact.s_per_partition", "compact.files_in", "compact.files_out",
    "compact.bytes_in", "compact.bytes_out", "compact.row_groups",
    "compact.row_groups_in_band_ratio", "compact.shuffle_bytes",
    // ops.Gtfs
    "flagship.plan_s", "flagship.exec_s", "flagship.scan_files",
    "flagship.scan_bytes", "flagship.dwithin_pairs_in", "flagship.matches_out",
    // streaming.FlagshipStream
    "mv.add_batch_s", "mv.query_planning_s", "mv.rows_in", "mv.state_rows",
    "mv.state_bytes") ++
    // catalog (SparkEntry.queries and ops/*)
    CatalogMv.Queries.flatMap(q => Seq(s"catalog.$q.cold_s", s"catalog.$q.warm_s")) :+
    "catalog.cache_dirs_built"
}
