package graft.perfbench

/** The fixed query list of each closed-loop workload (`ingest` has none:
  * its load is the frame generator). Every list is sized so that a run,
  * which pays a cold JVM and a warm-up execution of every query, fits the
  * benchmark's run budget. */
object Workloads {
  val names: Map[String, Seq[String]] = Map(
    // the reference's dashboard SQL: group-by, CASE, time bucket, top-k,
    // sample, a broadcast join
    "dashboard" -> Seq("q01_agg_sum", "q03_time_bucket", "q04_value_counts",
      "q21_case_when", "q44_topk", "q45_sample", "q11_join_broadcast"),
    // RocksDB-stateful drains (a running count, session windows) and
    // catalog commits with reads beside the writes
    "lifecycle" -> Seq("st04_stateful_counter", "st03_session_window",
      "src11_manifest_snapshot"),
    "ingest" -> Seq.empty,
    // Not BENCHMARK.json workloads, as they do not fit its run budget;
    // traced by hand. corpus: executor-bound operators (text, dedup,
    // similarity, multimodal), for the busy-fraction contrast with
    // lifecycle; facts: the jobs and driver-gap counts of d16 and st06.
    "corpus" -> Seq("t07_top_terms", "d03_minhash_lsh_pairs", "s06_ivf_search",
      "mm03_decode_features"),
    "facts" -> Seq("d16_index_maintenance", "st06_stream_stream_join"))
}
