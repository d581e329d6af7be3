"""The benchmark's metric catalogue: name, unit, which direction is better
and, for end-to-end metrics, the bound a change may worsen the median by.
Per-layer metrics also name the end-to-end metric they should move and on
which workload. BENCHMARK.json at the repository root carries the same
names, units, directions and bounds (a test checks they agree).
"""

WORKLOADS = {
    "export": "The reference's own job: scan, last-write-wins pivot shuffle and the four sinks do all the work; "
              "commits, manifest growth, pruning, deletes, compaction, index and tail do none.",
    "mixed_rw": "The same table used online, HBase-style: writes beside reads and background compaction, so a read-side "
                "gain paid for by commits or maintenance shows; no export sink runs.",
    "dedup": "Training-data operators with no graft-kv: CPU-bound expressions, shuffles and self-joins; catches "
             "engine-wide changes, and planted pairs make recall measurable.",
}

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("work_per_s", "1/s", "higher", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("heap_peak_mb", "MB", "lower", 0.25),
    ("recall", "ratio", "higher", 0.1),
    ("bytes_per_user_byte", "ratio", "lower", 0.1),
]

ALL = "export, mixed_rw, dedup"

# (name, unit, better, end-to-end metric it should move, on workload)
PER_LAYER = [
    ("KvCellSource.plan_s", "s", "lower", "op_p50_ms", "mixed_rw"),
    ("KvCellSource.regions_candidate", "count", "lower", "op_p50_ms", "mixed_rw"),
    ("KvCellSource.regions_planned", "count", "lower", "op_p50_ms", "mixed_rw"),
    ("KvCellSource.prune_ratio", "ratio", "higher", "op_p50_ms", "mixed_rw"),
    ("KvCellSource.scan_task_s", "s", "lower", "work_per_s", "export"),
    ("KvCellSource.input_bytes", "B", "lower", "work_per_s", "export"),
    ("KvCellSource.input_records", "count", "lower", "work_per_s", "export"),
    ("KvPivot.shuffle_write_bytes", "B", "lower", "work_per_s", "export; op_p50_ms on mixed_rw"),
    ("KvPivot.shuffle_read_bytes", "B", "lower", "work_per_s", "export; op_p50_ms on mixed_rw"),
    ("KvPivot.reduce_task_s", "s", "lower", "work_per_s", "export; op_p50_ms on mixed_rw"),
    ("KvPivot.spill_bytes", "B", "lower", "work_per_s", "export"),
    ("KvPivot.task_skew", "ratio", "lower", "work_per_s", "export"),
    ("sinks.parquet.write_s", "s", "lower", "work_per_s", "export"),
    ("sinks.avro.write_s", "s", "lower", "work_per_s", "export"),
    ("sinks.txt.write_s", "s", "lower", "work_per_s", "export"),
    ("sinks.seq.write_s", "s", "lower", "work_per_s", "export"),
    ("sinks.output_bytes", "B", "lower", "bytes_per_user_byte", "export"),
    ("sinks.output_bytes_per_cell", "B", "lower", "bytes_per_user_byte", "export"),
    ("KvCellSink.commit_s", "s", "lower", "op.put_p50_s, work_per_s", "mixed_rw"),
    ("KvCellSink.files_per_commit", "count", "lower", "op.put_p50_s", "mixed_rw"),
    ("KvCellSink.bytes_written", "B", "lower", "bytes_per_user_byte", "mixed_rw"),
    ("KvLog.entries", "count", "lower", "op.get_p50_s", "mixed_rw"),
    ("KvLog.live_files", "count", "lower", "op.get_p50_s", "mixed_rw"),
    ("KvLog.replay_s", "s", "lower", "op.get_p50_s", "mixed_rw"),
    ("KvDelete.commit_s", "s", "lower", "op.delete_p50_s", "mixed_rw"),
    ("KvDelete.live_markers", "count", "lower", "op.get_p50_s (mask cost)", "mixed_rw"),
    ("KvMaintenance.maintain_s", "s", "lower", "op.get_p90_s, op.put_p90_s", "mixed_rw"),
    ("KvMaintenance.parked", "count", "lower", "bytes_per_user_byte", "mixed_rw"),
    ("KvMaintenance.overlap_s", "s", "lower", "op.get_p90_s, op.put_p90_s", "mixed_rw"),
    ("KvCompactor.segments_merged", "count", "lower", "bytes_per_user_byte", "mixed_rw"),
    ("KvCompactor.bytes_rewritten", "B", "lower", "op.put_p90_s", "mixed_rw"),
    ("KvCompactor.write_amp", "ratio", "lower", "bytes_per_user_byte", "mixed_rw"),
    ("KvIndex.lookup_s", "s", "lower", "op.index_get_p50_s", "mixed_rw"),
    ("KvIndex.refresh_s", "s", "lower", "op.index_get_p50_s", "mixed_rw"),
    ("KvIndex.refresh_seqs", "count", "lower", "op.index_get_p50_s", "mixed_rw"),
    ("KvTailStream.batches", "count", "lower", "op.tail_p50_s", "mixed_rw"),
    ("KvTailStream.batch_s", "s", "lower", "op.tail_p50_s", "mixed_rw"),
    ("KvTailStream.walcommit_s", "s", "lower", "op.tail_p50_s", "mixed_rw"),
    ("streaming.state_rows", "count", "lower", "op.tail_p50_s", "mixed_rw"),
    ("streaming.state_commit_s", "s", "lower", "op.tail_p50_s", "mixed_rw"),
    ("TextAnalysis.quality_s", "s", "lower", "work_per_s", "dedup"),
    ("TextAnalysis.kept_ratio", "ratio", "higher", "recall", "dedup"),
    ("Dedup.exact_s", "s", "lower", "work_per_s", "dedup"),
    ("Dedup.minhash_s", "s", "lower", "work_per_s", "dedup"),
    ("Dedup.clusters_s", "s", "lower", "work_per_s", "dedup"),
    ("Dedup.candidate_pairs", "count", "lower", "work_per_s", "dedup"),
    ("Dedup.verified_pairs", "count", "higher", "recall", "dedup"),
    ("Dedup.pair_yield", "ratio", "higher", "work_per_s, recall", "dedup"),
    ("Dedup.text_recall", "ratio", "higher", "recall", "dedup"),
    ("Similarity.semantic_s", "s", "lower", "work_per_s", "dedup"),
    ("Similarity.comparisons", "count", "lower", "work_per_s", "dedup"),
    ("Similarity.vector_recall", "ratio", "higher", "recall", "dedup"),
    ("spark.jobs", "count", "lower", "work_per_s", ALL),
    ("spark.tasks", "count", "lower", "work_per_s", ALL),
    ("spark.run_s", "s", "lower", "work_per_s", ALL),
    ("spark.cpu_s", "s", "lower", "work_per_s", ALL),
    ("spark.gc_s", "s", "lower", "work_per_s, heap_peak_mb", ALL),
    ("spark.shuffle_bytes", "B", "lower", "work_per_s", ALL),
    # mixed_rw latency by op type; a p90 is 0 unless at least 10 samples lie
    # beyond it (the count is op.<type>_n).
    ("op.put_p50_s", "s", "lower", "op_p50_ms, work_per_s", "mixed_rw"),
    ("op.put_p90_s", "s", "lower", "op_p50_ms", "mixed_rw"),
    ("op.put_n", "count", "higher", "work_per_s", "mixed_rw"),
    ("op.delete_p50_s", "s", "lower", "op_p50_ms", "mixed_rw"),
    ("op.delete_n", "count", "higher", "work_per_s", "mixed_rw"),
    ("op.get_p50_s", "s", "lower", "op_p50_ms", "mixed_rw"),
    ("op.get_p90_s", "s", "lower", "op_p50_ms", "mixed_rw"),
    ("op.get_n", "count", "higher", "work_per_s", "mixed_rw"),
    ("op.index_get_p50_s", "s", "lower", "op_p50_ms", "mixed_rw"),
    ("op.index_get_n", "count", "higher", "work_per_s", "mixed_rw"),
    ("op.scan_p50_s", "s", "lower", "op_p50_ms", "mixed_rw"),
    ("op.scan_n", "count", "higher", "work_per_s", "mixed_rw"),
    ("op.tail_p50_s", "s", "lower", "op_p50_ms", "mixed_rw"),
    ("op.tail_n", "count", "higher", "work_per_s", "mixed_rw"),
    # The traced run's own end-to-end figures, to set beside the untraced
    # run's work_per_s and op_p50_ms: their difference is the tracing cost.
    ("trace.work_per_s", "1/s", "higher", "(work_per_s of the untraced run)", ALL),
    ("trace.op_p50_ms", "ms", "lower", "(op_p50_ms of the untraced run)", ALL),
    ("trace.coverage", "ratio", "higher", "(op time inside named layer spans)", ALL),
]

UNITS = {m[0]: m[1] for m in END_TO_END + PER_LAYER}
