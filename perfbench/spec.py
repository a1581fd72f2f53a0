"""The benchmark's metric names and units, in one place.

`BENCHMARK.json` lists the same names; the self-tests pin both.
"""
QUERIES = ["q_a1_histogram", "q_text_tfidf"]

WORKLOADS = {
    "stream": "the paper's train-then-stream path: reference envelope (open loop, ~30 records "
              "per batch, seeded outages) then a bulk backfill drained in 1500-record batches",
    "query_mix": "two graded SparkEntry.queries at sf0.1, one client, three warm then three "
                 "timed passes; plans the streams never touch",
}

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_tail_ms": ("ms", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "peak_heap_mb": ("MB", "lower"),
}

STREAM_LAYER = ["trigger_ms", "add_batch_ms", "bookkeeping_ms", "jobs_per_batch",
                "tasks_per_batch", "driver_idle_ms"]


def _unit(name):
    if name.startswith("bench.trace_overhead.") or name == "bench.fail_share":
        return "share"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "sink.bytes_written":
        return "bytes"
    return "count"


def _per_layer():
    names = ["stream." + m for m in STREAM_LAYER] + ["stream.bulk." + m for m in STREAM_LAYER]
    names += ["stream.bulk.local1_throughput_per_s",
              "ingest.decode_ms", "ops.prepare_ms", "ml.transform_ms"]
    names += [f"ml.transform.{s}_ms" for s in ("word2vec", "count_vectorizer", "lda", "random_forest")]
    names += ["sink.primary_write_ms", "sink.fallback_write_ms", "sink.fallback_batches",
              "sink.files_written", "sink.bytes_written",
              "sink.bulk.primary_write_ms", "sink.bulk.files_written"]
    names += ["ml.fit_s", "ml.fit.prepare_s"]
    names += [f"ml.fit.{s}_s" for s in ("word2vec", "count_vectorizer", "lda", "indexers",
                                        "random_forest")]
    names += ["ml.save_s", "ml.load_s"]
    names += [f"queries.{q}_s" for q in QUERIES] + [f"queries.{q}.planning_ms" for q in QUERIES]
    names += ["queries." + m for m in ("jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                                       "spill_bytes", "driver_idle_ms",
                                       "single_partition_exchanges")]
    names += ["bench.generator_lag_ms", "bench.warm_s", "bench.fail_share"]
    names += ["bench.trace_overhead." + m for m in END_TO_END]
    return {n: (_unit(n), "lower" if not n.endswith("_per_s") else "higher") for n in names}


PER_LAYER = _per_layer()
