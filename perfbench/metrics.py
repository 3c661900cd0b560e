"""The benchmark's metric table: every metric's name and unit, which way
is better, and, for a per-layer metric, which end-to-end metric it should
move on which workload. ``BENCHMARK.json`` lists the same names and units;
``test_perfbench.py`` keeps the two in step.
"""

from __future__ import annotations

WORKLOADS = ("topic_analysis", "curation_batch")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "run_s": ("s", "lower"),
    "ok_ratio": ("ratio", "higher"),
    "driver_mem_mb": ("MB", "lower"),
}

TOPIC = ("topic_analysis",)
CURATION = ("curation_batch",)
BOTH = WORKLOADS

# name -> (unit, better, moves, on)
_TIMED_LAYERS = {
    "sources.scan": (("run_s",), BOTH),
    "functions.tokenize": (("run_s",), BOTH),
    "functions.minhash": (("run_s",), CURATION),
    "functions.hash_embed": (("run_s",), CURATION),
    "operators.frequency": (("run_s",), TOPIC),
    "operators.topics": (("run_s",), TOPIC),
    "operators.topics.lda_fit": (("run_s",), TOPIC),
    "operators.metrics": (("run_s",), TOPIC),
    "report": (("run_s",), TOPIC),
    "plots": (("run_s",), TOPIC),
    "operators.text_analysis": (("run_s",), CURATION),
    "operators.dedup": (("run_s",), CURATION),
    "operators.bpe": (("run_s",), CURATION),
    "operators.retrieval": (("run_s",), CURATION),
    "operators.selection": (("run_s",), CURATION),
    "operators.curation": (("run_s",), CURATION),
    "streaming": ((), CURATION),
}
# the layer's time metric name, where it is not "<layer>.self_s"
_TIME_NAME = {
    "sources.scan": "sources.scan_s",
    "functions.tokenize": "functions.tokenize_s",
    "functions.minhash": "functions.minhash_s",
    "functions.hash_embed": "functions.hash_embed_s",
    "operators.topics.lda_fit": "operators.topics.lda_fit_s",
}
# event-log counters per layer span: (suffix, unit)
JOB_COUNTERS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("gc_s", "s"),
)


def _per_layer() -> dict[str, tuple[str, str, tuple[str, ...], tuple[str, ...]]]:
    m = {
        "session.start_s": ("s", "lower", ("setup_s",), BOTH),
        "cache.entries": ("count", "lower", ("run_s", "driver_mem_mb"), BOTH),
        "sources.out_bytes_per_in_byte": ("ratio", "lower", ("run_s", "driver_mem_mb"), CURATION),
        # traced pass time outside every top-level span: the replay's own
        # glue between its calls into the engine. The replay wraps every
        # call, so it stays near 0; it does not see time the entry point
        # spends outside its stages (the tracing overhead, written to the
        # trace file's summary, compares against the entry point itself)
        "trace.unaccounted_s": ("s", "lower", ("run_s",), BOTH),
        # streaming: a backlog replay of the curation corpus through
        # run_incremental_manifest, in the curation_batch traced run
        "streaming.trigger_p50_s": ("s", "lower", (), CURATION),
        "streaming.add_batch_p50_s": ("s", "lower", (), CURATION),
        "streaming.overhead_p50_s": ("s", "lower", (), CURATION),
        "streaming.store_bytes_per_doc": ("B/doc", "lower", (), CURATION),
        "streaming.pool_ratio": ("ratio", "higher", (), CURATION),
    }
    for layer, (moves, on) in _TIMED_LAYERS.items():
        if layer != "streaming":
            m[_TIME_NAME.get(layer, f"{layer}.self_s")] = ("s", "lower", moves, on)
        for suffix, unit in JOB_COUNTERS:
            m[f"{layer}.{suffix}"] = (unit, "lower", moves, on)
    return m


PER_LAYER = _per_layer()
LAYER_SPANS = tuple(_TIMED_LAYERS)
# the workloads each layer span is measured on
LAYER_ON = {layer: on for layer, (_, on) in _TIMED_LAYERS.items()}
TIME_NAME = {layer: _TIME_NAME.get(layer, f"{layer}.self_s") for layer in LAYER_SPANS}


def benchmark_entries() -> dict[str, list[dict]]:
    """The ``end_to_end`` and ``per_layer`` lists of ``BENCHMARK.json``,
    without the bounds (those are chosen from measured spreads)."""
    return {
        "end_to_end": [
            {"name": n, "unit": u, "better": b} for n, (u, b) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b, _, _) in PER_LAYER.items()
        ],
    }


def result_line(correct: bool, attempted: int, failed: int, values: dict[str, float], trace: bool) -> dict:
    """The result object: every metric of the chosen set, by name, with
    its unit. A metric the run did not measure is reported as 0."""
    table = {n: u for n, (u, *_) in (PER_LAYER if trace else END_TO_END).items()}
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in table.items()
        },
    }
