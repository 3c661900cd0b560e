"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen, metrics, tracing
from perfbench import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMALL = gen.Spec(n_docs=120, vocab=2_000)


@pytest.fixture(scope="module")
def truth():
    return gen.generate(7, SMALL)[2]


# ------------------------------------------------------------ generator


def test_same_seed_gives_identical_files(tmp_path):
    for d in ("a", "b"):
        gen.write_corpus(3, str(tmp_path / d), SMALL)
    for f in ("documents.parquet", "embeddings.parquet", "truth.json"):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()
    gen.write_corpus(4, str(tmp_path / "c"), SMALL)
    assert (tmp_path / "a" / "documents.parquet").read_bytes() != (
        tmp_path / "c" / "documents.parquet"
    ).read_bytes()


def test_planted_truth_is_what_the_corpus_holds():
    docs, embs, t = gen.generate(5, SMALL)
    by_id = {d["doc_id"]: d for d in docs}
    assert t["exact_copies"] and t["near_dups"]
    for i in t["exact_copies"]:
        orig = t["copy_of"][str(i)]
        assert orig < i and by_id[i]["text"] == by_id[orig]["text"]
    for i in t["near_dups"]:
        orig = t["copy_of"][str(i)]
        assert orig < i and by_id[i]["text"] != by_id[orig]["text"]
    texts = [d["text"] for d in docs]
    assert len(texts) - len(set(texts)) == len(t["exact_copies"])
    for chunk_docs in t["boilerplate_docs"].values():
        assert len(chunk_docs) < 64  # streaming JACCARD_HOT_SHINGLE_CAP
    assert {e["label"] for e in embs} == set(range(gen.TOPICS))
    assert {d["lang"] for d in docs} == {l for l, _ in gen.LANGS}


def test_topic_corpus_has_tens_of_thousands_of_word_types():
    t = gen.generate(1, gen.SPECS["topic_analysis"])[2]
    assert t["n_types"] >= 20_000
    assert t["n_types_df2"] >= 8_000  # what CountVectorizer(minDF=2) keeps


# --------------------------------------------------------------- checks


def good_topic_tables(t):
    return {
        "word_count": [{"word": w, "cnt": n} for w, n in reversed(t["word_count_top100"])],
        "lda_doc_topics": [{"doc_id": i} for i in t["docs_ge3_tokens"]],
        "topic_info": [{"n_docs": t["n_labelled"] - 5}, {"n_docs": 5}],
    }


def test_topic_check_accepts_truth_and_rejects_corruption(truth):
    assert W.check_topic(good_topic_tables(truth), truth) == []

    bad = good_topic_tables(truth)
    bad["word_count"][0]["cnt"] += 1
    assert W.check_topic(bad, truth)

    bad = good_topic_tables(truth)
    bad["lda_doc_topics"].pop()
    assert W.check_topic(bad, truth)

    bad = good_topic_tables(truth)
    bad["topic_info"].append({"n_docs": 1})
    assert W.check_topic(bad, truth)


def good_curation_tables(t):
    rows = [
        {"doc_id": i, "lang": "en", "quality": 0.5}
        for i in range(t["n_docs"])
        if i not in set(t["exact_copies"])
    ]
    return {"manifest": rows, "manifest_tokens": rows[: len(rows) // 2]}


def test_curation_check_accepts_truth_and_rejects_corruption(truth):
    assert W.check_curation(good_curation_tables(truth), truth) == []

    bad = good_curation_tables(truth)  # a planted duplicate put back
    bad["manifest"].append({"doc_id": truth["exact_copies"][0], "lang": "en", "quality": 0.5})
    assert W.check_curation(bad, truth)

    bad = good_curation_tables(truth)
    bad["manifest_tokens"].append({"doc_id": truth["exact_copies"][-1]})
    assert W.check_curation(bad, truth)

    bad = good_curation_tables(truth)  # a doc that was never input
    bad["manifest"].append({"doc_id": truth["n_docs"] + 1, "lang": "en", "quality": 0.5})
    assert W.check_curation(bad, truth)

    bad = good_curation_tables(truth)
    bad["manifest"].append(dict(bad["manifest"][0]))
    assert W.check_curation(bad, truth)


def test_manifest_digest_ignores_row_order_only(truth):
    rows = good_curation_tables(truth)["manifest"]
    d = W.manifest_digest(rows)
    assert W.manifest_digest(list(reversed(rows))) == d
    changed = [dict(r) for r in rows]
    changed[0]["quality"] += 1e-6
    assert W.manifest_digest(changed) != d


def good_cards(t):
    n, n_exact = t["n_docs"], len(t["exact_copies"])
    cards = []
    for b, (n_in, n_dup) in enumerate(((n // 2, n_exact // 2), (n - n // 2, n_exact - n_exact // 2))):
        cards.append(
            {
                "batch_id": b,
                "n_in": n_in,
                "n_rule_fail": 1,
                "n_exact_dup": n_dup,
                "n_near_dup_drop": 2,
                "n_cosine_drop": 0,
                "n_decontam_drop": 0,
                "n_pool_delta": n_in - 3 - n_dup,
            }
        )
    return cards


def test_stream_check_accepts_truth_and_rejects_corruption(truth):
    assert W.check_stream(good_cards(truth), truth) == []

    bad = good_cards(truth)  # ladder does not add up
    bad[0]["n_pool_delta"] += 1
    assert W.check_stream(bad, truth)

    bad = good_cards(truth)  # a batch lost
    assert W.check_stream(bad[:1], truth)

    bad = good_cards(truth)  # a planted copy slipped through the exact gate
    bad[1]["n_exact_dup"] -= 1
    bad[1]["n_pool_delta"] += 1
    assert W.check_stream(bad, truth)


# -------------------------------------------------------------- printer


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_benchmark_json_matches_metric_table():
    b = benchmark_json()
    entries = metrics.benchmark_entries()
    assert [{k: m[k] for k in ("name", "unit", "better")} for m in b["end_to_end"]] == entries[
        "end_to_end"
    ]
    assert b["per_layer"] == entries["per_layer"]
    assert [w["name"] for w in b["workloads"]] == list(metrics.WORKLOADS)
    assert len(b["per_layer"]) <= 128


@pytest.mark.parametrize("trace", [False, True])
def test_printer_emits_every_name_with_its_unit(trace):
    b = benchmark_json()
    want = {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}
    line = metrics.result_line(True, 1, 0, {"run_s": 1.5}, trace)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in line["metrics"].items()} == want
    json.loads(json.dumps(line))


def test_every_stage_of_both_entry_points_has_a_layer():
    from topic_modeling_ajin_spark import pipeline
    from topic_modeling_ajin_spark.operators import curation as C

    for name in (
        pipeline.WORD_FREQUENCY_OUTPUTS
        + pipeline.FULL_ANALYSIS_OUTPUTS
        + C.CURATION_STAGES
        + C.SELECTION_STAGES
    ):
        assert W.stage_layer(name) in metrics.LAYER_SPANS


# --------------------------------------------------------------- ledger


def test_ledger_survives_a_missing_or_corrupt_file(tmp_path):
    from perfbench.run import load_ledger

    path = tmp_path / "ledger.json"
    assert load_ledger(str(path)) == {}
    path.write_text('{"run_s": [1.0, 2')  # cut off mid-write
    assert load_ledger(str(path)) == {}
    path.write_text("[1, 2]")
    assert load_ledger(str(path)) == {}
    path.write_text('{"run_s": [1.5]}')
    assert load_ledger(str(path)) == {"run_s": [1.5]}


# -------------------------------------------------------------- tracing


def test_gc_log_live_heap_and_heap_range(tmp_path):
    log = tmp_path / "gc.log"
    before = (
        "[0.5s][info][gc] GC(0) Pause Full (System.gc()) 90M->60M(124M) 30.0ms\n"
        "[0.5s][debug][gc,heap] GC(0)  garbage-first heap   total 260096K, used 115636K "
        "[0x0000000080000000, 0x0000000100000000)\n"
    )
    log.write_text(
        before
        + "[2.0s][info][gc] GC(1) Pause Young (Normal) (G1 Evacuation Pause) 900M->420M(1000M) 4.1ms\n"
        + "[3.0s][info][gc] GC(2) Pause Full (System.gc()) 540M->312M(1164M) 236.5ms\n"
    )
    assert tracing.gc_full_after_mb(str(log), len(before)) == 312.0
    assert tracing.gc_full_after_mb(str(log), 0) == 312.0
    assert tracing.gc_full_after_mb(str(log), log.stat().st_size) is None
    assert tracing.gc_heap_range(str(log)) == (0x80000000, 0x100000000)


def test_resident_split_of_this_process():
    import ctypes

    buf = ctypes.create_string_buffer(64 * 1024 * 1024)
    ctypes.memset(buf, 1, len(buf))
    inside, outside = tracing.resident_split_mb(os.getpid(), 0, 2**64)
    assert outside == 0 and inside >= 64
    inside, outside = tracing.resident_split_mb(os.getpid(), 0, 0)
    assert inside == 0 and outside >= 64


def test_trace_file_ends_with_its_summary(tmp_path):
    t = tracing.Tracer()
    with t.span("operators.topics"):
        pass
    t.summary.update(overhead_s=None, unaccounted_s=0.01)
    t.write(str(tmp_path / "trace.jsonl"))
    lines = [json.loads(l) for l in (tmp_path / "trace.jsonl").read_text().splitlines()]
    assert lines[0]["name"] == "operators.topics" and lines[0]["parent"] is None
    assert lines[-1] == {"summary": {"overhead_s": None, "unaccounted_s": 0.01}}


def test_self_time_and_job_attribution(tmp_path):
    t = tracing.Tracer()
    t.spans = [
        tracing.Span("operators.topics", 100.0, 110.0),
        tracing.Span("stage:lda", 101.0, 109.0, parent=0, kind="stage"),
        tracing.Span("operators.topics.lda_fit", 102.0, 106.0, parent=1),
    ]
    assert t.self_times() == {"operators.topics": 6.0, "operators.topics.lda_fit": 4.0}
    assert t.layer_at(103.0) == "operators.topics.lda_fit"
    assert t.layer_at(107.0) == "operators.topics"
    assert t.layer_at(111.0) is None

    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 103000, "Stage IDs": [1]},
        {"Event": "SparkListenerJobStart", "Submission Time": 120000, "Stage IDs": [2]},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 1,
            "Task Info": {"Failed": True},
            "Task Metrics": {
                "JVM GC Time": 500,
                "Memory Bytes Spilled": 10,
                "Disk Bytes Spilled": 5,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            },
        },
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {}},
    ]
    (tmp_path / "app").mkdir()
    (tmp_path / "app" / "events_1").write_text("\n".join(json.dumps(e) for e in events))
    totals = tracing.event_log_totals(str(tmp_path), t)
    assert totals == {
        "operators.topics.lda_fit": {
            "jobs": 1,
            "tasks": 1,
            "failed_tasks": 1,
            "shuffle_write_bytes": 7,
            "spill_bytes": 15,
            "gc_s": 0.5,
        }
    }


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    without printing a result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "topic_analysis", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
