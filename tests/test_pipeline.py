"""The concurrent ``pipeline.run_full_analysis`` schedule: its outputs
equal the serial order's row for row, and corpora with few topic labels
run end to end."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from topic_modeling_ajin_spark import cache, pipeline
from topic_modeling_ajin_spark.registry import load_all
from topic_modeling_ajin_spark.report import render_text_report

FIGURES = (
    "word_frequency",
    "topic_keywords",
    "topic_distribution",
    "topic_heatmap",
    "topic_hierarchy",
    "report_html",
)


def _table(spark, path):
    df = spark.read.parquet(path)
    return df.schema, sorted(map(tuple, df.collect()), key=repr)


def _read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def test_full_analysis_concurrent_matches_serial(spark, sf_dir, tmp_path):
    written = pipeline.run_full_analysis(spark, sf_dir, str(tmp_path / "concurrent"))
    assert list(written) == [
        *pipeline.WORD_FREQUENCY_OUTPUTS,
        "analysis_report",
        *pipeline.FULL_ANALYSIS_OUTPUTS,
        *FIGURES,
    ]

    # the same outputs one after another, every memo rebuilt
    cache.clear_caches(spark)
    serial = tmp_path / "serial"
    registry = load_all()
    for name in (*pipeline.WORD_FREQUENCY_OUTPUTS, *pipeline.FULL_ANALYSIS_OUTPUTS):
        path = str(serial / name)
        registry[name].fn(spark, sf_dir).write.parquet(path)
        assert _table(spark, written[name]) == _table(spark, path), name
    text = render_text_report(spark, sf_dir, str(serial / "analysis_report.txt"))
    assert _read(written["analysis_report"]) == text
    figures = pipeline.run_visual_report(spark, sf_dir, str(serial / "figures"))
    for name in FIGURES:
        assert _read(written[name]) == _read(figures[name]), name


def _relabelled(src: str, dst, n_labels: int) -> str:
    """``src``'s documents with its embeddings' labels folded to
    ``n_labels`` topics."""
    os.makedirs(dst)
    shutil.copy(os.path.join(src, "documents.parquet"), dst)
    emb = pq.read_table(os.path.join(src, "embeddings.parquet"))
    folded = pa.array([l % n_labels for l in emb.column("label").to_pylist()], pa.int32())
    emb = emb.set_column(emb.schema.get_field_index("label"), "label", folded)
    pq.write_table(emb, os.path.join(dst, "embeddings.parquet"))
    return str(dst)


def test_full_analysis_few_topic_labels(spark, sf_dir, tmp_path):
    """At most MAX_TOPICS_AFTER_REDUCE labels: the reduction merges
    nothing, and the figure pass still draws the hierarchy."""
    from topic_modeling_ajin_spark.operators.topics import MAX_TOPICS_AFTER_REDUCE

    n = 4
    assert n <= MAX_TOPICS_AFTER_REDUCE
    small = _relabelled(sf_dir, tmp_path / "sf", n)
    written = pipeline.run_full_analysis(spark, small, str(tmp_path / "out"))
    assert os.path.getsize(written["topic_hierarchy"]) > 0
    assert spark.read.parquet(written["topic_info"]).count() == n

    registry = load_all()
    steps = registry["topic_merge_steps"].fn(spark, small)
    assert steps.count() == 0
    assert steps.schema == registry["topic_merge_steps"].fn(spark, sf_dir).schema
    reduction = registry["topic_reduction"].fn(spark, small)
    assert sorted(map(tuple, reduction.collect())) == [(l, l) for l in range(n)]


def test_topic_reduction_single_label(spark, sf_dir, tmp_path):
    """One label has no topic pairs: both reduction tables are empty,
    with the schema of a corpus that merges."""
    one = _relabelled(sf_dir, tmp_path / "sf", 1)
    registry = load_all()
    for name in ("topic_reduction", "topic_merge_steps"):
        df = registry[name].fn(spark, one)
        assert df.count() == 0, name
        assert df.schema == registry[name].fn(spark, sf_dir).schema, name
