"""End-to-end analysis pipelines — the engine's equivalents of the
reference's top-level entry points (SURVEY §3):

- ``run_word_frequency`` ≙ ``python preprocessing.py`` (§3.1,
  ``preprocessing.py:641-719``);
- ``run_full_analysis`` ≙ ``BERTopic_LDA_usage.py`` (§3.2,
  ``BERTopic_LDA_usage.py:20-69``): both topic branches — the c-TF-IDF
  (BERTopic-shape) path and the MLlib-LDA path — over one shared corpus,
  plus the metric suite and composed reports.

Every stage is a registry operator; this module only schedules them and
writes the outputs (parquet tables + a text report + figures). Nothing
here collects more than K-row report tables to the driver.

Concurrent schedule: each output (one registry table write, the text
report, the figure pass) is one builder, and all of a run's builders go
to ``cache.build_concurrently`` together, so the many 1–3-task jobs of
independent outputs overlap on the shared session instead of leaving
most cores idle one output at a time. Builders are submitted longest
serial chain first (``SUBMIT_FIRST``: the driver-coordinated online-LDA
fit, then the three window-coherence kernels), so the long chains start
at once and the short outputs back-fill around them. This is safe
because:

- outputs that share an intermediate (c-TF-IDF weights, top-k keywords,
  the vector corpus and LDA fit, window co-occurrence counts, the topic
  word list, the reduction merge log) reach it through ``cache.memo``,
  whose per-key locks let exactly one thread build it while the others
  wait and read the memo;
- every operator is deterministic in its inputs, so a concurrent run
  writes the same rows as the serial order (pinned by
  ``tests/test_pipeline.py``); only the wall clock overlaps;
- each builder writes its own path, and the returned ``written`` map is
  merged in the serial order ``WORD_FREQUENCY_OUTPUTS``, the text report,
  ``FULL_ANALYSIS_OUTPUTS``, then the figures.
"""

from __future__ import annotations

import os
from functools import partial
from typing import Callable

from pyspark.sql import SparkSession

from .cache import build_concurrently
from .registry import load_all
from .report import render_text_report

# output name -> registry query, in dependency-friendly order
WORD_FREQUENCY_OUTPUTS = (
    "word_count",
    "word_freq_stats",
    "analysis_summary",
    "dedup_exact",
)

FULL_ANALYSIS_OUTPUTS = (
    # BERTopic-shape branch (c-TF-IDF over cluster labels)
    "ctfidf_keywords",
    "ctfidf_dedup_keywords",
    "topic_labels",
    "topic_info",
    "topic_representative_docs",
    # LDA branch
    "lda_topic_terms",
    "lda_doc_topics",
    # shared metric suite
    "topic_diversity",
    "topic_jaccard_overlap",
    "topic_cosine_similarity",
    "umass_coherence",
    "npmi_coherence",
    "cv_coherence",
)

# the longest serial chains, submitted before every other output: the
# online-LDA fit (one driver-coordinated job chain per iteration), then
# the window-coherence kernels (one co-occurrence pass per window size)
SUBMIT_FIRST = ("lda_topic_terms", "umass_coherence", "npmi_coherence", "cv_coherence")

Step = Callable[[], dict[str, str]]


def _write_table(
    name: str, query, spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, str]:
    path = os.path.join(out_dir, name)
    query(spark, sf_dir).write.mode("overwrite").parquet(path)
    return {name: path}


def _write_report(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    path = os.path.join(out_dir, "analysis_report.txt")
    render_text_report(spark, sf_dir, path)
    return {"analysis_report": path}


def _table_steps(
    spark: SparkSession, sf_dir: str, out_dir: str, names: tuple[str, ...]
) -> dict[str, Step]:
    registry = load_all()
    return {
        n: partial(_write_table, n, registry[n].fn, spark, sf_dir, out_dir) for n in names
    }


def _word_frequency_steps(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, Step]:
    steps = _table_steps(spark, sf_dir, out_dir, WORD_FREQUENCY_OUTPUTS)
    steps["analysis_report"] = partial(_write_report, spark, sf_dir, out_dir)
    return steps


def _run_steps(out_dir: str, steps: dict[str, Step]) -> dict[str, str]:
    """Run every step through ``build_concurrently``, ``SUBMIT_FIRST``
    first, and merge their outputs in the steps' own order."""
    os.makedirs(out_dir, exist_ok=True)  # the text report is not a Spark write
    order = [s for s in SUBMIT_FIRST if s in steps]
    order += [s for s in steps if s not in order]
    done = dict(zip(order, build_concurrently([steps[s] for s in order])))
    written: dict[str, str] = {}
    for s in steps:
        written.update(done[s])
    return written


def run_word_frequency(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, str]:
    """§3.1: scan → clean → tokenize → count → stats → sinks (word
    frequency workbook + text report)."""
    return _run_steps(out_dir, _word_frequency_steps(spark, sf_dir, out_dir))


def run_full_analysis(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, str]:
    """§3.2: the combined topic-modeling run — both branches + metrics +
    reports + figures, every tabular output a parquet table keyed by its
    operator name, all outputs built concurrently (module docstring)."""
    steps = _word_frequency_steps(spark, sf_dir, out_dir)
    steps.update(_table_steps(spark, sf_dir, out_dir, FULL_ANALYSIS_OUTPUTS))
    steps["figures"] = partial(
        run_visual_report, spark, sf_dir, os.path.join(out_dir, "figures")
    )
    return _run_steps(out_dir, steps)


def run_visual_report(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, str]:
    """The reference's figure pass (``create_visualizations``,
    ``BERTopic_Analysis.py:730-833``; ``LDA_Analysis.py:614-677``): render
    every artifact family from the same registry outputs into SVG files
    plus one bundled HTML report — driver-side over K-row aggregates, via
    the stdlib-only S9 sinks."""
    from pyspark.sql import functions as F

    from . import plots

    registry = load_all()
    os.makedirs(out_dir, exist_ok=True)
    sections = []
    written: dict[str, str] = {}

    def render(name: str, svg: str) -> None:
        path = os.path.join(out_dir, f"{name}.svg")
        with open(path, "w", encoding="utf-8") as f:
            f.write(svg)
        written[name] = path

    wf = plots.plot_word_frequency(
        registry["word_count"].fn(spark, sf_dir), count_col="cnt", top_n=20
    )
    render("word_frequency", wf)
    sections.append(("Word frequencies", wf))

    tk = plots.plot_topic_keywords(
        registry["ctfidf_keywords"].fn(spark, sf_dir),
        topic_col="label", word_col="keyword", weight_col="weight",
    )
    render("topic_keywords", tk)
    sections.append(("Topic keywords", tk))

    td = plots.plot_topic_distribution(
        registry["topic_info"].fn(spark, sf_dir).select(
            F.col("label").alias("topic"), "n_docs"
        )
    )
    render("topic_distribution", td)
    sections.append(("Documents per topic", td))

    hm = plots.plot_topic_heatmap(
        registry["topic_cosine_similarity"].fn(spark, sf_dir),
        row_col="i", col_col="j", value_col="cosine",
    )
    render("topic_heatmap", hm)
    sections.append(("Topic similarity", hm))

    dg = plots.plot_topic_hierarchy(
        registry["topic_merge_steps"].fn(spark, sf_dir),
        registry["topic_reduction"].fn(spark, sf_dir),
    )
    render("topic_hierarchy", dg)
    sections.append(("Topic hierarchy", dg))

    html = os.path.join(out_dir, "report.html")
    plots.export_html_report(html, sections)
    written["report_html"] = html
    return written
