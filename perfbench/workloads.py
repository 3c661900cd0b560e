"""The benchmark's workloads: the untraced pass through the engine's public
entry point, the traced replay of the same stages in the same order, the
per-layer probes, and the output checks against the generator's truth.

Checks read the written parquet with pyarrow, outside Spark, and take
plain rows, so a test can hand them a corrupted output.
"""

from __future__ import annotations

import hashlib
import os
import time

import pyarrow.parquet as pq

# --------------------------------------------------------------- layers

FREQUENCY_STAGES = ("word_count", "word_freq_stats", "analysis_summary", "dedup_exact")
METRIC_STAGES = (
    "topic_diversity",
    "topic_jaccard_overlap",
    "topic_cosine_similarity",
    "umass_coherence",
    "npmi_coherence",
    "cv_coherence",
)
STAGE_LAYER = {
    **{s: "operators.frequency" for s in FREQUENCY_STAGES},
    **{s: "operators.metrics" for s in METRIC_STAGES},
    "curation_filter_report": "operators.text_analysis",
    "doc_boilerplate": "operators.text_analysis",
    "fingerprint_dedup": "operators.dedup",
    "near_dup_discard": "operators.dedup",
    "semantic_dedup_full": "operators.dedup",
    "bpe_token_counts": "operators.bpe",
    "doc_winnow_boilerplate": "operators.retrieval",
    "domain_cap_sample": "operators.selection",
    "dsir_logweights": "operators.selection",
    "mixture_sample": "operators.curation",
    "mixture_sample_tokens": "operators.curation",
    "strip_boilerplate_chunks": "operators.curation",
}
# the first LDA stage builds the memoized fit; its span is a child of the
# topics layer, so operators.topics.self_s excludes the fit
LDA_FIT_STAGE = "lda_topic_terms"


def stage_layer(name: str) -> str:
    if name in STAGE_LAYER:
        return STAGE_LAYER[name]
    if name.startswith(("ctfidf_", "topic_", "lda_")):
        return "operators.topics"
    raise KeyError(f"no layer for stage {name!r}")


# ----------------------------------------------------------- workloads

CURATION_FLAGS = dict(
    strict=True,
    winnow=True,
    strip=True,
    select=True,
    mixture_tokens=True,
    export=True,
)


def topic_pass(spark, sf_dir: str, out: str) -> None:
    from topic_modeling_ajin_spark import pipeline

    pipeline.run_full_analysis(spark, sf_dir, out)


def curation_pass(spark, sf_dir: str, out: str) -> None:
    from topic_modeling_ajin_spark.operators.curation import run_curation_pipeline

    run_curation_pipeline(spark, sf_dir, out, **CURATION_FLAGS)


def _write_stage(spark, sf_dir, out, name, tracer, write):
    from topic_modeling_ajin_spark.registry import load_all

    fn = load_all()[name].fn
    with tracer.span(stage_layer(name)), tracer.span(f"stage:{name}", kind="stage"):
        if name == LDA_FIT_STAGE:  # the fit runs eagerly inside fn
            with tracer.span("operators.topics.lda_fit"):
                write(fn(spark, sf_dir), os.path.join(out, name))
        else:
            write(fn(spark, sf_dir), os.path.join(out, name))


def topic_replay(spark, sf_dir: str, out: str, tracer) -> None:
    """``pipeline.run_full_analysis``, stage by stage, under spans."""
    from topic_modeling_ajin_spark import pipeline
    from topic_modeling_ajin_spark.report import render_text_report

    def write(df, path):
        df.write.mode("overwrite").parquet(path)

    for name in pipeline.WORD_FREQUENCY_OUTPUTS:
        _write_stage(spark, sf_dir, out, name, tracer, write)
    with tracer.span("report"), tracer.span("stage:render_text_report", "stage"):
        render_text_report(spark, sf_dir, os.path.join(out, "analysis_report.txt"))
    for name in pipeline.FULL_ANALYSIS_OUTPUTS:
        _write_stage(spark, sf_dir, out, name, tracer, write)
    with tracer.span("plots"), tracer.span("stage:run_visual_report", "stage"):
        pipeline.run_visual_report(spark, sf_dir, os.path.join(out, "figures"))


def curation_replay(spark, sf_dir: str, out: str, tracer) -> None:
    """``run_curation_pipeline`` with ``CURATION_FLAGS``, stage by stage,
    under spans, in the entry point's order."""
    from pyspark.sql import functions as F

    from topic_modeling_ajin_spark.operators import curation as C
    from topic_modeling_ajin_spark.operators.selection import curated_dsir_from_tables
    from topic_modeling_ajin_spark.sources.io import write_parquet

    def stage(name):
        _write_stage(spark, sf_dir, out, name, tracer, write_parquet)

    def call(layer, name, fn):
        with tracer.span(layer), tracer.span(f"stage:{name}", kind="stage"):
            fn()

    read = spark.read.parquet
    for name in C.CURATION_STAGES:
        stage(name)
    stage("doc_winnow_boilerplate")
    call(
        "operators.curation",
        "manifest",
        lambda: write_parquet(
            C.staged_manifest(spark, out, strict=True, winnow=True), f"{out}/manifest"
        ),
    )
    stage("mixture_sample_tokens")
    call(
        "operators.curation",
        "manifest_tokens",
        lambda: write_parquet(
            C.staged_manifest(
                spark, out, strict=True, winnow=True, mix_stage="mixture_sample_tokens"
            ),
            f"{out}/manifest_tokens",
        ),
    )
    stage("strip_boilerplate_chunks")
    call(
        "operators.curation",
        "stripped_texts",
        lambda: write_parquet(C.strip_boilerplate_texts(spark, sf_dir), f"{out}/stripped_texts"),
    )
    call(
        "operators.bpe",
        "stripped_bpe_counts",
        lambda: write_parquet(
            C.stripped_bpe_counts(spark, sf_dir), f"{out}/stripped_bpe_counts"
        ),
    )

    def manifest_stripped():
        base = C.staged_manifest(spark, out, strict=False, winnow=False)
        audit = (
            read(f"{out}/strip_boilerplate_chunks")
            .filter(F.col("n_tokens_kept") > 0)
            .select("doc_id", "cleaned_md5")
        )
        counts = read(f"{out}/stripped_bpe_counts")
        write_parquet(
            base.select("doc_id", "lang", "quality")
            .join(audit, "doc_id")
            .join(counts, "doc_id")
            .select("doc_id", "lang", "quality", "n_bpe_tokens", "cleaned_md5"),
            f"{out}/manifest_stripped",
        )

    call("operators.curation", "manifest_stripped", manifest_stripped)
    for name in C.SELECTION_STAGES:
        stage(name)
    call(
        "operators.selection",
        "curated_dsir_select",
        lambda: write_parquet(
            curated_dsir_from_tables(
                read(f"{out}/manifest"), read(f"{out}/dsir_logweights")
            ),
            f"{out}/curated_dsir_select",
        ),
    )
    call("operators.curation", "export_shards", lambda: C.export_shards(spark, out))


def layer_probes(spark, sf_dir: str, tracer, layers) -> None:
    """Those of the sources and functions layers named in ``layers``,
    measured alone over the corpus into Spark's ``noop`` sink."""
    from pyspark.sql import functions as F

    from topic_modeling_ajin_spark.functions import encoder as E
    from topic_modeling_ajin_spark.functions import hashing as H
    from topic_modeling_ajin_spark.functions import text as TX
    from topic_modeling_ajin_spark.operators.dedup import NUM_HASHES
    from topic_modeling_ajin_spark.sources import load_table, parallelized

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    docs = parallelized(load_table(spark, sf_dir, "documents"))

    def minhash():
        sh = docs.select(
            "doc_id", H.shingles(TX.tokens("text"), 3).alias("shingles")
        ).filter(F.size("shingles") > 0)
        return H.minhash_signatures(sh, NUM_HASHES)

    probes = {
        "sources.scan": lambda: parallelized(load_table(spark, sf_dir, "documents")),
        "functions.tokenize": lambda: docs.select(
            TX.tokens("text").alias("t"), TX.word_tokens("text").alias("w")
        ),
        "functions.minhash": minhash,
        "functions.hash_embed": lambda: docs.select(
            E.hash_embedding_expr(F.col("text")).alias("e")
        ),
    }
    for layer, build in probes.items():
        if layer in layers:
            with tracer.span(layer):
                noop(build())


def stage_stream(docs: list[dict], staging: str, n_batches: int) -> None:
    """The corpus in doc_id order as one parquet file per micro-batch, the
    test suite's staging pattern; file mtimes one second apart so
    ``maxFilesPerTrigger=1`` replays them in order."""
    import pyarrow as pa

    os.makedirs(staging, exist_ok=True)
    rows = sorted(docs, key=lambda d: d["doc_id"])
    per = -(-len(rows) // n_batches)
    t0 = time.time() - n_batches - 10
    schema = pa.schema([("doc_id", pa.int64()), ("lang", pa.string()), ("text", pa.string())])
    for b in range(n_batches):
        chunk = [
            {"doc_id": r["doc_id"], "lang": r["lang"], "text": r["text"]}
            for r in rows[b * per : (b + 1) * per]
        ]
        path = os.path.join(staging, f"part-{b:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(chunk, schema=schema), path)
        os.utime(path, (t0 + b, t0 + b))


def stream_pass(spark, staging: str, base: str) -> None:
    from topic_modeling_ajin_spark.streaming import pipelines as ST

    stream = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    ST.run_incremental_manifest(
        spark,
        stream,
        os.path.join(base, "store"),
        os.path.join(base, "out"),
        os.path.join(base, "ck"),
        mixture="tokens",
    )


# -------------------------------------------------------------- checks


def read_rows(path: str, columns: list[str] | None = None) -> list[dict]:
    return pq.read_table(path, columns=columns).to_pylist()


def check_topic(tables: dict[str, list[dict]], truth: dict) -> list[str]:
    problems = []
    wc = sorted(
        ([r["word"], r["cnt"]] for r in tables["word_count"]), key=lambda r: (-r[1], r[0])
    )
    if wc != truth["word_count_top100"]:
        problems.append("word_count differs from the generator's count")
    covered = {r["doc_id"] for r in tables["lda_doc_topics"]}
    if covered != set(truth["docs_ge3_tokens"]):
        problems.append(
            f"lda_doc_topics covers {len(covered)} docs, "
            f"want the {len(truth['docs_ge3_tokens'])} with >= 3 tokens"
        )
    n = sum(r["n_docs"] for r in tables["topic_info"])
    if n != truth["n_labelled"]:
        problems.append(f"topic_info.n_docs sums to {n}, want {truth['n_labelled']}")
    return problems


def load_topic_tables(out: str) -> dict[str, list[dict]]:
    return {
        "word_count": read_rows(f"{out}/word_count", ["word", "cnt"]),
        "lda_doc_topics": read_rows(f"{out}/lda_doc_topics", ["doc_id"]),
        "topic_info": read_rows(f"{out}/topic_info", ["n_docs"]),
    }


def manifest_digest(rows: list[dict]) -> str:
    key = sorted((r["doc_id"], r["lang"], r["quality"]) for r in rows)
    return hashlib.sha256(repr(key).encode()).hexdigest()


def check_curation(tables: dict[str, list[dict]], truth: dict) -> list[str]:
    problems = []
    inputs = set(range(truth["n_docs"]))
    copies = set(truth["exact_copies"])
    for name in ("manifest", "manifest_tokens"):
        ids = [r["doc_id"] for r in tables[name]]
        leaked = sorted(copies.intersection(ids))
        if leaked:
            problems.append(f"{name} ships planted exact copies {leaked[:5]}")
        if not set(ids) <= inputs:
            problems.append(f"{name} has doc_ids outside the input")
        if len(ids) != len(set(ids)):
            problems.append(f"{name} repeats a doc_id")
    if not tables["manifest"]:
        problems.append("manifest is empty")
    return problems


def load_curation_tables(out: str) -> dict[str, list[dict]]:
    return {
        "manifest": read_rows(f"{out}/manifest", ["doc_id", "lang", "quality"]),
        "manifest_tokens": read_rows(f"{out}/manifest_tokens", ["doc_id"]),
    }


CARD_DROPS = (
    "n_rule_fail",
    "n_exact_dup",
    "n_near_dup_drop",
    "n_cosine_drop",
    "n_decontam_drop",
)


def check_stream(cards: list[dict], truth: dict) -> list[str]:
    problems = []
    for c in cards:
        if c["n_in"] != sum(c[k] for k in CARD_DROPS) + c["n_pool_delta"]:
            problems.append(f"card {c['batch_id']}: n_in != gate drops + n_pool_delta")
    n_in = sum(c["n_in"] for c in cards)
    if n_in != truth["n_docs"]:
        problems.append(f"cards count {n_in} docs in, {truth['n_docs']} were staged")
    n_exact = sum(c["n_exact_dup"] for c in cards)
    if n_exact != len(truth["exact_copies"]):
        problems.append(
            f"cards count {n_exact} exact dups, {len(truth['exact_copies'])} were planted"
        )
    return problems


def output_shape(out: str) -> dict[str, int]:
    """Top-level outputs of a pass: parquet tables by row count, other
    files by presence; compared between the untraced and traced pass."""
    shape = {}
    for name in sorted(os.listdir(out)):
        path = os.path.join(out, name)
        if os.path.isdir(path) and name != "figures":
            shape[name] = pq.read_table(path).num_rows
        else:
            shape[name] = -1
    return shape


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
