"""Tests for the M10 encoder seam (VERDICT r2 item 1): gated
sentence-transformers path, deterministic hash fallback, end-to-end ANN
from raw text."""

from __future__ import annotations

import math

import pytest

from topic_modeling_ajin_spark.functions.encoder import (
    ENCODER_DIM,
    encode_documents,
    encoder_kind,
    hash_embed_texts,
)


def test_encoder_kind_gating():
    assert encoder_kind() in ("sbert", "hash")


def test_model_load_failure_raises_instead_of_mixing_spaces(monkeypatch):
    """r6 advice (medium): when the package imports but the MODEL LOAD
    fails, the worker must RAISE (so Spark retries the task and the job
    keeps one embedding space) — never emit hash vectors into a column
    other batches fill with sbert vectors. An import-time failure, by
    contrast, is environment-deterministic and caches the hash kind."""
    import sys
    import types

    from topic_modeling_ajin_spark.functions import encoder as enc

    # clean slate for the per-worker cache
    monkeypatch.setattr(enc, "_ENCODER", None)
    monkeypatch.setattr(enc, "_ENCODER_KIND", None)

    fake = types.ModuleType("sentence_transformers")

    def boom(*a, **k):
        raise OSError("disk hiccup while loading weights")

    fake.SentenceTransformer = boom
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)
    with pytest.raises(RuntimeError, match="retries"):
        enc._get_encoder()
    # NOT cached: the next call re-attempts (and re-raises) rather than
    # stickying this worker to a fallback space
    assert enc._ENCODER_KIND is None
    with pytest.raises(RuntimeError):
        enc._get_encoder()

    # import-time breakage (package absent/broken) caches 'hash'
    monkeypatch.setattr(enc, "_ENCODER_KIND", None)
    monkeypatch.delitem(sys.modules, "sentence_transformers")
    monkeypatch.setattr(
        "builtins.__import__",
        _raising_import("sentence_transformers", ImportError("absent")),
    )
    _, kind = enc._get_encoder()
    assert kind == "hash"
    assert enc._ENCODER_KIND == "hash"


def _raising_import(blocked: str, exc: Exception):
    real_import = __import__

    def imp(name, *args, **kwargs):
        if name == blocked:
            raise exc
        return real_import(name, *args, **kwargs)

    return imp


def test_hash_embedding_deterministic_and_normalized():
    a, b = hash_embed_texts(["hello world hello", "hello world hello"])
    assert a == b  # rerun-identical
    assert len(a) == ENCODER_DIM
    n = math.sqrt(sum(x * x for x in a))
    assert abs(n - 1.0) < 1e-12  # unit norm for non-empty text


def test_hash_embedding_empty_text_zero_vector():
    (z,) = hash_embed_texts([""])
    assert z == [0.0] * ENCODER_DIM
    (z2,) = hash_embed_texts([None])
    assert z2 == [0.0] * ENCODER_DIM


def test_encode_documents_hash_path(spark):
    df = spark.createDataFrame(
        [(1, "spark engine spark"), (2, ""), (3, "engine")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["embedding"]
        for r in encode_documents(df, method="hash").collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[2] == [0.0] * ENCODER_DIM
    # UDF output must agree with the driver-side kernel exactly
    assert rows[1] == hash_embed_texts(["spark engine spark"])[0]
    # shared token "engine" => positive cosine between docs 1 and 3
    dot = sum(x * y for x, y in zip(rows[1], rows[3]))
    assert dot > 0


def test_sbert_path_when_installed(spark):
    """Exercises the real-encoder branch only where the optional library
    exists (mirrors the kiwi gating test) — keeps the sbert branch from
    being dead code in an environment that ships it."""
    if encoder_kind() != "sbert":
        pytest.skip("sentence-transformers not installed: hash fallback is the tested path")
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    (row,) = encode_documents(df).collect()
    assert len(row["embedding"]) >= 128  # a real model dim, not the fallback's


def test_embed_ann_topk_end_to_end(spark, registry):
    rows = registry["embed_ann_topk"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        assert -1.0 - 1e-6 <= r["cosine"] <= 1.0 + 1e-6
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        cos = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert cos == sorted(cos, reverse=True)


@pytest.fixture(scope="module")
def registry():
    from topic_modeling_ajin_spark.registry import load_all

    return load_all()


def test_hash_embedding_splits_ascii_whitespace_only():
    """Parity guard (r3 review): the oracle's RE2 '\\s+' is ASCII-only, so
    the Python kernel must NOT split on U+3000/U+00A0 — a doc glued by
    ideographic space is ONE token on both engines."""
    from topic_modeling_ajin_spark.functions.encoder import hash_embed_texts

    glued = hash_embed_texts(["인공지능　모델"])[0]
    one_tok = hash_embed_texts(["인공지능　모델".replace("　", "")])[0]
    two_tok = hash_embed_texts(["인공지능 모델"])[0]
    assert glued != two_tok  # U+3000 did not act as a separator
    # exactly the single-token embedding of the glued string
    assert glued == hash_embed_texts(["인공지능　모델".lower()])[0]
    assert sum(abs(x) for x in one_tok) > 0


def test_hash_embedding_expr_bit_identical_to_kernel(spark, sf_dir):
    """The pure-column-expression embedding must equal the mapInPandas
    kernel BIT-FOR-BIT (integer accumulation is order-exact in float64;
    the only float ops are the same divisions and sqrt)."""
    from pyspark.sql import functions as F

    from topic_modeling_ajin_spark.functions.encoder import (
        hash_embed_texts,
        hash_embedding_expr,
    )
    from topic_modeling_ajin_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {
        r["doc_id"]: r["e"]
        for r in docs.select(
            "doc_id", hash_embedding_expr("text").alias("e")
        ).collect()
    }
    rows = docs.collect()
    expected = hash_embed_texts([r["text"] for r in rows])
    for r, e in zip(rows, expected):
        assert list(got[r["doc_id"]]) == list(e), r["doc_id"]


def test_hash_embedding_udf_bit_identical_to_expr(spark, sf_dir):
    """The Arrow-batched UDF face (the batch scoring path) must equal
    the pure-expression face bit-for-bit on real data AND on NULL/empty
    text — all three faces (kernel, expression, UDF) are one function."""
    from pyspark.sql import functions as F

    from topic_modeling_ajin_spark.functions.encoder import (
        hash_embedding_expr,
        hash_embedding_udf,
    )
    from topic_modeling_ajin_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    nulls = spark.createDataFrame(
        [(-1, None), (-2, "")], "doc_id long, text string"
    )
    both = docs.unionByName(nulls).select(
        "doc_id",
        hash_embedding_expr("text").alias("e"),
        hash_embedding_udf("text").alias("u"),
    )
    for r in both.collect():
        assert list(r["e"]) == list(r["u"]), r["doc_id"]


def test_hash_embedding_expr_null_text_equals_kernel_empty(spark):
    """NULL text through the pure expression must equal the kernel's
    (t or '') zero vector — not a NULL embedding (r5 review)."""
    from pyspark.sql import functions as F

    from topic_modeling_ajin_spark.functions.encoder import (
        hash_embed_texts,
        hash_embedding_expr,
    )

    df = spark.createDataFrame([(1, None), (2, "")], "id long, text string")
    rows = {
        r["id"]: r["e"]
        for r in df.select("id", hash_embedding_expr("text").alias("e")).collect()
    }
    kernel = hash_embed_texts([""])[0]
    assert rows[1] is not None
    assert list(rows[1]) == list(rows[2]) == [float(x) for x in kernel]


def test_hash_embedding_udf_cached_per_spark_context(spark, monkeypatch):
    """The UDF wrapper is reused within one SparkContext, and a new
    context (a restart) gets a new wrapper while the old ones are
    dropped: a cached wrapper holds its creating context's JVM UDF."""
    from pyspark import SparkContext

    from topic_modeling_ajin_spark.functions import encoder as E

    sc = spark.sparkContext
    live = E._hash_emb_udf(ENCODER_DIM)
    assert E._hash_emb_udf(ENCODER_DIM) is live
    assert E._HASH_EMB_UDFS[(sc, ENCODER_DIM)] is live

    class Restarted:  # a new context object; JVM calls reach the live one
        def __getattr__(self, name):
            return getattr(sc, name)

    restarted = Restarted()
    monkeypatch.setattr(SparkContext, "_active_spark_context", restarted)
    fresh = E._hash_emb_udf(ENCODER_DIM)
    assert fresh is not live
    assert set(E._HASH_EMB_UDFS) == {(restarted, ENCODER_DIM)}

    monkeypatch.undo()
    assert E._hash_emb_udf(ENCODER_DIM) is not fresh
    assert set(E._HASH_EMB_UDFS) == {(sc, ENCODER_DIM)}
