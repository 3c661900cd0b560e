"""Sentence-encoder UDF seam (SURVEY M10) with a deterministic fallback.

The reference encodes raw text with ``SentenceTransformer.encode``
(``BERTopic_Analysis.py:105,197-199``: ko-sroberta-multitask / MiniLM).
The engine's tested path consumes the driver's precomputed ``embeddings``
table (SURVEY §2.7 M10), but a user who arrives with ONLY raw text needs
an encoder stage. This module is that seam, mirroring the
``functions/morph.py`` gating pattern:

- ``sentence-transformers`` is OPTIONAL: the import is tried lazily, once
  per executor Python worker, inside the Arrow-batched ``mapInPandas``
  kernel (model load paid once per worker, never on the driver);
- absent (as in this container), the kernel runs a deterministic
  **signed-feature-hashing embedding**: each whitespace token hashes via
  md5 to a (dimension, sign) pair, signed counts accumulate per
  dimension, and the vector is L2-normalized. Pure integer accumulation +
  one normalization — byte-reproducible in ANSI SQL, so the fallback
  (unlike a neural encoder) carries an exact DuckDB oracle;
- the fallback is a real (if classical) text representation — the
  hashing trick of Weinberger et al. — not a stub: cosine over it is
  token-overlap similarity, which is exactly what the downstream ANN /
  centroid plumbing needs to be exercised end-to-end.

Scale shape: embarrassingly parallel map over partitions, no shuffle;
bytes in, ``ENCODER_DIM`` doubles out per row.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame

ENCODER_DIM = 16  # fallback hash-embedding dimensionality
ENCODER_MODEL = "paraphrase-multilingual-MiniLM-L12-v2"  # sbert default

_ENCODER = None
_ENCODER_KIND: str | None = None


def _get_encoder():
    """Per-executor lazy init (the ``morph.py`` pattern): first call in
    each Python worker pays the model load; later batches reuse it.

    Failure policy (r6 advice — one embedding space per job, never a
    silently mixed column):

    - the package IMPORT failing (ImportError, or OSError from a broken
      native torch — both deterministic properties of the environment,
      identical on every worker) caches the hash fallback: all workers
      answer 'hash' and the column is one consistent space, exactly what
      ``encoder_kind``'s probe predicts;
    - the MODEL LOAD failing (network/disk hiccup — possibly transient
      and per-worker) RAISES: the Spark task fails and is retried, so
      the job either completes all-sbert or fails loudly. Emitting
      16-dim hash vectors for this batch while healthy workers emit
      384-dim sbert vectors would corrupt the column undetectably.
      Callers who want the deterministic fallback pass method='hash'."""
    global _ENCODER, _ENCODER_KIND
    if _ENCODER_KIND is None:
        try:
            from sentence_transformers import SentenceTransformer
        except Exception:  # noqa: BLE001  (see failure policy above)
            _ENCODER = None
            _ENCODER_KIND = "hash"
        else:
            try:
                _ENCODER = SentenceTransformer(ENCODER_MODEL)
            except Exception as e:  # noqa: BLE001
                # not cached: the next batch (or the retried task)
                # attempts the load again
                raise RuntimeError(
                    "topic_modeling_ajin_spark.encoder: "
                    "sentence_transformers is installed but loading "
                    f"'{ENCODER_MODEL}' failed ({type(e).__name__}: {e}). "
                    "Failing the task so Spark retries it — a per-batch "
                    "hash fallback would mix embedding spaces in one "
                    "column. Pass method='hash' to force the "
                    "deterministic fallback for the whole job."
                ) from e
            _ENCODER_KIND = "sbert"
    return _ENCODER, _ENCODER_KIND


def encoder_kind() -> str:
    """Which encoder this environment will run ('sbert' or 'hash').

    Probes with the SAME guarded import that ``_get_encoder`` uses — not
    ``find_spec`` — so an installed-but-broken ``sentence_transformers``
    (e.g. torso of a torch install) answers 'hash' here exactly as the
    runtime kernel would fall back. Imports the package but never loads
    the model weights. Catches Exception for the same reason
    ``_get_encoder`` does: native-lib breakage raises OSError, not
    ImportError, and must answer 'hash', not propagate."""
    try:
        import sentence_transformers  # noqa: F401

        return "sbert"
    except Exception:
        return "hash"


# ASCII-only whitespace split: DuckDB's RE2 '\s' (the oracle twin) and the
# repo's Java-regex tokenizers are ASCII '\s'; Python's bare str.split()
# would ALSO break on U+3000/U+00A0 etc. and silently diverge on
# real-world Korean/web text
import re

_WS_ASCII = re.compile(r"\s+", re.ASCII)


def hash_embed_texts(texts, dim: int = ENCODER_DIM):
    """Deterministic signed-feature-hashing embeddings for a sequence of
    strings → list of length-``dim`` float lists (L2-normalized, zero
    vector for token-less text). Exact twin of ``sql_hash_embedding``."""
    import hashlib

    import numpy as np

    out = []
    for t in texts:
        v = np.zeros(dim, dtype=np.int64)
        for tok in filter(None, _WS_ASCII.split((t or "").lower())):
            base = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16)
            sign = 1 if (base // dim) % 2 == 0 else -1
            v[base % dim] += sign
        vf = v.astype(np.float64)
        n = float(np.sqrt((vf * vf).sum()))
        out.append((vf / n if n > 0 else vf).tolist())
    return out


def encode_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str | None = None,
    dim: int = ENCODER_DIM,
) -> DataFrame:
    """(id, text) → (id, embedding array<double>) via Arrow-batched
    ``mapInPandas``. ``method`` None auto-detects (sbert when installed,
    hash otherwise); pass ``"hash"`` to force the deterministic fallback —
    what every registered/oracle-checked query does, so correctness runs
    are environment-independent."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kind = method
        encoder = None
        if kind is None:
            encoder, kind = _get_encoder()
        for pdf in batches:
            if kind == "sbert":
                if encoder is None:
                    encoder, got = _get_encoder()
                    if got != "sbert":
                        raise ModuleNotFoundError(
                            "method='sbert' requested but sentence-transformers "
                            "is not installed on this executor; install it or "
                            "use method='hash' / method=None (auto-detect)"
                        )
                vecs = encoder.encode(
                    pdf[text_col].fillna("").tolist(), show_progress_bar=False
                )
                embs = [v.astype(float).tolist() for v in vecs]
            else:
                embs = hash_embed_texts(pdf[text_col], dim)
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": embs})

    return df.select(id_col, text_col).mapInPandas(
        kernel, schema=f"{id_col} long, embedding array<double>"
    )


def sql_hash_embedding(dim: int = ENCODER_DIM, src: str = "documents") -> str:
    """DuckDB CTE chain ending in ``hemb`` (doc_id, dim, v) — the dense
    per-dimension values of the hash embedding, exactly matching
    ``hash_embed_texts`` (integer signed counts, then L2 normalization;
    token-less docs yield the zero vector)."""
    from .hashing import sql_md5_base32

    return rf"""
htoks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              w -> w <> '')) AS tok
    FROM {src}
),
hbase AS (
    SELECT doc_id, {sql_md5_base32("tok")} AS base FROM htoks
),
hsum AS (
    SELECT doc_id, base % {dim} AS dim,
           CAST(sum(CASE WHEN (base // {dim}) % 2 = 0 THEN 1 ELSE -1 END)
                AS DOUBLE) AS v
    FROM hbase GROUP BY doc_id, base % {dim}
),
hgrid AS (
    SELECT d.doc_id, r.dim
    FROM (SELECT DISTINCT doc_id FROM {src}) d,
         (SELECT unnest(range(0, {dim})) AS dim) r
),
hdense AS (
    SELECT g.doc_id, g.dim, coalesce(s.v, 0.0) AS v
    FROM hgrid g LEFT JOIN hsum s ON s.doc_id = g.doc_id AND s.dim = g.dim
),
hnorm AS (SELECT doc_id, sqrt(sum(v * v)) AS n FROM hdense GROUP BY doc_id),
hemb AS (
    SELECT d.doc_id, d.dim,
           CASE WHEN n.n > 0 THEN d.v / n.n ELSE 0.0 END AS v
    FROM hdense d JOIN hnorm n ON n.doc_id = d.doc_id
)"""


def hash_embedding_expr(text_col, dim: int = ENCODER_DIM):
    """The hash embedding as a PURE COLUMN EXPRESSION — bit-identical to
    ``hash_embed_texts`` (parity-tested), for call sites that need the
    score inline with zero extra stages: the streaming ingest gate
    filters each micro-batch with this expression, stateless and
    shuffle-free.

    Bit-exactness argument: the accumulated counts are integers (exact in
    float64 in any summation order), so the only float ops are the same
    v/n divisions and sqrt the kernel performs — identical IEEE results.
    """
    from pyspark.sql import functions as F

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # NULL text = empty text, matching the kernel's (t or '') and the
    # oracle's zero-densified grid — without the coalesce, NULL would
    # propagate through the whole fold and a NULL score would silently
    # drop the row at the streaming quality gate (r5 review)
    c = F.coalesce(c, F.lit(""))
    # ASCII \s split of the lowered text — Java regex \s is ASCII-only,
    # matching the kernel's _WS_ASCII
    toks = F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")
    # hash ONCE per token (md5 is the expensive op — evaluating it inside
    # the per-slot lambda would multiply it by dim; measured 16x on the
    # scoring path), then fold cheap integer arithmetic over the slots
    bases = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
    )
    counts = F.aggregate(
        bases,
        F.array_repeat(F.lit(0).cast("bigint"), dim),
        lambda acc, b: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda v, i: v
            + F.when(
                (b % dim) == i,
                F.when(
                    F.floor(b / dim).cast("bigint") % 2 == 0, F.lit(1)
                ).otherwise(F.lit(-1)),
            ).otherwise(0),
        ),
    )
    # LET-BINDING via a one-element array of struct: column expressions
    # have no `let`, so referencing `counts` (the whole per-token fold)
    # or the norm from several places textually INLINES the subtree at
    # each reference — and subexpression elimination does not reach
    # inside higher-order-function lambda bodies, so the norm (which
    # itself contains the fold) was re-evaluated per OUTPUT ELEMENT in
    # the final normalize transform: ~2*dim+1 full fold evaluations per
    # row. Binding each stage as a lambda variable evaluates it exactly
    # once per row; the arithmetic (same counts, same sqrt, same
    # divisions) is unchanged, so the embedding is bit-identical.
    bound_counts = F.array(F.struct(counts.alias("c")))
    bound_norm = F.transform(
        bound_counts,
        lambda s: F.struct(
            F.transform(s["c"], lambda v: v.cast("double")).alias("v"),
        ),
    )
    bound_both = F.transform(
        bound_norm,
        lambda s: F.struct(
            s["v"].alias("v"),
            F.sqrt(
                F.aggregate(
                    s["v"], F.lit(0.0), lambda acc, x: acc + x * x
                )
            ).alias("n"),
        ),
    )
    return F.element_at(
        F.transform(
            bound_both,
            lambda s: F.transform(
                s["v"],
                lambda x: F.when(s["n"] > 0, x / s["n"]).otherwise(x),
            ),
        ),
        1,
    )


def hash_embedding_udf(text_col, dim: int = ENCODER_DIM):
    """The hash embedding as an Arrow-batched scalar pandas UDF — the
    THIRD face of the same function, for BATCH scoring sites: values
    bit-identical to ``hash_embed_texts`` (it IS that kernel, applied
    per Arrow batch: md5 in C + numpy integer accumulation + the same
    float64 normalize) and therefore to ``hash_embedding_expr``
    (parity-pinned by test_encoder). Row-local like the expression
    (ArrowEvalPython, no shuffle, composes inline with other columns),
    but each batch costs one vectorized pass instead of ~16 interpreted
    higher-order-function evaluations per token (HOF lambdas are
    CodegenFallback — guide §4.1/§4.2). The streaming gate keeps the
    pure-expression face: a micro-batch filter must stay a stateless
    column predicate.

    The wrapped pandas_udf object is built once per (SparkContext, ``dim``)
    and cached (r13 ADVICE): constructing a fresh wrapper per call
    registered a duplicate Python function for every invocation in a plan
    and defeated common-subexpression reuse between them. The wrapper
    memoizes its JVM UDF on first use, bound to the context of that
    moment, so the key includes the active context: after a restart the
    old wrappers (dropped here) would hold a dead JVM handle."""
    return _hash_emb_udf(dim)(text_col)


def _hash_emb_udf(dim: int):
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    udf = _HASH_EMB_UDFS.get((sc, dim))
    if udf is None:
        import pandas as pd  # noqa: F811 (kernel-local, executor side)
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<double>")
        def _emb(texts: pd.Series) -> pd.Series:
            return pd.Series(hash_embed_texts(texts, dim))

        for key in [k for k in _HASH_EMB_UDFS if k[0] is not sc]:
            del _HASH_EMB_UDFS[key]
        _HASH_EMB_UDFS[(sc, dim)] = udf = _emb
    return udf


_HASH_EMB_UDFS: dict[tuple[Any, int], Any] = {}
