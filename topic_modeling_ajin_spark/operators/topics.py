"""Topic-modeling operators (SURVEY §2.7), Spark-first.

The BERTopic-equivalent path: cluster assignment (here the ``label`` column
of ``embeddings`` — in production an MLlib KMeans prediction, see
``kmeans_assign``) → class-based TF-IDF keywords (M14) → greedy cross-topic
keyword dedup (T5). The LDA path: CountVectorizer → ``ml.clustering.LDA``
→ long-form (topic, term, weight) tables (M2/M8/M9).

c-TF-IDF is pure DataFrame algebra: tf_{t,c} normalized by class mass ×
ln(1 + A / f_t) exactly as BERTopic defines it
(``BERTopic_Analysis.py:218-240`` configures the vectorizer; the weighting
lives in the bertopic lib). Every non-ML stage has an exact DuckDB oracle;
the MLlib stages are rows-only (cross-library weights differ by design —
SURVEY §4 non-determinism note) with deterministic exact-oracle twins in
``operators.clustering`` (Lloyd/GMM/PCA) and ``operators.plsa`` (the topic
model itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo
from ..functions import text as TX
from ..functions.joins import vocab_broadcast
from ..registry import register
from ..sources import load_table, parallelized

TOP_K_KEYWORDS = 10

# ------------------------------------------------------------ SQL fragments

SQL_CLASS_TOKS = r"""
toks AS (
    SELECT d.doc_id, e.label,
           unnest(list_filter(string_split_regex(lower(d.text), '\s+'),
                              w -> w <> '' AND length(w) >= 2)) AS word
    FROM documents d
    JOIN embeddings e ON e.vec_id = d.doc_id
)
"""

SQL_CTFIDF = f"""
{SQL_CLASS_TOKS},
tc AS (SELECT label, word, count(*) AS tf FROM toks GROUP BY label, word),
ct AS (SELECT label, CAST(sum(tf) AS DOUBLE) AS total FROM tc GROUP BY label),
wf AS (SELECT word, CAST(sum(tf) AS DOUBLE) AS f FROM tc GROUP BY word),
avgc AS (SELECT avg(total) AS a FROM ct),
w AS (
    SELECT tc.label, tc.word,
           (tc.tf * 1.0 / ct.total) * ln(1 + avgc.a / wf.f) AS wt
    FROM tc
    JOIN ct ON ct.label = tc.label
    JOIN wf ON wf.word = tc.word
    CROSS JOIN avgc
),
topk AS (
    SELECT label, word, wt,
           row_number() OVER (PARTITION BY label ORDER BY wt DESC, word) AS rank
    FROM w
    QUALIFY rank <= {TOP_K_KEYWORDS}
)
"""


# ------------------------------------------------------- Spark counterparts

def class_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, word) token stream: documents joined to their cluster label.

    The label side is two slim columns — Catalyst broadcasts it; at real
    scale (N-row cluster assignment) this becomes a co-partitioned join on
    doc_id, which AQE plans without help."""
    d = parallelized(load_table(spark, sf_dir, "documents"))
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    toks = (
        d.join(e, d.doc_id == e.vec_id)
        .select("label", F.explode(TX.tokens("text")).alias("word"))
        .filter(F.length("word") >= 2)
    )
    return toks


def class_term_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full c-TF-IDF weight table (label, word, wt) — the topic-term matrix
    in long form (SURVEY M14). Three small aggregates + two broadcast
    joins; the only full shuffle is the (label, word) count."""
    # (label, word) counts feed three consumers (class mass, term df, the
    # weight join) — persist the compact count table, not the token stream.
    # Memoized per (session, dataset): topk_keywords AND topic_reduction
    # both build this subtree, and re-persisting an equal plan double-caches.
    tc = memo(
        spark,
        ("ctfidf_tc", sf_dir),
        lambda: class_tokens(spark, sf_dir)
        .groupBy("label", "word")
        .agg(F.count("*").alias("tf")),
        persist=True,
    )
    def build() -> DataFrame:
        ct = tc.groupBy("label").agg(F.sum("tf").cast("double").alias("total"))
        wf = tc.groupBy("word").agg(F.sum("tf").cast("double").alias("f"))
        a = ct.agg(F.avg("total").alias("a"))
        return (
            tc.join(F.broadcast(ct), "label")
            # wf is vocabulary-sized (slim 2 cols) — broadcast beats
            # re-shuffling tc on word, but the vocabulary is a corpus
            # accident, so the hint is SIZE-AWARE (vocab_broadcast,
            # r10 verdict task 1): past the cap the join degrades to a
            # linear shuffle on word instead of an OOM. wf derives from
            # the persisted tc, so the count is a cache-scan aggregate.
            .join(vocab_broadcast(wf), "word")
            .crossJoin(F.broadcast(a))
            .withColumn(
                "wt",
                (F.col("tf") * 1.0 / F.col("total")) * F.log(1 + F.col("a") / F.col("f")),
            )
            .select("label", "word", "wt")
        )

    # topic_cosine_similarity consumes this table three times (norms + both
    # sides of the word self-join) and topic_reduction twice more; persist
    # the compact (label, word, wt) result so each consumer reads the cache
    # instead of re-deriving the joins.
    return memo(spark, ("ctfidf_w", sf_dir), build, persist=True)


def topk_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-topic top-k keyword table (SURVEY T2), memoized per (session,
    dataset) — every coherence/diversity/similarity metric consumes this
    same K×k table, and recomputing the c-TF-IDF aggregation for each would
    repeat the corpus scan (the reference likewise extracts topic words once
    and reuses them across its metric suite)."""

    def build() -> DataFrame:
        w = class_term_weights(spark, sf_dir)
        win = Window.partitionBy("label").orderBy(F.desc("wt"), F.asc("word"))
        return (
            w.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= TOP_K_KEYWORDS)
        )

    # K×k rows; reused by every metric downstream
    return memo(spark, ("topk_keywords", sf_dir), build, persist=True)


@register(
    "ctfidf_keywords",
    sql=f"""
WITH {SQL_CTFIDF}
SELECT label, word AS keyword, round(wt, 6) AS weight, rank AS keyword_rank
FROM topk
""",
    tags=("topics", "flagship"),
)
def q_ctfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY M14: per-topic c-TF-IDF keywords, the BERTopic keyword table
    shape (``Topic, Keyword Rank, Keyword, Weight``,
    ``BERTopic_Analysis.py:711-721``)."""
    return topk_keywords(spark, sf_dir).select(
        "label",
        F.col("word").alias("keyword"),
        F.round("wt", 6).alias("weight"),
        F.col("rank").alias("keyword_rank"),
    )


@register(
    "ctfidf_dedup_keywords",
    sql=f"""
WITH {SQL_CTFIDF},
firstuse AS (
    SELECT label, word, wt, rank,
           min(label) OVER (PARTITION BY word) AS first_label
    FROM topk
)
SELECT label, word AS keyword, round(wt, 6) AS weight,
       row_number() OVER (PARTITION BY label ORDER BY rank) AS keyword_rank
FROM firstuse
WHERE label = first_label
""",
    tags=("topics",),
)
def q_ctfidf_dedup_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY T5: greedy cross-topic keyword dedup
    (``BERTopic_Analysis.py:692-717``). The reference's order-dependent
    loop (keyword kept by the first topic that uses it, topics ascending)
    becomes a min-over-window + filter + re-rank — deterministic under any
    parallelism, same output."""
    topk = topk_keywords(spark, sf_dir)
    first = topk.withColumn(
        "first_label", F.min("label").over(Window.partitionBy("word"))
    )
    kept = first.filter(F.col("label") == F.col("first_label"))
    rerank = Window.partitionBy("label").orderBy("rank")
    return kept.select(
        "label",
        F.col("word").alias("keyword"),
        F.round("wt", 6).alias("weight"),
        F.row_number().over(rerank).alias("keyword_rank"),
    )


@register(
    "doc_frequency_pruning",
    sql=r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                            w -> w <> '' AND length(w) >= 2))) AS word
    FROM documents
),
df_counts AS (SELECT word, count(*) AS df FROM toks GROUP BY word),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT word, df
FROM df_counts CROSS JOIN n
WHERE df >= 5 AND df <= 0.7 * n_docs
""",
    tags=("topics", "vectorize"),
)
def q_doc_frequency_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY F7/M1: vocabulary pruning by document frequency — gensim's
    ``filter_extremes(no_below=5, no_above=0.7)`` (``LDA_Analysis.py:171``)
    as explicit algebra (CountVectorizer's minDF/maxDF does the same
    internally)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(TX.length_band(TX.tokens("text"), 2, 10_000))
        ).alias("word"),
    )
    dfc = toks.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = d.count()  # scalar; at scale use a broadcast subquery instead
    return dfc.filter((F.col("df") >= 5) & (F.col("df") <= 0.7 * n_docs))


# --------------------------------------------------------------- MLlib path

LDA_K = 5  # CLI-overridable topic count (python -m topic_modeling_ajin_spark -t N)

# The reference builds its corpus and dictionary once and reuses them across
# every downstream consumer (LDA_Analysis.py:167-177); the Spark analogue is
# fitting once per (session, dataset) and caching the featurized DataFrame —
# without this, lda_topic_terms / lda_doc_topics / the K-sweep would re-fit.


def _vector_corpus(spark: SparkSession, sf_dir: str):
    """CountVectorizer pipeline over tokenized documents (SURVEY M1),
    memoized per (session, dataset); the corpus DataFrame is persisted
    because every consumer (fit, transform, sweep) scans it repeatedly.

    The vocabulary is ``CountVectorizer(minDF=2, vocabSize=50_000)``'s —
    terms in >= 2 documents, the most frequent first — with equal counts
    ordered by term. ``CountVectorizer.fit`` orders by count alone, so
    ties came out in task-completion order, and each term's index (and
    with it the seeded LDA fit) changed from run to run."""

    def build():
        from pyspark.ml.feature import CountVectorizerModel

        d = parallelized(load_table(spark, sf_dir, "documents"))
        toks = d.select("doc_id", TX.tokens("text").alias("tokens")).filter(
            F.size("tokens") >= 3
        )
        # a term is in >= 2 documents iff its first and last row differ
        # (cheaper than a distinct count)
        vocab = [
            r.term
            for r in toks.withColumn("row", F.monotonically_increasing_id())
            .select("row", F.explode("tokens").alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("tf"), F.min("row").alias("lo"), F.max("row").alias("hi"))
            .filter(F.col("lo") < F.col("hi"))
            .orderBy(F.desc("tf"), "term")
            .limit(50_000)
            .collect()
        ]
        model = CountVectorizerModel.from_vocabulary(
            vocab, inputCol="tokens", outputCol="features"
        )
        corpus = model.transform(toks).persist()
        return (model, corpus)

    return memo(spark, ("vector_corpus", sf_dir), build)


def _lda_model(spark: SparkSession, sf_dir: str, k: int | None = None):
    """Fitted LDA (seed=42, online optimizer), memoized per (session,
    dataset, k)."""
    k = k or LDA_K

    def build():
        from pyspark.ml.clustering import LDA

        _, corpus = _vector_corpus(spark, sf_dir)
        lda = LDA(k=k, seed=42, maxIter=20, optimizer="online", featuresCol="features")
        return lda.fit(corpus)

    return memo(spark, ("lda_model", sf_dir, k), build)


@register("lda_topic_terms", tags=("topics", "ml"))
def q_lda_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY M2/M9: MLlib LDA (k={LDA_K}, seed=42, online optimizer — the
    distributed analogue of gensim LdaModel at ``LDA_Analysis.py:264-276``;
    alpha/eta 'auto' has no MLlib analogue, fixed priors documented) →
    long-form (topic, term, weight, rank). Rows-only: topic-word weights
    are library-specific (SURVEY §4)."""
    cv_model, corpus = _vector_corpus(spark, sf_dir)
    model = _lda_model(spark, sf_dir)
    vocab = cv_model.vocabulary
    topics = model.describeTopics(TOP_K_KEYWORDS)
    vocab_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(vocab)], ["term_idx", "term"]
    )
    exploded = topics.select(
        "topic",
        F.posexplode(F.arrays_zip("termIndices", "termWeights")).alias("pos", "tw"),
    ).select(
        "topic",
        F.col("tw.termIndices").alias("term_idx"),
        F.col("tw.termWeights").alias("weight"),
        (F.col("pos") + 1).alias("rank"),
    )
    return exploded.join(F.broadcast(vocab_df), "term_idx").select(
        "topic", "term", F.round("weight", 6).alias("weight"), "rank"
    )


@register("lda_doc_topics", tags=("topics", "ml"))
def q_lda_doc_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY M8/T4: per-document dominant topic + probability from the
    LDA topicDistribution (argmax over the simplex — the reference's
    ``max(doc_topic, key=...)`` at ``LDA_Analysis.py:655``)."""
    from pyspark.ml.functions import vector_to_array

    _, corpus = _vector_corpus(spark, sf_dir)
    model = _lda_model(spark, sf_dir)
    dist = model.transform(corpus).select(
        "doc_id", vector_to_array("topicDistribution").alias("p")
    )
    return dist.select(
        "doc_id",
        (F.array_position(F.col("p"), F.array_max("p")) - 1).cast("int").alias("topic"),
        F.round(F.array_max("p"), 6).alias("prob"),
    )


@register("kmeans_assign", tags=("topics", "ml", "cluster"))
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY M13: MLlib KMeans (k=10, seed=42) over the embedding column —
    the exact-K clustering path the reference itself uses for its shipped
    result (``BERTopic_Analysis.py:1167-1169``). Output: cluster sizes +
    how pure each cluster is w.r.t. the generator's label."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    feat = e.select(
        "vec_id", "label", array_to_vector(F.col("embedding")).alias("features")
    )
    km = KMeans(k=10, seed=42, featuresCol="features", predictionCol="cluster")
    model = km.fit(feat)
    pred = model.transform(feat)
    return (
        pred.groupBy("cluster")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("label").alias("n_labels"),
        )
        .orderBy("cluster")
    )


# ------------------------------------------------------ labeling & reduce

# Rule-based category patterns (SURVEY P13): the reference matches topic
# keywords against 6 Korean category dicts (LDA_Analysis.py:471-507); the
# engine's synthetic corpus is relational-English, so the dicts are themed
# to it. Order = precedence on ties, exactly like the reference's dict walk.
CATEGORY_PATTERNS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("조인 연산", ("join", "hash", "merge", "key", "part")),
    ("집계 연산", ("agg", "group", "sort", "order", "window")),
    ("스캔/필터", ("scan", "filter", "column", "row", "table", "line")),
    ("스트리밍", ("stream", "batch", "value", "fast", "slow")),
    ("벡터 처리", ("vector", "data", "query", "spark", "big", "small")),
)
OTHER_LABEL = "기타"

_SQL_CATS = ", ".join(
    f"len(list_intersect(words, {list(kws)!r})) AS c{i}".replace('"', "'")
    for i, (_, kws) in enumerate(CATEGORY_PATTERNS)
)
_SQL_BEST = f"greatest({', '.join(f'c{i}' for i in range(len(CATEGORY_PATTERNS)))})"
_SQL_PICK = "CASE " + " ".join(
    f"WHEN c{i} = {_SQL_BEST} THEN '{name}'"
    for i, (name, _) in enumerate(CATEGORY_PATTERNS)
) + f" END"


@register(
    "topic_labels",
    sql=f"""
WITH {SQL_CTFIDF},
words AS (SELECT label, list(word) AS words FROM topk GROUP BY label),
scored AS (SELECT label, {_SQL_CATS} FROM words)
SELECT label,
       CASE WHEN {_SQL_BEST} = 0 THEN '{OTHER_LABEL}' ELSE {_SQL_PICK} END
           AS topic_label,
       CAST({_SQL_BEST} AS INT) AS matched
FROM scored
""",
    tags=("topics", "label"),
)
def q_topic_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY P13: rule-based topic labeling — intersect each topic's top-k
    keywords with ordered category keyword lists; the first category with
    the maximal overlap names the topic, zero overlap falls through to
    '기타' (``LDA_Analysis.py:471-507``). Pure ``array_intersect`` +
    ``when`` chain over the K-row keyword table — no UDF."""
    topk = topk_keywords(spark, sf_dir)
    words = topk.groupBy("label").agg(F.collect_list("word").alias("words"))
    sizes = [
        F.size(F.array_intersect("words", F.array(*[F.lit(k) for k in kws])))
        for _, kws in CATEGORY_PATTERNS
    ]
    best = F.greatest(*sizes) if len(sizes) > 1 else sizes[0]
    pick = F
    expr = None
    for (name, _), sz in zip(CATEGORY_PATTERNS, sizes):
        cond = sz == best
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return words.select(
        "label",
        F.when(best == 0, OTHER_LABEL).otherwise(expr).alias("topic_label"),
        best.cast("int").alias("matched"),
    )


MAX_TOPICS_AFTER_REDUCE = 6
# The oracle SQL is static (registry contract), so the merge unroll can't
# depend on the runtime label count. Instead each unrolled step is
# data-driven — it merges only while count(DISTINCT root) > target — and
# we unroll enough steps for any label count up to this cap. The synthetic
# generator emits 10 labels today; the cap leaves 3x headroom, and label
# counts beyond it fail loudly in _reduction_merges.
_MAX_UNROLL_LABELS = 32
_REDUCE_STEPS = _MAX_UNROLL_LABELS - MAX_TOPICS_AFTER_REDUCE

# explicit schemas (the types inference gives non-empty rows): a corpus
# with <= MAX_TOPICS_AFTER_REDUCE labels merges nothing, and a single
# label has no pairs at all — empty lists that cannot be inferred from
_REDUCTION_SCHEMA = "label bigint, merged_topic bigint"
_MERGE_STEPS_SCHEMA = "step bigint, into_root bigint, from_root bigint, cosine double"


def _sql_merge_steps(steps: int) -> str:
    """Unrolled single-linkage merges over the static ``sims`` pair table:
    each step merges the highest-cosine pair whose endpoints live in
    different components (greater root into lesser) — Kruskal order, the
    exact semantics of the driver-side union-find. A step whose component
    count already reached the target (or whose candidate list is
    exhausted) degrades to a no-op: ``cand{{t}}`` is empty, the CASE
    compares against NULL and keeps every root — so the same static
    unroll replays any label count up to ``_MAX_UNROLL_LABELS``."""
    parts = [
        """
labs AS (SELECT i AS label FROM sims UNION SELECT j FROM sims),
map0 AS MATERIALIZED (SELECT DISTINCT label, label AS root FROM labs)"""
    ]
    # MATERIALIZED throughout: inlined CTEs would re-derive the full
    # c-TF-IDF pipeline behind ``sims`` once per reference, exponentially
    # across the unrolled steps (observed as a too-many-open-files blowup)
    for t in range(1, steps + 1):
        parts.append(
            f"""
cand{t} AS MATERIALIZED (
    SELECT mi.root AS ri, mj.root AS rj, s.cos
    FROM sims s
    JOIN map{t - 1} mi ON mi.label = s.i
    JOIN map{t - 1} mj ON mj.label = s.j
    WHERE mi.root <> mj.root
      AND (SELECT count(DISTINCT root) FROM map{t - 1})
          > {MAX_TOPICS_AFTER_REDUCE}
    ORDER BY s.cos DESC, s.i, s.j
    LIMIT 1
),
map{t} AS MATERIALIZED (
    SELECT m.label,
           CASE WHEN m.root = greatest((SELECT ri FROM cand{t}),
                                       (SELECT rj FROM cand{t}))
                THEN least((SELECT ri FROM cand{t}), (SELECT rj FROM cand{t}))
                ELSE m.root END AS root
    FROM map{t - 1} m
)"""
        )
    return ",".join(parts)


_SQL_SIMS = f"""{SQL_CTFIDF},
norms AS (SELECT label, sqrt(sum(wt * wt)) AS nrm FROM w GROUP BY label),
dots AS (
    SELECT x.label AS i, y.label AS j, sum(x.wt * y.wt) AS dot
    FROM w x JOIN w y ON x.word = y.word AND x.label < y.label
    GROUP BY x.label, y.label
),
sims AS MATERIALIZED (
    SELECT dots.i, dots.j, dots.dot / (a.nrm * b.nrm) AS cos
    FROM dots
    JOIN norms a ON a.label = dots.i
    JOIN norms b ON b.label = dots.j
)"""


@register(
    "topic_reduction",
    sql=f"""
WITH {_SQL_SIMS},
{_sql_merge_steps(_REDUCE_STEPS)}
SELECT label, root AS merged_topic FROM map{_REDUCE_STEPS}
""",
    tags=("topics", "reduce"),
)
def q_topic_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY M15: BERTopic-style topic reduction — iteratively merge the
    most-cosine-similar topic pair until K ≤ {MAX_TOPICS_AFTER_REDUCE}
    (``BERTopic_Analysis.py:352-367``).

    The pairwise matrix is K×K (K ≤ 50 by design, SURVEY §1.1) so the
    greedy loop runs driver-side on collected rows — the one sanctioned
    driver materialization — while the expensive part (the topic-term
    cosine matrix over the full corpus) stays distributed. Ties break on
    (i, j) so the merge order is total — which also makes the whole
    reduction oracle-checkable: DuckDB replays the merges as unrolled
    pick-max-eligible-pair steps over the same static cosine table."""
    mapping, _ = _reduction_merges(spark, sf_dir)
    return spark.createDataFrame(mapping, _REDUCTION_SCHEMA)


def _reduction_merges(spark: SparkSession, sf_dir: str):
    """Shared driver-side Kruskal union-find over the distributed topic
    cosine matrix. Returns (mapping, merges): the final label→root pairs
    and the ordered merge log [(step, into_root, from_root, cos)] — the
    data behind both ``topic_reduction`` and ``topic_merge_steps`` (and
    the dendrogram sink). Memoized per (session, dataset): the figure
    pass reads both tables, and the cosine self-join + collect behind
    them would otherwise run twice."""
    return memo(
        spark, ("reduction_merges", sf_dir), lambda: _build_reduction_merges(spark, sf_dir)
    )


def _build_reduction_merges(spark: SparkSession, sf_dir: str):
    w = class_term_weights(spark, sf_dir)
    norms = w.groupBy("label").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    x = w.select(F.col("label").alias("i"), "word", F.col("wt").alias("wi"))
    y = w.select(F.col("label").alias("j"), "word", F.col("wt").alias("wj"))
    dots = (
        x.join(y, "word")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("wi") * F.col("wj")).alias("dot"))
    )
    sims = (
        dots.join(norms.select(F.col("label").alias("i"), F.col("nrm").alias("ni")), "i")
        .join(norms.select(F.col("label").alias("j"), F.col("nrm").alias("nj")), "j")
        .select("i", "j", (F.col("dot") / (F.col("ni") * F.col("nj"))).alias("cos"))
        .collect()
    )
    labels = sorted({r["i"] for r in sims} | {r["j"] for r in sims})
    # Each unrolled oracle step is a data-driven no-op once K <= target,
    # so ANY label count up to the unroll cap replays exactly; only a
    # count beyond the cap (needing more merges than unrolled) must fail.
    if len(labels) > _MAX_UNROLL_LABELS:
        raise AssertionError(
            f"topic_reduction oracle unrolls {_REDUCE_STEPS} merges "
            f"(label cap {_MAX_UNROLL_LABELS}); got {len(labels)} labels"
        )
    parent = {l: l for l in labels}

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    pairs = sorted(sims, key=lambda r: (-r["cos"], r["i"], r["j"]))
    n = len(labels)
    merges = []
    for r in pairs:
        if n <= MAX_TOPICS_AFTER_REDUCE:
            break
        a, b = find(r["i"]), find(r["j"])
        if a != b:
            parent[max(a, b)] = min(a, b)
            n -= 1
            merges.append((len(merges) + 1, min(a, b), max(a, b), r["cos"]))
    mapping = [(l, find(l)) for l in labels]
    return mapping, merges


@register(
    "topic_merge_steps",
    sql=f"""
WITH {_SQL_SIMS},
{_sql_merge_steps(_REDUCE_STEPS)}
SELECT * FROM (
    {" UNION ALL ".join(
        f"SELECT {t} AS step, least(ri, rj) AS into_root, "
        f"greatest(ri, rj) AS from_root, round(cos, 6) AS cosine FROM cand{t}"
        for t in range(1, _REDUCE_STEPS + 1)
    )}
)
""",
    tags=("topics", "reduce", "viz"),
)
def q_topic_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered merge log behind M15's topic reduction — one row per
    Kruskal merge (which pair of topic roots fused, at what cosine).
    This is the data BERTopic's ``visualize_hierarchy`` dendrogram plots
    (``BERTopic_Analysis.py:795-800``); ``plots.plot_topic_hierarchy``
    renders it. DuckDB replays each unrolled merge step's winning
    candidate, so the whole linkage is value-checked."""
    from decimal import ROUND_HALF_UP, Decimal

    # HALF_UP like DuckDB's round(), not builtin round()'s half-to-even —
    # the same recipe as q_textrank_keywords
    q6 = Decimal("0.000001")
    _, merges = _reduction_merges(spark, sf_dir)
    rows = [
        (s, a, b, float(Decimal(c).quantize(q6, rounding=ROUND_HALF_UP)))
        for s, a, b, c in merges
    ]
    return spark.createDataFrame(rows, _MERGE_STEPS_SCHEMA)


# ------------------------------------------------- sweep & soft clustering

SWEEP_KS = tuple(range(2, 9))


@register("lda_k_sweep", tags=("topics", "ml", "sweep"))
def q_lda_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY M3: optimal-K sweep — train LDA for K={SWEEP_KS[0]}..{SWEEP_KS[-1]}
    on ONE cached featurized corpus (the reference rebuilds nothing either:
    corpus/dictionary built once at ``LDA_Analysis.py:167-177`` then reused
    ``:192-205``), score each K, emit the curve. Metrics: MLlib
    ``logPerplexity`` (lower better) + topic diversity (top-10 words;
    ``BERTopic_Analysis.py:1076-1097`` computes the same curve)."""
    from pyspark.ml.clustering import LDA

    _, corpus = _vector_corpus(spark, sf_dir)  # persisted by the memo
    corpus.count()  # materialize once before the sweep
    rows = []
    for k in SWEEP_KS:
        lda = LDA(k=k, seed=42, maxIter=10, optimizer="online", featuresCol="features")
        model = lda.fit(corpus)
        topics = model.describeTopics(10)
        terms = topics.select(F.explode("termIndices").alias("t"))
        n_terms = terms.count()
        n_unique = terms.distinct().count()
        rows.append(
            (
                k,
                round(model.logPerplexity(corpus), 4),
                round(n_unique / n_terms, 6),
            )
        )
    return spark.createDataFrame(rows, ["k", "log_perplexity", "diversity"])


@register("pca_project", tags=("topics", "ml", "reduce_dim"))
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY M11 substitute: UMAP has no Spark primitive; ML ``PCA(k=5)``
    is the documented stand-in (semantic delta: linear projection). Output:
    per-component explained variance — sign-invariant, so stable across
    BLAS implementations (the loadings themselves are rows-only by
    nature)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    feat = e.select(array_to_vector(F.col("embedding")).alias("features"))
    model = PCA(k=5, inputCol="features", outputCol="pc").fit(feat)
    ev = model.explainedVariance.toArray().tolist()
    return spark.createDataFrame(
        [(i, round(float(v), 6)) for i, v in enumerate(ev)],
        ["component", "explained_variance"],
    )


GMM_NOISE_THRESHOLD = 0.6


@register("gmm_soft_cluster", tags=("topics", "ml", "cluster"))
def q_gmm_soft_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY M12 substitute: HDBSCAN (auto-K, noise label −1) has no Spark
    primitive; ML ``GaussianMixture`` + a max-posterior threshold replicates
    the soft-assignment-with-noise surface: rows whose best posterior
    < {GMM_NOISE_THRESHOLD} get the noise label −1 exactly like HDBSCAN's
    unassigned points (``BERTopic_Analysis.py:210-216``).

    Mirrors the reference's full pipeline shape: reduce to 5 dims first
    (UMAP→5 there, ``BERTopic_Analysis.py:201-208``; PCA→5 here), THEN
    cluster — full-dimension GMM covariances are degenerate when cluster
    sizes approach the dimensionality."""
    from pyspark.ml import Pipeline
    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    e = load_table(spark, sf_dir, "embeddings")
    feat = e.select(
        "vec_id", array_to_vector(F.col("embedding")).alias("emb64")
    )
    pipe = Pipeline(
        stages=[
            PCA(k=5, inputCol="emb64", outputCol="features"),
            GaussianMixture(k=10, seed=42, featuresCol="features"),
        ]
    )
    model = pipe.fit(feat)
    pred = model.transform(feat).select(
        "vec_id",
        "prediction",
        vector_to_array("probability").alias("p"),
    )
    noisy = pred.select(
        "vec_id",
        F.when(
            F.array_max("p") < GMM_NOISE_THRESHOLD, F.lit(-1)
        ).otherwise(F.col("prediction")).alias("cluster"),
        F.round(F.array_max("p"), 6).alias("confidence"),
    )
    return (
        noisy.groupBy("cluster")
        .agg(F.count("*").alias("n"), F.round(F.avg("confidence"), 6).alias("avg_conf"))
        .orderBy("cluster")
    )


# -------------------------------------------- keyword filter & topic info

# substring-stopword filter uses only stopwords long enough to be
# meaningful substrings (the reference's Korean stopwords are all >= 2
# chars; single-letter English articles would nuke every keyword)
SUBSTR_STOPWORDS = tuple(w for w in TX.ENGLISH_STOPWORDS if len(w) >= 3)
_SUBSTR_SQL = "[" + ", ".join(f"'{w}'" for w in SUBSTR_STOPWORDS) + "]"


@register(
    "keyword_substr_filter",
    sql=f"""
WITH {SQL_CTFIDF}
SELECT label, word AS keyword, rank AS keyword_rank
FROM topk
WHERE NOT EXISTS (
    SELECT 1 FROM unnest({_SUBSTR_SQL}) AS s(sw) WHERE contains(word, sw)
)
""",
    tags=("topics", "filter"),
)
def q_keyword_substr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY F8: drop a keyword when any stopword is a SUBSTRING of it
    (``BERTopic_Analysis.py:701-705``) — ``exists`` over a broadcast
    literal array, pure codegen."""
    topk = topk_keywords(spark, sf_dir)
    sw = F.array(*[F.lit(s) for s in SUBSTR_STOPWORDS])
    has_sub = F.exists(sw, lambda s: F.col("word").contains(s))
    return (
        topk.filter(~has_sub)
        .select("label", F.col("word").alias("keyword"), F.col("rank").alias("keyword_rank"))
    )


REPR_DOCS_PER_TOPIC = 3

SQL_CENTROIDS = """
cent AS (
    SELECT label, pos0, avg(v) AS c
    FROM (
        SELECT label,
               unnest(embedding::DOUBLE[]) AS v,
               unnest(generate_series(0, len(embedding) - 1)) AS pos0
        FROM embeddings
    )
    GROUP BY label, pos0
),
centv AS (
    SELECT label, list(c ORDER BY pos0) AS cvec
    FROM cent GROUP BY label
)
"""


@register(
    "topic_representative_docs",
    sql=f"""
WITH {SQL_CENTROIDS},
scored AS (
    SELECT e.label, e.vec_id,
           list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) AS cos,
           row_number() OVER (
               PARTITION BY e.label
               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
                        e.vec_id) AS rank
    FROM embeddings e JOIN centv c ON c.label = e.label
)
SELECT label, vec_id AS doc_id, round(cos, 6) AS similarity, rank
FROM scored
WHERE rank <= {REPR_DOCS_PER_TOPIC}
""",
    tags=("topics", "report"),
)
def q_topic_representative_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY T3: per-topic representative documents — rank members by
    cosine(doc, topic centroid), keep the top {REPR_DOCS_PER_TOPIC}
    (BERTopic's example docs, ``BERTopic_Analysis.py:560-649``; LDA's
    probability ranking is the ``lda_doc_topics`` twin). Centroids are
    K×d (tiny) ⇒ broadcast; the rank window shuffles once on label."""
    from ..functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select("label", F.posexplode(V.as_double("embedding")).alias("pos0", "v"))
    cent = pos.groupBy("label", "pos0").agg(F.avg("v").alias("c"))
    centv = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos0", "c"))).alias("pc"))
        .select("label", F.transform("pc", lambda s: s["c"]).alias("cvec"))
    )
    scored = (
        e.join(F.broadcast(centv), "label")
        .select(
            "label",
            "vec_id",
            V.cosine(V.as_double("embedding"), F.col("cvec")).alias("cos"),
        )
    )
    win = Window.partitionBy("label").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= REPR_DOCS_PER_TOPIC)
        .select(
            "label",
            F.col("vec_id").alias("doc_id"),
            F.round("cos", 6).alias("similarity"),
            "rank",
        )
    )


@register(
    "topic_info",
    sql=f"""
WITH {SQL_CTFIDF},
words AS (SELECT label, list(word) AS words FROM topk GROUP BY label),
scored AS (SELECT label, {_SQL_CATS} FROM words),
named AS (
    SELECT label,
           CASE WHEN {_SQL_BEST} = 0 THEN '{OTHER_LABEL}' ELSE {_SQL_PICK} END AS topic_label
    FROM scored
),
kw AS (
    SELECT label, string_agg(word, ', ' ORDER BY rank) AS keywords
    FROM topk GROUP BY label
),
counts AS (SELECT label, count(*) AS n_docs FROM embeddings GROUP BY label),
{SQL_CENTROIDS.strip().rstrip()},
ex AS (
    SELECT label, vec_id,
           row_number() OVER (
               PARTITION BY label
               ORDER BY list_cosine_similarity(embeddings.embedding::DOUBLE[], centv.cvec) DESC,
                        vec_id) AS rank
    FROM embeddings JOIN centv USING (label)
),
exa AS (
    SELECT label, string_agg(vec_id::VARCHAR, ',' ORDER BY rank) AS example_docs
    FROM ex WHERE rank <= {REPR_DOCS_PER_TOPIC} GROUP BY label
)
SELECT n.label, n.topic_label, kw.keywords, c.n_docs, exa.example_docs
FROM named n
JOIN kw USING (label)
JOIN counts c USING (label)
JOIN exa USING (label)
""",
    tags=("topics", "report", "flagship"),
)
def q_topic_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY M9: the composed per-topic report — keywords (T2) +
    rule-based interpretation (P13) + member count (A8) + representative
    docs (T3) in one wide row per topic, mirroring the reference's
    토픽상세정보 sheet (``LDA_Analysis.py:413-469``,
    ``BERTopic_Analysis.py:539-665``). Every input is a tiny K-row
    DataFrame by this point — the joins are broadcast no-ops; the heavy
    lifting happened in the reused upstream operators."""
    topk = topk_keywords(spark, sf_dir)
    labels = q_topic_labels(spark, sf_dir).select("label", "topic_label")
    kw = (
        topk.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "word"))).alias("rw"))
        .select(
            "label",
            F.array_join(F.transform("rw", lambda s: s["word"]), ", ").alias("keywords"),
        )
    )
    counts = (
        load_table(spark, sf_dir, "embeddings").groupBy("label").agg(F.count("*").alias("n_docs"))
    )
    ex = (
        q_topic_representative_docs(spark, sf_dir)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "doc_id"))).alias("rd"))
        .select(
            "label",
            F.array_join(
                F.transform("rd", lambda s: s["doc_id"].cast("string")), ","
            ).alias("example_docs"),
        )
    )
    return (
        labels.join(kw, "label")
        .join(counts, "label")
        .join(ex, "label")
        .select("label", "topic_label", "keywords", "n_docs", "example_docs")
    )


SOURCE_TOP_K = 5


@register(
    "source_distinctive_terms",
    sql=rf"""
WITH toks AS (
    SELECT source AS label,
           unnest(string_split_regex(lower(text), '\s+')) AS word
    FROM documents
),
tc AS (
    SELECT label, word, count(*) AS tf FROM toks
    WHERE length(word) >= 2 GROUP BY label, word
),
ct AS (SELECT label, CAST(sum(tf) AS DOUBLE) AS total FROM tc GROUP BY label),
wf AS (SELECT word, CAST(sum(tf) AS DOUBLE) AS f FROM tc GROUP BY word),
avgc AS (SELECT avg(total) AS a FROM ct),
w AS (
    SELECT tc.label, tc.word,
           (tc.tf * 1.0 / ct.total) * ln(1 + avgc.a / wf.f) AS wt
    FROM tc
    JOIN ct ON ct.label = tc.label
    JOIN wf ON wf.word = tc.word
    CROSS JOIN avgc
)
SELECT label AS source, word, round(wt, 6) AS weight,
       row_number() OVER (PARTITION BY label ORDER BY wt DESC, word) AS rank
FROM w
QUALIFY rank <= {SOURCE_TOP_K}
""",
    tags=("topics", "curation", "quality"),
)
def q_source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE distinctive vocabulary — the c-TF-IDF machinery (M14)
    re-keyed on the crawl source instead of the cluster label: which words
    over-represent each source, the first thing a data-curation review
    asks of a multi-source corpus (boilerplate and domain skew show up
    immediately). Same plan shape as the topic keywords: one (source,
    word) count shuffle, class mass / term df broadcast back."""
    d = parallelized(load_table(spark, sf_dir, "documents"))
    tc = (
        d.select(F.col("source").alias("label"), F.explode(TX.tokens("text")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("label", "word")
        .agg(F.count("*").alias("tf"))
    )
    ct = tc.groupBy("label").agg(F.sum("tf").cast("double").alias("total"))
    wf = tc.groupBy("word").agg(F.sum("tf").cast("double").alias("f"))
    a = ct.agg(F.avg("total").alias("a"))
    w = (
        tc.join(F.broadcast(ct), "label")
        # wf is vocab-sized and tc is NOT persisted here (single-use
        # subtree) — no forced hint: AQE broadcasts wf at its true
        # runtime size and shuffle-joins a web-scale vocabulary
        .join(wf, "word")
        .crossJoin(F.broadcast(a))
        .withColumn(
            "wt",
            (F.col("tf") * 1.0 / F.col("total")) * F.log(1 + F.col("a") / F.col("f")),
        )
    )
    win = Window.partitionBy("label").orderBy(F.desc("wt"), F.asc("word"))
    return (
        w.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= SOURCE_TOP_K)
        .select(
            F.col("label").alias("source"),
            "word",
            F.round("wt", 6).alias("weight"),
            "rank",
        )
    )
