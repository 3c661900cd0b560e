"""Seeded corpus generator for the end-to-end benchmark.

One seed gives one corpus, byte for byte. The corpus is written in the
``documents`` / ``embeddings`` parquet layout that
``sources.load_table`` reads, with a planted-truth JSON file beside it:

- a Zipfian vocabulary of ``vocab`` synthetic word types, plus ``TOPICS``
  planted topics, each a Zipfian list of topic words; a document draws each token
  from its topic, from the background vocabulary, or from the engine's
  English stopword list (so the rule gate sees real-looking prose);
- planted exact copies (``COPY_SHARE`` of the docs) and near-duplicate
  edits (``NEAR_SHARE``: a copy with one token in 60 substituted), each of
  a strictly earlier original;
- shared boilerplate chunks appended to ``BOILER_SHARE`` of the docs, one
  of ``N_BOILER`` chunks each, at most ``BOILER_MAX_DOCS`` originals a
  chunk, below the streaming store's hot-shingle cap;
- five languages (the mixture targets) and five sources;
- a 64-d ``embeddings`` table, ``vec_id`` = ``doc_id`` and ``label`` =
  the planted topic; a copy shares its original's vector.

Run standalone: ``python3 perfbench/gen.py --seed 1 --workload topic_analysis --out DIR``.
"""

from __future__ import annotations

import argparse
import bisect
import json
import math
import os
import random
from collections import Counter
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# the engine's English stopword list (functions/text.py); the rule gate
# needs a stopword share >= 0.05 to call a doc English-like
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on",
    "for", "with", "by", "at", "as",
)
LANGS = (("en", 0.4), ("zh", 0.2), ("de", 0.15), ("fr", 0.15), ("es", 0.1))
N_SOURCES = 5
DIM = 64
# at most this many originals carry a given boilerplate chunk (copies of
# them add a few more): far below the streaming gate's
# JACCARD_HOT_SHINGLE_CAP (64), the gates' documented domain
BOILER_MAX_DOCS = 16
BOILER_LEN = 40
FIRST_ORIGINALS = 10
# per-dimension noise around a unit topic centroid: same-topic cosine is
# about 1 / (1 + DIM * EMB_NOISE**2) = 0.15, so the batch semantic-dedup
# threshold (cosine 0.35) drops the planted copies and a tail of close
# pairs, not whole topics
EMB_NOISE = 0.3
TOPIC_WORDS = 150
TOPIC_ZIPF = 1.07
# a long-tailed background, so realized types grow with the corpus
BG_ZIPF = 0.9
_SYLLABLES = tuple(
    c + v for c in "bcdfghjklmnprstvwz" for v in ("a", "e", "i", "o", "u", "ou", "ai")
)


TOPICS = 10
COPY_SHARE = 0.05
NEAR_SHARE = 0.05
BOILER_SHARE = 0.08
N_BOILER = 4
MIN_LEN, MAX_LEN = 40, 160


@dataclass(frozen=True)
class Spec:
    n_docs: int
    vocab: int = 100_000


# Corpus size per workload, from a size sweep on 4 cores (warm pass, memos
# cold): run_full_analysis costs ~3 ms a document over an ~18 s fixed cost,
# the staged curation ~30 ms a document over ~26 s; a JVM-cold pass adds
# ~15 s more. 1,500 documents give the topic job ~22k word types (~9k in
# at least two documents, the CountVectorizer vocabulary). Both sizes keep
# a cold pass under a minute on a loaded 4-core host, which the benchmark's
# run budget needs; fixed costs, not the data, are still most of a pass.
SPECS = {
    "topic_analysis": Spec(n_docs=1_500),
    "curation_batch": Spec(n_docs=300),
}


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    words: list[str] = []
    seen = set(STOPWORDS) | {"ai"}
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cum(n: int, s: float) -> list[float]:
    cum, acc = [], 0.0
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        cum.append(acc)
    return cum


def _draw(rng: random.Random, cum: list[float]) -> int:
    return bisect.bisect_left(cum, rng.random() * cum[-1])


def _cum(ws):
    acc = 0.0
    for w in ws:
        acc += w
        yield acc


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def generate(seed: int, spec: Spec) -> tuple[list[dict], list[dict], dict]:
    """Return (documents rows, embeddings rows, truth) for ``seed``."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, spec.vocab)
    bg_cum = _zipf_cum(spec.vocab, BG_ZIPF)
    topic_words = [rng.sample(vocab, TOPIC_WORDS) for _ in range(TOPICS)]
    tw_cum = _zipf_cum(TOPIC_WORDS, TOPIC_ZIPF)
    centroids = [
        _unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(TOPICS)
    ]
    boiler = [
        [
            rng.choice(STOPWORDS) if rng.random() < 0.2 else vocab[_draw(rng, bg_cum)]
            for _ in range(BOILER_LEN)
        ]
        for _ in range(N_BOILER)
    ]
    # planted counts are exact, so corpora of different seeds do the same
    # amount of dedup work; copies and edits start after FIRST_ORIGINALS
    n_copy = round(COPY_SHARE * spec.n_docs)
    n_near = round(NEAR_SHARE * spec.n_docs)
    dup_ids = rng.sample(range(FIRST_ORIGINALS, spec.n_docs), n_copy + n_near)
    planted = {i: "copy" for i in dup_ids[:n_copy]} | {i: "near" for i in dup_ids[n_copy:]}
    orig_ids = [i for i in range(spec.n_docs) if i not in planted]
    n_boiler_docs = min(round(BOILER_SHARE * spec.n_docs), N_BOILER * BOILER_MAX_DOCS)
    boiler_of = {
        i: k % N_BOILER for k, i in enumerate(rng.sample(orig_ids, n_boiler_docs))
    }
    # doc lengths: a fixed spread over [min_len, max_len], shuffled
    lengths = [
        MIN_LEN + k * (MAX_LEN - MIN_LEN) // max(1, spec.n_docs - 1)
        for k in range(spec.n_docs)
    ]
    rng.shuffle(lengths)
    lang_names = [l for l, _ in LANGS]
    lang_cum = list(_cum(w for _, w in LANGS))

    docs, embs, kinds = [], [], []
    originals: list[int] = []  # doc_ids a copy or an edit may reproduce
    for doc_id in range(spec.n_docs):
        lang = lang_names[bisect.bisect_left(lang_cum, rng.random() * lang_cum[-1])]
        source = f"src{rng.randrange(N_SOURCES)}"
        kind = planted.get(doc_id, "orig")
        if kind == "orig":
            topic = rng.randrange(TOPICS)
            toks = []
            for _ in range(lengths[doc_id]):
                u = rng.random()
                if u < 0.15:
                    toks.append(rng.choice(STOPWORDS))
                elif u < 0.6:
                    toks.append(topic_words[topic][_draw(rng, tw_cum)])
                else:
                    toks.append(vocab[_draw(rng, bg_cum)])
            chunk = boiler_of.get(doc_id)
            if chunk is not None:
                toks = toks + boiler[chunk]
            text = " ".join(toks)
            emb = _unit([c + rng.gauss(0, EMB_NOISE) for c in centroids[topic]])
            src = None
            originals.append(doc_id)
        else:
            src = rng.choice(originals)
            base = docs[src]
            topic, chunk = kinds[src]["topic"], kinds[src]["boiler"]
            if kind == "copy":
                text = base["text"]
                emb = embs[src]["embedding"]
            else:
                toks = base["text"].split(" ")
                for _ in range(max(1, len(toks) // 60)):
                    i = rng.randrange(len(toks))
                    w = toks[i]
                    while w == toks[i]:
                        w = vocab[rng.randrange(spec.vocab)]
                    toks[i] = w
                text = " ".join(toks)
                emb = _unit([x + rng.gauss(0, 0.01) for x in embs[src]["embedding"]])
        docs.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": lang,
                "source": source,
                "n_chars": len(text),
            }
        )
        embs.append({"vec_id": doc_id, "embedding": emb, "label": topic})
        kinds.append({"kind": kind, "of": src, "topic": topic, "boiler": chunk})

    # the text.tokens rule, words of length >= 2; n_types_df2 is what
    # CountVectorizer(minDF=2) keeps
    doc_words = [[w for w in d["text"].lower().split() if len(w) >= 2] for d in docs]
    counts = Counter(w for ws in doc_words for w in ws)
    df = Counter(w for ws in doc_words for w in set(ws))
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    truth = {
        "seed": seed,
        "spec": asdict(spec),
        "n_docs": spec.n_docs,
        "exact_copies": [i for i, k in enumerate(kinds) if k["kind"] == "copy"],
        "near_dups": [i for i, k in enumerate(kinds) if k["kind"] == "near"],
        "copy_of": {str(i): k["of"] for i, k in enumerate(kinds) if k["of"] is not None},
        "boilerplate_docs": {
            str(c): [i for i, k in enumerate(kinds) if k["boiler"] == c]
            for c in range(N_BOILER)
        },
        "docs_ge3_tokens": [
            d["doc_id"] for d in docs if len(d["text"].lower().split()) >= 3
        ],
        "n_labelled": len(embs),
        "n_tokens": sum(counts.values()),
        "n_types": len(counts),
        "n_types_df2": sum(1 for n in df.values() if n >= 2),
        "word_count_top100": [[w, n] for w, n in top],
    }
    return docs, embs, truth


DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMB_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)


def write_corpus(seed: int, out_dir: str, spec: Spec) -> dict:
    """Write ``documents.parquet``, ``embeddings.parquet`` and
    ``truth.json`` under ``out_dir``; return the truth."""
    docs, embs, truth = generate(seed, spec)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(docs, schema=DOC_SCHEMA),
        os.path.join(out_dir, "documents.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(embs, schema=EMB_SCHEMA),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    with open(os.path.join(out_dir, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True, choices=tuple(SPECS))
    a = ap.parse_args()
    truth = write_corpus(a.seed, a.out, SPECS[a.workload])
    print(json.dumps({k: truth[k] for k in ("seed", "n_docs", "n_tokens", "n_types", "n_types_df2")}))


if __name__ == "__main__":
    main()
