"""The LLM-data operators over a seeded corpus, in one pass.

A traced ``tr_stream`` run ends with this pass, in the same ``local[4]``
session once the streaming queries have stopped (``run.py``): write a
seeded ``documents`` and ``embeddings`` table in the driver's schema,
then run each of the nine registered operator queries once, in its own
span and Spark job group, collecting its result. None of them has run
before in the session, so each pays its first-call cost, as a batch job
run once does. Each result is then checked against the query's
registered DuckDB oracle.

The pass is not a workload of its own: it takes 33-59 s, and a third
workload's 22 runs do not fit the benchmark's time budget next to the two
TaskRouter workloads (README.md).

The corpus copies the shape of the driver's sf0.1 tables (the same
30-word vocabulary, 10-100 words per document, the language shares, 20
sources round-robin, 5% near duplicates made by appending " dup" to an
earlier document; 64-dimension unit Gaussian embeddings with 10 uniform
labels) at a smaller size, and adds planted exact duplicates and
near-duplicate embeddings, which the driver's tables barely hold.
"""

from __future__ import annotations

import os
import random
import time

from common import Run

QUERIES = {
    "dedup": [
        "dedup_exact_documents",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_simhash",
    ],
    "similarity": ["embedding_neardup", "knn_methods"],
    "textstats": ["doc_text_profile", "doc_tfidf_topterms"],
    "multimodal": ["multimodal_item_profile"],
}
SPANS = {q: f"operators.{mod}.{q}" for mod, qs in QUERIES.items() for q in qs}

N_DOCS = 120
N_VECS = 120
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05  # as in the driver's documents
EXACT_DUP_SHARE = 0.03
DIMS = 64
N_LABELS = 10
VEC_DUP_SHARE = 0.05
VEC_DUP_NOISE = 0.02


def documents(rng: random.Random) -> dict:
    texts: list[str] = []
    for i in range(N_DOCS):
        u = rng.random()
        if texts and u < EXACT_DUP_SHARE:
            texts.append(rng.choice(texts))
        elif texts and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    langs = rng.choices(list(LANGS), list(LANGS.values()), k=N_DOCS)
    return {
        "doc_id": list(range(N_DOCS)),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": [len(t) for t in texts],
    }


def embeddings(rng: random.Random) -> dict:
    def unit(v):
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    vecs: list[list[float]] = []
    for _ in range(N_VECS):
        if vecs and rng.random() < VEC_DUP_SHARE:
            base = rng.choice(vecs)
            vecs.append(unit([x + rng.gauss(0, VEC_DUP_NOISE) for x in base]))
        else:
            vecs.append(unit([rng.gauss(0, 1) for _ in range(DIMS)]))
    return {
        "vec_id": list(range(N_VECS)),
        "embedding": vecs,
        "label": [rng.randrange(N_LABELS) for _ in range(N_VECS)],
    }


def spool(seed: int, sf_dir: str) -> None:
    """The two tables as ``<sf_dir>/<table>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(sf_dir, exist_ok=True)
    docs = documents(rng)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(docs["doc_id"], pa.int64()),
                "text": pa.array(docs["text"], pa.string()),
                "lang": pa.array(docs["lang"], pa.string()),
                "source": pa.array(docs["source"], pa.string()),
                "n_chars": pa.array(docs["n_chars"], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    emb = embeddings(rng)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(emb["vec_id"], pa.int64()),
                "embedding": pa.array(emb["embedding"], pa.list_(pa.float32())),
                "label": pa.array(emb["label"], pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )


def run(r: Run) -> None:
    import oracle
    from twilio_event_streams_reporting_example_spark import registry

    spark = r.spark
    sf_dir = str(r.work / "corpus")
    spool(r.seed, sf_dir)
    specs = registry.all_queries()
    results = {}
    t0 = time.perf_counter()
    for q, span in SPANS.items():
        with r.span(span):
            results[q] = r.attempt(lambda: specs[q].fn(spark, sf_dir).toPandas())
        registry.release_caches()
        spark.catalog.clearCache()
    r.layer_metric("operators.corpus_pass_s", time.perf_counter() - t0, "s")
    for q, span in SPANS.items():
        r.layer_metric(f"{span}.s", r.span_s(span), "s")
        if results[q] is not None:
            try:
                bad = oracle.compare(results[q], specs[q], sf_dir)
            except Exception as exc:
                bad = f"{type(exc).__name__}: {exc}"
            r.check(bad is None, f"{q}: {bad}")
