"""Seeded input generators for the engine benchmark.

Each workload's generator (``gen_ratings``, ``gen_corpus``) takes a seed
and an output directory, writes parquet files plus a ``truth.json``
ground-truth file, and returns the truth dict. The
engine only ever sees the parquet files; the truth stays with the
benchmark's correctness gates. The same seed always gives the same files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. "full" is what the benchmark measures; "tiny" is the
# self-test size.
RATINGS = {
    "full": dict(n_ratings=12_000, n_users=800, n_items=800),
    "tiny": dict(n_ratings=4_000, n_users=200, n_items=150),
}
VECTORS = {
    "full": dict(n_corpus=10_000, n_query_batches=8),
    "tiny": dict(n_corpus=3_000, n_query_batches=2),
}

USER_ZIPF = 0.8  # user activity ~ 1 / rank**USER_ZIPF
ITEM_ZIPF = 0.9  # item popularity ~ 1 / rank**ITEM_ZIPF
LATENT_RANK = 4
SIGNAL_STD = 1.1  # stars = 3.4 + signal + noise, rounded and clipped
NOISE_STD = 0.4
HOLDOUT_MOD = 10  # a pair is held out when hash(user, item) % 10 == 0
SCORE_CHUNKS = 6  # held-out pairs are scored in this many calls

DIM = 32
CLUSTERS = 64
CLUSTER_NOISE = 1.1
QUERY_BATCH = 50

DOCS = {"full": dict(unique=400), "tiny": dict(unique=60)}
VOCAB = 5_000
WORD_ZIPF = 1.0  # word frequency ~ 1 / rank**WORD_ZIPF
DOC_TOKENS = (60, 100)  # document length range, in words
EXACT_DUP_FRAC = 0.1  # unique docs with an exact copy
CHAIN_FRAC = 0.1  # unique docs heading a two-edit near-duplicate chain


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorised splitmix64 finaliser over uint64 (wraps by design)."""
    with np.errstate(over="ignore"):
        x = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _power_law(n: int, exponent: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** exponent
    return p / p.sum()


def _standardized(x: np.ndarray) -> np.ndarray:
    return (x - x.mean()) / x.std()


def _write_truth(out_dir: str, truth: dict) -> dict:
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def gen_ratings(seed: int, out_dir: str, size: str = "full") -> dict:
    """Ratings with Zipf-skewed user activity and item popularity.

    Stars come from a rank-``LATENT_RANK`` factor model plus user and item
    biases and noise, rounded and clipped to 1..5, so a factor model can
    beat the per-user/per-item averages. One rating per (user, item). The
    split is by a hash of the pair: ``train.parquet`` and ``test.parquet``
    (with a ``chunk`` column naming the scoring call each held-out pair
    belongs to)."""
    p = RATINGS[size]
    rng = np.random.default_rng(seed)
    # a fixed Zipf degree sequence, so the skew (and the co-rating
    # self-join it drives) is the same for every seed; the seed picks
    # which user has which degree and which items each user rated
    n_users, n_items = p["n_users"], p["n_items"]
    degree = np.clip(np.rint(p["n_ratings"] * _power_law(n_users, USER_ZIPF)), 1, n_items)
    degree = rng.permutation(degree.astype(np.int64))
    # Gumbel top-k: each user's items drawn without replacement with
    # probability ~ item popularity
    pop = rng.permutation(_power_law(n_items, ITEM_ZIPF))
    keys = np.log(pop) - np.log(-np.log(rng.random((n_users, n_items))))
    rank = np.argsort(np.argsort(-keys, axis=1), axis=1)
    u, i = np.nonzero(rank < degree[:, None])
    key = u.astype(np.int64) * n_items + i

    bu = rng.normal(0, 0.4, n_users)
    bi = rng.normal(0, 0.4, n_items)
    pu = rng.normal(0, 0.7, (n_users, LATENT_RANK))
    qi = rng.normal(0, 0.7, (n_items, LATENT_RANK))
    # signal and noise are scaled to fixed spreads over the rated pairs, so
    # how much a model can learn does not change from seed to seed
    signal = _standardized(bu[u] + bi[i] + np.einsum("ij,ij->i", pu[u], qi[i]))
    noise = _standardized(rng.normal(size=len(key)))
    stars = np.clip(np.rint(3.4 + SIGNAL_STD * signal + NOISE_STD * noise), 1, 5)

    h = splitmix64(key.astype(np.uint64) + np.uint64(seed))
    held = (h % np.uint64(HOLDOUT_MOD)) == 0
    chunk = ((h // np.uint64(HOLDOUT_MOD)) % np.uint64(SCORE_CHUNKS)).astype(np.int32)

    os.makedirs(out_dir, exist_ok=True)
    for name, mask in (("train", ~held), ("test", held)):
        cols = {
            "user_id": u[mask],
            "business_id": i[mask],
            "stars": stars[mask],
        }
        if name == "test":
            cols["chunk"] = chunk[mask]
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    per_user = np.bincount(u[~held])
    return _write_truth(out_dir, {
        "workload": "ratings",
        "seed": seed,
        "size": size,
        "user_zipf": USER_ZIPF,
        "item_zipf": ITEM_ZIPF,
        "latent_rank": LATENT_RANK,
        "signal_std": SIGNAL_STD,
        "noise_std": NOISE_STD,
        "n_users": n_users,
        "n_items": n_items,
        "n_train": int((~held).sum()),
        "n_test": int(held.sum()),
        "score_chunks": SCORE_CHUNKS,
        "max_user_train_ratings": int(per_user.max()),
        "corated_pairs_bound": float((per_user.astype(float) ** 2).sum() / 2),
    })


def gen_vectors(seed: int, out_dir: str, size: str = "full") -> dict:
    """Clustered embeddings: ``CLUSTERS`` Gaussian centres in ``DIM``
    dimensions with isotropic noise. ``corpus.parquet`` is indexed;
    ``queries.parquet`` holds held-out vectors from the same clusters, in
    batches of ``QUERY_BATCH`` (``batch`` column)."""
    p = VECTORS[size]
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(CLUSTERS, DIM))
    n_q = p["n_query_batches"] * QUERY_BATCH
    n = p["n_corpus"] + n_q
    x = centres[rng.integers(0, CLUSTERS, n)] + CLUSTER_NOISE * rng.normal(size=(n, DIM))
    os.makedirs(out_dir, exist_ok=True)

    def write(name, ids, mat, extra=None):
        cols = {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(mat), pa.list_(pa.float64())),
        }
        cols.update(extra or {})
        pq.write_table(pa.table(cols), os.path.join(out_dir, name))

    nc = p["n_corpus"]
    write("corpus.parquet", np.arange(nc), x[:nc])
    write(
        "queries.parquet",
        np.arange(nc, n),
        x[nc:],
        {"batch": pa.array(np.arange(n_q) // QUERY_BATCH, pa.int32())},
    )
    return {
        "n_corpus": nc,
        "n_queries": n_q,
        "query_batch": QUERY_BATCH,
        "dim": DIM,
        "clusters": CLUSTERS,
        "cluster_noise": CLUSTER_NOISE,
    }


def _edit(rng, words: np.ndarray) -> np.ndarray:
    """Replaces one word: 3-shingle Jaccard >= 0.9 at DOC_TOKENS lengths."""
    out = words.copy()
    pos = rng.integers(0, len(out))
    out[pos] = (out[pos] + 1 + rng.integers(0, VOCAB - 1)) % VOCAB
    return out


def gen_docs(seed: int, out_dir: str, size: str = "full") -> dict:
    """A document batch for curation, ``docs.parquet`` (doc_id, text, lang,
    source).

    Every document is ``DOC_TOKENS`` words drawn from a Zipf vocabulary,
    so two independently drawn documents share almost no 3-word shingles.
    Planted, with their ids (every original has a smaller id than its
    duplicates): exact copies of unique documents, and near-duplicate
    chains ``u -> a -> b`` where each step replaces one word, so MinHash
    pairs plus connected components leave ``u`` for the chain. The
    expected survivors are exactly the unique documents."""
    n = DOCS[size]["unique"]
    rng = np.random.default_rng([seed, 1])
    p_word = _power_law(VOCAB, WORD_ZIPF)
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n)
    uniq = [rng.choice(VOCAB, k, p=p_word) for k in lens]
    exact = [uniq[k] for k in rng.choice(n, int(n * EXACT_DUP_FRAC), replace=False)]
    first = [_edit(rng, uniq[k]) for k in rng.choice(n, int(n * CHAIN_FRAC), replace=False)]
    second = [_edit(rng, w) for w in first]
    truth, words = {}, []
    for kind, w in (("unique", uniq), ("exact_dup", exact), ("near_dup", first + second)):
        truth[f"{kind}_ids"] = list(range(len(words), len(words) + len(w)))
        words += w
    order = rng.permutation(len(words))  # row k holds document order[k]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": [" ".join(f"w{w}" for w in words[k]) for k in order],
        "lang": ["en"] * len(words),
        "source": [f"s{k % 4}" for k in order],
    }), os.path.join(out_dir, "docs.parquet"))
    truth.update({"n_docs": len(words), "vocab": VOCAB, "word_zipf": WORD_ZIPF,
                  "doc_tokens": DOC_TOKENS})
    return truth


def gen_corpus(seed: int, out_dir: str, size: str = "full") -> dict:
    """The corpus_serve inputs: a document batch (:func:`gen_docs`) and
    clustered vectors with held-out queries (:func:`gen_vectors`)."""
    truth = {"workload": "corpus", "seed": seed, "size": size,
             "docs": gen_docs(seed, out_dir, size)}
    truth.update(gen_vectors(seed, out_dir, size))
    return _write_truth(out_dir, truth)
