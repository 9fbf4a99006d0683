"""Seeded input generator for the graft benchmark.

Every table uses the schema of the repository's test data (events,
documents, embeddings), so the product reads them through its ordinary
loaders. The seed fixes every value; the table sizes are fixed per
workload so that runs with different seeds do the same amount of work and
differ only in the input properties the seed draws (game-length tail,
duplicate shares, source skew, document length).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_BASE = dt.datetime(2024, 1, 1)
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])

# soccer_season: about a quarter of the sf0.1 events table, so that one
# iteration of the three jobs fits several times into a run
SOCCER_EVENTS = 8_000
NUM_GAMES = 25  # SynActions.NumGames: game_id = event_id % 25

# corpus_curation
DOCS = 2_000
TOPICS = 40
EMBEDDINGS = 3_000
EMB_DIM = 64
EMB_CLUSTERS = 16


def _events_table(event_id, ts_us, rng):
    n = len(event_id)
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _epoch_us(d):
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def soccer_events(rng):
    """Events whose event_id spreads over the 25 games with a heavy tail.

    game_id is event_id % 25, so game g receives the ids 25*k + g for
    k < n_g, and n_g follows lognormal weights: a few long games and many
    short ones."""
    sigma = rng.uniform(0.9, 1.1)
    w = np.sort(rng.lognormal(0.0, sigma, NUM_GAMES))[::-1]
    n_g = np.maximum(40, np.floor(w / w.sum() * SOCCER_EVENTS)).astype(int)
    n_g[0] += SOCCER_EVENTS - n_g.sum()
    ids = np.concatenate([NUM_GAMES * np.arange(n) + g for g, n in enumerate(n_g)])
    base = _epoch_us(EPOCH_BASE)
    ts = base + rng.integers(0, 30 * 86_400 * 1_000_000, len(ids))
    props = {"games": NUM_GAMES, "max_game_len": int(n_g.max()),
             "median_game_len": float(np.median(n_g)), "lognormal_sigma": round(sigma, 4)}
    return _events_table(ids, ts, rng), props


def _vocab(rng, n=3_000):
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "so", "da", "gu", "be", "fi", "ho", "ja"]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl, rng.integers(2, 5))))
    return np.array(sorted(words))


def documents(rng):
    """Documents with seeded exact-duplicate and near-duplicate shares.

    Original documents draw words from one of TOPICS Zipf distributions
    over a shared vocabulary, so unrelated documents are not near
    duplicates of each other. Near duplicates copy an earlier document
    (often itself a near duplicate, which builds chains) and change one or
    two words, so the duplicate graph has paths for connected components
    to resolve."""
    vocab = _vocab(rng)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    topics = [rng.permutation(len(vocab)) for _ in range(TOPICS)]
    # narrow ranges: dedup work follows document length and duplicate
    # shares, and runs with different seeds must stay comparable
    exact_share = rng.uniform(0.095, 0.105)
    near_share = rng.uniform(0.145, 0.155)
    n_sources = int(rng.integers(6, 9))
    source_skew = rng.uniform(1.1, 1.2)
    len_median = rng.uniform(39.5, 40.5)
    sp = 1.0 / np.arange(1, n_sources + 1) ** source_skew
    sp /= sp.sum()
    texts, kinds = [], []
    for i in range(DOCS):
        u = rng.random() if i > 10 else 1.0
        if u < exact_share:
            texts.append(texts[rng.integers(0, i)])
            kinds.append("exact")
        elif u < exact_share + near_share:
            near = [j for j in range(max(0, i - 40), i) if kinds[j] == "near"]
            src = near[-1] if near and rng.random() < 0.7 else int(rng.integers(0, i))
            words = texts[src].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
            kinds.append("near")
        else:
            n = int(np.clip(rng.lognormal(np.log(len_median), 0.5), 12, 200))
            topic = topics[int(rng.integers(0, TOPICS))]
            texts.append(" ".join(vocab[topic[rng.choice(len(vocab), n, p=zipf)]]))
            kinds.append("orig")
    src = rng.choice(n_sources, DOCS, p=sp)
    table = pa.table({
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, 5, DOCS)]),
        "source": pa.array([f"src{s}" for s in src]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    counts = np.bincount(src, minlength=n_sources)
    props = {"docs": DOCS, "exact_dup_share": round(kinds.count("exact") / DOCS, 4),
             "near_dup_share": round(kinds.count("near") / DOCS, 4),
             "sources": n_sources, "source_skew_max_over_min": round(counts.max() / max(1, counts.min()), 3),
             "median_doc_words": float(np.median([t.count(" ") + 1 for t in texts]))}
    return table, props


def embeddings(rng):
    # the cluster centres do not depend on the seed, so the IVF fit's
    # k-means does about the same work for every seed
    centers = np.random.default_rng(0).normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, EMBEDDINGS)
    vec = centers[label] + rng.normal(0.0, 0.6, (EMBEDDINGS, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def generate(workload, seed, out_dir):
    """Writes the workload's tables into out_dir and returns the input
    properties the seed produced."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    if workload == "soccer_season":
        table, props = soccer_events(rng)
        pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    elif workload == "corpus_curation":
        table, props = documents(rng)
        pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
        pq.write_table(embeddings(rng), os.path.join(out_dir, "embeddings.parquet"))
    else:
        raise ValueError(f"unknown workload {workload}")
    return props
