"""Seeded input generation for the benchmark workloads.

Everything a workload feeds the engine is drawn here from one
``numpy.random.Generator``: the same seed gives the same tables,
requests, batches and model. The engine only ever receives the
generated inputs, never the seed.

The shapes follow the sf0.1 synthetic tables the engine was tuned on
(100k events over 1500 users and five event types, 5000 documents over
a small vocabulary, 2000 64-dim embeddings in ten clusters), with
planted duplicates and near-duplicates so the curation operators have
real work to find.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

WORDS = (
    "a the of and to in is that it for batch part spark line column order "
    "small sort fast value scan hash slow group agg filter query big key "
    "window row table stream merge data join vector customer lake delta "
    "commit file page cache tier serve model tree score label train test "
    "split shard node edge graph rank index probe cluster code book list "
    "time event user item price count sum min max mean skew bucket"
).split()


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding draws to one
    stream never shifts another."""
    tag = sum(ord(c) * 31**i for i, c in enumerate(stream)) % (1 << 31)
    return np.random.default_rng([seed, tag])


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)
    return path


# ------------------------------------------------------------ events


def events(seed: int, n: int = 100_000, n_users: int = 1500) -> pd.DataFrame:
    """Event stream: ``event_id, ts, user_id, event_type, value, props``.
    ``ts`` is microsecond wall time over 30 days, sorted with event_id."""
    r = rng_for(seed, "events")
    ts = np.sort(r.integers(0, 30 * DAY_US, n)) + BASE_US
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="us"),
            "user_id": r.integers(0, n_users, n).astype(np.int64),
            "event_type": np.asarray(EVENT_TYPES)[r.integers(0, 5, n)],
            "value": np.round(r.gamma(1.0, 50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )


def tree_model(
    seed: int,
    features: list[str],
    values: np.ndarray,
    n_trees: int = 300,
    depth: int = 6,
) -> dict:
    """Random complete GBDT ensemble in the engine's model-dict format.

    Thresholds sit halfway between two-decimal values (``x.xx5``), so a
    float32 and a float64 scorer route every two-decimal input the same
    way and their scores can be compared at double precision."""
    r = rng_for(seed, "model")
    qs = np.quantile(values, np.linspace(0.05, 0.95, 64))

    def node(d: int) -> dict:
        if d == depth:
            return {"leaf": float(np.round(r.normal(0.0, 0.05), 6))}
        return {
            "split": features[int(r.integers(0, len(features)))],
            "threshold": float(np.round(qs[int(r.integers(0, len(qs)))], 2) + 0.005),
            "missing": "left" if r.random() < 0.5 else "right",
            "yes": node(d + 1),
            "no": node(d + 1),
        }

    return {
        "base_score": -0.2,
        "objective": "binary:logistic",
        "trees": [node(0) for _ in range(n_trees)],
    }


# ------------------------------------------------------------ curation


def documents(seed: int, n: int = 5000) -> pd.DataFrame:
    """Corpus with planted exact copies (10%) and first-word-dropped
    near copies (10%, some of them of other near copies, so duplicate
    clusters have more than two members)."""
    r = rng_for(seed, "documents")
    n_base = int(n * 0.8)
    vocab = np.asarray(WORDS)
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    texts = [
        " ".join(r.choice(vocab, int(r.integers(12, 80)), p=p))
        for _ in range(n_base)
    ]
    for _ in range(n - n_base):
        src = texts[int(r.integers(0, len(texts)))]
        if r.random() < 0.5:
            texts.append(src)
        else:
            texts.append(src.split(" ", 1)[1] if " " in src else src)
    order = r.permutation(n)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": [texts[i] for i in order],
        }
    )


def embeddings(
    seed: int, n: int = 2000, dim: int = 64, clusters: int = 10
) -> pd.DataFrame:
    """Clustered float32 vectors: ``vec_id, embedding, label``."""
    r = rng_for(seed, "embeddings")
    centers = r.normal(0.0, 3.0, (clusters, dim))
    label = r.integers(0, clusters, n)
    vecs = (centers[label] + r.normal(0.0, 1.0, (n, dim))).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": label.astype(np.int32),
        }
    )


# ------------------------------------------------------------ serving


class ServingInputs:
    """The cache and scalar tiers around an online vector table, and a
    request stream over them.

    Entity ids ``0..n_vector-1`` are the ones the vector table can hold.
    A tenth of them have a fresh cache entry and another tenth an
    expired one (whose reads fall through to the vector, or further
    when the id has no vector yet). Ids ``n_vector..n_vector+n_scalar-1``
    only have scalar history, assembled on read; about a fifth of their
    feature slots are absent and serve the default. About 5% of
    requested ids are unknown (MISS). Request sizes are 1, 100 or 1000
    ids at 70/25/5%; ids are Zipf-skewed over a seeded permutation of
    the known ids."""

    # request sizes repeat this pattern of 20 (14 x 1, 5 x 100, 1 x 1000
    # ids), so every run of a given length sees the same size mix; the
    # 1000-id request comes second, so every run has one
    PATTERN = (1, 1000, 1, 100, 1, 1, 1, 100, 1, 1, 1, 100, 1, 1, 1, 100, 1, 1, 100, 1)
    MISS_P = 0.05
    TTL_MS = 600_000

    def __init__(self, seed: int, features: list[str], n_vector: int, n_scalar: int, now_ms: int):
        r = rng_for(seed, "serving")
        self.features = list(features)
        self.n = n_vector + n_scalar
        self.now_ms = now_ms
        nf = len(self.features)
        q = max(n_vector // 10, 1)
        # the first q are fresh in the cache, the next q expired
        cache_ids = r.permutation(n_vector)[: 2 * q].astype(np.int64)
        mask = r.random((2 * q, nf)) < 0.1
        ages = r.integers(0, 2 * 86_400_000, (2 * q, nf))
        ages[mask] = -1
        self.cache = pd.DataFrame(
            {
                "entity_id": cache_ids,
                "values": list(np.where(mask, 0.0, np.round(r.normal(0.0, 10.0, (2 * q, nf)), 3))),
                "is_default_mask": list(mask),
                "value_ages_ms": list(ages),
                "cached_at_ms": np.where(
                    np.arange(2 * q) < q,
                    now_ms - r.integers(0, self.TTL_MS // 2, 2 * q),
                    now_ms - r.integers(2 * self.TTL_MS, 4 * self.TTL_MS, 2 * q),
                ).astype(np.int64),
            }
        )
        # scalar history: 1-3 versions per present (entity, feature)
        scalar_ids = np.arange(n_vector, self.n, dtype=np.int64)
        versions = np.where(
            r.random((n_scalar, nf)) < 0.2, 0, r.integers(1, 4, (n_scalar, nf))
        ).ravel()
        k = int(versions.sum())
        sc = pd.DataFrame(
            {
                "entity_id": np.repeat(np.repeat(scalar_ids, nf), versions),
                "feature_name": np.repeat(np.tile(self.features, n_scalar), versions),
                "value": np.round(r.normal(0.0, 10.0, k), 3),
                "t_ms": now_ms - r.integers(1, 3 * 86_400_000, k),
            }
        )
        # a tie on (entity, feature, time) would make "latest" ambiguous
        sc = sc.drop_duplicates(["entity_id", "feature_name", "t_ms"], ignore_index=True)
        sc["event_time"] = pd.to_datetime(sc["t_ms"], unit="ms")
        self.scalars = sc
        self.defaults = {f: float(i) for i, f in enumerate(self.features)}
        self._r = rng_for(seed, "requests")
        self._p = 1.0 / np.arange(1, self.n + 1) ** 0.8
        self._p /= self._p.sum()
        self._rank = r.permutation(self.n).astype(np.int64)
        self._next_unknown = self.n
        self._k = 0

    def next_request(self) -> list[int]:
        """Next request's ids, Zipf-skewed, about 5% unknown."""
        r = self._r
        size = min(self.PATTERN[self._k % len(self.PATTERN)], self.n)
        self._k += 1
        n_miss = int(r.binomial(size, self.MISS_P))
        known = self._rank[r.choice(self.n, size - n_miss, replace=False, p=self._p)]
        unknown = np.arange(self._next_unknown, self._next_unknown + n_miss)
        self._next_unknown += n_miss
        out = np.concatenate([known, unknown])
        return [int(x) for x in out[r.permutation(len(out))]]


# ------------------------------------------------------------ ingest

INGEST_FEATURES = ["gmv", "txn_count", "avg_value", "risk"]


class IngestStream:
    """Feature batches for the ingest loop: wide rows per entity with
    about 5% null features. Batches come in blocks of five: one large
    batch (2000 rows) then four small ones (100 rows), so any run of
    whole blocks has the same size mix whatever the seed. Entity ids
    repeat across batches, so upserts replace earlier rows. Batch ``k``
    arrives at ``arrival_ms(k)``, one hour after batch ``k - 1``."""

    SMALL, LARGE, BLOCK = 100, 2000, 5
    N_ENTITIES = 5000
    N_SCALAR = 2000  # entities outside the ingest stream, served by assembly

    def __init__(self, seed: int):
        self._r = rng_for(seed, "ingest")
        self._k = 0
        self.small, self.large = self.SMALL, self.LARGE
        self.n_entities, self.n_scalar = self.N_ENTITIES, self.N_SCALAR
        self.step = 0

    @staticmethod
    def arrival_ms(k: int) -> int:
        return BASE_US // 1000 + (k + 1) * 3_600_000

    def next_batch(self, size: int | None = None) -> pd.DataFrame:
        r = self._r
        if size is None:
            size = self.large if self._k % self.BLOCK == 0 else self.small
            self._k += 1
        ids = r.choice(self.n_entities, size, replace=False).astype(np.int64)
        cols = {"entity_id": ids}
        for f in INGEST_FEATURES:
            v = np.round(r.gamma(2.0, 20.0, size), 2)
            v[r.random(size) < 0.05] = np.nan
            cols[f] = v
        start = BASE_US + self.step * 3_600_000_000
        cols["event_time"] = pd.to_datetime(start + r.integers(0, 3_600_000_000, size), unit="us")
        self.step += 1
        return pd.DataFrame(cols)
