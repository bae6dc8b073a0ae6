"""offline_batch: back-to-back passes of two batch pipelines over an
sf0.1-sized input.

- Training: point-in-time training set with every event as a label ->
  300-tree depth-6 model -> AUC, log loss and score statistics.
- Curation: exact dedup -> MinHash pairs -> connected components ->
  IVFPQ train, encode and search.

Large plans are built once per pass and run as shuffle-, window- and
UDF-heavy jobs, with no commits and no per-request plan building.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
from workload import OpResult, Workload, expect

EVENTS_FULL, DOCS_FULL, VECS_FULL = 100_000, 5000, 2000
N_QUERIES, TOP_K = 20, 10
RECALL_GATE = 0.6
SUBSET = 8


def write_parts(pdf: pd.DataFrame, path: str, parts: int) -> str:
    """Write ``pdf`` as ``parts`` Parquet files, so a scan has as many
    splits as a real table would rather than one row group."""
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
        pdf.iloc[chunk].to_parquet(os.path.join(path, f"part-{i:05d}.parquet"), index=False)
    return path


class OfflineBatch(Workload):
    NAME = "offline_batch"
    # the first pass runs twice as long as later ones
    WARM_OPS = 1
    # the second timed pass is still 10-20% faster than the first, so
    # every run times two; a window that held one on a slow host and two
    # on a fast one would widen the spread between hosts
    MIN_OPS = 2

    def setup(self) -> None:
        self.inputs = self.make_inputs(EVENTS_FULL, DOCS_FULL, VECS_FULL, "full")
        self._oracle = None

    def make_inputs(self, n_events: int, n_docs: int, n_vecs: int, tag: str) -> dict:
        import feature_store_spark as fss

        d = os.path.join(self.root, tag)
        parts = self.spark.sparkContext.defaultParallelism
        ev = gen.events(self.seed, n_events, n_users=max(n_events // 67, 10))
        docs = gen.documents(self.seed, n_docs)
        emb = gen.embeddings(self.seed, n_vecs)
        write_parts(ev, os.path.join(d, "events.parquet"), parts)
        write_parts(docs, os.path.join(d, "documents.parquet"), parts)
        write_parts(emb, os.path.join(d, "embeddings.parquet"), parts)
        events = fss.load_table(self.spark, d, "events")
        return {
            "dir": d,
            "events": events,
            "docs": fss.load_table(self.spark, d, "documents").select("doc_id", "text"),
            "emb": fss.load_table(self.spark, d, "embeddings"),
            "model": gen.tree_model(self.seed, gen.EVENT_TYPES, ev["value"].to_numpy()),
            "n_events": n_events,
            "n_items": n_docs + n_vecs,
        }

    # ------------------------------------------------------------ pipelines

    def training(self, inp: dict) -> dict:
        from feature_store_spark.metrics import auc_roc, logloss
        from feature_store_spark.operators.asof import asof_training_set_columnar
        from feature_store_spark.scoring import best_tree_udf
        from feature_store_spark.stats import feature_stats

        tr, E = self.tracer, gen.EVENT_TYPES
        ev = inp["events"]
        labels = ev.select(
            F.col("user_id").alias("entity_id"),
            F.col("ts").alias("event_time"),
            (F.col("value") > 100).cast("int").alias("label"),
            F.col("event_id").alias("label_event_id"),
        )
        records = ev.select(
            F.col("user_id").alias("entity_id"),
            F.col("event_type").alias("feature_name"),
            F.col("value").alias("value_float"),
            F.col("ts").alias("event_time"),
            F.col("event_id").alias("rec_event_id"),
        )
        wide = tr.build(
            "operators.asof",
            asof_training_set_columnar,
            labels,
            records,
            E,
            tiebreak_cols=["rec_event_id"],
            lookback_days=None,
        )
        wide = tr.exec("operators.asof", wide.localCheckpoint)
        scored = tr.build(
            "scoring",
            lambda: wide.withColumn("prob", best_tree_udf(inp["model"], E)(*[F.col(c) for c in E])),
        )
        scored = tr.exec("scoring", scored.localCheckpoint)
        auc = tr.build("metrics", auc_roc, scored, "prob", "label")
        ll = tr.build("metrics", logloss, scored, "prob", "label")
        auc = tr.exec("metrics", auc.collect)[0]["auc_roc"]
        ll = tr.exec("metrics", ll.collect)[0]["logloss"]
        st = tr.build("stats", feature_stats, scored, "prob", ["label"])
        st = tr.exec("stats", st.collect)
        return {"scored": scored, "auc": auc, "logloss": ll, "stats": st}

    def curation(self, inp: dict) -> dict:
        from feature_store_spark.operators.dedup import exact_dedup, minhash_dedup_pairs
        from feature_store_spark.operators.graph import connected_components
        from feature_store_spark.operators.similarity import (
            ivfpq_search,
            kmeans_fit,
            pq_encode,
            pq_train,
        )

        tr = self.tracer
        kept = tr.build("operators.dedup", exact_dedup, inp["docs"])
        kept = tr.exec("operators.dedup", kept.localCheckpoint)
        pairs = tr.build(
            "operators.dedup",
            minhash_dedup_pairs,
            kept.select("doc_id", "text"),
            shingle_n=3,
            num_hashes=16,
            bands=4,
            threshold=0.5,
        )
        pairs = tr.exec("operators.dedup", pairs.localCheckpoint)
        # connected_components iterates eagerly (a convergence probe per
        # round), so the whole call is execution
        comp = tr.exec("operators.graph", connected_components, pairs, "id_a", "id_b")
        comp = tr.exec("operators.graph", comp.collect)

        emb = inp["emb"]
        queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        cb = tr.exec("operators.similarity", pq_train, emb, m=8, ksub=16)
        cents, assigned = tr.exec(
            "operators.similarity", kmeans_fit, emb, k=10, iters=2, checkpoint=True
        )
        cents = tr.exec("operators.similarity", cents.localCheckpoint)
        assigned = tr.exec("operators.similarity", assigned.localCheckpoint)
        cwc = tr.build(
            "operators.similarity",
            lambda: pq_encode(emb, cb).join(assigned.select("vec_id", "cluster"), "vec_id"),
        )
        hits = tr.build(
            "operators.similarity",
            ivfpq_search,
            queries,
            cwc,
            cents,
            cb,
            emb,
            k=TOP_K,
            n_probe=3,
            shortlist=100,
            centroid_key="cluster",
            centroid_vec="centroid",
        )
        hits = tr.exec("operators.similarity", hits.collect)
        return {"kept": kept, "pairs": pairs, "comp": comp, "hits": hits}

    # ------------------------------------------------------------ loop

    def op(self, i: int) -> OpResult:
        inp = self.inputs
        t0 = time.perf_counter()
        train = self.training(inp)
        t1 = time.perf_counter()
        cur = self.curation(inp)
        t2 = time.perf_counter()
        self.samples.setdefault("train_s", []).append(t1 - t0)
        self.samples.setdefault("curation_s", []).append(t2 - t1)
        return OpResult(
            lat_s=t2 - t0,
            payload=(train, cur),
        )

    def named_metrics(self) -> dict:
        inp = self.inputs
        return {
            "train_rows_per_s": (inp["n_events"] / np.median(self.samples["train_s"]), "1/s"),
            "curation_items_per_s": (inp["n_items"] / np.median(self.samples["curation_s"]), "1/s"),
        }

    # ------------------------------------------------------------ checks

    def oracle(self) -> dict:
        """DuckDB over the same Parquet, with the engine's own oracle
        SQL (the catalog's ASOF and MinHash-pair queries) pointed at this
        input; the package's numpy tree scorer for the model scores."""
        if self._oracle is not None:
            return self._oracle
        import duckdb

        from feature_store_spark import queries as q
        from feature_store_spark.scoring import vectorized_tree_udf

        d, E = self.inputs["dir"], gen.EVENT_TYPES
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')")
        # every event is a label; an entity's rows depend on its own
        # history only, so the oracle covers a fixed subset of entities
        asof_sql = retarget(
            q.ASOF_SQL,
            "FROM events WHERE event_type = 'purchase'",
            f"FROM events WHERE user_id % {SUBSET} = 0",
        )
        asof = con.execute(asof_sql).df().sort_values("label_event_id", ignore_index=True)
        ref = vectorized_tree_udf(self.inputs["model"], E, dtype="float64").func
        prob = ref(*[asof[c].astype("float64") for c in E]).to_numpy()
        con.execute(
            "CREATE TABLE keep AS SELECT min(doc_id) AS doc_id, count(*) AS n_copies "
            "FROM documents GROUP BY md5(lower(trim(text)))"
        )
        con.execute(
            "CREATE TABLE kept AS SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)"
        )
        keep = con.execute("SELECT doc_id, n_copies FROM keep ORDER BY doc_id").df()
        # whether two documents pair depends on those two alone, so the
        # oracle runs on a fixed subset and the check compares the pairs
        # inside it
        corpus = f"SELECT doc_id, text FROM kept WHERE doc_id % {SUBSET} = 0"
        pairs = con.execute(retarget(q.MINHASH_PAIRS_SQL, q._CORPUS_NEAR_SQL, corpus)).df()
        con.close()
        emb = np.stack(
            pd.read_parquet(os.path.join(d, "embeddings.parquet"))
            .sort_values("vec_id")["embedding"]
            .to_numpy()
        ).astype(np.float64)
        dist = ((emb[:N_QUERIES, None, :] - emb[None, :, :]) ** 2).sum(-1)
        exact = {qi: set(np.lexsort((np.arange(len(emb)), dist[qi]))[:TOP_K]) for qi in range(N_QUERIES)}
        self._oracle = {
            "asof": asof,
            "prob": prob,
            "keep": keep,
            "pairs": pairs,
            "exact": exact,
        }
        return self._oracle

    def check(self, i: int, res: OpResult) -> int:
        o = self.oracle()
        train, cur = res.payload
        E = gen.EVENT_TYPES
        ok = True
        scored = train["scored"]
        got = (
            scored.filter(F.col("entity_id") % SUBSET == 0)
            .select(
                F.col("entity_id").alias("user_id"),
                "label_event_id",
                F.unix_micros("event_time").alias("label_ts_us"),
                "label",
                *[F.round(F.col(c), 6).alias(c) for c in E],
                "prob",
            )
            .toPandas()
            .sort_values("label_event_id", ignore_index=True)
        )
        want = o["asof"]
        ok &= expect("asof rows", len(got) == len(want))
        if len(got) == len(want):
            for c in ("user_id", "label_event_id", "label_ts_us", "label"):
                ok &= expect(f"asof {c}", (got[c].to_numpy() == want[c].to_numpy()).all())
            for c in E:
                a, b = got[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float)
                ok &= expect(f"asof {c}", np.allclose(a, b, rtol=0, atol=1e-9, equal_nan=True))
            ok &= expect("scores", np.allclose(got["prob"].to_numpy(), o["prob"], rtol=0, atol=1e-9))
        # the metrics are checked on the engine's own scores: the two
        # scorers sum leaves in different orders, which can split or merge
        # exact score ties and move a tie-aware AUC in the 9th digit
        py = scored.select("prob", "label").toPandas()
        p, y = py["prob"].to_numpy(), py["label"].to_numpy()
        ok &= expect("label rows", len(p) == self.inputs["n_events"])
        ok &= expect("auc", abs(train["auc"] - auc_np(p, y)) < 1e-9)
        ok &= expect("logloss", abs(train["logloss"] - logloss_np(p, y)) < 1e-9)
        by_label = {r["label"]: r for r in train["stats"]}
        for lab in (0, 1):
            r, pl = by_label.get(lab), p[y == lab]
            ok &= expect(
                f"stats label={lab}",
                r is not None
                and r["count"] == len(pl)
                and abs(r["mean"] - pl.mean()) < 1e-9
                and r["min_value"] == pl.min()
                and r["max_value"] == pl.max(),
            )
        kept = cur["kept"].select("doc_id", "n_copies").toPandas().sort_values("doc_id", ignore_index=True)
        ok &= expect("exact dedup", kept.equals(o["keep"].astype(kept.dtypes.to_dict())))
        pairs = cur["pairs"].select("id_a", "id_b", F.round("est_jaccard", 6).alias("j")).collect()
        got_pairs = {(r[0], r[1], round(r[2], 6)) for r in pairs}
        want_pairs = {(int(a), int(b), round(float(j), 6)) for a, b, j in o["pairs"].itertuples(index=False)}
        subset = {t for t in got_pairs if t[0] % SUBSET == 0 and t[1] % SUBSET == 0}
        ok &= expect("minhash pairs", subset == want_pairs)
        ok &= expect("components", {(r["node"], r["component"]) for r in cur["comp"]} == components(got_pairs))
        found = {}
        for r in cur["hits"]:
            found.setdefault(r["query_id"], set()).add(r["vec_id"])
        recall = np.mean([len(found.get(q, set()) & o["exact"][q]) / TOP_K for q in o["exact"]])
        ok &= expect(f"ivfpq recall@{TOP_K} {recall:.3f}", recall >= RECALL_GATE)
        return 0 if ok else 1


def retarget(sql: str, old: str, new: str) -> str:
    """Point a catalog oracle query at this benchmark's input."""
    if old not in sql:
        raise ValueError(f"oracle SQL no longer contains {old!r}")
    return sql.replace(old, new)


def components(pairs) -> set[tuple[int, int]]:
    """(node, min node of its component) over an undirected pair list."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


def auc_np(p: np.ndarray, y: np.ndarray) -> float:
    ranks = pd.Series(p).rank(method="average").to_numpy()
    pos = y == 1
    n_pos, n_neg = pos.sum(), (~pos).sum()
    return float((ranks[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


def logloss_np(p: np.ndarray, y: np.ndarray, eps: float = 1e-15) -> float:
    p = np.clip(p, eps, 1 - eps)
    return float(-np.mean(y * np.log(p) + (1 - y) * np.log(1 - p)))


WORKLOAD = OfflineBatch
