"""ingest_churn: one client in a closed loop ingests a seeded feature
batch into every store, then reads it back through every access path.

Per step: ``materialize_vectors`` -> ``delta_upsert`` into the online
vector table -> ``iceberg_append`` of the melted records into the
offline store -> ``ManifestedTable.append`` of the same records +
``refresh_aggregate``. Ingest latency runs from the batch's arrival to
the refreshed aggregate, when the batch is readable in all stores.
Then the step scans each table's current version, makes one
time-travel read (rotating over the three formats) and sends
``get_online_features`` requests against the freshly written vector
table, a TTL cache tier and a scalar table, so every serving tier is
hit. A step's latency covers the writes and the reads. The first
``WARM_OPS`` steps run during set-up, off the clock. Maintenance
(``compact``, ``delta_optimize``, ``iceberg_expire_snapshots``) runs
after the second timed step and then every 25 steps, timed on its own,
so every run includes it once. Storage amplification is taken after the
third timed step, the same point of the table history in every run.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
from harness import quantile
from spans import dir_files
from workload import OpResult, Workload, expect

# step latency falls by a third over the first steps on the full
# tables, as the JVM compiles the driver's planning code
WARM_OPS = 4
MAINTENANCE_EVERY, MAINTENANCE_AT, AMPLIFICATION_AT = 25, WARM_OPS + 1, WARM_OPS + 2
LOOKUPS_PER_STEP = 2
STALE_MS = 24 * 3600 * 1000


class IngestChurn(Workload):
    NAME = "ingest_churn"
    WARM_OPS = WARM_OPS
    # a floor of three timed steps covers maintenance and the
    # amplification reading, and always holds one large batch (the
    # second timed step)
    MIN_OPS = 3

    def setup(self) -> None:
        from feature_store_spark.registry import FeatureView

        self.view = FeatureView("account_features", 1, "account", gen.INGEST_FEATURES)
        self.stream = gen.IngestStream(self.seed)
        self.tables = Tables(self.spark, os.path.join(self.root, "tables"), self.serving_inputs(self.stream))
        first = self.stream.next_batch(self.stream.large)
        self.write(self.tables, first, gen.IngestStream.arrival_ms(0))
        self.replay = Replay(self.view, self.tables.serving)
        self.replay.apply(first, gen.IngestStream.arrival_ms(0))
        self.amplification = None

    def serving_inputs(self, stream: gen.IngestStream) -> gen.ServingInputs:
        return gen.ServingInputs(
            self.seed,
            gen.INGEST_FEATURES,
            stream.n_entities,
            stream.n_scalar,
            gen.IngestStream.arrival_ms(0),
        )

    # ------------------------------------------------------------ verbs

    def write(self, t: Tables, pdf: pd.DataFrame, now_ms: int) -> None:
        from feature_store_spark.incremental import refresh_aggregate
        from feature_store_spark.materialize import materialize_vectors, melt_vectors_to_records
        from feature_store_spark.sources.delta import delta_upsert
        from feature_store_spark.sources.iceberg_write import iceberg_append

        tr = self.tracer
        wide = tr.build("session", self.spark.createDataFrame, pdf)
        vec = tr.build(
            "materialize", materialize_vectors, wide, self.view, event_time_col="event_time", now_ms=now_ms
        )
        vec = tr.exec("materialize", vec.localCheckpoint)
        tr.write("sources.delta", t.delta, delta_upsert, vec, t.delta, keys=["entity_id"])
        rec = tr.build("materialize", melt_vectors_to_records, vec, gen.INGEST_FEATURES)
        tr.write("sources.iceberg_write", t.ice, iceberg_append, rec, t.ice)
        tr.write("sources.manifest", t.src.path, t.src.append, rec)
        tr.write(
            "incremental", t.state.path, refresh_aggregate, t.state, t.src, ["feature_name"], "value_float"
        )

    def scans(self, t: Tables, k: int) -> tuple[list[float], dict, object]:
        """Count each table's current version, then make one time-travel
        read of the version before the latest write. Returns the read
        latencies, the counts and the current Delta scan."""
        from feature_store_spark.sources.iceberg import IcebergTable

        tr = self.tracer
        scans = {
            "delta": ("sources.delta", t.scan_delta),
            "iceberg": ("sources.iceberg", lambda: IcebergTable(self.spark, t.ice).scan()),
            "manifest": ("sources.manifest", t.src.read),
        }
        travel = [
            ("delta_prev", "sources.delta", t.delta_table),
            ("iceberg_prev", "sources.iceberg", lambda: IcebergTable(self.spark, t.ice)),
            ("manifest_prev", "sources.manifest", lambda: t.src),
        ][k % 3]
        lat, counts, frames = [], {}, {}
        for name, (layer, scan) in scans.items():
            t0 = time.perf_counter()
            frames[name] = tr.build(layer, scan)
            counts[name] = tr.exec(layer, frames[name].count)
            lat.append(time.perf_counter() - t0)
        name, layer, open_table = travel
        t0 = time.perf_counter()
        df = tr.build(layer, lambda: previous_version(open_table()))
        counts[name] = tr.exec(layer, df.count)
        lat.append(time.perf_counter() - t0)
        return lat, counts, frames["delta"]

    def lookup(self, t: Tables, vectors, ids: list[int]) -> list:
        from feature_store_spark.serving import get_online_features
        from feature_store_spark.session import local_rows_df

        tr, inp = self.tracer, t.serving
        req = tr.build(
            "session",
            local_rows_df,
            self.spark,
            [(e, k) for k, e in enumerate(ids)],
            "entity_id bigint, request_order int",
        )
        out = tr.build(
            "serving",
            get_online_features,
            req,
            vectors,
            t.scalars,
            inp.features,
            defaults=inp.defaults,
            now_ms=inp.now_ms,
            cache=t.cache,
            cache_ttl_ms=inp.TTL_MS,
        )
        rows = tr.exec("serving", out.collect)
        tr.count_tiers(r["source"] for r in rows)
        return rows

    def maintain(self, t: Tables) -> None:
        from feature_store_spark.sources.delta import delta_optimize
        from feature_store_spark.sources.iceberg_write import iceberg_expire_snapshots

        tr = self.tracer
        tr.write("sources.manifest", t.src.path, t.src.compact)
        tr.write("sources.delta", t.delta, delta_optimize, self.spark, t.delta)
        tr.exec("sources.iceberg_write", iceberg_expire_snapshots, t.ice, keep_last=2)

    # ------------------------------------------------------------ loop

    def op(self, i: int) -> OpResult:
        pdf = self.stream.next_batch()
        now_ms = gen.IngestStream.arrival_ms(self.stream.step - 1)
        t0 = time.perf_counter()
        self.write(self.tables, pdf, now_ms)
        t1 = time.perf_counter()
        sub, counts, vectors = self.scans(self.tables, i)
        lookups = []
        for _ in range(LOOKUPS_PER_STEP):
            ids = self.tables.serving.next_request()
            t = time.perf_counter()
            lookups.append((ids, self.lookup(self.tables, vectors, ids)))
            sub.append(time.perf_counter() - t)
        t2 = time.perf_counter()
        if i % MAINTENANCE_EVERY == MAINTENANCE_AT:
            self.maintain(self.tables)
            sub.append(time.perf_counter() - t2)
            self.samples.setdefault("maintenance_ms", []).append(sub[-1] * 1000.0)
        self.samples.setdefault("ingest_ms", []).append((t1 - t0) * 1000.0)
        self.samples.setdefault("scan_ms", []).extend(x * 1000.0 for x in sub[:4])
        self.samples.setdefault("lookup_ms", []).extend(x * 1000.0 for x in sub[4 : 4 + LOOKUPS_PER_STEP])
        return OpResult(lat_s=t2 - t0, payload=(pdf, now_ms, counts, lookups), sub_ops=sub)

    def named_metrics(self) -> dict:
        s = self.samples
        out = {
            "ingest_p50_ms": (quantile(s["ingest_ms"], 0.5), "ms"),
            "ingest_p90_ms": (quantile(s["ingest_ms"], 0.9), "ms"),
            "scan_p50_ms": (quantile(s["scan_ms"], 0.5), "ms"),
            "lookup_p50_ms": (quantile(s["lookup_ms"], 0.5), "ms"),
            "lookup_p90_ms": (quantile(s["lookup_ms"], 0.9), "ms"),
            "lookups": (len(s["lookup_ms"]), "count"),
            "ingest_steps": (len(s["ingest_ms"]), "count"),
        }
        if self.amplification is not None:
            out["storage_amplification"] = (self.amplification, "ratio")
        if "maintenance_ms" in s:
            out["maintenance_p50_ms"] = (quantile(s["maintenance_ms"], 0.5), "ms")
        return out

    # ------------------------------------------------------------ checks

    def check(self, i: int, res: OpResult) -> int:
        pdf, now_ms, counts, lookups = res.payload
        before = self.replay.counts()
        self.replay.apply(pdf, now_ms)
        after = self.replay.counts()
        failed = 0
        for name, got in counts.items():
            want = before[name[: -len("_prev")]] if name.endswith("_prev") else after[name]
            failed += not expect(f"step {i} {name} rows {got} != {want}", got == want)
        for ids, rows in lookups:
            failed += not self.replay.check_lookup(ids, rows)
        if i == AMPLIFICATION_AT:
            self.amplification = self.storage_amplification()
        return failed

    def storage_amplification(self) -> float:
        """Bytes under the table directories per byte of the same live
        rows written once as plain Parquet (one file per table)."""
        from feature_store_spark.incremental import aggregate_view
        from feature_store_spark.sources.iceberg import IcebergTable

        t = self.tables
        plain_dir = os.path.join(self.root, "plain")
        live = {
            "delta": t.scan_delta(),
            "iceberg": IcebergTable(self.spark, t.ice).scan(),
            "manifest": t.src.read(),
            "state": aggregate_view(t.state, ["feature_name"]),
        }
        for name, df in live.items():
            df.coalesce(1).write.mode("overwrite").parquet(os.path.join(plain_dir, name))
        stored = sum(sum(dir_files(p).values()) for p in (t.delta, t.ice, t.src.path, t.state.path))
        plain = sum(n for p, n in dir_files(plain_dir).items() if p.endswith(".parquet"))
        return stored / plain

    def final_check(self) -> bool:
        """Final table contents and the refreshed aggregate against the
        pandas replay of every batch the run ingested."""
        from feature_store_spark.incremental import aggregate_view
        from feature_store_spark.sources.iceberg import IcebergTable

        t, want = self.tables, self.replay
        ok = True
        vec = t.scan_delta().toPandas().sort_values("entity_id", ignore_index=True)
        exp = want.vectors_frame()
        ok &= expect("delta rows", len(vec) == len(exp))
        if len(vec) == len(exp):
            ok &= expect("delta ids", (vec["entity_id"].to_numpy() == exp["entity_id"].to_numpy()).all())
            for c in ("values", "is_default_mask", "value_ages_ms"):
                ok &= expect(f"delta {c}", all(np.array_equal(a, b) for a, b in zip(vec[c], exp[c])))
            ok &= expect("delta served_at_ms", (vec["served_at_ms"].to_numpy() == exp["served_at_ms"].to_numpy()).all())
        rec_want = want.records_frame()
        for name, df in (("iceberg", IcebergTable(self.spark, t.ice).scan()), ("manifest", t.src.read())):
            got = (
                df.select("entity_id", "feature_name", F.unix_millis("event_time").alias("t"), "value_float")
                .toPandas()
                .sort_values(["entity_id", "feature_name", "t"], ignore_index=True)
            )
            ok &= expect(f"{name} rows", len(got) == len(rec_want))
            if len(got) == len(rec_want):
                ok &= expect(f"{name} contents", got.equals(rec_want.astype(got.dtypes.to_dict())))
        agg = aggregate_view(t.state, ["feature_name"]).toPandas().set_index("feature_name").sort_index()
        exp = want.aggregate_frame()
        ok &= expect("aggregate keys", list(agg.index) == list(exp.index))
        if list(agg.index) == list(exp.index):
            for c in ("n_rows", "n_vals", "min_val", "max_val"):
                ok &= expect(f"aggregate {c}", (agg[c].to_numpy() == exp[c].to_numpy()).all())
            ok &= expect("aggregate sum_val", np.allclose(agg["sum_val"], exp["sum_val"], rtol=1e-12, atol=1e-9))
        return bool(ok)


class Tables:
    """The four stores one ingest loop writes under ``root``, and the
    cache and scalar tiers its lookups read."""

    def __init__(self, spark, root: str, serving: gen.ServingInputs):
        import feature_store_spark as fss
        from feature_store_spark.sources.manifest import ManifestedTable

        self.spark = spark
        self.delta = os.path.join(root, "online_vectors")
        self.ice = os.path.join(root, "offline_records")
        self.src = ManifestedTable(spark, os.path.join(root, "records"))
        self.state = ManifestedTable(spark, os.path.join(root, "records_agg"))
        self.serving = serving
        gen.write_parquet(serving.cache, os.path.join(root, "serving", "cache.parquet"))
        gen.write_parquet(
            serving.scalars.drop(columns=["t_ms"]), os.path.join(root, "serving", "scalars.parquet")
        )
        self.cache = spark.read.parquet(os.path.join(root, "serving", "cache.parquet"))
        self.scalars = fss.load_table(spark, os.path.join(root, "serving"), "scalars")

    def delta_table(self):
        from feature_store_spark.sources.delta import DeltaTable

        return DeltaTable(self.spark, self.delta)

    def scan_delta(self):
        return self.delta_table().scan()


def previous_version(table):
    """The version before the table's latest write, as a DataFrame."""
    from feature_store_spark.sources.delta import DeltaTable
    from feature_store_spark.sources.iceberg import IcebergTable

    if isinstance(table, DeltaTable):
        return table.scan(version=table.latest_version() - 1)
    if isinstance(table, IcebergTable):
        return table.scan(snapshot_id=table.snapshots()[-2][0])
    return table.read(version=table.current_version() - 1)


class Replay:
    """pandas model of every store after the batches applied so far, and
    of what a lookup must return from it."""

    def __init__(self, view, serving: gen.ServingInputs):
        self.names = list(view.feature_names)
        self.vectors: dict[int, tuple] = {}
        self.records: list[pd.DataFrame] = []
        self.serving = serving
        now = serving.now_ms
        self.cached: dict[int, tuple] = {}
        for r in serving.cache.itertuples(index=False):
            elapsed = now - int(r.cached_at_ms)
            if elapsed < serving.TTL_MS:
                ages = [int(a) if a < 0 else int(a) + elapsed for a in r.value_ages_ms]
                self.cached[int(r.entity_id)] = (list(r.values), list(r.is_default_mask), ages)
        sc = serving.scalars.sort_values("t_ms").drop_duplicates(["entity_id", "feature_name"], keep="last")
        latest: dict[int, dict] = {}
        for e, f, v, t in sc[["entity_id", "feature_name", "value", "t_ms"]].itertuples(index=False):
            latest.setdefault(int(e), {})[f] = (float(v), int(t))
        self.assembled = {
            e: (
                [slots[f][0] if f in slots else serving.defaults[f] for f in serving.features],
                [f not in slots for f in serving.features],
                [now - slots[f][1] if f in slots else -1 for f in serving.features],
            )
            for e, slots in latest.items()
        }

    def expected(self, e: int) -> tuple:
        """(source, values, mask, ages, backfill) by the serving contract:
        a fresh cache entry wins, then the vector, then assembly of the
        latest scalar per feature, else MISS."""
        if e in self.cached:
            return ("REDIS_CACHE", *self.cached[e], False)
        if e in self.vectors:
            v, m, a, _ = self.vectors[e]
            return ("ROCKSDB_VECTOR", list(v), list(m), [int(x) for x in a], True)
        if e in self.assembled:
            return ("SCALAR_ASSEMBLY", *self.assembled[e], True)
        return ("MISS", None, None, None, False)

    def check_lookup(self, ids: list[int], rows: list) -> bool:
        by_order = {r["request_order"]: r for r in rows}
        if not expect(f"lookup of {len(ids)} ids returned {len(rows)} rows", len(rows) == len(ids)):
            return False
        for k, e in enumerate(ids):
            r = by_order.get(k)
            if r is None or r["entity_id"] != e:
                return expect(f"lookup id {e} missing", False)
            src, vals, mask, ages, backfill = self.expected(e)
            good = (
                r["source"] == src
                and r["values"] == vals
                and r["is_default_mask"] == mask
                and r["value_ages_ms"] == ages
                and r["stale_warning"] == (ages is not None and max(ages) > STALE_MS)
                and r["cache_backfill"] == backfill
            )
            if not good:
                return expect(f"lookup id {e}: got {r['source']}, want {src}", False)
        return True

    def apply(self, pdf: pd.DataFrame, now_ms: int) -> None:
        vals = pdf[self.names].to_numpy(dtype=float)
        mask = np.isnan(vals)
        t_ms = pdf["event_time"].to_numpy().astype("datetime64[ms]").astype(np.int64)
        ages = np.where(mask, -1, (now_ms - t_ms)[:, None])
        vals = np.where(mask, 0.0, vals)
        for e, v, m, a in zip(pdf["entity_id"].to_numpy(), vals, mask, ages):
            self.vectors[int(e)] = (v, m, a, now_ms)
        self.records.append(
            pd.DataFrame(
                {
                    "entity_id": np.repeat(pdf["entity_id"].to_numpy(), len(self.names)),
                    "feature_name": np.tile(self.names, len(pdf)),
                    "t": now_ms,
                    "value_float": vals.ravel(),
                }
            )
        )

    def counts(self) -> dict[str, int]:
        n = sum(len(r) for r in self.records)
        return {"delta": len(self.vectors), "iceberg": n, "manifest": n}

    def vectors_frame(self) -> pd.DataFrame:
        ids = sorted(self.vectors)
        return pd.DataFrame(
            {
                "entity_id": ids,
                "values": [self.vectors[e][0] for e in ids],
                "is_default_mask": [self.vectors[e][1] for e in ids],
                "value_ages_ms": [self.vectors[e][2] for e in ids],
                "served_at_ms": [self.vectors[e][3] for e in ids],
            }
        )

    def records_frame(self) -> pd.DataFrame:
        return (
            pd.concat(self.records, ignore_index=True)
            .sort_values(["entity_id", "feature_name", "t"], ignore_index=True)
        )

    def aggregate_frame(self) -> pd.DataFrame:
        r = pd.concat(self.records, ignore_index=True)
        g = r.groupby("feature_name")["value_float"]
        return pd.DataFrame(
            {
                "n_rows": g.size(),
                "n_vals": g.count(),
                "sum_val": g.sum(),
                "min_val": g.min(),
                "max_val": g.max(),
            }
        ).sort_index()


WORKLOAD = IngestChurn
