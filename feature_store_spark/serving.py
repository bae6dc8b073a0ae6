"""Online serving semantics as DataFrame queries (SURVEY.md §2.2).

The reference serves vectors through Redis -> RocksDB-vector ->
scalar-assembly fallback (OnlineServingService.java:41-152). The
latency tiers are infrastructure, not semantics; what must be
preserved is the *routing logic* and the vector contract (values +
is_default_mask + value_ages_ms + source + staleness warnings). Here:

- ``online_vectors`` / ``online_scalars`` are tables (FIXTURES.md §7),
- a batch get is ONE query: requested ids left-joined to the cache,
  the vectors and the assembled scalars, ``coalesce`` picking the
  source — the Spark shape of the fallback chain. Physically, each tier
  is one broadcast of the tier's rows (the build side of a left join
  from the preserved ids, while the tier fits under the broadcast
  threshold), and scalar assembly adds one shuffle: a single
  ``groupBy(entity)`` fills every slot (``assemble_vectors``),
- the ``source`` column reproduces ROCKSDB_VECTOR / SCALAR_ASSEMBLY /
  MISS routing (OnlineServingService.java:50,69,90,98); REDIS_CACHE is
  a cache tier with identical semantics to the vector hit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_store_spark.operators.reshape import assemble_vectors

STALENESS_WARN_MS = 24 * 3600 * 1000  # RocksDBFeatureStore.java:154-160


def get_online_features(
    request_ids: DataFrame,
    vectors: DataFrame | None,
    scalars: DataFrame | None,
    feature_names: Sequence[str],
    defaults: dict[str, float] | None = None,
    entity_col: str = "entity_id",
    now_ms: int | None = None,
    cache: DataFrame | None = None,
    cache_ttl_ms: int | None = None,
) -> DataFrame:
    """Batch GetOnlineFeatures with the full fallback chain.

    request_ids: a DataFrame with ``entity_col``. Every column it has
    (for example a ``request_order`` column) is carried through to the
    output unchanged; the output rows are in no particular order, so a
    caller that needs input order sorts on such a column.
    Returns one row per requested id with values / mask / ages /
    source / stale_warning.

    ``vectors`` must hold ONE row per entity — the contract the
    materializer's last-writer-wins MERGE maintains (a KV store can't
    hold two values per key). Duplicate vector rows would fan out the
    left join to duplicate responses; the scalar side is immune
    (assembly keeps one latest row per entity and feature).

    ``cache`` + ``cache_ttl_ms`` add the REDIS_CACHE tier WITH its
    TTL semantics (RedisFeatureCache.java:45-120; the TTL knob is
    application.yml:53-55): a cache row (same vector envelope plus
    ``cached_at_ms``, one row per entity like ``vectors``) serves
    iff ``now_ms - cached_at_ms < cache_ttl_ms``; an expired entry
    behaves exactly like an absent one and the read falls through to
    the deeper tiers. Served cache ages are aged forward by the
    elapsed time since caching, so the staleness warning is computed
    on the entry's TRUE age, not its age at cache time. The extra
    ``cache_backfill`` output column marks responses that came from a
    deeper tier while holding no valid cache entry — the read-through
    write-back set (the reference backfills Redis on every cache
    miss); a caller implements the backfill as one write of exactly
    those rows. ``now_ms`` is required with a cache: TTL needs a
    clock, and serving must not read the wall clock mid-plan
    (non-deterministic across retries).
    """
    feature_names = list(feature_names)
    out = request_ids

    if cache is not None:
        if cache_ttl_ms is None or now_ms is None:
            raise ValueError(
                "cache tier needs BOTH cache_ttl_ms and now_ms — TTL "
                "expiry is relative to an explicit serving clock"
            )
        c = cache.select(
            F.col(entity_col),
            F.col("values").alias("__c_values"),
            F.col("is_default_mask").alias("__c_mask"),
            F.col("value_ages_ms").alias("__c_ages"),
            F.col("cached_at_ms").alias("__c_at"),
        )
        out = out.join(c, entity_col, "left")
        elapsed = F.lit(now_ms) - F.col("__c_at")
        fresh = F.col("__c_at").isNotNull() & (elapsed < F.lit(cache_ttl_ms))
        out = (
            out.withColumn(
                "__cache_values", F.when(fresh, F.col("__c_values"))
            )
            .withColumn("__cache_mask", F.when(fresh, F.col("__c_mask")))
            .withColumn(
                "__cache_ages",
                F.when(
                    fresh,
                    # forward only REAL ages (review r10): -1 is the
                    # default-slot sentinel assemble_vectors writes and
                    # staleness_gate keys on — adding elapsed minted a
                    # bogus non-negative age, making default slots
                    # indistinguishable from real values (and able to
                    # trip stale_warning on their own past the TTL)
                    F.transform(
                        F.col("__c_ages"),
                        lambda a: F.when(a < 0, a).otherwise(a + elapsed),
                    ),
                ),
            )
            .drop("__c_values", "__c_mask", "__c_ages", "__c_at")
        )
    else:
        out = (
            out.withColumn(
                "__cache_values", F.lit(None).cast("array<double>")
            )
            .withColumn("__cache_mask", F.lit(None).cast("array<boolean>"))
            .withColumn("__cache_ages", F.lit(None).cast("array<bigint>"))
        )

    if vectors is not None:
        v = vectors.select(
            F.col(entity_col),
            F.col("values").alias("__vec_values"),
            F.col("is_default_mask").alias("__vec_mask"),
            F.col("value_ages_ms").alias("__vec_ages"),
        )
        out = out.join(v, entity_col, "left")
    else:
        out = (
            out.withColumn("__vec_values", F.lit(None).cast("array<double>"))
            .withColumn("__vec_mask", F.lit(None).cast("array<boolean>"))
            .withColumn("__vec_ages", F.lit(None).cast("array<bigint>"))
        )

    if scalars is not None:
        assembled = assemble_vectors(
            scalars,
            feature_names,
            defaults=defaults,
            entity_col=entity_col,
            now_ms=now_ms,
        ).select(
            F.col(entity_col),
            F.col("values").alias("__asm_values"),
            F.col("is_default_mask").alias("__asm_mask"),
            F.col("value_ages_ms").alias("__asm_ages"),
        )
        out = out.join(assembled, entity_col, "left")
    else:
        out = (
            out.withColumn("__asm_values", F.lit(None).cast("array<double>"))
            .withColumn("__asm_mask", F.lit(None).cast("array<boolean>"))
            .withColumn("__asm_ages", F.lit(None).cast("array<bigint>"))
        )

    source = (
        F.when(F.col("__cache_values").isNotNull(), F.lit("REDIS_CACHE"))
        .when(F.col("__vec_values").isNotNull(), F.lit("ROCKSDB_VECTOR"))
        .when(F.col("__asm_values").isNotNull(), F.lit("SCALAR_ASSEMBLY"))
        .otherwise(F.lit("MISS"))
    )
    values = F.coalesce(
        F.col("__cache_values"), F.col("__vec_values"), F.col("__asm_values")
    )
    mask = F.coalesce(
        F.col("__cache_mask"), F.col("__vec_mask"), F.col("__asm_mask")
    )
    ages = F.coalesce(
        F.col("__cache_ages"), F.col("__vec_ages"), F.col("__asm_ages")
    )
    max_age = F.array_max(ages)
    stale = F.when(
        max_age.isNotNull() & (max_age > F.lit(STALENESS_WARN_MS)), F.lit(True)
    ).otherwise(F.lit(False))

    extra = []
    if cache is not None:
        backfill = F.col("__cache_values").isNull() & (
            F.col("__vec_values").isNotNull()
            | F.col("__asm_values").isNotNull()
        )
        extra.append(backfill.alias("cache_backfill"))
    return out.select(
        *[F.col(c) for c in request_ids.columns],
        values.alias("values"),
        mask.alias("is_default_mask"),
        ages.alias("value_ages_ms"),
        source.alias("source"),
        stale.alias("stale_warning"),
        *extra,
    )


def batch_lookup(
    request_ids: DataFrame,
    table: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """L2 batch MultiGet: broadcast the (small) request-id list;
    ``found`` marks misses so the caller can count the missing-id
    warning (OnlineServingService.java:141-143).

    Physical shape (review r10): Spark cannot broadcast the PRESERVED
    side of an outer join, so the old ``broadcast(ids) LEFT JOIN
    table`` silently dropped the hint and SHUFFLED the whole table on
    every lookup. Instead: an INNER broadcast join finds the hits
    (the table is scanned, never shuffled), the hit keys — a subset
    of the already-small id list — broadcast into an anti-join for
    the misses, and the two halves union. Two pruned scans of the big
    table, zero shuffles of it.

    Presence is a real marker, NOT a probe of a value column for
    NULL — a stored row whose value column is legitimately NULL is a
    HIT with a null value, not a miss. Duplicate keys in the table
    still fan out one output row per stored row, exactly like the
    old left join."""
    keys = list(key_cols)
    hits = table.join(F.broadcast(request_ids), keys, "inner").withColumn(
        "found", F.lit(True)
    )
    hit_keys = hits.select(*keys).distinct()
    misses = request_ids.join(
        F.broadcast(hit_keys), keys, "left_anti"
    ).withColumn("found", F.lit(False))
    return hits.unionByName(misses, allowMissingColumns=True)
