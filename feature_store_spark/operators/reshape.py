"""Reshaping operators: melt (wide -> EAV), pivot (EAV -> wide), and
positional vector assembly (SURVEY.md §2.7 U2/U3/U5, §2.2 L6).

The reference's feature vectors are positional arrays ordered by
``feature_view_members.position`` (feature_store.proto:49-68); scalar
assembly fills gaps with defaults and records a mask + per-slot ages
(RocksDBFeatureStore.java:281-328). Here those are pivots + ``array()``
of columns in schema order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from feature_store_spark.session import local_rows_df

from feature_store_spark.functions import epoch_ms


def melt(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    name_col: str = "feature_name",
    value_col: str = "value",
) -> DataFrame:
    """Wide -> tall (attribute form). Mirrors ParquetExportHelper.java:31-60.

    Uses Spark's native ``unpivot`` (no shuffle: a generate over the
    scan), casting all value columns to double first.
    """
    casted = df.select(
        *[F.col(c) for c in id_cols],
        *[F.col(c).cast("double").alias(c) for c in value_cols],
    )
    return casted.unpivot(
        ids=list(id_cols),
        values=list(value_cols),
        variableColumnName=name_col,
        valueColumnName=value_col,
    )


def pivot_features(
    df: DataFrame,
    key_cols: Sequence[str],
    feature_names: Sequence[str],
    name_col: str = "feature_name",
    value_col: str = "value",
    agg: str = "first",
) -> DataFrame:
    """Tall -> wide. Mirrors IcebergOfflineStore.java:174-193.

    ``feature_names`` is passed to ``pivot`` explicitly so Spark skips
    the extra distinct-values job — at 100 TB that scan is not free.

    ``agg="first"`` is deterministic only when (key, name) is unique —
    on duplicates it returns a partition-order-dependent row. Reduce
    first (``latest_per_key``) or pass an order-free agg (``max``,
    ``sum``) when the input can carry duplicates.
    """
    agg_fn = getattr(F, agg)
    return (
        df.groupBy(*key_cols)
        .pivot(name_col, list(feature_names))
        .agg(agg_fn(F.col(value_col)))
    )


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Latest row per key by (time desc, tiebreaks desc) — the
    "current value" read the online store answers with RocksDB point
    lookups. One shuffle + in-partition top-1 (no full sort)."""
    order = [F.col(time_col).desc()] + [
        F.col(t).desc_nulls_last() for t in tiebreak_cols
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def assemble_vectors(
    scalars: DataFrame,
    feature_names: Sequence[str],
    defaults: dict[str, float] | None = None,
    entity_col: str = "entity_id",
    name_col: str = "feature_name",
    value_col: str = "value",
    time_col: str = "event_time",
    now_ms: int | None = None,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Scalar -> positional-vector assembly with defaults, mask and ages.

    Reference: RocksDBFeatureStore.java:281-328 — for each feature of
    the schema, MultiGet the scalar; missing -> default + mask=true +
    age=-1; present -> value + age=now-event_time.

    Output: entity_col, ``values array<double>`` (schema order),
    ``is_default_mask array<boolean>``, ``value_ages_ms array<long>``.
    """
    defaults = defaults or {}
    feature_names = list(feature_names)

    # ONE groupBy(entity) fills every slot: per feature, max_by picks
    # the (value, time) of the row latest by (time, *tiebreaks). The
    # ordering key is NULL on other features' rows, which max_by
    # skips; struct ordering puts NULL fields first, so a NULL time or
    # tiebreak loses like desc-nulls-last in latest_per_key. One
    # shuffle: a window top-1 per (entity, feature) and then a pivot
    # would take two.
    # Cast to double INSIDE the struct (review r10m): the sentinel
    # invariant is "mask true <=> default served <=> age -1", and it
    # must key on the value AS SERVED — a NULL raw value (or one that
    # fails the double cast, e.g. a string 'n/a') serves the default,
    # so its t must not leak into the age and its mask must say
    # default. try_cast: under ANSI mode a plain cast would fail the
    # whole lookup on one malformed scalar instead.
    served = F.struct(
        F.col(value_col).try_cast("double").alias("v"),
        epoch_ms(F.col(time_col)).alias("t"),
    )
    order = F.struct(F.col(time_col), *[F.col(c) for c in tiebreak_cols])
    # positional slot names: a feature like 'ctr.7d' or one named
    # entity_col never becomes a column name (review r10m)
    slots = [F.col(f"__slot{i}") for i in range(len(feature_names))]
    rows = scalars.filter(F.col(name_col).isin(feature_names))
    # an empty schema filters every row out; agg() needs one expression
    latest = (
        rows.groupBy(entity_col).agg(
            *[
                F.max_by(served, F.when(F.col(name_col) == n, order)).alias(
                    f"__slot{i}"
                )
                for i, n in enumerate(feature_names)
            ]
        )
        if feature_names
        else rows.select(entity_col)
    )

    now_expr = (
        F.lit(now_ms)
        if now_ms is not None
        else epoch_ms(F.current_timestamp())
    )
    values = F.array(
        *[
            F.coalesce(s["v"], F.lit(float(defaults.get(n, 0.0))))
            for s, n in zip(slots, feature_names)
        ]
    )
    mask = F.array(*[s["v"].isNull() for s in slots])
    ages = F.array(
        *[
            F.when(
                s["v"].isNull() | s["t"].isNull(), F.lit(-1).cast("long")
            ).otherwise((now_expr - s["t"]).cast("long"))
            for s in slots
        ]
    )
    return latest.select(
        F.col(entity_col),
        values.alias("values"),
        mask.alias("is_default_mask"),
        ages.alias("value_ages_ms"),
    )


def assemble_flat(
    scalars: DataFrame,
    entities: DataFrame,
    feature_names: Sequence[str],
    default_value: float = 0.0,
    entity_col: str = "entity_id",
    name_col: str = "feature_name",
    value_col: str = "value",
    time_col: str = "event_time",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Flat (exploded) form of vector assembly: one row per
    (entity, feature) over the full entity x schema grid, with default
    fill + is_default mask. Hash-friendly for oracle comparison and the
    natural shape to MERGE into an online table."""
    feature_names = list(feature_names)
    latest = latest_per_key(
        scalars.filter(F.col(name_col).isin(feature_names)),
        [entity_col, name_col],
        time_col,
        tiebreak_cols,
    ).select(
        F.col(entity_col),
        F.col(name_col),
        F.col(value_col).cast("double").alias("__v"),
        F.col(time_col).alias("__t"),
    )
    grid = entities.select(entity_col).distinct().crossJoin(
        F.broadcast(
            local_rows_df(
                entities.sparkSession,
                [(n,) for n in feature_names],
                # explicit DDL: an empty feature list (a view with no
                # members) must yield an empty grid, not a cannot-
                # infer-schema crash (review r10m)
                f"{name_col} string",
            )
        )
    )
    joined = grid.join(latest, [entity_col, name_col], "left")
    return joined.select(
        F.col(entity_col),
        F.col(name_col),
        F.coalesce(F.col("__v"), F.lit(default_value)).alias("value"),
        F.col("__v").isNull().alias("is_default"),
        F.col("__t").alias("event_time"),
    )
