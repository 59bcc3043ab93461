"""Upsert / merge semantics — the capability the reference configures into
Hudi DeltaStreamer but never actually runs (its declared Hudi sink is dead
code: foreachBatch overrides format("hudi"), /root/reference/README.md:337-342;
SURVEY.md §3.2). Implemented natively:

- ``latest_by_key``  ≡ Hudi precombine (``precombine.field``, README.md:306)
- ``apply_deletes``  ≡ PostgresDebeziumAvroPayload delete handling
                       (README.md:260, 348)
- ``merge_upsert``   ≡ ``hoodie.datasource.write.operation=upsert`` COW merge
                       (README.md:300-301) + schema reconciliation
                       (``reconcile.schema=true``, README.md:308)

Key/ordering divergence from the reference is deliberate (SURVEY.md §7.4.3):
the reference keys on the Kafka ingest timestamp (``recordkey.field=timestamp``,
README.md:305), which makes upsert a no-op append; the engine defaults to the
source PK with LSN ordering — the *intent* of the config — and keeps both
configurable.

Scale: a merge is two key-partitioned windows and no join: the precombine
shuffles the change batch, then one ``__pri`` window ranks snapshot ∪
changes, which shuffles the snapshot once. At 100 TB the table should be
partitioned (``KeyedTable(partition_by=...)``) so that the COW rewrite reads
and writes only the partitions a batch touches, as Hudi file groups do.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def cdc_meta_columns(
    op_col: str | None, ordering: Sequence[str]
) -> set[str]:
    """The CDC metadata column set a change batch carries but a TABLE must
    not promote to data columns — the single definition shared by
    KeyedTable._empty_snapshot, DeltaLogTable.read and streaming.ivm (which
    previously each hand-copied it and could drift)."""
    return {op_col, "_lsn", "_ts_ms", *ordering} - {None}


def _reject_reserved(df: DataFrame, what: str) -> None:
    """Internal working columns must not collide with data columns — a
    silent clobber-and-drop destroys user data; fail loudly instead."""
    bad = {"__rn", "__pri"} & set(df.columns)
    if bad:
        raise ValueError(
            f"{what} carries reserved internal column(s) {sorted(bad)}; "
            "rename them before merging"
        )


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str],
    ordering: Sequence[str],
    desc: bool = True,
    *,
    _internal: bool = False,
) -> DataFrame:
    """Keep the newest row per key (precombine, reference B5/B6).

    ``row_number() over (partition by keys order by ordering desc) = 1`` —
    one shuffle, no join. ``ordering`` should end with a unique column
    (e.g. LSN) so the pick is deterministic.
    """
    if not _internal:
        _reject_reserved(df, "latest_by_key input")
    order_cols = [F.col(c).desc() if desc else F.col(c).asc() for c in ordering]
    w = W.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_deletes(
    table: DataFrame, deletes: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Remove rows whose key appears in ``deletes`` (reference B8: op='d'
    events with after=null, tombstones disabled README.md:260). Anti-join —
    broadcastable when the delete set is small (the common CDC case)."""
    return table.join(deletes.select(*keys).distinct(), list(keys), "left_anti")


def merge_upsert(
    table: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    ordering: Sequence[str],
    op_col: str | None = "op",
    delete_op: str = "d",
    meta_cols: Sequence[str] = ("_lsn", "_ts_ms"),
) -> DataFrame:
    """Apply a CDC change batch to a snapshot: latest-wins per key, deletes
    drop rows (the DeltaStreamer lifecycle of SURVEY.md §3.2).

    ``changes`` carries the row columns + ``ordering`` + optionally
    ``op_col``. Steps:
      1. precombine: newest change per key (intra-batch dedup, B6); a
         newest change with a NULL op is dropped, so that key's snapshot
         row stays;
      2. schema-reconcile snapshot ∪ changes (B11) in BOTH directions:
         table columns missing from the batch null-fill, and new data
         columns carried by the batch survive the merge (appended after the
         snapshot columns, null for pre-existing rows) — Hudi
         ``reconcile.schema`` add-column semantics. CDC metadata
         (``op_col``, ``ordering``, ``meta_cols``) is never promoted to a
         data column unless the snapshot already has it;
      3. one window per key ranks the change over the snapshot row, then
         keys whose winner is a delete (B8) drop. A delete with a NULL key
         component deletes nothing (SQL key equality).

    Upserts and deletes ride one ``__pri`` window (snapshot 0, upsert 1,
    delete 2), so the change batch is planned and scanned once.
    """
    keys = list(keys)
    _reject_reserved(table, "merge_upsert snapshot")
    _reject_reserved(changes, "merge_upsert change batch")
    row_cols = [c for c in table.columns]
    latest = latest_by_key(changes, keys, ordering)

    pri = F.lit(1)
    if op_col is not None and op_col in latest.columns:
        is_del = F.col(op_col) == delete_op
        keyed = F.lit(True)
        for k in keys:
            keyed = keyed & F.col(k).isNotNull()
        # A NULL op changes nothing; a delete with a NULL key matches no row.
        latest = latest.filter((F.col(op_col) != delete_op) | (is_del & keyed))
        pri = F.when(is_del, F.lit(2)).otherwise(F.lit(1))

    meta = {op_col, *ordering, *meta_cols} - set(row_cols)
    base = table.select(*row_cols).withColumn("__pri", F.lit(0))
    ranked = latest.withColumn("__pri", pri)
    ranked = ranked.drop(*[c for c in ranked.columns if c in meta])
    unioned = base.unionByName(ranked, allowMissingColumns=True)
    merged = latest_by_key(unioned, keys, ["__pri"], _internal=True)
    return merged.filter(F.col("__pri") < 2).drop("__pri")
