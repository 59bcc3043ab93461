"""Incremental materialized JOIN-view maintenance: keep a fact⋈dim
equi-join materialization up to date under keyed CDC batches WITHOUT ever
re-joining the full tables — the join sibling of streaming.rollup's
continuous aggregation, and the missing piece between the reference's
"land CDC into queryable tables" (reference README.md:234, 273) and the
denormalized views those tables exist to serve.

The delta-join algebra for a keyed view: when a batch Δ lands on either
side, the only view rows that can change are those whose FACT KEY is
affected —

- a fact batch affects exactly its own fact keys;
- a dim batch affects the fact keys whose FK references a changed dim key
  (one semi-join of the stored fact against the batch's dim keys — the
  batch side broadcasts).

Each refresh is ONE plan handed to the view's KeyedTable upsert: the
desired rows of the affected keys (post-merge fact rows ⋈ current dim)
as upserts ranked ``_ivm_seq`` = 2, and every affected key as a delete
ranked 1. The view merge's own precombine keeps the upsert wherever one
exists, so exactly the affected keys with no surviving join row are
retracted — no separate gone-keys anti-join. The affected keys are
materialized once (the fact batch's own keys, or the dim side's
semi-join result), so the fact table is scanned once for keys. Cost per
batch is O(|Δ| + affected rows), independent of table size. A
PARTITIONED view needs its retractions to carry the stale rows'
partition values: it materializes the desired rows and the affected
keys left without one, and semi-joins itself only for those keys, so
only batches that retract rows scan the view. The view write is a
KeyedTable COW merge, partition-prunable the same way (pass
``partition_by``); a dim column the view gains by schema reconciliation
stays visible in untouched partitions through the schema each view
version carries. At 100 TB this is the difference between a nightly
full re-join and a seconds-latency denormalized serving table.

Restart/replay: every refresh recomputes affected rows FROM CURRENT
STATE (never from the delta alone), so re-delivering the LATEST batch
is a no-op. That is the whole guarantee: KeyedTable's merge gives any
incoming batch priority over the stored snapshot, so replaying an
EARLIER batch regresses the fact table (and therefore the view) —
at-least-once delivery must be guarded upstream by batch-id dedup,
exactly as streaming.rollup does with its (run_id, batch_id) commit
names. Within one refresh each fact key has at most one desired row,
so the two ``_ivm_seq`` ranks never tie.

Contract: fact and dim column names must be disjoint (star-schema
prefixes — o_*, c_* — satisfy this); a fact row's FK may change between
batches (the refresh recomputes from current state, so re-pointing is
handled); ``how`` is "inner" or "left".
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table import KeyedTable

_SEQ = "_ivm_seq"


class IncrementalJoinView:
    """Materialized ``fact ⋈ dim`` view at ``path``, maintained
    incrementally from CDC batches applied to either side.

    >>> v = IncrementalJoinView(spark, path, fact_keys=["o_orderkey"],
    ...                         fk="o_custkey", dim_key="c_custkey")
    >>> v.apply_dim_batch(customers)          # op/_lsn per KeyedTable
    >>> v.apply_fact_batch(orders_batch_1)
    >>> v.read()                              # the denormalized view
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        fact_keys: Sequence[str],
        fk: str,
        dim_key: str,
        how: str = "inner",
        ordering: Sequence[str] = ("_lsn",),
        op_col: str | None = "op",
        partition_by: Sequence[str] = (),
    ) -> None:
        if how not in ("inner", "left"):
            raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
        if fk == dim_key:
            raise ValueError(
                f"fk and dim_key must have distinct names (both {fk!r}) — "
                "alias one side; the join keeps the fact's FK column"
            )
        self.spark = spark
        self.fact_keys = list(fact_keys)
        self.fk = fk
        self.dim_key = dim_key
        self.how = how
        self.fact = KeyedTable(
            spark, f"{path}_fact", keys=fact_keys, ordering=ordering,
            op_col=op_col, partition_by=partition_by,
        )
        self.dim = KeyedTable(
            spark, f"{path}_dim", keys=[dim_key], ordering=ordering,
            op_col=op_col,
        )
        self.view = KeyedTable(
            spark, f"{path}_view", keys=fact_keys, ordering=(_SEQ,),
            op_col="_op", partition_by=partition_by,
        )

    # -- apply --------------------------------------------------------------

    def _data_cols(self, table: KeyedTable, df_cols) -> set:
        """A change batch's DATA columns — what the KeyedTable will
        actually persist (CDC metadata stripped). RESERVED view-machinery
        names are rejected outright: a fact/dim data column named _op /
        _ivm_seq / __ivm_dkey would be silently clobbered by _refresh's
        withColumn or stripped as view metadata — fail loudly instead."""
        from ..operators.merge import cdc_meta_columns

        reserved = {"_op", _SEQ, "__ivm_dkey"} & set(df_cols)
        if reserved:
            raise ValueError(
                f"batch carries reserved IVM column(s) {sorted(reserved)}; "
                "rename them before joining into the view"
            )
        meta = cdc_meta_columns(table.op_col, table.ordering)
        return {c for c in df_cols if c not in meta}

    def _check_disjoint(self, fact_cols: set, dim_cols: set) -> None:
        """The contract check, run BEFORE any table is mutated: a batch
        that violates it must not poison the stored schema (KeyedTable's
        schema reconciliation would persist the colliding column and wedge
        every later clean batch). dim_key is NOT exempted — a fact column
        named like the dim key makes the join condition ambiguous."""
        overlap = fact_cols & dim_cols
        if overlap:
            raise ValueError(
                f"fact and dim column names must be disjoint, both carry "
                f"{sorted(overlap)} — prefix one side before joining"
            )

    def apply_fact_batch(self, changes: DataFrame) -> None:
        """Land one fact-side CDC batch (same change contract as
        KeyedTable.upsert: row columns + ordering + op column), then
        refresh the view rows for exactly the batch's fact keys.

        Facts may arrive BEFORE any dim batch: with ``how='left'`` the
        view materializes fact rows immediately (dim columns appear —
        null-backfilled — once the dim lands, via the KeyedTable merge's
        schema reconciliation); with ``how='inner'`` the rows stay out of
        the view until a dim batch brings their match."""
        if self.dim.exists():
            self._check_disjoint(
                self._data_cols(self.fact, changes.columns),
                set(self.dim.read().columns),
            )
        changes = changes.localCheckpoint(eager=True)
        self.fact.upsert(changes)
        # At most |Δ| keys: broadcast them into the refresh's semi-joins.
        # Duplicates are harmless there and in the retractions (the view
        # merge precombines), so no distinct shuffle.
        self._refresh(F.broadcast(changes.select(*self.fact_keys)))

    def apply_dim_batch(self, changes: DataFrame) -> None:
        """Land one dim-side CDC batch, then refresh the view rows of
        every fact key referencing a changed dim key — found with ONE
        semi-join of the stored fact against the (broadcast) batch keys;
        with the fact partitioned by an FK-derived column this prunes at
        the directory level."""
        if self.fact.exists():
            self._check_disjoint(
                set(self.fact.read().columns),
                self._data_cols(self.dim, changes.columns),
            )
        changes = changes.localCheckpoint(eager=True)
        self.dim.upsert(changes)
        if not self.fact.exists():
            return  # no facts yet — nothing to refresh
        dkeys = changes.select(
            F.col(self.dim_key).alias("__ivm_dkey")
        ).distinct()
        # Materialized once: the refresh's probe and semi-join and both
        # branches of the view merge read these keys, and each would
        # otherwise rescan the fact table. A key set, small next to it.
        affected = (
            self.fact.read()
            .join(F.broadcast(dkeys), F.col(self.fk) == F.col("__ivm_dkey"), "left_semi")
            .select(*self.fact_keys)  # unique: the fact table is keyed
            .localCheckpoint(eager=True)
        )
        self._refresh(affected)

    # -- maintenance core ---------------------------------------------------

    def _refresh(self, keys: DataFrame) -> None:
        """Recompute the view rows of the affected fact ``keys`` (already
        materialized by the caller) from current fact/dim state as ONE
        plan handed to ``view.upsert``: every desired join row is an
        upsert with ``_ivm_seq`` = 2, every affected key is a delete with
        ``_ivm_seq`` = 1, and the view merge's own precombine keeps the
        upsert where one exists — so exactly the keys with no surviving
        join row (fact deleted, or an inner join that lost its dim match)
        are retracted. Everything is keyed work, with one emptiness probe
        and no full-table recomputation.

        A partitioned view's retractions must carry the CURRENT view row,
        not null-filled keys: a delete whose partition columns are NULL
        lands in the wrong partition, the partition-pruned merge never
        reaches the stale row, and the retraction is silently dropped.
        There the desired rows and the keys left without one are
        materialized (the view merge reads both several times), and the
        view is semi-joined only for those keys, behind a second emptiness
        probe, so insert/update batches never scan the view."""
        if keys.isEmpty():
            return
        fact_rows = self.fact.read().join(keys, self.fact_keys, "left_semi")
        if self.dim.exists():
            desired = fact_rows.join(
                self.dim.read(), F.col(self.fk) == F.col(self.dim_key), self.how
            ).drop(self.dim_key)
        elif self.how == "left":
            # Facts before any dim: left rows materialize now with no dim
            # columns; the dim's later refresh backfills via the merge's
            # schema reconciliation.
            desired = fact_rows
        else:
            desired = fact_rows.limit(0)
        retract = keys
        if self.view.partition_by:
            desired = desired.localCheckpoint(eager=True)
            gone = keys.join(
                desired.select(*self.fact_keys), self.fact_keys, "left_anti"
            ).localCheckpoint(eager=True)
            retract = gone.limit(0)
            if self.view.exists() and not gone.isEmpty():
                retract = self.view.read().join(gone, self.fact_keys, "left_semi")
        upserts = desired.select("*", F.lit("u").alias("_op"), F.lit(2).alias(_SEQ))
        deletes = retract.select("*", F.lit("d").alias("_op"), F.lit(1).alias(_SEQ))
        self.view.upsert(upserts.unionByName(deletes, allowMissingColumns=True))

    # -- read ---------------------------------------------------------------

    def read(self) -> DataFrame:
        """The maintained denormalized view (internal columns stripped)."""
        return self.view.read()
