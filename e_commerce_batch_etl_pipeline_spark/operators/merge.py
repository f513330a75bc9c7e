"""MERGE-style upsert: apply a change-set to base-table rows.

Semantics (Delta/Iceberg ``MERGE INTO`` with LWW source):

- op = I / U → upsert (update if key exists, insert if not; the
  update-as-upsert policy means I vs U converge — SURVEY.md §5.1)
- op = D     → delete (no-op if the key is absent)

Two physical strategies, same result (property-tested equal):

- ``merge_upsert`` — **anti-join + union** over a DEDUPED change-set:

      new_state = base ⟕anti changes (keys NOT updated/deleted)
                ∪ changes.filter(op != 'D').project(payload)

  The anti join can broadcast the change-keys, so the base streams
  through a BroadcastHashJoin with no shuffle of its own. The
  ``cdc_merge_upsert`` query runs it, and it is the equivalence oracle
  for the engine's plan. The engine no longer runs it: the broadcast
  build is serial driver work, and the bucket-pure write shuffles the
  base anyway.
- ``merge_upsert_lww`` — **union + one LWW aggregate** over RAW
  envelopes: resolves change against change and change against base in
  the same ``max_by``, off one key exchange that the bucket-pure write
  reuses. The engine's copy-on-write MERGE.

Reference analog: the reference has no MERGE (full overwrite each run,
``src/config.py:52``); its broadcast-join enrich (``src/pipeline.py:61-99``)
is the physical pattern reused here for the change-key side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _align(base: DataFrame, changes: DataFrame):
    """Schema-union alignment shared by both merges: ``(out_cols,
    base_side, change_side)``.

    The output schema is the UNION of base and change payloads: a column
    the change side lacks (old-schema producer after additive evolution)
    must survive on untouched rows and read as NULL on upserted rows —
    dropping it would silently lose data for every survivor. So
    ``base_side`` gains the change-only columns and ``change_side`` the
    base-only ones, as typed NULLs; neither is projected yet.
    """
    ch_payload = changes.drop("op", "lsn", "epoch", "ts").columns
    out_cols = list(base.columns) + [c for c in ch_payload if c not in base.columns]
    ch_types = {f.name: f.dataType for f in changes.schema.fields}
    base_types = {f.name: f.dataType for f in base.schema.fields}
    base_side = base.withColumns({
        c: F.lit(None).cast(ch_types[c])
        for c in out_cols if c not in base.columns
    })
    change_side = changes.withColumns({
        c: F.lit(None).cast(base_types[c])
        for c in out_cols if c not in ch_payload
    })
    return out_cols, base_side, change_side


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    key: str = "doc_id",
    broadcast_changes: bool = True,
) -> DataFrame:
    """Apply LWW-deduped changes to base; returns the new state.

    ``changes`` must be one row per key with an ``op`` column in
    {I, U, D}; its payload columns must be a superset of ``base``'s
    (schema evolution adds columns on the change side first).
    """
    out_cols, base_side, ch_side = _align(base, changes)
    change_keys = changes.select(key)
    if broadcast_changes:
        change_keys = F.broadcast(change_keys)
    survivors = base_side.select(*out_cols).join(change_keys, key, "left_anti")
    upserts = ch_side.filter(F.col("op") != F.lit("D")).select(*out_cols)
    return survivors.unionByName(upserts)


def merge_upsert_lww(
    base: DataFrame,
    changes: DataFrame,
    key: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """MERGE as one union + LWW aggregate — the engine's CoW plan.

    Same I/U/D contract and schema-union alignment as ``merge_upsert``,
    but ``changes`` need NOT be deduped: it may hold any number of
    envelopes per key (each with ``op`` and ``lsn``). Base and changes
    are unioned and resolved per key by one ``max_by`` ordered on
    ``(_src, lsn, op_rank)``: base rows carry source-rank 0 and change
    rows rank 1, so any change beats the base; among changes the highest
    lsn wins, and at equal lsn a delete loses to an upsert (the
    ``lww_dedup`` tiebreak). Deletes are dropped after the aggregate. So
    LWW dedup of the change-set and the MERGE are one operator
    (equivalence with ``merge_upsert(base, lww_dedup(changes))`` is
    property-tested in tests/test_properties.py).

    Grouped by the key, the aggregate's required clustering is satisfied
    by the ``repartition(num_partitions, key)`` below; at the writer's
    width (``write_partitions(spark, B)``, a divisor of the bucket count
    that fits one task wave) that also elides the bucket-pure writer's
    repartition, so the merge and the write run off a SINGLE exchange of
    base+changes — no shuffled anti join exchanging base and change-keys
    before the write's own exchange, and no driver-side broadcast build
    (guide §2.4 "remove shuffles outright"). The aggregate plans as a
    SortAggregate (variable-width ``max_by`` buffer, see operators/lww.py).
    """
    out_cols, base_side, ch_side = _align(base, changes)
    base_side = base_side.select(
        *out_cols,
        F.lit("U").alias("op"),
        F.lit(None).cast(changes.schema["lsn"].dataType).alias("lsn"),
        F.lit(0).alias("_src"),
    )
    ch_side = ch_side.select(*out_cols, "op", "lsn", F.lit(1).alias("_src"))
    unioned = base_side.unionByName(ch_side)
    if num_partitions is not None:
        # hash-partition by the key at the writer's width so the groupBy
        # below needs no exchange of its own and the bucket-pure writer's
        # repartition is elided — the whole merge+write is ONE exchange
        # of base+changes
        unioned = unioned.repartition(num_partitions, F.col(key))
    payload = [c for c in out_cols if c != key] + ["op"]
    order = F.struct(
        F.col("_src"), F.col("lsn"),
        F.when(F.col("op") == "D", F.lit(0)).otherwise(F.lit(1)),
    )
    winner = unioned.groupBy(key).agg(
        F.max_by(F.struct(*payload), order).alias("_w")
    )
    return (
        winner.filter(F.col("_w.op") != "D")
        .select(key, *[F.col(f"_w.{c}").alias(c) for c in payload if c != "op"])
        .select(*out_cols)
    )
