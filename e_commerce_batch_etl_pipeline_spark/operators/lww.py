"""Last-writer-wins dedup — the CDC engine's core operator.

Reference analog: ``src/transform.py:73-87`` uses
``dropDuplicates(["invoice_id","stock_code"])`` which keeps an *arbitrary*
row per key (its docstring claims order-by-date semantics it does not
implement — SURVEY.md §2.4 D1). This module is that operator made
deterministic: the winner per key is the row with the highest ``lsn``
(total order: ``(lsn, op_rank)``; the generator never emits duplicate
``(doc_id, lsn)``, the op_rank tiebreak is defense in depth).

Two physical strategies, same semantics (tested equivalent):

- ``lww_dedup``: single ``max_by`` aggregate — THE DEFAULT, including
  under skew. Called standalone (groupBy straight over the source),
  Spark's partial (map-side) aggregation keeps one winner per key per
  map task, so a hot key reaches the reduce side as at most #map-tasks
  rows: the skew is collapsed *before* the shuffle. Measured on a
  2.4M-event epoch with ONE key receiving 50% of all changes
  (local[16]): plain max_by 0.44s vs salted 1.44s vs window row_number
  2.04s — the partial agg wins outright, and the window variant (which
  sorts the hot key's rows in one partition) is the one that melts.
  In the engine only the merge-on-read delta write calls it, and it
  repartitions by the table key at the bucket count BEFORE this
  aggregate so dedup + bucket-pure write share one exchange; under that
  plan the hot key's raw rows do land on one reducer first, which is
  why the ``salted`` flag (below) remains the engine's hot-key escape
  hatch. Copy-on-write resolves LWW inside ``merge_upsert_lww``
  (operators/merge.py) instead.
- ``lww_dedup_salted``: explicit two-stage aggregate. Stage 1 groups by
  (key, salt) where salt = pmod(xxhash64(lsn), S); stage 2 reduces the S
  winners. Needed when the aggregation buffer cannot be combined
  map-side into O(1) per key (collect_list/set-style buffers, or
  window-function formulations); AQE's skew handling only splits skewed
  *join* partitions, never aggregation groups, so for those operators
  this is the scale path (SURVEY.md §7.4). A standalone max_by does not
  need it, but the engine's single-exchange plans (MOR delta write, the CoW
  merge) send a hot key's raw rows to one reducer; the engine's
  ``salted`` flag runs this first so stage 1 collapses the hot key to
  ≤ S rows before that exchange.

Neither uses a window over a shuffle-sort, but ``max_by(struct, lsn)``
is not sort-free either: its buffer holds a variable-width struct, which
HashAggregate cannot hold, so Spark plans every ``max_by`` as a
SortAggregate (``plans/r06/engine_staging_after.txt`` shows two).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import expr_memo


def _op_rank():
    # deterministic tiebreak if two envelopes carry the same lsn: deletes
    # lose to upserts at equal lsn (never happens with a correct WAL;
    # defense only)
    return F.when(F.col("op") == "D", F.lit(0)).otherwise(F.lit(1))


def _payload_struct(df: DataFrame, key, order: str) -> list[str]:
    keys = (key,) if isinstance(key, str) else tuple(key)
    return [c for c in df.columns if c not in keys]


def lww_dedup(df: DataFrame, key="doc_id", order: str = "lsn") -> DataFrame:
    """Keep, per key, the row with max (order, op_rank). One aggregate.

    ``key`` may be one column name or a list (composite group key). The
    engine's merge-on-read delta write groups by the table key over a
    ``repartition(P, table_key)`` at the writer's width P
    (``write_partitions``): that partitioning satisfies the aggregate's
    clustering requirement, so it runs with NO exchange of its own and
    the bucket-pure writer's repartition is elided — one shuffle for
    dedup + the write together (guide §2.4).
    """
    keys = [key] if isinstance(key, str) else list(key)

    def build():
        payload = _payload_struct(df, keys, order)
        ordk = F.struct(F.col(order), _op_rank().alias("_rank")) \
            if "op" in df.columns else F.struct(F.col(order))
        return (
            F.max_by(F.struct(*payload), ordk).alias("_w"),
            [F.col(f"_w.{c}").alias(c) for c in payload],
        )

    # memoized by shape (see session.expr_memo): the engine rebuilds
    # this aggregate every epoch over the same columns
    agg, out = expr_memo(
        ("lww", tuple(df.columns), tuple(keys), order), build)
    winner = df.groupBy(*keys).agg(agg)
    return winner.select(*keys, *out)


def lww_dedup_salted(
    df: DataFrame,
    key: str = "doc_id",
    order: str = "lsn",
    num_salts: int = 16,
) -> DataFrame:
    """Two-stage salted LWW for hot-key skew.

    Stage 1 shuffles on (key, salt) — a key receiving 20% of a 10^10-event
    epoch spreads over ``num_salts`` reducers. Stage 2 shuffles only the
    per-(key, salt) winners (≤ num_salts rows per key), which is tiny.
    Semantics identical to ``lww_dedup`` (tested for equivalence).
    """
    payload = _payload_struct(df, key, order)
    ordk = F.struct(F.col(order), _op_rank().alias("_rank")) if "op" in df.columns \
        else F.struct(F.col(order))
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(order)), F.lit(num_salts))
    )
    stage1 = salted.groupBy(key, "_salt").agg(
        F.max_by(F.struct(*payload), ordk).alias("_w"),
        F.max(F.col(order)).alias("_max_order"),
    )
    ordk2 = (
        F.struct(
            F.col("_max_order"),
            F.when(F.col("_w.op") == "D", F.lit(0)).otherwise(F.lit(1)).alias("_rank"),
        )
        if "op" in df.columns
        else F.struct(F.col("_max_order"))
    )
    stage2 = stage1.groupBy(key).agg(F.max_by(F.col("_w"), ordk2).alias("_w"))
    return stage2.select(key, *[F.col(f"_w.{c}").alias(c) for c in payload])
