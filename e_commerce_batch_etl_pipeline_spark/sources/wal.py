"""WAL / binlog-shaped source: incremental epoch-segment scan.

The WAL is a directory of immutable epoch segments
(``wal_root/epoch-00000/``, one parquet dir each — the shape a Debezium/
binlog landing zone has on object storage). The source lists segments
*newer than the checkpointed epoch* and reads only those — the incremental
analog of the reference's full CSV re-read each run
(``src/extract.py:40-69``). Schema is pinned per segment (explicit
StructType discipline, ``src/extract.py:27-36``): ``read_epoch`` reads
one segment file's parquet footer on the driver and hands Spark that
schema, so reading an epoch starts no schema-inference job. Extra
columns relative to the table schema signal additive schema evolution
and are surfaced to the engine rather than dropped.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SEG_RE = re.compile(r"^epoch-(\d+)$")
# the Spark schema a Spark writer stores in every parquet footer
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def segment_schema(seg: str) -> StructType | None:
    """The schema ``spark.read.parquet(seg)`` would infer, from ONE
    footer read on the driver with pyarrow (Spark's inference also
    reads one file's footer): the Spark schema a Spark writer stored in
    the footer, else the parquet schema's Arrow form converted to Spark
    types (tz-aware timestamps → timestamp, naive ones → timestamp_ntz,
    as Spark infers them). Nullability is left as written: a file
    source reports every field nullable whatever schema it is given.
    ``None`` — so the caller lets Spark infer — when the segment holds
    no ``.parquet`` file, or has a type the conversion would not match
    Spark on: INT96 or nanosecond timestamps, unsigned or half-float
    columns."""
    try:
        names = sorted(fn for fn in os.listdir(seg)
                       if fn.endswith(".parquet")
                       and not fn.startswith(("_", ".")))
    except OSError:
        return None
    if not names:
        return None
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    md = pq.read_metadata(os.path.join(seg, names[0]))
    spark_json = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return StructType.fromJson(json.loads(spark_json))
    cols = [md.schema.column(i) for i in range(md.num_columns)]
    if any(c.physical_type == "INT96"
           or "nanoseconds" in str(c.logical_type) for c in cols):
        return None
    try:
        return from_arrow_schema(md.schema.to_arrow_schema(),
                                 prefer_timestamp_ntz=True)
    except TypeError:
        return None


class WalSource:
    def __init__(self, wal_root: str):
        self.wal_root = wal_root

    def epochs(self) -> list[int]:
        out = []
        for fn in os.listdir(self.wal_root):
            m = _SEG_RE.match(fn)
            if m and os.path.isdir(os.path.join(self.wal_root, fn)):
                out.append(int(m.group(1)))
        return sorted(out)

    def epochs_after(self, last_committed: int) -> list[int]:
        return [e for e in self.epochs() if e > last_committed]

    def is_complete(self, epoch: int) -> bool:
        """A segment is consumable once its writer finished. Spark (and
        Hadoop-committer writers generally) mark that with ``_SUCCESS``;
        a directory listed mid-write has no marker yet. Only the tail
        loop needs this — one-shot ``run()`` replays a WAL that already
        exists in full."""
        return os.path.exists(
            os.path.join(self.wal_root, f"epoch-{epoch:05d}", "_SUCCESS")
        )

    def complete_epochs_after(self, last_committed: int) -> list[int]:
        """Epochs safe for the tail loop: complete segments, stopping at
        the FIRST incomplete segment AND at the first NUMBERING GAP —
        later complete segments wait behind both, because epochs must
        apply in order (watermarks and the fence horizon assume lsn
        grows with epoch). The gap rule covers out-of-order landing
        where epoch N+1's directory appears before epoch N's exists at
        all: applying N+1 first would checkpoint past N, and N's rows
        would later be dropped at the per-bucket watermark — silent
        loss. A permanent gap therefore stalls the tail (ops-visible
        via idle_timeout) rather than skipping data. The first batch
        after a fresh checkpoint accepts whatever the lowest existing
        epoch is (a WAL may legitimately start above 0 after segment
        retention)."""
        out = []
        expect = last_committed + 1 if last_committed >= 0 else None
        for e in self.epochs_after(last_committed):
            if expect is not None and e != expect:
                break  # gap: an earlier epoch may still be landing
            if not self.is_complete(e):
                break
            out.append(e)
            expect = e + 1
        return out

    def read_epoch(self, spark: SparkSession, epoch: int) -> DataFrame:
        """The epoch's segment as a DataFrame, read at its footer schema
        (``segment_schema``): no Spark job runs until the engine's first
        pass over it. A segment it cannot pin goes through Spark's
        inference, which fails on a missing segment or one without data
        files as it always did."""
        seg = os.path.join(self.wal_root, f"epoch-{epoch:05d}")
        schema = segment_schema(seg)
        if schema is None:
            return spark.read.parquet(seg)
        return spark.read.schema(schema).parquet(seg)
