"""Property-based tests (hypothesis): the engine's core invariants hold
for arbitrary op sequences, not just the generator's distribution."""

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from e_commerce_batch_etl_pipeline_spark.operators.lww import (
    lww_dedup,
    lww_dedup_salted,
)
from e_commerce_batch_etl_pipeline_spark.operators.merge import merge_upsert

from .oracle import replay

# envelope: (lsn unique, op, key, tokens)
_ops = st.sampled_from(["I", "U", "D"])
_keys = st.integers(min_value=0, max_value=9).map(lambda i: f"k{i}")
_tokens = st.lists(st.integers(min_value=0, max_value=50256),
                   min_size=1, max_size=6)


@st.composite
def envelope_batches(draw):
    n = draw(st.integers(min_value=1, max_value=30))
    rows = []
    for lsn in range(n):
        op = draw(_ops)
        rows.append(
            {
                "lsn": lsn,
                "epoch": 0,
                "op": op,
                "doc_id": draw(_keys),
                "tokens": None if op == "D" else draw(_tokens),
                "n_tok": None,
                "source": None if op == "D" else "web",
            }
        )
    return rows


SCHEMA = ("lsn long, epoch int, op string, doc_id string, "
          "tokens array<int>, n_tok int, source string")


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(envelope_batches())
def test_lww_plus_merge_equals_oracle(spark, rows):
    """For ANY op sequence: LWW dedup + merge over empty base ==
    the sequential dict-replay oracle."""
    df = spark.createDataFrame(
        [tuple(r.values()) for r in rows], SCHEMA
    )
    dedup = lww_dedup(df)
    base = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string"
    )
    merged = merge_upsert(base, dedup, broadcast_changes=False)
    got = {
        r["doc_id"]: {"tokens": r["tokens"], "source": r["source"]}
        for r in merged.collect()
    }
    exp_full = replay([], rows, ["tokens", "n_tok", "source"])
    exp = {
        k: {"tokens": list(v["tokens"]), "source": v["source"]}
        for k, v in exp_full.items()
    }
    assert {k: (tuple(v["tokens"]), v["source"]) for k, v in got.items()} == {
        k: (tuple(v["tokens"]), v["source"]) for k, v in exp.items()
    }


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(envelope_batches(), st.integers(min_value=1, max_value=7))
def test_salted_equals_plain_for_any_input(spark, rows, nparts):
    df = spark.createDataFrame(
        [tuple(r.values()) for r in rows], SCHEMA
    ).repartition(nparts)
    a = {r["doc_id"]: r["lsn"] for r in lww_dedup(df).collect()}
    b = {r["doc_id"]: r["lsn"] for r in lww_dedup_salted(df, num_salts=4).collect()}
    assert a == b


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(envelope_batches())
def test_split_replay_equals_single_replay(spark, rows):
    """Applying [first half] then [second half] == applying all at once —
    the MERGE composition law the epoch loop depends on."""
    half = len(rows) // 2
    base0 = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string"
    )

    def apply(base, subset):
        if not subset:
            return base
        df = spark.createDataFrame([tuple(r.values()) for r in subset], SCHEMA)
        return merge_upsert(base, lww_dedup(df), broadcast_changes=False)

    two_step = apply(apply(base0, rows[:half]), rows[half:])
    one_step = apply(base0, rows)
    a = {(r["doc_id"], tuple(r["tokens"] or [])) for r in two_step.collect()}
    b = {(r["doc_id"], tuple(r["tokens"] or [])) for r in one_step.collect()}
    assert a == b


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(envelope_batches(), envelope_batches())
def test_merge_lww_plan_equals_anti_join_plan(spark, base_rows, change_rows):
    """``merge_upsert_lww`` (the engine's union+max_by plan) must be
    row-identical to ``merge_upsert`` (anti join + union) for ANY base
    state and ANY LWW-deduped change-set — the equivalence that let the
    engine drop the broadcast plan."""
    from e_commerce_batch_etl_pipeline_spark.operators.merge import (
        merge_upsert_lww,
    )

    base0 = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string"
    )
    bdf = spark.createDataFrame(
        [tuple(r.values()) for r in base_rows], SCHEMA
    )
    base = merge_upsert(base0, lww_dedup(bdf), broadcast_changes=False)
    changes = lww_dedup(
        spark.createDataFrame([tuple(r.values()) for r in change_rows], SCHEMA)
    )

    def key_set(df):
        return {
            (r["doc_id"], tuple(r["tokens"] or []), r["n_tok"], r["source"])
            for r in df.collect()
        }

    a = key_set(merge_upsert(base, changes, broadcast_changes=False))
    b = key_set(merge_upsert_lww(base, changes))
    assert a == b
    assert merge_upsert(base, changes).columns == \
        merge_upsert_lww(base, changes).columns


@st.composite
def raw_change_batches(draw):
    """Un-deduped envelopes: several rows per key, lsn drawn with repeats
    (a key may see a U and a D at the same lsn), and deletes of keys the
    base may not hold. At most one upsert and one delete per (key, lsn):
    the LWW order (lsn, op_rank) cannot break a tie between two
    upserts."""
    n = draw(st.integers(min_value=1, max_value=30))
    seen, rows = set(), []
    for _ in range(n):
        key, lsn, op = draw(_keys), draw(st.integers(0, 12)), draw(_ops)
        if (key, lsn, op == "D") in seen:
            continue
        seen.add((key, lsn, op == "D"))
        rows.append({
            "lsn": lsn, "epoch": 0, "op": op, "doc_id": key,
            "tokens": None if op == "D" else draw(_tokens),
            "n_tok": None, "source": None if op == "D" else "web",
        })
    return rows


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(envelope_batches(), raw_change_batches(), st.booleans())
def test_merge_lww_over_raw_changes_equals_dedup_then_merge(
        spark, base_rows, change_rows, drop_source):
    """``merge_upsert_lww`` over UN-deduped envelopes resolves change vs
    change too: it equals ``merge_upsert(base, lww_dedup(changes))`` —
    several rows per key, equal-lsn U/D ties (D loses), deletes of absent
    keys, and (``drop_source``) a change side missing a table column."""
    from e_commerce_batch_etl_pipeline_spark.operators.merge import (
        merge_upsert_lww,
    )

    base0 = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string"
    )
    bdf = spark.createDataFrame(
        [tuple(r.values()) for r in base_rows], SCHEMA
    )
    base = merge_upsert(base0, lww_dedup(bdf), broadcast_changes=False)
    changes = spark.createDataFrame(
        [tuple(r.values()) for r in change_rows], SCHEMA
    ).repartition(3)
    if drop_source:
        changes = changes.drop("source")

    def rows(df):
        return sorted(
            (r["doc_id"], tuple(r["tokens"] or []), r["n_tok"], r["source"])
            for r in df.collect()
        )

    want = merge_upsert(base, lww_dedup(changes), broadcast_changes=False)
    got = merge_upsert_lww(base, changes, num_partitions=4)
    assert rows(got) == rows(want)
    assert got.columns == want.columns


def test_merge_lww_plan_schema_evolution_alignment(spark):
    """Columns present on only one side survive the union+max_by plan the
    same way they survive the anti-join plan: change-side-only columns
    read NULL on untouched base rows, base-only columns read NULL on
    upserted rows."""
    from e_commerce_batch_etl_pipeline_spark.operators.merge import (
        merge_upsert_lww,
    )

    base = spark.createDataFrame(
        [("a", 1, "keep"), ("b", 2, "old")],
        "doc_id string, n_tok int, legacy string",
    )
    changes = spark.createDataFrame(
        [(10, "U", "b", 20, "fr"), (11, "I", "c", 30, "en"),
         (12, "D", "a", None, None)],
        "lsn long, op string, doc_id string, n_tok int, lang string",
    )
    got_a = {(r["doc_id"], r["n_tok"], r["legacy"], r["lang"])
             for r in merge_upsert(base, changes,
                                   broadcast_changes=False).collect()}
    got_b = {(r["doc_id"], r["n_tok"], r["legacy"], r["lang"])
             for r in merge_upsert_lww(base, changes).collect()}
    assert got_a == got_b == {
        ("b", 20, None, "fr"), ("c", 30, None, "en"),
    }


# ---------- manifest-layer invariants (pure metadata, no Spark) ----------

_entries = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),      # bucket
        st.integers(min_value=0, max_value=10**6),  # file id
    ),
    min_size=0, max_size=40, unique=True,
).map(lambda ps: [
    {"path": f"data/c/f{fid:07d}.parquet", "bucket": b} for b, fid in ps
])


@given(entries=_entries)
@settings(max_examples=40, deadline=None)
def test_snapshot_manifest_roundtrip(tmp_path_factory, entries):
    """Any file set serializes through per-bucket manifests and loads
    back identical (order-insensitive), via both a fresh process-state
    load and the manifest cache."""
    import json

    from e_commerce_batch_etl_pipeline_spark.tables.format import (
        LakeTable,
        TableSchema,
    )

    root = str(tmp_path_factory.mktemp("mf"))
    schema = TableSchema(fields=[("doc_id", "string", False)])
    t = LakeTable.create(os.path.join(root, "t"), schema, num_buckets=8)
    t.commit(epoch=0, replaced_buckets=list(range(8)), new_files=entries,
             bucket_max_lsn={b: 1 for b in range(8)})
    snap = t.current()
    assert sorted(
        (f["bucket"], f["path"]) for f in snap.files
    ) == sorted((e["bucket"], e["path"]) for e in entries)
    # the snapshot JSON itself carries no file list — only manifest names
    md = os.path.join(t.root, "metadata")
    raw = json.load(open(os.path.join(
        md, f"snapshot-{snap.version:08d}.json")))
    assert "files" not in raw
    assert set(raw["manifests"]) == {
        str(e["bucket"]) for e in entries
    }
    # a second commit touching bucket 0 only reuses every other manifest
    t.commit(epoch=1, replaced_buckets=[0], new_files=[],
             bucket_max_lsn={0: 2})
    raw2 = json.load(open(os.path.join(
        md, f"snapshot-{snap.version + 1:08d}.json")))
    for b, name in raw2["manifests"].items():
        assert name == raw["manifests"][b]  # bucket 0 dropped, rest reused
    assert "0" not in raw2["manifests"]
