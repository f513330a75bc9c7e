"""LWW dedup: determinism, salted==unsalted equivalence, tiebreak.

Reference-semantics fix under test: the reference's
``dropDuplicates(keys)`` keeps an arbitrary row (``src/transform.py:73-87``
docstring claims otherwise); ours must keep max-lsn regardless of
partitioning (SURVEY.md §2.4 D1).
"""

import pytest
from pyspark.sql import functions as F

from e_commerce_batch_etl_pipeline_spark.operators.lww import (
    lww_dedup,
    lww_dedup_salted,
)

ROWS = [
    # (lsn, epoch, op, doc_id, tokens, n_tok, source, )
    (10, 0, "I", "a", [1, 2], 2, "web"),
    (11, 0, "U", "a", [3], 1, "web"),
    (12, 0, "U", "b", [4, 5, 6], 3, "code"),
    (5, 0, "I", "b", [9], 1, "code"),
    (7, 0, "D", "c", None, None, None),
    (6, 0, "I", "c", [7, 7], 2, "wiki"),
]
SCHEMA = "lsn long, epoch int, op string, doc_id string, tokens array<int>, n_tok int, source string"


@pytest.fixture(scope="module")
def env(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def _winners(df):
    return {
        r["doc_id"]: (r["lsn"], r["op"], r["tokens"])
        for r in df.collect()
    }


def test_lww_picks_max_lsn(env):
    w = _winners(lww_dedup(env))
    assert w["a"] == (11, "U", [3])
    assert w["b"] == (12, "U", [4, 5, 6])
    assert w["c"] == (7, "D", None)


def test_lww_deterministic_under_partitioning(env):
    expected = _winners(lww_dedup(env))
    for n in (1, 2, 7):
        got = _winners(lww_dedup(env.repartition(n)))
        assert got == expected


def test_salted_equals_unsalted(env):
    a = _winners(lww_dedup(env))
    for s in (2, 16):
        b = _winners(lww_dedup_salted(env, num_salts=s))
        assert a == b


def test_salted_equals_unsalted_large(spark):
    from e_commerce_batch_etl_pipeline_spark.sources.datagen import (
        generate_wal_epoch,
    )

    env = generate_wal_epoch(
        spark, 0, 5000, base_n=500, seed=7, max_len=16, hot_key_frac=0.4
    ).filter(F.col("doc_id").isNotNull())
    a = lww_dedup(env).orderBy("doc_id").collect()
    b = lww_dedup_salted(env, num_salts=8).orderBy("doc_id").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_tiebreak_delete_loses(spark):
    # equal lsn (malformed WAL): upsert beats delete, deterministically
    df = spark.createDataFrame(
        [(5, 0, "D", "x", None, None, None), (5, 0, "U", "x", [1], 1, "web")],
        SCHEMA,
    )
    w = _winners(lww_dedup(df))
    assert w["x"][1] == "U"
    w2 = _winners(lww_dedup_salted(df, num_salts=4))
    assert w2["x"][1] == "U"


def _lww_memo_entries():
    from e_commerce_batch_etl_pipeline_spark import session

    return [k for k in session._EXPR_MEMO if k[0] == "lww"]


def _same_schema_pair(spark):
    a = spark.createDataFrame(
        [(1, 0, "U", "x", [1], 1, "web"), (2, 0, "U", "x", [2], 1, "web")],
        SCHEMA,
    )
    b = spark.createDataFrame(
        [(9, 0, "U", "x", [9], 1, "wiki"), (3, 0, "D", "y", None, None, None)],
        SCHEMA,
    )
    return a, b


def test_expr_memo_reuse_is_result_invariant(spark):
    """The shared expression memo (session.expr_memo) must hand back
    trees that bind freshly per DataFrame: two different inputs with the
    SAME schema (a memo hit) dedup independently and identically to a
    cold memo."""
    from e_commerce_batch_etl_pipeline_spark import session

    a, b = _same_schema_pair(spark)
    session._EXPR_MEMO.clear()
    cold_a = _winners(lww_dedup(a))
    assert len(_lww_memo_entries()) == 1  # memo populated
    hit_b = _winners(lww_dedup(b))   # same schema: memo hit, new input
    assert len(_lww_memo_entries()) == 1
    session._EXPR_MEMO.clear()
    assert _winners(lww_dedup(a)) == cold_a
    assert _winners(lww_dedup(b)) == hit_b
    assert cold_a["x"][0] == 2 and hit_b["x"][0] == 9


def test_expr_memo_shared_exprids_in_one_plan(spark):
    """Two same-schema lww_dedup outputs built from ONE memo entry carry
    the same Alias exprIds; joined or unioned in one plan they must give
    the results of independently built (cold) outputs."""
    from e_commerce_batch_etl_pipeline_spark import session

    a, b = _same_schema_pair(spark)

    def combine(da, db):
        j = da.alias("l").join(db.alias("r"), "doc_id").select(
            "doc_id", F.col("l.lsn").alias("l_lsn"),
            F.col("r.lsn").alias("r_lsn"), F.col("r.op").alias("r_op"))
        return (sorted(map(tuple, da.unionByName(db).collect()), key=str),
                sorted(map(tuple, j.collect())))

    session._EXPR_MEMO.clear()
    da = lww_dedup(a)
    session._EXPR_MEMO.clear()
    cold = combine(da, lww_dedup(b))
    session._EXPR_MEMO.clear()
    da, db = lww_dedup(a), lww_dedup(b)
    assert len(_lww_memo_entries()) == 1  # both served from one entry
    assert combine(da, db) == cold
    assert cold[1] == [("x", 2, 9, "U")]


def test_build_session_clears_expr_memo(spark, monkeypatch):
    """Memo entries are py4j handles into the current JVM gateway, so
    build_session drops them; rebuilt trees give the warm results."""
    from e_commerce_batch_etl_pipeline_spark import session
    from e_commerce_batch_etl_pipeline_spark.functions.tokens import (
        recompute_n_tok,
    )

    a, _ = _same_schema_pair(spark)

    def results():
        return (_winners(lww_dedup(a)),
                sorted(map(tuple, recompute_n_tok(a).collect()), key=str))

    warm = results()
    assert _lww_memo_entries()
    monkeypatch.setenv("SPARK_GRAFT_PREHEAT", "0")
    # the same arguments as the suite's session fixture: getOrCreate
    # hands back that session with its settings unchanged
    assert session.build_session(
        app_name="tests", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "6g"},
    ) is spark
    assert session._EXPR_MEMO == {}
    assert results() == warm
