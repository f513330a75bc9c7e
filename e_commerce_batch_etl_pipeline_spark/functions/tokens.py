"""Token-array validation + n_tok recomputation — vectorized, no per-row Python.

The north-rule requires vectorized Arrow/pandas UDFs for token-array work
(input_hint). In practice Catalyst can express almost all of it natively —
``F.size(tokens)`` recomputes n_tok, ``F.exists``/``F.forall`` validate
ranges — and the native path is what the hot loop uses (whole-stage
codegen, zero Python). The pandas-UDF path is kept for validation logic
Catalyst can't express (cross-array statistics) and exercised in tests so
the Arrow plumbing (list<int32> ↔ pandas) stays proven.

Reference analog: derive-if-missing ``total_amount`` recompute
(``notebooks/02_transformations.py:267-272``) and business-rule filters
(``src/transform.py:90-112``); both were scalar Catalyst expressions there,
here they run over array<int32> columns.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import expr_memo

VOCAB_SIZE = 50257
MAX_TOKENS = 4096


def recompute_n_tok(df: DataFrame, tokens_col: str = "tokens",
                    n_tok_col: str = "n_tok") -> DataFrame:
    """n_tok = size(tokens), derived-if-missing-or-wrong (always recomputed
    for D-ops' null arrays n_tok stays null). Pure Catalyst — codegen'd."""
    col = expr_memo(("ntok", tokens_col), lambda: (
        F.when(F.col(tokens_col).isNull(), F.lit(None).cast("int"))
        .otherwise(F.size(F.col(tokens_col)).cast("int"))
    ))
    return df.withColumn(n_tok_col, col)


def envelope_validity(vocab_size: int = VOCAB_SIZE):
    """Boolean Column: is this WAL envelope structurally valid?

    Invalid (quarantined, counted as conflicts, never applied):
      - null doc_id, or op not in {I,U,D}
      - I/U with null/empty tokens, or token out of [0, vocab)
      - D rows are valid regardless of payload (payload ignored)
    All checks are Catalyst expressions (F.forall runs JVM-side).
    """
    op_ok = F.col("op").isin("I", "U", "D")
    key_ok = F.col("doc_id").isNotNull()
    toks = F.col("tokens")
    tokens_ok = (
        toks.isNotNull()
        & (F.size(toks) > 0)
        & (F.size(toks) <= MAX_TOKENS)
        & F.forall(toks, lambda x: x.isNotNull() & (x >= 0) & (x < F.lit(vocab_size)))
    )
    return key_ok & op_ok & ((F.col("op") == "D") | tokens_ok)


def validate_envelopes(
    df: DataFrame, vocab_size: int = VOCAB_SIZE
) -> tuple[DataFrame, DataFrame]:
    """Split envelopes into (valid, quarantined). One pass each; callers
    should cache the input if both sides are consumed."""
    ok = envelope_validity(vocab_size)
    return df.filter(ok), df.filter(~ok)


# ---------- Arrow/pandas-UDF path (validation Catalyst can't express) ----------

@F.pandas_udf(T.StructType([
    T.StructField("valid", T.BooleanType()),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("tok_min", T.IntegerType()),
    T.StructField("tok_max", T.IntegerType()),
]))
def token_stats_udf(tokens: pd.Series) -> pd.DataFrame:
    """Vectorized per-batch token statistics over array<int32>.

    Arrow hands the list column to pandas as a Series of numpy arrays;
    the loop below is over *rows within one Arrow batch* but operates on
    whole numpy arrays per element (no per-token Python). Used for the
    deep-validation path and as the proof that list<int32> round-trips
    Arrow without widening (tested with exact dtype asserts).
    """
    import numpy as np

    n = len(tokens)
    valid = np.zeros(n, dtype=bool)
    n_tok = np.zeros(n, dtype="int32")
    tmin = np.zeros(n, dtype="int32")
    tmax = np.zeros(n, dtype="int32")
    for i, arr in enumerate(tokens.values):
        if arr is None or len(arr) == 0:
            continue
        a = np.asarray(arr)
        n_tok[i] = len(a)
        tmin[i] = a.min()
        tmax[i] = a.max()
        valid[i] = bool((a >= 0).all() and (a < VOCAB_SIZE).all())
    return pd.DataFrame(
        {"valid": valid, "n_tok": n_tok, "tok_min": tmin, "tok_max": tmax}
    )
