"""Seeded input generators: the load generator, independent of the engine.

Everything here is NumPy + PyArrow; nothing imports the engine package, so
the program under test only ever sees the parquet files written here.

- ``write_base`` / ``write_segment``: the change-log fixture. The mix mirrors
  the engine's own datagen defaults: 20% of changes on 2 hot keys, 30% new
  keys, 10% deletes, 1% invalid envelopes (null key, bad op or empty
  tokens), 10% null-or-wrong ``n_tok``, and an optional ``lang`` column
  from a given segment on (additive schema evolution).
- ``write_query_tables``: the TPC-H-shaped star schema plus the events,
  documents and embeddings tables the headline queries read, at a scale
  factor ``sf`` (sf=1 would hold 6M lineitem rows).

The base and every segment are written as ``FILES_PER_DIR`` files, so
Spark scans them with that many tasks whatever the machine; each query
table is one ``<name>.parquet`` file, the layout the queries read.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = ["web", "books", "code", "wiki"]
LANGS = ["en", "de", "fr", "es", "zh"]
FILES_PER_DIR = 4
TS0 = 1704067200  # 2024-01-01T00:00:00Z; envelope ts = TS0 + lsn seconds


def _write_dir(table: pa.Table, out_dir: str, success: bool = True) -> int:
    """Write ``table`` as FILES_PER_DIR parquet files; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    step = -(-n // FILES_PER_DIR) if n else 1
    size = 0
    for i in range(FILES_PER_DIR):
        part = table.slice(i * step, step)
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(part, path, compression="snappy")
        size += os.path.getsize(path)
    if success:
        open(os.path.join(out_dir, "_SUCCESS"), "w").close()
    return size


def _tokens(rng: np.random.Generator, n: int, max_len: int) -> pa.ListArray:
    lengths = rng.integers(1, max_len + 1, size=n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    values = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def doc_ids(idx: np.ndarray) -> list[str]:
    return [f"doc_{i:09d}" for i in idx.tolist()]


def base_table(seed: int, n: int, max_len: int) -> pa.Table:
    rng = np.random.default_rng([seed, 0])
    toks = _tokens(rng, n, max_len)
    src = np.array(SOURCES, dtype=object)[rng.integers(0, len(SOURCES), n)]
    return pa.table({
        "doc_id": pa.array(doc_ids(np.arange(n)), pa.string()),
        "tokens": toks,
        "n_tok": pa.array(np.diff(toks.offsets.to_numpy()).astype(np.int32)),
        "source": pa.array(src, pa.string()),
    })


def write_base(out_dir: str, seed: int, n: int, max_len: int) -> int:
    return _write_dir(base_table(seed, n, max_len), out_dir, success=False)


def segment_table(
    seed: int, epoch: int, n: int, base_n: int, stride: int, max_len: int,
    hot_key_frac: float = 0.20, num_hot_keys: int = 2,
    new_key_frac: float = 0.30, delete_frac: float = 0.10,
    invalid_frac: float = 0.01, bad_ntok_frac: float = 0.10,
    with_lang: bool = False,
) -> pa.Table:
    """One WAL segment of ``n`` envelopes; lsn = epoch * stride + row, so
    lsn grows with epoch whatever each segment's size (n <= stride)."""
    if n > stride:
        raise ValueError(f"segment of {n} rows exceeds lsn stride {stride}")
    rng = np.random.default_rng([seed, 1, epoch])
    row = np.arange(n, dtype=np.int64)
    lsn = epoch * stride + row
    u = rng.random((6, n))
    is_hot = u[0] < hot_key_frac
    is_new = u[1] < new_key_frac
    key = np.where(
        is_hot, rng.integers(0, num_hot_keys, n),
        np.where(is_new, base_n + lsn, rng.integers(0, base_n, n)),
    )
    is_del = u[2] < delete_frac
    op = np.where(is_del, "D", np.where(u[3] < 0.5, "I", "U")).astype(object)

    is_inv = u[5] < invalid_frac
    inv_kind = rng.integers(0, 3, n)
    key_null = is_inv & (inv_kind == 0)
    op = np.where(is_inv & (inv_kind == 1), "X", op)
    empty = is_inv & (inv_kind == 2) & ~is_del

    lengths = np.where(empty | is_del, 0, rng.integers(1, max_len + 1, n))
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    values = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    toks = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values),
                                    mask=pa.array(is_del))
    bad = u[4]
    n_tok = np.where(bad < bad_ntok_frac / 2, -1,
                     np.where(bad < bad_ntok_frac, lengths + 7, lengths))
    n_tok_null = is_del | (n_tok == -1)
    source = np.array(SOURCES, dtype=object)[rng.integers(0, len(SOURCES), n)]
    ids = np.array(doc_ids(key), dtype=object)
    cols = {
        "lsn": pa.array(lsn, pa.int64()),
        "epoch": pa.array(np.full(n, epoch, dtype=np.int32)),
        "op": pa.array(op, pa.string()),
        "doc_id": pa.array(ids, pa.string(), mask=key_null),
        "tokens": toks,
        "n_tok": pa.array(n_tok.astype(np.int32), pa.int32(),
                          mask=n_tok_null),
        "source": pa.array(source, pa.string(), mask=is_del),
        "ts": pa.array((TS0 + lsn) * 1_000_000, pa.timestamp("us", "UTC")),
    }
    if with_lang:
        lang = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)]
        cols["lang"] = pa.array(lang, pa.string(), mask=is_del | is_inv)
    return pa.table(cols)


def write_segment(out_dir: str, table: pa.Table) -> int:
    return _write_dir(table, out_dir, success=True)


# ---------------------------------------------------------------------
# query-suite tables
# ---------------------------------------------------------------------

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_P_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array((base + d).astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def query_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    n_li = int(6_000_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(20, int(15_000 * sf))
    n_docs = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    i32 = np.int32
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(
                ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
                 "HOUSEHOLD"], dtype=object)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(
                ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"],
                dtype=object)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10,
                                      2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["O", "F", "P"], dtype=object)[
                rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1),
                                 dt.date(2001, 8, 1)),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"], dtype=object)[rng.integers(0, 5, n_ord)],
        }),
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(i32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[
            rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"], dtype=object)[
            rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2),
                            dt.date(2001, 11, 4)),
    })
    # events: ts ascending with event_id over 30 days
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts0 + (secs * 1e6).astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(
            ["view", "click", "purchase", "signup", "error"],
            dtype=object)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word streams; every 20th doc repeats its
    # predecessor's text plus a marker word (near-duplicates for dedup)
    words = np.array(_WORDS, dtype=object)
    texts = []
    for i in range(n_docs):
        if i % 20 == 11 and texts:
            texts.append(texts[-1] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(10, 101))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "fr", "es", "zh"], dtype=object)[
            rng.integers(0, 6, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(i32)),
    })
    return out


def write_query_tables(sf_dir: str, seed: int, sf: float) -> dict[str, int]:
    """One ``<name>.parquet`` file per table (the layout the queries read);
    returns rows per table."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, t in query_tables(seed, sf).items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
