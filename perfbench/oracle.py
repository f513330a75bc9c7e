"""Independent correctness oracles (DuckDB, no Spark).

- Change-log oracle: a last-writer-wins replay of base + WAL with the
  validity rules of ``tests/oracle.py`` (null key, an op outside I/U/D, or
  an I/U whose tokens are null, empty, longer than 4096 or outside the
  vocabulary is never applied; ``n_tok`` is recomputed as ``len(tokens)``).
  The engine's state is compared row by row, token lists included.
- Query oracle: each headline query against its ``queries.ORACLES`` SQL by
  row count and an order-insensitive hash of the canonical rows, the
  comparison the repo's oracle parity test makes.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

VOCAB = 50257
MAX_TOKENS = 4096


def _q(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


class ChangeLogOracle:
    """Expected table states for a base table plus WAL segments.

    ``state(max_epoch)`` names a DuckDB view holding the expected state
    after every segment with epoch <= ``max_epoch`` has applied."""

    def __init__(self, base_dir: str, wal_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            "CREATE VIEW base AS SELECT doc_id, tokens, n_tok, source "
            f"FROM read_parquet({_q(base_dir + '/*.parquet')})"
        )
        env = self.con.execute(
            "SELECT * FROM read_parquet("
            f"{_q(wal_dir + '/epoch-*/*.parquet')}, union_by_name=true) "
            "LIMIT 0"
        )
        self.has_lang = "lang" in [d[0] for d in env.description]
        lang = "lang" if self.has_lang else "NULL::VARCHAR AS lang"
        self.con.execute(f"""
            CREATE VIEW valid AS
            SELECT lsn, epoch, op, doc_id, tokens,
                   CASE WHEN op = 'D' THEN NULL ELSE len(tokens)::INT END
                       AS n_tok,
                   source, {lang}
            FROM read_parquet({_q(wal_dir + '/epoch-*/*.parquet')},
                              union_by_name=true)
            WHERE doc_id IS NOT NULL AND op IN ('I', 'U', 'D')
              AND (op = 'D' OR (tokens IS NOT NULL
                   AND len(tokens) BETWEEN 1 AND {MAX_TOKENS}
                   AND list_bool_and(list_transform(tokens,
                       x -> x IS NOT NULL AND x >= 0 AND x < {VOCAB}))))
        """)
        self._views: dict[int, str] = {}

    def state(self, max_epoch: int) -> str:
        name = self._views.get(max_epoch)
        if name is not None:
            return name
        name = f"state_{max_epoch}"
        self.con.execute(f"""
            CREATE TABLE {name} AS
            WITH w AS (
              SELECT * FROM valid WHERE epoch <= {max_epoch}
              QUALIFY row_number() OVER (
                  PARTITION BY doc_id ORDER BY lsn DESC) = 1
            )
            SELECT doc_id, tokens, n_tok, source, lang FROM w
            WHERE op <> 'D'
            UNION ALL
            SELECT doc_id, tokens, n_tok, source, NULL::VARCHAR AS lang
            FROM base WHERE doc_id NOT IN (SELECT doc_id FROM w)
        """)
        self._views[max_epoch] = name
        return name

    def compare_table(self, max_epoch: int, actual_dir: str) -> list[str]:
        """Problems found comparing the exported engine state with the
        expected state; empty when they are equal."""
        exp = self.state(max_epoch)
        act = f"read_parquet({_q(actual_dir + '/*.parquet')})"
        cols = [d[0] for d in self.con.execute(
            f"SELECT * FROM {act} LIMIT 0").description]
        lang = "a.lang" if "lang" in cols else "NULL::VARCHAR"
        problems = []
        n, k = self.con.execute(
            f"SELECT count(*), count(DISTINCT doc_id) FROM {act}").fetchone()
        if n != k:
            problems.append(f"{n - k} duplicate keys in the table")
        diff = self.con.execute(f"""
            SELECT count(*) FILTER (WHERE a.doc_id IS NULL),
                   count(*) FILTER (WHERE e.doc_id IS NULL),
                   count(*) FILTER (WHERE a.doc_id IS NOT NULL
                       AND e.doc_id IS NOT NULL AND (
                       e.tokens IS DISTINCT FROM a.tokens
                       OR e.n_tok IS DISTINCT FROM a.n_tok
                       OR e.source IS DISTINCT FROM a.source
                       OR e.lang IS DISTINCT FROM {lang}))
            FROM {exp} e FULL OUTER JOIN {act} a ON e.doc_id = a.doc_id
        """).fetchone()
        for what, c in zip(("missing", "unexpected", "differing"), diff):
            if c:
                problems.append(f"{c} {what} rows")
        return problems

    def rows_for(self, max_epoch: int, keys: list[str]) -> dict[str, tuple]:
        exp = self.state(max_epoch)
        self.con.execute("CREATE OR REPLACE TEMP TABLE probe (k VARCHAR)")
        self.con.executemany("INSERT INTO probe VALUES (?)",
                             [(k,) for k in keys])
        rows = self.con.execute(
            f"SELECT doc_id, tokens, n_tok, source, lang FROM {exp} "
            "WHERE doc_id IN (SELECT k FROM probe)").fetchall()
        return {r[0]: tuple(r[1:]) for r in rows}

    def scan_aggregate(self, max_epoch: int) -> tuple:
        """Same aggregate ``scan_aggregate_columns`` computes in Spark."""
        exp = self.state(max_epoch)
        return tuple(int(v) if v is not None else None
                     for v in self.con.execute(f"""
            SELECT count(*), sum(n_tok), sum(list_sum(tokens)),
                   count(source), count(lang), sum(len(doc_id))
            FROM {exp}""").fetchone())

    def change_counts(self, from_epoch: int, to_epoch: int) -> dict[str, int]:
        """Net I/U/D counts between two states (the change feed's rows)."""
        s1, s2 = self.state(from_epoch), self.state(to_epoch)
        rows = self.con.execute(f"""
            SELECT CASE WHEN o.doc_id IS NULL THEN 'I'
                        WHEN n.doc_id IS NULL THEN 'D' ELSE 'U' END AS op,
                   count(*)
            FROM {s1} o FULL OUTER JOIN {s2} n ON o.doc_id = n.doc_id
            WHERE o.doc_id IS NULL OR n.doc_id IS NULL
               OR o.tokens IS DISTINCT FROM n.tokens
               OR o.n_tok IS DISTINCT FROM n.n_tok
               OR o.source IS DISTINCT FROM n.source
               OR o.lang IS DISTINCT FROM n.lang
            GROUP BY 1""").fetchall()
        return {op: int(c) for op, c in rows}

    def close(self) -> None:
        self.con.close()


def scan_aggregate_columns(has_lang: bool):
    """Spark aggregate over every table column; see ``scan_aggregate``."""
    from pyspark.sql import functions as F

    lang = F.col("lang") if has_lang else F.lit(None).cast("string")

    return [
        F.count(F.lit(1)),
        F.sum("n_tok"),
        F.sum(F.aggregate("tokens", F.lit(0).cast("long"),
                          lambda acc, x: acc + x)),
        F.count("source"),
        F.count(lang),
        F.sum(F.length("doc_id")),
    ]


# ---------------------------------------------------------------------
# query oracle
# ---------------------------------------------------------------------

QUERY_TABLES = ["region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(tbl) -> tuple[list[str], int, str]:
    """(sorted column names, row count, order-insensitive row hash)."""
    cols = sorted(tbl.column_names)
    tbl = tbl.select(cols)
    rows = []
    for r in zip(*(tbl.column(c).to_pylist() for c in cols)):
        rows.append(repr(tuple(
            "NaN" if isinstance(v, float) and math.isnan(v) else v
            for v in r)))
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return cols, len(rows), h


class QueryOracle:
    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in QUERY_TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet({_q(p)})")

    def compare(self, sql: str, spark_arrow) -> list[str]:
        s_cols, s_n, s_h = _canon(spark_arrow)
        d_cols, d_n, d_h = _canon(self.con.execute(sql).arrow())
        if s_cols != d_cols:
            return [f"columns {s_cols} != oracle {d_cols}"]
        if s_n != d_n:
            return [f"{s_n} rows != oracle {d_n}"]
        if s_h != d_h:
            return ["row values differ from the oracle"]
        return []

    def close(self) -> None:
        self.con.close()
