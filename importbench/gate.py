"""The correctness gate: tenant tables as the sink left them against the
oracle tables of ``corpus.Corpus.expected``.

Values are compared in one canonical text form (numbers to four decimals),
because sqlite and DuckDB return the same value as different Python types.
A row is matched on its table's key; rows found on one side only are
``missing`` or ``unexpected``, and rows whose key matches but whose values
differ are counted per column.
"""

from __future__ import annotations

import sqlite3
from decimal import Decimal

import pandas as pd

from ph_ee_nats_importer_rdbms_spark.sinks.jdbc import TABLES

#: row identity per sink table, ``tenant`` included: a row in the wrong
#: tenant's database is both missing and unexpected
KEYS = {
    "ph_transfers": ("tenant", "workflow_instance_key"),
    "ph_transaction_requests": ("tenant", "workflow_instance_key"),
    "ph_batches": ("tenant", "workflow_instance_key"),
    "ph_tasks": ("tenant", "workflow_instance_key", "element_id", "intent"),
    "ph_variables": ("tenant", "workflow_instance_key", "name", "timestamp"),
}


def _canon(v):
    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
        return f"{float(v):.4f}"
    return str(v)


def _canonical(df: pd.DataFrame, table: str) -> pd.DataFrame:
    cols = ["tenant", *TABLES[table][0]]
    return pd.DataFrame({c: [_canon(v) for v in df[c].astype(object)] for c in cols})


def read_tables(conns: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Every sink table of every tenant database, with a ``tenant`` column."""
    out = {}
    for table, (cols, _) in TABLES.items():
        frames = []
        for tenant, path in sorted(conns.items()):
            con = sqlite3.connect(path)
            try:
                rows = con.execute(f"SELECT {', '.join(cols)} FROM {table}").fetchall()
            finally:
                con.close()
            df = pd.DataFrame(rows, columns=list(cols), dtype=object)
            df.insert(0, "tenant", tenant)
            frames.append(df)
        out[table] = pd.concat(frames, ignore_index=True)
    return out


def diff(observed: dict, expected: dict, samples: int = 3) -> dict:
    """{table: {"missing": n, "unexpected": n, "columns": {col: n},
    "rows": [...]}} for every table that differs; {} when all agree."""
    report = {}
    for table in TABLES:
        got, want = _canonical(observed[table], table), _canonical(expected[table], table)
        key = list(KEYS[table])
        m = got.merge(want, on=key, how="outer", suffixes=("", "_want"), indicator=True)
        missing = m[m["_merge"] == "right_only"]
        unexpected = m[m["_merge"] == "left_only"]
        both = m[m["_merge"] == "both"]
        columns, differing = {}, {}
        for c in got.columns:
            if c in key:
                continue
            a, b = both[c], both[c + "_want"]
            neq = ~((a == b) | (a.isna() & b.isna()))
            if neq.any():
                columns[c] = int(neq.sum())
                differing[c] = neq
        # duplicated keys on either side are a difference the merge hides
        dups = int(got.duplicated(key).sum()) - int(want.duplicated(key).sum())
        if len(missing) or len(unexpected) or columns or dups:
            rows = []
            for c, neq in differing.items():
                for _, r in both[neq].head(samples).iterrows():
                    rows.append({**{k: r[k] for k in key}, "column": c,
                                 "got": r[c], "want": r[c + "_want"]})
            report[table] = {
                "missing": len(missing),
                "unexpected": len(unexpected),
                "duplicate_keys": dups,
                "columns": columns,
                "rows": rows,
            }
    return report


def corrupted(tables: dict[str, pd.DataFrame]) -> dict[str, pd.DataFrame]:
    """A copy of ``tables`` with one cell of one entity row changed: the
    self-check the gate must fail."""
    out = {t: df.copy() for t, df in tables.items()}
    for table in ("ph_transfers", "ph_batches", "ph_transaction_requests"):
        df = out[table]
        if len(df):
            col = "batch_id" if table != "ph_transaction_requests" else "transaction_id"
            df.loc[df.index[0], col] = "corrupted"
            return out
    raise ValueError("no entity row to corrupt")
