"""Compare the curation workload's outputs with each query's DuckDB
oracle over the same generated parquet files. Normalisation follows
the repository's ``tools/check_oracle.py``: columns sorted by name,
rows sorted, values compared exactly."""
import json
import os

import duckdb
import pandas as pd

TABLES = ("documents", "embeddings")


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(got, want):
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in want.columns:
        a, b = got[c], want[c]
        try:
            if bool(((a.isna() & b.isna()) | (a == b)).all()):
                continue
        except (TypeError, ValueError):
            pass
        if not a.astype(str).equals(b.astype(str)):
            return False
    return True


def compare(raw, data_dir):
    """Returns ``(checked, failed, notes)`` over the queries that have
    an oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    checked = failed = 0
    notes = []
    for name, sql in sorted(raw["detail"]["oracle"].items()):
        if sql is None:
            continue
        checked += 1
        path = os.path.join(raw["detail"]["outputs"], name + ".json")
        try:
            with open(path) as f:
                out = json.load(f)
            got = _norm(pd.DataFrame(out["rows"], columns=out["columns"]))
            want = _norm(con.execute(sql).df())
            if not _same(got, want):
                failed += 1
                notes.append(f"oracle mismatch: {name} ({len(got)} rows vs "
                             f"{len(want)} oracle rows)")
        except Exception as e:  # a missing output or a failing oracle
            failed += 1
            notes.append(f"oracle error: {name}: {type(e).__name__}: {e}")
    return checked, failed, notes
