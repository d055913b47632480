"""DuckDB comparison of dumped query results against each query's oracle SQL.

The rules are those of the repository's `tools/check.py`: every fixture
parquet file is a DuckDB view; the oracle SQL runs over them; both sides get
their columns sorted by name and their rows sorted by every column; values
must be equal exactly (NULL equals NULL) and each column's dtype kind must
match (int vs float vs object...), with timestamps compared as naive UTC.

DuckDB's answer depends only on the oracle SQL, the fixture and DuckDB's
version, so it is kept in `cache_dir` under a hash of the three and computed
once per checkout.
"""
import glob
import hashlib
import json
import os
import pickle


def compare(fixture_dir, dump_dir, names, cache_dir):
    """Return a list of failure messages (empty when every query matches)."""
    import duckdb
    import pandas as pd

    con = None
    fixtures = sorted(glob.glob(os.path.join(fixture_dir, "*.parquet")))
    base = hashlib.sha256(duckdb.__version__.encode())
    for f in fixtures:
        with open(f, "rb") as fh:
            base.update(fh.read())
    os.makedirs(cache_dir, exist_ok=True)
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    failures = []
    for name in sorted(names):
        key = base.copy()
        key.update(str(oracle.get(name)).encode())
        cached = os.path.join(cache_dir, key.hexdigest() + ".pkl")
        if os.path.isfile(cached):
            with open(cached, "rb") as fh:
                exp = pickle.load(fh)
        else:
            if con is None:
                con = duckdb.connect()
                for f in fixtures:
                    table = os.path.basename(f)[: -len(".parquet")]
                    con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{f}')")
            try:
                exp = con.execute(oracle[name]).df()
            except Exception as e:  # noqa: BLE001 - reported, not raised
                failures.append(f"{name}: oracle error: {e}")
                continue
            with open(cached + ".tmp", "wb") as fh:
                pickle.dump(exp, fh)
            os.replace(cached + ".tmp", cached)
        parts = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
        if not parts:
            failures.append(f"{name}: no result written")
            continue
        got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        msg = _diff(exp, got)
        if msg:
            failures.append(f"{name}: {msg}")
    if con is not None:
        con.close()
    return failures


def _diff(exp, got):
    import pandas as pd

    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)}, expected {list(exp.columns)}"
    if len(exp) != len(got):
        return f"{len(got)} rows, expected {len(exp)}"
    exp = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(list(got.columns)).reset_index(drop=True)
    for c in exp.columns:
        e, g = exp[c], got[c]
        if pd.api.types.is_datetime64_any_dtype(e) or pd.api.types.is_datetime64_any_dtype(g):
            e = pd.to_datetime(e, utc=True).dt.tz_localize(None)
            g = pd.to_datetime(g, utc=True).dt.tz_localize(None)
        elif e.dtype.kind != g.dtype.kind:
            return f"column {c} dtype {g.dtype}, expected {e.dtype}"
        try:
            same = (e.isna() & g.isna()) | (e == g)
        except Exception:  # noqa: BLE001 - unhashable/array cells
            same = e.astype(str) == g.astype(str)
        if not bool(same.all()):
            i = int((~same).to_numpy().nonzero()[0][0])
            return f"column {c} row {i}: {g.iloc[i]!r}, expected {e.iloc[i]!r}"
    return None
