"""DuckDB oracle gate for one benchmark run.

The engine's registered oracle SQL for every name the run used is in
`result.json`. It runs here over views named after the fixture tables,
like tools/check.py. A drop's summary rows (zone, row count, exact
integer digest) are compared with every timed drop. A query's result
from the set-up pass (written as parquet) is compared after sorting
columns by name: same shape, same numeric family per column, and exact
values. The timed runs of that query were compared with the set-up
result in the JVM.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(fixture):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    return con


def _same_frame(got, exp):
    got = got[sorted(got.columns)].reset_index(drop=True)
    exp = exp[sorted(exp.columns)].reset_index(drop=True)
    if list(got.columns) != list(exp.columns) or got.shape != exp.shape:
        return False
    for c in got.columns:
        g, e = got[c], exp[c]
        gk, ek = getattr(g.dtype, "kind", "O"), getattr(e.dtype, "kind", "O")
        ints, nums = {"i", "u"}, {"i", "u", "f"}
        if (gk in ints) != (ek in ints) or (gk in nums) != (ek in nums):
            return False
        if gk == "f" or ek == "f":
            ga, ea = g.to_numpy(dtype=float), e.to_numpy(dtype=float)
            if not ((ga == ea) | (np.isnan(ga) & np.isnan(ea))).all():
                return False
        elif not ((g.astype(str) == e.astype(str)) | (g.isna() & e.isna())).all():
            return False
    return True


def check(res, fixture, out):
    """{name: passes the oracle} for every name in the run."""
    con = _connect(fixture)
    verdicts = {}
    for name, sql in res["oracle_sql"].items():
        try:
            if name == "pipeline_end_to_end":
                want = [[str(v) for v in r] for r in con.execute(sql).fetchall()]
                runs = [u["rows"] for u in res["units"] if u["name"] == name]
                verdicts[name] = bool(runs) and all(r == want for r in runs)
            else:
                files = sorted(glob.glob(os.path.join(out, "check", name, "*.parquet")))
                got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
                verdicts[name] = got is not None and _same_frame(got, con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            print(f"oracle error {name}: {e}")
            verdicts[name] = False
    return verdicts
