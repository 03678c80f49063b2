"""Expected results and output readers for the benchmark's correctness
checks. Query results are compared with `compare` from
`tools/check_oracle.py`, the repo's own DuckDB-oracle comparison."""
import glob
import gzip
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from check_oracle import TABLES, compare  # noqa: E402,F401


def expected_frames(data_dir, oracle, cache_dir):
    """Each oracle query's DuckDB result over `data_dir`, cached per
    (query, SQL text). The cache is pickled so a frame comes back with
    exactly the dtypes and values DuckDB returned."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{name}.{key}.pkl")
        if os.path.exists(cached):
            out[name] = pd.read_pickle(cached)
            continue
        if con is None:
            con = duckdb.connect()
            con.execute(f"SET threads TO {min(4, os.cpu_count() or 1)}")
            for t in TABLES:
                p = os.path.join(data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out[name] = con.execute(sql).fetchdf()
        out[name].to_pickle(cached + ".tmp")
        os.replace(cached + ".tmp", cached)
    return out


def spark_frame(result_dir):
    """A query result the harness wrote, read as check_oracle reads
    graft.Verify's output; None when there is none."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def landed_keys(landing_dir, compacted_dir):
    """(client_id, count) of every record in the landing store: the small
    JSON files still waiting for compaction plus the compacted files."""
    files = (glob.glob(os.path.join(landing_dir, "*.json"))
             + glob.glob(os.path.join(compacted_dir, "*", "*.json*")))
    out = []
    for f in files:
        with (gzip.open(f, "rt") if f.endswith(".gz") else open(f)) as fh:
            for line in fh:
                if line.strip():
                    r = json.loads(line)
                    out.append((r.get("client_id"), r.get("count")))
    return out
