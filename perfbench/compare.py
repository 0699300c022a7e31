"""Result checks for the benchmark, made the way scripts/check.py compares
the engine with its DuckDB oracle: columns sorted by name, rows in the
order emitted (every op ends in an ORDER BY), integer and float kinds
must agree, floats compared bit for bit as float64, everything else as
text. An empty result fails: it would match an empty oracle vacuously."""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("events", "documents", "embeddings")


def norm(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
    return df


def compare(got, want):
    """(ok, detail) for two result DataFrames."""
    got, want = norm(got), norm(want)
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    if len(got) == 0:
        return False, "zero rows"
    for c in got.columns:
        g, w = got[c], want[c]
        if (pd.api.types.is_float_dtype(g) != pd.api.types.is_float_dtype(w)
                or pd.api.types.is_integer_dtype(g)
                != pd.api.types.is_integer_dtype(w)):
            return False, f"column {c}: dtype {g.dtype} != {w.dtype}"
        if pd.api.types.is_float_dtype(g):
            bad = (g.astype(np.float64).to_numpy().view(np.uint64)
                   != w.astype(np.float64).to_numpy().view(np.uint64))
        else:
            bad = (g.astype(str) != w.astype(str)).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            return False, (f"column {c} row {i}: {g.iloc[i]!r} != "
                           f"{w.iloc[i]!r} ({int(bad.sum())} differ)")
    return True, ""


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no result parquet under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def components(pairs):
    """Connected components of an undirected pair list, as the registry's
    dedup_components defines them: every node in a pair, labelled with the
    smallest node id reachable from it, plus its component's size."""
    parent = {}

    def root(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(int(a)), root(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = sorted(parent)
    label = {n: root(n) for n in nodes}
    size = {}
    for lab in label.values():
        size[lab] = size.get(lab, 0) + 1
    return pd.DataFrame({
        "doc_id": np.array(nodes, dtype=np.int64),
        "component_id": np.array([label[n] for n in nodes], dtype=np.int64),
        "component_size": np.array([size[label[n]] for n in nodes],
                                   dtype=np.int64),
    })


class Oracles:
    """DuckDB answers of the oracle queries an op list needs, over the run's
    generated input files. The oracle file maps each answer's name to its
    SQL and the input subdirectory it runs on. `compute` may run in a
    thread while the bench JVM finishes its untimed checks."""

    def __init__(self, oracle_json, inputs_dir):
        with open(oracle_json) as f:
            self.queries = json.load(f)
        self.inputs_dir = inputs_dir
        self.answers = {}

    def compute(self):
        for name, q in sorted(self.queries.items()):
            con = duckdb.connect()
            con.execute("SET threads TO 4")
            for t in TABLES:
                p = os.path.join(self.inputs_dir, q["dir"], f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{p}')")
            self.answers[name] = con.execute(q["sql"]).fetchdf()
            con.close()
        return self


def check_all(checks, check_dir, oracles):
    """Check every op. `checks` maps op name to (how, oracle answer name)
    with how in twin / oracle / components; returns {op: (ok, detail)}."""
    out = {}
    for op, (how, key) in sorted(checks.items()):
        try:
            got = read_result(os.path.join(check_dir, op, "got"))
            if how == "twin":
                want = read_result(os.path.join(check_dir, op, "want"))
            elif how == "oracle":
                want = oracles.answers[key]
            elif how == "components":
                pairs = oracles.answers[key]
                want = components(zip(pairs["d1"], pairs["d2"]))
            else:
                raise ValueError(f"unknown check {how}")
            out[op] = compare(got, want)
        except Exception as e:  # a check that cannot run is a failure
            out[op] = (False, f"{type(e).__name__}: {str(e)[:300]}")
    return out
