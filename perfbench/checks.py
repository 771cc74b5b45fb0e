"""Output checks, one per workload. Each returns the problems found, the
number of operations they make wrong, and the per-layer numbers that are
read off the outputs (file counts and sizes)."""
import glob
import json
import math
import os
import urllib.parse
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow.orc as orc
import pyarrow.parquet as pq

import gen

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "documents", "embeddings"]
LINE_COLS = [f.name for f in gen.LINEITEM_SCHEMA]


@dataclass
class Check:
    problems: list = field(default_factory=list)
    failed: int = 0
    layers: dict = field(default_factory=dict)


def manifest_files(table):
    """Data files the `_spark_metadata` manifest commits, read independently
    of the engine: the latest compact file plus the deltas after it."""
    meta = os.path.join(table, "_spark_metadata")
    logs = {}
    for name in os.listdir(meta):
        if name.startswith("."):
            continue
        logs[int(name.split(".")[0])] = name
    last_compact = max([b for b, n in logs.items() if n.endswith(".compact")], default=-1)
    live = {}
    for b in sorted(logs):
        if b < last_compact:
            continue
        with open(os.path.join(meta, logs[b])) as f:
            lines = f.read().splitlines()[1:]
        for line in lines:
            e = json.loads(line)
            path = urllib.parse.unquote(urllib.parse.urlparse(e["path"]).path)
            if e.get("action", "add") == "add":
                live[path] = e["size"]
            else:
                live.pop(path, None)
    return live


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)


def row_hash(df):
    """Order-independent multiset signature: count and two wrapping sums of
    per-row hashes."""
    df = df[LINE_COLS].copy()
    df["l_shipdate"] = df["l_shipdate"].astype("datetime64[us]").astype("int64")
    h1 = pd.util.hash_pandas_object(df, index=False).to_numpy()
    h2 = pd.util.hash_pandas_object(df, index=False, hash_key="perfbench-second").to_numpy()
    return len(df), int(h1.sum(dtype=np.uint64)), int(h2.sum(dtype=np.uint64))


def check_ingest(res, inputs, work):
    c = Check()
    table = res["table"]
    live = manifest_files(table)
    on_disk = {p for p in glob.glob(os.path.join(table, "**", "*.orc"), recursive=True)}
    missing = [p for p in live if p not in on_disk]
    orphans = on_disk - set(live)
    if missing:
        c.problems.append(f"ingest: {len(missing)} committed files are missing")
    if orphans:
        c.problems.append(f"ingest: {len(orphans)} data files outside the manifest")
    frames, misplaced = [], 0
    for path in sorted(live):
        if path not in on_disk:
            continue
        t = orc.read_table(path).to_pandas()
        bucket = os.path.basename(os.path.dirname(path)).partition("bucket=")[2]
        want = t["l_returnflag"] + "_" + t["l_shipdate"].dt.strftime("%Y-%m")
        misplaced += int((want != bucket).sum())
        frames.append(t)
    got = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=LINE_COLS)
    if misplaced:
        c.problems.append(f"ingest: {misplaced} rows sit in the wrong bucket")
    offered = pq.read_table(os.path.join(inputs, "ingest_stream.parquet")).to_pandas()
    offered = offered[offered["trigger"] < res["triggers_committed"]]
    if row_hash(got) != row_hash(offered):
        c.problems.append(f"ingest: committed rows ({len(got)}) differ from offered ({len(offered)})")
    bad = len(c.problems) > 0
    c.failed = int(res["errors"]) + (int(res["attempted"]) if bad else 0)
    n_trig = max(1, res["triggers_committed"])
    c.layers = {
        "sink.files_per_trigger": len(live) / n_trig,
        "sink.bytes_per_row": sum(live.values()) / max(1, len(got)),
        "sink.manifest_bytes": dir_bytes(os.path.join(table, "_spark_metadata")),
        "sink.committed_per_offered": len(got) / max(1, len(offered)),
    }
    return c


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    keys = [k for k in df.columns
            if not df[k].map(lambda v: isinstance(v, (list, np.ndarray))).any()]
    if keys:
        df = df.sort_values(keys, kind="mergesort").reset_index(drop=True)
    return df


def same_cell(a, b):
    if isinstance(a, (list, np.ndarray)) or isinstance(b, (list, np.ndarray)):
        if a is None or b is None:
            return a is b
        return len(a) == len(b) and all(same_cell(x, y) for x, y in zip(a, b))
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
        return pd.isna(a) and pd.isna(b)
    return a == b


def compare(got, exp):
    """Shape, dtypes and every value, exactly, after sorting columns by name
    and rows by every scalar column."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for k in got.columns:
        if str(got[k].dtype) != str(exp[k].dtype):
            return f"dtype of {k}: {got[k].dtype} != {exp[k].dtype}"
        for i, (a, b) in enumerate(zip(got[k].tolist(), exp[k].tolist())):
            if not same_cell(a, b):
                return f"{k}[{i}]: {a!r} != {b!r}"
    return None


def check_queries(res, inputs, work):
    c = Check()
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    bad = set(res["failed_queries"])
    for name, why in res["failed_queries"].items():
        c.problems.append(f"{name}: {why}")
    # the passes before and after the measured ones both wrote their results
    for name in res["mix"]:
        exp = con.sql(res["oracle"][name]).df() if name in res["oracle"] else None
        for d in res["result_dirs"]:
            if name in bad:
                break
            got = con.sql(f"SELECT * FROM '{work}/{d}/{name}/*.parquet'").df()
            why = ("empty result (rows-only check)" if len(got) == 0 else None) \
                if exp is None else compare(got, exp)
            if why:
                bad.add(name)
                c.problems.append(f"{name} ({d}): {why}")
    passes = int(res["attempted"]) // max(1, len(res["mix"]))
    c.failed = max(int(res["errors"]), passes * len(bad))
    return c


def check_maintain(res, inputs, work):
    c = Check()
    con = duckdb.connect()
    cols = ", ".join(LINE_COLS)
    with open(os.path.join(inputs, "maintain_params.json")) as f:
        p = json.load(f)
    con.sql(f"CREATE TABLE s0 AS SELECT {cols} FROM '{inputs}/maintain_rows.parquet'")
    con.sql(f"CREATE TABLE up AS SELECT {cols} FROM '{inputs}/maintain_upsert.parquet'")
    con.sql("CREATE TABLE s1 AS SELECT * FROM s0")
    con.sql(f"CREATE TABLE s2 AS SELECT * FROM s1 WHERE NOT (l_orderkey >= {p['delete_lo']} "
            f"AND l_orderkey < {p['delete_hi']})")
    upd = ", ".join(f"l_quantity + 1.0 AS l_quantity" if k == "l_quantity" else k for k in LINE_COLS)
    con.sql(f"CREATE TABLE s3 AS SELECT {upd} FROM s2 WHERE l_orderkey >= {p['update_lo']} "
            f"AND l_orderkey < {p['update_hi']} UNION ALL SELECT * FROM s2 "
            f"WHERE NOT (l_orderkey >= {p['update_lo']} AND l_orderkey < {p['update_hi']})")
    con.sql("CREATE TABLE s4 AS SELECT * FROM s3 WHERE (l_orderkey, l_linenumber) NOT IN "
            "(SELECT (l_orderkey, l_linenumber) FROM up) UNION ALL SELECT * FROM up")
    agg = ("count(*)::BIGINT, sum(round(l_quantity * 100)::BIGINT), "
           "sum(round(l_extendedprice * 100)::BIGINT), sum(round(l_tax * 100)::BIGINT)")
    expected = {}
    for step, state in enumerate(["s1", "s2", "s3", "s4"]):
        expected[(step, "pruned")] = [list(r) for r in con.sql(
            f"SELECT {agg} FROM {state} WHERE l_returnflag = 'R' "
            f"AND l_orderkey < {res['pruned_keys']}").fetchall()]
        expected[(step, "full")] = [list(r) for r in con.sql(
            f"SELECT l_returnflag, {agg} FROM {state} GROUP BY 1 ORDER BY 1").fetchall()]
    wrong = 0
    for r in res["reads"]:
        exp = [[None if v is None else str(v) for v in row] for row in expected[(r["step"], r["kind"])]]
        if r["rows"] != exp:
            wrong += 1
            if wrong <= 3:
                c.problems.append(f"maintain cycle {r['cycle']} step {r['step']} {r['kind']} read: "
                                  f"{r['rows']} != {exp}")
    files = list(manifest_files(res["table"]))
    con.sql(f"CREATE TABLE fin AS SELECT {cols} FROM read_parquet({files!r}, hive_partitioning = true)")
    diff = con.sql("(SELECT * FROM fin EXCEPT ALL SELECT * FROM s4) UNION ALL "
                   "(SELECT * FROM s4 EXCEPT ALL SELECT * FROM fin)").fetchone()
    if diff is not None:
        c.problems.append(f"maintain: final table differs from the expected state, e.g. {diff}")
        wrong += 4
    c.failed = int(res["errors"]) + wrong
    return c


CHECKS = {"ingest": check_ingest, "maintain": check_maintain, "queries": check_queries}
