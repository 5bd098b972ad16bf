"""Correctness of the benchmark's outputs, checked after the timed run.

  * Operations with a DuckDB oracle (`SparkEntry.oracleSql`) are compared
    with it, using tools/check.py's canonical sort and exact compare.
  * Operations without one are compared with a committed fingerprint:
    column names, row count and a sha256 of the canonical rows
    (`fingerprints.json`; a run records the fingerprint of an output
    that has none yet, and does not count that output as checked).
  * table_write is replayed here from the same seeded batches: every
    read_where, read_version and change_feed output, and the final
    table, must equal the replay.
"""
import glob
import hashlib
import importlib.util
import os

import duckdb
import numpy as np
import pandas as pd

from gen_data import TABLES


def load_check_tool(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def read_out(path):
    if not glob.glob(os.path.join(path, "*.parquet")):
        raise FileNotFoundError(f"no output at {path}")
    return pd.read_parquet(path)


def compare(canon, got, exp):
    """None when equal, else a one-line reason (tools/check.py rules)."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        gv, ev = g[c].to_numpy(), e[c].to_numpy()
        if np.issubdtype(gv.dtype, np.floating) or np.issubdtype(ev.dtype, np.floating):
            gv, ev = gv.astype(np.float64), ev.astype(np.float64)
            eq = (gv == ev) | (np.isnan(gv) & np.isnan(ev))
        else:
            eq = (pd.Series(gv).eq(pd.Series(ev))
                  | (pd.Series(gv).isna() & pd.Series(ev).isna())).to_numpy()
        if not eq.all():
            return f"{c}: {int((~eq).sum())} values differ"
    return None


def fingerprint(canon, df):
    c = canon(df)
    return {"columns": list(c.columns), "rows": int(len(c)),
            "sha256": hashlib.sha256(c.to_csv(index=False).encode()).hexdigest()}


class Oracle:
    """DuckDB over the workload's input tables."""

    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.cache = {}
        for t in TABLES:
            f = os.path.join(data_dir, f"{t}.parquet")
            src = f"{f}/*.parquet" if os.path.isdir(f) else f
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    def result(self, name, sql):
        if name not in self.cache:
            self.cache[name] = self.con.sql(sql).df()
        return self.cache[name]


def split_run(name, layouts):
    """'op@x10' -> ('op', layout name); stream entries run on sf01."""
    op, _, key = name.partition("@")
    return op, layouts[key or "sf01"]


def check_query_outputs(out_dir, runs, layouts, oracle_sql, make_oracle, prints, canon):
    """runs: [(op@layout, pass)] that succeeded; make_oracle(layout)
    opens the DuckDB oracle on a layout. Returns (n_checked, failures,
    recorded): an output with no oracle and no fingerprint in `prints`
    has its fingerprint added there instead of being checked."""
    fails, recorded, oracles, n = [], [], {}, 0
    for name, k in runs:
        op, layout = split_run(name, layouts)
        path = os.path.join(out_dir, name, f"p{k}")
        try:
            got = read_out(path)
            want = prints.get(layout, {}).get(op)
            if op in oracle_sql:
                if layout not in oracles:
                    oracles[layout] = make_oracle(layout)
                why = compare(canon, got, oracles[layout].result(op, oracle_sql[op]))
            elif want:
                fp = fingerprint(canon, got)
                why = None if fp == want else (
                    f"fingerprint {fp['rows']} rows {fp['sha256'][:12]} vs "
                    f"{want['rows']} rows {want['sha256'][:12]}")
            else:
                prints.setdefault(layout, {})[op] = fingerprint(canon, got)
                recorded.append(f"{op} on {layout}")
                continue
        except Exception as e:  # a missing or unreadable output is a failure
            why = f"{type(e).__name__}: {e}"
        n += 1
        if why:
            fails.append(f"{name} pass {k}: {why}")
    return n, fails, recorded


# ---------------------------------------------------------------- table_write

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]


def make_rounds(orders, rng, n_rounds, batch_dir, first_id=0):
    """Seeded write rounds over `orders` (a pandas frame). Each round's
    merge and append batches are written as parquet for the JVM, and
    the same values drive the replay."""
    n = len(orders)
    span = lambda frac: max(4, int(n * frac))
    next_key = 10_000_000 + first_id * 100_000
    rounds = []
    os.makedirs(batch_dir, exist_ok=True)
    for i in range(first_id, first_id + n_rounds):
        def window(frac):
            w = span(frac)
            lo = int(rng.integers(0, max(1, n - w)))
            return [lo, lo + w]
        m_lo, m_hi = window(0.025)
        upd_keys = np.arange(m_lo, m_hi, 2)
        n_new = span(0.0033)
        new_keys = np.arange(next_key, next_key + n_new)
        app_keys = np.arange(next_key + n_new, next_key + 2 * n_new)
        next_key += 2 * n_new
        base = orders.iloc[np.concatenate([upd_keys, rng.integers(0, n, 2 * n_new)])]
        merge = base.iloc[:len(upd_keys) + n_new].copy()
        merge["o_orderkey"] = np.concatenate([upd_keys, new_keys])
        merge["o_totalprice"] = np.round(rng.uniform(1000.0, 500000.0, len(merge)), 2)
        merge["o_orderstatus"] = np.array(["O", "F", "P"])[rng.integers(0, 3, len(merge))]
        append = base.iloc[len(upd_keys) + n_new:].copy()
        append["o_orderkey"] = app_keys
        paths = {}
        for tag, df in (("merge", merge), ("append", append)):
            paths[tag] = os.path.join(batch_dir, f"{tag}{i}.parquet")
            df[ORDER_COLS].to_parquet(paths[tag], index=False)
        rounds.append({
            "id": i, "merge": paths["merge"], "append": paths["append"],
            "update": window(0.02), "delete": window(0.007), "read": window(0.013),
            "user_bytes": sum(os.path.getsize(p) for p in paths.values())})
    return rounds


class Replay:
    """The table's expected contents, advanced round by round."""

    def __init__(self, orders):
        self.t = orders[ORDER_COLS].set_index("o_orderkey", drop=False).copy()

    def apply(self, rd):
        """Applies one round; returns the expected change-feed rows."""
        changes = []
        append = pd.read_parquet(rd["append"])
        changes += [(k, p, "insert") for k, p in zip(append.o_orderkey, append.o_totalprice)]
        self.t = pd.concat([self.t, append.set_index("o_orderkey", drop=False)])
        merge = pd.read_parquet(rd["merge"]).set_index("o_orderkey", drop=False)
        hit = merge.index.isin(self.t.index)
        for k in merge.index[hit]:
            old = self.t.loc[k]
            changes.append((k, old.o_totalprice, "update_preimage"))
            changes.append((k, merge.at[k, "o_totalprice"], "update_postimage"))
        for c in ("o_totalprice", "o_orderstatus"):
            self.t.loc[merge.index[hit], c] = merge.loc[hit, c].values
        ins = merge[~hit]
        changes += [(k, p, "insert") for k, p in zip(ins.o_orderkey, ins.o_totalprice)]
        self.t = pd.concat([self.t, ins])
        lo, hi = rd["update"]
        sel = (self.t.o_orderkey >= lo) & (self.t.o_orderkey < hi)
        for k, p in zip(self.t.o_orderkey[sel], self.t.o_totalprice[sel]):
            changes.append((k, p, "update_preimage"))
            changes.append((k, p + 1.0, "update_postimage"))
        self.t.loc[sel, "o_totalprice"] = self.t.loc[sel, "o_totalprice"] + 1.0
        lo, hi = rd["delete"]
        sel = (self.t.o_orderkey >= lo) & (self.t.o_orderkey < hi)
        changes += [(k, p, "delete") for k, p in
                    zip(self.t.o_orderkey[sel], self.t.o_totalprice[sel])]
        self.t = self.t[~sel]
        return pd.DataFrame(changes, columns=["o_orderkey", "o_totalprice", "_change_type"])

    def summary(self):
        t = self.t
        return pd.DataFrame({
            "n": [len(t)], "key_sum": [int(t.o_orderkey.sum())],
            "cents": [int(np.round(t.o_totalprice * 100).astype(np.int64).sum())],
            "n_open": [int((t.o_orderstatus == "O").sum())]})

    def rows(self, key_range=None):
        t = self.t
        if key_range:
            t = t[(t.o_orderkey >= key_range[0]) & (t.o_orderkey < key_range[1])]
        return t.reset_index(drop=True)


def check_table_write(out_dir, orders, rounds, executed, canon):
    """executed: round ids in the order the JVM ran them."""
    by_id = {r["id"]: r for r in rounds}
    replay = Replay(orders)
    fails, n = [], 0
    for rid in executed:
        rd = by_id[rid]
        before = replay.summary()
        changes = replay.apply(rd)
        base = os.path.join(out_dir, f"round{rid}")
        for what, exp in (("read_version", before),
                          ("read_where", replay.rows(rd["read"])),
                          ("change_feed", changes)):
            n += 1
            try:
                why = compare(canon, read_out(os.path.join(base, what)), exp)
            except Exception as e:
                why = f"{type(e).__name__}: {e}"
            if why:
                fails.append(f"round {rid} {what}: {why}")
    n += 1
    try:
        why = compare(canon, read_out(os.path.join(out_dir, "final")), replay.rows())
    except Exception as e:
        why = f"{type(e).__name__}: {e}"
    if why:
        fails.append(f"final table: {why}")
    return n, fails
