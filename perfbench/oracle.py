"""Output checks, run after the JVM exits (outside the timed region).

Cypher results are compared with DuckDB over the same parquet tables,
canonicalized as tools/oracle_check.py does it: columns sorted by name,
list cells as tuples, row order ignored, values compared exactly.
Pipeline stages are checked against independent recomputations where
one is cheap, and against invariants (ids a subset of the input ids,
row counts) where the stage is hash-based.

Each check returns None when the output is right, or a one-line reason.
"""
import datetime
import decimal
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]


def _value(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_value(x) for x in v)
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def canonical(columns, rows):
    """Columns sorted by name, rows sorted, every cell canonicalized."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_value(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=repr)


class CypherOracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def check(self, sql, result_file):
        with open(result_file) as f:
            got = json.load(f)
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        exp = canonical(cols, cur.fetchall())
        have = canonical(got["columns"], got["rows"])
        if have[0] != exp[0]:
            return f"columns {have[0]} != {exp[0]}"
        if have[1] != exp[1]:
            return (f"rows differ: graft {len(have[1])} rows, DuckDB "
                    f"{len(exp[1])}; first graft {have[1][:2]}, "
                    f"first DuckDB {exp[1][:2]}")
        return None


def _read(path, cols=None):
    return pq.read_table(path, columns=cols).to_pydict()


def ids(path, col="doc_id"):
    return _read(path, [col])[col]


def _unit(m):
    m = np.asarray(m, dtype=np.float64)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def check_stage(op):
    """Check one pipeline stage's parquet output against its input."""
    st, out = op["stage"], op["output"]
    if not os.path.isdir(out):
        return "no output written"
    if st in ("emb_near_dup", "components", "topk"):
        return _check_embedding_stage(op)
    src = _read(op["input"])
    dst = _read(out)
    in_ids, out_ids = src["doc_id"], dst["doc_id"]
    if len(set(out_ids)) != len(out_ids):
        return "duplicate doc ids in output"
    if not set(out_ids) <= set(in_ids):
        return "output ids are not a subset of the input ids"
    if st == "exact_dedup":
        first = {}
        for i, t in zip(in_ids, src["text"]):
            first[t] = min(i, first.get(t, i))
        if set(out_ids) != set(first.values()):
            return f"kept {len(out_ids)} docs, expected {len(first)}"
    elif st == "near_dup":
        by_text = {t: i for i, t in zip(in_ids, src["text"])}
        kept = set(out_ids)
        for i, t in zip(in_ids, src["text"]):
            base = by_text.get(t[:-4]) if t.endswith(" dup") else None
            if base is not None and base in kept and i in kept:
                return f"near-duplicates {base} and {i} both kept"
        if not out_ids:
            return "every document dropped"
    elif st in ("signals", "span_strip"):
        if len(out_ids) != len(in_ids):
            return f"{len(out_ids)} rows out of {len(in_ids)} in"
        if st == "span_strip":
            old = dict(zip(in_ids, src["text"]))
            if any(len(t) > len(old[i]) for i, t in zip(out_ids, dst["text"])):
                return "a stripped text is longer than its input"
    elif st in ("token_budget", "mixture"):
        if any(n != len(t.split()) for n, t in zip(dst["n_tokens"], dst["text"])):
            return "n_tokens differs from the whitespace token count"
        if st == "token_budget" and sum(dst["n_tokens"]) > op["budget"]:
            return "token budget exceeded"
        if st == "mixture":
            used = {}
            for s, n in zip(dst["source"], dst["n_tokens"]):
                used[s] = used.get(s, 0) + n
            for s, n in used.items():
                share = op["shares"].get(s, op["default_share"])
                if n > int(op["budget"] * share):
                    return f"source {s} over its token share"
    elif st == "pack":
        if len(out_ids) != len(in_ids):
            return f"{len(out_ids)} rows out of {len(in_ids)} in"
        got = {i: (o, b) for i, o, b in
               zip(out_ids, dst["tok_offset"], dst["bin"])}
        offset = {}
        for i, s, t in sorted(zip(in_ids, src["source"], src["text"])):
            o = offset.get(s, 0)
            if got[i] != (o, o // op["capacity"]):
                return f"doc {i}: offset/bin {got[i]}, expected {(o, o // op['capacity'])}"
            offset[s] = o + len(t.split())
    return None


def _check_embedding_stage(op):
    e = _read(op["input"], ["vec_id", "embedding"])
    vec_ids = np.asarray(e["vec_id"])
    x = _unit(np.stack(e["embedding"]))
    sim = x @ x.T
    pos = {v: k for k, v in enumerate(vec_ids)}
    st = op["stage"]
    if st == "emb_near_dup":
        d = _read(op["output"])
        got = set(zip(d["id_a"], d["id_b"]))
        th = op["threshold"]
        iu = np.triu_indices(len(vec_ids), 1)
        s = sim[iu]
        want = {(vec_ids[a], vec_ids[b]) for a, b, v in zip(*iu, s) if v >= th}
        near = {(vec_ids[a], vec_ids[b]) for a, b, v in zip(*iu, s) if abs(v - th) < 1e-4}
        if (got ^ want) - near:
            return f"{len((got ^ want) - near)} pairs differ from the exact set"
    elif st == "components":
        p = _read(op["pairs"])
        parent = {int(i): int(i) for i in vec_ids}

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a
        for a, b in zip(p["id_a"], p["id_b"]):
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        d = _read(op["output"])
        got = dict(zip(d["id"], d["cluster"]))
        if set(got) != set(parent):
            return "component labels do not cover every vector"
        if any(got[i] != find(i) for i in parent):
            return "a component label is not its component's least id"
    elif st == "topk":
        c = _read(op["clusters"])
        reps = np.array(sorted(i for i, k in zip(c["id"], c["cluster"]) if i == k))
        d = _read(op["output"])
        rows = {}
        for q, n, s_, r in zip(d["qid"], d["nid"], d["sim"], d["rank"]):
            rows.setdefault(q, []).append((r, n, s_))
        for q in op["queries"]:
            cand = reps[reps != q]
            exact = sim[pos[q], [pos[n] for n in cand]]
            got = sorted(rows.get(q, []))
            if len(got) != min(op["k"], len(cand)):
                return f"query {q}: {len(got)} neighbours"
            for _, n, s_ in got:
                if n not in pos or abs(sim[pos[q], pos[n]] - s_) > 1e-4:
                    return f"query {q}: neighbour {n} has a wrong similarity"
            kth = got[-1][2]
            chosen = {n for _, n, _ in got}
            rest = [v for n, v in zip(cand, exact) if n not in chosen]
            if rest and max(rest) > kth + 1e-4:
                return f"query {q}: a closer vector was left out"
    return None
