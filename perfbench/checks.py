"""Answer checks made apart from the program, after the timed phase.

REST workloads: a mirror of the collection replays the same seeded writes
and computes a brute-force top-10 at each read's point in the sequence.
Operator workload: DuckDB runs each query's `SparkEntry.oracleSql` on the
same parquet files and the rows are compared.

Each check returns (ok flags per timed operation, recall_at_10).
"""
import datetime
import hashlib
import json
import math
import os
import sys

import numpy as np

TOL = 1e-4   # distance tolerance: the program scores in float32 or float64


class Mirror:
    """The collection as a dense matrix with a live mask."""

    def __init__(self, ids, vecs, labels):
        cap = len(ids) + 100000
        self.vecs = np.zeros((cap, vecs.shape[1]), dtype=np.float64)
        self.vecs[:len(ids)] = vecs
        self.norms = np.ones(cap)
        self.norms[:len(ids)] = np.linalg.norm(vecs.astype(np.float64), axis=1)
        self.labels = np.full(cap, -1)
        self.labels[:len(ids)] = labels
        self.live = np.zeros(cap, dtype=bool)
        self.live[:len(ids)] = True
        self.ids = list(ids) + [None] * (cap - len(ids))
        self.row = {i: n for n, i in enumerate(ids)}
        self.n = len(ids)

    def upsert(self, rows):
        for i, v, l in rows:
            r = self.row.get(i)
            if r is None:
                r = self.n
                self.n += 1
                self.row[i] = r
                self.ids[r] = i
            self.vecs[r] = v
            self.norms[r] = np.linalg.norm(np.asarray(v, dtype=np.float64))
            self.labels[r] = l
            self.live[r] = True

    def delete(self, ids):
        n = 0
        for i in ids:
            r = self.row.pop(i, None)
            if r is not None and self.live[r]:
                self.live[r] = False
                n += 1
        return n

    def distances(self, q):
        q = np.asarray(q, dtype=np.float64)
        d = 1.0 - (self.vecs[:self.n] @ q) / (self.norms[:self.n] *
                                               np.linalg.norm(q))
        return d


def check_rest(inputs, ops, exact):
    """Replays the sequence on the mirror; exact reads must equal the true
    top-10 (ties at the k-th distance allowed), every read's distances must
    match and be ordered by (distance, id). Returns (ok list, recall).
    """
    m = Mirror(*inputs.initial)
    for spec in inputs.warmup:
        if spec["kind"] == "write" and spec["op"] == "upsert":
            m.upsert(spec["rows"])
        elif spec["kind"] == "write":
            m.delete(spec["ids"])
    oks, recalls = [], []
    for spec, op in zip(inputs.ops, ops):
        ok = op["status"] == 200 and op.get("answer") is not None
        if spec["kind"] == "write":
            if spec["op"] == "upsert":
                m.upsert(spec["rows"])
                ok = ok and op["answer"].get("upserted") == len(spec["rows"])
            else:
                n = m.delete(spec["ids"])
                ok = ok and op["answer"].get("deleted") == n
            oks.append(ok)
            continue
        d = m.distances(spec["q"])
        cand = m.live[:m.n].copy()
        if spec["labels"] is not None:
            cand &= np.isin(m.labels[:m.n], spec["labels"])
        if not ok:
            # a read that was not answered found none of its neighbours
            oks.append(False)
            recalls.append(0.0)
            continue
        res = op["answer"].get("results") or []
        k = min(10, int(cand.sum()))
        order = np.argsort(np.where(cand, d, np.inf), kind="stable")[:k]
        kth = d[order[-1]] if k else 0.0
        got = []
        for r in res:
            row = m.row.get(r["id"])
            if row is None or not cand[row] or \
                    abs(r["distance"] - d[row]) > TOL:
                ok = False
                break
            got.append((r["distance"], r["id"]))
        ok = ok and len(got) == k and got == sorted(got)
        truth = {m.ids[i] for i in order}
        if ok and exact:
            # every id strictly closer than the k-th distance must be there
            must = {m.ids[i] for i in order if d[i] < kth - TOL}
            ok = must <= {i for _, i in got} and \
                all(g[0] <= kth + TOL for g in got)
        hit = sum(1 for _, i in got if i in truth or
                  abs(d[m.row[i]] - kth) <= TOL)
        recalls.append(min(hit, k) / k if k else 1.0)
        oks.append(ok)
    return oks, (sum(recalls) / len(recalls) if recalls else 1.0)


# ------------------------------------------------------------- operators

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def _norm(v):
    """Comparable form of a cell: floats rounded to 9 places, timestamps and
    dates as the tagged integers the JVM side writes.
    """
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime.datetime):
        t = v.replace(tzinfo=None) - EPOCH
        return "ts:%d" % (t.days * 86400 * 10**6 + t.seconds * 10**6 +
                          t.microseconds)
    if isinstance(v, datetime.date):
        return "date:%d" % (v - EPOCH.date()).days
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "oracle_answers.json")


def _sha(b):
    return hashlib.sha256(b).hexdigest()


def tables_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, t + ".parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _tuples(v):
    return tuple(_tuples(x) for x in v) if isinstance(v, list) else v


def duckdb_answers(data_dir, oracle_sql, threads=2):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO %d" % threads)
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(data_dir, t + ".parquet")))
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        res = con.sql(sql)
        out[name] = _canon(list(res.columns), res.fetchall())
    con.close()
    return out


def oracle_answers(data_dir, oracle_sql):
    """Oracle rows per query: from the cache when it was made from the same
    tables and the same SQL, otherwise from DuckDB now.
    """
    cached = {}
    if os.path.exists(CACHE):
        with open(CACHE) as f:
            c = json.load(f)
        if c["tables_sha256"] == tables_digest(data_dir):
            cached = c["answers"]
    out, missing = {}, {}
    for name, sql in oracle_sql.items():
        e = cached.get(name)
        if e and e["sql_sha256"] == _sha(sql.encode()):
            out[name] = (e["cols"], [_tuples(r) for r in e["rows"]])
        else:
            missing[name] = sql
    if missing:
        print("oracle answers not cached, running DuckDB: %s"
              % sorted(missing), file=sys.stderr)
        out.update(duckdb_answers(data_dir, missing))
    return out


def write_cache(data_dir, oracle_sql, answers):
    doc = {"tables_sha256": tables_digest(data_dir), "answers": {
        name: {"sql_sha256": _sha(oracle_sql[name].encode()),
               "cols": cols, "rows": rows}
        for name, (cols, rows) in sorted(answers.items())}}
    with open(CACHE, "w") as f:
        json.dump(doc, f, separators=(",", ":"), sort_keys=True)
        f.write("\n")


def check_operators(ops, oracle, knn):
    """Rows of every timed execution against the oracle's rows. A k-NN
    query that failed or answered other columns counts as recall 0.
    """
    oks, recalls = [], []
    for op in ops:
        a = op.get("answer")
        ok = op["status"] == 200 and a is not None
        hit, want = 0, 1
        if ok:
            cols, rows = _canon(a["cols"], a["rows"])
            ocols, orows = oracle[op["name"]]
            ok = cols == ocols and rows == orows
            want = max(1, len(orows))
            if cols == ocols:
                left = list(orows)
                for r in rows:
                    if r in left:
                        left.remove(r)
                        hit += 1
        if op["name"] in knn:
            recalls.append(hit / want)
        oks.append(ok)
    return oks, (sum(recalls) / len(recalls) if recalls else 1.0)
