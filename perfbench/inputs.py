"""Seeded inputs for the benchmark: tables, collections and the fixed
operation sequences. The program receives only what is written here.

Everything is a pure function of the seed and the sizes, so the same seed
gives the same inputs. Parquet files are cached per seed under the build
directory; the operation sequences are cheap and made again on each run.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- REST


REST = {
    # rows, dims, clusters, timed operations per second of --seconds,
    # one write after every `write_every` reads, warm-up operations with
    # one write after every `warm_write_every` reads (rest_ann's timed
    # writes are few; warming their path keeps write_p50 off cold writes)
    "rest_ann": dict(rows=30000, dims=128, clusters=64, ops_per_s=18,
                     write_every=8, warmup=33, warm_write_every=2),
    "rest_exact": dict(rows=10000, dims=128, clusters=64, ops_per_s=6,
                       write_every=5, warmup=12, warm_write_every=5),
}
LABELS = 10                  # metadata label values l0..l9
FILTER_LABELS = 2            # a filtered read matches 2 of 10 labels: 20 %
FILTERED_SHARE = 0.8         # share of rest_exact reads that carry a filter
K = 10
INDEX_BODY = "{}"            # POST /index with the program's defaults
# Writes: three upsert-batch calls (8 rows, 2 of them replacing live ids)
# for each delete-batch call (6 live ids). A delete costs several times an
# upsert; with a 3:1 mix write_p50 sits inside the upsert mode, not on the
# boundary between the two.
UPSERT_ROWS, UPSERT_REPLACED, DELETE_ROWS = 8, 2, 6


def _vectors(rng, centers, n, noise):
    c = rng.integers(0, len(centers), size=n)
    v = centers[c] + noise * rng.standard_normal((n, centers.shape[1]))
    return v.astype(np.float32)


def _list_array(mat):
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1)))


def _meta(label):
    return '{"label":"l%d"}' % label


class RestInputs:
    """The initial collection plus the fixed read/write sequence."""

    def __init__(self, workload, seed, seconds, cache_dir):
        p = REST[workload]
        self.workload, self.dims = workload, p["dims"]
        rng = np.random.default_rng([seed, 1 if workload == "rest_ann" else 2])
        centers = rng.standard_normal((p["clusters"], p["dims"]))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        self.noise = 0.6 / np.sqrt(p["dims"])
        vecs = _vectors(rng, centers, p["rows"], self.noise)
        labels = rng.integers(0, LABELS, size=p["rows"])
        ids = ["v%06d" % i for i in range(p["rows"])]
        self.initial = (ids, vecs, labels)
        self.path = os.path.join(cache_dir, "%s-%d-%dx%d-%d.parquet" % (
            workload, seed, p["rows"], p["dims"], p["clusters"]))
        if not os.path.exists(self.path):
            table = pa.table({"id": pa.array(ids), "vector": _list_array(vecs),
                              "metadata": pa.array([_meta(l) for l in labels])})
            tmp = self.path + ".tmp"
            pq.write_table(table, tmp)
            os.replace(tmp, self.path)

        # warm-up operations mix reads and writes, so the write path is warm
        # too; the mirror replays their writes
        n_warm = p["warmup"]
        n_ops = n_warm + p["ops_per_s"] * seconds
        live = list(ids)            # generation-time view of live ids
        pos = {i: n for n, i in enumerate(live)}
        self.ops, next_id, writes = [], 0, 0

        def drop(i):
            j = pos.pop(i)
            last = live.pop()
            if j < len(live):
                live[j] = last
                pos[last] = j

        ann = workload == "rest_ann"
        for n in range(n_ops):
            every = p["warm_write_every"] if n < n_warm else p["write_every"]
            i = n if n < n_warm else n - n_warm
            if i % (every + 1) == every:
                if writes % 4 != 3:         # three upserts, then a delete
                    rows = []
                    for i in rng.choice(len(live), UPSERT_REPLACED,
                                        replace=False):
                        rows.append(live[i])
                    for _ in range(UPSERT_ROWS - UPSERT_REPLACED):
                        rows.append("w%06d" % next_id)
                        next_id += 1
                    new = _vectors(rng, centers, len(rows), self.noise)
                    labs = rng.integers(0, LABELS, size=len(rows))
                    body = {"vectors": [
                        {"id": i, "vector": [float(x) for x in v],
                         "metadata": {"label": "l%d" % l}}
                        for i, v, l in zip(rows, new, labs)]}
                    for i in rows:
                        if i not in pos:
                            pos[i] = len(live)
                            live.append(i)
                    self.ops.append(dict(
                        kind="write", path="/collections/c/vectors/upsert-batch",
                        body=json.dumps(body), op="upsert",
                        rows=[(i, v, l) for i, v, l in zip(rows, new, labs)]))
                else:
                    gone = [live[i] for i in rng.choice(len(live), DELETE_ROWS,
                                                        replace=False)]
                    for i in gone:
                        drop(i)
                    self.ops.append(dict(
                        kind="write", path="/collections/c/vectors/delete-batch",
                        body=json.dumps({"ids": gone}), op="delete", ids=gone))
                writes += 1
            else:
                self.ops.append(self._read(rng, centers, ann))
        self.warmup, self.ops = self.ops[:n_warm], self.ops[n_warm:]

    def _read(self, rng, centers, ann):
        q = _vectors(rng, centers, 1, self.noise)[0]
        body = {"vector": [float(x) for x in q], "k": K}
        labels = None
        if ann:
            body["mode"] = "ann"
        elif rng.random() < FILTERED_SHARE:
            labels = sorted(rng.choice(LABELS, FILTER_LABELS, replace=False))
            body["filter"] = {"label": {"$in": ["l%d" % l for l in labels]}}
        return dict(kind="read", path="/collections/c/search",
                    body=json.dumps(body), q=q, labels=labels)

    def plan(self):
        def req(o):
            return dict(kind=o["kind"], path=o["path"], body=o["body"])
        p = dict(collection=self.path, dims=self.dims,
                 warmup=[req(o) for o in self.warmup],
                 ops=[req(o) for o in self.ops])
        if self.workload == "rest_ann":
            p["index_body"] = INDEX_BODY
        return p


# ------------------------------------------------------------- operators

READS = ("knn_cosine knn_filtered batch_knn_cosine ivf_knn_pruned "
         "radius_filtered bm25_search hybrid_rrf needleql_similar "
         "needleql_filter needleql_rerank_field mmr_diversify "
         "minhash_lsh_dedup simhash_near_dup semantic_dedup quality_score "
         "text_stats q1_agg q4_join_topk vec_centroid pipeline_full").split()
WRITES = ("upsert_merge merge_patch ttl_compact dedup_insert_reject "
          "bm25_incremental simhash_incremental txn_commit").split()
# k-NN reads whose rows feed recall_at_10
KNN = ("knn_cosine knn_filtered batch_knn_cosine ivf_knn_pruned "
       "needleql_similar").split()
# the NeedleQL texts of the suite's NeedleQL queries (traced parse/compile)
NEEDLEQL = [
    "SELECT event_id, event_type, value FROM events\n"
    "WHERE event_type = 'click' AND value BETWEEN 50 AND 100\n"
    "ORDER BY event_id LIMIT 100",
    "SELECT vec_id, distance FROM embeddings WHERE embedding SIMILAR TO $q "
    "LIMIT 10",
    "SELECT vec_id, label, distance FROM embeddings WHERE embedding "
    "SIMILAR TO $q RERANK BY label DESC FETCH 20 LIMIT 10",
]
# timed passes over the suite per second of --seconds
PASSES_PER_S = 0.125
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
# Row counts of the program's scale-factor 0.1 test data, except documents:
# three of the text oracles hash every shingle in SQL and take minutes per
# query in DuckDB at 5000 documents.
SF_ROWS = dict(customer=15000, supplier=1000, part=20000, orders=150000,
               lineitem=600000, events=100000, documents=2000,
               embeddings=2000)
# The tables do not depend on --seed: their oracle answers are cached in
# oracle_answers.json (see oracle.py). The seed rotates the query order.
TABLE_SEED = 42


def _ts(rng, start, days, n, unit="D"):
    base = np.datetime64(start)
    if unit == "D":
        return (base + rng.integers(0, days, n).astype("timedelta64[D]")
                ).astype("datetime64[us]")
    return (base.astype("datetime64[us]") +
            rng.integers(0, days * 86400 * 10**6, n).astype("timedelta64[us]"))


def write_tables(out_dir):
    """TPC-H-shaped tables plus events, documents and embeddings, in the
    layout of the program's test data.
    """
    if os.path.exists(os.path.join(out_dir, "_done")):
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([TABLE_SEED, 3])
    n = SF_ROWS
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": ["NATION_%d" % i for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": ["Customer#%09d" % i for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"],
                                                 dtype=np.int32)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99,
                                              n["customer"]), 2),
            "c_mktsegment": [segs[i] for i in
                             rng.integers(0, 5, n["customer"])]}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": ["Supplier#%09d" % i for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"],
                                                 dtype=np.int32)),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99,
                                              n["supplier"]), 2)}),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": ["%s %s" % (adj[a], noun[b]) for a, b in
                       zip(rng.integers(0, 8, n["part"]),
                           rng.integers(0, 8, n["part"]))],
            "p_brand": ["Brand#%d" % b for b in
                        rng.integers(1, 26, n["part"])],
            "p_type": [types[t] for t in rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"],
                                            dtype=np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000)
                                      / 10, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": [("F", "O", "P")[i] for i in
                              rng.integers(0, 3, n["orders"])],
            "o_totalprice": np.round(rng.uniform(1000, 500000,
                                                 n["orders"]), 2),
            "o_orderdate": _ts(rng, "1995-01-01", 2404, n["orders"]),
            "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW")[i]
                                for i in rng.integers(0, 5, n["orders"])]}),
    }
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": pa.array(rng.integers(1, 8, m, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _ts(rng, "1995-01-02", 2498, m)})
    e = n["events"]
    kinds = ["click", "error", "purchase", "signup", "view"]
    tables["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.sort(_ts(rng, "2024-01-01", 30, e, unit="us")),
        "user_id": rng.integers(0, 1500, e),
        "event_type": [kinds[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(60.0, e), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        r = rng.random()
        if i > 10 and r < 0.05:      # near duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:   # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS),
                                               rng.integers(10, 95))))
    langs = ["de", "en", "en", "en", "es", "fr", "zh"]
    tables["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64), "text": texts,
        "lang": [langs[i] for i in rng.integers(0, 7, d)],
        "source": ["src%d" % (i % 20) for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.standard_normal((10, 64))
    # clustered by label, as embeddings are: ivf_knn_pruned's own recall
    # check (5 of 10 with 2 of 8 cells probed) needs cluster structure
    emb = centers[labels] * 0.6 + rng.standard_normal((v, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": _list_array(emb.astype(np.float32)),
        "label": pa.array(labels.astype(np.int32))})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
    open(os.path.join(out_dir, "_done"), "w").close()


def operator_plan(seed, seconds, data_dir):
    """A warm pass, then the timed passes, all in one order: the suite's
    fixed order (a write after every third read) rotated by the seed.
    Run-to-run spread was about half as large with one order in every
    pass as with a fresh shuffle per pass.
    """
    base, reads = [], list(READS)
    for w in WRITES:
        base += reads[:3] + [w]
        reads = reads[3:]
    base += reads
    start = seed % len(base)
    order = base[start:] + base[:start]
    passes = 1 + max(1, round(PASSES_PER_S * seconds))
    one = [dict(name=n, kind="write" if n in WRITES else "read")
           for n in order]
    return dict(data_dir=data_dir, passes=[one] * passes, needleql=NEEDLEQL)
