"""Seeded input generator for the graft benchmark.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file
each) with the schemas, value domains and key relationships of the
engine's test tables:

  * every foreign key points at an existing row (o_custkey -> customer,
    l_orderkey -> orders, l_partkey -> part, l_suppkey -> supplier,
    *_nationkey -> nation, n_regionkey -> region);
  * 5% of the documents are near-duplicates (another document's text
    plus " dup"), the shape the dedup family looks for;
  * embeddings are unit-norm 64-dim float vectors with a 10-way label.

The table contents are generated once, from a fixed seed. `--seed` then
picks a bijective relabeling of every key (customer, order, part,
supplier, user, document and vector ids, applied to the key and to every
column that references it) and the row order of every table. So the
same (seed, scale) gives byte-identical files, another seed gives other
files, and the work per query stays nearly the same from seed to seed.
The graph queries derive nodes from key values as `key % 2000`; the
customer and order relabelings map residues through one shared
permutation, so every seed sees the same graph under other node ids.
Row counts follow the TPC-H scale factor `sf`;
`docs` and `vecs` set the corpus sizes.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

DAY_US = 86_400_000_000
EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _day(s):
    return int((np.datetime64(s, "us") - EPOCH) // np.timedelta64(1, "us")) // DAY_US


def _rng(seed, table):
    """Independent stream per (seed, table), stable across numpy versions."""
    h = hashlib.sha256(f"{seed}:{table}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days_ts(rng, first, last, n):
    days = rng.integers(_day(first), _day(last) + 1, n).astype(np.int64)
    return pa.array(days * DAY_US, pa.timestamp("us"))


def _labels(prefix, keys):
    return pa.array([f"{prefix}{k:09d}" for k in keys.tolist()], pa.string())


def _pick(rng, choices, n, p=None):
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx].tolist(), pa.string())


CONTENT_SEED = 0
GRAPH_MOD = 2000  # graft.graph.Graph.ProjMod: node = key % GRAPH_MOD


def _content(sf, docs, vecs):
    """The tables before relabeling: {name: pyarrow.Table}."""
    seed = CONTENT_SEED
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    keys = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": keys,
        "c_name": _labels("Customer#", keys),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)})

    r = _rng(seed, "supplier")
    keys = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": keys,
        "s_name": _labels("Supplier#", keys),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})

    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    adj = r.integers(0, 8, n_part)
    noun = r.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj.tolist(), noun.tolist())],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part).tolist()],
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    r = _rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days_ts(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)})

    r = _rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _days_ts(r, "1995-01-02", "2001-11-04", n_line)})

    r = _rng(seed, "events")
    # strictly increasing micro-precision timestamps over 30 days
    gaps = r.exponential(30 * DAY_US / n_ev, n_ev).astype(np.int64) + 1
    start = _day("2024-01-01") * DAY_US
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev).tolist()]})

    r = _rng(seed, "documents")
    lens = r.integers(10, 101, docs)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[r.integers(0, len(VOCAB), k)]) for k in lens.tolist()]
    # near-duplicates: 5% of documents repeat an original's text + " dup"
    dup_ids = r.choice(docs, size=docs // 20, replace=False)
    dup_set = set(dup_ids.tolist())
    originals = np.array([i for i in range(docs) if i not in dup_set])
    for i, src in zip(dup_ids.tolist(), r.choice(originals, size=len(dup_ids)).tolist()):
        texts[i] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(r, LANGS, docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    r = _rng(seed, "embeddings")
    v = r.standard_normal((vecs, 64)).astype(np.float64)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, vecs), pa.int32())})
    return t


def _relabel(t, seed):
    """Apply the seed's key bijections and row orders to content tables."""
    r = _rng(seed, "relabel")
    sigma = r.permutation(GRAPH_MOD)

    def graph_perm(n):
        """Bijection on [0, n) keys that maps residue m to sigma[m] and
        shuffles whole blocks of GRAPH_MOD keys (the last, partial block
        keeps its place, so its new keys may pass n - 1)."""
        k = np.arange(n)
        blocks, q = n // GRAPH_MOD, k // GRAPH_MOD
        moved = r.permutation(max(blocks, 1))[np.minimum(q, max(blocks - 1, 0))]
        return np.where(q < blocks, moved, q) * GRAPH_MOD + sigma[k % GRAPH_MOD]

    perms = {}

    def remap(name, col, key):
        tbl = t[name]
        vals = tbl[col].to_numpy()
        if key not in perms:
            n = int(vals.max()) + 1 if key == "user" else tbl.num_rows
            perms[key] = (graph_perm(n) if key in ("cust", "order")
                          else r.permutation(n)).astype(np.int64)
        new = perms[key][vals]
        t[name] = tbl.set_column(tbl.schema.get_field_index(col), col, pa.array(new))
        return new

    keys = remap("customer", "c_custkey", "cust")
    t["customer"] = t["customer"].set_column(1, "c_name", _labels("Customer#", keys))
    keys = remap("supplier", "s_suppkey", "supp")
    t["supplier"] = t["supplier"].set_column(1, "s_name", _labels("Supplier#", keys))
    remap("part", "p_partkey", "part")
    remap("orders", "o_orderkey", "order")
    remap("orders", "o_custkey", "cust")
    remap("lineitem", "l_orderkey", "order")
    remap("lineitem", "l_partkey", "part")
    remap("lineitem", "l_suppkey", "supp")
    remap("events", "user_id", "user")
    remap("documents", "doc_id", "doc")
    remap("embeddings", "vec_id", "vec")
    for name in TABLES[2:]:
        t[name] = t[name].take(pa.array(r.permutation(t[name].num_rows)))
    return t


def build_tables(seed, sf, docs, vecs):
    """Return {name: pyarrow.Table} for one seed."""
    return _relabel(_content(sf, docs, vecs), seed)


def write_tables(out_dir, seed, sf, docs, vecs):
    """Write every table under out_dir as one parquet file."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in build_tables(seed, sf, docs, vecs).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path + ".tmp", compression="snappy")
        os.replace(path + ".tmp", path)
