"""Seeded inputs for the two workloads.

Everything here is a pure function of (seed, scale): the same seed writes
the same parquet bytes and the same statement lists.

* ``tpch``      TPC-H-ish tables plus events/documents/embeddings, in the
                schema `graft.Tables` reads (one parquet file per table).
* ``mixed``     a small movie graph and a write/read statement sequence,
                simulated here so every read answer and the node/edge count
                after every statement are known in advance.

Answers are lists of normalised row strings (see `Db.scala`): an `info`
row is its text, a node row is ``node:<key property or id> k=v,...`` with
its properties sorted by name.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "hot", "old", "large", "blue", "green", "dark"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENTS = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131 * US_PER_DAY   # 1995-01-01
EPOCH_2024 = 19723 * US_PER_DAY  # 2024-01-01


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(out, sf, seed):
    """Write the ten input tables at scale factor ``sf``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_li = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    n_region = rng.permutation(np.repeat(np.arange(5), 5)).astype(np.int32)
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": n_region})

    c_nation = rng.integers(0, 25, n_cust).astype(np.int32)
    c_seg = rng.integers(0, 5, n_cust)
    cust = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": c_nation,
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in c_seg]}
    _write(out, "customer", cust)
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    p_name = [f"{ADJ[a]} {NOUN[b]}" for a, b in
              zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    p_brand = [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": p_name,
        "p_brand": p_brand,
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    o_cust = rng.integers(0, n_cust, n_ord).astype(np.int64)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": o_cust,
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY,
                                pa.timestamp("us")),
        "o_orderpriority": [PRIOS[i] for i in rng.integers(0, 5, n_ord)]})
    l_ord = rng.integers(0, n_ord, n_li).astype(np.int64)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    l_supp = rng.integers(0, n_supp, n_li).astype(np.int64)
    _write(out, "lineitem", {
        "l_orderkey": l_ord,
        "l_partkey": l_part,
        "l_suppkey": l_supp,
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(EPOCH_1995 + (1 + rng.integers(0, 2499, n_li)) * US_PER_DAY,
                               pa.timestamp("us"))})

    gaps = rng.exponential(30 * US_PER_DAY / n_ev, n_ev).astype(np.int64) + 1
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": [EVENTS[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})



def _stmt(kind, q, read, expect, **extra):
    return dict(kind=kind, q=q, read=read, expect=sorted(expect), **extra)


WRITE_KINDS = ["create_node", "legacy_create", "create_rel", "merge_rel",
               "set", "remove", "detach_delete"]


def mixed(out, seed, cycles, band=(240, 360)):
    """Initial movie graph (written as two parquet files) plus ``cycles``
    rounds of seven writes and eight reads, simulated on a model. The
    `point` read after each SET and the `legacy_match` read after each
    REMOVE read back the node just changed."""
    rng = np.random.default_rng([seed, 3])
    nodes = {}   # key -> [label, props]
    edges = []   # [src key, dst key, label]
    counter = [0]

    def new_key(prefix):
        counter[0] += 1
        return f"{prefix}{counter[0]}"

    for _ in range(180):
        k = new_key("p")
        nodes[k] = ["Person", {"key": k, "name": f"n{counter[0]}"}]
    for _ in range(110):
        k = new_key("m")
        nodes[k] = ["Movie", {"key": k, "title": f"t{counter[0]}"}]
    for prefix, label, n in (("s", "Studio", 4), ("g", "Genre", 4)):
        for _ in range(n):
            k = new_key(prefix)
            nodes[k] = [label, {"key": k}]

    def live(label):
        return sorted((k for k, v in nodes.items() if v[0] == label),
                      key=lambda k: int(k[1:]))

    persons, movies = live("Person"), live("Movie")
    for _ in range(420):
        edges.append([persons[int(rng.integers(len(persons)))],
                      movies[int(rng.integers(len(movies)))], "ACTED_IN"])

    node_rows = sorted(nodes.items(), key=lambda kv: kv[0])
    pq.write_table(pa.table({
        "id": [f"{v[0].lower()}:{k}" for k, v in node_rows],
        "label": [v[0] for _, v in node_rows],
        "properties": pa.array([list(v[1].items()) for _, v in node_rows],
                               pa.map_(pa.string(), pa.string()))}),
        os.path.join(out, "mixed_nodes.parquet"))
    pq.write_table(pa.table({
        "id": [f"e{i}" for i in range(len(edges))],
        "src": [f"{nodes[s][0].lower()}:{s}" for s, _, _ in edges],
        "dst": [f"{nodes[d][0].lower()}:{d}" for _, d, _ in edges],
        "label": [e[2] for e in edges],
        "properties": pa.array([[] for _ in edges], pa.map_(pa.string(), pa.string()))}),
        os.path.join(out, "mixed_edges.parquet"))

    def pick(label):
        ks = live(label)
        return ks[int(rng.integers(len(ks)))]

    # the read that follows a SET or a REMOVE reads back the node it changed
    check_next = {}

    def write(kind, cycle):
        if kind == "create_node":
            label = "Studio" if cycle % 8 == 3 and len(live("Studio")) < 6 else "Person"
            prefix = label[0].lower()
            k = new_key(prefix)
            props = {"key": k} if label == "Studio" else {"key": k, "name": f"n{counter[0]}"}
            nodes[k] = [label, props]
            body = ", ".join(f"{pk}: '{pv}'" for pk, pv in props.items())
            return f"CREATE (n:{label} {{{body}}})"
        if kind == "legacy_create":
            k = new_key("m")
            nodes[k] = ["Movie", {"key": k, "title": f"t{counter[0]}"}]
            return f'CREATE NODE Movie {{key:"{k}", title:"t{counter[0]}"}};'
        if kind == "create_rel":
            a, b = pick("Person"), pick("Movie")
            edges.append([a, b, "ACTED_IN"])
            return f"MATCH (a:Person {{key: '{a}'}}), (b:Movie {{key: '{b}'}}) CREATE (a)-[:ACTED_IN]->(b)"
        if kind == "merge_rel":
            have = {(s, d) for s, d, l in edges if l == "FOCUS"}
            for s in live("Studio"):
                for g in live("Genre"):
                    if (s, g) not in have:
                        edges.append([s, g, "FOCUS"])
            return "MATCH (a:Studio), (b:Genre) MERGE (a)-[:FOCUS]->(b)"
        if kind == "set":
            a = pick("Person")
            nodes[a][1]["name"] = f"r{counter[0]}_{int(rng.integers(1000))}"
            check_next["point"] = a
            return f"MATCH (n:Person {{key: '{a}'}}) SET n.name = '{nodes[a][1]['name']}'"
        if kind == "remove":
            m = pick("Movie")
            nodes[m][1].pop("title", None)
            check_next["legacy_match"] = m
            return f"MATCH (n:Movie {{key: '{m}'}}) REMOVE n.title"
        # detach_delete: a Studio now and then, so MERGE has pairs to add back
        label = "Studio" if cycle % 6 == 5 and len(live("Studio")) > 2 else (
            "Person" if cycle % 2 == 0 else "Movie")
        k = pick(label)
        del nodes[k]
        edges[:] = [e for e in edges if e[0] != k and e[1] != k]
        return f"MATCH (n:{label} {{key: '{k}'}}) DETACH DELETE n"

    def read(kind):
        if kind == "point":
            a = check_next.pop("point", None) or pick("Person")
            return f"MATCH (n:Person {{key: '{a}'}}) RETURN n.name", [nodes[a][1]["name"]]
        if kind == "hop1":
            a = pick("Person")
            return (f"MATCH (a:Person {{key: '{a}'}})-[:ACTED_IN]->(m:Movie) RETURN m.key",
                    [d for s, d, l in edges if s == a and l == "ACTED_IN"])
        m = check_next.pop("legacy_match", None) or pick("Movie")
        props = ",".join(f"{k}={v}" for k, v in sorted(nodes[m][1].items()))
        return f'MATCH NODE Movie {{key:"{m}"}};', [f"node:{m} {props}"]

    # The order of kinds is fixed, so every seed gives the engine the same
    # sequence of statement shapes (and the same snapshot history); the
    # seed picks the nodes. Eight reads to seven writes: the median latency
    # then falls inside the read latencies, not on the gap between the two.
    order = ["point", "create_node", "hop1", "legacy_create", "point", "create_rel",
             "legacy_match", "merge_rel", "hop1", "set", "point", "remove",
             "legacy_match", "detach_delete", "hop1"]
    stmts = []
    for cycle in range(cycles):
        for kind in order:
            n = len(nodes)
            # keep the live node count inside the band
            if kind in ("create_node", "legacy_create") and n >= band[1]:
                kind = "detach_delete"
            elif kind == "detach_delete" and n <= band[0]:
                kind = "create_node"
            if kind in WRITE_KINDS:
                s = _stmt(kind, write(kind, cycle), False, [])
            else:
                q, exp = read(kind)
                s = _stmt(kind, q, True, exp)
            s["nodes"], s["edges"] = len(nodes), len(edges)
            stmts.append(s)
    return stmts


def write_stmts(path, stmts):
    with open(path, "w") as f:
        for s in stmts:
            f.write(json.dumps(s) + "\n")
