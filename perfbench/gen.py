"""Seeded input generator for the graft benchmark.

Everything the program reads is made here, from the seed alone: the
star-schema tables, the `events` stream table, the `documents` corpus
and the `embeddings` table (the same schemas and value distributions
as the repository's testdata, see TESTDATA.md), the `stream_persist`
landing files and blacklist, and the `report_mix` query order. The
same seed gives byte-identical inputs.

The corpus is built the way the earlier sf1 scale-up tool scaled sf0.1
up: a base corpus is replicated, and every replica k > 0 prefixes each token with
a replica tag, so replicas are distinct documents with a disjoint
vocabulary rather than exact duplicates that the first dedup pass
would collapse. The seed picks the tags, the document order and the
split into part files.

`run.py --keep` keeps a run's generated inputs for inspection.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

TS = pa.timestamp("us")
EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _us(s):
    """ISO date → microseconds since the epoch."""
    return int((np.datetime64(s, "us") - EPOCH) / np.timedelta64(1, "us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path, cols, schema, parts=1, rng=None):
    """Write one table as `path` (a single file) or, with parts > 1, as a
    directory of part files split at seed-chosen row offsets."""
    table = pa.table(cols, schema=schema)
    if parts <= 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    cuts = np.sort(rng.choice(np.arange(1, n), parts - 1, replace=False))
    bounds = [0, *cuts.tolist(), n]
    for i in range(parts):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def star_tables(out, rng, sf):
    """region … lineitem plus events, at testdata scale factor `sf`."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    _write(f"{out}/region.parquet",
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    nk = np.arange(25, dtype=np.int32)
    _write(f"{out}/nation.parquet",
           {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": nk % 5},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))
    ck = np.arange(n_cust, dtype=np.int64)
    _write(f"{out}/customer.parquet",
           {"c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
           pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]))
    sk = np.arange(n_supp, dtype=np.int64)
    _write(f"{out}/supplier.parquet",
           {"s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
           pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    pk = np.arange(n_part, dtype=np.int64)
    _write(f"{out}/part.parquet",
           {"p_partkey": pk,
            "p_name": np.char.add(np.char.add(rng.choice(ADJ, n_part), " "),
                                  rng.choice(NOUN, n_part)),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0},
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    day = 86_400_000_000
    d0, d1 = _us("1995-01-01"), _us("2001-08-01")
    _write(f"{out}/orders.parquet",
           {"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(d0 + rng.integers(0, (d1 - d0) // day + 1, n_ord) * day, TS),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                      ("o_orderdate", TS), ("o_orderpriority", pa.string())]))
    s0, s1 = _us("1995-01-02"), _us("2001-11-04")
    _write(f"{out}/lineitem.parquet",
           {"l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(s0 + rng.integers(0, (s1 - s0) // day + 1, n_line) * day, TS)},
           pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                      ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                      ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                      ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                      ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                      ("l_shipdate", TS)]))
    e0, span = _us("2024-01-01"), 30 * day
    _write(f"{out}/events.parquet",
           {"event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(e0 + np.sort(rng.integers(0, span, n_ev)), TS),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
           pa.schema([("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                      ("event_type", pa.string()), ("value", pa.float64()),
                      ("props", pa.string())]))


def corpus(out, rng, base_docs, replicas, parts, n_vec):
    """`documents` (replicated base corpus, seeded tags/order/split) and
    `embeddings` (unit vectors, seeded dim rotation per replica)."""
    words = np.array(WORDS)
    lens = rng.integers(10, 101, base_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # 5% near-duplicates: an earlier doc plus one trailing token
    for i in rng.choice(np.arange(base_docs // 100, base_docs),
                        base_docs // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    tags = rng.choice(np.arange(100, 1000), replicas, replace=False)
    doc_text = []
    for k in range(replicas):
        if k == 0:
            doc_text.extend(texts)
        else:
            p = f"r{tags[k]}x"
            doc_text.extend(p + t.replace(" ", " " + p) for t in texts)
    n = len(doc_text)
    order = rng.permutation(n)
    doc_text = [doc_text[i] for i in order]
    _write(f"{out}/documents.parquet",
           {"doc_id": np.arange(n, dtype=np.int64),
            "text": doc_text,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in doc_text], dtype=np.int64)},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())]),
           parts=parts, rng=rng)
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet",
           {"vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec, dtype=np.int32)},
           pa.schema([("vec_id", pa.int64()),
                      ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))


def stream_lines(out, rng, plan):
    """Landing files for `stream_persist`, written to `out/staging` in
    schedule order, plus the blacklist. Each line is `ts user word…`: ts
    is the file's event time (seconds), users are uniform, words Zipf
    over the vocabulary. `plan["phases"]` lists, per phase, how many
    files of how many lines are due how far apart (0 = all at once).
    Returns the per-file schedule."""
    os.makedirs(f"{out}/staging", exist_ok=True)
    vocab = np.array([f"w{i}" for i in range(plan["vocab"])])
    ranks = np.arange(1, plan["vocab"] + 1)
    p = 1.0 / ranks ** plan["zipf"]
    p /= p.sum()
    wpl, users = plan["words_per_line"], plan["users"]
    schedule, t, idx = [], 0.0, 0
    for ph in plan["phases"]:
        n = ph["lines_per_file"]
        for _ in range(ph["files"]):
            ts = plan["event_t0"] + idx * plan["event_s_per_file"]
            w = vocab[rng.choice(plan["vocab"], (n, wpl), p=p)]
            u = rng.integers(0, users, n)
            body = "\n".join(f"{ts} u{uu} " + " ".join(ws) for uu, ws in zip(u, w))
            with open(f"{out}/staging/f{idx:06d}.txt", "w") as f:
                f.write(body + "\n")
            schedule.append({"file": f"f{idx:06d}.txt", "due_s": round(t, 6),
                             "lines": n, "phase": ph["phase"]})
            t += ph["interval_s"]
            idx += 1
    black = rng.choice(users, plan["blacklisted"], replace=False)
    with open(f"{out}/blacklist.txt", "w") as f:
        f.write("\n".join(f"u{b}" for b in sorted(black)) + "\n")
    return schedule


def generate(out, seed, workload, cfg):
    """Make every input of `workload` under `out`; return the harness
    plan (JSON-serialisable) that tells the JVM what to run."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    data = f"{out}/data"
    os.makedirs(data, exist_ok=True)
    plan = {"seed": seed, "workload": workload, "data": data}
    if workload == "curate_batch":
        c = cfg["curate"]
        star_tables(data, rng, c["sf"])
        corpus(data, rng, c["base_docs"], c["replicas"], c["parts"], c["vectors"])
        plan["entries"] = [str(e) for e in rng.permutation(c["entries"])]
        plan["docs"] = c["base_docs"] * c["replicas"]
    elif workload == "report_mix":
        r = cfg["report"]
        star_tables(data, rng, r["sf"])
        corpus(data, rng, r["base_docs"], 1, 1, r["vectors"])
        plan["rounds"] = [[str(e) for e in rng.permutation(r["entries"])]
                          for _ in range(r["max_rounds"])]
    elif workload == "stream_persist":
        s = cfg["stream"]
        plan["schedule"] = stream_lines(out, rng, s)
        plan["stream"] = s
    else:
        raise SystemExit(f"unknown workload {workload}")
    return plan

