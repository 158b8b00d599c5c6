"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files, a different seed writes different
ones. graft only ever sees the files.

  tables(seed, out, ...)        TPC-H-ish snapshot tables + events,
                                documents and embeddings (parquet)
  feed(seed, out, ...)          a CDC feed: one JSON-lines file per step
  churn(seed, out, ...)         I/U/D batches for the three live indexes
  lww_final(changes)            the benchmark's own last-writer-wins fold
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("value hash batch sort data big filter dup row the query stream fast spark "
         "line small customer group key agg scan slow table part a merge window order "
         "column join vector").split()
ADJ = "red old cold hot new large small blue".split()
NOUN = "bolt anvil plate widget gear ring rod gizmo".split()
EPOCH_1995_US = 788918400 * 1_000_000
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def documents(rng, n, dup_share=0.1):
    """Whitespace text over a small vocabulary; `dup_share` of the rows
    are near-copies (a few words replaced) of an earlier row, so the
    dedup operators have pairs to find."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 1 + len(words) // 20):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(10, 100))))
    return texts


def embeddings(rng, n, dim=64, labels=10):
    centres = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centres[label] + rng.normal(0, 0.8, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), label.astype(np.int32)


def _emb_array(v):
    return pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1)), v.shape[1]).cast(
        pa.list_(pa.float32()))


def tables(seed, out, lineitems=60_000, docs=500, vecs=500):
    """The snapshot tables at `lineitems` lineitem rows (sf0.01 = 60k);
    the other fact and dimension sizes keep TPC-H's ratios."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_ord, n_cust = lineitems // 4, max(lineitems // 40, 50)
    n_part, n_supp = max(lineitems // 30, 50), max(lineitems // 600, 10)
    n_ev, n_users = lineitems // 6, max(lineitems // 400, 20)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)}), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"],
                             n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)}), f"{out}/orders.parquet")
    qty = rng.integers(1, 51, lineitems).astype(np.float64)
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, lineitems),
        "l_partkey": rng.integers(0, n_part, lineitems),
        "l_suppkey": rng.integers(0, n_supp, lineitems),
        "l_linenumber": rng.integers(1, 8, lineitems).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, lineitems), 2),
        "l_discount": rng.integers(0, 11, lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, lineitems) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], lineitems),
        "l_linestatus": rng.choice(["F", "O"], lineitems),
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(0, 2500, lineitems) * DAY_US)}),
        f"{out}/lineitem.parquet")
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    texts = documents(rng, docs)
    _write(pa.table({
        "doc_id": np.arange(docs, dtype=np.int64), "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    v, label = embeddings(rng, vecs)
    _write(pa.table({"vec_id": np.arange(vecs, dtype=np.int64), "embedding": _emb_array(v),
                     "label": label}), f"{out}/embeddings.parquet")


# ---- changefeed-views ---------------------------------------------------

def feed(seed, out, keys=20_000, batch=2_000, steps=60, groups=200,
         delete_share=0.1, tie_share=0.05):
    """A CDC feed over `keys` live keys: file 0 inserts them all, then
    each of `steps` files carries `batch` changes — `delete_share`
    deletes of live keys, as many inserts of fresh keys (so the live-key
    count stays fixed), the rest updates. Group keys are Zipf-skewed so
    some groups are hot. `tie_share` of the changes are a second write
    to a key already written in the same file at the SAME commit
    timestamp; `seq` (the LSN) orders the pair. Files are
    `b<step>.json`, rows `{"op","key","ts","payload","seq"}`, listed with
    their change counts in `manifest.tsv`."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    zipf = 1.0 / np.arange(1, groups + 1) ** 1.1
    zipf /= zipf.sum()
    n_del = int(round(batch * delete_share))
    n_upd = batch - 2 * n_del
    seq = 0
    ts = EPOCH_2024_US
    live = np.arange(keys, dtype=np.int64)
    next_key = keys
    files = []

    def emit(ops, ks):
        """One file body; payloads and timestamps are drawn vectorized."""
        nonlocal seq, ts
        n = len(ks)
        tie = (ops != "delete") & (rng.random(n) < tie_share)
        reps = np.where(tie, 2, 1)
        ops = np.repeat(ops, reps)
        ks = np.repeat(ks, reps)
        second = np.zeros(len(ks), dtype=bool)
        second[np.cumsum(reps)[tie] - 1] = True
        ops[second] = "update"
        m = len(ks)
        step = rng.integers(1, 3, m) * 1000
        step[second] = 0                      # the tie: same ts, next seq
        tss = ts + np.cumsum(step)
        seqs = seq + 1 + np.arange(m)
        ts, seq = int(tss[-1]), int(seqs[-1])
        g = rng.choice(groups, m, p=zipf)
        amount = rng.integers(0, 50_000, m)
        # score is unique per (key, version): rank ties never depend on
        # the order the engine happens to see rows in
        score = rng.integers(0, 1000, m) * 10_000_000 + ks
        iso = np.datetime_as_string(tss.astype("datetime64[us]"), unit="us")
        rows = []
        for i in range(m):
            if ops[i] == "delete":
                p = "{}"
            else:
                p = (f'{{"amount":"{amount[i] // 100}.{amount[i] % 100:02d}","g":"g{g[i]:03d}",'
                     f'"name":"n{ks[i]}","region":"r{g[i] % 5}","score":"{score[i]}"}}')
            rows.append(f'{{"key":{ks[i]},"op":"{ops[i]}","payload":{p},'
                        f'"seq":{seqs[i]},"ts":"{iso[i]}Z"}}')
        files.append(("\n".join(rows) + "\n", m))

    emit(np.array(["insert"] * keys, dtype=object), live)
    for _ in range(steps):
        pos = rng.permutation(len(live))
        dels = live[pos[:n_del]]
        # updates touch surviving keys only, so the live count stays fixed
        upds = live[pos[n_del + rng.integers(0, len(live) - n_del, n_upd)]]
        ins = np.arange(next_key, next_key + n_del, dtype=np.int64)
        next_key += n_del
        ops = np.array(["delete"] * n_del + ["update"] * n_upd + ["insert"] * n_del, dtype=object)
        ks = np.concatenate([dels, upds, ins])
        order = rng.permutation(len(ks))
        emit(ops[order], ks[order])
        live = np.concatenate([np.delete(live, pos[:n_del]), ins])
    with open(f"{out}/manifest.tsv", "w") as man:
        for i, (body, n) in enumerate(files):
            with open(f"{out}/b{i:05d}.json", "w") as f:
                f.write(body)
            man.write(f"b{i:05d}.json\t{n}\n")
    return len(files)


def read_feed(path):
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def lww_final(changes):
    """Last-writer-wins per key by (ts, seq); deletes remove the key.
    Returns {key: payload} of the live keys."""
    best = {}
    for c in changes:
        k = c["key"]
        pos = (c["ts"], c["seq"])
        if k not in best or pos >= best[k][0]:
            best[k] = (pos, c)
    return {k: c["payload"] for k, (_, c) in best.items() if c["op"] != "delete"}


# ---- live-index-churn ---------------------------------------------------

def churn(seed, out, docs=2_000, vecs=2_000, orders=20_000, per_step=300, steps=60):
    """Base corpora plus `steps` I/U/D batches per index family. Each
    batch has `per_step` changes: 10% deletes of live keys, 10% inserts
    of fresh keys, the rest updates; `tsUs` rises across batches and
    `seq` is the global change number. Files:
      docs_base/vecs_base/orders_base.parquet and
      {docs,vecs,orders}_<step>.parquet with columns op, key, value, tsUs, seq."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    texts = documents(rng, docs, dup_share=0.0)
    v, _ = embeddings(rng, vecs)
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(pa.table({"key": np.arange(docs, dtype=np.int64), "value": texts}),
           f"{out}/docs_base.parquet")
    _write(pa.table({"key": np.arange(vecs, dtype=np.int64), "value": _emb_array(v)}),
           f"{out}/vecs_base.parquet")
    _write(pa.table({"key": np.arange(orders, dtype=np.int64),
                     "value": rng.choice(prio, orders)}), f"{out}/orders_base.parquet")
    q, _ = embeddings(rng, 5)
    _write(pa.table({"query_id": np.arange(5, dtype=np.int64), "embedding": _emb_array(q)}),
           f"{out}/ann_queries.parquet")
    manifest = []
    seq = 10_000_000
    fams = {"docs": (docs, lambda n: pa.array([_text(rng, int(rng.integers(10, 100)))
                                                for _ in range(n)])),
            "vecs": (vecs, lambda n: _emb_array(embeddings(rng, n)[0])),
            "orders": (orders, lambda n: pa.array(rng.choice(prio, n)))}
    for fam, (n0, values) in fams.items():
        live = np.arange(n0, dtype=np.int64)
        nxt = n0
        for step in range(steps):
            n_d = per_step // 10
            pos = rng.permutation(len(live))
            dels = live[pos[:n_d]]
            ins = np.arange(nxt, nxt + n_d, dtype=np.int64)
            nxt += n_d
            upd = live[pos[n_d:per_step - n_d]]
            keys = np.concatenate([dels, upd, ins])
            ops = ["D"] * n_d + ["U"] * len(upd) + ["I"] * n_d
            n = len(keys)
            vals = values(n)
            if fam == "vecs":
                vals = pa.array([None if o == "D" else x for o, x in zip(ops, vals.to_pylist())],
                                pa.list_(pa.float32()))
            else:
                vals = pa.array([None if o == "D" else x for o, x in zip(ops, vals.to_pylist())],
                                pa.string())
            seqs = np.arange(seq, seq + n, dtype=np.int64)
            seq += n
            _write(pa.table({"op": ops, "key": keys, "value": vals,
                             "tsUs": np.full(n, 2_000_000 + step * 1000, dtype=np.int64),
                             "seq": seqs}), f"{out}/{fam}_{step:03d}.parquet")
            manifest.append(f"{fam}_{step:03d}.parquet\t{n}\n")
            live = np.concatenate([np.delete(live, pos[:n_d]), ins])
    with open(f"{out}/manifest.tsv", "w") as f:
        f.writelines(manifest)
