"""Seeded input generators for the three workloads.

Every generator takes the seed as an argument and writes plain files
(parquet tables, JSON-lines change batches, a statement plan); the
library under test only ever sees those files. The same seed always
gives byte-identical inputs, so the reference checks in check.py can
recompute every expected answer from the files alone.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import sqls

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ["en", "de", "fr", "es", "zh"]
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _rng(seed, stream):
    """Independent stream per table, so adding a table never shifts another."""
    return np.random.default_rng([seed % 2**64, stream])


def _strs(choices, idx):
    return pa.array(np.asarray(choices, dtype=object)[idx].tolist(), pa.string())


def _money(rng, lo, hi, n):
    """Two-decimal amounts, stored as the nearest double like the seed data."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _days(rng, n, span):
    return EPOCH_1995 + rng.integers(0, span, n) * np.timedelta64(DAY_US, "us")


def _write(table, path):
    pq.write_table(table, path)


def _texts(rng, n):
    lens = rng.integers(8, 61, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    vocab = np.asarray(WORDS, dtype=object)[words]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(vocab[pos:pos + k]))
        pos += k
    return out


def tables(out, sf, seed, only=None):
    """The TPC-H-shaped star schema plus events/documents/embeddings that
    `graft.Engine.open` registers (or just the tables named in `only`).
    Row counts scale with `sf` like the repository's own test data
    (sf 0.1: 150k orders, 600k lineitems). Every table draws from its
    own random stream, so a subset is identical to the same tables of
    the full set. Returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    rows = {}

    def put(name, cols):
        if only is not None and name not in only:
            return
        t = pa.table(cols() if callable(cols) else cols)
        _write(t, f"{out}/{name}.parquet")
        rows[name] = t.num_rows

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": pa.array(REGIONS)})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng(seed, 1)
    put("customer", lambda: {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _strs(SEGMENTS, r.integers(0, 5, n_cust))})
    r = _rng(seed, 2)
    put("supplier", lambda: {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp))})
    r = _rng(seed, 3)
    adj = ["large", "hot", "blue", "small", "green", "cold"]
    noun = ["ring", "bolt", "gear", "nut", "pipe"]
    put("part", lambda: {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _strs([f"{a} {b}" for a in adj for b in noun],
                        r.integers(0, len(adj) * len(noun), n_part)),
        "p_brand": _strs([f"Brand#{i}" for i in range(1, 26)], r.integers(0, 25, n_part)),
        "p_type": _strs(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"],
                        r.integers(0, 5, n_part)),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    r = _rng(seed, 4)
    put("orders", lambda: {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
        "o_orderstatus": _strs(STATUSES, r.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(r, n_ord, 2404), pa.timestamp("us")),
        "o_orderpriority": _strs(PRIORITIES, r.integers(0, 5, n_ord))})
    r = _rng(seed, 5)
    put("lineitem", lambda: {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _strs(["N", "A", "R"], r.integers(0, 3, n_line)),
        "l_linestatus": _strs(["O", "F"], r.integers(0, 2, n_line)),
        "l_shipdate": pa.array(_days(r, n_line, 2499) + np.timedelta64(DAY_US, "us"),
                               pa.timestamp("us"))})
    r = _rng(seed, 6)
    ts = EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, n_ev)) * np.timedelta64(1, "us")
    put("events", lambda: {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev)),
        "event_type": _strs(["click", "view", "purchase", "signup", "error"],
                            r.integers(0, 5, n_ev)),
        "value": pa.array(_money(r, 0.0, 560.21, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})
    r = _rng(seed, 7)
    texts = _texts(r, n_docs)
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _strs(LANGS, r.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": _strs([f"src{i}" for i in range(20)], np.arange(n_docs) % 20),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    r = _rng(seed, 8)
    emb = r.standard_normal((n_emb, 64)).astype(np.float32)
    put("embeddings", lambda: {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb).astype(np.int32))})
    return rows


def mart_plan(clients, length):
    """Per-client statement sequences for the mart_sql closed loop.

    Each entry is (stmt_id, kind, text): kind "sql" carries Spark SQL,
    kind "program" names a dbt-model program (queries.Relational).
    Calls come in dashboard refreshes of four: three SQL templates,
    taken in turn, each stepping through its small parameter domain so
    statements repeat, then one program (the four in turn). Each
    client starts eight calls after the previous one. The sequence is
    the same for every seed, so every seed loads the engine with the
    same mix; the seed changes the data the statements read."""
    catalog = sqls.statements()
    by_template = {}
    for sid in sorted(catalog):
        by_template.setdefault(catalog[sid]["template"], []).append(sid)
    templates = list(sqls.TEMPLATES)
    uses = {}
    plans = []
    for c in range(clients):
        seq = []
        for i in range(8 * c, 8 * c + length):
            if i % 4 == 3:
                name = sqls.PROGRAMS[(i // 4) % len(sqls.PROGRAMS)]
                seq.append((name, "program", name))
            else:
                t = templates[(i - i // 4) % len(templates)]
                ids = by_template[t]
                sid = ids[(uses.get(t, 0) * 7 + c) % len(ids)]
                uses[t] = uses.get(t, 0) + 1
                seq.append((sid, "sql", catalog[sid]["spark"]))
        plans.append(seq)
    return plans


def zipf_cdf(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    c = np.cumsum(w)
    return c / c[-1]


def cdc(out, orders_path, seed, n_batches, batch_rows, mix=(0.7, 0.2, 0.1), skew=1.1):
    """Debezium-envelope change batches over the `orders` keys.

    Writes `batch_<n>.json` (one envelope per line, lsn strictly
    increasing) under `out`. Updates and deletes draw live keys by a
    Zipf(`skew`) rank over a seeded key permutation, so hot keys repeat
    within a batch; inserts mint fresh keys. An update or delete that
    lands on a deleted key re-creates it instead (op "c"). Prices are
    integer cents, written as two-decimal JSON numbers. Returns the
    record of what was generated."""
    os.makedirs(out, exist_ok=True)
    t = pq.read_table(orders_path, columns=["o_orderkey", "o_custkey",
                                            "o_orderstatus", "o_totalprice"])
    n0 = t.num_rows
    r = _rng(seed, 30)
    cap = n0 + n_batches * batch_rows + 1
    live = np.zeros(cap, dtype=bool)
    live[:n0] = True
    cust = np.zeros(cap, dtype=np.int64)
    cust[:n0] = t["o_custkey"].to_numpy()
    status = np.zeros(cap, dtype=np.int8)
    st = {s: i for i, s in enumerate(STATUSES)}
    status[:n0] = [st[s] for s in t["o_orderstatus"].to_pylist()]
    cents = np.zeros(cap, dtype=np.int64)
    cents[:n0] = np.round(t["o_totalprice"].to_numpy() * 100).astype(np.int64)
    perm = r.permutation(n0)
    cdf = zipf_cdf(n0, skew)
    next_key, lsn = n0, 0
    counts = {"c": 0, "u": 0, "d": 0}

    def row(k):
        c = int(cents[k])
        return (f'{{"o_orderkey":{k},"o_custkey":{int(cust[k])},'
                f'"o_orderstatus":"{STATUSES[status[k]]}",'
                f'"o_totalprice":{c // 100}.{c % 100:02d}}}')

    for b in range(n_batches):
        ops = r.choice(3, batch_rows, p=list(mix))
        hot = perm[np.searchsorted(cdf, r.random(batch_rows))]
        new_status = r.integers(0, 3, batch_rows)
        new_cents = r.integers(100_000, 50_000_000, batch_rows)
        new_cust = r.integers(0, int(cust[:n0].max()) + 1, batch_rows)
        lines = []
        for i in range(batch_rows):
            lsn += 1
            op = ops[i]
            k = int(hot[i])
            if op == 1:
                k = next_key
                next_key += 1
            if op != 1 and not live[k]:
                op = 1  # re-create a deleted key
            before = row(k) if live[k] else "null"
            if op == 2:
                live[k] = False
                kind, after = "d", "null"
            else:
                if op == 1:
                    cust[k] = new_cust[i]
                    kind = "c"
                else:
                    kind = "u"
                live[k] = True
                status[k] = new_status[i]
                cents[k] = new_cents[i]
                after = row(k)
            counts[kind] += 1
            lines.append(f'{{"before":{before},"after":{after},"op":"{kind}",'
                         f'"source":{{"lsn":{lsn}}},"ts_ms":{1_700_000_000_000 + lsn}}}')
        with open(f"{out}/batch_{b:05d}.json", "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
    return {"initial_keys": n0, "batches": n_batches, "batch_rows": batch_rows,
            "op_mix": {"update": mix[0], "insert": mix[1], "delete": mix[2]},
            "zipf_s": skew, "ops_generated": counts,
            "hot_keys": [int(k) for k in perm[:5]]}


def corpus(out, documents_path, seed, n_docs, exact_rate=0.05, near_rate=0.05):
    """A cleaning corpus of `n_docs` documents resampled from the
    generated `documents` table: each resampled text gets three random
    word substitutions (so resamples are distinct), then exact
    duplicates (`exact_rate`) and near duplicates (`near_rate`: one
    word replaced) of earlier documents are injected. Returns the
    record, including the injected pair counts."""
    os.makedirs(out, exist_ok=True)
    base = pq.read_table(documents_path)
    r = _rng(seed, 40)
    src_text = base["text"].to_pylist()
    src_lang = base["lang"].to_pylist()
    kinds = r.choice(3, n_docs, p=[1 - exact_rate - near_rate, exact_rate, near_rate])
    kinds[0] = 0
    texts, langs = [], []
    n_exact = n_near = 0
    for i in range(n_docs):
        if kinds[i] == 0:
            j = int(r.integers(0, len(src_text)))
            toks = src_text[j].split(" ")
            for _ in range(3):
                toks[int(r.integers(0, len(toks)))] = WORDS[int(r.integers(0, len(WORDS)))]
            texts.append(" ".join(toks))
            langs.append(src_lang[j])
        else:
            j = int(r.integers(0, i))
            toks = texts[j].split(" ")
            if kinds[i] == 2:
                p = int(r.integers(0, len(toks)))
                toks[p] = "dup" if toks[p] != "dup" else "key"
                n_near += 1
            else:
                n_exact += 1
            texts.append(" ".join(toks))
            langs.append(langs[j])
    t = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    _write(t, f"{out}/documents.parquet")
    return {"docs": n_docs, "exact_dup_rate": exact_rate, "near_dup_rate": near_rate,
            "exact_dups": n_exact, "near_dup_pairs": n_near}


def sizes(path):
    """Bytes of a file, or of the files directly under a directory."""
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return os.path.getsize(path)


def write_plan(path, plans):
    with open(path, "w") as f:
        for c, seq in enumerate(plans):
            for sid, kind, text in seq:
                f.write(f"{c}\t{sid}\t{kind}\t{' '.join(text.split())}\n")

