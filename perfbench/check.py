"""Reference answers, computed without the library under test.

* SQL outputs are recomputed by DuckDB over the same generated parquet
  files: the mart_sql templates in their DuckDB spelling, and the
  library's own DuckDB oracle strings (graft.SparkEntry.oracleSql) for
  the dbt-model programs and the corpus operators.
* cdc_ingest is checked against the generator's last-writer-wins
  model, replayed batch by batch from the landed change files.

Results are compared through an order-independent digest that
Digest.scala computes identically on the JVM side. The value rules
follow tools/check_oracle.py: columns are matched by name, rows as a
multiset, numbers by value (an integral double equals the integer),
other doubles bit for bit, NULL equals NULL.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def _num(d):
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    if d == math.floor(d) and abs(d) < 9.007199254740992e15:
        return str(int(d))
    return "d" + str(struct.unpack("<q", struct.pack("<d", d))[0])


def _value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        return _num(float(v))
    if isinstance(v, str):
        return f"s{len(v)}:{v}"
    if isinstance(v, datetime.datetime):
        d = v - EPOCH
        return "T" + str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "D" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_value(x) for x in v) + "]"
    return "?" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        s = "\x1f".join(_value(r[i]) for i in order)
        h = hashlib.md5(s.encode("utf-8")).digest()
        total = (total + struct.unpack("<Q", h[:8])[0]) % (1 << 64)
        n += 1
    return f"{n}:{total}"


class Duck:
    """A DuckDB session with the generated tables registered as views."""

    def __init__(self, data_dir, tables=TABLES):
        self.con = duckdb.connect()
        # spill next to the inputs, never into the working directory
        self.con.execute(f"SET temp_directory = '{data_dir}/.duckdb_tmp'")
        for t in tables:
            p = f"{data_dir}/{t}.parquet"
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def digest(self, sql):
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())


def expected_sql(data_dir, queries, cache_path, tables=TABLES):
    """{key: digest} for {key: duckdb_sql}; cached per generated input."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    todo = {k: q for k, q in queries.items() if k not in cache}
    if todo:
        duck = Duck(data_dir, tables)
        for k, q in sorted(todo.items()):
            cache[k] = duck.digest(q)
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        with open(cache_path, "w") as f:
            json.dump(cache, f)
    return {k: cache[k] for k in queries}


STATUS = ["F", "O", "P"]


class CdcModel:
    """Last-writer-wins state of `orders` under the generated changes."""

    def __init__(self, orders_path, capacity):
        t = pq.read_table(orders_path, columns=["o_orderkey", "o_custkey",
                                                "o_orderstatus", "o_totalprice"])
        n = t.num_rows
        self.live = np.zeros(capacity, dtype=bool)
        self.live[:n] = True
        self.cust = np.zeros(capacity, dtype=np.int64)
        self.cust[:n] = t["o_custkey"].to_numpy()
        self.status = np.zeros(capacity, dtype=np.int8)
        st = {s: i for i, s in enumerate(STATUS)}
        self.status[:n] = [st[s] for s in t["o_orderstatus"].to_pylist()]
        self.cents = np.zeros(capacity, dtype=np.int64)
        self.cents[:n] = np.round(t["o_totalprice"].to_numpy() * 100).astype(np.int64)
        self.lsn = np.zeros(capacity, dtype=np.int64)

    def apply(self, path):
        st = {s: i for i, s in enumerate(STATUS)}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                row = e["after"] or e["before"]
                k = row["o_orderkey"]
                self.lsn[k] = e["source"]["lsn"]
                if e["op"] == "d":
                    self.live[k] = False
                else:
                    self.live[k] = True
                    self.cust[k] = row["o_custkey"]
                    self.status[k] = st[row["o_orderstatus"]]
                    self.cents[k] = round(decimal.Decimal(str(row["o_totalprice"])) * 100)

    def aggregate(self):
        m = self.live
        return {"n_live": int(m.sum()), "revenue": int(self.cents[m].sum()),
                "n_finished": int((m & (self.status == 0)).sum()),
                "max_lsn": int(self.lsn[m].max())}

    def rows(self, keys=None):
        ks = np.nonzero(self.live)[0] if keys is None else [k for k in keys if self.live[k]]
        return [(int(k), int(self.cust[k]), STATUS[self.status[k]],
                 int(self.cents[k]) / 100, int(self.lsn[k])) for k in ks]


ROW_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "lsn"]


def check_cdc(recs, meta, orders_path, landing, hot_keys, capacity):
    """Mark every commit/read record and the final state; returns the
    list of (key, ok) checks with the ops' records updated in place."""
    model = CdcModel(orders_path, capacity)
    history = {-1: model.aggregate()}
    by_batch = {}
    for r in recs:
        by_batch.setdefault(r["batch"], []).append(r)
    applied = meta["batches_applied"]
    for b in range(applied):
        model.apply(f"{landing}/batch_{b:05d}.json")
        agg = model.aggregate()
        history[b] = agg
        for r in by_batch.get(b, []):
            if r["kind"] != "read" or not r["ok"]:
                continue
            k = r["key"]
            if k in ("agg_cow", "agg_mor"):
                exp = digest(["n_live", "revenue", "n_finished", "max_lsn"],
                             [(agg["n_live"], agg["revenue"] / 100, agg["n_finished"],
                               agg["max_lsn"])])
            elif k.startswith("point_"):
                exp = digest(ROW_COLS, model.rows(hot_keys))
            else:
                h = history[r["as_of"]]
                exp = digest(["n_live", "revenue"], [(h["n_live"], h["revenue"] / 100)])
            r["correct"] = r["digest"] == exp
    for r in recs:
        r.setdefault("correct", r["ok"])
    final = digest(ROW_COLS, model.rows())
    return [("final_cow", meta["final_cow"] == final),
            ("final_mor", meta["final_mor"] == final)], model

