"""Seeded inputs for the benchmark workloads.

Everything the engine is given is written here, from a seed, with numpy
and pyarrow only:

* ``corpus``: the ``documents`` and ``embeddings`` tables the dedup,
  similarity, retrieval and media queries read, in the shape of the
  engine's test fixtures (word-salad text over a 30-word vocabulary with
  planted near-duplicates, five languages, twenty sources; unit-norm
  64-d embeddings with ten labels).
* ``replicate``: MySQL DDL for three TPC-H-shaped tables, their snapshot
  rows (typed the way a JDBC read returns them), a Debezium JSON change
  dump (Zipf-skewed updates of snapshot keys, inserts, deletes and a few
  ``ALTER TABLE ... ADD COLUMN`` at seeded positions), point-lookup keys,
  and the FINAL state the engine must reach, computed here independently
  of the engine.
"""
import decimal
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]


def write_corpus(out, seed, n_docs, n_emb):
    """documents + embeddings parquet, one row group each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    lens = rng.integers(10, 100, n_docs)
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, lens[i])))
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))


# ---------------------------------------------------------------- replicate

DB = "bench"

DDL = {
    "customer": """CREATE TABLE customer (
  c_custkey int unsigned NOT NULL,
  c_name varchar(25) NOT NULL,
  c_nationkey tinyint unsigned NOT NULL,
  c_acctbal decimal(12,2) NOT NULL,
  c_mktsegment enum('Automobile','Building','Furniture','Household','Machinery') NOT NULL,
  c_created datetime NOT NULL,
  PRIMARY KEY (c_custkey))""",
    "orders": """CREATE TABLE orders (
  o_orderkey int unsigned NOT NULL,
  o_custkey int unsigned NOT NULL,
  o_orderstatus enum('F','O','P') NOT NULL,
  o_totalprice decimal(15,2) NOT NULL,
  o_orderdate datetime NOT NULL,
  o_orderpriority varchar(15) NOT NULL,
  PRIMARY KEY (o_orderkey))""",
    "lineitem": """CREATE TABLE lineitem (
  l_orderkey int unsigned NOT NULL,
  l_linenumber tinyint unsigned NOT NULL,
  l_partkey int unsigned NOT NULL,
  l_quantity decimal(15,2) NOT NULL,
  l_extendedprice decimal(15,2) NOT NULL,
  l_discount decimal(4,2) NOT NULL,
  l_returnflag enum('A','N','R') NOT NULL,
  l_shipdate datetime NOT NULL,
  l_comment varchar(44),
  PRIMARY KEY (l_orderkey, l_linenumber))""",
}
KEYS = {"customer": ["c_custkey"], "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey", "l_linenumber"]}
# column -> kind; kinds drive both value generation and the expected
# (converted) representation
COLS = {
    "customer": [("c_custkey", "int"), ("c_name", "str"),
                 ("c_nationkey", "int"), ("c_acctbal", "dec"),
                 ("c_mktsegment", "enum"), ("c_created", "dt")],
    "orders": [("o_orderkey", "int"), ("o_custkey", "int"),
               ("o_orderstatus", "enum"), ("o_totalprice", "dec"),
               ("o_orderdate", "dt"), ("o_orderpriority", "str")],
    "lineitem": [("l_orderkey", "int"), ("l_linenumber", "int"),
                 ("l_partkey", "int"), ("l_quantity", "dec"),
                 ("l_extendedprice", "dec"), ("l_discount", "dec"),
                 ("l_returnflag", "enum"), ("l_shipdate", "dt"),
                 ("l_comment", "str")],
}
# columns added mid-stream: (table, column, kind, DDL type)
ADDED = [("orders", "o_note", "str", "varchar(32)"),
         ("customer", "c_score", "int", "int unsigned")]
SEGMENTS = ["Automobile", "Building", "Furniture", "Household", "Machinery"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_1995 = 788918400  # 1995-01-01 00:00:00 UTC


def _dt(sec):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(sec))


def _money(cents):
    sign = "-" if cents < 0 else ""
    cents = abs(int(cents))
    return f"{sign}{cents // 100}.{cents % 100:02d}"


class _Rows:
    """Row-image factory: wire values as Debezium sends them (ints as
    numbers, decimals and datetimes as strings, enums as their declared
    label). Draws from blocks of seeded uniforms, so a row costs a few
    float operations rather than a numpy call per field."""

    def __init__(self, rng):
        self.rng = rng
        self.buf, self.i = rng.random(1 << 16), 0

    def randint(self, lo, hi):
        """Uniform int in [lo, hi)."""
        if self.i == len(self.buf):
            self.buf, self.i = self.rng.random(1 << 16), 0
        v = self.buf[self.i]
        self.i += 1
        return lo + int(v * (hi - lo))

    def customer(self, key):
        r = self.randint
        return {"c_custkey": key, "c_name": f"Customer#{key:09d}",
                "c_nationkey": r(0, 25),
                "c_acctbal": _money(r(-99999, 999999)),
                "c_mktsegment": SEGMENTS[r(0, 5)],
                "c_created": _dt(EPOCH_1995 + r(0, 200000000))}

    def orders(self, key, n_cust):
        r = self.randint
        return {"o_orderkey": key, "o_custkey": r(0, n_cust),
                "o_orderstatus": "FOP"[r(0, 3)],
                "o_totalprice": _money(r(100000, 50000000)),
                "o_orderdate": _dt(EPOCH_1995 + 86400 * r(0, 2400)),
                "o_orderpriority": PRIORITIES[r(0, 5)]}

    def lineitem(self, okey, ln):
        r = self.randint
        return {"l_orderkey": okey, "l_linenumber": ln,
                "l_partkey": r(0, 20000),
                "l_quantity": _money(100 * r(1, 51)),
                "l_extendedprice": _money(r(90000, 10500000)),
                "l_discount": _money(r(0, 11)),
                "l_returnflag": "ANR"[r(0, 3)],
                "l_shipdate": _dt(EPOCH_1995 + 86400 * r(0, 2500)),
                "l_comment": None if r(0, 5) == 0 else
                " ".join(WORDS[r(0, len(WORDS))] for _ in range(r(1, 6)))}


def _key(table, row):
    return tuple(row[k] for k in KEYS[table])


def expected_state(snapshot, events):
    """The FINAL state a correct replicator reaches: the last image per
    primary key in stream order, deleted keys removed, columns added by
    DDL present (NULL on rows whose last image predates them).

    ``snapshot``: table -> list of row dicts; ``events``: list of
    ``("add"|"remove", table, row)`` and ``("ddl", table, column)`` in
    stream order. Returns table -> {key tuple: row dict}, each row
    carrying every column the table has at the end of the stream."""
    state = {t: {_key(t, r): dict(r) for r in rows}
             for t, rows in snapshot.items()}
    cols = {t: [c for c, _ in COLS[t]] for t in snapshot}
    for ev in events:
        kind, table, body = ev
        if kind == "ddl":
            cols[table].append(body)
        elif kind == "add":
            state[table][_key(table, body)] = dict(body)
        else:
            state[table].pop(_key(table, body), None)
    return {t: {k: {c: r.get(c) for c in cols[t]} for k, r in rows.items()}
            for t, rows in state.items()}


def converted(table, row):
    """One expected row in the engine's converted representation: enum
    labels lowercased, everything else as the wire carried it (decimals
    and datetimes stay exact strings the JVM casts to the column type)."""
    kinds = dict(COLS[table] + [(c, k) for t, c, k, _ in ADDED if t == table])
    out = {}
    for c, v in row.items():
        out[c] = v.lower() if (v is not None and kinds[c] == "enum") else v
    return out


def change_stream(rng, snapshot, n_events, n_cust):
    """Seeded change stream over the snapshot: (kind, table, row) events.

    ~70% updates of snapshot keys drawn Zipf-skewed, ~20% inserts of
    fresh keys, ~10% deletes; each ADDED column lands via DDL at a seeded
    position in the first fifth of the stream, after which that table's
    images carry it."""
    rows = _Rows(rng)
    snap_keys = {t: [_key(t, r) for r in rs] for t, rs in snapshot.items()}
    dead = {t: set() for t in snapshot}
    # Zipf rank -> key: a seeded permutation so the hot keys differ by seed
    order = {t: rng.permutation(len(ks)) for t, ks in snap_keys.items()}
    next_order = max(r["o_orderkey"] for r in snapshot["orders"]) + 1
    next_cust = max(r["c_custkey"] for r in snapshot["customer"]) + 1
    next_li = max(r["l_orderkey"] for r in snapshot["lineitem"]) + 1
    # the DDL lands in the first fifth of the stream, so with the default
    # batch sizing it falls in the first micro-batch of every seed: which
    # batches carry a DDL barrier must not vary with the seed
    ddl_at = sorted(int(x) for x in
                    rng.integers(n_events // 20, n_events // 5, len(ADDED)))
    added = {t: [] for t in snapshot}
    tables = rng.choice(["lineitem", "orders", "customer"], n_events,
                        p=[0.6, 0.3, 0.1])
    kinds = rng.choice(["u", "c", "d"], n_events, p=[0.7, 0.2, 0.1])
    ranks = rng.zipf(1.3, n_events) - 1
    unif = rng.random(n_events)
    events = []
    di = 0
    for i in range(n_events):
        while di < len(ddl_at) and ddl_at[di] == i:
            t, c, _, _ = ADDED[di]
            added[t].append(c)
            events.append(("ddl", t, c))
            di += 1
        t, k = str(tables[i]), kinds[i]
        if k == "c":
            if t == "customer":
                key = (next_cust,); next_cust += 1
                img = rows.customer(key[0])
            elif t == "orders":
                key = (next_order,); next_order += 1
                img = rows.orders(key[0], n_cust)
            else:
                key = (next_li, rows.randint(1, 8)); next_li += 1
                img = rows.lineitem(*key)
        else:
            ks = snap_keys[t]
            if len(dead[t]) == len(ks):
                continue
            if k == "d":
                # deletes spread uniformly; updates follow the Zipf skew
                pos = int(unif[i] * len(ks))
            else:
                pos = order[t][min(ranks[i], len(ks) - 1)]
            while ks[pos] in dead[t]:
                pos = (pos + 1) % len(ks)
            key = ks[pos]
            if k == "d":
                dead[t].add(key)
                events.append(("remove", t, dict(zip(KEYS[t], key))))
                continue
            if t == "customer":
                img = rows.customer(key[0])
            elif t == "orders":
                img = rows.orders(key[0], n_cust)
            else:
                img = rows.lineitem(*key)
        for c in added[t]:
            kind = next(kd for tt, cc, kd, _ in ADDED if cc == c)
            img[c] = (f"n{rows.randint(0, 1000)}" if kind == "str"
                      else rows.randint(0, 100))
        events.append(("add", t, img))
    return events


def _debezium(events, db):
    """Debezium MySQL-connector envelopes, one JSON line each."""
    out = []
    for pos, (kind, table, body) in enumerate(events):
        src = {"db": db, "table": table, "file": "mysql-bin.000001",
               "pos": 4 + 100 * pos}
        if kind == "ddl":
            typ = next(ty for t, c, _, ty in ADDED if c == body)
            p = {"databaseName": db, "source": src,
                 "ddl": f"ALTER TABLE {table} ADD COLUMN {body} {typ}"}
        elif kind == "add":
            p = {"op": "u", "before": None, "after": body, "source": src}
        else:
            p = {"op": "d", "before": body, "after": None, "source": src}
        out.append(json.dumps({"payload": p}, separators=(",", ":")))
    return out


def _snapshot_table(table, rows):
    """Snapshot rows as a JDBC read types them: ints as int64, decimals
    as decimal128, datetimes as timestamps, enums and varchars as text."""
    data = {}
    for c, kind in COLS[table]:
        vals = [r[c] for r in rows]
        if kind == "int":
            typ = pa.int64()
        elif kind == "dec":
            typ = pa.decimal128(15, 2)
            vals = [decimal.Decimal(v) for v in vals]
        elif kind == "dt":
            typ = pa.timestamp("us")
            vals = np.array(vals, dtype="datetime64[us]")
        else:
            typ = pa.string()
        data[c] = pa.array(vals, typ)
    return pa.table(data)


def write_replicate(out, seed, n_orders, n_events, records_per_file):
    """Write the replicate inputs under ``out``:

    ``ddl.json`` (table -> CREATE TABLE, plus primary keys), ``snapshot/
    <table>.parquet``, ``dump/changes.jsonl`` (Debezium envelopes),
    ``expected/<table>.parquet`` (every column as text, NULL where the
    row lacks it) and ``lookups.json`` (table -> [[key, category]])."""
    rng = np.random.default_rng(seed)
    rows = _Rows(rng)
    n_cust = max(10, n_orders // 10)
    snapshot = {"customer": [rows.customer(k) for k in range(n_cust)],
                "orders": [rows.orders(k, n_cust) for k in range(n_orders)],
                "lineitem": []}
    for ok in range(n_orders):
        for ln in range(1, rows.randint(1, 8) + 1):
            snapshot["lineitem"].append(rows.lineitem(ok, ln))
    events = change_stream(rng, snapshot, n_events, n_cust)
    state = expected_state(snapshot, events)

    for d in ("snapshot", "dump", "expected"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    for t, rs in snapshot.items():
        pq.write_table(_snapshot_table(t, rs),
                       os.path.join(out, "snapshot", f"{t}.parquet"))
    with open(os.path.join(out, "dump", "changes.jsonl"), "w") as f:
        f.write("\n".join(_debezium(events, DB)) + "\n")
    for t, byKey in state.items():
        conv = [converted(t, r) for r in byKey.values()]
        names = list(next(iter(byKey.values())).keys())
        tbl = pa.table({c: pa.array([None if r[c] is None else str(r[c])
                                     for r in conv], pa.string())
                        for c in names})
        pq.write_table(tbl, os.path.join(out, "expected", f"{t}.parquet"))

    # lookup keys on the first primary-key column: unchanged snapshot keys,
    # updated keys, deleted keys and keys that never existed
    lookups = {}
    for t in snapshot:
        k0 = KEYS[t][0]
        touched = {e[2][k0] for e in events if e[0] == "add" and e[1] == t}
        removed = {e[2][k0] for e in events if e[0] == "remove" and e[1] == t}
        live = {k[0] for k in state[t]}
        snap = {r[k0] for r in snapshot[t]}
        cats = {
            "unchanged": sorted(snap - touched - removed),
            "updated": sorted(touched & live & snap),
            "deleted": sorted(k for k in removed if k not in live),
            "absent": [10 ** 8 + i for i in range(50)],
        }
        # two of the four categories per table, chosen by the seed
        chosen = [c for c in rng.permutation(list(cats)) if cats[c]][:2]
        lookups[t] = [[int(rng.choice(cats[c])), str(c)] for c in chosen]
    meta = {"db": DB, "ddl": DDL, "keys": KEYS,
            "records_per_file": records_per_file,
            "tables": list(snapshot),
            "snapshot_rows": sum(len(r) for r in snapshot.values()),
            "events": sum(1 for e in events if e[0] != "ddl"),
            "ddl_statements": sum(1 for e in events if e[0] == "ddl"),
            "final_rows": sum(len(r) for r in state.values()),
            "lookups": lookups}
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(meta, f)
    return meta
