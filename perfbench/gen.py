"""Seeded input generation for the graft benchmark.

Every input a workload feeds graft is made here from the workload seed and
nothing else: the analytics tables, the lake_sql statement log and the
cdc_stream envelope log. The same seed gives byte-identical files; the
program under test receives only these files.

The analytics tables copy the shape of the harness tables (TPC-H-like star
schema plus events, documents and embeddings): same column names, parquet
types and value domains, uniform random values.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the generated analytics tables. lineitem/orders/part/events
# follow the harness tables at scale factor 0.05; documents and embeddings
# keep the harness sf0.1 counts, because the text and vector queries are
# shaped by corpus size, not by the star schema's scale.
ANALYTICS_ROWS = {
    "lineitem": 60_000,
    "orders": 15_000,
    "part": 2_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
N_USERS = 1_500

WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ["en", "en", "de", "es", "fr", "zh"]
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400 * 1_000_000


def _rng(seed, stream):
    """An independent generator per (seed, stream) so adding a table or a
    column to one stream never shifts the values of another."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _days(rng, n, start, end):
    """n midnight timestamps (µs) drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _cents(rng, n, lo, hi):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def analytics_tables(seed, out_dir):
    """Write the six tables the analytics queries read to out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    n = ANALYTICS_ROWS
    r = _rng(seed, 1)
    n_li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, N_SUPPLIERS, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(r, n_li, 900.68, 104999.91)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(r, n_li, "1995-01-02", "2001-11-04")),
    }), f"{out_dir}/lineitem.parquet")

    r = _rng(seed, 2)
    n_o = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, N_CUSTOMERS, n_o), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(_cents(r, n_o, 1001.91, 499993.18)),
        "o_orderdate": pa.array(_days(r, n_o, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_o)]),
    }), f"{out_dir}/orders.parquet")

    r = _rng(seed, 3)
    n_p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": pa.array(np.array(names)[r.integers(0, len(names), n_p)]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_p)]),
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n_p)]),
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(n_p) % 1000) / 10.0),
    }), f"{out_dir}/part.parquet")

    r = _rng(seed, 4)
    n_e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(r.integers(start, start + 30 * DAY_US, n_e))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(r.integers(0, N_USERS, n_e), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n_e)]),
        "value": pa.array(np.round(r.exponential(50.0, n_e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_e)]),
    }), f"{out_dir}/events.parquet")

    r = _rng(seed, 5)
    n_d = n["documents"]
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), k)])
             for k in r.integers(10, 101, n_d)]
    # a few exact duplicates, as in the harness corpus
    for i in r.choice(n_d, n_d // 600, replace=False):
        texts[i] = texts[(i + 1) % n_d]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.integers(0, len(LANGS), n_d)]),
        "source": pa.array([f"src{s}" for s in r.integers(0, 20, n_d)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    r = _rng(seed, 6)
    n_v = n["embeddings"]
    v = r.standard_normal((n_v, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_v), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_v), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


# ---------------------------------------------------------------- lake_sql

LAKE_TABLES = ["o0", "o1", "o2"]     # hot to cold
LAKE_ROWS = 10_000                   # initial rows of each orders table
LAKE_LINES = 30_000                  # rows of the lineitem table l0
LAKE_STATEMENTS = 6_000              # log length; a run executes a prefix
VACUUM_RETAIN = 6                    # manifests kept behind the head
TRAVEL_BACK = 3                      # time travel reaches back 1..3 commits
# One round of the log: every kind in a fixed proportion (6 reads, 4
# writes) and every table in a fixed Zipf-like proportion (hot o0 takes half
# the statements, cold o2 a fifth), each in a seeded order, then one
# maintenance call (compact and vacuum alternate, visiting hot tables more
# often). A run executes whole rounds, so its statement mix and table heat
# are the same whatever the seed.
LAKE_ROUND = ["point", "point", "point", "range", "travel", "join",
              "insert", "update", "delete", "merge"]
LAKE_ROUND_TABLES = ["o0"] * 5 + ["o1"] * 3 + ["o2"] * 2
LAKE_MAINT_TABLES = ["o0", "o1", "o0", "o2"]
WRITE_KINDS = {"insert", "update", "delete", "merge"}


def year_of(k):
    """The partition value of a key: immutable per key, so an update never
    moves a row between partitions."""
    return 1995 + k % 7


def _zipf_sampler(rng, n, a):
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** a)
    cdf /= cdf[-1]
    return lambda size=None: np.searchsorted(cdf, rng.random(size))


def lake_sql(seed, out_dir):
    """Seed rows of the four catalog tables and the statement log.

    Files: lake_o0.parquet .. lake_o2.parquet, lake_l0.parquet and
    lake_statements.jsonl (one statement a line: index, kind, table, SQL and
    the structured fields the reference model replays)."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 10)
    for t in LAKE_TABLES:
        k = np.arange(LAKE_ROWS)
        _write(pa.table({
            "k": pa.array(k, pa.int64()),
            "cust": pa.array(r.integers(0, 1500, LAKE_ROWS), pa.int64()),
            "amt": pa.array(r.integers(100, 50_000_000, LAKE_ROWS), pa.int64()),
            "note": pa.array([f"n{x}" for x in k]),
            "yr": pa.array(year_of(k), pa.int32()),
        }), f"{out_dir}/lake_{t}.parquet")
    lk = r.integers(0, LAKE_ROWS, LAKE_LINES)
    _write(pa.table({
        "lk": pa.array(lk, pa.int64()),
        "ln": pa.array(r.integers(1, 8, LAKE_LINES), pa.int32()),
        "qty": pa.array(r.integers(1, 51, LAKE_LINES), pa.int64()),
        "amt": pa.array(r.integers(100, 10_000_000, LAKE_LINES), pa.int64()),
        "yr": pa.array(year_of(lk), pa.int32()),
    }), f"{out_dir}/lake_l0.parquet")

    r = _rng(seed, 11)
    pick_rank = _zipf_sampler(r, LAKE_ROWS, 1.0)
    perm = {t: r.permutation(LAKE_ROWS) for t in LAKE_TABLES}
    next_key = {t: LAKE_ROWS for t in LAKE_TABLES}
    out = []
    rnd = 0

    def key(t):
        return int(perm[t][pick_rank()])

    def row(t, k, i):
        return {"k": k, "cust": int(r.integers(0, 1500)),
                "amt": int(r.integers(100, 50_000_000)), "note": f"s{i}",
                "yr": year_of(k)}

    def values(rows):
        return ", ".join(f"({x['k']}, {x['cust']}, {x['amt']}, '{x['note']}', {x['yr']})"
                         for x in rows)

    while len(out) < LAKE_STATEMENTS:
        for kind, t in zip(r.permutation(LAKE_ROUND), r.permutation(LAKE_ROUND_TABLES)):
            kind, t = str(kind), str(t)
            i = len(out)
            tt = f"{{cat}}.db.{t}"
            s = {"i": i, "round": rnd, "kind": kind, "table": t}
            if kind == "point":
                s["key"] = key(t)
                s["sql"] = f"SELECT k, cust, amt, note, yr FROM {tt} WHERE k = {s['key']}"
            elif kind == "range":
                y = 1995 + int(r.integers(0, 6))
                s["years"] = [y, y + 1]
                s["sql"] = (f"SELECT count(*) AS n, coalesce(sum(amt), 0) AS s FROM {tt} "
                            f"WHERE yr BETWEEN {y} AND {y + 1}")
            elif kind == "travel":
                s["back"] = int(r.integers(1, TRAVEL_BACK + 1))
                s["sql"] = (f"SELECT count(*) AS n, coalesce(sum(amt), 0) AS s FROM {tt} "
                            "VERSION AS OF {version}")
            elif kind == "join":
                y = 1995 + int(r.integers(0, 7))
                s["year"] = y
                s["sql"] = (f"SELECT count(*) AS n, coalesce(sum(l.amt), 0) AS s FROM {tt} o "
                            f"JOIN {{cat}}.db.l0 l ON o.k = l.lk WHERE o.yr = {y}")
            elif kind == "insert":
                ks = range(next_key[t], next_key[t] + 5)
                next_key[t] += 5
                s["rows"] = [row(t, k, i) for k in ks]
                s["sql"] = f"INSERT INTO {tt} VALUES {values(s['rows'])}"
            elif kind == "update":
                s["key"] = key(t)
                s["delta"] = int(r.integers(1, 1000))
                s["note"] = f"u{i}"
                s["sql"] = (f"UPDATE {tt} SET amt = amt + {s['delta']}, note = '{s['note']}' "
                            f"WHERE k = {s['key']}")
            elif kind == "delete":
                s["key"] = key(t)
                s["sql"] = f"DELETE FROM {tt} WHERE k = {s['key']}"
            else:  # merge: three Zipf keys, one new key; keys distinct
                ks = sorted({key(t) for _ in range(3)} | {next_key[t]})
                next_key[t] += 1
                s["rows"] = [row(t, k, i) for k in ks]
                s["sql"] = (f"MERGE INTO {tt} t USING (SELECT * FROM VALUES {values(s['rows'])} "
                            "AS src(k, cust, amt, note, yr)) s ON t.k = s.k "
                            "WHEN MATCHED THEN UPDATE SET amt = t.amt + s.amt, note = s.note "
                            "WHEN NOT MATCHED THEN INSERT (k, cust, amt, note, yr) "
                            "VALUES (s.k, s.cust, s.amt, s.note, s.yr)")
            out.append(s)
        proc = "compact" if rnd % 2 == 0 else "vacuum"
        mt = LAKE_MAINT_TABLES[(rnd // 2) % len(LAKE_MAINT_TABLES)]
        args = f"table => 'db.{mt}'" + (f", retain => {VACUUM_RETAIN}" if proc == "vacuum" else "")
        out.append({"i": len(out), "round": rnd, "kind": proc, "table": mt,
                    "sql": f"CALL {{cat}}.system.{proc}({args})"})
        rnd += 1
    with open(f"{out_dir}/lake_statements.jsonl", "w") as f:
        for s in out[:LAKE_STATEMENTS]:
            f.write(json.dumps(s, sort_keys=True) + "\n")


# -------------------------------------------------------------- cdc_stream

CDC_KEYS = 10_000            # keys in the seeded target
CDC_PARTS = 8                # target partitions; p is a pure function of the key
CDC_TICK_MS = 50             # the generator writes one envelope file per tick
CDC_PER_TICK = 10            # envelopes per file: an offered 200 envelopes/s
CDC_TICKS = 2_000            # log length (100 s of ticks); a run writes a prefix
CDC_DELETE_SHARE = 0.05      # deletes are dropped by the sink (ST5)
CDC_BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z: clusterTime origin


def _iso_ms(ms):
    return (np.datetime64(int(ms), "ms").astype(str)) + "Z"


def _envelope(op, key, doc, ct_ms):
    return json.dumps({
        "operationType": op,
        "documentKey": key,
        "fullDocument": None if doc is None else json.dumps(doc, separators=(",", ":")),
        "clusterTime": _iso_ms(ct_ms),
    }, separators=(",", ":"))


def cdc_stream(seed, out_dir, per_tick=CDC_PER_TICK):
    """The seed snapshot and the tick-by-tick envelope log.

    cdc_seed.jsonl holds one insert per key (the target's first commit).
    cdc_ticks.jsonl holds one line per tick: the envelopes the generator
    writes as one file when the tick is due. Keys are Zipf-skewed;
    clusterTime is the tick's scheduled time, so it never decreases per key,
    and `seq` (the generation order) breaks ties inside a tick. `per_tick`
    envelopes a file set the offered rate (per_tick * 1000 / CDC_TICK_MS
    envelopes/s)."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 20)
    conds = ["Sunny", "Cloudy", "Rain", "Mist", "Clear"]
    seq = 0

    def doc(k):
        nonlocal seq
        seq += 1
        return {"id": f"k{k}", "p": f"p{k % CDC_PARTS}", "seq": seq,
                "temp_c": int(r.integers(-100, 400)) / 10.0,
                "humidity": int(r.integers(0, 101)),
                "cond": conds[int(r.integers(0, len(conds)))]}

    with open(f"{out_dir}/cdc_seed.jsonl", "w") as f:
        for k in range(CDC_KEYS):
            f.write(_envelope("insert", f"k{k}", doc(k), CDC_BASE_MS) + "\n")

    pick_rank = _zipf_sampler(r, CDC_KEYS, 1.0)
    perm = r.permutation(CDC_KEYS)
    with open(f"{out_dir}/cdc_ticks.jsonl", "w") as f:
        for tick in range(CDC_TICKS):
            ct = CDC_BASE_MS + (tick + 1) * CDC_TICK_MS
            envs = []
            for _ in range(per_tick):
                k = int(perm[pick_rank()])
                if r.random() < CDC_DELETE_SHARE:
                    envs.append(_envelope("delete", f"k{k}", None, ct))
                else:
                    envs.append(_envelope("update", f"k{k}", doc(k), ct))
            f.write(json.dumps({"tick": tick, "envelopes": envs}) + "\n")
