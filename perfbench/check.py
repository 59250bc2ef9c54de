"""Correctness checks of one benchmark run, made after the timed window.

Each returns a list of mismatch descriptions (empty when the run is
correct). The expected values never come from graft: analytics results are
compared with each query's DuckDB oracle, lake_sql with a reference model
that replays the statement log, cdc_stream with last-wins over the
generated envelopes.
"""
import glob
import json

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import gen

ANALYTICS_TABLES = ["lineitem", "orders", "part", "events", "documents", "embeddings"]


def _canon(df):
    """Same canonical form as tools/oracle_check.py: columns sorted by name,
    time zone-naive microsecond timestamps, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            s = pd.to_datetime(df[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def analytics(inputs, results_dir, queries):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ANALYTICS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    oracles = json.load(open(f"{results_dir}/oracle_sql.json"))
    errors = []
    for name in queries:
        files = glob.glob(f"{results_dir}/{name}/*.parquet")
        if not files:
            errors.append(f"{name}: no result")
            continue
        try:
            got = _canon(pd.concat([pd.read_parquet(f) for f in files]))
            want = _canon(con.execute(oracles[name]).df())
            if list(got.columns) != list(want.columns):
                errors.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
            elif len(got) != len(want):
                errors.append(f"{name}: {len(got)} rows != {len(want)}")
            else:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except AssertionError as e:
            errors.append(f"{name}: values differ: {str(e)[:300]}")
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            errors.append(f"{name}: {type(e).__name__}: {e}")
    return errors


class LakeModel:
    """The lake_sql tables as plain dictionaries, with the per-partition
    aggregates the reads need kept up to date on every write."""

    def __init__(self, inputs):
        self.rows = {}
        for t in gen.LAKE_TABLES:
            d = pq.read_table(f"{inputs}/lake_{t}.parquet").to_pydict()
            self.rows[t] = {k: [c, a, n, y] for k, c, a, n, y in
                            zip(d["k"], d["cust"], d["amt"], d["note"], d["yr"])}
        li = pq.read_table(f"{inputs}/lake_l0.parquet").to_pydict()
        self.lines = {}
        for k, a in zip(li["lk"], li["amt"]):
            c, s = self.lines.get(k, (0, 0))
            self.lines[k] = (c + 1, s + a)
        self.agg = {}
        for t, rows in self.rows.items():
            for k, v in rows.items():
                self._account(t, k, v, +1)
        self.history = {t: {-1: self.totals(t)} for t in gen.LAKE_TABLES}

    def _account(self, t, k, v, sign):
        c, s, jc, js = self.agg.get((t, v[3]), (0, 0, 0, 0))
        lc, ls = self.lines.get(k, (0, 0))
        self.agg[(t, v[3])] = (c + sign, s + sign * v[1], jc + sign * lc, js + sign * ls)

    def put(self, t, k, v):
        old = self.rows[t].get(k)
        if old is not None:
            self._account(t, k, old, -1)
        self.rows[t][k] = v
        self._account(t, k, v, +1)

    def drop(self, t, k):
        old = self.rows[t].pop(k, None)
        if old is not None:
            self._account(t, k, old, -1)

    def totals(self, t):
        return [sum(v[0] for (tt, _), v in self.agg.items() if tt == t),
                sum(v[1] for (tt, _), v in self.agg.items() if tt == t)]

    def expected(self, s, as_of):
        t = s["table"]
        if s["kind"] == "point":
            v = self.rows[t].get(s["key"])
            return [] if v is None else [[s["key"]] + v]
        if s["kind"] == "range":
            parts = [self.agg.get((t, y), (0, 0, 0, 0)) for y in
                     range(s["years"][0], s["years"][1] + 1)]
            return [[sum(p[0] for p in parts), sum(p[1] for p in parts)]]
        if s["kind"] == "travel":
            return [self.history[t][as_of]]
        a = self.agg.get((t, s["year"]), (0, 0, 0, 0))
        return [[a[2], a[3]]]

    def apply(self, s):
        t, kind = s["table"], s["kind"]
        if kind == "insert":
            for x in s["rows"]:
                self.put(t, x["k"], [x["cust"], x["amt"], x["note"], x["yr"]])
        elif kind == "update":
            v = self.rows[t].get(s["key"])
            if v is not None:
                self.put(t, s["key"], [v[0], v[1] + s["delta"], s["note"], v[3]])
        elif kind == "delete":
            self.drop(t, s["key"])
        elif kind == "merge":
            for x in s["rows"]:
                v = self.rows[t].get(x["k"])
                if v is None:
                    self.put(t, x["k"], [x["cust"], x["amt"], x["note"], x["yr"]])
                else:
                    self.put(t, x["k"], [v[0], v[1] + x["amt"], x["note"], v[3]])
        self.history[t][s["i"]] = self.totals(t)


def lake_sql(inputs, executed, results_path, final_dir):
    model = LakeModel(inputs)
    with open(f"{inputs}/lake_statements.jsonl") as f:
        stmts = [json.loads(line) for _, line in zip(range(executed), f)]
    results = {}
    with open(results_path) as f:
        for line in f:
            if line.strip():
                x = json.loads(line)
                results[x["i"]] = x
    errors = []
    for s in stmts:
        got = results.get(s["i"])
        if got is None or not got["ok"]:
            errors.append(f"statement {s['i']} ({s['kind']}) failed")
        elif s["kind"] in ("point", "range", "travel", "join"):
            want = model.expected(s, got["as_of"])
            if got["rows"] != want:
                errors.append(f"statement {s['i']} ({s['kind']}): {got['rows']} != {want}")
        model.apply(s)
    for t in gen.LAKE_TABLES:
        with open(f"{final_dir}/{t}.jsonl") as f:
            got = {tuple(json.loads(line)) for line in f if line.strip()}
        want = {(k, *v) for k, v in model.rows[t].items()}
        if got != want:
            errors.append(f"table {t}: {len(got - want)} unexpected rows, "
                          f"{len(want - got)} missing rows")
    return errors


def cdc_stream(inputs, ticks_written, final_path):
    latest = {}

    def take(line):
        e = json.loads(line)
        if e["operationType"] in ("insert", "update"):
            d = json.loads(e["fullDocument"])
            latest[d["id"]] = (d["id"], d["p"], d["seq"], d["temp_c"], d["humidity"], d["cond"])

    with open(f"{inputs}/cdc_seed.jsonl") as f:
        for line in f:
            take(line)
    with open(f"{inputs}/cdc_ticks.jsonl") as f:
        for _, line in zip(range(ticks_written), f):
            for e in json.loads(line)["envelopes"]:
                take(e)
    with open(final_path) as f:
        got = [tuple(json.loads(line)) for line in f if line.strip()]
    errors = []
    if len(got) != len(set(r[0] for r in got)):
        errors.append("target holds duplicate keys")
    got = set(got)
    want = set(latest.values())
    if got != want:
        errors.append(f"target: {len(got - want)} unexpected rows, {len(want - got)} missing rows")
    return errors
