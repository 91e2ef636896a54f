"""Seeded input generator for the graft benchmark.

Everything the harness feeds the engine comes from here, derived only from
the seed: the `events` table (FIXTURES schema, several parquet files), the
SQL statement stream with exact expected answers, the direct index-call
stream with expected answers, and the live-ingest history and batches with
the running totals each read must return. The engine only ever sees the
written files; the expected answers are computed here with numpy, a scan
independent of Spark.

Usage: python3 gen.py --seed N --out DIR [--workload NAME]
"""

import argparse
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MIN_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000
START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, the FIXTURES span start
DAYS = 30
ROWS = 2_400_000              # the reference's taxi month
USERS = 10_000
ZIPF_S = 1.1
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
TYPE_P = [0.55, 0.25, 0.10, 0.07, 0.03]
FILES = 8
# Statement rounds for the JVM warm-up, outside the measured stream
SQL_WARMUP_ROUNDS = 2

# SQL statement stream: ROUNDS rounds, each holding one statement per
# shape in a seeded order, so every prefix of the stream has the same mix.
SQL_ROUNDS = 24
SHAPES = ["sum_aligned", "sum_unaligned", "by_hour", "by_type", "sliding",
          "distinct", "quantile"]
# Every sliding-window statement spans the same length, so its cost does
# not vary from seed to seed.
SLIDING_SPAN_MS = 6 * HOUR_MS
# Answer-check tolerances, shared with the harness through workload.json.
REL_TOL = 1e-8
# approx_count_distinct: 4 x the SQL function's documented default rsd.
DISTINCT_REL = 4 * 0.05
# percentile_approx runs with accuracy 50 (rank error 1/50), coarse enough
# for the engine to answer it from its k=200 KLL wheel; the check allows
# twice DataSketches' 99%-confidence normalized rank error for k=200,
# which also covers 1/50.
PERCENTILE_ACCURACY = 50
RANK_EPS = 2 * 0.0165

INDEX_ROUNDS = 256
INDEX_FAMILIES = ["sum", "all", "distinct", "quantile", "topk"]
HLL_REL = 0.10                # lgK=12 HLL: ~6 x its 1.6% RSE

INGEST_BATCHES = 80
INGEST_BATCH_ROWS = 2_000
INGEST_BATCH_SPAN_MS = 10 * MIN_MS
INGEST_LATE_SHARE = 0.03
INGEST_LATENESS_MS = 10 * MIN_MS
INGEST_READS = [HOUR_MS, 6 * HOUR_MS, DAY_MS, None]  # None: whole table


def zipf_p(n, s):
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def make_events(rng):
    span_us = DAYS * DAY_MS * 1000
    ts_us = np.sort(rng.integers(0, span_us, ROWS, dtype=np.int64)) + START_MS * 1000
    users = rng.choice(USERS, size=ROWS, p=zipf_p(USERS, ZIPF_S)).astype(np.int64)
    types = rng.choice(len(EVENT_TYPES), size=ROWS, p=TYPE_P).astype(np.int8)
    values = rng.lognormal(mean=2.5, sigma=1.0, size=ROWS)
    return ts_us, users, types, values


def events_table(event_id, ts_us, users, types, values, tz=None):
    return pa.table({
        "event_id": pa.array(event_id, type=pa.int64()),
        "ts": pa.array(ts_us, type=pa.timestamp("us", tz=tz)),
        "user_id": pa.array(users, type=pa.int64()),
        "event_type": pa.DictionaryArray.from_arrays(
            pa.array(types, type=pa.int8()), pa.array(EVENT_TYPES)),
        "value": pa.array(values, type=pa.float64()),
    })


def write_events(out, ts_us, users, types, values):
    d = os.path.join(out, "events.parquet")
    os.makedirs(d)
    bounds = np.linspace(0, ROWS, FILES + 1).astype(np.int64)
    for f in range(FILES):
        a, b = bounds[f], bounds[f + 1]
        t = events_table(np.arange(a, b), ts_us[a:b], users[a:b], types[a:b], values[a:b])
        pq.write_table(t, os.path.join(d, f"part-{f:05d}.parquet"))


class Slicer:
    """Exact answers over half-open ms ranges of the sorted table.

    `unix_millis(ts) >= a AND unix_millis(ts) < b` keeps exactly the rows
    with a*1000 <= ts_us < b*1000, since unix_millis floors."""

    def __init__(self, ts_us, users, types, values):
        self.ts_us, self.users, self.types, self.values = ts_us, users, types, values

    def idx(self, a, b):
        return np.searchsorted(self.ts_us, [a * 1000, b * 1000], side="left")

    def agg(self, a, b):
        i, j = self.idx(a, b)
        v = self.values[i:j]
        n = int(j - i)
        s = float(v.sum()) if n else 0.0
        return {"s": s, "n": n, "a": s / n if n else None,
                "min": float(v.min()) if n else None, "max": float(v.max()) if n else None}

    def by_hour(self, a, b):
        i, j = self.idx(a, b)
        h = (self.ts_us[i:j] // 1000) // HOUR_MS
        h0 = a // HOUR_MS
        s = np.bincount(h - h0, weights=self.values[i:j])
        n = np.bincount(h - h0)
        return [[int((h0 + k) * HOUR_MS), float(s[k]), int(n[k])]
                for k in range(len(n)) if n[k] > 0]

    def by_type(self, a, b):
        i, j = self.idx(a, b)
        s = np.bincount(self.types[i:j], weights=self.values[i:j], minlength=len(EVENT_TYPES))
        n = np.bincount(self.types[i:j], minlength=len(EVENT_TYPES))
        return sorted([EVENT_TYPES[k], float(s[k]), int(n[k])]
                      for k in range(len(EVENT_TYPES)) if n[k] > 0)

    def sliding(self, a, b):
        # window(ts, '1 hour', '1 minute'): a row at minute m belongs to
        # the windows starting at minutes m-59 .. m; only windows holding
        # at least one row are emitted.
        i, j = self.idx(a, b)
        m = (self.ts_us[i:j] // 1000) // MIN_MS
        m0 = a // MIN_MS - 59
        s = np.bincount(m - m0, weights=self.values[i:j], minlength=(b // MIN_MS) - m0 + 1)
        n = np.bincount(m - m0, minlength=(b // MIN_MS) - m0 + 1)
        cs = np.concatenate([[0.0], np.cumsum(s)])
        cn = np.concatenate([[0], np.cumsum(n)])
        out = []
        for k in range(len(n)):
            hi = min(k + 60, len(n))
            cnt = int(cn[hi] - cn[k])
            if cnt > 0:
                out.append([int((m0 + k) * MIN_MS), float(cs[hi] - cs[k]), cnt])
        return out

    def distinct(self, a, b):
        i, j = self.idx(a, b)
        return int(np.count_nonzero(np.bincount(self.users[i:j], minlength=USERS)))

    def quantile(self, a, b, q):
        # values whose rank lies within RANK_EPS of q are acceptable
        i, j = self.idx(a, b)
        n = int(j - i)
        lo = int(np.clip(np.floor((q - RANK_EPS) * n), 0, n - 1))
        hi = int(np.clip(np.ceil((q + RANK_EPS) * n), 0, n - 1))
        v = np.partition(self.values[i:j], [lo, hi])
        return {"q": q, "lo": float(v[lo]), "hi": float(v[hi])}

    def top_users(self, a, b, k=32):
        i, j = self.idx(a, b)
        c = np.bincount(self.users[i:j], minlength=USERS)
        top = np.argsort(-c, kind="stable")[:k]
        return {"top1": int(top[0]), "counts": {str(int(u)): int(c[u]) for u in top}}


def van_der_corput(i):
    """The i-th point of the base-2 van der Corput sequence: 0, 1/2, 1/4,
    3/4, 1/8, ...; every prefix of it is spread evenly over [0, 1)."""
    v, d = 0.0, 0.5
    while i:
        v += d * (i & 1)
        i >>= 1
        d /= 2
    return v


class Ranges:
    """Query ranges drawn as the reference draws them: [a, b) between two
    uniform whole minutes (or hours) of the span, ordered, so the length L
    of a span of T units has density 2 (T - L) / T^2 and the start is
    uniform given the length (main.rs:153-177).

    The lengths are stratified per key (a SQL shape or an index family):
    a key's i-th length sits at quantile (c + v(i)) mod 1 of that
    distribution, with v the van der Corput sequence and c a seeded offset.
    Each length is still distributed as the reference's, but every prefix
    of a key's draws holds a like mix of short and long ranges, so the
    work in a measuring window, which holds only the first few rounds of
    the stream, varies little from seed to seed."""

    def __init__(self, rng):
        self.rng = rng
        self.drawn = {}

    def _quantile(self, key):
        if key not in self.drawn:
            self.drawn[key] = (float(self.rng.random()), 0)
        c, i = self.drawn[key]
        self.drawn[key] = (c, i + 1)
        return (c + van_der_corput(i)) % 1.0

    def span(self, key, lo_ms, hi_ms, unit=MIN_MS, min_len=MIN_MS):
        """[a, b) aligned to `unit` within [lo, hi), at least `min_len` long."""
        lo, hi = lo_ms // unit, hi_ms // unit
        t = hi - lo
        m = -(-min_len // unit)
        cdf_m = 1.0 - (1.0 - m / t) ** 2
        u = cdf_m + self._quantile(key) * (1.0 - cdf_m)  # conditioned on L >= m
        n = min(max(int(round(t * (1.0 - math.sqrt(1.0 - u)))), m), t)
        a = int(self.rng.integers(lo, hi - n + 1))
        return a * unit, (a + n) * unit

    def start(self, lo_ms, hi_ms, unit=MIN_MS):
        """A uniform `unit`-aligned instant in [lo, hi]."""
        return int(self.rng.integers(lo_ms // unit, hi_ms // unit + 1)) * unit


def sql_statements(rng, sl, rounds=SQL_ROUNDS):
    end_ms = START_MS + DAYS * DAY_MS
    where = "WHERE unix_millis(ts) >= {a} AND unix_millis(ts) < {b}"
    ranges = Ranges(rng)
    out = []
    for r in range(rounds):
        for shape in rng.permutation(SHAPES):
            shape = str(shape)
            if shape == "sum_aligned":
                if r % 2:
                    a, b = ranges.span("sum_aligned_min", START_MS, end_ms)
                else:
                    a, b = ranges.span("sum_aligned_hour", START_MS, end_ms, HOUR_MS, HOUR_MS)
                sql = "SELECT SUM(value) AS s, COUNT(*) AS n, AVG(value) AS a FROM {view} " + where
                exp = sl.agg(a, b)
            elif shape == "sum_unaligned":
                # two minutes at least, so the edges stay ordered once moved in
                a, b = ranges.span(shape, START_MS, end_ms, min_len=2 * MIN_MS)
                a += int(rng.integers(1, MIN_MS))
                b -= int(rng.integers(1, MIN_MS))
                sql = "SELECT SUM(value) AS s, COUNT(*) AS n, AVG(value) AS a FROM {view} " + where
                exp = sl.agg(a, b)
            elif shape == "by_hour":
                a, b = ranges.span(shape, START_MS, end_ms, HOUR_MS, HOUR_MS)
                sql = ("SELECT (unix_millis(ts) div 3600000) * 3600000 AS h, SUM(value) AS s, "
                       "COUNT(*) AS n FROM {view} " + where + " GROUP BY 1")
                exp = sl.by_hour(a, b)
            elif shape == "by_type":
                a, b = ranges.span(shape, START_MS, end_ms)
                sql = ("SELECT event_type, SUM(value) AS s, COUNT(*) AS n FROM {view} " + where +
                       " GROUP BY event_type")
                exp = sl.by_type(a, b)
            elif shape == "sliding":
                a = ranges.start(START_MS, end_ms - SLIDING_SPAN_MS)
                b = a + SLIDING_SPAN_MS
                sql = ("SELECT window(ts, '1 hour', '1 minute') AS w, SUM(value) AS s, "
                       "COUNT(*) AS n FROM {view} " + where +
                       " GROUP BY window(ts, '1 hour', '1 minute')")
                exp = sl.sliding(a, b)
            elif shape == "distinct":
                a, b = ranges.span(shape, START_MS, end_ms)
                sql = "SELECT approx_count_distinct(user_id) AS d FROM {view} " + where
                exp = sl.distinct(a, b)
            else:
                a, b = ranges.span(shape, START_MS, end_ms)
                q = float(rng.choice([0.5, 0.9, 0.99]))
                sql = (f"SELECT percentile_approx(value, {q}, {PERCENTILE_ACCURACY}) AS p "
                       "FROM {view} " + where)
                exp = sl.quantile(a, b, q)
            out.append({"shape": shape, "sql": sql.format(view="{view}", a=a, b=b),
                        "expect": exp})
    return out


def index_ops(rng, sl):
    """INDEX_ROUNDS rounds, each one call per family in a seeded order.
    The cheap-to-check families get a fresh range every round; quantile
    and top-k cycle through fewer ranges, whose exact answers cost more."""
    end_ms = START_MS + DAYS * DAY_MS
    draw = Ranges(rng)
    ranges = {}
    for fam in INDEX_FAMILIES:
        n = INDEX_ROUNDS if fam in ("sum", "all", "distinct") else INDEX_ROUNDS // 4
        min_len = DAY_MS if fam == "topk" else MIN_MS
        ranges[fam] = []
        for _ in range(n):
            a, b = draw.span(fam, START_MS, end_ms, min_len=min_len)
            if fam in ("sum", "all"):
                exp = sl.agg(a, b)
            elif fam == "distinct":
                exp = sl.distinct(a, b)
            elif fam == "quantile":
                exp = sl.quantile(a, b, float(rng.choice([0.5, 0.9, 0.99])))
            else:
                exp = sl.top_users(a, b)
            ranges[fam].append({"fam": fam, "a": a, "b": b, "expect": exp})
    ops = []
    for r in range(INDEX_ROUNDS):
        for fam in rng.permutation(INDEX_FAMILIES):
            ops.append(ranges[fam][r % len(ranges[fam])])
    return ops


def ingest_inputs(rng, out, ts_us, users, types, values):
    """History: the first file's rows (3.75 days), with a zoned ts as
    Spark's streaming writer produces. Batches continue the stream after
    the history; a few per cent of each batch's rows are late, landing
    10-60 minutes before the batch's own span."""
    hist_rows = ROWS // FILES
    d = os.path.join(out, "ingest")
    os.makedirs(os.path.join(d, "history"))
    pq.write_table(events_table(np.arange(hist_rows), ts_us[:hist_rows], users[:hist_rows],
                                types[:hist_rows], values[:hist_rows], tz="UTC"),
                   os.path.join(d, "history", "part-00000.parquet"))
    hist_end_ms = (int(ts_us[hist_rows - 1]) // 1000 // MIN_MS + 1) * MIN_MS
    b_ts, b_users, b_types, b_vals, b_batch = [], [], [], [], []
    for k in range(INGEST_BATCHES):
        lo = hist_end_ms + k * INGEST_BATCH_SPAN_MS
        t = rng.integers(lo * 1000, (lo + INGEST_BATCH_SPAN_MS) * 1000, INGEST_BATCH_ROWS)
        late = rng.random(INGEST_BATCH_ROWS) < INGEST_LATE_SHARE
        t[late] -= rng.integers(INGEST_LATENESS_MS + MIN_MS, 6 * INGEST_LATENESS_MS,
                                int(late.sum())) * 1000
        b_ts.append(t)
        b_users.append(rng.choice(USERS, INGEST_BATCH_ROWS, p=zipf_p(USERS, ZIPF_S)))
        b_types.append(rng.choice(len(EVENT_TYPES), INGEST_BATCH_ROWS, p=TYPE_P))
        b_vals.append(rng.lognormal(2.5, 1.0, INGEST_BATCH_ROWS))
        b_batch.append(np.full(INGEST_BATCH_ROWS, k))
    bt = events_table(np.arange(hist_rows, hist_rows + INGEST_BATCHES * INGEST_BATCH_ROWS),
                      np.concatenate(b_ts), np.concatenate(b_users).astype(np.int64),
                      np.concatenate(b_types).astype(np.int8), np.concatenate(b_vals), tz="UTC")
    bt = bt.append_column("batch", pa.array(np.concatenate(b_batch), type=pa.int32()))
    pq.write_table(bt, os.path.join(d, "batches.parquet"))

    # running totals: after batch k, each read range's exact SUM/COUNT
    all_ts = np.concatenate([ts_us[:hist_rows]] + b_ts)
    all_vals = np.concatenate([values[:hist_rows]] + b_vals)
    reads = []
    upto = hist_rows
    for k in range(INGEST_BATCHES):
        upto += INGEST_BATCH_ROWS
        end = hist_end_ms + (k + 1) * INGEST_BATCH_SPAN_MS
        t, v = all_ts[:upto], all_vals[:upto]
        per = []
        for span in INGEST_READS:
            a = START_MS if span is None else end - span
            m = (t >= a * 1000) & (t < end * 1000)
            per.append({"a": a, "b": end, "s": float(v[m].sum()), "n": int(m.sum())})
        reads.append(per)
    return {"history_rows": hist_rows, "batches": INGEST_BATCHES,
            "batch_rows": INGEST_BATCH_ROWS, "lateness_ms": INGEST_LATENESS_MS,
            "reads": reads}


def skew(users, types):
    c = np.sort(np.bincount(users, minlength=USERS))[::-1]
    t = np.bincount(types, minlength=len(EVENT_TYPES))
    return {"distinct_users": int(np.count_nonzero(c)),
            "top1_user_share": float(c[0] / c.sum()),
            "top100_user_share": float(c[:100].sum() / c.sum()),
            "event_type_share": {EVENT_TYPES[k]: float(t[k] / t.sum()) for k in range(len(t))}}


# The inputs each workload reads; each part draws from its own stream of
# the seed, so a part is the same whichever other parts are generated.
PARTS = {"wheel_sql": ["events", "sql"], "scan_sql": ["events", "sql"],
         "index_combine": ["events", "index"], "ingest_mixed": ["ingest"]}


def generate(seed, out, workload=None):
    """Writes the inputs of `workload` (all workloads when None) to `out`."""
    parts = set(PARTS[workload]) if workload else {p for v in PARTS.values() for p in v}
    os.makedirs(out, exist_ok=True)
    rng = {part: np.random.default_rng([seed, k]) for k, part in
           enumerate(["events", "sql", "index", "ingest", "sql_warmup"])}
    ts_us, users, types, values = make_events(rng["events"])
    sl = Slicer(ts_us, users, types, values)
    workload = {
        "seed": seed,
        "rows": ROWS,
        "files": FILES,
        "span_ms": [START_MS, START_MS + DAYS * DAY_MS],
        "skew": skew(users, types),
        "tolerance": {"rel": REL_TOL, "distinct_rel": DISTINCT_REL, "hll_rel": HLL_REL},
    }
    if "events" in parts:
        write_events(out, ts_us, users, types, values)
    if "sql" in parts:
        workload["sql"] = sql_statements(rng["sql"], sl)
        # rounds of the same shapes with ranges of their own, for the JVM
        # warm-up: none of it is in the measured stream, so none of that
        # stream's generated code is compiled before it is measured
        workload["sql_warmup"] = [
            {"shape": x["shape"], "sql": x["sql"]}
            for x in sql_statements(rng["sql_warmup"], sl, SQL_WARMUP_ROUNDS)]
    if "index" in parts:
        workload["index"] = index_ops(rng["index"], sl)
    if "ingest" in parts:
        workload["ingest"] = ingest_inputs(rng["ingest"], out, ts_us, users, types, values)
    # written last, under its final name only once complete: the harness
    # starts while the inputs are still being generated and waits for it
    tmp = os.path.join(out, "workload.json.tmp")
    with open(tmp, "w") as f:
        json.dump(workload, f, separators=(",", ":"))
    os.rename(tmp, os.path.join(out, "workload.json"))
    return workload


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--workload", choices=sorted(PARTS))
    a = p.parse_args()
    generate(a.seed, a.out, a.workload)


if __name__ == "__main__":
    main()
