"""Seeded input generators for the benchmark workloads.

Everything the program reads is made here from the workload seed; the
program never sees the seed itself.

Event rows follow the `events` table's shape and distributions as the
testdata has them: PIDs (`user_id`) drawn uniformly from a pool of 1,500
users, `value` exponential with mean 50 (p50 ~35, p99 ~230), five event
types, and `props` a small JSON object. `ts` is the row's due time in
epoch nanoseconds, so FADS's event-time clock (and its 60 s cluster TTL)
runs at the density the generator offers.
"""
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

USERS = 1500
VALUE_MEAN = 50.0
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.int64()), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])


def event_columns(rng, n, first_id, ts_ns):
    """Columns of `n` event rows with ids from `first_id` and the given due times."""
    values = np.round(rng.exponential(VALUE_MEAN, n), 2)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": np.asarray(ts_ns, dtype=np.int64),
        "user_id": rng.integers(0, USERS, n, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": values,
        "props": np.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    }


def to_table(cols):
    return pa.table({k: cols[k] for k in EVENT_SCHEMA.names}, schema=EVENT_SCHEMA)


def write_chunk(stage_dir, index, table):
    """Publish one chunk as `__chunk=<index>/part-0.parquet`, written under a
    hidden temp name and renamed, so a file-stream listing never sees a
    half-written file."""
    part = os.path.join(stage_dir, "__chunk=%09d" % index)
    os.makedirs(part, exist_ok=True)
    tmp = os.path.join(part, ".part-0.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(part, "part-0.parquet"))


def sentinels(ts_ns, values):
    """FadsStream's drain sentinels: event_id < 0 flushes the engine buffer
    of the key its row routes to."""
    n = len(values)
    return to_table({"event_id": np.full(n, -1, dtype=np.int64),
                     "ts": np.full(n, ts_ns, dtype=np.int64),
                     "user_id": np.zeros(n, dtype=np.int64),
                     "event_type": np.full(n, ""), "value": np.asarray(values, dtype=np.float64),
                     "props": np.full(n, "")})


def stage_table(stage_dir, table, rows_per_chunk):
    """Publish a bounded, already-due input as chunks in order, then a
    drain sentinel. Chunks are written one after another, so the file
    stream admits them in order."""
    n_chunks = 0
    for c in range(0, table.num_rows, rows_per_chunk):
        write_chunk(stage_dir, n_chunks, table.slice(c, rows_per_chunk))
        n_chunks += 1
    last_ts = pc.max(table["ts"]).as_py()
    write_chunk(stage_dir, n_chunks, sentinels(last_ts + 1, [0.0]))


def single_events(seed, rows, t0_ns, rate):
    """One stream of `rows` events at `rate` rows per event-second."""
    rng = np.random.default_rng(seed)
    step = 1_000_000_000 // rate
    return to_table(event_columns(rng, rows, 0, t0_ns + np.arange(rows, dtype=np.int64) * step))


LIVE_FIRST_ID = 1_000_000


def paced(stage_dir, seed, rate, seconds, chunk_ms, ready_file, summary_file,
          lead_ms=200, ready_timeout_s=150.0):
    """Open-loop generator: once `ready_file` exists, publish one chunk every
    `chunk_ms` for `seconds`, each row stamped with its due time, whatever
    the consumer does. A chunk is due when its last row is due; the
    generator records how late each publish completed. Chunk numbers and
    event ids continue after whatever `stage_dir` already holds."""
    rows = rate * seconds
    per_chunk = rate * chunk_ms // 1000
    step = 1_000_000_000 // rate
    first_chunk = len(os.listdir(stage_dir))
    rng = np.random.default_rng(seed)
    cols = event_columns(rng, rows, LIVE_FIRST_ID, np.zeros(rows, dtype=np.int64))
    deadline = time.monotonic() + ready_timeout_s
    while not os.path.exists(ready_file):
        if time.monotonic() > deadline:
            raise SystemExit("paced generator: consumer never became ready")
        time.sleep(0.005)
    t0 = time.time_ns() + lead_ms * 1_000_000
    cols["ts"] = t0 + np.arange(rows, dtype=np.int64) * step
    table = to_table(cols)
    late_ns = []
    for c in range(rows // per_chunk):
        due = t0 + ((c + 1) * per_chunk - 1) * step
        wait = due - time.time_ns()
        if wait > 0:
            time.sleep(wait / 1e9)
        write_chunk(stage_dir, first_chunk + c, table.slice(c * per_chunk, per_chunk))
        late_ns.append(max(0, time.time_ns() - due))
    write_chunk(stage_dir, first_chunk + rows // per_chunk, sentinels(t0 + rows * step, [0.0]))
    summary = {"rows": rows, "chunks": rows // per_chunk, "t0_ns": t0,
               "late_ms_max": max(late_ns) / 1e6,
               "late_ms_median": float(np.median(late_ns)) / 1e6}
    tmp = summary_file + ".tmp"
    with open(tmp, "w") as f:
        json.dump(summary, f)
    os.replace(tmp, summary_file)
    return summary


WORDS = np.array("join hash row batch scan column customer filter small slow merge order "
                 "vector line table data agg value key stream window a spark part group "
                 "big sort query fast the".split())
LANGS = np.array(["en", "zh", "es", "de", "fr"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
PART_TYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
PART_NAMES = np.array([f"{a} {b}" for a in ["small", "red", "blue", "green", "large", "shiny",
                                             "dull", "tiny"]
                       for b in ["ring", "widget", "bolt", "gear", "nut", "screw", "pipe", "valve"]])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def batch_tables(out_dir, seed, sf):
    """The testdata's ten tables at scale factor `sf`, with its schemas,
    value domains and row-count ratios, drawn from `seed`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def write(name, cols, schema):
        pq.write_table(pa.table(cols, schema=pa.schema(schema)), f"{out_dir}/{name}.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
          [("r_regionkey", i32), ("r_name", s)])
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
          [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])
    write("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                       "c_name": ["Customer#%09d" % i for i in range(n_cust)],
                       "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                       "c_acctbal": money(-999.99, 9999.99, n_cust),
                       "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]},
          [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
           ("c_mktsegment", s)])
    write("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                       "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
                       "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                       "s_acctbal": money(-999.99, 9999.99, n_supp)},
          [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)])
    retail = np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2)
    write("part", {"p_partkey": np.arange(n_part, dtype=np.int64),
                   "p_name": PART_NAMES[rng.integers(0, len(PART_NAMES), n_part)],
                   "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
                   "p_type": PART_TYPES[rng.integers(0, len(PART_TYPES), n_part)],
                   "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                   "p_retailprice": retail},
          [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
           ("p_retailprice", f64)])
    write("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                     "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                     "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                     "o_totalprice": money(1000.0, 500000.0, n_ord),
                     "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
                     "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]},
          [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
           ("o_orderdate", ts), ("o_orderpriority", s)])
    partkey = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {"l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                       "l_partkey": partkey,
                       "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                       "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                       "l_quantity": qty,
                       "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.99, 1.01, n_line), 2),
                       "l_discount": rng.integers(0, 11, n_line) / 100.0,
                       "l_tax": rng.integers(0, 9, n_line) / 100.0,
                       "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                       "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                       "l_shipdate": _days(rng, n_line, "1995-01-02", 2500)},
          [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
           ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
           ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)])
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    ev = event_columns(rng, n_ev, 0, np.zeros(n_ev, dtype=np.int64))
    ev["user_id"] = rng.integers(0, int(15000 * sf), n_ev).astype(np.int64)
    ev["ts"] = ev_ts
    write("events", ev, [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                         ("value", f64), ("props", s)])
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in rng.integers(8, 100, n_doc)]
    write("documents", {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
                        "lang": LANGS[rng.integers(0, 5, n_doc)],
                        "source": ["src%d" % i for i in rng.integers(0, 20, n_doc)],
                        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
          [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)])
    vecs = rng.normal(0, 0.1, (n_emb, 64)).astype(np.float32)
    write("embeddings", {"vec_id": np.arange(n_emb, dtype=np.int64),
                         "embedding": list(vecs),
                         "label": rng.integers(0, 10, n_emb).astype(np.int32)},
          [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])


def main(argv):
    """CLI for the open-loop generator, which runs as its own process:
    gen.py paced <stage_dir> <seed> <rate> <seconds> <chunk_ms> <ready_file> <summary_file>"""
    if len(argv) != 8 or argv[0] != "paced":
        raise SystemExit(main.__doc__)
    stage_dir, seed, rate, seconds, chunk_ms, ready, summary = argv[1:]
    paced(stage_dir, int(seed), int(rate), int(seconds), int(chunk_ms), ready, summary)


if __name__ == "__main__":
    import sys
    main(sys.argv[1:])
