#!/usr/bin/env python3
"""Cross-check the Spark FADS replay outputs (graft.Verify dump) against the
independent pure-Python replica in fads_replay.py, bit-exactly per event.

Usage: python3 tools/check_fads_oracle.py <sfDir> <verifyOutDir>
Checks whichever of the 7 stateful replay entries are present in outDir:
the six batch replays and stream_fads_region_sharded, which replays the
same per-shard order as q9_fads_region_sharded and is compared against the
same replica (its GenEvent output has no shard column; none is read).
"""
import sys

import duckdb

import fads_replay

CFG = dict(k=10, buffer_constraint=30, reuse_ttl_ms=60000, nqid=2)


def load_events(con, sf_dir):
    return con.sql(f"""
        SELECT event_id, user_id, value, epoch_ns(ts) // 1000000 AS clock_ms,
               epoch_ns(ts) AS ts_ns
        FROM '{sf_dir}/events.parquet' ORDER BY ts, event_id""").fetchall()


def load_rides(con, sf_dir):
    # full reference-format ride rows (same construction as graft's
    # TaxiRideSource.parseQuerySql oracle), in replay processing order
    return con.sql(f"""
        WITH events AS (SELECT * FROM '{sf_dir}/events.parquet')
        SELECT event_id AS rideId,
               1000 + user_id AS taxiId,
               2000 + user_id AS driverId,
               (event_id % 2 = 0) AS isStart,
               (epoch_ms(ts) // 1000) * 1000 AS startTime,
               (epoch_ms(ts) // 1000 + event_id % 3600) * 1000 AS endTime,
               CASE WHEN event_id % 7 = 0 THEN 0.0
                    ELSE ((user_id % 90)::VARCHAR || '.' || lpad((event_id % 1000)::VARCHAR, 3, '0'))::DOUBLE END AS startLon,
               CASE WHEN event_id % 11 = 0 THEN 0.0
                    ELSE ((user_id % 60)::VARCHAR || '.' || lpad((user_id % 1000)::VARCHAR, 3, '0'))::DOUBLE END AS startLat,
               ((event_id % 90)::VARCHAR || '.' || lpad((user_id % 500)::VARCHAR, 3, '0'))::DOUBLE AS endLon,
               CASE WHEN event_id % 13 = 0 THEN 0.0
                    ELSE ((event_id % 60)::VARCHAR || '.' || lpad((event_id % 500)::VARCHAR, 3, '0'))::DOUBLE END AS endLat,
               (1 + event_id % 6)::SMALLINT AS passengerCnt
        FROM events ORDER BY startTime, rideId""").fetchall()


def spark_out(con, out_dir, name, id_col, qid_names):
    cols = ", ".join(f"{q}_lo, {q}_hi" for q in qid_names)
    return {
        r[0]: r[1:]
        for r in con.sql(f"SELECT {id_col}, {cols}, suppressed "
                         f"FROM '{out_dir}/{name}/*.parquet'").fetchall()
    }


def compare(name, expected, actual):
    # expected: {id: (lo..., hi... interleaved, suppressed)}
    if set(expected) != set(actual):
        print(f"FAIL {name}: id sets differ "
              f"(missing={len(set(expected)-set(actual))}, "
              f"extra={len(set(actual)-set(expected))})")
        return False
    bad = [i for i in expected if expected[i] != actual[i]]
    if bad:
        i = bad[0]
        print(f"FAIL {name}: {len(bad)}/{len(expected)} rows differ; "
              f"first id={i} expected={expected[i]} actual={actual[i]}")
        return False
    print(f"PASS {name} ({len(expected)} rows)")
    return True


def main(sf_dir, out_dir):
    import os
    con = duckdb.connect()
    ev = load_events(con, sf_dir)
    rows = [((float(u), v), u, eid, c, (float(eid), float(ns)))
            for eid, u, v, c, ns in ev]
    ok = True

    def expected_map(out, id_of_seq):
        return {id_of_seq[s]: (lo[0], hi[0], lo[1], hi[1], sup)
                for s, lo, hi, sup in out}

    id_of = {eid: eid for eid, *_ in ev}
    seq_rows = [(q, p, eid, c) for (q, p, eid, c, _raw) in rows]
    raw_rows = [(q, p, eid, c, raw) for (q, p, eid, c, raw) in rows]

    def present(name):
        return os.path.isdir(f"{out_dir}/{name}")

    if present("q9_fads_replay"):
        out = fads_replay.replay(seq_rows, **CFG)
        ok &= compare("q9_fads_replay", expected_map(out, id_of),
                      spark_out(con, out_dir, "q9_fads_replay", "event_id",
                                ["user_id", "value"]))
    if present("q9_fads_replay_refmode"):
        out = fads_replay.replay(seq_rows, ref_distance=True,
                                 unique_pid=False, **CFG)
        ok &= compare("q9_fads_replay_refmode", expected_map(out, id_of),
                      spark_out(con, out_dir, "q9_fads_replay_refmode",
                                "event_id", ["user_id", "value"]))
    if present("q9_fads_replay_refmode_raw"):
        out = fads_replay.replay(raw_rows, ref_distance=True,
                                 raw_distance=True, unique_pid=False, **CFG)
        ok &= compare("q9_fads_replay_refmode_raw", expected_map(out, id_of),
                      spark_out(con, out_dir, "q9_fads_replay_refmode_raw",
                                "event_id", ["user_id", "value"]))
    if present("q9_fads_sharded"):
        sharded = [(p % 8, q, p, s, c) for q, p, s, c in seq_rows]
        out = fads_replay.replay_sharded(sharded, **CFG)
        ok &= compare("q9_fads_sharded", expected_map(out, id_of),
                      spark_out(con, out_dir, "q9_fads_sharded", "event_id",
                                ["user_id", "value"]))
    region = [n for n in ("q9_fads_region_sharded",
                          "stream_fads_region_sharded") if present(n)]
    if region:
        sharded = [(min(int(q[1] // 64), 7), q, p, s, c)
                   for q, p, s, c in seq_rows]
        out = fads_replay.replay_sharded(sharded, global_norm=True, **CFG)
        for name in region:
            ok &= compare(name, expected_map(out, id_of),
                          spark_out(con, out_dir, name, "event_id",
                                    ["user_id", "value"]))
    if present("taxi_fads_replay"):
        # rideId/taxiId/endTime are QIDs (generalized away), so no join key
        # survives — compare full rows as sorted multisets instead (which is
        # what the driver's hash compare does anyway)
        rides = load_rides(con, sf_dir)
        taxi_rows = [((float(r[0]), float(r[1]), float(r[5])), r[0], i, r[4])
                     for i, r in enumerate(rides)]
        out = fads_replay.replay(taxi_rows, k=10, buffer_constraint=30,
                                 reuse_ttl_ms=60000, nqid=3)
        exp_rows = sorted(
            (lo[0], hi[0], lo[1], hi[1], lo[2], hi[2],
             rides[s][2], rides[s][3], rides[s][4], rides[s][6], rides[s][7],
             rides[s][8], rides[s][9], rides[s][10], sup)
            for s, lo, hi, sup in out)
        act_rows = sorted(
            con.sql(f"""SELECT rideId_lo, rideId_hi, taxiId_lo, taxiId_hi,
                               endTime_lo, endTime_hi, driverId, isStart,
                               startTime, startLon, startLat, endLon, endLat,
                               passengerCnt, suppressed
                        FROM '{out_dir}/taxi_fads_replay/*.parquet'""")
            .fetchall())
        if exp_rows == act_rows:
            print(f"PASS taxi_fads_replay ({len(exp_rows)} rows)")
        else:
            diff = sum(1 for a, b in zip(exp_rows, act_rows) if a != b)
            print(f"FAIL taxi_fads_replay: {diff} of {len(exp_rows)} "
                  f"sorted rows differ")
            ok = False
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
