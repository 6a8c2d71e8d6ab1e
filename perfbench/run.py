#!/usr/bin/env python3
"""Benchmark of the FADS streaming k-anonymizer and its batch entries.

Run from the root of a checkout:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program and the benchmark's JVM half (perfbench.Main) once per
checkout with sbt into `.bench_build`, makes the workload's inputs from the
seed, runs perfbench.Main, checks the outputs and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, read from
listeners that only the traced run attaches. Workloads and metrics are
described in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen    # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SBT_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

PACED_RATE = 1000          # rows per second, the reference's offered load
PACED_CHUNK_MS = 100       # publish period of the open-loop generator
BATCH_SF = 0.01
# one of each family the suite's fixed cost comes from, sized so that a run
# with its three set-ups fits the benchmark's time budget
BATCH_ENTRIES = [
    "tpch_q1_pricing", "tpch_q3_top_orders", "sql_shared_correlated_subquery",
    "q9_fads_replay", "stream_window_counts", "text_bm25_index_topk",
]
# checked against the standalone engine in the JVM: its recursive-SQL
# oracle takes about a minute in DuckDB at this size
FADS_ENTRY = "q9_fads_replay"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and perfbench.Main once per source state; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src/main/scala/graft"))):
        raise SystemExit("perfbench: run from the root of a checkout of the program (no src/main/scala/graft here)")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["digest"] == digest:
            return got["classpath"]
    log("building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.server.autostart=false", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=SBT_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and "perfbench" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def java_cmd(classpath, work, args):
    return (["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for m in JDK_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
            + ["-cp", classpath, "perfbench.Main"] + args)


def run_jvm(classpath, work, args, deadline):
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as logf:
        proc = subprocess.Popen(java_cmd(classpath, work, args), cwd=work,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: perfbench.Main failed ({code})")


def fads_info_loss(res):
    o = res["outputs"]
    return stats.info_loss([(o["user_id_lo"], o["user_id_hi"]), (o["value_lo"], o["value_hi"])],
                           res["bounds"])


def reduce_paced(res, gen_summary):
    # the warm prefix drained before the generator started is not measured
    live = [(d, c) for d, c in zip(res["due_ns"], res["commit_ns"]) if d >= gen_summary["t0_ns"]]
    due = [d for d, _ in live]
    done = [c for _, c in live]
    lat = stats.latencies_ms(due, done)
    n = len(lat)
    tail_p = stats.tail_percentile(n)
    first_due, last_due = min(due), max(due)
    wall_s = (max(done) - first_due) / 1e9
    e2e = {"latency_ms_p50": stats.median(lat),
           "latency_ms_tail": stats.percentile(lat, tail_p),
           "throughput_per_s": n / wall_s,
           "fads_info_loss": fads_info_loss(res)}
    layers = {"gen.rows": float(gen_summary["rows"]),
              "gen.late_ms_max": gen_summary["late_ms_max"],
              "gen.backlog_rows_end": float(stats.backlog_at(last_due, due, done)),
              "gen.backlog_rows_mid": float(stats.backlog_at((first_due + last_due) // 2, due, done))}
    detail = {"latency_samples": n, "tail_percentile": tail_p}
    return e2e, layers, detail


def oracle_checks(res, in_dir, work):
    """Each entry's output against its DuckDB oracle on the same input, the
    way tools/check_oracle.py compares them; returns (failures, FADS info loss)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    failed = []
    for name, sql in sorted(res["oracle_sql"].items()):
        try:
            oa = con.sql(sql).arrow()
            sa = con.sql(f"SELECT * FROM '{work}/out/{name}/*.parquet'").arrow()
            od = {f.name: str(f.type) for f in oa.schema}
            sd = {f.name: str(f.type) for f in sa.schema}
            if od != sd:
                raise AssertionError(f"arrow dtypes differ: {od} vs {sd}")
            o = oa.to_pandas()
            s = sa.to_pandas()
            o = o.reindex(sorted(o.columns), axis=1).sort_values(by=sorted(o.columns), ignore_index=True)
            s = s.reindex(sorted(s.columns), axis=1).sort_values(by=sorted(s.columns), ignore_index=True)
            pd.testing.assert_frame_equal(o, s, check_dtype=False, check_exact=True)
        except Exception as e:  # any mismatch or oracle error is a failed check
            failed.append(f"oracle:{name}: {str(e)[:300]}")
    ev = con.sql("SELECT min(user_id)::DOUBLE, max(user_id)::DOUBLE, min(value), max(value) FROM events").fetchone()
    t = con.sql(f"SELECT user_id_lo, user_id_hi, value_lo, value_hi FROM '{work}/out/{FADS_ENTRY}/*.parquet'").fetchnumpy()
    loss = stats.info_loss([(t["user_id_lo"], t["user_id_hi"]), (t["value_lo"], t["value_hi"])],
                           [(ev[0], ev[1]), (ev[2], ev[3])])
    return failed, loss


def reduce_batch(res, in_dir, work):
    # the entries differ in cost by up to five times, so a percentile over
    # all their calls would jump between entries; each entry's median
    # over the passes is summarised instead: the typical entry (geometric
    # mean) and the slowest one, which bounds a pass
    by_entry = {}
    for p in res["passes"]:
        for name, d, a in p["entries"]:
            by_entry.setdefault(name, []).append(d + a)
    entry_ms = {name: stats.median(v) for name, v in by_entry.items()}
    walls = [p["wall_s"] for p in res["passes"]]
    failed, loss = oracle_checks(res, in_dir, work)
    e2e = {"latency_ms_p50": stats.geomean(entry_ms.values()),
           "latency_ms_tail": max(entry_ms.values()),
           "throughput_per_s": len(BATCH_ENTRIES) / stats.median(walls),
           "fads_info_loss": loss}
    detail = {"entry_ms": entry_ms, "pass_s": walls,
              "passes": len(walls), "entries": len(BATCH_ENTRIES)}
    return e2e, {}, detail, failed


def per_layer(res, e2e, extra, per_layer_names):
    lay = dict(res["layers"])
    lay.update(extra)
    released = lay.get("fads.released", 0.0)
    lay["fads.reuse_share"] = lay.get("fads.reused", 0.0) / released if released else 0.0
    trig = lay.get("streaming.triggers", 0.0)
    lay["streaming.rows_per_trigger"] = lay.pop("streaming.rows", 0.0) / trig if trig else 0.0
    wall = lay.get("exec.job_wall_ms", 0.0)
    lay["exec.parallelism"] = lay.get("exec.task_ms", 0.0) / wall if wall else 0.0
    spans = [tuple(s) for s in res["spans"]]
    for name, ns in stats.self_time_by_name(spans).items():
        lay[f"self_ms.{name}"] = ns / 1e6
    lay["traced.latency_ms_p50"] = e2e["latency_ms_p50"]
    lay["traced.throughput_per_s"] = e2e["throughput_per_s"]
    return {k: float(lay.get(k, 0.0)) for k in per_layer_names}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["fads_paced_ref", "batch_sf001"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()
    classpath = build()
    # metric names and units come from the benchmark's own record
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    deadline = time.monotonic() + RUN_TIMEOUT_S

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    gen_proc = None
    try:
        t0 = time.monotonic()
        jvm_args = ["--workload", a.workload, "--in", in_dir, "--work", work,
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--out", os.path.join(work, "result.json")]
        if a.workload == "fads_paced_ref":
            gen.stage_table(f"{in_dir}/warm", gen.single_events(a.seed + 1, 1000, time.time_ns(), PACED_RATE), 500)
            # a drained prefix far in the past in event time (its clusters have
            # expired before the first live row), so the live query is warm
            gen.stage_table(f"{in_dir}/live", gen.single_events(a.seed + 2, 2000, 0, PACED_RATE), 500)
        else:
            gen.batch_tables(in_dir, a.seed, BATCH_SF)
            jvm_args += ["--entries", ",".join(BATCH_ENTRIES), "--engine-checked", FADS_ENTRY]
        gen_s = time.monotonic() - t0
        if a.workload == "fads_paced_ref":
            gen_proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py"), "paced", f"{in_dir}/live", str(a.seed),
                 str(PACED_RATE), str(a.seconds), str(PACED_CHUNK_MS), f"{in_dir}/ready",
                 f"{in_dir}/gen.json"])
        run_jvm(classpath, work, jvm_args, deadline)
        if gen_proc is not None:
            gen_proc.wait(timeout=max(1, deadline - time.monotonic()))
            gen_proc = None
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        failed = [f"{c['name']}: {c['detail']}" for c in res["checks"] if not c["ok"]]
        attempted = len(res["checks"])
        if a.workload == "fads_paced_ref":
            with open(f"{in_dir}/gen.json") as f:
                e2e, extra, detail = reduce_paced(res, json.load(f))
        else:
            e2e, extra, detail, oracle_failed = reduce_batch(res, in_dir, work)
            failed += oracle_failed
            attempted += len(res["oracle_sql"])
        e2e["setup_s"] = stats.median(res["setup_s"]) + gen_s
        e2e["heap_peak_mb"] = res["heap_peak_mb"]
        detail.update({"setup_runs_s": res["setup_s"], "input_gen_s": gen_s,
                       "scratch_tier": res["scratch_tier"], "cpus": res["cpus"],
                       "failed_share": len(failed) / attempted,
                       "wall_s": time.monotonic() - started})
        for f_ in failed:
            log(f"FAILED {f_}")
        log("detail " + json.dumps(detail))
        if a.trace:
            values = per_layer(res, e2e, extra, [m["name"] for m in spec["per_layer"]])
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                          "metrics": metrics}))
        return 0 if not failed else 1
    finally:
        if gen_proc is not None:
            gen_proc.kill()
            gen_proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
