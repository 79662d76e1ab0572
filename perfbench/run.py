#!/usr/bin/env python3
"""Benchmark entry point: builds the product and the harness, runs one
workload in a fresh JVM, checks every output, and prints the result as
the last line of standard output.

    python3 perfbench/run.py --workload alert_sparse --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Workloads: alert_sparse, alert_live, batch_suite (see
perfbench/README.md). With --trace 0 the result carries the end-to-end
metrics; with --trace 1 the per-layer metrics, and the run's spans are
written to <build dir>/work/<run>/trace.json.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

WORKLOADS = ["alert_sparse", "alert_live", "batch_suite"]

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "heap_live_mb": "MB",
}

BATCH_FAMILIES = ["relational", "eventops", "textops", "dedup", "similarity",
                  "multimodal", "trainprep", "bpe", "storemanifest",
                  "webcuration"]

PER_LAYER = {
    "sources.parse_ms": "ms",
    "sources.rows_in": "count",
    "sources.rows_out": "count",
    "operators.panes_per_event": "ratio",
    "operators.qualifying_event_ratio": "ratio",
    "operators.alert_pane_ratio": "ratio",
    "operators.window_flags_ms": "ms",
    **{f"state.window.{k}": u for k, u in [
        ("rows_total_max", "count"), ("mem_bytes_max", "bytes"),
        ("rows_updated", "count"), ("rows_removed", "count"),
        ("update_ms", "ms"), ("removal_ms", "ms"), ("commit_ms", "ms"),
        ("late_rows_dropped", "count")]},
    **{f"state.cooldown.{k}": u for k, u in [
        ("rows_total_max", "count"), ("mem_bytes_max", "bytes"),
        ("rows_updated", "count"), ("rows_removed", "count"),
        ("update_ms", "ms"), ("removal_ms", "ms"), ("commit_ms", "ms"),
        ("alerts_in", "count"), ("alerts_out", "count")]},
    "state.cooldown_ms": "ms",
    **{f"streaming.{k}": u for k, u in [
        ("batches", "count"), ("empty_batches", "count"),
        ("empty_batch_ms_p50", "ms"), ("trigger_ms_p50", "ms"),
        ("trigger_ms_max", "ms"), ("latest_offset_ms", "ms"),
        ("query_planning_ms", "ms"), ("add_batch_ms", "ms"),
        ("wal_commit_ms", "ms"), ("commit_offsets_ms", "ms"),
        ("watermark_lag_ms_p50", "ms"), ("sink_ms", "ms"),
        ("speedup_vs_1core", "x")]},
    **{f"batch.{f}_s": "s" for f in BATCH_FAMILIES},
    "batch.jobs": "count",
    "batch.stages": "count",
    "batch.tasks": "count",
    "batch.job_s": "s",
    "batch.planning_s": "s",
    "batch.shuffle_write_bytes": "bytes",
    "batch.spill_bytes": "bytes",
    "jvm.cold_setup_s": "s",
    "jvm.gc_ms": "ms",
    "bench.generator_late_ms_max": "ms",
    "trace.overhead_ratio": "ratio",
}

# Per-layer metrics a workload does not exercise read 0 (the alert
# workloads run no batch query; the batch suite runs no stream).
def applicable(workload: str, name: str) -> bool:
    if workload == "batch_suite":
        return name.startswith(("batch.", "jvm.")) or name == "trace.overhead_ratio"
    if name == "streaming.speedup_vs_1core":
        return workload == "alert_sparse"
    if name == "bench.generator_late_ms_max":
        return workload == "alert_live"
    return not name.startswith("batch.")


DATA = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected_batch.json"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classes: Path, work: Path, harness_args: list, deadline: float) -> dict:
    """Run the harness in its own process group; return its result."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Duser.timezone=UTC",
           f"-Dderby.system.home={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main",
            "--work", str(work), "--out", str(out), "--sf", str(DATA)] + harness_args
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            cwd=str(work), start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"harness timed out; log: {work / 'jvm.log'}")
    finally:
        log.close()
    if proc.returncode != 0 or not out.is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"harness exited {proc.returncode}:\n{tail}")
    return json.loads(out.read_text())


def check_batch(res: dict, work: Path, traced: bool) -> tuple:
    """Every execution against its recorded (rows, hash), which were
    DuckDB-checked when recorded; in a traced run also every query's
    answer against DuckDB. Returns (attempted, failed, notes).
    """
    expected = json.loads(EXPECTED.read_text())
    attempted = failed = 0
    notes = []
    for e in res["info"].get("executions", []):
        attempted += 1
        want = expected.get(e["name"])
        if e["error"] or want is None or [e["rows"], e["hash"]] != [want["rows"], want["hash"]]:
            failed += 1
            notes.append(f"{e['name']}: got rows={e['rows']} hash={e['hash']} "
                         f"error={e['error']} want={want}")
    if not traced:
        return attempted, failed, notes
    a, f, n = check_oracle(work / "oracle_out")
    return attempted + a, failed + f, notes + n


def check_oracle(out_dir: Path) -> tuple:
    """DuckDB answers vs the engine's parquet, canonicalised the way the
    repo's oracle gate (tools/check_oracle.py) does it.
    """
    sys.path.insert(0, str(ROOT / "tools"))
    import duckdb
    import pandas as pd
    from check_oracle import TABLES, canon
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    sqls = json.loads((out_dir / "oracle_sql.json").read_text())
    attempted = failed = 0
    notes = []
    for name, sql in sorted(sqls.items()):
        attempted += 1
        try:
            want = canon(con.execute(sql).fetchdf())
            got = canon(duckdb.connect().execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf())
            if list(got.columns) != list(want.columns) or len(got) != len(want):
                raise AssertionError(f"shape {got.shape} vs {want.shape}")
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except Exception as e:  # any mismatch or unreadable output fails the query
            failed += 1
            notes.append(f"oracle {name}: {str(e)[:300]}")
    return attempted, failed, notes


def host_record() -> dict:
    head = "unknown"
    try:
        head = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or head
    except Exception:
        pass
    return {"nproc": os.cpu_count(), "git_head": head,
            "loadavg_at_launch": list(os.getloadavg()),
            "python": sys.version.split()[0]}


def run(args) -> int:
    t_start = time.time()
    classes = build.build(ROOT)
    # the build may take long on a fresh checkout; the run itself gets
    # its own budget after it
    deadline = time.time() + JVM_TIMEOUT_S
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = build.build_dir(ROOT) / "work" / tag
    harness = ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
    res = run_jvm(classes, work, harness, deadline)
    attempted, failed = res["attempted"], res["failed"]
    notes = []
    if args.workload == "batch_suite":
        attempted, failed, notes = check_batch(res, work, bool(args.trace))
    # keep the run's log, result and trace; drop checkpoints, shuffle
    # files, tables and dumped answers
    for child in work.iterdir():
        if child.is_dir():
            shutil.rmtree(child, ignore_errors=True)
    if args.trace:
        got = res["layer_metrics"]
        metrics = {}
        for name, unit in PER_LAYER.items():
            if name in got:
                v = got[name]
            elif not applicable(args.workload, name):
                v = 0.0
            else:
                raise RuntimeError(f"harness did not report {name}")
            metrics[name] = {"value": v, "unit": unit}
    else:
        got = res["metrics"]
        metrics = {k: {"value": got[k]["value"], "unit": u} for k, u in END_TO_END.items()}
    capture = {"host": host_record(), "wall_s": time.time() - t_start,
               "attempted": attempted, "failed": failed, "notes": notes,
               "metrics": metrics, "harness": res}
    cap_dir = build.build_dir(ROOT) / "captures"
    cap_dir.mkdir(parents=True, exist_ok=True)
    cap = cap_dir / f"{tag}.json"
    cap.write_text(json.dumps(capture, indent=1))
    for n in notes[:20]:
        print(f"FAILED {n}")
    info = res["info"]
    print(f"capture: {cap}")
    print(f"host: nproc={info.get('nproc')} load {info.get('loadavg_start')} -> "
          f"{info.get('loadavg_end')} jdk={info.get('jdk')} spark={info.get('spark_version')} "
          f"extensions={info.get('graft_extensions_installed')}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']} {v['unit']}")
    for k, v in metrics.items():
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            raise RuntimeError(f"metric {k} is not a finite number: {v['value']}")
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0


def record_batch() -> int:
    """Write expected_batch.json: each suite query's (rows, hash), taken
    from a run whose answers pass the DuckDB check and agree across
    every execution.
    """
    classes = build.build(ROOT)
    work = build.build_dir(ROOT) / "work" / "record-batch"
    res = run_jvm(classes, work, ["--workload", "batch_suite", "--seed", "1",
                                  "--seconds", "4", "--trace", "1"],
                  time.time() + JVM_TIMEOUT_S)
    attempted, failed, notes = check_oracle(work / "oracle_out")
    answers = {}
    for e in res["info"]["executions"]:
        answers.setdefault(e["name"], set()).add((e["rows"], e["hash"], e["error"]))
    unstable = [n for n, a in answers.items() if len(a) != 1 or next(iter(a))[2]]
    if failed or unstable:
        print(f"not recording: oracle failures {notes}, unstable or failing {unstable}",
              file=sys.stderr)
        return 1
    expected = {n: {"rows": next(iter(a))[0], "hash": next(iter(a))[1]}
                for n, a in sorted(answers.items())}
    EXPECTED.write_text(json.dumps(expected, indent=1) + "\n")
    print(f"recorded {len(expected)} queries ({attempted} DuckDB-checked) to {EXPECTED}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-batch", action="store_true",
                    help="re-record the batch answers (after a deliberate change)")
    args = ap.parse_args()
    try:
        if args.record_batch:
            return record_batch()
        if args.selftest:
            import selftest
            return selftest.main()
        if not args.workload:
            ap.error("--workload is required")
        return run(args)
    except (build.BuildError, RuntimeError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
