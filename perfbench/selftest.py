"""Self-tests of the benchmark (python3 perfbench/run.py --selftest):

1. the alert oracle against the product on scripted inputs (a late
   event, a re-alert exactly at cooldown expiry, a pane split across
   two triggers);
2. BENCHMARK.json against the metric tables in run.py: names, units,
   workloads;
3. a 2-second smoke run of every workload, untraced and traced,
   checking that each reports exactly its metrics and no failure.
"""
import json
import re
import subprocess
import sys
import time

import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_manifest() -> list:
    errs = []
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    wl = [w["name"] for w in spec["workloads"]]
    if wl != run.WORKLOADS:
        errs.append(f"workloads {wl} != {run.WORKLOADS}")
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        names = [m["name"] for m in spec[key]]
        if names != list(table):
            errs.append(f"{key} names differ from run.py: "
                        f"{sorted(set(names) ^ set(table))}")
        for m in spec[key]:
            if not NAME.match(m["name"]) or not UNIT.match(m["unit"]):
                errs.append(f"bad name or unit: {m}")
            if table.get(m["name"]) != m["unit"]:
                errs.append(f"unit of {m['name']}: {m['unit']} vs {table.get(m['name'])}")
    all_names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + wl
    if len(all_names) != len(set(all_names)):
        errs.append("a name is used twice")
    return errs


def oracle_scenarios() -> list:
    classes = run.build.build(run.ROOT)
    work = run.build.build_dir(run.ROOT) / "work" / "selftest"
    res = run.run_jvm(classes, work, ["--workload", "selftest", "--seed", "0"],
                      time.time() + run.JVM_TIMEOUT_S)
    errs = []
    for name, r in res["info"]["selftest"].items():
        print(f"  scenario '{name}': {'ok' if r['ok'] else 'FAILED'} {r}")
        if not r["ok"]:
            errs.append(name)
    if res["attempted"] != 3:
        errs.append(f"expected 3 scenarios, ran {res['attempted']}")
    return errs


def smoke() -> list:
    errs = []
    for w in run.WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run([sys.executable, str(run.HERE / "run.py"), "--workload", w,
                                "--seed", "7", "--seconds", "2", "--trace", str(trace)],
                               capture_output=True, text=True, timeout=400)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                r = json.loads(last)
            except ValueError:
                errs.append(f"{w} trace={trace}: no result line (exit {p.returncode}) "
                            f"{p.stderr[-500:]}")
                continue
            want = run.PER_LAYER if trace else run.END_TO_END
            ok = (p.returncode == 0 and set(r) == {"correct", "attempted", "failed", "metrics"}
                  and r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
                  and set(r["metrics"]) == set(want))
            if not trace:
                ok = ok and all(v["value"] > 0 for v in r["metrics"].values())
            print(f"  smoke {w} trace={trace}: {'ok' if ok else 'FAILED'}")
            if not ok:
                errs.append(f"{w} trace={trace}: {last[:500]}")
    return errs


def main() -> int:
    errs = []
    print("manifest:")
    errs += check_manifest()
    print("oracle scenarios:")
    errs += oracle_scenarios()
    print("smoke runs:")
    errs += smoke()
    for e in errs:
        print(f"FAILED {e}")
    print("selftest: " + ("ok" if not errs else f"{len(errs)} failures"))
    return 1 if errs else 0
