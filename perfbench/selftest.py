#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/selftest.py

Checks, on short runs:
  1. BENCHMARK.json is well formed and every metric name matches
     [A-Za-z0-9_.-]+;
  2. an untraced run prints exactly the end-to-end metrics of BENCHMARK.json
     and a traced run exactly the per-layer ones, each with its declared unit;
  3. a deliberately corrupted expected digest shows up as a failed query
     (failed_share > 0, correct false), so the output check catches a wrong
     result, and the failing passes report no time;
  4. a non-numeric seed is refused before any work.
Exits 0 when all hold.
"""
import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
FAILURES = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def run(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, lines


def result(lines):
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {"0": bench["end_to_end"], "1": bench["per_layer"]}
    names = [m["name"] for ms in declared.values() for m in ms] + \
        [w["name"] for w in bench["workloads"]]
    check(all(NAME.match(n) for n in names), "every metric and workload name matches [A-Za-z0-9_.-]+")
    check(len(names) == len(set(names)), "no name is used twice")

    for trace in ("0", "1"):
        code, lines = run("--workload", "pack", "--seed", "3", "--seconds", "1",
                          "--trace", trace, "--examples", "2000")
        res = result(lines)
        check(code == 0 and res is not None and res.get("correct") is True,
              f"pack --trace {trace} runs and is correct")
        if res is None:
            continue
        check(set(res) == {"correct", "attempted", "failed", "metrics"},
              f"--trace {trace} result line has exactly the four keys")
        want = {m["name"]: m["unit"] for m in declared[trace]}
        got = {k: v.get("unit") for k, v in res["metrics"].items()}
        check(got == want, f"--trace {trace} prints every declared metric with its unit")
        check(all(isinstance(v.get("value"), (int, float)) for v in res["metrics"].values()),
              f"--trace {trace} metric values are numbers")

    # corrupt the expected digest of one catalog query
    with open(os.path.join(HERE, "data", "reference-sf0.01.json")) as fh:
        ref = json.load(fh)
    victim = "profile_winsorize_lineitem"  # one of the catalog workload's queries
    ref[victim]["digest"] = str(int(ref[victim]["digest"]) + 1)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    bad = os.path.join(HERE, ".work", "reference-corrupted.json")
    with open(bad, "w") as fh:
        fh.write("{\n" + ",\n".join(
            f'  {json.dumps(q)}: {{"rows": {v["rows"]}, "digest": "{v["digest"]}"}}'
            for q, v in ref.items()) + "\n}\n")
    code, lines = run("--workload", "catalog", "--seed", "1", "--seconds", "1",
                      "--reference", bad)
    res = result(lines)
    check(code == 0 and res is not None and res["correct"] is False and res["failed"] >= 1,
          "a corrupted expected digest makes the run incorrect")
    check(res is not None and res["metrics"]["wall_s"]["value"] is None,
          "a pass with a failed query reports no wall_s")
    with open(os.path.join(HERE, "out", "catalog-seed1-trace0.json")) as fh:
        record = json.load(fh)
    check(record["failed_share"] > 0 and any(f.startswith(victim) for f in record["failures"]),
          f"the corrupted query {victim} shows in failed_share")

    t0 = time.time()
    code, _ = run("--workload", "pack", "--seed", "abc", "--seconds", "1")
    check(code != 0 and time.time() - t0 < 10, "a non-numeric seed fails fast")

    print("selftest:", "FAILED " + "; ".join(FAILURES) if FAILURES else "all checks passed")
    sys.exit(1 if FAILURES else 0)


if __name__ == "__main__":
    main()
