"""Self-test of the benchmark at toy sizes.

    python3 perfbench/selftest.py [--workload NAME ...]

For every workload it checks that an untraced run emits exactly the
end-to-end metrics of BENCHMARK.json and a traced run exactly its
per-layer metrics, each with its unit, with no failed op; that a run
whose output has one corrupted cell reports ``failed > 0``; and that the
benchmark refuses to run, without a result line, in a directory that
holds only BENCHMARK.json and the benchmark's own files.  Exits 1 on any
mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def _run(cwd: str, *args: str) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, RUN if cwd == ROOT else
                        os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=300)
    return p.returncode, p.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict | None:
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return None
    return res if isinstance(res, dict) else None


def check_workload(name: str, spec: dict) -> list[str]:
    errors = []
    base = ["--workload", name, "--seed", "1", "--seconds", "1", "--toy"]
    for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
        code, lines = _run(ROOT, *base, "--trace", trace)
        res = _result(lines)
        if code != 0 or res is None:
            errors.append(f"{name} trace {trace}: exit {code}, no result")
            continue
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            errors.append(f"{name} trace {trace}: keys {sorted(res)}")
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {n: v.get("unit") for n, v in res["metrics"].items()}
        if got != want:
            errors.append(f"{name} trace {trace}: metrics {got} != {want}")
        if not all(isinstance(v.get("value"), (int, float))
                   for v in res["metrics"].values()):
            errors.append(f"{name} trace {trace}: non-numeric value")
        if not res["correct"] or res["failed"] or res["attempted"] < 1:
            errors.append(f"{name} trace {trace}: {res['attempted']} "
                          f"attempted, {res['failed']} failed")
    code, lines = _run(ROOT, *base, "--trace", "0", "--corrupt")
    res = _result(lines)
    if code != 0 or res is None or res["correct"] or res["failed"] < 1:
        errors.append(f"{name}: a corrupted output cell was not caught")
    return errors


def check_bare_directory() -> list[str]:
    """Without the engine's sources next to it the benchmark must exit
    non-zero and print no result."""
    bare = os.path.join(ROOT, ".perfbench_selftest")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        code, lines = _run(bare, "--workload", "tables", "--seed", "1",
                           "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or _result(lines) is not None:
        return [f"bare directory: exit {code}, result printed"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    p = argparse.ArgumentParser()
    p.add_argument("--workload", action="append", choices=names)
    args = p.parse_args()
    errors = check_bare_directory()
    for name in args.workload or names:
        errs = check_workload(name, spec)
        errors += errs
        print(f"{name}: {'FAILED' if errs else 'ok'}", flush=True)
    for e in errors:
        print(e)
    print("selftest " + ("passed" if not errors else "failed"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
