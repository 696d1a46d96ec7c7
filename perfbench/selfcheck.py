"""Fast self-check of the benchmark.

    python3 perfbench/selfcheck.py

Run from the root of a repository checkout. It validates BENCHMARK.json
against the benchmark contract, runs every workload on tiny inputs once
untraced and once traced, and checks that each run passes its output
checks and prints exactly the metrics its trace mode declares, with
their units, and that the benchmark refuses to run, printing no result,
in a directory holding only BENCHMARK.json and the benchmark's files.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def check_spec(spec: dict) -> list[str]:
    """Contract rules for BENCHMARK.json that can be checked statically."""
    errs = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        errs.append(f"keys {sorted(spec)} != {sorted(keys)}")
    cmd = spec.get("command", [])
    if not (1 <= len(cmd) <= 32 and all(isinstance(c, str) and len(c) <= 200 for c in cmd)):
        errs.append("command: 1-32 strings of at most 200 characters")
    if any(c.startswith("/") or ".." in c.split("/") for c in cmd):
        errs.append("command: no absolute paths, no '..'")
    paths = spec.get("paths", [])
    if not (1 <= len(paths) <= 16 and all(PATH.match(p) and ".." not in p.split("/") for p in paths)):
        errs.append("paths: 1-16 relative paths")
    rs = spec.get("run_seconds")
    if not (isinstance(rs, int) and 1 <= rs <= 60):
        errs.append("run_seconds: whole number 1-60")
    wls = spec.get("workloads", [])
    if not 2 <= len(wls) <= 8:
        errs.append("workloads: 2-8")
    for w in wls:
        if set(w) != {"name", "why"} or "\n" in w["why"] or len(w["why"]) > 200:
            errs.append(f"workload {w.get('name')}: exactly name and a one-line why of <= 200 chars")
    names = [w.get("name", "") for w in wls]
    e2e, layers = spec.get("end_to_end", []), spec.get("per_layer", [])
    if not (1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128):
        errs.append("end_to_end: 1-16 metrics, per_layer: 1-128")
    for m in e2e:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            errs.append(f"end_to_end {m.get('name')}: keys name/unit/better/bound, bound in (0, 0.25]")
    for m in layers:
        if set(m) != {"name", "unit", "better"}:
            errs.append(f"per_layer {m.get('name')}: keys name/unit/better")
    for m in e2e + layers:
        if m.get("better") not in ("lower", "higher") or not UNIT.match(m.get("unit", "")):
            errs.append(f"metric {m.get('name')}: better lower|higher, unit {m.get('unit')!r}")
        names.append(m.get("name", ""))
    bad = [n for n in names if not NAME.match(n)]
    dup = {n for n in names if names.count(n) > 1}
    if bad or dup:
        errs.append(f"names: invalid {bad}, duplicated {sorted(dup)}")
    setup = [m for m in e2e if m.get("name") == "setup_s"]
    if not (setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"):
        errs.append("end_to_end needs setup_s in s, lower is better")
    elif setup[0]["bound"] != max(m["bound"] for m in e2e):
        errs.append("setup_s must carry the largest bound")
    if len(json.dumps(spec)) > 64 * 1024:
        errs.append("BENCHMARK.json over 64 KiB")
    return errs


def last_json(stdout: str) -> dict | None:
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    """One tiny run: it must pass its output checks and print exactly
    the metrics its trace mode declares, with their units."""
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny",
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    out = last_json(proc.stdout)
    tag = f"{workload} --trace {trace}"
    if proc.returncode != 0 or out is None:
        return [f"{tag}: exit {proc.returncode}, no result\n{proc.stderr[-2000:]}"]
    errs = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: result keys {sorted(out)}")
    if not (out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1):
        errs.append(f"{tag}: correct={out['correct']} failed={out['failed']} attempted={out['attempted']}")
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        missing, extra = sorted(set(want) - set(got)), sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        errs.append(f"{tag}: metrics missing {missing}, undeclared {extra}, wrong unit {wrong}")
    if trace:
        cov = out["metrics"].get("bench.span_coverage", {}).get("value", 0)
        if cov < 0.95:
            errs.append(f"{tag}: layer spans cover {cov:.3f} of op wall time (< 0.95)")
    else:
        for m in spec["end_to_end"]:
            v = out["metrics"].get(m["name"], {}).get("value")
            if not (isinstance(v, (int, float)) and v > 0):
                errs.append(f"{tag}: end-to-end {m['name']} = {v}, must be > 0")
    print(f"selfcheck: {tag}: attempted={out['attempted']}", file=sys.stderr)
    return errs


def check_bare(spec: dict) -> list[str]:
    """Only BENCHMARK.json and the benchmark's paths: must fail cleanly."""
    bare = os.path.join(os.getcwd(), ".perfbench", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy("BENCHMARK.json", bare)
        for p in spec["paths"]:
            shutil.copytree(p, os.path.join(bare, p), ignore=shutil.ignore_patterns("__pycache__"))
        cmd = spec["command"] + [
            "--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0",
        ]
        proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or last_json(proc.stdout) is not None:
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    errs = check_spec(spec) + check_bare(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            if not errs:
                errs += check_run(spec, w["name"], trace)
    for e in errs:
        print(f"selfcheck: FAIL {e}", file=sys.stderr)
    if not errs:
        print("selfcheck: ok", file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
