"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py          # inputs, declarations, bare-dir refusal
    python3 perfbench/selftest.py --run    # also run every workload, trace 0 and 1

Run from the repository root. Checks that the same seed gives
byte-identical inputs and another seed different ones, that BENCHMARK.json
declares every metric the command prints (and a reason for every
workload), and that the command refuses to run outside a checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.layers import LAYER_METRICS  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digest(name: str, seed: int, scratch: str) -> str:
    work = os.path.join(scratch, f"{name}-{seed}-{len(os.listdir(scratch))}")
    os.makedirs(work)
    wl = WORKLOADS[name](name, seed, work)
    wl.generate()
    return wl.inputs["digest"]


def check_inputs(scratch: str) -> list[str]:
    errors = []
    for name in WORKLOADS:
        a, b, c = (_digest(name, s, scratch) for s in (7, 7, 8))
        if a != b:
            errors.append(f"{name}: seed 7 gave two different input digests")
        if a == c:
            errors.append(f"{name}: seeds 7 and 8 gave the same input digest")
    return errors


def check_declarations() -> list[str]:
    bench = _bench()
    errors = []
    declared = {w["name"]: w.get("why", "") for w in bench["workloads"]}
    if set(declared) != set(WORKLOADS):
        errors.append(f"workloads {sorted(declared)} != runnable {sorted(WORKLOADS)}")
    errors += [f"workload {n} has no reason" for n, why in declared.items() if not why.strip()]
    if {m["name"] for m in bench["end_to_end"]} != set(END_TO_END):
        errors.append("end_to_end metrics differ from the ones the command prints")
    if {m["name"] for m in bench["per_layer"]} != set(LAYER_METRICS):
        errors.append("per_layer metrics differ from the ones the command prints")
    return errors


def check_bare_dir(scratch: str) -> list[str]:
    """Outside a checkout the command must fail without printing a result."""
    bare = os.path.join(scratch, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in _bench()["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        _bench()["command"] + ["--workload", "query_mix", "--seed", "1",
                               "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    if p.returncode == 0 or p.stdout.strip():
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}"]
    return []


def check_runs() -> list[str]:
    bench = _bench()
    errors = []
    for w in bench["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                bench["command"] + ["--workload", w["name"], "--seed", "1",
                                    "--seconds", "1", "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            if p.returncode:
                errors.append(f"{w['name']} trace {trace}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            out = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[group]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                errors.append(f"{w['name']} trace {trace}: printed {sorted(set(got) ^ set(want))} mismatch")
            if set(out) != {"correct", "attempted", "failed", "metrics"} or not out["correct"]:
                errors.append(f"{w['name']} trace {trace}: result {out}")
    return errors


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".bench_work"))
    try:
        errors = check_declarations() + check_inputs(scratch) + check_bare_dir(scratch)
        if "--run" in sys.argv:
            errors += check_runs()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
