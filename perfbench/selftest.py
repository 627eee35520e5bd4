"""Self-test of the benchmark at tiny scale; run from the checkout root:

    python3 perfbench/selftest.py

1. The same seed gives the same input digests; another seed does not.
2. A deliberately perturbed result registers as a failed operation (and
   every other operation of the run passes its check).
3. The printed result names every metric of BENCHMARK.json with its unit:
   the end-to-end ones untraced, the per-layer ones traced.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402


def _digests(workload: str, seed: int) -> dict:
    tables = gen.generate(workloads.INPUTS[workload]["tiny"], seed)
    return {k: gen.table_digest(v) for k, v in tables.items()}


def _run(workload: str, trace: int, perturb: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", "--perturb", perturb]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    problems = []
    for w in workloads.INPUTS:
        a, b, c = _digests(w, 1), _digests(w, 1), _digests(w, 2)
        if a != b:
            problems.append(f"{w}: seed 1 gave different digests {a} vs {b}")
        if a["documents"] == c["documents"]:
            problems.append(f"{w}: seeds 1 and 2 gave the same documents")

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    cases = [("headline", 0, "tf_idf", "end_to_end"),
             ("ingest_clean", 1, "incremental_clean", "per_layer")]
    for workload, trace, perturb, kind in cases:
        res = _run(workload, trace, perturb)
        if res["failed"] != 1 or res["correct"]:
            problems.append(f"{workload}: perturbing {perturb} gave failed="
                            f"{res['failed']} correct={res['correct']}, want 1 and false")
        want = {m["name"]: m["unit"] for m in bench[kind]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if want != got:
            problems.append(f"{workload} --trace {trace}: metrics differ from "
                            f"BENCHMARK.json {kind}: {sorted(set(want.items()) ^ set(got.items()))}")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
