"""Self-test of the benchmark in smoke mode.

For every workload it runs ``run.py --smoke`` (one pass at the warm
scale, no warm pass) once with tracing off and once with tracing on,
and asserts that

- every metric ``BENCHMARK.json`` names for that mode is printed with
  its unit;
- a deliberately corrupted reference (``--corrupt-reference``) is
  counted as one failed execution and does not stop the run;
- with intact references nothing fails.

Usage: python3 perfbench/selftest.py   (about three minutes on 4 cores)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def smoke(workload: str, trace: int, corrupt: str | None = None) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke",
    ]
    if corrupt:
        cmd += ["--corrupt-reference", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        specs = json.load(f)["workloads"]
    for w in bench["workloads"]:
        name = w["name"]
        corrupt = specs[name]["queries"][0]
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            r = smoke(name, trace, corrupt if trace == 0 else None)
            for m in bench[section]:
                got = r["metrics"].get(m["name"])
                assert got is not None, f"{name}: {m['name']} not printed"
                assert got["unit"] == m["unit"], f"{name}: {m['name']} unit {got['unit']}"
            assert r["attempted"] == len(specs[name]["queries"]), r
            if trace == 0:
                assert r["failed"] == 1 and r["correct"] is False, r
            else:
                assert r["failed"] == 0 and r["correct"] is True, r
            print(f"selftest: {name} trace={trace} ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
