"""Self-test of the benchmark itself (about five minutes on 4 cores):

    python3 perfbench/selftest.py [workload ...]

For each workload, at tiny input sizes:

* an untraced run prints exactly the end-to-end metrics of BENCHMARK.json,
  a traced run exactly the per-layer ones, both with zero failed ops;
* a run that damages one op's output before the checks counts it failed.

Then, from a copy holding only BENCHMARK.json and perfbench/, the benchmark
must exit non-zero without printing a result (the program is missing).
Exit code 0 when every case passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("snapshot_export", "upsert_export", "query_mix")


def _run(cwd: str, workload: str, *extra: str) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "2",
           "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300, check=False)
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    return proc.returncode, result, proc.stderr[-2000:]


def _expect(ok: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def _metrics_ok(result: dict | None, names: list[str]) -> bool:
    if not result or set(result) != {"correct", "attempted", "failed", "metrics"}:
        return False
    metrics = result["metrics"]
    return (list(metrics) == names
            and all(isinstance(m.get("value"), (int, float))
                    and isinstance(m.get("unit"), str) for m in metrics.values()))


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    failures: list[str] = []
    for w in argv or WORKLOADS:
        for trace, names in (("0", e2e), ("1", layers)):
            code, res, err = _run(ROOT, w, "--trace", trace)
            _expect(code == 0 and _metrics_ok(res, names)
                    and res["failed"] == 0 and res["correct"]
                    and res["attempted"] >= 2,
                    f"{w} --trace {trace}: every metric, no failed op", failures)
            if code != 0:
                print(err, file=sys.stderr)
        code, res, err = _run(ROOT, w, "--trace", "0", "--corrupt")
        _expect(code == 0 and res is not None and res["failed"] == 1
                and not res["correct"],
                f"{w}: a damaged output is counted as one failed op", failures)

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, res, _ = _run(bare, WORKLOADS[0], "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    _expect(code != 0 and res is None,
            "without the program: non-zero exit, no result", failures)

    print(f"{len(failures)} failed" if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
