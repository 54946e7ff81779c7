#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny input size.

    python3 perfbench/selftest.py

Run from the repository root.  For every workload, in both modes, it checks
that the run exits 0 with "correct": true and that every end-to-end and check
metric (and, traced, every per-layer metric) is printed by name with its unit,
and that the last JSON line carries exactly the metrics of its mode.  It then
corrupts one extracted_text (html_extract) and one planted count (funnel_dup)
and checks that golden_mismatch turns non-zero and the exit code non-zero.
Last, it runs the benchmark in a directory holding only the benchmark's files
and checks that it fails without printing a result.  Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as R  # noqa: E402

failures: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def bench(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--size", "tiny", "--seconds", "1",
         "--seed", "7", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    return p.returncode, p.stdout


def printed(stdout: str) -> dict[str, tuple[float, str]]:
    """name -> (value, unit) from the human-readable metric lines."""
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) == 3 and line.startswith("  "):
            try:
                out[parts[0]] = (float(parts[1]), parts[2])
            except ValueError:
                pass
    return out


def main() -> int:
    for wl in R.WORKLOADS:
        for trace in (0, 1):
            tag = f"{wl} --trace {trace}"
            code, out = bench("--workload", wl, "--trace", str(trace))
            expect(code == 0, f"{tag}: exit 0")
            lines = out.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            expect(result.get("correct") is True, f"{tag}: correct")
            shown = printed(out)
            want = {**R.END_TO_END, **R.CHECKS, **(R.PER_LAYER if trace else {})}
            missing = [k for k, u in want.items() if shown.get(k, (0, None))[1] != u]
            expect(not missing, f"{tag}: every metric printed with its unit {missing[:5]}")
            expect(shown.get("golden_mismatch", (1,))[0] == 0, f"{tag}: golden_mismatch is 0")
            units = {k: v["unit"] for k, v in result.get("metrics", {}).items()}
            expect(units == (R.PER_LAYER if trace else R.END_TO_END), f"{tag}: JSON metrics of its mode")

    for wl, corrupt in (("html_extract", "text"), ("funnel_dup", "count")):
        tag = f"{wl} --corrupt {corrupt}"
        code, out = bench("--workload", wl, "--trace", "0", "--corrupt", corrupt)
        expect(code != 0, f"{tag}: exit non-zero")
        expect(printed(out).get("golden_mismatch", (0,))[0] > 0, f"{tag}: golden_mismatch > 0")

    # a directory with only BENCHMARK.json and the benchmark's own files
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, out = bench("--workload", R.WORKLOADS[0], "--trace", "0", cwd=bare)
        expect(code != 0 and not out.strip(), "bare directory: exit non-zero, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
