#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting.

    python3 perfbench/selftest.py

Plants a leaf in curate_suite that runs for half a second and then throws,
once untraced and once traced, and asserts that it is counted, not timed:
each pass reports it as one failed operation, the result is incorrect, the
command exits non-zero, and the pass's reported wall (`op_p50_s` untraced,
`trace.wall_s` traced) is the sum of the 31 real leaves' walls from the
progress lines of that pass, without the planted leaf's half second.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LEAVES = 31


def run(trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "curate_suite",
                        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--plant-failure"],
                       capture_output=True, text=True, timeout=600)
    return r.returncode, r.stdout.strip().splitlines()


def pass_walls(lines, phase):
    """Leaf walls from the progress lines of the pass that starts at `phase`."""
    walls, inside = {}, False
    for line in lines:
        if line.startswith("# [perfbench] phase "):
            inside = line.startswith(f"# [perfbench] phase {phase} at ")
        elif inside and line.startswith("# [perfbench] "):
            name, wall = line[len("# [perfbench] "):].rsplit(": ", 1)
            walls[name] = float(wall.split()[0])
    return walls


def check(trace, passes, phase, metric):
    rc, lines = run(trace)
    result = json.loads(lines[-1])
    assert rc != 0, "a planted failure must make the command exit non-zero"
    assert result["failed"] == passes, f"expected one failure per pass, got {result['failed']}"
    assert result["correct"] is False, "a failed operation must make the result incorrect"
    assert any(l.startswith("# failed planted_throwing_leaf") for l in lines), "failure not reported"
    walls = pass_walls(lines, phase)
    assert len(walls) == LEAVES and "planted_throwing_leaf" not in walls, sorted(walls)
    got = result["metrics"][metric]["value"]
    # a progress line times its leaf's whole call, some microseconds more than
    # the sink alone; the planted leaf would add 0.5 s
    assert abs(got - sum(walls.values())) < 0.05, \
        f"{metric} {got} != sum of the real leaves' walls {sum(walls.values())}: the planted leaf was timed"
    print(f"trace={trace}: planted leaf counted ({result['failed']} failed), not in {metric}, "
          f"exit code {rc}")


def main():
    check(0, passes=1, phase="timed pass", metric="op_p50_s")
    # traced: the timed pass, an untraced warm pass and the traced pass
    check(1, passes=3, phase="traced pass", metric="trace.wall_s")
    print("selftest ok")


if __name__ == "__main__":
    main()
