"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

1. Same seed, same work: two traced runs of one seed give identical
   per-request job/stage/task counts, ``chkpt`` barrier counts and cache
   hit/miss sequences; another seed gives another request list.
2. Isolation: the timed passes' hit/miss sequence is the one an empty
   cache gives (miss exactly on a config's first request in the pass),
   so nothing the warm-up filled is reused.
3. A corrupted output is counted as failed, on every workload.

Each traced run is a subprocess, as the driver runs it; the corruption
checks run in this process.  Takes about ten minutes on a 4-core host.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402


def traced(workload: str, seed: int) -> list[dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "1"]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, text=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], result
    path = os.path.join(run.WORK, "traces", f"{workload}-seed{seed}.json")
    with open(path) as f:
        return json.load(f)["requests"]


def same_work(workload: str, fields: tuple[str, ...]) -> None:
    a, b = traced(workload, 1), traced(workload, 1)
    pick = [[{k: r.get(k) for k in ("key",) + fields} for r in x] for x in (a, b)]
    diff = [(x, y) for x, y in zip(*pick) if x != y]
    assert not diff and len(a) == len(b), f"{workload}: runs differ: {diff}"
    print(f"ok   {workload}: seed 1 twice -> identical {', '.join(fields)}")
    if workload == "dashboard":
        seen: set = set()
        for r in a:
            expect_hit = (r["pass"], r["key"]) in seen
            seen.add((r["pass"], r["key"]))
            assert r["hit"] == expect_hit, f"{r['req']}: hit={r['hit']}, empty cache gives {expect_hit}"
        print("ok   dashboard: timed hit/miss sequence equals an empty cache's")


def other_seed_differs() -> None:
    for name, cls in workloads.WORKLOADS.items():
        wl = cls("unused")
        assert repr(wl.requests(1)) != repr(wl.requests(2)), name
    print("ok   every workload: seed 2 gives another request list than seed 1")


def corrupted_is_failed(workload: str) -> None:
    """Corrupt the last timed output of a real run; expect one failure.
    (The last one, so no later cache hit is compared with it.)"""

    def hook(wl):
        capture = wl.capture
        timed = []
        last = len(wl.requests(1)) - 1

        def corrupt(spark, req, out, tr):
            rec = capture(spark, req, out, tr)
            if tr.req is None:
                return rec  # warm-up
            timed.append(True)
            if len(timed) - 1 == last:
                if "digest" in rec:
                    rec["digest"] = "0" * 16
                else:
                    cols, rows = rec["rows"]
                    rec["rows"] = (cols, rows[1:] + [("corrupt",) * len(cols)])
            return rec

        wl.capture = corrupt

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run.main(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0"],
                 workload_hook=hook)
    result = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert result["failed"] == 1 and not result["correct"], result
    print(f"ok   {workload}: one corrupted output -> failed=1 of {result['attempted']}")


def main() -> int:
    checks = [
        (other_seed_differs, ()),
        (same_work, ("dashboard", ("hit", "counts"))),
        (same_work, ("iterative", ("counts", "chkpt_calls", "construct_jobs"))),
        *((corrupted_is_failed, (w,)) for w in workloads.WORKLOADS),
    ]
    failed = 0
    for check, args in checks:
        try:
            check(*args)
        except AssertionError as e:
            failed += 1
            print(f"FAIL {check.__name__}{args}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
