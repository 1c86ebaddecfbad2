"""Fast self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload once at ``sf=0.001`` with a one-second window,
clean and then with ``--corrupt``: ``etl_batch`` deletes a written
master-table file, drops a document from the dedup result, a row from
a dashboard result and shifts the cosines of a kNN answer;
``lakehouse_dml`` drops a row from the bronze table read back at the
end.  The clean run must report no failures and the corrupted run one
failed operation per damaged output, so each output check is shown to
catch a wrong output.
Exits non-zero if either expectation fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
#: workload -> outputs its corrupted run damages, each of which must be
#: caught as its own failed operation
WORKLOADS = {"etl_batch": 4, "lakehouse_dml": 1}


def _run(workload: str, corrupt: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", "0", "--sf", "0.001"]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                          text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ok = True
    for workload in WORKLOADS:
        clean = _run(workload, corrupt=False)
        bad = _run(workload, corrupt=True)
        clean_ok = clean["correct"] and clean["failed"] == 0
        caught = (not bad["correct"]) and bad["failed"] >= WORKLOADS[workload]
        ok &= clean_ok and caught
        print(f"{workload}: clean failed={clean['failed']}/{clean['attempted']} "
              f"({'ok' if clean_ok else 'UNEXPECTED'}); corrupted "
              f"failed={bad['failed']}/{bad['attempted']} "
              f"({'caught' if caught else 'NOT CAUGHT'})", flush=True)
    print("selftest:", "pass" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
