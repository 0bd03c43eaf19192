"""Record the query mix's result digests at the current commit into
``digests.json``:

    python3 perfbench/record_digests.py

Run it only when a change to the registry is meant to change results;
the benchmark counts every query whose digest differs as failed.
"""

from __future__ import annotations

import json
import os
import shutil
from types import SimpleNamespace

from run import RUNS, run
from workloads import DIGESTS_PATH


def main() -> None:
    work_dir = os.path.join(RUNS, f"record-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        args = SimpleNamespace(workload="query_mix", seed=0, seconds=0, trace=0)
        ctx = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    with open(DIGESTS_PATH, "w") as f:
        json.dump(ctx.digests, f, indent=1)
        f.write("\n")
    print(f"recorded {len(ctx.digests)} digests")


if __name__ == "__main__":
    main()
