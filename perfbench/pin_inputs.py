#!/usr/bin/env python3
"""Record the input fingerprints of seeds into perfbench/fingerprints.json.

    python3 perfbench/pin_inputs.py 0 40     # seeds 0..40 inclusive

``run.py`` refuses to report a run whose inputs differ from the pinned
fingerprints of its seed, so a change to the generators (for example
``sources/synth.py``) cannot silently change the workload.  Re-pinning is
a change to the benchmark and is made on its own.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main(argv) -> int:
    lo, hi = int(argv[1]), int(argv[2])
    scratch = run.ROOT / ".perfbench_run" / f"pin-{os.getpid()}"
    for sub in ("tmp", "local"):
        (scratch / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(scratch / "tmp")
    os.environ["PYTHONPATH"] = str(run.ROOT)
    sys.path.insert(0, str(run.ROOT))
    from workloads import WORKLOADS

    path = run.HERE / "fingerprints.json"
    pinned = json.loads(path.read_text()) if path.is_file() else {}
    spark = run.start_spark(scratch, len(os.sched_getaffinity(0)))
    try:
        for seed in range(lo, hi + 1):
            for name, wl in WORKLOADS.items():
                inputs = wl.build(spark, seed)
                pinned.setdefault(name, {})[str(seed)] = inputs.fingerprints
                inputs.release()
            print(f"seed {seed} pinned", flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    for name in pinned:
        pinned[name] = dict(sorted(pinned[name].items(), key=lambda kv: int(kv[0])))
    path.write_text(json.dumps(pinned, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
