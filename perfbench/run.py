"""Run one benchmark workload and print its record.

    python3 perfbench/run.py --workload geo --seed 1 --seconds 4 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is the JSON record ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a JSON detail record (box facts, pass
walls, set-ups, check failures). Generated inputs, Spark scratch space and
records live under ``.perfbench/`` in the checkout. ``--trace 1`` reports
the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "session.py")):
        print(f"perfbench: no gdal_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temporary file (package zip, py4j handshake, JVM tmpdir)
    # inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["GDAL_SPARK_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"

    from perfbench.harness import run
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    record, detail = run(WORKLOADS[args.workload], args.seed, args.seconds,
                         bool(args.trace), ROOT)
    print(json.dumps(detail))
    if not all(math.isfinite(m["value"]) for m in record["metrics"].values()):
        print("perfbench: no pass completed, so there is nothing to report",
              file=sys.stderr)
        return 1
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
