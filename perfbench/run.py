"""Feature-store benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload offline_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The engine is imported from the
checkout (``feature_store_spark``), inputs are generated from
``--seed`` under ``.perfbench_run/`` and removed at exit. Standard
output ends with one JSON line: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). Lines before it, starting with ``#``,
carry the workload's own named metrics, the environment record and the
path of the sidecar file with samples and, when traced, spans and the
per-layer table.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["offline_batch", "ingest_churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.append(CHECKOUT)
    if not os.path.isfile(os.path.join(CHECKOUT, "feature_store_spark", "__init__.py")):
        print(f"perfbench: no feature_store_spark package under {CHECKOUT}", file=sys.stderr)
        return 2

    import harness

    module = importlib.import_module(args.workload)
    run = harness.Run(module.WORKLOAD, args.seed, args.seconds, bool(args.trace), CHECKOUT)
    result = run.execute()
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
