"""Record the output counts of a range of seeds in ``expected.json``.

Run from the repository root, with no other Spark session running:

    python3 perfbench/record.py --workload stream --first 0 --last 31

One Spark session runs every seed once: the first ``run_pipeline`` (batch)
or a full drain plus ``finalize`` (stream), with the same checks as
``run.py``. Counts do not depend on whether the session is warm (``run.py``
checks every warm run against the cold one), so this is much cheaper than
one ``run.py --record`` per seed. A seed that is already recorded is
checked against its entry, not overwritten; delete the entry to re-record
it after an intended change of the engine's output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--last", type=int, required=True)
    args = ap.parse_args(argv)
    run._prepare_env()
    import load

    table = {}
    if os.path.isfile(run.EXPECTED):
        with open(run.EXPECTED) as fh:
            table = json.load(fh)
    recorded = table.get(args.workload, {})
    spark = run.start_session(traced=False)
    clock = None
    try:
        for seed in range(args.first, args.last + 1):
            paths = load.prepare(args.workload, seed, run.CACHE)
            opts = argparse.Namespace(
                workload=args.workload, seed=seed, seconds=0,
                record=str(seed) not in recorded, convs=None,
            )
            ctx = run.Context(opts, paths)
            ctx.spark = spark
            ctx.inputs = run.register_inputs(spark, args.workload, paths)
            if args.workload == "stream":
                ctx.open_stream(clock)
                clock = ctx.clock
                counts = run.drain(ctx)["counts"]
            else:
                counts = run.cold_batch(ctx)
            verb = "recorded" if opts.record else "checked"
            print(f"{args.workload} seed {seed} {verb}: {counts}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(os.path.join(run.WORK, "stream"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
