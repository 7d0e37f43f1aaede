"""Same-seed output checksums of the perfbench workloads.

    python3 tools/digests.py --seeds 1 2
    python3 tools/digests.py --seeds 1 --workloads corrupt_tables

Run from the repository root. For each workload and fixture seed, this
builds the workload the way ``perfbench/run.py`` does, runs one op and
prints ``Workload.check``'s clean and dirty digests (and any failed
check) as one JSON object. Two checkouts that produce the same objects
produce the same outputs for those seeds; a change that must keep
outputs bit-identical compares this before and after. ``perfbench`` is
imported unchanged.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import fixtures, run  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402


def digests(spark, workloads: list[str], seeds: list[int], work: Path) -> dict:
    from perfbench.workloads import WORKLOADS

    out: dict = {}
    for name in workloads:
        for seed in seeds:
            wl_work = work / f"{name}-{seed}"
            wl_work.mkdir()
            fx = fixtures.make_fixtures(seed)
            wl = WORKLOADS[name](spark, fx, wl_work, Tracer(enabled=False), seed)
            wl.build()
            op_seed = run.op_seed(seed, 0)
            wl.op("digest", op_seed)
            errors, dg = wl.check("digest", op_seed)
            wl.discard("digest")
            out.setdefault(name, {})[str(seed)] = {
                "op_seed": op_seed,
                "clean": list(dg[:2]),
                "dirty": list(dg[2:]),
                "errors": errors,
            }
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument(
        "--workloads", nargs="+", choices=run.WORKLOAD_NAMES, default=list(run.WORKLOAD_NAMES)
    )
    args = p.parse_args(argv)

    run.import_program()
    work = Path(tempfile.mkdtemp(prefix="gecko-digests-"))
    (work / "tmp").mkdir()
    run.configure_environment(work)
    from gecko_spark import get_spark

    spark = get_spark(
        app_name="gecko-digests", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    try:
        out = digests(spark, args.workloads, args.seeds, work)
        print(json.dumps(out, indent=1, sort_keys=True))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
