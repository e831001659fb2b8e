"""Capture .explain("formatted") for named headline queries.

Usage: python tools/capture_plans.py <out_dir> <suffix> [query ...]

Writes <out_dir>/<query>_<suffix>.txt (e.g. ``plans/r15``) for each
query, all bench HEADLINE queries when none are named. Plan capture is
driver-side only (no job runs), so it is cheap; it uses the same
snapshot read path as bench.py so the captured plans are the plans the
bench times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
import bench  # noqa: E402
from hadoop_ozone_spark import model  # noqa: E402
from hadoop_ozone_spark.session import get_spark  # noqa: E402
from hadoop_ozone_spark.sources import deployment  # noqa: E402


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__.strip().splitlines()[2])
        return 2
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture-plans")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.environ.get(
        deployment.SNAPSHOT_ENV,
        os.path.join(repo, ".snapshot", os.path.basename(sf_dir.rstrip("/"))),
    )
    deployment.ensure_snapshot(spark, sf_dir, base)
    model.clear_derived_cache()
    qs = entrymod.queries()
    if not names:
        names = [n for n in bench.HEADLINE if n in qs]
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"skip {name}: not registered")
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
