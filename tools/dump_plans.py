"""Dump .explain("formatted") for headline (or named) queries to
<out_dir>/<query>.txt, with expression IDs (``#123``), exchange
``plan_id``s and lambda-variable numbers stripped and the fixture
directory written as ``$SF_DIR``, so two dumps compare with ``diff -r``.

Usage: python tools/dump_plans.py <out_dir> [query ...]
e.g.   python tools/dump_plans.py plans/r16/before dedup_minhash_lsh
       python tools/dump_plans.py plans/r16/after dedup_minhash_lsh
       diff -r plans/r16/before plans/r16/after

The scale factor comes from SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from weather_etl_pipeline_spark.registry import load_all  # noqa: E402
from weather_etl_pipeline_spark.session import get_spark  # noqa: E402

# per-process counters that differ between two builds of the same plan:
# expression IDs (`doc_id#12L`), exchange plan_ids (`[plan_id=34]`) and
# the suffix PySpark numbers HOF lambda variables with (`lambda x_21#`)
_IDS = re.compile(r"(?<=#)\d+|(?<=plan_id=)\d+|(?<=lambda [xyz]_)\d+")


def main() -> None:
    out_dir = Path(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir.mkdir(parents=True, exist_ok=True)
    reg = load_all()
    if not names:
        names = sorted(n for n, q in reg.items() if q.headline)
    spark = get_spark("dump-plans")
    for name in names:
        spark.catalog.clearCache()
        df = reg[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = out_dir / f"{name}.txt"
        # the fixture dir is written as $SF_DIR so dumps of the same
        # plan over different fixture copies compare equal
        plan = _IDS.sub("", plan).replace(sf_dir.split("@x")[0], "$SF_DIR")
        path.write_text(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {n_ex} Exchange -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
