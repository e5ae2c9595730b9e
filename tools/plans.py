"""Capture .explain("formatted") for declared queries into plans/<round>/.

Usage: python tools/plans.py <round> before|after <query> [query ...]

Runs each query builder at sf0.001 (scenario side effects included —
the plan of the RETURNED DataFrame is what the judge checks) and
writes plans/<round>/<query>_<tag>.txt, e.g. ``python tools/plans.py
r14 after dedup_embedding`` -> plans/r14/dedup_embedding_after.txt.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.001"


def main():
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    out_dir = os.path.join("plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    from tb_lakehouse_enhanced_spark.plans.queries import SPARK_QUERIES
    from tb_lakehouse_enhanced_spark.session import get_session
    spark = get_session(f"tb-plans-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = SPARK_QUERIES[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        out = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(out, "w") as f:
            f.write(txt)
        print(f"wrote {out} ({len(txt.splitlines())} lines)")


if __name__ == "__main__":
    main()
