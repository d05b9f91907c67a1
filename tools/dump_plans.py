"""Write explain("formatted") for every QUERIES row, one file per row, with
the ids that change between runs masked, so the plans of two commits compare
with `diff -r`.

Usage: python tools/dump_plans.py SF_DIR OUT_DIR

Masked: expression ids (`#12`), exchange `plan_id=`s, `MapPartitionsRDD[..]`
ids, AQE query-stage ids (`Arguments: 3` under a `...QueryStage` node) and
whole-stage codegen ids (`[codegen id : 2]`; the outline's `*` still marks
each fused operator). Query-stage ids, and the codegen ids of the stages
AQE plans above them, follow the order the stages were materialised in,
which varies between runs of one commit (corpus_filter and
near_dup_components, whose builders run a job).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import queries
from htmlx.spark.session import get_spark

MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"MapPartitionsRDD\[\d+\]"), "MapPartitionsRDD[N]"),
    (re.compile(r"(QueryStage\n(?:.+\n)*?Arguments: )\d+"), r"\1N"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
)


def masked(plan: str) -> str:
    for pattern, repl in MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def main(sf_dir: str, out_dir: str) -> int:
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark()
    explain = spark.sparkContext._jvm.PythonSQLUtils.explainString
    try:
        for name, build in queries().items():
            plan = explain(build(spark, sf_dir)._jdf.queryExecution(), "formatted")
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
                fh.write(masked(plan))
            print(name, flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
