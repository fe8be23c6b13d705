"""Dump .explain('formatted') for named queries to files.

    python tools/qplan.py /root/testdata/sf0.1 plans/r06 before cer_by_lang,cer_rollup
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir, out_dir, tag = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4].split(",")
    os.makedirs(out_dir, exist_ok=True)

    from cor_asv_ann_spark.session import build_session

    spark = build_session(app="qplan", extra={"spark.ui.showConsoleProgress": "false"})
    import __spark_entry__ as entrymod

    qdefs = entrymod.queries()
    for name in names:
        df = qdefs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        entrymod.OBSERVATIONS.pop(name, None)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange nodes)")
    spark.stop()


if __name__ == "__main__":
    main()
