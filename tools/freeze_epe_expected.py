"""Regenerate catalog/epe_expected.py from the demo pipeline output.

Run only after an *intentional* semantics change, and re-verify the
hand-computed spot checks in tests/test_epe_pipeline.py still pass —
the frozen rows are the oracle, so blindly regenerating after a
regression would bake the bug in.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from epe_data_wrangling_spark.plans.epe_demo import workbook_grids  # noqa: E402
from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline  # noqa: E402
from epe_data_wrangling_spark.session import get_spark  # noqa: E402

HEADER = '''"""Frozen golden output of the EPE demo pipeline — generated by
running plans.epe_pipeline.run_pipeline over plans.epe_demo and
hand-spot-checked in tests/test_epe_pipeline.py. Regenerate with
tools/freeze_epe_expected.py after any intentional semantics
change.
"""

# (chave_seletora, mercado, dado, classe, abertura, atributo, data, valor)
EXPECTED_ROWS = [
'''


def main() -> None:
    spark = get_spark(app_name="freeze", master="local[4]", shuffle_partitions=4)
    rows = sorted(tuple(r) for r in run_pipeline(spark, workbook_grids()).collect())
    with open("epe_data_wrangling_spark/catalog/epe_expected.py", "w") as f:
        f.write(HEADER)
        for c, m, d, cl, ab, at, dt, v in rows:
            f.write(f"    ({c!r}, {m!r}, {d!r}, {cl!r}, {ab!r}, {at!r}, {dt.isoformat()!r}, {v!r}),\n")
        f.write("]\n")
    print(f"froze {len(rows)} rows")


if __name__ == "__main__":
    main()
