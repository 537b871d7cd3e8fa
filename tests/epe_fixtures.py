from epe_data_wrangling_spark.plans.epe_demo import (  # noqa: F401
    shape_a_sheet,
    shape_b_sheet,
    workbook_grids,
)
