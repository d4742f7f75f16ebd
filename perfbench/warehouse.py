"""Dimension set-up shared by the workloads: the program's own ETL.

The master CSVs go through ``etl.dimensions`` / ``etl.date_dim`` and are
persisted with ``write_dim``, the way the reference loads its master
data into the warehouse before the stream runs; the stream and the
dashboard then read the persisted dimensions.
"""

from __future__ import annotations

import datetime as dt
import os

FIRST_DAY = dt.date(2017, 1, 1)
LAST_DAY = dt.date(2020, 12, 31)
DIMS = ("customer", "product", "store", "supplier", "date_dim")


def build_dims(spark, masters, dims_dir: str, tracer) -> dict:
    """Build, persist and re-open every dimension; one span per dimension builder."""
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.etl import (
        date_dim,
        dimensions,
    )

    def path(name):
        return os.path.join(dims_dir, name)

    with tracer.span("etl.customer_dim"):
        customer = dimensions.build_customer_dim(spark, masters.customer_csv)
        dimensions.write_dim(customer, path("customer"))
    with tracer.span("etl.product_dim"):
        product, store, supplier = dimensions.split_product_master(spark, masters.product_csv)
        for name, df in (("product", product), ("store", store), ("supplier", supplier)):
            dimensions.write_dim(df, path(name))
    with tracer.span("etl.date_dim"):
        dimensions.write_dim(date_dim.build_date_dim(spark, FIRST_DAY, LAST_DAY), path("date_dim"))
    return {name: spark.read.parquet(path(name)) for name in DIMS}
