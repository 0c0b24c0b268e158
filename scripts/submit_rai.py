#!/usr/bin/env python
"""spark-submit entry point for the flagship RAI job (north rule:
"packaged for spark-submit --py-files").

Usage::

    spark-submit --master <url> \
        --py-files sdg_engine.zip \
        scripts/submit_rai.py <sf_dir> <out_dir>

The driver script imports ``sdg_engine`` from the ``--py-files`` zip
(spark-submit prepends it to the driver's sys.path and ships it to
every executor's Python worker), so no engine code needs to be
installed on the cluster.  The zip is built by
``sdg_engine.deploy.build_pyfiles_zip()`` (pure-.py package zip).
Proven end-to-end in tests/test_submit.py from a neutral cwd with the
repo absent from PYTHONPATH.
"""

import sys

from pyspark.sql import SparkSession


def main(sf_dir: str, out_dir: str) -> None:
    spark = SparkSession.builder.appName("sdg_rai_submit").getOrCreate()
    from sdg_engine.queries import QUERIES  # from --py-files zip

    QUERIES["flagship_rai"](spark, sf_dir).write.mode("overwrite").parquet(out_dir)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
