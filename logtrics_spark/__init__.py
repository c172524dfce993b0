"""logtrics_spark — a PySpark-native time-series rollup + downsample +
retention engine with the query semantics of smitajit/logtrics.

The reference (/root/reference, a Go log-line→metric daemon) defines the
semantics: regex named-group extraction (parser.go:40-57), four metric
kinds counter/gauge/timer/meter (graphite/graphite.go:27-49), tumbling
interval emission (graphite/graphite.go:84-90).  This package re-expresses
those semantics Spark-first — declarative DataFrame plans, Arrow-vectorized
UDFs only where built-ins cannot express the op — and extends them into a
full tiered rollup engine (1m/5m/1h/1d cascade, gap-fill, Gorilla
compression, retention + lineage) per the north rule.
"""

__version__ = "0.1.0"

import sys

from logtrics_spark.session import get_spark  # noqa: F401

# A PySpark Python worker (forked from pyspark.daemon, which imports
# pyspark.worker first) imports this package when it unpickles one of
# the package's UDF closures: pin Spark's own archives there, once per
# worker, for every UDF the package ships (api._pin_spark_archives).
if "pyspark.worker" in sys.modules:
    from logtrics_spark.api import _pin_spark_archives

    _pin_spark_archives()
