"""cuckoo_filter_spark — a PySpark-native distributed sketch / approximate
membership library.

Re-derives the semantics of the linvon/cuckoo-filter reference (a Go
single-process cuckoo-filter library) as vectorized numpy kernels wrapped
in Spark-native distributed build / merge / query operators, plus
companion mergeable sketches (Bloom, HLL, count-min, t-digest, KLL)
sharing the same Arrow-batch update path.
"""

from cuckoo_filter_spark import _zipcache
from cuckoo_filter_spark.params import CuckooParams, TABLE_SINGLE, TABLE_PACKED
from cuckoo_filter_spark.kernel.filter import CuckooKernel, FilterFullError

__all__ = [
    "CuckooParams",
    "CuckooKernel",
    "FilterFullError",
    "TABLE_SINGLE",
    "TABLE_PACKED",
]

__version__ = "0.1.0"

# Spark Python workers import this package when they unpickle a library
# UDF: from then on their per-task importlib.invalidate_caches() stops
# re-reading every zip on sys.path (see _zipcache).
_zipcache.install()
