"""miru_spark — a PySpark-native full-text index + BM25 search engine.

A from-scratch, Spark-first rebuild of the capabilities of the reference
engine (``leszekbednorz/miru``, category ``fulltext_index``): inverted-index
construction over tables of source-code files (delta-encoded, varint/PFOR
compressed posting lists built with vectorized Arrow UDFs), salted term-shuffle
merge with explicit hot-term skew handling, block-max WAND top-k BM25 query
serving (k1=1.2, b=0.75), per-partition checkpoint/resume with lineage, plus
the relational / text-pipeline operators a large-scale training-data pipeline
needs (dedup, similarity search, quality scoring).

Reference basis: SURVEY.md (blueprint; the reference checkout is empty, so all
semantics are pinned by BASELINE.json's north_star/north_rule and SURVEY.md
section 2.9). No code is derived from the reference implementation.
"""

__version__ = "0.1.0"

from miru_spark.session import get_spark  # noqa: F401
from miru_spark.worker import setup as _setup_worker

_setup_worker()  # once per PySpark worker process; a no-op in the driver
