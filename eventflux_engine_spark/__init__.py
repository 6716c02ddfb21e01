"""eventflux_engine_spark — a from-scratch PySpark-native streaming/CEP engine.

Re-expresses the query and data-processing capabilities of the reference
engine (grainier/eventflux-engine, a Rust Siddhi-style CEP engine — see
SURVEY.md) on idiomatic Spark primitives:

- DataFrame/Catalyst for filters, projections, scalar functions, joins, aggs
- ``F.window`` / ``F.session_window`` + watermarks for time windows
- keyed NFA pattern matching (``A -> B within T``) via grouped pandas ops
  (``applyInPandas`` in batch, ``applyInPandasWithState`` in streaming)
- an idempotent exactly-once ``foreachBatch`` sink with lineage + metrics
- salted two-phase aggregation for hot-key skew

Nothing is ported from the reference's Rust architecture; reference files are
cited in docstrings only to document semantic parity.
"""

from . import zipimport_cache

__version__ = "0.1.0"

# every Python worker that unpickles an engine UDF imports this package, so
# this is where the per-task zip re-read is switched off (zipimport_cache)
zipimport_cache.install()
