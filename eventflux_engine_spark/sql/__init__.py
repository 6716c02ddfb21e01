"""EventFlux-dialect SQL front end.

≙ reference SQL lifecycle (SURVEY.md §3.1): SQL string → analyzed plan →
runtime. Here the "compiler" is a thin translator: expressions pass
through to Catalyst (analysis/optimization), and each query's clauses —
the standard ones and the EventFlux extensions ``WINDOW('type', ...)``,
``FROM PATTERN (...)``, time-unit literals, ``OUTPUT ... EVERY`` — are
parsed once and lowered to DataFrame operations, the same lowering for
batch ``run()`` and live ``run_streaming()``.
"""

from .app import EventFluxApp

__all__ = ["EventFluxApp"]
