"""CEP pattern/sequence matching — keyed NFA over event-time-ordered turns.

The reference's differentiator: Siddhi-style pre/post state-processor chains
(``/root/reference/feat/pattern_processing/PATTERN_PROCESSING.md:43-58``).
Here the same match semantics run as a keyed NFA: per-``conv_id`` groups,
events replayed in ``(ts, turn_idx)`` order, partial matches held in group
state — ``applyInPandas`` in batch (linear and absent patterns: Arrow block
kernels over ``mapInArrow``), ``applyInPandasWithState`` in streaming.
"""

from .spec import PatternSpec, Step
from .batch import match_pattern_batch

__all__ = ["PatternSpec", "Step", "match_pattern_batch"]
