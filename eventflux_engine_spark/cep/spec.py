"""Pattern specification.

Mirrors the reference's pattern surface (SURVEY.md §2.6):

- sequence steps ``e1=A -> e2=B -> ...`` — each step has a *precomputed
  boolean flag column* (predicates are evaluated as Catalyst expressions
  BEFORE the NFA, keeping Python work minimal), reference converter
  ``src/sql_compiler/converter.rs:1751``
- count quantifiers ``A{n}`` / ``A{m,n}`` (``count_pre_state_processor.rs``;
  validation: bounded max only, ``PATTERN_PROCESSING.md:196-220``)
- ``EVERY`` — restart matching on every first-step occurrence
  (``PATTERN_PROCESSING.md:139-152``)
- ``WITHIN d`` — event-time deadline from the first matched event
  (``stream_pre_state_processor.rs:282-296``)
- cross-step predicates ``e2[x > e1.x]`` — vectorized pandas callables over
  (candidate batch, earlier matched event)
- PATTERN mode skips non-matching events; SEQUENCE mode kills partial
  matches on any non-matching event (``PATTERN_PROCESSING.md:69-72``)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

import pandas as pd


@dataclass(frozen=True)
class Step:
    """One pattern position.

    ``flag_col``: boolean input column — True where this step's predicate
    holds. ``min_count``/``max_count``: count quantifier bounds (1/1 for a
    plain step). ``cross_pred``: optional ``(candidate: pd.Series-dict,
    matched: dict[str, list[dict]]) -> bool`` evaluated per candidate against
    earlier matched events. ``emit``: input columns to surface for this step
    (last matched event of the step), always including ``turn_idx``/``ts``.
    """

    name: str
    flag_col: str
    min_count: int = 1
    max_count: int = 1
    cross_pred: Optional[Callable[[dict, dict], bool]] = None
    emit: tuple[str, ...] = ()
    #: logical step (``A AND B`` / ``A OR B`` at one position —
    #: logical_pre_state_processor.rs:71): 'single' | 'and' | 'or'.
    #: AND waits for one event per side (any order, one event fills at most
    #: one side); OR completes on either side's first event.
    logic: str = "single"
    flag_col2: Optional[str] = None
    #: collection aggregations over this step's matched-event chain
    #: (``sum(e1.price)`` — collection_aggregation_executor.rs:141-696):
    #: (fn, col) pairs with fn in sum|avg|min|max|count; emitted as
    #: ``{name}_{fn}_{col}``.
    agg_emit: tuple[tuple[str, str], ...] = ()
    #: indexed access into this step's matched chain (``e1[0].x`` /
    #: ``e1[last].x`` — indexed_variable_executor.rs:67): (index, col) pairs
    #: where index is an int or the string 'last'; emitted as
    #: ``{name}_at{index}_{col}`` (None when the chain is shorter).
    index_emit: tuple[tuple[object, str], ...] = ()

    def __post_init__(self) -> None:
        if self.min_count < 1 or self.max_count < self.min_count:
            raise ValueError(
                f"step {self.name}: invalid quantifier {{{self.min_count},"
                f"{self.max_count}}} (unbounded not supported — the reference "
                "rejects it too, PATTERN_PROCESSING.md:210-219)"
            )
        if self.logic not in ("single", "and", "or"):
            raise ValueError(f"step {self.name}: unknown logic {self.logic}")
        if self.logic != "single":
            if self.flag_col2 is None:
                raise ValueError(f"step {self.name}: logic={self.logic} needs flag_col2")
            if self.max_count != 1:
                raise ValueError(
                    f"step {self.name}: quantifiers cannot combine with "
                    "logical steps (the reference rejects this too)"
                )


@dataclass(frozen=True)
class PatternSpec:
    steps: tuple[Step, ...]
    within: Optional[pd.Timedelta] = None
    every: bool = True
    mode: str = "pattern"  # 'pattern' (skip-irrelevant) | 'sequence' (strict)
    key_col: str = "conv_id"
    ts_col: str = "ts"
    order_cols: tuple[str, ...] = ("ts", "turn_idx")

    def __post_init__(self) -> None:
        if self.mode not in ("pattern", "sequence"):
            raise ValueError(f"unknown mode {self.mode}")
        if not self.steps:
            raise ValueError("pattern needs at least one step")

    @property
    def is_linear(self) -> bool:
        """True when every step is unquantified with no cross predicate and
        no AND-logic — enables the fully-vectorized numpy fast path (OR steps
        are linear: their flag is evaluated as ``f1 | f2``)."""
        return all(
            s.min_count == 1
            and s.max_count == 1
            and s.cross_pred is None
            and s.logic != "and"
            and not s.agg_emit
            and not s.index_emit
            for s in self.steps
        ) and self.every and self.mode == "pattern"
