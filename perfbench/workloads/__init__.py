"""The benchmark's workloads. Each drives one layer of the engine hard and
bypasses the others (see perfbench/README.md)."""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field

from .. import common


@dataclass
class Measurement:
    """What one timed region produced."""

    #: operations in one pass
    ops: int
    #: work items (turns or queries) in one pass
    items: float
    #: wall seconds of each timed pass over the workload's fixed job set
    pass_s: list[float] = field(default_factory=list)
    #: ``common.running_share`` of each pass: the share of the machine's
    #: ready CPU time the host did not steal
    running: list[float] = field(default_factory=list)
    #: latency of each operation (a job or a query) in ms, net of host
    #: steal, one list per pass
    latency_ms: list[list[float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def net_pass_s(self) -> list[float]:
        """Each pass's wall time net of host steal (perfbench/README.md)."""
        return [t * r for t, r in zip(self.pass_s, self.running)]

    def items_per_s(self) -> float:
        return self.items * len(self.pass_s) / sum(self.net_pass_s())


#: passes a run times at the least, so that each operation's median has two
#: samples even when one pass outlasts ``--seconds``
MIN_PASSES = 2


def timed_passes(seconds: float, ops: int, items: float, one_pass) -> Measurement:
    """Closed loop: run ``one_pass`` until ``seconds`` have gone by and
    MIN_PASSES passes have run. ``one_pass`` runs ``ops`` operations over
    ``items`` work items and returns each operation's latency in ms net of
    host steal (``Spans`` records it); a pass that raises counts all its
    operations as failed."""
    m = Measurement(ops=ops, items=items)
    deadline = time.perf_counter() + seconds
    while True:
        m.attempted += ops
        ticks0 = common.cpu_ticks()
        t0 = time.perf_counter()
        try:
            lat = one_pass()
        except Exception:  # a failed pass is counted, not fatal
            traceback.print_exc()
            m.failed += ops
        else:
            m.pass_s.append(time.perf_counter() - t0)
            m.running.append(common.running_share(ticks0, common.cpu_ticks()))
            m.latency_ms.append(lat)
        if time.perf_counter() >= deadline and m.attempted >= MIN_PASSES * ops:
            if not m.pass_s:
                raise RuntimeError("every timed pass failed")
            return m


class Workload:
    """Life cycle driven by ``run.py``: ``stage`` and ``warmup`` (timed as
    set-up), ``measure``, ``check``, ``close``, then ``after_stop`` and
    ``layers`` once the session is gone.
    """

    #: per-layer metrics this workload fills in, with their units
    LAYER_UNITS: dict[str, str] = {}

    def __init__(self, seed: int, work: str, trace: bool, seconds: float):
        self.seed = seed
        self.work = work
        self.trace = trace
        self.seconds = seconds

    def stage(self, spark, spans) -> None:
        self.spark, self.spans = spark, spans

    def close(self) -> None:
        """Release everything; the run is over."""

    def warmup(self) -> None:
        pass

    def measure(self, seconds: float) -> Measurement:
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        """Output checks, outside the timed region: (passed, failed)."""
        return 0, 0

    def after_stop(self, trace: bool) -> None:
        pass

    def layers(self, groups: dict, m: Measurement) -> dict[str, float]:
        return {}


def _registry() -> dict[str, type]:
    from .cep import CepBatch
    from .registry import Registry

    return {w.NAME: w for w in (CepBatch, Registry)}


WORKLOADS = _registry()
