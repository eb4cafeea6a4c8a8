"""Spans around the calls into the program's layers, recorded from the
benchmark's side: in traced mode, ``Tracer.install`` wraps the layer entry
points in the driver process, and every wrapper adds its time to the
current call's ``CallTrace``. Nothing in ``graphscope_spark`` changes.

Layer boundaries wrapped:

* ``pregel.SuperstepRunner.run`` (the superstep loop), plus the ``step``
  and ``metrics_fn`` callables it is given (plan building, vote job);
* ``pregel.materialized_checkpoint`` (where truncated rounds execute);
* ``pregel.SuperstepRunner._checkpoint`` (durable state + lineage write);
* ``csr.spill_csr_blocks_from_edges`` (CSR pack and spill; the indexed
  pack goes through it);
* ``graph.Graph.measured_hubs`` (the ``operators.skew`` sensor).
"""

from __future__ import annotations

import inspect
import time
from dataclasses import dataclass, field

import procfs


@dataclass
class CallTrace:
    totals: dict[str, float] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)
    rounds: int = 0
    blocks: int = 0
    spill_bytes: int = 0
    hubs: int = 0
    #: the wrappers' own bookkeeping inside the timed region
    bookkeeping_s: float = 0.0

    def add(self, name: str, seconds: float) -> None:
        self.totals[name] = self.totals.get(name, 0.0) + seconds
        self.counts[name] = self.counts.get(name, 0) + 1

    def total(self, name: str) -> float:
        return self.totals.get(name, 0.0)


class Tracer:
    def __init__(self):
        self.current: CallTrace | None = None
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------------ #
    def begin(self) -> CallTrace:
        self.current = CallTrace()
        return self.current

    def end(self) -> CallTrace | None:
        ct, self.current = self.current, None
        return ct

    def _timed(self, name: str, fn, post=None):
        """Wrap ``fn`` so that, while a call is traced, its time adds to
        span ``name``; ``post(ct, result)`` then records what the result
        says about the layer."""
        tracer = self

        def wrapper(*args, **kwargs):
            ct = tracer.current
            if ct is None:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                ct.add(name, time.perf_counter() - t0)
                raise
            t1 = time.perf_counter()
            ct.add(name, t1 - t0)
            if post is not None:
                post(ct, out)
            ct.bookkeeping_s += time.perf_counter() - t1
            return out

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    # ------------------------------------------------------------------ #
    def install(self) -> None:
        from graphscope_spark import csr, graph, pregel

        tracer = self
        run = pregel.SuperstepRunner.run
        run_sig = inspect.signature(run)

        def traced_run(*args, **kwargs):
            ct = tracer.current
            if ct is None:
                return run(*args, **kwargs)
            ba = run_sig.bind(*args, **kwargs)
            step = ba.arguments["step"]

            def counted_step(state, rnd):
                ct.rounds += 1
                return step(state, rnd)

            ba.arguments["step"] = tracer._timed("pregel.step", counted_step)
            if ba.arguments.get("metrics_fn") is not None:
                ba.arguments["metrics_fn"] = tracer._timed(
                    "pregel.vote", ba.arguments["metrics_fn"])
            return tracer._timed("pregel.loop", run)(*ba.args, **ba.kwargs)

        self._patch(pregel.SuperstepRunner, "run", traced_run)
        self._patch(pregel, "materialized_checkpoint",
                    self._timed("pregel.materialize",
                                pregel.materialized_checkpoint))
        self._patch(pregel.SuperstepRunner, "_checkpoint",
                    self._timed("pregel.checkpoint",
                                pregel.SuperstepRunner._checkpoint))

        def packed(ct, out):
            spill_dir, blocks = out
            ct.blocks += int(blocks)
            ct.spill_bytes += procfs.dir_bytes(spill_dir)

        self._patch(csr, "spill_csr_blocks_from_edges",
                    self._timed("csr.pack", csr.spill_csr_blocks_from_edges,
                                packed))

        def measured(ct, hubs):
            ct.hubs = max(ct.hubs, len(hubs))

        self._patch(graph.Graph, "measured_hubs",
                    self._timed("skew.sensor", graph.Graph.measured_hubs,
                                measured))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)
