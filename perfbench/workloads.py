"""The benchmark's workloads. Each is closed-loop: one driver thread calls
one algorithm at a time and waits for its full result before the next.

``copurchase-defaults`` — the default entry points on a small co-purchase
graph (~87k edge rows): the time is fixed cost per superstep (Spark jobs,
scheduling, plan building), not data volume.

``synth1m-block-join`` — a 1M-edge hub-skewed graph, run through the
CSR-block engine (pack, numpy kernels in Python workers, Arrow transfer)
and through the row-shuffle join engine with a durable checkpoint every
round and the skew sensor on (``skew="auto"``), on the same input.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import inputs
import oracles

#: fewest Spark jobs a timed call must run. A call whose result plan
#: matches a plan cached by an earlier call runs only the noop sink's job
#: and returns in a fraction of its real time.
JOB_FLOOR = 2


@dataclass
class Outcome:
    """What one timed call returns: the DataFrame to materialize, how many
    supersteps ran, and how to release the result state afterwards."""
    df: object
    rounds: int
    release: Callable[[], None]


@dataclass
class Call:
    name: str
    run: Callable[[], Outcome]
    value_col: str
    check: Callable[[dict, tuple], str | None]


def sink(df) -> None:
    """JVM-side noop write: every row is materialized, nothing is sent to
    Python."""
    df.write.format("noop").mode("overwrite").save()


def _state(res) -> Outcome:
    return Outcome(res.state, res.rounds, res.state.unpersist)


class CopurchaseDefaults:
    name = "copurchase-defaults"
    # timed passes per run, at least; more while --seconds has not passed
    min_passes = 1
    # one lineage truncation (truncate_every=4); a pass takes ~13 s, and
    # a run, which also pays ~40 s for session start, load and warm-up,
    # must stay near a minute (README.md)
    PAGERANK_ROUNDS = 4

    def make_inputs(self, seed: int, dirs) -> None:
        self.input_dir = inputs.lineitem(seed, dirs.inputs)

    def load(self, spark):
        from graphscope_spark import tpch_graphs as tg

        g = tg.copurchase_graph(spark, self.input_dir)
        g.num_edges
        g.num_vertices
        g.degrees.count()
        return g

    def expected(self) -> dict:
        return oracles.copurchase_expected(self.input_dir,
                                           self.PAGERANK_ROUNDS)

    def calls(self, g, dirs, tag: str) -> list[Call]:
        from graphscope_spark.algorithms import pagerank, wcc

        return [
            Call("pagerank",
                 lambda: _state(pagerank(g, max_iter=self.PAGERANK_ROUNDS)),
                 "rank",
                 # the SQL twin rounds ranks to 8 decimals
                 lambda exp, got: oracles.compare(exp["pagerank"], got,
                                                  atol=1e-8)),
            Call("wcc", lambda: _state(wcc(g)), "comp",
                 lambda exp, got: oracles.compare(exp["wcc"], got)),
        ]


class Synth1mBlockJoin:
    name = "synth1m-block-join"
    # two timed passes, so that each call's median is not one sample.
    # The rounds are cut to fit them: the CSR pack and the skew sensor,
    # the symmetrized edge table and one durable checkpoint with lineage
    # are paid per call whatever the round count (README.md)
    min_passes = 2
    PAGERANK_ROUNDS = 2
    WCC_ROUNDS = 1

    def make_inputs(self, seed: int, dirs) -> None:
        self.src, self.dst = inputs.hub_skewed_edges(seed)
        self.path = inputs.write_edges(self.src, self.dst, dirs.inputs)

    def load(self, spark):
        from graphscope_spark.graph import Graph

        g = Graph(spark.read.parquet(self.path), directed=True)
        g.num_edges
        g.num_vertices
        g.degrees.count()
        return g

    def expected(self) -> dict:
        return {
            "pagerank": oracles.pagerank(self.src, self.dst,
                                         self.PAGERANK_ROUNDS),
            "wcc": oracles.wcc(self.src, self.dst, self.WCC_ROUNDS),
        }

    def calls(self, g, dirs, tag: str) -> list[Call]:
        from graphscope_spark.algorithms import pagerank_block, wcc

        ckpt = os.path.join(dirs.checkpoints, tag)
        # the skew sensor's hub set is memoized on the Graph; drop it so
        # that every pass pays the sensor, as the first call on a freshly
        # loaded graph does
        g._hub_cache.clear()
        return [
            Call("pagerank_block",
                 lambda: _state(pagerank_block(
                     g, max_iter=self.PAGERANK_ROUNDS)),
                 "rank",
                 # summation order differs from numpy's; values are ~1e-5
                 lambda exp, got: oracles.compare(exp["pagerank"], got,
                                                  atol=0.0, rtol=1e-9)),
            Call("wcc_ckpt",
                 lambda: _state(wcc(g, max_iter=self.WCC_ROUNDS,
                                    checkpoint_dir=ckpt, checkpoint_every=1)),
                 "comp", lambda exp, got: oracles.compare(exp["wcc"], got)),
        ]


WORKLOADS = {w.name: w for w in (CopurchaseDefaults(), Synth1mBlockJoin())}
