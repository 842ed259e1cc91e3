"""The benchmark's workloads.

Each workload builds one seeded input per measured operation (so no
operation can reuse another's result), runs an untimed warm-up, and offers
two forms of its operation:

* ``fused`` — what a user runs, timed end to end with tracing off;
* ``traced`` — the same work split at layer boundaries, calling each
  layer's public function and materializing (``persist`` + ``count``)
  between layers, so every layer gets a span.

Span names follow the program's modules.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from checks import check_interval, check_linkgraph, check_scores
from inputs import (
    PAIR_SCHEMA, RMAT_A, RMAT_B, RMAT_C, AmrSpec, RmatSpec, amr_pairs, rmat_seed,
)
from tracing import Tracer

# warm-up inputs come from a seed the benchmark's seeds never take, so a
# cache keyed by input cannot carry work from set-up into the measured loop
WARM_UP_SEED = -1
# the operation runs this often in the warm-up: after one round the next
# operation still took 10-40% longer than the one after it and varied most
# between runs, as the JVM was still compiling
WARM_UP_ROUNDS = 2


@dataclass
class Outcome:
    """What one operation returned, kept for the output check."""

    index: int
    values: dict
    handle: object = None


@dataclass
class AmrInput:
    a: DataFrame
    b: DataFrame
    self_ids: list[str]


class AmrScoring:
    """``SmatchppSpark.score_corpus`` (AMR standardization, micro scores)
    over seeded Penman pairs.  Macro scores and bootstrap CIs are computed
    untimed from the last operation's pair table, for the output check and
    the ``scores`` layer spans."""

    def __init__(self, spec: AmrSpec):
        self.spec = spec
        self.inputs: list[AmrInput] = []

    def _input(self, spark: SparkSession, seed: int, index: int = 0) -> AmrInput:
        rows_a, rows_b, self_ids = amr_pairs(self.spec, seed, index)
        return AmrInput(
            spark.createDataFrame(rows_a, PAIR_SCHEMA),
            spark.createDataFrame(rows_b, PAIR_SCHEMA),
            self_ids,
        )

    def generate(self, spark: SparkSession, seed: int, n_inputs: int, tracer: Tracer) -> None:
        self.inputs = [self._input(spark, seed, k) for k in range(n_inputs)]

    def warm_up(self, spark: SparkSession, traced: bool) -> None:
        """The operation ``WARM_UP_ROUNDS`` times, every aggregation once,
        and with ``traced`` the traced form once, on inputs of the same
        shape that no seed produces."""
        for i in range(WARM_UP_ROUNDS):
            out = self._fused_on(self._input(spark, WARM_UP_SEED, i), -1)
            if i == 0:
                self._aggregates(out.handle, Tracer(None, "warm-up"))
            else:
                self.discard(out)
        if traced:
            inp = self._input(spark, WARM_UP_SEED, WARM_UP_ROUNDS)
            self._traced_on(inp, Tracer(None, "warm-up"))

    @staticmethod
    def _engine():
        from smatchpp_spark import EngineConfig, SmatchppSpark

        return SmatchppSpark(EngineConfig(standardizer="amr", score_type="micro"))

    def _fused_on(self, inp: AmrInput, index: int) -> Outcome:
        out = self._engine().score_corpus(inp.a, inp.b)
        # keep the pair table: the micro collect fills it, the check reads it
        pairs = out["pairs"].persist()
        return Outcome(index, {"micro": [tuple(r) for r in out["micro"].collect()]}, pairs)

    def fused(self, k: int) -> Outcome:
        return self._fused_on(self.inputs[k], k)

    @staticmethod
    def discard(outcome: Outcome) -> None:
        outcome.handle.unpersist()

    def traced(self, k: int, tracer: Tracer) -> dict:
        return self._traced_on(self.inputs[k], tracer)

    @staticmethod
    def _traced_on(inp: AmrInput, tracer: Tracer) -> dict:
        """The fused operation's work split at layer boundaries; returns the
        per-layer counts."""
        from smatchpp_spark.functions.scores import micro_scores
        from smatchpp_spark.operators.align import align_and_score
        from smatchpp_spark.operators.standardize import amr_standardize
        from smatchpp_spark.sources.penman import parse_edges

        held: list[DataFrame] = []

        def keep(df: DataFrame) -> DataFrame:
            held.append(df.persist())
            return df

        counts: dict[str, float] = {}
        with tracer.span("penman"):
            pa = keep(parse_edges(inp.a, "content", id_col="pair_id"))
            pb = keep(parse_edges(inp.b, "content", id_col="pair_id"))
            counts["penman.edges_out"] = pa.count() + pb.count()
        with tracer.span("standardize"):
            sa = keep(amr_standardize(pa))
            sb = keep(amr_standardize(pb))
            counts["standardize.edges_in"] = counts["penman.edges_out"]
            counts["standardize.edges_out"] = sa.count() + sb.count()
        with tracer.span("align"):
            stats = keep(align_and_score(sa, sb, pair_col="graph_id"))
            rows = stats.select("lower_bound", "upper_bound", "n_vars_a", "n_vars_b").collect()
        counts["align.pairs"] = len(rows)
        counts["align.mean_vars"] = float(np.mean([(r[2] + r[3]) / 2 for r in rows]))
        counts["align.certified_frac"] = sum(1 for r in rows if r[0] == r[1]) / len(rows)
        with tracer.span("scores.micro"):
            micro_scores(stats).collect()
        for df in held:
            df.unpersist()
        return counts

    @staticmethod
    def _aggregates(pairs: DataFrame, tracer: Tracer) -> dict:
        """Collected per-pair 4-vectors, macro scores and bootstrap CIs of
        one operation's persisted pair table (the ``scores.macro`` and
        ``scores.bootstrap`` spans); releases the table."""
        from smatchpp_spark.functions.scores import (
            bootstrap_micro, bootstrap_scores, macro_scores,
        )

        try:
            out: dict = {
                "pairs": pairs.select(
                    "pair_id", "matchsum_x", "matchsum_y", "xlen", "ylen"
                ).collect()
            }
            with tracer.span("scores.macro"):
                out["macro"] = [tuple(r) for r in macro_scores(pairs).collect()]
            with tracer.span("scores.bootstrap"):
                out["micro_ci"] = [tuple(r) for r in bootstrap_micro(pairs).collect()]
                out["macro_ci"] = [tuple(r) for r in bootstrap_scores(pairs, "macro").collect()]
            return out
        finally:
            pairs.unpersist()

    def check(self, outcome: Outcome, tracer: Tracer) -> list[str]:
        agg = self._aggregates(outcome.handle, tracer)
        rows = agg["pairs"]
        stats = np.array([[r[1], r[2], r[3], r[4]] for r in rows], dtype=np.float64)
        errors = check_scores(
            stats,
            [r[0] for r in rows],
            outcome.values["micro"][0],
            agg["macro"][0],
            self.inputs[outcome.index].self_ids,
            self.spec.n_pairs,
        )
        errors += check_interval(*agg["micro_ci"][0], "micro_ci")
        for name, lo, hi in agg["macro_ci"]:
            errors += check_interval(lo, hi, f"macro_ci.{name}")
        return errors


class RmatLinkGraph:
    """PageRank (10 fixed steps), connected components, label propagation
    (5 steps) and triangle counting over a seeded R-MAT graph."""

    PR_STEPS = 10
    LPA_STEPS = 5

    def __init__(self, spec: RmatSpec):
        self.spec = spec
        self.inputs: list[DataFrame] = []

    def _build(self, spark: SparkSession, seed: int) -> DataFrame:
        from smatchpp_spark.sources.rmat import rmat_edges

        s = self.spec
        d = 1.0 - RMAT_A - RMAT_B - RMAT_C
        raw = rmat_edges(spark, s.scale, s.n_edges, RMAT_A, RMAT_B, RMAT_C, d, seed=seed)
        # simple directed graph: self-loops and duplicate edges dropped
        return raw.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()

    def generate(self, spark: SparkSession, seed: int, n_inputs: int, tracer: Tracer) -> None:
        for k in range(n_inputs):
            with tracer.span("rmat") as sp:
                edges = self._build(spark, rmat_seed(seed, k)).persist()
                sp.counts["rmat.edges"] = edges.count()
            self.inputs.append(edges)

    def warm_up(self, spark: SparkSession, traced: bool) -> None:
        """All four operators ``WARM_UP_ROUNDS`` times, on graphs of the same
        shape that no seed produces.  The traced form makes the same calls
        as the fused one, so it needs no warm-up of its own."""
        for i in range(WARM_UP_ROUNDS):
            edges = self._build(spark, rmat_seed(WARM_UP_SEED, i)).persist()
            self._run(edges, Tracer(None, "warm-up"))
            edges.unpersist()

    def _run(self, edges: DataFrame, tracer: Tracer) -> tuple[dict, dict]:
        from smatchpp_spark.operators.components import connected_components
        from smatchpp_spark.operators.labelprop import label_propagation
        from smatchpp_spark.operators.pagerank import pagerank
        from smatchpp_spark.operators.triangles import triangle_count

        values: dict = {}
        with tracer.span("pagerank"):
            pr = pagerank(edges, tol=-1.0, max_supersteps=self.PR_STEPS)
            values["rank_mass"] = float(pr.ranks.agg(F.sum("rank")).collect()[0][0])
        with tracer.span("components"):
            cc = connected_components(edges)
            values["components"] = cc.components.select("component").distinct().count()
        with tracer.span("labelprop"):
            lpa = label_propagation(edges, max_supersteps=self.LPA_STEPS)
            values["labels"] = lpa.labels.select("label").distinct().count()
        with tracer.span("triangles"):
            values["triangles"] = triangle_count(edges).total
        return values, {"pagerank": pr, "components": cc, "labelprop": lpa}

    def fused(self, k: int) -> Outcome:
        values, _ = self._run(self.inputs[k], Tracer(None, "fused"))
        return Outcome(k, values)

    @staticmethod
    def discard(outcome: Outcome) -> None:
        pass

    def traced(self, k: int, tracer: Tracer) -> dict:
        values, results = self._run(self.inputs[k], tracer)
        counts: dict[str, float] = {
            "components.count": values["components"],
            "triangles.total": values["triangles"],
        }
        for name, res in results.items():
            walls = [m["wall_ms"] for m in res.metrics]
            counts[f"supersteps.{name}.steps"] = res.supersteps
            counts[f"supersteps.{name}.step_ms_p50"] = float(np.median(walls)) if walls else 0.0
        return counts

    def check(self, outcome: Outcome, tracer: Tracer) -> list[str]:
        pdf = self.inputs[outcome.index].toPandas()
        v = outcome.values
        return check_linkgraph(
            pdf["src"].to_numpy(np.int64),
            pdf["dst"].to_numpy(np.int64),
            v["rank_mass"],
            v["components"],
            v["triangles"],
        )


WORKLOADS = {
    "amr_small": lambda: AmrScoring(AmrSpec(n_pairs=200, max_nodes=12)),
    "linkgraph_rmat": lambda: RmatLinkGraph(RmatSpec(scale=12, n_edges=1 << 15)),
}
