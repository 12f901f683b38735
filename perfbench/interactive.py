"""``interactive`` and ``local``: a dashboard's stream of small queries.

Both run the same seeded template stream over sf0.01 TPC-H-style tables
written to parquet.  ``interactive`` compiles each ``q(...)`` to Spark
and collects it; ``local`` runs it with ``run(platform="local")`` over
parquet taps, with no JVM.  Every result is compared with DuckDB.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from . import gen, templates
from .harness import OpResult, spark_query, start_spark, traced_tap

SF = 0.01
# the JVM is still compiling hot paths for the first ~40 ops (5 rounds);
# the window starts after them
WARMUP_ROUNDS = {"spark": 5, "local": 1}


class Interactive:
    platform = "spark"

    def __init__(self, run):
        self.run = run
        self.tr = run.tracer

    def setup(self) -> None:
        tables = gen.tpch(self.run.seed, SF)
        self.rows = {n: t.num_rows for n, t in tables.items()}
        self.paths = {}
        for name, t in tables.items():
            self.paths[name] = self.run.path("tpch", f"{name}.parquet")
            os.makedirs(os.path.dirname(self.paths[name]), exist_ok=True)
            pq.write_table(t, self.paths[name])
        self.sources = self._sources()
        self.oracle = templates.DuckOracle(self.paths)
        warm = templates.rounds(self.run.seed, warmup=True)
        with self.tr.span("warmup"):
            for _ in range(WARMUP_ROUNDS[self.platform]):
                for name, k, _rep in next(warm):
                    self._execute(name, k)

    def _sources(self) -> dict:
        spark = start_spark(self.run)
        return {n: spark.read.parquet(p) for n, p in self.paths.items()}

    def _execute(self, name: str, k: dict) -> list:
        return spark_query(
            self.run, lambda: templates.TEMPLATES[name](self.sources, k))

    def cycles(self):
        for rnd in templates.rounds(self.run.seed):
            yield [self._op(name, k) for name, k, _rep in rnd]

    def _op(self, name: str, k: dict):
        def op():
            rows = self._execute(name, k)
            return OpResult(
                sum(self.rows[t] for t in templates.TABLES[name]),
                check=lambda: templates.canon(rows) == self.oracle.rows(name,
                                                                       k))
        return op

    def layer_metrics(self) -> dict:
        return {}

    def close(self) -> None:
        self.oracle.close()


class Local(Interactive):
    platform = "local"

    def _sources(self) -> dict:
        tap = traced_tap(self.tr)
        return {n: tap(path=p) for n, p in self.paths.items()}

    def _execute(self, name: str, k: dict) -> list:
        with self.tr.span("planner.build"):
            query = templates.TEMPLATES[name](self.sources, k)
        with self.tr.span("exec_local.run"):
            rows = query.run(platform="local")
        self.tr.count("exec_local.rows_out", len(rows))
        return rows
