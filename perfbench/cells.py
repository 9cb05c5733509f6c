"""A memo-cold pass over a few registered queries, checked against DuckDB.

The registered queries (``hnsw_spark.registry``) are ruled by Spark's fixed
cost per job, not by the vector kernels.  The cells here are one cheap
cell per query module, each reading one table of the seeded stand-in
fixture (``fixture.py``).

Some queries keep session memos keyed on ``(session, sf_dir)``: a second
call on the same directory reuses the first one's work.  Every pass
therefore reads its own copy of the fixture under a fresh directory, so
no pass hits a memo an earlier one left.
"""

from __future__ import annotations

import os
import shutil

import duckdb

import checks
from fixture import write_fixture

# one cell per query module: (registered name, module)
CELLS = (
    ("knn_exact_cosine", "vector"),
    ("index_build_stats", "index"),
    ("dedup_exact", "dedup"),
    ("token_counts", "text"),
    ("shard_assignment", "pipeline"),
    ("phrase_search", "retrieval"),
    ("returns_cube", "relational"),
    ("ohlc_bars", "analytics"),
)
TABLES = ("embeddings", "documents", "lineitem", "events")


class RegistryPass:
    def __init__(self, spark, rec, seed: int, work: str):
        from hnsw_spark import registry

        registry.load_all_queries()
        self.spark, self.rec, self.work = spark, rec, work
        self.source = os.path.join(work, "fixture")
        write_fixture(seed, self.source)
        self.fns = {name: registry.QUERIES[name] for name, _ in CELLS}
        # every cell's expected output, from DuckDB over the same files
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.source, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.expected = {name: con.execute(registry.ORACLES[name]).fetchdf()
                         for name, _ in CELLS}
        con.close()
        self.passes = 0

    def run(self, cycle) -> dict:
        """One pass over every cell on a fresh copy of the fixture; returns
        each cell's collected output."""
        alias = os.path.join(self.work, f"pass{self.passes}")
        self.passes += 1
        shutil.copytree(self.source, alias)
        out = {}
        for name, module in CELLS:
            with self.rec.call(f"queries.{module}", cycle):
                out[name] = self.fns[name](self.spark, alias).toPandas()
        return out

    def check(self, out: dict) -> dict[str, list[str]]:
        return {name: checks.check_oracle(out[name], self.expected[name])
                for name, _ in CELLS}
