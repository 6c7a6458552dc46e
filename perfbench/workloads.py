"""The two workloads and their correctness checks.

Each workload is a list of items. An item is built (plan construction:
the registry callable, or a DataFrame expression for ``reference_ops``)
and then executed. Timed passes force execution through the ``noop``
sink; the warm-up pass collects instead, and the collected outputs are
checked after the timed passes.
"""

from __future__ import annotations

import glob
import math
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import registry
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.operators import core
from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.sources import csv_io, generators

# Per-row text work, ANN search, every kind of Python-boundary node
# (pandas UDF, mapInPandas) and the structured-streaming drains (run to
# completion inside the build call); about one table per query.
LLM_CORPUS = (
    "pandas_udf_doc_score",
    "multimodal_resize",
    "multimodal_frame_sample",
    "ivf_ann_topk",
    "text_stats",
    "dedup_exact_hash",
    "streaming_hourly_agg",
)

# Pass time on a 4-core host. A run makes as many timed passes as fill
# --seconds at this pace, so every run of a workload has the same number
# of samples and its percentiles sit at the same rank. Latencies cluster
# by query; with an odd number of queries per pass and a pass count that
# divides neither 10 nor 11, the median and the tail (10 samples beyond)
# fall inside a cluster rather than between two (at --seconds 26: 7 and 12).
NOMINAL_PASS_S = {"llm_corpus": 3.7, "reference_ops": 2.1}

# Larger than any fixture table (lineitem has 600k rows at sf0.1).
REFERENCE_ROWS = 1_000_000
FILTER_VALUE1 = 110  # datatable_benchmark.py:46
SCALING4_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("category", T.StringType()),
        T.StructField("value1", T.DoubleType()),
        T.StructField("value2", T.DoubleType()),
    ]
)


def force(df: DataFrame) -> None:
    """Run the whole plan on the executors without a driver collect."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Item:
    """One query of a pass: ``build`` constructs, ``execute`` runs.

    ``execute(built, collect)`` returns the output to check when
    ``collect`` is true (warm-up pass) and nothing otherwise."""

    name: str
    build: Callable[[], object]
    execute: Callable[[object, bool], object]


def _run_df(df: DataFrame, collect: bool):
    if collect:
        return df.toPandas()
    force(df)
    return None


class FixtureWorkload:
    """Registry queries over the read-only sf fixtures."""

    def __init__(self, names: tuple[str, ...], spark: SparkSession, sf_dir: str):
        self.spark, self.sf_dir = spark, sf_dir
        fns = registry.queries()
        self.items = [
            Item(n, (lambda fn=fns[n]: fn(spark, sf_dir)), _run_df) for n in names
        ]

    def setup(self) -> dict[str, float]:
        return {}

    def check(self, outputs: dict[str, object]) -> dict[str, list[str]]:
        """Compare each output with DuckDB running the query's oracle SQL
        on the same parquet, through the differential helpers of the
        test suite. Every query of these workloads has an oracle. A
        comparison that raises becomes a problem of its query."""
        from tests import helpers

        oracles = registry.oracle_sql()
        con = helpers.duckdb_connection(self.sf_dir)
        try:
            return {name: _guarded(_differential, con, oracles[name], pdf) for name, pdf in outputs.items()}
        finally:
            con.close()


def _differential(con, oracle: str, pdf) -> list[str]:
    from tests import helpers

    expected = con.execute(oracle).fetchdf()
    return helpers.compare_frames(pdf, expected) + helpers.driver_sortability_problems(pdf)


class ReferenceOps:
    """The paper's own operator suite on the seeded F1 ``scaling4``
    table: written to CSV and read back through ``csv_io`` in set-up;
    each pass then reads, filters, writes CSV, takes the first row per
    group, sorts, exports to a NumPy matrix and writes parquet."""

    def __init__(self, spark: SparkSession, seed: int, work_dir: str):
        self.spark, self.seed = spark, seed
        self.csv_path = os.path.join(work_dir, "scaling4_csv")
        self.out_csv = os.path.join(work_dir, "out_csv")
        self.out_parquet = os.path.join(work_dir, "out_parquet")
        self.table: DataFrame | None = None
        self.items = [
            Item("read", lambda: csv_io.read_csv(spark, self.csv_path, schema=SCALING4_SCHEMA), _run_df),
            Item("filter", lambda: self.table.filter(F.col("value1") > FILTER_VALUE1), _run_df),
            Item("write_csv", lambda: self.table, self._write_csv),
            Item("group_first", self._group_first, _run_df),
            Item("sort", lambda: self.table.orderBy("value1"), _run_df),
            Item("to_np", lambda: self.table, lambda df, _c: core.to_numpy_matrix(df)),
            Item("write_parquet", lambda: self.table, self._write_parquet),
        ]

    def setup(self) -> dict[str, float]:
        """Generate, write and re-read the input; returns the timings
        and the CSV size for the sources layer."""
        spark = self.spark
        gen = generators.scaling4(spark, REFERENCE_ROWS, seed=self.seed)
        t0 = time.perf_counter()
        force(gen)
        t1 = time.perf_counter()
        csv_io.write_csv(gen, self.csv_path)
        t2 = time.perf_counter()
        self.table = csv_io.read_csv(spark, self.csv_path, schema=SCALING4_SCHEMA).cache()
        self.table.count()
        size = sum(os.path.getsize(p) for p in glob.glob(os.path.join(self.csv_path, "*.csv")))
        return {
            "sources.generate_s": t1 - t0,
            "sources.csv_write_s": t2 - t1,
            "sources.csv_write_bytes": float(size),
        }

    def _group_first(self) -> DataFrame:
        first = F.min_by(F.struct("id", "value1", "value2"), "id")
        return self.table.groupBy("category").agg(first.alias("f")).select(
            "category", "f.id", "f.value1", "f.value2"
        )

    def _write_csv(self, df: DataFrame, _collect: bool) -> None:
        csv_io.write_csv(df, self.out_csv)

    def _write_parquet(self, df: DataFrame, _collect: bool) -> None:
        df.write.mode("overwrite").parquet(self.out_parquet)

    def check(self, outputs: dict[str, object]) -> dict[str, list[str]]:
        """Compare each output with DuckDB reading the CSV written in
        set-up. A check that raises becomes a problem of its item."""
        import duckdb

        checks = {
            "read": self._check_read,
            "filter": self._check_filter,
            "write_csv": self._check_write_csv,
            "group_first": self._check_group_first,
            "sort": self._check_sort,
            "to_np": self._check_to_np,
            "write_parquet": self._check_write_parquet,
        }
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE TABLE src AS SELECT * FROM read_csv('{self.csv_path}/*.csv', header=true, "
                "columns={'id': 'BIGINT', 'category': 'VARCHAR', 'value1': 'DOUBLE', 'value2': 'DOUBLE'})"
            )
            self.n = con.execute("SELECT count(*) FROM src").fetchone()[0]
            return {name: _guarded(checks[name], con, out) for name, out in outputs.items()}
        finally:
            con.close()

    def _check_read(self, con, pdf) -> list[str]:
        return [] if len(pdf) == self.n else [f"rows {len(pdf)}, DuckDB {self.n}"]

    def _check_filter(self, con, pdf) -> list[str]:
        n = con.execute(f"SELECT count(*) FROM src WHERE value1 > {FILTER_VALUE1}").fetchone()[0]
        kept = pdf["value1"]
        return [] if len(kept) == n and (kept > FILTER_VALUE1).all() else [f"rows {len(kept)}, DuckDB {n}"]

    def _check_group_first(self, con, pdf) -> list[str]:
        firsts = con.execute(
            "SELECT category, arg_min(id, id), arg_min(value1, id), arg_min(value2, id) "
            "FROM src GROUP BY category ORDER BY category"
        ).fetchall()
        got = sorted(tuple(r) for r in pdf.itertuples(index=False))
        if [r[:2] for r in got] == [tuple(f[:2]) for f in firsts] and all(
            _close(a, b) for g, f in zip(got, firsts) for a, b in zip(g[2:], f[2:])
        ):
            return []
        return [f"first rows differ: {got[:2]} vs {firsts[:2]}"]

    def _check_sort(self, con, pdf) -> list[str]:
        head = [r[0] for r in con.execute("SELECT value1 FROM src ORDER BY value1 LIMIT 5").fetchall()]
        tail = [r[0] for r in con.execute("SELECT value1 FROM src ORDER BY value1 DESC LIMIT 5").fetchall()][::-1]
        v1 = pdf["value1"].tolist()
        if len(v1) == self.n and v1[:5] == head and v1[-5:] == tail and all(a <= b for a, b in zip(v1, v1[1:])):
            return []
        return [f"sort order differs: head {v1[:5]} vs {head}, tail {v1[-5:]} vs {tail}"]

    def _check_to_np(self, con, m) -> list[str]:
        want = con.execute("SELECT sum(id), sum(value1), sum(value2) FROM src").fetchone()
        sums = [float(m[:, i].sum()) for i in (0, 2, 3)]
        p = []
        if m.shape != (self.n, 4) or not all(_close(a, b) for a, b in zip(sums, want)):
            p.append(f"matrix {m.shape} sums {sums} vs {(self.n, 4)} {want}")
        if not math.isnan(m[0, 1]):
            p.append("category column is not NaN")
        return p

    def _check_write_csv(self, con, _out) -> list[str]:
        return self._check_written(con, self.out_csv, "*.csv", "read_csv('{}', header=true)")

    def _check_write_parquet(self, con, _out) -> list[str]:
        return self._check_written(con, self.out_parquet, "*.parquet", "'{}'")

    def _check_written(self, con, out_dir: str, pattern: str, reader: str) -> list[str]:
        files = os.path.join(out_dir, pattern)
        if not glob.glob(files):
            return [f"no {pattern} files in {os.path.basename(out_dir)}"]
        rows = con.execute(f"SELECT count(*) FROM {reader.format(files)}").fetchone()[0]
        return [] if rows == self.n else [f"rows written {rows}, expected {self.n}"]


def _guarded(check, *args) -> list[str]:
    try:
        return check(*args)
    except Exception as exc:  # noqa: BLE001 - a check that fails is a wrong result
        return [f"check raised {type(exc).__name__}: {exc}"]


def _close(a, b) -> bool:
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


WORKLOADS = ("llm_corpus", "reference_ops")


def make(name: str, spark: SparkSession, sf_dir: str, seed: int, work_dir: str):
    if name == "reference_ops":
        return ReferenceOps(spark, seed, work_dir)
    return FixtureWorkload(LLM_CORPUS, spark, sf_dir)
