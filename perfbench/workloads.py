"""The benchmark's workloads. Each one calls only the package's public
entry points, and keeps its output checks out of the timed call.

A workload object has this life cycle: ``prepare(directory)`` (part of
set-up; it may run several times, and the last run's inputs are used),
then ``call()`` repeatedly, each inside its own ``operator_cache_scope()``
and followed by the untimed ``after_call()`` and ``between_calls()``,
then ``check()``, which returns the output checks that failed.
``instrument(tracer)`` installs the traced run's wrappers.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from manifold_spark import clean, curation, ingest, pipeline, quality, scd2, stage
from manifold_spark.catalog import TableStore
from manifold_spark.operators import c4, dedup, lm, repetition, sampling, textstats
from manifold_spark.schema import DIM_KEYS

HERE = os.path.dirname(os.path.abspath(__file__))
MB = 1e6


def _tree_files(root: str) -> dict[str, int]:
    found = {}
    for folder, _, files in os.walk(root):
        for name in files:
            path = os.path.join(folder, name)
            found[path] = os.path.getsize(path)
    return found


class WeeklyWarehouse:
    """``run_week`` on consecutive weeks of a seeded listing universe."""

    name = "weekly_warehouse"
    default_layer = "pipeline"
    metric_names = {"first_call_s": "first_week_s", "call_s": "week_s"}
    min_steady = 4

    def __init__(self, spark, seed: int, universe: int):
        self.spark, self.seed, self.universe = spark, seed, universe

    def prepare(self, directory: str) -> None:
        self.raw = os.path.join(directory, "raw")
        self.store = TableStore(os.path.join(directory, "warehouse"))
        self.listings = inputs.ListingUniverse(self.universe, self.seed)
        self.raw_bytes = 0
        self.ingested = 0
        self._next = self._write_week()

    def _write_week(self) -> tuple[str, int]:
        date, rows = self.listings.next_week(self.raw)
        folder = ingest.timestep_path(self.raw, date)
        self.raw_bytes += sum(_tree_files(folder).values())
        return date, rows

    def call(self) -> None:
        date, rows = self._next
        pipeline.run_week(self.spark, self.store, self.raw, date)
        self.ingested += rows

    def after_call(self) -> None:
        pass

    def between_calls(self) -> None:
        self._next = self._write_week()

    def check(self) -> list[str]:
        read = lambda table: self.store.read(self.spark, "presentation", table)  # noqa: E731
        problems = []
        for dim, keys in DIM_KEYS.items():
            if quality.duplicate_active_keys(read(dim), keys).limit(1).count():
                problems.append(f"{dim} has a business key with two active rows")
        facts = read("fact_stock").agg(
            F.count(F.lit(1)).alias("rows"), F.countDistinct("id").alias("ids")
        ).collect()[0]
        if facts["rows"] != self.ingested:
            problems.append(f"fact_stock has {facts['rows']} rows for {self.ingested} listings ingested")
        if facts["ids"] != facts["rows"]:
            problems.append(f"fact_stock has {facts['rows'] - facts['ids']} repeated ids")
        return problems

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        stored = sum(_tree_files(self.store.root).values())
        return {"stored_ratio": (stored / self.raw_bytes, "ratio")}

    def instrument(self, tracer) -> None:
        def write_layer(store, df, database, table, *args, **kwargs) -> str:
            if database == "staging":
                return "stage"
            if table == "dim_date":
                return "dims"
            if table.startswith("dim_"):
                return "scd2"
            return "facts" if table == "fact_stock" else self.default_layer

        def count_files(start, store, df, database, table, *args, **kwargs) -> None:
            fresh = [
                size for path, size in _tree_files(store.path(database, table)).items()
                if os.path.getmtime(path) >= start
            ]
            tracer.count("catalog.files_written", len(fresh))
            tracer.count("catalog.bytes_written_mb", sum(fresh) / MB)

        tracer.wrap(pipeline, "run_week", "pipeline")
        tracer.wrap(ingest, "load_json_listings", "ingest")
        tracer.wrap(clean, "clean_listings", "clean")
        tracer.wrap(stage, "stage_all", "stage")
        tracer.wrap(scd2, "scd2_merge", "scd2")
        tracer.wrap(pipeline, "date_dimension", "dims")
        tracer.wrap(pipeline, "load_fact_stock", "facts")
        for name in ("assert_nonempty", "assert_dim_invariants"):
            tracer.wrap(quality, name, "quality")
        for name in ("overwrite", "overwrite_partitions", "append"):
            tracer.wrap(TableStore, name, write_layer, after=count_files)


class Curation:
    """``curate_corpus`` over a fixed corpus whose row order the seed sets.
    Its first three report counts are checked against the generator's."""

    name = "curation"
    default_layer = "curation"
    metric_names = {"first_call_s": "first_curate_s", "call_s": "curate_s"}
    min_steady = 2
    corpus_seed = 20240101

    def __init__(self, spark, seed: int, documents: int):
        self.spark, self.seed, self.documents = spark, seed, documents
        with open(os.path.join(HERE, "expected_curation.json")) as f:
            self.expected = json.load(f).get(str(documents))
        self.reports: list[dict] = []

    def prepare(self, directory: str) -> None:
        table, self.expected_counts = inputs.documents(self.documents, self.corpus_seed)
        order = list(range(table.num_rows))
        random.Random(self.seed).shuffle(order)
        os.makedirs(directory, exist_ok=True)
        path = os.path.join(directory, "documents.parquet")
        pq.write_table(table.take(order), path)
        self.docs = self.spark.read.parquet(path)

    def call(self) -> None:
        packed, report = curation.curate_corpus(self.docs)
        packed.write.format("noop").mode("overwrite").save()
        self.reports.append(report)
        self._packed = packed

    def after_call(self) -> None:
        """Runs inside the call's cache scope, after its timer stopped."""
        self.packed_rows = self._packed.count()

    def between_calls(self) -> None:
        pass

    def check(self) -> list[str]:
        problems = []
        if self.expected is None:
            problems.append(f"no recorded report for a {self.documents}-document corpus")
        early = [r for r in self.reports if any(r.get(k) != v for k, v in self.expected_counts.items())]
        if early:
            problems.append(f"{len(early)} reports differ from the generator's counts {self.expected_counts}, e.g. {early[0]}")
        bad = [r for r in self.reports if r != self.expected]
        if bad:
            problems.append(f"{len(bad)} reports differ from the recorded one, e.g. {bad[0]}")
        if self.reports and self.packed_rows != self.reports[-1]["packed"]:
            problems.append(f"packed has {self.packed_rows} rows, report says {self.reports[-1]['packed']}")
        return problems

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        return {}

    def instrument(self, tracer) -> None:
        # The operators' tag outlives curate_corpus, so the sink that runs
        # the packed plan is charged to the operator entered last.
        tracer.wrap(curation, "curate_corpus", "curation", restore=False)
        entry_points = {
            c4: ("c4_filters",),
            dedup: ("exact_dedup", "minhash_lsh_pairs", "dedup_components"),
            repetition: ("repetition_signals",),
            lm: ("score_docs", "ppl_buckets"),
            sampling: ("temperature_sample", "pack_documents"),
            textstats: ("token_count_ws",),
        }
        for module, names in entry_points.items():
            layer = "operators." + module.__name__.rsplit(".", 1)[-1]
            for name in names:
                tracer.wrap(module, name, layer, restore=False)


WORKLOADS = {"weekly_warehouse": WeeklyWarehouse, "curation": Curation}
