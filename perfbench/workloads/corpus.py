"""``corpus``: the LLM-data corpus build (``plans.corpus.build_corpus``).

Input: 5,000 generated documents whose ``doc_id`` is a seeded
bijective remap of the row position, with planted reputation-failing
sources, benchmark-contaminated docs and cross-batch near-duplicates
(see ``gen.documents``). Each unit builds the corpus into a fresh
warehouse with the knobs the engine registers for its
``corpus_build_e2e`` query (three ingest batches) and collects the
final mixture.

The check runs that query's registered oracle SQL in DuckDB over the
same documents and compares it with the mixture, normalised the way
the engine's oracle harness does.
"""

from __future__ import annotations

import shutil

import gen
import oracle
from workloads import Metric, Unit, Workload, p50, register

from apache_iceberg_tables_migration_tool_spark.plans import corpus as PC
from apache_iceberg_tables_migration_tool_spark.queries import QUERIES
from apache_iceberg_tables_migration_tool_spark.queries import curation as QC

KNOBS = dict(
    bench_mod=QC._CB_BENCH_MOD, batches=QC._CB_BATCHES, min_shared=QC._CB_MIN_SHARED,
    min_uniq_ratio=QC._CB_MIN_UNIQ, max_dup_rate=QC._CB_MAX_DUP, threshold=QC._CB_TAU,
    mix_weights=QC._CB_MIX_WEIGHTS, mix_budget=QC._CB_MIX_BUDGET,
)
DOCS_AT_SCALE_0_1 = 5_000


@register
class Corpus(Workload):
    name = "corpus"
    scale = 0.1

    def setup(self) -> None:
        self.n_docs = int(DOCS_AT_SCALE_0_1 * self.scale / 0.1)
        table = gen.documents(self.seed, self.n_docs)
        path = gen.write(table, self.path("in", "documents.parquet"))
        self.candidates = sum(1 for d in table["doc_id"].to_pylist()
                              if d % KNOBS["bench_mod"] != 0)
        self.docs = self.spark.read.parquet(path)
        self.con = oracle.connect({"documents": path})
        self.want = self.con.execute(QUERIES["corpus_build_e2e"].oracle).df()
        self.mixture = None
        self.build_s: list[float] = []

    def unit(self) -> Unit:
        root = self.path(f"wh{len(self.build_s)}")
        s0 = self.op_seconds
        result = self.op("build_corpus", PC.build_corpus, self.spark, self.docs, root, **KNOBS)

        def collect():
            pdf = result.mixture.toPandas()
            self.tracer.note_plan(result.mixture)
            return pdf

        self.mixture = self.op("mixture", collect)
        build_s, read_s = self.lat["build_corpus"][-1], self.lat["mixture"][-1]
        self.build_s.append(build_s)
        self.layer["accept_ratio"].append(
            sum(b["accepted"] for b in result.batch_stats) / self.candidates)
        shutil.rmtree(root, ignore_errors=True)
        return Unit(self.op_seconds - s0, build_s, read_s)

    def after_unit(self) -> None:
        for problem in self.check():
            self.expect(problem)

    def check(self, corrupt: bool = False) -> list[str]:
        p = oracle.diff_frames(self.mixture, self.want, "corpus mixture", corrupt=corrupt)
        return [] if p is None else [p]

    def final_check(self) -> list[str]:
        return []  # every build was checked as it finished

    def detail(self) -> dict[str, Metric]:
        return {
            "corpus_docs_per_s": Metric(p50([self.n_docs / s for s in self.build_s]), "1/s"),
        }
