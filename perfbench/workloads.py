"""The two workloads: set-up, the untimed warm-up with its once-per-run
checks, and the ops of one timed pass.

kg_build   repeated full `plans.kg_pipeline.run_pipeline` over a fixed
           medical corpus in a seeded row order, each pass into a fresh
           workdir. The only workload that writes (four stage snapshots,
           pred-partitioned triples) and the one whose work sits at the
           Python (Arrow) boundary: the sectionize UDF and the `ner`
           mapInPandas.
query_mix  read-only contract queries over the repository's sf0.01 test
           tables (copied under perfbench/data), each pass in a seeded
           order: frozen bench.py leaves and graph queries of the
           sparql, update and rules modules. No snapshot writes and,
           after set-up, no detection.
"""

from __future__ import annotations

import hashlib
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from . import checks
from .spans import Tracer

KG_DOCS = 300
# every run builds the KG of the same corpus, so runs do the same work;
# the run's seed permutes the corpus's rows
CORPUS_SEED = 42
# kg_build's untimed warm-up: rounds of WARM_THREADS pipelines at once.
# Passes are fixed Spark overhead at this size (30 docs cost what 300
# do), and the JVM's tiered JIT keeps cutting it for ten and more
# sequential passes of a session; running several at once gets further
# along that curve in the same time (see README.md)
WARM_THREADS = 3
WARM_ROUNDS = 2
# byte copies of the repository's sf0.01 test tables (TESTDATA.md),
# the tables the query_mix ops read; SHA256SUMS is checked in set-up
QUERY_DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
# one op per layer a later change is expected to move: frozen bench.py
# leaves, then graph queries (their KG modules in brackets). The
# dedup_minhash leaf and the paths, graph, owl and kgstats ops cost
# 1.6-3.9 s each a warm pass here and do not fit the run budget (see
# README.md)
QUERY_OPS = (
    "kg_triples",
    "kg_mentions_by_label",
    "q3_top_orders",
    "dedup_ngram_jaccard",
    "label_stats",          # operators.stats
    "text_quality",         # operators.textstats
    "sim_topk_cosine",      # operators.similarity
    "kg_sparql_update",     # sparql, update, composer, bgp
    "kg_construct",         # rules
)
# ops that read the session mention store (filled in set-up)
STORE_OPS = ("kg_triples", "kg_mentions_by_label", "kg_sparql_update",
             "kg_construct")
STAGES = ("sectionized", "mentions", "entities", "triples")
MIN_PR = 0.95


@dataclass
class Op:
    """One timed call. check(result) runs after the timer stops and
    returns what is wrong with the result, or None."""
    name: str
    call: Callable[[], object]
    check: Callable[[object], str | None]


@dataclass
class Run:
    spark: object
    work: Path
    seed: int
    cpus: int
    tracer: Tracer
    failures: list[str] = field(default_factory=list)


class KgBuild:
    name = "kg_build"
    ops = ("run_pipeline",)
    warm_passes = 0

    def setup(self, run: Run) -> dict[str, float]:
        import pandas as pd

        from gliner_transbronchialbiopsy_spark.sources import corpus

        self.corpus = run.work / "corpus"
        docs = self.corpus / "documents.parquet"
        t0 = time.perf_counter()
        with run.tracer.span("inputs.write"):
            corpus.write_corpus(self.corpus, n_docs=KG_DOCS, seed=CORPUS_SEED)
            (pd.read_parquet(docs).sample(frac=1.0, random_state=run.seed)
               .to_parquet(docs, index=False, row_group_size=4096))
        return {"inputs.write_s": time.perf_counter() - t0}

    def _run_pipeline(self, run: Run, workdir: Path) -> None:
        from gliner_transbronchialbiopsy_spark.functions import patterns
        from gliner_transbronchialbiopsy_spark.plans import kg_pipeline

        docs = run.spark.read.parquet(str(self.corpus / "documents.parquet"))
        # as tools/run_kg_job.py: fan a single-split input out before
        # the per-row UDF stage
        if docs.rdd.getNumPartitions() < run.cpus:
            docs = docs.repartition(2 * run.cpus)
        kg_pipeline.run_pipeline(
            run.spark, docs, str(workdir),
            catalog=patterns.MEDICAL_PATTERNS, partitions=2 * run.cpus,
        )

    def warm(self, run: Run) -> list[float]:
        """Untimed rounds of WARM_THREADS pipelines at once; returns the
        wall time of each. The first pipeline of the first (cold) round
        is the checking pass: its triples are scored against the gold
        set and its lineage is what every other pass must reproduce."""
        walls = []
        for k in range(WARM_ROUNDS):
            dirs = [run.work / f"kg-warm-{k}-{j}" for j in range(WARM_THREADS)]
            t0 = time.perf_counter()
            with ThreadPoolExecutor(WARM_THREADS) as pool:
                done = [pool.submit(self._run_pipeline, run, d) for d in dirs]
            walls.append(time.perf_counter() - t0)
            for j, (d, f) in enumerate(zip(dirs, done)):
                f.result()  # a failing pipeline fails the run
                if k == j == 0:
                    self._check_gold(run, d)
                elif checks.lineage(d) != self.lineage:
                    run.failures.append(f"warm-up round {k}: triples lineage differs")
                shutil.rmtree(d)
        return walls

    def _check_gold(self, run: Run, workdir: Path) -> None:
        import pandas as pd

        p, r = checks.precision_recall(
            checks.read_triples(workdir),
            pd.read_parquet(self.corpus / "gold.parquet"),
        )
        self.precision, self.recall = p, r
        if p < MIN_PR or r < MIN_PR:
            run.failures.append(f"triple precision {p:.4f} / recall {r:.4f} < {MIN_PR}")
        self.lineage = checks.lineage(workdir)
        self.triples = sum(rows for rows, _ in self.lineage.values())

    def pass_ops(self, run: Run, i: int) -> list[Op]:
        workdir = run.work / f"kg-{i}"

        def check(_) -> str | None:
            got = checks.lineage(workdir)
            shutil.rmtree(workdir)
            return None if got == self.lineage else "triples lineage differs from warm-up"

        return [Op("run_pipeline", lambda: self._run_pipeline(run, workdir), check)]

    def details(self) -> dict:
        return {"corpus_docs": KG_DOCS, "corpus_seed": CORPUS_SEED,
                "triples": self.triples,
                "precision": round(self.precision, 4),
                "recall": round(self.recall, 4)}


class QueryMix:
    name = "query_mix"
    ops = QUERY_OPS
    # sequential warm-up passes after the checking one
    warm_passes = 1

    def setup(self, run: Run) -> dict[str, float]:
        import __spark_entry__ as entry

        self.sf_dir = str(QUERY_DATA)
        for line in (QUERY_DATA / "SHA256SUMS").read_text().splitlines():
            digest, name = line.split()
            if hashlib.sha256((QUERY_DATA / name).read_bytes()).hexdigest() != digest:
                run.failures.append(f"input {name} differs from SHA256SUMS")
        registry = entry.queries()
        self.fns = {n: registry[n] for n in self.ops}
        # the mention store is filled eagerly by its first consumer and
        # serves every STORE_OPS op afterwards
        t0 = time.perf_counter()
        with run.tracer.span("store.fill"):
            entry.q_kg_triples(run.spark, self.sf_dir)
        return {"store.fill_s": time.perf_counter() - t0}

    def warm(self, run: Run) -> list[float]:
        """One pass that collects every result: it sets the fingerprint
        each timed pass must reproduce and is compared once against the
        op's DuckDB oracle. Returns no warm-up walls: the rest of its
        warm-up is `warm_passes`."""
        import __spark_entry__ as entry
        from pyspark.sql import Observation

        oracles = entry.oracle_sql()
        con = checks.duckdb_views(self.sf_dir)
        self.exprs, self.expect, self.oracle_checked = {}, {}, []
        for name in self.ops:
            df = self.fns[name](run.spark, self.sf_dir)
            self.exprs[name] = checks.fingerprint_exprs(df)
            obs = Observation()
            got = df.observe(obs, *self.exprs[name]).toPandas()
            self.expect[name] = obs.get
            if name in oracles:
                self.oracle_checked.append(name)
                diff = checks.oracle_mismatch(got, con.execute(oracles[name]).fetchdf())
                if diff:
                    run.failures.append(f"{name}: oracle mismatch, {diff}")
        con.close()
        self.triples = self.expect["kg_triples"]["rows"]
        return []

    def pass_ops(self, run: Run, i: int) -> list[Op]:
        from pyspark.sql import Observation

        def op(name: str) -> Op:
            def call() -> Observation:
                obs = Observation()
                df = self.fns[name](run.spark, self.sf_dir)
                (df.observe(obs, *self.exprs[name])
                   .write.format("noop").mode("overwrite").save())
                return obs

            def check(obs) -> str | None:
                got = obs.get
                return None if got == self.expect[name] else f"result {got} != {self.expect[name]}"

            return Op(name, call, check)

        order = list(self.ops)
        random.Random(run.seed * 1000 + i).shuffle(order)
        return [op(n) for n in order]

    def details(self) -> dict:
        return {"sf_dir": "perfbench/data/sf0.01", "triples": self.triples,
                "store_ops": list(STORE_OPS),
                "oracle_checked": self.oracle_checked,
                "rows": {n: e["rows"] for n, e in self.expect.items()}}


WORKLOADS = {w.name: w for w in (KgBuild, QueryMix)}
