"""One barrier per mention table: detect() returns a lazy plan, the
contract queries share one session-keyed LRU mention store
(__spark_entry__._kg_mentions), and the skip-sectionize job path shards
detection through the same detect_checkpointed as run_pipeline."""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from gliner_transbronchialbiopsy_spark.functions import patterns as pat  # noqa: E402
from gliner_transbronchialbiopsy_spark.plans import kg_pipeline  # noqa: E402


def _write_documents(sf_dir, n_docs=40):
    """A small driver-shaped documents table (source, doc_id, lang,
    text) whose word-soup text hits every keyword-catalog label."""
    words = [w for terms in pat.KEYWORD_TERMS.values() for w in terms]
    rows = [
        {
            "doc_id": i,
            "text": " ".join(words[(i * 7 + j) % len(words)] for j in range(12)),
            "lang": "en",
            "source": f"src{i % 3}",
        }
        for i in range(n_docs)
    ]
    os.makedirs(sf_dir, exist_ok=True)
    pd.DataFrame(rows).to_parquet(
        os.path.join(sf_dir, "documents.parquet"), index=False
    )


@pytest.fixture()
def sf_dirs(tmp_path):
    dirs = []
    for name in ("a", "b", "c"):
        d = str(tmp_path / name)
        _write_documents(d)
        dirs.append(d)
    entrymod._kg_mentions.cache_clear()
    yield dirs
    entrymod._kg_mentions.cache_clear()


def test_store_one_entry_per_session_and_sf_dir(spark, sf_dirs):
    a, b, _ = sf_dirs
    m_a = entrymod._kg_mentions(spark, a)
    assert entrymod._kg_mentions(spark, a) is m_a
    m_b = entrymod._kg_mentions(spark, b)
    assert m_b is not m_a
    assert entrymod._kg_mentions(spark, b) is m_b
    # same input bytes, separate entries, same rows
    assert m_a.count() == m_b.count() > 0


def test_store_evicts_least_recently_used(spark, sf_dirs):
    a, b, c = sf_dirs
    m_a = entrymod._kg_mentions(spark, a)
    m_b = entrymod._kg_mentions(spark, b)
    assert entrymod._kg_mentions(spark, a) is m_a  # A is now the newest
    entrymod._kg_mentions(spark, c)  # full store: evicts B, not A
    assert entrymod._kg_mentions(spark, a) is m_a
    assert entrymod._kg_mentions(spark, b) is not m_b


def test_detect_returns_lazy_plan(spark, tmp_path):
    """The catalog path of detect() installs no barrier of its own: its
    plan holds the detection mapInPandas and no checkpoint scan (the
    caller's snapshot or localCheckpoint is the one barrier)."""
    _write_documents(str(tmp_path))
    docs = entrymod._docs_as_corpus(spark, str(tmp_path))
    sect = kg_pipeline.validate_documents(docs).select(
        "repo", "path", "commit", "content_sha256",
        F.col("content").alias("conclusion"),
    )
    detected = kg_pipeline.detect(sect, catalog=pat.KEYWORD_PATTERNS)
    plan = detected._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    assert sum("MapInPandas" in line for line in lines) == 1, plan
    assert not any("Scan ExistingRDD" in line for line in lines), plan
    kg_pipeline.release_doc_cache(detected)


def test_skip_sectionize_sharded_job_matches_unsharded(spark, tmp_path):
    """run_kg_job --skip-sectionize --detect-shards 2 commits detection
    as two content-sha shards and emits exactly the triples of the
    unsharded stages over the same documents."""
    from gliner_transbronchialbiopsy_spark.sources import corpus
    from gliner_transbronchialbiopsy_spark.sources.checkpoint import (
        CheckpointManager,
    )

    cdir = tmp_path / "corpus"
    corpus.write_corpus(str(cdir), n_docs=40, seed=42)
    work = tmp_path / "work"
    log = tmp_path / "job.log"
    # the job runs in its own process while this session computes the
    # unsharded reference
    with open(log, "w") as fh:
        job = subprocess.Popen(
            [
                sys.executable, "tools/run_kg_job.py",
                "--input", str(cdir / "documents.parquet"),
                "--workdir", str(work),
                "--cpus", "2", "--catalog", "medical", "--fresh",
                "--skip-sectionize", "--detect-shards", "2",
            ],
            cwd=REPO, stdout=subprocess.PIPE, stderr=fh, text=True,
        )
        try:
            docs = spark.read.parquet(str(cdir / "documents.parquet"))
            sect = kg_pipeline.validate_documents(docs).select(
                "repo", "path", "commit", "lang", "content_sha256",
                F.col("content").alias("conclusion"),
            )
            detected = kg_pipeline.detect(sect, catalog=pat.MEDICAL_PATTERNS)
            mentions = detected.localCheckpoint()
            kg_pipeline.release_doc_cache(detected)
            unsharded = kg_pipeline.materialize_triples(
                mentions, kg_pipeline.canonicalize(mentions)
            )
            cols = ("subj", "pred", "obj", "canonical_obj", "start_idx", "end_idx")
            want = sorted(tuple(r) for r in unsharded.select(*cols).collect())
            out, _ = job.communicate(timeout=300)
        finally:
            if job.poll() is None:
                job.kill()
                job.wait()
    assert job.returncode == 0, log.read_text()[-3000:]
    res = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    assert sorted(os.listdir(work / "mentions" / "_shards")) == [
        "0.json", "1.json",
    ]
    sharded = CheckpointManager(str(work)).read(spark, "triples")
    got = sorted(tuple(r) for r in sharded.select(*cols).collect())
    assert got == want and len(got) == res["triples"] > 0
