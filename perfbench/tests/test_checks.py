"""Self-tests: the query inputs and the pandas-side output checks."""

import hashlib

import pandas as pd

from perfbench import checks, workloads


def test_query_inputs_match_their_checksums_and_feed_duckdb():
    sums = dict(reversed(line.split())
                for line in (workloads.QUERY_DATA / "SHA256SUMS").read_text().splitlines())
    assert sorted(p.name for p in workloads.QUERY_DATA.glob("*.parquet")) == sorted(sums)
    for name, digest in sums.items():
        assert hashlib.sha256((workloads.QUERY_DATA / name).read_bytes()).hexdigest() == digest
    con = checks.duckdb_views(str(workloads.QUERY_DATA))
    assert con.execute("SELECT count(*) FROM lineitem").fetchone()[0] > 0
    con.close()


def test_precision_recall_scores_path_pred_lower_obj():
    gold = pd.DataFrame({"path": ["p1", "p2"], "conclusion_text": ["", ""],
                         "grade_a": ["A1", None], "site": ["LID;LSD", "LM"]})
    triples = pd.DataFrame({
        "path": ["p1", "p1", "p1", "p2", "p2"],
        "pred": ["grade_a", "site", "site", "site", "site"],
        "obj": ["a1", "lid", "LSD", "LM", "wrong"],
    })
    p, r = checks.precision_recall(triples, gold)
    assert (p, r) == (4 / 5, 4 / 4)
