"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

import joint_entity_and_relation_extraction_spark  # noqa: E402,F401  (BLAS env before numpy)
import pytest  # noqa: E402

from perfbench import checks, corpus, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _digest(path):
    with open(path, "rb") as f:
        return f.read()


def test_generator_is_deterministic_per_seed(tmp_path):
    a = corpus.write_corpus(str(tmp_path / "a"), 7, 60, 3, 0.5)
    b = corpus.write_corpus(str(tmp_path / "b"), 7, 60, 3, 0.5)
    c = corpus.write_corpus(str(tmp_path / "c"), 8, 60, 3, 0.5)
    assert _digest(tmp_path / "a" / "documents.parquet") == \
        _digest(tmp_path / "b" / "documents.parquet")
    assert a == b
    assert c["input_sha256"] != a["input_sha256"]
    with open(tmp_path / "a" / "corpus.json") as f:
        assert json.load(f) == a


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_reaches_the_distinct_share(tmp_path, name):
    w = WORKLOADS[name]
    meta = corpus.write_corpus(str(tmp_path), 3, 200, w.replicas, w.distinct_share)
    assert meta["documents"] == 200 * w.replicas
    assert abs(meta["distinct_share"] - w.distinct_share) <= 0.15, meta


@pytest.fixture(scope="module")
def tiny_oracle(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tiny"))
    corpus.write_corpus(d, 5, 40, 2, 0.5)
    return checks.kg_oracle(d)


class _StubSparkContext:
    def cancelAllJobs(self):
        pass


class _StubSpark:
    sparkContext = _StubSparkContext()


def _triples_frame(rows):
    import pandas as pd

    return pd.DataFrame(rows, columns=list(checks.TRIPLE_COLS))


def test_changed_evidence_count_is_a_failed_operation(tiny_oracle):
    rows = [list(r) for r in tiny_oracle["triples"]]
    assert rows
    check = lambda pdf: checks.kg_check(pdf, tiny_oracle)  # noqa: E731
    rec, _ = run.timed_op(_StubSpark(), "warm", lambda: _triples_frame(rows), check)
    assert rec["ok"], rec
    rows[len(rows) // 2][5] += 1  # evidence_count
    rec, _ = run.timed_op(_StubSpark(), "warm", lambda: _triples_frame(rows), check)
    assert not rec["ok"]
    assert "1 only in output, 1 only in oracle" in rec["check"]


def test_raising_operation_is_a_failed_operation():
    def boom():
        raise RuntimeError("lost executor")

    rec, out = run.timed_op(_StubSpark(), "warm", boom, lambda _: (True, ""))
    assert out is None and not rec["ok"] and "lost executor" in rec["check"]


def test_oracle_cache_key_follows_the_query_parameters():
    """A changed LSH threshold or oracle SQL must not reuse a cached answer."""
    import functools

    from perfbench.workloads import NEARDUP_SUITE, registry_queries

    queries, oracles = registry_queries()
    duck = [q for _, q in NEARDUP_SUITE if q in oracles]
    sql = checks.nd_oracle_sql(queries, oracles, duck)
    base = checks.nd_oracle_digest(sql, queries)
    assert checks.nd_oracle_digest(checks.nd_oracle_sql(queries, oracles, duck),
                                   queries) == base
    p = checks.query_params(queries, "dedup_minhash_lsh")
    moved = dict(queries, dedup_minhash_lsh=functools.partial(
        queries["dedup_minhash_lsh"], threshold=p["threshold"] / 2))
    assert checks.nd_oracle_digest(checks.nd_oracle_sql(moved, oracles, duck),
                                   moved) != base
    assert checks.nd_oracle_digest(dict(sql, **{duck[0]: sql[duck[0]] + " "}),
                                   queries) != base
    assert len(checks.kg_oracle_digest()) == 64


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_record():
    op = {"kind": "warm", "wall_s": 2.0, "ok": True}
    return {
        "ops": [dict(op, kind="cold", wall_s=3.0), op],
        "corpus": {"documents": 100},
        "setup": {"build_s": 1.0, "warmup_s": 0.5},
        "peak_rss_bytes": 2 ** 30,
        "host": {"text.pages_per_s": 1000.0, "model.sents_per_s": 500.0},
        "trace": {"counts": {"extract.sentences": 10, "extract.distinct_sentences": 5},
                  "traced_wall_s": 2.5, "untraced_run_s": 2.0, "uncovered_s": 0.1,
                  "span_s": {"extract.text": 1.0}, "layers": {}},
    }


def test_printed_metric_names_match_benchmark_json():
    bench = _bench()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    got_e2e = run.end_to_end_metrics(_fake_record())
    got_layer = run.per_layer_metrics(_fake_record())
    assert {k: v["unit"] for k, v in got_e2e.items()} == e2e
    assert {k: v["unit"] for k, v in got_layer.items()} == layer
    assert got_e2e["docs_per_s"]["value"] == 50.0
    assert got_layer["extract.distinct_ratio"]["value"] == 0.5
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_fresh_crawl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
