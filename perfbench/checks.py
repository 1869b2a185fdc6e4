"""Reference outputs for the workloads and the per-operation checks.

- KG workloads: the triple table must equal the single-process oracle
  ``oracle.pipeline_local.run_full(<corpus dir>)["triples"]`` on
  ``TRIPLE_COLS`` (exact row-set equality, the rule of
  ``tests/test_pipeline.py::test_pipeline_matches_oracle_pr_gate``, at
  benchmark scale).
- ``corpus_neardup``: queries with a DuckDB oracle in the registry are
  compared by row count, sorted column names and an order-insensitive
  hash of the exact values. The signature-based (rows-only) queries are
  checked the way their pytest gates check them: every MinHash-LSH pair
  carries the exact word-bigram Jaccard and recall against the exact
  all-pairs join is >= LSH_MIN_RECALL; the incremental pairs equal the
  full LSH pairs restricted to new-batch docs; LSH degrees equal the
  degrees of the LSH pair list.

Oracle results are deterministic, so they are cached as JSON per
(workload, seed, input sha256, digest of what computed the answer: the
oracle's source files, its SQL and the query parameters it reads).
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os

TRIPLE_COLS = ("subj", "pred", "obj", "subj_name", "obj_name",
               "evidence_count", "n_sources")
#: recall floor of the LSH gate (tests/test_dedup_similarity.py)
LSH_MIN_RECALL = 0.9
#: no document-frequency cap: the exact Jaccard MinHash-LSH verifies
UNCAPPED_DF = 10 ** 12


def cached(cache_dir: str, key: str, compute):
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def source_digest(files=(), texts=()) -> str:
    """sha256 over source files and strings, for the oracle cache key."""
    h = hashlib.sha256()
    for path in sorted(files):
        with open(path, "rb") as f:
            h.update(f.read())
    for t in texts:
        h.update(t.encode())
    return h.hexdigest()


# --- KG ---------------------------------------------------------------------

def triple_rows(pdf) -> list[list]:
    """Sorted [subj, pred, obj, subj_name, obj_name, evidence_count,
    n_sources] rows with plain Python ints/strs."""
    rows = [[int(r[0]), str(r[1]), int(r[2]), str(r[3]), str(r[4]),
             int(r[5]), int(r[6])]
            for r in pdf[list(TRIPLE_COLS)].itertuples(index=False, name=None)]
    return sorted(rows)


def kg_oracle(corpus_dir: str) -> dict:
    from oracle import pipeline_local

    return {"triples": triple_rows(pipeline_local.run_full(corpus_dir)["triples"])}


def kg_oracle_digest() -> str:
    """The oracle module, the engine modules it calls, and this file."""
    from oracle import pipeline_local

    mods = [m for m in vars(pipeline_local).values() if inspect.ismodule(m)
            and m.__name__.startswith("joint_entity_and_relation_extraction_spark.")]
    return source_digest([pipeline_local.__file__, __file__]
                         + [m.__file__ for m in mods])


def kg_check(got_pdf, want: dict) -> tuple[bool, str]:
    got = triple_rows(got_pdf)
    exp = want["triples"]
    if got == exp:
        return True, f"{len(got)} triples equal the oracle"
    gs = {tuple(r) for r in got}
    ws = {tuple(r) for r in exp}
    return False, (f"triples differ: {len(got)} vs oracle {len(exp)}, "
                   f"{len(gs - ws)} only in output, {len(ws - gs)} only in oracle")


# --- corpus_neardup ---------------------------------------------------------

def value_digest(pdf) -> dict:
    """Row count, sorted column names and a hash of the rows as the
    pytest parity gates canonicalize them (``tests/parity_util.canon``):
    equal iff the two results hold the same multiset of values."""
    from tests.parity_util import canon

    cols, rows = canon(pdf)
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    return {"rows": len(pdf), "cols": cols, "hash": h}


def query_params(queries: dict, name: str) -> dict:
    """Keyword arguments a registered (functools.partial) query fixes,
    over the wrapped function's defaults."""
    q = queries[name]
    fn = getattr(q, "func", q)
    params = {k: p.default for k, p in inspect.signature(fn).parameters.items()
              if p.default is not inspect.Parameter.empty}
    params.update(getattr(q, "keywords", {}) or {})
    return params


def nd_oracle_sql(queries: dict, oracles: dict, duck_names: list[str]) -> dict:
    """DuckDB SQL of the checked queries, plus the exact all-pairs
    word n-gram Jaccard join at the LSH query's ``n`` and ``threshold``."""
    from joint_entity_and_relation_extraction_spark.operators import dedup as DD

    p = query_params(queries, "dedup_minhash_lsh")
    sql = {n: oracles[n] for n in duck_names}
    sql["exact_pairs"] = DD.sql_ngram_jaccard(
        n=p["n"], threshold=p["threshold"], max_df=UNCAPPED_DF)
    return sql


def nd_oracle_digest(sql: dict, queries: dict) -> str:
    """The oracle SQL, the query parameters the check reads, this file
    and the shared normalizer."""
    import tests.parity_util

    params = [repr(sorted(query_params(queries, q).items()))
              for q in ("dedup_minhash_lsh", "dedup_minhash_incremental")]
    return source_digest([__file__, tests.parity_util.__file__],
                         [json.dumps(sql, sort_keys=True)] + params)


def nd_oracle(corpus_dir: str, sql: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        path = os.path.join(corpus_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        duck = {n: value_digest(con.execute(q).df())
                for n, q in sql.items() if n != "exact_pairs"}
        exact = con.execute(sql["exact_pairs"]).fetchall()
    finally:
        con.close()
    return {"duck": duck,
            "exact_pairs": sorted([int(a), int(b), float(j)] for a, b, _, j in exact)}


def _pairs(pdf) -> dict[tuple[int, int], float]:
    return {(int(a), int(b)): float(j) for a, b, j in
            pdf[["d1", "d2", "jaccard"]].itertuples(index=False, name=None)}


def lsh_degrees(pairs: dict[tuple[int, int], float]) -> dict[int, tuple]:
    """doc_id -> (degree, w_sum, w_max) of the symmetrized pair list."""
    acc: dict[int, list] = {}
    for (a, b), j in pairs.items():
        for v in (a, b):
            d = acc.setdefault(v, [0, 0.0, 0.0])
            d[0] += 1
            d[1] += j
            d[2] = max(d[2], j)
    return {v: (n, s, m) for v, (n, s, m) in acc.items()}


def nd_check(results: dict, want: dict, queries: dict) -> tuple[bool, str]:
    bad = []
    for name, exp in want["duck"].items():
        got = value_digest(results[name])
        if got != exp:
            bad.append(f"{name}: {got['rows']} rows vs oracle {exp['rows']}"
                       + ("" if got["cols"] == exp["cols"] else
                          f", columns {got['cols']} vs {exp['cols']}")
                       + (", values differ" if got["rows"] == exp["rows"] else ""))
    lsh = _pairs(results["dedup_minhash_lsh"])
    exact = {(a, b): j for a, b, j in want["exact_pairs"]}
    wrong = sum(1 for p, j in lsh.items() if exact.get(p) != j)
    recall = len(lsh.keys() & exact.keys()) / max(len(exact), 1)
    if wrong or recall < LSH_MIN_RECALL:
        bad.append(f"dedup_minhash_lsh: {wrong} pairs off the exact Jaccard, "
                   f"recall {recall:.3f}")
    mod = query_params(queries, "dedup_minhash_incremental")["mod"]
    inc = _pairs(results["dedup_minhash_incremental"])
    if inc != {p: j for p, j in lsh.items() if p[0] % mod == 0 or p[1] % mod == 0}:
        bad.append("dedup_minhash_incremental: differs from the restricted "
                   "full LSH pairs")
    deg = {int(v): (int(n), float(s), float(m)) for v, n, s, m in
           results["graph_degrees_lsh"][["doc_id", "degree", "w_sum", "w_max"]]
           .itertuples(index=False, name=None)}
    ref = lsh_degrees(lsh)
    if deg.keys() != ref.keys() or any(
            deg[v][0] != ref[v][0] or deg[v][2] != ref[v][2]
            or abs(deg[v][1] - ref[v][1]) > 1e-6 for v in ref):
        bad.append("graph_degrees_lsh: differs from the degrees of the LSH pairs")
    if bad:
        return False, "; ".join(bad)
    return True, f"6 queries match; LSH recall {recall:.3f}"
