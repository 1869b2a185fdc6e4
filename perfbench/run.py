"""Oracle-checked benchmark of the KG engine.

Run from the repository root::

    python3 perfbench/run.py --workload kg_fresh_crawl --seed 1 --seconds 10 --trace 0

One invocation is one driver process with one ``local[<nproc>]`` Spark
session. It generates the workload's ``documents`` table from the seed
(perfbench/corpus.py), computes (or reuses) the oracle's answer for it,
measures the host's kernel speed, builds the session, runs one cold
operation and then warm operations for ``--seconds`` (at least one).
Every operation's output is checked against the oracle; a mismatch, an
exception or a timeout counts the operation as failed.

``--trace 1`` adds, after the untraced operations, one traced operation
(a span and a Spark job group per layer, barriers between layers, the
Spark event log on) and reports the per-layer metrics instead of the
end-to-end ones.

Everything is written under ``.perfbench_work/`` in the repository root,
including one JSON artifact per invocation with host context (nproc,
load1 and the CPU steal share around each operation, kernel speed),
every operation's record, and the spans. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "joint_entity_and_relation_extraction_spark"

DRIVER_MEMORY = "2g"
#: an operation still running after this is cancelled and counted failed
OP_TIMEOUT_S = 100.0
#: no new operation starts once it could end past this (exit within 180 s)
RUN_BUDGET_S = 160.0
PROBE_SENTENCES = 256
PROBE_PAGES = 200
PROBE_REPEATS = 3

END_TO_END = {
    "run_s": "s", "docs_per_s": "1/s", "cold_run_s": "s", "setup_s": "s",
    "peak_rss_mb": "MB",
}
#: per-layer timings: metric -> span name (the span's layer is its module)
SPAN_METRICS = {
    "webpages.s": "webpages",
    "extract.text_s": "extract.text",
    "extract.infer_distinct_s": "extract.infer_distinct",
    "extract.join_back_s": "extract.join_back",
    "linking.alias_s": "linking.alias",
    "linking.resolve_s": "linking.resolve",
    "canonicalize.cc_s": "canonicalize.cc",
    "canonicalize.canon_s": "canonicalize.canon",
    "iceberglite.write_s": "iceberglite.write",
    "iceberglite.read_s": "iceberglite.read",
    "dedup.minhash_lsh_s": "dedup.minhash_lsh",
    "dedup.minhash_incremental_s": "dedup.minhash_incremental",
    "dedup.edit_verify_s": "dedup.edit_verify",
    "dedup.substring_spans_s": "dedup.substring_spans",
    "graph.degrees_lsh_s": "graph.degrees_lsh",
    "textstats.bigram_logprob_s": "textstats.bigram_logprob",
}
COUNT_METRICS = (
    "webpages.pages", "extract.sentences", "extract.distinct_sentences",
    "extract.triples_raw", "linking.surfaces", "linking.edges",
    "canonicalize.cc_nodes", "canonicalize.triples", "iceberglite.files",
    "dedup.lsh_candidates", "dedup.lsh_pairs",
)
LAYERS = ("webpages", "extract", "linking", "canonicalize", "iceberglite",
          "dedup", "graph", "textstats")
PER_LAYER = {
    "session.build_s": "s", "session.warmup_s": "s",
    **{m: "s" for m in SPAN_METRICS},
    **{m: "count" for m in COUNT_METRICS},
    "iceberglite.bytes": "bytes",
    "extract.distinct_ratio": "ratio", "dedup.lsh_precision": "ratio",
    "text.pages_per_s": "1/s", "model.sents_per_s": "1/s",
    **{f"{lay}.{k}": u for lay in LAYERS for k, u in (
        ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
        ("task_skew", "ratio"), ("utilization", "ratio"))},
    "trace.overhead_s": "s", "trace.untraced_s": "s",
}


def preflight() -> None:
    """The benchmark needs the program it measures; without it, fail fast
    and print no result."""
    for rel in (f"{PACKAGE}/__init__.py", "oracle/pipeline_local.py",
                "tests/parity_util.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.stderr.write(f"perfbench: {rel} not found under {ROOT}; "
                             "run from a full checkout of the repository\n")
            sys.exit(2)


def configure_env() -> None:
    """Spark and its Python workers import the engine from this checkout
    and keep every temporary file inside it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no hsperfdata files
    # in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def percentile_summary(values: list[float]) -> dict:
    """Median, max and the highest percentile with >= 10 samples beyond it
    (None below 11 samples), with the count."""
    vs = sorted(values)
    out = {"n": len(vs), "median": statistics.median(vs) if vs else None,
           "max": vs[-1] if vs else None, "pct": None, "pct_value": None}
    if len(vs) >= 11:
        out["pct"] = round(100 * (len(vs) - 10) / len(vs), 2)
        out["pct_value"] = vs[len(vs) - 11]
    return out


def kernel_rates() -> dict:
    """Single-process speed of the two pure-Python kernels on a fixed
    (seed-independent) sample: the host's speed in this invocation."""
    from joint_entity_and_relation_extraction_spark.functions import model as M
    from joint_entity_and_relation_extraction_spark.functions import text as T
    from joint_entity_and_relation_extraction_spark.functions import webgen

    from perfbench import corpus

    cols = corpus.generate(0, 2 * PROBE_PAGES, 1, 1.0).to_pydict()
    pages = [webgen.make_html(i, t, lg) for i, t, lg in
             zip(cols["doc_id"], cols["text"], cols["lang"])][:PROBE_PAGES]
    sents = [s["tokens"] for p in pages
             for s in T.sentences(T.html_to_text(p))][:PROBE_SENTENCES]
    M.extract_batch(sents[:32])  # weights and buffers

    def rate(n, fn):
        times = []
        for _ in range(PROBE_REPEATS):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return n / statistics.median(times)

    return {"text.pages_per_s": rate(len(pages), lambda: [T.html_to_text(p) for p in pages]),
            "model.sents_per_s": rate(len(sents), lambda: M.extract_batch(sents))}


class Session:
    """One Spark session: build + warm-up timed, JVM and workers stopped
    and waited for on close."""

    def __init__(self, cores: int, event_dir: str | None) -> None:
        from joint_entity_and_relation_extraction_spark.session import build_session

        from perfbench.workloads import warm_worker

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = build_session(master=f"local[{cores}]", app_name="perfbench",
                                   extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        n = 2 * cores
        self.spark.range(0, n, 1, n).mapInPandas(warm_worker, "id long").count()
        self.build_s, self.warmup_s = t1 - t0, time.perf_counter() - t1

    def close(self) -> None:
        from pyspark import SparkContext

        from perfbench.tracing import descendants

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.2)


def timed_op(spark, kind: str, fn, check) -> tuple[dict, object]:
    """Run one operation; time it, check it (outside the timed region)
    and record load1 around it. Returns (record, output or None)."""
    from perfbench.tracing import cpu_ticks, load1, steal_share

    rec = {"kind": kind, "load1_start": load1()}
    ticks = cpu_ticks()
    watchdog = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    watchdog.start()
    t0 = time.perf_counter()
    try:
        out = fn()
        rec["wall_s"] = time.perf_counter() - t0
    except Exception as e:  # noqa: BLE001 — a failed operation is counted, the run goes on
        rec["wall_s"] = time.perf_counter() - t0
        rec.update(ok=False, check=f"raised {type(e).__name__}: {str(e)[:500]}")
        out = None
    finally:
        watchdog.cancel()
    rec["load1_end"] = load1()
    rec["steal_share"] = steal_share(ticks, cpu_ticks())
    if out is not None:
        try:
            rec["ok"], rec["check"] = check(out)
        except Exception as e:  # noqa: BLE001 — output the check cannot read is wrong
            rec.update(ok=False, check=f"check raised {type(e).__name__}: {e}")
    if rec["wall_s"] >= OP_TIMEOUT_S:
        rec.update(ok=False, check=f"timed out after {OP_TIMEOUT_S:.0f} s")
    return rec, out


def end_to_end_metrics(r: dict) -> dict:
    warm = [o["wall_s"] for o in r["ops"] if o["kind"] == "warm"]
    run_s = statistics.median(warm)
    values = {
        "run_s": run_s,
        "docs_per_s": r["corpus"]["documents"] / run_s,
        "cold_run_s": next(o["wall_s"] for o in r["ops"] if o["kind"] == "cold"),
        "setup_s": r["setup"]["build_s"] + r["setup"]["warmup_s"],
        "peak_rss_mb": r["peak_rss_bytes"] / 2 ** 20,
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer_metrics(r: dict) -> dict:
    t = r["trace"]
    counts = t["counts"]
    values: dict[str, float] = {
        "session.build_s": r["setup"]["build_s"],
        "session.warmup_s": r["setup"]["warmup_s"],
        "text.pages_per_s": r["host"]["text.pages_per_s"],
        "model.sents_per_s": r["host"]["model.sents_per_s"],
        "trace.overhead_s": t["traced_wall_s"] - t["untraced_run_s"],
        "trace.untraced_s": t["uncovered_s"],
    }
    for m, span in SPAN_METRICS.items():
        values[m] = t["span_s"].get(span, 0.0)
    for m in COUNT_METRICS + ("iceberglite.bytes",):
        values[m] = counts.get(m, 0)
    sents = counts.get("extract.sentences", 0)
    values["extract.distinct_ratio"] = (
        counts.get("extract.distinct_sentences", 0) / sents if sents else 0.0)
    cand = counts.get("dedup.lsh_candidates", 0)
    values["dedup.lsh_precision"] = counts.get("dedup.lsh_pairs", 0) / cand if cand else 0.0
    for lay in LAYERS:
        c = t["layers"].get(lay, {})
        for k in ("shuffle_bytes", "spill_bytes", "task_skew", "utilization"):
            values[f"{lay}.{k}"] = c.get(k, 0)
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}


def layer_stats(tracer, op_id: int, event_dir: str, cores: int) -> dict:
    from perfbench import tracing

    counters = tracing.layer_counters(tracing.event_log_file(event_dir))
    out = {}
    for lay, w in tracer.layer_seconds(op_id).items():
        c = counters.get(lay, {"run_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0,
                               "tasks": 0, "stages": {}})
        out[lay] = {
            "wall_s": w, "tasks": c["tasks"], "run_ms": c["run_ms"],
            "shuffle_bytes": c["shuffle_bytes"], "spill_bytes": c["spill_bytes"],
            "task_skew": tracing.task_skew(c["stages"]),
            "utilization": c["run_ms"] / (w * 1000 * cores) if w > 0 else 0.0,
        }
    return out


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import joint_entity_and_relation_extraction_spark  # noqa: F401  (BLAS threads, before numpy)

    from perfbench import checks, corpus, tracing
    from perfbench.workloads import (NEARDUP_SUITE, WORKLOADS, kg_op, neardup_op,
                                     registry_queries)

    t_start = time.monotonic()
    wl = WORKLOADS[workload]
    tag = f"{workload}-s{seed}-t{int(trace)}"
    corpus_dir = os.path.join(WORK, "corpus", f"{workload}-s{seed}")
    meta = corpus.write_corpus(corpus_dir, seed, wl.n_base, wl.replicas,
                               wl.distinct_share)

    t0 = time.perf_counter()
    cache = os.path.join(WORK, "oracle-cache")
    key = f"{workload}-s{seed}-{meta['input_sha256'][:16]}"
    queries = None
    if wl.kind == "kg":
        key += "-" + checks.kg_oracle_digest()[:16]
        want = checks.cached(cache, key, lambda: checks.kg_oracle(corpus_dir))
        check = lambda pdf: checks.kg_check(pdf, want)  # noqa: E731
    else:
        queries, oracles = registry_queries()
        sql = checks.nd_oracle_sql(
            queries, oracles, [q for _, q in NEARDUP_SUITE if q in oracles])
        key += "-" + checks.nd_oracle_digest(sql, queries)[:16]
        want = checks.cached(cache, key, lambda: checks.nd_oracle(corpus_dir, sql))
        check = lambda res: checks.nd_check(res, want, queries)  # noqa: E731
    oracle_s = time.perf_counter() - t0

    cores = tracing.nproc()
    ticks = tracing.cpu_ticks()
    host = {"nproc": cores, "load1_start": tracing.load1(), **kernel_rates()}
    event_dir = None
    if trace:
        event_dir = os.path.join(WORK, "events", tag)
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
    out_base = os.path.join(WORK, "out", tag)

    def op_fn(i: int):
        out_root = os.path.join(out_base, f"op{i}")
        shutil.rmtree(out_root, ignore_errors=True)
        if wl.kind == "kg":
            return lambda: kg_op(sess.spark, corpus_dir, out_root, f"r{i}")
        return lambda: neardup_op(sess.spark, corpus_dir, queries)

    ops: list[dict] = []
    trace_rec = None
    sess = Session(cores, event_dir)
    try:
        with tracing.RssSampler() as rss:
            rec, _ = timed_op(sess.spark, "cold", op_fn(0), check)
            ops.append(rec)
            window = time.monotonic()
            last_out = None
            while True:
                rec, out = timed_op(sess.spark, "warm", op_fn(len(ops)), check)
                ops.append(rec)
                last_out = out if out is not None else last_out
                now = time.monotonic()
                reserve = rec["wall_s"] * (2.5 if trace else 1.2)
                if now - window >= seconds or now - t_start + reserve > RUN_BUDGET_S:
                    break
            if trace:
                trace_rec = traced_run(sess, wl, corpus_dir, out_base, len(ops),
                                       check, queries, last_out)
                ops.append(trace_rec.pop("op"))
    finally:
        sess.close()
    if trace_rec is not None:
        trace_rec["layers"] = layer_stats(trace_rec.pop("tracer"), trace_rec["op_id"],
                                          event_dir, cores)
    shutil.rmtree(out_base, ignore_errors=True)

    host["load1_end"] = tracing.load1()
    host["steal_share"] = tracing.steal_share(ticks, tracing.cpu_ticks())
    warm = [o["wall_s"] for o in ops if o["kind"] == "warm"]
    result = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "host": host, "corpus": meta, "oracle_s": oracle_s,
        "setup": {"build_s": sess.build_s, "warmup_s": sess.warmup_s},
        "peak_rss_bytes": rss.peak_bytes, "ops": ops,
        "run_s": percentile_summary(warm),
        "attempted": len(ops), "failed": sum(1 for o in ops if not o["ok"]),
        "wall_s": time.monotonic() - t_start,
    }
    result["error_rate"] = result["failed"] / result["attempted"]
    if trace_rec is not None:
        trace_rec["untraced_run_s"] = statistics.median(warm)
        result["trace"] = trace_rec
    return result


def traced_run(sess, wl, corpus_dir, out_base, i, check, queries,
               untraced_out) -> dict:
    """One traced operation; its output must equal the oracle and the
    last untraced operation's output."""
    from perfbench import checks
    from perfbench.tracing import OP_SPAN, Tracer
    from perfbench.workloads import kg_traced_op, lsh_candidates, neardup_op

    tr = Tracer(sess.spark.sparkContext)
    out_root = os.path.join(out_base, f"op{i}")
    shutil.rmtree(out_root, ignore_errors=True)
    counts: dict = {}
    op_ids: list[int] = []

    def fn():
        if wl.kind == "kg":
            pdf, n, op_id = kg_traced_op(sess.spark, corpus_dir, out_root,
                                         f"r{i}", tr)
            counts.update(n)
            op_ids.append(op_id)
            return pdf
        with tr.span(OP_SPAN) as op:
            res = neardup_op(sess.spark, corpus_dir, queries, tr)
        op_ids.append(op["id"])
        return res

    rec, out = timed_op(sess.spark, "traced", fn, check)
    same = None
    if out is not None and untraced_out is not None:
        if wl.kind == "kg":
            same = checks.triple_rows(out) == checks.triple_rows(untraced_out)
        else:
            same = all(checks.value_digest(out[q]) == checks.value_digest(untraced_out[q])
                       for q in out)
        if not same:
            rec.update(ok=False, check="traced output differs from the untraced output")
    if out is not None and wl.kind != "kg":
        p = checks.query_params(queries, "dedup_minhash_lsh")
        counts["dedup.lsh_pairs"] = len(out["dedup_minhash_lsh"])
        counts["dedup.lsh_candidates"] = lsh_candidates(sess.spark, corpus_dir, p["n"])
    op_id = op_ids[0] if op_ids else None
    return {
        "op": rec, "tracer": tr, "op_id": op_id, "counts": counts,
        "traced_equals_untraced": same, "traced_wall_s": rec["wall_s"],
        "span_s": {s["name"]: tr.seconds(s["name"]) for s in tr.spans},
        "uncovered_s": tr.uncovered_seconds(op_id) if op_id is not None else 0.0,
        "spans": tr.spans,
    }


def main(argv: list[str] | None = None) -> None:
    sys.path[0] = ROOT  # import perfbench as a package, not its files
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="Oracle-checked KG engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    preflight()
    configure_env()

    r = run(a.workload, a.seed, a.seconds, bool(a.trace))
    metrics = per_layer_metrics(r) if a.trace else end_to_end_metrics(r)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(path, "w") as f:
        json.dump({**r, "metrics": metrics}, f, indent=1, default=str)
    print(json.dumps({"artifact": os.path.relpath(path, ROOT), "host": r["host"],
                      "run_s": r["run_s"], "error_rate": r["error_rate"],
                      "ops": [[o["kind"], round(o["wall_s"], 3), round(o["steal_share"], 3),
                               o["ok"], o["check"]] for o in r["ops"]]}))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
