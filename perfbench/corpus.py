"""``corpus-dedup``: the registered dedup and text plans over a generated
``documents`` table, each result checked against the plan's DuckDB oracle
with ``tests/oracle_harness.compare``.

The documents follow the shape of the repository's synthetic ``documents``
table (doc_id, text, lang, source, n_chars; 10-100 tokens from a small
technical vocabulary), drawn from ``--seed``. Set-up also ships the package to the executors
and runs one untimed pass of the ``TIMED`` plans: the first run of a plan
in a fresh session is about three times slower than the next ones
(python workers, UDF set-up, JIT), and timing it measured the cold start
rather than the plan. A timed pass then runs each ``TIMED`` plan once and
collects its rows; passes repeat until ``seconds`` have passed, and the
median pass is reported. The traced run then times the other registered
plans of ``PLANS`` once.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np
import pandas as pd

N_DOCS = 2000
# set-up runs TIMED once, every run times TIMED, the traced run also times
# the rest of PLANS once; every result is checked against its oracle
TIMED = ("dedup_minhash_lsh",)
PLANS = (*TIMED, "dedup_exact", "dedup_cluster_components", "dedup_simhash",
         "text_langid_ngram", "text_quality_score")
VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20


def gen_documents(seed: int, n: int) -> pd.DataFrame:
    """~2% of documents repeat an earlier document's text exactly and ~5%
    carry a ``dup`` marker token, so exact and near dedup both have work."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    texts, pos = [], 0
    for i, k in enumerate(lengths):
        toks = list(words[pos : pos + k])
        pos += k
        if rng.random() < 0.05:
            toks[rng.integers(0, k)] = "dup"
        if i > 0 and rng.random() < 0.02:
            toks = texts[rng.integers(0, i)].split()
        texts.append(" ".join(toks))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_documents(seed: int, n: int, sf_dir: str) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    gen_documents(seed, n).to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    return sf_dir


def run(spark, seed: int, seconds: float, tracer, work: str, run_span, deadline: float) -> dict:
    import duckdb
    from tests.oracle_harness import compare
    from webcrawl_lowres_lang_spark.plans import pipeline_ops
    from webcrawl_lowres_lang_spark.plans.registry import REGISTRY, ensure_executors_can_import

    t = time.perf_counter()
    sid = tracer.open("setup", run_span)
    sf_dir = write_documents(seed, N_DOCS, os.path.join(work, "corpus"))
    ensure_executors_can_import(spark)

    results: dict[str, list] = {name: [] for name in PLANS}
    failed, notes = 0, []

    def run_plan(name: str, parent) -> float:
        nonlocal failed
        sid = tracer.open(f"plan:{name}", parent)
        t = time.perf_counter()
        try:
            pdf = REGISTRY[name].fn(spark, sf_dir).toPandas()
        except Exception:
            failed += 1
            notes.append(f"{name}: {traceback.format_exc()}")
            pdf = None
        finally:
            pipeline_ops.release_persisted()
        dt = time.perf_counter() - t
        tracer.close(sid, rows=-1 if pdf is None else len(pdf))
        results[name].append(pdf)
        return dt

    for name in TIMED:  # python workers up, the plans' code paths warm
        run_plan(name, sid)
    tracer.close(sid)
    init_s = time.perf_counter() - t

    passes: list[dict[str, float]] = []
    t_loop = time.perf_counter()
    while not passes or time.perf_counter() - t_loop < seconds:
        psid = tracer.open(f"pass{len(passes)}", run_span)
        passes.append({name: run_plan(name, psid) for name in TIMED})
        tracer.close(psid)
    layers = {}
    if tracer.enabled:
        plan_s = {name: float(np.median([p[name] for p in passes])) for name in TIMED}
        psid = tracer.open("untimed-plans", run_span)
        for name in PLANS:
            if name in plan_s:
                continue
            if time.monotonic() > deadline:  # reported as 0
                print(f"perfbench: plan {name} skipped, past the run deadline", file=sys.stderr)
                continue
            plan_s[name] = run_plan(name, psid)
        tracer.close(psid)
        layers["plans"] = {f"{name}_s": v for name, v in plan_s.items()}

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{os.path.join(sf_dir, 'documents.parquet')}'"
        )
        for name in PLANS:
            if not any(r is not None for r in results[name]):
                continue
            want = con.execute(REGISTRY[name].oracle).fetchdf()
            for pdf in results[name]:
                if pdf is None:
                    continue
                try:
                    compare(pdf, want, name)
                except AssertionError as e:
                    failed += 1
                    notes.append(str(e))
    finally:
        con.close()

    pass_s = [sum(p.values()) for p in passes]
    return {
        "init_s": init_s,
        "op_s": pass_s,
        "items_per_s": N_DOCS / float(np.median(pass_s)),
        "attempted": sum(len(r) for r in results.values()),
        "failed": failed,
        "notes": notes,
        "layers": layers,
    }
