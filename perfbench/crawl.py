"""``crawl-rounds``: one crawler, closed loop, rounds run back to back.

About 5k URLs on 400 Zipf hosts with ``host_budget`` 4 gives a few hundred
fetches per round, so fixed per-round cost (job scheduling, caches,
checkpoint writes, the seen-set append) dominates and per-row layers do
little work. Set-up (timed as ``setup_s``) builds the engine and forces
its cached fixtures; the timed loop then runs rounds through
``CrawlEngine.run(rounds=1)`` until ``seconds`` have passed (round 0 seeds
the frontier, as ``run`` does). Every round is checked against the
sequential oracle in ``tests/reference_oracle``.

The traced run adds, after the timed loop, one replay per layer: each
public operator function re-run on the round's checkpointed inputs and
forced into a ``noop`` sink, plus a resume from the last checkpoint.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from dataclasses import replace

from harness import JobCounter, dir_stats, noop, timed

CRAWL = dict(n_urls=5000, n_pages=64, n_hosts=400, host_budget=4)
MAX_ROUNDS = 8

LAYER_METRICS = {
    "crawler": ("jobs_per_round", "tasks_per_round", "self_s", "resume_s"),
    "tablestore": ("files_written_per_round", "bytes_written_per_round", "write_s", "read_s"),
    "seen": ("filter_s", "add_s", "expire_s", "rebuild_s", "candidates", "fresh",
             "suspect_ratio", "false_positive_ratio", "filter_bytes"),
    "urls": ("canon_s", "rows", "dropped_ratio"),
    "politeness": ("admit_s", "frontier_rows", "admitted", "deferred", "held",
                   "top_domain_share"),
    "fetch": ("fetch_s", "decoded_images", "decode_ratio", "ok_ratio"),
    "scoring": ("score_s",),
    "ordering": ("sequence_s", "max_partition_share"),
    "neardup": ("neardup_s", "dup_ratio"),
}


def run(spark, seed: int, seconds: float, tracer, work: str, run_span, deadline: float) -> dict:
    from webcrawl_lowres_lang_spark.streaming.crawler import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(seed=seed, rounds=MAX_ROUNDS, **CRAWL)
    ck = os.path.join(work, "crawl")

    t = time.perf_counter()
    sid = tracer.open("setup", run_span)
    eng = CrawlEngine(spark, cfg, ck)
    for fixture in (eng.links, eng.pages, eng.outlinks):
        fixture.count()
    tracer.close(sid)
    init_s = time.perf_counter() - t

    jobs = JobCounter(spark) if tracer.enabled else None
    rounds: list[dict] = []
    error = None
    t_loop = time.perf_counter()
    while len(rounds) < MAX_ROUNDS:
        r = len(rounds)
        n_phase = len(getattr(eng, "phase_wall", ()))
        files0, bytes0 = dir_stats(ck)
        if jobs is not None:
            jobs.mark()
        sid = tracer.open(f"round{r}", run_span)
        t = time.perf_counter()
        try:
            eng.run(frontier=None if r == 0 else eng.resumed_frontier(), rounds=1)
        except Exception:
            error = traceback.format_exc()
            break
        dt = time.perf_counter() - t
        tracer.close(sid)
        files1, bytes1 = dir_stats(ck)
        rec = {"round_s": dt, "files": files1 - files0, "bytes": bytes1 - bytes0}
        if tracer.enabled:
            rec["jobs"], rec["tasks"] = jobs.since_mark()
            tracer.spans[sid].counts.update(fetched=eng.metrics[-1]["fetched"], **rec)
            phases = eng.phase_wall[n_phase:]
            ends = [s for _, s in phases[1:]] + [tracer.spans[sid].end]
            for (label, start), end in zip(phases, ends):
                tracer.add(f"phase:{label}", start, end, sid)
        rounds.append(rec)
        if time.perf_counter() - t_loop >= seconds:
            break

    try:
        failed, notes = _check(eng, cfg, len(rounds))
    except Exception:  # a check that cannot run fails every round it covers
        failed, notes = len(rounds), [traceback.format_exc()]
    if error is not None:
        failed += 1
        notes.append(error)
    attempted = len(rounds) + (error is not None)
    fetched = sum(m["fetched"] for m in eng.metrics[: len(rounds)])
    timed_s = sum(r["round_s"] for r in rounds)
    out = {
        "init_s": init_s,
        "op_s": [r["round_s"] for r in rounds],
        "items_per_s": fetched / timed_s if timed_s else 0.0,
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "layers": {},
    }
    if tracer.enabled and rounds:
        out["layers"] = _replay_layers(spark, eng, cfg, ck, work, rounds, tracer, run_span,
                                       deadline)
    return out


def _check(eng, cfg, n_rounds: int) -> tuple[int, list[str]]:
    """Failed rounds: fetch order differs from the oracle's, the oracle
    fetches nothing in the round, a fetched image fails its phash or PSNR
    gate, or (last round) the final seen set differs from the oracle's."""
    from pyspark.sql import functions as F
    from tests.reference_oracle import OracleCrawl
    from webcrawl_lowres_lang_spark.streaming.crawler import fetch_order

    if n_rounds == 0:
        return 0, []
    oracle = OracleCrawl(replace(cfg, rounds=n_rounds)).run()
    want: dict[int, list[str]] = {r: [] for r in range(n_rounds)}
    for f in oracle.fetches:
        want[f.round].append(f.url_canon)
    ledger = eng.ledger_df()
    got: dict[int, list[str]] = {r: [] for r in range(n_rounds)}
    for r, url in fetch_order(ledger):
        got.setdefault(r, []).append(url)
    bad_pixels = {
        row["round"]: row["n"]
        for row in ledger.filter(
            (F.col("status") == 200)
            & (~F.col("phash_ok") | (F.col("psnr_db") < 40.0) | F.col("psnr_db").isNull())
        ).groupBy("round").agg(F.count("*").alias("n")).collect()
    }
    seen = {row["url_hash"] for row in eng.seen.load().select("url_hash").collect()}
    failed, notes = 0, []
    for r in range(n_rounds):
        problems = []
        if not want[r]:
            problems.append("oracle fetches no URL in this round")
        if got.get(r) != want[r]:
            problems.append(f"fetch order differs ({len(got.get(r, []))} vs oracle {len(want[r])})")
        if bad_pixels.get(r):
            problems.append(f"{bad_pixels[r]} fetched images fail phash/PSNR >= 40 dB")
        if r == n_rounds - 1 and seen != oracle.seen:
            problems.append(f"seen set differs ({len(seen)} vs oracle {len(oracle.seen)} keys)")
        if problems:
            failed += 1
            notes.append(f"round {r}: " + "; ".join(problems))
    return failed, notes


def _replay_layers(spark, eng, cfg, ck, work, rounds, tracer, run_span, deadline) -> dict:
    """Per-layer numbers for round 0: each public operator re-run once on
    that round's checkpointed inputs and forced into a ``noop`` sink.

    Round 0's frontier after the robots filter is its ledger (the admitted
    rows) plus the depth-0 rows of its frontier snapshot (the deferred
    seeds); their url_hashes stand in for the pre-round seen set, which also
    held the few seeds robots dropped. No domain is blocked before round 0.
    Scheduling and checkpoint counts are medians over the timed rounds.
    Replays that would start after ``deadline`` (``time.monotonic``) are
    skipped and report 0, so a slow machine still ends the run in time."""
    import sys

    import numpy as np
    from pyspark.sql import functions as F
    from webcrawl_lowres_lang_spark.functions.urls import with_url_keys
    from webcrawl_lowres_lang_spark.operators.bloom import BloomConfig, PartitionedBloom
    from webcrawl_lowres_lang_spark.operators.fetch import fetch_and_validate
    from webcrawl_lowres_lang_spark.operators.neardup import suppress_near_dups
    from webcrawl_lowres_lang_spark.operators.ordering import with_global_sequence
    from webcrawl_lowres_lang_spark.operators.politeness import (
        admit_per_domain,
        robots_filter,
        with_priority,
    )
    from webcrawl_lowres_lang_spark.operators.seen import SeenSet
    from webcrawl_lowres_lang_spark.sources.tablestore import overwrite_table, read_table
    from webcrawl_lowres_lang_spark.streaming.crawler import CrawlEngine

    parent = tracer.open("replay:round0", run_span)
    L: dict[str, dict[str, float]] = {k: dict.fromkeys(ms, 0.0) for k, ms in LAYER_METRICS.items()}
    layer_spans: dict[str, list[int]] = {}

    def span(name: str, fn):
        if time.monotonic() > deadline:
            print(f"perfbench: replay {name} skipped, past the run deadline", file=sys.stderr)
            return None, 0.0
        sid = tracer.open(f"layer:{name}", parent)
        out, dt = timed(fn)
        tracer.close(sid)
        layer_spans.setdefault(name.split(".")[0], []).append(sid)
        return out, dt

    ledger = read_table(spark, os.path.join(ck, "ledger/r0")).cache()
    cols = ("url_id", "url", "url_canon", "url_hash", "host", "domain", "depth", "relevance",
            "robots_disallow")
    admitted0 = ledger.join(eng.links.select("url_id", "url", "robots_disallow"), "url_id").select(
        *cols[:4], F.parse_url(F.col("url_canon"), F.lit("HOST")).alias("host"), *cols[5:]
    )
    deferred0 = read_table(spark, os.path.join(ck, "frontier/r0")).filter(F.col("depth") == 0)
    fin = admitted0.unionByName(deferred0.select(*cols)).cache()
    led = ledger.agg(
        F.count("*").alias("rows"),
        F.count(F.when(F.col("status") == 200, 1)).alias("ok"),
        F.countDistinct(F.when(F.col("status") == 200, F.col("image_id"))).alias("images"),
        F.count("phash").alias("with_phash"),
        F.count(F.when(F.col("phash").isNotNull(), F.col("dup_of"))).alias("dups"),
    ).first()
    front = fin.groupBy("domain").count().agg(F.sum("count"), F.max("count")).first()
    n_front, top = front[0] or 0, front[1] or 0

    # politeness: priority + robots + per-domain budget admission
    def admit():
        p = robots_filter(with_priority(fin), eng.robots).cache()
        caches: list = []
        admitted, deferred = admit_per_domain(p, eng.robots, cfg.host_budget, caches=caches)
        n = admitted.count(), deferred.count()
        for c in [p, *caches]:
            c.unpersist()
        return n

    counts, L["politeness"]["admit_s"] = span("politeness", admit)
    n_adm, n_def = counts or (0, 0)
    L["politeness"].update(
        frontier_rows=n_front, admitted=n_adm, deferred=n_def, held=0,
        top_domain_share=top / n_front if n_front else 0.0,
    )

    # fetch + decode/validate of the round's admitted rows
    _, L["fetch"]["fetch_s"] = span(
        "fetch",
        lambda: noop(fetch_and_validate(
            ledger.select("url_id", "url_canon", "url_hash", "domain", "depth", "relevance",
                          "priority"),
            eng.links, eng.pages, cfg.seed, cfg.validate_pixels,
        )),
    )
    L["fetch"].update(
        decoded_images=led["images"], decode_ratio=led["images"] / led["ok"] if led["ok"] else 0.0,
        ok_ratio=led["ok"] / led["rows"] if led["rows"] else 0.0,
    )

    # caption scoring
    _, L["scoring"]["score_s"] = span(
        "scoring",
        lambda: noop(ledger.filter(F.col("caption").isNotNull())
                     .select(eng.score_udf(F.col("caption")).alias("s"))),
    )

    # canonical fetch order
    def sequence():
        caches: list = []
        seq = with_global_sequence(
            ledger.drop("fetch_seq"), [F.desc("priority"), F.asc("url_hash")], "fetch_seq",
            caches=caches,
        )
        sizes = [
            row["n"] for row in
            seq.groupBy(F.spark_partition_id().alias("p")).agg(F.count("*").alias("n")).collect()
        ]
        for c in caches:
            c.unpersist()
        return max(sizes) / sum(sizes)

    share, L["ordering"]["sequence_s"] = span("ordering", sequence)
    L["ordering"]["max_partition_share"] = share or 0.0

    # phash near-dup suppression (round 0 has no earlier representatives)
    _, L["neardup"]["neardup_s"] = span(
        "neardup",
        lambda: noop(suppress_near_dups(ledger.select("order_key", "phash"), "phash", "order_key",
                                        cfg.near_dup_max_hamming)),
    )
    L["neardup"]["dup_ratio"] = led["dups"] / led["with_phash"] if led["with_phash"] else 0.0

    # canonicalization of the round's raw outlink discoveries
    disc = (
        ledger.filter((F.col("status") == 200) & F.col("image_id").isNotNull()).select("url_id")
        .join(eng.outlinks, "url_id").select(F.col("dst").alias("url_id"))
        .join(eng.links.select("url_id", "url"), "url_id")
    ).cache()
    _, L["urls"]["canon_s"] = span("urls", lambda: noop(with_url_keys(disc)))
    keyed = with_url_keys(disc).cache()
    urls = keyed.agg(F.count("*"), F.count("url_canon")).first()
    L["urls"].update(rows=urls[0], dropped_ratio=1 - urls[1] / urls[0] if urls[0] else 0.0)

    # table store: re-read the round's snapshots, re-write the ledger
    _, L["tablestore"]["read_s"] = span(
        "tablestore.read",
        lambda: (noop(read_table(spark, os.path.join(ck, "ledger/r0"))),
                 noop(read_table(spark, os.path.join(ck, "frontier/r0")))),
    )
    _, L["tablestore"]["write_s"] = span(
        "tablestore.write",
        lambda: overwrite_table(ledger, os.path.join(work, "trace", "ledger_copy")),
    )
    L["tablestore"].update(
        files_written_per_round=statistics.median(x["files"] for x in rounds),
        bytes_written_per_round=statistics.median(x["bytes"] for x in rounds),
    )

    # seen set: a replay set holding the pre-round keys, then reads
    # (filter_unseen), writes (add), deletes (expire) and a rebuild
    if time.monotonic() <= deadline:
        bcfg = BloomConfig(capacity=cfg.bloom_capacity, fpp=0.01, num_shards=16)
        rs = SeenSet(spark, os.path.join(work, "trace", "seen"), n_buckets=16, bloom_config=bcfg)
        pre = fin.select("url_hash").distinct()
        rs.enable_empty_bloom()
        rs.add(pre, assume_new=True)
        cands = keyed.filter(F.col("url_canon").isNotNull()).select("url_hash").distinct().cache()
        pre_keys = np.array([row[0] for row in pre.collect()], dtype=np.int64)
        cand_keys = np.array([row[0] for row in cands.collect()], dtype=np.int64)
        flt = PartitionedBloom(bcfg).add_many(pre_keys)
        maybe = flt.might_contain(cand_keys)
        suspects = int(maybe.sum())
        false_pos = int(np.sum(maybe & ~np.isin(cand_keys, pre_keys)))
        filtered, L["seen"]["filter_s"] = span(
            "seen.filter", lambda: _count_cached(rs.filter_unseen(cands))
        )
        fresh, n_fresh = filtered or (None, 0)
        if fresh is not None:
            _, L["seen"]["add_s"] = span("seen.add", lambda: rs.add(fresh, assume_new=True))
            flt.add_many(np.array([row[0] for row in fresh.collect()], dtype=np.int64))
            fresh.unpersist()
        cands.unpersist()
        _, L["seen"]["expire_s"] = span("seen.expire", lambda: rs.expire(ledger.select("url_hash")))
        _, L["seen"]["rebuild_s"] = span("seen.rebuild", rs.build_bloom)
        L["seen"].update(
            candidates=len(cand_keys), fresh=n_fresh,
            suspect_ratio=suspects / len(cand_keys) if len(cand_keys) else 0.0,
            false_positive_ratio=false_pos / suspects if suspects else 0.0,
            filter_bytes=flt.memory_bytes(),
        )
    keyed.unpersist()
    disc.unpersist()
    ledger.unpersist()
    fin.unpersist()

    # crawler: scheduling counts, orchestration self time, resume
    layer_s = sum(
        L[k][m] for k, m in (
            ("politeness", "admit_s"), ("fetch", "fetch_s"), ("scoring", "score_s"),
            ("ordering", "sequence_s"), ("neardup", "neardup_s"), ("urls", "canon_s"),
            ("seen", "filter_s"), ("seen", "add_s"), ("tablestore", "write_s"),
        )
    )
    _, resume_s = span(
        "crawler.resume", lambda: CrawlEngine.resume(spark, ck).resumed_frontier().count()
    )
    L["crawler"].update(
        jobs_per_round=statistics.median(x["jobs"] for x in rounds),
        tasks_per_round=statistics.median(x["tasks"] for x in rounds),
        self_s=rounds[0]["round_s"] - layer_s,
        resume_s=resume_s,
    )
    for layer, sids in layer_spans.items():  # counts at the layer's span
        counts = {m: v for m, v in L[layer].items() if not m.endswith("_s")}
        for sid in sids:
            tracer.spans[sid].counts.update(counts)
    tracer.close(parent)
    shutil.rmtree(os.path.join(work, "trace"), ignore_errors=True)
    return L


def _count_cached(df):
    df = df.cache()
    return df, df.count()
