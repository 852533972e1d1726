#!/usr/bin/env python
"""Build an N-times replica of the sf0.1 tables for larger-scale runs of
the frozen ``bench.py`` (the sf1-equivalent validation in
OPTIMIZATION_r06.md). Measurement tooling only — no bench or query
semantics live here.

Usage::

    python scale_testdata.py --out /tmp/sfbig_distinct --mode distinct
    python scale_testdata.py --out /tmp/sfbig_dupdense --mode dupdense
    SPARK_GRAFT_SF_DIR=/tmp/sfbig_distinct python bench.py

Construction contract (what a genuinely larger generated sf looks like):

- ids are renumbered DENSELY (``new_id = orig_id * factor + rep``) so FK
  joins stay consistent and every id stays far below the 10^6/10^7
  offsets the ops' corpus builders and the bench tenx builder add. A
  sparse ``rep * 10^7`` offset instead COLLIDES with the tenx builder's
  identical offset, producing duplicate doc_ids (violating the documents
  key contract) — which surfaces as a divide-by-zero in the Jaccard
  denominator, not a subtle wrong answer.
- ``--mode distinct``: replica tokens are suffixed with the rep id, so
  replica token/shingle spaces are disjoint from the original's — "more
  distinct documents", the shape of a larger generated corpus. All heavy
  ops measure linear at the resulting 100x-documents tenx leg.
- ``--mode dupdense``: replica token streams are ROTATED (shingle sets
  ~95% preserved), planting 100-member near-dup families at the tenx
  leg — the stress shape. Output-bound ops (exact Jaccard pair lists)
  go superlinear here BY DEFINITION of their output; see
  OPTIMIZATION_r06.md for the measured numbers.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from webcrawl_lowres_lang_spark.session import DEFAULT_CPUS, get_spark

SRC_DEFAULT = "/root/testdata/sf0.1"
# renumbered doc_id / vec_id must stay below the 10^6 offset the ops'
# corpus builders add (and so below the tenx builder's 10^7 offset)
ID_LIMIT = 1_000_000
_TOKENIZE = "filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' '), x -> x != '')"


def max_factor(max_id: int) -> int:
    """Largest ``--factor`` with ``(max_id + 1) * factor < ID_LIMIT``, so
    every renumbered id ``id * factor + rep`` stays below the limit."""
    return (ID_LIMIT - 1) // (max_id + 1)


def build(src: str, out: str, factor: int, mode: str) -> None:
    spark = get_spark(app_name="scale-testdata", master=f"local[{DEFAULT_CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    reps = spark.range(factor).select(F.col("id").alias("__rep"))

    def rd(name):
        return spark.read.parquet(os.path.join(src, f"{name}.parquet"))

    # id headroom, checked before any write
    max_id = max(
        rd("documents").agg(F.max("doc_id")).first()[0],
        rd("embeddings").agg(F.max("vec_id")).first()[0],
    )
    if factor > max_factor(max_id):
        spark.stop()
        sys.exit(
            f"--factor {factor} takes renumbered ids to (max id + 1) x factor = "
            f"{(max_id + 1) * factor:,}, not below {ID_LIMIT:,}; "
            f"the largest --factor {src} allows is {max_factor(max_id)}"
        )

    written: list[str] = []

    def wr(df, name, parts=DEFAULT_CPUS):
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet")
        )
        written.append(name)

    def renum(col):
        return (F.col(col) * factor + F.col("__rep")).alias(col)

    # dims: copy as-is (a bigger corpus shares the same dimension tables)
    for t in ("region", "nation", "customer", "supplier", "part"):
        wr(rd(t), t, parts=1)

    # orders + lineitem: renumber orderkey consistently so the FK join holds
    wr(
        rd("orders").crossJoin(F.broadcast(reps))
        .withColumn("o_orderkey", renum("o_orderkey")).drop("__rep"),
        "orders",
    )
    wr(
        rd("lineitem").crossJoin(F.broadcast(reps))
        .withColumn("l_orderkey", renum("l_orderkey")).drop("__rep"),
        "lineitem",
    )

    # events: renumber event ids and users (factor-x users)
    wr(
        rd("events").crossJoin(F.broadcast(reps))
        .withColumn("event_id", renum("event_id"))
        .withColumn("user_id", renum("user_id"))
        .drop("__rep"),
        "events",
    )

    # documents: rep 0 keeps the original text; reps >= 1 get mode-shaped text
    if mode == "distinct":
        replica_text = F.expr("array_join(transform(__t, x -> concat(x, 'r', __rep)), ' ')")
    else:  # dupdense: rotate the token stream by rep/factor of its length
        replica_text = F.expr(
            "array_join(concat("
            f" slice(__t, cast(size(__t) * __rep / {factor} as int) + 1,"
            f"       size(__t) - cast(size(__t) * __rep / {factor} as int)),"
            f" slice(__t, 1, cast(size(__t) * __rep / {factor} as int)),"
            " array(concat('rep', __rep))), ' ')"
        )
    wr(
        rd("documents").crossJoin(F.broadcast(reps))
        .withColumn("__t", F.expr(_TOKENIZE))
        .withColumn("text", F.when(F.col("__rep") == 0, F.col("text")).otherwise(replica_text))
        .withColumn("n_chars", F.length("text"))
        .withColumn("doc_id", renum("doc_id"))
        .drop("__rep", "__t"),
        "documents",
    )

    # embeddings: renumber vec_id; vectors copied verbatim (factor-member
    # identical families — bounded; see OPTIMIZATION_r06.md for the 100x
    # identical-copy caveat this creates under the bench's tenx leg)
    wr(
        rd("embeddings").crossJoin(F.broadcast(reps))
        .withColumn("vec_id", renum("vec_id")).drop("__rep"),
        "embeddings",
    )

    for t in written:
        df = spark.read.parquet(os.path.join(out, f"{t}.parquet"))
        key = {"documents": "doc_id", "embeddings": "vec_id"}.get(t)
        msg = f"{t}.parquet rows={df.count()}"
        if key:
            msg += f" distinct_{key}={df.select(key).distinct().count()}"
        print(msg, flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--src", default=SRC_DEFAULT)
    ap.add_argument("--out", required=True)
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--mode", choices=("distinct", "dupdense"), default="distinct")
    a = ap.parse_args()
    build(a.src, a.out, a.factor, a.mode)


if __name__ == "__main__":
    main()
