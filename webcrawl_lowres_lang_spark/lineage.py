"""Lineage cuts for frames that several actions read.

A cached frame keeps its plan: every plan that reads it embeds an
``InMemoryRelation`` that carries the frame's whole physical plan, and
Spark walks that plan again on every AQE stage update, every plan string
and every new cache's name. Cached frames built over other cached frames
nest, so one crawl round's plans grew to 10^7-10^8 characters. ``cut``
materializes a frame once as a local checkpoint instead: later plans read
it through a ``LogicalRDD`` leaf and stay as small as the code that built
them.

A local checkpoint has no lineage. Its blocks live on the executors that
computed them, so losing one fails the job that reads it instead of
recomputing it, and its blocks are freed through the checkpointed RDD
(``DataFrame.unpersist`` does nothing on a local checkpoint). ``release``
does that; this is the one module that knows the internal call. It goes
through ``SparkContext.unpersistRDD`` rather than ``RDD.unpersist``, which
frees the same blocks but logs a lineage warning for every checkpoint.

Do not cut a frame that carries an ``Observation``: the checkpoint's SQL
execution ends when the frame is planned, which can be before the
observed stage runs, and the observation then never fires.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame


def cut(df: DataFrame, held: list[DataFrame] | None = None) -> DataFrame:
    """``df`` as a lazy local checkpoint: the first action that reads it
    stores its partitions, and every later action reads those. Shuffle
    stages below it run at the call, as AQE plans them. Appends the result
    to ``held`` for a later ``release``."""
    out = df.localCheckpoint(eager=False)
    if held is not None:
        held.append(out)
    return out


def release(frames: Iterable[DataFrame]) -> None:
    """Free the blocks of frames returned by ``cut`` (blocking)."""
    for df in frames:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        rdd.context().unpersistRDD(rdd.id(), True)
