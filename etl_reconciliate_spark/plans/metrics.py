"""Row-count metrics.

The reference logs per-message counts ad hoc
(reference: service/ReconciliationService.java:68-75). The engine makes
them first-class: named stage counters collected via Spark's
``Observation`` API — metrics ride along with the job's own actions,
costing no extra pass over the data. (Per-slice file lineage is read
from the change log's footer index: ``sources.changelog``.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def observed_or(obs, keys: tuple[str, ...], default: int = 0) -> dict:
    """Read an ``Observation``'s metrics, tolerating the empty-plan
    failure: on an empty input AQE propagates the empty relation and
    eliminates the CollectMetrics node, making ``obs.get`` raise — the
    metrics then ARE the defaults. One implementation of the guard
    (the replay loop carried two inline copies — r5 review)."""
    try:
        got = obs.get
        return {k: int(got[k] or default) for k in keys}
    except Exception:
        return {k: default for k in keys}


def observe_count(df: DataFrame):
    """Attach a plain row counter via ``Observation``; evaluated for free
    by whatever action later consumes ``df``."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def observe_ops(deduped: DataFrame):
    """Attach I/U/D counters to ``deduped`` via the ``Observation`` API.

    Returns ``(df, observation)``; after any ACTION consumes ``df`` (the
    merge's snapshot write), ``observation.get`` yields the counts with
    zero extra passes — the Spark-native replacement for the reference's
    per-step READ_COUNT/WRITE_COUNT counters
    (reference: src/main/resources/springbatch-schema.sql:34-56)."""
    from pyspark.sql import Observation

    obs = Observation()
    df = deduped.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0)).alias("I"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).alias("U"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("D"),
    )
    return df, obs
