"""Driver-contract query registry.

Each submodule contributes QUERIES (name -> fn(spark, sf_dir) -> DataFrame)
and ORACLES (name -> ANSI/DuckDB SQL over the pre-registered star-schema
views). Names are the operator ids from SURVEY.md §2 plus the
training-data-pipeline operators (dedup / similarity / text / multimodal).
A query present in QUERIES but absent from ORACLES gets the driver's weaker
rows-only check (reserved for genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _collect() -> None:
    from . import (
        core,
        dedup,
        drift,
        engineops,
        ivf,
        multimodal,
        pipelineops,
        pq,
        roundops,
        similarity,
        textops,
        webops,
        windows,
    )
    from ._util import with_eps6

    for mod in (
        roundops,
        engineops,
        ivf,
        pq,
        pipelineops,
        webops,
        multimodal,
        drift,
        textops,
        windows,
        dedup,
        similarity,
        core,
    ):
        QUERIES.update(mod.QUERIES)
        ORACLES.update({k: with_eps6(v) for k, v in mod.ORACLES.items()})


_collect()
