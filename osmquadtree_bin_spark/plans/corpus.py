"""The 72-query carto corpus (S15) — the de-facto SQL acceptance suite.

Reference: queries parsed from the ``.mml`` project file at
``/root/reference/osmquadtree-geometry.go:87-148`` (Datasource.table entries,
``!pixel_width!``/``!pixel_height!`` tokens substituted with 1 at :129-131).

``load_corpus`` extracts (name, sql); ``run_query`` translates through the
dialect shims and executes as Spark SQL over the registered virtual tables.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import translate

# Public CartoCSS project fixture (the reference's query corpus source). A
# copy lives in tests/fixtures/; SPARK_GRAFT_MML_PATH overrides.
MML_PATH = os.environ.get(
    "SPARK_GRAFT_MML_PATH",
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "tests", "fixtures", "project-oqt.mml"),
)


def load_corpus(path: str = MML_PATH) -> dict[str, str]:
    with open(path) as f:
        doc = json.load(f)
    out: dict[str, str] = {}
    for layer in doc.get("Layer", []):
        table = layer.get("Datasource", {}).get("table")
        if table:
            out[layer["name"]] = table
    return out


def to_spark_sql(corpus_sql: str) -> str:
    """A corpus entry is a ``( SELECT ... ) AS alias`` table expression —
    wrap as a full query, then apply dialect rewrites."""
    return translate(f"SELECT * FROM {corpus_sql.strip()}")


def run_query(spark: SparkSession, corpus_sql: str) -> DataFrame:
    return spark.sql(to_spark_sql(corpus_sql))

