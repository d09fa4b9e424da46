"""The 72-query carto corpus (S15) — the de-facto SQL acceptance suite.

Reference: queries parsed from the ``.mml`` project file at
``/root/reference/osmquadtree-geometry.go:87-148`` (Datasource.table entries,
``!pixel_width!``/``!pixel_height!`` tokens substituted with 1 at :129-131).

``load_corpus`` extracts (name, sql): each entry is a ``( SELECT ... ) AS
alias`` table expression, run through the dialect shims
(``functions.dialect.translate``) as Spark SQL over the registered virtual
tables.
"""

from __future__ import annotations

import json
import os

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

