"""Interleaved-document span handling.

Input table shape (BASELINE.json ``input_hint``):
    doc_id:string, spans:array<struct<kind,text,media_ref,offset:int32>>

``explode_geoms`` flattens the geometry-bearing spans into element rows with
(doc_id, span_idx) lineage, WKT bbox, tags, packed id and quadtree key — the
Spark analogue of the reference's element stream (SURVEY.md §1.4).

SPAN-SEQUENCE INVARIANT (the graft's hard rule): the ``spans`` array itself is
NEVER exploded-and-regrouped by the pipeline — results join back to documents
by ``doc_id``, so (kind, text, media_ref, order) survives bit-identical
(``tests/test_spans.py`` checks it with an order-sensitive digest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .functions.qtsql import with_qt_sql

# packed id: element type in bits >=59, low 40 bits the sequence id
# (reference convention: /root/reference/osmquadtree-postgis.go:279-284)
TYPE_POINT, TYPE_LINE, TYPE_POLYGON = 0, 1, 2




def explode_geoms(docs: DataFrame) -> DataFrame:
    """Flatten geom spans → element rows with lineage + qt key.

    Spark shape: posexplode → filter → split → str_to_map → JVM bbox →
    JVM quadtree Calculate (functions.qtsql). All narrow (no shuffle), zero
    Python/Arrow round-trips; Catalyst prunes the scan to (doc_id, spans).
    """
    # WKT bbox: JVM-side tokenize + higher-order array functions (codegen).
    # split on runs of non-numeric chars measures ~2x faster than
    # regexp_extract_all('-?\d+') at local[32] (one DFA pass, no per-match
    # group extraction); the empty-token filter drops the leading '' from
    # the geometry-type prefix.
    # keep tokens as strings and index x/y by stride with sequence() — two
    # array passes instead of the cast+filter(if-null) chain (HOFs run
    # interpreted, so fewer passes matter)
    # guard size<2: sequence(0, -1) would DESCEND to [0, -1] and the index
    # would go out of bounds (ANSI error) on coordinate-less WKT
    # float guard: the tokenizer assumes the fixed-point int convention
    # (reference quadtree.ToInt) — a decimal coordinate would silently shred
    # into wrong values ('1.5' -> 1, 5), so fail loudly instead
    nums = (
        "filter(split(if(contains(wkt, '.'), raise_error(concat("
        "'float WKT coordinates unsupported — fixed-point int degrees x 1e7 "
        "expected (reference quadtree.ToInt convention): ', wkt)), wkt), "
        "'[^-0-9]+'), v -> v != '')"
    )
    _seq = "sequence(0, int(size(_nums)/2) - 1)"
    xs = (f"if(size(_nums) < 2, cast(array() as array<bigint>), "
          f"transform({_seq}, i -> cast(_nums[i*2] as bigint)))")
    ys = (f"if(size(_nums) < 2, cast(array() as array<bigint>), "
          f"transform({_seq}, i -> cast(_nums[i*2+1] as bigint)))")
    e = (
        docs.select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
        .filter(F.col("span.kind") == "geom")
        .select(
            "doc_id",
            "span_idx",
            F.col("span.offset").alias("offset"),
            F.split(F.col("span.text"), r"\|", 2).alias("_parts"),
        )
        .select(
            "doc_id",
            "span_idx",
            "offset",
            # F.get, not [idx]: ANSI mode errors on out-of-bounds getItem,
            # and a tagless span has only one '|' part. (Latent until the
            # codegen fallback started evaluating CSE subexpressions ahead
            # of the filter's short-circuit.)
            F.get(F.col("_parts"), 0).alias("wkt"),
            F.coalesce(F.get(F.col("_parts"), 1), F.lit("")).alias("tagstr"),
        )
        .withColumn("tags", F.str_to_map("tagstr", F.lit(";"), F.lit("=")))
        .withColumn(
            # MULTI* routes to its base type (the reference's geometry.Multi,
            # osmquadtree-postgis.go:265-274, keeps multi-geoms with their
            # base kind for table routing)
            "geom_type",
            F.when(F.col("wkt").startswith("MULTIPOINT"), TYPE_POINT)
            .when(F.col("wkt").startswith("MULTILINESTRING"), TYPE_LINE)
            .when(F.col("wkt").startswith("POINT"), TYPE_POINT)
            .when(F.col("wkt").startswith("LINESTRING"), TYPE_LINE)
            .otherwise(TYPE_POLYGON)
            .cast("int"),
        )
        .withColumn("_nums", F.expr(nums))
        .withColumn("_xs", F.expr(xs))
        .withColumn("_ys", F.expr(ys))
        .select(
            "doc_id", "span_idx", "offset", "wkt", "tags", "geom_type",
            F.array_min("_xs").alias("minx"),
            F.array_min("_ys").alias("miny"),
            F.array_max("_xs").alias("maxx"),
            F.array_max("_ys").alias("maxy"),
            F.size("_xs").alias("npoints"),
        )
    )
    # with_qt_sql severs the qt alias lineage on its way out (see
    # functions.qtsql.sever_lineage): without the cut, any join/filter above
    # this lineage inlines the whole qt alias chain exponentially.
    e = with_qt_sql(e)  # JVM-side Calculate — bit-identical to the numpy kernel
    # packed id: (geom_type << 59) | (doc seq * 64 + span_idx)  — low 40 bits
    seq = F.regexp_extract("doc_id", r"(\d+)", 1).cast("long") * 64 + F.col("span_idx")
    return e.withColumn(
        "id",
        F.shiftleft(F.col("geom_type").cast("long"), 59).bitwiseOR(
            seq.bitwiseAND(F.lit((1 << 40) - 1))
        ),
    )
