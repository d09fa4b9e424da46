"""Driver contract for the spark-graft builder (PySpark target).

``entry``      — flagship: the full quadtree tiling pipeline over a
                 deterministic interleaved-docs table (BASELINE.json shape) at
                 sf0.001 scale, returning per-tile assignment counts.
``queries``    — one entry per implemented operator from SURVEY.md §2 (plus
                 the training-data ops from the build brief); each callable
                 takes (spark, sf_dir) and returns a DataFrame.
``oracle_sql`` — DuckDB-ANSI equivalents. Numeric outputs are integer cents /
                 counts so Spark-vs-DuckDB float summation order can never
                 flip the value hash; bit-level ops (morton/LCA) use pure
                 integer expressions generated identically for both dialects.

Non-SQL-expressible ops (quadtree Calculate pipeline, minhash LSH, simhash,
polygon PIP, multimodal, IVF ANN, embedding near-dup) are oracled through
parquet fixtures generated by INDEPENDENT second implementations
(``tests/independent_oracles.py`` — pure Python/pandas/numpy, no Spark, no
engine kernels; ``tests/make_goldens.py oracle`` writes them, the DuckDB
side is ``SELECT * FROM read_parquet(fixture)``). Engine-vs-oracle equality
is additionally pinned by ``tests/test_independent_oracles.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window, functions as F  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _staged_docs(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """Deterministic interleaved-docs input, staged ONCE to local parquet and
    re-read (production shape — the input IS a table; BASELINE.json
    input_hint). Persist-free by design: multi-pass consumers (tiling's three
    passes, pip_join's two arms) re-read columnar parquet instead of pinning
    executor storage, so queries() leaves no persistent RDDs behind (the
    no-leak contract asserted by test_all_queries_run). Content is per-doc
    seeded, so it is identical under any partitioning; the dir key carries
    the datagen version so a generator change invalidates the stage."""
    import shutil
    import tempfile

    from osmquadtree_bin_spark.datagen import DATAGEN_VERSION, gen_docs_dist

    p = os.path.join(
        tempfile.gettempdir(), f"oqt_entry_docs_v{DATAGEN_VERSION}_{n_docs}_{seed}"
    )
    if not os.path.exists(os.path.join(p, "_SUCCESS")):
        # stage into a private dir, then atomically rename into place: two
        # concurrent sessions (parallel pytest shards, bench + tests) that
        # both miss _SUCCESS must not run overwrite-writes into the SAME
        # directory — one would delete the other's in-flight output
        tmp = f"{p}.tmp.{os.getpid()}"
        gen_docs_dist(spark, n_docs=n_docs, seed=seed).write.mode(
            "overwrite"
        ).parquet(tmp)
        if os.path.isdir(p) and not os.path.exists(os.path.join(p, "_SUCCESS")):
            shutil.rmtree(p, ignore_errors=True)  # stale partial from a kill
        try:
            os.rename(tmp, p)
        except OSError:
            # EITHER a concurrent session published first (fine — use
            # theirs) OR the rmtree of a stale partial failed and p is
            # still the uncommitted wreck (r05 ADVICE #1): only discard our
            # tmp if p is actually a COMMITTED dataset, else publish over
            # it file-by-file rather than silently reading partial data
            if os.path.exists(os.path.join(p, "_SUCCESS")):
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                shutil.rmtree(p, ignore_errors=True)
                os.rename(tmp, p)  # second failure propagates loudly
    return spark.read.parquet(p)


def _sf_mult(sf_dir: str) -> int:
    """Scale multiplier from the sf dir name: sf0.001 → 1, sf0.01 → 10,
    sf0.1 → 100. The self-generating queries (q26/q27/q30 — their input is
    the interleaved-docs shape from BASELINE.json input_hint, which the
    driver's testdata does not carry) size their synthetic input with this,
    so the sf0.01 correctness gate and the sf0.1 bench exercise the scale
    they claim."""
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return max(1, round(float(base.replace("sf", "")) / 0.001))
    except ValueError:
        return 1


# =============================================================== entry (smoke)
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved docs → span explode → quadtree Calculate →
    count tree → group walk → tile assignment → per-tile counts."""
    import numpy as np

    from osmquadtree_bin_spark.datagen import gen_docs
    from osmquadtree_bin_spark.tiling import tiling_pipeline

    # tiny smoke input: 8 partitions, not 32 — spawning a Python UDF worker
    # per core costs more than the work itself at this scale
    docs = gen_docs(spark, n_docs=400, seed=42).coalesce(8)
    assigned, _counts, _groups = tiling_pipeline(docs, target=500, minimum=250)
    return (
        assigned.groupBy("tile_idx", "tile_qt")
        .agg(F.count(F.lit(1)).alias("n_elements"))
        .orderBy("tile_idx")
    )


# ====================================================== integer-morton helpers
_SPREAD_MASKS = [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]


def _spread(expr: str, shl) -> str:
    for s, m in _SPREAD_MASKS:
        expr = f"(({expr} | {shl(expr, s)}) & {m})"
    return expr


def _shl_spark(e: str, n: int) -> str:
    return f"shiftleft({e}, {n})"


def _shl_duck(e: str, n: int) -> str:
    return f"({e} << {n})"


# deterministic synthetic grid coords from lineitem keys (16-bit each)
_XE = "((l_orderkey * 2654435761) % 65536)"
_YE = "(((l_partkey * 40503 + l_suppkey) * 2654435761) % 65536)"


def _morton_sql(shl) -> str:
    return f"({_spread(_XE, shl)} | {shl(_spread(_YE, shl), 1)})"


MORTON_SPARK = _morton_sql(_shl_spark)
MORTON_DUCK = _morton_sql(_shl_duck)


def _bitlen_sql(col: str) -> str:
    """Exact integer bit_length as a sum of threshold tests (portable)."""
    return "(" + " + ".join(
        f"(case when {col} >= {1 << k} then 1 else 0 end)" for k in range(32)
    ) + ")"


# ================================================================== queries()
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---------------------------------------------------------- relational
    def q01_pricing_summary(spark, sf):  # A-aggs over a filtered scan
        li = _t(spark, sf, "lineitem")
        cents = F.round(F.col("l_extendedprice") * 100).cast("long")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("2002-09-01").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
                F.sum(cents).alias("sum_base_cents"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    q["q01_pricing_summary"] = q01_pricing_summary

    def q02_join_revenue(spark, sf):  # equi-join chain + agg (J-family)
        o = _t(spark, sf, "orders")
        c = _t(spark, sf, "customer")
        n = _t(spark, sf, "nation")
        cents = F.round(F.col("o_totalprice") * 100).cast("long")
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            .groupBy("n_name")
            .agg(F.sum(cents).alias("revenue_cents"), F.count(F.lit(1)).alias("n_orders"))
        )

    q["q02_join_revenue"] = q02_join_revenue

    def q03_semi_trim(spark, sf):  # P4: id-set semi-join trim
        li = _t(spark, sf, "lineitem")
        o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 200000)
        return (
            li.join(o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left_semi")
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )

    q["q03_semi_trim"] = q03_semi_trim

    def q04_values_join(spark, sf):  # J5: broadcast join vs inline VALUES
        li = _t(spark, sf, "lineitem")
        vals = spark.createDataFrame(
            [("R", "F", 1), ("A", "F", 2), ("N", "O", 3)],
            "l_returnflag string, l_linestatus string, prio int",
        )
        return (
            li.join(F.broadcast(vals), ["l_returnflag", "l_linestatus"])
            .groupBy("prio")
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )

    q["q04_values_join"] = q04_values_join

    def q05_union_dedup(spark, sf):  # U1: UNION dedups
        c = _t(spark, sf, "customer")
        a = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
        b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
        return a.union(b).dropDuplicates().withColumnRenamed("c_nationkey", "nk")

    q["q05_union_dedup"] = q05_union_dedup

    def q06_union_all(spark, sf):  # U2
        c = _t(spark, sf, "customer")
        a = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
        b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
        return (
            a.unionAll(b).groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n"))
            .withColumnRenamed("c_nationkey", "nk")
        )

    q["q06_union_all"] = q06_union_all

    def q07_scalar_dialect(spark, sf):  # §2.8: CASE/COALESCE/||/substr0/makeinteger
        from osmquadtree_bin_spark.functions.dialect import makeinteger, pg_substr

        p = _t(spark, sf, "part")
        return p.select(
            F.col("p_partkey"),
            F.when(F.col("p_size") > 25, "big").when(F.col("p_size") > 10, "mid")
            .otherwise("small").alias("size_class"),
            F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#13")), F.lit("other"))
            .alias("brand_or_other"),
            F.concat(F.lit("t_"), F.col("p_type")).alias("typ_cat"),
            pg_substr(F.col("p_name"), 0, 4).alias("name_pfx"),
            makeinteger(F.substring_index(F.col("p_brand"), "#", -1)).alias("brand_num"),
            makeinteger(F.col("p_type")).alias("type_int"),
            F.length(F.col("p_name")).cast("long").alias("name_len"),
        )

    q["q07_scalar_dialect"] = q07_scalar_dialect

    def q08_newest_wins(spark, sf):  # J6 dedup: newest version per key
        e = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                "event_type",
                F.round(F.col("value") * 100).cast("long").alias("value_cents"),
            )
        )

    q["q08_newest_wins"] = q08_newest_wins

    def q09_minmax_bbox(spark, sf):  # A1: bbox-style min/max agg
        li = _t(spark, sf, "lineitem")
        cents = F.round(F.col("l_extendedprice") * 100).cast("long")
        return li.groupBy("l_orderkey").agg(
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )

    q["q09_minmax_bbox"] = q09_minmax_bbox

    def q10_collect_routes(spark, sf):  # A7: sorted list-agg → ';' join
        s = _t(spark, sf, "supplier")
        return s.groupBy("s_nationkey").agg(
            F.concat_ws(";", F.sort_array(F.collect_set("s_name"))).alias("suppliers")
        )

    q["q10_collect_routes"] = q10_collect_routes

    def q11_zorder_prio(spark, sf):  # A8: CASE priority table
        p = _t(spark, sf, "part")
        prio = (
            F.when(F.col("p_type").startswith("SMALL"), 100)
            .when(F.col("p_type").startswith("LARGE"), 380)
            .when(F.col("p_type").startswith("MEDIUM"), 330)
            .otherwise(0)
        )
        return p.groupBy(prio.alias("z_order")).agg(F.count(F.lit(1)).alias("n"))

    q["q11_zorder_prio"] = q11_zorder_prio

    def q12_day_rounding(spark, sf):  # T2: ceil-to-day (ref grace branch is dead)
        from osmquadtree_bin_spark.streaming.update import round_to_day

        e = _t(spark, sf, "events")
        return (
            e.withColumn("day", round_to_day(F.col("ts")))
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["q12_day_rounding"] = q12_day_rounding

    def q13_orderby_expr(spark, sf):  # O3: multi-key expression sort
        o = _t(spark, sf, "orders")
        sort_key = F.when(F.col("o_orderpriority").startswith("1"), 0).otherwise(1)
        return (
            o.filter(F.col("o_orderstatus") == "O")
            .select(
                "o_orderkey",
                sort_key.cast("long").alias("prio_key"),
                F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
            )
            .orderBy(F.col("prio_key"), F.col("price_cents").desc())
        )

    q["q13_orderby_expr"] = q13_orderby_expr

    # ------------------------------------------------- integer-grid spatial
    def q14_morton_encode(spark, sf):  # Morton/quadkey encode (qt core)
        li = _t(spark, sf, "lineitem")
        return li.select(
            "l_orderkey",
            "l_linenumber",
            F.expr(MORTON_SPARK).cast("long").alias("morton"),
        )

    q["q14_morton_encode"] = q14_morton_encode

    def q15_tile_counts(spark, sf):  # A3: count per depth-8 cell
        li = _t(spark, sf, "lineitem")
        return (
            li.select(F.shiftrightunsigned(F.expr(MORTON_SPARK), 16).alias("tile"))
            .groupBy("tile")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["q15_tile_counts"] = q15_tile_counts

    def q16_bbox_filter(spark, sf):  # P2: bbox containment filter
        li = _t(spark, sf, "lineitem")
        x = F.expr(_XE)
        y = F.expr(_YE)
        return li.filter(
            (x >= 10000) & (x < 30000) & (y >= 20000) & (y < 45000)
        ).select("l_orderkey", "l_linenumber", x.cast("long").alias("x"), y.cast("long").alias("y"))

    q["q16_bbox_filter"] = q16_bbox_filter

    def q17_pip_regions(spark, sf):  # J7: containment join vs region VALUES
        li = _t(spark, sf, "lineitem")
        regions = [
            ("r_sw", 0, 0, 32768, 32768),
            ("r_ne", 32768, 32768, 65536, 65536),
            ("r_hot", 20000, 20000, 45000, 45000),
        ]
        pts = li.select(
            F.expr(_XE).cast("long").alias("x"), F.expr(_YE).cast("long").alias("y")
        )
        # Same containment join, computed as ONE conditional-aggregation pass
        # (guide §2.3 "aggregate before you shuffle", §2.4 "remove shuffles
        # outright"): the region table is a literal inline VALUES list, so the
        # per-region containment counts are partial-aggregated map-side in
        # whole-stage codegen and unpivoted to (region_id, n_points) rows —
        # no BroadcastNestedLoopJoin, no Python-RDD createDataFrame (which
        # alone cost ~1.4s of driver setup), no match-row materialization.
        # The n_points > 0 filter preserves inner-join semantics (a region
        # with no contained point emits no row). Equivalence vs the DuckDB
        # join oracle is unchanged and re-verified by the driver.
        aggs = [
            F.count(
                F.when(
                    (F.col("x") >= F.lit(mnx)) & (F.col("x") < F.lit(mxx))
                    & (F.col("y") >= F.lit(mny)) & (F.col("y") < F.lit(mxy)),
                    1,
                )
            ).alias(rid)
            for rid, mnx, mny, mxx, mxy in regions
        ]
        stack = ", ".join(f"'{rid}', {rid}" for rid, *_ in regions)
        return (
            pts.agg(*aggs)
            .selectExpr(f"stack({len(regions)}, {stack}) AS (region_id, n_points)")
            .filter(F.col("n_points") > 0)
        )

    q["q17_pip_regions"] = q17_pip_regions

    def q18_raster_vector(spark, sf):  # J8: raster cell ↔ point-tile equi-join
        li = _t(spark, sf, "lineitem")
        n = _t(spark, sf, "nation")
        # request cell per nation at depth 8: deterministic from the key
        reqs = n.select(
            "n_nationkey",
            ((F.col("n_nationkey") * 2654435761) % 65536).cast("long").alias("req_tile"),
        )
        pts = li.select(F.shiftrightunsigned(F.expr(MORTON_SPARK), 16).alias("tile"))
        return (
            pts.join(F.broadcast(reqs), pts["tile"] == reqs["req_tile"], "right")
            .groupBy("n_nationkey")
            .agg(F.sum(F.when(F.col("tile").isNotNull(), 1).otherwise(0)).alias("n_hits"))
        )

    q["q18_raster_vector"] = q18_raster_vector

    def q19_lca(spark, sf):  # A2: LCA level per group via bit ops
        li = _t(spark, sf, "lineitem")
        m = li.select(
            (F.col("l_orderkey") % 500).alias("grp"),
            F.expr(MORTON_SPARK).alias("morton"),
        )
        agg = m.groupBy("grp").agg(
            F.min("morton").alias("mn"), F.max("morton").alias("mx")
        )
        xr = F.col("mn").bitwiseXOR(F.col("mx"))
        bl = F.expr(_bitlen_sql("(mn ^ mx)"))
        level = F.when(xr == 0, 16).otherwise(F.floor((32 - bl) / 2)).cast("long")
        return agg.select("grp", level.alias("lca_level"))

    q["q19_lca"] = q19_lca

    # --------------------------------------------------- docs / embeddings
    def q20_dedup_exact(spark, sf):
        from osmquadtree_bin_spark.operators.dedup import dedup_exact

        d = _t(spark, sf, "documents")
        return dedup_exact(d, "doc_id", "text")

    q["q20_dedup_exact"] = q20_dedup_exact

    def q21_token_stats(spark, sf):
        from osmquadtree_bin_spark.operators.textstats import token_count

        d = _t(spark, sf, "documents")
        return d.select(
            "doc_id",
            token_count(F.col("text")).cast("long").alias("n_tokens"),
            F.length("text").cast("long").alias("len_chars"),
        )

    q["q21_token_stats"] = q21_token_stats

    def q22_punct_stats(spark, sf):
        d = _t(spark, sf, "documents")
        n_punct = F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", ""))
        return d.select("doc_id", n_punct.cast("long").alias("n_punct"))

    q["q22_punct_stats"] = q22_punct_stats

    def q23_lang_counts(spark, sf):
        from osmquadtree_bin_spark.operators.textstats import token_count

        d = _t(spark, sf, "documents")
        return d.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text")).cast("long")).alias("total_tokens"),
        )

    q["q23_lang_counts"] = q23_lang_counts

    def q24_doc_emb_join(spark, sf):
        d = _t(spark, sf, "documents")
        e = _t(spark, sf, "embeddings")
        return (
            d.join(e, d["doc_id"] == e["vec_id"])
            .groupBy("lang", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["q24_doc_emb_join"] = q24_doc_emb_join

    def q25_knn_cosine(spark, sf):  # brute-force cosine top-k (exact ANN baseline)
        from osmquadtree_bin_spark.operators.similarity import cosine_topk

        e = _t(spark, sf, "embeddings")
        qv = (
            e.filter(F.col("vec_id") < 3)
            .select(
                F.concat(F.lit("q"), F.col("vec_id")).alias("query_id"),
                F.col("embedding").alias("qvec"),
            )
        )
        return cosine_topk(e, qv, k=5).select("query_id", "vec_id", "rank")

    q["q25_knn_cosine"] = q25_knn_cosine

    # ------------------------------------- rows-only (non-SQL-expressible)
    def q26_tiling_pipeline(spark, sf):
        """Flagship pipeline over sf-scaled interleaved docs (400 docs × sf
        multiplier; per-doc-seeded generator, so content is identical under
        any partitioning). Oracled by tests/independent_oracles.py — a
        pure-Python second implementation sharing no engine kernels.

        Optimization (guide §8: decide with small rows — don't re-scan the
        big rows for an answer a small proxy already holds): the level-17
        count tree is collected to the driver anyway for the A4 group walk,
        and the per-(tile_idx, tile_qt) element count is EXACTLY the rollup
        of those per-cell counts under the deepest-ancestor assignment —
        ``sum(cnt) group by assigner(cell)`` — because assignment depends
        only on round(qt, 17), which is the count-tree cell. One distributed
        pass (parse + count agg) instead of two; the rollup itself is
        microseconds of numpy on the ≤150k-cell tree. Equivalence with the
        distributed ``assign_tiles`` + groupBy form is the cellmap identity
        the operator itself is built on (test_tiling_golden pins it, and
        tests/test_entry_contract.py::test_q26_rollup_equals_distributed
        re-asserts it end-to-end); the distributed assigner remains the
        production operator (entry(), write_tiled, streaming apply_diff,
        the scaling bench). Nothing is cached across invocations — every
        call re-runs the distributed count pass from the staged input."""
        import numpy as np

        from osmquadtree_bin_spark.spans import explode_geoms
        from osmquadtree_bin_spark.tiling import (
            count_tree,
            find_groups,
            make_tile_assigner,
        )

        docs = _staged_docs(spark, 400 * _sf_mult(sf))
        elements = explode_geoms(docs)
        counts = count_tree(elements, 17)
        cells = counts["cell"].to_numpy(np.int64)
        cnts = counts["cnt"].to_numpy(np.int64)
        groups = find_groups(cells, cnts, target=500, minimum=250)
        assigner = make_tile_assigner(groups, 17)
        tidx = assigner(cells)
        import pandas as pd

        per_tile = (
            pd.DataFrame({"tile_idx": tidx, "n_elements": cnts})
            .groupby("tile_idx", sort=True)["n_elements"]
            .sum()
            .reset_index()
        )
        per_tile = per_tile.merge(
            groups[["tile_idx", "tile_qt"]], on="tile_idx", how="left"
        )
        per_tile["tile_qt"] = per_tile["tile_qt"].fillna(0).astype("int64")
        out = spark.createDataFrame(
            per_tile[["tile_idx", "tile_qt", "n_elements"]].astype("int64")
        )
        return out.orderBy("tile_idx")

    q["q26_tiling_pipeline"] = q26_tiling_pipeline

    def q27_pip_polygon(spark, sf):  # ray-casting PIP (independently oracled)
        from osmquadtree_bin_spark.datagen import gen_regions
        from osmquadtree_bin_spark.operators.pip_join import pip_join
        from osmquadtree_bin_spark.spans import explode_geoms

        # staged parquet, not persist: pip_join scans elements twice (bbox
        # arm + polygon arm) — re-read beats a leaked cache (no-leak contract)
        docs = _staged_docs(spark, 200 * _sf_mult(sf))
        return pip_join(explode_geoms(docs), gen_regions(spark))

    q["q27_pip_polygon"] = q27_pip_polygon

    def q28_minhash_pairs(spark, sf):
        from osmquadtree_bin_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

        # key-range filter, not limit(): deterministic under any partitioning
        d = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
        sigs = minhash_signatures(d, num_perm=32)
        return minhash_lsh_pairs(sigs, bands=8, rows_per_band=4, jaccard_threshold=0.5)

    q["q28_minhash_pairs"] = q28_minhash_pairs

    def q29_simhash_pairs(spark, sf):
        from osmquadtree_bin_spark.operators.dedup import simhash, simhash_near_pairs

        d = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
        return simhash_near_pairs(simhash(d), max_hamming=8)

    q["q29_simhash_pairs"] = q29_simhash_pairs

    def q28b_minhash_full_sf(spark, sf):
        """Rows-only companion to q28: minhash LSH at the FULL sf document
        count (q28 gates on a fixed 500-doc subset because its independent
        oracle is O(n²) — this one's input scales with sf). Returns one
        self-checking summary row: pair counts at thresholds 0.5/0.7 (the
        0.7 count is threshold-monotone by construction) plus in-plan
        invariants — every emitted pair's est_jaccard within [0.5, 1]."""
        from osmquadtree_bin_spark.operators.dedup import (
            minhash_lsh_pairs,
            minhash_signatures,
        )

        d = _t(spark, sf, "documents")
        sigs = minhash_signatures(d, num_perm=32)
        p = minhash_lsh_pairs(sigs, bands=8, rows_per_band=4, jaccard_threshold=0.5)
        return p.agg(
            F.count(F.lit(1)).alias("n_pairs_05"),
            F.coalesce(
                F.sum((F.col("est_jaccard") >= 0.7).cast("long")), F.lit(0)
            ).alias("n_pairs_07"),
            F.coalesce(F.min("est_jaccard") >= 0.5, F.lit(True)).alias("threshold_ok"),
            F.coalesce(F.max("est_jaccard") <= 1.0, F.lit(True)).alias("bound_ok"),
        )

    q["q28b_minhash_full_sf"] = q28b_minhash_full_sf

    def q29b_simhash_full_sf(spark, sf):
        """Rows-only companion to q29: PartEnum simhash at the FULL sf
        document count (q29's 500-doc gate exists for its O(n²) oracle).
        One self-checking summary row: pair counts at radius 8 and the
        radius-4 subset (monotone by construction), plus the bit_count
        verify invariant (max hamming over emitted pairs <= 8)."""
        from osmquadtree_bin_spark.operators.dedup import simhash, simhash_near_pairs

        d = _t(spark, sf, "documents")
        p = simhash_near_pairs(simhash(d), max_hamming=8)
        return p.agg(
            F.count(F.lit(1)).alias("n_pairs_k8"),
            F.coalesce(
                F.sum((F.col("hamming") <= 4).cast("long")), F.lit(0)
            ).alias("n_pairs_k4"),
            F.coalesce(F.max("hamming") <= 8, F.lit(True)).alias("verified_ok"),
        )

    q["q29b_simhash_full_sf"] = q29b_simhash_full_sf

    def q30_multimodal_features(spark, sf):
        from osmquadtree_bin_spark.datagen import gen_docs_dist
        from osmquadtree_bin_spark.operators.multimodal import extract_features, synth_media

        docs = gen_docs_dist(spark, n_docs=100 * _sf_mult(sf), seed=42)
        feats = extract_features(synth_media(spark, docs), fake_decode=True)
        return feats.groupBy("media_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("decode_ok").alias("n_decoded"),
        )

    q["q30_multimodal_features"] = q30_multimodal_features

    # ------------------------------------------------- streaming (§2.10)
    def q31_windowed_stats(spark, sf):
        """Event-time one-hour tumbling-window stats per event_type
        (streaming/windowed.py): one batch groupBy on the window
        expression."""
        from osmquadtree_bin_spark.streaming.windowed import windowed_event_stats

        return windowed_event_stats(_t(spark, sf, "events"))

    q["q31_windowed_stats"] = q31_windowed_stats

    # ------------------------------------------- ANN scale path + near-dup
    def q32_ivf_topk(spark, sf):
        """IVF approximate top-k (coarse k-means lists, nprobe probing,
        exact re-rank) — the scale path next to q25's brute-force baseline.
        Deterministic (seeded sample + Lloyd); recall pinned by
        test_ivf_recall_on_clustered_data."""
        from osmquadtree_bin_spark.operators.similarity import ivf_topk

        e = _t(spark, sf, "embeddings")
        qv = e.filter(F.col("vec_id") < 3).select(
            F.concat(F.lit("q"), F.col("vec_id")).alias("query_id"),
            F.col("embedding").alias("qvec"),
        )
        return ivf_topk(e, qv, k=5, n_centroids=16, nprobe=4, sample=2000).select(
            "query_id", "vec_id", "rank"
        )

    q["q32_ivf_topk"] = q32_ivf_topk

    def q33_embedding_near_dup(spark, sf):
        """Embedding-cosine near-duplicate pairs via multi-table hyperplane
        LSH candidates + exact cosine threshold (the embedding leg of the
        dedup suite). The synthetic embeddings are near-orthogonal (max
        pairwise cosine ~0.51), so the near-dup population is planted
        deterministically: a scaled copy (x -> 1.001x, cosine exactly 1) of
        the first 50 vectors under vec_id+100000 — the op must recover
        exactly those 50 pairs and nothing else."""
        from osmquadtree_bin_spark.operators.similarity import embedding_near_dup_pairs

        e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
        dups = e.filter(F.col("vec_id") < 50).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
        )
        p = embedding_near_dup_pairs(e.unionByName(dups), threshold=0.999)
        return p.select(
            "id_a", "id_b",
            F.round(F.col("cosine") * 1000).cast("bigint").alias("cos_mil"),
        )

    q["q33_embedding_near_dup"] = q33_embedding_near_dup

    def q34_way_assembly(spark, sf):
        """Way-geometry assembly (way_wkt — the GenerateGeometries analogue)
        over ways/nodes synthesized deterministically from lineitem: one node
        per lineitem (grid coords from the morton key exprs), one way per
        order (members in linenumber order; orders with >= 3 items close the
        ring -> POLYGON, 2 items -> LINESTRING, 1 item -> NULL wkt)."""
        from osmquadtree_bin_spark.operators.element_joins import way_wkt

        li = _t(spark, sf, "lineitem")
        # the synthetic lineitem has duplicate (orderkey, linenumber) pairs —
        # reduce to one node per key with deterministic min coords first
        li2 = li.groupBy("l_orderkey", "l_linenumber").agg(
            F.min(F.expr(_XE).cast("long")).alias("lon"),
            F.min(F.expr(_YE).cast("long")).alias("lat"),
        )
        nid = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
        nodes = li2.select(nid.alias("id"), "lon", "lat")
        refs0 = F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("l_linenumber").alias("pos"), nid.alias("nid"))
                )
            ),
            lambda s: s["nid"],
        )
        ways = li2.groupBy("l_orderkey").agg(refs0.alias("_r")).select(
            F.col("l_orderkey").alias("id"),
            F.when(
                F.size("_r") >= 3, F.concat(F.col("_r"), F.slice(F.col("_r"), 1, 1))
            ).otherwise(F.col("_r")).alias("refs"),
        )
        return way_wkt(ways, nodes)

    q["q34_way_assembly"] = q34_way_assembly

    def q35_multipolygon_assembly(spark, sf):
        """Multipolygon relation assembly (rel_wkt — the ``geometry.Multi``
        analogue, ``osmquadtree-geometry.go:174-178``, consumed as
        GeometryType 7 in ``osmquadtree-postgis.go:265-274``): outer/inner
        member ways stitched into closed rings by shared node ids, holes
        assigned by exact-integer PIP, POLYGON / MULTIPOLYGON WKT with
        unclosed/degenerate/unassigned members dropped and counted. Oracled
        by tests/independent_oracles.oracle_q35 (scalar index-scan second
        implementation of the same spec)."""
        from osmquadtree_bin_spark.datagen import gen_multipolygon
        from osmquadtree_bin_spark.operators.element_joins import rel_wkt

        nodes, ways, rels = gen_multipolygon(spark, n_rels=40 * _sf_mult(sf))
        return rel_wkt(rels, ways, nodes)

    q["q35_multipolygon_assembly"] = q35_multipolygon_assembly

    def q36_pip_many_regions(spark, sf):
        """Large-region-count bbox containment (r05 verdict #3): 1000
        deterministic regions — far above PIP_BBOX_JOIN_CROSSOVER — so the
        pip_join bbox arm takes the grid-cell broadcast equi-join path whose
        plan size is independent of the region count (the WHEN-array arm's
        generated code grows linearly and cannot survive 100× more
        regions). Oracled by the equivalent DuckDB range join; parity of
        the join arm itself vs the WHEN arm is pinned by
        test_pip_bbox_many_matches_when_arm."""
        import pandas as pd

        from osmquadtree_bin_spark.operators.pip_join import pip_join

        li = _t(spark, sf, "lineitem")
        pts = li.select(
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long").alias("id"),
            F.col("l_orderkey").cast("string").alias("doc_id"),
            F.col("l_linenumber").cast("int").alias("span_idx"),
            F.expr(_XE).cast("long").alias("minx"),
            F.expr(_YE).cast("long").alias("miny"),
            F.expr(_XE).cast("long").alias("maxx"),
            F.expr(_YE).cast("long").alias("maxy"),
        )
        i = pd.RangeIndex(1000).to_numpy()
        minx = (i * 2654435761) % 60000
        miny = ((i * 40503 + 7) * 2654435761) % 60000
        rpdf = pd.DataFrame(
            {
                "region_id": [f"r{k:04d}" for k in i],
                "kind": "bbox",
                "minx": minx,
                "miny": miny,
                "maxx": minx + 2000 + (i % 7) * 500,
                "maxy": miny + 2000 + (i % 5) * 700,
                "lons": None,
                "lats": None,
            }
        )
        regions = spark.createDataFrame(
            rpdf,
            "region_id string, kind string, minx long, miny long, maxx long, "
            "maxy long, lons array<double>, lats array<double>",
        )
        return (
            pip_join(pts, regions)
            .groupBy("region_id")
            .agg(F.count(F.lit(1)).alias("n_points"))
        )

    q["q36_pip_many_regions"] = q36_pip_many_regions

    return q


# =============================================================== oracle_sql()
def _fixture_oracle(name: str) -> str:
    """Oracle for the non-SQL-expressible queries: a parquet fixture written
    by ``tests/make_goldens.py oracle`` FROM the independent second
    implementations in ``tests/independent_oracles.py`` (pure
    Python/pandas/numpy — O(n²) pair enumeration for the LSH ops, scalar
    ray-cast for PIP, a recursive pure-Python quadtree walk for tiling, a
    loop-form numpy IVF). The driver's Spark-vs-fixture hash compare is
    therefore a genuine two-implementation cross-check. The gate runs at
    sf0.01 (the default); the pytest contract suite points
    SPARK_GRAFT_ORACLE_SF at its own scale."""
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.01")
    p = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "golden", "oracle",
        sf, f"{name}.parquet",
    )
    return f"SELECT * FROM read_parquet('{p}')"


def oracle_sql() -> dict[str, str]:
    cents = "cast(round(l_extendedprice * 100) as bigint)"
    bitlen = _bitlen_sql("xr")
    fixtures = {
        name: _fixture_oracle(name)
        for name in (
            "q26_tiling_pipeline",
            "q27_pip_polygon",
            "q28_minhash_pairs",
            "q28b_minhash_full_sf",
            "q29_simhash_pairs",
            "q29b_simhash_full_sf",
            "q30_multimodal_features",
            "q32_ivf_topk",
            "q33_embedding_near_dup",
            "q35_multipolygon_assembly",
        )
    }
    return fixtures | {
        "q31_windowed_stats": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   cast(count(*) as bigint) AS n_events,
                   cast(sum(cast(round(value * 100) as bigint)) as bigint)
                     AS value_cents
            FROM events GROUP BY 1, 2
        """,
        "q01_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
                   cast(sum({cents}) as bigint) AS sum_base_cents,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= timestamp '2002-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_join_revenue": """
            SELECT n_name,
                   cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint) AS revenue_cents,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q03_semi_trim": """
            SELECT l_returnflag, count(*) AS n_rows
            FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 200000)
            GROUP BY l_returnflag
        """,
        "q04_values_join": """
            SELECT prio, count(*) AS n_rows
            FROM lineitem
            JOIN (VALUES ('R','F',1),('A','F',2),('N','O',3))
                 AS t(l_returnflag, l_linestatus, prio)
            USING (l_returnflag, l_linestatus)
            GROUP BY prio
        """,
        "q05_union_dedup": """
            SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 5000
            UNION
            SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'BUILDING'
        """,
        "q06_union_all": """
            SELECT nk, count(*) AS n FROM (
              SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 5000
              UNION ALL
              SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'BUILDING'
            ) u GROUP BY nk
        """,
        "q07_scalar_dialect": """
            SELECT p_partkey,
                   CASE WHEN p_size > 25 THEN 'big' WHEN p_size > 10 THEN 'mid'
                        ELSE 'small' END AS size_class,
                   coalesce(nullif(p_brand, 'Brand#13'), 'other') AS brand_or_other,
                   't_' || p_type AS typ_cat,
                   substr(p_name, 1, 3) AS name_pfx,
                   CASE WHEN regexp_matches(split_part(p_brand, '#', 2), '^-?[0-9]+$')
                        THEN cast(split_part(p_brand, '#', 2) as bigint)
                        ELSE 0 END AS brand_num,
                   CASE WHEN regexp_matches(p_type, '^-?[0-9]+$')
                        THEN cast(p_type as bigint) ELSE 0 END AS type_int,
                   cast(length(p_name) as bigint) AS name_len
            FROM part
        """,
        "q08_newest_wins": """
            SELECT user_id, event_type,
                   cast(round(value * 100) as bigint) AS value_cents
            FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "q09_minmax_bbox": f"""
            SELECT l_orderkey, min({cents}) AS min_cents, max({cents}) AS max_cents,
                   count(*) AS n_items
            FROM lineitem GROUP BY l_orderkey
        """,
        "q10_collect_routes": """
            SELECT s_nationkey, string_agg(s_name, ';' ORDER BY s_name) AS suppliers
            FROM (SELECT DISTINCT s_nationkey, s_name FROM supplier)
            GROUP BY s_nationkey
        """,
        "q11_zorder_prio": """
            SELECT CASE WHEN p_type LIKE 'SMALL%' THEN 100
                        WHEN p_type LIKE 'LARGE%' THEN 380
                        WHEN p_type LIKE 'MEDIUM%' THEN 330
                        ELSE 0 END AS z_order,
                   count(*) AS n
            FROM part GROUP BY 1
        """,
        "q12_day_rounding": """
            SELECT CASE WHEN epoch(ts) - epoch(date_trunc('day', ts)) = 0
                        THEN date_trunc('day', ts)
                        ELSE date_trunc('day', ts) + INTERVAL 1 DAY END AS day,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "q13_orderby_expr": """
            SELECT o_orderkey,
                   cast(CASE WHEN o_orderpriority LIKE '1%' THEN 0 ELSE 1 END as bigint)
                     AS prio_key,
                   cast(round(o_totalprice * 100) as bigint) AS price_cents
            FROM orders WHERE o_orderstatus = 'O'
            ORDER BY prio_key, price_cents DESC
        """,
        "q14_morton_encode": f"""
            SELECT l_orderkey, l_linenumber,
                   cast({MORTON_DUCK} as bigint) AS morton
            FROM lineitem
        """,
        "q15_tile_counts": f"""
            SELECT ({MORTON_DUCK} >> 16) AS tile, count(*) AS n
            FROM lineitem GROUP BY 1
        """,
        "q16_bbox_filter": f"""
            SELECT l_orderkey, l_linenumber,
                   cast({_XE} as bigint) AS x, cast({_YE} as bigint) AS y
            FROM lineitem
            WHERE {_XE} >= 10000 AND {_XE} < 30000 AND {_YE} >= 20000 AND {_YE} < 45000
        """,
        "q17_pip_regions": f"""
            SELECT region_id, count(*) AS n_points
            FROM (SELECT cast({_XE} as bigint) AS x, cast({_YE} as bigint) AS y
                  FROM lineitem) pts
            JOIN (VALUES ('r_sw',0,0,32768,32768),
                         ('r_ne',32768,32768,65536,65536),
                         ('r_hot',20000,20000,45000,45000))
                 AS r(region_id, minx, miny, maxx, maxy)
              ON x >= minx AND x < maxx AND y >= miny AND y < maxy
            GROUP BY region_id
        """,
        "q18_raster_vector": f"""
            SELECT n_nationkey,
                   cast(sum(CASE WHEN tile IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_hits
            FROM (SELECT n_nationkey,
                         cast((n_nationkey * 2654435761) % 65536 as bigint) AS req_tile
                  FROM nation) reqs
            LEFT JOIN (SELECT ({MORTON_DUCK} >> 16) AS tile FROM lineitem) pts
              ON pts.tile = reqs.req_tile
            GROUP BY n_nationkey
        """,
        "q19_lca": f"""
            SELECT grp,
                   cast(CASE WHEN xr = 0 THEN 16
                             ELSE floor((32 - {bitlen}) / 2) END as bigint) AS lca_level
            FROM (
              SELECT grp, xor(mn, mx) AS xr FROM (
                SELECT (l_orderkey % 500) AS grp,
                       min({MORTON_DUCK}) AS mn, max({MORTON_DUCK}) AS mx
                FROM lineitem GROUP BY 1
              )
            )
        """,
        "q20_dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "q21_token_stats": r"""
            SELECT doc_id,
                   cast(CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\s+'))
                        END as bigint) AS n_tokens,
                   cast(length(text) as bigint) AS len_chars
            FROM documents
        """,
        "q22_punct_stats": r"""
            SELECT doc_id,
                   cast(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) as bigint)
                     AS n_punct
            FROM documents
        """,
        "q23_lang_counts": r"""
            SELECT lang, count(*) AS n_docs,
                   cast(sum(cast(CASE WHEN length(trim(text)) = 0 THEN 0
                                 ELSE len(regexp_split_to_array(trim(text), '\s+'))
                            END as bigint)) as bigint) AS total_tokens
            FROM documents GROUP BY lang
        """,
        "q24_doc_emb_join": """
            SELECT lang, label, count(*) AS n
            FROM documents JOIN embeddings ON doc_id = vec_id
            GROUP BY lang, label
        """,
        "q34_way_assembly": f"""
            WITH pts AS (
              SELECT l_orderkey AS oid, l_linenumber AS pos,
                     min(cast({_XE} as bigint)) AS x,
                     min(cast({_YE} as bigint)) AS y
              FROM lineitem GROUP BY 1, 2
            ),
            base AS (
              SELECT oid, count(*) AS n,
                     string_agg(x || ' ' || y, ', ' ORDER BY pos) AS body,
                     min_by(x || ' ' || y, pos) AS firstpt
              FROM pts GROUP BY oid
            )
            SELECT oid AS id,
                   CASE WHEN n >= 3
                        THEN 'POLYGON((' || body || ', ' || firstpt || '))'
                        WHEN n >= 2 THEN 'LINESTRING(' || body || ')'
                        ELSE NULL END AS wkt,
                   cast(CASE WHEN n >= 3 THEN n + 1 ELSE n END as integer)
                     AS npoints
            FROM base
        """,
        "q36_pip_many_regions": f"""
            SELECT region_id, count(*) AS n_points
            FROM (SELECT cast({_XE} as bigint) AS x, cast({_YE} as bigint) AS y
                  FROM lineitem) pts
            JOIN (
              SELECT 'r' || lpad(cast(i as varchar), 4, '0') AS region_id,
                     (i*2654435761) % 60000 AS minx,
                     ((i*40503+7)*2654435761) % 60000 AS miny,
                     (i*2654435761) % 60000 + 2000 + (i % 7) * 500 AS maxx,
                     ((i*40503+7)*2654435761) % 60000 + 2000 + (i % 5) * 700 AS maxy
              FROM range(1000) t(i)
            ) r
              ON x >= minx AND x <= maxx AND y >= miny AND y <= maxy
            GROUP BY region_id
        """,
        "q25_knn_cosine": """
            SELECT query_id, vec_id, rank FROM (
              SELECT q.query_id, e.vec_id,
                     row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(e.embedding, q.qvec) DESC,
                                e.vec_id ASC) AS rank
              FROM embeddings e
              CROSS JOIN (SELECT 'q' || vec_id AS query_id, embedding AS qvec
                          FROM embeddings WHERE vec_id < 3) q
            ) WHERE rank <= 5
        """,
    }
