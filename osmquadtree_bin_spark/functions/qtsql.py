"""JVM-side quadtree Calculate — pure Spark SQL expressions, no Python.

Implements the reference split rule ``quadtree.Calculate(bbox, 0.05, 18)``
(``/root/reference/osmquadtree-rebase.go:109``) entirely in Catalyst
expressions so the flagship tiling pipeline needs NO Arrow round-trip for qt
assignment (the numpy kernel in ``quadtree.py`` stays as the property-test
oracle).

Why a closed form exists: the kernel's midpoint descent advances to the child
containing the bbox midpoint and stops at the first level where the
buffer-expanded child no longer contains the bbox. Because a child's buffered
region is a subset of its parent's buffered region, "fits at depth d" is a
prefix property along the midpoint path, so

    depth  = (first level whose buffered midpoint-path cell fails) - 1
    tx_d   = floor(cx * 2^d)   (clamped)  =  floor(cx * 2^18) >> (18 - d)

— the last identity is exact because multiplying a double by a power of two
never rounds. All float expressions mirror the numpy kernel op-for-op
(same order, same constants) so results are bit-identical; the only
platform-sensitive ops are sin/ln in the mercator projection, validated
against the numpy kernel by hypothesis property tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..quadtree import COORD_SCALE, MAX_DEPTH, MAX_LAT


def sever_lineage(df: DataFrame, cols: list[str]) -> DataFrame:
    """Cut Catalyst's alias-substitution lineage for the named columns.

    Several rules inline Project alias chains by substitution — CollapseProject
    (cost-checked), PushDownPredicates (NOT cost-checked), PhysicalOperation
    during scan planning, and dynamic-partition-pruning's scan discovery. On
    the deep qt expression chain (temps referenced 2-4x across ~30 levels)
    that substitution is exponential: observed 15.5 MB single expressions,
    135 s optimizer spins, and executor tasks wedged for minutes in per-task
    ``transformUp`` over the inlined tree.

    What doesn't work: a nondeterministic throwaway column (ColumnPruning
    drops the unused alias, RemoveNoopOperators deletes the project) and a
    pass-through Generate such as ``explode(array(lit(0)))`` (the original
    attributes still flow through, so attribute-lineage walks continue below
    it — measured 15 s optimizer spins return). What works is re-emitting the
    column from a generator: pack it into ``explode(array(struct(col)))`` and
    read it back as a struct field. The new attribute is GetStructField of
    generator output — no rule can substitute past it, ColumnPruning cannot
    remove the Generate, and every OTHER column passes through untouched, so
    the runtime cost is one tiny struct (just the severed columns, here a
    single long) per row instead of a full-row copy. Measured: planning a
    join over the live lineage 12.4 s -> 0.2 s with dynamic partition
    pruning left ON; a filter on qt itself (worst case) 0.16 s.

    Filter pushdown below the cut is not a loss: predicates on severed
    columns could never reach parquet anyway (the columns only exist above
    this point), and predicates on pass-through columns still push normally.
    """
    others = [c for c in df.columns if c not in cols]
    packed = F.explode(
        F.array(F.struct(*[F.col(c).alias(c) for c in cols]))
    ).alias("_sv")
    return df.select(*others, packed).select(
        *others, *[F.col(f"_sv.{c}").alias(c) for c in cols]
    )

# double closest to 1.0 from below — lat_to_unit's np.nextafter(1.0, 0.0) clip
_ONE_MINUS_ULP = "0.9999999999999999"


def _unit_x(lon_fp: str) -> str:
    """lon fixed-point → web-mercator unit x (mirrors quadtree.lon_to_unit)."""
    return f"(((CAST({lon_fp} AS DOUBLE) / {float(COORD_SCALE)!r}D) + 180.0D) / 360.0D)"


def _unit_y(lat_fp: str) -> str:
    """lat fixed-point → unit y, 0 = north (mirrors quadtree.lat_to_unit).

    np.radians is a single multiply by the double nearest pi/180 — written
    out literally so we never inherit Math.toRadians' different op order.
    """
    lat = f"least(greatest(CAST({lat_fp} AS DOUBLE) / {float(COORD_SCALE)!r}D, {-MAX_LAT!r}D), {MAX_LAT!r}D)"
    s = f"sin({lat} * 0.017453292519943295D)"
    y = f"(0.5D - ln((1.0D + {s}) / (1.0D - {s})) / 12.566370614359172D)"  # 4*pi
    return f"least(greatest({y}, 0.0D), {_ONE_MINUS_ULP}D)"


def _spread_sql(v: str) -> str:
    """Interleave zeros between the low 32 bits (mirrors _spread_bits)."""
    for shift, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        v = f"(({v} | shiftleft({v}, {shift})) & {mask}L)"
    return v


def with_qt_sql(
    df: DataFrame,
    minx: str = "minx",
    miny: str = "miny",
    maxx: str = "maxx",
    maxy: str = "maxy",
    out: str = "qt",
    buffer: float = 0.05,
    maxdepth: int = MAX_DEPTH,
) -> DataFrame:
    """Append quadtree key column ``out`` = Calculate(bbox, buffer, maxdepth).

    Intermediates are real columns (not repeated subtrees) so whole-stage
    codegen evaluates each once; all temps are dropped before returning.
    """
    t = "__qt"
    df = (
        df.withColumn(f"{t}ux0", F.expr(_unit_x(minx)))
        .withColumn(f"{t}ux1", F.expr(_unit_x(maxx)))
        # y axis inverted: maxy (north) is the smaller unit y
        .withColumn(f"{t}uy0", F.expr(_unit_y(maxy)))
        .withColumn(f"{t}uy1", F.expr(_unit_y(miny)))
    )
    scale = float(1 << maxdepth)
    nmax = (1 << maxdepth) - 1
    df = (
        df.withColumn(f"{t}cx", F.expr(f"({t}ux0 + {t}ux1) * 0.5D"))
        .withColumn(f"{t}cy", F.expr(f"({t}uy0 + {t}uy1) * 0.5D"))
        .withColumn(
            f"{t}X",
            F.expr(
                f"greatest(least(CAST(floor({t}cx * {scale!r}D) AS BIGINT), {nmax}L), 0L)"
            ),
        )
        .withColumn(
            f"{t}Y",
            F.expr(
                f"greatest(least(CAST(floor({t}cy * {scale!r}D) AS BIGINT), {nmax}L), 0L)"
            ),
        )
    )
    # fits(d): buffer-expanded midpoint-path cell at depth d contains the bbox.
    # Mirrors the kernel exactly: (ntx - buffer) * inv <= ux0, etc., where the
    # int->double cast and the subtract round first, then the multiply by the
    # exact power-of-two inv.
    fits = []
    for d in range(1, maxdepth + 1):
        inv = repr(1.0 / (1 << d))
        tx = f"CAST(shiftright({t}X, {maxdepth - d}) AS DOUBLE)"
        ty = f"CAST(shiftright({t}Y, {maxdepth - d}) AS DOUBLE)"
        fits.append(
            f"((({tx} - {buffer!r}D) * {inv}D <= {t}ux0)"
            f" AND ({t}ux1 <= (({tx} + 1.0D) + {buffer!r}D) * {inv}D)"
            f" AND (({ty} - {buffer!r}D) * {inv}D <= {t}uy0)"
            f" AND ({t}uy1 <= (({ty} + 1.0D) + {buffer!r}D) * {inv}D))"
        )
    # depth = first failing level - 1 (the kernel stops there and never resumes)
    case = "CASE " + " ".join(
        f"WHEN NOT {f} THEN {d}" for d, f in enumerate(fits)
    ) + f" ELSE {maxdepth} END"
    df = df.withColumn(f"{t}d", F.expr(case))
    # tile coords at the final depth, then morton-pack (digit = 2*y_bit + x_bit)
    df = (
        df.withColumn(f"{t}tx", F.expr(f"shiftright({t}X, {maxdepth} - {t}d)"))
        .withColumn(f"{t}ty", F.expr(f"shiftright({t}Y, {maxdepth} - {t}d)"))
        .withColumn(
            f"{t}path",
            F.expr(f"{_spread_sql(f'{t}tx')} | shiftleft({_spread_sql(f'{t}ty')}, 1)"),
        )
        .withColumn(
            out,
            F.expr(f"shiftleft({t}path, 63 - 2 * {t}d) | CAST({t}d AS BIGINT)"),
        )
    )
    df = df.drop(*[c for c in df.columns if c.startswith(t)])
    # cut the alias lineage of the deep qt chain — see sever_lineage
    return sever_lineage(df, [out])

