"""The benchmark's workloads. Each drives the engine's public functions:

* ``prepare`` — the shipped ``jobs.prepare_job.prepare_pipeline`` (its
  defaults: tile-partitioned write, lineage on) over the seed's subset of
  the staged docs, then ``pip_join(...).count()`` of the slim elements
  against ``datagen.gen_regions``. One op = one pipeline + pip pass.
* ``update`` — sequential diff batches (as ``TiledStore.catch_up`` applies
  them) against a fresh copy of the base store: ``assign_tiles`` on its
  general arm (no ``counts``), then ``TiledStore.apply_diff``. One op = a
  clustered and a scattered batch.
* ``serve`` — one closed-loop HTTP client on loopback against
  ``server.serve`` over the read-only base store; a seeded, skewed mix of
  /tile, /bbox, /query (corpus SQL) and /extract. One op = one map step of
  eight requests.

See :class:`Workload` for the interface ``run.py`` drives."""

from __future__ import annotations

import json
import os
import shutil
import urllib.parse
import urllib.request
from contextlib import nullcontext

import pandas as pd  # module level: pandas_udf resolves the "pd.Series" hints here

from perfbench import stage
from perfbench.report import median, tail


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext({})


def _fmt_tail(xs: list[float], scale: float, unit: str) -> tuple:
    t = tail(xs)
    if t is None:
        return (max(xs) * scale, unit, f"max of {len(xs)} samples (fewer than 11)")
    v, p, n = t
    return (v * scale, unit, f"p{p:.1f} of {n} samples")


class Workload:
    """``stage(seed)`` makes the seed's inputs (cached, excluded from set-up
    time); ``setup(spark, run_dir)`` builds what the ops need and warms up;
    ``op(i, tracer)`` is one timed operation and returns a dict with at
    least ``work`` (the op's units of work: rows, diff rows or requests);
    ``validate(op)`` and ``checks()`` run outside the timed region;
    ``report(ops)`` gives the metrics named after the workload and
    ``latencies(ops)`` the samples ``op_p50_ms`` is the median of."""

    name = ""
    # the loop runs for --seconds and at least this many ops. The JIT keeps
    # speeding up the first few ops after the warm-up (a cold prepare pass
    # took 14 s, then 7.3, 5.5 and 4.9 s), so a run whose op count followed
    # the host's speed would move its median with that count. min_ops is
    # set so that it, not --seconds, ends the loop (BENCHMARK.json's
    # run_seconds is below min_ops quick ops): every run times the same ops
    min_ops = 1
    # a traced run alternates blocks of this many traced and untraced ops;
    # a block must hold every kind of op the workload cycles through
    trace_block = 1

    def ops_left(self) -> bool:
        return True

    def validate(self, op: dict) -> bool:
        return True

    def latencies(self, ops: list[dict]) -> list[float]:
        return [o["wall"] for o in ops]

    def close(self) -> None:
        pass


# --------------------------------------------------------------- prepare
class Prepare(Workload):
    name = "prepare"
    min_ops = 2

    def stage(self, seed: int) -> dict:
        self.files, fp = stage.prepare_input(seed)
        return fp

    def setup(self, spark, run_dir: str) -> None:
        from osmquadtree_bin_spark.datagen import gen_regions

        self.spark = spark
        self.regions = gen_regions(spark)
        self.work = os.path.join(run_dir, "prepare")
        self.input_bytes = sum(os.path.getsize(f) for f in self.files)
        self.docs = spark.read.parquet(*self.files)
        self.op(-1, None)  # warm-up: JIT, codegen caches, Python workers

    def op(self, i: int, tracer) -> dict:
        from pyspark.sql import functions as F

        from jobs.prepare_job import prepare_pipeline
        from osmquadtree_bin_spark.operators import pip_join as pip_mod

        _, arts = prepare_pipeline(self.spark, self.docs, self.work)
        slim = self.spark.read.parquet(arts["elements_path"])
        # lineage columns pip_join carries, derived from the packed id (type
        # bits >= 59, low 40 bits = doc seq * 64 + span_idx)
        seq = F.col("id").bitwiseAND(F.lit((1 << 40) - 1))
        elements = slim.withColumn(
            "doc_id", F.format_string("doc_%08d", (seq / 64).cast("long"))
        ).withColumn("span_idx", (seq % 64).cast("int"))
        with _span(tracer, "operators.pip_join") as s:
            pairs = pip_mod.pip_join(elements, self.regions).count()
            s["pairs_out"] = pairs
        self.arts = arts
        return {"work": arts["n_elements"] + pairs}

    def checks(self) -> list[tuple[str, bool, str]]:
        import numpy as np
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        from osmquadtree_bin_spark.tiling import make_tile_assigner

        a = self.arts
        lin = pq.read_table(a["lineage_path"]).to_pandas()
        bad = lin[lin["rows"] != lin["expected_rows"]]
        out = [("lineage rows == expected_rows", bad.empty, f"{len(bad)} tiles differ")]
        n_tiled = self.spark.read.parquet(a["tiled_path"]).count()
        out.append(("tiled rows == n_elements", n_tiled == a["n_elements"],
                    f"{n_tiled} vs {a['n_elements']}"))
        t = ds.dataset(a["tiled_path"], format="parquet", partitioning="hive").to_table(
            columns=["qt", "tile_idx"])
        want = make_tile_assigner(a["groups"])(t.column("qt").to_numpy())
        got = t.column("tile_idx").to_numpy().astype(np.int64)
        out.append(("assignment == make_tile_assigner", bool((want == got).all()),
                    f"{int((want != got).sum())} rows differ"))
        return out

    def report(self, ops: list[dict]) -> dict:
        walls = [o["wall"] for o in ops]
        return {
            "prepare_rows_per_s": (sum(o["work"] for o in ops) / sum(walls), "rows/s",
                                   "tiled elements + pip pairs per second"),
            "store_bytes_per_input_byte": (_du(self.arts["tiled_path"]) / self.input_bytes,
                                           "ratio", "tiled store bytes / staged docs bytes"),
            "prepare_pass_p50_s": (median(walls), "s", f"median of {len(walls)} passes"),
        }


# ---------------------------------------------------------------- update
class Update(Workload):
    """One op = one catch-up step: two batches in sequence, one clustered
    and one scattered. Timing the pair keeps the median of a run off the
    gap between the two kinds; each batch's own wall is kept for the
    per-batch metrics."""

    name = "update"
    min_ops = 2

    def stage(self, seed: int) -> dict:
        self.diff_dir = os.path.join(stage.CACHE, f"diffs-{stage.corpus_key()}-s{seed}")
        self.meta = stage.stage_diffs(seed, self.diff_dir)
        return self.meta

    def setup(self, spark, run_dir: str) -> None:
        from osmquadtree_bin_spark.streaming.update import TiledStore

        self.spark = spark
        root = os.path.join(run_dir, "store")
        # apply_diff rewrites the store and its ledger turns a repeated state
        # into a no-op, so every run starts from a fresh copy of the base
        shutil.copytree(os.path.join(stage.store_root(), "tiles"),
                        os.path.join(root, "tiles"))
        self.groups = pd.read_parquet(os.path.join(stage.store_root(), "groups.parquet"))
        self.store = TiledStore(spark, root)
        self.applied: list[dict] = []
        self.touched: set[int] = set()
        self._batch()  # warm-up: one clustered batch, untimed

    def ops_left(self) -> bool:
        return len(self.applied) + 2 <= stage.N_BATCHES

    def _batch(self) -> float:
        import time

        from osmquadtree_bin_spark.tiling import assign_tiles

        b = len(self.applied)
        t = time.perf_counter()
        diff = self.spark.read.parquet(os.path.join(self.diff_dir, f"batch-{b:03d}.parquet"))
        touched = self.store.apply_diff(assign_tiles(diff, self.groups), state=b + 1)
        wall = time.perf_counter() - t
        self.applied.append(self.meta["per_batch"][b])
        self.touched.update(touched)
        return wall

    def op(self, i: int, tracer) -> dict:
        out = {"work": 0}
        for _ in range(2):  # batches alternate: even ones clustered
            b = len(self.applied)
            out["work"] += self.meta["per_batch"][b]["rows"]
            out["clustered" if b % 2 == 0 else "scattered"] = self._batch()
        return out

    def checks(self) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F

        from osmquadtree_bin_spark.footers import tile_rows_from_footers

        want = self.meta["base_rows"] - sum(m["deletes"] for m in self.applied) + sum(
            m["creates"] for m in self.applied)
        got = self.store.read().count()
        out = [("store rows == base - deletes + creates", got == want, f"{got} vs {want}")]
        led = self.store.ledger()
        dup = led.groupBy("state", "tile_idx").count().filter(F.col("count") > 1).count()
        states = sorted(r["state"] for r in led.select("state").distinct().collect())
        ok = dup == 0 and states == list(range(1, len(self.applied) + 1))
        out.append(("each state once in the ledger", ok, f"{dup} duplicate rows, states {states[-3:]}"))
        tiles = sorted(self.touched)
        foot = tile_rows_from_footers(self.store.data_path, tiles=tiles)
        dist = {
            r["tile_idx"]: r["n"]
            for r in self.store.read().filter(F.col("tile_idx").isin(tiles))
            .groupBy("tile_idx").agg(F.count("*").alias("n")).collect()
        }
        foot = {t: n for t, n in (foot or {}).items() if n}
        out.append(("touched-tile footer counts == distributed count", foot == dist,
                    f"{len(set(foot.items()) ^ set(dist.items()))} tiles differ"))
        return out

    def report(self, ops: list[dict]) -> dict:
        walls = [o[k] for o in ops for k in ("clustered", "scattered")]
        v, unit, how = _fmt_tail(walls, 1.0, "s")
        out = {
            "diff_batch_p50_s": (median(walls), "s", f"median of {len(walls)} batches"),
            "diff_batch_tail_s": (v, unit, how),
            "diff_rows_per_s": (sum(o["work"] for o in ops) / sum(o["wall"] for o in ops),
                                "rows/s", "diff rows applied per second"),
        }
        for kind in ("clustered", "scattered"):
            ws = [o[kind] for o in ops]
            out[f"diff_batch_{kind}_p50_s"] = (median(ws), "s", f"median of {len(ws)}")
        return out


# ----------------------------------------------------------------- serve
# a corpus layer whose tags the generator emits (one layer: the warm-up
# step's query pays its codegen)
QUERY_LAYERS = ("buildings",)
ROUTES = ("tile", "bbox", "query", "extract")
# The client the mix stands for is the server's own map viewer
# (server.INDEX_HTML: Leaflet, one /bbox per map move) beside a raw-tile
# client, with one SQL query and one extract per three map views. The repo
# holds no recorded request log, so these route ratios are an assumption.
ROUTE_CYCLE = ("tile", "bbox") * 3 + ("query", "extract")
# request popularity: Zipf-like with exponent 0.64-0.83 in web proxy traces
# (Breslau et al., "Web Caching and Zipf-like Distributions", INFOCOM 1999)
ZIPF = 0.8
SEQUENCE_LEN = 600
# the last entries of each pool (as many as the route has in one step) make
# the untimed warm-up step and stay out of the sequence, so warm-up leaves no
# cache entries the timed requests could hit
POOL = {"tile": 60, "bbox": 60, "query": 16, "extract": 24}
RESERVED = {r: ROUTE_CYCLE.count(r) for r in POOL}


def make_requests(seed: int) -> tuple[list[tuple[str, str]], list[str], dict]:
    """Seeded request sequence [(route, path)]: the routes in a fixed cycle
    (so every run of a given length sees the same route mix), parameters
    drawn from per-route pools with a Zipf skew. The skew makes requests
    repeat; a repeat close enough falls in the server's 1-bbox / 3-tile LRU
    windows (the run prints both shares)."""
    import hashlib

    import numpy as np
    import pyarrow.dataset as ds

    from osmquadtree_bin_spark import quadtree as qtk
    from osmquadtree_bin_spark.plans.corpus import load_corpus

    rng = np.random.default_rng(seed)
    xy = ds.dataset(os.path.join(stage.store_root(), "tiles"), format="parquet",
                    partitioning="hive").to_table(columns=["minx", "miny"])
    xs, ys = xy.column("minx").to_numpy(), xy.column("miny").to_numpy()
    corpus = load_corpus()

    def center():
        k = int(rng.integers(0, len(xs)))
        return int(xs[k]), int(ys[k])

    def box(lo, hi):
        x, y = center()
        w, h = (int(v) for v in rng.integers(lo, hi, 2))
        return x - w // 2, y - h // 2, x + w // 2, y + h // 2

    pools: dict[str, list[str]] = {r: [] for r in POOL}
    for _ in range(POOL["tile"]):
        x, y = center()
        tx, ty, tz = qtk.to_tuple(qtk.point_quadtree(
            np.array([x]), np.array([y]), int(rng.integers(11, 15))))
        pools["tile"].append(f"/tile/{int(tz[0])}/{int(tx[0])}/{int(ty[0])}")
    for _ in range(POOL["bbox"]):
        b = box(300_000, 1_000_000)
        pools["bbox"].append("/bbox?" + urllib.parse.urlencode(dict(zip(
            ("minx", "miny", "maxx", "maxy"), b))))
    for _ in range(POOL["query"]):
        layer = QUERY_LAYERS[int(rng.integers(0, len(QUERY_LAYERS)))]
        sql = f"SELECT * FROM {corpus[layer].strip()}"
        b = box(500_000, 1_500_000)
        pools["query"].append("/query?" + urllib.parse.urlencode(
            {"sql": sql, "bbox": ",".join(map(str, b))}))
    for _ in range(POOL["extract"]):
        b = box(200_000, 600_000)
        pools["extract"].append("/extract?" + urllib.parse.urlencode(dict(zip(
            ("minx", "miny", "maxx", "maxy"), b))))
    seq: list[tuple[str, str]] = []
    while len(seq) < SEQUENCE_LEN:
        for route in ROUTE_CYCLE:
            n = len(pools[route]) - RESERVED[route]
            w = 1.0 / np.arange(1, n + 1) ** ZIPF
            seq.append((route, pools[route][int(rng.choice(n, p=w / w.sum()))]))
    digest = hashlib.sha256("\n".join(p for _, p in seq).encode()).hexdigest()[:16]
    # warm-up: one step of the reserved entries; each route's first request
    # pays its cold start (codegen, Python workers, JIT)
    left = dict(RESERVED)
    warmup = []
    for route in ROUTE_CYCLE:
        warmup.append(pools[route][-left[route]])
        left[route] -= 1
    return seq, warmup, {"requests": len(seq), "distinct": len(set(seq)), "digest": digest}


class Serve(Workload):
    """One op = one map step: a pass of ``ROUTE_CYCLE`` (three views, each a
    /tile and a /bbox request, then a /query and an /extract), each request
    sent when the previous one has been answered. Each request's own wall is
    kept: ``op_p50_ms`` is the median request, so a run's median rests on
    every request it sent, not on its two steps."""

    name = "serve"
    min_ops = 2

    def stage(self, seed: int) -> dict:
        self.requests, self.warmup, fp = make_requests(seed)
        return fp

    def setup(self, spark, run_dir: str) -> None:
        from osmquadtree_bin_spark.plans.store import TileQueryEngine
        from osmquadtree_bin_spark.server import serve

        self.spark = spark
        groups = pd.read_parquet(os.path.join(stage.store_root(), "groups.parquet"))
        self.engine = TileQueryEngine(spark, os.path.join(stage.store_root(), "tiles"), groups)
        self.httpd, self.ts = serve(self.engine)
        self.base = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self.seen: dict[tuple[str, str], int] = {}
        self.sent = 0
        for path in self.warmup:  # untimed
            self._get(path)
        self.h0 = (self.ts.bbox_cache.hits, self.ts.bbox_cache.misses,
                   self.ts.tile_cache.hits, self.ts.tile_cache.misses)

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()

    def _get(self, path: str) -> tuple[int, bytes]:
        with urllib.request.urlopen(self.base + path, timeout=120) as r:
            return r.status, r.read()

    def op(self, i: int, tracer) -> dict:
        import time

        reqs = []
        for _ in ROUTE_CYCLE:
            route, path = self.requests[self.sent % len(self.requests)]
            self.sent += 1
            t = time.perf_counter()
            status, body = self._get(path)
            reqs.append({"route": route, "path": path, "status": status, "body": body,
                         "wall": time.perf_counter() - t})
        return {"work": len(reqs), "requests": reqs}

    def latencies(self, ops: list[dict]) -> list[float]:
        return [q["wall"] for o in ops for q in o["requests"]]

    def validate(self, o: dict) -> bool:
        """Per-response check (outside the timed region): HTTP 200 and a
        FeatureCollection (tile/bbox/extract) or a JSON row set (query)."""
        ok = True
        for q in o["requests"]:
            body = json.loads(q.pop("body"))
            if q["route"] == "query":
                good = isinstance(body.get("rows"), list) and body.get("n") == len(body["rows"])
                n = len(body.get("rows") or ())
            else:
                good = (body.get("type") == "FeatureCollection"
                        and isinstance(body.get("features"), list))
                n = len(body.get("features") or ())
            self.seen[(q["route"], q["path"])] = n
            ok = ok and good and q["status"] == 200
        return ok

    def checks(self) -> list[tuple[str, bool, str]]:
        """Response counts against a direct TileQueryEngine count, for one
        distinct request of each route (a count per request is a Spark job;
        checking all of them would dominate the run)."""
        from urllib.parse import parse_qs, urlparse

        from osmquadtree_bin_spark.server import DEFAULT_LIMIT

        e = self.engine
        bad = []
        checked: set[str] = set()
        for (route, path), n in sorted(self.seen.items()):
            if route in checked:
                continue
            checked.add(route)
            u = urlparse(path)
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            if route == "tile":
                tz, tx, ty = (int(p) for p in u.path.split("/")[2:])
                df = e.rawtile(tx, ty, tz)
            elif route == "query":
                df = e.sql(q["sql"], tuple(int(v) for v in q["bbox"].split(",")))
            else:
                bb = [int(q[k]) for k in ("minx", "miny", "maxx", "maxy")]
                if route == "bbox":
                    df = e.scan_bbox(*bb)
                else:
                    df = e.extract(self.spark.createDataFrame(
                        [("req", "bbox", *bb, None, None)],
                        "region_id string, kind string, minx long, miny long, "
                        "maxx long, maxy long, lons array<long>, lats array<long>"))
            want = min(df.count(), DEFAULT_LIMIT)
            if want != n:
                bad.append(f"{path[:60]}: {n} vs {want}")
        return [("response counts == direct engine counts", not bad, "; ".join(bad))]

    def report(self, ops: list[dict]) -> dict:
        done = [q for o in ops for q in o["requests"]]
        walls = [q["wall"] for q in done]
        v, unit, how = _fmt_tail(walls, 1e3, "ms")
        reqs = [(q["route"], q["path"]) for q in done]
        earlier: set = set()
        rep = 0
        for r in reqs:
            rep += r in earlier
            earlier.add(r)
        bh, bm, th, tm = (a - b for a, b in zip(
            (self.ts.bbox_cache.hits, self.ts.bbox_cache.misses,
             self.ts.tile_cache.hits, self.ts.tile_cache.misses), self.h0))
        out = {
            "serve_p50_ms": (median(walls) * 1e3, "ms", f"median of {len(walls)} requests"),
            "serve_tail_ms": (v, unit, how),
            "repeat_share": (rep / len(reqs), "ratio", "requests seen earlier in the run"),
            "bbox_cache_hit_ratio": (bh / max(bh + bm, 1), "ratio", f"{bh + bm} lookups"),
            "tile_cache_hit_ratio": (th / max(th + tm, 1), "ratio", f"{th + tm} lookups"),
        }
        for route in ROUTES:
            ws = [q["wall"] for q in done if q["route"] == route]
            if ws:
                out[f"serve_{route}_p50_ms"] = (median(ws) * 1e3, "ms", f"median of {len(ws)}")
        return out


# ---------------------------------------------------------------- headline
class Headline(Workload):
    """``bench.HEADLINE`` (imported, not edited) over ``bench.SF_DIR``
    (``SPARK_GRAFT_SF_DIR``, bench.py's sf0.1 tables by default), warmed up
    as ``bench.py`` does. One op = one pass over the suite in a seeded query
    order; ``headline_suite_s`` is the median over passes of the summed
    query times. Run by hand only: its input lives outside the checkout."""

    name = "headline"

    def stage(self, seed: int) -> dict:
        import glob

        import numpy as np

        import bench

        self.sf = bench.SF_DIR
        self.order = [bench.HEADLINE[k] for k in
                      np.random.default_rng(seed).permutation(len(bench.HEADLINE))]
        files = sorted(glob.glob(os.path.join(self.sf, "*.parquet", "*.parquet"))
                       + glob.glob(os.path.join(self.sf, "*.parquet")))
        files = [f for f in files if os.path.isfile(f)]
        return {"sf": self.sf, "files": len(files), "digest": stage.digest_files(files)}

    def setup(self, spark, run_dir: str) -> None:
        from pyspark.sql.functions import pandas_udf

        import __spark_entry__ as entry
        from osmquadtree_bin_spark.datagen import gen_docs_dist
        from osmquadtree_bin_spark.spans import explode_geoms

        self.spark = spark
        self.entry = entry
        self.queries = entry.queries()
        n = spark.sparkContext.defaultParallelism
        # bench.run_headline's warm-up: JVM + footers, Python UDF workers,
        # the engine's import path in those workers and the qt-parse codegen
        spark.read.parquet(f"{self.sf}/lineitem.parquet").count()

        @pandas_udf("long")
        def _warm(x: pd.Series) -> pd.Series:
            return x

        spark.range(0, 4096, 1, n).select(_warm("id").alias("w")).count()
        explode_geoms(gen_docs_dist(spark, n_docs=n * 8, seed=1, partitions=n)).count()
        self.per_query: dict[str, list[float]] = {q: [] for q in self.order}

    def op(self, i: int, tracer) -> dict:
        import time

        total = 0.0
        for q in self.order:
            with _span(tracer, f"headline.{q}"):
                t = time.perf_counter()
                self.queries[q](self.spark, self.sf).count()
                dt = time.perf_counter() - t
            self.spark.catalog.clearCache()
            self.per_query[q].append(dt)
            total += dt
        return {"work": len(self.order), "suite_s": total}

    def checks(self) -> list[tuple[str, bool, str]]:
        """Spark results against ``oracle_sql()`` in DuckDB, compared as
        ``tools/driver_check.py`` does. Fixture oracles exist only at the
        test scales, so those queries are skipped at other scales."""
        import duckdb

        from tools.driver_check import TABLES, norm

        con = duckdb.connect()
        for t in TABLES:
            if os.path.exists(f"{self.sf}/{t}.parquet"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
        oracles = self.entry.oracle_sql()
        bad, skipped = [], []
        for q in self.order:
            sql = oracles.get(q)
            if sql is None or "read_parquet" in sql:
                skipped.append(q)
                continue
            a = norm(self.queries[q](self.spark, self.sf).toPandas())
            self.spark.catalog.clearCache()
            b = norm(con.execute(sql).df())
            if not (list(a.columns) == list(b.columns) and a.astype(str).equals(b.astype(str))):
                bad.append(q)
        return [(f"headline == oracle_sql (skipped: {', '.join(skipped) or 'none'})",
                 not bad, ", ".join(bad))]

    def report(self, ops: list[dict]) -> dict:
        out = {"headline_suite_s": (median([o["suite_s"] for o in ops]), "s",
                                    f"median of {len(ops)} passes")}
        for q, xs in self.per_query.items():
            out[f"headline.{q}"] = (median(xs), "s", f"median of {len(xs)}")
        return out


WORKLOADS = {w.name: w for w in (Prepare, Update, Serve, Headline)}
