"""HTTP serving surface over the tiled store — the reference's geometry
server (``/root/reference/osmquadtree-geometry.go:384-550`` route handlers,
``osmquadtree-filter.go`` server mode, embedded Leaflet UI in
``static.go``/``index.html``), re-expressed as a thin stdlib HTTP layer over
``TileQueryEngine``. Serving is a driver-edge concern: every endpoint is a
bounded read of an already-pruned tile set, never a bulk path.

/tile and /bbox run no Spark job on a local store. The engine reads the
pruned ``tile_idx=N`` files on the driver with pyarrow (the driver arm of
the store's one tile-set reader, ``streaming.update.TileSet``), skips row
groups whose footer min/max miss the request and stops at ``limit`` rows,
the way the reference filters its in-memory packed store
(``osmquadtree-geometry.go:617-619``). When the pyarrow read raises, the
reader falls back to one Spark job over the same tiles and predicate,
ordered by ``(tile_idx, id)`` before its limit, and records why; either arm
renders to the same bytes. The
oversized-bbox guard runs before anything is read. ``/status`` reports the
reads each arm served and the last fallback reason from the reader's
counters, with no Spark job.

/query and /extract stay on Spark. Their bounded collect
(``tuning.collect_limited``) scopes ``spark.sql.limit.initialNumPartitions``
so Spark's take scans every pruned partition in its first job instead of
one partition first and the rest in a second. The conf is session-wide, so
it is set and restored around each collect; that is safe because engine
calls are serialized behind ``TileServer._lock``. /extract's one-row region
frame is driver-local (``sources.regions_frame``), so collecting it to prune
tiles and to build the PIP predicate runs no job; its bounded collect runs
at most two (the PIP match and the id-set semi join, with no ``distinct``
job between them).

A /query builds no view per request. The planet_osm views are SQL text
(``plans.tables``) over one slice view; the engine re-points the slice at
the request's pruned bbox scan and creates a view only the first time a
query names it (or when another caller in the session replaced its
definition), so a request pays one ``createOrReplaceTempView`` and the
analysis of its own query.

Routes (GET):
    /                           embedded Leaflet viewer (static HTML)
    /status                     store + ledger state (JSON)
    /tile/{z}/{x}/{y}           raw-tile fetch (J8) → GeoJSON
    /bbox?minx&miny&maxx&maxy   pruned bbox scan (P1+P6) → GeoJSON
    /query?sql=…&bbox=…         dialect SQL over the bbox's planet_osm
                                views (§2.8 translate) → JSON rows
    /extract?minx&…             PIP extract + id-set trim (P4/O2) → GeoJSON;
                                &format=parquet downloads the sorted, trimmed
                                extract as ONE re-ingestible parquet artifact
                                (the WritePbfIndexed analogue,
                                ``osmquadtree-filter.go:217``)

Result caching mirrors the reference server exactly: ONE bbox-scan result
plus THREE raw-tile results (``osmquadtree-geometry.go:235-243`` bbox cache,
``:291-298`` tile LRU).

Spark's driver is single-tenant: handler threads serialize engine calls
behind a lock (the reference serves its heavy endpoints through an
equivalent single-flight channel). No egress: binds localhost by default.
"""

from __future__ import annotations

import json
import threading
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .sources import _jsonable, regions_frame, to_geojson
from .tuning import collect_limited

BBOX_CACHE_SIZE = 1  # osmquadtree-geometry.go:235-243
TILE_CACHE_SIZE = 3  # osmquadtree-geometry.go:291-298
DEFAULT_LIMIT = 10_000

INDEX_HTML = """<!DOCTYPE html>
<html><head><title>osmquadtree-bin-spark</title>
<link rel="stylesheet" href="https://unpkg.com/leaflet@1.9.4/dist/leaflet.css"/>
<script src="https://unpkg.com/leaflet@1.9.4/dist/leaflet.js"></script>
<style>html,body,#map{height:100%;margin:0}</style></head>
<body><div id="map"></div><script>
var map = L.map('map').setView([51.5, -0.12], 10);
L.tileLayer('https://tile.openstreetmap.org/{z}/{x}/{y}.png',
            {maxZoom: 18, attribution: '&copy; OpenStreetMap'}).addTo(map);
var layer = L.geoJSON(null, {style: {weight: 1}}).addTo(map);
function refresh() {
  var b = map.getBounds(), s = 1e7;
  var u = '/bbox?minx=' + Math.round(b.getWest()*s) +
          '&miny=' + Math.round(b.getSouth()*s) +
          '&maxx=' + Math.round(b.getEast()*s) +
          '&maxy=' + Math.round(b.getNorth()*s);
  fetch(u).then(r => r.json()).then(g => { layer.clearLayers(); layer.addData(g); });
}
map.on('moveend', refresh); refresh();
</script></body></html>"""


class _LRU:
    """Tiny LRU with its own lock: ThreadingHTTPServer handlers call get/put
    concurrently, and at cache sizes 1 and 3 an unguarded
    membership-check-then-move_to_end races a concurrent eviction into a
    KeyError (spurious 500); the hit/miss counters race too."""

    def __init__(self, size: int):
        self.size = size
        self.d: OrderedDict = OrderedDict()
        self.hits = 0
        self.misses = 0
        self._lock = threading.Lock()

    def get(self, key):
        with self._lock:
            if key in self.d:
                self.d.move_to_end(key)
                self.hits += 1
                return self.d[key]
            self.misses += 1
            return None

    def put(self, key, value):
        with self._lock:
            self.d[key] = value
            self.d.move_to_end(key)
            while len(self.d) > self.size:
                self.d.popitem(last=False)


class TileServer:
    """Wraps a TileQueryEngine; ``make_handler()`` yields the request class.

    The engine's reads run single-flight behind ``_lock`` (a tile-set read
    may fall back to Spark); responses are rendered driver-side (bounded by
    ``limit``)."""

    def __init__(self, engine, limit: int = DEFAULT_LIMIT):
        self.engine = engine
        self.limit = limit
        self._lock = threading.Lock()
        self.bbox_cache = _LRU(BBOX_CACHE_SIZE)
        self.tile_cache = _LRU(TILE_CACHE_SIZE)

    # ---------------------------------------------------------- responses
    def page_index(self) -> str:
        return INDEX_HTML

    def page_status(self) -> str:
        """Store and ledger state. The ledger is the store root's, read on
        the driver by ``TiledStore.resume_state`` (no Spark job);
        ``ledger_state`` is null when nothing was applied. ``reads`` counts
        the tile-set reads each arm of the engine's reader served, with the
        reason of its last fallback to Spark."""
        import os

        from .streaming.update import TiledStore

        root = os.path.dirname(self.engine.store_path.rstrip("/"))
        state = TiledStore(self.engine.spark, root).resume_state()
        tiles = self.engine.tiles
        return json.dumps(
            {
                "store": self.engine.store_path,
                "n_tiles": len(self.engine.groups),
                "ledger_state": state or None,
                "cache": {
                    "bbox": {"hits": self.bbox_cache.hits, "misses": self.bbox_cache.misses},
                    "tile": {"hits": self.tile_cache.hits, "misses": self.tile_cache.misses},
                },
                "reads": {**tiles.reads, "last_fallback": tiles.last_fallback},
            }
        )

    def page_tile(self, tz: int, tx: int, ty: int) -> str:
        key = (tz, tx, ty)
        cached = self.tile_cache.get(key)
        if cached is not None:
            return cached
        with self._lock:
            rows = self.engine.tile_rows(tx, ty, tz, self.limit)
        out = to_geojson(rows, limit=self.limit)
        self.tile_cache.put(key, out)
        return out

    def page_bbox(self, minx: int, miny: int, maxx: int, maxy: int) -> str:
        key = (minx, miny, maxx, maxy)
        cached = self.bbox_cache.get(key)
        if cached is not None:
            return cached
        with self._lock:
            rows = self.engine.bbox_rows(minx, miny, maxx, maxy, self.limit)
        out = to_geojson(rows, limit=self.limit)
        self.bbox_cache.put(key, out)
        return out

    def page_query(self, sql: str, bbox: tuple[int, int, int, int]) -> str:
        with self._lock:
            rows = collect_limited(self.engine.sql(sql, bbox), self.limit)
        return json.dumps(
            {"rows": [{k: _jsonable(v) for k, v in r.asDict().items()} for r in rows],
             "n": len(rows)}
        )

    def _extract_df(self, minx: int, miny: int, maxx: int, maxy: int):
        regions = regions_frame(
            self.engine.spark, [("req", "bbox", minx, miny, maxx, maxy, None, None)]
        )
        return self.engine.extract(regions)

    def page_extract(self, minx: int, miny: int, maxx: int, maxy: int) -> str:
        with self._lock:
            return to_geojson(
                self._extract_df(minx, miny, maxx, maxy), limit=self.limit
            )

    def extract_parquet(self, minx: int, miny: int, maxx: int, maxy: int) -> bytes:
        """Extract-as-artifact (the ``writefile.WritePbfIndexed`` analogue,
        ``osmquadtree-filter.go:217``): the trimmed, id-sorted regional
        extract as ONE parquet file — a re-ingestible table (``spark.read.
        parquet`` / ``TiledStore``), not a row rendering. Single-file because
        a download is one stream; the extract is already regional/pruned, so
        the coalesce(1) is a driver-edge collect-equivalent, not a bulk
        path."""
        import glob
        import shutil
        import tempfile

        with self._lock:
            df = self._extract_df(minx, miny, maxx, maxy)
            tmp = tempfile.mkdtemp(prefix="oqt_extract_")
            try:
                # extract() already global-sorts by (type,id); coalesce(1)
                # concatenates the range-sorted partitions in order
                df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/out")
                part = sorted(glob.glob(f"{tmp}/out/part-*.parquet"))[0]
                with open(part, "rb") as f:
                    return f.read()
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

    # ------------------------------------------------------------ handler
    def make_handler(self):
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test output
                pass

            def _send(self, body: str, ctype: str, code: int = 200) -> None:
                self._send_bytes(body.encode("utf-8"), ctype, code)

            def _send_bytes(
                self, data: bytes, ctype: str, code: int = 200,
                filename: str | None = None,
            ) -> None:
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                if filename:
                    self.send_header(
                        "Content-Disposition", f'attachment; filename="{filename}"'
                    )
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):  # noqa: N802 — stdlib API
                try:
                    url = urlparse(self.path)
                    q = {k: v[0] for k, v in parse_qs(url.query).items()}
                    parts = [p for p in url.path.split("/") if p]
                    if url.path == "/":
                        self._send(server.page_index(), "text/html")
                    elif url.path == "/status":
                        self._send(server.page_status(), "application/json")
                    elif parts and parts[0] == "tile" and len(parts) == 4:
                        tz, tx, ty = (int(p) for p in parts[1:])
                        self._send(server.page_tile(tz, tx, ty), "application/json")
                    elif url.path == "/bbox":
                        bb = tuple(int(q[k]) for k in ("minx", "miny", "maxx", "maxy"))
                        self._send(server.page_bbox(*bb), "application/json")
                    elif url.path == "/query":
                        bb = tuple(
                            int(v) for v in q.get("bbox", "").split(",")
                        )
                        if len(bb) != 4:
                            raise ValueError("bbox=minx,miny,maxx,maxy required")
                        self._send(server.page_query(q["sql"], bb), "application/json")
                    elif url.path == "/extract":
                        bb = tuple(int(q[k]) for k in ("minx", "miny", "maxx", "maxy"))
                        if q.get("format") == "parquet":
                            self._send_bytes(
                                server.extract_parquet(*bb),
                                "application/vnd.apache.parquet",
                                filename="extract.parquet",
                            )
                        else:
                            self._send(server.page_extract(*bb), "application/json")
                    else:
                        self._send(json.dumps({"error": "not found"}),
                                   "application/json", 404)
                except (KeyError, ValueError) as e:
                    self._send(json.dumps({"error": str(e)}), "application/json", 400)
                except Exception as e:  # noqa: BLE001 — surface, don't kill the server
                    self._send(json.dumps({"error": repr(e)}), "application/json", 500)

        return Handler


def serve(engine, host: str = "127.0.0.1", port: int = 0,
          limit: int = DEFAULT_LIMIT,
          allow_remote: bool = False) -> tuple[ThreadingHTTPServer, TileServer]:
    """Start the server on a background thread; returns (httpd, tile_server).
    ``port=0`` picks a free port (httpd.server_address[1]). Localhost-only by
    default — this sandbox has no egress and the reference server is a
    LAN-facing tool, not an internet service.

    Trust model: ``/query`` executes caller-supplied SQL against the Spark
    session (which can read arbitrary local paths), so every caller is
    trusted with the driver's filesystem view. Binding a non-loopback host
    therefore requires the explicit ``allow_remote=True`` opt-in; even then,
    expose it only to a trusted LAN (the reference server's deployment
    shape), never the internet."""
    if host not in ("127.0.0.1", "localhost", "::1") and not allow_remote:
        raise ValueError(
            "non-loopback bind requires allow_remote=True (/query executes "
            "arbitrary SQL with the driver's filesystem access)"
        )
    ts = TileServer(engine, limit=limit)
    httpd = ThreadingHTTPServer((host, port), ts.make_handler())
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd, ts
