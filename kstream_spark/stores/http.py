"""Interactive store query HTTP facade.

Ref: kstream/store/http.go:120-401 — REST endpoints over the store registry:
  GET /stores                         list store names        (http.go:~130)
  GET /stores/{store}                 full scan               (http.go:149-192)
  GET /stores/{store}/{key}           point lookup            (http.go:333-392)
  GET /stores/{store}/indexes/{col}/{value}   index lookup    (http.go:194-327)

Spark SQL is the real query surface (StoreRegistry.sql); this server exists
for drop-in parity with the reference's HTTP consumers.  The scan and the
index dump are bounded collects of the store's DataFrame.  The point and
index lookups decode the path segment by the column's Spark type
(``decode_segment``, the reference's key encoder; 400 when it does not
parse) and read through ``Store.lookup``: a dict hit on a driver-local copy
of the store's base when it fits the driver, else a Spark filter.
Stdlib-only (ThreadingHTTPServer), started on a daemon thread.
"""

from __future__ import annotations

import datetime
import json
import re
import threading
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import types as T

# full-scan page size: the reference pages its scan through an iterator
# (store/http.go:149-192) instead of buffering the store; collect() has no
# such backpressure, so each page is a bounded collect (?limit= overridable)
# and clients walk the complete store via ?offset= / the X-Next-Offset
# continuation header against a deterministic key sort
DEFAULT_SCAN_LIMIT = 10_000

_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32,
             T.LongType: 64}


def decode_segment(text: str, dtype: T.DataType):
    """The URL path segment ``text`` as a Python value of the Spark type
    ``dtype``, as the reference's ``KeyEncoder().Decode`` turns a segment
    into a key of the store's key type (store/http.go:333-392): integers
    are decimal digits in the type's range, so ``007`` is 7 on a long
    column and ``'007'`` on a string one.  ValueError (or, for a decimal,
    ArithmeticError) when ``text`` does not parse as the type."""
    if isinstance(dtype, T.StringType):
        return text
    if text != text.strip() or "_" in text:
        raise ValueError("stray whitespace or underscore")
    if type(dtype) in _INT_BITS:
        if not re.fullmatch(r"[+-]?[0-9]+", text):
            raise ValueError("not an integer")
        value, half = int(text), 1 << (_INT_BITS[type(dtype)] - 1)
        if not -half <= value < half:
            raise ValueError("out of range")
        return value
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(text)
    if isinstance(dtype, T.BooleanType):
        value = {"true": True, "false": False}.get(text.lower())
        if value is None:
            raise ValueError("not true or false")
        return value
    if isinstance(dtype, T.DecimalType):
        value = Decimal(text)
        if not value.is_finite():
            raise ValueError("not a finite decimal")
        return value
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(text)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        value = datetime.datetime.fromisoformat(text)
        if value.tzinfo is None:
            return value
        if isinstance(dtype, T.TimestampNTZType):
            raise ValueError("a time zone on a timestamp_ntz")
        # a timestamp column collects as local wall-clock time
        return value.astimezone().replace(tzinfo=None)
    raise ValueError("no path encoding for this type")


class StoreHttpServer:
    def __init__(self, registry, host: str = "127.0.0.1", port: int = 0):
        self.registry = registry
        reg = registry

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _json(self, code: int, payload,
                      headers: dict | None = None) -> None:
                body = json.dumps(payload, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                for name, value in (headers or {}).items():
                    self.send_header(name, value)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _paging(self, query: str, names: tuple):
                """The non-negative int query parameters ``names``
                (``limit`` defaults to the scan cap, the others to 0), or
                None after answering 400 when one is not."""
                q = parse_qs(query)
                raw = [q.get(n, [DEFAULT_SCAN_LIMIT if n == "limit" else 0])
                       [0] for n in names]
                label = "/".join(names)
                try:
                    vals = [int(r) for r in raw]
                except (TypeError, ValueError):
                    self._json(400, {"error": f"bad {label}: "
                                     + "/".join(repr(r) for r in raw)})
                    return None
                if min(vals) < 0:
                    self._json(400, {"error": f"bad {label}: "
                                     + "/".join(str(v) for v in vals)})
                    return None
                return vals

            def do_GET(self):  # noqa: N802
                url = urlparse(self.path)
                parts = [unquote(p) for p in url.path.strip("/").split("/") if p]
                try:
                    if parts == ["stores"]:
                        return self._json(200, reg.stores())
                    if parts == ["indexes"]:
                        # ref http.go:138-147 GET /indexes — every store's
                        # index-able columns (non-key schema columns)
                        return self._json(200, reg.indexes())
                    if len(parts) >= 2 and parts[0] == "stores":
                        try:
                            store = reg.store(parts[1])
                        except KeyError:
                            return self._json(
                                404, {"error": f"store not found: {parts[1]}"})
                        if len(parts) == 3 and parts[2] == "indexes":
                            # ref http.go:194-250 GET /stores/{s}/indexes
                            # (route shadows a literal point-lookup key
                            # "indexes", same as the reference's mux)
                            return self._json(200, store.indexes())
                        if len(parts) in (4, 5) and parts[2] == "indexes" \
                                and parts[3] not in store.indexes():
                            return self._json(404, {
                                "error": f"index dose not exist: {parts[3]}"})
                        if len(parts) == 4 and parts[2] == "indexes":
                            # ref http.go:251-331 GET /stores/{s}/indexes/
                            # {index}: dump the index as a map of
                            # json-encoded index value -> record keys.
                            # The reference materializes idx.Values()
                            # wholesale; a collect() needs a cap, so the
                            # dump is ordered (index value, key) and
                            # bounded by ?limit= rows (default scan cap).
                            col = parts[3]
                            paging = self._paging(url.query, ("limit",))
                            if paging is None:
                                return None
                            limit, = paging
                            # limit+1 rows so a capped dump is
                            # distinguishable from a complete index —
                            # same X-Truncated contract as the paged
                            # full-scan route below.
                            rows = (store.get_all()
                                    .select(col, *store.key)
                                    .orderBy(col, *store.key)
                                    .limit(limit + 1).collect())
                            truncated = len(rows) > limit
                            idx: dict = {}
                            for r in rows[:limit]:
                                k = json.dumps(r[col], default=str)
                                keys = [r[c] for c in store.key]
                                idx.setdefault(k, []).append(
                                    keys[0] if len(keys) == 1 else keys)
                            return self._json(200, idx, {
                                "X-Truncated":
                                    "true" if truncated else "false"})
                        if len(parts) == 2:          # full scan (paged)
                            paging = self._paging(url.query,
                                                  ("limit", "offset"))
                            if paging is None:
                                return None
                            limit, offset = paging
                            # page against a DETERMINISTIC key sort so
                            # ?offset= walks the COMPLETE store without
                            # gaps or repeats (the reference pages the
                            # whole store through an iterator —
                            # store/http.go:149-192; here each page is
                            # one bounded collect and X-Next-Offset is
                            # the continuation token).  limit+1 rows are
                            # collected so a truncated page is
                            # distinguishable from the last one.
                            scan = store.get_all().orderBy(*store.key)
                            if offset:
                                scan = scan.offset(offset)
                            rows = [r.asDict() for r in
                                    scan.limit(limit + 1).collect()]
                            truncated = len(rows) > limit
                            headers = {"X-Truncated":
                                       "true" if truncated else "false"}
                            if truncated:
                                headers["X-Next-Offset"] = str(offset + limit)
                            return self._json(200, rows[:limit], headers)
                        if len(parts) == 3:          # point lookup
                            # ref http.go:333-392: the key encoder
                            # decodes the segment, then one store Get
                            col = store.key[0]
                            key = self._decode(store, col, parts[2])
                            if key is None:
                                return None
                            rows = store.lookup(col, key)
                            if not rows:
                                return self._json(404, {"error": "key not found"})
                            return self._json(200, rows[0])
                        if len(parts) == 5 and parts[2] == "indexes":
                            col = parts[3]
                            val = self._decode(store, col, parts[4])
                            if val is None:
                                return None
                            return self._json(200, store.lookup(col, val))
                    return self._json(404, {"error": "unknown route"})
                except Exception as e:  # noqa: BLE001
                    return self._json(500, {"error": str(e)})

            def _decode(self, store, col: str, text: str):
                """The path segment ``text`` as a value of ``col``'s type,
                or None after answering 400 when it does not parse."""
                dtype = store.schema()[col].dataType
                try:
                    return decode_segment(text, dtype)
                except (ValueError, ArithmeticError) as e:
                    self._json(400, {"error": f"bad {col}: {text!r} is not "
                                     f"a {dtype.simpleString()} ({e})"})
                    return None

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.port = self._server.server_port
        self._thread: threading.Thread | None = None

    def start(self) -> "StoreHttpServer":
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
