"""HTTP transport abstraction for the portal data sources.

The reference talks to live portals through `requests`/sodapy
(e.g. /root/reference/openpolicedata/data_loaders/socrata.py:422-521,
arcgis_class.py:441-493). We isolate the wire protocol behind a tiny
picklable Transport object so that

- executors can fetch pages in parallel (the object ships inside the
  DataSourceReader pickle), and
- tests run fully offline against a FakeTransport that implements the
  portal semantics over an in-memory table.

Retry/backoff constants mirror the reference (data_loader.py:35,
arcgis_class.py:461-476: 0.1 s politeness sleep, 2-10 s backoff on 429/5xx).
Each attempt opens its URL through ``sources/httpio.open_url``, the
package's one request function (browser UA, legacy-TLS retry), with the
transport's own ``timeout_s``; a timed-out attempt is retried like a
refused connection.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
from dataclasses import dataclass
from typing import Any, Callable, Optional

from openpolicedata_spark.exceptions import (
    OPD_DataUnavailableError,
    OPD_TooManyRequestsError,
)
from openpolicedata_spark.sources.httpio import open_url


class TransportError(OPD_DataUnavailableError):
    """HTTP/parse failure talking to a portal. Subclasses the reference's
    OPD_DataUnavailableError (which is a RuntimeError, preserving this
    class's original base)."""


class RateLimitError(TransportError, OPD_TooManyRequestsError):
    """Retries exhausted on HTTP 429."""


@dataclass
class HttpTransport:
    """urllib-based JSON/bytes fetcher with retry + rate limiting.

    Picklable: holds only config. One instance is shared by all partitions
    of a read, so `sleep_s` caps the per-task request rate (the per-source
    politeness budget of the reference's serial loop, applied per partition).
    """

    timeout_s: float = 90.0          # reference socrata.py:76
    retries: int = 3
    backoff_s: float = 2.0           # reference arcgis_class.py:471-475
    sleep_s: float = 0.1             # reference data_loader.py:35

    def get_json(self, url: str, params: Optional[dict] = None) -> Any:
        raw = self.get_bytes(url, params)
        try:
            return json.loads(raw)
        except json.JSONDecodeError as e:
            raise TransportError(f"non-JSON response from {url}: {raw[:200]!r}") from e

    def get_bytes(self, url: str, params: Optional[dict] = None) -> bytes:
        if params:
            q = urllib.parse.urlencode(
                {k: v for k, v in params.items() if v is not None}
            )
            url = f"{url}?{q}"
        last: Optional[Exception] = None
        for attempt in range(self.retries + 1):
            if attempt:
                time.sleep(self.backoff_s * attempt)
            elif self.sleep_s:
                time.sleep(self.sleep_s)
            try:
                with open_url(url, self.timeout_s) as r:
                    return r.read()
            except urllib.error.HTTPError as e:
                last = e
                if e.code not in (429, 500, 502, 503, 504):
                    raise TransportError(f"HTTP {e.code} from {url}") from e
            except (urllib.error.URLError, TimeoutError) as e:
                last = e
        if getattr(last, "code", None) == 429:
            raise RateLimitError(
                f"rate-limited by {url} after {self.retries} retries") from last
        raise TransportError(f"giving up on {url} after {self.retries} retries: {last}")


@dataclass
class FakeTransport:
    """Test transport: routes requests to a handler callable.

    The handler must live in an importable module (tests define them at
    module scope) so the dataclass pickles to executor workers.
    ``handler(url, params) -> json-able`` for get_json; bytes handlers
    return ``bytes``.
    """

    handler: Callable[[str, Optional[dict]], Any]

    def get_json(self, url: str, params: Optional[dict] = None) -> Any:
        out = self.handler(url, params)
        if isinstance(out, (bytes, bytearray)):
            return json.loads(out)
        return out

    def get_bytes(self, url: str, params: Optional[dict] = None) -> bytes:
        out = self.handler(url, params)
        if isinstance(out, (bytes, bytearray)):
            return bytes(out)
        return json.dumps(out).encode()


# DataSource instances are created in a separate plan-time Python worker
# (not the driver process), so a live transport object must ride inside the
# string options: pickle + base64. Transports are small config dataclasses
# (FakeTransport handlers are module-level classes, pickled by reference).
def encode_transport(transport: Any) -> str:
    import base64
    import pickle

    return base64.b64encode(pickle.dumps(transport)).decode("ascii")


def resolve_transport(options: dict) -> Any:
    blob = options.get("transport_pickle")
    if blob:
        import base64
        import pickle

        return pickle.loads(base64.b64decode(blob))
    return HttpTransport(
        timeout_s=float(options.get("timeout_s", 90)),
        sleep_s=float(options.get("sleep_s", 0.1)),
    )
