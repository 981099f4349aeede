"""WFS source (SURVEY.md §2.1 source-wfs — vestigial in the reference:
the constant at ``src/utils/constants.py:1-3`` is noted "doesn't seem
to work" and never fetched successfully).

Design: a batch HTTP GetFeature fetch on the driver (or foreachPartition
for URL lists) that lands GeoJSON files, which then feed the ordinary
distributed ``scan-geojson`` path. Network access is absent in this
environment, so the fetch is import/connectivity-gated; the downstream
pipeline is the fully-tested GeoJSON scanner.
"""

from __future__ import annotations


def build_getfeature_url(
    base_url: str, type_name: str, srs: str = "EPSG:27700", fmt: str = "application/json"
) -> str:
    """WFS 2.0 GetFeature URL (the reference's constant, parameterized)."""
    from urllib.parse import urlencode

    q = {
        "service": "WFS",
        "version": "2.0.0",
        "request": "GetFeature",
        "typeNames": type_name,
        "srsName": srs,
        "outputFormat": fmt,
    }
    return f"{base_url}?{urlencode(q)}"


class WfsHttpError(RuntimeError):
    """The WFS endpoint answered, but with an HTTP error status.

    4xx (bad typeName, auth, malformed query) raises this IMMEDIATELY —
    retrying a request the server has rejected is wasted load. 5xx
    raises it only after the retry budget is exhausted."""

    def __init__(self, code: int, url: str, attempts: int):
        self.code = code
        self.attempts = attempts
        super().__init__(
            f"WFS GetFeature failed: HTTP {code} from {url} "
            f"(after {attempts} attempt{'s' if attempts != 1 else ''})"
        )


def fetch_wfs_to_geojson(
    url: str,
    out_path: str,
    timeout: int = 60,
    retries: int = 2,
    backoff: float = 0.5,
) -> str:
    """Fetch one WFS GetFeature response to a local GeoJSON file.

    Transport policy (http + https via urllib's native handlers):
    - HTTP 4xx: fail fast with WfsHttpError — the server understood and
      rejected the query; a retry cannot succeed.
    - HTTP 5xx / connection reset / timeout: transient — retried up to
      ``retries`` times with linear backoff, then WfsHttpError (5xx) or
      NotImplementedError (connectivity).
    - No route/DNS/network at all: NotImplementedError after retries —
      callers fall back to pre-fetched files (the reference operates
      the same way in practice: its WFS URL is dead and inputs arrive
      as files, src/utils/constants.py:1-3).
    - ``file://``: offline transport for canned responses (tests /
      air-gapped runs); no retry machinery involved.
    """
    try:
        from urllib.error import HTTPError
        from urllib.request import urlopen
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError("no urllib available") from e
    import time as _time
    from urllib.parse import urlsplit

    scheme = urlsplit(url).scheme
    if scheme == "file":
        # The filesystem takes no query string, so drop the WFS params
        # the URL builder attached — the response file IS the answer.
        url = url.split("?", 1)[0]
        try:
            with urlopen(url, timeout=timeout) as r, open(out_path, "wb") as f:
                f.write(r.read())
        except OSError as e:
            raise NotImplementedError(
                f"WFS offline transport failed ({e}); "
                "stage GeoJSON files and use scan-geojson instead"
            ) from e
        return out_path

    last_exc: Exception | None = None
    attempts = 0
    for attempt in range(retries + 1):
        attempts = attempt + 1
        try:
            with urlopen(url, timeout=timeout) as r, open(out_path, "wb") as f:
                f.write(r.read())
            return out_path
        except HTTPError as e:
            if e.code < 500:
                raise WfsHttpError(e.code, url, attempts) from e
            last_exc = e  # transient server-side: retry
        except OSError as e:  # URLError, timeout, reset — transient
            last_exc = e
        if attempt < retries:
            _time.sleep(backoff * (attempt + 1))
    if isinstance(last_exc, HTTPError):
        raise WfsHttpError(last_exc.code, url, attempts) from last_exc
    raise NotImplementedError(
        f"WFS fetch unavailable in this environment ({last_exc}); "
        "stage GeoJSON files and use scan-geojson instead"
    ) from last_exc
