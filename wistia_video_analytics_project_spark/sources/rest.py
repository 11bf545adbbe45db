"""REST API ingestion source (S4, SURVEY.md §2.1).

Re-expresses the reference's Wistia-API ingester (`wistia-Databricks
notebool-02.py:105-168`): page/per_page pagination, 429 exponential
backoff, 404 skip, `since` incremental parameter, bounded page count.

Differences by design:

- **Injectable transport.** ``transport(url, params) -> (status, payload)``
  — production wires ``urllib``; tests inject fakes. No hard dependency
  on any HTTP client package.
- Rate-limit sleeps are parameters (0 in tests), not hardcoded.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

Transport = Callable[[str, dict], tuple[int, object]]


def urllib_transport(url: str, params: dict) -> tuple[int, object]:
    """Default transport: stdlib urllib, JSON response."""
    q = urllib.parse.urlencode(params)
    req = urllib.request.Request(f"{url}?{q}" if q else url)
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as e:  # status-carrying failure
        return e.code, None


@dataclass
class RestIngester:
    """Paginated, retrying REST reader.

    Mirrors `notebool-02.py` semantics: ``per_page`` rows per request
    (max_pages cap `notebool-02.py:148,165-167`), retry with exponential
    backoff on 429 (`:105-126`), skip on 404 (`:134-136`).
    """

    base_url: str
    transport: Transport = field(default=urllib_transport)
    per_page: int = 100
    max_pages: int = 100
    max_retries: int = 3
    backoff_base_s: float = 5.0
    sleeper: Callable[[float], None] = field(default=time.sleep)
    #: merged under every request's params — the auth slot
    #: (`notebool-02.py` passes api_password on each call)
    default_params: dict = field(default_factory=dict)

    def _get_with_retry(self, url: str, params: dict) -> object | None:
        """GET with 429 backoff (2^attempt * backoff_base_s,
        `notebool-02.py:113-114`) and 404 -> None. ``default_params``
        (auth) merge under the per-call params here, the single choke
        point every request passes through."""
        params = {**self.default_params, **params}
        for attempt in range(self.max_retries + 1):
            status, payload = self.transport(url, params)
            if status == 200:
                return payload
            if status == 404:
                return None
            if status == 429 and attempt < self.max_retries:
                self.sleeper((2**attempt) * self.backoff_base_s)
                continue
            raise IOError(f"GET {url} failed with status {status}")

    def fetch_one(self, path: str, params: dict | None = None) -> object | None:
        """Single-resource GET (media stats, `notebool-02.py:128-139`)."""
        return self._get_with_retry(f"{self.base_url}/{path}", params or {})

    def fetch_pages(
        self, path: str, params: dict | None = None, since: str | None = None
    ) -> Iterator[object]:
        """Paginated GET yielding records until a short/empty page or the
        page cap (`notebool-02.py:141-168`). ``since`` is the incremental
        watermark parameter (`:149-150`)."""
        base = dict(params or {})
        if since is not None:
            base["since"] = since
        for page in range(1, self.max_pages + 1):
            payload = self._get_with_retry(
                f"{self.base_url}/{path}",
                {**base, "page": page, "per_page": self.per_page},
            )
            if not payload:
                return
            records = payload if isinstance(payload, list) else [payload]
            yield from records
            if len(records) < self.per_page:
                return
