"""Pure-Python expected outputs, built from the generated records alone.

This is an independent model of the silver star schema and the gold
queries (``operators.model``, ``sql.GOLD_QUERIES``): the same rules,
written over Python lists, so a wrong row written by the engine shows up
as a mismatch. Rounding follows Spark's ``round`` (HALF_UP on the
shortest decimal form of the double).
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

WATCH_TOL = 1e-6  # watch times are sums of multiples of 0.25: exact
AVG_TOL = 0.0100001  # a rounded mean may differ by one unit in the last place


def round2(x: float, places: int = 2) -> float:
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _missing(s: str | None) -> bool:
    return s is None or s.strip(" ") == ""


def channel(name: str | None) -> str:
    lowered = (name or "").lower()
    for needle, label in (("facebook", "Facebook"), ("youtube", "YouTube"),
                          ("instagram", "Instagram")):
        if needle in lowered:
            return label
    return "Wistia"


@dataclass
class Silver:
    """Expected star schema: fact rows keyed by (media_id, visitor_id,
    date) -> (play_count, total_watch_time_seconds, avg_percent_watched),
    dim_media media_id -> (title, channel), dim_visitor visitor_id ->
    country."""

    fact: dict[tuple[str, str, dt.date], tuple[int, float, float]]
    dim_media: dict[str, tuple[str, str]]
    dim_visitor: dict[str, str]

    def fact_summary(self) -> dict:
        return {
            "rows": len(self.fact),
            "play_count": sum(v[0] for v in self.fact.values()),
            "watch_s": sum(v[1] for v in self.fact.values()),
            "duplicate_keys": 0,
        }


def silver(media: list[dict], visitors: list[dict]) -> Silver:
    """The star schema the pipeline must write for these raw records."""
    dim_media: dict[str, tuple] = {}
    for m in media:
        title = m["name"] if m["name"] is not None else "Untitled"
        row = (m["created"], title, channel(m["name"]))
        if m["hashed_id"] not in dim_media or row < dim_media[m["hashed_id"]]:
            dim_media[m["hashed_id"]] = row

    dim_visitor: dict[object, tuple[str, str]] = {}
    groups: dict[tuple, list] = defaultdict(lambda: [0, 0.0, 0.0])
    for r in visitors:
        ip = r["ip_address"] if r["ip_address"] is not None else "Unknown"
        country = r["country"] if r["country"] is not None else "Unknown"
        vid = ("repaired", ip, country) if _missing(r["visitor_key"]) else r["visitor_key"]
        if vid not in dim_visitor or (ip, country) < dim_visitor[vid]:
            dim_visitor[vid] = (ip, country)
        if not r["events"] or _missing(r["visitor_key"]) or _missing(r["media_id"]):
            continue
        for e in r["events"]:
            if e["type"] != "play" or e["time"] is None:
                continue
            day = dt.datetime.fromtimestamp(e["time"], dt.timezone.utc).date()
            g = groups[(r["media_id"], r["visitor_key"], day)]
            g[0] += 1
            g[1] += e["duration_watched"] or 0.0
            g[2] += e["percent_watched"] or 0.0
    fact = {k: (n, round2(w), round2(p / n)) for k, (n, w, p) in groups.items()}
    return Silver(
        fact=fact,
        dim_media={k: (v[1], v[2]) for k, v in dim_media.items()},
        dim_visitor={k: v[1] for k, v in dim_visitor.items()},
    )


def check_medallion(expected: Silver, observed: dict) -> list[str]:
    """Mismatches between the expected silver and an observed summary:
    ``observed`` holds the fact summary keys plus ``dim_media`` and
    ``dim_visitor`` row counts. Empty when the op is correct."""
    want = expected.fact_summary()
    want["dim_media"] = len(expected.dim_media)
    want["dim_visitor"] = len(expected.dim_visitor)
    errors = []
    for key, value in want.items():
        got = observed.get(key)
        tol = WATCH_TOL * max(1.0, abs(value)) if key == "watch_s" else 0
        if got is None or abs(got - value) > tol:
            errors.append(f"{key}: expected {value}, got {got}")
    return errors


def gold(s: Silver) -> dict[str, object]:
    """Expected result of every ``sql.GOLD_QUERIES`` entry, in the shape
    :func:`normalize_gold` gives the collected rows."""
    fact = s.fact
    plays = sum(v[0] for v in fact.values())
    by_date: dict[dt.date, int] = defaultdict(int)
    by_media: dict[str, int] = defaultdict(int)
    by_country: dict[str, list] = defaultdict(lambda: [0, 0.0])
    first_date: dict[str, dt.date] = {}
    for (mid, vid, day), (n, watch, _) in fact.items():
        by_date[day] += n
        by_media[mid] += n
        if vid in s.dim_visitor:
            by_country[s.dim_visitor[vid]][0] += n
            by_country[s.dim_visitor[vid]][1] += watch
        first_date[vid] = min(day, first_date.get(vid, day))
    by_channel: dict[str, int] = defaultdict(int)
    n_videos: dict[str, int] = defaultdict(int)
    for mid, (_, ch) in s.dim_media.items():
        n_videos[ch] += 1
        if mid in by_media:
            by_channel[ch] += by_media[mid]
    status: dict[tuple, set] = defaultdict(set)
    for (_, vid, day) in fact:
        status[(day, "new" if day == first_date[vid] else "returning")].add(vid)
    top = sorted(
        ((mid, s.dim_media[mid][0], n) for mid, n in by_media.items() if mid in s.dim_media),
        key=lambda t: (-t[2], t[0]),
    )[:10]
    return {
        "total_plays": plays,
        "avg_completion": round2(sum(v[2] for v in fact.values()) / len(fact)),
        "total_watch_hours": round2(sum(v[1] for v in fact.values()) / 3600.0),
        "engagement_rate": round2(plays / len(first_date), 4),
        "videos_by_channel": dict(n_videos),
        "daily_plays_trend": sorted(by_date.items()),
        "plays_by_channel": dict(by_channel),
        "top10_videos": top,
        "top_countries": {c: (n, round2(w / 3600.0)) for c, (n, w) in by_country.items()},
        "new_vs_returning": {k: len(v) for k, v in status.items()},
    }


def normalize_gold(name: str, rows: list[tuple]) -> object:
    """Collected rows of gold query ``name`` in the shape of :func:`gold`."""
    if name in ("total_plays", "avg_completion", "total_watch_hours", "engagement_rate"):
        return rows[0][0]
    if name in ("videos_by_channel", "plays_by_channel"):
        return dict(rows)
    if name in ("daily_plays_trend", "top10_videos"):
        return [tuple(r) for r in rows]
    if name == "top_countries":
        return {c: (n, h) for c, n, h in rows}
    if name == "new_vs_returning":
        return {(d, st): n for d, st, n in rows}
    raise KeyError(name)


def _close(a: object, b: object, tol: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and abs(a - b) <= tol
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y, tol) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k], tol) for k in a)
    return a == b


def check_gold(name: str, expected: object, observed: object) -> list[str]:
    """Empty when the observed gold result equals the expected one (floats
    produced by a rounded mean or sum may differ by one unit in the last
    kept place, because Spark sums in another order)."""
    if _close(expected, observed, AVG_TOL):
        return []
    return [f"{name}: expected {expected!r}, got {observed!r}"]
