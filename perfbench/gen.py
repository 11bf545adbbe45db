"""Seeded generator of the fake Wistia API content the benchmark serves.

The records follow FIXTURES.md §A2: one media record per media per day and
visitor records with a nested ``events[]`` array, laid out per day and per
media so that landing one day yields one ``visitors/<media_id>_<run ts>/``
and one ``media/...`` run folder per media.

Sizes are fixed (they never depend on the seed), down to the number of
events on each day, so every daily op does the same amount of work; the
seed picks which visitor watches which media, the event values and the
defects:

- visitor records whose ``events`` is null or empty;
- null or empty ``visitor_key``, null ``ip_address`` or ``country``;
- visitor records re-delivered in the next day's folder;
- requests the fake REST transport answers with 429 on the first attempt.

Event times are spread over the day of the record. Watch durations and
percentages are multiples of 0.25, so their sums are exact in binary
floating point and the expected-output model can compare them exactly.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import os
import random

N_EVENTS = 100_000
N_VISITORS = 1_500
N_MEDIA = 100
N_DAYS = 30
#: the first event day; the run that collects day d starts at 02:00 on d+1
FIRST_DAY = dt.date(2024, 3, 1)
FIRST_EPOCH = calendar.timegm(FIRST_DAY.timetuple())
RUN_HOUR = 2

COUNTRIES = ("US", "DE", "GB", "FR", "IN", "BR", "JP", "CA", "AU", "ES", "MX", "NL")
TITLES = ("YouTube launch", "Facebook teaser", "Instagram reel",
          "Webinar recording", "Product demo", "Customer story")
EVENT_TYPES = ("play",) * 14 + ("pause",) * 3 + ("end",) * 3

P_NULL_EVENTS = 0.02
P_EMPTY_EVENTS = 0.02
P_NULL_KEY = 0.01
P_EMPTY_KEY = 0.01
P_NULL_IP = 0.04
P_NULL_COUNTRY = 0.04
P_NULL_MEASURE = 0.03
P_REDELIVER = 0.03
P_THROTTLE = 0.02
FAVOURITES = 3  # media each visitor watches


def run_ts(day: int) -> dt.datetime:
    """Start time of the scheduled run that collects event day ``day``."""
    d = FIRST_DAY + dt.timedelta(days=day + 1)
    return dt.datetime(d.year, d.month, d.day, RUN_HOUR)


def _ident(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(n))


def _measure(rng: random.Random, top: int) -> float | None:
    return None if rng.random() < P_NULL_MEASURE else rng.randrange(top * 4 + 1) / 4


def _fill_day(rng: random.Random, day: int, visitors: list[dict],
              records: dict[str, list[dict]], n_events: int) -> None:
    """Append visitor records carrying ``n_events`` events on ``day`` (plus
    defect records that carry none) to ``records`` by media id."""
    start = FIRST_EPOCH + day * 86_400
    remaining = n_events
    while remaining > 0:
        who = rng.choice(visitors)
        mid = rng.choice(who["favourites"])
        u = rng.random()
        if u < P_NULL_EVENTS + P_EMPTY_EVENTS:  # a defect record carries no events
            events = None if u < P_NULL_EVENTS else []
        else:
            n = min(remaining, 1 + int(rng.expovariate(0.5)))
            remaining -= n
            events = [
                {
                    "type": rng.choice(EVENT_TYPES),
                    "time": start + rng.randrange(86_400),
                    "duration_watched": _measure(rng, 1_200),
                    "percent_watched": _measure(rng, 100),
                }
                for _ in range(n)
            ]
        u = rng.random()
        key = None if u < P_NULL_KEY else "" if u < P_NULL_KEY + P_EMPTY_KEY else who["key"]
        records[mid].append(
            {
                "visitor_key": key,
                "ip_address": None if rng.random() < P_NULL_IP else who["ip"],
                "country": None if rng.random() < P_NULL_COUNTRY else who["country"],
                "media_id": mid,
                "events": events,
            }
        )


def generate(seed: int) -> dict:
    """The whole API content for ``seed`` as plain JSON-able data:
    ``{"media": [...], "days": [{"run_ts", "visitors": {media_id: [...]}}],
    "throttled": [[day, kind, media_id], ...]}``."""
    rng = random.Random(seed)

    media_ids: list[str] = []
    while len(media_ids) < N_MEDIA:
        mid = _ident(rng, 10)
        if mid not in media_ids:
            media_ids.append(mid)
    media = [
        {
            "hashed_id": mid,
            "name": None if rng.random() < 0.03 else f"{rng.choice(TITLES)} {i}",
            "created": 1_690_000_000 + rng.randrange(10_000_000),
        }
        for i, mid in enumerate(media_ids)
    ]

    visitors = []
    for v in range(N_VISITORS):
        visitors.append(
            {
                "key": f"v{v:04d}{_ident(rng, 6)}",
                "ip": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}",
                "country": rng.choice(COUNTRIES),
                "favourites": rng.sample(media_ids, FAVOURITES),
            }
        )

    per_day: list[dict[str, list[dict]]] = [{m: [] for m in media_ids} for _ in range(N_DAYS)]
    for day in range(N_DAYS):
        _fill_day(rng, day, visitors, per_day[day],
                  N_EVENTS // N_DAYS + (day < N_EVENTS % N_DAYS))
    for day in range(N_DAYS - 1):
        for mid in media_ids:
            again = [r for r in per_day[day][mid] if rng.random() < P_REDELIVER]
            per_day[day + 1][mid].extend(again)

    throttled = [
        [day, kind, mid]
        for day in range(N_DAYS)
        for kind in ("media", "visitors")
        for mid in media_ids
        if rng.random() < P_THROTTLE
    ]
    return {
        "seed": seed,
        "media": media,
        "days": [
            {"run_ts": run_ts(d).isoformat(), "visitors": per_day[d]} for d in range(N_DAYS)
        ],
        "throttled": throttled,
    }


def dump(api: dict) -> bytes:
    """Canonical bytes of the API content (stable key order and spacing)."""
    return json.dumps(api, sort_keys=True, separators=(",", ":")).encode()


def load_or_generate(cache_dir: str, seed: int) -> dict:
    """The API content for ``seed``, generated once and then read back from
    ``<cache_dir>/seed-<seed>/api.json``."""
    path = os.path.join(cache_dir, f"seed-{seed}", "api.json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(dump(generate(seed)))
        os.replace(tmp, path)
    with open(path) as f:
        return json.load(f)
